package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.exprs
import graft.operators.{Chunking, Contamination, Multimodal, SimHashDedup, Similarity}

/** Corpus-curation operators round 3: benchmark decontamination,
  * repetition quality signals, embedding quantization — each a one-pass
  * map-side kernel or broadcast join (see the operator scaladocs for
  * the 100 TB shapes), each with a bit-exact DuckDB twin.
  */
object CurationQueries {

  /** DuckDB token list — must match TextOps.tokens / TokenRepetition:
    * lowercase, split on whitespace runs, drop empties.
    */
  private val toksSql =
    "list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'), t -> len(t) > 0)"

  private def md5_63(x: String): String =
    s"(('0x' || substr(md5($x), 1, 16))::UBIGINT & 9223372036854775807::UBIGINT)::BIGINT"

  /** Session-scoped SUFFIX-ARRAY ARTIFACT over the fixed 40-doc corpus
    * slice: (position frame, corpus length, prefix-doubling rounds).
    * The three SA consumers (`suffix_array_build` / `_digest` /
    * `suffix_lrs_topk`) previously each re-ran the O(L log L) doubling
    * (~12 s of re-derivation per sweep; at 100 TB, a corpus-scale
    * index rebuilt per query) — the index is an artifact, built once
    * per (session, corpus) like the star schema and dedup CC labels.
    * Every frame inside is lineage-truncated, so cached reuse plans
    * against shallow scans.
    */
  private val saArtifact = new SessionScopedCache[
    (org.apache.spark.sql.DataFrame, Long,
      Seq[(Long, org.apache.spark.sql.DataFrame)])](
    "CurationQueries.saArtifact", (s, dir) => {
      val chars = graft.operators.DenseId.withDenseId(
        Tables.documents(s, dir).filter(col("doc_id") < 40)
          .select(col("doc_id"),
            concat(coalesce(col("text"), lit("")), lit("\u0001")).as("t"))
          .select(col("doc_id"), posexplode(expr(
            "transform(sequence(1, length(t)), i -> ascii(substring(t, i, 1)))"))
            .as(Seq("pos", "code"))),
        Seq(col("doc_id"), col("pos")), "gpos")
        .select(col("gpos"), col("code"))
        .localCheckpoint()
      val rounds = graft.operators.SuffixArray.rounds(chars)
      (chars, chars.count(), rounds)
    })

  val defs: Map[String, QueryDef] = Map(

    // ------------------------------------------------------------------
    // The flagship composition: the pretraining-data run end to end in
    // ONE query — hashed-classifier quality gate → exact content dedup
    // (min-id survivor) → temperature-smoothed mixture sample (α=0.5,
    // budget 150) → global sequence packing (PrefixSum, 2048-token
    // sequences) → per-source layout report. Every stage is a proven
    // production operator reused verbatim; the oracle restates the
    // whole chain, so the gate certifies the COMPOSITION, not just the
    // pieces. Per-stage scale shapes are unchanged by composition:
    // map-side scoring, one dedup agg, broadcast thresholds, bucketed
    // cumsum — the corpus text itself is scanned once per stage and
    // never shuffled.
    "pretrain_data_e2e" -> QueryDef(
      (s, dir) => {
        import graft.functions.Md5Hash
        import graft.operators.{PrefixSum, TemperatureSample, TextOps}
        val docs = Tables.documents(s, dir)
        val scored = docs
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("t"))
          .groupBy(col("doc_id"))
          .agg(sum(
            Md5Hash.lower63Col(concat(lit("w:"), col("t"))) % 17 - 8).as("score"))
        val q = docs.join(scored, Seq("doc_id"), "left")
          .filter(coalesce(col("score"), lit(0L)) >= 0)
          .drop("score")
        val mins = q
          .select(col("doc_id"), md5(coalesce(col("text"), lit(""))).as("h"))
          .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
        val d = q.join(mins.select(col("doc_id")), Seq("doc_id"), "left_semi")
        val sel = TemperatureSample.select(d, "doc_id", col("source"), budget = 150.0)
        val sized = sel.select(
          col("doc_id"), col("source"),
          TextOps.tokenCount(col("text")).cast("long").as("n_toks"))
        val packed = PrefixSum.withExclusivePrefix(
          sized, Seq(col("doc_id")), "n_toks", "start_tok")
        val adm = q.groupBy(col("source")).agg(count(lit(1)).as("n_admitted"))
        val ded = d.groupBy(col("source")).agg(count(lit(1)).as("n_unique"))
        packed
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_sampled"),
            sum(col("n_toks")).as("tok_sampled"),
            min(expr("start_tok div 2048")).cast("long").as("min_seq"),
            max(expr("(start_tok + CASE WHEN n_toks > 0 THEN n_toks - 1 ELSE 0 END) div 2048"))
              .cast("long").as("max_seq"))
          .join(broadcast(adm), Seq("source"))
          .join(broadcast(ded), Seq("source"))
          .select(col("source"), col("n_admitted"), col("n_unique"),
            col("n_sampled"), col("tok_sampled"), col("min_seq"), col("max_seq"))
          .orderBy(col("source"))
      },
      s"""WITH tk AS (SELECT doc_id, unnest($toksSql) AS t FROM documents),
         |w AS (SELECT doc_id, CAST(SUM(${md5_63("'w:' || t")} % 17 - 8) AS BIGINT) AS score FROM tk GROUP BY 1),
         |q AS (SELECT dd.* FROM documents dd LEFT JOIN w ON dd.doc_id = w.doc_id
         |      WHERE coalesce(w.score, 0) >= 0),
         |mins AS (SELECT md5(coalesce(text, '')) AS h, min(doc_id) AS doc_id FROM q GROUP BY 1),
         |d AS (SELECT q.* FROM q JOIN mins ON q.doc_id = mins.doc_id),
         |${graft.operators.TemperatureSample.thresholdsSql("d", "source", 150.0)},
         |sel AS (SELECT d.* FROM d JOIN tst ON d.source = tst.grp
         |        WHERE (${md5_63("CAST(d.doc_id AS VARCHAR)")} >> 10) < tst.thr),
         |sized AS (SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS n_toks FROM sel),
         |packed AS (SELECT doc_id, source, n_toks,
         |    CAST(coalesce(SUM(n_toks) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
         |  FROM sized),
         |adm AS (SELECT source, CAST(count(*) AS BIGINT) AS n_admitted FROM q GROUP BY 1),
         |ded AS (SELECT source, CAST(count(*) AS BIGINT) AS n_unique FROM d GROUP BY 1)
         |SELECT p.source, adm.n_admitted, ded.n_unique,
         |  CAST(count(*) AS BIGINT) AS n_sampled,
         |  CAST(SUM(p.n_toks) AS BIGINT) AS tok_sampled,
         |  CAST(min(p.start_tok // 2048) AS BIGINT) AS min_seq,
         |  CAST(max((p.start_tok + CASE WHEN p.n_toks > 0 THEN p.n_toks - 1 ELSE 0 END) // 2048) AS BIGINT) AS max_seq
         |FROM packed p
         |JOIN adm ON adm.source = p.source
         |JOIN ded ON ded.source = p.source
         |GROUP BY 1, 2, 3 ORDER BY p.source""".stripMargin),

    // ------------------------------------------------------------------
    // Benchmark decontamination: distinct word 3-gram overlap of every
    // non-benchmark doc against the src0 "benchmark" slice. Benchmark
    // gram set is broadcast (eval suites are tiny next to the corpus);
    // per-doc agg is the only shuffle. Real pipelines use 8–13-grams;
    // 3 keeps the synthetic corpus's overlap distribution non-trivial.
    "text_contamination" -> QueryDef(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Contamination.overlap(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          "doc_id", "text", n = 3)
          .orderBy(col("doc_id"))
      },
      s"""WITH tk AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
         |g AS (
         |  SELECT doc_id, source, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
         |    i -> array_to_string(toks[i:i+2], ' ')))) AS gram
         |  FROM tk WHERE len(toks) >= 3),
         |bench AS (SELECT DISTINCT gram FROM g WHERE source = 'src0'),
         |train AS (SELECT doc_id, gram FROM g WHERE source <> 'src0'),
         |agg AS (SELECT t.doc_id, count(*) AS n_grams, count(b.gram) AS n_overlap
         |        FROM train t LEFT JOIN bench b USING (gram) GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(coalesce(a.n_grams, 0) AS BIGINT) AS n_grams,
         |  CAST(coalesce(a.n_overlap, 0) AS BIGINT) AS n_overlap,
         |  CAST(coalesce(a.n_overlap, 0) > 0 AS INT) AS contaminated
         |FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
         |LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // Gopher-style repetition signals per doc via the one-pass
    // TokenRepetition kernel: distinct-token ratio + modal-bigram
    // fraction, exact integer counts so the ratios are bit-exact.
    "text_repetition" -> QueryDef(
      (s, dir) =>
        Tables.documents(s, dir)
          .select(
            col("doc_id"),
            exprs.tokenRepetition(coalesce(col("text"), lit(""))).as("st"))
          .select(
            col("doc_id"),
            col("st.n_tokens").as("n_tokens"),
            col("st.n_distinct").as("n_distinct"),
            col("st.n_bigrams").as("n_bigrams"),
            col("st.top_bigram_count").as("top_bigram_count"))
          .withColumn(
            "distinct_ratio",
            when(col("n_tokens") > 0,
              col("n_distinct").cast("double") / col("n_tokens")).otherwise(0.0))
          .withColumn(
            "top_bigram_frac",
            when(col("n_bigrams") > 0,
              col("top_bigram_count").cast("double") / col("n_bigrams")).otherwise(0.0))
          .orderBy(col("doc_id")),
      s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |bg AS (SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram
         |       FROM tk, unnest(range(1, len(toks))) t(i) WHERE len(toks) >= 2),
         |bc AS (SELECT doc_id, gram, count(*) AS c FROM bg GROUP BY 1, 2),
         |top AS (SELECT doc_id, max(c) AS top_c, CAST(sum(c) AS BIGINT) AS n_bg FROM bc GROUP BY 1)
         |SELECT t.doc_id,
         |  CAST(len(toks) AS INT) AS n_tokens,
         |  CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
         |  CAST(coalesce(p.n_bg, 0) AS INT) AS n_bigrams,
         |  CAST(coalesce(p.top_c, 0) AS INT) AS top_bigram_count,
         |  CASE WHEN len(toks) > 0
         |       THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) ELSE 0.0 END AS distinct_ratio,
         |  CASE WHEN coalesce(p.n_bg, 0) > 0
         |       THEN CAST(p.top_c AS DOUBLE) / p.n_bg ELSE 0.0 END AS top_bigram_frac
         |FROM tk t LEFT JOIN top p ON p.doc_id = t.doc_id
         |ORDER BY t.doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // Int8 scalar quantization profile of every embedding via the
    // one-pass QuantizeStats kernel; fixed-order IEEE arithmetic makes
    // the codes reproducible in a DuckDB list_transform.
    "embedding_quantize" -> QueryDef(
      (s, dir) =>
        Tables.embeddings(s, dir)
          .select(col("vec_id"), exprs.quantizeStats(col("embedding")).as("q"))
          .select(
            col("vec_id"),
            col("q.q_min").as("q_min"),
            col("q.q_max").as("q_max"),
            col("q.q_sum").as("q_sum"),
            col("q.scale").as("scale"))
          .orderBy(col("vec_id")),
      """WITH e AS (SELECT vec_id, embedding,
        |  CAST(list_min(embedding) AS DOUBLE) AS mn,
        |  CAST(list_max(embedding) AS DOUBLE) AS mx FROM embeddings),
        |c AS (SELECT vec_id, mn, mx,
        |  CASE WHEN mx > mn
        |       THEN list_transform(embedding, x -> CAST(floor(((CAST(x AS DOUBLE) - mn) * 255) / (mx - mn)) AS BIGINT))
        |       ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS codes FROM e)
        |SELECT vec_id,
        |  CAST(list_min(codes) AS INT) AS q_min,
        |  CAST(list_max(codes) AS INT) AS q_max,
        |  CAST(list_sum(codes) AS BIGINT) AS q_sum,
        |  (mx - mn) / 255 AS scale
        |FROM c ORDER BY vec_id""".stripMargin),

    // ------------------------------------------------------------------
    // C4 / RefinedWeb line-grain dedup (LineDedup operator): the
    // synthetic corpus has no newlines, so the query salts every doc
    // with deterministic doc_id-derived footer lines — two shared
    // boilerplate strings (every 3rd / 5th doc) plus per-doc unique
    // lines — then drops lines whose md5 appears in >2 distinct docs
    // and reassembles. Both engines build the identical salted corpus,
    // so the blacklist, the surviving text, and the counts compare
    // byte-exactly. Blacklist is broadcast; the only corpus shuffle is
    // the doc_id reassembly.
    "line_dedup_boilerplate" -> QueryDef(
      (s, dir) => {
        val salted = Tables.documents(s, dir).select(
          col("doc_id"),
          concat_ws("\n",
            coalesce(col("text"), lit("")),
            when(col("doc_id") % 3 === 0,
              lit("subscribe to our newsletter for daily updates"))
              .otherwise(concat(lit("doc "), col("doc_id"), lit(" unique footer"))),
            when(col("doc_id") % 5 === 0,
              lit("copyright 2024 all rights reserved"))
              .otherwise(concat(lit("doc "), col("doc_id"), lit(" extra line"))))
            .as("text"))
        graft.operators.LineDedup.dropCommonLines(salted, "doc_id", "text", maxDocs = 2L)
          .orderBy(col("doc_id"))
      },
      """WITH salted AS (
        |  SELECT doc_id,
        |    coalesce(text, '') || chr(10) ||
        |    CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter for daily updates'
        |         ELSE 'doc ' || doc_id || ' unique footer' END || chr(10) ||
        |    CASE WHEN doc_id % 5 = 0 THEN 'copyright 2024 all rights reserved'
        |         ELSE 'doc ' || doc_id || ' extra line' END AS text
        |  FROM documents),
        |lx AS (
        |  SELECT doc_id,
        |    unnest(string_split(text, chr(10))) AS line,
        |    unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos
        |  FROM salted),
        |bl AS (
        |  SELECT md5(line) AS h FROM lx
        |  GROUP BY md5(line) HAVING count(DISTINCT doc_id) > 2)
        |SELECT lx.doc_id,
        |  coalesce(string_agg(lx.line, chr(10) ORDER BY lx.pos)
        |    FILTER (WHERE bl.h IS NULL), '') AS clean_text,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(count(bl.h) AS BIGINT) AS n_dropped
        |FROM lx LEFT JOIN bl ON md5(lx.line) = bl.h
        |GROUP BY lx.doc_id
        |ORDER BY lx.doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // C4 cleaning rules (Raffel et al. 2020 §2.2) at line + doc grain —
    // the third canonical web-cleaning recipe beside Gopher
    // (gopher_quality_rules) and CCNet (ngram_perplexity_filter):
    // keep lines that END in terminal punctuation, have ≥5 words, and
    // don't mention javascript; drop whole docs containing "lorem
    // ipsum" or a curly brace; keep docs with ≥3 surviving lines. The
    // synthetic corpus has no newlines/punctuation, so both engines
    // salt each doc with the SAME deterministic doc_id-derived lines
    // (one per rule branch — the line_dedup_boilerplate recipe), and
    // the survivors reassemble byte-exactly (md5 over pos-ordered kept
    // lines). Everything is map-side string work + one doc-grain agg —
    // no shuffle beyond the rollup at any SF.
    "c4_line_doc_rules" -> QueryDef(
      (s, dir) => {
        val salted = Tables.documents(s, dir).select(
          col("doc_id"),
          concat_ws("\n",
            concat(coalesce(col("text"), lit("")), lit(".")),
            when(col("doc_id") % 4 === 0, lit("too short line"))
              .otherwise(lit("this sentence has enough words to pass the filter.")),
            when(col("doc_id") % 7 === 0,
              lit("please enable javascript to continue viewing this page."))
              .otherwise(lit("another perfectly ordinary sentence appears right here.")),
            when(col("doc_id") % 11 === 0, lit("lorem ipsum dolor sit amet."))
              .otherwise(lit("closing line with sufficient words present here.")),
            when(col("doc_id") % 13 === 0, lit("function() { return 0; }"))
              .otherwise(lit("final informative sentence concludes the document body.")))
            .as("text"))
        val lines = salted
          .select(col("doc_id"), col("text"),
            posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
        val flagged = lines.withColumn("kept",
          substring(col("line"), -1, 1).isin(".", "!", "?", "\"") &&
            size(filter(split(col("line"), "\\s+"), t => length(t) > 0)) >= 5 &&
            !col("line").contains("javascript"))
        flagged
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_lines"),
            sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
            max(when(col("text").contains("lorem ipsum") ||
              col("text").contains("{"), 1).otherwise(0)).as("doc_banned"),
            md5(array_join(
              transform(
                array_sort(collect_list(
                  when(col("kept"), struct(col("pos"), col("line"))))),
                x => x.getField("line")),
              "\n")).as("kept_md5"))
          .select(col("doc_id"), col("n_lines"), col("n_kept"), col("doc_banned"),
            when(col("doc_banned") === 0 && col("n_kept") >= 3, 1).otherwise(0)
              .as("doc_kept"),
            col("kept_md5"))
          .orderBy(col("doc_id"))
      },
      """WITH salted AS (
        |  SELECT doc_id,
        |    coalesce(text, '') || '.' || chr(10) ||
        |    CASE WHEN doc_id % 4 = 0 THEN 'too short line'
        |         ELSE 'this sentence has enough words to pass the filter.' END || chr(10) ||
        |    CASE WHEN doc_id % 7 = 0 THEN 'please enable javascript to continue viewing this page.'
        |         ELSE 'another perfectly ordinary sentence appears right here.' END || chr(10) ||
        |    CASE WHEN doc_id % 11 = 0 THEN 'lorem ipsum dolor sit amet.'
        |         ELSE 'closing line with sufficient words present here.' END || chr(10) ||
        |    CASE WHEN doc_id % 13 = 0 THEN 'function() { return 0; }'
        |         ELSE 'final informative sentence concludes the document body.' END AS text
        |  FROM documents),
        |lx AS (
        |  SELECT doc_id, text,
        |    unnest(string_split(text, chr(10))) AS line,
        |    unnest(range(0, len(string_split(text, chr(10))))) AS pos
        |  FROM salted),
        |fl AS (
        |  SELECT doc_id, text, line, pos,
        |    (right(line, 1) IN ('.', '!', '?', '"')
        |     AND len(list_filter(string_split_regex(line, '\s+'), t -> len(t) > 0)) >= 5
        |     AND NOT contains(line, 'javascript')) AS kept
        |  FROM lx)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(max(CASE WHEN contains(text, 'lorem ipsum') OR contains(text, '{')
        |               THEN 1 ELSE 0 END) AS INT) AS doc_banned,
        |  CAST(CASE WHEN max(CASE WHEN contains(text, 'lorem ipsum') OR contains(text, '{')
        |                    THEN 1 ELSE 0 END) = 0
        |             AND SUM(CASE WHEN kept THEN 1 ELSE 0 END) >= 3
        |       THEN 1 ELSE 0 END AS INT) AS doc_kept,
        |  md5(coalesce(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE kept), '')) AS kept_md5
        |FROM fl GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // Distributed SUFFIX ARRAY by prefix doubling (Manber & Myers
    // 1990) over a 40-doc corpus slice — the index ExactSubstr-style
    // corpus dedup is built on (Lee et al. 2022). Each round is one
    // keyed self-join (rank of the position 2^k ahead; missing
    // lookahead = −1, matching proper-prefix byte order) + a DenseId
    // re-number; rounds stop the moment ranks go distinct. The oracle
    // sorts the actual suffix STRINGS (row_number over substr) — a
    // completely independent O(L²·cmp) construction that must agree
    // rank-for-rank with the O(L log L) doubling. First 64 positions
    // emitted.
    "suffix_array_build" -> QueryDef(
      (s, dir) => {
        val (_, _, rounds) = saArtifact(s, dir)
        graft.operators.SuffixArray.saFromRounds(rounds)
          .filter(col("gpos") <= 64)
          .select(col("gpos"), col("sa_rank"))
          .orderBy(col("gpos"))
      },
      """WITH c AS (
        |  SELECT string_agg(coalesce(text, '') || chr(1), '' ORDER BY doc_id) AS s
        |  FROM documents WHERE doc_id < 40),
        |p AS (SELECT unnest(range(1, len(s) + 1)) AS gpos, s FROM c),
        |r AS (
        |  SELECT gpos,
        |    CAST(row_number() OVER (ORDER BY substr(s, CAST(gpos AS INT))) AS BIGINT) AS sa_rank
        |  FROM p)
        |SELECT CAST(gpos AS BIGINT) AS gpos, sa_rank
        |FROM r WHERE gpos <= 64 ORDER BY gpos""".stripMargin),

    // ------------------------------------------------------------------
    // Whole-index digest of the same suffix array plus its
    // Burrows–Wheeler transform (bwt[i] = char before the i-th ranked
    // suffix, cyclic) — one row proving EVERY rank agrees, not just
    // the first 64, and tying the SA to the compression/FM-index
    // transform built from it. Digests fold pos-/rank-ordered strings
    // (exact ASCII bytes both engines).
    "suffix_array_digest" -> QueryDef(
      (s, dir) => {
        val (chars, n, rounds) = saArtifact(s, dir)
        val sa = graft.operators.SuffixArray.saFromRounds(rounds)
        val bwt = sa
          .select(col("sa_rank"),
            when(col("gpos") === 1L, lit(n)).otherwise(col("gpos") - 1)
              .as("pg"))
          .join(chars.select(col("gpos").as("pg"), col("code")), Seq("pg"))
        val saMd5 = sa.agg(
          md5(concat_ws(",",
            transform(sort_array(collect_list(struct(col("gpos"), col("sa_rank")))),
              x => concat(x.getField("gpos"), lit(":"), x.getField("sa_rank")))))
            .as("sa_md5"))
        val bwtMd5 = bwt.agg(
          md5(concat_ws("",
            transform(sort_array(collect_list(struct(col("sa_rank"), col("code")))),
              x => char(x.getField("code"))))).as("bwt_md5"))
        saMd5.crossJoin(bwtMd5)
          .select(lit(n).as("corpus_len"), col("sa_md5"), col("bwt_md5"))
      },
      """WITH c AS (
        |  SELECT string_agg(coalesce(text, '') || chr(1), '' ORDER BY doc_id) AS s
        |  FROM documents WHERE doc_id < 40),
        |p AS (SELECT unnest(range(1, len(s) + 1)) AS gpos, s FROM c),
        |r AS (
        |  SELECT gpos, s,
        |    CAST(row_number() OVER (ORDER BY substr(s, CAST(gpos AS INT))) AS BIGINT) AS sa_rank
        |  FROM p)
        |SELECT CAST(len(c.s) AS BIGINT) AS corpus_len,
        |  (SELECT md5(string_agg(gpos || ':' || sa_rank, ',' ORDER BY gpos)) FROM r) AS sa_md5,
        |  (SELECT md5(string_agg(
        |     substr(s, CAST(CASE WHEN gpos = 1 THEN len(s) ELSE gpos - 1 END AS INT), 1),
        |     '' ORDER BY sa_rank)) FROM r) AS bwt_md5
        |FROM c""".stripMargin),

    // ------------------------------------------------------------------
    // Longest repeated substrings via adjacent-suffix LCP — THE
    // ExactSubstr dedup signal (a repeated span of length ≥ t exists
    // iff some adjacent-rank LCP ≥ t). The doubling rounds double as
    // the sparse table: each level advances a pair's lcp by w iff the
    // rank_w values at the shifted positions agree (two keyed lookups
    // per level on the L-row pair frame — never a character-by-
    // character walk). The oracle computes the SAME lcp by BINARY
    // LIFTING OVER SUBSTRINGS (15 unrolled CTE levels of guarded
    // substr-equality) — a structurally independent construction that
    // must agree pair-for-pair. Top-10 with the repeated text
    // reconstructed (10-row broadcast range join).
    "suffix_lrs_topk" -> QueryDef(
      (s, dir) => {
        val (chars, _, rounds) = saArtifact(s, dir)
        val top = graft.operators.SuffixArray.adjacentLcpFromRounds(rounds)
          .orderBy(col("lcp").desc, col("a")).limit(10)
          .select(col("a"), col("b"), col("lcp"))
        top.join(chars,
            col("gpos") >= col("a") && col("gpos") < col("a") + col("lcp"),
            "left")
          .groupBy(col("a"), col("b"), col("lcp"))
          .agg(concat_ws("",
            transform(sort_array(collect_list(struct(col("gpos"), col("code")))),
              x => char(x.getField("code")))).as("lrs"))
          .orderBy(col("lcp").desc, col("a"))
      }, {
        val steps = (0 to 14).reverse.map(j => 1L << j) // 16384 .. 1
        val lifts = steps.zipWithIndex.map { case (w, i) =>
          s"""l${i + 1} AS (
             |  SELECT a, b, s, ln,
             |    lcp + CASE WHEN a + lcp + $w - 1 <= ln AND b + lcp + $w - 1 <= ln
             |               AND substr(s, CAST(a + lcp AS INT), $w) =
             |                   substr(s, CAST(b + lcp AS INT), $w)
             |          THEN $w ELSE 0 END AS lcp
             |  FROM l$i)""".stripMargin
        }.mkString(",\n")
        s"""WITH c AS (
           |  SELECT string_agg(coalesce(text, '') || chr(1), '' ORDER BY doc_id) AS s
           |  FROM documents WHERE doc_id < 40),
           |p AS (SELECT unnest(range(1, len(s) + 1)) AS gpos, s FROM c),
           |r AS (
           |  SELECT gpos, s,
           |    CAST(row_number() OVER (ORDER BY substr(s, CAST(gpos AS INT))) AS BIGINT) AS sa_rank
           |  FROM p),
           |l0 AS (
           |  SELECT r1.gpos AS a, r2.gpos AS b, r1.s AS s,
           |    CAST(len(r1.s) AS BIGINT) AS ln, CAST(0 AS BIGINT) AS lcp
           |  FROM r r1 JOIN r r2 ON r2.sa_rank = r1.sa_rank + 1),
           |$lifts
           |SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, lcp,
           |  substr(s, CAST(a AS INT), CAST(lcp AS INT)) AS lrs
           |FROM l${steps.length}
           |ORDER BY lcp DESC, a LIMIT 10""".stripMargin
      }),

    // ------------------------------------------------------------------
    // BYTE-GINI compressibility proxy (the rational stand-in for the
    // compression-ratio quality gate crawls use — low character
    // diversity = repetitive/low-quality text): per document, the
    // Gini impurity of its character histogram is (n² − Σc²)/n² —
    // exact integers to one division — and per-source the WEIGHTED
    // gini folds as Σ(n² − Σc²)/Σn² (integer numerator and
    // denominator sums, so no double ever accumulates). One
    // (doc, char) aggregation + one doc rollup + one source rollup;
    // no log/entropy anywhere (the transcendental-free rule).
    "byte_gini_quality" -> QueryDef(
      (s, dir) => {
        val cc = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"),
            explode(split(coalesce(col("text"), lit("")), "")).as("c"))
          .filter(col("c") =!= "")
          .groupBy(col("doc_id"), col("source"), col("c"))
          .agg(count(lit(1)).as("n"))
        val dg = cc.groupBy(col("doc_id"), col("source"))
          .agg(sum(col("n")).as("len"), sum(col("n") * col("n")).as("sq"))
        dg.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("len") * col("len") - col("sq")).as("gini_num"),
            sum(col("len") * col("len")).as("n2_sum"))
          .withColumn("gini_w",
            col("gini_num").cast("double") / col("n2_sum").cast("double"))
          .orderBy(col("source"))
      },
      """WITH ch AS (
        |  SELECT doc_id, source,
        |    unnest(string_split(coalesce(text, ''), '')) AS c
        |  FROM documents),
        |cc AS (
        |  SELECT doc_id, source, c, CAST(count(*) AS BIGINT) AS n
        |  FROM ch WHERE c <> '' GROUP BY 1, 2, 3),
        |dg AS (
        |  SELECT doc_id, source,
        |    CAST(SUM(n) AS BIGINT) AS len,
        |    CAST(SUM(n * n) AS BIGINT) AS sq
        |  FROM cc GROUP BY 1, 2)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len * len - sq) AS BIGINT) AS gini_num,
        |  CAST(SUM(len * len) AS BIGINT) AS n2_sum,
        |  CAST(SUM(len * len - sq) AS DOUBLE) / CAST(SUM(len * len) AS DOUBLE) AS gini_w
        |FROM dg GROUP BY 1 ORDER BY 1""".stripMargin),

    // ------------------------------------------------------------------
    // PII REDACTION with byte-exact output (the scrub step beside the
    // Luhn FILTER the family already has — redaction keeps the
    // document, the filter drops it): emails and 6+-digit runs
    // (planted deterministically — the word-soup corpus carries none)
    // replace with typed placeholders; per-source counts plus a
    // rolled digest over the per-doc redacted texts, so one wrong
    // byte anywhere in the corpus mismatches. Plain character-class
    // regexes only (identical Java/RE2 semantics); map-side except
    // the source rollup.
    "pii_redact_emails" -> QueryDef(
      (s, dir) => {
        val t = Tables.documents(s, dir).select(
          col("doc_id"), col("source"),
          concat(coalesce(col("text"), lit("")),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or call 555"),
            (col("doc_id") * 7919).cast("string"), lit(" now")).as("text"))
        val emailRe = "[a-z0-9._]+@[a-z0-9.]+[a-z]"
        val numRe = "[0-9]{6,}"
        val r = t.select(col("doc_id"), col("source"),
          size(expr(s"regexp_extract_all(text, '$emailRe', 0)"))
            .cast("long").as("n_emails"),
          size(expr(s"regexp_extract_all(text, '$numRe', 0)"))
            .cast("long").as("n_longnums"),
          md5(regexp_replace(
            regexp_replace(col("text"), emailRe, "<EMAIL>"),
            numRe, "<NUM>")).as("rm"))
        r.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_emails")).as("n_emails"),
            sum(col("n_longnums")).as("n_longnums"),
            md5(concat_ws(",",
              transform(
                array_sort(collect_list(struct(col("doc_id"), col("rm")))),
                x => x.getField("rm")))).as("redacted_md5"))
          .orderBy(col("source"))
      },
      """WITH t AS (
        |  SELECT doc_id, source,
        |    coalesce(text, '') || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |      '@example.com or call 555' || CAST(doc_id * 7919 AS VARCHAR) ||
        |      ' now' AS text
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_extract_all(text, '[a-z0-9._]+@[a-z0-9.]+[a-z]')) AS BIGINT) AS n_emails,
        |    CAST(len(regexp_extract_all(text, '[0-9]{6,}')) AS BIGINT) AS n_longnums,
        |    md5(regexp_replace(
        |      regexp_replace(text, '[a-z0-9._]+@[a-z0-9.]+[a-z]', '<EMAIL>', 'g'),
        |      '[0-9]{6,}', '<NUM>', 'g')) AS rm
        |  FROM t)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_emails) AS BIGINT) AS n_emails,
        |  CAST(SUM(n_longnums) AS BIGINT) AS n_longnums,
        |  md5(string_agg(rm, ',' ORDER BY doc_id)) AS redacted_md5
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin),

    // ------------------------------------------------------------------
    // Image near-dup via dHash perceptual fingerprints: the corpus's
    // real BMP/PNG images plus planted variants (first two pixels
    // overwritten — id+100000) are decoded with javax.imageio, dHashed
    // (Multimodal.dHash: nearest-neighbor 64-sample gradient bits,
    // integer-only), and paired through the SAME pigeonhole blocking +
    // hamming verify as text SimHash (SimHashDedup.pairsFromFingerprints
    // — candidates are an equi-join on 16-bit chunks, never all-pairs).
    // The oracle restates the dHash from the source bytes (pixel row =
    // UTF-8 bytes) and replays the blocking exactly; recovers all 500
    // planted pairs at sf0.001 with ≤3 flipped gradient bits.
    "image_dhash_neardup" -> QueryDef(
      (s, dir) => {
        val base = Tables.documents(s, dir).select(
          col("doc_id"),
          coalesce(col("text"), lit("")).as("text"),
          col("source"), col("n_chars"))
        val pert = base.select(
          (col("doc_id") + 100000).as("doc_id"),
          concat(lit("zz"), expr("substring(text, 3)")).as("text"),
          col("source"), col("n_chars"))
        val fps = Multimodal.dHash(Multimodal.mediaFrom(base.unionAll(pert)))
          .toDF()
          .select(col("media_id").as("doc_id"), col("dhash").as("simhash"))
        SimHashDedup.pairsFromFingerprints(fps, maxHamming = 3, maxBucket = 50)
          .orderBy(col("id_a"), col("id_b"))
      },
      """WITH base AS (SELECT doc_id, coalesce(text,'') AS text FROM documents),
        |corpus AS (
        |  SELECT doc_id, text FROM base
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, 'zz' || substr(text, 3) AS text FROM base),
        |dims AS (SELECT doc_id, text,
        |           CAST(greatest(1, octet_length(encode(text))) AS BIGINT) AS L FROM corpus),
        |bits AS (
        |  SELECT doc_id, x,
        |    ascii(substr(text, CAST(x * L // least(64, L) + 1 AS INT), 1)) AS s0,
        |    ascii(substr(text, CAST((x + 1) * L // least(64, L) + 1 AS INT), 1)) AS s1
        |  FROM (SELECT doc_id, text, L, unnest(range(0, least(64, L) - 1)) AS x FROM dims)),
        |fp0 AS (SELECT doc_id,
        |          CAST(SUM(CASE WHEN s0 < s1 THEN (1::BIGINT << x) ELSE 0 END) AS BIGINT) AS simhash
        |        FROM bits GROUP BY doc_id),
        |fp AS (SELECT d.doc_id, coalesce(f.simhash, 0) AS simhash
        |       FROM dims d LEFT JOIN fp0 f USING (doc_id)),
        |chunked AS (
        |  SELECT doc_id, simhash, chunk_idx, (simhash >> (chunk_idx * 16)) & 65535 AS chunk_val
        |  FROM (SELECT doc_id, simhash, unnest(range(0, 4)) AS chunk_idx FROM fp)),
        |capped AS (
        |  SELECT doc_id, simhash, chunk_idx, chunk_val FROM (
        |    SELECT *, count(*) OVER (PARTITION BY chunk_idx, chunk_val) AS bsz FROM chunked)
        |  WHERE bsz <= 50),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.simhash AS fa, b.simhash AS fb
        |  FROM capped a JOIN capped b
        |    ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
        |FROM cand WHERE bit_count(xor(fa, fb)) <= 3
        |ORDER BY id_a, id_b""".stripMargin),

    // ------------------------------------------------------------------
    // Image↔text ALIGNMENT gate (the CLIP-score curation mainstay,
    // Radford et al. 2021 — shape only, no learned model): each real
    // BMP/PNG image is scored against its own caption (positive) and
    // the next doc's caption (hard negative) by cosine between two
    // 32-point signatures — the IMAGE side sampled from DECODED PIXELS
    // (Multimodal.byteSignature: the dHash sampling, mean-centered at
    // 96), the TEXT side restated from characters by 32 explicit
    // codegen'd ascii(substring) columns (no HOF). Positives score ~1
    // (pixels ARE the rendered caption bytes), negatives spread around
    // 0 (measured max 0.65 at sf0.01), so the 0.8 threshold separates
    // cleanly — and even a crossing pair stays oracle-green (both
    // engines compute the identical fixed-order double). Decode stays
    // in the typed scan stage; pairing is two id equi-joins.
    // DOMAIN GUARD (r9 advice): the image side samples decoded-pixel
    // BYTES while the text side samples CHARACTERS, and those coincide
    // only for single-byte text — so the gate EXPLICITLY restricts to
    // captions whose byte length equals their char length (pure
    // ASCII), in both engines. A multi-byte caption is excluded from
    // the gate (well-defined semantics at any fixture) instead of
    // being silently mis-scored; a byte-sampled text twin isn't
    // cleanly expressible in the oracle (DuckDB has no blob byte
    // accessor).
    "image_text_alignment" -> QueryDef(
      (s, dir) => {
        val base = Tables.documents(s, dir)
          .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"),
            col("source"), col("n_chars"))
          .filter(length(col("text")) > 0 &&
            octet_length(col("text")) === length(col("text")))
        val img = Multimodal.byteSignature(Multimodal.mediaFrom(base))
          .toDF()
          .select(col("media_id").as("img_id"), col("sig").as("iv"))
        val txt = base.select(
          col("doc_id").as("txt_id"),
          array((0 until 32).map { j =>
            expr(s"cast(ascii(substring(text, $j * octet_length(text) div 32 + 1, 1)) - 96 as double)")
          }: _*).as("tv"))
        val pos = img.join(txt, col("img_id") === col("txt_id"))
          .withColumn("pair_type", lit("pos"))
        val neg = img.join(txt, col("txt_id") === col("img_id") + 1)
          .withColumn("pair_type", lit("neg"))
        pos.unionByName(neg)
          .withColumn("score", Similarity.cosine(col("iv"), col("tv")))
          .select(col("img_id"), col("txt_id"), col("pair_type"), col("score"),
            when(col("score") >= 0.8, lit(1)).otherwise(lit(0)).as("aligned"))
          .orderBy(col("pair_type"), col("img_id"))
      },
      """WITH d AS (
        |  SELECT doc_id, coalesce(text, '') AS text,
        |    CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS L
        |  FROM documents
        |  WHERE len(coalesce(text, '')) > 0
        |    AND octet_length(encode(coalesce(text, ''))) = len(coalesce(text, ''))),
        |v AS (
        |  SELECT doc_id,
        |    list(CAST(ascii(substr(text, CAST(j * L // 32 + 1 AS INT), 1)) - 96 AS DOUBLE) ORDER BY j) AS v
        |  FROM (SELECT doc_id, text, L, unnest(range(0, 32)) AS j FROM d)
        |  GROUP BY doc_id),
        |p AS (
        |  SELECT a.doc_id AS img_id, a.doc_id AS txt_id, 'pos' AS pair_type,
        |         a.v AS iv, a.v AS tv
        |  FROM v a
        |  UNION ALL
        |  SELECT a.doc_id, b.doc_id, 'neg', a.v, b.v
        |  FROM v a JOIN v b ON b.doc_id = a.doc_id + 1),
        |sc AS (
        |  SELECT img_id, txt_id, pair_type,
        |    CASE WHEN sqrt(list_dot_product(iv, iv)) * sqrt(list_dot_product(tv, tv)) > 0
        |         THEN list_dot_product(iv, tv) /
        |              (sqrt(list_dot_product(iv, iv)) * sqrt(list_dot_product(tv, tv)))
        |         ELSE 0.0 END AS score
        |  FROM p)
        |SELECT img_id, txt_id, pair_type, score,
        |  CAST(CASE WHEN score >= 0.8 THEN 1 ELSE 0 END AS INT) AS aligned
        |FROM sc ORDER BY pair_type, img_id""".stripMargin),

    // ------------------------------------------------------------------
    // Sliding-window chunking (Chunking.tokenWindows): 64-token windows
    // at stride 32, last window right-aligned to the doc end (the HF
    // overflow convention) — the prep between a curated corpus and an
    // embedding index. Bounded map-side explode, no shuffle until the
    // final orderBy; integer-exact starts, so the oracle restates the
    // windows verbatim.
    "doc_chunk_windows" -> QueryDef(
      (s, dir) =>
        Chunking.tokenWindows(
          Tables.documents(s, dir), "doc_id", "text", window = 64, stride = 32)
          .orderBy(col("doc_id"), col("chunk_idx")),
      s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |d AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM tk WHERE len(toks) > 0),
         |e AS (SELECT doc_id, toks, n,
         |        unnest(range(0, 1 + (greatest(n - 64, 0) + 31) // 32)) AS i
         |      FROM d),
         |c AS (SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
         |        least(i * 32, greatest(n - 64, 0)) AS start_tok, toks
         |      FROM e)
         |SELECT doc_id, chunk_idx, CAST(start_tok AS BIGINT) AS start_tok,
         |  CAST(len(toks[start_tok + 1 : start_tok + 64]) AS BIGINT) AS chunk_tokens,
         |  array_to_string(toks[start_tok + 1 : start_tok + 64], ' ') AS chunk_text
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin),

    // ------------------------------------------------------------------
    // Content-defined chunk dedup (LBFS/rsync, SOSP 2001): cut points
    // come from a w=16 rolling hash of the CONTENT, so the planted
    // prefix-insertion copies (id+300000, "xq7 " prepended) re-align
    // after the first boundary and share almost every later chunk —
    // the case where fixed-size blocks lose everything. The CdcChunks
    // kernel is stateless per position (no min/max guards), so cuts,
    // chunk md5s, and the shared-chunk census replay in DuckDB via
    // the unrolled polynomial window. Map-only kernel + one agg on
    // chunk hashes; at 100 TB the chunk-hash census IS the dedup
    // store sizing query.
    "cdc_chunk_dedup" -> QueryDef(
      (s, dir) => {
        val d0 = Tables.documents(s, dir)
          .select(col("doc_id"), coalesce(col("text"), lit("")).as("t"))
        val corpus = d0.unionAll(d0.select(
          (col("doc_id") + 300000).as("doc_id"),
          concat(lit("xq7 "), col("t")).as("t")))
        corpus
          .select(col("doc_id"), explode(exprs.cdcChunks(col("t"))).as("c"))
          .select(col("doc_id"), col("c.h").as("h"), col("c.len").as("clen"))
          .groupBy(col("h"))
          .agg(
            countDistinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_occ"),
            max(col("clen")).cast("long").as("chunk_len"))
          .filter(col("n_docs") >= 2)
          .orderBy(col("n_docs").desc, col("n_occ").desc, col("h"))
          .limit(200)
          .select(col("h"), col("n_docs"), col("n_occ"), col("chunk_len"))
      },
      cdcOracleSql(w = 16, b = 31, m = 1000000007L, d = 64)),

    // ------------------------------------------------------------------
    // Unicode hygiene: homoglyph detection/normalization — the
    // contamination-evasion and spam vector where Cyrillic lookalikes
    // (а е о) replace Latin letters so exact-dedup and benchmark
    // n-gram filters miss the text. The fixture is ASCII, so docs are
    // SALTED deterministically (doc_id % 4 → a/e/o swapped to their
    // U+0430/0435/043E twins, the line_dedup salting pattern); the
    // detector is two codepoint `translate` passes — count = len −
    // len(strip), normalize = reverse map — both map-only scan-stage
    // string kernels with identical Spark/DuckDB semantics.
    "homoglyph_hygiene" -> QueryDef(
      (s, dir) => {
        val salted = Tables.documents(s, dir).select(
          col("doc_id"), col("source"),
          when(col("doc_id") % 4 === 0,
            translate(coalesce(col("text"), lit("")), "aeo", "аео"))
            .otherwise(coalesce(col("text"), lit(""))).as("text"))
        salted
          .withColumn("n_homo",
            (length(col("text")) -
              length(translate(col("text"), "аео", ""))).cast("long"))
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("n_homo") > 0, 1L).otherwise(0L)).as("n_flagged"),
            sum(col("n_homo")).as("total_homoglyphs"))
          .orderBy(col("source"))
      },
      """WITH salted AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 4 = 0
        |         THEN translate(coalesce(text, ''), 'aeo', 'аео')
        |         ELSE coalesce(text, '') END AS text
        |  FROM documents),
        |sc AS (
        |  SELECT source,
        |    CAST(length(text) - length(translate(text, 'аео', '')) AS BIGINT) AS n_homo
        |  FROM salted)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN n_homo > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |  CAST(SUM(n_homo) AS BIGINT) AS total_homoglyphs
        |FROM sc GROUP BY 1 ORDER BY source""".stripMargin),

    // ------------------------------------------------------------------
    // Johnson–Lindenstrauss 64→16 reduction with a Rademacher ±1
    // matrix (Achlioptas 2003) over the integer quantization grid:
    // projection is map-only k·dim integer adds per row, distances are
    // exact BIGINT on both the original and projected grids, and the
    // per-pair distortion ppm = proj_d2·1e6 div (k·orig_d2) clusters
    // around 1e6 exactly as the lemma promises. The oracle re-derives
    // the quantized codes with floor(x·1024), applies the identical ±1
    // literals, and replays both unrolled distance chains — integers
    // end to end.
    "embedding_jl_distortion" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        graft.operators.JlProject.distortionPairs(
          emb.filter(col("vec_id") < 200), emb.filter(col("vec_id") < 10),
          "vec_id", "embedding",
          signs = graft.operators.JlProject.signMatrix(k = 16, dim = 64, seed = 33L))
          .orderBy(col("query_id"), col("neighbor_id"))
      },
      jlOracleSql(k = 16, dim = 64, seed = 33L, nProbes = 10, nCorpus = 200)),

    // ------------------------------------------------------------------
    // Fill-in-the-middle transform (Bavarian et al. 2022, "Efficient
    // training of language models to fill in the middle" — public
    // literature), PSM rendering: split each document at the
    // deterministic third-points (prefix/middle/suffix = n∕3, n∕3,
    // rest by character count — production uses random split points;
    // a fixed fraction keeps the transform oracle-able) and re-render
    // as <PRE>prefix<SUF>suffix<MID>middle, the document-level string
    // transform an FIM pretraining pipeline maps over the corpus.
    // Pure per-row character ops (substring/concat) — embarrassingly
    // parallel, no shuffle at all; the rendered text is digested to
    // md5 so the verified result stays compact.
    "fim_psm_render" -> QueryDef(
      (s, dir) => {
        val base = Tables.documents(s, dir).select(col("doc_id"),
          coalesce(col("text"), lit("")).as("t"),
          length(coalesce(col("text"), lit(""))).cast("long").as("n"))
        base
          .select(col("doc_id"),
            expr("n div 3").as("p_len"), expr("n div 3").as("m_len"),
            (col("n") - lit(2L) * expr("n div 3")).as("s_len"),
            expr("substring(t, 1, CAST(n div 3 AS INT))").as("pre"),
            expr("substring(t, CAST(n div 3 AS INT) + 1, CAST(n div 3 AS INT))").as("mid"),
            expr("substring(t, CAST(2 * (n div 3) AS INT) + 1)").as("suf"))
          .select(col("doc_id"), col("p_len"), col("m_len"), col("s_len"),
            md5(concat(lit("<PRE>"), col("pre"), lit("<SUF>"), col("suf"),
              lit("<MID>"), col("mid"))).as("psm_md5"))
          .orderBy(col("doc_id"))
      },
      """WITH base AS (
        |  SELECT doc_id, coalesce(text, '') AS t,
        |    CAST(length(coalesce(text, '')) AS BIGINT) AS n
        |  FROM documents),
        |split AS (
        |  SELECT doc_id, n // 3 AS p_len, n // 3 AS m_len, n - 2*(n // 3) AS s_len,
        |    substring(t, 1, CAST(n // 3 AS INT)) AS pre,
        |    substring(t, CAST(n // 3 AS INT) + 1, CAST(n // 3 AS INT)) AS mid,
        |    substring(t, CAST(2*(n // 3) AS INT) + 1) AS suf
        |  FROM base)
        |SELECT doc_id, p_len, m_len, s_len,
        |  md5('<PRE>' || pre || '<SUF>' || suf || '<MID>' || mid) AS psm_md5
        |FROM split ORDER BY doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // Prefix-cache (KV-cache) reuse profile over the prompt corpus —
    // the serving-side statistic behind RadixAttention/prefix caching
    // (Zheng et al. 2023, SGLang — public literature): at each trie
    // depth d ≤ 8, every prompt with ≥ d tokens contributes one token
    // at that depth, and the cache stores only the DISTINCT
    // d-token prefixes, so reused_tokens(d) = prompts(d) −
    // distinct_prefixes(d); Σ_d reuse = total KV entries saved by a
    // shared-prefix cache. One explode to the (depth ≤ 8) grain + a
    // distinct-aggregate per depth — keyed by prefix string, no window,
    // scales as 8× the prompt count.
    "prefix_cache_tokens" -> QueryDef(
      (s, dir) => {
        Tables.documents(s, dir)
          .select(expr(
            "filter(split(coalesce(text, ''), '[\\t\\n\\f\\r ]+'), x -> x <> '')").as("ts"))
          .select(col("ts"), explode(expr("sequence(1, 8)")).as("depth"))
          .filter(size(col("ts")) >= col("depth"))
          .select(col("depth"),
            expr("array_join(slice(ts, 1, depth), ' ')").as("p"))
          .groupBy(col("depth"))
          .agg(count(lit(1)).as("prompts"),
            countDistinct(col("p")).as("distinct_prefixes"),
            (count(lit(1)) - countDistinct(col("p"))).as("reused_tokens"))
          .orderBy(col("depth"))
      },
      """WITH toks AS (
        |  SELECT list_filter(string_split_regex(coalesce(text, ''), '[\t\n\f\r ]+'), x -> x <> '') AS ts
        |  FROM documents),
        |d AS (SELECT CAST(unnest(range(1, 9)) AS INT) AS depth),
        |pref AS (
        |  SELECT d.depth, array_to_string(list_slice(t.ts, 1, d.depth), ' ') AS p
        |  FROM toks t JOIN d ON len(t.ts) >= d.depth)
        |SELECT depth, CAST(count(*) AS BIGINT) AS prompts,
        |  CAST(count(DISTINCT p) AS BIGINT) AS distinct_prefixes,
        |  CAST(count(*) - count(DISTINCT p) AS BIGINT) AS reused_tokens
        |FROM pref GROUP BY 1 ORDER BY 1""".stripMargin)
  )

  /** DuckDB twin of [[graft.functions.CdcChunks]] + the shared-chunk
    * census: the w-char polynomial window unrolls to literal
    * `ascii(t[p−j]) · (B^j mod M)` terms inside a list_filter over all
    * positions, bounds assemble via prepend/append, and each chunk
    * md5s the same substring the kernel hashed (pure-ASCII corpus ⇒
    * codepoint indexing ≡ Java char indexing).
    */
  private def cdcOracleSql(w: Int, b: Int, m: Long, d: Int): String = {
    val pow = Array.iterate(1L, w)(x => x * b % m)
    val terms = (0 until w)
      .map(j => s"CAST(ascii(t[p-$j:p-$j]) AS BIGINT) * ${pow(j)}")
      .mkString(" +\n      ")
    s"""WITH base AS (
       |  SELECT doc_id, coalesce(text, '') AS t FROM documents
       |  UNION ALL
       |  SELECT doc_id + 300000 AS doc_id, 'xq7 ' || coalesce(text, '') AS t
       |  FROM documents),
       |cuts AS (
       |  SELECT doc_id, t, len(t) AS n,
       |    list_filter(range($w, len(t) + 1), p ->
       |      ((
       |      $terms) % $m) % $d = 0) AS cs
       |  FROM base),
       |bounds AS (
       |  SELECT doc_id, t, list_prepend(0, cs) AS lo, list_append(cs, n) AS hi
       |  FROM cuts),
       |segs AS (
       |  SELECT doc_id, t,
       |    unnest(list_transform(range(1, len(lo) + 1),
       |      i -> {'s': lo[i], 'e': hi[i]})) AS seg
       |  FROM bounds),
       |chunks AS (
       |  SELECT doc_id, md5(t[seg.s + 1 : seg.e]) AS h,
       |         CAST(seg.e - seg.s AS BIGINT) AS clen
       |  FROM segs WHERE seg.e > seg.s)
       |SELECT h,
       |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(COUNT(*) AS BIGINT) AS n_occ,
       |  CAST(MAX(clen) AS BIGINT) AS chunk_len
       |FROM chunks GROUP BY 1
       |HAVING COUNT(DISTINCT doc_id) >= 2
       |ORDER BY n_docs DESC, n_occ DESC, h
       |LIMIT 200""".stripMargin
  }

  /** DuckDB twin of [[graft.operators.JlProject.distortionPairs]]:
    * quantize with floor(x·1024), project with the same ±1 literal
    * matrix (unrolled signed sums), unrolled integer distance chains.
    */
  private def jlOracleSql(k: Int, dim: Int, seed: Long, nProbes: Int, nCorpus: Int): String = {
    val signs = graft.operators.JlProject.signMatrix(k, dim, seed)
    val projList = (0 until k).map { c =>
      "0" + (0 until dim).map(i =>
        s"${if (signs(c)(i) > 0) "+" else "-"}qv[${i + 1}]").mkString
    }.mkString(",\n      ")
    val origD2 = (1 to dim)
      .map(i => s"(a.qv[$i]-b.qv[$i])*(a.qv[$i]-b.qv[$i])").mkString(" + ")
    val projD2 = (1 to k)
      .map(i => s"(a.pv[$i]-b.pv[$i])*(a.pv[$i]-b.pv[$i])").mkString(" + ")
    s"""WITH q AS (
       |  SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |                   x -> CAST(floor(x * 1024) AS BIGINT)) AS qv
       |  FROM embeddings WHERE vec_id < $nCorpus),
       |p AS (
       |  SELECT vec_id, qv, [
       |      $projList] AS pv
       |  FROM q),
       |d AS (
       |  SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
       |    CAST($origD2 AS BIGINT) AS orig_d2,
       |    CAST($projD2 AS BIGINT) AS proj_d2
       |  FROM p a JOIN p b ON b.vec_id < $nProbes AND a.vec_id <> b.vec_id)
       |SELECT query_id, neighbor_id, orig_d2, proj_d2,
       |  (proj_d2 * 1000000) // ($k * orig_d2) AS ppm
       |FROM d WHERE orig_d2 > 0
       |ORDER BY query_id, neighbor_id""".stripMargin
  }
}
