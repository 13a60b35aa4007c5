package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{exprs, Md5Hash}
import graft.operators.{Bpe, ImportanceWeight, MixtureSample, PrefixSum, TemperatureSample, TextOps}

/** Training-mixture assembly operators, oracle-verified: per-source
  * count-targeted selection, greedy selection under a global token
  * budget, deterministic output sharding, and the exact-integer
  * embedding second-moment matrix. These are the steps between a
  * curated corpus and a training run — what a mixture spec ("30% web,
  * 30% code, 40% books, 1T tokens, 16-way sharded") compiles to.
  */
object TrainingMixQueries {

  private val toksSql =
    "list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'), t -> len(t) > 0)"

  private def md5_63(x: String): String =
    s"(('0x' || substr(md5($x), 1, 16))::UBIGINT & 9223372036854775807::UBIGINT)::BIGINT"

  /** Mixture spec for the documents fixture: head sources oversampled
    * 3× — exact target counts, not fractions.
    */
  private val mixBudgets: Map[String, Int] =
    (0 until 20).map(i => s"src$i" -> (if (i < 5) 15 else 5)).toMap

  /** DuckDB replay of [[Bpe.train]]: k unrolled merge rounds (the same
    * unrolled-iteration technique as the PQ/IVF training oracles) —
    * each round recounts adjacent pairs over the evolving double-space
    * encodings, picks the (count DESC, left ASC, right ASC) argmax,
    * and applies it with the identical boundary-anchored replace.
    */
  private def bpeMergesOracleSql(k: Int): String = {
    val head =
      s"""tk AS (SELECT unnest($toksSql) AS word FROM documents),
         |v0 AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS freq,
         |    ' ' || array_to_string(list_transform(range(1, len(word)+1), i -> word[i:i]), '  ') || ' ' AS enc
         |  FROM tk GROUP BY word)""".stripMargin
    val rounds = (0 until k).map { i =>
      val apply =
        if (i == k - 1) ""
        else
          s""",
             |v${i + 1} AS (
             |  SELECT v.word, v.freq,
             |    replace(v.enc, ' ' || m.left_sym || '  ' || m.right_sym || ' ',
             |            ' ' || m.left_sym || m.right_sym || ' ') AS enc
             |  FROM v$i v, m$i m)""".stripMargin
      s"""p$i AS (
         |  SELECT syms[j] AS left_sym, syms[j+1] AS right_sym, CAST(SUM(freq) AS BIGINT) AS pair_count
         |  FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS j
         |        FROM (SELECT freq, string_split(trim(enc), '  ') AS syms FROM v$i) t0) t1
         |  GROUP BY 1, 2),
         |m$i AS (SELECT CAST($i AS INT) AS step, left_sym, right_sym, pair_count
         |        FROM p$i ORDER BY pair_count DESC, left_sym, right_sym LIMIT 1)$apply""".stripMargin
    }
    val union = (0 until k).map(i => s"SELECT * FROM m$i").mkString(" UNION ALL ")
    s"WITH $head,\n${rounds.mkString(",\n")}\nSELECT * FROM ($union) ORDER BY step"
  }

  /** The first 8 merges [[Bpe.train]] learns on the documents fixture —
    * the "fixed codebook" twin of bpe_merges (same pattern as
    * ann_pq_fixed_topk vs ann_pq_topk): the serving-side segmentation
    * is exercised without replaying training in the oracle. Note step
    * 7 merges p+ar onto step 6's output — the list is genuinely
    * hierarchical.
    */
  private val fixedBpeMerges: Seq[(String, String)] = Seq(
    "e" -> "r", "o" -> "r", "i" -> "n", "o" -> "w",
    "s" -> "t", "l" -> "u", "a" -> "r", "p" -> "ar")

  val defs: Map[String, QueryDef] = Map(

    // ------------------------------------------------------------------
    // SFT chat-data preparation — the step between a raw dialog dump
    // and a fine-tuning run: group turns into conversations (4 turns
    // per conv, alternating user/assistant by synthetic role), render
    // each to the training template ('### Role:\n<msg>' blocks fenced
    // by blank lines), count tokens, and gate on structural
    // completeness (full 4-turn conv, every assistant turn nonempty —
    // the empty-response filter every SFT pipeline runs). Rendering
    // and token counts are map-side; the conv-grain agg is the only
    // shuffle; render_md5 pins the template byte-exactly (chr(10)
    // newlines on the DuckDB side — SQL literals don't interpret \n).
    "sft_chat_render" -> QueryDef(
      (s, dir) => {
        val turns = Tables.documents(s, dir)
          .select(
            expr("doc_id div 4").as("conv_id"),
            (col("doc_id") % 4).cast("int").as("turn_idx"),
            coalesce(col("text"), lit("")).as("msg"))
          .withColumn("role_disp",
            when(col("turn_idx") % 2 === 0, "User").otherwise("Assistant"))
          .withColumn("turn_text",
            concat(lit("### "), col("role_disp"), lit(":\n"), col("msg")))
          .withColumn("n_tok", TextOps.tokenCount(col("msg")))
        turns
          .groupBy(col("conv_id"))
          .agg(
            count(lit(1)).as("n_turns"),
            sum(col("n_tok").cast("long")).as("total_tokens"),
            sum(when(col("turn_idx") % 2 === 1 && col("n_tok") > 0, 1L)
              .otherwise(0L)).as("n_assistant_ok"),
            md5(array_join(
              transform(
                array_sort(collect_list(struct(col("turn_idx"), col("turn_text")))),
                x => x.getField("turn_text")),
              "\n\n")).as("render_md5"))
          .withColumn("keep",
            col("n_turns") === 4 && col("n_assistant_ok") === 2)
          .select(col("conv_id"), col("n_turns"), col("total_tokens"),
            col("n_assistant_ok"), col("keep"), col("render_md5"))
          .orderBy(col("conv_id"))
      },
      """WITH t AS (
        |  SELECT doc_id // 4 AS conv_id, CAST(doc_id % 4 AS INT) AS turn_idx,
        |         coalesce(text, '') AS msg
        |  FROM documents),
        |r AS (
        |  SELECT conv_id, turn_idx,
        |    '### ' || (CASE WHEN turn_idx % 2 = 0 THEN 'User' ELSE 'Assistant' END)
        |      || ':' || chr(10) || msg AS turn_text,
        |    len(list_filter(string_split_regex(lower(msg), '\s+'),
        |        x -> len(x) > 0)) AS n_tok
        |  FROM t)
        |SELECT CAST(conv_id AS BIGINT) AS conv_id,
        |  CAST(count(*) AS BIGINT) AS n_turns,
        |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |  CAST(count(*) FILTER (WHERE turn_idx % 2 = 1 AND n_tok > 0) AS BIGINT)
        |    AS n_assistant_ok,
        |  count(*) = 4
        |    AND count(*) FILTER (WHERE turn_idx % 2 = 1 AND n_tok > 0) = 2 AS keep,
        |  md5(string_agg(turn_text, chr(10) || chr(10) ORDER BY turn_idx)) AS render_md5
        |FROM r GROUP BY conv_id ORDER BY conv_id""".stripMargin),

    // ------------------------------------------------------------------
    // Preference-pair construction (DPO/RLHF data prep): 5 candidate
    // responses per prompt (doc_id div 5), scored by the quality
    // kernel; chosen = best (score desc, doc_id desc tiebreak),
    // rejected = worst (score asc, doc_id asc) via two row_number
    // windows over the prompt grain; margin = one fixed-order
    // subtraction, usable = margin > 0 (degenerate all-equal prompts
    // gate out). Scoring is map-side; the windows partition by prompt
    // (bounded candidate count), never globally.
    "preference_pairs" -> QueryDef(
      (s, dir) => {
        val scored = Tables.documents(s, dir)
          .select(
            col("doc_id"),
            expr("doc_id div 5").as("prompt_id"),
            TextOps.qualityScore(col("text")).as("q"))
        val wBest = Window.partitionBy(col("prompt_id"))
          .orderBy(col("q").desc, col("doc_id").desc)
        val wWorst = Window.partitionBy(col("prompt_id"))
          .orderBy(col("q").asc, col("doc_id").asc)
        val chosen = scored
          .withColumn("rn", row_number().over(wBest)).filter(col("rn") === 1)
          .select(col("prompt_id"), col("doc_id").as("chosen_id"),
            col("q").as("q_chosen"))
        val rejected = scored
          .withColumn("rn", row_number().over(wWorst)).filter(col("rn") === 1)
          .select(col("prompt_id"), col("doc_id").as("rejected_id"),
            col("q").as("q_rejected"))
        chosen.join(rejected, Seq("prompt_id"))
          .withColumn("margin", col("q_chosen") - col("q_rejected"))
          .withColumn("usable", col("margin") > 0.0)
          .select(col("prompt_id"), col("chosen_id"), col("rejected_id"),
            col("q_chosen"), col("q_rejected"), col("margin"), col("usable"))
          .orderBy(col("prompt_id"))
      }, {
        val sw = TextOps.englishStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
        s"""WITH t AS (
           |  SELECT doc_id, doc_id // 5 AS prompt_id,
           |    $toksSql AS toks,
           |    len(regexp_replace(coalesce(text, ''), '\\s+', '', 'g')) AS n_chars_nosp,
           |    coalesce(text, '') AS txt
           |  FROM documents),
           |m AS (
           |  SELECT doc_id, prompt_id,
           |    CASE WHEN len(toks) > 0
           |         THEN CAST(len(list_filter(toks, x -> list_contains($sw, x))) AS DOUBLE) / len(toks)
           |         ELSE 0.0 END AS swr,
           |    CASE WHEN len(toks) > 0
           |         THEN CAST(n_chars_nosp AS DOUBLE) / len(toks) ELSE 0.0 END AS mtl,
           |    CASE WHEN len(txt) > 0
           |         THEN CAST(len(regexp_extract_all(txt, '[^A-Za-z0-9\\s]')) AS DOUBLE) / len(txt)
           |         ELSE 0.0 END AS pr
           |  FROM t),
           |sc AS (
           |  SELECT doc_id, prompt_id,
           |    round(
           |      (CASE WHEN mtl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.4
           |      + least(swr * 4.0, 1.0) * 0.3
           |      + greatest(0.0, 1.0 - pr * 4.0) * 0.3, 6) AS q
           |  FROM m),
           |ch AS (
           |  SELECT prompt_id, doc_id AS chosen_id, q AS q_chosen FROM (
           |    SELECT prompt_id, doc_id, q,
           |      row_number() OVER (PARTITION BY prompt_id ORDER BY q DESC, doc_id DESC) AS rn
           |    FROM sc) x WHERE rn = 1),
           |rj AS (
           |  SELECT prompt_id, doc_id AS rejected_id, q AS q_rejected FROM (
           |    SELECT prompt_id, doc_id, q,
           |      row_number() OVER (PARTITION BY prompt_id ORDER BY q ASC, doc_id ASC) AS rn
           |    FROM sc) x WHERE rn = 1)
           |SELECT CAST(ch.prompt_id AS BIGINT) AS prompt_id, ch.chosen_id,
           |  rj.rejected_id, ch.q_chosen, rj.q_rejected,
           |  ch.q_chosen - rj.q_rejected AS margin,
           |  ch.q_chosen - rj.q_rejected > 0.0 AS usable
           |FROM ch JOIN rj USING (prompt_id)
           |ORDER BY prompt_id""".stripMargin
      }),

    // ------------------------------------------------------------------
    // SFT LOSS-MASK layout: train-on-assistant-only means the packed
    // token stream of each conversation needs (start, end) intervals
    // over the assistant turns — the mask every SFT trainer consumes.
    // Turn offsets are an exclusive prefix sum WITHIN the conversation
    // (conv-grain partitioned window — conversation length bounds the
    // partition, corpus size doesn't); spans serialize canonically as
    // 'start-end' joined in turn order. Exact integers end to end.
    "sft_loss_mask_offsets" -> QueryDef(
      (s, dir) => {
        val turns = Tables.documents(s, dir)
          .select(
            expr("doc_id div 4").as("conv_id"),
            (col("doc_id") % 4).cast("int").as("turn_idx"),
            TextOps.tokenCount(coalesce(col("text"), lit(""))).cast("long").as("n_tok"))
        val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
          .rowsBetween(Window.unboundedPreceding, -1)
        turns
          .withColumn("off", coalesce(sum(col("n_tok")).over(w), lit(0L)))
          .groupBy(col("conv_id"))
          .agg(
            sum(col("n_tok")).as("total_tokens"),
            sum(when(col("turn_idx") % 2 === 1, col("n_tok")).otherwise(0L))
              .as("n_mask_tokens"),
            array_join(
              transform(
                array_sort(collect_list(
                  when(col("turn_idx") % 2 === 1,
                    struct(col("turn_idx"),
                      concat(col("off").cast("string"), lit("-"),
                        (col("off") + col("n_tok")).cast("string")).as("span"))))),
                x => x.getField("span")),
              ",").as("mask_spans"))
          .orderBy(col("conv_id"))
      },
      """WITH t AS (
        |  SELECT doc_id // 4 AS conv_id, CAST(doc_id % 4 AS INT) AS turn_idx,
        |    CAST(len(list_filter(string_split_regex(lower(coalesce(text, '')), '\s+'),
        |        x -> len(x) > 0)) AS BIGINT) AS n_tok
        |  FROM documents),
        |o AS (
        |  SELECT conv_id, turn_idx, n_tok,
        |    CAST(coalesce(sum(n_tok) OVER (PARTITION BY conv_id ORDER BY turn_idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
        |  FROM t)
        |SELECT CAST(conv_id AS BIGINT) AS conv_id,
        |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |  CAST(sum(CASE WHEN turn_idx % 2 = 1 THEN n_tok ELSE 0 END) AS BIGINT)
        |    AS n_mask_tokens,
        |  coalesce(string_agg(off || '-' || (off + n_tok), ',' ORDER BY turn_idx)
        |    FILTER (WHERE turn_idx % 2 = 1), '') AS mask_spans
        |FROM o GROUP BY conv_id ORDER BY conv_id""".stripMargin),

    // ------------------------------------------------------------------
    // Count-targeted mixture selection: exactly 15 docs from each head
    // source, 5 from each tail source, picked as the budget-lowest
    // md5(doc_id) per source — deterministic, append-stable, and
    // executed by the bounded-heap TopKPerGroup (map-side partials,
    // never a per-group sort; see MixtureSample). The oracle restates
    // the rank with a window row_number.
    "mixture_sample_counts" -> QueryDef(
      (s, dir) =>
        MixtureSample.toCounts(
          Tables.documents(s, dir).select(col("doc_id"), col("source"), col("lang")),
          "doc_id", "source", mixBudgets)
          .orderBy(col("doc_id")),
      s"""SELECT doc_id, source, lang
         |FROM (${MixtureSample.selectedSql("documents", "doc_id", "source", mixBudgets)})
         |ORDER BY doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // Greedy selection under a global token budget: docs ranked by
    // descending distinct-token count (an integer quality proxy — no
    // float scores, so the order is engine-exact), taken until the
    // running token total reaches 20k. The cumulative sum is the
    // DISTRIBUTED exclusive prefix sum (PrefixSum — range-partition +
    // value-keyed per-partition offsets, no single-partition window),
    // same operator the sequence-packing layout rides.
    "corpus_token_budget" -> QueryDef(
      (s, dir) => {
        val scored = Tables.documents(s, dir)
          .select(
            col("doc_id"),
            TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
            exprs.tokenRepetition(coalesce(col("text"), lit("")))
              .getField("n_distinct").as("n_distinct"))
        PrefixSum.withExclusivePrefix(
          scored, Seq(-col("n_distinct"), col("doc_id")), "n_tokens", "cum_before")
          .filter(col("cum_before") < 20000)
          .select(col("doc_id"), col("n_tokens"), col("cum_before"))
          .orderBy(col("doc_id"))
      },
      s"""WITH tk AS (
         |  SELECT doc_id,
         |    CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |    CAST(len(list_distinct($toksSql)) AS BIGINT) AS n_distinct
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, n_tokens,
         |    SUM(n_tokens) OVER (ORDER BY -n_distinct, doc_id
         |                        ROWS UNBOUNDED PRECEDING) - n_tokens AS cum_before
         |  FROM tk)
         |SELECT doc_id, n_tokens, CAST(cum_before AS BIGINT) AS cum_before
         |FROM c WHERE cum_before < 20000
         |ORDER BY doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // Deterministic 16-way output sharding + manifest: shard =
    // md5-lower63(doc_id) mod 16 (the webdataset-style layout step),
    // manifest = per-shard doc/token/char totals and id range — what a
    // training loader needs to plan reads. One map-side-combining
    // groupBy over a map-only shard assignment; at 100 TB the manifest
    // is 16 rows regardless of corpus size.
    "shard_manifest" -> QueryDef(
      (s, dir) =>
        Tables.documents(s, dir)
          .select(
            (Md5Hash.lower63Col(col("doc_id").cast("string")) % 16).as("shard_id"),
            col("doc_id"),
            TextOps.tokenCount(col("text")).cast("long").as("n_toks"),
            col("n_chars").cast("long").as("n_chars"))
          .groupBy(col("shard_id"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_toks")).as("n_tokens"),
            sum(col("n_chars")).as("n_chars_total"),
            min(col("doc_id")).as("min_doc"),
            max(col("doc_id")).as("max_doc"))
          .orderBy(col("shard_id")),
      s"""SELECT (${md5_63("CAST(doc_id AS VARCHAR)")} % 16) AS shard_id,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(len($toksSql)) AS BIGINT) AS n_tokens,
         |  CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
         |  MIN(doc_id) AS min_doc,
         |  MAX(doc_id) AS max_doc
         |FROM documents
         |GROUP BY 1
         |ORDER BY shard_id""".stripMargin),

    // ------------------------------------------------------------------
    // Epoch-factor mixture — the data-recipe shape real pretraining
    // mixes use ("2.5 epochs of web, 0.5 of the tail"): every doc
    // repeats floor(factor) times, and the fractional epoch admits a
    // deterministic md5(doc:epoch) hash fraction — no RNG state, so
    // the recipe reproduces exactly on retrain and re-delivery. One
    // broadcast factors join + a bounded explode (≤ factor+1 rows per
    // doc); at 100 TB the blow-up is the OUTPUT, never an
    // intermediate.
    "corpus_epoch_mixture" -> QueryDef(
      (s, dir) => {
        val factors = (0 until 20).map(i =>
          (s"src$i", if (i < 5) 2 else 0, 500))
        val fdf = broadcast(
          s.createDataFrame(factors).toDF("source", "full_e", "frac_m"))
        Tables.documents(s, dir).select(col("doc_id"), col("source"))
          .join(fdf, Seq("source"))
          .select(
            col("doc_id"), col("source"),
            explode(sequence(lit(0), col("full_e"))).as("epoch_idx"),
            col("full_e"), col("frac_m"))
          .filter(
            col("epoch_idx") < col("full_e") ||
              (Md5Hash.lower63Col(concat(
                col("doc_id").cast("string"), lit(":"),
                col("epoch_idx").cast("string"))) % 1000) < col("frac_m"))
          .select(col("doc_id"), col("source"), col("epoch_idx").cast("int").as("epoch_idx"))
          .orderBy(col("doc_id"), col("epoch_idx"))
      },
      // NOTE: an unnest(range(0, f.full_e + 1)) correlated with the
      // joined factors table trips a DuckDB binder INTERNAL error —
      // the proven shape (negative_sampling) is a standalone range
      // table joined on epoch_idx <= full_e.
      s"""WITH f(source, full_e, frac_m) AS (VALUES
         |  ${(0 until 20).map(i =>
              s"('src$i', ${if (i < 5) 2 else 0}, 500)").mkString(",\n         |  ")}),
         |e AS (SELECT unnest(range(0, 3)) AS epoch_idx)
         |SELECT d.doc_id, d.source, CAST(e.epoch_idx AS INT) AS epoch_idx
         |FROM documents d
         |JOIN f USING (source)
         |JOIN e ON e.epoch_idx <= f.full_e
         |WHERE e.epoch_idx < f.full_e
         |   OR (${md5_63("d.doc_id || ':' || e.epoch_idx")} % 1000) < f.frac_m
         |ORDER BY d.doc_id, e.epoch_idx""".stripMargin),

    // ------------------------------------------------------------------
    // Sharded packing layout:
    // per-SHARD concat-and-chunk positions. Unlike the global cumsum
    // (sequence_packing, which needs the distributed PrefixSum), a
    // PARTITIONED cumsum is a plain window — every shard is its own
    // partition, parallelism = shard count, no single-task funnel —
    // so this deliberately uses the builtin window, not PrefixSum.
    "shard_packing_layout" -> QueryDef(
      (s, dir) => {
        val toks = Tables.documents(s, dir).select(
          (Md5Hash.lower63Col(col("doc_id").cast("string")) % 16).as("shard_id"),
          col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("shard_id")).orderBy(col("doc_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        toks
          .withColumn("start_tok", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
          .select(
            col("shard_id"), col("doc_id"), col("n_tokens"),
            expr("start_tok div 2048").as("seq_id"),
            (col("start_tok") % 2048).as("seq_offset"))
          .orderBy(col("shard_id"), col("doc_id"))
      },
      s"""WITH tk AS (
         |  SELECT (${md5_63("CAST(doc_id AS VARCHAR)")} % 16) AS shard_id,
         |    doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (
         |  SELECT shard_id, doc_id, n_tokens,
         |    CAST(COALESCE(SUM(n_tokens) OVER (
         |      PARTITION BY shard_id ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS start_tok
         |  FROM tk)
         |SELECT shard_id, doc_id, n_tokens,
         |  start_tok // 2048 AS seq_id, start_tok % 2048 AS seq_offset
         |FROM c
         |ORDER BY shard_id, doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // Deterministic importance-weighted sampling: accept a doc with
    // probability proportional to its (integer) quality weight, with
    // no RNG state — accept iff md5-lower63(id) mod 10000 < the doc's
    // scaled weight. Pure integer compare: reproducible across
    // engines, layouts, and reruns; map-only (the accept rides the
    // scan). The fixed 10000 denominator keeps the acceptance exact —
    // no float probability ever materializes.
    "weighted_sample_docs" -> QueryDef(
      (s, dir) => {
        val w = least(
          lit(10000L),
          exprs.tokenRepetition(coalesce(col("text"), lit("")))
            .getField("n_distinct").cast("long") * 40)
        Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), w.as("weight_scaled"),
            (Md5Hash.lower63Col(col("doc_id").cast("string")) % 10000).as("draw"))
          .filter(col("draw") < col("weight_scaled"))
          .select(col("doc_id"), col("source"), col("weight_scaled"))
          .orderBy(col("doc_id"))
      },
      s"""SELECT doc_id, source, weight_scaled
         |FROM (
         |  SELECT doc_id, source,
         |    least(10000, CAST(len(list_distinct($toksSql)) AS BIGINT) * 40)
         |      AS weight_scaled,
         |    (${md5_63("CAST(doc_id AS VARCHAR)")} % 10000) AS draw
         |  FROM documents)
         |WHERE draw < weight_scaled
         |ORDER BY doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // Deterministic global training order — the "shuffle the corpus"
    // step with no RNG: order = dense rank of md5(doc_id), assigned by
    // DenseId (range-partition + broadcast per-partition offsets —
    // never a global row_number window). Retraining on the same corpus
    // replays the identical order; appended docs interleave uniformly
    // without moving existing relative order (hash order is stable).
    "training_order_ids" -> QueryDef(
      (s, dir) =>
        graft.operators.DenseId.withDenseId(
          Tables.documents(s, dir).select(
            col("doc_id"), md5(col("doc_id").cast("string")).as("h")),
          Seq(col("h"), col("doc_id")), "order_idx")
          .select(col("doc_id"), col("order_idx"))
          .orderBy(col("doc_id")),
      """SELECT doc_id,
        |  row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
        |    AS order_idx
        |FROM documents
        |ORDER BY doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // Sequence-length tradeoff table: for each candidate training
    // sequence length, how many docs truncate (and how many tokens
    // truncation loses), how much padding one-doc-per-sequence wastes,
    // and how many sequences greedy concat-packing emits. Pure integer
    // arithmetic over one corpus scan + a 4-row explode — the table
    // that decides "train at 2048 or 4096" before any packing run.
    "packing_efficiency" -> QueryDef(
      (s, dir) => {
        val lens = array(lit(512), lit(1024), lit(2048), lit(4096))
        Tables.documents(s, dir)
          .select(TextOps.tokenCount(col("text")).cast("long").as("n_toks"))
          .select(col("n_toks"), explode(lens).as("seq_len"))
          .groupBy(col("seq_len"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_toks")).as("total_tokens"),
            sum(when(col("n_toks") > col("seq_len"), lit(1)).otherwise(lit(0)))
              .as("n_docs_truncated"),
            sum(greatest(col("n_toks") - col("seq_len"), lit(0L)))
              .as("tokens_lost_truncation"),
            sum(col("seq_len").cast("long") - least(col("n_toks"), col("seq_len")))
              .as("padding_one_doc_per_seq"))
          .withColumn("seqs_greedy_concat",
            expr("(total_tokens + seq_len - 1) div seq_len"))
          .orderBy(col("seq_len"))
      },
      s"""WITH tk AS (SELECT CAST(len($toksSql) AS BIGINT) AS n_toks FROM documents),
         |x AS (SELECT n_toks, unnest([512, 1024, 2048, 4096]) AS seq_len FROM tk)
         |SELECT seq_len,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
         |  CAST(SUM(CASE WHEN n_toks > seq_len THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_docs_truncated,
         |  CAST(SUM(greatest(n_toks - seq_len, 0)) AS BIGINT)
         |    AS tokens_lost_truncation,
         |  CAST(SUM(seq_len - least(n_toks, seq_len)) AS BIGINT)
         |    AS padding_one_doc_per_seq,
         |  CAST((CAST(SUM(n_toks) AS BIGINT) + seq_len - 1) // seq_len AS BIGINT)
         |    AS seqs_greedy_concat
         |FROM x
         |GROUP BY seq_len
         |ORDER BY seq_len""".stripMargin),

    // ------------------------------------------------------------------
    // Best-fit-decreasing vs first-fit packing comparison (the
    // standard bin-packing quality upgrade, Johnson 1973): docs pack
    // into 128-token sequences per md5 shard — FF in arrival order
    // (the naive streaming packer) vs BFD (sort decreasing, place
    // each doc in the fullest bin that fits). Both folds run as ONE
    // array-aggregate per shard over the identically-sorted item
    // list: the bin-state list threads through a left-to-right
    // lambda — integer-only, so DuckDB's list_reduce replays it
    // element-for-element (the neyman ordered-fold recipe with a
    // prepended empty-state sentinel). Packing is inherently
    // sequential WITHIN a sequence stream; the shard is the
    // parallelism unit (the shard_packing_layout lesson), and shard
    // count scales with the corpus, so per-shard fold state stays
    // bounded by shard sizing. Measured at sf0.01: FF 248 bins, BFD
    // 230, lower bound 219 — the delta is the eval's point.
    "packing_bfd_eval" -> QueryDef(
      (s, dir) => {
        def repl(pos: String, value: String): String =
          s"""concat(
             |  slice(acc, 1, cast($pos as int) - 1),
             |  array($value),
             |  slice(acc, cast($pos as int) + 1, size(acc) - cast($pos as int)))""".stripMargin
        val ffPos = "coalesce(array_position(transform(acc, r -> r >= x), true), 0L)"
        val ffFold =
          s"""size(aggregate(arrival, cast(array() as array<bigint>),
             |  (acc, x) -> if($ffPos = 0L,
             |    concat(acc, array(128L - x)),
             |    ${repl(ffPos, s"element_at(acc, cast($ffPos as int)) - x")})))""".stripMargin
        val bfdBest = "array_min(filter(acc, r -> r >= x))"
        val bfdPos = s"array_position(acc, $bfdBest)"
        val bfdFold =
          s"""size(aggregate(descending, cast(array() as array<bigint>),
             |  (acc, x) -> if(size(filter(acc, r -> r >= x)) = 0,
             |    concat(acc, array(128L - x)),
             |    ${repl(bfdPos, s"$bfdBest - x")})))""".stripMargin
        Tables.documents(s, dir)
          .select(
            col("doc_id"),
            (graft.functions.Md5Hash.lower63Col(col("doc_id").cast("string")) % 16)
              .as("shard"),
            least(TextOps.tokenCount(col("text")).cast("long"), lit(128L))
              .as("n_toks"))
          .groupBy(col("shard"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_toks")).as("total_tokens"),
            expr("transform(array_sort(collect_list(struct(doc_id, n_toks))), t -> t.n_toks)")
              .as("arrival"),
            expr("transform(array_sort(collect_list(struct(-n_toks AS neg, doc_id, n_toks))), t -> t.n_toks)")
              .as("descending"))
          .select(col("shard"), col("n_docs"), col("total_tokens"),
            expr(ffFold).as("bins_ff"),
            expr(bfdFold).as("bins_bfd"),
            expr("(total_tokens + 127L) div 128L").as("bins_lower_bound"))
          .withColumn("fill_ff",
            col("total_tokens").cast("double") /
              (col("bins_ff") * 128L).cast("double"))
          .withColumn("fill_bfd",
            col("total_tokens").cast("double") /
              (col("bins_bfd") * 128L).cast("double"))
          .withColumn("saved_bins", col("bins_ff") - col("bins_bfd"))
          .orderBy(col("shard"))
      }, {
        def repl(pos: String, value: String): String =
          s"""list_concat(acc[1 : $pos - 1],
             |  list_concat([$value], acc[$pos + 1 : ]))""".stripMargin
        val ffPos = "coalesce(list_position(list_transform(acc, r -> r >= it[1]), true), 0)"
        val bfdBest = "list_min(list_filter(acc, r -> r >= it[1]))"
        val bfdPos = s"list_position(acc, $bfdBest)"
        s"""WITH d AS (
           |  SELECT doc_id,
           |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 16))::UBIGINT & 9223372036854775807::UBIGINT AS BIGINT) % 16 AS shard,
           |    least(CAST(len($toksSql) AS BIGINT), 128) AS n_toks
           |  FROM documents),
           |g AS (
           |  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
           |    CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
           |    list(n_toks ORDER BY doc_id) AS arrival,
           |    list(n_toks ORDER BY n_toks DESC, doc_id) AS descending
           |  FROM d GROUP BY 1),
           |packed AS (
           |  SELECT shard, n_docs, total_tokens,
           |    CAST(len(list_reduce(
           |      list_prepend(CAST([] AS BIGINT[]), list_transform(arrival, x -> [x])),
           |      (acc, it) -> CASE WHEN $ffPos = 0
           |        THEN list_append(acc, 128 - it[1])
           |        ELSE ${repl(ffPos, s"acc[$ffPos] - it[1]")} END)) AS BIGINT) AS bins_ff,
           |    CAST(len(list_reduce(
           |      list_prepend(CAST([] AS BIGINT[]), list_transform(descending, x -> [x])),
           |      (acc, it) -> CASE WHEN len(list_filter(acc, r -> r >= it[1])) = 0
           |        THEN list_append(acc, 128 - it[1])
           |        ELSE ${repl(bfdPos, s"$bfdBest - it[1]")} END)) AS BIGINT) AS bins_bfd
           |  FROM g)
           |SELECT shard, n_docs, total_tokens, bins_ff, bins_bfd,
           |  CAST((total_tokens + 127) // 128 AS BIGINT) AS bins_lower_bound,
           |  CAST(total_tokens AS DOUBLE) / CAST(bins_ff * 128 AS DOUBLE) AS fill_ff,
           |  CAST(total_tokens AS DOUBLE) / CAST(bins_bfd * 128 AS DOUBLE) AS fill_bfd,
           |  CAST(bins_ff - bins_bfd AS BIGINT) AS saved_bins
           |FROM packed ORDER BY shard""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Corpus census CUBE over (lang, source): doc and token totals at
    // every aggregation level in one pass — the table a mixture spec
    // is written AGAINST (how many English tokens does src3 actually
    // have?). Spark's cube() compiles to one Expand + a single
    // map-side-combining agg; all measures integer, so every cell is
    // engine-exact.
    "corpus_census_cube" -> QueryDef(
      (s, dir) =>
        Tables.documents(s, dir)
          .select(
            col("lang"), col("source"),
            TextOps.tokenCount(col("text")).cast("long").as("n_toks"))
          .cube(col("lang"), col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
          .select(
            coalesce(col("lang"), lit("ALL")).as("lang"),
            coalesce(col("source"), lit("ALL")).as("source"),
            col("n_docs"), col("n_tokens"))
          .orderBy(col("lang"), col("source")),
      s"""SELECT COALESCE(lang, 'ALL') AS lang,
         |  COALESCE(source, 'ALL') AS source,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(len($toksSql)) AS BIGINT) AS n_tokens
         |FROM documents
         |GROUP BY CUBE (lang, source)
         |ORDER BY lang, source""".stripMargin),

    // ------------------------------------------------------------------
    // Exact-integer embedding second-moment matrix, top-20 off-diagonal
    // pairs by magnitude — the input to PCA whitening / decorrelation
    // diagnostics over an embedding corpus. Coordinates quantize to
    // floor(v·1024) and pair products sum as int64 inside ONE typed
    // Aggregator whose buffer is the flat upper triangle (2016 longs
    // for dim 64): map-side partials mean the shuffle carries one
    // buffer per task, never rows × dim² exploded pairs — and integer
    // sums make the matrix bit-identical across partitionings and
    // engines (the float-covariance pitfall). The oracle restates the
    // same integer arithmetic over unnested dimension pairs.
    "embedding_covariance_topk" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val covAgg = udaf(new graft.functions.CovarianceSketch(64))
        val flat = Tables.embeddings(s, dir)
          .agg(covAgg(col("embedding")).as("s"))
        val idx = (for { i <- 0 until 64; j <- (i + 1) until 64 } yield (i, j))
          .zipWithIndex.map { case ((i, j), k) => (k, i, j) }
          .toDF("pos", "i", "j")
        flat.select(posexplode(col("s")).as(Seq("pos", "s_ij")))
          .join(broadcast(idx), "pos")
          .select(col("i"), col("j"), col("s_ij"))
          .orderBy(abs(col("s_ij")).desc, col("i"), col("j"))
          .limit(20)
      },
      """WITH pairs AS (
        |  SELECT i.i AS i, j.j AS j,
        |    CAST(SUM(
        |      CAST(floor(CAST(embedding[i.i + 1] AS DOUBLE) * 1024) AS BIGINT) *
        |      CAST(floor(CAST(embedding[j.j + 1] AS DOUBLE) * 1024) AS BIGINT)) AS BIGINT) AS s_ij
        |  FROM embeddings,
        |    (SELECT unnest(range(0, 64)) AS i) i,
        |    (SELECT unnest(range(0, 64)) AS j) j
        |  WHERE i.i < j.j
        |  GROUP BY 1, 2)
        |SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j, s_ij
        |FROM pairs
        |ORDER BY abs(s_ij) DESC, i, j
        |LIMIT 20""".stripMargin),

    // ------------------------------------------------------------------
    // Distributed BPE merge induction (Bpe.train): 8 rounds of
    // corpus-wide adjacent-pair counting + argmax merge over the
    // word-frequency vocabulary. The corpus is scanned once; every
    // round is a skinny aggregation on the vocab frame. The oracle
    // replays all 8 rounds with unrolled CTEs — pair counts, the
    // deterministic tie-break, and the boundary-anchored greedy
    // replace are all restated exactly, so the merge table compares
    // bit-exactly (on this corpus step 7 already merges p+ar onto
    // step 6's output).
    "bpe_merges" -> QueryDef(
      (s, dir) =>
        Bpe.train(Tables.documents(s, dir), "text", numMerges = 8)
          .orderBy(col("step")),
      bpeMergesOracleSql(8)),

    // ------------------------------------------------------------------
    // BPE serving-side segmentation under the fixed learned merges
    // (the ann_pq_fixed pattern): map-only, fully codegen'd string
    // kernel — doc-level double-space encoding with | token fences,
    // one literal replace per merge. Output is the subword count plus
    // an md5 fingerprint of the full segmentation, so the compare is
    // byte-exact without shipping megabytes of segmented text.
    "bpe_segment_fixed" -> QueryDef(
      (s, dir) => {
        val enc = Bpe.segmentEncoding(col("text"), fixedBpeMerges)
        Tables.documents(s, dir)
          .select(
            col("doc_id"),
            enc.as("enc"),
            TextOps.tokenCount(col("text")).as("n_toks"))
          .select(
            col("doc_id"),
            Bpe.subwordCount(col("enc"), col("n_toks")).as("subword_count"),
            md5(col("enc")).as("seg_md5"))
          .orderBy(col("doc_id"))
      }, {
        val enc = fixedBpeMerges.foldLeft(
          """regexp_replace(regexp_replace(regexp_replace(lower(coalesce(text,'')), '[\t\n\f\r ]+', '|', 'g'), '^\|+|\|+$', '', 'g'), '(.)', ' \1 ', 'g')""") {
          case (acc, (l, r)) => s"replace($acc, ' $l  $r ', ' $l$r ')"
        }
        s"""WITH seg AS (SELECT doc_id, $enc AS enc FROM documents),
           |tc AS (SELECT doc_id, CAST(len($toksSql) AS INT) AS n_toks FROM documents)
           |SELECT s.doc_id,
           |  CASE WHEN len(trim(s.enc)) = 0 THEN CAST(0 AS BIGINT)
           |       ELSE CAST(len(string_split(trim(s.enc), '  ')) AS BIGINT)
           |            - CAST(CASE WHEN t.n_toks > 1 THEN t.n_toks - 1 ELSE 0 END AS BIGINT)
           |  END AS subword_count,
           |  md5(s.enc) AS seg_md5
           |FROM seg s JOIN tc t ON s.doc_id = t.doc_id
           |ORDER BY s.doc_id""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Temperature-scaled mixture resampling at α=0.5 (rate ∝
    // sqrt(group share) — the mBERT/XLM-R smoothing rule), grouped by
    // token-length band (non-uniform on this corpus: long 231 / mid
    // 116 / short 153 at sf0.001). The whole float chain is sqrt/×/÷/
    // floor on exact integers in identical textual order, so the
    // per-group md5 thresholds are bit-identical across engines; the
    // accept test is map-side (pure key function, append-stable).
    "mixture_temperature_sample" -> QueryDef(
      (s, dir) => {
        val n = TextOps.tokenCount(col("text"))
        val band = when(n >= 60, "long").when(n >= 40, "mid").otherwise("short")
        TemperatureSample.select(
          Tables.documents(s, dir).select(col("doc_id"), col("source"), col("text")),
          "doc_id", band, budget = 120.0)
          .select(col("doc_id"), col("source"))
          .orderBy(col("doc_id"))
      },
      s"""WITH b AS (SELECT doc_id, source,
         |  CASE WHEN len($toksSql) >= 60 THEN 'long'
         |       WHEN len($toksSql) >= 40 THEN 'mid' ELSE 'short' END AS grp
         |  FROM documents),
         |${TemperatureSample.thresholdsSql("b", "grp", 120.0)}
         |SELECT b.doc_id, b.source FROM b JOIN tst ON b.grp = tst.grp
         |WHERE (${md5_63("CAST(b.doc_id AS VARCHAR)")} >> 10) < tst.thr
         |ORDER BY b.doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // DSIR-shaped importance selection: rank background docs by
    // target-likeness (target = src0, the same benchmark slice the
    // contamination query uses) under the integer-scaled smoothed
    // unigram ratio — no floats, no logs, so the exact sum is
    // order-independent and the oracle restates it directly. One
    // token-stream pass builds both unigram tables; the ratio table
    // broadcasts back onto the checkpointed stream.
    "dsir_importance_select" -> QueryDef(
      (s, dir) =>
        ImportanceWeight.selectTopK(
          Tables.documents(s, dir), "doc_id", "text",
          isTarget = col("source") === "src0", k = 50),
      s"""WITH tk AS (SELECT doc_id, source = 'src0' AS is_target, unnest($toksSql) AS tok FROM documents),
         |v AS (SELECT tok,
         |        CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS tc,
         |        CAST(SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS BIGINT) AS bc
         |      FROM tk GROUP BY tok),
         |r AS (SELECT tok,
         |        CASE WHEN tc > 0 THEN ((tc + 1) * 1000000) // (bc + 1) ELSE 0 END AS ratio
         |      FROM v),
         |s AS (SELECT t.doc_id, CAST(SUM(r.ratio) AS BIGINT) AS importance, CAST(count(*) AS BIGINT) AS n_tokens
         |      FROM tk t JOIN r ON r.tok = t.tok WHERE NOT t.is_target GROUP BY 1)
         |SELECT doc_id, importance, n_tokens FROM s
         |ORDER BY importance DESC, doc_id LIMIT 50""".stripMargin),

    // ------------------------------------------------------------------
    // Tokenizer fertility by detected language — the subwords-per-word
    // ratio a tokenizer team watches per language (high fertility =
    // the vocab under-serves that language). Composes langId + the
    // fixed-merge BPE segmentation; all sums are exact integers, the
    // single double division happens once per group in identical
    // textual order, so the ratio is bit-exact.
    "bpe_fertility_by_lang" -> QueryDef(
      (s, dir) => {
        val enc = Bpe.segmentEncoding(col("text"), fixedBpeMerges)
        Tables.documents(s, dir)
          .select(
            TextOps.langId(col("text")).as("lang_pred"),
            Bpe.subwordCount(enc, TextOps.tokenCount(col("text"))).as("n_sub"),
            TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
          .groupBy(col("lang_pred"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_sub")).as("total_subwords"),
            sum(col("n_tok")).as("total_tokens"))
          .withColumn(
            "fertility",
            when(col("total_tokens") > 0,
              col("total_subwords").cast("double") / col("total_tokens").cast("double"))
              .otherwise(lit(0.0)))
          .orderBy(col("lang_pred"))
      }, {
        val enc = fixedBpeMerges.foldLeft(
          """regexp_replace(regexp_replace(regexp_replace(lower(coalesce(text,'')), '[\t\n\f\r ]+', '|', 'g'), '^\|+|\|+$', '', 'g'), '(.)', ' \1 ', 'g')""") {
          case (acc, (l, r)) => s"replace($acc, ' $l  $r ', ' $l$r ')"
        }
        val hits = TextOps.langProfiles.map { case (lang, sws) =>
          val arr = sws.map(w => s"'$w'").mkString("[", ", ", "]")
          s"len(list_filter($toksSql, t -> list_contains($arr, t))) AS ${lang}_hits"
        }.mkString(",\n    ")
        val langs = TextOps.langProfiles.map(_._1)
        val g = langs.map(l => s"${l}_hits").mkString("greatest(", ", ", ")")
        val cases = langs.map(l => s"WHEN ${l}_hits = g THEN '$l'").mkString("\n    ")
        s"""WITH t AS (
           |  SELECT doc_id, $hits,
           |    CAST(len($toksSql) AS INT) AS n_toks,
           |    $enc AS enc
           |  FROM documents),
           |lg AS (
           |  SELECT doc_id, n_toks, enc, $g AS g,
           |    CASE WHEN $g = 0 THEN 'und'
           |      $cases
           |    END AS lang_pred
           |  FROM t),
           |per AS (
           |  SELECT lang_pred,
           |    CASE WHEN len(trim(enc)) = 0 THEN CAST(0 AS BIGINT)
           |         ELSE CAST(len(string_split(trim(enc), '  ')) AS BIGINT)
           |              - CAST(CASE WHEN n_toks > 1 THEN n_toks - 1 ELSE 0 END AS BIGINT)
           |    END AS n_sub,
           |    CAST(n_toks AS BIGINT) AS n_tok
           |  FROM lg)
           |SELECT lang_pred,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(n_sub) AS BIGINT) AS total_subwords,
           |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           |  CASE WHEN SUM(n_tok) > 0
           |       THEN CAST(CAST(SUM(n_sub) AS BIGINT) AS DOUBLE) / CAST(CAST(SUM(n_tok) AS BIGINT) AS DOUBLE)
           |       ELSE 0.0 END AS fertility
           |FROM per GROUP BY lang_pred
           |ORDER BY lang_pred""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Count-Min sketch (Cormode & Muthukrishnan 2005): ONE typed
    // Aggregator builds the 4×1024 counter array over the token stream
    // (map-side partials collapse each task to one buffer; merge is
    // elementwise addition, so the sketch is layout-independent and
    // per-shard sketches merge exactly — the mergeable-summary shape a
    // 100 TB heavy-hitter pass needs). Point estimates for 10 probe
    // tokens = MIN over the 4 rows, always ≥ the true count; the
    // oracle recomputes every probed cell as an md5-bucket collision
    // sum, so sketch construction, hashing, and the min all compare
    // bit-exactly.
    "count_min_tokens" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val depth = 4
        val width = 1024
        val probeTokens = Seq(
          "the", "data", "spark", "merge", "window",
          "join", "fast", "slow", "key", "value")
        val toks = Tables.documents(s, dir)
          .select(explode(TextOps.tokens(col("text"))).as("t"))
        val cmAgg = udaf(new graft.functions.CountMinSketch(depth, width))
        val sketch = toks.agg(cmAgg(col("t")).as("sk"))
        val truth = toks.groupBy(col("t")).agg(count(lit(1)).as("true_count"))
        val est = probeTokens.toDF("token")
          .crossJoin(broadcast(sketch))
          .withColumn(
            "cms_estimate",
            (0 until depth).map { j =>
              element_at(
                col("sk"),
                (lit(j * width) +
                  (Md5Hash.lower63Col(concat(lit(s"$j:"), col("token"))) % width) +
                  1).cast("int"))
            }.reduce(least(_, _)))
        est.join(truth, est("token") === truth("t"), "left")
          .select(
            col("token"),
            coalesce(col("true_count"), lit(0L)).as("true_count"),
            col("cms_estimate"))
          .orderBy(col("token"))
      },
      s"""WITH tok AS (SELECT unnest($toksSql) AS t FROM documents),
         |cnt AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY t),
         |probes(token) AS (VALUES ('the'),('data'),('spark'),('merge'),('window'),
         |                         ('join'),('fast'),('slow'),('key'),('value')),
         |rj AS (SELECT unnest(range(0, 4)) AS j),
         |bk AS (SELECT rj.j, cnt.t, cnt.c,
         |         ${md5_63("CAST(rj.j AS VARCHAR) || ':' || cnt.t")} % 1024 AS b
         |       FROM cnt CROSS JOIN rj),
         |pb AS (SELECT rj.j, p.token,
         |         ${md5_63("CAST(rj.j AS VARCHAR) || ':' || p.token")} % 1024 AS b
         |       FROM probes p CROSS JOIN rj),
         |est AS (SELECT pb.token, pb.j, CAST(SUM(bk.c) AS BIGINT) AS e
         |        FROM pb JOIN bk ON bk.j = pb.j AND bk.b = pb.b
         |        GROUP BY 1, 2)
         |SELECT p.token,
         |  CAST(coalesce(tc.c, 0) AS BIGINT) AS true_count,
         |  CAST(coalesce(MIN(est.e), 0) AS BIGINT) AS cms_estimate
         |FROM probes p
         |LEFT JOIN cnt tc ON tc.t = p.token
         |LEFT JOIN est ON est.token = p.token
         |GROUP BY 1, 2
         |ORDER BY p.token""".stripMargin),

    // ------------------------------------------------------------------
    // T5/UL2-style span-corruption offsets (Raffel et al., JMLR 2020):
    // the denoising objective needs, per document, a deterministic set
    // of NON-OVERLAPPING mask spans. Strided draw guarantees
    // disjointness by construction: slot i owns tokens
    // [i·20, (i+1)·20) and places its 3-token span at
    // i·20 + md5(doc,i) mod 17 — no rejection loop, no sequential
    // scan, replayable by any engine. Map-only over the corpus scan;
    // the explode is bounded by n_tokens/20 per doc.
    "span_corruption_offsets" -> QueryDef(
      (s, dir) => {
        val docs = Tables.documents(s, dir).select(
          col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
          .filter(col("n_tokens") >= 20)
        docs
          .select(col("doc_id"),
            explode(sequence(lit(0L), expr("n_tokens div 20") - 1)).as("span_idx"))
          .withColumn("span_start",
            col("span_idx") * 20 +
              Md5Hash.lower63Col(concat(
                col("doc_id").cast("string"), lit(":"),
                col("span_idx").cast("string"))) % 17)
          .withColumn("span_len", lit(3L))
          .orderBy(col("doc_id"), col("span_idx"))
      },
      s"""WITH t AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |           FROM documents),
         |d AS (SELECT doc_id, n_tokens FROM t WHERE n_tokens >= 20),
         |sp AS (SELECT doc_id, unnest(range(0, n_tokens // 20)) AS span_idx FROM d)
         |SELECT doc_id, CAST(span_idx AS BIGINT) AS span_idx,
         |  CAST(span_idx * 20 +
         |       ${md5_63("CAST(doc_id AS VARCHAR) || ':' || CAST(span_idx AS VARCHAR)")} % 17
         |       AS BIGINT) AS span_start,
         |  CAST(3 AS BIGINT) AS span_len
         |FROM sp ORDER BY doc_id, span_idx""".stripMargin),

    // ------------------------------------------------------------------
    // Length-bucketed dynamic batching: group docs into 64-token
    // length buckets, fill batches of 16 in deterministic id order,
    // and report each batch's padding waste (n·max − Σ) — the batching
    // strategy that replaces "pad everything to the global max". One
    // window PER BUCKET (parallel across buckets, never a global
    // sort), and the per-batch aggregates are mergeable counts. The
    // waste column is the online monitoring signal that says when the
    // bucket width is wrong.
    "length_bucketed_batches" -> QueryDef(
      (s, dir) => {
        val docs = Tables.documents(s, dir).select(
          col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        docs
          .withColumn("bucket", expr("n_tokens div 64"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("bucket")).orderBy(col("doc_id"))))
          .withColumn("batch_id", expr("(rn - 1) div 16"))
          .groupBy(col("bucket"), col("batch_id"))
          .agg(
            count(lit(1)).as("n_docs"),
            max(col("n_tokens")).as("max_len"),
            sum(col("n_tokens")).as("sum_len"))
          .withColumn("padding_waste",
            col("n_docs") * col("max_len") - col("sum_len"))
          .orderBy(col("bucket"), col("batch_id"))
      },
      s"""WITH t AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |           FROM documents),
         |b AS (SELECT doc_id, n_tokens, n_tokens // 64 AS bucket FROM t),
         |r AS (SELECT doc_id, n_tokens, bucket,
         |        row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
         |      FROM b),
         |g AS (SELECT bucket, (rn - 1) // 16 AS batch_id, n_tokens FROM r)
         |SELECT CAST(bucket AS BIGINT) AS bucket,
         |  CAST(batch_id AS BIGINT) AS batch_id,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(max(n_tokens) AS BIGINT) AS max_len,
         |  CAST(SUM(n_tokens) AS BIGINT) AS sum_len,
         |  CAST(count(*) * max(n_tokens) - SUM(n_tokens) AS BIGINT) AS padding_waste
         |FROM g GROUP BY 1, 2 ORDER BY bucket, batch_id""".stripMargin),

    // ------------------------------------------------------------------
    // word2vec NEGATIVE-SAMPLING table (Mikolov et al. 2013): the
    // unigram^(3/4) distribution built WITHOUT pow — c^0.75 =
    // sqrt(c·sqrt(c)), nested correctly-rounded sqrts — quantized to
    // an integer grid (floor×1000) so the cumulative table is an
    // EXACT integer prefix sum (running sums over doubles are banned:
    // DuckDB's segment-tree window would order the additions
    // differently). 20 deterministic md5 draws land in [hi−wq, hi)
    // ranges; output is the full table with per-term draw counts, so
    // the hash pins both the table and the sampler. At vocab scale
    // the draw→range lookup is SearchSortedCount against broadcast
    // pivots (the abc_classification lesson); the range join here is
    // draws×vocab, both bounded.
    "word2vec_neg_table" -> QueryDef(
      (s, dir) => {
        val c = Tables.documents(s, dir)
          .select(explode(TextOps.tokens(col("text"))).as("term"))
          .groupBy(col("term")).agg(count(lit(1)).as("c"))
        val cum = c
          .withColumn("wq",
            floor(sqrt(col("c").cast("double") * sqrt(col("c").cast("double")))
              * 1000).cast("long"))
          .withColumn("hi",
            sum(col("wq")).over(org.apache.spark.sql.expressions.Window
              .orderBy(col("term"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .localCheckpoint()
        val tot = cum.agg(max(col("hi")).as("t"))
        import s.implicits._
        val draws = (0 until 20).toDF("draw_idx")
          .crossJoin(broadcast(tot))
          .select(col("draw_idx"),
            (Md5Hash.lower63Col(
              concat(lit("neg:"), col("draw_idx").cast("string"))) % col("t"))
              .as("h"))
        val nd = broadcast(draws).as("d")
          .join(cum.as("c"),
            col("d.h") >= col("c.hi") - col("c.wq") && col("d.h") < col("c.hi"))
          .groupBy(col("c.term").as("dterm"))
          .agg(count(lit(1)).as("n_draws"))
        cum.join(nd, col("term") === col("dterm"), "left")
          .select(col("term"), col("c"), col("wq"), col("hi"),
            coalesce(col("n_draws"), lit(0L)).as("n_draws"))
          .orderBy(col("term"))
      },
      s"""WITH tk AS (SELECT unnest($toksSql) AS term FROM documents),
         |c AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY 1),
         |cum AS (SELECT term, c,
         |  CAST(floor(sqrt(CAST(c AS DOUBLE) * sqrt(CAST(c AS DOUBLE))) * 1000) AS BIGINT) AS wq,
         |  CAST(SUM(CAST(floor(sqrt(CAST(c AS DOUBLE) * sqrt(CAST(c AS DOUBLE))) * 1000) AS BIGINT))
         |    OVER (ORDER BY term ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS hi
         |  FROM c),
         |tot AS (SELECT max(hi) AS t FROM cum),
         |draws AS (SELECT i AS draw_idx, ${md5_63("'neg:' || CAST(i AS VARCHAR)")} % tot.t AS h
         |          FROM unnest(range(0, 20)) r(i) CROSS JOIN tot),
         |nd AS (SELECT c.term, CAST(count(*) AS BIGINT) AS n_draws
         |       FROM draws d JOIN cum c ON d.h >= c.hi - c.wq AND d.h < c.hi
         |       GROUP BY 1)
         |SELECT cum.term, cum.c, cum.wq, cum.hi,
         |  CAST(coalesce(nd.n_draws, 0) AS BIGINT) AS n_draws
         |FROM cum LEFT JOIN nd ON cum.term = nd.term
         |ORDER BY cum.term""".stripMargin),

    // ------------------------------------------------------------------
    // GREEDY MAX-COVERAGE data selection (the submodular
    // facility-location shape of Nagalapatti et al. / coreset
    // selection): 5 rounds, each picking the source whose documents
    // cover the most still-uncovered bigrams (tie-break source ASC) —
    // the 1−1/e-approximate answer to "which corpora buy the most
    // vocabulary diversity?". The bigram universe per source is one
    // distinct agg; each round is ONE anti-join + agg with a 1-row
    // argmax collected to the driver (the BPE round recipe — bounded
    // driver participation), and the covered set is localCheckpoint'd
    // per round (the deep-lineage rule: round r+1 must not re-derive
    // rounds 1..r).

    // ------------------------------------------------------------------
    // EPOCH-DETERMINISTIC training order: each epoch's global document
    // permutation is the md5('ep<k>:' || doc_id) sort — reproducible
    // across reruns/engines, uncorrelated between epochs — striped
    // round-robin onto 8 shards. DenseId ranks the permutation (range
    // shuffle + per-partition offsets — never a global window); the
    // per-(epoch, shard) digest folds doc ids in rank order, so ANY
    // ordering deviation (a nondeterministic shuffle, a changed hash)
    // hash-mismatches. The reproducible-data-order primitive training
    // jobs need for exact restart/ablation comparisons.
    "epoch_shuffle_order" -> QueryDef(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"),
            TextOps.tokenCount(col("text")).cast("long").as("n_toks"))
        val epochs = (0 to 1).map { ep =>
          graft.operators.DenseId.withDenseId(
            docs.withColumn("k",
              md5(concat(lit(s"ep$ep:"), col("doc_id").cast("string")))),
            Seq(col("k"), col("doc_id")), "rank")
            .select(lit(ep).as("epoch"), ((col("rank") - 1) % 8).as("shard"),
              col("doc_id"), col("n_toks"), col("rank"))
        }.reduce(_ unionByName _)
        epochs.groupBy(col("epoch"), col("shard"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"),
            md5(concat_ws(",",
              transform(
                array_sort(collect_list(struct(col("rank"), col("doc_id")))),
                x => x.getField("doc_id").cast("string")))).as("order_md5"))
          .orderBy(col("epoch"), col("shard"))
      },
      s"""WITH d AS (
         |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_toks
         |  FROM documents),
         |r AS (
         |  SELECT 0 AS epoch, doc_id, n_toks,
         |    row_number() OVER (
         |      ORDER BY md5('ep0:' || CAST(doc_id AS VARCHAR)), doc_id) AS rank
         |  FROM d
         |  UNION ALL
         |  SELECT 1, doc_id, n_toks,
         |    row_number() OVER (
         |      ORDER BY md5('ep1:' || CAST(doc_id AS VARCHAR)), doc_id)
         |  FROM d)
         |SELECT CAST(epoch AS INT) AS epoch,
         |  CAST((rank - 1) % 8 AS BIGINT) AS shard,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
         |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY rank)) AS order_md5
         |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "submodular_source_select" -> submodularDef)

  /** Distinct (source, bigram) universe of the submodular selection,
    * checkpointed. sequence(0, -2) would step BACKWARDS in Spark, so
    * docs with < 2 tokens are filtered (they contribute no bigrams on
    * either engine — oracle-neutral).
    */
  private def submodularBigrams(
      s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.documents(s, dir)
      .select(col("source"), TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("source"), explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i + 1]))"))
        .as("term"))
      .distinct()
      .localCheckpoint()

  private def submodularDef: QueryDef = QueryDef(
      (s, dir) => {
        import s.implicits._
        val bg = submodularBigrams(s, dir)
        var covered = s.emptyDataset[String].toDF("term")
        val picks = scala.collection.mutable.ArrayBuffer[(Int, String, Long, Long)]()
        var r = 1
        var exhausted = false
        // stops early once every bigram is covered — the oracle's
        // p{r} CTE is likewise empty past that round (seen at sf0.1:
        // 20 sources cover the universe in 4 picks)
        while (r <= 5 && !exhausted) {
          val gains = bg.join(covered, Seq("term"), "left_anti")
            .groupBy(col("source")).agg(count(lit(1)).as("gain"))
          val top = gains.orderBy(col("gain").desc, col("source")).limit(1)
            .collect()
          if (top.isEmpty) exhausted = true
          else {
            val (src, gain) = (top(0).getString(0), top(0).getLong(1))
            covered = covered
              .unionByName(bg.filter(col("source") === src).select(col("term")))
              .distinct()
              .localCheckpoint()
            picks += ((r, src, gain, covered.count()))
            r += 1
          }
        }
        picks.toSeq.toDF("round", "source", "gain", "covered")
          .orderBy(col("round"))
      }, {
        val rounds = (1 to 5).map { r =>
          s""",
             |g$r AS (SELECT b.source, CAST(count(*) AS BIGINT) AS gain
             |  FROM bg b LEFT JOIN cov${r - 1} c ON b.term = c.term
             |  WHERE c.term IS NULL GROUP BY 1),
             |p$r AS (SELECT source, gain FROM g$r ORDER BY gain DESC, source LIMIT 1),
             |cov$r AS (SELECT term FROM cov${r - 1} UNION
             |  SELECT b.term FROM bg b JOIN p$r p ON b.source = p.source)""".stripMargin
        }.mkString
        val out = (1 to 5).map { r =>
          s"SELECT $r AS round, source, gain, (SELECT CAST(count(*) AS BIGINT) FROM cov$r) AS covered FROM p$r"
        }.mkString(" UNION ALL ")
        s"""WITH d AS (SELECT source, $toksSql AS toks FROM documents),
           |bg AS MATERIALIZED (SELECT DISTINCT source, toks[i] || ' ' || toks[i + 1] AS term
           |      FROM d, unnest(range(1, len(toks))) r(i)),
           |cov0(term) AS (SELECT NULL WHERE FALSE)$rounds
           |SELECT CAST(round AS INT) AS round, source, gain, covered
           |FROM ($out) ORDER BY round""".stripMargin
      })
}
