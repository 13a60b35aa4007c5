package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.md5exprs

/** Substring-REMOVAL dedup (Lee et al. 2022, "Deduplicating Training
  * Data Makes Language Models Better" — the ExactSubstr pipeline):
  * where document-grain dedup drops whole near-duplicate documents and
  * line-grain dedup ([[LineDedup]]) drops boilerplate LINES, this
  * operator EXCISES duplicated token spans from the MIDDLE of
  * otherwise-unique documents — the quoted paragraph, the syndicated
  * press-release body, the license header — and reassembles the
  * retained tokens in original order.
  *
  * Mechanics: every n-token span is hashed positionally
  * ([[graft.functions.Md5NgramHashesPos]] — element k covers tokens
  * k..k+n−1); a span is "duplicated" when its hash occurs in more than
  * `maxDocs` distinct documents; every token covered by at least one
  * duplicated span is dropped (the drop-all-copies policy — simplest
  * deterministic variant; Lee et al. §4.1 discuss keep-one vs drop-all
  * and find downstream loss differences negligible). Overlapping hits
  * merge naturally: coverage is the UNION of hit intervals, exactly an
  * interval-merge without materializing intervals.
  *
  * 100 TB shape: the span census and the probe are ONE keyed shuffle
  * each on the 63-bit span hash (the blacklist is corpus-proportional
  * on a duplicate-heavy crawl, so it is an equi-join, NOT a broadcast
  * — unlike LineDedup's tiny boilerplate blacklist); hits carry
  * (doc_id, start) ids only; coverage expansion is a bounded ×n
  * explode of hits; reassembly is the single doc_id-grain shuffle of
  * the token stream (LineDedup's ordered-reassembly pattern at token
  * grain). The skinny span frame feeds both the blacklist aggregate
  * and the probe, both keyed on span_hash, so it is localCheckpoint'ed
  * once (the measured broadcast-blacklist rule, CLAUDE.md).
  */
object SpanDedup {

  /** Returns one row per input document: `idCol`, `n_tokens`,
    * `n_dropped`, `clean_text` (surviving tokens in original order,
    * single-space joined, lowercase token-canonical — the same token
    * domain the span hashes are computed over; empty string when
    * nothing survives or the document had no tokens).
    *
    * `keepFirst = false` is the drop-all-copies policy; `true` is the
    * keep-one policy (Lee et al. §4.1 discuss both): per duplicated
    * span, the occurrence with the minimum (doc, start) is the KEEPER
    * and stays — a min-struct aggregate per span_hash (the J3
    * attribute-recovery shape) plus an anti-join, both still keyed on
    * span_hash, so the scale shape is unchanged. A keeper's tokens can
    * still drop if another span's non-keeper occurrence covers them.
    */
  def exciseCommonSpans(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, maxDocs: Long, keepFirst: Boolean = false): DataFrame =
    reassemble(docs, idCol, textCol,
      coveredPositions(docs, idCol, textCol, n, maxDocs, keepFirst))

  /** [[exciseCommonSpans]] over a PRECOMPUTED coverage frame (one row
    * per (idCol, pos0) to drop) — the load-once/query-many face: the
    * four span-family queries share one census+coverage computation
    * (r14), so a policy/diagnostic pays only its own reassembly.
    */
  def exciseFromCovered(
      docs: DataFrame, idCol: String, textCol: String,
      covered: DataFrame): DataFrame =
    reassemble(docs, idCol, textCol, covered)

  /** INTRA-document span de-looping — the cleanup generated/synthetic
    * text needs (decoder loops repeat the same run over and over
    * inside ONE document; `text_repetition` only profiles it, this
    * removes it): within each document, every occurrence of an
    * n-token span AFTER its first drops, and survivors reassemble in
    * order. No cross-doc state at all: one (doc, span_hash)-keyed
    * aggregation finds each span's first occurrence, the same-keyed
    * join marks later ones — both partition by document, so the
    * operator scales with the doc stream like a map-side pass.
    */
  def exciseIntraDocRepeats(
      docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n > 0, "span length must be positive")
    val text = coalesce(col(textCol), lit(""))
    val spans = docs
      .select(
        col(idCol),
        posexplode(md5exprs.md5NgramHashesPos(text, n))
          .as(Seq("start0", "span_hash")))
      .localCheckpoint() // feeds the min agg AND the probe join
    val firsts = spans
      .groupBy(col(idCol), col("span_hash"))
      .agg(min(col("start0")).as("min0"), count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
      .select(col(idCol), col("span_hash"), col("min0"))
    val covered = spans
      .join(firsts, Seq(idCol, "span_hash"))
      .filter(col("start0") > col("min0"))
      .select(
        col(idCol),
        explode(sequence(col("start0"), col("start0") + lit(n - 1))).as("pos0"))
      .distinct()
    reassemble(docs, idCol, textCol, covered)
  }

  /** Ordered byte-exact reassembly of the tokens NOT in `covered`
    * (one row per (idCol, pos0) to drop) — the LineDedup pattern at
    * token grain, shared by every excision policy.
    */
  private def reassemble(
      docs: DataFrame, idCol: String, textCol: String,
      covered0: DataFrame): DataFrame = {
    val covered = covered0.withColumn("covered", lit(true))
    // token stream at (doc, pos) grain; posexplode_outer keeps
    // zero-token documents (null token → counts 0, clean_text '')
    val tokens = docs
      .select(
        col(idCol),
        posexplode_outer(TextOps.tokens(col(textCol))).as(Seq("pos0", "token")))
    tokens
      .join(covered, Seq(idCol, "pos0"), "left")
      .groupBy(col(idCol))
      .agg(
        count(col("token")).as("n_tokens"),
        sum(when(col("covered"), 1L).otherwise(0L)).as("n_dropped"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("covered").isNull && col("token").isNotNull,
                struct(col("pos0"), col("token"))))),
            kept => kept.getField("token")),
          " ").as("clean_text"))
  }

  /** MAXIMAL duplicated spans per document (the anchor-extension step
    * of real ExactSubstr pipelines: Lee et al. seed on fixed k-gram
    * matches, then extend to the longest duplicated run): adjacent and
    * overlapping duplicated n-gram hits merge into maximal coverage
    * runs — gaps-and-islands (pos0 − row_number per doc) over the same
    * [[coveredPositions]] frame the excision policies read — and each
    * run is emitted WITH its byte-exact text (the material an excision
    * would cut, at its maximal extent). The islands window partitions
    * BY DOCUMENT (bounded by doc length); token text re-attaches by
    * (doc, pos) equi-join; one (doc, run)-grain agg reassembles each
    * span in order. Output: (idCol, start0, span_len, span_text).
    */
  def maximalSpans(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, maxDocs: Long): DataFrame =
    maximalSpansFromCovered(docs, idCol, textCol,
      coveredPositions(docs, idCol, textCol, n, maxDocs))

  /** [[maximalSpans]] over a precomputed coverage frame (r14 — see
    * [[exciseFromCovered]]).
    */
  def maximalSpansFromCovered(
      docs: DataFrame, idCol: String, textCol: String,
      cov: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos0"))
    val runs = cov.withColumn("grp", col("pos0") - row_number().over(w))
    val tokens = docs.select(
      col(idCol),
      posexplode(TextOps.tokens(col(textCol))).as(Seq("pos0", "token")))
    runs.join(tokens, Seq(idCol, "pos0"))
      .groupBy(col(idCol), col("grp"))
      .agg(
        min(col("pos0")).as("start0"),
        count(lit(1)).as("span_len"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("pos0"), col("token")))),
            t => t.getField("token")),
          " ").as("span_text"))
      .select(col(idCol), col("start0"), col("span_len"), col("span_text"))
  }

  /** The PERSISTED span-census artifact: distinct-document count per
    * positional n-gram hash — the state INCREMENTAL ExactSubstr dedup
    * probes instead of re-scanning the archive (the LshIndex /
    * IncrementalDedup append discipline applied to span dedup). One
    * keyed aggregation; at 100 TB this is the parquet table a daily
    * batch job reads and folds into.
    */
  def spanCensus(
      docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n > 0, "span length must be positive")
    val text = coalesce(col(textCol), lit(""))
    docs
      .select(col(idCol),
        explode(md5exprs.md5NgramHashesPos(text, n)).as("span_hash"))
      .groupBy(col("span_hash"))
      .agg(countDistinct(col(idCol)).as("n_docs"))
  }

  /** INCREMENTAL substring excision: clean a FRESH batch against a
    * PERSISTED archive census without re-scanning archive text. A
    * batch span is duplicated when its archive count plus its
    * batch-side distinct-doc count exceeds `maxDocs` — for disjoint
    * doc sets that sum IS the full-rebuild census, so the output
    * EQUALS [[exciseCommonSpans]] over (archive ∪ batch) restricted
    * to batch documents (drop-all policy; spec-asserted). Work is
    * proportional to the batch: batch spans shuffle once on
    * span_hash, the census probe is an equi-join on the same key,
    * reassembly shuffles the batch token stream only.
    */
  def exciseAgainstCensus(
      batch: DataFrame, idCol: String, textCol: String,
      n: Int, maxDocs: Long, archiveCensus: DataFrame): DataFrame = {
    require(n > 0, "span length must be positive")
    val text = coalesce(col(textCol), lit(""))
    val spans = batch
      .select(col(idCol),
        posexplode(md5exprs.md5NgramHashesPos(text, n))
          .as(Seq("start0", "span_hash")))
      .localCheckpoint() // feeds the batch census agg AND the probe join
    val batchCounts = spans
      .groupBy(col("span_hash"))
      .agg(countDistinct(col(idCol)).as("b_docs"))
    val blacklist = batchCounts
      .join(archiveCensus.select(col("span_hash"), col("n_docs")),
        Seq("span_hash"), "left")
      .filter(col("b_docs") + coalesce(col("n_docs"), lit(0L)) > maxDocs)
      .select(col("span_hash"))
    val covered = spans.join(blacklist, Seq("span_hash"))
      .select(col(idCol),
        explode(sequence(col("start0"), col("start0") + lit(n - 1))).as("pos0"))
      .distinct()
    reassemble(batch, idCol, textCol, covered)
  }

  /** The coverage set the excision policies share: one row per
    * (document, 0-based token position) whose token a policy would
    * drop — the union of duplicated-span hit intervals (minus each
    * span's keeper occurrence under `keepFirst`). Exposed for
    * diagnostics ([[exciseCommonSpans]]'s engine and the
    * `dedup_span_runlengths` histogram read the same frame).
    */
  def coveredPositions(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, maxDocs: Long, keepFirst: Boolean = false): DataFrame =
    coveredPositionsFromSpans(
      spansFrame(docs, idCol, textCol, n), idCol, n, maxDocs, keepFirst)

  /** The skinny positional span frame (idCol, start0, span_hash) —
    * ids and offsets only — checkpointed once because it feeds the
    * blacklist aggregate AND the probe join (both keyed on span_hash).
    * Exposed (r14) so the four span-family queries can share ONE
    * census instead of re-exploding the corpus each.
    */
  def spansFrame(
      docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n > 0, "span length must be positive")
    val text = coalesce(col(textCol), lit(""))
    docs
      .select(
        col(idCol),
        posexplode(md5exprs.md5NgramHashesPos(text, n))
          .as(Seq("start0", "span_hash")))
      .localCheckpoint()
  }

  /** [[coveredPositions]] over a precomputed [[spansFrame]] (r14). */
  def coveredPositionsFromSpans(
      spans: DataFrame, idCol: String,
      n: Int, maxDocs: Long, keepFirst: Boolean = false): DataFrame = {
    require(n > 0, "span length must be positive")
    val blacklist = spans
      .groupBy(col("span_hash"))
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") > maxDocs)
      .select(col("span_hash"))
    // duplicated-span start offsets per doc, expanded to covered token
    // positions (union of [start, start+n−1] intervals via distinct)
    val hits = spans.join(blacklist, Seq("span_hash"))
    val dropping =
      if (!keepFirst) hits
      else {
        val keeper = hits
          .groupBy(col("span_hash"))
          .agg(min(struct(col(idCol), col("start0"))).as("k"))
          .select(col("span_hash"),
            col("k").getField(idCol).as(idCol),
            col("k").getField("start0").as("start0"))
        hits.join(keeper, Seq("span_hash", idCol, "start0"), "left_anti")
      }
    dropping
      .select(
        col(idCol),
        explode(sequence(col("start0"), col("start0") + lit(n - 1))).as("pos0"))
      .distinct()
  }
}
