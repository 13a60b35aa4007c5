package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Money
import graft.functions.Money.decSumSql
import graft.functions.ModPrime
import graft.functions.md5exprs.winnowFingerprintMd5
import graft.operators._

/** Beyond-parity operators: the training-data pipeline surface
  * (dedup, similarity search, text analysis, event
  * sessionization/windows) exposed as verifiable queries.
  *
  * The driver corpus has no planted duplicates, so the near-dup queries
  * run over `documents ∪ perturbed(documents)` — a deterministic
  * first-token-dropped copy at doc_id+100000 — making hits real and the
  * result oracle-comparable. Same trick (scaled vectors, cosine
  * invariant) for embeddings.
  */
object PipelineQueries {

  /** documents ∪ near-duplicate copies (first token dropped, ids
    * shifted). SQL twin in [[perturbedSql]].
    */
  private def perturbedDocs(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    d.unionAll(d.select(
      (col("doc_id") + 100000).as("doc_id"),
      regexp_replace(col("text"), "^[^\\t\\n\\f\\r ]+[\\t\\n\\f\\r ]*", "").as("text")))
  }

  private val perturbedSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 100000 AS doc_id,
      |       regexp_replace(text, '^\S+\s*', '') AS text
      |FROM documents""".stripMargin

  private val toksSql =
    "list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'), t -> len(t) > 0)"

  /** Salted-HTML → nonempty (doc_id, pos, block_text) rows — the
    * Spark side of `html_extract_blocks`, shared with the boilerplate
    * composition. `pos` is the raw split position (renumber/order as
    * needed downstream). SQL twin: the h/ns/sp/pc/x CTE chain in the
    * `html_extract_blocks` oracle.
    */
  private def htmlBlocks(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val html = concat(
      lit("<html><head><title>T</title><style>b{}</style></head><body>"),
      lit("<h1>Doc "), id, lit("</h1>"),
      lit("<script>var x = \"<p>not a block</p>\";</script>"),
      lit("<p>"), coalesce(col("text"), lit("")), lit("</p>"),
      lit("<div>footer &amp; legal</div><br>tail note</body></html>"))
    val noScript = regexp_replace(
      regexp_replace(html, "(?s)<script[^>]*>.*?</script>", " "),
      "(?s)<style[^>]*>.*?</style>", " ")
    val blocksRaw = split(
      regexp_replace(noScript, "</?(p|div|h1|h2|h3|li|br)[^>]*>", "\n"), "\n")
    Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(blocksRaw).as(Seq("pos", "piece")))
      .select(col("doc_id"), col("pos"),
        graft.functions.exprs.htmlExtract(col("piece")).as("block_text"))
      .filter(length(col("block_text")) > 0)
  }

  /** Session-scoped exact-pair ARTIFACT (r14): the production 4-gram
    * Jaccard near-dup pair frame over the perturbed corpus at
    * threshold 0.5 — the frame `dedup_ngram_jaccard` reports,
    * `split_leakage_check` filters for cross-split leaks, and the CC
    * label artifact ([[ccLabels]]) clusters. Each consumer previously
    * re-ran the full inverted-index chain (shingle kernel + blacklist
    * + self-join + pair agg); one checkpointed pair frame serves all
    * three (the load-once/query-many artifact rule).
    *
    * r15 generalization: the cached frame is now the pair STATS at
    * threshold 0.3 — the LOWEST any consumer needs
    * (dedup_threshold_curve's band sweep). In ngramJaccardPairStats
    * the threshold is purely a final filter over threshold-independent
    * candidates (inverted index + df-capped blacklist), so
    * stats(0.5) ≡ stats(0.3).filter(jaccard ≥ 0.5) EXACTLY — the 0.5
    * consumers read the artifact through that map-only filter and the
    * curve query stops re-running the whole inverted-index chain.
    */
  private[graft] val perturbedPairStats = new SessionScopedCache[DataFrame](
    "PipelineQueries.perturbedPairStats", (s, dir) =>
      Dedup.ngramJaccardPairStats(
        perturbedDocs(s, dir), "doc_id", "text", n = 4, threshold = 0.3)
        .localCheckpoint())

  private def perturbedPairs(s: SparkSession, dir: String): DataFrame =
    perturbedPairStats(s, dir)
      .filter(col("jaccard") >= 0.5)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** Cluster-label ARTIFACT, built once per (session, corpus) — the
    * dedup pipeline's warehouse contract, same shape as
    * [[MefStarQueries]]' star cache: the component listing,
    * representative selection, and any future audit query read the
    * same 2-column label table instead of re-running the shingle
    * inverted-index join + CC rounds (the two expensive steps).
    * CC's own internal checkpoints already materialize the pair
    * pipeline exactly once; the final localCheckpoint truncates the
    * whole lineage for the readers.
    */
  private val ccLabels = new SessionScopedCache[DataFrame](
    "PipelineQueries.ccLabels", (s, dir) =>
      Dedup.connectedComponents(perturbedPairs(s, dir), "id_a", "id_b")
        .localCheckpoint())

  /** Session-scoped span-coverage ARTIFACT (r14): the positional span
    * frame (n = 8) over the perturbed corpus plus the drop-all-copies
    * coverage set (maxDocs = 1) — ONE census shared by the four
    * span-family queries (`dedup_span_excise` and
    * `dedup_span_runlengths` / `dedup_span_maximal` read the coverage
    * directly; `dedup_span_keepfirst` re-derives its keeper-aware
    * coverage from the shared span frame). Previously each query
    * re-exploded the corpus and re-ran the census aggregate; the
    * sharing was already the documented intent ("reads the same
    * coveredPositions frame the excision policies use").
    */
  private val spanCoverage = new SessionScopedCache[(DataFrame, DataFrame)](
    "PipelineQueries.spanCoverage", (s, dir) => {
      val spans = SpanDedup.spansFrame(perturbedDocs(s, dir), "doc_id", "text", 8)
      val cov = SpanDedup.coveredPositionsFromSpans(spans, "doc_id", 8, 1L)
        .localCheckpoint()
      (spans, cov)
    })

  /** Distinct (order, part) basket-membership ARTIFACT (r15): the
    * frame under [[basketPairsAll]]'s self-join, also rebuilt per
    * query by basket_association_rules (part counts + basket total),
    * cf_item_neighbors (item counts), link_prediction_jaccard and
    * resource_allocation_links (their `po`) — five consumers, one
    * distinct.
    */
  private[graft] val orderPartItems = new SessionScopedCache[DataFrame](
    "PipelineQueries.orderPartItems", (s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
        .localCheckpoint())

  /** Session-scoped BIGRAM-LM SCORE artifact (r15): NgramLm.bigramBits
    * over the documents corpus with the doc_id%5=0 training slice —
    * the identical (train + score) chain was re-run by BOTH
    * ngram_perplexity_filter and curriculum_difficulty_shards.
    * Checkpointed per (session, corpus).
    */
  private val bigramBitsScored = new SessionScopedCache[DataFrame](
    "PipelineQueries.bigramBitsScored", (s, dir) =>
      NgramLm.bigramBits(
        Tables.documents(s, dir), "doc_id", "text",
        isTrain = col("doc_id") % 5 === 0)
        .localCheckpoint())

  /** Basket pair-count ARTIFACT, built once per (session, corpus) —
    * the distinct (order, part) self-join + pair aggregation is the
    * expensive stage shared by basket_association_rules and
    * basket_triangles (both filter the same checkpointed frame to
    * c_pair ≥ 3) and, r14, cf_item_neighbors (which scores the
    * UNFILTERED pair counts — so the cached frame is now the full
    * (p1, p2, c_pair) table and the min-support filter moved into
    * [[basketPairs]], a map-only predicate over the checkpoint).
    */
  private[graft] val basketPairsAll = new SessionScopedCache[DataFrame](
    "PipelineQueries.basketPairsAll", (s, dir) => {
      val items = orderPartItems(s, dir)
      items.as("a")
        .join(items.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("p1"), col("b.l_partkey").as("p2"))
        .agg(count(lit(1)).as("c_pair"))
        .localCheckpoint()
    })

  /** The min-support (≥3) view of [[basketPairsAll]] the two basket
    * consumers read — a map-only filter over the checkpointed frame.
    */
  private def basketPairs(s: SparkSession, dir: String): DataFrame =
    basketPairsAll(s, dir).filter(col("c_pair") >= 3)

  /** DuckDB fragment for [[graft.functions.Md5Hash.lower63]]: first 8
    * MD5 digest bytes big-endian, top bit cleared.
    */
  private def md5_63(x: String): String =
    s"(('0x' || substr(md5($x), 1, 16))::UBIGINT & 9223372036854775807::UBIGINT)::BIGINT"

  /** Winnowing CTE chain `g → keyed → picked` over `src(doc_id, text)`:
    * md5-lower63 char k-gram hashes, rightmost-minimum of each window
    * of `w` (encoded as min over h·2³² + (2³²−1−pos) keys), distinct
    * picks; docs with ≤ w grams contribute their global min — exactly
    * [[graft.functions.WinnowFingerprintMd5]].
    */
  private def winnowPickedCtes(src: String, k: Int, w: Int): String =
    s"""g AS (
       |  SELECT doc_id, text, unnest(range(1, len(text) - $k + 2)) AS i
       |  FROM $src WHERE len(text) >= $k
       |), h AS (
       |  SELECT doc_id, i, ${md5_63(s"substr(text, i, $k)")} AS h FROM g
       |), keyed AS (
       |  SELECT doc_id, i, h,
       |    min(h::HUGEINT * 4294967296 + (4294967295 - i)) OVER (
       |      PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS wkey,
       |    count(*) OVER (PARTITION BY doc_id) AS ng
       |  FROM h
       |), picked AS (
       |  SELECT DISTINCT doc_id, (wkey // 4294967296)::BIGINT AS fp
       |  FROM keyed WHERE ng > $w AND i <= ng - $w + 1
       |  UNION
       |  SELECT doc_id, min(h) AS fp FROM keyed WHERE ng <= $w GROUP BY doc_id
       |)""".stripMargin

  /** DuckDB twin of the md5-winnow fingerprint summary query. */
  private def winnowFingerprintOracleSql(k: Int, w: Int): String =
    s"""WITH ${winnowPickedCtes("documents", k, w)},
       |agg AS (
       |  SELECT doc_id, count(*) AS nf, min(fp) AS first_fp FROM picked GROUP BY doc_id
       |)
       |SELECT d.doc_id, CAST(coalesce(a.nf, 0) AS INT) AS n_fingerprints, a.first_fp
       |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** DuckDB twin of [[Dedup.winnowPairs]] (md5 family) over the
    * perturbed corpus: inverted-index join on picked fingerprints with
    * the same document-frequency cap and shared-count threshold.
    */
  private def winnowPairsOracleSql(
      k: Int, w: Int, minShared: Int, maxFingerprintDf: Int): String =
    s"""WITH corpus AS ($perturbedSql),
       |${winnowPickedCtes("corpus", k, w)},
       |capped AS (
       |  SELECT doc_id, fp FROM (
       |    SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM picked)
       |  WHERE df <= $maxFingerprintDf
       |),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_fingerprints
       |  FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT id_a, id_b, shared_fingerprints FROM pairs
       |WHERE shared_fingerprints >= $minShared
       |ORDER BY id_a, id_b""".stripMargin

  /** DuckDB twin of [[MinHashLsh.nearDupPairs]] with the
    * [[MinHashLsh.Family.Md5Mod]] family: md5-lower63 shingle hashes,
    * the (a·h+b) mod 2⁶¹−1 permutation family inlined as literals
    * (regenerated via [[ModPrime.coeffs]] — same seed, same values),
    * band-slice bucket join with the same bucket cap, and signature
    * match-count verification.
    */
  private def minhashOracleSql(
      shingleN: Int, numHashes: Int, bands: Int,
      threshold: Double, maxBucket: Int, seed: Long): String = {
    val rows = numHashes / bands
    val (as, bs) = ModPrime.coeffs(seed, numHashes)
    val famRows = (0 until numHashes)
      .map(i => s"(${i}, ${as(i)}, ${bs(i)})").mkString(",\n    ")
    val p = ModPrime.P
    s"""WITH corpus AS ($perturbedSql),
       |tk AS (SELECT doc_id, $toksSql AS toks FROM corpus),
       |sh AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, len(toks) - ${shingleN - 2}),
       |      i -> ${md5_63(s"array_to_string(toks[i:i+${shingleN - 1}], ' ')")})) AS hs
       |  FROM tk WHERE len(toks) >= $shingleN
       |),
       |shx AS (SELECT doc_id, unnest(hs) AS h FROM sh),
       |fam AS (
       |  SELECT * FROM (VALUES
       |    $famRows) f(i, a, b)
       |),
       |mins AS (
       |  SELECT doc_id, f.i,
       |    (min((f.a::HUGEINT * (h % $p) + f.b) % $p))::BIGINT AS mh
       |  FROM shx, fam f GROUP BY doc_id, f.i
       |),
       |sig AS (SELECT doc_id, list(mh ORDER BY i) AS sig FROM mins GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, band_idx, sig[band_idx*$rows+1 : band_idx*$rows+$rows] AS bkey
       |  FROM (SELECT doc_id, sig, unnest(range(0, $bands)) AS band_idx FROM sig)
       |),
       |capped AS (
       |  SELECT doc_id, band_idx, bkey FROM (
       |    SELECT *, count(*) OVER (PARTITION BY band_idx, bkey) AS bsz FROM banded)
       |  WHERE bsz <= $maxBucket
       |),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM capped a JOIN capped b
       |    ON a.band_idx = b.band_idx AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |),
       |v AS (
       |  SELECT id_a, id_b,
       |    CAST(len(list_filter(range(1, ${numHashes + 1}),
       |      i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / $numHashes AS est_jaccard
       |  FROM cand
       |  JOIN sig sa ON sa.doc_id = cand.id_a
       |  JOIN sig sb ON sb.doc_id = cand.id_b
       |)
       |SELECT id_a, id_b, est_jaccard FROM v WHERE est_jaccard >= $threshold
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** DuckDB twin of [[SimHashDedup.nearDupPairs]] (md5 family):
    * 63-bit voted fingerprints from md5-lower63 token hashes, exact
    * pigeonhole chunk blocking, hamming verify via bit_count(xor).
    */
  private def simhashOracleSql(maxHamming: Int, maxBucket: Int): String = {
    val chunks = maxHamming + 1
    val bitsPer = 64 / chunks
    val mask = (1L << bitsPer) - 1
    s"""WITH corpus AS ($perturbedSql),
       |tox AS (SELECT doc_id, unnest($toksSql) AS tok FROM corpus),
       |th AS (SELECT doc_id, ${md5_63("tok")} AS h FROM tox),
       |votes AS (
       |  SELECT doc_id, j, SUM(CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END) AS v
       |  FROM (SELECT doc_id, h, unnest(range(0, 63)) AS j FROM th)
       |  GROUP BY doc_id, j
       |),
       |fpv AS (
       |  SELECT doc_id,
       |    (SUM(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0 END))::BIGINT AS simhash
       |  FROM votes GROUP BY doc_id
       |),
       |fp AS (
       |  SELECT c.doc_id, coalesce(v.simhash, 0) AS simhash
       |  FROM corpus c LEFT JOIN fpv v ON v.doc_id = c.doc_id
       |),
       |chunked AS (
       |  SELECT doc_id, simhash, chunk_idx, (simhash >> (chunk_idx*$bitsPer)) & $mask AS chunk_val
       |  FROM (SELECT doc_id, simhash, unnest(range(0, $chunks)) AS chunk_idx FROM fp)
       |),
       |capped AS (
       |  SELECT doc_id, simhash, chunk_idx, chunk_val FROM (
       |    SELECT *, count(*) OVER (PARTITION BY chunk_idx, chunk_val) AS bsz FROM chunked)
       |  WHERE bsz <= $maxBucket
       |),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |         a.simhash AS fa, b.simhash AS fb
       |  FROM capped a JOIN capped b
       |    ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
       |   AND a.doc_id < b.doc_id
       |)
       |SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
       |FROM cand WHERE bit_count(xor(fa, fb)) <= $maxHamming
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** DuckDB twin of [[IvfIndex.searchWithCentroids]] over `embeddings`
    * with probes `vec_id < 10`: regenerates the seeded centroids (same
    * draw order as [[IvfIndex.seededCentroids]]), inlines each centroid
    * and its half-norm (computed by the same Scala fold the
    * [[graft.functions.CentroidIds]] kernel uses) as literals, and
    * unrolls all dot products left-to-right — bit-exact list
    * assignment (argmax score, ties to the lower centroid id) and
    * cosine rerank.
    */
  /** DuckDB replay of the PQ-ADC search: the same seeded w-grid
    * codebooks inline as a VALUES table, encode via per-(vector,
    * subspace) integer argmin (row_number ties → lower code id), ADC
    * via the probe's (m, code) distance lookup summed per pair — all
    * BIGINT arithmetic, so the comparison is hash-exact.
    */
  private def pqOracleSql(dim: Int, m: Int, ksub: Int, seed: Long, k: Int): String = {
    val cbs = graft.operators.PqIndex.seededCodebooks(dim, m, ksub, seed)
    val rows = (for (mi <- 0 until m; j <- 0 until ksub) yield
      s"($mi, $j, [${cbs(mi)(j).mkString(", ")}])").mkString(",\n  ")
    s"WITH cb(m, j, cw) AS (VALUES\n  $rows),\n" + pqSearchTailSql(dim / m, k)
  }

  /** The encode + ADC + top-k replay shared by the fixed and trained
    * PQ oracles — everything downstream of a `cb(m, j, cw)` codebook
    * CTE on the w grid.
    */
  private def pqSearchTailSql(ds: Int, k: Int): String =
    pqSearchCtesSql(ds) +
      s"""
         |SELECT query_id, neighbor_id, rank, adc_dist
         |FROM topk WHERE rank <= $k
         |ORDER BY query_id, rank""".stripMargin

  /** DuckDB replay of IVF-routed PQ: coarse routing by the proven
    * unrolled-IEEE score chains (ivfOracleSql's recipe — corpus r=1,
    * probes r ≤ nprobe), candidates joined on list id, then the
    * integer ADC scoring of the PQ tail restricted to routed pairs.
    */
  private def ivfAdcOracleSql(
      dim: Int, nlist: Int, nprobe: Int, coarseSeed: Long,
      m: Int, ksub: Int, pqSeed: Long, k: Int): String = {
    val cs = IvfIndex.seededCentroids(dim, nlist, coarseSeed)
    val halfNorms = cs.map(c => c.map(x => x * x).sum / 2.0)
    def scoreExpr(ci: Int): String =
      "(" + (0 until dim).map(i =>
        s"CAST(embedding[${i + 1}] AS DOUBLE)*${cs(ci)(i)}").mkString(" + ") +
        s") - ${halfNorms(ci)}"
    val scoreList = (0 until nlist).map(scoreExpr).mkString(",\n      ")
    val cbs = graft.operators.PqIndex.seededCodebooks(dim, m, ksub, pqSeed)
    val ds = dim / m
    val rows = (for (mi <- 0 until m; j <- 0 until ksub) yield
      s"($mi, $j, [${cbs(mi)(j).mkString(", ")}])").mkString(",\n  ")
    s"""WITH cb(m, j, cw) AS (VALUES
       |  $rows),
       |scored AS (
       |  SELECT vec_id, cid, r FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS r
       |    FROM (
       |      SELECT vec_id, unnest(range(0, $nlist)) AS cid,
       |        unnest([
       |      $scoreList]) AS s
       |      FROM embeddings))),
       |wqe AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE)*1024.0) AS BIGINT) + 4096) AS w
       |  FROM embeddings),
       |dists AS (
       |  SELECT q.vec_id, c.m, c.j,
       |    CAST(list_sum(list_transform(
       |      list_zip(q.w[c.m*$ds+1 : c.m*$ds+$ds], c.cw),
       |      p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT) AS d
       |  FROM wqe q CROSS JOIN cb c),
       |codes AS (
       |  SELECT vec_id, m, j AS code FROM (
       |    SELECT vec_id, m, j,
       |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) AS r
       |    FROM dists) WHERE r = 1),
       |pairs0 AS (
       |  SELECT p.vec_id AS query_id, n.vec_id AS neighbor_id
       |  FROM scored n JOIN scored p ON n.cid = p.cid
       |  WHERE n.r = 1 AND p.r <= $nprobe AND p.vec_id < 10 AND n.vec_id <> p.vec_id),
       |adc AS (
       |  SELECT pr.query_id, pr.neighbor_id, CAST(SUM(d.d) AS BIGINT) AS adc_dist
       |  FROM pairs0 pr
       |  JOIN codes n ON n.vec_id = pr.neighbor_id
       |  JOIN dists d ON d.vec_id = pr.query_id AND d.m = n.m AND d.j = n.code
       |  GROUP BY 1, 2),
       |topk AS (
       |  SELECT query_id, neighbor_id, adc_dist,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc_dist, neighbor_id) AS INT) AS rank
       |  FROM adc)
       |SELECT query_id, neighbor_id, rank, adc_dist
       |FROM topk WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB replay of the two-stage PQ search: integer ADC shortlist
    * (rank ≤ shortK), then exact cosine over re-attached embeddings —
    * the pairDot/selfDot left-associated double chains proven
    * bit-exact by the IVF oracles.
    */
  private def pqRerankOracleSql(
      dim: Int, m: Int, ksub: Int, seed: Long, shortK: Int, k: Int): String = {
    val cbs = graft.operators.PqIndex.seededCodebooks(dim, m, ksub, seed)
    val rows = (for (mi <- 0 until m; j <- 0 until ksub) yield
      s"($mi, $j, [${cbs(mi)(j).mkString(", ")}])").mkString(",\n  ")
    val selfDot = (0 until dim)
      .map(i => s"CAST(embedding[${i + 1}] AS DOUBLE)*CAST(embedding[${i + 1}] AS DOUBLE)")
      .mkString(" + ")
    val pairDot = (0 until dim)
      .map(i => s"CAST(e_n[${i + 1}] AS DOUBLE)*CAST(e_q[${i + 1}] AS DOUBLE)")
      .mkString(" + ")
    s"WITH cb(m, j, cw) AS (VALUES\n  $rows),\n" + pqSearchCtesSql(dim / m) + ",\n" +
      s"""short AS (SELECT query_id, neighbor_id FROM topk WHERE rank <= $shortK),
         |nrm AS (SELECT vec_id, sqrt($selfDot) AS n FROM embeddings),
         |rescored AS (
         |  SELECT s.query_id, s.neighbor_id,
         |    CASE WHEN nn.n * nq.n > 0 THEN ($pairDot) / (nn.n * nq.n)
         |         ELSE 0.0 END AS sim
         |  FROM short s
         |  JOIN (SELECT vec_id, embedding AS e_n FROM embeddings) en
         |    ON en.vec_id = s.neighbor_id
         |  JOIN (SELECT vec_id, embedding AS e_q FROM embeddings) eq
         |    ON eq.vec_id = s.query_id
         |  JOIN nrm nn ON nn.vec_id = s.neighbor_id
         |  JOIN nrm nq ON nq.vec_id = s.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |         ORDER BY sim DESC, neighbor_id) AS INT) AS rank
         |  FROM rescored)
         |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= $k
         |ORDER BY query_id, rank""".stripMargin
  }

  /** The CTE chain alone (wqe → … → topk with ranks, no cutoff) — the
    * rerank oracle composes more CTEs after it.
    */
  private def pqSearchCtesSql(ds: Int): String =
    s"""wqe AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE)*1024.0) AS BIGINT) + 4096) AS w
       |  FROM embeddings),
       |dists AS (
       |  SELECT q.vec_id, c.m, c.j,
       |    CAST(list_sum(list_transform(
       |      list_zip(q.w[c.m*$ds+1 : c.m*$ds+$ds], c.cw),
       |      p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT) AS d
       |  FROM wqe q CROSS JOIN cb c),
       |codes AS (
       |  SELECT vec_id, m, j AS code FROM (
       |    SELECT vec_id, m, j,
       |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) AS r
       |    FROM dists) WHERE r = 1),
       |adc AS (
       |  SELECT p.vec_id AS query_id, n.vec_id AS neighbor_id,
       |    CAST(SUM(p.d) AS BIGINT) AS adc_dist
       |  FROM codes n JOIN dists p ON p.m = n.m AND p.j = n.code
       |  WHERE p.vec_id < 10 AND n.vec_id <> p.vec_id
       |  GROUP BY 1, 2),
       |topk AS (
       |  SELECT query_id, neighbor_id, adc_dist,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc_dist, neighbor_id) AS INT) AS rank
       |  FROM adc)""".stripMargin

  /** DuckDB twin of [[graft.operators.KnnGraph.buildIvfPq]]: seeded
    * coarse routing (every node probes) + seeded-codebook encode +
    * integer ADC shortlist per node + exact cosine rerank — the
    * memory-bounded corpus-wide graph build. CTEs that feed multiple
    * consumers are MATERIALIZED (the CTE-inlining lesson).
    */
  private[queries] def ivfPqGraphOracleSql(
      dim: Int, nlist: Int, m: Int, ksub: Int, nprobe: Int,
      coarseSeed: Long, pqSeed: Long, shortK: Int, k: Int): String = {
    val cs = IvfIndex.seededCentroids(dim, nlist, coarseSeed)
    val halfNorms = cs.map(c => c.map(x => x * x).sum / 2.0)
    def scoreExpr(ci: Int): String =
      "(" + (0 until dim).map(i =>
        s"CAST(embedding[${i + 1}] AS DOUBLE)*${cs(ci)(i)}").mkString(" + ") +
        s") - ${halfNorms(ci)}"
    val scoreList = (0 until nlist).map(scoreExpr).mkString(",\n      ")
    val cbs = graft.operators.PqIndex.seededCodebooks(dim, m, ksub, pqSeed)
    val rows = (for (mi <- 0 until m; j <- 0 until ksub) yield
      s"($mi, $j, [${cbs(mi)(j).mkString(", ")}])").mkString(",\n  ")
    val ds = dim / m
    val selfDot = (0 until dim)
      .map(i => s"CAST(embedding[${i + 1}] AS DOUBLE)*CAST(embedding[${i + 1}] AS DOUBLE)")
      .mkString(" + ")
    val pairDot = (0 until dim)
      .map(i => s"CAST(e_n[${i + 1}] AS DOUBLE)*CAST(e_q[${i + 1}] AS DOUBLE)")
      .mkString(" + ")
    s"""WITH cb(m, j, cw) AS (VALUES
       |  $rows),
       |scored AS MATERIALIZED (
       |  SELECT vec_id, cid, r FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS r
       |    FROM (
       |      SELECT vec_id, unnest(range(0, $nlist)) AS cid,
       |        unnest([
       |      $scoreList]) AS s
       |      FROM embeddings))),
       |wqe AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE)*1024.0) AS BIGINT) + 4096) AS w
       |  FROM embeddings),
       |dists AS MATERIALIZED (
       |  SELECT q.vec_id, c.m, c.j,
       |    CAST(list_sum(list_transform(
       |      list_zip(q.w[c.m*$ds+1 : c.m*$ds+$ds], c.cw),
       |      p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT) AS d
       |  FROM wqe q CROSS JOIN cb c),
       |codes AS MATERIALIZED (
       |  SELECT vec_id, m, j AS code FROM (
       |    SELECT vec_id, m, j,
       |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) AS r
       |    FROM dists) WHERE r = 1),
       |pairs0 AS (
       |  SELECT p.vec_id AS query_id, n.vec_id AS neighbor_id
       |  FROM scored n JOIN scored p ON n.cid = p.cid
       |  WHERE n.r = 1 AND p.r <= $nprobe AND n.vec_id <> p.vec_id),
       |adc AS MATERIALIZED (
       |  SELECT pr.query_id, pr.neighbor_id, CAST(SUM(d.d) AS BIGINT) AS adc_dist
       |  FROM pairs0 pr
       |  JOIN codes n ON n.vec_id = pr.neighbor_id
       |  JOIN dists d ON d.vec_id = pr.query_id AND d.m = n.m AND d.j = n.code
       |  GROUP BY 1, 2),
       |short AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY adc_dist, neighbor_id) AS rk
       |    FROM adc) t WHERE rk <= $shortK),
       |nrm AS (SELECT vec_id, sqrt($selfDot) AS n FROM embeddings),
       |rescored AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    CASE WHEN nn.n * nq.n > 0 THEN ($pairDot) / (nn.n * nq.n)
       |         ELSE 0.0 END AS sim
       |  FROM short s
       |  JOIN (SELECT vec_id, embedding AS e_n FROM embeddings) en
       |    ON en.vec_id = s.neighbor_id
       |  JOIN (SELECT vec_id, embedding AS e_q FROM embeddings) eq
       |    ON eq.vec_id = s.query_id
       |  JOIN nrm nn ON nn.vec_id = s.neighbor_id
       |  JOIN nrm nq ON nq.vec_id = s.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |         ORDER BY sim DESC, neighbor_id) AS INT) AS rank
       |  FROM rescored)
       |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB replay of TRAINED PQ: per-subspace exact-integer k-means
    * over the shared hash-ordered sample (the trainedIvfOracleSql
    * recipe, one CTE chain per subspace with seed+m), codebooks
    * snapped q→w by floor-div, then the same encode/ADC tail as the
    * fixed path. Every step is integer, so the comparison is
    * hash-exact.
    */
  private def pqTrainedOracleSql(
      dim: Int, m: Int, ksub: Int, sampleSize: Int, iters: Int,
      seed: Long, k: Int): String =
    "WITH " + pqTrainedCbCtes(dim, m, ksub, sampleSize, iters, seed) + ",\n" +
      pqSearchTailSql(dim / m, k)

  /** The per-subspace k-means CTE chain ending in `cb(m, j, cw)` on
    * the w grid — shared by the trained-PQ search oracle and the
    * semdedup bucket oracle.
    */
  private def pqTrainedCbCtes(
      dim: Int, m: Int, ksub: Int, sampleSize: Int, iters: Int,
      seed: Long): String = {
    val offset = graft.operators.IvfIndex.QuantOffset
    val ds = dim / m
    def distW(a: String, b: String) =
      s"CAST(list_sum(list_transform(list_zip($a, $b), p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT)"
    val ctes = scala.collection.mutable.ArrayBuffer[String]()
    ctes += s"""smp AS MATERIALIZED (
      |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS pos, wq
      |  FROM (
      |    SELECT vec_id,
      |      list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1024.0) AS BIGINT) + $offset) AS wq
      |    FROM embeddings
      |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      |    LIMIT $sampleSize))""".stripMargin
    for (mi <- 0 until m) {
      val subSeed = seed + mi
      ctes += s"smp_$mi AS MATERIALIZED (SELECT pos, wq[${mi * ds + 1} : ${mi * ds + ds}] AS w FROM smp)"
      ctes += s"""c${mi}_0 AS MATERIALIZED (
        |  SELECT 0 AS cid, w AS cw FROM smp_$mi
        |  WHERE pos = abs($subSeed % (SELECT count(*) FROM smp_$mi)) + 1)""".stripMargin
      for (t <- 1 until ksub) {
        ctes += s"""c${mi}_$t AS MATERIALIZED (
          |  SELECT * FROM c${mi}_${t - 1}
          |  UNION ALL
          |  SELECT * FROM (
          |    SELECT $t AS cid, s.w AS cw
          |    FROM smp_$mi s
          |    JOIN (
          |      SELECT pos, min(${distW("s2.w", "c.cw")}) AS md
          |      FROM smp_$mi s2 CROSS JOIN c${mi}_${t - 1} c GROUP BY pos
          |    ) m ON m.pos = s.pos
          |    ORDER BY m.md DESC, s.pos LIMIT 1))""".stripMargin
      }
      ctes += s"q${mi}_0 AS MATERIALIZED (SELECT cid, list_transform(cw, x -> x*1024) AS q FROM c${mi}_${ksub - 1})"
      for (i <- 0 until iters) {
        val dq = "CAST(list_sum(list_transform(list_zip(list_transform(" +
          "s.w, x -> x*1024), c.q), p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT)"
        ctes += s"""a${mi}_$i AS MATERIALIZED (
          |  SELECT pos, w, cid FROM (
          |    SELECT s.pos, s.w, c.cid,
          |      row_number() OVER (PARTITION BY s.pos ORDER BY $dq, c.cid) AS r
          |    FROM smp_$mi s CROSS JOIN q${mi}_$i c)
          |  WHERE r = 1)""".stripMargin
        ctes += s"""u${mi}_$i AS MATERIALIZED (
          |  SELECT cid, list((sv*1024)//cnt ORDER BY dim) AS q
          |  FROM (
          |    SELECT cid, dim, CAST(SUM(val) AS BIGINT) AS sv, count(*) AS cnt
          |    FROM (SELECT cid, unnest(w) AS val, unnest(range(1, len(w)+1)) AS dim FROM a${mi}_$i)
          |    GROUP BY cid, dim)
          |  GROUP BY cid)""".stripMargin
        ctes += s"""q${mi}_${i + 1} AS MATERIALIZED (
          |  SELECT c.cid, coalesce(u.q, c.q) AS q
          |  FROM q${mi}_$i c LEFT JOIN u${mi}_$i u ON u.cid = c.cid)""".stripMargin
      }
    }
    ctes += "cb AS MATERIALIZED (\n  " + (0 until m).map(mi =>
      s"SELECT $mi AS m, cid AS j, list_transform(q, x -> x // 1024) AS cw FROM q${mi}_$iters")
      .mkString("\n  UNION ALL\n  ") + ")"
    ctes.mkString(",\n")
  }

  private def ivfOracleSql(
      dim: Int, nlist: Int, nprobe: Int, seed: Long, k: Int): String = {
    val cs = IvfIndex.seededCentroids(dim, nlist, seed)
    val halfNorms = cs.map(c => c.map(x => x * x).sum / 2.0)
    def scoreExpr(ci: Int): String =
      "(" + (0 until dim).map(i =>
        s"CAST(embedding[${i + 1}] AS DOUBLE)*${cs(ci)(i)}").mkString(" + ") +
        s") - ${halfNorms(ci)}"
    val scoreList = (0 until nlist).map(scoreExpr).mkString(",\n      ")
    val selfDot = (0 until dim)
      .map(i => s"CAST(embedding[${i + 1}] AS DOUBLE)*CAST(embedding[${i + 1}] AS DOUBLE)")
      .mkString(" + ")
    val pairDot = (0 until dim)
      .map(i => s"CAST(e_n[${i + 1}] AS DOUBLE)*CAST(e_q[${i + 1}] AS DOUBLE)")
      .mkString(" + ")
    s"""WITH scored AS (
       |  SELECT vec_id, embedding, cid, s,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS r
       |  FROM (
       |    SELECT vec_id, embedding, unnest(range(0, $nlist)) AS cid,
       |      unnest([
       |      $scoreList]) AS s
       |    FROM embeddings
       |  )
       |), nrm AS (
       |  SELECT vec_id, sqrt($selfDot) AS n FROM embeddings
       |), pairs AS (
       |  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         c.embedding AS e_n, p.embedding AS e_q
       |  FROM scored c JOIN scored p ON c.cid = p.cid
       |  WHERE c.r = 1 AND p.r <= $nprobe AND p.vec_id < 10 AND c.vec_id <> p.vec_id
       |), rescored AS (
       |  SELECT query_id, neighbor_id,
       |    CASE WHEN nn.n * nq.n > 0 THEN ($pairDot) / (nn.n * nq.n) ELSE 0.0 END AS sim
       |  FROM pairs
       |  JOIN nrm nn ON nn.vec_id = pairs.neighbor_id
       |  JOIN nrm nq ON nq.vec_id = pairs.query_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |         ORDER BY sim DESC, neighbor_id) AS INT) AS rank
       |  FROM rescored
       |)
       |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB twin of [[graft.operators.MaxSim.ivfLateInteractionTopK]]:
    * the [[ivfOracleSql]] routing CTE (corpus argmax list, probe
    * nprobe fan-out) with the rescore stage swapped from cosine to the
    * MaxSim greatest/+ chain over DOUBLE[] slices — the same
    * bit-exact double recipe as ann_maxsim_topk's oracle.
    */
  private def ivfMaxSimOracleSql(
      dim: Int, nlist: Int, nprobe: Int, seed: Long, k: Int, slices: Int): String = {
    val cs = IvfIndex.seededCentroids(dim, nlist, seed)
    val halfNorms = cs.map(c => c.map(x => x * x).sum / 2.0)
    def scoreExpr(ci: Int): String =
      "(" + (0 until dim).map(i =>
        s"CAST(embedding[${i + 1}] AS DOUBLE)*${cs(ci)(i)}").mkString(" + ") +
        s") - ${halfNorms(ci)}"
    val scoreList = (0 until nlist).map(scoreExpr).mkString(",\n      ")
    val len = dim / slices
    val ranges = (0 until slices).map(i => s"${i * len + 1}:${(i + 1) * len}")
    val maxsim = ranges.map { q =>
      "greatest(" + ranges.map(c => s"list_dot_product(eq[$q], en[$c])")
        .mkString(", ") + ")"
    }.mkString("\n     + ")
    s"""WITH scored AS (
       |  SELECT vec_id, embedding, cid, s,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS r
       |  FROM (
       |    SELECT vec_id, embedding, unnest(range(0, $nlist)) AS cid,
       |      unnest([
       |      $scoreList]) AS s
       |    FROM embeddings
       |  )
       |), pairs AS (
       |  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         CAST(c.embedding AS DOUBLE[]) AS en,
       |         CAST(p.embedding AS DOUBLE[]) AS eq
       |  FROM scored c JOIN scored p ON c.cid = p.cid
       |  WHERE c.r = 1 AND p.r <= $nprobe AND p.vec_id < 10 AND c.vec_id <> p.vec_id
       |), rescored AS (
       |  SELECT query_id, neighbor_id,
       |    ($maxsim) AS score
       |  FROM pairs
       |), ranked AS (
       |  SELECT query_id, neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |         ORDER BY score DESC, neighbor_id) AS INT) AS rank
       |  FROM rescored
       |)
       |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB twin of [[IvfIndex.topK]] — the TRAINED path, oracled end
    * to end: replays the deterministic hash-ordered sample and the
    * EXACT-INTEGER k-means (quantized grid, farthest-point init, Lloyd
    * floor-div means — all integer sums, so DuckDB's aggregation order
    * cannot perturb a single bit; see IvfIndex.trainCentroids), then
    * serves with the same unrolled-IEEE-chain recipe as
    * [[ivfOracleSql]], with centroid literals replaced by the trained
    * `cent` CTE's exactly-representable doubles. CTEs are MATERIALIZED
    * because each init step references its predecessor twice —
    * inlining would blow up exponentially.
    */
  private def trainedIvfOracleSql(
      dim: Int, nlist: Int, nprobe: Int,
      sampleSize: Int, iters: Int, seed: Long, k: Int): String =
    trainedIvfRankedCtes(dim, nlist, nprobe, sampleSize, iters, seed,
      probeFilter = "p.vec_id < 10") +
      s"\nSELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= $k ORDER BY query_id, rank"

  /** The CTE chain of [[trainedIvfOracleSql]] up to `ranked(query_id,
    * neighbor_id, rank)` with a pluggable probe filter — shared with
    * the corpus-wide kNN-graph oracles (probeFilter = "TRUE": every
    * node probes), whose tails differ (top-k cut, mutual self-join,
    * recall meet vs brute force).
    */
  /** `prefix` renames every generated CTE (smp, centsN, lqN, asgN,
    * updN, cent, scored, nrm, pairs, rescored, ranked) so TWO
    * independently-parameterized routings can live in ONE oracle
    * (knn_graph_retrain_drift composes a base-trained and a
    * retrained replay); the base `embeddings` table reference is
    * deliberately left shared.
    */
  /** `corpusFilter` (over alias `c`, e.g. "c.vec_id % 10 <> 3")
    * restricts the INDEXED side only — the RTBF replay: training stays
    * on the full corpus (a tombstone delete never retrains the
    * quantizer), but purged vectors can no longer be anyone's
    * neighbor.
    */
  private[queries] def trainedIvfRankedCtes(
      dim: Int, nlist: Int, nprobe: Int,
      sampleSize: Int, iters: Int, seed: Long, probeFilter: String,
      trainFilter: String = "TRUE", prefix: String = "",
      corpusFilter: String = "TRUE"): String = {
    if (prefix.nonEmpty) {
      require(prefix.matches("[a-z][a-z0-9]*"), s"bad CTE prefix: $prefix")
      val raw = trainedIvfRankedCtes(
        dim, nlist, nprobe, sampleSize, iters, seed, probeFilter, trainFilter,
        corpusFilter = corpusFilter)
      // rename is safe textually: no generated CTE name doubles as a
      // column name, and \b keeps `cent` from matching `cents0`
      return raw.replaceAll(
        "\\b(smp|cents\\d+|lq\\d+|asg\\d+|upd\\d+|cent|scored|nrm|pairs|rescored|ranked)\\b",
        prefix + "$1")
    }
    val offset = graft.operators.IvfIndex.QuantOffset
    def distW(a: String, b: String) =
      s"CAST(list_sum(list_transform(list_zip($a, $b), p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT)"
    def distQ(a: String, b: String) =
      "CAST(list_sum(list_transform(list_zip(list_transform(" +
        s"$a, x -> x*1024), $b), p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT)"
    val ctes = scala.collection.mutable.ArrayBuffer[String]()
    ctes += s"""smp AS MATERIALIZED (
      |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS pos, wq
      |  FROM (
      |    SELECT vec_id,
      |      list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1024.0) AS BIGINT) + $offset) AS wq
      |    FROM embeddings
      |    WHERE $trainFilter
      |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      |    LIMIT $sampleSize))""".stripMargin
    ctes += s"""cents0 AS MATERIALIZED (
      |  SELECT 0 AS cid, wq AS cw FROM smp
      |  WHERE pos = abs($seed % (SELECT count(*) FROM smp)) + 1)""".stripMargin
    for (t <- 1 until nlist) {
      ctes += s"""cents$t AS MATERIALIZED (
        |  SELECT * FROM cents${t - 1}
        |  UNION ALL
        |  SELECT * FROM (
        |    SELECT $t AS cid, s.wq AS cw
        |    FROM smp s
        |    JOIN (
        |      SELECT pos, min(${distW("s2.wq", "c.cw")}) AS md
        |      FROM smp s2 CROSS JOIN cents${t - 1} c GROUP BY pos
        |    ) m ON m.pos = s.pos
        |    ORDER BY m.md DESC, s.pos LIMIT 1))""".stripMargin
    }
    ctes += s"lq0 AS MATERIALIZED (SELECT cid, list_transform(cw, x -> x*1024) AS q FROM cents${nlist - 1})"
    for (i <- 0 until iters) {
      ctes += s"""asg$i AS MATERIALIZED (
        |  SELECT pos, wq, cid FROM (
        |    SELECT s.pos, s.wq, c.cid,
        |      row_number() OVER (PARTITION BY s.pos ORDER BY ${distQ("s.wq", "c.q")}, c.cid) AS r
        |    FROM smp s CROSS JOIN lq$i c)
        |  WHERE r = 1)""".stripMargin
      ctes += s"""upd$i AS MATERIALIZED (
        |  SELECT cid, list((sv*1024)//cnt ORDER BY dim) AS q
        |  FROM (
        |    SELECT cid, dim, CAST(SUM(val) AS BIGINT) AS sv, count(*) AS cnt
        |    FROM (SELECT cid, unnest(wq) AS val, unnest(range(1, len(wq)+1)) AS dim FROM asg$i)
        |    GROUP BY cid, dim)
        |  GROUP BY cid)""".stripMargin
      ctes += s"""lq${i + 1} AS MATERIALIZED (
        |  SELECT c.cid, coalesce(u.q, c.q) AS q
        |  FROM lq$i c LEFT JOIN upd$i u ON u.cid = c.cid)""".stripMargin
    }
    val hnChain = (0 until dim).map(i => s"cvec[${i + 1}]*cvec[${i + 1}]").mkString(" + ")
    ctes += s"""cent AS MATERIALIZED (
      |  SELECT cid, cvec, ($hnChain)/2.0 AS hn
      |  FROM (SELECT cid, list_transform(q, x -> CAST(x AS DOUBLE)/1048576.0 - 4.0) AS cvec FROM lq$iters))""".stripMargin
    val scoreChain = (0 until dim)
      .map(i => s"CAST(e.embedding[${i + 1}] AS DOUBLE)*c.cvec[${i + 1}]").mkString(" + ")
    val selfDot = (0 until dim)
      .map(i => s"CAST(embedding[${i + 1}] AS DOUBLE)*CAST(embedding[${i + 1}] AS DOUBLE)")
      .mkString(" + ")
    val pairDot = (0 until dim)
      .map(i => s"CAST(e_n[${i + 1}] AS DOUBLE)*CAST(e_q[${i + 1}] AS DOUBLE)")
      .mkString(" + ")
    ctes += s"""scored AS MATERIALIZED (
      |  SELECT vec_id, embedding, cid, s,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS r
      |  FROM (
      |    SELECT e.vec_id, e.embedding, c.cid, ($scoreChain) - c.hn AS s
      |    FROM embeddings e CROSS JOIN cent c))""".stripMargin
    ctes += s"nrm AS (SELECT vec_id, sqrt($selfDot) AS n FROM embeddings)"
    ctes += s"""pairs AS (
      |  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
      |         c.embedding AS e_n, p.embedding AS e_q
      |  FROM scored c JOIN scored p ON c.cid = p.cid
      |  WHERE c.r = 1 AND ($corpusFilter) AND p.r <= $nprobe AND $probeFilter AND c.vec_id <> p.vec_id)""".stripMargin
    ctes += s"""rescored AS (
      |  SELECT query_id, neighbor_id,
      |    CASE WHEN nn.n * nq.n > 0 THEN ($pairDot) / (nn.n * nq.n) ELSE 0.0 END AS sim
      |  FROM pairs
      |  JOIN nrm nn ON nn.vec_id = pairs.neighbor_id
      |  JOIN nrm nq ON nq.vec_id = pairs.query_id)""".stripMargin
    ctes += s"""ranked AS (
      |  SELECT query_id, neighbor_id,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |         ORDER BY sim DESC, neighbor_id) AS INT) AS rank
      |  FROM rescored)""".stripMargin
    "WITH " + ctes.mkString(",\n")
  }

  /** DuckDB twin of [[Similarity.lshTopK]] over `embeddings` with
    * probes `vec_id < 10`: regenerates the SAME seeded Gaussian planes
    * as [[graft.functions.HyperplaneBuckets]] (identical draw order)
    * and unrolls every dot product as a left-associated chain of IEEE
    * double multiply-adds — bit-identical to the kernel's fixed
    * left-to-right fold, so bucket assignment and cosine ordering
    * match exactly. Shortest-round-trip double literals (`toString`)
    * re-parse to the same bits in DuckDB's strtod.
    */
  private def lshOracleSql(
      dim: Int, tables: Int, planesPerTable: Int, seed: Long, k: Int): String = {
    val rng = new scala.util.Random(seed)
    val w = Array.fill(tables * planesPerTable * dim)(rng.nextGaussian())
    def planeDot(vec: String, off: Int): String =
      (0 until dim).map(i => s"CAST($vec[${i + 1}] AS DOUBLE)*${w(off + i)}").mkString(" + ")
    def bucketExpr(t: Int): String =
      (0 until planesPerTable).map { p =>
        val off = (t * planesPerTable + p) * dim
        s"(CASE WHEN ${planeDot("embedding", off)} >= 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" + ")
    val bucketCols = (0 until tables).map(t => s"${bucketExpr(t)} AS b$t").mkString(",\n    ")
    val orCond = (0 until tables).map(t => s"c.b$t = p.b$t").mkString(" OR ")
    val selfDot = (0 until dim)
      .map(i => s"CAST(embedding[${i + 1}] AS DOUBLE)*CAST(embedding[${i + 1}] AS DOUBLE)")
      .mkString(" + ")
    val pairDot = (0 until dim)
      .map(i => s"CAST(e_n[${i + 1}] AS DOUBLE)*CAST(e_q[${i + 1}] AS DOUBLE)")
      .mkString(" + ")
    s"""WITH b AS (
       |  SELECT vec_id, embedding,
       |    $bucketCols
       |  FROM embeddings
       |), nrm AS (
       |  SELECT vec_id, sqrt($selfDot) AS n FROM embeddings
       |), cand AS (
       |  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         c.embedding AS e_n, p.embedding AS e_q
       |  FROM b c JOIN b p
       |    ON p.vec_id < 10 AND c.vec_id <> p.vec_id
       |   AND ($orCond)
       |), scored AS (
       |  SELECT query_id, neighbor_id,
       |    CASE WHEN nn.n * nq.n > 0 THEN ($pairDot) / (nn.n * nq.n) ELSE 0.0 END AS sim
       |  FROM cand
       |  JOIN nrm nn ON nn.vec_id = cand.neighbor_id
       |  JOIN nrm nq ON nq.vec_id = cand.query_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |         ORDER BY sim DESC, neighbor_id) AS INT) AS rank
       |  FROM scored
       |)
       |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB twin of [[Similarity.multiProbeLshTopK]]: the
    * [[lshOracleSql]] bucket replay with each table's match condition
    * widened to the probe's base bucket plus its `flips` one-bit-XOR
    * perturbations.
    */
  private def multiProbeLshOracleSql(
      dim: Int, tables: Int, planesPerTable: Int, flips: Int,
      seed: Long, k: Int): String = {
    val rng = new scala.util.Random(seed)
    val w = Array.fill(tables * planesPerTable * dim)(rng.nextGaussian())
    def planeDot(vec: String, off: Int): String =
      (0 until dim).map(i => s"CAST($vec[${i + 1}] AS DOUBLE)*${w(off + i)}").mkString(" + ")
    def bucketExpr(t: Int): String =
      (0 until planesPerTable).map { p =>
        val off = (t * planesPerTable + p) * dim
        s"(CASE WHEN ${planeDot("embedding", off)} >= 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" + ")
    val bucketCols = (0 until tables).map(t => s"${bucketExpr(t)} AS b$t").mkString(",\n    ")
    val orCond = (0 until tables).map { t =>
      val probeSet = (s"p.b$t" +:
        (0 until flips).map(j => s"xor(p.b$t, ${1L << j})")).mkString(", ")
      s"c.b$t IN ($probeSet)"
    }.mkString(" OR ")
    val selfDot = (0 until dim)
      .map(i => s"CAST(embedding[${i + 1}] AS DOUBLE)*CAST(embedding[${i + 1}] AS DOUBLE)")
      .mkString(" + ")
    val pairDot = (0 until dim)
      .map(i => s"CAST(e_n[${i + 1}] AS DOUBLE)*CAST(e_q[${i + 1}] AS DOUBLE)")
      .mkString(" + ")
    s"""WITH b AS (
       |  SELECT vec_id, embedding,
       |    $bucketCols
       |  FROM embeddings
       |), nrm AS (
       |  SELECT vec_id, sqrt($selfDot) AS n FROM embeddings
       |), cand AS (
       |  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         c.embedding AS e_n, p.embedding AS e_q
       |  FROM b c JOIN b p
       |    ON p.vec_id < 10 AND c.vec_id <> p.vec_id
       |   AND ($orCond)
       |), scored AS (
       |  SELECT query_id, neighbor_id,
       |    CASE WHEN nn.n * nq.n > 0 THEN ($pairDot) / (nn.n * nq.n) ELSE 0.0 END AS sim
       |  FROM cand
       |  JOIN nrm nn ON nn.vec_id = cand.neighbor_id
       |  JOIN nrm nq ON nq.vec_id = cand.query_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |         ORDER BY sim DESC, neighbor_id) AS INT) AS rank
       |  FROM scored
       |)
       |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }


  /** Two-stage Matryoshka search shared by `ann_matryoshka_topk` and
    * the recall eval: prefix-16 shortlist of `shortK`, full-64 exact
    * cosine rerank to `k`, probes = vec_id < 10.
    */
  private def matryoshkaTopK(
      emb: org.apache.spark.sql.DataFrame, shortK: Int, k: Int): org.apache.spark.sql.DataFrame = {
    def pre(c: org.apache.spark.sql.Column) = slice(c, 1, 16)
    val cPre = emb.select(col("vec_id").as("neighbor_id"),
      pre(col("embedding")).as("v16"),
      Similarity.l2Norm(pre(col("embedding"))).as("n16"))
    val pPre = emb.filter(col("vec_id") < 10).select(
      col("vec_id").as("query_id"),
      pre(col("embedding")).as("q16"),
      Similarity.l2Norm(pre(col("embedding"))).as("q16n"))
    val short = graft.plans.TopKPerGroup(
      cPre.crossJoin(broadcast(pPre))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("pre_sim",
          Similarity.cosineFromNorms(col("v16"), col("q16"), col("n16"), col("q16n")))
        .select(col("query_id"), col("neighbor_id"), col("pre_sim")),
      Seq("query_id"), Seq(("pre_sim", true), ("neighbor_id", false)), shortK)
      .select(col("query_id"), col("neighbor_id"))
    val full = emb.select(col("vec_id"), col("embedding"),
      Similarity.l2Norm(col("embedding")).as("nrm"))
    val rescored = short
      .join(Similarity.side(full, "vec_id", "embedding", col("nrm"), "neighbor_id", "n"),
        Seq("neighbor_id"))
      .join(Similarity.side(full, "vec_id", "embedding", col("nrm"), "query_id", "q"),
        Seq("query_id"))
      .withColumn("cosine_sim", Similarity.sideCosine("n", "q"))
    Similarity.topKPerQuery(
      rescored.select(col("query_id"), col("neighbor_id"), col("cosine_sim")),
      ("cosine_sim", true), k)
  }

  /** Oracle CTE chain of the Matryoshka search up to `ranked(query_id,
    * neighbor_id, rank)` — both stages as the proven unrolled-IEEE
    * double chains (16-term prefix, 64-term full).
    */
  private def matryoshkaCtes(shortK: Int): String = {
    def chain(n: Int, a: String, b: String) = (0 until n)
      .map(i => s"CAST($a[${i + 1}] AS DOUBLE)*CAST($b[${i + 1}] AS DOUBLE)")
      .mkString(" + ")
    s"""WITH n16 AS (SELECT vec_id, sqrt(${chain(16, "embedding", "embedding")}) AS n FROM embeddings),
       |nfull AS (SELECT vec_id, sqrt(${chain(64, "embedding", "embedding")}) AS n FROM embeddings),
       |pre AS (
       |  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    CASE WHEN nn.n * nq.n > 0 THEN (${chain(16, "c.embedding", "p.embedding")}) / (nn.n * nq.n)
       |         ELSE 0.0 END AS pre_sim
       |  FROM embeddings c
       |  CROSS JOIN embeddings p
       |  JOIN n16 nn ON nn.vec_id = c.vec_id
       |  JOIN n16 nq ON nq.vec_id = p.vec_id
       |  WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id),
       |short AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY pre_sim DESC, neighbor_id) AS rk
       |    FROM pre) t WHERE rk <= $shortK),
       |rescored AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    CASE WHEN nn.n * nq.n > 0 THEN (${chain(64, "e_n", "e_q")}) / (nn.n * nq.n)
       |         ELSE 0.0 END AS sim
       |  FROM short s
       |  JOIN (SELECT vec_id, embedding AS e_n FROM embeddings) en ON en.vec_id = s.neighbor_id
       |  JOIN (SELECT vec_id, embedding AS e_q FROM embeddings) eq ON eq.vec_id = s.query_id
       |  JOIN nfull nn ON nn.vec_id = s.neighbor_id
       |  JOIN nfull nq ON nq.vec_id = s.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, neighbor_id) AS INT) AS rank
       |  FROM rescored)""".stripMargin
  }


  val defs: Map[String, QueryDef] = Map(

    // ------------------------------------------------------------------
    // Token counting: whitespace + BPE-ish regex + char stats.
    "text_token_stats" -> QueryDef(
      (s, dir) =>
        Tables.documents(s, dir).select(
          col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_tokens"),
          TextOps.bpeIshTokenCount(col("text")).as("n_bpeish"),
          TextOps.punctRatio(col("text")).as("punct_ratio"),
          TextOps.meanTokenLen(col("text")).as("mean_token_len"))
          .orderBy(col("doc_id")),
      s"""SELECT doc_id,
         |  CAST(len($toksSql) AS INT) AS n_tokens,
         |  CAST(len(regexp_extract_all(coalesce(text, ''), '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS INT) AS n_bpeish,
         |  CASE WHEN len(coalesce(text, '')) > 0
         |       THEN CAST(len(regexp_extract_all(coalesce(text, ''), '[^A-Za-z0-9\\s]')) AS DOUBLE) / len(coalesce(text, ''))
         |       ELSE 0.0 END AS punct_ratio,
         |  CASE WHEN len($toksSql) > 0
         |       THEN CAST(len(regexp_replace(coalesce(text, ''), '\\s+', '', 'g')) AS DOUBLE) / len($toksSql)
         |       ELSE 0.0 END AS mean_token_len
         |FROM documents
         |ORDER BY doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // Collocation mining: top bigrams by LIFT = P(xy)/(P(x)P(y)),
    // stated as c_xy*N/(c_x*c_y) in a fixed IEEE operation order so
    // both engines produce bit-identical doubles (no transcendentals —
    // PMI's log is monotone in lift, so ranking is unchanged). The
    // min-count filter runs BEFORE the two vocab joins: at corpus
    // scale the bigram-type table shrinks ~100× there, and both joins
    // key on already-aggregated type counts (one row per type, so
    // Zipf-head tokens cannot skew a partition).
    "text_collocations" -> QueryDef(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val unic = docs
          .select(explode(
            graft.functions.exprs.wordNgramsAll(col("text"), 1)).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("c"))
        // total tokens from the vocab counts — no second corpus pass
        val tot = unic.agg(sum(col("c")).as("n_total"))
        docs
          .select(explode(
            graft.functions.exprs.wordNgramsAll(col("text"), 2)).as("bigram"))
          .groupBy(col("bigram")).agg(count(lit(1)).as("c_xy"))
          .filter(col("c_xy") >= 5)
          .withColumn("x", split(col("bigram"), " ").getItem(0))
          .withColumn("y", split(col("bigram"), " ").getItem(1))
          .join(unic.select(col("tok").as("x"), col("c").as("c_x")), Seq("x"))
          .join(unic.select(col("tok").as("y"), col("c").as("c_y")), Seq("y"))
          .crossJoin(broadcast(tot))
          .select(
            col("bigram"), col("c_xy"), col("c_x"), col("c_y"),
            (col("c_xy").cast("double") * col("n_total").cast("double") /
              col("c_x").cast("double") / col("c_y").cast("double")).as("lift"))
          .orderBy(col("lift").desc, col("bigram"))
          .limit(50)
      },
      s"""WITH toks AS (
         |  SELECT $toksSql AS tk FROM documents),
         |unic AS (
         |  SELECT tok, COUNT(*) AS c
         |  FROM (SELECT unnest(tk) AS tok FROM toks) GROUP BY tok),
         |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM unic),
         |bic AS (
         |  SELECT bg AS bigram, COUNT(*) AS c_xy FROM (
         |    SELECT unnest(list_transform(range(1, len(tk)),
         |                                 i -> tk[i] || ' ' || tk[i+1])) AS bg
         |    FROM toks) GROUP BY bg
         |  HAVING COUNT(*) >= 5)
         |SELECT bigram, c_xy, cx.c AS c_x, cy.c AS c_y,
         |  CAST(c_xy AS DOUBLE) * CAST(n_total AS DOUBLE)
         |    / CAST(cx.c AS DOUBLE) / CAST(cy.c AS DOUBLE) AS lift
         |FROM bic
         |JOIN unic cx ON cx.tok = string_split(bigram, ' ')[1]
         |JOIN unic cy ON cy.tok = string_split(bigram, ' ')[2]
         |CROSS JOIN tot
         |ORDER BY lift DESC, bigram
         |LIMIT 50""".stripMargin),

    // ------------------------------------------------------------------
    // Per-language heavy hitters: vocabulary counts shuffled once on
    // (lang, token), then the native TopKPerGroup bounded heaps pick
    // each language's top 5 — corpus-size-independent state per
    // group, no per-language sort. The per-group form of the global
    // text_vocabulary top-k.
    "top_tokens_per_lang" -> QueryDef(
      (s, dir) =>
        graft.plans.TopKPerGroup(
          Tables.documents(s, dir)
            .select(col("lang"),
              explode(graft.functions.exprs.wordNgramsAll(col("text"), 1)).as("tok"))
            .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c")),
          groupCols = Seq("lang"),
          orderSpecs = Seq(("c", true), ("tok", false)),
          k = 5)
          .orderBy(col("lang"), col("topk_rank")),
      s"""WITH v AS (
         |  SELECT lang, unnest($toksSql) AS tok FROM documents),
         |c AS (SELECT lang, tok, COUNT(*) AS c FROM v GROUP BY 1, 2)
         |SELECT lang, tok, c,
         |  CAST(row_number() OVER (PARTITION BY lang ORDER BY c DESC, tok) AS INT) AS topk_rank
         |FROM c QUALIFY topk_rank <= 5
         |ORDER BY lang, topk_rank""".stripMargin),

    // ------------------------------------------------------------------
    // Cross-source vocabulary overlap (corpus-contamination QA): the
    // pairwise Jaccard matrix of source vocabularies via an inverted
    // index on the token — each token emits its source pairs, so the
    // join work is Σ|sources(token)|², never |V_a|×|V_b|; the
    // source-pair grid after aggregation is tiny (S²/2 rows). Jaccard
    // is fixed-order IEEE over exact counts.
    "source_vocab_overlap" -> QueryDef(
      (s, dir) => {
        val v = Tables.documents(s, dir)
          .select(col("source"),
            explode(graft.functions.exprs.wordNgrams(col("text"), 1)).as("tok"))
          .distinct()
        val sizes = v.groupBy(col("source")).agg(count(lit(1)).as("nv"))
        v.select(col("source").as("src_a"), col("tok"))
          .join(v.select(col("source").as("src_b"), col("tok")), Seq("tok"))
          .filter(col("src_a") < col("src_b"))
          .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n_common"))
          .join(broadcast(sizes.select(col("source").as("src_a"), col("nv").as("n_a"))), Seq("src_a"))
          .join(broadcast(sizes.select(col("source").as("src_b"), col("nv").as("n_b"))), Seq("src_b"))
          .select(
            col("src_a"), col("src_b"), col("n_common"), col("n_a"), col("n_b"),
            (col("n_common").cast("double") /
              (col("n_a").cast("double") + col("n_b").cast("double") -
                col("n_common").cast("double"))).as("jaccard"))
          .orderBy(col("src_a"), col("src_b"))
      },
      s"""WITH v AS (
         |  SELECT DISTINCT source, unnest($toksSql) AS tok FROM documents),
         |sizes AS (SELECT source, COUNT(*) AS nv FROM v GROUP BY 1),
         |inter AS (
         |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
         |  FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT src_a, src_b, n_common, sa.nv AS n_a, sb.nv AS n_b,
         |  CAST(n_common AS DOUBLE)
         |    / (CAST(sa.nv AS DOUBLE) + CAST(sb.nv AS DOUBLE) - CAST(n_common AS DOUBLE)) AS jaccard
         |FROM inter JOIN sizes sa ON sa.source = src_a
         |           JOIN sizes sb ON sb.source = src_b
         |ORDER BY src_a, src_b""".stripMargin),

    // ------------------------------------------------------------------
    // Deterministic negative sampling (contrastive pairs): 3 hash-
    // drawn negatives per doc via md5-lower63(doc_id:draw) mod N over
    // a dense rank — no RNG state, reproducible across engines and
    // layouts; the oracle restates the identical draw with a window
    // rank. Self-draws excluded (deterministically) on both sides.
    "negative_sampling" -> QueryDef(
      (s, dir) =>
        NegativeSampling.draw(
          Tables.documents(s, dir).select(col("doc_id")), "doc_id", k = 3)
          .orderBy(col("doc_id"), col("draw_idx")),
      s"""WITH ids AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rk
         |  FROM documents
         |),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |draws AS (
         |  SELECT d.doc_id, i.i AS draw_idx,
         |    (${md5_63("d.doc_id || ':' || i.i")} %
         |      (SELECT n_docs FROM n)) + 1 AS rk
         |  FROM documents d, (SELECT unnest(range(0, 3)) AS i) i
         |)
         |SELECT dr.doc_id, dr.draw_idx, ids.doc_id AS neg_id
         |FROM draws dr JOIN ids ON dr.rk = ids.rk
         |WHERE ids.doc_id <> dr.doc_id
         |ORDER BY dr.doc_id, dr.draw_idx""".stripMargin),

    // ------------------------------------------------------------------
    // Sequence packing (concat-and-chunk, the GPT-style pretraining
    // layout): concatenate docs in id order, slice into fixed
    // 2048-token sequences; each doc reports its sequence id and
    // offset. The cumsum driving it is the DISTRIBUTED exclusive
    // prefix sum (PrefixSum: range-partition + per-partition offsets
    // — never a single-partition global window); the oracle states
    // the same packing via DuckDB's window cumsum.
    "sequence_packing" -> QueryDef(
      (s, dir) => {
        val toks = Tables.documents(s, dir).select(
          col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        PrefixSum.withExclusivePrefix(toks, Seq(col("doc_id")), "n_tokens", "start_tok")
          .select(
            col("doc_id"), col("n_tokens"),
            expr("start_tok div 2048").as("seq_id"),
            (col("start_tok") % 2048).as("seq_offset"))
          .orderBy(col("doc_id"))
      },
      // CAST back to BIGINT: SUM(BIGINT) OVER widens to HUGEINT in
      // DuckDB, which pandas fetchdf renders as float64 and the
      // driver's value hash then sees 0.0 vs 0 (the 3-round r3-r5
      // gate red; shard_packing_layout's cast form was always green).
      s"""SELECT doc_id, n AS n_tokens,
         |  CAST((cum - n) // 2048 AS BIGINT) AS seq_id,
         |  CAST((cum - n) % 2048 AS BIGINT) AS seq_offset
         |FROM (
         |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n,
         |    SUM(CAST(len($toksSql) AS BIGINT)) OVER (
         |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // TRIPWIRE for the packing gate (VERDICT r4 #2): the same
    // distributed exclusive prefix sum, but over octet_length(text) —
    // NO tokenizer anywhere in the loop. If sequence_packing ever
    // hash-mismatches again while this row stays green, tokenization
    // diverged; if both red, the cumsum did. One round localizes it.
    "prefix_sum_bytes" -> QueryDef(
      (s, dir) => {
        val sized = Tables.documents(s, dir).select(
          col("doc_id"),
          octet_length(coalesce(col("text"), lit(""))).cast("long").as("n_bytes"))
        PrefixSum.withExclusivePrefix(sized, Seq(col("doc_id")), "n_bytes", "start_byte")
          .orderBy(col("doc_id"))
      },
      """SELECT doc_id,
        |  CAST(strlen(coalesce(text, '')) AS BIGINT) AS n_bytes,
        |  CAST(COALESCE(SUM(strlen(coalesce(text, ''))) OVER (
        |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    0) AS BIGINT) AS start_byte
        |FROM documents
        |ORDER BY doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // PII redaction: the driver corpus carries no PII, so the query
    // salts each doc with deterministic doc_id-derived PII (email +
    // dotted-quad + phone) and redacts it — both engines build the
    // same string, so the scrub is exercised for real and compared
    // byte-exact. Redacted text sorts by doc_id (non-null int key).
    "text_redact_pii" -> QueryDef(
      (s, dir) => {
        val salted = Tables.documents(s, dir).select(
          col("doc_id"),
          concat(
            col("text"),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com at 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".7 or +51 987 654 321")).as("raw"))
        salted.select(
          col("doc_id"), TextOps.redactPii(col("raw")).as("redacted"))
          .orderBy(col("doc_id"))
      },
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(
        |    text || ' contact user' || doc_id || '@example.com at 10.0.' ||
        |      (doc_id % 256) || '.7 or +51 987 654 321',
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+?\d[\d\- ]{7,}\d', '<PHONE>', 'g') AS redacted
        |FROM documents
        |ORDER BY doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // Corpus vocabulary: doc-freq + occurrence counts per token,
    // min-df filtered, deterministic top-k (TakeOrderedAndProject).
    // Two sequential shuffles — never a mixed distinct+plain agg.
    // ASCII-only token filter keeps the deterministic top-k cut's
    // tie-break collation-safe across engines (same guard as
    // text_tfidf; CLAUDE.md sort-key invariant).
    "text_vocabulary" -> QueryDef(
      (s, dir) =>
        TextOps.vocabulary(
          Tables.documents(s, dir), "doc_id", "text", minDf = 2, topK = 200,
          tokenPattern = Some("^[a-z0-9]+$")),
      s"""WITH tok AS (
         |  SELECT doc_id, token FROM (
         |    SELECT doc_id, unnest($toksSql) AS token FROM documents
         |  ) WHERE regexp_matches(token, '^[a-z0-9]+$$')
         |), perdoc AS (
         |  SELECT token, doc_id, COUNT(*) AS n FROM tok GROUP BY 1, 2
         |), stats AS (
         |  SELECT token, CAST(COUNT(*) AS BIGINT) AS doc_freq,
         |         CAST(SUM(n) AS BIGINT) AS n_occurrences
         |  FROM perdoc GROUP BY 1
         |)
         |SELECT token, doc_freq, n_occurrences FROM stats
         |WHERE doc_freq >= 2
         |ORDER BY doc_freq DESC, n_occurrences DESC, token
         |LIMIT 200""".stripMargin),

    // ------------------------------------------------------------------
    // Vocabulary-coverage encoding: how much of each doc a bounded
    // top-10 vocab can encode (OOV complement). Vocab is broadcast —
    // the token stream never shuffles on the token.
    "text_vocab_encode" -> QueryDef(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val vocab = TextOps.vocabulary(
          docs, "doc_id", "text", minDf = 2, topK = 10,
          tokenPattern = Some("^[a-z0-9]+$"))
        TextOps.vocabCoverage(docs, "doc_id", "text", vocab)
          .orderBy(col("doc_id"))
      },
      s"""WITH tok AS (
         |  SELECT doc_id, token FROM (
         |    SELECT doc_id, unnest($toksSql) AS token FROM documents
         |  ) WHERE regexp_matches(token, '^[a-z0-9]+$$')
         |), perdoc AS (
         |  SELECT token, doc_id, COUNT(*) AS n FROM tok GROUP BY 1, 2
         |), vocab AS (
         |  SELECT token FROM (
         |    SELECT token, COUNT(*) AS doc_freq, SUM(n) AS n_occurrences
         |    FROM perdoc GROUP BY 1)
         |  WHERE doc_freq >= 2
         |  ORDER BY doc_freq DESC, n_occurrences DESC, token LIMIT 10
         |), alltok AS (
         |  SELECT doc_id, unnest($toksSql) AS token FROM documents
         |), cov AS (
         |  SELECT a.doc_id, count(*) AS n_tokens, count(v.token) AS n_in_vocab
         |  FROM alltok a LEFT JOIN vocab v ON a.token = v.token GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(coalesce(c.n_tokens, 0) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(c.n_in_vocab, 0) AS BIGINT) AS n_in_vocab,
         |  CASE WHEN coalesce(c.n_tokens, 0) > 0
         |       THEN CAST(c.n_in_vocab AS DOUBLE) / c.n_tokens ELSE 0.0 END AS vocab_coverage
         |FROM documents d LEFT JOIN cov c ON c.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // Fixed-bucket value histogram over the event stream: bucket id is
    // closed-form floor arithmetic (map-side), one hash agg — the
    // standard distribution profile at any scale.
    "value_histogram" -> QueryDef(
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy(least(floor(col("value") / 50), lit(9L)).cast("int").as("bucket"))
          .agg(
            count(lit(1)).as("n_events"),
            Money.decSum(col("value"), 2).as("total_value"))
          .orderBy(col("bucket")),
      s"""SELECT CAST(least(floor(value / 50), 9) AS INT) AS bucket,
         |  COUNT(*) AS n_events,
         |  ${decSumSql("value", 2)} AS total_value
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // ------------------------------------------------------------------
    // TF-IDF with rational idf — every arithmetic step is a
    // correctly-rounded IEEE op, so scores hash-match DuckDB exactly
    // (an ln-based idf would not: libm ln isn't correctly rounded).
    // ASCII-only token filter keeps the ORDER BY collation-safe.
    "text_tfidf" -> QueryDef(
      (s, dir) =>
        TextOps.tfidf(Tables.documents(s, dir), "doc_id", "text", minDf = 5)
          .filter(col("doc_id") < 50 && col("token").rlike("^[a-z0-9]+$"))
          .orderBy(col("doc_id"), col("token")),
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($toksSql) AS token FROM documents
         |), tf AS (
         |  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM tok GROUP BY 1, 2
         |), dl AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS doc_len
         |  FROM tok GROUP BY 1
         |), dfq AS (
         |  SELECT token, CAST(COUNT(*) AS BIGINT) AS doc_freq
         |  FROM tf GROUP BY 1 HAVING COUNT(*) >= 5
         |), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
         |SELECT tf.doc_id, tf.token, tf.tf,
         |  (CAST(tf.tf AS DOUBLE) / dl.doc_len)
         |    * (CAST(n.n_docs AS DOUBLE) / dfq.doc_freq) AS tfidf
         |FROM tf
         |JOIN dl ON tf.doc_id = dl.doc_id
         |JOIN dfq ON tf.token = dfq.token
         |CROSS JOIN n
         |WHERE tf.doc_id < 50 AND regexp_matches(tf.token, '^[a-z0-9]+$$')
         |ORDER BY tf.doc_id, tf.token""".stripMargin),

    // ------------------------------------------------------------------
    // Okapi BM25 top-10 for the 3-term probe query {data, query,
    // spark} (TextOps.bm25): per-term scores pivot into fixed columns
    // and total in fixed textual order (s_data + s_query + s_spark —
    // never a SUM over doubles), so the ranking hash-matches DuckDB.
    // The term filter prunes the tf/doc_freq aggregates through their
    // group keys; avgdl and n_docs ride broadcast 1-row relations.
    "bm25_topk" -> QueryDef(
      (s, dir) => {
        val probe = Seq("data", "query", "spark")
        val scored = TextOps.bm25(Tables.documents(s, dir), "doc_id", "text")
          .filter(col("token").isin(probe: _*))
        scored.groupBy(col("doc_id"))
          .agg(
            coalesce(max(when(col("token") === "data", col("bm25"))), lit(0.0)).as("s_data"),
            coalesce(max(when(col("token") === "query", col("bm25"))), lit(0.0)).as("s_query"),
            coalesce(max(when(col("token") === "spark", col("bm25"))), lit(0.0)).as("s_spark"))
          .withColumn("score", col("s_data") + col("s_query") + col("s_spark"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(10)
      },
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($toksSql) AS token FROM documents
         |), tf AS (
         |  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM tok GROUP BY 1, 2
         |), dl AS (
         |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS doc_len
         |  FROM tf GROUP BY 1
         |), dfq AS (
         |  SELECT token, CAST(COUNT(*) AS BIGINT) AS doc_freq
         |  FROM tf WHERE token IN ('data', 'query', 'spark') GROUP BY 1
         |), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
         |tl AS (SELECT CAST(SUM(doc_len) AS BIGINT) AS total_len FROM dl),
         |sc AS (
         |  SELECT tf.doc_id, tf.token,
         |    (CAST(n.n_docs AS DOUBLE) / dfq.doc_freq) *
         |    ((CAST(tf.tf AS DOUBLE) * (1.2 + 1.0)) /
         |     (CAST(tf.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 +
         |       (0.75 * CAST(dl.doc_len AS DOUBLE)) /
         |       (CAST(tl.total_len AS DOUBLE) / n.n_docs)))) AS bm25
         |  FROM tf
         |  JOIN dl ON tf.doc_id = dl.doc_id
         |  JOIN dfq ON tf.token = dfq.token
         |  CROSS JOIN n CROSS JOIN tl
         |  WHERE tf.token IN ('data', 'query', 'spark')
         |), p AS (
         |  SELECT doc_id,
         |    coalesce(max(CASE WHEN token = 'data' THEN bm25 END), 0.0) AS s_data,
         |    coalesce(max(CASE WHEN token = 'query' THEN bm25 END), 0.0) AS s_query,
         |    coalesce(max(CASE WHEN token = 'spark' THEN bm25 END), 0.0) AS s_spark
         |  FROM sc GROUP BY 1)
         |SELECT doc_id, s_data, s_query, s_spark,
         |  s_data + s_query + s_spark AS score
         |FROM p ORDER BY score DESC, doc_id LIMIT 10""".stripMargin),

    // ------------------------------------------------------------------
    // URL canonicalization + host-grain governance (UrlCanon kernel):
    // web-corpus hygiene — orders synthesize 4 URL variants per key
    // (case/default-port, tracking params in shuffled order, fragment)
    // that must collapse under canonicalization; dedup keeps the
    // min-id copy per canonical URL, and each host's share is capped
    // at 25 canonical docs in deterministic md5 order (the
    // class-balanced sampling pattern). The oracle restates the
    // kernel's DEFINING split/sort chain in DuckDB. Canonicalization
    // is map-only; dedup is one canon_url-keyed agg; the cap is a
    // per-host window over the already-deduped (host-bounded) frame.
    "url_canonical_dedup" -> QueryDef(
      (s, dir) => {
        import graft.functions.exprs
        val host0 = element_at(
          array(lit("shop.example.com"), lit("blog.example.com"), lit("docs.example.com")),
          (col("o_orderkey") % 3 + 1).cast("int"))
        val item = (col("o_orderkey") % 100).cast("string")
        val v = col("o_orderkey") % 4
        val url =
          when(v === 0, concat(lit("http://"), host0, lit("/item/"), item))
            .when(v === 1, concat(lit("HTTP://"), upper(host0), lit(":80/item/"), item))
            .when(v === 2, concat(lit("http://"), host0, lit("/item/"), item,
              lit("?b=2&a=1&utm_source=mail&fbclid=xyz")))
            .otherwise(concat(lit("http://"), host0, lit("/item/"), item,
              lit("?a=1&b=2#frag")))
        val ded = Tables.orders(s, dir)
          .select(col("o_orderkey").as("id"), exprs.urlCanon(url).as("canon_url"))
          .groupBy(col("canon_url"))
          .agg(count(lit(1)).as("n_variants"), min(col("id")).as("keeper_id"))
          .withColumn("host", regexp_extract(col("canon_url"), "://([^/?]*)", 1))
        val w = Window.partitionBy(col("host"))
          .orderBy(md5(col("canon_url")), col("canon_url"))
        ded.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 25)
          .select(col("host"), col("rk"), col("canon_url"),
            col("keeper_id"), col("n_variants"))
          .orderBy(col("host"), col("rk"))
      },
      """WITH u0 AS (
        |  SELECT o_orderkey AS id,
        |    CASE WHEN o_orderkey % 4 = 0
        |           THEN 'http://' || h || '/item/' || CAST(o_orderkey % 100 AS VARCHAR)
        |         WHEN o_orderkey % 4 = 1
        |           THEN 'HTTP://' || upper(h) || ':80/item/' || CAST(o_orderkey % 100 AS VARCHAR)
        |         WHEN o_orderkey % 4 = 2
        |           THEN 'http://' || h || '/item/' || CAST(o_orderkey % 100 AS VARCHAR)
        |                || '?b=2&a=1&utm_source=mail&fbclid=xyz'
        |         ELSE 'http://' || h || '/item/' || CAST(o_orderkey % 100 AS VARCHAR)
        |                || '?a=1&b=2#frag' END AS url
        |  FROM (SELECT o_orderkey,
        |          CASE o_orderkey % 3 WHEN 0 THEN 'shop.example.com'
        |               WHEN 1 THEN 'blog.example.com'
        |               ELSE 'docs.example.com' END AS h
        |        FROM orders) t),
        |a AS (SELECT id, split_part(url, '#', 1) AS nf FROM u0),
        |b AS (SELECT id, nf, strpos(nf, '://') AS sp FROM a),
        |c AS (SELECT id, nf, sp,
        |        lower(substr(nf, 1, CAST(sp AS INT) - 1)) AS scheme,
        |        CASE WHEN sp = 0 THEN '' ELSE substr(nf, CAST(sp AS INT) + 3) END AS rest
        |      FROM b),
        |d AS (SELECT id, nf, sp, scheme, rest,
        |        regexp_extract(rest, '^[^/?]*', 0) AS hp FROM c),
        |e AS (SELECT id, nf, sp, scheme, lower(hp) AS hl,
        |        substr(rest, CAST(len(hp) AS INT) + 1) AS pathq FROM d),
        |f AS (SELECT id, nf, sp, scheme,
        |        CASE WHEN scheme = 'http' AND ends_with(hl, ':80')
        |               THEN substr(hl, 1, CAST(len(hl) AS INT) - 3)
        |             WHEN scheme = 'https' AND ends_with(hl, ':443')
        |               THEN substr(hl, 1, CAST(len(hl) AS INT) - 4)
        |             ELSE hl END AS host0,
        |        split_part(pathq, '?', 1) AS path,
        |        CASE WHEN strpos(pathq, '?') = 0 THEN ''
        |             ELSE substr(pathq, CAST(strpos(pathq, '?') AS INT) + 1) END AS q
        |      FROM e),
        |g AS (SELECT id, nf, sp, scheme, host0, path,
        |        coalesce(array_to_string(list_sort(list_filter(string_split(q, '&'), p ->
        |          len(p) > 0 AND NOT starts_with(p, 'utm_')
        |          AND split_part(p, '=', 1) NOT IN ('fbclid', 'gclid', 'ref'))), '&'), '') AS q2
        |      FROM f),
        |canon AS (
        |  SELECT id, CASE WHEN sp = 0 THEN lower(nf) ELSE
        |    scheme || '://' || host0 ||
        |    (CASE WHEN path = '' THEN '/' ELSE path END) ||
        |    (CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END) END AS canon_url
        |  FROM g),
        |ded AS (
        |  SELECT canon_url, CAST(count(*) AS BIGINT) AS n_variants,
        |         CAST(min(id) AS BIGINT) AS keeper_id
        |  FROM canon GROUP BY 1),
        |hh AS (SELECT canon_url, n_variants, keeper_id,
        |         regexp_extract(canon_url, '://([^/?]*)', 1) AS host FROM ded),
        |rk AS (SELECT host, canon_url, keeper_id, n_variants,
        |         row_number() OVER (PARTITION BY host ORDER BY md5(canon_url), canon_url) AS rk
        |       FROM hh)
        |SELECT host, CAST(rk AS INT) AS rk, canon_url, keeper_id, n_variants
        |FROM rk WHERE rk <= 25
        |ORDER BY host, rk""".stripMargin),

    // ------------------------------------------------------------------
    // RAG chunking with overlap — the retrieval-indexing prep every
    // RAG stack runs: sliding 64-token windows at stride 16 (48-token
    // overlap) per document, each chunk fingerprinted for downstream
    // embedding/dedup. Entirely map-side (explode of a bounded start
    // sequence + array slices); chunk count is ⌈len/stride⌉ per doc,
    // so output scales linearly with token mass — the only exchange
    // is the final sort.
    "rag_chunk_overlap" -> QueryDef(
      (s, dir) => {
        val window = 64
        val stride = 16
        Tables.documents(s, dir)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
          .filter(size(col("toks")) > 0)
          .select(col("doc_id"), col("toks"),
            explode(expr(s"sequence(0, size(toks) - 1, $stride)")).as("start_tok"))
          .select(
            col("doc_id"),
            expr(s"CAST(start_tok div $stride AS INT)").as("chunk_idx"),
            col("start_tok").cast("int"),
            expr(s"slice(toks, start_tok + 1, $window)").as("chunk"))
          .select(
            col("doc_id"), col("chunk_idx"), col("start_tok"),
            size(col("chunk")).as("n_tokens"),
            md5(array_join(col("chunk"), " ")).as("chunk_md5"))
          .orderBy(col("doc_id"), col("chunk_idx"))
      },
      s"""WITH tk AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents),
         |st AS (
         |  SELECT doc_id, toks, CAST(i AS INT) AS start_tok
         |  FROM tk, unnest(range(0, len(toks), 16)) t(i)
         |  WHERE len(toks) > 0),
         |ch AS (
         |  SELECT doc_id, CAST(start_tok // 16 AS INT) AS chunk_idx, start_tok,
         |    toks[start_tok + 1 : start_tok + 64] AS chunk
         |  FROM st)
         |SELECT doc_id, chunk_idx, start_tok,
         |  CAST(len(chunk) AS INT) AS n_tokens,
         |  md5(array_to_string(chunk, ' ')) AS chunk_md5
         |FROM ch
         |ORDER BY doc_id, chunk_idx""".stripMargin),

    // ------------------------------------------------------------------
    // CURRICULUM difficulty shards: order held-out docs easy→hard by
    // the bigram-LM bits score and cut 8 exact NTILE shards — the
    // schedule a curriculum-learning run consumes. Ranking rides
    // ExactNtile (range-partition rank + broadcast 1-row total, no
    // single-partition window), so the global order scales; min/max
    // per shard are order-insensitive doubles.
    "curriculum_difficulty_shards" -> QueryDef(
      (s, dir) => {
        // shared checkpointed bigram-LM score artifact (r15)
        val scored = bigramBitsScored(s, dir)
        ExactNtile.withNtile(
          scored.select(col("doc_id"), col("mean_bits")),
          Seq(col("mean_bits"), col("doc_id")), 8, "shard")
          .groupBy(col("shard"))
          .agg(
            count(lit(1)).as("n_docs"),
            min(col("mean_bits")).as("min_bits"),
            max(col("mean_bits")).as("max_bits"))
          .orderBy(col("shard"))
      },
      s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |big AS (
         |  SELECT tk.doc_id, toks[CAST(j AS INT)] AS w1, toks[CAST(j AS INT) + 1] AS w2
         |  FROM tk, unnest(range(1, len(toks))) t(j)),
         |c12 AS (
         |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
         |  FROM big WHERE doc_id % 5 = 0 GROUP BY 1, 2),
         |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM big WHERE doc_id % 5 = 0),
         |sc AS (
         |  SELECT b.doc_id,
         |    CASE WHEN c12.c12 IS NULL THEN length(bin(n.nn))
         |         ELSE length(bin(c1.c1)) - length(bin(c12.c12)) END AS bits
         |  FROM big b
         |  LEFT JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
         |  LEFT JOIN c1 ON b.w1 = c1.w1
         |  CROSS JOIN n
         |  WHERE b.doc_id % 5 <> 0),
         |grp AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |    CAST(sum(bits) AS BIGINT) AS total_bits
         |  FROM sc GROUP BY 1),
         |fin AS (
         |  SELECT d.doc_id,
         |    CASE WHEN coalesce(g.n_bigrams, 0) = 0 THEN 0.0
         |         ELSE CAST(g.total_bits AS DOUBLE) / CAST(g.n_bigrams AS DOUBLE) END AS mean_bits
         |  FROM documents d LEFT JOIN grp g ON d.doc_id = g.doc_id
         |  WHERE d.doc_id % 5 <> 0),
         |sh AS (
         |  SELECT doc_id, mean_bits,
         |    CAST(ntile(8) OVER (ORDER BY mean_bits, doc_id) AS INT) AS shard
         |  FROM fin)
         |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |  min(mean_bits) AS min_bits, max(mean_bits) AS max_bits
         |FROM sh GROUP BY 1 ORDER BY shard""".stripMargin),

    // ------------------------------------------------------------------
    // TOKEN-ID ENCODING — the last mile before tensors: a dense
    // frequency-ranked vocabulary (top 1000 by count, deterministic
    // (cnt desc, token) order) maps every token to its integer id,
    // OOV to 0, and each document becomes its id sequence (pinned
    // byte-exactly via ids_md5). The vocabulary is a bounded model
    // artifact (broadcast join); encoding is one token-keyed join +
    // the doc-grain reassembly agg.
    "token_id_encode" -> QueryDef(
      (s, dir) => {
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"),
            posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "t")))
        val vocab = toks
          .groupBy(col("t")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("t")).limit(1000)
          .withColumn("tid", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("cnt").desc, col("t"))).cast("int"))
          .select(col("t"), col("tid"))
        toks
          .join(broadcast(vocab), Seq("t"), "left")
          .select(col("doc_id"), col("pos"),
            coalesce(col("tid"), lit(0)).as("tid"))
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_tokens"),
            sum(when(col("tid") === 0, 1L).otherwise(0L)).as("n_oov"),
            md5(array_join(
              transform(
                array_sort(collect_list(
                  struct(col("pos"), col("tid").cast("string").as("s")))),
                x => x.getField("s")),
              " ")).as("ids_md5"))
          .orderBy(col("doc_id"))
      },
      s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tok AS (
         |  SELECT doc_id, CAST(i AS INT) AS pos, toks[CAST(i AS INT)] AS t
         |  FROM tk, unnest(range(1, len(toks) + 1)) x(i)),
         |vc AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
         |vocab AS (
         |  SELECT t, CAST(row_number() OVER (ORDER BY cnt DESC, t) AS INT) AS tid
         |  FROM vc ORDER BY cnt DESC, t LIMIT 1000),
         |enc AS (
         |  SELECT tok.doc_id, tok.pos, coalesce(v.tid, 0) AS tid
         |  FROM tok LEFT JOIN vocab v ON v.t = tok.t)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |  md5(string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY pos)) AS ids_md5
         |FROM enc GROUP BY 1 ORDER BY doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // WEAK-SUPERVISION labeling (the Snorkel shape — Ratner et al.,
    // VLDB 2018): four programmatic label functions vote keep(+1)/
    // drop(−1)/abstain(0) per document — quality-score bands, a
    // length-window rule, a stopword-presence rule, and language ID —
    // and the integer vote sum decides. This is how curation rules
    // become labels without hand-annotation; every LF is a map-side
    // kernel, the votes are exact ints, and the decision is
    // sign(sum). No shuffle at all until the final sort.
    "weak_label_votes" -> QueryDef(
      (s, dir) => {
        val d = Tables.documents(s, dir)
          .select(col("doc_id"),
            TextOps.qualityScore(col("text")).as("q"),
            TextOps.tokenCount(col("text")).as("nt"),
            TextOps.stopwordRatio(col("text"), TextOps.englishStopwords).as("swr"),
            TextOps.langId(col("text")).as("lp"))
        d.select(
          col("doc_id"),
          when(col("q") >= 0.75, 1).when(col("q") < 0.4, -1).otherwise(0).as("v_quality"),
          when(col("nt").between(30, 200), 1).otherwise(-1).as("v_length"),
          when(col("swr") >= 0.1, 1).when(col("swr") === 0.0, -1).otherwise(0).as("v_stopword"),
          when(col("lp") === "en", 1).when(col("lp") === "und", 0).otherwise(-1).as("v_lang"))
          .withColumn("vote_sum",
            col("v_quality") + col("v_length") + col("v_stopword") + col("v_lang"))
          .withColumn("n_votes",
            (col("v_quality") =!= 0).cast("int") + (col("v_length") =!= 0).cast("int") +
              (col("v_stopword") =!= 0).cast("int") + (col("v_lang") =!= 0).cast("int"))
          .withColumn("decision",
            when(col("vote_sum") > 0, "keep")
              .when(col("vote_sum") < 0, "drop").otherwise("abstain"))
          .orderBy(col("doc_id"))
      }, {
        val sw = TextOps.englishStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
        val hits = TextOps.langProfiles.map { case (lang, sws) =>
          val arr = sws.map(w => s"'$w'").mkString("[", ", ", "]")
          s"len(list_filter(toks, t -> list_contains($arr, t))) AS ${lang}_hits"
        }.mkString(",\n    ")
        val langs = TextOps.langProfiles.map(_._1)
        val g = langs.map(l => s"${l}_hits").mkString("greatest(", ", ", ")")
        val cases = langs.map(l => s"WHEN ${l}_hits = $g THEN '$l'").mkString("\n      ")
        s"""WITH t AS (
           |  SELECT doc_id, $toksSql AS toks,
           |    len(regexp_replace(coalesce(text, ''), '\\s+', '', 'g')) AS n_chars_nosp,
           |    coalesce(text, '') AS txt
           |  FROM documents),
           |m AS (
           |  SELECT doc_id, CAST(len(toks) AS INT) AS nt,
           |    $hits,
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
           |  SELECT doc_id, nt, swr,
           |    round(
           |      (CASE WHEN mtl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.4
           |      + least(swr * 4.0, 1.0) * 0.3
           |      + greatest(0.0, 1.0 - pr * 4.0) * 0.3, 6) AS q,
           |    CASE WHEN $g = 0 THEN 'und'
           |      $cases
           |    END AS lp
           |  FROM m),
           |v AS (
           |  SELECT doc_id,
           |    CASE WHEN q >= 0.75 THEN 1 WHEN q < 0.4 THEN -1 ELSE 0 END AS v_quality,
           |    CASE WHEN nt BETWEEN 30 AND 200 THEN 1 ELSE -1 END AS v_length,
           |    CASE WHEN swr >= 0.1 THEN 1 WHEN swr = 0.0 THEN -1 ELSE 0 END AS v_stopword,
           |    CASE WHEN lp = 'en' THEN 1 WHEN lp = 'und' THEN 0 ELSE -1 END AS v_lang
           |  FROM sc)
           |SELECT doc_id, v_quality, v_length, v_stopword, v_lang,
           |  v_quality + v_length + v_stopword + v_lang AS vote_sum,
           |  CAST(v_quality <> 0 AS INT) + CAST(v_length <> 0 AS INT)
           |    + CAST(v_stopword <> 0 AS INT) + CAST(v_lang <> 0 AS INT) AS n_votes,
           |  CASE WHEN v_quality + v_length + v_stopword + v_lang > 0 THEN 'keep'
           |       WHEN v_quality + v_length + v_stopword + v_lang < 0 THEN 'drop'
           |       ELSE 'abstain' END AS decision
           |FROM v ORDER BY doc_id""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Chunk-grain QUALITY ROLLUP — how long documents are actually
    // gated (a 100-page doc with one spam chunk shouldn't pass on its
    // average): score every sliding chunk with the quality kernel,
    // roll min/max back to the document (min/max over doubles are
    // order-insensitive — safe where SUM is banned), keep docs whose
    // WORST chunk clears the 0.75 floor (~the 70th percentile, a real split). Composes rag_chunk_overlap's
    // layout with text_quality's scoring; chunking and scoring are
    // map-side, the doc rollup is the only shuffle.
    "chunk_quality_rollup" -> QueryDef(
      (s, dir) => {
        val window = 64
        val stride = 16
        Tables.documents(s, dir)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
          .filter(size(col("toks")) > 0)
          .select(col("doc_id"),
            explode(expr(s"sequence(0, size(toks) - 1, $stride)")).as("start_tok"),
            col("toks"))
          .select(col("doc_id"),
            TextOps.qualityScore(
              array_join(expr(s"slice(toks, start_tok + 1, $window)"), " "))
              .as("q"))
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_chunks"),
            min(col("q")).as("min_q"),
            max(col("q")).as("max_q"))
          .withColumn("keep", col("min_q") >= 0.75)
          .orderBy(col("doc_id"))
      }, {
        val sw = TextOps.englishStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
        s"""WITH tk AS (
           |  SELECT doc_id, $toksSql AS toks FROM documents),
           |ch AS (
           |  SELECT doc_id,
           |    array_to_string(toks[CAST(i AS INT) + 1 : CAST(i AS INT) + 64], ' ') AS txt
           |  FROM tk, unnest(range(0, len(toks), 16)) t(i)
           |  WHERE len(toks) > 0),
           |m AS (
           |  SELECT doc_id,
           |    list_filter(string_split_regex(lower(txt), '\\s+'), x -> len(x) > 0) AS ctoks,
           |    len(regexp_replace(txt, '\\s+', '', 'g')) AS n_chars_nosp,
           |    txt
           |  FROM ch),
           |r AS (
           |  SELECT doc_id,
           |    CASE WHEN len(ctoks) > 0
           |         THEN CAST(len(list_filter(ctoks, x -> list_contains($sw, x))) AS DOUBLE) / len(ctoks)
           |         ELSE 0.0 END AS swr,
           |    CASE WHEN len(ctoks) > 0
           |         THEN CAST(n_chars_nosp AS DOUBLE) / len(ctoks) ELSE 0.0 END AS mtl,
           |    CASE WHEN len(txt) > 0
           |         THEN CAST(len(regexp_extract_all(txt, '[^A-Za-z0-9\\s]')) AS DOUBLE) / len(txt)
           |         ELSE 0.0 END AS pr
           |  FROM m),
           |sc AS (
           |  SELECT doc_id,
           |    round(
           |      (CASE WHEN mtl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.4
           |      + least(swr * 4.0, 1.0) * 0.3
           |      + greatest(0.0, 1.0 - pr * 4.0) * 0.3, 6) AS q
           |  FROM r)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
           |  min(q) AS min_q, max(q) AS max_q, min(q) >= 0.75 AS keep
           |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Web-ingestion END-TO-END: the chain a crawl actually runs, in
    // one oracle — salted HTML pages → HtmlExtract (tag/script/style
    // strip + entities) → PII redaction → quality score + language ID
    // → keep gate (quality ≥ 0.5 ∧ en). Every stage is the
    // already-verified operator; the composition is the test. All
    // map-only until the final sort — scan-speed at 100 TB.
    "web_ingest_e2e" -> QueryDef(
      (s, dir) => {
        import graft.functions.exprs
        val id = col("doc_id").cast("string")
        val html = concat(
          lit("<html><head><title>Doc "), id, lit("</title>"),
          lit("<style>body { color: #333; }</style></head><body><p>"),
          coalesce(col("text"), lit("")), lit("</p>"),
          when(col("doc_id") % 4 === 0,
            lit("<div>Contact: curator@example.com or 10.0.0.1 or +1 555-123-4567</div>"))
            .otherwise(lit("")),
          lit("<script>var x = 1;</script></body></html>"))
        val red = TextOps.redactPii(exprs.htmlExtract(html))
        Tables.documents(s, dir)
          .select(
            col("doc_id"),
            TextOps.tokenCount(red).as("n_tokens"),
            TextOps.langId(red).as("lang_pred"),
            TextOps.qualityScore(red).as("quality"))
          .withColumn("keep",
            col("quality") >= 0.5 && col("lang_pred") === "en")
          .orderBy(col("doc_id"))
      }, {
        val sw = TextOps.englishStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
        val hits = TextOps.langProfiles.map { case (lang, sws) =>
          val arr = sws.map(w => s"'$w'").mkString("[", ", ", "]")
          s"len(list_filter(toks, t -> list_contains($arr, t))) AS ${lang}_hits"
        }.mkString(",\n    ")
        val langs = TextOps.langProfiles.map(_._1)
        val g = langs.map(l => s"${l}_hits").mkString("greatest(", ", ", ")")
        val cases = langs.map(l => s"WHEN ${l}_hits = $g THEN '$l'").mkString("\n      ")
        s"""WITH h AS (
           |  SELECT doc_id,
           |    '<html><head><title>Doc ' || doc_id || '</title>' ||
           |    '<style>body { color: #333; }</style></head><body><p>' ||
           |    coalesce(text, '') || '</p>' ||
           |    CASE WHEN doc_id % 4 = 0
           |         THEN '<div>Contact: curator@example.com or 10.0.0.1 or +1 555-123-4567</div>'
           |         ELSE '' END ||
           |    '<script>var x = 1;</script></body></html>' AS html
           |  FROM documents),
           |x AS (
           |  SELECT doc_id,
           |    trim(regexp_replace(
           |      replace(replace(replace(replace(replace(replace(
           |        regexp_replace(
           |          regexp_replace(
           |            regexp_replace(html, '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
           |            '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
           |          '<[^>]*>', ' ', 'g'),
           |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
           |      '[\t\n\f\r ]+', ' ', 'g')) AS ext
           |  FROM h),
           |red AS (
           |  SELECT doc_id,
           |    regexp_replace(
           |      regexp_replace(
           |        regexp_replace(ext,
           |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           |        '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
           |      '\\+?\\d[\\d\\- ]{7,}\\d', '<PHONE>', 'g') AS red
           |  FROM x),
           |t AS (
           |  SELECT doc_id,
           |    list_filter(string_split_regex(lower(red), '\\s+'), t -> len(t) > 0) AS toks,
           |    len(regexp_replace(red, '\\s+', '', 'g')) AS n_chars_nosp,
           |    red AS txt
           |  FROM red),
           |m AS (
           |  SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
           |    $hits,
           |    CASE WHEN len(toks) > 0
           |         THEN CAST(len(list_filter(toks, t -> list_contains($sw, t))) AS DOUBLE) / len(toks)
           |         ELSE 0.0 END AS swr,
           |    CASE WHEN len(toks) > 0
           |         THEN CAST(n_chars_nosp AS DOUBLE) / len(toks) ELSE 0.0 END AS mtl,
           |    CASE WHEN len(txt) > 0
           |         THEN CAST(len(regexp_extract_all(txt, '[^A-Za-z0-9\\s]')) AS DOUBLE) / len(txt)
           |         ELSE 0.0 END AS pr
           |  FROM t),
           |sc AS (
           |  SELECT doc_id, n_tokens,
           |    CASE WHEN $g = 0 THEN 'und'
           |      $cases
           |    END AS lang_pred,
           |    round(
           |      (CASE WHEN mtl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.4
           |      + least(swr * 4.0, 1.0) * 0.3
           |      + greatest(0.0, 1.0 - pr * 4.0) * 0.3, 6) AS quality
           |  FROM m)
           |SELECT doc_id, n_tokens, lang_pred, quality,
           |  quality >= 0.5 AND lang_pred = 'en' AS keep
           |FROM sc
           |ORDER BY doc_id""".stripMargin
      }),

    // ------------------------------------------------------------------
    // N-gram LM perplexity filter (NgramLm.bigramBits — the CCNet
    // shape): bigram model trained on the doc_id%5=0 reference slice;
    // held-out docs score in whole BITS per transition via bit-length
    // (exact integers — real log-prob sums are banned: engine-order-
    // dependent double addition). Unseen transitions cost bitlen(N).
    // keep = mean_bits < 5.0, the configured head cutoff (CCNet fits
    // cutoffs once on a sample, then applies them map-only). Model
    // tables are vocab-bounded; scoring is one bigram-keyed join +
    // one doc-grain agg.
    "ngram_perplexity_filter" -> QueryDef(
      (s, dir) =>
        // shared checkpointed bigram-LM score artifact (r15)
        bigramBitsScored(s, dir)
          .withColumn("keep",
            when(col("n_bigrams") === 0, lit(false))
              .otherwise(col("mean_bits") < 5.0))
          .orderBy(col("doc_id")),
      s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |big AS (
         |  SELECT tk.doc_id, toks[CAST(j AS INT)] AS w1, toks[CAST(j AS INT) + 1] AS w2
         |  FROM tk, unnest(range(1, len(toks))) t(j)),
         |c12 AS (
         |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
         |  FROM big WHERE doc_id % 5 = 0 GROUP BY 1, 2),
         |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM big WHERE doc_id % 5 = 0),
         |sc AS (
         |  SELECT b.doc_id,
         |    CASE WHEN c12.c12 IS NULL THEN length(bin(n.nn))
         |         ELSE length(bin(c1.c1)) - length(bin(c12.c12)) END AS bits,
         |    CASE WHEN c12.c12 IS NULL THEN 1 ELSE 0 END AS unseen
         |  FROM big b
         |  LEFT JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
         |  LEFT JOIN c1 ON b.w1 = c1.w1
         |  CROSS JOIN n
         |  WHERE b.doc_id % 5 <> 0),
         |grp AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |    CAST(sum(unseen) AS BIGINT) AS n_unseen,
         |    CAST(sum(bits) AS BIGINT) AS total_bits
         |  FROM sc GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(g.n_bigrams, 0) AS n_bigrams,
         |  coalesce(g.n_unseen, 0) AS n_unseen,
         |  coalesce(g.total_bits, 0) AS total_bits,
         |  CASE WHEN coalesce(g.n_bigrams, 0) = 0 THEN 0.0
         |       ELSE CAST(g.total_bits AS DOUBLE) / CAST(g.n_bigrams AS DOUBLE) END AS mean_bits,
         |  CASE WHEN coalesce(g.n_bigrams, 0) = 0 THEN false
         |       ELSE CAST(g.total_bits AS DOUBLE) / CAST(g.n_bigrams AS DOUBLE) < 5.0 END AS keep
         |FROM documents d LEFT JOIN grp g ON d.doc_id = g.doc_id
         |WHERE d.doc_id % 5 <> 0
         |ORDER BY d.doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // HTML/markup text extraction (HtmlExtract kernel) — the step a
    // web-corpus pipeline runs before CleanText: the corpus is salted
    // into full HTML pages (title/style/script blocks, entities incl.
    // the &amp;lt; double-escape, a '>'-in-attribute tag, an unclosed
    // trailing '<') and the kernel's four byte scans must reproduce
    // the stated regexp/replace chain byte-exactly — the oracle IS
    // that chain in DuckDB (RE2), and ExpressionEdgeSpec pins the
    // kernel to the same chain under Java regex. Map-only, no shuffle:
    // scan-speed at 100 TB.
    "html_extract_text" -> QueryDef(
      (s, dir) => {
        val id = col("doc_id").cast("string")
        val html = concat(
          lit("<html><head><title>Doc "), id, lit("</title>"),
          lit("<style type=\"text/css\">body { color: #333; }</style></head><body>"),
          lit("<h1>doc &quot;"), id, lit("&quot; &amp;lt; test</h1>"),
          lit("<script type=\"text/javascript\">var x = 1 &lt; 2; if (a > b) { alert(\"hi\"); }</script>"),
          lit("<p class=\"body\">"), coalesce(col("text"), lit("")), lit("</p>"),
          when(col("doc_id") % 3 === 0,
            lit("<div>extra &amp; stuff &#39;quoted&#39; <a href=\"#>anchor\">link</a></div>"))
            .otherwise(lit("")),
          lit("</body></html>"),
          when(col("doc_id") % 5 === 0, lit(" trailing <unclosed")).otherwise(lit("")))
        Tables.documents(s, dir)
          .select(col("doc_id"), graft.functions.exprs.htmlExtract(html).as("extracted"))
          .withColumn("n_chars_out", length(col("extracted")))
          .orderBy(col("doc_id"))
      },
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || doc_id || '</title>' ||
        |    '<style type="text/css">body { color: #333; }</style></head><body>' ||
        |    '<h1>doc &quot;' || doc_id || '&quot; &amp;lt; test</h1>' ||
        |    '<script type="text/javascript">var x = 1 &lt; 2; if (a > b) { alert("hi"); }</script>' ||
        |    '<p class="body">' || coalesce(text, '') || '</p>' ||
        |    CASE WHEN doc_id % 3 = 0
        |         THEN '<div>extra &amp; stuff &#39;quoted&#39; <a href="#>anchor">link</a></div>'
        |         ELSE '' END ||
        |    '</body></html>' ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' trailing <unclosed' ELSE '' END AS html
        |  FROM documents),
        |x AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(
        |      replace(replace(replace(replace(replace(replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(html, '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
        |            '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
        |          '<[^>]*>', ' ', 'g'),
        |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |      '[\t\n\f\r ]+', ' ', 'g')) AS extracted
        |  FROM h)
        |SELECT doc_id, extracted, CAST(length(extracted) AS INT) AS n_chars_out
        |FROM x ORDER BY doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // Class-balanced sampling: deterministic md5-order cap per source
    // stratum — reproducible across engines and partitionings.
    "stratified_sample_docs" -> QueryDef(
      (s, dir) =>
        StratifiedSample.capPerStratum(
          Tables.documents(s, dir).select(col("doc_id"), col("source")),
          Seq("source"), "doc_id", n = 10)
          .orderBy(col("doc_id")),
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (
        |      PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents
        |) WHERE rn <= 10
        |ORDER BY doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // Quality scoring: stopword ratio + composite score.
    "text_quality" -> QueryDef(
      (s, dir) =>
        Tables.documents(s, dir).select(
          col("doc_id"),
          TextOps.stopwordRatio(col("text"), TextOps.englishStopwords).as("stopword_ratio"),
          TextOps.qualityScore(col("text")).as("quality"))
          .orderBy(col("doc_id")),
      {
        val sw = TextOps.englishStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
        s"""WITH t AS (
           |  SELECT doc_id, $toksSql AS toks,
           |    len(regexp_replace(coalesce(text, ''), '\\s+', '', 'g')) AS n_chars_nosp,
           |    coalesce(text, '') AS txt
           |  FROM documents
           |), m AS (
           |  SELECT doc_id,
           |    CASE WHEN len(toks) > 0
           |         THEN CAST(len(list_filter(toks, t -> list_contains($sw, t))) AS DOUBLE) / len(toks)
           |         ELSE 0.0 END AS swr,
           |    CASE WHEN len(toks) > 0
           |         THEN CAST(n_chars_nosp AS DOUBLE) / len(toks) ELSE 0.0 END AS mtl,
           |    CASE WHEN len(txt) > 0
           |         THEN CAST(len(regexp_extract_all(txt, '[^A-Za-z0-9\\s]')) AS DOUBLE) / len(txt)
           |         ELSE 0.0 END AS pr
           |  FROM t
           |)
           |SELECT doc_id, swr AS stopword_ratio,
           |  round(
           |    (CASE WHEN mtl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.4
           |    + least(swr * 4.0, 1.0) * 0.3
           |    + greatest(0.0, 1.0 - pr * 4.0) * 0.3, 6) AS quality
           |FROM m
           |ORDER BY doc_id""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Language ID: stopword-vote argmax, first-profile-wins ties.
    "text_langid" -> QueryDef(
      (s, dir) =>
        Tables.documents(s, dir).select(
          col("doc_id"),
          TextOps.langId(col("text")).as("lang_pred"))
          .orderBy(col("doc_id")),
      {
        val hits = TextOps.langProfiles.map { case (lang, sws) =>
          val arr = sws.map(w => s"'$w'").mkString("[", ", ", "]")
          s"len(list_filter($toksSql, t -> list_contains($arr, t))) AS ${lang}_hits"
        }.mkString(",\n    ")
        val langs = TextOps.langProfiles.map(_._1)
        val g = langs.map(l => s"${l}_hits").mkString("greatest(", ", ", ")")
        val cases = langs.map(l => s"WHEN ${l}_hits = g THEN '$l'").mkString("\n    ")
        s"""WITH t AS (
           |  SELECT doc_id,
           |    $hits
           |  FROM documents
           |), s AS (SELECT doc_id, *, $g AS g FROM t)
           |SELECT doc_id,
           |  CASE WHEN g = 0 THEN 'und'
           |    $cases
           |  END AS lang_pred
           |FROM s
           |ORDER BY doc_id""".stripMargin
      }),

    // ------------------------------------------------------------------
    // LangID quality eval: confusion matrix of detected language vs
    // the corpus's ground-truth lang column — the accuracy monitoring
    // every classifier in the curation path needs. One grouped count
    // over the map-side LangIdExpr; the oracle replays the
    // stopword-vote argmax (same CTE as text_langid) and the rollup.
    "langid_confusion" -> QueryDef(
      (s, dir) =>
        Tables.documents(s, dir).select(
          col("lang"),
          TextOps.langId(col("text")).as("lang_pred"))
          .groupBy(col("lang"), col("lang_pred"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("lang"), col("lang_pred")),
      {
        val hits = TextOps.langProfiles.map { case (lang, sws) =>
          val arr = sws.map(w => s"'$w'").mkString("[", ", ", "]")
          s"len(list_filter($toksSql, t -> list_contains($arr, t))) AS ${lang}_hits"
        }.mkString(",\n    ")
        val langs = TextOps.langProfiles.map(_._1)
        val g = langs.map(l => s"${l}_hits").mkString("greatest(", ", ", ")")
        val cases = langs.map(l => s"WHEN ${l}_hits = g THEN '$l'").mkString("\n    ")
        s"""WITH t AS (
           |  SELECT doc_id, lang,
           |    $hits
           |  FROM documents
           |), s AS (SELECT doc_id, lang, *, $g AS g FROM t),
           |p AS (SELECT lang,
           |  CASE WHEN g = 0 THEN 'und'
           |    $cases
           |  END AS lang_pred
           |FROM s)
           |SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
           |FROM p GROUP BY 1, 2
           |ORDER BY lang, lang_pred""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Macro-F1 of the stopword-vote langid against the ground-truth
    // lang column. Per-class F1 uses the harmonic identity
    // F1 = 2·tp/(pred_n + true_n) — ONE exact-integer division per
    // class, no separate precision/recall divisions to compose — and
    // the macro average is an EXPLICIT 5-term sum over the fixed
    // profile-order classes (en, es, fr, de, zh) in identical textual
    // order on both engines, never a shuffle-order SUM over doubles.
    "macro_f1_langid" -> QueryDef(
      (s, dir) => {
        val langs = TextOps.langProfiles.map(_._1)
        val pred = Tables.documents(s, dir).select(
          col("lang"), TextOps.langId(col("text")).as("lang_pred"))
        val aggs = langs.flatMap { l => Seq(
          sum(when(col("lang") === l && col("lang_pred") === l, 1L).otherwise(0L))
            .as(s"tp_$l"),
          sum(when(col("lang_pred") === l, 1L).otherwise(0L)).as(s"pred_$l"),
          sum(when(col("lang") === l, 1L).otherwise(0L)).as(s"true_$l")) }
        val piv = pred.agg(aggs.head, aggs.tail: _*)
        def f1(l: String) =
          when(col(s"pred_$l") + col(s"true_$l") > 0,
            (lit(2L) * col(s"tp_$l")).cast("double") /
              (col(s"pred_$l") + col(s"true_$l")))
            .otherwise(lit(0.0))
        val withF1 = piv.select(col("*") +:
          langs.map(l => f1(l).as(s"f1_$l")): _*)
        withF1.select(
          (langs.map(l => col(s"tp_$l")) ++ langs.map(l => col(s"true_$l")) ++
            langs.map(l => col(s"f1_$l")) :+
            (langs.map(l => col(s"f1_$l")).reduceLeft(_ + _) / 5)
              .as("macro_f1")): _*)
      }, {
        val hits = TextOps.langProfiles.map { case (lang, sws) =>
          val arr = sws.map(w => s"'$w'").mkString("[", ", ", "]")
          s"len(list_filter($toksSql, t -> list_contains($arr, t))) AS ${lang}_hits"
        }.mkString(",\n    ")
        val langs = TextOps.langProfiles.map(_._1)
        val g = langs.map(l => s"${l}_hits").mkString("greatest(", ", ", ")")
        val cases = langs.map(l => s"WHEN ${l}_hits = g THEN '$l'").mkString("\n    ")
        val cellAggs = langs.map { l =>
          s"""  CAST(sum(CASE WHEN lang = '$l' AND lang_pred = '$l' THEN 1 ELSE 0 END) AS BIGINT) AS tp_$l,
             |  CAST(sum(CASE WHEN lang_pred = '$l' THEN 1 ELSE 0 END) AS BIGINT) AS pred_$l,
             |  CAST(sum(CASE WHEN lang = '$l' THEN 1 ELSE 0 END) AS BIGINT) AS true_$l""".stripMargin
        }.mkString(",\n")
        val f1s = langs.map { l =>
          s"""  CASE WHEN pred_$l + true_$l > 0
             |    THEN CAST(2 * tp_$l AS DOUBLE) / (pred_$l + true_$l)
             |    ELSE 0.0 END AS f1_$l""".stripMargin
        }.mkString(",\n")
        val macroSum = langs.map(l => s"f1_$l").mkString(" + ")
        s"""WITH t AS (
           |  SELECT doc_id, lang,
           |    $hits
           |  FROM documents
           |), s AS (SELECT doc_id, lang, *, $g AS g FROM t),
           |p AS (SELECT lang,
           |  CASE WHEN g = 0 THEN 'und'
           |    $cases
           |  END AS lang_pred
           |FROM s),
           |piv AS (
           |  SELECT
           |$cellAggs
           |  FROM p),
           |f AS (
           |  SELECT *,
           |$f1s
           |  FROM piv)
           |SELECT ${langs.map(l => s"tp_$l").mkString(", ")},
           |  ${langs.map(l => s"true_$l").mkString(", ")},
           |  ${langs.map(l => s"f1_$l").mkString(", ")},
           |  ($macroSum) / 5 AS macro_f1
           |FROM f""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Cohen's kappa of detected vs true language — chance-corrected
    // agreement, the metric that exposes a classifier that "agrees"
    // only because one class dominates. Exactly rational: with
    // n·Σdiag and Σ row_i·col_i as BIGINTs,
    // κ = (n·Σdiag − Σrᵢcᵢ) / (n² − Σrᵢcᵢ) is ONE division of two
    // exact integers — no per-cell floats to sum. Same grouped-count
    // frame as the confusion matrix.
    "cohens_kappa_langid" -> QueryDef(
      (s, dir) => {
        val pred = Tables.documents(s, dir).select(
          col("lang"), TextOps.langId(col("text")).as("lang_pred"))
        val cells = pred.groupBy(col("lang"), col("lang_pred"))
          .agg(count(lit(1)).as("c"))
        val n = cells.agg(sum(col("c")).as("n"))
        val diag = cells.filter(col("lang") === col("lang_pred"))
          .agg(sum(col("c")).as("agree"))
        val rows = cells.groupBy(col("lang")).agg(sum(col("c")).as("r"))
        val cols = cells.groupBy(col("lang_pred")).agg(sum(col("c")).as("k"))
        val pe = rows.join(cols, rows("lang") === cols("lang_pred"))
          .agg(coalesce(sum(col("r") * col("k")), lit(0L)).as("rc"))
        n.crossJoin(broadcast(diag)).crossJoin(broadcast(pe))
          .select(
            col("n"), col("agree"), col("rc"),
            ((col("n") * col("agree") - col("rc")).cast("double") /
              (col("n") * col("n") - col("rc")).cast("double")).as("kappa"))
      },
      {
        val hits = TextOps.langProfiles.map { case (lang, sws) =>
          val arr = sws.map(w => s"'$w'").mkString("[", ", ", "]")
          s"len(list_filter($toksSql, t -> list_contains($arr, t))) AS ${lang}_hits"
        }.mkString(",\n    ")
        val langs = TextOps.langProfiles.map(_._1)
        val g = langs.map(l => s"${l}_hits").mkString("greatest(", ", ", ")")
        val cases = langs.map(l => s"WHEN ${l}_hits = g THEN '$l'").mkString("\n    ")
        s"""WITH t AS (
           |  SELECT doc_id, lang,
           |    $hits
           |  FROM documents
           |), s AS (SELECT doc_id, lang, *, $g AS g FROM t),
           |p AS (SELECT lang,
           |  CASE WHEN g = 0 THEN 'und'
           |    $cases
           |  END AS lang_pred
           |FROM s),
           |cells AS (SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS c
           |          FROM p GROUP BY 1, 2),
           |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
           |diag AS (SELECT CAST(SUM(c) AS BIGINT) AS agree FROM cells
           |         WHERE lang = lang_pred),
           |r AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS r FROM cells GROUP BY 1),
           |k AS (SELECT lang_pred, CAST(SUM(c) AS BIGINT) AS k FROM cells GROUP BY 1),
           |pe AS (SELECT CAST(coalesce(SUM(r.r * k.k), 0) AS BIGINT) AS rc
           |       FROM r JOIN k ON r.lang = k.lang_pred)
           |SELECT n.n, diag.agree, pe.rc,
           |  CAST(n.n * diag.agree - pe.rc AS DOUBLE) /
           |  CAST(n.n * n.n - pe.rc AS DOUBLE) AS kappa
           |FROM n, diag, pe""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Label-grounded retrieval eval: the embeddings fixture carries a
    // ground-truth label; for each probe, the rank of the first
    // same-label neighbor in the exact top-20 and the same-label count
    // in the top-5 — first-hit-rank and precision@5 as pure integers
    // (no MRR/nDCG doubles, whose log/sum forms the parity law
    // forbids). Rides bruteForceTopK; labels re-attach by broadcast.
    "ann_label_metrics" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val res = Similarity.bruteForceTopK(
          emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding", k = 20)
        val lbl = emb.select(col("vec_id"), col("label"))
        res
          .join(broadcast(lbl.select(
            col("vec_id").as("query_id"), col("label"))), "query_id")
          .join(broadcast(lbl.select(
            col("vec_id").as("neighbor_id"), col("label").as("n_label"))),
            "neighbor_id")
          .groupBy(col("query_id"), col("label"))
          .agg(
            coalesce(
              min(when(col("n_label") === col("label"), col("rank"))),
              lit(-1)).cast("long").as("first_hit_rank"),
            sum(when(col("n_label") === col("label") && col("rank") <= 5, 1L)
              .otherwise(0L)).as("hits_at_5"))
          .orderBy(col("query_id"))
      },
      """WITH pairs AS (
        |  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         list_cosine_similarity(c.embedding, p.embedding) AS sim
        |  FROM embeddings c, embeddings p
        |  WHERE p.vec_id < 20 AND c.vec_id <> p.vec_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |         ORDER BY sim DESC, neighbor_id) AS INT) AS rank
        |  FROM pairs
        |)
        |SELECT r.query_id, eq.label AS label,
        |  CAST(coalesce(MIN(CASE WHEN en.label = eq.label THEN r.rank END), -1)
        |       AS BIGINT) AS first_hit_rank,
        |  CAST(SUM(CASE WHEN en.label = eq.label AND r.rank <= 5 THEN 1 ELSE 0 END)
        |       AS BIGINT) AS hits_at_5
        |FROM ranked r
        |JOIN embeddings eq ON eq.vec_id = r.query_id
        |JOIN embeddings en ON en.vec_id = r.neighbor_id
        |WHERE r.rank <= 20
        |GROUP BY 1, 2 ORDER BY r.query_id""".stripMargin),

    // ------------------------------------------------------------------
    // Exact + normalized dedup over the perturbed corpus (originals
    // duplicate under normalization when whitespace-collapsed copies
    // collide; keeps the md5-groupBy path honest even with n_dups=1).
    "dedup_exact" -> QueryDef(
      (s, dir) =>
        Dedup.exactGroups(
          perturbedDocs(s, dir).unionAll(perturbedDocs(s, dir)), "doc_id", "text")
          .orderBy(col("content_hash")),
      s"""WITH corpus AS ($perturbedSql),
         |doubled AS (SELECT * FROM corpus UNION ALL SELECT * FROM corpus)
         |SELECT md5(text) AS content_hash,
         |  MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
         |FROM doubled
         |GROUP BY 1
         |ORDER BY content_hash""".stripMargin),

    // ------------------------------------------------------------------
    // Pairs → CLUSTERS: connected components (hash-min label
    // propagation, one shuffle per round, lineage-truncated rounds)
    // over the n-gram Jaccard pair graph — the step that picks one
    // representative (= min member id) per near-dup cluster. DuckDB
    // twin closes the same graph with a recursive CTE.
    "dedup_cc_components" -> QueryDef(
      (s, dir) =>
        ccLabels(s, dir)
          .select(col("id").as("doc_id"), col("component"))
          .orderBy(col("doc_id")),
      s"""WITH RECURSIVE corpus AS ($perturbedSql),
         |docs AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(range(1, len(toks) - 2),
         |      i -> array_to_string(toks[i:i+3], ' '))) AS sh
         |  FROM (SELECT doc_id, $toksSql AS toks FROM corpus)
         |  WHERE len(toks) >= 4
         |),
         |inv AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM docs),
         |jpairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |         a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS shared
         |  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4
         |),
         |thr AS (
         |  SELECT id_a, id_b FROM jpairs
         |  WHERE CAST(shared AS DOUBLE) / (n_a + n_b - shared) >= 0.5
         |),
         |edges AS (
         |  SELECT id_a AS u, id_b AS v FROM thr
         |  UNION
         |  SELECT id_b AS u, id_a AS v FROM thr
         |),
         |reach(u, lbl) AS (
         |  SELECT u, u AS lbl FROM (SELECT DISTINCT u FROM edges)
         |  UNION
         |  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.u = e.v
         |)
         |SELECT u AS doc_id, MIN(lbl) AS component
         |FROM reach GROUP BY u
         |ORDER BY doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // The FULL dedup contract end-to-end: pairs → components →
    // keepRepresentatives (min member id survives per cluster,
    // singletons pass through untouched). Same recursive-CTE closure
    // as dedup_cc_components; survivors = docs whose component label
    // is their own id (or who appear in no pair).
    "dedup_keep_representatives" -> QueryDef(
      (s, dir) =>
        Dedup.keepRepresentativesFromLabels(
          perturbedDocs(s, dir), "doc_id", ccLabels(s, dir))
          .select(col("doc_id"))
          .orderBy(col("doc_id")),
      s"""WITH RECURSIVE corpus AS ($perturbedSql),
         |docs AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(range(1, len(toks) - 2),
         |      i -> array_to_string(toks[i:i+3], ' '))) AS sh
         |  FROM (SELECT doc_id, $toksSql AS toks FROM corpus)
         |  WHERE len(toks) >= 4
         |),
         |inv AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM docs),
         |jpairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |         a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS shared
         |  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4
         |),
         |thr AS (
         |  SELECT id_a, id_b FROM jpairs
         |  WHERE CAST(shared AS DOUBLE) / (n_a + n_b - shared) >= 0.5
         |),
         |edges AS (
         |  SELECT id_a AS u, id_b AS v FROM thr
         |  UNION
         |  SELECT id_b AS u, id_a AS v FROM thr
         |),
         |reach(u, lbl) AS (
         |  SELECT u, u AS lbl FROM (SELECT DISTINCT u FROM edges)
         |  UNION
         |  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.u = e.v
         |),
         |cc AS (SELECT u, MIN(lbl) AS component FROM reach GROUP BY u)
         |SELECT doc_id FROM corpus
         |WHERE doc_id NOT IN (SELECT u FROM cc WHERE component <> u)
         |ORDER BY doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // Cluster CANONICALIZATION — the argmax step after components: per
    // near-dup cluster keep the longest member (ties → min id), the
    // "best representative" policy a curation pipeline applies instead
    // of blind min-id. One max-struct agg over the CC labels joined
    // back to text lengths; singletons pass through as their own
    // canonical. Same recursive-CTE closure as dedup_cc_components.
    "dedup_cluster_canonical" -> QueryDef(
      (s, dir) => {
        val docs = perturbedDocs(s, dir)
          .select(col("doc_id"), length(coalesce(col("text"), lit(""))).as("len"))
        val labeled = docs
          .join(ccLabels(s, dir).select(col("id").as("doc_id"), col("component")),
            Seq("doc_id"), "left")
          .select(coalesce(col("component"), col("doc_id")).as("component"),
            col("doc_id"), col("len"))
        labeled.groupBy(col("component"))
          .agg(count(lit(1)).as("n_members"),
            max(struct(col("len").as("len"), (-col("doc_id")).as("nid")))
              .as("best"),
            max(col("len")).cast("long").as("max_len"))
          .select(col("component"), col("n_members"),
            (-col("best.nid")).as("canonical_id"), col("max_len"))
          .orderBy(col("component"))
      },
      s"""WITH RECURSIVE corpus AS ($perturbedSql),
         |docs AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(range(1, len(toks) - 2),
         |      i -> array_to_string(toks[i:i+3], ' '))) AS sh
         |  FROM (SELECT doc_id, $toksSql AS toks FROM corpus)
         |  WHERE len(toks) >= 4
         |),
         |inv AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM docs),
         |jpairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |         a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS shared
         |  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4
         |),
         |thr AS (
         |  SELECT id_a, id_b FROM jpairs
         |  WHERE CAST(shared AS DOUBLE) / (n_a + n_b - shared) >= 0.5
         |),
         |edges AS (
         |  SELECT id_a AS u, id_b AS v FROM thr
         |  UNION
         |  SELECT id_b AS u, id_a AS v FROM thr
         |),
         |reach(u, lbl) AS (
         |  SELECT u, u AS lbl FROM (SELECT DISTINCT u FROM edges)
         |  UNION
         |  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.u = e.v
         |),
         |cc AS (SELECT u, MIN(lbl) AS component FROM reach GROUP BY u),
         |labeled AS (
         |  SELECT coalesce(cc.component, c.doc_id) AS component, c.doc_id,
         |    CAST(len(coalesce(c.text, '')) AS INT) AS len
         |  FROM corpus c LEFT JOIN cc ON cc.u = c.doc_id),
         |ranked AS (
         |  SELECT component, doc_id, len,
         |    row_number() OVER (PARTITION BY component
         |      ORDER BY len DESC, doc_id) AS rn
         |  FROM labeled)
         |SELECT component, CAST(count(*) AS BIGINT) AS n_members,
         |  CAST(max(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS canonical_id,
         |  CAST(max(len) AS BIGINT) AS max_len
         |FROM ranked GROUP BY component
         |ORDER BY component""".stripMargin),

    // ------------------------------------------------------------------
    // Exact edit-distance VERIFICATION of the planted near-dup pairs:
    // levenshtein (same classic DP metric in both engines, ASCII
    // corpus) confirms each (i, i+100000) first-token-dropped twin
    // sits under the 0.2-normalized-distance keep threshold. Distances
    // and lengths exact integers; ONE division renders the normalized
    // score. The verify stage that turns LSH candidates into decisions
    // — text lengths are generator-bounded, so the per-pair DP cost is
    // O(1) and the whole pass is map-shaped at any corpus size.
    "edit_distance_verify" -> QueryDef(
      (s, dir) => {
        val d = Tables.documents(s, dir)
          .select(col("doc_id"), coalesce(col("text"), lit("")).as("ta"))
        val p = perturbedDocs(s, dir)
          .filter(col("doc_id") >= 100000)
          .select((col("doc_id") - 100000).as("doc_id"),
            coalesce(col("text"), lit("")).as("tb"))
        d.join(p, Seq("doc_id"))
          .select(col("doc_id"),
            levenshtein(col("ta"), col("tb")).cast("long").as("lev"),
            length(col("ta")).cast("long").as("len_a"),
            length(col("tb")).cast("long").as("len_b"))
          .withColumn("norm_dist",
            col("lev").cast("double") / greatest(col("len_a"), lit(1L)))
          .withColumn("keep_pair", col("norm_dist") <= 0.2)
          .orderBy(col("doc_id"))
      },
      """SELECT d.doc_id,
        |  CAST(levenshtein(coalesce(d.text, ''),
        |    coalesce(regexp_replace(d.text, '^\S+\s*', ''), '')) AS BIGINT) AS lev,
        |  CAST(len(coalesce(d.text, '')) AS BIGINT) AS len_a,
        |  CAST(len(coalesce(regexp_replace(d.text, '^\S+\s*', ''), '')) AS BIGINT) AS len_b,
        |  CAST(levenshtein(coalesce(d.text, ''),
        |    coalesce(regexp_replace(d.text, '^\S+\s*', ''), '')) AS DOUBLE)
        |    / greatest(len(coalesce(d.text, '')), 1) AS norm_dist,
        |  CAST(levenshtein(coalesce(d.text, ''),
        |    coalesce(regexp_replace(d.text, '^\S+\s*', ''), '')) AS DOUBLE)
        |    / greatest(len(coalesce(d.text, '')), 1) <= 0.2 AS keep_pair
        |FROM documents d
        |ORDER BY d.doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // Exact n-gram Jaccard near-dup pairs on the perturbed corpus:
    // inverted-index join, no O(N²) stage; every planted pair
    // (i, i+100000) must surface.
    "dedup_ngram_jaccard" -> QueryDef(
      (s, dir) =>
        perturbedPairs(s, dir) // shared exact-pair artifact (r14)
          .orderBy(col("id_a"), col("id_b")),
      s"""WITH corpus AS ($perturbedSql),
         |docs AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(range(1, len(toks) - 2),
         |      i -> array_to_string(toks[i:i+3], ' '))) AS sh
         |  FROM (SELECT doc_id, $toksSql AS toks FROM corpus)
         |  WHERE len(toks) >= 4
         |),
         |inv AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM docs),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |         a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS shared
         |  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4
         |)
         |SELECT id_a, id_b,
         |  CAST(shared AS DOUBLE) / (n_a + n_b - shared) AS jaccard
         |FROM pairs
         |WHERE CAST(shared AS DOUBLE) / (n_a + n_b - shared) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin),

    // ------------------------------------------------------------------
    // Train/test SPLIT LEAKAGE check — eval hygiene beyond exact-gram
    // decontamination (text_contamination): a tenth of the perturbed
    // twins form the held-out set, and their near-duplicate originals
    // sit in train, so a correct checker must flag them. Cross-split
    // near-dup pairs come from the same inverted-index Jaccard join
    // dedup_ngram_jaccard verifies; every test doc reports (left join
    // keeps the clean ones), leaked = any train neighbor at J ≥ 0.5.
    // max over doubles is order-insensitive — safe under the
    // no-float-SUM rule.
    "split_leakage_check" -> QueryDef(
      (s, dir) => {
        def isTest(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          (c % 10 === 0) && (c >= 100000L)
        val pairs = perturbedPairs(s, dir) // shared exact-pair artifact (r14)
        val cross = pairs
          .filter(isTest(col("id_a")) =!= isTest(col("id_b")))
          .select(
            when(isTest(col("id_a")), col("id_a")).otherwise(col("id_b"))
              .as("test_id"),
            col("jaccard"))
        val leaks = cross.groupBy(col("test_id"))
          .agg(count(lit(1)).as("n_leaks"), max(col("jaccard")).as("max_jaccard"))
        perturbedDocs(s, dir)
          .filter(isTest(col("doc_id")))
          .select(col("doc_id").as("test_id"))
          .join(leaks, Seq("test_id"), "left")
          .select(
            col("test_id"),
            coalesce(col("n_leaks"), lit(0L)).as("n_leaks"),
            coalesce(col("max_jaccard"), lit(0.0)).as("max_jaccard"),
            (coalesce(col("n_leaks"), lit(0L)) > 0).as("leaked"))
          .orderBy(col("test_id"))
      },
      s"""WITH corpus AS ($perturbedSql),
         |docs AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(range(1, len(toks) - 2),
         |      i -> array_to_string(toks[i:i+3], ' '))) AS sh
         |  FROM (SELECT doc_id, $toksSql AS toks FROM corpus)
         |  WHERE len(toks) >= 4
         |),
         |inv AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM docs),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |         a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS shared
         |  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4
         |),
         |jp AS (
         |  SELECT id_a, id_b,
         |    CAST(shared AS DOUBLE) / (n_a + n_b - shared) AS jaccard
         |  FROM pairs
         |  WHERE CAST(shared AS DOUBLE) / (n_a + n_b - shared) >= 0.5
         |),
         |cross_split AS (
         |  SELECT CASE WHEN id_a % 10 = 0 AND id_a >= 100000 THEN id_a ELSE id_b END AS test_id,
         |         jaccard
         |  FROM jp
         |  WHERE (id_a % 10 = 0 AND id_a >= 100000)
         |     <> (id_b % 10 = 0 AND id_b >= 100000)
         |),
         |lk AS (
         |  SELECT test_id, CAST(count(*) AS BIGINT) AS n_leaks,
         |         max(jaccard) AS max_jaccard
         |  FROM cross_split GROUP BY 1)
         |SELECT c.doc_id AS test_id,
         |  coalesce(lk.n_leaks, 0) AS n_leaks,
         |  coalesce(lk.max_jaccard, 0.0) AS max_jaccard,
         |  coalesce(lk.n_leaks, 0) > 0 AS leaked
         |FROM corpus c LEFT JOIN lk ON lk.test_id = c.doc_id
         |WHERE c.doc_id % 10 = 0 AND c.doc_id >= 100000
         |ORDER BY test_id""".stripMargin),

    // ------------------------------------------------------------------
    // Prefix-filtered set-similarity self-join (SSJoin/PPJoin,
    // Chaudhuri'06 / Xiao'08): 4-gram shingle-set Jaccard ≥ 3/5 pairs
    // WITHOUT the full inverted-index blow-up — only each doc's
    // (1−α)|t|+1 RAREST elements (global df-asc order) are indexed for
    // candidate generation; the prefix-filter theorem makes that
    // lossless UNDER ANY global total order, so the Spark side may
    // order 64-bit shingle HASHES while the oracle replays textual
    // shingles — results agree because the verified output is
    // order-independent (the dedup_ngram_jaccard hash≡text
    // equivalence). The all-integer cross-multiplied Jaccard test
    // (den·∩ ≥ num·∪) keeps both engines bit-identical, and the
    // oracle is the NAIVE all-pairs join — passing the gate PROVES
    // the pruning drops nothing.
    "ppjoin_set_similarity" -> QueryDef(
      (s, dir) =>
        graft.operators.PpJoin.jaccardPairs(
          perturbedDocs(s, dir).select(col("doc_id"),
            graft.functions.exprs.ngramHashes(col("text"), 4).as("toks")),
          "doc_id", "toks", num = 3, den = 5)
          .orderBy(col("id_a"), col("id_b")),
      s"""WITH corpus AS ($perturbedSql),
         |dt AS (
         |  SELECT doc_id AS doc, unnest(list_distinct(
         |    list_transform(range(1, len(toks) - 2),
         |      i -> array_to_string(toks[i:i+3], ' ')))) AS tok
         |  FROM (SELECT doc_id, $toksSql AS toks FROM corpus)
         |  WHERE len(toks) >= 4),
         |sizes AS (SELECT doc, CAST(count(*) AS BIGINT) AS sz FROM dt GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc AS id_a, b.doc AS id_b, CAST(COUNT(*) AS BIGINT) AS inter
         |  FROM dt a JOIN dt b ON a.tok = b.tok AND a.doc < b.doc
         |  GROUP BY 1, 2)
         |SELECT p.id_a, p.id_b, p.inter, sa.sz AS size_a, sb.sz AS size_b
         |FROM pairs p
         |JOIN sizes sa ON sa.doc = p.id_a
         |JOIN sizes sb ON sb.doc = p.id_b
         |WHERE 5 * p.inter >= 3 * (sa.sz + sb.sz - p.inter)
         |ORDER BY p.id_a, p.id_b""".stripMargin),

    // ------------------------------------------------------------------
    // Containment (asymmetric Jaccard) pairs — the excerpt/quote
    // detector: C = |∩| / min(|a|,|b|) ≥ 9/10 flags a short doc whose
    // shingles are almost all inside a longer one, which symmetric
    // Jaccard structurally MISSES (a 30-token excerpt of a 150-token
    // doc has J ≈ 0.2). Fixture salts first-30-token excerpts at
    // id+200000; the planted (orig, excerpt) pairs are exactly what
    // the query must recover. Same inverted-index + integer
    // cross-multiply machinery as the Jaccard family (10·∩ ≥ 9·min) —
    // at corpus scale the hot-shingle caps from ngramJaccardPairs
    // apply unchanged (prefix filtering does NOT: its bound assumes
    // the symmetric threshold).
    "containment_excerpt_pairs" -> QueryDef(
      (s, dir) => {
        val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        val corpus = d.unionAll(d.select(
          (col("doc_id") + 200000).as("doc_id"),
          concat_ws(" ",
            slice(graft.operators.TextOps.tokens(col("text")), 1, 30)).as("text")))
        val dt = corpus
          .select(col("doc_id"),
            explode(graft.functions.exprs.ngramHashes(col("text"), 4)).as("tok"))
        val sizes = dt.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
        dt.as("a").join(dt.as("b"),
            col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .agg(count(lit(1)).as("inter"))
          .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("size_a")), "id_a")
          .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("size_b")), "id_b")
          .filter(expr("10 * inter >= 9 * least(size_a, size_b)"))
          .select(col("id_a"), col("id_b"), col("inter"),
            col("size_a"), col("size_b"))
          .orderBy(col("id_a"), col("id_b"))
      },
      s"""WITH base AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 200000 AS doc_id,
         |         array_to_string(($toksSql)[1:30], ' ') AS text
         |  FROM documents),
         |dt AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    list_transform(range(1, len(toks) - 2),
         |      i -> array_to_string(toks[i:i+3], ' ')))) AS tok
         |  FROM (SELECT doc_id, $toksSql AS toks FROM base)
         |  WHERE len(toks) >= 4),
         |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM dt GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS inter
         |  FROM dt a JOIN dt b ON a.tok = b.tok AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT p.id_a, p.id_b, p.inter, sa.sz AS size_a, sb.sz AS size_b
         |FROM pairs p
         |JOIN sizes sa ON sa.doc_id = p.id_a
         |JOIN sizes sb ON sb.doc_id = p.id_b
         |WHERE 10 * p.inter >= 9 * least(sa.sz, sb.sz)
         |ORDER BY p.id_a, p.id_b""".stripMargin),

    // ------------------------------------------------------------------
    // MinHash CONTAINMENT estimation eval — the O(k) scale path for
    // the excerpt detector: exact containment needs the shared-shingle
    // join; the sketch version derives it from 64-long signatures
    // alone via I ≈ m·(|a|+|b|)/(k+m) (invert J = I/(|a|+|b|−I) at
    // J ≈ m/k), so candidate verification touches k longs per pair
    // instead of the shingle sets. Evaluated on the planted
    // (orig, excerpt) pairs with both ppm values integer-derived —
    // the oracle replays shingle sets, mod-prime signatures, match
    // counts, and both formulas exactly.
    "containment_minhash_eval" -> QueryDef(
      (s, dir) => {
        import graft.functions.{exprs, md5exprs}
        val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        val corpus = d.unionAll(d.select(
          (col("doc_id") + 200000).as("doc_id"),
          concat_ws(" ",
            slice(graft.operators.TextOps.tokens(col("text")), 1, 30)).as("text")))
        val feats = corpus
          .select(col("doc_id"), md5exprs.md5NgramHashes(col("text"), 3).as("hs"))
          .filter(size(col("hs")) > 0)
          .select(col("doc_id"), size(col("hs")).cast("long").as("sz"),
            col("hs"), md5exprs.minhashSigMod(col("hs"), 64, 7L).as("sig"))
        val a = feats.filter(col("doc_id") < 200000).select(
          col("doc_id").as("id_a"), col("sz").as("sa"),
          col("hs").as("hs_a"), col("sig").as("sig_a"))
        val b = feats.filter(col("doc_id") >= 200000).select(
          (col("doc_id") - 200000).as("id_a"), col("sz").as("sb"),
          col("hs").as("hs_b"), col("sig").as("sig_b"))
        a.join(b, "id_a")
          .select(col("id_a").as("doc_id"), col("sa"), col("sb"),
            size(array_intersect(col("hs_a"), col("hs_b"))).cast("long").as("inter"),
            exprs.longArrayMatchCount(col("sig_a"), col("sig_b")).cast("long").as("m"))
          .withColumn("exact_ppm",
            expr("(inter * 1000000) div least(sa, sb)"))
          .withColumn("est_ppm",
            expr("(m * (sa + sb) * 1000000) div (least(sa, sb) * (64 + m))"))
          .orderBy(col("doc_id"))
      }, {
        val (as, bs) = graft.functions.ModPrime.coeffs(7L, 64)
        val famRows = (0 until 64)
          .map(i => s"(${i}, ${as(i)}, ${bs(i)})").mkString(",\n    ")
        val p = graft.functions.ModPrime.P
        s"""WITH base AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 200000 AS doc_id,
           |         array_to_string(($toksSql)[1:30], ' ') AS text
           |  FROM documents),
           |tk AS (SELECT doc_id, $toksSql AS toks FROM base),
           |sh AS (
           |  SELECT doc_id,
           |    list_distinct(list_transform(range(1, len(toks) - 1),
           |      i -> ${md5_63("array_to_string(toks[i:i+2], ' ')")})) AS hs
           |  FROM tk WHERE len(toks) >= 3),
           |shx AS (SELECT doc_id, unnest(hs) AS h FROM sh),
           |fam AS (SELECT * FROM (VALUES
           |    $famRows) f(i, a, b)),
           |mins AS (
           |  SELECT doc_id, f.i,
           |    (min((f.a::HUGEINT * (h % $p) + f.b) % $p))::BIGINT AS mh
           |  FROM shx, fam f GROUP BY doc_id, f.i),
           |sig AS (SELECT doc_id, list(mh ORDER BY i) AS sig FROM mins GROUP BY doc_id),
           |pr AS (
           |  SELECT a.doc_id AS doc_id,
           |    CAST(len(a.hs) AS BIGINT) AS sa, CAST(len(b.hs) AS BIGINT) AS sb,
           |    CAST(len(list_intersect(a.hs, b.hs)) AS BIGINT) AS inter,
           |    CAST(len(list_filter(range(1, 65),
           |      i -> sga.sig[i] = sgb.sig[i])) AS BIGINT) AS m
           |  FROM sh a
           |  JOIN sh b ON b.doc_id = a.doc_id + 200000
           |  JOIN sig sga ON sga.doc_id = a.doc_id
           |  JOIN sig sgb ON sgb.doc_id = b.doc_id
           |  WHERE a.doc_id < 200000)
           |SELECT doc_id, sa, sb, inter, m,
           |  (inter * 1000000) // least(sa, sb) AS exact_ppm,
           |  (m * (sa + sb) * 1000000) // (least(sa, sb) * (64 + m)) AS est_ppm
           |FROM pr ORDER BY doc_id""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Cross-source near-dup matrix: which SOURCES leak into each other
    // — the diagnostic a mixture owner reads before weighting sources
    // (two crawls of the same site look like two sources until this
    // table says they're one). Near-dup pairs on the ORIGINAL corpus
    // (planted cross-source dups in the fixture), sources re-attached
    // by broadcast join, matrix cell = unordered source pair. Only
    // count/min/max aggregate per cell — each jaccard is a per-pair
    // IEEE-exact ratio and min/max are selections, so no double SUM
    // (CLAUDE.md parity law).
    "dedup_cross_source_matrix" -> QueryDef(
      (s, dir) => {
        val srcOf = Tables.documents(s, dir).select(col("doc_id"), col("source"))
        Dedup.ngramJaccardPairs(
          Tables.documents(s, dir), "doc_id", "text", n = 4, threshold = 0.2)
          .join(broadcast(srcOf.select(col("doc_id").as("id_a"), col("source").as("sa"))), "id_a")
          .join(broadcast(srcOf.select(col("doc_id").as("id_b"), col("source").as("sb"))), "id_b")
          .select(
            least(col("sa"), col("sb")).as("src_lo"),
            greatest(col("sa"), col("sb")).as("src_hi"),
            col("jaccard"))
          .groupBy(col("src_lo"), col("src_hi"))
          .agg(
            count(lit(1)).as("n_pairs"),
            min(col("jaccard")).as("min_jac"),
            max(col("jaccard")).as("max_jac"))
          .orderBy(col("src_lo"), col("src_hi"))
      },
      s"""WITH tk AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
         |docs AS (
         |  SELECT doc_id, source,
         |    list_distinct(list_transform(range(1, len(toks) - 2),
         |      i -> array_to_string(toks[i:i+3], ' '))) AS sh
         |  FROM tk WHERE len(toks) >= 4),
         |inv AS (SELECT doc_id, source, len(sh) AS n_sh, unnest(sh) AS shingle FROM docs),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |         a.source AS sa, b.source AS sb,
         |         a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS shared
         |  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4, 5, 6),
         |jac AS (
         |  SELECT least(sa, sb) AS src_lo, greatest(sa, sb) AS src_hi,
         |    CAST(shared AS DOUBLE) / (n_a + n_b - shared) AS jaccard
         |  FROM pairs
         |  WHERE CAST(shared AS DOUBLE) / (n_a + n_b - shared) >= 0.2)
         |SELECT src_lo, src_hi, COUNT(*) AS n_pairs,
         |  MIN(jaccard) AS min_jac, MAX(jaccard) AS max_jac
         |FROM jac
         |GROUP BY 1, 2
         |ORDER BY src_lo, src_hi""".stripMargin),

    // ------------------------------------------------------------------
    // MinHash+LSH near-dup pairs. The md5/mod-prime family makes every
    // stage (shingle hash, 64 permutations, banding, signature match
    // count) reproducible in DuckDB — bit-exact oracle; the xxhash64
    // family stays the scale default and is spec-verified for
    // recall/precision against exact Jaccard.
    "dedup_minhash_lsh" -> QueryDef(
      (s, dir) =>
        MinHashLsh.nearDupPairs(
          perturbedDocs(s, dir), "doc_id", "text", threshold = 0.5,
          family = MinHashLsh.Family.Md5Mod(7L))
          .orderBy(col("id_a"), col("id_b")),
      minhashOracleSql(shingleN = 3, numHashes = 64, bands = 16,
        threshold = 0.5, maxBucket = 1000, seed = 7L)),

    // ------------------------------------------------------------------
    // Data Shapley for the coverage game (Ghorbani & Zou, ICML 2019 —
    // here the game is exact, so no Monte Carlo): value(S) = # of
    // DISTINCT 3-gram shingles the source set S covers, for which the
    // Shapley value has the closed form φ(src) = Σ_{sh ∋ src} 1/|owners(sh)|
    // (each shingle splits its unit of value equally among the sources
    // containing it). With ≤20 sources every term is k/lcm(1..20), so
    // φ·lcm is an exact BIGINT on both engines and the reported φ is
    // ONE division by the lcm constant. This is the "which source
    // actually contributes novel content" number a curation team uses
    // to price data — exact, not sampled. One shingle explode + two
    // keyed aggregations; nothing quadratic in sources.
    "shapley_source_shingles" -> QueryDef(
      (s, dir) => {
        val lcm = 232792560L // lcm(1..20); source count is ≤ 20 by schema
        val sh = Tables.documents(s, dir)
          .select(col("source"),
            explode(graft.functions.md5exprs.md5NgramHashes(col("text"), 3)).as("h"))
          .distinct()
        val owners = sh.groupBy(col("h"))
          .agg(count(lit(1)).as("m")) // (source,h) distinct → count = owners
        sh.join(owners, Seq("h"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_shingles"),
            sum(expr(s"$lcm div m")).as("shapley_scaled"))
          .select(col("source"), col("n_shingles"), col("shapley_scaled"),
            (col("shapley_scaled").cast("double") / lit(lcm.toDouble)).as("shapley"))
          .orderBy(col("source"))
      },
      s"""WITH sh AS (
         |  SELECT DISTINCT source, h FROM (
         |    SELECT source, unnest(list_distinct(list_transform(
         |      range(1, len(toks) - 1),
         |      i -> ${md5_63("array_to_string(toks[i:i+2], ' ')")}))) AS h
         |    FROM (SELECT source, $toksSql AS toks FROM documents)
         |    WHERE len(toks) >= 3)),
         |own AS (SELECT h, CAST(count(*) AS BIGINT) AS m FROM sh GROUP BY 1)
         |SELECT sh.source, CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(SUM(232792560 // own.m) AS BIGINT) AS shapley_scaled,
         |  CAST(SUM(232792560 // own.m) AS DOUBLE) / 232792560 AS shapley
         |FROM sh JOIN own ON own.h = sh.h
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ------------------------------------------------------------------
    // b-bit MinHash (Li & König, WWW 2010, b=1): store only the LOWEST
    // BIT of each of the 64 MinHash values — a 64× signature-storage
    // cut (8 bytes/doc vs 512), the shape that matters when the dedup
    // index itself is the 100 TB artifact. A low-bit collision happens
    // with probability J + (1−J)/2, so Ĵ₁ = 2·frac − 1 debiases it.
    // This query reports, per LSH candidate pair, the full-signature
    // estimate next to the 1-bit estimate and its raw bit-match count
    // — the calibration a team runs before switching storage tiers.
    // Same Md5Mod chain as dedup_minhash_lsh; the bit extraction is
    // sig[i] % 2 on both engines (mod-prime values are non-negative).
    "dedup_bbit_minhash" -> QueryDef(
      (s, dir) => {
        val docs = perturbedDocs(s, dir)
        val pairs = MinHashLsh.nearDupPairs(
          docs, "doc_id", "text", threshold = 0.5,
          family = MinHashLsh.Family.Md5Mod(7L))
        val sigs = MinHashLsh.signatures(
          docs, "doc_id", "text", 3, 64, MinHashLsh.Family.Md5Mod(7L))
        pairs
          .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
          .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
          .withColumn("n_bit_matches",
            graft.functions.exprs.longArrayMatchCount(
              expr("transform(sig_a, x -> x % 2)"),
              expr("transform(sig_b, x -> x % 2)")).cast("long"))
          .select(col("id_a"), col("id_b"), col("est_jaccard"),
            col("n_bit_matches"),
            ((lit(2L) * col("n_bit_matches") - lit(64L)).cast("double") / lit(64.0))
              .as("est_1bit"))
          .orderBy(col("id_a"), col("id_b"))
      }, {
        val numHashes = 64
        val (as, bs) = ModPrime.coeffs(7L, numHashes)
        val famRows = (0 until numHashes)
          .map(i => s"(${i}, ${as(i)}, ${bs(i)})").mkString(",\n    ")
        val p = ModPrime.P
        s"""WITH corpus AS ($perturbedSql),
           |tk AS (SELECT doc_id, $toksSql AS toks FROM corpus),
           |sh AS (
           |  SELECT doc_id,
           |    list_distinct(list_transform(range(1, len(toks) - 1),
           |      i -> ${md5_63("array_to_string(toks[i:i+2], ' ')")})) AS hs
           |  FROM tk WHERE len(toks) >= 3
           |),
           |shx AS (SELECT doc_id, unnest(hs) AS h FROM sh),
           |fam AS (SELECT * FROM (VALUES
           |    $famRows) f(i, a, b)),
           |mins AS (
           |  SELECT doc_id, f.i,
           |    (min((f.a::HUGEINT * (h % $p) + f.b) % $p))::BIGINT AS mh
           |  FROM shx, fam f GROUP BY doc_id, f.i
           |),
           |sig AS MATERIALIZED (SELECT doc_id, list(mh ORDER BY i) AS sig FROM mins GROUP BY doc_id),
           |banded AS (
           |  SELECT doc_id, band_idx, sig[band_idx*4+1 : band_idx*4+4] AS bkey
           |  FROM (SELECT doc_id, sig, unnest(range(0, 16)) AS band_idx FROM sig)
           |),
           |capped AS (
           |  SELECT doc_id, band_idx, bkey FROM (
           |    SELECT *, count(*) OVER (PARTITION BY band_idx, bkey) AS bsz FROM banded)
           |  WHERE bsz <= 1000
           |),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM capped a JOIN capped b
           |    ON a.band_idx = b.band_idx AND a.bkey = b.bkey AND a.doc_id < b.doc_id
           |),
           |v AS (
           |  SELECT id_a, id_b,
           |    CAST(len(list_filter(range(1, ${numHashes + 1}),
           |      i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / $numHashes AS est_jaccard,
           |    CAST(len(list_filter(range(1, ${numHashes + 1}),
           |      i -> (sa.sig[i] % 2) = (sb.sig[i] % 2))) AS BIGINT) AS n_bit_matches
           |  FROM cand
           |  JOIN sig sa ON sa.doc_id = cand.id_a
           |  JOIN sig sb ON sb.doc_id = cand.id_b
           |)
           |SELECT id_a, id_b, est_jaccard, n_bit_matches,
           |  CAST(2 * n_bit_matches - 64 AS DOUBLE) / 64 AS est_1bit
           |FROM v WHERE est_jaccard >= 0.5
           |ORDER BY id_a, id_b""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Dedup-quality eval harness (the ann_pq_recall analog for the
    // dedup tier): MinHash-LSH candidate pairs scored against the
    // EXACT 3-gram Jaccard ground truth at the same threshold, in one
    // query — n_true / n_pred / n_hit counts plus precision & recall
    // (each a single integer→double division, engine-identical). This
    // is the measurement a curation team runs before trusting an LSH
    // parameterization at corpus scale; both pipelines reuse their
    // production operators, and the oracle replays BOTH chains.
    "dedup_lsh_eval" -> QueryDef(
      (s, dir) => {
        val exact = Dedup.ngramJaccardPairs(
          perturbedDocs(s, dir), "doc_id", "text", n = 3, threshold = 0.5)
          .select(col("id_a"), col("id_b"), lit(1).as("t"))
        val lsh = MinHashLsh.nearDupPairs(
          perturbedDocs(s, dir), "doc_id", "text", threshold = 0.5,
          family = MinHashLsh.Family.Md5Mod(7L))
          .select(col("id_a"), col("id_b"), lit(1).as("p"))
        exact.join(lsh, Seq("id_a", "id_b"), "full")
          .agg(
            count(col("t")).as("n_true"),
            count(col("p")).as("n_pred"),
            count(when(col("t").isNotNull && col("p").isNotNull, 1)).as("n_hit"))
          .withColumn(
            "precision",
            when(col("n_pred") > 0,
              col("n_hit").cast("double") / col("n_pred").cast("double")).otherwise(lit(0.0)))
          .withColumn(
            "recall",
            when(col("n_true") > 0,
              col("n_hit").cast("double") / col("n_true").cast("double")).otherwise(lit(0.0)))
      },
      s"""WITH corpus0 AS ($perturbedSql),
         |exdocs AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(range(1, len(toks) - 1),
         |      i -> array_to_string(toks[i:i+2], ' '))) AS sh
         |  FROM (SELECT doc_id, $toksSql AS toks FROM corpus0)
         |  WHERE len(toks) >= 3
         |),
         |exinv AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM exdocs),
         |expairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |         a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS shared
         |  FROM exinv a JOIN exinv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4
         |),
         |ex AS (
         |  SELECT id_a, id_b FROM expairs
         |  WHERE CAST(shared AS DOUBLE) / (n_a + n_b - shared) >= 0.5),
         |mh AS (
         |  SELECT id_a, id_b FROM (
         |${minhashOracleSql(shingleN = 3, numHashes = 64, bands = 16,
           threshold = 0.5, maxBucket = 1000, seed = 7L)}
         |  )),
         |j AS (
         |  SELECT ex.id_a IS NOT NULL AS t, mh.id_a IS NOT NULL AS p
         |  FROM ex FULL JOIN mh USING (id_a, id_b)),
         |c AS (
         |  SELECT CAST(count(*) FILTER (WHERE t) AS BIGINT) AS n_true,
         |         CAST(count(*) FILTER (WHERE p) AS BIGINT) AS n_pred,
         |         CAST(count(*) FILTER (WHERE t AND p) AS BIGINT) AS n_hit
         |  FROM j)
         |SELECT n_true, n_pred, n_hit,
         |  CASE WHEN n_pred > 0 THEN CAST(n_hit AS DOUBLE) / CAST(n_pred AS DOUBLE) ELSE 0.0 END AS precision,
         |  CASE WHEN n_true > 0 THEN CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE) ELSE 0.0 END AS recall
         |FROM c""".stripMargin),

    // ------------------------------------------------------------------
    // LSH-index lifecycle fold: build over a quarter of the corpus,
    // append three delta batches (one re-delivered — upsert makes it
    // an exact no-op), COMPACT the accumulated small files into one
    // artifact (Compactor re-lays bytes, row set untouched), then
    // probe the held-out quarter against the COMPACTED index. The
    // oracle replays the whole thing value-level — signatures, band
    // slices, candidate join, verification — so any compaction bug
    // that drops or duplicates an index row fails the gate. Md5Mod
    // family: every stage bit-exact in DuckDB.
    "dedup_index_compact" -> QueryDef(
      (s, dir) => {
        val docs = perturbedDocs(s, dir)
        val base = TmpPaths.perJvm("graft_lsh_index", dir)
        val raw = s"$base/raw"
        val compacted = s"$base/compact"
        LshIndex.build(docs.filter(col("doc_id") % 4 === 0), "doc_id", "text",
          raw, family = MinHashLsh.Family.Md5Mod(7L))
        LshIndex.append(s, raw, docs.filter(col("doc_id") % 4 === 1), "doc_id", "text")
        LshIndex.append(s, raw, docs.filter(col("doc_id") % 4 === 2), "doc_id", "text")
        // re-delivery of an already-appended batch: exact no-op
        LshIndex.append(s, raw, docs.filter(col("doc_id") % 4 === 1), "doc_id", "text")
        LshIndex.compact(s, raw, compacted)
        LshIndex.probe(s, compacted, docs.filter(col("doc_id") % 4 === 3),
          "doc_id", "text", threshold = 0.5)
          .orderBy(col("batch_id"), col("index_id"))
      }, {
        val numHashes = 64
        val bands = 16
        val rows = numHashes / bands
        val (as, bs) = ModPrime.coeffs(7L, numHashes)
        val famRows = (0 until numHashes)
          .map(i => s"(${i}, ${as(i)}, ${bs(i)})").mkString(",\n    ")
        val p = ModPrime.P
        s"""WITH corpus AS ($perturbedSql),
           |tk AS (SELECT doc_id, $toksSql AS toks FROM corpus),
           |sh AS (
           |  SELECT doc_id,
           |    list_distinct(list_transform(range(1, len(toks) - 1),
           |      i -> ${md5_63("array_to_string(toks[i:i+2], ' ')")})) AS hs
           |  FROM tk WHERE len(toks) >= 3
           |),
           |shx AS (SELECT doc_id, unnest(hs) AS h FROM sh),
           |fam AS (
           |  SELECT * FROM (VALUES
           |    $famRows) f(i, a, b)
           |),
           |mins AS (
           |  SELECT doc_id, f.i,
           |    (min((f.a::HUGEINT * (h % $p) + f.b) % $p))::BIGINT AS mh
           |  FROM shx, fam f GROUP BY doc_id, f.i
           |),
           |sig AS MATERIALIZED (SELECT doc_id, list(mh ORDER BY i) AS sig FROM mins GROUP BY doc_id),
           |banded AS MATERIALIZED (
           |  SELECT doc_id, band_idx, sig[band_idx*$rows+1 : band_idx*$rows+$rows] AS bkey
           |  FROM (SELECT doc_id, sig, unnest(range(0, $bands)) AS band_idx FROM sig)
           |),
           |cand AS (
           |  SELECT DISTINCT b.doc_id AS batch_id, a.doc_id AS index_id
           |  FROM banded a JOIN banded b
           |    ON a.band_idx = b.band_idx AND a.bkey = b.bkey
           |  WHERE a.doc_id % 4 < 3 AND b.doc_id % 4 = 3 AND a.doc_id <> b.doc_id
           |),
           |v AS (
           |  SELECT batch_id, index_id,
           |    CAST(len(list_filter(range(1, ${numHashes + 1}),
           |      i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / $numHashes AS est_jaccard
           |  FROM cand
           |  JOIN sig sa ON sa.doc_id = cand.index_id
           |  JOIN sig sb ON sb.doc_id = cand.batch_id
           |)
           |SELECT batch_id, index_id, est_jaccard FROM v WHERE est_jaccard >= 0.5
           |ORDER BY batch_id, index_id""".stripMargin
      }),

    // ------------------------------------------------------------------
    // RTBF purge of the persisted LSH index (the right-to-be-forgotten
    // lifecycle on the ANN tier, next to rtbf_purge_audit's relational
    // lake): build → tombstone-delete the victim docs → re-deliver the
    // same purge (exact no-op, key-upsert) → compact (tombstones
    // physically materialize, compacted index carries none) → probe.
    // The oracle replays the FULL signature/band/verify chain with the
    // victims excluded from the index side — post-purge probe must
    // equal a rebuild-without-victims bit-for-bit. Deletes write only
    // the O(purges) tombstone set; the corpus-sized sigs/buckets
    // rewrite once, at compaction — the 100 TB purge shape.
    "rtbf_lsh_purge" -> QueryDef(
      (s, dir) => {
        val docs = perturbedDocs(s, dir)
        val base = TmpPaths.perJvm("graft_lsh_rtbf", dir)
        val raw = s"$base/idx"
        val compacted = s"$base/compact"
        LshIndex.build(docs.filter(col("doc_id") % 4 < 3), "doc_id", "text",
          raw, family = MinHashLsh.Family.Md5Mod(7L))
        val victims = docs.filter(col("doc_id") % 8 === 1).select(col("doc_id"))
        LshIndex.delete(s, raw, victims)
        LshIndex.delete(s, raw, victims) // re-delivered purge: exact no-op
        LshIndex.compact(s, raw, compacted)
        LshIndex.probe(s, compacted, docs.filter(col("doc_id") % 4 === 3),
          "doc_id", "text", threshold = 0.5)
          .orderBy(col("batch_id"), col("index_id"))
      }, {
        val numHashes = 64
        val bands = 16
        val rows = numHashes / bands
        val (as, bs) = ModPrime.coeffs(7L, numHashes)
        val famRows = (0 until numHashes)
          .map(i => s"(${i}, ${as(i)}, ${bs(i)})").mkString(",\n    ")
        val p = ModPrime.P
        s"""WITH corpus AS ($perturbedSql),
           |tk AS (SELECT doc_id, $toksSql AS toks FROM corpus),
           |sh AS (
           |  SELECT doc_id,
           |    list_distinct(list_transform(range(1, len(toks) - 1),
           |      i -> ${md5_63("array_to_string(toks[i:i+2], ' ')")})) AS hs
           |  FROM tk WHERE len(toks) >= 3
           |),
           |shx AS (SELECT doc_id, unnest(hs) AS h FROM sh),
           |fam AS (
           |  SELECT * FROM (VALUES
           |    $famRows) f(i, a, b)
           |),
           |mins AS (
           |  SELECT doc_id, f.i,
           |    (min((f.a::HUGEINT * (h % $p) + f.b) % $p))::BIGINT AS mh
           |  FROM shx, fam f GROUP BY doc_id, f.i
           |),
           |sig AS MATERIALIZED (SELECT doc_id, list(mh ORDER BY i) AS sig FROM mins GROUP BY doc_id),
           |banded AS MATERIALIZED (
           |  SELECT doc_id, band_idx, sig[band_idx*$rows+1 : band_idx*$rows+$rows] AS bkey
           |  FROM (SELECT doc_id, sig, unnest(range(0, $bands)) AS band_idx FROM sig)
           |),
           |cand AS (
           |  SELECT DISTINCT b.doc_id AS batch_id, a.doc_id AS index_id
           |  FROM banded a JOIN banded b
           |    ON a.band_idx = b.band_idx AND a.bkey = b.bkey
           |  WHERE a.doc_id % 4 < 3 AND a.doc_id % 8 <> 1
           |    AND b.doc_id % 4 = 3 AND a.doc_id <> b.doc_id
           |),
           |v AS (
           |  SELECT batch_id, index_id,
           |    CAST(len(list_filter(range(1, ${numHashes + 1}),
           |      i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / $numHashes AS est_jaccard
           |  FROM cand
           |  JOIN sig sa ON sa.doc_id = cand.index_id
           |  JOIN sig sb ON sb.doc_id = cand.batch_id
           |)
           |SELECT batch_id, index_id, est_jaccard FROM v WHERE est_jaccard >= 0.5
           |ORDER BY batch_id, index_id""".stripMargin
      }),

    // ------------------------------------------------------------------
    // RTBF purge of the persisted IVF-Flat vector lake (IvfStore): the
    // same lifecycle on the uncompressed-vector tier — build from the
    // session-trained quantizer → tombstone-delete every vec_id ≡ 3
    // (mod 10) → re-deliver the purge (no-op) → compact → probe the
    // compacted store. Training is NOT redone (a tombstone delete
    // keeps the quantizer), so the oracle replays the full trained
    // routing with ONLY the indexed side filtered (corpusFilter):
    // post-purge probe ≡ rebuild-without-victims, doubles included.
    "rtbf_ann_lake_purge" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val base = TmpPaths.perJvm("graft_ivf_rtbf", dir)
        val store = s"$base/store"
        val compacted = s"$base/compact"
        graft.operators.IvfStore.build(
          emb, "vec_id", "embedding", store, IvfArtifacts.centroids(s, dir))
        val victims = emb.filter(col("vec_id") % 10 === 3).select(col("vec_id"))
        graft.operators.IvfStore.delete(s, store, victims)
        graft.operators.IvfStore.delete(s, store, victims) // re-delivery: no-op
        graft.operators.IvfStore.compact(s, store, compacted)
        graft.operators.IvfStore.probe(
          s, compacted, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nprobe = 8)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
          .orderBy(col("query_id"), col("rank"))
      },
      trainedIvfRankedCtes(
        dim = 64, nlist = 16, nprobe = 8,
        sampleSize = 10000, iters = 5, seed = 42L,
        probeFilter = "p.vec_id < 10",
        corpusFilter = "c.vec_id % 10 <> 3") +
        "\nSELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"),

    // ------------------------------------------------------------------
    // Exact substring-span dedup signal (the "dedup training data at
    // the substring level" shape): every 8-token span hashed per doc
    // (distinct within doc), inverted, spans appearing in ≥2 docs
    // reported by document frequency. One explode + one shuffle keyed
    // by 63-bit span hash; deterministic (n_docs desc, span_hash asc)
    // top-200 cut plans as TakeOrderedAndProject.
    "dedup_common_spans" -> QueryDef(
      (s, dir) => {
        val spans = perturbedDocs(s, dir).select(
          col("doc_id"),
          explode(graft.functions.md5exprs.md5NgramHashes(col("text"), 8))
            .as("span_hash"))
        spans.groupBy(col("span_hash"))
          .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
          .filter(col("n_docs") >= 2)
          .orderBy(desc("n_docs"), col("span_hash"))
          .limit(200)
      },
      s"""WITH corpus AS ($perturbedSql),
         |tk AS (SELECT doc_id, $toksSql AS toks FROM corpus),
         |sh AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(range(1, len(toks) - 6),
         |      i -> ${md5_63("array_to_string(toks[i:i+7], ' ')")})) AS hs
         |  FROM tk WHERE len(toks) >= 8
         |),
         |sp AS (SELECT doc_id, unnest(hs) AS span_hash FROM sh)
         |SELECT span_hash, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
         |FROM sp GROUP BY span_hash HAVING COUNT(*) >= 2
         |ORDER BY n_docs DESC, span_hash
         |LIMIT 200""".stripMargin),

    // ------------------------------------------------------------------
    // HTML BLOCK extraction — the per-block face of html_extract_text
    // (paragraph-grain text is what line/span dedup and chunking
    // consume on web corpora): after script/style strip, block-level
    // tags (p/div/h1-h3/li/br) become newlines, each piece runs the
    // HtmlExtract kernel, empties drop, and survivors renumber per
    // doc. Map-only until the bounded per-doc window.
    "html_extract_blocks" -> QueryDef(
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("pos"))
        htmlBlocks(s, dir)
          .withColumn("block_idx", row_number().over(w).cast("int"))
          .select(col("doc_id"), col("block_idx"), col("block_text"))
          .orderBy(col("doc_id"), col("block_idx"))
      },
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><title>T</title><style>b{}</style></head><body>' ||
        |    '<h1>Doc ' || doc_id || '</h1>' ||
        |    '<script>var x = "<p>not a block</p>";</script>' ||
        |    '<p>' || coalesce(text, '') || '</p>' ||
        |    '<div>footer &amp; legal</div><br>tail note</body></html>' AS html
        |  FROM documents),
        |ns AS (
        |  SELECT doc_id,
        |    regexp_replace(
        |      regexp_replace(html, '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
        |      '(?s)<style[^>]*>.*?</style>', ' ', 'g') AS a
        |  FROM h),
        |sp AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(a, '</?(p|div|h1|h2|h3|li|br)[^>]*>', chr(10), 'g'),
        |      chr(10)) AS pieces
        |  FROM ns),
        |pc AS (
        |  SELECT s.doc_id, CAST(i AS INT) AS pos, s.pieces[CAST(i AS INT)] AS piece
        |  FROM sp s, unnest(range(1, len(pieces) + 1)) t(i)),
        |x AS (
        |  SELECT doc_id, pos,
        |    trim(regexp_replace(
        |      replace(replace(replace(replace(replace(replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(piece, '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
        |            '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
        |          '<[^>]*>', ' ', 'g'),
        |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |      '[\t\n\f\r ]+', ' ', 'g')) AS block_text
        |  FROM pc)
        |SELECT doc_id, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS INT) AS block_idx,
        |  block_text
        |FROM x WHERE len(block_text) > 0
        |ORDER BY doc_id, block_idx""".stripMargin),

    // ------------------------------------------------------------------
    // HTML TABLE extraction — structured data out of markup (the
    // web-corpus op behind every "tables from the crawl" dataset):
    // orders salt into per-page <table> markup (5 data rows + header,
    // entities in the header cell), rows come out via the lazy
    // <tr>(.*?)</tr> group (identical semantics in Java regex and
    // RE2), cells via <t[dh]>, and each row's cells join with '|'
    // through the HtmlExtract kernel for entity decode + trim.
    // Map-only after the bounded page-assembly agg.
    "html_table_extract" -> QueryDef(
      (s, dir) => {
        val pg = Tables.orders(s, dir)
          .filter(col("o_orderkey") < 2000)
          .select(expr("o_orderkey div 5").as("page_id"),
            col("o_orderkey").as("k"), col("o_orderstatus").as("st"))
          .groupBy(col("page_id"))
          .agg(concat(
            lit("<table><tr><th>key &amp; id</th><th>status</th></tr>"),
            concat_ws("", transform(
              array_sort(collect_list(struct(col("k"),
                concat(lit("<tr><td>"), col("k").cast("string"),
                  lit("</td><td>"), col("st"), lit("</td></tr>")).as("h")))),
              x => x.getField("h"))),
            lit("</table>")).as("html"))
        pg
          .select(col("page_id"),
            posexplode(expr("regexp_extract_all(html, '<tr>(.*?)</tr>', 1)"))
              .as(Seq("r0", "row_html")))
          .select(col("page_id"), (col("r0") + 1).cast("int").as("row_idx"),
            expr("regexp_extract_all(row_html, '<t[dh][^>]*>(.*?)</t[dh]>', 1)")
              .as("cells"))
          .select(col("page_id"), col("row_idx"),
            size(col("cells")).as("n_cells"),
            graft.functions.exprs.htmlExtract(array_join(col("cells"), "|"))
              .as("row_text"))
          .orderBy(col("page_id"), col("row_idx"))
      },
      """WITH src AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS st
        |  FROM orders WHERE o_orderkey < 2000),
        |pg AS (
        |  SELECT k // 5 AS page_id,
        |    '<table><tr><th>key &amp; id</th><th>status</th></tr>' ||
        |    string_agg('<tr><td>' || k || '</td><td>' || st || '</td></tr>', ''
        |      ORDER BY k) || '</table>' AS html
        |  FROM src GROUP BY 1),
        |rw AS (
        |  SELECT page_id, regexp_extract_all(html, '<tr>(.*?)</tr>', 1) AS rows_
        |  FROM pg),
        |tr AS (
        |  SELECT r.page_id, CAST(i AS INT) AS row_idx,
        |    r.rows_[CAST(i AS INT)] AS row_html
        |  FROM rw r, unnest(range(1, len(rows_) + 1)) t(i)),
        |cl AS (
        |  SELECT page_id, row_idx,
        |    regexp_extract_all(row_html, '<t[dh][^>]*>(.*?)</t[dh]>', 1) AS cells
        |  FROM tr),
        |x AS (
        |  SELECT page_id, row_idx, CAST(len(cells) AS INT) AS n_cells,
        |    trim(regexp_replace(
        |      replace(replace(replace(replace(replace(replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(array_to_string(cells, '|'),
        |              '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
        |            '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
        |          '<[^>]*>', ' ', 'g'),
        |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |      '[\t\n\f\r ]+', ' ', 'g')) AS row_text
        |  FROM cl)
        |SELECT page_id, row_idx, n_cells, row_text
        |FROM x ORDER BY page_id, row_idx""".stripMargin),

    // ------------------------------------------------------------------
    // Web BOILERPLATE removal — the composition the block extractor
    // exists for: blocks repeated across > 3 documents (the salted
    // title/footer/tail on every page) are boilerplate and drop;
    // unique content blocks reassemble in page order. The blacklist
    // is tiny (distinct boilerplate strings) → broadcast anti-join,
    // the LineDedup shape at block grain; page_md5 pins reassembly
    // byte-exactly.
    "web_boilerplate_removal" -> QueryDef(
      (s, dir) => {
        val blocks = htmlBlocks(s, dir).localCheckpoint()
        val blacklist = blocks
          .groupBy(col("block_text"))
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") > 3)
          .select(col("block_text"))
        blocks
          .join(broadcast(blacklist.withColumn("bp", lit(true))),
            Seq("block_text"), "left")
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_blocks"),
            sum(when(col("bp"), 1L).otherwise(0L)).as("n_dropped"),
            md5(array_join(
              transform(
                array_sort(collect_list(
                  when(col("bp").isNull, struct(col("pos"), col("block_text"))))),
                x => x.getField("block_text")),
              "\n")).as("page_md5"))
          .orderBy(col("doc_id"))
      },
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><title>T</title><style>b{}</style></head><body>' ||
        |    '<h1>Doc ' || doc_id || '</h1>' ||
        |    '<script>var x = "<p>not a block</p>";</script>' ||
        |    '<p>' || coalesce(text, '') || '</p>' ||
        |    '<div>footer &amp; legal</div><br>tail note</body></html>' AS html
        |  FROM documents),
        |ns AS (
        |  SELECT doc_id,
        |    regexp_replace(
        |      regexp_replace(html, '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
        |      '(?s)<style[^>]*>.*?</style>', ' ', 'g') AS a
        |  FROM h),
        |sp AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(a, '</?(p|div|h1|h2|h3|li|br)[^>]*>', chr(10), 'g'),
        |      chr(10)) AS pieces
        |  FROM ns),
        |pc AS (
        |  SELECT s.doc_id, CAST(i AS INT) AS pos, s.pieces[CAST(i AS INT)] AS piece
        |  FROM sp s, unnest(range(1, len(pieces) + 1)) t(i)),
        |x AS (
        |  SELECT doc_id, pos,
        |    trim(regexp_replace(
        |      replace(replace(replace(replace(replace(replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(piece, '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
        |            '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
        |          '<[^>]*>', ' ', 'g'),
        |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |      '[\t\n\f\r ]+', ' ', 'g')) AS block_text
        |  FROM pc),
        |bk AS (SELECT doc_id, pos, block_text FROM x WHERE len(block_text) > 0),
        |bl AS (
        |  SELECT block_text FROM bk
        |  GROUP BY 1 HAVING count(DISTINCT doc_id) > 3)
        |SELECT b.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_blocks,
        |  CAST(count(*) FILTER (WHERE bl.block_text IS NOT NULL) AS BIGINT) AS n_dropped,
        |  md5(coalesce(string_agg(b.block_text, chr(10) ORDER BY b.pos)
        |    FILTER (WHERE bl.block_text IS NULL), '')) AS page_md5
        |FROM bk b LEFT JOIN bl ON bl.block_text = b.block_text
        |GROUP BY 1 ORDER BY b.doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // Substring-REMOVAL dedup (Lee et al. 2022 ExactSubstr shape,
    // SpanDedup operator): where dedup_common_spans only CENSUSES
    // repeated 8-token spans, this excises them — every token covered
    // by a span occurring in ≥2 docs is dropped and the survivors
    // reassemble in original order (token-canonical text). The
    // perturbed corpus guarantees real mid-document duplicates: each
    // doc's spans recur in its first-token-dropped twin at a shifted
    // offset, so excision fires away from document boundaries. Census
    // and probe are one span_hash-keyed shuffle each (ids+offsets
    // only); reassembly is the single doc_id shuffle.
    "dedup_span_excise" -> QueryDef(
      (s, dir) =>
        SpanDedup.exciseFromCovered(
          perturbedDocs(s, dir), "doc_id", "text", spanCoverage(s, dir)._2)
          .orderBy(col("doc_id")),
      s"""WITH corpus AS ($perturbedSql),
         |tk AS (SELECT doc_id, $toksSql AS toks FROM corpus),
         |sp AS (
         |  SELECT doc_id, i - 1 AS start0,
         |    ${md5_63("array_to_string(toks[i:i+7], ' ')")} AS span_hash
         |  FROM tk, unnest(range(1, len(toks) - 6)) t(i) WHERE len(toks) >= 8),
         |bl AS (
         |  SELECT span_hash FROM sp
         |  GROUP BY 1 HAVING count(DISTINCT doc_id) > 1),
         |cov AS (
         |  SELECT DISTINCT s.doc_id, s.start0 + u.j AS pos0
         |  FROM sp s JOIN bl USING (span_hash), unnest(range(0, 8)) u(j)),
         |tok AS (
         |  SELECT t.doc_id, u.pos0, u.token
         |  FROM tk t LEFT JOIN (
         |    SELECT doc_id, i - 1 AS pos0, toks[i] AS token
         |    FROM tk, unnest(range(1, len(toks) + 1)) r(i)) u USING (doc_id))
         |SELECT t.doc_id,
         |  CAST(count(t.token) AS BIGINT) AS n_tokens,
         |  CAST(count(*) FILTER (WHERE c.pos0 IS NOT NULL) AS BIGINT) AS n_dropped,
         |  coalesce(string_agg(t.token, ' ' ORDER BY t.pos0)
         |    FILTER (WHERE c.pos0 IS NULL AND t.token IS NOT NULL), '') AS clean_text
         |FROM tok t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.pos0 = t.pos0
         |GROUP BY t.doc_id
         |ORDER BY t.doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // INCREMENTAL substring excision (SpanDedup.exciseAgainstCensus —
    // the LshIndex/IncrementalDedup append discipline applied to
    // ExactSubstr): the archive's span census is the PERSISTED
    // artifact; the fresh batch (the perturbed twins) probes it and
    // excises spans whose archive+batch distinct-doc count exceeds the
    // cap — batch-proportional work, archive text never re-scanned.
    // For disjoint doc ids the combined count IS the full-rebuild
    // census, so the oracle states the full-corpus excision restricted
    // to batch documents (equality also spec-asserted in
    // SpanDedupSpec, plus the census-fold exactness law).
    "dedup_span_incremental" -> QueryDef(
      (s, dir) => {
        val archive = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        val batch = archive.select(
          (col("doc_id") + 100000).as("doc_id"),
          regexp_replace(col("text"), "^[^\\t\\n\\f\\r ]+[\\t\\n\\f\\r ]*", "")
            .as("text"))
        val census = SpanDedup.spanCensus(archive, "doc_id", "text", n = 8)
        SpanDedup.exciseAgainstCensus(
          batch, "doc_id", "text", n = 8, maxDocs = 1L, census)
          .orderBy(col("doc_id"))
      },
      s"""WITH corpus AS ($perturbedSql),
         |tk AS (SELECT doc_id, $toksSql AS toks FROM corpus),
         |sp AS (
         |  SELECT doc_id, i - 1 AS start0,
         |    ${md5_63("array_to_string(toks[i:i+7], ' ')")} AS span_hash
         |  FROM tk, unnest(range(1, len(toks) - 6)) t(i) WHERE len(toks) >= 8),
         |bl AS (
         |  SELECT span_hash FROM sp
         |  GROUP BY 1 HAVING count(DISTINCT doc_id) > 1),
         |cov AS (
         |  SELECT DISTINCT s.doc_id, s.start0 + u.j AS pos0
         |  FROM sp s JOIN bl USING (span_hash), unnest(range(0, 8)) u(j)
         |  WHERE s.doc_id >= 100000),
         |btk AS (SELECT doc_id, toks FROM tk WHERE doc_id >= 100000),
         |tok AS (
         |  SELECT t.doc_id, u.pos0, u.token
         |  FROM btk t LEFT JOIN (
         |    SELECT doc_id, i - 1 AS pos0, toks[i] AS token
         |    FROM btk, unnest(range(1, len(toks) + 1)) r(i)) u USING (doc_id))
         |SELECT t.doc_id,
         |  CAST(count(t.token) AS BIGINT) AS n_tokens,
         |  CAST(count(*) FILTER (WHERE c.pos0 IS NOT NULL) AS BIGINT) AS n_dropped,
         |  coalesce(string_agg(t.token, ' ' ORDER BY t.pos0)
         |    FILTER (WHERE c.pos0 IS NULL AND t.token IS NOT NULL), '') AS clean_text
         |FROM tok t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.pos0 = t.pos0
         |GROUP BY t.doc_id
         |ORDER BY t.doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // Repeated-span RUN-LENGTH histogram (the length statistics Lee
    // et al. report for ExactSubstr): covered positions group into
    // maximal runs via gaps-and-islands (pos0 − row_number per doc —
    // consecutive positions share the group key), then a corpus-wide
    // histogram of run lengths. Diagnoses WHAT the excision would cut:
    // long runs = syndicated bodies, short runs = idiom collisions.
    // Reads the same coveredPositions frame the excision policies use.
    "dedup_span_runlengths" -> QueryDef(
      (s, dir) => {
        val cov = spanCoverage(s, dir)._2 // shared census artifact (r14)
        val w = Window.partitionBy(col("doc_id")).orderBy(col("pos0"))
        cov
          .withColumn("grp", col("pos0") - row_number().over(w))
          .groupBy(col("doc_id"), col("grp"))
          .agg(count(lit(1)).as("run_len"))
          .groupBy(col("run_len"))
          .agg(
            count(lit(1)).as("n_runs"),
            countDistinct(col("doc_id")).as("n_docs"))
          .orderBy(col("run_len"))
      },
      s"""WITH corpus AS ($perturbedSql),
         |tk AS (SELECT doc_id, $toksSql AS toks FROM corpus),
         |sp AS (
         |  SELECT doc_id, i - 1 AS start0,
         |    ${md5_63("array_to_string(toks[i:i+7], ' ')")} AS span_hash
         |  FROM tk, unnest(range(1, len(toks) - 6)) t(i) WHERE len(toks) >= 8),
         |bl AS (
         |  SELECT span_hash FROM sp
         |  GROUP BY 1 HAVING count(DISTINCT doc_id) > 1),
         |cov AS (
         |  SELECT DISTINCT s.doc_id, s.start0 + u.j AS pos0
         |  FROM sp s JOIN bl USING (span_hash), unnest(range(0, 8)) u(j)),
         |runs AS (
         |  SELECT doc_id,
         |    pos0 - row_number() OVER (PARTITION BY doc_id ORDER BY pos0) AS grp
         |  FROM cov),
         |rl AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS run_len
         |  FROM runs GROUP BY doc_id, grp)
         |SELECT run_len, CAST(count(*) AS BIGINT) AS n_runs,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         |FROM rl GROUP BY 1 ORDER BY run_len""".stripMargin),

    // ------------------------------------------------------------------
    // MAXIMAL duplicated spans (the ExactSubstr anchor-EXTENSION step:
    // Lee et al. seed on fixed 8-gram matches, then extend to the
    // longest duplicated run): adjacent/overlapping hits merge via
    // gaps-and-islands over the shared coverage frame, and each
    // maximal run is reported WITH its byte-exact text — the spans an
    // excision cuts, at full extent, plus their offsets for audit.
    // Fires mid-document on the perturbed corpus (each doc's span
    // block recurs shifted in its twin).
    "dedup_span_maximal" -> QueryDef(
      (s, dir) =>
        SpanDedup.maximalSpansFromCovered(
          perturbedDocs(s, dir), "doc_id", "text", spanCoverage(s, dir)._2)
          .orderBy(col("doc_id"), col("start0")),
      s"""WITH corpus AS ($perturbedSql),
         |tk AS (SELECT doc_id, $toksSql AS toks FROM corpus),
         |sp AS (
         |  SELECT doc_id, i - 1 AS start0,
         |    ${md5_63("array_to_string(toks[i:i+7], ' ')")} AS span_hash
         |  FROM tk, unnest(range(1, len(toks) - 6)) t(i) WHERE len(toks) >= 8),
         |bl AS (
         |  SELECT span_hash FROM sp
         |  GROUP BY 1 HAVING count(DISTINCT doc_id) > 1),
         |cov AS (
         |  SELECT DISTINCT s.doc_id, s.start0 + u.j AS pos0
         |  FROM sp s JOIN bl USING (span_hash), unnest(range(0, 8)) u(j)),
         |runs AS (
         |  SELECT doc_id, pos0,
         |    pos0 - row_number() OVER (PARTITION BY doc_id ORDER BY pos0) AS grp
         |  FROM cov),
         |tok AS (
         |  SELECT doc_id, i - 1 AS pos0, toks[i] AS token
         |  FROM tk, unnest(range(1, len(toks) + 1)) r(i))
         |SELECT r.doc_id,
         |  CAST(min(r.pos0) AS BIGINT) AS start0,
         |  CAST(count(*) AS BIGINT) AS span_len,
         |  string_agg(t.token, ' ' ORDER BY r.pos0) AS span_text
         |FROM runs r JOIN tok t ON t.doc_id = r.doc_id AND t.pos0 = r.pos0
         |GROUP BY r.doc_id, r.grp
         |ORDER BY r.doc_id, start0""".stripMargin),

    // ------------------------------------------------------------------
    // INTRA-doc span de-looping (SpanDedup.exciseIntraDocRepeats):
    // decoder loops repeat runs inside ONE document; this drops every
    // occurrence after the first and reassembles. Fixture doubles
    // each doc (text ∥ text — the degenerate loop), so a correct scrub
    // must excise nearly the whole second copy (the 7 junction-
    // straddling spans are genuinely unique and stay). Everything
    // partitions by doc — no cross-doc state.
    "dedup_intra_doc_spans" -> QueryDef(
      (s, dir) =>
        SpanDedup.exciseIntraDocRepeats(
          Tables.documents(s, dir)
            .select(col("doc_id"),
              concat_ws(" ", col("text"), col("text")).as("text")),
          "doc_id", "text", n = 8)
          .orderBy(col("doc_id")),
      s"""WITH corpus AS (
         |  SELECT doc_id,
         |    coalesce(text, '') || ' ' || coalesce(text, '') AS text
         |  FROM documents),
         |tk AS (SELECT doc_id, $toksSql AS toks FROM corpus),
         |sp AS (
         |  SELECT doc_id, i - 1 AS start0,
         |    ${md5_63("array_to_string(toks[i:i+7], ' ')")} AS span_hash
         |  FROM tk, unnest(range(1, len(toks) - 6)) t(i) WHERE len(toks) >= 8),
         |fs AS (
         |  SELECT doc_id, span_hash, min(start0) AS min0
         |  FROM sp GROUP BY 1, 2 HAVING count(*) > 1),
         |cov AS (
         |  SELECT DISTINCT s.doc_id, s.start0 + u.j AS pos0
         |  FROM sp s JOIN fs USING (doc_id, span_hash), unnest(range(0, 8)) u(j)
         |  WHERE s.start0 > fs.min0),
         |tok AS (
         |  SELECT t.doc_id, u.pos0, u.token
         |  FROM tk t LEFT JOIN (
         |    SELECT doc_id, i - 1 AS pos0, toks[i] AS token
         |    FROM tk, unnest(range(1, len(toks) + 1)) r(i)) u USING (doc_id))
         |SELECT t.doc_id,
         |  CAST(count(t.token) AS BIGINT) AS n_tokens,
         |  CAST(count(*) FILTER (WHERE c.pos0 IS NOT NULL) AS BIGINT) AS n_dropped,
         |  coalesce(string_agg(t.token, ' ' ORDER BY t.pos0)
         |    FILTER (WHERE c.pos0 IS NULL AND t.token IS NOT NULL), '') AS clean_text
         |FROM tok t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.pos0 = t.pos0
         |GROUP BY t.doc_id
         |ORDER BY t.doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // Span excision, KEEP-ONE policy (Lee et al. §4.1's other
    // variant): per duplicated span the minimum-(doc, start)
    // occurrence survives; every other occurrence's tokens drop. On
    // the perturbed corpus the original docs (low ids) keep their
    // spans and the +100000 twins lose them — asymmetric where
    // dedup_span_excise is symmetric. Keeper selection is a
    // min-struct agg + anti-join, both still span_hash-keyed.
    "dedup_span_keepfirst" -> QueryDef(
      (s, dir) =>
        // keeper-aware coverage re-derives from the SHARED span frame
        // (r14): the corpus explode + checkpoint happen once per session
        SpanDedup.exciseFromCovered(
          perturbedDocs(s, dir), "doc_id", "text",
          SpanDedup.coveredPositionsFromSpans(
            spanCoverage(s, dir)._1, "doc_id", 8, 1L, keepFirst = true))
          .orderBy(col("doc_id")),
      s"""WITH corpus AS ($perturbedSql),
         |tk AS (SELECT doc_id, $toksSql AS toks FROM corpus),
         |sp AS (
         |  SELECT doc_id, i - 1 AS start0,
         |    ${md5_63("array_to_string(toks[i:i+7], ' ')")} AS span_hash
         |  FROM tk, unnest(range(1, len(toks) - 6)) t(i) WHERE len(toks) >= 8),
         |bl AS (
         |  SELECT span_hash FROM sp
         |  GROUP BY 1 HAVING count(DISTINCT doc_id) > 1),
         |hitk AS (
         |  SELECT s.doc_id, s.start0,
         |    row_number() OVER (PARTITION BY s.span_hash
         |      ORDER BY s.doc_id, s.start0) AS rn
         |  FROM sp s JOIN bl USING (span_hash)),
         |cov AS (
         |  SELECT DISTINCT h.doc_id, h.start0 + u.j AS pos0
         |  FROM hitk h, unnest(range(0, 8)) u(j) WHERE h.rn > 1),
         |tok AS (
         |  SELECT t.doc_id, u.pos0, u.token
         |  FROM tk t LEFT JOIN (
         |    SELECT doc_id, i - 1 AS pos0, toks[i] AS token
         |    FROM tk, unnest(range(1, len(toks) + 1)) r(i)) u USING (doc_id))
         |SELECT t.doc_id,
         |  CAST(count(t.token) AS BIGINT) AS n_tokens,
         |  CAST(count(*) FILTER (WHERE c.pos0 IS NOT NULL) AS BIGINT) AS n_dropped,
         |  coalesce(string_agg(t.token, ' ' ORDER BY t.pos0)
         |    FILTER (WHERE c.pos0 IS NULL AND t.token IS NOT NULL), '') AS clean_text
         |FROM tok t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.pos0 = t.pos0
         |GROUP BY t.doc_id
         |ORDER BY t.doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // SimHash near-dup pairs — md5-based 63-bit fingerprints; the
    // pigeonhole chunk blocking is exact (any pair ≤ maxHamming bits
    // apart agrees on ≥1 chunk), so the DuckDB twin reproduces the
    // full candidate + verify pipeline bit-exactly.
    "dedup_simhash" -> QueryDef(
      (s, dir) =>
        SimHashDedup.nearDupPairs(
          perturbedDocs(s, dir), "doc_id", "text", maxHamming = 3,
          md5Based = true)
          .orderBy(col("id_a"), col("id_b")),
      simhashOracleSql(maxHamming = 3, maxBucket = 10000)),

    // ------------------------------------------------------------------
    // Winnowing fingerprints (custom Catalyst expression, md5 k-gram
    // hashes). Oracle reproduces the rightmost-minimum window rule via
    // a min over (hash·2³² + reversed-position) keys.
    "text_winnow_fingerprint" -> QueryDef(
      (s, dir) =>
        Tables.documents(s, dir).select(
          col("doc_id"),
          size(winnowFingerprintMd5(col("text"), 8, 4)).as("n_fingerprints"),
          element_at(winnowFingerprintMd5(col("text"), 8, 4), 1).as("first_fp"))
          .orderBy(col("doc_id")),
      winnowFingerprintOracleSql(k = 8, w = 4)),

    // ------------------------------------------------------------------
    // Exact ANN baseline: brute-force cosine top-5 for probes vec_id<10.
    // Output ids+rank only (similarity floats are engine-internal).
    "ann_bruteforce_topk" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.bruteForceTopK(
          emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
          .orderBy(col("query_id"), col("rank"))
      },
      """WITH pairs AS (
        |  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         list_cosine_similarity(c.embedding, p.embedding) AS sim
        |  FROM embeddings c, embeddings p
        |  WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |         ORDER BY sim DESC, neighbor_id) AS INT) AS rank
        |  FROM pairs
        |)
        |SELECT query_id, neighbor_id, rank FROM ranked
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin),

    // ------------------------------------------------------------------
    // Matryoshka retrieval (Kusupati et al., NeurIPS 2022): shortlist
    // with the PREFIX 16 of 64 dims (MRL-trained embeddings nest their
    // coarse representation in the prefix), rerank the 50-candidate
    // shortlist with the full vector. The 100 TB read: stage 1 scans
    // 1/4 of the vector bytes (a column-pruned prefix scan in a real
    // layout), stage 2 touches full vectors for shortK×probes rows
    // only — the pq_rerank shape with a prefix slice instead of codes.
    // Shortlist carries ids only; vectors re-attach for the rerank.
    // Oracle: both stages as the proven unrolled-IEEE double chains
    // (16-term prefix, 64-term full).
    "ann_matryoshka_topk" -> QueryDef(
      (s, dir) =>
        matryoshkaTopK(Tables.embeddings(s, dir), shortK = 50, k = 5)
          .orderBy(col("query_id"), col("rank")),
      matryoshkaCtes(shortK = 50) +
        "\nSELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5\nORDER BY query_id, rank"),

    // ------------------------------------------------------------------
    // Matryoshka recall eval (the ann_pq_recall analog): hits@5 of the
    // prefix-shortlist pipeline against the exact full-dim top-5 per
    // probe — the number that tells a retrieval team whether the 4x
    // cheaper prefix stage is safe to ship. Zero-hit probes kept via
    // the left join.
    "ann_matryoshka_recall" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val probes = emb.filter(col("vec_id") < 10)
        val exact = Similarity.bruteForceTopK(
          emb, probes, "vec_id", "embedding", k = 5)
          .select(col("query_id"), col("neighbor_id"))
        val approx = matryoshkaTopK(emb, shortK = 50, k = 5)
          .select(col("query_id"), col("neighbor_id"))
        probes.select(col("vec_id").as("query_id"))
          .join(
            exact.join(approx, Seq("query_id", "neighbor_id"))
              .groupBy(col("query_id")).agg(count(lit(1)).as("hits_at_5")),
            Seq("query_id"), "left")
          .select(col("query_id"),
            coalesce(col("hits_at_5"), lit(0L)).as("hits_at_5"))
          .orderBy(col("query_id"))
      },
      matryoshkaCtes(shortK = 50) + """,
        |exactp AS (
        |  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         list_cosine_similarity(c.embedding, p.embedding) AS sim
        |  FROM embeddings c, embeddings p
        |  WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id),
        |exact5 AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY sim DESC, neighbor_id) AS r
        |    FROM exactp) WHERE r <= 5),
        |m5 AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5),
        |hits AS (
        |  SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS hits_at_5
        |  FROM exact5 e JOIN m5 q USING (query_id, neighbor_id)
        |  GROUP BY 1)
        |SELECT p.vec_id AS query_id,
        |  CAST(COALESCE(h.hits_at_5, 0) AS BIGINT) AS hits_at_5
        |FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) p
        |LEFT JOIN hits h ON h.query_id = p.vec_id
        |ORDER BY query_id""".stripMargin),

    // ------------------------------------------------------------------
    // Late-interaction (ColBERT MaxSim) retrieval: each 64-d embedding
    // read as 4 packed 16-d sub-vectors; score = Σ_i max_j dot(q_i,d_j)
    // — term-level matching single-vector cosine averages away. One
    // codegen'd MaxSimScore node per pair (S²·L multiplies, no slice
    // materialization), broadcast probes, bounded-heap top-k. The
    // oracle replays the exact doubles: DuckDB list_dot_product over
    // DOUBLE[] slices ≡ VecDot's ascending fold (verified bit-equal),
    // greatest() ≡ the max, and the left-associated + chain ≡ the
    // ascending slice sum; output carries ids+rank only.
    "ann_maxsim_topk" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        graft.operators.MaxSim.lateInteractionTopK(
          emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          slices = 4, k = 5)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
          .orderBy(col("query_id"), col("rank"))
      },
      """WITH c AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |), p AS (
        |  SELECT vec_id, e FROM c WHERE vec_id < 10
        |), pairs AS (
        |  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    (greatest(list_dot_product(p.e[1:16], c.e[1:16]),
        |              list_dot_product(p.e[1:16], c.e[17:32]),
        |              list_dot_product(p.e[1:16], c.e[33:48]),
        |              list_dot_product(p.e[1:16], c.e[49:64]))
        |   + greatest(list_dot_product(p.e[17:32], c.e[1:16]),
        |              list_dot_product(p.e[17:32], c.e[17:32]),
        |              list_dot_product(p.e[17:32], c.e[33:48]),
        |              list_dot_product(p.e[17:32], c.e[49:64]))
        |   + greatest(list_dot_product(p.e[33:48], c.e[1:16]),
        |              list_dot_product(p.e[33:48], c.e[17:32]),
        |              list_dot_product(p.e[33:48], c.e[33:48]),
        |              list_dot_product(p.e[33:48], c.e[49:64]))
        |   + greatest(list_dot_product(p.e[49:64], c.e[1:16]),
        |              list_dot_product(p.e[49:64], c.e[17:32]),
        |              list_dot_product(p.e[49:64], c.e[33:48]),
        |              list_dot_product(p.e[49:64], c.e[49:64]))) AS score
        |  FROM c, p WHERE c.vec_id <> p.vec_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |         ORDER BY score DESC, neighbor_id) AS INT) AS rank
        |  FROM pairs
        |)
        |SELECT query_id, neighbor_id, rank FROM ranked
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin),

    // ------------------------------------------------------------------
    // Hard-negative mining for contrastive training: from each probe's
    // exact top-50, skip the top-5 (likely positives/near-dups) and
    // deterministically md5-sample 8 from the near-but-not-nearest
    // band — the negatives that actually move a retrieval model. Band
    // via bruteForceTopK (broadcast probes, bounded heaps); the sample
    // is one partitioned window over ≤ probes×45 rows. The oracle
    // replays ranking, band, and the md5 draw.
    "ann_hard_negatives" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        NegativeSampling.hardNegatives(
          emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          kScan = 50, skipTop = 5, perQuery = 8)
          .orderBy(col("query_id"), col("pick"))
      },
      """WITH pairs AS (
        |  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         list_cosine_similarity(c.embedding, p.embedding) AS sim
        |  FROM embeddings c, embeddings p
        |  WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |         ORDER BY sim DESC, neighbor_id) AS INT) AS rank
        |  FROM pairs
        |), band AS (
        |  SELECT query_id, neighbor_id, rank FROM ranked
        |  WHERE rank > 5 AND rank <= 50
        |), picked AS (
        |  SELECT query_id, neighbor_id, rank,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY md5(CAST(query_id AS VARCHAR) || ':' || CAST(neighbor_id AS VARCHAR))) AS INT) AS pick
        |  FROM band
        |)
        |SELECT query_id, neighbor_id, rank, pick FROM picked WHERE pick <= 8
        |ORDER BY query_id, pick""".stripMargin),

    // ------------------------------------------------------------------
    // LSH ANN — bit-exact DuckDB oracle: the seeded Gaussian planes are
    // regenerated by [[lshOracleSql]] and inlined as double literals;
    // every dot product is an unrolled left-to-right chain of IEEE
    // double ops, identical to the HyperplaneBuckets/VecDot loops, so
    // bucket bits, candidate sets, and rank order all reproduce exactly.
    "ann_lsh_topk" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.lshTopK(
          emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, dim = 64)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
          .orderBy(col("query_id"), col("rank"))
      },
      lshOracleSql(dim = 64, tables = 12, planesPerTable = 8, seed = 42L, k = 5)),

    // ------------------------------------------------------------------
    // Multi-probe LSH (Lv et al., VLDB 2007): HALF the tables of
    // ann_lsh_topk (6 vs 12) with 4 one-bit-flip probes per table —
    // probe-side fan-out buys the recall that extra tables would,
    // without growing the corpus-side index (the term that scales
    // with 100 TB). Buckets, flips, and the cosine rerank all replay
    // in the oracle (xor on the inlined plane-bit buckets).
    "ann_multiprobe_lsh_topk" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.multiProbeLshTopK(
          emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, dim = 64, tables = 6, planesPerTable = 8, flips = 4)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
          .orderBy(col("query_id"), col("rank"))
      },
      multiProbeLshOracleSql(
        dim = 64, tables = 6, planesPerTable = 8, flips = 4,
        seed = 42L, k = 5)),

    // ------------------------------------------------------------------
    // IVF ANN, TRAINED path — oracled end to end: training is an
    // exact-integer k-means over a hash-ordered deterministic sample
    // (IvfIndex.trainCentroids), so the oracle replays sample + init +
    // Lloyd bit-for-bit in DuckDB integer arithmetic and serves with
    // the fixed-path unrolled-IEEE recipe over the trained centroids.
    "ann_ivf_topk" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        IvfIndex.topK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
          .orderBy(col("query_id"), col("rank"))
      },
      trainedIvfOracleSql(
        dim = 64, nlist = 16, nprobe = 4,
        sampleSize = 10000, iters = 5, seed = 42L, k = 5)),

    // ------------------------------------------------------------------
    // IVF ANN served from the PERSISTED index (IvfStore): train →
    // write centroids+inverted lists as parquet → LOAD the store from
    // disk → route probes against the stored lists, never re-training
    // or re-assigning the corpus — the cross-job lake round-trip a
    // production ANN stack ships (the star-lake pattern on the vector
    // tier). nprobe=8 (vs ann_ivf_topk's 4) exercises the store's fan
    // path distinctly. Oracle = the same end-to-end training+routing
    // replay: DuckDB re-derives the identical quantizer from the
    // table, so loaded routing must match it bit-for-bit.
    "ann_ivf_lake_topk" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        graft.operators.IvfStore.probe(
          s, IvfArtifacts.lakePath(s, dir), emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nprobe = 8)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
          .orderBy(col("query_id"), col("rank"))
      },
      trainedIvfRankedCtes(
        dim = 64, nlist = 16, nprobe = 8,
        sampleSize = 10000, iters = 5, seed = 42L,
        probeFilter = "p.vec_id < 10") +
        "\nSELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"),

    // ------------------------------------------------------------------
    // IVF ANN against a FIXED (pre-trained) coarse quantizer — the
    // production serve path (train and serve are separate; the
    // quantizer ships as an index artifact). Seed-derived centroids
    // inline into the oracle as literals, so list assignment, probe
    // fan-out, and cosine rerank are all bit-exact vs DuckDB.
    "ann_ivf_fixed_topk" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        IvfIndex.searchWithCentroids(
          emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, cs = IvfIndex.seededCentroids(dim = 64, nlist = 16, seed = 11L),
          nprobe = 4)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
          .orderBy(col("query_id"), col("rank"))
      },
      ivfOracleSql(dim = 64, nlist = 16, nprobe = 4, seed = 11L, k = 5)),

    // ------------------------------------------------------------------
    // IVF-routed MaxSim — late interaction behind the IVF router: the
    // flat single-vector routes (CentroidIds map-side, probes fan to
    // nprobe lists), and only the candidate equi-join pays the S²
    // sub-dot MaxSim kernel. This is the 100 TB serving shape for
    // multi-vector retrieval: candidate generation never touches the
    // expensive scorer, and the scorer never sees more than the routed
    // lists. Oracle = the IVF routing replay + the MaxSim double chain.
    "ann_ivf_maxsim_topk" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        graft.operators.MaxSim.ivfLateInteractionTopK(
          emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          slices = 4, k = 5,
          cs = IvfIndex.seededCentroids(dim = 64, nlist = 16, seed = 11L),
          nprobe = 4)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
          .orderBy(col("query_id"), col("rank"))
      },
      ivfMaxSimOracleSql(dim = 64, nlist = 16, nprobe = 4, seed = 11L, k = 5, slices = 4)),

    // ------------------------------------------------------------------
    // Product-quantization ADC top-k (Jégou et al. TPAMI 2011) — the
    // compressed-domain ANN path: corpus vectors encode to M=8 code
    // bytes map-side (PqCodes kernel), probes precompute one M×ksub
    // integer distance table (PqAdcTable, broadcast), and each
    // candidate costs M lookups (AdcDistance) instead of a dim-64
    // dot. Everything rides IVF's exact w grid, so encode argmins,
    // tables, and ADC sums replay bit-exactly in DuckDB.
    "ann_pq_fixed_topk" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        PqIndex.topK(
          emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, codebooks = PqIndex.seededCodebooks(dim = 64, m = 8, ksub = 8, seed = 7L))
          .orderBy(col("query_id"), col("rank"))
      },
      pqOracleSql(dim = 64, m = 8, ksub = 8, seed = 7L, k = 5)),

    // ------------------------------------------------------------------
    // RESIDUAL QUANTIZATION ADC top-k (Chen, Guan & Wang 2010) — the
    // RQ member of the quantization family next to PQ/IVFPQ: level 1
    // quantizes the full vector, level 2 the residual (sequential
    // greedy encode — RqCodes kernel, what distinguishes RQ from flat
    // 256-way VQ), and scoring rides the EXISTING integer ADC path
    // over the combined codebook cb1(i)+cb2(j) with M=1. The oracle
    // replays quantize → two argmin levels → combined-table ADC in
    // exact BIGINTs.
    "ann_rq_topk" -> QueryDef(
      (s, dir) => {
        val cb1 = PqIndex.seededCodebooks(dim = 64, m = 1, ksub = 16, seed = 31L).head
        val cb2 = PqIndex.seededResidualCodebook(dim = 64, k = 16, seed = 33L)
        val emb = Tables.embeddings(s, dir)
        PqIndex.rqTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, cb1, cb2)
          .orderBy(col("query_id"), col("rank"))
      }, {
        val cb1 = PqIndex.seededCodebooks(dim = 64, m = 1, ksub = 16, seed = 31L).head
        val cb2 = PqIndex.seededResidualCodebook(dim = 64, k = 16, seed = 33L)
        def cbRows(cb: Seq[Seq[Long]]) = cb.zipWithIndex
          .map { case (cw, j) => s"($j, [${cw.mkString(", ")}])" }.mkString(",\n  ")
        def distW(a: String, b: String) =
          s"CAST(list_sum(list_transform(list_zip($a, $b), p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT)"
        val n2 = cb2.length
        s"""WITH wq AS MATERIALIZED (
           |  SELECT vec_id, list_transform(embedding,
           |    x -> CAST(floor(CAST(x AS DOUBLE)*1024.0) AS BIGINT) + 4096) AS w
           |  FROM embeddings),
           |cb1(j, cw) AS (VALUES
           |  ${cbRows(cb1)}),
           |cb2(j, cw) AS (VALUES
           |  ${cbRows(cb2)}),
           |a1 AS MATERIALIZED (
           |  SELECT vec_id, j AS c1 FROM (
           |    SELECT w.vec_id, cb1.j,
           |      row_number() OVER (PARTITION BY w.vec_id
           |        ORDER BY ${distW("w.w", "cb1.cw")}, cb1.j) AS rn
           |    FROM wq w CROSS JOIN cb1) WHERE rn = 1),
           |res AS MATERIALIZED (
           |  SELECT w.vec_id, a1.c1,
           |    list_transform(list_zip(w.w, cb1.cw), p -> p[1] - p[2]) AS r
           |  FROM wq w JOIN a1 ON a1.vec_id = w.vec_id JOIN cb1 ON cb1.j = a1.c1),
           |codes AS MATERIALIZED (
           |  SELECT vec_id, c1, j AS c2 FROM (
           |    SELECT res.vec_id, res.c1, cb2.j,
           |      row_number() OVER (PARTITION BY res.vec_id
           |        ORDER BY ${distW("res.r", "cb2.cw")}, cb2.j) AS rn
           |    FROM res CROSS JOIN cb2) WHERE rn = 1),
           |cmb AS MATERIALIZED (
           |  SELECT a.j * $n2 + b.j AS cj,
           |    list_transform(list_zip(a.cw, b.cw), p -> p[1] + p[2]) AS cw
           |  FROM cb1 a CROSS JOIN cb2 b),
           |scored AS (
           |  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    ${distW("p.w", "cmb.cw")} AS adc_dist
           |  FROM codes c
           |  JOIN cmb ON cmb.cj = c.c1 * $n2 + c.c2
           |  CROSS JOIN wq p
           |  WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id),
           |ranked AS (
           |  SELECT query_id, neighbor_id, adc_dist,
           |    CAST(row_number() OVER (PARTITION BY query_id
           |      ORDER BY adc_dist, neighbor_id) AS INT) AS rank
           |  FROM scored)
           |SELECT query_id, neighbor_id, rank, adc_dist FROM ranked WHERE rank <= 5
           |ORDER BY query_id, rank""".stripMargin
      }),

    // ------------------------------------------------------------------
    // TRAINED PQ — per-subspace codebooks from the deterministic
    // sample + exact-integer Lloyd (the same core the trained-IVF
    // oracle already replays, once per subspace with seed+m); DuckDB
    // re-trains all M codebooks and replays encode/ADC, so even the
    // trained path is hash-exact, not just the fixed one.
    "ann_pq_topk" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        PqIndex.topK(
          emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5,
          codebooks = PqIndex.trainCodebooks(
            emb, "vec_id", "embedding", m = 4, ksub = 4,
            sampleSize = 1000, iters = 2, seed = 21L))
          .orderBy(col("query_id"), col("rank"))
      },
      pqTrainedOracleSql(
        dim = 64, m = 4, ksub = 4, sampleSize = 1000, iters = 2,
        seed = 21L, k = 5)),

    // ------------------------------------------------------------------
    // Two-stage PQ search: compressed-domain ADC shortlist (top-50 by
    // integer distance), then exact cosine rerank of ONLY the
    // shortlist — vectors re-attach for ≤ probes × 50 rows, never the
    // corpus. The oracle replays the integer shortlist and the
    // left-folded double cosine (the IVF pairDot recipe).
    "ann_pq_rerank_topk" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        PqIndex.rerankTopK(
          emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, shortK = 50,
          codebooks = PqIndex.seededCodebooks(dim = 64, m = 8, ksub = 8, seed = 7L))
          .orderBy(col("query_id"), col("rank"))
      },
      pqRerankOracleSql(dim = 64, m = 8, ksub = 8, seed = 7L, shortK = 50, k = 5)),

    // ------------------------------------------------------------------
    // IVF-routed PQ (the IVFPQ/IVFADC composition, by_residual=false):
    // the coarse quantizer routes corpus vectors to inverted lists and
    // probes to their nprobe nearest lists (the proven CentroidIds
    // recipe), and candidates — an EQUI-join on list id, no cross join
    // — score by integer ADC over M-byte codes. Candidates shrink to
    // ≈ corpus × nprobe / nlist on top of PQ's O(M) per-pair cost.
    "ann_ivfadc_topk" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        PqIndex.ivfAdcTopK(
          emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5,
          coarse = IvfIndex.seededCentroids(dim = 64, nlist = 16, seed = 11L),
          codebooks = PqIndex.seededCodebooks(dim = 64, m = 8, ksub = 8, seed = 7L),
          nprobe = 4)
          .orderBy(col("query_id"), col("rank"))
      },
      ivfAdcOracleSql(
        dim = 64, nlist = 16, nprobe = 4, coarseSeed = 11L,
        m = 8, ksub = 8, pqSeed = 7L, k = 5)),

    // ------------------------------------------------------------------
    // In-engine ANN quality eval: recall@5 of the PQ index against the
    // exact brute-force top-5, per probe — the metric an index
    // deployment monitors. Pure set-intersection counting over the two
    // proven pipelines; integer output, zero-overlap probes kept via
    // left join.
    "ann_pq_recall" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val probes = emb.filter(col("vec_id") < 10)
        val exact = Similarity.bruteForceTopK(
          emb, probes, "vec_id", "embedding", k = 5)
          .select(col("query_id"), col("neighbor_id"))
        val approx = PqIndex.topK(
          emb, probes, "vec_id", "embedding", k = 5,
          codebooks = PqIndex.seededCodebooks(dim = 64, m = 8, ksub = 8, seed = 7L))
          .select(col("query_id"), col("neighbor_id"))
        probes.select(col("vec_id").as("query_id"))
          .join(
            exact.join(approx, Seq("query_id", "neighbor_id"))
              .groupBy(col("query_id")).agg(count(lit(1)).as("hits_at_5")),
            Seq("query_id"), "left")
          .select(col("query_id"),
            coalesce(col("hits_at_5"), lit(0L)).as("hits_at_5"))
          .orderBy(col("query_id"))
      },
      {
        val cbs = graft.operators.PqIndex.seededCodebooks(64, 8, 8, 7L)
        val rows = (for (mi <- 0 until 8; j <- 0 until 8) yield
          s"($mi, $j, [${cbs(mi)(j).mkString(", ")}])").mkString(",\n  ")
        s"WITH cb(m, j, cw) AS (VALUES\n  $rows),\n" + pqSearchCtesSql(8) + ",\n" +
          """exactp AS (
            |  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
            |         list_cosine_similarity(c.embedding, p.embedding) AS sim
            |  FROM embeddings c, embeddings p
            |  WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id),
            |exact5 AS (
            |  SELECT query_id, neighbor_id FROM (
            |    SELECT query_id, neighbor_id,
            |      row_number() OVER (PARTITION BY query_id
            |        ORDER BY sim DESC, neighbor_id) AS r
            |    FROM exactp) WHERE r <= 5),
            |pq5 AS (SELECT query_id, neighbor_id FROM topk WHERE rank <= 5),
            |hits AS (
            |  SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS hits_at_5
            |  FROM exact5 e JOIN pq5 q USING (query_id, neighbor_id)
            |  GROUP BY 1)
            |SELECT p.vec_id AS query_id,
            |  CAST(COALESCE(h.hits_at_5, 0) AS BIGINT) AS hits_at_5
            |FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) p
            |LEFT JOIN hits h ON h.query_id = p.vec_id
            |ORDER BY query_id""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Reciprocal-rank fusion (Cormack et al. SIGIR 2009) of two
    // retrievers — the exact cosine top-20 and the PQ-ADC top-20 —
    // the multi-index ensemble a production retrieval stack serves.
    // Scores are INTEGER RRF, 10⁹ div (60+rank), summed over
    // retrievers (a candidate missing from one list contributes 0 via
    // the full-outer join), so fusion is BIGINT-exact — never a
    // float SUM whose order could differ. Both candidate lists are
    // ≤ probes × 20 rows, so the fusion join, window, and final top-5
    // all run on skinny id+rank frames; vectors never re-enter.
    "ann_rrf_fusion" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val probes = emb.filter(col("vec_id") < 10)
        val exact = Similarity.bruteForceTopK(
          emb, probes, "vec_id", "embedding", k = 20)
          .select(col("query_id"), col("neighbor_id"), col("rank").as("r_exact"))
        val pq = PqIndex.topK(
          emb, probes, "vec_id", "embedding", k = 20,
          codebooks = PqIndex.seededCodebooks(dim = 64, m = 8, ksub = 8, seed = 7L))
          .select(col("query_id"), col("neighbor_id"), col("rank").as("r_pq"))
        val fused = exact
          .join(pq, Seq("query_id", "neighbor_id"), "full_outer")
          .withColumn(
            "rrf_score",
            expr("CAST(coalesce(1000000000 div (60 + r_exact), 0) + coalesce(1000000000 div (60 + r_pq), 0) AS BIGINT)"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("rrf_score").desc, col("neighbor_id"))
        fused
          .withColumn("fused_rank", row_number().over(w).cast("int"))
          .filter(col("fused_rank") <= 5)
          .select(col("query_id"), col("neighbor_id"), col("rrf_score"), col("fused_rank"))
          .orderBy(col("query_id"), col("fused_rank"))
      }, {
        val cbs = graft.operators.PqIndex.seededCodebooks(64, 8, 8, 7L)
        val rows = (for (mi <- 0 until 8; j <- 0 until 8) yield
          s"($mi, $j, [${cbs(mi)(j).mkString(", ")}])").mkString(",\n  ")
        s"WITH cb(m, j, cw) AS (VALUES\n  $rows),\n" + pqSearchCtesSql(8) + ",\n" +
          """pq20 AS (SELECT query_id, neighbor_id, rank AS r_pq FROM topk WHERE rank <= 20),
            |exactp AS (
            |  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
            |         list_cosine_similarity(c.embedding, p.embedding) AS sim
            |  FROM embeddings c, embeddings p
            |  WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id),
            |exact20 AS (
            |  SELECT query_id, neighbor_id, r AS r_exact FROM (
            |    SELECT query_id, neighbor_id,
            |      CAST(row_number() OVER (PARTITION BY query_id
            |        ORDER BY sim DESC, neighbor_id) AS INT) AS r
            |    FROM exactp) t WHERE r <= 20),
            |fused AS (
            |  SELECT coalesce(e.query_id, q.query_id) AS query_id,
            |         coalesce(e.neighbor_id, q.neighbor_id) AS neighbor_id,
            |         CAST(coalesce(1000000000 // (60 + e.r_exact), 0)
            |            + coalesce(1000000000 // (60 + q.r_pq), 0) AS BIGINT) AS rrf_score
            |  FROM exact20 e FULL JOIN pq20 q
            |    ON e.query_id = q.query_id AND e.neighbor_id = q.neighbor_id),
            |ranked AS (
            |  SELECT query_id, neighbor_id, rrf_score,
            |    CAST(row_number() OVER (PARTITION BY query_id
            |      ORDER BY rrf_score DESC, neighbor_id) AS INT) AS fused_rank
            |  FROM fused)
            |SELECT query_id, neighbor_id, rrf_score, fused_rank
            |FROM ranked WHERE fused_rank <= 5
            |ORDER BY query_id, fused_rank""".stripMargin
      }),

    // ------------------------------------------------------------------
    // HYBRID lexical+dense retrieval (the production RAG stack): BM25
    // over documents (TextOps.bm25, 3 fixed terms per probe, scores
    // pivoted per-term and totalled in fixed textual order) fused by
    // integer RRF with the exact dense cosine top-20 over embeddings
    // (doc_id and vec_id share the id domain). Fusion, windows, and
    // top-5 all run on skinny (probe, id, rank) frames — text and
    // vectors never meet; this is ann_rrf_fusion's machinery with the
    // lexical leg the verdict asked BM25 to provide.
    "hybrid_bm25_dense_rrf" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val terms = Seq(
          (0L, 1, "data"), (0L, 2, "query"), (0L, 3, "spark"),
          (1L, 1, "join"), (1L, 2, "merge"), (1L, 3, "sort"),
          (2L, 1, "window"), (2L, 2, "order"), (2L, 3, "line"))
          .toDF("probe_id", "pos", "token")
        val allTerms = Seq("data", "query", "spark", "join", "merge",
          "sort", "window", "order", "line")
        val lex = TextOps.bm25(Tables.documents(s, dir), "doc_id", "text")
          .filter(col("token").isin(allTerms: _*))
          .join(broadcast(terms), Seq("token"))
          .groupBy(col("probe_id"), col("doc_id"))
          .agg(
            coalesce(max(when(col("pos") === 1, col("bm25"))), lit(0.0)).as("s1"),
            coalesce(max(when(col("pos") === 2, col("bm25"))), lit(0.0)).as("s2"),
            coalesce(max(when(col("pos") === 3, col("bm25"))), lit(0.0)).as("s3"))
          .withColumn("score", col("s1") + col("s2") + col("s3"))
        val wl = org.apache.spark.sql.expressions.Window
          .partitionBy(col("probe_id"))
          .orderBy(col("score").desc, col("doc_id"))
        val lex20 = lex
          .withColumn("r_lex", row_number().over(wl).cast("int"))
          .filter(col("r_lex") <= 20)
          .select(col("probe_id"), col("doc_id").as("id"), col("r_lex"))
        val emb = Tables.embeddings(s, dir)
        val dense20 = Similarity.bruteForceTopK(
          emb, emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 20)
          .select(col("query_id").as("probe_id"), col("neighbor_id").as("id"),
            col("rank").as("r_dense"))
        val fused = lex20
          .join(dense20, Seq("probe_id", "id"), "full_outer")
          .withColumn("rrf_score",
            expr("CAST(coalesce(1000000000 div (60 + r_lex), 0) + coalesce(1000000000 div (60 + r_dense), 0) AS BIGINT)"))
        val wf = org.apache.spark.sql.expressions.Window
          .partitionBy(col("probe_id"))
          .orderBy(col("rrf_score").desc, col("id"))
        fused
          .withColumn("fused_rank", row_number().over(wf).cast("int"))
          .filter(col("fused_rank") <= 5)
          .select(col("probe_id"), col("id"), col("rrf_score"), col("fused_rank"))
          .orderBy(col("probe_id"), col("fused_rank"))
      },
      s"""WITH terms(probe_id, pos, token) AS (VALUES
         |  (CAST(0 AS BIGINT), 1, 'data'), (0, 2, 'query'), (0, 3, 'spark'),
         |  (1, 1, 'join'), (1, 2, 'merge'), (1, 3, 'sort'),
         |  (2, 1, 'window'), (2, 2, 'order'), (2, 3, 'line')),
         |tok AS (
         |  SELECT doc_id, unnest($toksSql) AS token FROM documents
         |), tf AS (
         |  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM tok GROUP BY 1, 2
         |), dl AS (
         |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS doc_len
         |  FROM tf GROUP BY 1
         |), dfq AS (
         |  SELECT token, CAST(COUNT(*) AS BIGINT) AS doc_freq
         |  FROM tf WHERE token IN (SELECT token FROM terms) GROUP BY 1
         |), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
         |tl AS (SELECT CAST(SUM(doc_len) AS BIGINT) AS total_len FROM dl),
         |sc AS (
         |  SELECT tf.doc_id, tf.token,
         |    (CAST(n.n_docs AS DOUBLE) / dfq.doc_freq) *
         |    ((CAST(tf.tf AS DOUBLE) * (1.2 + 1.0)) /
         |     (CAST(tf.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 +
         |       (0.75 * CAST(dl.doc_len AS DOUBLE)) /
         |       (CAST(tl.total_len AS DOUBLE) / n.n_docs)))) AS bm25
         |  FROM tf
         |  JOIN dl ON tf.doc_id = dl.doc_id
         |  JOIN dfq ON tf.token = dfq.token
         |  CROSS JOIN n CROSS JOIN tl
         |  WHERE tf.token IN (SELECT token FROM terms)
         |), pv AS (
         |  SELECT t.probe_id, sc.doc_id,
         |    coalesce(max(CASE WHEN t.pos = 1 THEN bm25 END), 0.0) AS s1,
         |    coalesce(max(CASE WHEN t.pos = 2 THEN bm25 END), 0.0) AS s2,
         |    coalesce(max(CASE WHEN t.pos = 3 THEN bm25 END), 0.0) AS s3
         |  FROM sc JOIN terms t USING (token) GROUP BY 1, 2
         |), lex20 AS (
         |  SELECT probe_id, id, r_lex FROM (
         |    SELECT probe_id, doc_id AS id,
         |      CAST(row_number() OVER (PARTITION BY probe_id
         |        ORDER BY s1 + s2 + s3 DESC, doc_id) AS INT) AS r_lex
         |    FROM pv) t WHERE r_lex <= 20
         |), exactp AS (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS id,
         |         list_cosine_similarity(c.embedding, p.embedding) AS sim
         |  FROM embeddings c, embeddings p
         |  WHERE p.vec_id < 3 AND c.vec_id <> p.vec_id
         |), dense20 AS (
         |  SELECT probe_id, id, r_dense FROM (
         |    SELECT probe_id, id,
         |      CAST(row_number() OVER (PARTITION BY probe_id
         |        ORDER BY sim DESC, id) AS INT) AS r_dense
         |    FROM exactp) t WHERE r_dense <= 20
         |), fused AS (
         |  SELECT coalesce(l.probe_id, d.probe_id) AS probe_id,
         |         coalesce(l.id, d.id) AS id,
         |         CAST(coalesce(1000000000 // (60 + l.r_lex), 0)
         |            + coalesce(1000000000 // (60 + d.r_dense), 0) AS BIGINT) AS rrf_score
         |  FROM lex20 l FULL JOIN dense20 d
         |    ON l.probe_id = d.probe_id AND l.id = d.id
         |), ranked AS (
         |  SELECT probe_id, id, rrf_score,
         |    CAST(row_number() OVER (PARTITION BY probe_id
         |      ORDER BY rrf_score DESC, id) AS INT) AS fused_rank
         |  FROM fused)
         |SELECT probe_id, id, rrf_score, fused_rank
         |FROM ranked WHERE fused_rank <= 5
         |ORDER BY probe_id, fused_rank""".stripMargin),

    // ------------------------------------------------------------------
    // Cluster-balanced mixture (topic balancing): route every
    // embedding to its trained-PQ-prefix cluster (the SemDeDup coarse
    // signature — k-means-adapted, so buckets track the data) and cap
    // each cluster's contribution at 20 docs in deterministic md5
    // order — the semantic analog of per-source class balancing, what
    // keeps one dominant topic from swamping a mixture. Codes are
    // map-side; the cap is a per-cluster window over id+bucket rows
    // (vectors never shuffle); cluster sizes ride a bucket-keyed agg.
    "cluster_balanced_mixture" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cbs = PqIndex.trainCodebooks(
          emb, "vec_id", "embedding", m = 4, ksub = 4,
          sampleSize = 1000, iters = 2, seed = 21L)
        val assigned = emb
          .select(col("vec_id"),
            graft.functions.exprs.pqCodes(col("embedding"), cbs).as("c"))
          .select(col("vec_id"),
            (element_at(col("c"), 1) + element_at(col("c"), 2) * 4)
              .cast("long").as("cid"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("cid"))
          .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        val sizes = assigned.groupBy(col("cid")).agg(count(lit(1)).as("n_members"))
        assigned
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 20)
          .join(sizes, Seq("cid"))
          .select(col("cid"), col("rk"), col("vec_id"), col("n_members"))
          .orderBy(col("cid"), col("rk"))
      },
      "WITH " + pqTrainedCbCtes(
        dim = 64, m = 4, ksub = 4, sampleSize = 1000, iters = 2, seed = 21L) + ",\n" +
        s"""wqe AS (
           |  SELECT vec_id,
           |    list_transform(embedding,
           |      x -> CAST(floor(CAST(x AS DOUBLE)*1024.0) AS BIGINT) + 4096) AS w
           |  FROM embeddings),
           |dists AS (
           |  SELECT q.vec_id, c.m, c.j,
           |    CAST(list_sum(list_transform(
           |      list_zip(q.w[c.m*16+1 : c.m*16+16], c.cw),
           |      p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT) AS d
           |  FROM wqe q CROSS JOIN cb c
           |  WHERE c.m < 2),
           |codes AS (
           |  SELECT vec_id, m, j AS code FROM (
           |    SELECT vec_id, m, j,
           |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) AS r
           |    FROM dists) WHERE r = 1),
           |a AS (
           |  SELECT vec_id,
           |    CAST(SUM(code * CASE WHEN m = 0 THEN 1 ELSE 4 END) AS BIGINT) AS cid
           |  FROM codes GROUP BY vec_id),
           |sz AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_members FROM a GROUP BY 1),
           |rk AS (
           |  SELECT cid, vec_id,
           |    row_number() OVER (PARTITION BY cid
           |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
           |  FROM a)
           |SELECT r.cid, CAST(r.rk AS INT) AS rk, r.vec_id, s.n_members
           |FROM rk r JOIN sz s USING (cid)
           |WHERE r.rk <= 20
           |ORDER BY cid, rk""".stripMargin),

    // ------------------------------------------------------------------
    // SemDeDup-style candidate buckets (Abbas et al. 2023's idea —
    // cluster embeddings, dedup within clusters): vectors sharing
    // their first two TRAINED PQ codes (the k-means-adapted coarse
    // signature, 16 buckets at ksub=4) are semantic-dedup candidates.
    // Map-side codes, one count agg — the exact-verify pass within
    // each bucket is embedding_neardup's machinery. Oracle re-trains
    // the codebooks (the shared trained-PQ CTE chain) and replays
    // bucketing.
    "embedding_semdedup_buckets" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cbs = PqIndex.trainCodebooks(
          emb, "vec_id", "embedding", m = 4, ksub = 4,
          sampleSize = 1000, iters = 2, seed = 21L)
        emb
          .select(col("vec_id"),
            graft.functions.exprs.pqCodes(col("embedding"), cbs).as("c"))
          .select(col("vec_id"),
            (element_at(col("c"), 1) + element_at(col("c"), 2) * 4)
              .cast("long").as("bucket"))
          .groupBy(col("bucket"))
          .agg(
            count(lit(1)).as("n_members"),
            concat_ws(",", transform(
              sort_array(collect_list(col("vec_id"))), _.cast("string"))).as("members"))
          .filter(col("n_members") >= 2)
          .orderBy(col("bucket"))
      },
      "WITH " + pqTrainedCbCtes(
        dim = 64, m = 4, ksub = 4, sampleSize = 1000, iters = 2, seed = 21L) + ",\n" +
        s"""wqe AS (
           |  SELECT vec_id,
           |    list_transform(embedding,
           |      x -> CAST(floor(CAST(x AS DOUBLE)*1024.0) AS BIGINT) + 4096) AS w
           |  FROM embeddings),
           |dists AS (
           |  SELECT q.vec_id, c.m, c.j,
           |    CAST(list_sum(list_transform(
           |      list_zip(q.w[c.m*16+1 : c.m*16+16], c.cw),
           |      p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT) AS d
           |  FROM wqe q CROSS JOIN cb c
           |  WHERE c.m < 2),
           |codes AS (
           |  SELECT vec_id, m, j AS code FROM (
           |    SELECT vec_id, m, j,
           |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) AS r
           |    FROM dists) WHERE r = 1),
           |bkt AS (
           |  SELECT vec_id,
           |    CAST(SUM(code * CASE WHEN m = 0 THEN 1 ELSE 4 END) AS BIGINT) AS bucket
           |  FROM codes GROUP BY vec_id)
           |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_members,
           |  string_agg(vec_id, ',' ORDER BY vec_id) AS members
           |FROM bkt GROUP BY bucket HAVING COUNT(*) >= 2
           |ORDER BY bucket""".stripMargin),

    // ------------------------------------------------------------------
    // SemDeDup PRUNE stage (Abbas et al. 2023) — the step after
    // embedding_semdedup_buckets: within each trained-PQ-prefix
    // bucket, exact-cosine pairs ≥ 0.99 mark semantic duplicates, and
    // every non-minimum member of a pair is pruned in favor of its
    // lowest-id representative. Planted exact copies (vec_id+100000,
    // identical vectors → identical codes → same bucket) are recovered
    // with recall 1; natural pairs sit ≤ 0.52 cosine on the fixtures,
    // so the 0.99 threshold has the same float margin argument as
    // embedding_neardup. Candidate join carries (vec_id, bucket) ONLY
    // — vectors re-attach for the verify (the id-only shuffle rule);
    // buckets are bounded by ksub^2 = 16, the SemDeDup cluster-count
    // knob a 100 TB run scales with corpus size.
    "embedding_semdedup_prune" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
        val cbs = PqIndex.trainCodebooks(
          emb, "vec_id", "embedding", m = 4, ksub = 4,
          sampleSize = 1000, iters = 2, seed = 21L)
        val corpus = emb.unionAll(emb.select(
          (col("vec_id") + 100000).as("vec_id"), col("embedding")))
        val bucketed = corpus
          .select(col("vec_id"),
            graft.functions.exprs.pqCodes(col("embedding"), cbs).as("c"))
          .select(col("vec_id"),
            (element_at(col("c"), 1) + element_at(col("c"), 2) * 4)
              .cast("long").as("bucket"))
        val cand = bucketed.as("a")
          .join(bucketed.as("b"),
            col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
        val ea = corpus.select(col("vec_id").as("id_a"), col("embedding").as("va"))
        val eb = corpus.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
        cand.join(ea, Seq("id_a")).join(eb, Seq("id_b"))
          .filter(Similarity.cosine(col("va"), col("vb")) >= 0.99)
          .groupBy(col("id_b").as("pruned_id"))
          .agg(min(col("id_a")).as("rep_id"))
          .orderBy(col("pruned_id"))
      },
      "WITH " + pqTrainedCbCtes(
        dim = 64, m = 4, ksub = 4, sampleSize = 1000, iters = 2, seed = 21L) + ",\n" +
        """corpus2 AS (
          |  SELECT vec_id, embedding FROM embeddings
          |  UNION ALL
          |  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings),
          |wq2 AS (
          |  SELECT vec_id, embedding,
          |    list_transform(embedding,
          |      x -> CAST(floor(CAST(x AS DOUBLE)*1024.0) AS BIGINT) + 4096) AS w
          |  FROM corpus2),
          |d2 AS (
          |  SELECT q.vec_id, c.m, c.j,
          |    CAST(list_sum(list_transform(
          |      list_zip(q.w[c.m*16+1 : c.m*16+16], c.cw),
          |      p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT) AS d
          |  FROM wq2 q CROSS JOIN cb c
          |  WHERE c.m < 2),
          |codes2 AS (
          |  SELECT vec_id, m, j AS code FROM (
          |    SELECT vec_id, m, j,
          |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) AS r
          |    FROM d2) WHERE r = 1),
          |bkt2 AS (
          |  SELECT vec_id,
          |    CAST(SUM(code * CASE WHEN m = 0 THEN 1 ELSE 4 END) AS BIGINT) AS bucket
          |  FROM codes2 GROUP BY vec_id),
          |cand AS (
          |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
          |  FROM bkt2 a JOIN bkt2 b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
          |pairs AS (
          |  SELECT cand.id_a, cand.id_b
          |  FROM cand
          |  JOIN wq2 ea ON ea.vec_id = cand.id_a
          |  JOIN wq2 eb ON eb.vec_id = cand.id_b
          |  WHERE list_cosine_similarity(ea.embedding, eb.embedding) >= 0.99)
          |SELECT id_b AS pruned_id, MIN(id_a) AS rep_id
          |FROM pairs GROUP BY id_b
          |ORDER BY pruned_id""".stripMargin),

    // ------------------------------------------------------------------
    // Per-dimension embedding profile: posexplode zips (position,
    // value) in one generator pass; per-dim stats are comparison-only
    // (min/max/counts — no float summation, so float32 parity is
    // trivial). The shuffle key is the dimension index: exactly
    // `dim` groups regardless of corpus size, each reducer seeing
    // rows/dim values — the canonical "tall-skinny" array analytics
    // shape for embedding QA (dead dims, range drift, sign balance).
    "embedding_dim_profile" -> QueryDef(
      (s, dir) =>
        Tables.embeddings(s, dir)
          .select(posexplode(col("embedding")).as(Seq("dim", "v")))
          .groupBy(col("dim"))
          .agg(
            count(lit(1)).as("n"),
            min(col("v")).as("vmin"),
            max(col("v")).as("vmax"),
            count(when(col("v") < 0, 1)).as("n_neg"))
          .orderBy(col("dim")),
      """WITH e AS (
        |  SELECT unnest(embedding) AS v,
        |         unnest(range(0, len(embedding))) AS dim
        |  FROM embeddings)
        |SELECT CAST(dim AS INT) AS dim, COUNT(*) AS n,
        |  MIN(v) AS vmin, MAX(v) AS vmax,
        |  COUNT(*) FILTER (WHERE v < 0) AS n_neg
        |FROM e GROUP BY dim
        |ORDER BY dim""".stripMargin),

    // ------------------------------------------------------------------
    // Embedding-cosine near-dup: scaled copies (cosine-invariant) at
    // vec_id+100000 must pair with their originals. Exact-SQL oracle is
    // sound despite the LSH candidate stage: a vector and its positive
    // scalar multiple produce identical hyperplane signs in EVERY table
    // (recall 1 for the pairs that can pass ≥0.99), and false
    // candidates are removed by the exact-cosine verify — measured
    // margin on the fixtures: hits ≥ 0.999999, non-hits ≤ 0.52.
    "embedding_neardup" -> QueryDef(
      (s, dir) => {
        val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
        val corpus = e.unionAll(e.select(
          (col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.5f)).as("embedding")))
        Similarity.nearDupPairs(corpus, "vec_id", "embedding", dim = 64, threshold = 0.99)
          .select(col("id_a"), col("id_b"))
          .orderBy(col("id_a"), col("id_b"))
      },
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000 AS vec_id,
        |         list_transform(embedding, x -> CAST(x * CAST(1.5 AS FLOAT) AS FLOAT)) AS embedding
        |  FROM embeddings
        |)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.99
        |ORDER BY id_a, id_b""".stripMargin),

    // ------------------------------------------------------------------
    // Winnowing near-dup pairs (planted copies share suffix k-grams).
    // k=16 char grams + tight df cap: the synthetic corpus's ~30-word
    // vocab makes short substrings near-universal (hot inverted lists);
    // only doc-specific word-order runs carry dedup signal, and those
    // have df≈2. Planted pairs share hundreds of them. md5 k-gram
    // hashes → the inverted-index join + df cap + shared count all
    // reproduce in the DuckDB oracle.
    "dedup_winnow_pairs" -> QueryDef(
      (s, dir) =>
        Dedup.winnowPairs(perturbedDocs(s, dir), "doc_id", "text",
          k = 16, w = 8, minShared = 5, maxFingerprintDf = 20, md5Based = true)
          .orderBy(col("id_a"), col("id_b")),
      winnowPairsOracleSql(k = 16, w = 8, minShared = 5, maxFingerprintDf = 20)),

    // ------------------------------------------------------------------
    // Backward as-of join: each purchase enriched with the user's most
    // recent prior (or same-instant) signup event. DuckDB oracle uses
    // its native ASOF JOIN; the Spark side is the union+carry-forward
    // pattern (AsOfJoin.backward — one shuffle, no range join).
    "events_asof_join" -> QueryDef(
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        val signups = ev.filter(col("event_type") === "signup")
          .select(col("user_id"), col("ts"), col("event_id").as("signup_event_id"))
        AsOfJoin.backward(purchases, signups, "user_id", "ts",
          Seq("signup_event_id"))
          .select(col("event_id"), col("user_id"), col("signup_event_id"))
          .orderBy(col("event_id"))
      },
      """SELECT p.event_id, p.user_id, s.event_id AS signup_event_id
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup') s
        |  ON p.user_id = s.user_id AND p.ts >= s.ts
        |ORDER BY p.event_id""".stripMargin),

    // ------------------------------------------------------------------
    // Range join: events into OVERLAPPING 6-hour windows starting every
    // 4 hours — bucketed equi-join pattern (RangeJoin.pointInInterval),
    // never a BroadcastNestedLoopJoin. Oracle uses DuckDB's native
    // range join.
    "events_range_join" -> QueryDef(
      (s, dir) => {
        val windows = s.range(1).select(explode(sequence(
          to_timestamp(lit("2024-01-01 00:00:00")),
          to_timestamp(lit("2024-01-31 00:00:00")),
          expr("interval 4 hours"))).as("window_start"))
          .withColumn("window_end", col("window_start") + expr("interval 6 hours"))
        RangeJoin.pointInInterval(
          Tables.events(s, dir), windows, "ts", "window_start", "window_end",
          bucketSeconds = 6 * 3600)
          .groupBy(col("window_start"))
          .agg(count(lit(1)).as("n_events"))
          .orderBy(col("window_start"))
      },
      """WITH win AS (
        |  SELECT range AS ws, range + INTERVAL 6 HOUR AS we
        |  FROM range(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-31 00:00:01', INTERVAL 4 HOUR)
        |)
        |SELECT win.ws AS window_start, COUNT(*) AS n_events
        |FROM events e JOIN win ON e.ts >= win.ws AND e.ts < win.we
        |GROUP BY win.ws
        |ORDER BY window_start""".stripMargin),

    // ------------------------------------------------------------------
    // One-pass table profiling (nulls/distincts/min/max per column).
    "table_profile" -> QueryDef(
      (s, dir) =>
        Profiler.profile(
          Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_quantity"), col("l_returnflag")))
          .orderBy(col("col_name")),
      """SELECT 'l_orderkey' AS col_name, COUNT(*) AS n_rows,
        |  COUNT(CASE WHEN l_orderkey IS NULL THEN 1 END) AS n_nulls,
        |  COUNT(DISTINCT l_orderkey) AS n_distinct,
        |  CAST(MIN(l_orderkey) AS VARCHAR) AS min_value,
        |  CAST(MAX(l_orderkey) AS VARCHAR) AS max_value
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_quantity', COUNT(*),
        |  COUNT(CASE WHEN l_quantity IS NULL THEN 1 END),
        |  COUNT(DISTINCT l_quantity),
        |  CAST(MIN(l_quantity) AS VARCHAR), CAST(MAX(l_quantity) AS VARCHAR)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_returnflag', COUNT(*),
        |  COUNT(CASE WHEN l_returnflag IS NULL THEN 1 END),
        |  COUNT(DISTINCT l_returnflag),
        |  CAST(MIN(l_returnflag) AS VARCHAR), CAST(MAX(l_returnflag) AS VARCHAR)
        |FROM lineitem
        |ORDER BY col_name""".stripMargin),

    // ------------------------------------------------------------------
    // Incremental cross-corpus dedup: new batch vs existing corpus via
    // broadcast Bloom filter + exact verification of candidates only.
    "dedup_incremental_bloom" -> QueryDef(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val existing = docs.filter(col("doc_id") < 250)
        IncrementalDedup.newDocuments(existing, docs, "text",
          expectedItems = 100000L)
          .select(col("doc_id"))
          .orderBy(col("doc_id"))
      },
      """SELECT f.doc_id FROM documents f
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM documents e WHERE e.doc_id < 250
        |    AND lower(regexp_replace(coalesce(e.text, ''), '\s+', ' ', 'g'))
        |      = lower(regexp_replace(coalesce(f.text, ''), '\s+', ' ', 'g')))
        |ORDER BY f.doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // JSON extraction over events.props (semi-structured column path
    // the reference's raw table doesn't need but real event data does).
    "events_json_extract" -> QueryDef(
      (s, dir) =>
        Tables.events(s, dir)
          .select(
            col("event_id"),
            get_json_object(col("props"), "$.k").try_cast("int").as("k_val"))
          .orderBy(col("event_id")),
      """SELECT event_id,
        |  TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k_val
        |FROM events
        |ORDER BY event_id""".stripMargin),

    // ------------------------------------------------------------------
    // Spark 4 VARIANT surface: parse the JSON payload ONCE into the
    // binary variant encoding, then do typed path extraction — the
    // parse-once/extract-many semi-structured shape (at scale the
    // parse cost is paid at ingest, extractions read the binary
    // encoding). Grouped rollup over the extracted field; DuckDB twin
    // via its native JSON extraction; money through the decimal-sum
    // rule.
    "events_variant_agg" -> QueryDef(
      (s, dir) =>
        Tables.events(s, dir)
          .select(
            expr("variant_get(parse_json(props), '$.k', 'long')").as("k"),
            col("value"))
          .select((col("k") - col("k") % 10).as("k_bucket"), col("value"))
          .groupBy(col("k_bucket"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("value").cast(org.apache.spark.sql.types.DecimalType(20, 2)))
              .cast("double").as("total_value"))
          .orderBy(col("k_bucket")),
      s"""SELECT k - k % 10 AS k_bucket,
         |  COUNT(*) AS n,
         |  ${decSumSql("value")} AS total_value
         |FROM (SELECT CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k, value FROM events) t
         |GROUP BY 1 ORDER BY k_bucket""".stripMargin),

    // ------------------------------------------------------------------
    // Ranking window: top-3 users by total value per event type
    // (dense ranking tier the reference expresses as ORDER BY+LIMIT).
    "events_top_users_per_type" -> QueryDef(
      (s, dir) => {
        val totals = Tables.events(s, dir)
          .groupBy(col("event_type"), col("user_id"))
          .agg(sum(col("value").cast(org.apache.spark.sql.types.DecimalType(20, 2)))
            .as("dec_total"))
        totals
          .withColumn("rnk", rank().over(
            Window.partitionBy(col("event_type"))
              .orderBy(desc("dec_total"), col("user_id"))))
          .filter(col("rnk") <= 3)
          .select(col("event_type"), col("user_id"),
            col("dec_total").cast("double").as("total_value"),
            col("rnk").cast("int").as("rnk"))
          .orderBy(col("event_type"), col("rnk"), col("user_id"))
      },
      """WITH totals AS (
        |  SELECT event_type, user_id,
        |    SUM(CAST(value AS DECIMAL(20,2))) AS dec_total
        |  FROM events GROUP BY 1, 2
        |), ranked AS (
        |  SELECT event_type, user_id, dec_total,
        |    CAST(rank() OVER (PARTITION BY event_type
        |         ORDER BY dec_total DESC, user_id) AS INT) AS rnk
        |  FROM totals
        |)
        |SELECT event_type, user_id,
        |  CAST(dec_total AS DOUBLE) AS total_value, rnk
        |FROM ranked WHERE rnk <= 3
        |ORDER BY event_type, rnk, user_id""".stripMargin),

    // ------------------------------------------------------------------
    // Multimodal binary-column plumbing (decode kernel stubbed —
    // FakeDecoder; schema/batching/partitioning real). The stub decode
    // is deterministic byte arithmetic over the fake header + UTF-8
    // payload, and the fixture text is pure ASCII — so the whole path
    // IS DuckDB-oracle-expressible (byte = code point).
    "multimodal_features" -> QueryDef(
      (s, dir) => Multimodal.featureFrame(s, dir),
      // The r5 REAL decode path: payloads are genuine 1×N grayscale
      // BMP/PNG whose pixel row is the doc's UTF-8 bytes, decoded by
      // javax.imageio — so the oracle restates width/mean/f0 straight
      // from the text. Pixel-derived columns only: PNG container size
      // is zlib-shaped and deliberately not compared.
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'image/bmp' ELSE 'image/png' END AS kind,
        |    CAST(greatest(1, octet_length(encode(text))) AS INT) AS width,
        |    CAST(1 AS INT) AS height,
        |    CASE WHEN len(text) > 0
        |         THEN CAST(list_sum(list_transform(string_split(text,''), c -> ascii(c))) AS DOUBLE) / len(text)
        |         ELSE 0.0 END AS mean_raw,
        |    CASE WHEN len(text) > 0
        |         THEN CAST(CAST(len(list_filter(string_split(text,''), c -> ascii(c) < 32)) AS FLOAT)
        |              / CAST(octet_length(encode(text)) AS FLOAT) AS DOUBLE)
        |         ELSE 1.0 END AS f0_raw
        |  FROM documents
        |)
        |SELECT media_id, kind, width, height,
        |  round(mean_raw, 4) AS mean_intensity, round(f0_raw, 4) AS f0
        |FROM m ORDER BY media_id""".stripMargin),

    // ------------------------------------------------------------------
    // Audio-modality plumbing: PCM16-LE payloads (synthetic — sample i
    // is a fixed integer spread of the text's i-th code point; a real
    // pipeline swaps the trivial parse for an MP3/FLAC frame decoder
    // with the same batch shape) → batched typed decode → integer clip
    // features (peak, Σs² energy, sign changes, 256-sample window
    // count). All-integer feature math, so the oracle restates every
    // sample from the text with unicode() and compares bit-exactly.
    // Payload bytes never shuffle — the final orderBy moves only the
    // compact feature rows.
    "audio_pcm_features" -> QueryDef(
      (s, dir) =>
        Multimodal.audioFeatures(
          Multimodal.audioFrom(Tables.documents(s, dir)))
          .toDF().orderBy(col("media_id")),
      """WITH s AS (SELECT doc_id AS media_id,
        |    list_transform(range(1, len(coalesce(text, '')) + 1),
        |      i -> (unicode(text[i:i]) * 523) % 2048 - 1024) AS sm
        |  FROM documents)
        |SELECT media_id,
        |  CAST(len(sm) AS BIGINT) AS n_samples,
        |  CAST((len(sm) + 255) // 256 AS BIGINT) AS n_windows,
        |  CAST(coalesce(list_max(list_transform(sm, x -> abs(x))), 0) AS BIGINT) AS peak_amp,
        |  CAST(coalesce(list_sum(list_transform(sm, x -> x * x)), 0) AS BIGINT) AS total_energy,
        |  CAST(coalesce(list_sum(list_transform(range(2, len(sm) + 1),
        |    i -> CASE WHEN sm[i-1] * sm[i] < 0 THEN 1 ELSE 0 END)), 0) AS BIGINT) AS zero_crossings
        |FROM s ORDER BY media_id""".stripMargin),

    // ------------------------------------------------------------------
    // Video shot-boundary profile (Multimodal.sceneCuts): raw-frame
    // payloads explode into consecutive-frame SAD diffs INSIDE the
    // decode kernel (payload bytes never shuffle — only compact diff
    // rows reach the media-grain rollup), is_cut gates at the
    // distribution median (1600 at the fixture's byte spread). Clips
    // too short for two full frames surface with zeroed stats via the
    // left join — never silently dropped. The oracle restates every
    // payload byte from the text (the audio_pcm_features recipe) and
    // replays the per-pair SAD exactly — all integers.
    "video_scene_cuts" -> QueryDef(
      (s, dir) => {
        val d = Multimodal.sceneCuts(
          Multimodal.videoFrom(Tables.documents(s, dir)),
          frameBytes = 16, threshold = 1600L)
          .toDF()
          .groupBy(col("media_id"))
          .agg(
            count(lit(1)).as("n_frame_pairs"),
            sum(col("is_cut").cast("long")).as("n_cuts"),
            max(col("diff")).as("max_diff"),
            sum(col("diff")).as("total_diff"))
        Tables.documents(s, dir).select(col("doc_id").as("media_id"))
          .join(d, Seq("media_id"), "left")
          .select(col("media_id"),
            coalesce(col("n_frame_pairs"), lit(0L)).as("n_frame_pairs"),
            coalesce(col("n_cuts"), lit(0L)).as("n_cuts"),
            coalesce(col("max_diff"), lit(0L)).as("max_diff"),
            coalesce(col("total_diff"), lit(0L)).as("total_diff"))
          .orderBy(col("media_id"))
      },
      """WITH v AS (SELECT doc_id AS media_id,
        |    list_transform(range(1, len(coalesce(text, '')) + 1),
        |      i -> (unicode(text[i:i]) * 7) % 256) AS b
        |  FROM documents),
        |f AS (SELECT media_id, len(b) // 16 AS nf, b FROM v),
        |d AS (
        |  SELECT media_id, k AS frame_idx,
        |    list_sum(list_transform(range(1, 17),
        |      j -> abs(b[k*16 + j] - b[(k-1)*16 + j]))) AS diff
        |  FROM (SELECT media_id, b, unnest(range(1, nf)) AS k FROM f))
        |SELECT v.media_id,
        |  CAST(count(d.frame_idx) AS BIGINT) AS n_frame_pairs,
        |  CAST(coalesce(SUM(CASE WHEN d.diff > 1600 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_cuts,
        |  CAST(coalesce(max(d.diff), 0) AS BIGINT) AS max_diff,
        |  CAST(coalesce(SUM(d.diff), 0) AS BIGINT) AS total_diff
        |FROM v LEFT JOIN d ON d.media_id = v.media_id
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ------------------------------------------------------------------
    // KEYFRAME selection per shot — the standard summarization step on
    // top of shot-boundary detection (the frame a thumbnail/indexing
    // pipeline keeps): frame pairs segment into shots by the running
    // cut count (window PER MEDIA — bounded by clip length, the
    // SpanDedup islands rule), and each shot's keyframe is the
    // max-SAD pair (earliest frame on ties) via ONE struct-argmax
    // aggregate (never a when/otherwise reduce). Composes the same
    // decode kernel as video_scene_cuts on a 60-clip slice; payload
    // bytes never shuffle. All integers.
    "video_keyframes" -> QueryDef(
      (s, dir) => {
        val d = Multimodal.sceneCuts(
          Multimodal.videoFrom(
            Tables.documents(s, dir).filter(col("doc_id") < 60)),
          frameBytes = 16, threshold = 1600L)
          .toDF()
        val sh = d.withColumn("shot_id",
          sum(col("is_cut").cast("long")).over(
            Window.partitionBy(col("media_id")).orderBy(col("frame_idx"))))
        sh.groupBy(col("media_id"), col("shot_id"))
          .agg(
            count(lit(1)).as("n_frame_pairs"),
            max(struct(col("diff"),
              (-col("frame_idx")).cast("long").as("nf"))).as("k"))
          .select(col("media_id"), col("shot_id"), col("n_frame_pairs"),
            col("k.diff").as("key_diff"),
            (-col("k.nf")).cast("long").as("key_frame"))
          .orderBy(col("media_id"), col("shot_id"))
      },
      """WITH v AS (SELECT doc_id AS media_id,
        |    list_transform(range(1, len(coalesce(text, '')) + 1),
        |      i -> (unicode(text[i:i]) * 7) % 256) AS b
        |  FROM documents WHERE doc_id < 60),
        |f AS (SELECT media_id, len(b) // 16 AS nf, b FROM v),
        |d AS (
        |  SELECT media_id, CAST(k AS INT) AS frame_idx,
        |    CAST(list_sum(list_transform(range(1, 17),
        |      j -> abs(b[k*16 + j] - b[(k-1)*16 + j]))) AS BIGINT) AS diff
        |  FROM (SELECT media_id, b, unnest(range(1, nf)) AS k FROM f)),
        |sh AS (
        |  SELECT media_id, frame_idx, diff,
        |    CAST(SUM(CASE WHEN diff > 1600 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY media_id ORDER BY frame_idx) AS BIGINT) AS shot_id
        |  FROM d),
        |ks AS (
        |  SELECT media_id, shot_id,
        |    CAST(count(*) AS BIGINT) AS n_frame_pairs,
        |    CAST(max(diff) AS BIGINT) AS key_diff
        |  FROM sh GROUP BY 1, 2)
        |SELECT s.media_id, s.shot_id, ks.n_frame_pairs, ks.key_diff,
        |  CAST(min(s.frame_idx) AS BIGINT) AS key_frame
        |FROM sh s JOIN ks ON ks.media_id = s.media_id AND ks.shot_id = s.shot_id
        |  AND s.diff = ks.key_diff
        |GROUP BY 1, 2, 3, 4
        |ORDER BY s.media_id, s.shot_id""".stripMargin),

    // ------------------------------------------------------------------
    // Cross-video near-dup via sampled frame keys — the video analog
    // of line dedup: every 2nd full frame keyed by exact content
    // inside the decode kernel, candidate pairs from ONE equi-join on
    // (position, key) (aligned-copy detection — same content at the
    // same timestamp), kept at ≥2 shared frames. Planted copies
    // (every 10th doc re-encoded with a changed first character)
    // share every frame after the first. Payload bytes never shuffle;
    // the join carries compact key rows.
    "video_framehash_neardup" -> QueryDef(
      (s, dir) => {
        val base = Tables.documents(s, dir)
          .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
        val planted = base.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 400000L).as("doc_id"),
            concat(lit("Z"), expr("substring(text, 2)")).as("text"))
        val vids = Multimodal.videoFrom(base.unionByName(planted))
        val fk = Multimodal.frameKeys(vids, frameBytes = 16, everyN = 2)
          .toDF().localCheckpoint() // both sides of the pair join
        fk.as("x")
          .join(fk.as("y"),
            col("x.frame_idx") === col("y.frame_idx") &&
              col("x.key") === col("y.key") &&
              col("x.media_id") < col("y.media_id"))
          .groupBy(col("x.media_id").as("id_a"), col("y.media_id").as("id_b"))
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 2)
          .orderBy(col("id_a"), col("id_b"))
      },
      """WITH corpus AS (
        |  SELECT doc_id, coalesce(text, '') AS text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 400000, 'Z' || substr(coalesce(text, ''), 2)
        |  FROM documents WHERE doc_id % 10 = 0),
        |v AS (
        |  SELECT doc_id AS media_id,
        |    list_transform(range(1, len(text) + 1),
        |      i -> (unicode(text[i:i]) * 7) % 256) AS b
        |  FROM corpus),
        |f AS (
        |  SELECT media_id, CAST(k AS INT) AS frame_idx,
        |    array_to_string(b[k*16+1 : k*16+16], ':') AS key
        |  FROM (SELECT media_id, b, unnest(range(0, len(b) // 16)) AS k FROM v)
        |  WHERE k % 2 = 0)
        |SELECT x.media_id AS id_a, y.media_id AS id_b,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM f x JOIN f y
        |  ON y.frame_idx = x.frame_idx AND y.key = x.key
        | AND x.media_id < y.media_id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY 1, 2""".stripMargin),

    // ------------------------------------------------------------------
    // Streaming-shaped batch: tumbling 1h windows over events.
    "events_hourly_window" -> QueryDef(
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
          .agg(
            count(lit(1)).as("n_events"),
            sum(col("value").cast(org.apache.spark.sql.types.DecimalType(20, 2)))
              .cast("double").as("total_value"))
          .orderBy(col("window_start"), col("event_type")),
      s"""SELECT date_trunc('hour', ts) AS window_start, event_type,
         |  COUNT(*) AS n_events,
         |  ${decSumSql("value")} AS total_value
         |FROM events
         |GROUP BY 1, 2
         |ORDER BY window_start, event_type""".stripMargin),

    // ------------------------------------------------------------------
    // Inter-event gap profile per user: lag window keyed by user (the
    // partitioned-window shape — never an empty partition), exact
    // integer microsecond gaps so the avg division is bit-stable.
    "events_lag_gaps" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        Tables.events(s, dir).select(col("user_id"), col("event_id"), col("ts"))
          .withColumn("prev_ts", lag(col("ts"), 1).over(w))
          .filter(col("prev_ts").isNotNull)
          .select(
            col("user_id"),
            (unix_micros(col("ts")) - unix_micros(col("prev_ts"))).as("gap"))
          .groupBy(col("user_id"))
          .agg(
            count(lit(1)).as("n_gaps"),
            max(col("gap")).as("max_gap_us"),
            (sum(col("gap")).cast("double") / count(lit(1))).as("avg_gap_us"))
          .orderBy(col("user_id"))
      },
      """WITH d AS (
        |  SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |g AS (SELECT user_id, CAST(date_diff('microsecond', prev_ts, ts) AS BIGINT) AS gap
        |      FROM d WHERE prev_ts IS NOT NULL)
        |SELECT user_id, COUNT(*) AS n_gaps,
        |  CAST(max(gap) AS BIGINT) AS max_gap_us,
        |  CAST(SUM(gap) AS DOUBLE) / COUNT(*) AS avg_gap_us
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin),

    // ------------------------------------------------------------------
    // Funnel conversion view→purchase per user: two user-keyed aggs +
    // one user-keyed join (one partitioning reused end-to-end, two
    // timestamps of state per user — see graft.operators.Funnel).
    "events_funnel" -> QueryDef(
      (s, dir) =>
        Funnel.firstConversion(
          Tables.events(s, dir), "user_id", "ts", "event_type",
          from = "view", to = "purchase")
          .select(
            col("user_id"), col("first_view"), col("first_purchase"),
            col("us_to_convert"))
          .orderBy(col("user_id")),
      """WITH v AS (SELECT user_id, min(ts) AS first_view FROM events
        |           WHERE event_type = 'view' GROUP BY 1),
        |p AS (SELECT e.user_id, v.first_view, min(e.ts) AS first_purchase
        |      FROM events e JOIN v USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.ts > v.first_view GROUP BY 1, 2)
        |SELECT user_id, first_view, first_purchase,
        |  CAST(date_diff('microsecond', first_view, first_purchase) AS BIGINT) AS us_to_convert
        |FROM p ORDER BY user_id""".stripMargin),

    // ------------------------------------------------------------------
    // Sessionization (30-min inactivity gap) via ranking windows — the
    // window-function tier the reference lacks (SURVEY.md §2.5).
    "events_sessionize" -> QueryDef(
      (s, dir) => {
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        Tables.events(s, dir)
          .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
          .withColumn("brk",
            when(col("prev_ts").isNull ||
              unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000L, 1L)
              .otherwise(0L))
          .withColumn("session_seq", sum(col("brk")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("session_seq"))
          .agg(
            count(lit(1)).as("n_events"),
            min(col("ts")).as("session_start"),
            max(col("ts")).as("session_end"))
          .orderBy(col("user_id"), col("session_seq"))
      },
      """WITH marked AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sessions AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM marked
        |)
        |SELECT user_id, session_seq, COUNT(*) AS n_events,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end
        |FROM sessions
        |GROUP BY 1, 2
        |ORDER BY user_id, session_seq""".stripMargin),

    // ------------------------------------------------------------------
    // Weekly retention cohorts: users keyed to their first-activity
    // week, activity re-expressed as week offsets from the cohort —
    // the standard product-analytics grid. Two shuffles total: the
    // per-user min (map-side combinable) and the distinct-count per
    // (cohort, offset) cell; the user→cohort attach is a user-keyed
    // equi-join AQE can broadcast when the user dimension allows.
    // Both engines truncate weeks to ISO Monday, so cells align.
    "retention_cohorts" -> QueryDef(
      (s, dir) => {
        val firstw = Tables.events(s, dir)
          .groupBy(col("user_id"))
          .agg(date_trunc("week", min(col("ts"))).cast("date").as("cohort_week"))
        Tables.events(s, dir)
          .join(firstw, Seq("user_id"))
          .select(
            col("user_id"), col("cohort_week"),
            (datediff(date_trunc("week", col("ts")).cast("date"), col("cohort_week")) / 7)
              .cast("int").as("week_offset"))
          .groupBy(col("cohort_week"), col("week_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("cohort_week"), col("week_offset"))
      },
      """WITH firstw AS (
        |  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
        |  FROM events GROUP BY 1),
        |act AS (
        |  SELECT e.user_id, f.cohort_week,
        |    CAST(datediff('day', f.cohort_week,
        |                  CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS INT) AS week_offset
        |  FROM events e JOIN firstw f USING (user_id))
        |SELECT cohort_week, week_offset, COUNT(DISTINCT user_id) AS n_users
        |FROM act GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin),

    // ------------------------------------------------------------------
    // Event-type combination census: which DISTINCT sets of event
    // types users exhibit. The set is canonicalized as a sorted array
    // joined to a string — collect_set alone has engine- and
    // partition-dependent order, sort_array pins it; DuckDB's ordered
    // string_agg(DISTINCT) states the same canonical form. One
    // user-keyed shuffle, then a combo-sized aggregate.
    "event_type_combos" -> QueryDef(
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy(col("user_id"))
          .agg(array_join(sort_array(collect_set(col("event_type"))), ",")
            .as("combo"))
          .groupBy(col("combo"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy(col("combo")),
      """WITH c AS (
        |  SELECT user_id,
        |    string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS combo
        |  FROM events GROUP BY 1)
        |SELECT combo, CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin),

    // ------------------------------------------------------------------
    // Session length profile: median and p90 session duration in
    // integer seconds, from the sessionize CTE's (start, end) bounds
    // through the division-free histogram crossings. The duration
    // histogram is bounded (sessions cap at the activity span), so
    // the crossings run on a constant-size frame.
    "session_length_profile" -> QueryDef(
      (s, dir) => {
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val cumW = Window.partitionBy().orderBy(col("secs"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = Window.partitionBy()
        Tables.events(s, dir)
          .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
          .withColumn("brk",
            when(col("prev_ts").isNull ||
              unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000L, 1L)
              .otherwise(0L))
          .withColumn("session_seq", sum(col("brk")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("session_seq"))
          .agg(expr("(unix_micros(max(ts)) - unix_micros(min(ts))) div 1000000")
            .as("secs"))
          .groupBy(col("secs")).agg(count(lit(1)).as("c"))
          .withColumn("cum", sum(col("c")).over(cumW))
          .withColumn("total", sum(col("c")).over(tot))
          .agg(
            max(col("total")).as("n_sessions"),
            min(when(col("cum") * 2 >= col("total"), col("secs"))).as("median_secs"),
            min(when(col("cum") * 10 >= col("total") * 9, col("secs"))).as("p90_secs"))
      },
      """WITH marked AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        |  SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM marked
        |), dur AS (
        |  SELECT (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000 AS secs
        |  FROM sess GROUP BY user_id, session_seq
        |), h AS (
        |  SELECT secs, CAST(COUNT(*) AS BIGINT) AS c FROM dur GROUP BY 1
        |), w AS (
        |  SELECT secs, c,
        |    SUM(c) OVER (ORDER BY secs ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(c) OVER () AS total
        |  FROM h)
        |SELECT CAST(MAX(total) AS BIGINT) AS n_sessions,
        |  CAST(MIN(CASE WHEN cum * 2 >= total THEN secs END) AS BIGINT)
        |    AS median_secs,
        |  CAST(MIN(CASE WHEN cum * 10 >= total * 9 THEN secs END) AS BIGINT)
        |    AS p90_secs
        |FROM w""".stripMargin),

    // ------------------------------------------------------------------
    // Repeat-purchase cycle: the distribution of day gaps between a
    // user's consecutive purchases — median AND p90 via the same
    // division-free histogram crossings (2·cum ≥ total, 10·cum ≥
    // 9·total). The lag runs user-partitioned; the gap histogram is
    // bounded by the calendar, so the crossings cost nothing at any
    // corpus size. Pure integer output.
    "repeat_purchase_cycle" -> QueryDef(
      (s, dir) => {
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val cumW = Window.partitionBy().orderBy(col("gap_days"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = Window.partitionBy()
        Tables.events(s, dir)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"))
          .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
          .filter(col("prev_ts").isNotNull)
          .select(datediff(to_date(col("ts")), to_date(col("prev_ts"))).as("gap_days"))
          .groupBy(col("gap_days")).agg(count(lit(1)).as("c"))
          .withColumn("cum", sum(col("c")).over(cumW))
          .withColumn("total", sum(col("c")).over(tot))
          .agg(
            max(col("total")).as("n_gaps"),
            min(when(col("cum") * 2 >= col("total"), col("gap_days"))).as("median_days"),
            min(when(col("cum") * 10 >= col("total") * 9, col("gap_days"))).as("p90_days"))
      },
      """WITH g AS (
        |  SELECT date_diff('day',
        |    CAST(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS DATE),
        |    CAST(ts AS DATE)) AS gap_days
        |  FROM events WHERE event_type = 'purchase'),
        |h AS (
        |  SELECT gap_days, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM g WHERE gap_days IS NOT NULL GROUP BY 1),
        |w AS (
        |  SELECT gap_days, c,
        |    SUM(c) OVER (ORDER BY gap_days ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(c) OVER () AS total
        |  FROM h)
        |SELECT CAST(MAX(total) AS BIGINT) AS n_gaps,
        |  CAST(MIN(CASE WHEN cum * 2 >= total THEN gap_days END) AS INT)
        |    AS median_days,
        |  CAST(MIN(CASE WHEN cum * 10 >= total * 9 THEN gap_days END) AS INT)
        |    AS p90_days
        |FROM w""".stripMargin),

    // ------------------------------------------------------------------
    // Lag-1 autocorrelation of daily order counts — time-series
    // health: consecutive-day count pairs from a lag over the bounded
    // daily frame, then Pearson on EXACT integer moment sums with the
    // fixed-order IEEE finish. Only days with an immediate predecessor
    // enter (calendar gaps drop the pair on both engines).
    "daily_orders_autocorr" -> QueryDef(
      (s, dir) => {
        val byDay = Window.partitionBy().orderBy(col("day"))
        val nD = col("n").cast("double")
        Tables.orders(s, dir)
          .groupBy(to_date(col("o_orderdate")).as("day"))
          .agg(count(lit(1)).as("x"))
          .withColumn("prev_day", lag(col("day"), 1).over(byDay))
          .withColumn("y", lag(col("x"), 1).over(byDay))
          .filter(col("prev_day") === date_sub(col("day"), 1))
          .agg(
            count(lit(1)).as("n"),
            sum(col("x")).as("sx"),
            sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"))
          .select(col("n"),
            ((nD * col("sxy").cast("double") -
              col("sx").cast("double") * col("sy").cast("double")) /
              (sqrt(nD * col("sxx").cast("double") -
                col("sx").cast("double") * col("sx").cast("double")) *
                sqrt(nD * col("syy").cast("double") -
                  col("sy").cast("double") * col("sy").cast("double"))))
              .as("autocorr_lag1"))
      },
      """WITH d AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |p AS (
        |  SELECT day, x,
        |    lag(day) OVER (ORDER BY day) AS prev_day,
        |    lag(x) OVER (ORDER BY day) AS y
        |  FROM d),
        |s AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    CAST(SUM(y * y) AS BIGINT) AS syy
        |  FROM p WHERE prev_day = day - 1)
        |SELECT n,
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |  (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |   * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS autocorr_lag1
        |FROM s""".stripMargin),

    // ------------------------------------------------------------------
    // Weekday seasonality index: each ISO weekday's order count scaled
    // by 7/total — index 1.0 = a flat week. n·7 stays in exact
    // integers; the index is a single division. Bounded 7-row output.
    "weekday_seasonality" -> QueryDef(
      (s, dir) => {
        val tot = Window.partitionBy()
        Tables.orders(s, dir)
          .groupBy(expr("weekday(o_orderdate)").as("dow"))
          .agg(count(lit(1)).as("n"))
          .withColumn("idx",
            (col("n") * 7).cast("double") / sum(col("n")).over(tot).cast("double"))
          .select(col("dow"), col("n"), col("idx").as("seasonality_index"))
          .orderBy(col("dow"))
      },
      """WITH c AS (
        |  SELECT CAST(isodow(o_orderdate) - 1 AS INT) AS dow,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1)
        |SELECT dow, n,
        |  CAST(n * 7 AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE)
        |    AS seasonality_index
        |FROM c
        |ORDER BY dow""".stripMargin),

    // ------------------------------------------------------------------
    // Vocabulary growth curve (Heaps'-law companion to the Zipf
    // query): cumulative distinct tokens as the corpus grows in
    // 100-doc buckets. First occurrence = min(doc_id) per token (one
    // vocab-sized shuffle), new-token counts per bucket, cumulative
    // over the bounded bucket frame. Pure integers.
    "vocab_growth_curve" -> QueryDef(
      (s, dir) => {
        val cum = Window.partitionBy().orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.documents(s, dir)
          .select(col("doc_id"), explode(
            graft.functions.exprs.wordNgramsAll(col("text"), 1)).as("tok"))
          .groupBy(col("tok")).agg(min(col("doc_id")).as("first_doc"))
          .groupBy(expr("first_doc div 100").as("bucket"))
          .agg(count(lit(1)).as("new_tokens"))
          .withColumn("vocab_size", sum(col("new_tokens")).over(cum))
          .orderBy(col("bucket"))
      },
      s"""WITH first AS (
         |  SELECT tok, MIN(doc_id) AS first_doc FROM (
         |    SELECT doc_id, unnest($toksSql) AS tok FROM documents)
         |  GROUP BY 1),
         |b AS (
         |  SELECT first_doc // 100 AS bucket,
         |    CAST(COUNT(*) AS BIGINT) AS new_tokens
         |  FROM first GROUP BY 1)
         |SELECT bucket, new_tokens,
         |  CAST(SUM(new_tokens) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
         |       AS BIGINT) AS vocab_size
         |FROM b
         |ORDER BY bucket""".stripMargin),

    // ------------------------------------------------------------------
    // Zipf rank-frequency table: the top-100 tokens with their rank
    // and the rank×frequency product (≈ constant under Zipf's law —
    // corpus-linguistics QA). The vocabulary aggregate is the only
    // corpus-scale shuffle; the top-100 selection plans as
    // TakeOrderedAndProject (bounded heaps, no global sort) and the
    // rank is a window over the collected 100 rows.
    "zipf_rank_frequency" -> QueryDef(
      (s, dir) => {
        val byFreq = Window.partitionBy().orderBy(col("c").desc, col("tok"))
        Tables.documents(s, dir)
          .select(explode(
            graft.functions.exprs.wordNgramsAll(col("text"), 1)).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("tok"))
          .limit(100)
          .withColumn("rank", row_number().over(byFreq))
          .select(col("rank"), col("tok"), col("c"),
            (col("rank") * col("c")).as("rank_times_freq"))
          .orderBy(col("rank"))
      },
      s"""WITH unic AS (
         |  SELECT tok, COUNT(*) AS c
         |  FROM (SELECT unnest($toksSql) AS tok FROM documents)
         |  GROUP BY tok),
         |top AS (SELECT tok, c FROM unic ORDER BY c DESC, tok LIMIT 100)
         |SELECT CAST(row_number() OVER (ORDER BY c DESC, tok) AS INT) AS rank,
         |  tok, CAST(c AS BIGINT) AS c,
         |  CAST(row_number() OVER (ORDER BY c DESC, tok) * c AS BIGINT)
         |    AS rank_times_freq
         |FROM top
         |ORDER BY rank""".stripMargin),

    // ------------------------------------------------------------------
    // Time-to-convert distribution: hours between a user's first view
    // and first purchase, bucketed to an integer-hour histogram. Two
    // filtered min-aggregates shuffle on the user key (AQE plans the
    // join between them on the same partitioning); the division is
    // integer microsecond arithmetic, so every bucket is engine-exact.
    "conversion_latency_hours" -> QueryDef(
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val firstView = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
        val firstPurch = ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
        firstView.join(firstPurch, Seq("user_id"))
          .filter(col("p_ts") >= col("v_ts"))
          .select(expr(
            "(unix_micros(p_ts) - unix_micros(v_ts)) div 3600000000")
            .as("latency_hours"))
          .groupBy(col("latency_hours"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy(col("latency_hours"))
      },
      """WITH v AS (
        |  SELECT user_id, MIN(ts) AS v_ts FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |p AS (
        |  SELECT user_id, MIN(ts) AS p_ts FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT (epoch_us(p_ts) - epoch_us(v_ts)) // 3600000000 AS latency_hours,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM v JOIN p USING (user_id)
        |WHERE p_ts >= v_ts
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ------------------------------------------------------------------
    // Cohort LTV grid: cumulative revenue per first-week cohort across
    // week offsets — the monetized retention matrix. Revenue sums are
    // exact decimals end-to-end (the cumulative window included), so
    // the only doubles are the final per-cell casts. The wide shuffle
    // is the (cohort, offset) aggregate; the cumulative runs on the
    // bounded cohort×offset grid partitioned by cohort.
    "cohort_ltv" -> QueryDef(
      (s, dir) => {
        val firstw = Tables.events(s, dir)
          .groupBy(col("user_id"))
          .agg(date_trunc("week", min(col("ts"))).cast("date").as("cohort_week"))
        val cum = Window.partitionBy(col("cohort_week")).orderBy(col("week_offset"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, dir)
          .join(firstw, Seq("user_id"))
          .select(col("cohort_week"),
            (datediff(date_trunc("week", col("ts")).cast("date"), col("cohort_week")) / 7)
              .cast("int").as("week_offset"),
            col("value"))
          .groupBy(col("cohort_week"), col("week_offset"))
          .agg(sum(col("value").cast(org.apache.spark.sql.types.DecimalType(20, 2))).as("rev"))
          .withColumn("cum_rev", sum(col("rev")).over(cum))
          .select(col("cohort_week"), col("week_offset"),
            col("rev").cast("double").as("week_revenue"),
            col("cum_rev").cast("double").as("cum_revenue"))
          .orderBy(col("cohort_week"), col("week_offset"))
      },
      """WITH firstw AS (
        |  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
        |  FROM events GROUP BY 1),
        |cell AS (
        |  SELECT f.cohort_week,
        |    CAST(datediff('day', f.cohort_week,
        |                  CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS INT)
        |      AS week_offset,
        |    SUM(CAST(e.value AS DECIMAL(20,2))) AS rev
        |  FROM events e JOIN firstw f USING (user_id)
        |  GROUP BY 1, 2)
        |SELECT cohort_week, week_offset,
        |  CAST(rev AS DOUBLE) AS week_revenue,
        |  CAST(SUM(rev) OVER (PARTITION BY cohort_week ORDER BY week_offset
        |                      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_revenue
        |FROM cell
        |ORDER BY 1, 2""".stripMargin),

    // ------------------------------------------------------------------
    // DAU/MAU stickiness per day: daily actives over trailing-30-day
    // actives, with the distinct-over-a-sliding-window made
    // shuffle-friendly by the same bounded-replication trick as
    // rolling_active_users — each active (user, day) maps into the 30
    // day-buckets whose trailing window sees it, then one two-phase
    // distinct per bucket. DAU joins MAU on the day spine; the ratio
    // is one division.
    "dau_mau_stickiness" -> QueryDef(
      (s, dir) => {
        val ud = Tables.events(s, dir)
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
        val mau = ud
          .select(col("user_id"),
            explode(sequence(col("day"), date_add(col("day"), 29))).as("d"))
          .join(dau.select(col("day").as("d")), Seq("d"))
          .groupBy(col("d").as("day"))
          .agg(countDistinct(col("user_id")).as("mau"))
        dau.join(mau, Seq("day"))
          .select(col("day"), col("dau"), col("mau"),
            (col("dau").cast("double") / col("mau").cast("double")).as("stickiness"))
          .orderBy(col("day"))
      },
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |dau AS (
        |  SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
        |rep AS (
        |  SELECT user_id, CAST(u AS DATE) AS day
        |  FROM ud,
        |    unnest(generate_series(day, day + 29, INTERVAL 1 DAY)) AS t(u)),
        |mau AS (
        |  SELECT r.day, CAST(COUNT(DISTINCT r.user_id) AS BIGINT) AS mau
        |  FROM rep r JOIN dau USING (day)
        |  GROUP BY 1)
        |SELECT day, dau, mau,
        |  CAST(dau AS DOUBLE) / CAST(mau AS DOUBLE) AS stickiness
        |FROM dau JOIN mau USING (day)
        |ORDER BY day""".stripMargin),

    // ------------------------------------------------------------------
    // Peak concurrent sessions per day — the classic sweep-line: each
    // session becomes a (+1 at start, -1 at end) delta pair, a running
    // sum ordered by time gives instantaneous concurrency, MAX per day
    // is the peak. Sessions spanning midnight are clipped into each
    // day they touch, so the sweep partitions BY DAY — every window
    // and aggregate runs parallel across days at any scale, never a
    // global single-partition sort. Ordering (ts, delta DESC, user_id)
    // is total and unique (one session per user at a time), making the
    // running sum engine-independent; delta DESC means boundary
    // instants count both the ending and the starting session as
    // active. Output is all integers — bit-exact by construction.
    "concurrent_sessions_peak" -> QueryDef(
      (s, dir) => {
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val sessions = Tables.events(s, dir)
          .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
          .withColumn("brk",
            when(col("prev_ts").isNull ||
              unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000L, 1L)
              .otherwise(0L))
          .withColumn("session_seq", sum(col("brk")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("session_seq"))
          .agg(min(col("ts")).as("s0"), max(col("ts")).as("s1"))
        val dayed = sessions
          .select(col("user_id"), col("s0"), col("s1"),
            explode(sequence(to_date(col("s0")), to_date(col("s1")))).as("day"))
          .select(col("user_id"), col("day"),
            greatest(col("s0"), col("day").cast("timestamp")).as("sts"),
            least(col("s1"), date_add(col("day"), 1).cast("timestamp")).as("ets"))
        val deltas = dayed
          .select(col("day"), col("user_id"), col("sts").as("ts"), lit(1L).as("delta"))
          .unionAll(dayed
            .select(col("day"), col("user_id"), col("ets").as("ts"), lit(-1L).as("delta")))
        val sweep = Window.partitionBy(col("day"))
          .orderBy(col("ts"), col("delta").desc, col("user_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        deltas
          .withColumn("run", sum(col("delta")).over(sweep))
          .groupBy(col("day"))
          .agg(max(col("run")).as("peak_concurrency"))
          .orderBy(col("day"))
      },
      """WITH marked AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        |  SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM marked
        |), bounds AS (
        |  SELECT user_id, MIN(ts) AS s0, MAX(ts) AS s1
        |  FROM sess GROUP BY user_id, session_seq
        |), dayed AS (
        |  SELECT user_id, CAST(u AS DATE) AS day,
        |    greatest(s0, CAST(CAST(u AS DATE) AS TIMESTAMP)) AS sts,
        |    least(s1, CAST(CAST(u AS DATE) + 1 AS TIMESTAMP)) AS ets
        |  FROM bounds,
        |    unnest(generate_series(CAST(s0 AS DATE), CAST(s1 AS DATE),
        |                           INTERVAL 1 DAY)) AS t(u)
        |), deltas AS (
        |  SELECT day, user_id, sts AS ts, 1 AS delta FROM dayed
        |  UNION ALL
        |  SELECT day, user_id, ets AS ts, -1 AS delta FROM dayed
        |), run AS (
        |  SELECT day,
        |    SUM(delta) OVER (PARTITION BY day ORDER BY ts, delta DESC, user_id
        |                     ROWS UNBOUNDED PRECEDING) AS r
        |  FROM deltas
        |)
        |SELECT day, CAST(MAX(r) AS BIGINT) AS peak_concurrency
        |FROM run GROUP BY 1 ORDER BY 1""".stripMargin),

    // ------------------------------------------------------------------
    // Trailing-24h distinct active users per hour — the sliding
    // distinct window made shuffle-friendly by BOUNDED REPLICATION:
    // each event lands in exactly the 24 hour-buckets whose trailing
    // window can see it (explode of a 24-element sequence, a map-side
    // fan-out — no inequality join, no global sort), then one
    // two-phase distinct aggregate per bucket. The spine join keeps
    // only hours that actually occur in the data (observational
    // spine), and AQE broadcasts it. At 1000 executors this is a
    // single shuffle keyed (hour, user) — the replication factor is a
    // constant 24, independent of data volume.
    "rolling_active_users" -> QueryDef(
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), date_trunc("hour", col("ts")).as("he"))
        val spine = ev.select(col("he").as("h")).distinct()
        val rep = ev.select(col("user_id"),
          explode(sequence(
            col("he"),
            col("he") + expr("INTERVAL 23 HOURS"),
            expr("INTERVAL 1 HOUR"))).as("h"))
        rep.join(spine, Seq("h"))
          .groupBy(col("h"))
          .agg(countDistinct(col("user_id")).as("active_users"))
          .orderBy(col("h"))
      },
      """WITH ev AS (
        |  SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS he
        |  FROM events),
        |spine AS (SELECT DISTINCT he AS h FROM ev),
        |rep AS (
        |  SELECT user_id, CAST(u AS TIMESTAMP) AS h
        |  FROM ev,
        |    unnest(generate_series(he, he + INTERVAL 23 HOUR,
        |                           INTERVAL 1 HOUR)) AS t(u))
        |SELECT h, COUNT(DISTINCT user_id) AS active_users
        |FROM rep JOIN spine USING (h)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ------------------------------------------------------------------
    // Native session_window (batch): the built-in session operator, here
    // under the oracle gate — DuckDB restates it as gap islands. Boundary
    // semantics differ from the lag-formulation: session_window spans
    // [first, last+gap) so an event exactly gap after its predecessor
    // starts a NEW session — the islands twin breaks on diff >= gap,
    // not > gap (events_sessionize keeps the textbook > convention).
    "events_session_window_native" -> QueryDef(
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(
            col("user_id"), col("w.start").as("session_start"),
            (col("w.end") - expr("INTERVAL 30 MINUTES")).as("last_ts"),
            col("n_events"))
          .orderBy(col("user_id"), col("session_start")),
      """WITH marked AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800 * 1000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sessions AS (
        |  SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM marked
        |)
        |SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS last_ts,
        |  COUNT(*) AS n_events
        |FROM sessions
        |GROUP BY user_id, session_seq
        |ORDER BY user_id, session_start""".stripMargin),

    // ------------------------------------------------------------------
    // End-to-end corpus curation — the composed training-data pass:
    // language filter → quality filter → exact dedup (keep lowest id)
    // → deterministic 50% hash sample. Every stage is exact, so the
    // WHOLE pipeline is DuckDB-oracled, not just its pieces.
    "corpus_curation" -> QueryDef(
      (s, dir) => {
        // Fan out first (the single-file fixture is ONE scan partition
        // — the kernels would serialize on one core), then persist the
        // scored corpus so lang/quality run ONCE: predicate pushdown
        // would otherwise re-state both interpreted-HOF trees inside
        // the filter AND the projection (no CSE outside codegen —
        // measured 3× the whole pipeline's cost).
        val scored = graft.Par.fanOut(Tables.documents(s, dir)).select(
          col("doc_id"), col("text"),
          TextOps.langId(col("text")).as("lang"),
          TextOps.qualityScore(col("text")).as("quality"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val kept = scored.filter(col("lang") === "en" && col("quality") >= 0.5)
        val deduped = kept
          .withColumn("rn", row_number().over(
            Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
          .filter(col("rn") === 1)
        deduped
          .filter(HashSample.accept(col("doc_id"), 0.5))
          .select(col("doc_id"), col("quality"))
          .orderBy(col("doc_id"))
      },
      {
        val sw = TextOps.englishStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
        val hits = TextOps.langProfiles.map { case (lang, sws) =>
          val arr = sws.map(w => s"'$w'").mkString("[", ", ", "]")
          s"len(list_filter(toks, t -> list_contains($arr, t))) AS ${lang}_hits"
        }.mkString(",\n    ")
        val langs = TextOps.langProfiles.map(_._1)
        val g = langs.map(l => s"${l}_hits").mkString("greatest(", ", ", ")")
        val cases = langs.map(l => s"WHEN ${l}_hits = g THEN '$l'").mkString("\n    ")
        s"""WITH t AS (
           |  SELECT doc_id, text, $toksSql AS toks,
           |    len(regexp_replace(coalesce(text, ''), '\\s+', '', 'g')) AS n_chars_nosp,
           |    coalesce(text, '') AS txt
           |  FROM documents
           |), m AS (
           |  SELECT doc_id, text,
           |    CASE WHEN len(toks) > 0
           |         THEN CAST(len(list_filter(toks, t -> list_contains($sw, t))) AS DOUBLE) / len(toks)
           |         ELSE 0.0 END AS swr,
           |    CASE WHEN len(toks) > 0
           |         THEN CAST(n_chars_nosp AS DOUBLE) / len(toks) ELSE 0.0 END AS mtl,
           |    CASE WHEN len(txt) > 0
           |         THEN CAST(len(regexp_extract_all(txt, '[^A-Za-z0-9\\s]')) AS DOUBLE) / len(txt)
           |         ELSE 0.0 END AS pr,
           |    $hits
           |  FROM t
           |), s AS (SELECT *, $g AS g FROM m
           |), scored AS (
           |  SELECT doc_id, text,
           |    round(
           |      (CASE WHEN mtl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.4
           |      + least(swr * 4.0, 1.0) * 0.3
           |      + greatest(0.0, 1.0 - pr * 4.0) * 0.3, 6) AS quality,
           |    CASE WHEN g = 0 THEN 'und'
           |      $cases
           |    END AS lang
           |  FROM s
           |), kept AS (
           |  SELECT doc_id, text, quality FROM scored
           |  WHERE lang = 'en' AND quality >= 0.5
           |), deduped AS (
           |  SELECT doc_id, quality,
           |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
           |  FROM kept
           |)
           |SELECT doc_id, quality FROM deduped
           |WHERE rn = 1
           |  AND md5(CAST(doc_id AS VARCHAR)) < '${HashSample.thresholdHex(0.5)}'
           |ORDER BY doc_id""".stripMargin
      }),

    // ------------------------------------------------------------------
    // A6 expressed with an empty-frame window (SURVEY.md §2.5's optional
    // formulation): share-of-total without the cross join.
    "share_of_total_window" -> QueryDef(
      (s, dir) => {
        val perType = Tables.events(s, dir)
          .groupBy(col("event_type"))
          .agg(sum(col("value").cast(org.apache.spark.sql.types.DecimalType(20, 2)))
            .as("dec_total"))
        perType
          .withColumn("grand", sum(col("dec_total")).over(Window.partitionBy()))
          .select(
            col("event_type"),
            col("dec_total").cast("double").as("type_total"),
            when(col("grand").cast("double") > 0,
              col("dec_total").cast("double") / col("grand").cast("double"))
              .otherwise(lit(0.0)).as("share"))
          .orderBy(col("event_type"))
      },
      """WITH t AS (
        |  SELECT event_type, SUM(CAST(value AS DECIMAL(20,2))) AS dec_total
        |  FROM events GROUP BY 1
        |)
        |SELECT event_type,
        |  CAST(dec_total AS DOUBLE) AS type_total,
        |  CASE WHEN CAST(SUM(dec_total) OVER () AS DOUBLE) > 0
        |       THEN CAST(dec_total AS DOUBLE) / CAST(SUM(dec_total) OVER () AS DOUBLE)
        |       ELSE 0.0 END AS share
        |FROM t
        |ORDER BY event_type""".stripMargin),

    // ------------------------------------------------------------------
    // First-order Markov transition matrix over event types: for every
    // consecutive event pair per user (total (ts, event_id) order),
    // the transition count and conditional probability. The lead runs
    // user-partitioned (scales out); the per-source normalizer is a
    // tiny type-level aggregate that broadcasts back. Counts are
    // integers, probability is one division — bit-exact.
    "event_transition_matrix" -> QueryDef(
      (s, dir) => {
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val trans = Tables.events(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("to_type", lead(col("event_type"), 1).over(byUser))
          .filter(col("to_type").isNotNull)
          .groupBy(col("event_type").as("from_type"), col("to_type"))
          .agg(count(lit(1)).as("c"))
        val totals = trans.groupBy(col("from_type")).agg(sum(col("c")).as("c_from"))
        trans.join(broadcast(totals), Seq("from_type"))
          .select(
            col("from_type"), col("to_type"), col("c"),
            (col("c").cast("double") / col("c_from").cast("double")).as("p"))
          .orderBy(col("from_type"), col("to_type"))
      },
      """WITH trans AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS to_type
        |  FROM events),
        |cnt AS (
        |  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM trans WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (
        |  SELECT from_type, CAST(SUM(c) AS BIGINT) AS c_from
        |  FROM cnt GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.c,
        |  CAST(c.c AS DOUBLE) / CAST(t.c_from AS DOUBLE) AS p
        |FROM cnt c JOIN tot t ON t.from_type = c.from_type
        |ORDER BY 1, 2""".stripMargin),

    // ------------------------------------------------------------------
    // Triangle counting on the basket co-occurrence graph — the
    // classic distributed graph pattern: edges are part pairs
    // co-ordered in ≥ 3 baskets, kept in canonical (p1 < p2) order so
    // each triangle (a < b < c) is enumerated exactly once by the
    // two-hop join a-b ⋈ b-c ⋈ a-c. Support filtering first keeps the
    // edge set far smaller than the raw pair stream; the joins are
    // equi-joins on edge endpoints (shuffle by vertex — the standard
    // MR triangle algorithm). One-row integer output.
    "basket_triangles" -> QueryDef(
      (s, dir) => {
        val edges = basketPairs(s, dir)
          .select(col("p1").as("u"), col("p2").as("v"))
        val tri = edges.as("e1")
          .join(edges.as("e2"), col("e1.v") === col("e2.u"))
          .join(edges.as("e3"),
            col("e1.u") === col("e3.u") && col("e2.v") === col("e3.v"))
          .agg(count(lit(1)).as("n_triangles"))
        val nodes = edges.select(col("u").as("p")).unionAll(edges.select(col("v").as("p")))
          .distinct().agg(count(lit(1)).as("n_nodes"))
        val ne = edges.agg(count(lit(1)).as("n_edges"))
        nodes.crossJoin(broadcast(ne)).crossJoin(broadcast(tri))
      },
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |edges AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2
        |  HAVING COUNT(*) >= 3),
        |tri AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        |  FROM edges e1
        |  JOIN edges e2 ON e1.v = e2.u
        |  JOIN edges e3 ON e1.u = e3.u AND e2.v = e3.v),
        |nodes AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM (
        |    SELECT u AS p FROM edges UNION SELECT v FROM edges)),
        |ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges)
        |SELECT n_nodes, n_edges, n_triangles FROM nodes, ne, tri""".stripMargin),

    // ------------------------------------------------------------------
    // Growth accounting — the standard DAU decomposition: every active
    // (user, day) is classified NEW (first-ever day), RETAINED (also
    // active the previous day) or RESURRECTED (returning after a gap),
    // and CHURNED(d) is yesterday's actives that didn't return. The
    // per-user lag runs on the user-partitioned distinct activity grid
    // (scales out); only the final day-level lag runs on one partition
    // — at most one row per calendar day, constant size at any data
    // scale. All counts are integers; gap days emit churned = 0.
    "growth_accounting" -> QueryDef(
      (s, dir) => {
        val ud = Tables.events(s, dir)
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("day"))
        val daily = ud
          .withColumn("prev", lag(col("day"), 1).over(byUser))
          .groupBy(col("day"))
          .agg(
            count(lit(1)).as("active"),
            sum(when(col("prev").isNull, 1L).otherwise(0L)).as("new_users"),
            sum(when(datediff(col("day"), col("prev")) === 1, 1L).otherwise(0L))
              .as("retained"),
            sum(when(col("prev").isNotNull && datediff(col("day"), col("prev")) > 1, 1L)
              .otherwise(0L)).as("resurrected"))
        val byDay = Window.partitionBy().orderBy(col("day"))
        daily
          .withColumn("churned",
            when(lag(col("day"), 1).over(byDay) === date_sub(col("day"), 1),
              lag(col("active"), 1).over(byDay) - col("retained"))
              .otherwise(0L))
          .orderBy(col("day"))
      },
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |flagged AS (
        |  SELECT day,
        |    lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev
        |  FROM ud),
        |daily AS (
        |  SELECT day,
        |    CAST(COUNT(*) AS BIGINT) AS active,
        |    CAST(SUM(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
        |    CAST(SUM(CASE WHEN date_diff('day', prev, day) = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS retained,
        |    CAST(SUM(CASE WHEN prev IS NOT NULL AND date_diff('day', prev, day) > 1
        |             THEN 1 ELSE 0 END) AS BIGINT) AS resurrected
        |  FROM flagged GROUP BY 1)
        |SELECT day, active, new_users, retained, resurrected,
        |  CAST(CASE WHEN lag(day) OVER (ORDER BY day) = day - 1
        |       THEN lag(active) OVER (ORDER BY day) - retained
        |       ELSE 0 END AS BIGINT) AS churned
        |FROM daily
        |ORDER BY day""".stripMargin),

    // ------------------------------------------------------------------
    // Hourly event-rate anomalies per type: flag hours whose count
    // sits > 2 sample standard deviations above the type's mean. All
    // aggregates are INTEGER sums (count, Σc, Σc²) so they're exact on
    // any engine; the mean/variance/z doubles are derived from those
    // integers with +,-,×,÷,sqrt in identical textual order on both
    // sides — the only float-parity-safe recipe (CLAUDE.md). The stats
    // side is one row per event_type, so the re-join broadcasts.
    "event_rate_anomaly" -> QueryDef(
      (s, dir) => {
        val hourly = Tables.events(s, dir)
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("c"))
        val stats = hourly.groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("c")).as("sx"),
            sum(col("c") * col("c")).as("sxx"))
        hourly.join(broadcast(stats), Seq("event_type"))
          .withColumn("mean", col("sx").cast("double") / col("n").cast("double"))
          .withColumn("varr",
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double") /
              (col("n") * (col("n") - 1)).cast("double"))
          .filter(col("n") >= 2 && col("varr") > 0)
          .withColumn("z",
            (col("c").cast("double") - col("mean")) / sqrt(col("varr")))
          .filter(col("z") > 2.0)
          .select(col("event_type"), col("h"), col("c"), col("z"))
          .orderBy(col("event_type"), col("h"))
      },
      """WITH hourly AS (
        |  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |stats AS (
        |  SELECT event_type,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(c) AS BIGINT) AS sx,
        |    CAST(SUM(c * c) AS BIGINT) AS sxx
        |  FROM hourly GROUP BY 1),
        |j AS (
        |  SELECT h.event_type, h.h, h.c,
        |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |    CAST(n * sxx - sx * sx AS DOUBLE) /
        |      CAST(n * (n - 1) AS DOUBLE) AS varr
        |  FROM hourly h JOIN stats s ON s.event_type = h.event_type
        |  WHERE n >= 2)
        |SELECT event_type, h, c,
        |  (CAST(c AS DOUBLE) - mean) / sqrt(varr) AS z
        |FROM j
        |WHERE varr > 0 AND (CAST(c AS DOUBLE) - mean) / sqrt(varr) > 2.0
        |ORDER BY event_type, h""".stripMargin),

    // ------------------------------------------------------------------
    // Market-basket association rules over order line items: distinct
    // (order, part) pairs self-joined on the order key (p1 < p2 halves
    // the product), pair counts filtered by min support, top-20 by
    // support with deterministic integer tie-breaks, then confidence
    // and lift from the part frequencies. The pair shuffle carries
    // Σk(k-1)/2 rows (k = parts per order — bounded), the part-count
    // re-join broadcasts, and the 1-row basket total rides the J9
    // broadcast-cross-join shape (whitelisted in PlanAuditSpec).
    "basket_association_rules" -> QueryDef(
      (s, dir) => {
        // shared checkpointed (order, part) artifact (r15)
        val items = orderPartItems(s, dir)
        val partCnt = items.groupBy(col("l_partkey")).agg(count(lit(1)).as("pc"))
        val tot = items.agg(countDistinct(col("l_orderkey")).as("n_baskets"))
        basketPairs(s, dir)
          .orderBy(col("c_pair").desc, col("p1"), col("p2"))
          .limit(20)
          .join(broadcast(partCnt.select(col("l_partkey").as("p1"), col("pc").as("c1"))), Seq("p1"))
          .join(broadcast(partCnt.select(col("l_partkey").as("p2"), col("pc").as("c2"))), Seq("p2"))
          .crossJoin(broadcast(tot))
          .select(
            col("p1"), col("p2"), col("c_pair"), col("c1"), col("c2"),
            (col("c_pair").cast("double") / col("c1").cast("double")).as("confidence"),
            (col("c_pair").cast("double") * col("n_baskets").cast("double") /
              col("c1").cast("double") / col("c2").cast("double")).as("lift"))
          .orderBy(col("c_pair").desc, col("p1"), col("p2"))
      },
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pc AS (SELECT l_partkey, COUNT(*) AS pc FROM items GROUP BY 1),
        |tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM items),
        |pairs AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS c_pair
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2
        |  HAVING COUNT(*) >= 3
        |  ORDER BY c_pair DESC, p1, p2
        |  LIMIT 20)
        |SELECT p1, p2, CAST(c_pair AS BIGINT) AS c_pair,
        |  CAST(c1.pc AS BIGINT) AS c1, CAST(c2.pc AS BIGINT) AS c2,
        |  CAST(c_pair AS DOUBLE) / CAST(c1.pc AS DOUBLE) AS confidence,
        |  CAST(c_pair AS DOUBLE) * CAST(n_baskets AS DOUBLE)
        |    / CAST(c1.pc AS DOUBLE) / CAST(c2.pc AS DOUBLE) AS lift
        |FROM pairs
        |JOIN pc c1 ON c1.l_partkey = p1
        |JOIN pc c2 ON c2.l_partkey = p2
        |CROSS JOIN tot
        |ORDER BY c_pair DESC, p1, p2""".stripMargin),

    // ------------------------------------------------------------------
    // Bigram next-token table — the n-gram language-model primitive:
    // for each of the 50 most frequent unigrams, the most likely
    // successor (argmax by bigram count, lexicographic tie-break) and
    // its conditional probability. The head-unigram selection is a
    // TakeOrderedAndProject top-k (no global sort materialized), the
    // 50-row head broadcasts into the bigram side, and the per-prev
    // argmax is one window partitioned by the prev token.
    // ------------------------------------------------------------------
    // Kneser–Ney bigram smoothing (Kneser & Ney 1995; Chen & Goodman
    // 1999 — THE LM smoothing baseline): absolute discounting with the
    // continuation-probability backoff,
    //   p_kn(y|x) = (c(x,y)−d)/c(x) + (d·N1+(x·)/c(x)) · (N1+(·y)/B),
    // d = 0.75 (EXACT in binary — the whole formula is integer counts
    // through a fixed parenthesized sequence of IEEE ops, identical
    // textual order both engines, so the probabilities hash-exactly).
    // One bigram aggregate feeds the left marginal, the continuation
    // marginal, the distinct-bigram total (1-row broadcast, J9), and
    // the final probe — checkpointed for its four consumers. Top-30
    // bigrams by count.
    "kneser_ney_bigram" -> QueryDef(
      (s, dir) => {
        val bi = Tables.documents(s, dir)
          .select(explode(
            graft.functions.exprs.wordNgramsAll(col("text"), 2)).as("bigram"))
          .groupBy(col("bigram")).agg(count(lit(1)).as("c_xy"))
          .withColumn("x", split(col("bigram"), " ").getItem(0))
          .withColumn("y", split(col("bigram"), " ").getItem(1))
          .localCheckpoint()
        val xm = bi.groupBy(col("x"))
          .agg(sum(col("c_xy")).as("c_x"), count(lit(1)).as("n1p_x"))
        val ym = bi.groupBy(col("y")).agg(count(lit(1)).as("n1p_y"))
        val bc = bi.agg(count(lit(1)).as("b"))
        bi.join(xm, Seq("x")).join(ym, Seq("y")).crossJoin(broadcast(bc))
          .select(col("x"), col("y"), col("c_xy"), col("c_x"),
            col("n1p_x"), col("n1p_y"),
            (((col("c_xy").cast("double") - lit(0.75)) /
              col("c_x").cast("double")) +
              (((lit(0.75) * col("n1p_x").cast("double")) /
                col("c_x").cast("double")) *
                (col("n1p_y").cast("double") / col("b").cast("double"))))
              .as("pkn"))
          .orderBy(col("c_xy").desc, col("x"), col("y"))
          .limit(30)
      },
      s"""WITH toks AS (
         |  SELECT $toksSql AS tk FROM documents),
         |bic AS (
         |  SELECT bg AS bigram, COUNT(*) AS c_xy FROM (
         |    SELECT unnest(list_transform(range(1, len(tk)),
         |                                 i -> tk[i] || ' ' || tk[i+1])) AS bg
         |    FROM toks) GROUP BY bg),
         |sp AS (
         |  SELECT string_split(bigram, ' ')[1] AS x,
         |         string_split(bigram, ' ')[2] AS y, c_xy
         |  FROM bic),
         |xm AS (SELECT x, CAST(SUM(c_xy) AS BIGINT) AS c_x,
         |              CAST(COUNT(*) AS BIGINT) AS n1p_x FROM sp GROUP BY 1),
         |ym AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS n1p_y FROM sp GROUP BY 1),
         |bc AS (SELECT CAST(COUNT(*) AS BIGINT) AS b FROM sp)
         |SELECT sp.x, sp.y, CAST(sp.c_xy AS BIGINT) AS c_xy,
         |  xm.c_x, xm.n1p_x, ym.n1p_y,
         |  ((CAST(sp.c_xy AS DOUBLE) - CAST(0.75 AS DOUBLE)) / CAST(xm.c_x AS DOUBLE)) +
         |    (((CAST(0.75 AS DOUBLE) * CAST(xm.n1p_x AS DOUBLE)) / CAST(xm.c_x AS DOUBLE)) *
         |     (CAST(ym.n1p_y AS DOUBLE) / CAST(bc.b AS DOUBLE))) AS pkn
         |FROM sp JOIN xm USING (x) JOIN ym USING (y) CROSS JOIN bc
         |ORDER BY c_xy DESC, x, y LIMIT 30""".stripMargin),

    "bigram_next_token" -> QueryDef(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val unic = docs
          .select(explode(
            graft.functions.exprs.wordNgramsAll(col("text"), 1)).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("c"))
        val topx = unic.orderBy(col("c").desc, col("tok")).limit(50)
        val byPrev = Window.partitionBy(col("x"))
          .orderBy(col("c_xy").desc, col("y"))
        docs
          .select(explode(
            graft.functions.exprs.wordNgramsAll(col("text"), 2)).as("bigram"))
          .groupBy(col("bigram")).agg(count(lit(1)).as("c_xy"))
          .withColumn("x", split(col("bigram"), " ").getItem(0))
          .withColumn("y", split(col("bigram"), " ").getItem(1))
          .join(broadcast(topx.select(col("tok").as("x"), col("c").as("c_x"))), Seq("x"))
          .withColumn("rn", row_number().over(byPrev))
          .filter(col("rn") === 1)
          .select(
            col("x"), col("y").as("next_tok"), col("c_x"), col("c_xy"),
            (col("c_xy").cast("double") / col("c_x").cast("double")).as("confidence"))
          .orderBy(col("x"))
      },
      s"""WITH toks AS (
         |  SELECT $toksSql AS tk FROM documents),
         |unic AS (
         |  SELECT tok, COUNT(*) AS c
         |  FROM (SELECT unnest(tk) AS tok FROM toks) GROUP BY tok),
         |topx AS (SELECT tok, c FROM unic ORDER BY c DESC, tok LIMIT 50),
         |bic AS (
         |  SELECT bg AS bigram, COUNT(*) AS c_xy FROM (
         |    SELECT unnest(list_transform(range(1, len(tk)),
         |                                 i -> tk[i] || ' ' || tk[i+1])) AS bg
         |    FROM toks) GROUP BY bg),
         |nxt AS (
         |  SELECT string_split(bigram, ' ')[1] AS x,
         |         string_split(bigram, ' ')[2] AS y, c_xy
         |  FROM bic),
         |ranked AS (
         |  SELECT x, y, c_xy,
         |    row_number() OVER (PARTITION BY x ORDER BY c_xy DESC, y) AS rn
         |  FROM nxt)
         |SELECT x, y AS next_tok, CAST(t.c AS BIGINT) AS c_x,
         |  CAST(c_xy AS BIGINT) AS c_xy,
         |  CAST(c_xy AS DOUBLE) / CAST(t.c AS DOUBLE) AS confidence
         |FROM ranked JOIN topx t ON t.tok = ranked.x
         |WHERE rn = 1
         |ORDER BY x""".stripMargin),

    // ------------------------------------------------------------------
    // Energy-gated VAD segmentation over the PCM16 audio corpus:
    // Multimodal.audioFrameEnergies computes 64-sample frame energies
    // INSIDE the decode kernel (payload bytes never shuffle — one clip
    // row in, compact frame rows out), a frame is "voiced" iff its
    // energy is strictly above the clip mean (energy·n_frames >
    // total_energy, the cross-multiplied integer gate — no division,
    // no threshold constant to tune per SF), and voiced runs group by
    // the classic gaps-and-islands key (frame_idx − row_number, a
    // per-clip window). Per clip: segment count, voiced frames,
    // longest segment — the clip-level stats a speech-data curation
    // stage filters on. The oracle restates every sample from the text
    // (the audio_pcm_features recipe) — all integers, bit-exact.
    "audio_vad_segments" -> QueryDef(
      (s, dir) => {
        val fr = Multimodal.audioFrameEnergies(
          Multimodal.audioFrom(Tables.documents(s, dir)), frameSamples = 64)
          .toDF()
        val cl = fr.groupBy(col("media_id"))
          .agg(count(lit(1)).as("n_frames"), sum(col("energy")).as("tot"))
        val runs = fr.join(cl, Seq("media_id"))
          .filter(col("energy") * col("n_frames") > col("tot"))
          .withColumn("grp", col("frame_idx") - row_number().over(
            Window.partitionBy(col("media_id")).orderBy(col("frame_idx"))))
          .groupBy(col("media_id"), col("grp"))
          .agg(count(lit(1)).as("run_len"))
          .groupBy(col("media_id"))
          .agg(count(lit(1)).as("n_segments"), sum(col("run_len")).as("voiced_frames"),
            max(col("run_len")).as("longest_segment"))
        Tables.documents(s, dir).select(col("doc_id").as("media_id"))
          .join(cl.select(col("media_id"), col("n_frames")), Seq("media_id"), "left")
          .join(runs, Seq("media_id"), "left")
          .select(col("media_id"),
            coalesce(col("n_frames"), lit(0L)).as("n_frames"),
            coalesce(col("n_segments"), lit(0L)).as("n_segments"),
            coalesce(col("voiced_frames"), lit(0L)).as("voiced_frames"),
            coalesce(col("longest_segment"), lit(0L)).as("longest_segment"))
          .orderBy(col("media_id"))
      },
      """WITH s AS (SELECT doc_id AS media_id,
        |    list_transform(range(1, len(coalesce(text, '')) + 1),
        |      i -> (unicode(text[i:i]) * 523) % 2048 - 1024) AS sm
        |  FROM documents),
        |fr AS (
        |  SELECT media_id, k AS frame_idx,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      j -> CASE WHEN (k-1)*64 + j <= len(sm)
        |                THEN sm[(k-1)*64 + j] * sm[(k-1)*64 + j] ELSE 0 END)) AS BIGINT) AS energy
        |  FROM (SELECT media_id, sm, unnest(range(1, (len(sm) + 63) // 64 + 1)) AS k FROM s)
        |  WHERE len(sm) > 0),
        |cl AS (SELECT media_id, CAST(count(*) AS BIGINT) AS n_frames,
        |         CAST(sum(energy) AS BIGINT) AS tot FROM fr GROUP BY 1),
        |voiced AS (
        |  SELECT fr.media_id, fr.frame_idx,
        |    fr.frame_idx - row_number() OVER (PARTITION BY fr.media_id ORDER BY fr.frame_idx) AS grp
        |  FROM fr JOIN cl ON cl.media_id = fr.media_id
        |  WHERE fr.energy * cl.n_frames > cl.tot),
        |runs AS (
        |  SELECT media_id, grp, CAST(count(*) AS BIGINT) AS run_len
        |  FROM voiced GROUP BY 1, 2),
        |seg AS (
        |  SELECT media_id, CAST(count(*) AS BIGINT) AS n_segments,
        |    CAST(sum(run_len) AS BIGINT) AS voiced_frames,
        |    CAST(max(run_len) AS BIGINT) AS longest_segment
        |  FROM runs GROUP BY 1)
        |SELECT d.doc_id AS media_id,
        |  coalesce(cl.n_frames, 0) AS n_frames,
        |  coalesce(seg.n_segments, 0) AS n_segments,
        |  coalesce(seg.voiced_frames, 0) AS voiced_frames,
        |  coalesce(seg.longest_segment, 0) AS longest_segment
        |FROM documents d LEFT JOIN cl ON cl.media_id = d.doc_id
        |LEFT JOIN seg ON seg.media_id = d.doc_id
        |ORDER BY media_id""".stripMargin)
  )
}
