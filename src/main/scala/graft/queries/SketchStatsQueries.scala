package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{HllRegisters, KmvSketch, Md5Hash}
import graft.operators.{PageRank, TextOps, UnigramLm, WordPiece}

/** Cardinality sketches, rank statistics, and tokenizer-adjacent
  * operators, oracle-verified. The sketches (KMV bottom-k,
  * HyperLogLog) are the mergeable-summary family the Count-Min query
  * started: per-shard partial buffers collapse map-side and merge
  * order-independently, so a 100 TB profiling pass pays one skinny
  * shuffle of O(k)/O(m) state per group rather than a distinct-shuffle
  * of the keys themselves — and per-file sketches roll up to dataset
  * totals with no second scan (demonstrated by the 'ALL' scope, which
  * re-aggregates the per-group sketches instead of rescanning). The
  * rank statistics (Kolmogorov–Smirnov, Mann–Whitney U) run entirely
  * on exact integer counts — distribution comparison tools a data-
  * curation pipeline uses to detect drift between corpus slices.
  */
object SketchStatsQueries {

  private def md5_63(x: String): String =
    s"(('0x' || substr(md5($x), 1, 16))::UBIGINT & 9223372036854775807::UBIGINT)::BIGINT"

  /** Session-scoped PREPARED-PAGERANK artifact (r15, the r14 deferred
    * item): the degree frame + degree-joined edge frame over the
    * shared symmetric trade graph, checkpointed once — pagerank and
    * ppr each re-derived the identical pair (one degree agg + one
    * join + checkpoint per query).
    */
  private val preparedTradeEdges = new SessionScopedCache[
    (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)](
    "SketchStatsQueries.preparedTradeEdges",
    (s, dir) => PageRank.prepare(GraphLearnQueries.edgesFrame(s, dir)))

  private val toksSql =
    "list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'), t -> len(t) > 0)"

  /** Fixed serving inventory for `unigram_segment_fixed` — multi-char
    * pieces only; characters outside it pass through as single-char
    * pieces (the <unk> convention), so coverage is total by design.
    */
  private val unigramServingVocab: Seq[String] = Seq(
    "scan", "sort", "order", "win", "dow", "col", "umn", "join", "mer",
    "ge", "group", "line", "val", "ue", "key", "part", "agg", "row",
    "ing", "er", "es", "on", "an", "ti", "st", "re", "th", "qu")

  /** The DuckDB serving-segmentation CTE chain (fixed vocab → per-word
    * maximal-munch walk → per-word encoding) shared by
    * `unigram_segment_fixed` and `tokenizer_fertility_compare`.
    * Callers prepend `WITH RECURSIVE` and append their own SELECT.
    */
  private def unigramServingCtes: String = {
    val vs = unigramServingVocab.map(p => s"('$p')").mkString(", ")
    s"""vocab(piece) AS (VALUES $vs),
       |tk AS MATERIALIZED (SELECT doc_id, $toksSql AS toks FROM documents),
       |tok AS MATERIALIZED (
       |  SELECT doc_id, CAST(i AS INT) AS pos, toks[CAST(i AS INT)] AS word
       |  FROM tk, unnest(range(1, len(toks) + 1)) t(i)),
       |words AS MATERIALIZED (SELECT DISTINCT word FROM tok),
       |pl AS (SELECT CAST(i AS INT) AS p FROM range(1, 64) t(i)),
       |ll AS (SELECT CAST(i AS INT) AS l FROM range(1, 7) t(i)),
       |cand AS MATERIALIZED (
       |  SELECT w.word, pl.p AS pos, ll.l, substr(w.word, pl.p, ll.l) AS piece
       |  FROM words w JOIN pl ON pl.p <= len(w.word)
       |               JOIN ll ON pl.p + ll.l <= len(w.word) + 1),
       |steps AS MATERIALIZED (
       |  SELECT c.word, c.pos, CAST(max(c.l) AS INT) AS step
       |  FROM cand c JOIN vocab v ON v.piece = c.piece GROUP BY 1, 2),
       |walk AS (
       |  SELECT word, CAST(len(word) AS INT) AS wl, 1 AS pos
       |  FROM words WHERE len(word) >= 1
       |  UNION ALL
       |  SELECT w.word, w.wl, w.pos + coalesce(s.step, 1)
       |  FROM walk w LEFT JOIN steps s ON s.word = w.word AND s.pos = w.pos
       |  WHERE w.pos <= w.wl),
       |pieces AS MATERIALIZED (
       |  SELECT w.word, w.pos, substr(w.word, w.pos, coalesce(s.step, 1)) AS piece
       |  FROM walk w LEFT JOIN steps s ON s.word = w.word AND s.pos = w.pos
       |  WHERE w.pos <= w.wl),
       |enc AS MATERIALIZED (
       |  SELECT word, string_agg(piece, ' ' ORDER BY pos) AS enc,
       |         CAST(count(*) AS BIGINT) AS np
       |  FROM pieces GROUP BY 1)""".stripMargin
  }

  /** Shared grouped-count CTE for the two rank statistics: per distinct
    * quantity value, counts in sample A (returnflag R) and B (N).
    */
  private val rankCountsSql =
    """c AS (SELECT CAST(l_quantity AS BIGINT) AS q,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS cb
      |  FROM lineitem WHERE l_returnflag IN ('R', 'N') GROUP BY 1)""".stripMargin

  /** WordPiece oracle: replays `k` likelihood-scored merge rounds with
    * MATERIALIZED CTEs. Unlike the BPE twin (2 references per round),
    * each round here references v_i three times (pair counts, symbol
    * counts, next encoding) — plain CTE inlining makes the expression
    * tree 3^k and DuckDB takes minutes at k=6; MATERIALIZED pins each
    * round to one evaluation (measured 0.07 s).
    */
  private def wordpieceOracleSql(k: Int): String = {
    val head =
      s"""tk AS MATERIALIZED (SELECT unnest($toksSql) AS word FROM documents),
         |v0 AS MATERIALIZED (
         |  SELECT word, CAST(count(*) AS BIGINT) AS freq,
         |    ' ' || array_to_string(list_transform(range(1, len(word)+1), i -> word[i:i]), '  ') || ' ' AS enc
         |  FROM tk GROUP BY word)""".stripMargin
    val rounds = (0 until k).map { i =>
      val apply =
        if (i == k - 1) ""
        else
          s""",
             |v${i + 1} AS MATERIALIZED (
             |  SELECT v.word, v.freq,
             |    replace(v.enc, ' ' || m.left_sym || '  ' || m.right_sym || ' ',
             |            ' ' || m.left_sym || m.right_sym || ' ') AS enc
             |  FROM v$i v, m$i m)""".stripMargin
      s"""sy$i AS MATERIALIZED (
         |  SELECT sym, CAST(SUM(freq) AS BIGINT) AS sym_count
         |  FROM (SELECT freq, unnest(string_split(trim(enc), '  ')) AS sym FROM v$i) t
         |  GROUP BY 1),
         |p$i AS MATERIALIZED (
         |  SELECT syms[j] AS left_sym, syms[j+1] AS right_sym, CAST(SUM(freq) AS BIGINT) AS pair_count
         |  FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS j
         |        FROM (SELECT freq, string_split(trim(enc), '  ') AS syms FROM v$i) t0) t1
         |  GROUP BY 1, 2),
         |m$i AS MATERIALIZED (
         |  SELECT CAST($i AS INT) AS step, p.left_sym, p.right_sym, p.pair_count,
         |         sl.sym_count AS left_count, sr.sym_count AS right_count
         |  FROM p$i p
         |  JOIN sy$i sl ON sl.sym = p.left_sym
         |  JOIN sy$i sr ON sr.sym = p.right_sym
         |  ORDER BY CAST(p.pair_count AS DOUBLE) / (CAST(sl.sym_count AS DOUBLE) * CAST(sr.sym_count AS DOUBLE)) DESC,
         |           p.left_sym, p.right_sym
         |  LIMIT 1)$apply""".stripMargin
    }
    val union = (0 until k).map(i => s"SELECT * FROM m$i").mkString(" UNION ALL ")
    s"WITH $head,\n${rounds.mkString(",\n")}\nSELECT * FROM ($union) ORDER BY step"
  }

  /** Unigram-LM oracle: replays `rounds` hard-EM segment→prune rounds.
    * Each round's E-step is the maximal-munch walk as a RECURSIVE CTE
    * (pos := pos + step(word, pos), the proven plain-equi-join
    * recursion shape); everything both engines compare is exact BIGINT
    * counts until the one final cnt/total division. Non-recursive CTEs
    * are MATERIALIZED (used{r} is referenced three times per round —
    * the wordpiece inlining lesson).
    */
  private def unigramOracleSql(rounds: Int): String = {
    val head =
      s"""tok AS MATERIALIZED (SELECT unnest($toksSql) AS word FROM documents),
         |words AS MATERIALIZED (
         |  SELECT word, CAST(count(*) AS BIGINT) AS freq
         |  FROM tok WHERE len(word) <= 20 GROUP BY 1),
         |pl AS (SELECT CAST(i AS INT) AS p FROM range(1, 21) t(i)),
         |ll AS (SELECT CAST(i AS INT) AS l FROM range(1, 7) t(i)),
         |cand AS MATERIALIZED (
         |  SELECT w.word, w.freq, pl.p AS pos, ll.l, substr(w.word, pl.p, ll.l) AS piece
         |  FROM words w JOIN pl ON pl.p <= len(w.word)
         |               JOIN ll ON pl.p + ll.l <= len(w.word) + 1),
         |seedcnt AS MATERIALIZED (
         |  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM cand GROUP BY 1),
         |chars AS MATERIALIZED (SELECT piece FROM seedcnt WHERE len(piece) = 1),
         |vocab0 AS MATERIALIZED (
         |  SELECT piece FROM seedcnt WHERE len(piece) = 1 OR cnt >= 8)""".stripMargin
    val rds = (1 to rounds).map { r =>
      s"""steps$r AS MATERIALIZED (
         |  SELECT c.word, c.pos, CAST(max(c.l) AS INT) AS step
         |  FROM cand c JOIN vocab${r - 1} v ON v.piece = c.piece
         |  GROUP BY 1, 2),
         |walk$r AS (
         |  SELECT word, 1 AS pos FROM words
         |  UNION ALL
         |  SELECT w.word, w.pos + s.step FROM walk$r w
         |  JOIN steps$r s ON s.word = w.word AND s.pos = w.pos),
         |used$r AS MATERIALIZED (
         |  SELECT substr(k.word, k.pos, s.step) AS piece,
         |         CAST(sum(w.freq) AS BIGINT) AS cnt
         |  FROM walk$r k
         |  JOIN steps$r s ON s.word = k.word AND s.pos = k.pos
         |  JOIN words w ON w.word = k.word
         |  GROUP BY 1),
         |m$r AS (SELECT count(*) // 4 AS k FROM used$r WHERE len(piece) >= 2),
         |bot$r AS MATERIALIZED (
         |  SELECT piece FROM (
         |    SELECT piece, row_number() OVER (ORDER BY cnt, piece) AS rn
         |    FROM used$r WHERE len(piece) >= 2) x, m$r WHERE x.rn <= m$r.k),
         |vocab$r AS MATERIALIZED (
         |  SELECT DISTINCT piece FROM (
         |    SELECT u.piece FROM used$r u ANTI JOIN bot$r b ON u.piece = b.piece
         |    UNION ALL SELECT piece FROM chars) t)""".stripMargin
    }
    s"""WITH RECURSIVE
       |$head,
       |${rds.mkString(",\n")},
       |surv AS (SELECT u.piece, u.cnt FROM used$rounds u JOIN vocab$rounds v USING (piece)),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_cnt FROM surv)
       |SELECT piece, cnt, CAST(cnt AS DOUBLE) / CAST(total_cnt AS DOUBLE) AS prob
       |FROM surv, tot
       |ORDER BY cnt DESC, piece LIMIT 200""".stripMargin
  }

  val defs: Map[String, QueryDef] = Map(

    // ------------------------------------------------------------------
    // KMV (bottom-k) distinct sketch, k=256, keyed by md5(l_orderkey),
    // grouped by return flag. One mergeable-aggregator pass builds the
    // per-flag sketches (map-side partials keep ≤k longs per task);
    // the 'ALL' row re-aggregates the per-flag SKETCHES — union of
    // bottom-k sets is the bottom-k of the union, the property that
    // lets per-shard sketches roll up without rescanning. Estimator
    // (k−1)·2⁶³/h₍ₖ₎ in scaled integer form (255·2⁵⁵ // (h>>8)) so
    // both engines emit the identical BIGINT; exact distinct rides a
    // separate aggregation (mixing distinct + udaf in one agg plans
    // the (D+1)× Expand — the Profiler lesson).
    "kmv_distinct_orders" -> QueryDef(
      (s, dir) => {
        val k = 256
        val kmv = udaf(new KmvSketch(k))
        val li = Tables.lineitem(s, dir).select(
          col("l_returnflag").as("scope"),
          Md5Hash.lower63Col(col("l_orderkey").cast("string")).as("h"))
        val perFlag = li.groupBy(col("scope")).agg(kmv(col("h")).as("sk"))
        val merged = perFlag
          .select(lit("ALL").as("scope"), explode(col("sk")).as("h"))
          .groupBy(col("scope")).agg(kmv(col("h")).as("sk"))
        val sketches = perFlag.unionByName(merged)
        val exact = li.groupBy(col("scope"))
          .agg(countDistinct(col("h")).as("exact_distinct"))
        val exactAll = li.agg(countDistinct(col("h")).as("exact_distinct"))
          .select(lit("ALL").as("scope"), col("exact_distinct"))
        sketches
          .select(
            col("scope"),
            size(col("sk")).cast("long").as("k_seen"),
            element_at(col("sk"), -1).as("kth_hash"))
          .join(broadcast(exact.unionByName(exactAll)), Seq("scope"))
          .withColumn(
            "est_distinct",
            when(col("k_seen") < k, col("k_seen"))
              .otherwise(expr(
                "CAST(9187343239835811840L div greatest(shiftright(kth_hash, 8), CAST(1 AS BIGINT)) AS BIGINT)")))
          .select(col("scope"), col("k_seen"), col("kth_hash"),
            col("est_distinct"), col("exact_distinct"))
          .orderBy(col("scope"))
      },
      s"""WITH d AS (SELECT DISTINCT l_returnflag AS scope0, ${md5_63("CAST(l_orderkey AS VARCHAR)")} AS h FROM lineitem),
         |r AS (SELECT scope0, h, row_number() OVER (PARTITION BY scope0 ORDER BY h) AS rn FROM d),
         |g AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM (SELECT DISTINCT h FROM d) t),
         |ex AS (SELECT scope0, CAST(count(*) AS BIGINT) AS exact_distinct FROM d GROUP BY 1),
         |pt AS (SELECT scope0 AS scope, CAST(count(*) AS BIGINT) AS k_seen, max(h) AS kth_hash
         |       FROM r WHERE rn <= 256 GROUP BY 1),
         |gl AS (SELECT 'ALL' AS scope, CAST(count(*) AS BIGINT) AS k_seen, max(h) AS kth_hash
         |       FROM g WHERE rn <= 256),
         |exg AS (SELECT CAST(count(*) AS BIGINT) AS exact_distinct FROM (SELECT DISTINCT h FROM d) t),
         |u AS (SELECT pt.scope, pt.k_seen, pt.kth_hash, ex.exact_distinct
         |      FROM pt JOIN ex ON pt.scope = ex.scope0
         |      UNION ALL
         |      SELECT gl.scope, gl.k_seen, gl.kth_hash, exg.exact_distinct FROM gl, exg)
         |SELECT scope, k_seen, kth_hash,
         |  CASE WHEN k_seen < 256 THEN k_seen
         |       ELSE CAST(9187343239835811840 // greatest(kth_hash >> 8, 1::BIGINT) AS BIGINT)
         |  END AS est_distinct,
         |  exact_distinct
         |FROM u ORDER BY scope""".stripMargin),

    // ------------------------------------------------------------------
    // HyperLogLog registers (p=8, m=256), same key/grouping as the KMV
    // twin. The aggregator keeps max-rank registers (merge =
    // element-wise MAX); the 'ALL' row max-merges the per-flag
    // register arrays through one 256-row aggregation. The harmonic
    // mean stays integer: numer = Σ 2^(54−min(rank,54)) ≤ m·2⁵⁴ < 2⁶³,
    // and the α·m²·2⁵⁴/numer scaling is a fixed textual chain of IEEE
    // ×,÷ identical in both engines (every literal is exactly
    // representable), then floor → BIGINT.
    "hll_distinct_orders" -> QueryDef(
      (s, dir) => {
        val hll = udaf(new HllRegisters(8))
        val li = Tables.lineitem(s, dir).select(
          col("l_returnflag").as("scope"),
          Md5Hash.lower63Col(col("l_orderkey").cast("string")).as("h"))
        val perFlag = li.groupBy(col("scope")).agg(hll(col("h")).as("regs"))
        val regRows = perFlag.select(
          col("scope"), posexplode(col("regs")).as(Seq("bucket", "rho")))
        val allRows = regRows.groupBy(col("bucket"))
          .agg(max(col("rho")).as("rho"))
          .select(lit("ALL").as("scope"), col("bucket"), col("rho"))
        val agg0 = regRows.unionByName(allRows)
          .groupBy(col("scope"))
          .agg(
            sum(when(col("rho") === 0, 1L).otherwise(0L)).as("n_zero_regs"),
            sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(54 - least(rho, 54) AS INT))"))
              .as("harmonic_numer"))
        val exact = li.groupBy(col("scope"))
          .agg(countDistinct(col("h")).as("exact_distinct"))
        val exactAll = li.agg(countDistinct(col("h")).as("exact_distinct"))
          .select(lit("ALL").as("scope"), col("exact_distinct"))
        agg0
          .join(broadcast(exact.unionByName(exactAll)), Seq("scope"))
          .withColumn(
            "hll_est",
            expr("CAST(floor(0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 18014398509481984.0 / CAST(harmonic_numer AS DOUBLE)) AS BIGINT)"))
          .select(col("scope"), col("n_zero_regs"), col("harmonic_numer"),
            col("hll_est"), col("exact_distinct"))
          .orderBy(col("scope"))
      },
      s"""WITH e AS (SELECT l_returnflag AS scope0, ${md5_63("CAST(l_orderkey AS VARCHAR)")} AS h FROM lineitem),
         |reg0 AS (SELECT scope0, h >> 55 AS bucket,
         |    CASE WHEN (h & ((1::BIGINT << 55) - 1)) = 0 THEN 56
         |         ELSE 56 - length(bin(h & ((1::BIGINT << 55) - 1))) END AS rho
         |  FROM e),
         |regs AS (SELECT scope0, bucket, CAST(max(rho) AS BIGINT) AS rho FROM reg0 GROUP BY 1, 2),
         |scopes AS (SELECT DISTINCT scope0 AS scope FROM e UNION ALL SELECT 'ALL'),
         |spine AS (SELECT s.scope, b.bucket FROM scopes s, (SELECT unnest(range(0, 256)) AS bucket) b),
         |allregs AS (SELECT scope0 AS scope, bucket, rho FROM regs
         |            UNION ALL
         |            SELECT 'ALL' AS scope, bucket, CAST(max(rho) AS BIGINT) AS rho FROM regs GROUP BY 2),
         |filled AS (SELECT sp.scope, sp.bucket, coalesce(ar.rho, 0) AS rho
         |           FROM spine sp LEFT JOIN allregs ar ON sp.scope = ar.scope AND sp.bucket = ar.bucket),
         |agg AS (SELECT scope,
         |    CAST(SUM(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_regs,
         |    CAST(SUM(1::BIGINT << CAST(54 - least(rho, 54) AS INT)) AS BIGINT) AS harmonic_numer
         |  FROM filled GROUP BY 1),
         |exd AS (SELECT scope0 AS scope, CAST(count(DISTINCT h) AS BIGINT) AS exact_distinct FROM e GROUP BY 1
         |        UNION ALL
         |        SELECT 'ALL' AS scope, CAST(count(DISTINCT h) AS BIGINT) FROM e)
         |SELECT a.scope, a.n_zero_regs, a.harmonic_numer,
         |  CAST(floor(0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 18014398509481984.0 / CAST(a.harmonic_numer AS DOUBLE)) AS BIGINT) AS hll_est,
         |  e.exact_distinct
         |FROM agg a JOIN exd e ON a.scope = e.scope
         |ORDER BY a.scope""".stripMargin),

    // ------------------------------------------------------------------
    // KMV set algebra — the Theta-sketch trick (Dasgupta et al. 2016):
    // Jaccard similarity between two key sets estimated ENTIRELY from
    // their bottom-k sketches. The union sketch is the re-aggregated
    // union of the two input sketches (never a rescan); each union-
    // sketch hash is tested for membership in the per-set sketches via
    // two ≤k-row broadcast semi-joins. J ≈ |S ∩ A ∩ B| / |S| — the
    // corpus-overlap primitive (cross-source contamination, split
    // leakage) at sketch cost instead of a distinct-join of the keys.
    // Exact twin columns ride a separate distinct aggregation.
    "kmv_jaccard_flags" -> QueryDef(
      (s, dir) => {
        val k = 256
        val kmv = udaf(new KmvSketch(k))
        val d = Tables.lineitem(s, dir)
          .filter(col("l_returnflag").isin("R", "N"))
          .select(
            col("l_returnflag").as("sc"),
            Md5Hash.lower63Col(col("l_orderkey").cast("string")).as("h"))
        val sk = d.groupBy(col("sc")).agg(kmv(col("h")).as("sk"))
        val a = sk.filter(col("sc") === "R").select(explode(col("sk")).as("h"))
        val b = sk.filter(col("sc") === "N").select(explode(col("sk")).as("h"))
        val u = a.unionByName(b).agg(kmv(col("h")).as("sk"))
          .select(explode(col("sk")).as("h"))
        val interSketch = u
          .join(broadcast(a), Seq("h"), "left_semi")
          .join(broadcast(b), Seq("h"), "left_semi")
          .agg(count(lit(1)).as("inter_sketch"))
        val kUnion = u.agg(count(lit(1)).as("k_union"))
        val exact = d.groupBy(col("h"))
          .agg(countDistinct(col("sc")).as("nsc"))
          .agg(
            sum(when(col("nsc") === 2, 1L).otherwise(0L)).as("exact_inter"),
            count(lit(1)).as("exact_union"))
        kUnion.crossJoin(interSketch).crossJoin(exact)
          .select(
            col("k_union"), col("inter_sketch"),
            (col("inter_sketch").cast("double") / col("k_union").cast("double"))
              .as("jaccard_est"),
            col("exact_inter"), col("exact_union"),
            (col("exact_inter").cast("double") / col("exact_union").cast("double"))
              .as("jaccard_exact"))
      },
      s"""WITH d AS (SELECT DISTINCT l_returnflag AS sc, ${md5_63("CAST(l_orderkey AS VARCHAR)")} AS h
         |           FROM lineitem WHERE l_returnflag IN ('R', 'N')),
         |a AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM d WHERE sc = 'R') t WHERE rn <= 256),
         |b AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM d WHERE sc = 'N') t WHERE rn <= 256),
         |u AS (SELECT h FROM (
         |        SELECT h, row_number() OVER (ORDER BY h) AS rn
         |        FROM (SELECT DISTINCT h FROM (SELECT h FROM a UNION ALL SELECT h FROM b) t0) t1) t2
         |      WHERE rn <= 256),
         |isk AS (SELECT CAST(count(*) AS BIGINT) AS inter_sketch
         |        FROM u WHERE h IN (SELECT h FROM a) AND h IN (SELECT h FROM b)),
         |ku AS (SELECT CAST(count(*) AS BIGINT) AS k_union FROM u),
         |ex AS (SELECT CAST(SUM(CASE WHEN nsc = 2 THEN 1 ELSE 0 END) AS BIGINT) AS exact_inter,
         |              CAST(count(*) AS BIGINT) AS exact_union
         |       FROM (SELECT h, count(DISTINCT sc) AS nsc FROM d GROUP BY h) t)
         |SELECT ku.k_union, isk.inter_sketch,
         |  CAST(isk.inter_sketch AS DOUBLE) / CAST(ku.k_union AS DOUBLE) AS jaccard_est,
         |  ex.exact_inter, ex.exact_union,
         |  CAST(ex.exact_inter AS DOUBLE) / CAST(ex.exact_union AS DOUBLE) AS jaccard_exact
         |FROM ku, isk, ex""".stripMargin),

    // ------------------------------------------------------------------
    // Rendezvous (highest-random-weight) sharding — Thaler & Ravishankar
    // 1998, the consistent-placement rule: doc → argmax over shards of
    // md5(doc:shard). Map-only in both engines (array_max over an
    // inline struct array — the documented argmax pattern; never a
    // when/otherwise reduce). The query proves the consistency
    // property a 100 TB layout cares about: adding a 17th shard moves
    // ONLY the docs whose new-shard hash wins (≈1/17 of each shard),
    // vs md5-mod resharding which moves ~16/17 of everything.
    "rendezvous_sharding" -> QueryDef(
      (s, dir) => {
        // literal struct array, not a HOF lambda — stays in codegen
        // (the measured interpreted-HOF penalty; 16 entries is a small
        // literal forest, nothing like the tables×planes×dim caution)
        def hrw(n: Int) = array_max(array((0 until n).map { sh =>
          struct(
            Md5Hash.lower63Col(
              concat(col("doc_id").cast("string"), lit(s":$sh"))).as("h"),
            lit(sh.toLong).as("s"))
        }: _*)).getField("s")
        Tables.documents(s, dir)
          .select(
            col("doc_id"),
            hrw(16).as("shard16"),
            hrw(17).as("shard17"))
          .groupBy(col("shard16"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("shard16") =!= col("shard17"), 1L).otherwise(0L)).as("n_moved"))
          .orderBy(col("shard16"))
      },
      s"""WITH m AS (SELECT doc_id,
         |    list_max(list_transform(range(0, 16),
         |      s -> {'h': ${md5_63("doc_id || ':' || s")}, 's': s})).s AS shard16,
         |    list_max(list_transform(range(0, 17),
         |      s -> {'h': ${md5_63("doc_id || ':' || s")}, 's': s})).s AS shard17
         |  FROM documents)
         |SELECT shard16, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN shard16 <> shard17 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
         |FROM m GROUP BY 1 ORDER BY shard16""".stripMargin),

    // ------------------------------------------------------------------
    // Two-sample Kolmogorov–Smirnov distance between the quantity
    // distributions of returnflag R vs N — corpus-drift detection on
    // exact integers. D = max|n_b·cumA − n_a·cumB| / (n_a·n_b): the
    // numerator is BIGINT-exact (≤ n² < 2⁵³ keeps the final division
    // operand exactly representable), and the single ÷ at the end is
    // IEEE-deterministic. First aggregate to distinct values (50 for
    // quantity), so the unpartitioned cumulative window is O(distinct)
    // — the same shrink-then-window shape as the rank queries.
    "ks_two_sample_qty" -> QueryDef(
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .filter(col("l_returnflag").isin("R", "N"))
        val c = li.groupBy(col("l_quantity").cast("long").as("q"))
          .agg(
            sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("ca"),
            sum(when(col("l_returnflag") === "N", 1L).otherwise(0L)).as("cb"))
        val w = Window.orderBy(col("q"))
        val cum = c
          .withColumn("cuma", sum(col("ca")).over(w))
          .withColumn("cumb", sum(col("cb")).over(w))
        val t = c.agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"))
        cum.crossJoin(broadcast(t))
          .groupBy(col("n_a"), col("n_b"))
          .agg(max(abs(col("n_b") * col("cuma") - col("n_a") * col("cumb"))).as("d_num"))
          .withColumn(
            "ks_stat",
            col("d_num").cast("double") / (col("n_a") * col("n_b")).cast("double"))
          .select(col("n_a"), col("n_b"), col("d_num"), col("ks_stat"))
      },
      s"""WITH $rankCountsSql,
         |w AS (SELECT q, CAST(SUM(ca) OVER (ORDER BY q) AS BIGINT) AS cuma,
         |             CAST(SUM(cb) OVER (ORDER BY q) AS BIGINT) AS cumb FROM c),
         |t AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM c)
         |SELECT t.na AS n_a, t.nb AS n_b,
         |  CAST(max(abs(t.nb * w.cuma - t.na * w.cumb)) AS BIGINT) AS d_num,
         |  CAST(max(abs(t.nb * w.cuma - t.na * w.cumb)) AS DOUBLE) / CAST(t.na * t.nb AS DOUBLE) AS ks_stat
         |FROM w, t GROUP BY t.na, t.nb""".stripMargin),

    // ------------------------------------------------------------------
    // Total variation distance between the same two slices the KS test
    // compares — the drift metric that weights EVERY bin's mass gap
    // (KS sees only the worst CDF point; PSI needs logs, which the
    // cross-engine parity law forbids — TVD is the information-metric
    // sibling that stays in integers). TVD = Σ|ca/na − cb/nb|/2 with
    // the exact numerator Σ|ca·nb − cb·na| carried as BIGINT and ONE
    // final double division — bit-identical across engines. Same
    // O(distinct-values) shape as KS: grouped counts, no per-row
    // shuffle.
    "drift_tvd_quantity" -> QueryDef(
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .filter(col("l_returnflag").isin("R", "N"))
        val c = li.groupBy(col("l_quantity").cast("long").as("q"))
          .agg(
            sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("ca"),
            sum(when(col("l_returnflag") === "N", 1L).otherwise(0L)).as("cb"))
        val t = c.agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"))
        c.crossJoin(broadcast(t))
          .groupBy(col("n_a"), col("n_b"))
          .agg(sum(abs(col("n_b") * col("ca") - col("n_a") * col("cb"))).as("tvd_num"))
          .withColumn(
            "tvd",
            col("tvd_num").cast("double") / (lit(2L) * col("n_a") * col("n_b")).cast("double"))
          .select(col("n_a"), col("n_b"), col("tvd_num"), col("tvd"))
      },
      s"""WITH $rankCountsSql,
         |t AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM c)
         |SELECT t.na AS n_a, t.nb AS n_b,
         |  CAST(SUM(abs(t.nb * c.ca - t.na * c.cb)) AS BIGINT) AS tvd_num,
         |  CAST(SUM(abs(t.nb * c.ca - t.na * c.cb)) AS DOUBLE) / CAST(2 * t.na * t.nb AS DOUBLE) AS tvd
         |FROM c, t GROUP BY t.na, t.nb""".stripMargin),

    // ------------------------------------------------------------------
    // RANSAC consensus line (Fischler & Bolles 1981) over the 1997
    // daily return-rate series — the robust-fit sibling of Theil–Sen:
    // 8 candidate lines from md5-seeded day pairs (deterministic "
    // random" sampling, the hash_sample rule), each scored by its
    // inlier count where the inlier test cross-multiplies to exact
    // integers (|(yⱼ−yₐ)·dx − (dⱼ−dₐ)·dy| ≤ tol·dx, tol = 50 rate
    // mils), winner by (inliers DESC, dx, dy) total order. The rate
    // itself is integer mils ((1000·returned) div lines) so the whole
    // pipeline is exact; the reported slope is the single final
    // division dy/dx.
    "ransac_rate_trend" -> QueryDef(
      (s, dir) => {
        import graft.functions.TimePred
        val days = Tables.lineitem(s, dir)
          .filter(TimePred.inYear(col("l_shipdate"), 1997))
          .groupBy(col("l_shipdate").cast("date").as("d"))
          .agg(expr("CAST((1000 * sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)) div count(*) AS BIGINT)").as("y"))
          .select(datediff(col("d"), lit("1997-01-01").cast("date")).cast("long").as("t"),
            col("y"))
          .localCheckpoint() // feeds anchors AND the scoring cross join
        val ranked = days
          .withColumn("rk", row_number().over(
            Window.orderBy(md5(col("t").cast("string")), col("t"))))
        val pairs = ranked.filter(col("rk") <= 8)
          .select(col("rk").as("i"), col("t").as("ta"), col("y").as("ya"))
          .join(ranked.filter(col("rk") > 8 && col("rk") <= 16)
            .select((col("rk") - 8).as("i"), col("t").as("tb"), col("y").as("yb")), Seq("i"))
          .filter(col("tb") =!= col("ta"))
          .select(col("i"),
            // canonical dx > 0
            when(col("tb") > col("ta"), col("tb") - col("ta"))
              .otherwise(col("ta") - col("tb")).as("dx"),
            when(col("tb") > col("ta"), col("yb") - col("ya"))
              .otherwise(col("ya") - col("yb")).as("dy"),
            when(col("tb") > col("ta"), col("ta")).otherwise(col("tb")).as("ta"),
            when(col("tb") > col("ta"), col("ya")).otherwise(col("yb")).as("ya"))
        val scored = pairs.crossJoin(days)
          .groupBy(col("i"), col("dx"), col("dy"))
          .agg(sum(when(
            abs((col("y") - col("ya")) * col("dx") - (col("t") - col("ta")) * col("dy"))
              <= lit(50L) * col("dx"), 1L).otherwise(0L)).as("n_inliers"))
        scored
          .orderBy(col("n_inliers").desc, col("dx"), col("dy"))
          .limit(1)
          .select(col("n_inliers"), col("dx"), col("dy"),
            (col("dy").cast("double") / col("dx").cast("double")).as("slope_mils_per_day"))
      },
      """WITH days AS (
        |  SELECT CAST(datediff('day', DATE '1997-01-01', CAST(l_shipdate AS DATE)) AS BIGINT) AS t,
        |    CAST((1000 * SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS y
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1),
        |ranked AS (
        |  SELECT t, y, row_number() OVER (ORDER BY md5(CAST(t AS VARCHAR)), t) AS rk
        |  FROM days),
        |pairs AS (
        |  SELECT a.rk AS i,
        |    CASE WHEN b.t > a.t THEN b.t - a.t ELSE a.t - b.t END AS dx,
        |    CASE WHEN b.t > a.t THEN b.y - a.y ELSE a.y - b.y END AS dy,
        |    CASE WHEN b.t > a.t THEN a.t ELSE b.t END AS ta,
        |    CASE WHEN b.t > a.t THEN a.y ELSE b.y END AS ya
        |  FROM ranked a JOIN ranked b ON b.rk = a.rk + 8
        |  WHERE a.rk <= 8 AND b.t <> a.t),
        |scored AS (
        |  SELECT p.i, p.dx, p.dy,
        |    CAST(SUM(CASE WHEN abs((d.y - p.ya) * p.dx - (d.t - p.ta) * p.dy)
        |                       <= 50 * p.dx THEN 1 ELSE 0 END) AS BIGINT) AS n_inliers
        |  FROM pairs p CROSS JOIN days d
        |  GROUP BY 1, 2, 3)
        |SELECT n_inliers, dx, dy,
        |  CAST(dy AS DOUBLE) / CAST(dx AS DOUBLE) AS slope_mils_per_day
        |FROM scored
        |ORDER BY n_inliers DESC, dx, dy LIMIT 1""".stripMargin),

    // ------------------------------------------------------------------
    // Cochran–Armitage trend test: is the RETURN RATE monotonically
    // related to order size? Quantity buckets score s_i = (q−1) div 10
    // (0..4), successes = returned lines. T·N = N·Σsᵢrᵢ − R·Σsᵢnᵢ,
    // R(N−R), and D = N·Σnᵢsᵢ² − (Σnᵢsᵢ)² are exact BIGINTs (the
    // single product R(N−R)·D would overflow int64 at sf0.1, so the
    // variance stays FACTORED and the sqrt splits):
    // z = (T·N)·sqrt(N) / (sqrt(R(N−R))·sqrt(D)) — three correctly-
    // rounded sqrts, two multiplies, one divide, in IDENTICAL textual
    // order on both engines. The dose-response sibling of the chi2/MK
    // tests: trend, not just association.
    "cochran_armitage_trend" -> QueryDef(
      (s, dir) => {
        val b = Tables.lineitem(s, dir)
          .select(expr("CAST((CAST(l_quantity AS BIGINT) - 1) div 10 AS BIGINT)").as("s_i"),
            when(col("l_returnflag") === "R", 1L).otherwise(0L).as("r"))
          .groupBy(col("s_i"))
          .agg(count(lit(1)).as("n_i"), sum(col("r")).as("r_i"))
        b.agg(
          sum(col("n_i")).as("n"), sum(col("r_i")).as("rr"),
          sum(col("s_i") * col("r_i")).as("sr"),
          sum(col("s_i") * col("n_i")).as("sn"),
          sum(col("s_i") * col("s_i") * col("n_i")).as("ssn"))
          .select(col("n"), col("rr"),
            (col("n") * col("sr") - col("rr") * col("sn")).as("t_scaled"),
            (col("rr") * (col("n") - col("rr"))).as("rnr"),
            (col("n") * col("ssn") - col("sn") * col("sn")).as("d"))
          .select(col("n"), col("rr"), col("t_scaled"), col("rnr"), col("d"),
            ((col("t_scaled").cast("double") * sqrt(col("n").cast("double"))) /
              (sqrt(col("rnr").cast("double")) * sqrt(col("d").cast("double"))))
              .as("z"))
      },
      """WITH b AS (
        |  SELECT (CAST(l_quantity AS BIGINT) - 1) // 10 AS s_i,
        |    CAST(count(*) AS BIGINT) AS n_i,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS r_i
        |  FROM lineitem GROUP BY 1),
        |m AS (
        |  SELECT CAST(SUM(n_i) AS BIGINT) AS n, CAST(SUM(r_i) AS BIGINT) AS rr,
        |    CAST(SUM(s_i * r_i) AS BIGINT) AS sr,
        |    CAST(SUM(s_i * n_i) AS BIGINT) AS sn,
        |    CAST(SUM(s_i * s_i * n_i) AS BIGINT) AS ssn
        |  FROM b)
        |SELECT n, rr,
        |  CAST(n * sr - rr * sn AS BIGINT) AS t_scaled,
        |  CAST(rr * (n - rr) AS BIGINT) AS rnr,
        |  CAST(n * ssn - sn * sn AS BIGINT) AS d,
        |  (CAST(n * sr - rr * sn AS DOUBLE) * sqrt(CAST(n AS DOUBLE))) /
        |    (sqrt(CAST(rr * (n - rr) AS DOUBLE)) * sqrt(CAST(n * ssn - sn * sn AS DOUBLE))) AS z
        |FROM m""".stripMargin),

    // ------------------------------------------------------------------
    // Simple exponential smoothing over the 1997 daily order series
    // with α = 1/2 (a one-day half-life): s_t = (x_t + s_{t-1})/2.
    // Halving is EXACT in IEEE and the recurrence is a fixed-order
    // chain, so both engines produce bit-identical smoothed states —
    // the transcendental-free member of the Holt-Winters family (a
    // general α needs pow). The day grain is calendar-bounded (≤365
    // rows at any SF), so the fold is a bounded in-expression
    // aggregate over the sorted day list (no driver loop, no window
    // recursion); the oracle is the same chain as a recursive CTE.
    "exp_smoothing_orders" -> QueryDef(
      (s, dir) => {
        import graft.functions.TimePred
        val days = Tables.orders(s, dir)
          .filter(TimePred.inYear(col("o_orderdate"), 1997))
          .groupBy(col("o_orderdate").cast("date").as("d"))
          .agg(count(lit(1)).as("x"))
        days
          .agg(sort_array(collect_list(struct(col("d"), col("x")))).as("xs"))
          .select(explode(expr(
            """slice(aggregate(xs,
              |  array(named_struct('d', DATE '1900-01-01', 'x', CAST(0 AS BIGINT), 's', CAST(0.0 AS DOUBLE))),
              |  (acc, e) -> concat(acc, array(named_struct('d', e.d, 'x', e.x,
              |    's', CASE WHEN size(acc) = 1 THEN CAST(e.x AS DOUBLE)
              |              ELSE (CAST(e.x AS DOUBLE) + element_at(acc, -1).s) / 2 END)))),
              |  2, 100000)""".stripMargin)).as("r"))
          .select(col("r.d").as("d"), col("r.x").as("x"), col("r.s").as("s"))
          .orderBy(col("d"))
      },
      """WITH dd AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1),
        |r AS (SELECT d, x, row_number() OVER (ORDER BY d) AS rn FROM dd),
        |sm AS (
        |  WITH RECURSIVE chain(rn, d, x, s) AS (
        |    SELECT rn, d, x, CAST(x AS DOUBLE) FROM r WHERE rn = 1
        |    UNION ALL
        |    SELECT r.rn, r.d, r.x, (CAST(r.x AS DOUBLE) + chain.s) / 2
        |    FROM chain JOIN r ON r.rn = chain.rn + 1)
        |  SELECT d, x, s FROM chain)
        |SELECT d, x, s FROM sm ORDER BY d""".stripMargin),

    // ------------------------------------------------------------------
    // Mann–Whitney U (Wilcoxon rank-sum) with midrank tie handling,
    // same two samples. Midranks are half-integers, so the query
    // carries 2·R_A: for a value with cumbefore items below and t tied,
    // 2·midrank = 2·cumbefore + t + 1 — all BIGINT. 2·U_A =
    // 2·R_A − n_a(n_a+1) exactly; AUC (the common-language effect
    // size U/(n_a·n_b)) is one IEEE division at the end.
    "mannwhitney_qty" -> QueryDef(
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .filter(col("l_returnflag").isin("R", "N"))
        val c = li.groupBy(col("l_quantity").cast("long").as("q"))
          .agg(
            sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("ca"),
            sum(when(col("l_returnflag") === "N", 1L).otherwise(0L)).as("cb"))
        val w = Window.orderBy(col("q"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val ranked = c
          .withColumn("t", col("ca") + col("cb"))
          .withColumn("cumbefore", coalesce(sum(col("ca") + col("cb")).over(w), lit(0L)))
        val r2 = ranked.agg(
          sum(col("ca") * (lit(2L) * col("cumbefore") + col("t") + 1L)).as("r2a"),
          sum(col("ca")).as("n_a"),
          sum(col("cb")).as("n_b"))
        r2
          .withColumn("u2_a", col("r2a") - col("n_a") * (col("n_a") + 1L))
          .withColumn(
            "auc",
            col("u2_a").cast("double") /
              (lit(2.0) * col("n_a").cast("double") * col("n_b").cast("double")))
          .select(col("n_a"), col("n_b"), col("u2_a"), col("auc"))
      },
      s"""WITH $rankCountsSql,
         |w AS (SELECT q, ca, cb, ca + cb AS t,
         |    CAST(coalesce(SUM(ca + cb) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumbefore
         |  FROM c),
         |r AS (SELECT CAST(SUM(ca * (2 * cumbefore + t + 1)) AS BIGINT) AS r2a,
         |             CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM w)
         |SELECT r.na AS n_a, r.nb AS n_b,
         |  CAST(r.r2a - r.na * (r.na + 1) AS BIGINT) AS u2_a,
         |  CAST(r.r2a - r.na * (r.na + 1) AS DOUBLE) / (2.0 * CAST(r.na AS DOUBLE) * CAST(r.nb AS DOUBLE)) AS auc
         |FROM r""".stripMargin),

    // ------------------------------------------------------------------
    // Integer PageRank over the supplier↔customer graph (who supplies
    // whom, via lineitem⋈orders): 5 rounds of exact scaled-integer
    // damping (PageRank.run — micro-unit ranks, floor division
    // everywhere, so no double SUM exists and the oracle replays every
    // round bit-exactly with MATERIALIZED CTEs). Each round is one
    // edge⋈rank equi-join + one destination agg — the iterative-join
    // shape that scales with the edge count, like pointer-jumping CC.
    "pagerank_supplier_customer" -> QueryDef(
      (s, dir) => {
        // shared prepared (deg, ed) artifact over the trade graph (r15)
        val (deg, ed) = preparedTradeEdges(s, dir)
        PageRank.runPrepared(deg, ed, rounds = 5)
          .select(
            when(col("node") % 2 === 0, "supplier").otherwise("customer").as("kind"),
            expr("CAST(node div 2 AS BIGINT)").as("entity_id"),
            col("rank"))
          .orderBy(col("rank").desc, col("kind"), col("entity_id"))
          .limit(20)
      }, {
        val rounds = (0 until 5).map { i =>
          s""",
             |r${i + 1} AS MATERIALIZED (
             |  SELECT e.v AS node, CAST(150000 + (85 * SUM(r.rank // e.deg)) // 100 AS BIGINT) AS rank
             |  FROM ed e JOIN r$i r ON r.node = e.u
             |  GROUP BY e.v)""".stripMargin
        }.mkString
        s"""WITH e0 AS MATERIALIZED (
           |  SELECT DISTINCT l.l_suppkey * 2 AS u, o.o_custkey * 2 + 1 AS v
           |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
           |e AS MATERIALIZED (SELECT u, v FROM e0 UNION SELECT v AS u, u AS v FROM e0),
           |dg AS MATERIALIZED (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
           |ed AS MATERIALIZED (SELECT e.u, e.v, d.deg FROM e JOIN dg d ON e.u = d.u),
           |r0 AS MATERIALIZED (SELECT u AS node, CAST(1000000 AS BIGINT) AS rank FROM dg)$rounds
           |SELECT CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'customer' END AS kind,
           |  CAST(node // 2 AS BIGINT) AS entity_id, rank
           |FROM r5 ORDER BY rank DESC, kind, entity_id LIMIT 20""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Personalized PageRank (random walk with restart — Haveliwala,
    // WWW 2002): restart mass pinned to 3 seed suppliers turns the
    // rank into graph PROXIMITY to those seeds — "customers most
    // connected to this supplier group", the recommendation primitive.
    // Same exact scaled-integer rounds as pagerank_supplier_customer
    // (floor division everywhere, no double SUM), with the restart
    // CASE on the seed membership; the oracle unrolls all 5 rounds.
    "ppr_supplier_seeds" -> QueryDef(
      (s, dir) => {
        // shared prepared (deg, ed) artifact over the trade graph (r15)
        val (deg, ed) = preparedTradeEdges(s, dir)
        // suppkeys are 1-based, so seed from suppliers 1..3 (nodes
        // 2,4,6) — range(3)*2 would include node 0, which no supplier
        // maps to, leaving it inert (r6 ADVICE)
        val seeds = s.range(1, 4).select((col("id") * 2).as("node"))
        PageRank.runPersonalizedPrepared(deg, ed, seeds, rounds = 5)
          .filter(col("node") % 2 === 1)
          .select(
            lit("customer").as("kind"),
            expr("CAST(node div 2 AS BIGINT)").as("entity_id"),
            col("rank"))
          .orderBy(col("rank").desc, col("entity_id"))
          .limit(20)
      }, {
        val rounds = (0 until 5).map { i =>
          s""",
             |r${i + 1} AS MATERIALIZED (
             |  SELECT d.u AS node,
             |    CAST(coalesce(a.damped, 0) +
             |         CASE WHEN d.u IN (SELECT node FROM sd) THEN 150000 ELSE 0 END
             |         AS BIGINT) AS rank
             |  FROM dg d LEFT JOIN (
             |    SELECT e.v, (85 * SUM(r.rank // e.deg)) // 100 AS damped
             |    FROM ed e JOIN r$i r ON r.node = e.u GROUP BY e.v) a ON a.v = d.u)""".stripMargin
        }.mkString
        s"""WITH e0 AS MATERIALIZED (
           |  SELECT DISTINCT l.l_suppkey * 2 AS u, o.o_custkey * 2 + 1 AS v
           |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
           |e AS MATERIALIZED (SELECT u, v FROM e0 UNION SELECT v AS u, u AS v FROM e0),
           |dg AS MATERIALIZED (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
           |ed AS MATERIALIZED (SELECT e.u, e.v, d.deg FROM e JOIN dg d ON e.u = d.u),
           |sd AS (SELECT * FROM (VALUES (2), (4), (6)) s(node)),
           |r0 AS MATERIALIZED (
           |  SELECT u AS node,
           |    CAST(CASE WHEN u IN (SELECT node FROM sd) THEN 1000000 ELSE 0 END AS BIGINT) AS rank
           |  FROM dg)$rounds
           |SELECT 'customer' AS kind, CAST(node // 2 AS BIGINT) AS entity_id, rank
           |FROM r5 WHERE node % 2 = 1
           |ORDER BY rank DESC, entity_id LIMIT 20""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Hashed linear quality classifier — the fastText-shaped filter a
    // web-corpus curation pass runs at ingest: every token hashes to a
    // fixed integer weight in [−8, 8] (md5 % 17 − 8; no vocabulary
    // table to broadcast, the hash IS the model), a document's score
    // is the exact integer sum over its token bag, and the accept
    // decision is score ≥ 0. Map-only per doc (one explode + groupBy
    // doc_id with map-side combine), then a per-source rollup.
    "quality_hash_classifier" -> QueryDef(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val scored = docs
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("t"))
          .groupBy(col("doc_id"))
          .agg(sum(
            Md5Hash.lower63Col(concat(lit("w:"), col("t"))) % 17 - 8).as("score"))
        docs.select(col("doc_id"), col("source"))
          .join(scored, Seq("doc_id"), "left")
          .withColumn("score", coalesce(col("score"), lit(0L)))
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("score") >= 0, 1L).otherwise(0L)).as("n_accept"),
            sum(col("score")).as("total_score"),
            min(col("score")).as("min_score"),
            max(col("score")).as("max_score"))
          .orderBy(col("source"))
      },
      s"""WITH tk AS (SELECT doc_id, unnest($toksSql) AS t FROM documents),
         |w AS (SELECT doc_id, CAST(SUM(${md5_63("'w:' || t")} % 17 - 8) AS BIGINT) AS score FROM tk GROUP BY 1),
         |d AS (SELECT d.doc_id, d.source, coalesce(w.score, 0) AS score
         |      FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN score >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_accept,
         |  CAST(SUM(score) AS BIGINT) AS total_score,
         |  CAST(min(score) AS BIGINT) AS min_score,
         |  CAST(max(score) AS BIGINT) AS max_score
         |FROM d GROUP BY 1 ORDER BY source""".stripMargin),

    // ------------------------------------------------------------------
    // ACTIVE-LEARNING uncertainty sampling: the 50 documents the
    // hashed classifier is least sure about (smallest |score| margin
    // from the accept boundary at 0) are where a human label buys the
    // most — the annotation-targeting step of every label-efficient
    // curation loop. Margin is exact-integer |score|; selection is a
    // TakeOrderedAndProject, never a global sort.
    "uncertainty_sample_docs" -> QueryDef(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val scored = docs
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("t"))
          .groupBy(col("doc_id"))
          .agg(sum(
            Md5Hash.lower63Col(concat(lit("w:"), col("t"))) % 17 - 8).as("score"))
        docs.select(col("doc_id"))
          .join(scored, Seq("doc_id"), "left")
          .withColumn("score", coalesce(col("score"), lit(0L)))
          .withColumn("margin", abs(col("score")))
          .orderBy(col("margin"), col("doc_id"))
          .limit(50)
      },
      s"""WITH tk AS (SELECT doc_id, unnest($toksSql) AS t FROM documents),
         |w AS (SELECT doc_id, CAST(SUM(${md5_63("'w:' || t")} % 17 - 8) AS BIGINT) AS score FROM tk GROUP BY 1),
         |d AS (SELECT d.doc_id, coalesce(w.score, 0) AS score
         |      FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id)
         |SELECT doc_id, score, CAST(abs(score) AS BIGINT) AS margin
         |FROM d ORDER BY margin, doc_id LIMIT 50""".stripMargin),

    // ------------------------------------------------------------------
    // Per-source quantile NORMALIZATION of the hashed quality score —
    // the calibration step before any cross-source threshold: raw
    // classifier scores aren't comparable between sources (each source
    // has its own score distribution), so each doc maps to its
    // within-source rank percentile in exact integer ppm
    // ((rk−1)·1e6 div (n−1)), and the global "top 10% of EVERY source"
    // selection (ppm ≥ 900000) is fair by construction. One
    // source-partitioned window over the doc grain; deterministic
    // (score, doc_id) tie-break.
    "quality_quantile_normalize" -> QueryDef(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val scored = docs
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("t"))
          .groupBy(col("doc_id"))
          .agg(sum(
            Md5Hash.lower63Col(concat(lit("w:"), col("t"))) % 17 - 8).as("score"))
        val d = docs.select(col("doc_id"), col("source"))
          .join(scored, Seq("doc_id"), "left")
          .withColumn("score", coalesce(col("score"), lit(0L)))
        d.withColumn("rk", row_number().over(
            Window.partitionBy(col("source")).orderBy(col("score"), col("doc_id"))))
          .withColumn("n", count(lit(1)).over(Window.partitionBy(col("source"))))
          .withColumn("ppm",
            when(col("n") > 1, expr("((rk - 1) * 1000000) div (n - 1)"))
              .otherwise(lit(1000000L)))
          .filter(col("ppm") >= 900000)
          .select(col("source"), col("doc_id"), col("score"), col("ppm"))
          .orderBy(col("source"), col("doc_id"))
      },
      s"""WITH tk AS (SELECT doc_id, unnest($toksSql) AS t FROM documents),
         |w AS (SELECT doc_id, CAST(SUM(${md5_63("'w:' || t")} % 17 - 8) AS BIGINT) AS score FROM tk GROUP BY 1),
         |d AS (SELECT d.doc_id, d.source, coalesce(w.score, 0) AS score
         |      FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id),
         |r AS (SELECT source, doc_id, score,
         |        row_number() OVER (PARTITION BY source ORDER BY score, doc_id) AS rk,
         |        count(*) OVER (PARTITION BY source) AS n
         |      FROM d),
         |p AS (SELECT source, doc_id, score,
         |        CASE WHEN n > 1
         |             THEN CAST(((rk - 1) * 1000000) // (n - 1) AS BIGINT)
         |             ELSE CAST(1000000 AS BIGINT) END AS ppm
         |      FROM r)
         |SELECT source, doc_id, score, ppm FROM p
         |WHERE ppm >= 900000
         |ORDER BY source, doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // Fuzzy entity resolution on part names: the classic blocking +
    // verify shape. Names dedupe to their DISTINCT grain first (the
    // shrink-then-pair move — the name vocabulary is constant-size no
    // matter how many parts exist), blocking is an inverted-index
    // EQUI-join on shared tokens (never a cartesian name grid), and
    // the verifier is builtin levenshtein (unit-cost DP — identical
    // integer semantics in Spark and DuckDB). Pair weight carries the
    // part counts so downstream merge decisions see data mass.
    "fuzzy_name_pairs" -> QueryDef(
      (s, dir) => {
        val names = Tables.part(s, dir)
          .groupBy(col("p_name").as("name"))
          .agg(count(lit(1)).as("n_parts"))
        val idx = names.select(
          col("name"), explode(split(col("name"), " ")).as("tok"))
        val pairs = idx.as("a")
          .join(idx.as("b"), col("a.tok") === col("b.tok") &&
            col("a.name") < col("b.name"))
          .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
          .distinct()
        pairs
          .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
          .filter(col("dist") <= 6)
          .join(names.select(col("name").as("name_a"), col("n_parts").as("n_a")), Seq("name_a"))
          .join(names.select(col("name").as("name_b"), col("n_parts").as("n_b")), Seq("name_b"))
          .select(
            col("name_a"), col("name_b"), col("dist").cast("long").as("dist"),
            (col("n_a") * col("n_b")).as("pair_weight"))
          .orderBy(col("dist"), col("name_a"), col("name_b"))
      },
      """WITH names AS (SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n_parts
        |               FROM part GROUP BY 1),
        |idx AS (SELECT name, unnest(string_split(name, ' ')) AS tok FROM names),
        |pairs AS (SELECT DISTINCT a.name AS name_a, b.name AS name_b
        |          FROM idx a JOIN idx b ON a.tok = b.tok AND a.name < b.name),
        |v AS (SELECT name_a, name_b, CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
        |      FROM pairs)
        |SELECT v.name_a, v.name_b, v.dist, na.n_parts * nb.n_parts AS pair_weight
        |FROM v
        |JOIN names na ON na.name = v.name_a
        |JOIN names nb ON nb.name = v.name_b
        |WHERE v.dist <= 6
        |ORDER BY v.dist, v.name_a, v.name_b""".stripMargin),

    // ------------------------------------------------------------------
    // Priority sampling for subset-sum estimation (Duffield, Lund &
    // Thorup, JACM 2007): keep the k=50 highest-priority rows where
    // priority = w·2²⁰ div u (u = deterministic md5 uniform in
    // [1, 2²⁰]), τ = the (k+1)-th priority; then ANY subset's weight
    // sum is estimated by Σ max(w_i, τ) over sampled members — one
    // fixed sample answers every posthoc slice question, the property
    // plain stratified samples lack. Everything is integer; the
    // global top-(k+1) plans as TakeOrderedAndProject (bounded heap,
    // no full sort), and the 51-row tail window is on 51 rows.
    // Exact subset sum (status = 'F') rides as the accuracy twin.
    "priority_sample_subsetsum" -> QueryDef(
      (s, dir) => {
        val c = Tables.orders(s, dir).select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
          (col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(12, 2)) * 100)
            .cast("long").as("w"))
        val p = c
          .withColumn("u",
            Md5Hash.lower63Col(concat(lit("ps:"), col("k").cast("string"))) % 1048576 + 1)
          .withColumn("pri", expr("(w * 1048576) div u"))
          .drop("u")
        val top = p.orderBy(col("pri").desc, col("k")).limit(51)
          .withColumn("rn", row_number().over(
            Window.orderBy(col("pri").desc, col("k"))))
        val tau = top.filter(col("rn") === 51).select(col("pri").as("tau"))
        val est = top.filter(col("rn") <= 50).crossJoin(broadcast(tau))
          .agg(sum(when(col("st") === "F",
            greatest(col("w"), col("tau"))).otherwise(0L)).as("est_f"))
        val exact = c.filter(col("st") === "F")
          .agg(sum(col("w")).as("exact_f"))
        exact.crossJoin(est).crossJoin(broadcast(tau))
          .select(col("exact_f"), col("est_f"), col("tau"))
      },
      s"""WITH c AS (
         |  SELECT o_orderkey AS k, o_orderstatus AS st,
         |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS w
         |  FROM orders),
         |p AS (SELECT k, st, w,
         |        (w * 1048576) // (${md5_63("'ps:' || CAST(k AS VARCHAR)")} % 1048576 + 1) AS pri
         |      FROM c),
         |r AS (SELECT *, row_number() OVER (ORDER BY pri DESC, k) AS rn FROM p),
         |tau AS (SELECT pri AS tau FROM r WHERE rn = 51),
         |est AS (
         |  SELECT CAST(SUM(CASE WHEN r.st = 'F' THEN greatest(r.w, tau.tau) ELSE 0 END)
         |              AS BIGINT) AS est_f
         |  FROM r, tau WHERE rn <= 50),
         |ex AS (SELECT CAST(SUM(w) AS BIGINT) AS exact_f FROM c WHERE st = 'F')
         |SELECT ex.exact_f, est.est_f, tau.tau FROM ex, est, tau""".stripMargin),

    // ------------------------------------------------------------------
    // Poisson bootstrap (the distributed bootstrap — Chamandy et al.,
    // Google 2012; Kleiner et al.'s BLB is the sibling): classic
    // resampling draws n-with-replacement, which needs global
    // coordination; the Poisson approximation gives each row an
    // INDEPENDENT Pois(1) multiplicity per resample, so 16 bootstrap
    // replicas of mean(o_totalprice) are one bounded ×16 explode +
    // one map-side-combining agg. Multiplicities are deterministic:
    // md5 ppm through the Pois(1) inverse-CDF thresholds
    // (367879/735759/919699/981012/996340 — exact integer literals on
    // both engines). Everything is integer until ONE division per
    // replica; the replica spread IS the CI.
    "bootstrap_mean_ci" -> QueryDef(
      (s, dir) => {
        val cents = Tables.orders(s, dir).select(
          col("o_orderkey"),
          (col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(12, 2)) * 100)
            .cast("long").as("cents"))
        val reps = cents.select(col("o_orderkey"), col("cents"),
          explode(sequence(lit(0), lit(15))).as("b"))
          .withColumn("u",
            Md5Hash.lower63Col(concat(
              lit("bs"), col("b").cast("string"), lit(":"),
              col("o_orderkey").cast("string"))) % 1000000)
          .withColumn("m",
            when(col("u") < 367879, 0L).when(col("u") < 735759, 1L)
              .when(col("u") < 919699, 2L).when(col("u") < 981012, 3L)
              .when(col("u") < 996340, 4L).otherwise(5L))
        reps.groupBy(col("b").cast("long").as("b"))
          .agg(
            sum(col("m")).as("n_b"),
            sum(col("m") * col("cents")).as("sum_cents"))
          .withColumn("mean_cents",
            col("sum_cents").cast("double") / col("n_b").cast("double"))
          .orderBy(col("b"))
      },
      s"""WITH cents AS (
         |  SELECT o_orderkey,
         |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
         |  FROM orders),
         |reps AS (
         |  SELECT o_orderkey, cents, unnest(range(0, 16)) AS b FROM cents),
         |m AS (
         |  SELECT b, cents,
         |    CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
         |         WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
         |         WHEN u < 996340 THEN 4 ELSE 5 END AS m
         |  FROM (SELECT b, cents,
         |          ${md5_63("'bs' || CAST(b AS VARCHAR) || ':' || CAST(o_orderkey AS VARCHAR)")} % 1000000 AS u
         |        FROM reps) t)
         |SELECT CAST(b AS BIGINT) AS b,
         |  CAST(SUM(m) AS BIGINT) AS n_b,
         |  CAST(SUM(m * cents) AS BIGINT) AS sum_cents,
         |  CAST(SUM(m * cents) AS DOUBLE) / CAST(SUM(m) AS DOUBLE) AS mean_cents
         |FROM m GROUP BY 1 ORDER BY b""".stripMargin),

    // ------------------------------------------------------------------
    // Sorted-neighborhood ER blocking (Hernández & Stolfo, SIGMOD
    // 1995): the OTHER classic blocking paradigm — order records by a
    // domain key (reversed name: suffix grouping complements the
    // token inverted index, which only links names SHARING a word)
    // and compare each record to its w=3 successors. The scalable
    // form: DenseId's range-partitioned rank (≡ row_number, no
    // single-partition window) + a bounded offset-explode equi-join
    // on rank — candidate volume is EXACTLY w·n by construction,
    // immune to hot blocks. levenshtein ≤ 4 verifies.
    "er_sorted_neighborhood" -> QueryDef(
      (s, dir) => {
        val names = Tables.part(s, dir)
          .groupBy(col("p_name").as("name"))
          .agg(count(lit(1)).as("n_parts"))
        val ranked = graft.operators.DenseId.withDenseId(
          names.withColumn("sk", reverse(col("name"))),
          Seq(col("sk"), col("name")), "rk")
          .select(col("name"), col("rk"))
        val probes = ranked
          .select(col("name").as("name_lo"), col("rk"),
            explode(array((1 to 3).map(lit(_)): _*)).as("off"))
          .withColumn("rk2", col("rk") + col("off"))
        probes
          .join(ranked.select(col("name").as("name_hi"), col("rk").as("rk2")), "rk2")
          .withColumn("dist", levenshtein(col("name_lo"), col("name_hi")).cast("long"))
          .filter(col("dist") <= 4)
          .select(col("name_lo"), col("name_hi"), col("dist"))
          .orderBy(col("name_lo"), col("name_hi"))
      },
      """WITH names AS (SELECT p_name AS name FROM part GROUP BY 1),
        |r AS (SELECT name,
        |        row_number() OVER (ORDER BY reverse(name), name) AS rk
        |      FROM names),
        |pairs AS (
        |  SELECT a.name AS name_lo, b.name AS name_hi,
        |         CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
        |  FROM r a JOIN r b ON b.rk BETWEEN a.rk + 1 AND a.rk + 3)
        |SELECT name_lo, name_hi, dist FROM pairs
        |WHERE dist <= 4
        |ORDER BY name_lo, name_hi""".stripMargin),

    // ------------------------------------------------------------------
    // Entity resolution END-TO-END: fuzzy_name_pairs' blocking+verify
    // pairs (tightened to dist ≤ 4) fold into entity CLUSTERS via the
    // pointer-jumping connected components operator (labels converge in
    // O(log d) rounds over string keys — least() is lexicographic), and
    // each cluster reports its canonical name (min member), member
    // count, and total part mass. This is the merge step every dedup/ER
    // pipeline needs after pair scoring; at 100 TB the pair graph is
    // the small derived artifact (distinct-name grain), never the row
    // grain. The oracle replays the closure with a recursive CTE
    // (reachable-label transitive closure + MIN), which terminates
    // because UNION dedups and the name graph is the tiny blocked one.
    "er_resolved_entities" -> QueryDef(
      (s, dir) => {
        val names = Tables.part(s, dir)
          .groupBy(col("p_name").as("name"))
          .agg(count(lit(1)).as("n_parts"))
        val idx = names.select(
          col("name"), explode(split(col("name"), " ")).as("tok"))
        val pairs = idx.as("a")
          .join(idx.as("b"), col("a.tok") === col("b.tok") &&
            col("a.name") < col("b.name"))
          .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
          .distinct()
          .filter(levenshtein(col("name_a"), col("name_b")) <= 4)
        val labels = graft.operators.Dedup
          .connectedComponents(pairs, "name_a", "name_b")
        labels.join(names, labels("id") === names("name"))
          .groupBy(col("component").as("canonical"))
          .agg(
            count(lit(1)).as("n_names"),
            sum(col("n_parts")).as("total_parts"))
          .filter(col("n_names") >= 2)
          .orderBy(col("canonical"))
      },
      """WITH RECURSIVE names AS (
        |  SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n_parts
        |  FROM part GROUP BY 1),
        |idx AS (SELECT name, unnest(string_split(name, ' ')) AS tok FROM names),
        |pairs AS (
        |  SELECT DISTINCT a.name AS name_a, b.name AS name_b
        |  FROM idx a JOIN idx b ON a.tok = b.tok AND a.name < b.name),
        |fp AS (SELECT name_a, name_b FROM pairs
        |       WHERE levenshtein(name_a, name_b) <= 4),
        |edges AS (SELECT name_a AS u, name_b AS v FROM fp
        |          UNION ALL SELECT name_b, name_a FROM fp),
        |reach(u, label) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) s
        |  UNION
        |  SELECT e.u, r.label FROM edges e JOIN reach r ON r.u = e.v),
        |comp AS (SELECT u AS name, MIN(label) AS canonical FROM reach GROUP BY 1)
        |SELECT comp.canonical,
        |  CAST(count(*) AS BIGINT) AS n_names,
        |  CAST(SUM(names.n_parts) AS BIGINT) AS total_parts
        |FROM comp JOIN names ON names.name = comp.name
        |GROUP BY 1 HAVING count(*) >= 2
        |ORDER BY comp.canonical""".stripMargin),

    // ------------------------------------------------------------------
    // WordPiece merge induction (WordPiece.train): 6 rounds scored by
    // pair likelihood count(l,r)/(count(l)·count(r)) — the BERT
    // tokenizer's training rule, complementing bpe_merges' raw-count
    // argmax (on this corpus the first pick is q+u: rare overall but
    // q occurs nowhere else). The oracle replays every round
    // bit-exactly; the score comparison is the fixed IEEE ÷,× chain
    // on exact BIGINTs in both engines.
    "wordpiece_merges" -> QueryDef(
      (s, dir) =>
        WordPiece.train(Tables.documents(s, dir), "text", numMerges = 6)
          .orderBy(col("step")),
      wordpieceOracleSql(6)),

    // ------------------------------------------------------------------
    // Unigram-LM vocabulary induction (UnigramLm.train — Kudo 2018,
    // SentencePiece): completes the tokenizer-training triad. Where BPE
    // and WordPiece GROW a vocabulary by merges, unigram-LM seeds all
    // frequent substrings and SHRINKS it by alternating re-segmentation
    // (deterministic hard-EM: maximal-munch, integer-only) with
    // bottom-k pruning on exact usage counts. The oracle replays both
    // EM rounds — each E-step walk is a recursive CTE
    // (pos := pos + step) — and the only float is the final fixed-order
    // cnt/total division.
    "unigram_lm_vocab" -> QueryDef(
      (s, dir) =>
        UnigramLm.train(Tables.documents(s, dir), "text",
            maxPieceLen = 6, minCount = 8, rounds = 2,
            pruneDenom = 4, maxWordLen = 20)
          .orderBy(col("cnt").desc, col("piece"))
          .limit(200),
      unigramOracleSql(2)),

    // ------------------------------------------------------------------
    // Unigram-LM SERVING segmentation with a fixed piece inventory
    // (UnigramLm.segmentWords — the bpe_segment_fixed analog):
    // maximal-munch every distinct word once, unknown characters pass
    // through as their own pieces, and the corpus re-joins the
    // word-grain segmentation by token position. Per-doc fingerprint
    // = md5 of the ' | '-fenced piece stream, byte-exact vs the
    // recursive-CTE walk in DuckDB.
    "unigram_segment_fixed" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val vocab = unigramServingVocab.toDF("piece")
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"),
            posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "word")))
        val seg = UnigramLm.segmentWords(
          toks.select(col("word")).distinct(), vocab, maxPieceLen = 6)
        toks.join(seg, Seq("word"))
          .groupBy(col("doc_id"))
          .agg(
            sum(size(col("pieces"))).as("n_pieces"),
            md5(array_join(
              transform(
                array_sort(collect_list(struct(col("pos"),
                  array_join(col("pieces"), " ").as("enc")))),
                x => x.getField("enc")),
              " | ")).as("seg_md5"))
          .orderBy(col("doc_id"))
      },
      s"""WITH RECURSIVE
         |$unigramServingCtes
         |SELECT t.doc_id, CAST(sum(e.np) AS BIGINT) AS n_pieces,
         |  md5(string_agg(e.enc, ' | ' ORDER BY t.pos)) AS seg_md5
         |FROM tok t JOIN enc e USING (word)
         |GROUP BY 1 ORDER BY t.doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // Tokenizer fertility COMPARISON — the eval a tokenizer choice
    // hangs off: chars-per-piece for whitespace, GPT-2-shaped BPE-ish
    // pre-tokenization, and the fixed-inventory unigram serving
    // segmentation, over the same corpus in one row. Counts are exact
    // BIGINTs; the three ratios are single fixed-order divisions; the
    // unigram leg replays the recursive serving walk.
    "tokenizer_fertility_compare" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val base = docs
          .select(
            TextOps.tokenCount(col("text")).cast("long").as("ws"),
            TextOps.bpeIshTokenCount(col("text")).cast("long").as("bp"),
            length(regexp_replace(coalesce(col("text"), lit("")),
              "[\\t\\n\\f\\r ]+", "")).cast("long").as("chars"))
          .agg(
            sum(col("chars")).as("n_chars"),
            sum(col("ws")).as("n_ws_tokens"),
            sum(col("bp")).as("n_bpeish_tokens"))
        val vocab = unigramServingVocab.toDF("piece")
        val toks = docs.select(
          posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "word")))
        val uni = toks
          .join(UnigramLm.segmentWords(
            toks.select(col("word")).distinct(), vocab, maxPieceLen = 6),
            Seq("word"))
          .agg(sum(size(col("pieces")).cast("long")).as("n_unigram_pieces"))
        base.crossJoin(broadcast(uni))
          .withColumn("chars_per_ws",
            col("n_chars").cast("double") / col("n_ws_tokens").cast("double"))
          .withColumn("chars_per_bpeish",
            col("n_chars").cast("double") / col("n_bpeish_tokens").cast("double"))
          .withColumn("chars_per_unigram",
            col("n_chars").cast("double") / col("n_unigram_pieces").cast("double"))
      },
      s"""WITH RECURSIVE
         |$unigramServingCtes,
         |base AS (
         |  SELECT
         |    CAST(sum(len(regexp_replace(coalesce(text, ''), '\\s+', '', 'g'))) AS BIGINT) AS n_chars,
         |    CAST(sum(len($toksSql)) AS BIGINT) AS n_ws_tokens,
         |    CAST(sum(len(regexp_extract_all(coalesce(text, ''),
         |      '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]'))) AS BIGINT) AS n_bpeish_tokens
         |  FROM documents),
         |uni AS (
         |  SELECT CAST(sum(e.np) AS BIGINT) AS n_unigram_pieces
         |  FROM tok t JOIN enc e USING (word))
         |SELECT base.n_chars, base.n_ws_tokens, base.n_bpeish_tokens,
         |  uni.n_unigram_pieces,
         |  CAST(base.n_chars AS DOUBLE) / CAST(base.n_ws_tokens AS DOUBLE) AS chars_per_ws,
         |  CAST(base.n_chars AS DOUBLE) / CAST(base.n_bpeish_tokens AS DOUBLE) AS chars_per_bpeish,
         |  CAST(base.n_chars AS DOUBLE) / CAST(uni.n_unigram_pieces AS DOUBLE) AS chars_per_unigram
         |FROM base, uni""".stripMargin),

    // ------------------------------------------------------------------
    // AMS/tug-of-war F2 sketch (Alon–Matias–Szegedy, STOC 1996):
    // estimate Σ f(t)² of the token stream — the self-join size, the
    // quantity a join planner needs to price a token⋈token equi-join
    // and a direct skew indicator. Nine independent ±1 md5 sign
    // functions; each S_r = Σ_occurrences sign_r(t) accumulates
    // map-side as nine longs per task (ONE skinny aggregation, state
    // O(9) regardless of cardinality — this is what replaces the
    // groupBy-count shuffle at 100 TB), estimate = median of S_r².
    // The exact Σc² twin rides a separate aggregation (the sketch's
    // accuracy gate); everything is integer, so the oracle replays
    // the sketch bit-exactly.
    "ams_f2_tokens" -> QueryDef(
      (s, dir) => {
        val reps = 9
        val evens = Seq("0", "2", "4", "6", "8", "a", "c", "e")
        val toks = Tables.documents(s, dir)
          .select(explode(TextOps.tokens(col("text"))).as("t"))
        // ONE md5 per occurrence; the r-th sign is the parity of the
        // r-th hex digit (9 independent-enough ±1 draws from one
        // digest — iso-measured 2.8 s → the 9-md5 form's dominant cost
        // was hashing, not the aggregation)
        val digest = md5(concat(lit("ams:"), col("t")))
        val sums = (0 until reps).map { r =>
          sum(when(substring(digest, r + 1, 1).isin(evens: _*), 1L)
            .otherwise(-1L)).as(s"s$r")
        }
        val est = toks.agg(sums.head, sums.tail: _*)
          .select(element_at(
            sort_array(array((0 until reps).map(r =>
              (col(s"s$r") * col(s"s$r")).cast("long")): _*)),
            reps / 2 + 1).as("f2_estimate"))
        val exact = toks.groupBy(col("t")).agg(count(lit(1)).as("c"))
          .agg(sum(col("c") * col("c")).cast("long").as("f2_exact"))
        exact.crossJoin(est).select(col("f2_exact"), col("f2_estimate"))
      },
      s"""WITH tok AS (SELECT md5('ams:' || unnest($toksSql)) AS d FROM documents),
         |r AS (SELECT unnest(range(0, 9)) AS j),
         |signs AS (
         |  SELECT r.j,
         |    CAST(SUM(CASE WHEN substr(tok.d, CAST(r.j AS INT) + 1, 1)
         |                  IN ('0','2','4','6','8','a','c','e')
         |             THEN 1 ELSE -1 END) AS BIGINT) AS s
         |  FROM tok CROSS JOIN r GROUP BY 1),
         |est AS (SELECT CAST(s * s AS BIGINT) AS e FROM signs),
         |med AS (SELECT e AS f2_estimate FROM est ORDER BY e LIMIT 1 OFFSET 4),
         |exact AS (
         |  SELECT CAST(SUM(c * c) AS BIGINT) AS f2_exact
         |  FROM (SELECT CAST(count(*) AS BIGINT) AS c
         |        FROM (SELECT unnest($toksSql) AS t FROM documents) tt GROUP BY t) g)
         |SELECT exact.f2_exact, med.f2_estimate FROM exact, med""".stripMargin),

    // ------------------------------------------------------------------
    // AMS inner-product JOIN-SIZE estimate: |clicks ⋈ purchases| on
    // user_id equals Σ_u f_c(u)·f_p(u), and the tug-of-war sketches
    // estimate it — E[Sa_r·Sb_r] IS that inner product (AMS '96, the
    // original motivation). The planner primitive: each slice is
    // summarized by NINE LONGS (one skinny map-side agg per side, no
    // key shuffle), the sketches compose by plain per-rep
    // multiplication, and a 100 TB planner prices the join without
    // touching either key set. Error is ~√(F2a·F2b/R) — meaningful
    // when the slices share a key domain (the matched click/purchase
    // slices here; sketching a relation whose keys mostly DON'T join
    // drowns the signal in norm noise, which is itself the correct
    // planner lesson). Exact join count rides as the accuracy twin.
    "ams_join_size" -> QueryDef(
      (s, dir) => {
        val reps = 9
        val evens = Seq("0", "2", "4", "6", "8", "a", "c", "e")
        def signSums(df: org.apache.spark.sql.DataFrame, key: String, pfx: String) = {
          val digest = md5(concat(lit("ams:"), col(key).cast("string")))
          df.agg(
            sum(when(substring(digest, 1, 1).isin(evens: _*), 1L)
              .otherwise(-1L)).as(s"${pfx}0"),
            (1 until reps).map { r =>
              sum(when(substring(digest, r + 1, 1).isin(evens: _*), 1L)
                .otherwise(-1L)).as(s"$pfx$r")
            }: _*)
        }
        val ev = Tables.events(s, dir)
        val sa = signSums(ev.filter(col("event_type") === "click"), "user_id", "a")
        val sb = signSums(ev.filter(col("event_type") === "purchase"), "user_id", "b")
        val est = sa.crossJoin(sb)
          .select(element_at(
            sort_array(array((0 until reps).map(r =>
              (col(s"a$r") * col(s"b$r")).cast("long")): _*)),
            reps / 2 + 1).as("join_estimate"))
        val exact = ev.filter(col("event_type") === "click").select(col("user_id"))
          .join(ev.filter(col("event_type") === "purchase")
            .select(col("user_id").as("u2")), col("user_id") === col("u2"))
          .agg(count(lit(1)).as("join_exact"))
        exact.crossJoin(est).select(col("join_exact"), col("join_estimate"))
      },
      """WITH sa AS (
        |  SELECT j, CAST(SUM(CASE WHEN substr(d, CAST(j AS INT) + 1, 1)
        |                          IN ('0','2','4','6','8','a','c','e')
        |                   THEN 1 ELSE -1 END) AS BIGINT) AS s
        |  FROM (SELECT md5('ams:' || CAST(user_id AS VARCHAR)) AS d
        |        FROM events WHERE event_type = 'click') e
        |  CROSS JOIN (SELECT unnest(range(0, 9)) AS j) r GROUP BY 1),
        |sb AS (
        |  SELECT j, CAST(SUM(CASE WHEN substr(d, CAST(j AS INT) + 1, 1)
        |                          IN ('0','2','4','6','8','a','c','e')
        |                   THEN 1 ELSE -1 END) AS BIGINT) AS s
        |  FROM (SELECT md5('ams:' || CAST(user_id AS VARCHAR)) AS d
        |        FROM events WHERE event_type = 'purchase') p
        |  CROSS JOIN (SELECT unnest(range(0, 9)) AS j) r GROUP BY 1),
        |est AS (SELECT CAST(sa.s * sb.s AS BIGINT) AS e
        |        FROM sa JOIN sb ON sa.j = sb.j),
        |med AS (SELECT e AS join_estimate FROM est ORDER BY e LIMIT 1 OFFSET 4),
        |exact AS (
        |  SELECT CAST(count(*) AS BIGINT) AS join_exact
        |  FROM (SELECT user_id FROM events WHERE event_type = 'click') c
        |  JOIN (SELECT user_id FROM events WHERE event_type = 'purchase') p
        |    ON c.user_id = p.user_id)
        |SELECT exact.join_exact, med.join_estimate FROM exact, med""".stripMargin),

    // ------------------------------------------------------------------
    // COUNT-MIN SKETCH heavy hitters (Cormode & Muthukrishnan 2005)
    // over the bigram stream — the point-query sketch beside the
    // family's distinct-count (HLL/KMV) and second-moment (AMS)
    // sketches: d=4 rows × w=64 counters, bucket = seeded md5 of the
    // bigram, estimate = MIN over rows — one-sided (estimate ≥ exact;
    // the fixture's 916-bigram domain over 64 buckets makes the
    // overcount REAL and the min visibly tighter than any single
    // row). The counter table is the mergeable 256-cell artifact a
    // stream would maintain; the exact side exists only to report
    // the top-10 truth. Bigrams via one positional self-join (the
    // token stream shuffles once); everything integer.
    "cms_bigram_heavyhitters" -> QueryDef(
      (s, dir) => {
        val tk = Tables.documents(s, dir)
          .select(col("doc_id"),
            posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "t")))
          .localCheckpoint() // both sides of the bigram join
        val bg = tk
          .join(tk.select(col("doc_id"), (col("pos") - 1).as("pos"),
            col("t").as("t2")), Seq("doc_id", "pos"))
          .select(concat(col("t"), lit(" "), col("t2")).as("t"))
        val ex = bg.groupBy(col("t")).agg(count(lit(1)).as("c"))
          .localCheckpoint() // feeds the sketch build AND the exact top-10
        val hb = ex.select(col("t"), col("c"),
            explode(sequence(lit(0), lit(3))).as("row_id"))
          .withColumn("bucket",
            Md5Hash.lower63Col(concat(lit("cms"), col("row_id").cast("string"),
              lit(":"), col("t"))) % 64)
          .localCheckpoint() // feeds the counter agg AND the estimate probe
        val ctr = hb.groupBy(col("row_id"), col("bucket"))
          .agg(sum(col("c")).as("cnt"))
        val top = ex.orderBy(col("c").desc, col("t")).limit(10)
        top
          .join(hb.select(col("t"), col("row_id"), col("bucket")), Seq("t"))
          .join(ctr, Seq("row_id", "bucket"))
          .groupBy(col("t"), col("c"))
          .agg(min(col("cnt")).as("cms_est"))
          .select(col("t").as("bigram"), col("c").as("exact_count"),
            col("cms_est"), (col("cms_est") - col("c")).as("overcount"))
          .orderBy(col("exact_count").desc, col("bigram"))
      },
      s"""WITH tkl AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |bg AS (
         |  SELECT toks[i] || ' ' || toks[i+1] AS t
         |  FROM tkl, unnest(range(1, len(toks))) u(i)),
         |ex AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY 1),
         |hb AS (
         |  SELECT ex.t, ex.c, r.r AS row_id,
         |    ${md5_63("'cms' || CAST(r.r AS VARCHAR) || ':' || ex.t")} % 64 AS bucket
         |  FROM ex, range(4) r(r)),
         |ctr AS (
         |  SELECT row_id, bucket, CAST(SUM(c) AS BIGINT) AS cnt
         |  FROM hb GROUP BY 1, 2),
         |top AS (SELECT t, c FROM ex ORDER BY c DESC, t LIMIT 10),
         |est AS (
         |  SELECT top.t, top.c, CAST(min(ctr.cnt) AS BIGINT) AS cms_est
         |  FROM top JOIN hb ON hb.t = top.t
         |  JOIN ctr ON ctr.row_id = hb.row_id AND ctr.bucket = hb.bucket
         |  GROUP BY 1, 2)
         |SELECT t AS bigram, c AS exact_count, cms_est,
         |  cms_est - c AS overcount
         |FROM est ORDER BY exact_count DESC, bigram""".stripMargin),

    // ------------------------------------------------------------------
    // Count-Sketch heavy hitters (Charikar, Chen & Farach-Colton 2002)
    // — the SIGNED sibling of count-min: each of 4 rows hashes a token
    // to one of 64 counters AND a ±1 sign from the same md5 digest
    // (bucket = h % 64, sign = 1 − 2·((h div 64) % 2)), so colliding
    // tokens cancel in expectation instead of always overcounting.
    // The per-token estimate is the LOWER MEDIAN (2nd of 4 ascending —
    // exact integer selection, no averaging) of sign·counter across
    // rows; reported for the exact top-10 tokens with the signed error
    // the CMS query can never show. Counters stay map-side mergeable:
    // one keyed aggregation builds the whole 4×64 table.
    "countsketch_tokens" -> QueryDef(
      (s, dir) => {
        val tk = Tables.documents(s, dir)
          .select(explode(TextOps.tokens(col("text"))).as("t"))
        val ex = tk.groupBy(col("t")).agg(count(lit(1)).as("c"))
          .localCheckpoint() // feeds the sketch build AND the exact top-10
        val hb = ex.select(col("t"), col("c"),
            explode(sequence(lit(0), lit(3))).as("row_id"))
          .withColumn("h",
            Md5Hash.lower63Col(concat(lit("cs"), col("row_id").cast("string"),
              lit(":"), col("t"))))
          .withColumn("bucket", col("h") % 64)
          .withColumn("sign", lit(1L) - lit(2L) * (expr("h div 64") % 2))
          .drop("h")
          .localCheckpoint() // feeds the counter agg AND the estimate probe
        val ctr = hb.groupBy(col("row_id"), col("bucket"))
          .agg(sum(col("sign") * col("c")).as("cnt"))
        val top = ex.orderBy(col("c").desc, col("t")).limit(10)
        top
          .join(hb.select(col("t"), col("row_id"), col("bucket"), col("sign")), Seq("t"))
          .join(ctr, Seq("row_id", "bucket"))
          .groupBy(col("t"), col("c"))
          .agg(element_at(sort_array(collect_list(col("sign") * col("cnt"))), 2)
            .as("cs_est"))
          .select(col("t").as("token"), col("c").as("exact_count"),
            col("cs_est"), (col("cs_est") - col("c")).as("err"))
          .orderBy(col("exact_count").desc, col("token"))
      },
      s"""WITH tkl AS (SELECT $toksSql AS toks FROM documents),
         |tk AS (SELECT unnest(toks) AS t FROM tkl),
         |ex AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY 1),
         |hb AS (
         |  SELECT t, c, row_id, h % 64 AS bucket,
         |    1 - 2 * ((h // 64) % 2) AS sign
         |  FROM (
         |    SELECT ex.t, ex.c, r.r AS row_id,
         |      ${md5_63("'cs' || CAST(r.r AS VARCHAR) || ':' || ex.t")} AS h
         |    FROM ex, range(4) r(r))),
         |ctr AS (
         |  SELECT row_id, bucket, CAST(SUM(sign * c) AS BIGINT) AS cnt
         |  FROM hb GROUP BY 1, 2),
         |top AS (SELECT t, c FROM ex ORDER BY c DESC, t LIMIT 10),
         |est AS (
         |  SELECT top.t, top.c,
         |    CAST(list_sort(list(hb.sign * ctr.cnt))[2] AS BIGINT) AS cs_est
         |  FROM top JOIN hb ON hb.t = top.t
         |  JOIN ctr ON ctr.row_id = hb.row_id AND ctr.bucket = hb.bucket
         |  GROUP BY 1, 2)
         |SELECT t AS token, c AS exact_count, cs_est,
         |  cs_est - c AS err
         |FROM est ORDER BY exact_count DESC, token""".stripMargin),

    // ------------------------------------------------------------------
    // TextRank keyword extraction (Mihalcea & Tarau 2004): WEIGHTED
    // PageRank over the word co-occurrence graph (adjacent-token
    // pairs, weights = co-occurrence counts — the unweighted graph is
    // complete on this vocabulary and degenerates to uniform rank).
    // Mass splits by weight/strength in the same exact scaled-integer
    // rounds as pagerank_supplier_customer (floor division, never a
    // double SUM), 4 rounds unrolled by the oracle; top-10 keywords.
    // One token-stream shuffle builds the weighted edges; each round
    // is one broadcast-rank equi-join.
    "textrank_keywords" -> QueryDef(
      (s, dir) => {
        val tk = Tables.documents(s, dir)
          .select(col("doc_id"),
            posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "t")))
          .localCheckpoint() // both sides of the adjacency join
        val e0 = tk
          .join(tk.select(col("doc_id"), (col("pos") - 1).as("pos"),
            col("t").as("t2")), Seq("doc_id", "pos"))
          .filter(col("t") =!= col("t2"))
          .groupBy(col("t").as("u"), col("t2").as("v"))
          .agg(count(lit(1)).as("w"))
        val edges = e0
          .unionByName(e0.select(col("v").as("u"), col("u").as("v"), col("w")))
          .groupBy(col("u"), col("v")).agg(sum(col("w")).as("w"))
        PageRank.runWeighted(edges, rounds = 4)
          .select(col("node").as("token"), col("rank"))
          .orderBy(col("rank").desc, col("token"))
          .limit(10)
      }, {
        val rounds = (0 until 4).map { i =>
          s""",
             |r${i + 1} AS MATERIALIZED (
             |  SELECT e.v AS node,
             |    CAST(150000 + (85 * SUM((r.rank * e.w) // e.s)) // 100 AS BIGINT) AS rank
             |  FROM ed e JOIN r$i r ON r.node = e.u
             |  GROUP BY e.v)""".stripMargin
        }.mkString
        s"""WITH tkl AS (SELECT doc_id, $toksSql AS toks FROM documents),
           |e0 AS MATERIALIZED (
           |  SELECT toks[i] AS u, toks[i+1] AS v, CAST(count(*) AS BIGINT) AS w
           |  FROM tkl, unnest(range(1, len(toks))) x(i)
           |  WHERE toks[i] <> toks[i+1] GROUP BY 1, 2),
           |e AS MATERIALIZED (
           |  SELECT u, v, CAST(SUM(w) AS BIGINT) AS w FROM (
           |    SELECT u, v, w FROM e0 UNION ALL SELECT v, u, w FROM e0)
           |  GROUP BY 1, 2),
           |st AS MATERIALIZED (SELECT u, CAST(SUM(w) AS BIGINT) AS s FROM e GROUP BY 1),
           |ed AS MATERIALIZED (SELECT e.u, e.v, e.w, st.s FROM e JOIN st ON e.u = st.u),
           |r0 AS MATERIALIZED (SELECT u AS node, CAST(1000000 AS BIGINT) AS rank FROM st)$rounds
           |SELECT node AS token, rank FROM r4
           |ORDER BY rank DESC, token LIMIT 10""".stripMargin
      }),

    // ------------------------------------------------------------------
    // ZIPF RANK-FREQUENCY check: under Zipf's law rank × frequency is
    // ~constant, so the r·f product across the top-20 tokens IS the
    // diagnostic (a flat profile = Zipfian; the word-soup fixture is
    // deliberately near-uniform, so the product GROWS linearly —
    // exactly what the check should report). Pure integers; the
    // corpus-frequency ranking is the one aggregation.
    "zipf_rankfreq_check" -> QueryDef(
      (s, dir) => {
        val f = Tables.documents(s, dir)
          .select(explode(TextOps.tokens(col("text"))).as("t"))
          .groupBy(col("t")).agg(count(lit(1)).as("c"))
        f.orderBy(col("c").desc, col("t")).limit(20)
          .withColumn("rnk", row_number().over(
            Window.orderBy(col("c").desc, col("t"))).cast("long"))
          .select(col("rnk"), col("t").as("token"), col("c").as("freq"),
            (col("rnk") * col("c")).as("rank_freq"))
          .orderBy(col("rnk"))
      },
      s"""WITH tk AS (SELECT unnest($toksSql) AS t FROM documents),
         |f AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY 1),
         |r AS (SELECT t, c,
         |  CAST(row_number() OVER (ORDER BY c DESC, t) AS BIGINT) AS rnk FROM f)
         |SELECT rnk, t AS token, c AS freq, rnk * c AS rank_freq
         |FROM r WHERE rnk <= 20 ORDER BY rnk""".stripMargin),

    // ------------------------------------------------------------------
    // JOIN-SKEW ADVISOR — the pre-flight a 100 TB join runs before
    // picking a salt factor: key-frequency census (one aggregation),
    // max/median ratio (exact rank selection), and the recommended
    // salt = ceil(max_key_mass / ideal_per_task_mass) at 32 tasks —
    // integer ceiling division, so the recommendation is
    // engine-exact. The fixture's near-uniform tokens recommend salt
    // 2 (no real skew) — a "don't salt" verdict is as
    // load-bearing as a "salt 40x" one.
    "skew_advisor_tokens" -> QueryDef(
      (s, dir) => {
        val f = Tables.documents(s, dir)
          .select(explode(TextOps.tokens(col("text"))).as("t"))
          .groupBy(col("t")).agg(count(lit(1)).as("c"))
          .localCheckpoint() // feeds the stats agg AND the median rank
        val st = f.agg(count(lit(1)).as("n_keys"), sum(col("c")).as("total"),
          max(col("c")).as("max_c"))
        val nKeys = f.count()
        val med = f
          .withColumn("r", row_number().over(Window.orderBy(col("c"), col("t"))))
          .filter(col("r") === (nKeys + 1) / 2)
          .select(col("c").as("med_c"))
        st.crossJoin(broadcast(med))
          .select(col("n_keys"), col("total"), col("max_c"), col("med_c"),
            (col("max_c").cast("double") / col("med_c").cast("double"))
              .as("skew_ratio"),
            // exact integer ceiling division — `div`, matching the
            // oracle's `//` (never double `/` + cast, which can round
            // differently at extreme magnitudes)
            expr("(max_c * 32 + total - 1) div total").as("salt_factor"))
      },
      s"""WITH tk AS (SELECT unnest($toksSql) AS t FROM documents),
         |f AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY 1),
         |s AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
         |  CAST(SUM(c) AS BIGINT) AS total, CAST(max(c) AS BIGINT) AS max_c FROM f),
         |med AS (SELECT c AS med_c FROM (
         |    SELECT c, row_number() OVER (ORDER BY c, t) AS r FROM f)
         |  CROSS JOIN s WHERE r = (n_keys + 1) // 2)
         |SELECT s.n_keys, s.total, s.max_c, med.med_c,
         |  CAST(s.max_c AS DOUBLE) / CAST(med.med_c AS DOUBLE) AS skew_ratio,
         |  CAST((s.max_c * 32 + s.total - 1) // s.total AS BIGINT) AS salt_factor
         |FROM s CROSS JOIN med""".stripMargin),

    // ------------------------------------------------------------------
    // MARKOV stationary profile of the event-type transition chain:
    // per-user event sequences (lag window per user — bounded state)
    // give the directed transition counts, and the damped stationary
    // vector is 4 unrolled rounds of the SAME exact scaled-integer
    // weighted-PageRank arithmetic (contrib = rank·w div strength) —
    // so 'which state does the session process spend its time in'
    // comes out engine-exact with no matrix library. The damping is
    // the standard teleport regularizer for reducible chains.
    "event_markov_stationary" -> QueryDef(
      (s, dir) => {
        val seq = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
          .withColumn("prev", lag(col("event_type"), 1).over(
            Window.partitionBy(col("user_id"))
              .orderBy(col("ts"), col("event_id"))))
        val e = seq.filter(col("prev").isNotNull)
          .groupBy(col("prev").as("u"), col("event_type").as("v"))
          .agg(count(lit(1)).as("w"))
        PageRank.runWeighted(e, rounds = 4)
          .select(col("node").as("event_type"), col("rank"))
          .orderBy(col("rank").desc, col("event_type"))
      }, {
        val rounds = (0 until 4).map { i =>
          s""",
             |r${i + 1} AS MATERIALIZED (
             |  SELECT e.v AS node,
             |    CAST(150000 + (85 * SUM((r.rank * e.w) // e.s)) // 100 AS BIGINT) AS rank
             |  FROM ed e JOIN r$i r ON r.node = e.u
             |  GROUP BY e.v)""".stripMargin
        }.mkString
        s"""WITH seq AS (
           |  SELECT user_id, event_type, ts, event_id,
           |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           |  FROM events),
           |e AS MATERIALIZED (
           |  SELECT prev AS u, event_type AS v, CAST(count(*) AS BIGINT) AS w
           |  FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
           |st AS MATERIALIZED (SELECT u, CAST(SUM(w) AS BIGINT) AS s FROM e GROUP BY 1),
           |ed AS MATERIALIZED (SELECT e.u, e.v, e.w, st.s FROM e JOIN st ON e.u = st.u),
           |r0 AS MATERIALIZED (SELECT u AS node, CAST(1000000 AS BIGINT) AS rank FROM st)$rounds
           |SELECT node AS event_type, rank FROM r4
           |ORDER BY rank DESC, node""".stripMargin
      }),

    // ------------------------------------------------------------------
    // GINI COEFFICIENT of supplier volume concentration (the
    // inequality index — distinct from byte_gini_quality's impurity):
    // G = (2·Σ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx) over rank-ordered supplier
    // totals — exact integers to ONE division (TPC-H's uniform
    // generator shows a near-zero G; a real supply chain's long tail
    // would push it toward 1 — the concentration alarm supply-risk
    // dashboards watch). The rank is the bounded-supplier-frame
    // exception; at an unbounded grain the i·x sum would ride the
    // value-bucketed PrefixSum.
    "gini_concentration_suppliers" -> QueryDef(
      (s, dir) => {
        val sv = Tables.lineitem(s, dir)
          .groupBy(col("l_suppkey"))
          .agg(sum(col("l_quantity").cast("long")).as("v"))
        val r = sv.withColumn("i",
          row_number().over(Window.orderBy(col("v"), col("l_suppkey")))
            .cast("long"))
        r.agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
            sum(col("i") * col("v")).as("siv"))
          .select(col("n"), col("s"), col("siv"),
            ((lit(2L) * col("siv") - (col("n") + 1) * col("s")).cast("double") /
              (col("n") * col("s")).cast("double")).as("gini"))
      },
      """WITH sv AS (
         |  SELECT l_suppkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS v
         |  FROM lineitem GROUP BY 1),
         |r AS (SELECT v,
         |  CAST(row_number() OVER (ORDER BY v, l_suppkey) AS BIGINT) AS i FROM sv),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s,
         |  CAST(SUM(i * v) AS BIGINT) AS siv FROM r)
         |SELECT n, s, siv,
         |  CAST(2 * siv - (n + 1) * s AS DOUBLE) / CAST(n * s AS DOUBLE) AS gini
         |FROM m""".stripMargin),

    // ------------------------------------------------------------------
    // HERFINDAHL–HIRSCHMAN INDEX of supplier volume — Gini's
    // regulatory sibling (the DOJ merger-screen statistic): HHI =
    // Σ xᵢ² / (Σx)², rank-free so it needs NO ordered window at all —
    // one aggregation, exact integers, one division. The 10000-scaled
    // convention is emitted too (markets read <1500 unconcentrated).
    "hhi_concentration_suppliers" -> QueryDef(
      (s, dir) => {
        Tables.lineitem(s, dir)
          .groupBy(col("l_suppkey"))
          .agg(sum(col("l_quantity").cast("long")).as("v"))
          .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
            sum(col("v") * col("v")).as("svv"))
          // svv/sv/sv (two divisions) — sv² would overflow BIGINT near
          // SF 100 (total quantity ~1.5e10); dividing twice keeps every
          // operand in range at any SF, identical order both engines
          .select(col("n"), col("sv"), col("svv"),
            (col("svv").cast("double") / col("sv").cast("double") /
              col("sv").cast("double")).as("hhi"),
            (lit(10000.0) * col("svv").cast("double") /
              col("sv").cast("double") / col("sv").cast("double"))
              .as("hhi_10000"))
      },
      """WITH sv AS (
         |  SELECT l_suppkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS v
         |  FROM lineitem GROUP BY 1),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS sv,
         |  CAST(SUM(v * v) AS BIGINT) AS svv FROM sv)
         |SELECT n, sv, svv,
         |  CAST(svv AS DOUBLE) / CAST(sv AS DOUBLE) / CAST(sv AS DOUBLE) AS hhi,
         |  10000.0 * CAST(svv AS DOUBLE) / CAST(sv AS DOUBLE) / CAST(sv AS DOUBLE) AS hhi_10000
         |FROM m""".stripMargin),

    // ------------------------------------------------------------------
    // LORENZ CURVE by supplier decile — the picture behind the Gini
    // number (cumulative volume share vs cumulative population share;
    // the diagonal = perfect equality): exact ceiling-division decile
    // assignment over the ranked supplier frame (the ExactNtile
    // arithmetic), integer cumulative sums over the bounded 10-row
    // decile grain, one division per point. Completes the
    // concentration trio (gini / hhi / lorenz).
    "lorenz_curve_suppliers" -> QueryDef(
      (s, dir) => {
        val sv = Tables.lineitem(s, dir)
          .groupBy(col("l_suppkey"))
          .agg(sum(col("l_quantity").cast("long")).as("v"))
          .localCheckpoint() // feeds the totals AND the ranked scan
        val n = sv.count()
        val tot = sv.agg(sum(col("v"))).head().getLong(0)
        val dec = sv
          .withColumn("i", row_number().over(
            Window.orderBy(col("v"), col("l_suppkey"))).cast("long"))
          .select(expr(s"(10 * i + ${n - 1}) div ${n}").as("decile"),
            col("v"))
          .groupBy(col("decile"))
          .agg(count(lit(1)).as("n_suppliers"), sum(col("v")).as("v_sum"))
        dec
          .withColumn("cum_v", sum(col("v_sum")).over(
            Window.orderBy(col("decile"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select(col("decile"), col("n_suppliers"), col("v_sum"),
            col("cum_v"),
            (col("cum_v").cast("double") / lit(tot.toDouble)).as("cum_share"))
          .orderBy(col("decile"))
      },
      """WITH sv AS (
         |  SELECT l_suppkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS v
         |  FROM lineitem GROUP BY 1),
         |r AS (SELECT v,
         |  CAST(row_number() OVER (ORDER BY v, l_suppkey) AS BIGINT) AS i,
         |  CAST(count(*) OVER () AS BIGINT) AS n,
         |  CAST(SUM(v) OVER () AS BIGINT) AS s
         |  FROM sv),
         |g AS (
         |  SELECT (10 * i + n - 1) // n AS decile,
         |    CAST(count(*) AS BIGINT) AS n_suppliers,
         |    CAST(SUM(v) AS BIGINT) AS v_sum, CAST(min(s) AS BIGINT) AS s
         |  FROM r GROUP BY 1),
         |c AS (
         |  SELECT decile, n_suppliers, v_sum, s,
         |    CAST(SUM(v_sum) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_v
         |  FROM g)
         |SELECT decile, n_suppliers, v_sum, cum_v,
         |  CAST(cum_v AS DOUBLE) / CAST(s AS DOUBLE) AS cum_share
         |FROM c ORDER BY decile""".stripMargin),

    // ------------------------------------------------------------------
    // Consistent-hash ring placement (Karger et al. 1997, "Consistent
    // hashing and random trees" — public literature; the memcached/
    // Dynamo placement scheme, the virtual-node complement of
    // rendezvous_sharding): 8 servers × 16 vnodes hash onto the md5
    // ring, every order key routes to the first vnode clockwise
    // (min ring hash ≥ key hash; wraparound to the global ring min).
    // The ring is a BOUNDED 128-entry artifact: it collects into ONE
    // sorted array riding a broadcast 1-row cross join, and the
    // successor lookup is the SearchSortedCount binary-search kernel —
    // MAP-ONLY per key (the PrefixSum/abc_classification lesson: the
    // 128-row BNLJ range probe + min-agg formulation iso'd 5.4-6.1 s
    // at sf0.1; this form 1.5-1.7 s). Successor = first vnode STRICTLY
    // clockwise (h > kh; wraparound to the ring minimum), stated
    // identically in the oracle. Vnode count is what evens the
    // per-server load (the output IS that balance census).
    "consistent_hash_ring" -> QueryDef(
      (s, dir) => {
        import graft.functions.exprs
        val ring = s.range(0, 8).select(col("id").as("sid"))
          .crossJoin(s.range(0, 16).select(col("id").as("vid")))
          .select(col("sid"),
            md5(concat(lit("ring_"), col("sid").cast("string"), lit("_"),
              col("vid").cast("string"))).as("h"))
          .localCheckpoint() // feeds the sorted-array collect + owner join
        val ringArr = ring.agg(sort_array(collect_list(col("h"))).as("rh"))
        val k = Tables.orders(s, dir)
          .select(col("o_orderkey").cast("long").as("key"),
            md5(concat(lit("key_"), col("o_orderkey").cast("string"))).as("kh"))
        val owner = k.crossJoin(broadcast(ringArr))
          .withColumn("idx", exprs.searchSortedCount(col("rh"), col("kh")))
          .select(col("key"),
            element_at(col("rh"),
              when(col("idx") === size(col("rh")), lit(1))
                .otherwise(col("idx") + 1)).as("oh"))
        owner.join(broadcast(ring), col("h") === col("oh"))
          .groupBy(col("sid").as("server"))
          .agg(count(lit(1)).as("n_keys"),
            min(col("key")).as("min_key"), max(col("key")).as("max_key"))
          .orderBy(col("server"))
      },
      """WITH srv AS (SELECT unnest(range(0, 8)) AS sid),
        |vn AS (SELECT unnest(range(0, 16)) AS vid),
        |ring AS (
        |  SELECT sid, md5('ring_' || CAST(sid AS VARCHAR) || '_' || CAST(vid AS VARCHAR)) AS h
        |  FROM srv CROSS JOIN vn),
        |k AS (SELECT CAST(o_orderkey AS BIGINT) AS key,
        |        md5('key_' || CAST(o_orderkey AS VARCHAR)) AS kh FROM orders),
        |succ AS (
        |  SELECT k.key, min(r.h) AS owner_h
        |  FROM k JOIN ring r ON r.h > k.kh GROUP BY 1),
        |wrap AS (SELECT min(h) AS h0 FROM ring),
        |owner AS (
        |  SELECT k.key, coalesce(s.owner_h, w.h0) AS oh
        |  FROM k LEFT JOIN succ s ON s.key = k.key CROSS JOIN wrap w)
        |SELECT CAST(r.sid AS BIGINT) AS server, CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(min(o.key) AS BIGINT) AS min_key, CAST(max(o.key) AS BIGINT) AS max_key
        |FROM owner o JOIN ring r ON r.h = o.oh
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ------------------------------------------------------------------
    // Bloom-filter false-positive-rate audit (Bloom 1970 — public
    // literature): build the k=3 filter over the member keys
    // (o_orderkey ≡ 0 mod 8), size it m = 16·|members| (computed from
    // a broadcast 1-row count so the fill factor — and therefore the
    // measured FPR ≈ (1−e^{−k/16})³ ≈ 0.5% — is SF-invariant), probe
    // with disjoint non-members (≡ 1 mod 8), and report the measured
    // FPR. The bit set is a DISTINCT position frame (the distributed
    // form of the bitmap — at 100 TB this is exactly how a partitioned
    // bloom build shuffles: positions, not bitmaps); a probe is a
    // false positive iff all 3 of its positions are set (a position
    // equi-join + count). All integers until the one FPR division.
    "bloom_fpr_audit" -> QueryDef(
      (s, dir) => {
        val mem = Tables.orders(s, dir)
          .filter(col("o_orderkey") % 8 === 0)
          .select(col("o_orderkey").cast("long").as("key"))
          .localCheckpoint() // feeds the count, the bit build
        val nm = mem.agg(count(lit(1)).as("nmem"))
        val hx = s.range(0, 3).select(col("id").as("i"))
        // Built from the passed Columns (not an expr() string that
        // hardcodes the names 'key'/'i') so call-site renames bind
        // correctly; same function tree as the oracle's hex parse.
        def pos(key: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
          conv(substring(md5(concat(lit("b"), i.cast("string"), lit("_"),
            key.cast("string"))), 1, 8), 16, 10).cast("long") % (lit(16L) * col("nmem"))
        val bits = mem.crossJoin(broadcast(hx)).crossJoin(broadcast(nm))
          .select(pos(col("key"), col("i")).as("pos")).distinct()
          .localCheckpoint() // feeds bits_set count + the probe join
        val probes = Tables.orders(s, dir)
          .filter(col("o_orderkey") % 8 === 1)
          .select(col("o_orderkey").cast("long").as("key"))
        val ph = probes.crossJoin(broadcast(hx)).crossJoin(broadcast(nm))
          .select(col("key"), pos(col("key"), col("i")).as("pos"))
        val hits = ph.join(bits.withColumnRenamed("pos", "bpos"),
            col("pos") === col("bpos"), "left")
          .groupBy(col("key")).agg(count(col("bpos")).as("nhit"))
        hits
          .crossJoin(broadcast(nm))
          .crossJoin(broadcast(bits.agg(count(lit(1)).as("bits_set"))))
          .groupBy(col("nmem").as("n_members"), col("bits_set"))
          .agg(count(lit(1)).as("n_probes"),
            sum(when(col("nhit") === 3, 1L).otherwise(0L)).as("false_positives"))
          .select(col("n_members"), col("bits_set"), col("n_probes"),
            col("false_positives"),
            (col("false_positives").cast("double") / col("n_probes").cast("double"))
              .as("fpr"))
      },
      """WITH mem AS (SELECT CAST(o_orderkey AS BIGINT) AS key FROM orders WHERE o_orderkey % 8 = 0),
        |nm AS (SELECT CAST(count(*) AS BIGINT) AS nmem FROM mem),
        |probes AS (SELECT CAST(o_orderkey AS BIGINT) AS key FROM orders WHERE o_orderkey % 8 = 1),
        |hx AS (SELECT unnest(range(0, 3)) AS i),
        |bits AS (
        |  SELECT DISTINCT (CAST(('0x' || substring(md5('b' || CAST(i AS VARCHAR) || '_' || CAST(key AS VARCHAR)), 1, 8)) AS BIGINT) % (16 * nmem)) AS pos
        |  FROM mem CROSS JOIN hx CROSS JOIN nm),
        |ph AS (
        |  SELECT p.key, (CAST(('0x' || substring(md5('b' || CAST(h.i AS VARCHAR) || '_' || CAST(p.key AS VARCHAR)), 1, 8)) AS BIGINT) % (16 * nm.nmem)) AS pos
        |  FROM probes p CROSS JOIN hx h CROSS JOIN nm),
        |hits AS (
        |  SELECT ph.key, CAST(count(b.pos) AS BIGINT) AS nhit
        |  FROM ph LEFT JOIN bits b ON b.pos = ph.pos GROUP BY 1)
        |SELECT (SELECT nmem FROM nm) AS n_members,
        |  CAST((SELECT count(*) FROM bits) AS BIGINT) AS bits_set,
        |  CAST(count(*) AS BIGINT) AS n_probes,
        |  CAST(sum(CASE WHEN nhit = 3 THEN 1 ELSE 0 END) AS BIGINT) AS false_positives,
        |  CAST(sum(CASE WHEN nhit = 3 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS fpr
        |FROM hits""".stripMargin)
  )
}
