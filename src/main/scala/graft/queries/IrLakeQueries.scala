package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Md5Hash
import graft.operators.{DenseId, ExactNtile}

/** Lakehouse/IR infrastructure operators, oracle-verified: marketing
  * attribution over the event stream (the last-touch carry-forward
  * window), zone-map data skipping statistics (the file-pruning lever
  * that decides whether a 100 TB scan reads 100 TB or 1), and
  * inverted-index posting-list construction (the artifact behind
  * BM25/keyword retrieval).
  */
object IrLakeQueries {

  private val toksSql =
    "list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'), t -> len(t) > 0)"

  /** 1/log₂(i+1) DCG weights and their prefix sums for ranks 1..10,
    * rendered as shortest-round-trip double literals — the SAME text
    * lands in the Spark plan and the oracle SQL, so both engines
    * parse identical bits and the log never runs inside either
    * engine (the no-log parity law; this is how nDCG becomes
    * hash-exact when the earlier retrieval evals had to skip it).
    */
  private val dcgW: IndexedSeq[Double] =
    (1 to 10).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))
  private val dcgCum: IndexedSeq[Double] =
    dcgW.scanLeft(0.0)(_ + _).tail

  /** Session-scoped SUPPLIER-RANKS artifact (r15): the per-supplier
    * (rev, qty, cnt) aggregate with its three DenseId total-order
    * ranks — borda_fusion_suppliers and copeland_duel_suppliers each
    * re-ran the identical lineitem aggregate plus THREE distributed
    * DenseId numbering passes (six passes for one ranking table).
    * Built once per (session, corpus), checkpointed.
    */
  private val supplierRanks = new SessionScopedCache[org.apache.spark.sql.DataFrame](
    "IrLakeQueries.supplierRanks", (s, dir) => {
      val m = Tables.lineitem(s, dir)
        .groupBy(col("l_suppkey").cast("long").as("sk"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"),
          sum(col("l_quantity").cast("long")).as("qty"),
          count(lit(1)).as("cnt"))
      Seq((col("rev"), "r_rev"), (col("qty"), "r_qty"), (col("cnt"), "r_cnt"))
        .foldLeft(m) { case (acc, (c, name)) =>
          DenseId.withDenseId(acc, Seq(c.desc, col("sk")), name)
        }
        .localCheckpoint()
    })

  val defs: Map[String, QueryDef] = Map(

    // ------------------------------------------------------------------
    // nDCG@10 of the exact dense retriever against label relevance
    // (binary: the probe's class): DCG folds the rank-ordered
    // rel·w_rank terms left-to-right (the neyman ordered-fold — never
    // an unordered SUM over doubles), IDCG is the literal prefix-sum
    // array indexed at min(n_rel, 10), and the weights are
    // PRECOMPUTED log₂ literals, so no transcendental ever evaluates
    // in-engine. The ranking-quality metric the retrieval stack was
    // previously missing under the parity law.
    "ndcg_dense_eval" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val ret = graft.operators.Similarity.bruteForceTopK(
          emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 10)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
        val lab = emb.select(col("vec_id"), col("label"))
        val wArr = array(dcgW.map(w => lit(w)): _*)
        val cumArr = array(dcgCum.map(w => lit(w)): _*)
        val terms = ret
          .join(broadcast(lab.select(col("vec_id").as("query_id"),
            col("label").as("lq"))), "query_id")
          .join(lab.select(col("vec_id").as("neighbor_id"),
            col("label").as("ln")), "neighbor_id")
          .select(col("query_id"), col("rank"),
            (when(col("lq") === col("ln"), 1.0).otherwise(0.0) *
              element_at(wArr, col("rank"))).as("term"))
        val dcg = terms
          .groupBy(col("query_id"))
          .agg(sort_array(collect_list(struct(col("rank"), col("term"))))
            .as("ts"))
          .select(col("query_id"),
            aggregate(transform(col("ts"), t => t.getField("term")),
              lit(0.0), (a, x) => a + x).as("dcg"))
        val nrel = lab.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("label").as("lq"))
          .join(lab.select(col("vec_id").as("d"), col("label").as("ld")),
            col("lq") === col("ld") && col("query_id") =!= col("d"))
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_rel"))
        dcg.join(nrel, Seq("query_id"), "left")
          .select(col("query_id"),
            coalesce(col("n_rel"), lit(0L)).as("n_rel"), col("dcg"))
          .withColumn("idcg",
            when(col("n_rel") > 0,
              element_at(cumArr, least(col("n_rel"), lit(10L)).cast("int")))
              .otherwise(lit(0.0)))
          .withColumn("ndcg",
            when(col("idcg") > 0, col("dcg") / col("idcg")).otherwise(lit(0.0)))
          .orderBy(col("query_id"))
      }, {
        // element-wise CAST('…' AS DOUBLE): the VARCHAR→DOUBLE strtod
        // path parses the shortest-round-trip literal to the exact JVM
        // bits — a bare numeric list literal would land in
        // DECIMAL(17,16) first and round 17-significant-digit weights
        val wList = dcgW.map(w => s"CAST('$w' AS DOUBLE)")
          .mkString("[", ", ", "]")
        val cumList = dcgCum.map(w => s"CAST('$w' AS DOUBLE)")
          .mkString("[", ", ", "]")
        s"""WITH pairs AS (
           |  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id, p.label AS lq, c.label AS ln,
           |         list_cosine_similarity(c.embedding, p.embedding) AS sim
           |  FROM embeddings c, embeddings p
           |  WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id),
           |ret AS (
           |  SELECT query_id, lq, ln, rank FROM (
           |    SELECT query_id, lq, ln,
           |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
           |    FROM pairs) t WHERE rank <= 10),
           |terms AS (
           |  SELECT query_id, rank,
           |    CAST(CASE WHEN lq = ln THEN 1.0 ELSE 0.0 END AS DOUBLE) * ($wList)[rank] AS term
           |  FROM ret),
           |dcg AS (
           |  SELECT query_id,
           |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(term ORDER BY rank)), (a, b) -> a + b) AS dcg
           |  FROM terms GROUP BY 1),
           |nrel AS (
           |  SELECT q.vec_id AS query_id, CAST(count(*) AS BIGINT) AS n_rel
           |  FROM embeddings q JOIN embeddings d
           |    ON d.label = q.label AND d.vec_id <> q.vec_id
           |  WHERE q.vec_id < 10 GROUP BY 1)
           |SELECT dcg.query_id, coalesce(nrel.n_rel, 0) AS n_rel, dcg.dcg,
           |  CASE WHEN coalesce(nrel.n_rel, 0) > 0
           |       THEN ($cumList)[CAST(least(nrel.n_rel, 10) AS INT)]
           |       ELSE CAST(0.0 AS DOUBLE) END AS idcg,
           |  CASE WHEN coalesce(nrel.n_rel, 0) > 0 AND
           |            ($cumList)[CAST(least(nrel.n_rel, 10) AS INT)] > 0
           |       THEN dcg.dcg / ($cumList)[CAST(least(nrel.n_rel, 10) AS INT)]
           |       ELSE CAST(0.0 AS DOUBLE) END AS ndcg
           |FROM dcg LEFT JOIN nrel ON nrel.query_id = dcg.query_id
           |ORDER BY dcg.query_id""".stripMargin
      }),

    // ------------------------------------------------------------------
    // ERR (Chapelle et al. 2009) and RBP p=1/2 (Moffat & Zobel 2008 —
    // both public literature) of the same dense retriever/probe set as
    // ndcg_dense_eval. With binary grades R ∈ {0, 1/2} every cascade
    // product is a dyadic rational (exact in doubles) and RBP terms
    // are rel/2^rank; both metrics fold over the rank-ORDERED top-10
    // via sort_array+aggregate ≡ list ORDER BY+list_reduce (the ndcg
    // deterministic-sum recipe), the per-step /rank divisions in
    // identical textual order on both engines.
    "err_rbp_dense_eval" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val ret = graft.operators.Similarity.bruteForceTopK(
          emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 10)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
        val lab = emb.select(col("vec_id"), col("label"))
        val terms = ret
          .join(broadcast(lab.select(col("vec_id").as("query_id"),
            col("label").as("lq"))), "query_id")
          .join(lab.select(col("vec_id").as("neighbor_id"),
            col("label").as("ln")), "neighbor_id")
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            when(col("lq") === col("ln"), 1.0).otherwise(0.0).as("rel"))
        terms
          .groupBy(col("query_id"))
          .agg(sort_array(collect_list(struct(col("rank"), col("rel"))))
            .as("xs"))
          .select(col("query_id"), expr(
            """aggregate(xs,
              |  named_struct('rank', CAST(0 AS BIGINT), 'rel', CAST(0 AS DOUBLE),
              |    'p', CAST(1 AS DOUBLE), 'err', CAST(0 AS DOUBLE), 'rbp', CAST(0 AS DOUBLE)),
              |  (a, x) -> named_struct('rank', x.rank, 'rel', x.rel,
              |    'p', a.p * (CAST(1 AS DOUBLE) - x.rel / 2),
              |    'err', a.err + a.p * (x.rel / 2) / x.rank,
              |    'rbp', a.rbp + x.rel / CAST(shiftleft(1, CAST(x.rank AS INT)) AS BIGINT)))
              |""".stripMargin).as("st"))
          .select(col("query_id"), col("st.err").as("err"), col("st.rbp").as("rbp"))
          .orderBy(col("query_id"))
      },
      """WITH pairs AS (
        |  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         CASE WHEN p.label = c.label THEN 1 ELSE 0 END AS rel,
        |         list_cosine_similarity(c.embedding, p.embedding) AS sim
        |  FROM embeddings c, embeddings p
        |  WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id),
        |ret AS (
        |  SELECT query_id, rel, rank FROM (
        |    SELECT query_id, rel,
        |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |    FROM pairs) t WHERE rank <= 10),
        |folded AS (
        |  -- field ORDER is load-bearing: DuckDB's list_reduce mutates the
        |  -- accumulator struct field-by-field IN PLACE, so err/rbp must be
        |  -- computed from a.p BEFORE the p field overwrites it (measured:
        |  -- p-first halves every err term; Spark's named_struct is
        |  -- functional and order-free)
        |  SELECT query_id,
        |    list_reduce(
        |      list_prepend(struct_pack(rank := CAST(0 AS BIGINT), rel := CAST(0 AS DOUBLE),
        |                               err := CAST(0 AS DOUBLE), rbp := CAST(0 AS DOUBLE),
        |                               p := CAST(1 AS DOUBLE)),
        |        list(struct_pack(rank := CAST(rank AS BIGINT), rel := CAST(rel AS DOUBLE),
        |                         err := CAST(0 AS DOUBLE), rbp := CAST(0 AS DOUBLE),
        |                         p := CAST(0 AS DOUBLE))
        |             ORDER BY rank)),
        |      (a, x) -> struct_pack(rank := x.rank, rel := x.rel,
        |        err := a.err + a.p * (x.rel / 2) / x.rank,
        |        rbp := a.rbp + x.rel / CAST(1 << x.rank AS BIGINT),
        |        p := a.p * (CAST(1 AS DOUBLE) - x.rel / 2))) AS st
        |  FROM ret GROUP BY 1)
        |SELECT query_id, st.err AS err, st.rbp AS rbp FROM folded ORDER BY query_id""".stripMargin),

    // ------------------------------------------------------------------
    // MRR@10 of the same dense retriever over the same probe set as
    // ndcg_dense_eval (the three ranking metrics are directly
    // comparable). Reciprocal rank is ONE IEEE division 1.0/min(rank)
    // — exact-integer min, single correctly-rounded op, no fold needed
    // at all; queries with no relevant in the top-10 score 0.0 with a
    // sentinel rank of 0 (output columns must be non-null).
    "mrr_dense_eval" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val ret = graft.operators.Similarity.bruteForceTopK(
          emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 10)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
        val lab = emb.select(col("vec_id"), col("label"))
        val firstRel = ret
          .join(broadcast(lab.select(col("vec_id").as("query_id"),
            col("label").as("lq"))), "query_id")
          .join(lab.select(col("vec_id").as("neighbor_id"),
            col("label").as("ln")), "neighbor_id")
          .filter(col("lq") === col("ln"))
          .groupBy(col("query_id"))
          .agg(min(col("rank")).cast("long").as("fr"))
        emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"))
          .join(firstRel, Seq("query_id"), "left")
          .select(col("query_id"),
            coalesce(col("fr"), lit(0L)).as("first_rel_rank"),
            when(col("fr").isNotNull,
              lit(1.0) / col("fr").cast("double")).otherwise(lit(0.0)).as("rr"))
          .orderBy(col("query_id"))
      },
      """WITH pairs AS (
        |  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id, p.label AS lq, c.label AS ln,
        |         list_cosine_similarity(c.embedding, p.embedding) AS sim
        |  FROM embeddings c, embeddings p
        |  WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id),
        |ret AS (
        |  SELECT query_id, lq, ln, rank FROM (
        |    SELECT query_id, lq, ln,
        |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |    FROM pairs) t WHERE rank <= 10),
        |firstrel AS (
        |  SELECT query_id, CAST(min(rank) AS BIGINT) AS fr
        |  FROM ret WHERE lq = ln GROUP BY 1)
        |SELECT q.vec_id AS query_id,
        |  COALESCE(f.fr, CAST(0 AS BIGINT)) AS first_rel_rank,
        |  CASE WHEN f.fr IS NOT NULL
        |       THEN CAST(1.0 AS DOUBLE) / CAST(f.fr AS DOUBLE)
        |       ELSE CAST(0.0 AS DOUBLE) END AS rr
        |FROM embeddings q LEFT JOIN firstrel f ON f.query_id = q.vec_id
        |WHERE q.vec_id < 10 ORDER BY q.vec_id""".stripMargin),

    // ------------------------------------------------------------------
    // MAP@10 over the same probe set: average precision folds the
    // rank-ordered rel·(cum_rel/rank) terms left-to-right (each term is
    // an exact-integer cumulative count through ONE IEEE division; the
    // fold is the ndcg/neyman ordered-sum law — never an unordered SUM
    // over doubles), normalized by min(n_rel, 10) in a final single
    // division. Completes the nDCG/MRR/MAP comparable-metric trio.
    "map_dense_eval" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val ret = graft.operators.Similarity.bruteForceTopK(
          emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 10)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
        val lab = emb.select(col("vec_id"), col("label"))
        val w = Window.partitionBy(col("query_id")).orderBy(col("rank"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val terms = ret
          .join(broadcast(lab.select(col("vec_id").as("query_id"),
            col("label").as("lq"))), "query_id")
          .join(lab.select(col("vec_id").as("neighbor_id"),
            col("label").as("ln")), "neighbor_id")
          .select(col("query_id"), col("rank"),
            when(col("lq") === col("ln"), 1L).otherwise(0L).as("rel"))
          .withColumn("cum", sum(col("rel")).over(w))
          .select(col("query_id"), col("rank"),
            when(col("rel") === 1L,
              col("cum").cast("double") / col("rank").cast("double"))
              .otherwise(lit(0.0)).as("term"))
        val apSum = terms
          .groupBy(col("query_id"))
          .agg(sort_array(collect_list(struct(col("rank"), col("term"))))
            .as("ts"))
          .select(col("query_id"),
            aggregate(transform(col("ts"), t => t.getField("term")),
              lit(0.0), (a, x) => a + x).as("ap_sum"))
        val nrel = lab.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("label").as("lq"))
          .join(lab.select(col("vec_id").as("d"), col("label").as("ld")),
            col("lq") === col("ld") && col("query_id") =!= col("d"))
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_rel"))
        apSum.join(nrel, Seq("query_id"), "left")
          .select(col("query_id"),
            coalesce(col("n_rel"), lit(0L)).as("n_rel"), col("ap_sum"))
          .withColumn("ap",
            when(col("n_rel") > 0,
              col("ap_sum") /
                least(col("n_rel"), lit(10L)).cast("double"))
              .otherwise(lit(0.0)))
          .orderBy(col("query_id"))
      },
      """WITH pairs AS (
        |  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id, p.label AS lq, c.label AS ln,
        |         list_cosine_similarity(c.embedding, p.embedding) AS sim
        |  FROM embeddings c, embeddings p
        |  WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id),
        |ret AS (
        |  SELECT query_id, lq, ln, rank FROM (
        |    SELECT query_id, lq, ln,
        |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |    FROM pairs) t WHERE rank <= 10),
        |cums AS (
        |  SELECT query_id, rank,
        |    CASE WHEN lq = ln THEN 1 ELSE 0 END AS rel,
        |    SUM(CASE WHEN lq = ln THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY query_id ORDER BY rank) AS cum
        |  FROM ret),
        |terms AS (
        |  SELECT query_id, rank,
        |    CASE WHEN rel = 1
        |         THEN CAST(cum AS DOUBLE) / CAST(rank AS DOUBLE)
        |         ELSE CAST(0.0 AS DOUBLE) END AS term
        |  FROM cums),
        |apsum AS (
        |  SELECT query_id,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(term ORDER BY rank)), (a, b) -> a + b) AS ap_sum
        |  FROM terms GROUP BY 1),
        |nrel AS (
        |  SELECT q.vec_id AS query_id, CAST(count(*) AS BIGINT) AS n_rel
        |  FROM embeddings q JOIN embeddings d
        |    ON d.label = q.label AND d.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10 GROUP BY 1)
        |SELECT a.query_id, COALESCE(n.n_rel, CAST(0 AS BIGINT)) AS n_rel, a.ap_sum,
        |  CASE WHEN COALESCE(n.n_rel, 0) > 0
        |       THEN a.ap_sum / CAST(least(n.n_rel, 10) AS DOUBLE)
        |       ELSE CAST(0.0 AS DOUBLE) END AS ap
        |FROM apsum a LEFT JOIN nrel n ON n.query_id = a.query_id
        |ORDER BY a.query_id""".stripMargin),

    // ------------------------------------------------------------------
    // LAST-TOUCH attribution: every purchase credits the most recent
    // click/view by the same user within 24 h, via ONE carry-forward
    // window (max of a (ts, event_id, channel) struct over the
    // preceding rows — no self-join, no per-purchase subquery; the
    // struct max is lexicographic so the tie-break is deterministic).
    // Channel is derived from the touch event's payload. The window
    // partitions by user — bounded state per key, the same shape at
    // any scale.
    "attribution_last_touch" -> QueryDef(
      (s, dir) => {
        val k = get_json_object(col("props"), "$.k").cast("long") % 3
        val ev = Tables.events(s, dir)
          .filter(col("event_type").isin("click", "view", "purchase"))
          .select(
            col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("ts_us"),
            when(col("event_type").isin("click", "view"),
              when(k === 0, "organic").when(k === 1, "paid")
                .otherwise("social")).as("channel"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        ev.withColumn("carry",
            max(when(col("channel").isNotNull,
              struct(col("ts_us").as("ts"), col("event_id").as("eid"),
                col("channel").as("ch")))).over(w))
          .filter(col("event_type") === "purchase")
          .select(
            when(col("carry").isNull ||
              col("carry.ts") < col("ts_us") - 86400000000L, "unattributed")
              .otherwise(col("carry.ch")).as("channel"),
            col("user_id"))
          .groupBy(col("channel"))
          .agg(count(lit(1)).as("n_purchases"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("channel"))
      },
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |    CASE WHEN event_type IN ('click', 'view')
        |         THEN CASE CAST(json_extract_string(props, '$.k') AS BIGINT) % 3
        |              WHEN 0 THEN 'organic' WHEN 1 THEN 'paid' ELSE 'social' END
        |         ELSE NULL END AS channel
        |  FROM events WHERE event_type IN ('click', 'view', 'purchase')),
        |c AS (
        |  SELECT user_id, event_id, event_type, ts_us,
        |    max(CASE WHEN channel IS NOT NULL
        |             THEN struct_pack(ts := ts_us, eid := event_id, ch := channel) END)
        |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS carry
        |  FROM ev)
        |SELECT CASE WHEN carry IS NULL OR carry.ts < ts_us - 86400000000
        |            THEN 'unattributed' ELSE carry.ch END AS channel,
        |  CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM c WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY channel""".stripMargin),

    // ------------------------------------------------------------------
    // Zone-map data skipping audit: build per-shard min/max statistics
    // (shard = l_orderkey range, the write-order layout) for shipdate
    // AND orderkey, then evaluate a predicate workload against the
    // maps. Orderkey predicates prune almost everything (the layout
    // key); shipdate predicates prune ONLY fully out-of-range windows
    // (every shard spans the whole date range — the uncorrelated-
    // column lesson that motivates Z-ordering, cf. zorder_cell_stats).
    // n_rows_scanned vs n_rows_match is exactly the I/O amplification
    // a 100 TB scan pays for a bad layout. Stats pass is one agg at
    // the shard grain; the workload join is preds × shards (broadcast,
    // both tiny).
    "zone_map_pruning" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val li = Tables.lineitem(s, dir)
          .select(col("l_orderkey"), to_date(col("l_shipdate")).as("sd"))
        val zm = li
          .groupBy(expr("l_orderkey div 1024").as("shard_id"))
          .agg(count(lit(1)).as("n_rows"),
            min(col("sd")).as("mn_d"), max(col("sd")).as("mx_d"),
            min(col("l_orderkey")).as("mn_k"), max(col("l_orderkey")).as("mx_k"))
        val preds = Seq(
          (0, "shipdate", "1992-01-01", "1994-12-31"),
          (1, "shipdate", "1995-01-01", "1995-12-31"),
          (2, "shipdate", "2002-01-01", "2005-12-31"),
          (3, "orderkey", "0", "2047"),
          (4, "orderkey", "10240", "11263"),
          (5, "orderkey", "0", "9999999"))
          .toDF("pid", "dim", "lo", "hi")
        val scanned = when(col("dim") === "shipdate",
          when(col("mx_d") < col("lo").cast("date") ||
            col("mn_d") > col("hi").cast("date"), 0L).otherwise(1L))
          .otherwise(
            when(col("mx_k") < col("lo").cast("long") ||
              col("mn_k") > col("hi").cast("long"), 0L).otherwise(1L))
        val audit = preds.crossJoin(broadcast(zm))
          .withColumn("scanned", scanned)
          .groupBy(col("pid"), col("dim"), col("lo"), col("hi"))
          .agg(count(lit(1)).as("n_shards"),
            sum(col("scanned")).as("n_shards_scanned"),
            sum(col("scanned") * col("n_rows")).as("n_rows_scanned"))
        val matches = li.crossJoin(broadcast(preds))
          .filter(when(col("dim") === "shipdate",
            col("sd").between(col("lo").cast("date"), col("hi").cast("date")))
            .otherwise(col("l_orderkey")
              .between(col("lo").cast("long"), col("hi").cast("long"))))
          .groupBy(col("pid").as("mpid"))
          .agg(count(lit(1)).as("n_rows_match"))
        audit.join(matches, col("pid") === col("mpid"), "left")
          .select(col("pid"), col("dim"), col("lo"), col("hi"),
            col("n_shards"), col("n_shards_scanned"), col("n_rows_scanned"),
            coalesce(col("n_rows_match"), lit(0L)).as("n_rows_match"))
          .orderBy(col("pid"))
      },
      """WITH li AS (SELECT l_orderkey, CAST(l_shipdate AS DATE) AS sd FROM lineitem),
        |zm AS (
        |  SELECT l_orderkey // 1024 AS shard_id, CAST(count(*) AS BIGINT) AS n_rows,
        |    min(sd) AS mn_d, max(sd) AS mx_d,
        |    min(l_orderkey) AS mn_k, max(l_orderkey) AS mx_k
        |  FROM li GROUP BY 1),
        |preds(pid, dim, lo, hi) AS (VALUES
        |  (0, 'shipdate', '1992-01-01', '1994-12-31'),
        |  (1, 'shipdate', '1995-01-01', '1995-12-31'),
        |  (2, 'shipdate', '2002-01-01', '2005-12-31'),
        |  (3, 'orderkey', '0', '2047'),
        |  (4, 'orderkey', '10240', '11263'),
        |  (5, 'orderkey', '0', '9999999')),
        |j AS (
        |  SELECT p.pid, p.dim, p.lo, p.hi, z.n_rows,
        |    CASE WHEN p.dim = 'shipdate'
        |         THEN CASE WHEN z.mx_d < CAST(p.lo AS DATE) OR z.mn_d > CAST(p.hi AS DATE)
        |                   THEN 0 ELSE 1 END
        |         ELSE CASE WHEN z.mx_k < CAST(p.lo AS BIGINT) OR z.mn_k > CAST(p.hi AS BIGINT)
        |                   THEN 0 ELSE 1 END END AS scanned
        |  FROM preds p CROSS JOIN zm z),
        |audit AS (
        |  SELECT pid, dim, lo, hi, CAST(count(*) AS BIGINT) AS n_shards,
        |    CAST(SUM(scanned) AS BIGINT) AS n_shards_scanned,
        |    CAST(SUM(scanned * n_rows) AS BIGINT) AS n_rows_scanned
        |  FROM j GROUP BY 1, 2, 3, 4),
        |tr AS (
        |  SELECT p.pid, CAST(count(*) AS BIGINT) AS n_rows_match
        |  FROM preds p JOIN li l
        |    ON CASE WHEN p.dim = 'shipdate'
        |            THEN l.sd BETWEEN CAST(p.lo AS DATE) AND CAST(p.hi AS DATE)
        |            ELSE l.l_orderkey BETWEEN CAST(p.lo AS BIGINT) AND CAST(p.hi AS BIGINT) END
        |  GROUP BY 1)
        |SELECT a.pid, a.dim, a.lo, a.hi, a.n_shards, a.n_shards_scanned,
        |  a.n_rows_scanned, CAST(coalesce(tr.n_rows_match, 0) AS BIGINT) AS n_rows_match
        |FROM audit a LEFT JOIN tr ON a.pid = tr.pid
        |ORDER BY a.pid""".stripMargin),

    // ------------------------------------------------------------------
    // Query-likelihood retrieval with Dirichlet smoothing (Ponte &
    // Croft 1998 / Zhai & Lafferty 2001) — the second classic lexical
    // ranker beside bm25_topk: score(d) = Π_q (tf + μ·cf/T)/(len+μ),
    // μ=100. Same determinism recipe as naive_bayes_lang: each factor
    // is one fixed-form expression, folded left-to-right over the
    // term-sorted factor list, so the doubles hash-match. Collection
    // stats (cf, T) are 1-row/vocab-row broadcast frames; scoring is
    // map-side over the per-doc length frame; final top-10 is a
    // TakeOrderedAndProject, never a global sort.
    "query_likelihood_topk" -> QueryDef(
      (s, dir) => {
        val tk = Tables.documents(s, dir)
          .select(col("doc_id"),
            explode(graft.operators.TextOps.tokens(col("text"))).as("term"))
        val lens = tk.groupBy(col("doc_id")).agg(count(lit(1)).as("len"))
        val q = Seq("hash", "join", "filter")
        val cf = tk.filter(col("term").isin(q: _*))
          .groupBy(col("term")).agg(count(lit(1)).as("cf"))
        val tt = tk.agg(count(lit(1)).as("total"))
        val tf = tk.filter(col("term").isin(q: _*))
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        import s.implicits._
        val fac = lens
          .crossJoin(broadcast(q.toDF("term")))
          .crossJoin(broadcast(tt))
          .join(broadcast(cf), "term")
          .join(tf, Seq("doc_id", "term"), "left")
          .select(col("doc_id"), col("term"),
            ((coalesce(col("tf"), lit(0L)).cast("double") +
              lit(100) * (col("cf").cast("double") / col("total").cast("double"))) /
              (col("len") + 100).cast("double")).as("p"))
        fac.groupBy(col("doc_id"))
          .agg(sort_array(collect_list(struct(col("term"), col("p")))).as("ps"))
          .select(col("doc_id"),
            aggregate(transform(col("ps"), x => x.getField("p")),
              lit(1.0), (acc, x) => acc * x).as("score"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(10)
          .withColumn("rk",
            row_number().over(org.apache.spark.sql.expressions.Window
              .orderBy(col("score").desc, col("doc_id"))).cast("long"))
      },
      s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tk AS (SELECT doc_id, unnest(toks) AS term FROM d),
         |lens AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len FROM tk GROUP BY 1),
         |cf AS (SELECT term, CAST(count(*) AS BIGINT) AS cf FROM tk GROUP BY 1),
         |tt AS (SELECT CAST(count(*) AS BIGINT) AS total FROM tk),
         |q(term) AS (VALUES ('hash'), ('join'), ('filter')),
         |tf AS (SELECT tk.doc_id, tk.term, CAST(count(*) AS BIGINT) AS tf
         |       FROM tk JOIN q ON q.term = tk.term GROUP BY 1, 2),
         |fac AS (
         |  SELECT l.doc_id, q.term,
         |    (CAST(coalesce(tf.tf, 0) AS DOUBLE) +
         |     100 * (CAST(cf.cf AS DOUBLE) / CAST(tt.total AS DOUBLE))) /
         |    CAST(l.len + 100 AS DOUBLE) AS p
         |  FROM lens l CROSS JOIN q CROSS JOIN tt
         |  JOIN cf ON cf.term = q.term
         |  LEFT JOIN tf ON tf.doc_id = l.doc_id AND tf.term = q.term),
         |sc AS (
         |  SELECT doc_id,
         |    list_reduce(list_prepend(CAST(1 AS DOUBLE), list(p ORDER BY term)), (a, b) -> a * b) AS score
         |  FROM fac GROUP BY doc_id)
         |SELECT doc_id, score,
         |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rk
         |FROM sc ORDER BY score DESC, doc_id LIMIT 10""".stripMargin),

    // ------------------------------------------------------------------
    // Grid-bucketed 2D spatial radius join: points bucket into
    // r-sized cells, each left point probes its 3×3 cell neighborhood
    // via an EQUI-join on (cell_x, cell_y) — the distributed spatial-
    // join shape (a 2D band join; cf. events_range_join for 1D) that
    // replaces the quadratic distance cross join with a keyed shuffle.
    // Coordinates are deterministic md5-derived integers (the fixture
    // has no geo columns); the audited output is candidate vs verified
    // counts PER CELL OFFSET, and the oracle computes the same
    // numbers from the naive formulation — any candidate the grid
    // misses or invents shifts a count, so the equivalence proves the
    // pruning lossless (the PPJoin gate shape).
    "spatial_grid_join" -> QueryDef(
      (s, dir) => {
        def pts(df: org.apache.spark.sql.DataFrame, key: String, tag: String) =
          df.select(col(key).as("k"),
            (Md5Hash.lower63Col(concat(lit(tag + "x:"), col(key).cast("string")))
              % 100000).as("x"),
            (Md5Hash.lower63Col(concat(lit(tag + "y:"), col(key).cast("string")))
              % 100000).as("y"))
        val cp = pts(Tables.customer(s, dir), "c_custkey", "c")
        val sp = pts(Tables.supplier(s, dir), "s_suppkey", "s")
          .select(col("k").as("sk"), col("x").as("ux"), col("y").as("uy"),
            expr("x div 2000").as("gx"), expr("y div 2000").as("gy"))
        cp.withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
          .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
          .select(col("k"), col("x"), col("y"), col("dx"), col("dy"),
            (expr("x div 2000") + col("dx")).as("px"),
            (expr("y div 2000") + col("dy")).as("py"))
          .join(sp, col("px") === col("gx") && col("py") === col("gy"))
          .groupBy(col("dx"), col("dy"))
          .agg(count(lit(1)).as("n_candidates"),
            sum((abs(col("x") - col("ux")) <= 2000 &&
              abs(col("y") - col("uy")) <= 2000).cast("long")).as("n_matches"))
          .orderBy(col("dx"), col("dy"))
      }, {
        def md5(x: String) =
          s"(('0x' || substr(md5($x), 1, 16))::UBIGINT & 9223372036854775807::UBIGINT)::BIGINT"
        s"""WITH cp AS (SELECT c_custkey AS ck,
           |    ${md5("'cx:' || CAST(c_custkey AS VARCHAR)")} % 100000 AS x,
           |    ${md5("'cy:' || CAST(c_custkey AS VARCHAR)")} % 100000 AS y
           |  FROM customer),
           |spp AS (SELECT s_suppkey AS sk,
           |    ${md5("'sx:' || CAST(s_suppkey AS VARCHAR)")} % 100000 AS x,
           |    ${md5("'sy:' || CAST(s_suppkey AS VARCHAR)")} % 100000 AS y
           |  FROM supplier),
           |pairs AS (
           |  SELECT c.ck, s.sk,
           |    s.x // 2000 - c.x // 2000 AS dx, s.y // 2000 - c.y // 2000 AS dy,
           |    abs(c.x - s.x) <= 2000 AND abs(c.y - s.y) <= 2000 AS hit
           |  FROM cp c JOIN spp s
           |    ON s.x // 2000 BETWEEN c.x // 2000 - 1 AND c.x // 2000 + 1
           |   AND s.y // 2000 BETWEEN c.y // 2000 - 1 AND c.y // 2000 + 1)
           |SELECT dx, dy, CAST(count(*) AS BIGINT) AS n_candidates,
           |  CAST(count(*) FILTER (WHERE hit) AS BIGINT) AS n_matches
           |FROM pairs GROUP BY 1, 2 ORDER BY dx, dy""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Phrase + proximity search over a POSITIONAL inverted index —
    // the query side of `inverted_posting_lists`. Postings carry
    // (doc, pos); an exact phrase "hash join" is a positional
    // self-join with b.pos = a.pos + 1, and an ordered within-3
    // proximity query ("filter … customer") widens the band to
    // [pos+1, pos+3]. At scale the postings frame is term-filtered
    // BEFORE the join (two tiny term slices), so the join input is
    // df(term)-sized, not corpus-sized, and keys on doc_id — the
    // standard DAAT intersection shape.
    "phrase_proximity_search" -> QueryDef(
      (s, dir) => {
        val p = Tables.documents(s, dir)
          .select(col("doc_id"),
            posexplode(graft.operators.TextOps.tokens(col("text")))
              .as(Seq("pos", "term")))
        def pairs(t1: String, t2: String, lo: Int, hi: Int, out: String) =
          p.filter(col("term") === t1).as("a")
            .join(p.filter(col("term") === t2).as("b"),
              col("a.doc_id") === col("b.doc_id") &&
                col("b.pos").between(col("a.pos") + lo, col("a.pos") + hi))
            .groupBy(col("a.doc_id").as("doc_id"))
            .agg(count(lit(1)).as(out))
        pairs("hash", "join", 1, 1, "n_phrase")
          .join(pairs("filter", "customer", 1, 3, "n_prox"),
            Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            coalesce(col("n_phrase"), lit(0L)).as("n_phrase"),
            coalesce(col("n_prox"), lit(0L)).as("n_prox"))
          .orderBy(col("doc_id"))
      },
      s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |p AS (SELECT doc_id, i - 1 AS pos, toks[i] AS term
         |      FROM d, unnest(range(1, len(toks) + 1)) r(i)),
         |ph AS (
         |  SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_phrase
         |  FROM p a JOIN p b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         |  WHERE a.term = 'hash' AND b.term = 'join'
         |  GROUP BY 1),
         |px AS (
         |  SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_prox
         |  FROM p a JOIN p b ON a.doc_id = b.doc_id
         |    AND b.pos BETWEEN a.pos + 1 AND a.pos + 3
         |  WHERE a.term = 'filter' AND b.term = 'customer'
         |  GROUP BY 1)
         |SELECT coalesce(ph.doc_id, px.doc_id) AS doc_id,
         |  coalesce(n_phrase, 0) AS n_phrase, coalesce(n_prox, 0) AS n_prox
         |FROM ph FULL JOIN px ON ph.doc_id = px.doc_id
         |ORDER BY doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // Inverted-index posting lists at the term grain: document
    // frequency, total term frequency, posting-list envelope and an
    // md5 digest of the full ordered posting list (the digest stands
    // in for the list itself so the verified artifact stays
    // row-bounded while still pinning EVERY posting and its order).
    // One tokenize→(term,doc) agg→term agg chain — the classic
    // index-build shuffle, keyed by term, map-side combined.
    "inverted_posting_lists" -> QueryDef(
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("doc_id"),
            explode(graft.operators.TextOps.tokens(col("text"))).as("term"))
          .groupBy(col("term"), col("doc_id"))
          .agg(count(lit(1)).as("tf"))
          .groupBy(col("term"))
          .agg(
            count(lit(1)).as("df"),
            sum(col("tf")).as("total_tf"),
            min(col("doc_id")).as("min_doc"),
            max(col("doc_id")).as("max_doc"),
            md5(concat_ws(",",
              transform(sort_array(collect_list(col("doc_id"))),
                d => d.cast("string"))).cast("binary")).as("postings_md5"))
          .orderBy(col("term")),
      s"""WITH tk AS (SELECT doc_id, unnest($toksSql) AS t FROM documents),
         |td AS (SELECT t AS term, doc_id, CAST(count(*) AS BIGINT) AS tf
         |       FROM tk GROUP BY 1, 2)
         |SELECT term, CAST(count(*) AS BIGINT) AS df,
         |  CAST(SUM(tf) AS BIGINT) AS total_tf,
         |  CAST(min(doc_id) AS BIGINT) AS min_doc,
         |  CAST(max(doc_id) AS BIGINT) AS max_doc,
         |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS postings_md5
         |FROM td GROUP BY term ORDER BY term""".stripMargin),

    // ------------------------------------------------------------------
    // Pseudo-relevance feedback (RM3-lite, Lavrenko & Croft 2001 shape):
    // BM25 for the seed query {data, query} → top-3 feedback docs →
    // top-5 expansion terms by exact feedback term-frequency (integer
    // ranking, alphabetic terms only, seed excluded) → rescore the
    // corpus with the expanded term set. The expansion set is
    // data-dependent, so per-doc totals use the term-sorted fold
    // (sort_array + aggregate ≡ DuckDB list ORDER BY + list_reduce, the
    // query_likelihood recipe) instead of the fixed-column pivot.
    // Collection stats ride broadcast 1-row frames; both scoring passes
    // prune tf through the term join before any double math.
    "prf_query_expansion" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val seed = Seq("data", "query")
        val tk = Tables.documents(s, dir)
          .select(col("doc_id"),
            explode(graft.operators.TextOps.tokens(col("text"))).as("token"))
        val tf = tk.groupBy(col("doc_id"), col("token"))
          .agg(count(lit(1)).as("tf"))
          .localCheckpoint() // reused by both scoring passes + expansion
        val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("doc_len"))
        val n = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
        val tl = dl.agg(sum(col("doc_len")).as("total_len"))
        def bm25Pass(termDf: org.apache.spark.sql.DataFrame) = {
          val dfq = tf.join(broadcast(termDf), "token")
            .groupBy(col("token")).agg(count(lit(1)).as("doc_freq"))
          val sc = tf.join(broadcast(dfq), "token")
            .join(dl, "doc_id")
            .crossJoin(broadcast(n)).crossJoin(broadcast(tl))
            .select(col("doc_id"), col("token"),
              ((col("n_docs").cast("double") / col("doc_freq")) *
                ((col("tf").cast("double") * lit(1.2 + 1.0)) /
                  (col("tf").cast("double") + lit(1.2) * (lit(1.0 - 0.75) +
                    (lit(0.75) * col("doc_len").cast("double")) /
                      (col("total_len").cast("double") / col("n_docs"))))))
                .as("s"))
          sc.groupBy(col("doc_id"))
            .agg(sort_array(collect_list(struct(col("token"), col("s")))).as("ps"))
            .select(col("doc_id"),
              aggregate(transform(col("ps"), x => x.getField("s")),
                lit(0.0), (a, x) => a + x).as("score"))
        }
        val fb = bm25Pass(seed.toDF("token"))
          .orderBy(col("score").desc, col("doc_id")).limit(3)
          .select(col("doc_id"))
        val exp = tf.join(broadcast(fb), "doc_id")
          .filter(!col("token").isin(seed: _*) && col("token").rlike("^[a-z]+$"))
          .groupBy(col("token")).agg(sum(col("tf")).as("fb_tf"))
          .orderBy(col("fb_tf").desc, col("token")).limit(5)
          .select(col("token"))
        bm25Pass(exp)
          .orderBy(col("score").desc, col("doc_id")).limit(10)
          .withColumn("rk",
            row_number().over(org.apache.spark.sql.expressions.Window
              .orderBy(col("score").desc, col("doc_id"))).cast("long"))
      },
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
         |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
         |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS doc_len FROM tf GROUP BY 1),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |tl AS (SELECT CAST(SUM(doc_len) AS BIGINT) AS total_len FROM dl),
         |seed(token) AS (VALUES ('data'), ('query')),
         |dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS doc_freq
         |        FROM tf WHERE token IN (SELECT token FROM seed) GROUP BY 1),
         |sc0 AS (
         |  SELECT tf.doc_id, tf.token,
         |    (CAST(n.n_docs AS DOUBLE) / dfq.doc_freq) *
         |    ((CAST(tf.tf AS DOUBLE) * (1.2 + 1.0)) /
         |     (CAST(tf.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 +
         |       (0.75 * CAST(dl.doc_len AS DOUBLE)) /
         |       (CAST(tl.total_len AS DOUBLE) / n.n_docs)))) AS s
         |  FROM tf JOIN dl ON tf.doc_id = dl.doc_id
         |  JOIN dfq ON tf.token = dfq.token
         |  CROSS JOIN n CROSS JOIN tl),
         |r0 AS (
         |  SELECT doc_id,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(s ORDER BY token)), (a, b) -> a + b) AS score
         |  FROM sc0 GROUP BY doc_id),
         |fb AS (SELECT doc_id FROM r0 ORDER BY score DESC, doc_id LIMIT 3),
         |exp AS (
         |  SELECT tf.token, CAST(SUM(tf.tf) AS BIGINT) AS fb_tf
         |  FROM tf JOIN fb ON tf.doc_id = fb.doc_id
         |  WHERE tf.token NOT IN (SELECT token FROM seed)
         |    AND regexp_matches(tf.token, '^[a-z]+$$')
         |  GROUP BY 1 ORDER BY fb_tf DESC, token LIMIT 5),
         |dfe AS (SELECT tf.token, CAST(count(*) AS BIGINT) AS doc_freq
         |        FROM tf JOIN exp ON tf.token = exp.token GROUP BY 1),
         |sc1 AS (
         |  SELECT tf.doc_id, tf.token,
         |    (CAST(n.n_docs AS DOUBLE) / dfe.doc_freq) *
         |    ((CAST(tf.tf AS DOUBLE) * (1.2 + 1.0)) /
         |     (CAST(tf.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 +
         |       (0.75 * CAST(dl.doc_len AS DOUBLE)) /
         |       (CAST(tl.total_len AS DOUBLE) / n.n_docs)))) AS s
         |  FROM tf JOIN dl ON tf.doc_id = dl.doc_id
         |  JOIN dfe ON tf.token = dfe.token
         |  CROSS JOIN n CROSS JOIN tl),
         |r1 AS (
         |  SELECT doc_id,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(s ORDER BY token)), (a, b) -> a + b) AS score
         |  FROM sc1 GROUP BY doc_id)
         |SELECT doc_id, score,
         |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rk
         |FROM r1 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin),

    // ------------------------------------------------------------------
    // Posting-list delta+varint size estimation (the inverted-index
    // compression ledger): per term, the byte cost of delta-encoded
    // doc-id postings under LEB128 varints vs raw 8-byte ids. Deltas
    // come from one term-partitioned lag window over the distinct
    // postings; varint widths are exact integer CASE bands. This is
    // the sizing pass an index builder runs before choosing block
    // layouts — output is the 20 highest-df terms.
    "postings_delta_bytes" -> QueryDef(
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("term")).orderBy(col("doc_id"))
        val tok = Tables.documents(s, dir)
          .select(col("doc_id"),
            explode(graft.operators.TextOps.tokens(col("text"))).as("term"))
          .distinct()
        val d = tok.withColumn("delta",
          col("doc_id") - coalesce(lag(col("doc_id"), 1).over(w), lit(-1L)))
        val b = d.withColumn("vbytes",
          when(col("delta") < 128, lit(1L))
            .when(col("delta") < 16384, lit(2L))
            .when(col("delta") < 2097152, lit(3L))
            .otherwise(lit(4L)))
        b.groupBy(col("term"))
          .agg(count(lit(1)).as("df"), sum(col("vbytes")).as("delta_bytes"),
            (count(lit(1)) * 8).as("raw_bytes"))
          .select(col("term"), col("df"), col("delta_bytes"), col("raw_bytes"),
            (col("delta_bytes").cast("double") / col("raw_bytes").cast("double"))
              .as("compression"))
          .orderBy(col("df").desc, col("term"))
          .limit(20)
      },
      s"""WITH tok AS (SELECT DISTINCT doc_id, unnest($toksSql) AS term FROM documents),
         |d AS (
         |  SELECT term, doc_id,
         |    doc_id - coalesce(lag(doc_id) OVER (PARTITION BY term ORDER BY doc_id), -1) AS delta
         |  FROM tok),
         |b AS (
         |  SELECT term, doc_id,
         |    CASE WHEN delta < 128 THEN 1
         |         WHEN delta < 16384 THEN 2
         |         WHEN delta < 2097152 THEN 3
         |         ELSE 4 END AS vbytes
         |  FROM d),
         |g AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS df,
         |    CAST(SUM(vbytes) AS BIGINT) AS delta_bytes,
         |    CAST(count(*) * 8 AS BIGINT) AS raw_bytes
         |  FROM b GROUP BY 1)
         |SELECT term, df, delta_bytes, raw_bytes,
         |  CAST(delta_bytes AS DOUBLE) / CAST(raw_bytes AS DOUBLE) AS compression
         |FROM g ORDER BY df DESC, term LIMIT 20""".stripMargin),

    // ------------------------------------------------------------------
    // MMR diverse re-rank (Carbonell & Goldstein 1998, λ=1/2 scaled to
    // integers as 2·rel − maxsim): greedy top-5 diversification of the
    // 20 most query-relevant vectors. Relevance and pairwise
    // similarities are EXACT integer dots on the QuantizeVec grid, so
    // every greedy argmax replays bit-exactly; the candidate set is
    // bounded (top-20), the pair frame is candidate², and the driver
    // sees one row per round — the greedy-rounds recipe shared with
    // kcenter/submodular.
    "mmr_diverse_rerank" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val pts = Tables.embeddings(s, dir)
          .select(col("vec_id"),
            graft.functions.exprs.quantizeVec(col("embedding"), 1000)
              .cast("array<double>").as("v"))
          .localCheckpoint()
        val qv = pts.filter(col("vec_id") === 0)
          .select(col("v").as("qv"))
        val rel = pts.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(qv))
          .select(col("vec_id"), col("v"),
            graft.functions.exprs.vecDot(col("v"), col("qv")).cast("long")
              .as("rel"))
        val cand = rel.orderBy(col("rel").desc, col("vec_id")).limit(20)
          .localCheckpoint()
        val sim = cand.select(col("vec_id").as("ia"), col("v").as("va"))
          .join(broadcast(cand.select(col("vec_id").as("ib"),
            col("v").as("vb"))), col("ia") =!= col("ib"))
          .select(col("ia"), col("ib"),
            graft.functions.exprs.vecDot(col("va"), col("vb")).cast("long")
              .as("s"))
          .localCheckpoint()
        val first = cand.orderBy(col("rel").desc, col("vec_id")).limit(1)
          .collect()(0)
        val out = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]()
        out += ((1, first.getLong(0), 2L * first.getLong(2)))
        var selected = Seq(first.getLong(0))
        var r = 2
        while (r <= 5) {
          val pick = cand
            .filter(!col("vec_id").isin(selected: _*))
            .join(sim.filter(col("ib").isin(selected: _*))
                .groupBy(col("ia")).agg(max(col("s")).as("msim")),
              col("vec_id") === col("ia"))
            .select(col("vec_id"), (lit(2L) * col("rel") - col("msim")).as("sc"))
            .orderBy(col("sc").desc, col("vec_id")).limit(1)
            .collect()(0)
          out += ((r, pick.getLong(0), pick.getLong(1)))
          selected = selected :+ pick.getLong(0)
          r += 1
        }
        out.toSeq.toDF("rank", "vec_id", "mmr_score").orderBy(col("rank"))
      }, {
        val sb = new StringBuilder(
          """WITH q AS MATERIALIZED (
            |  SELECT vec_id, i AS dim,
            |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS v
            |  FROM embeddings, unnest(range(1, 65)) r(i)),
            |qv AS (SELECT dim, v FROM q WHERE vec_id = 0),
            |rel AS (
            |  SELECT q.vec_id, CAST(SUM(q.v * qv.v) AS BIGINT) AS rel
            |  FROM q JOIN qv ON qv.dim = q.dim
            |  WHERE q.vec_id <> 0
            |  GROUP BY 1),
            |cand AS MATERIALIZED (SELECT vec_id, rel FROM rel ORDER BY rel DESC, vec_id LIMIT 20),
            |sim0 AS MATERIALIZED (
            |  SELECT a.vec_id AS ia, b.vec_id AS ib, CAST(SUM(qa.v * qb.v) AS BIGINT) AS s
            |  FROM cand a JOIN cand b ON a.vec_id < b.vec_id
            |  JOIN q qa ON qa.vec_id = a.vec_id
            |  JOIN q qb ON qb.vec_id = b.vec_id AND qb.dim = qa.dim
            |  GROUP BY 1, 2),
            |sim AS MATERIALIZED (SELECT ia, ib, s FROM sim0 UNION ALL SELECT ib AS ia, ia AS ib, s FROM sim0),
            |p1 AS (SELECT vec_id, rel FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
            |sel1 AS (SELECT vec_id FROM p1)""".stripMargin)
        val outs = scala.collection.mutable.ArrayBuffer(
          "SELECT 1 AS rank, vec_id, CAST(2 * rel AS BIGINT) AS mmr_score FROM p1")
        for (r <- 2 to 5) {
          sb ++= s""",
            |ms$r AS (
            |  SELECT c.vec_id, c.rel, CAST(max(s.s) AS BIGINT) AS msim
            |  FROM cand c
            |  JOIN sim s ON s.ia = c.vec_id AND s.ib IN (SELECT vec_id FROM sel${r - 1})
            |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${r - 1})
            |  GROUP BY 1, 2),
            |p$r AS (SELECT vec_id, CAST(2 * rel - msim AS BIGINT) AS sc FROM ms$r
            |        ORDER BY sc DESC, vec_id LIMIT 1),
            |sel$r AS (SELECT vec_id FROM sel${r - 1} UNION SELECT vec_id FROM p$r)""".stripMargin
          outs += s"SELECT $r AS rank, vec_id, sc AS mmr_score FROM p$r"
        }
        sb ++= "\nSELECT CAST(rank AS INT) AS rank, vec_id, mmr_score FROM (" +
          outs.mkString(" UNION ALL ") + ") ORDER BY rank"
        sb.toString
      }),

    // ------------------------------------------------------------------
    // CHAMPION LISTS (impact-ordered posting truncation — Manning IR
    // §7.1.3): per query term keep only its top-3 docs by tf; the
    // candidate pool is the UNION of the query terms' champion lists,
    // fully scored, and the top-5 is compared against the
    // full-corpus evaluation (in_full_top5) — the truncation-recall
    // eval that says whether r was big enough. Everything stays
    // integer (tf sums); the tf frame aggregates AFTER the broadcast
    // query-term semi-join, so a fixed query never pays the
    // full-vocabulary aggregation; the champion cut is the native
    // bounded-heap TopKPerGroup; the full-corpus top-5 is
    // TakeOrderedAndProject (never a corpus-wide window).
    "champion_lists_topk" -> QueryDef(
      (s, dir) => {
        val qt = broadcast {
          import s.implicits._
          Seq("join", "hash", "filter").toDF("t")
        }
        val tf = Tables.documents(s, dir)
          .select(col("doc_id"),
            explode(graft.operators.TextOps.tokens(col("text"))).as("t"))
          .join(qt, Seq("t"))
          .groupBy(col("doc_id"), col("t"))
          .agg(count(lit(1)).as("tf"))
          .localCheckpoint() // feeds champion cut, candidate score, full score
        val champ = graft.plans.TopKPerGroup(
          tf, Seq("t"), Seq(("tf", true), ("doc_id", false)), 3)
        val cand = champ.select(col("doc_id")).distinct()
        val cs = cand.join(tf, Seq("doc_id"))
          .groupBy(col("doc_id")).agg(sum(col("tf")).as("score"))
        val full5 = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("score"))
          .orderBy(col("score").desc, col("doc_id")).limit(5)
          .select(col("doc_id"), lit(1).as("in_full_top5"))
        // rank window is global but BOUNDED: ≤ 3 docs × 3 terms candidates
        cs.withColumn("rank",
            row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
          .filter(col("rank") <= 5)
          .join(broadcast(full5), Seq("doc_id"), "left")
          .select(col("rank"), col("doc_id"), col("score"),
            coalesce(col("in_full_top5"), lit(0)).as("in_full_top5"))
          .orderBy(col("rank"))
      },
      s"""WITH tk AS (SELECT doc_id, unnest($toksSql) AS t FROM documents),
         |qt AS (SELECT unnest(['join', 'hash', 'filter']) AS t),
         |tf AS (
         |  SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
         |  FROM tk JOIN qt USING (t) GROUP BY 1, 2),
         |champ AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, row_number() OVER (
         |      PARTITION BY t ORDER BY tf DESC, doc_id) AS r
         |    FROM tf)
         |  WHERE r <= 3),
         |cand AS (SELECT DISTINCT doc_id FROM champ),
         |cs AS (
         |  SELECT c.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS score
         |  FROM cand c JOIN tf ON tf.doc_id = c.doc_id GROUP BY 1),
         |f5 AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, row_number() OVER (ORDER BY SUM(tf) DESC, doc_id) AS r
         |    FROM tf GROUP BY doc_id)
         |  WHERE r <= 5),
         |ct AS (
         |  SELECT doc_id, score,
         |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
         |  FROM cs)
         |SELECT ct.rank, ct.doc_id, ct.score,
         |  CAST(CASE WHEN f5.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS in_full_top5
         |FROM ct LEFT JOIN f5 ON f5.doc_id = ct.doc_id
         |WHERE ct.rank <= 5 ORDER BY ct.rank""".stripMargin),

    // ------------------------------------------------------------------
    // Borda-count rank aggregation (Borda 1781; de Borda's election
    // method — public literature) fusing three supplier rankers
    // (revenue, shipped quantity, lineitem count — deterministic
    // (measure DESC, suppkey) total orders): each ranker awards
    // N − rank points, the fused score is their sum — the positional
    // complement of ann_rrf_fusion's reciprocal-rank form, all exact
    // integers. Ranks are assigned by operators.DenseId (range-
    // partitioned distributed numbering — suppliers GROW with SF, so
    // a single-partition row_number window is the wrong plan; DenseId
    // is row_number's scale-correct twin, id-for-id). Revenue is the
    // exact DECIMAL sum — used only for ORDERING, never converted to
    // double, so no 2^53 ceiling applies. The 1-row N aggregate
    // broadcasts (J9 shape).
    "borda_fusion_suppliers" -> QueryDef(
      (s, dir) => {
        // shared checkpointed supplier-ranks artifact (r15); the 1-row
        // N aggregate counts the ranked frame itself (same rows as the
        // pre-rank aggregate — DenseId adds columns, never rows)
        val ranked = supplierRanks(s, dir)
        ranked
          .crossJoin(broadcast(ranked.agg(count(lit(1)).as("n"))))
          .select(col("sk").as("s_suppkey"),
            (lit(3L) * col("n") - col("r_rev") - col("r_qty") - col("r_cnt"))
              .as("borda_score"),
            col("r_rev"), col("r_qty"), col("r_cnt"))
          .orderBy(col("borda_score").desc, col("s_suppkey"))
          .limit(15)
      },
      """WITH m AS (
        |  SELECT CAST(l_suppkey AS BIGINT) AS sk,
        |    sum(l_extendedprice * (1 - l_discount)) AS rev,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1),
        |ranked AS (
        |  SELECT sk,
        |    row_number() OVER (ORDER BY rev DESC, sk) AS r_rev,
        |    row_number() OVER (ORDER BY qty DESC, sk) AS r_qty,
        |    row_number() OVER (ORDER BY cnt DESC, sk) AS r_cnt,
        |    (SELECT count(*) FROM m) AS n
        |  FROM m)
        |SELECT sk AS s_suppkey,
        |  CAST(3*n - r_rev - r_qty - r_cnt AS BIGINT) AS borda_score,
        |  CAST(r_rev AS BIGINT) AS r_rev, CAST(r_qty AS BIGINT) AS r_qty,
        |  CAST(r_cnt AS BIGINT) AS r_cnt
        |FROM ranked ORDER BY borda_score DESC, s_suppkey LIMIT 15""".stripMargin),

    // ------------------------------------------------------------------
    // Copeland pairwise rank aggregation (Copeland 1951 — public
    // literature) over the same three supplier rankers: among the
    // Borda top-12, candidate a beats b if it outranks b in ≥ 2 of the
    // 3 rankers; the Copeland score is wins − losses. The duel product
    // is the bounded 12×11 top-candidate square (a deliberate
    // broadcast product — at any SF the duel set is the top-k, never
    // the universe); ranks come from the same DenseId distributed
    // numbering as borda_fusion_suppliers. All integers.
    "copeland_duel_suppliers" -> QueryDef(
      (s, dir) => {
        // shared checkpointed supplier-ranks artifact (r15)
        val ranked = supplierRanks(s, dir)
        val top = ranked
          .crossJoin(broadcast(ranked.agg(count(lit(1)).as("n"))))
          .orderBy((lit(3L) * col("n") - col("r_rev") - col("r_qty") - col("r_cnt")).desc,
            col("sk"))
          .limit(12)
          .select(col("sk"), col("r_rev"), col("r_qty"), col("r_cnt"))
        val duels = top.select(col("sk").as("sa"), col("r_rev").as("ar"),
            col("r_qty").as("aq"), col("r_cnt").as("ac"))
          .join(broadcast(top.select(col("sk").as("sb"), col("r_rev").as("br"),
            col("r_qty").as("bq"), col("r_cnt").as("bc"))),
            col("sa") =!= col("sb"))
          .select(col("sa"),
            (when(col("ar") < col("br"), 1L).otherwise(0L) +
              when(col("aq") < col("bq"), 1L).otherwise(0L) +
              when(col("ac") < col("bc"), 1L).otherwise(0L)).as("wins_a"))
        duels.groupBy(col("sa").as("s_suppkey"))
          .agg(sum(when(col("wins_a") >= 2, 1L).otherwise(0L)).as("copeland_wins"),
            sum(when(col("wins_a") <= 1, 1L).otherwise(0L)).as("copeland_losses"),
            (sum(when(col("wins_a") >= 2, 1L).otherwise(0L)) -
              sum(when(col("wins_a") <= 1, 1L).otherwise(0L))).as("copeland_score"))
          .orderBy(col("copeland_score").desc, col("s_suppkey"))
      },
      """WITH m AS (
        |  SELECT CAST(l_suppkey AS BIGINT) AS sk,
        |    sum(l_extendedprice * (1 - l_discount)) AS rev,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1),
        |ranked AS (
        |  SELECT sk,
        |    row_number() OVER (ORDER BY rev DESC, sk) AS r_rev,
        |    row_number() OVER (ORDER BY qty DESC, sk) AS r_qty,
        |    row_number() OVER (ORDER BY cnt DESC, sk) AS r_cnt,
        |    (SELECT count(*) FROM m) AS n
        |  FROM m),
        |top AS (
        |  SELECT sk, r_rev, r_qty, r_cnt FROM ranked
        |  ORDER BY 3*n - r_rev - r_qty - r_cnt DESC, sk LIMIT 12),
        |duels AS (
        |  SELECT a.sk AS sa,
        |    (CASE WHEN a.r_rev < b.r_rev THEN 1 ELSE 0 END +
        |     CASE WHEN a.r_qty < b.r_qty THEN 1 ELSE 0 END +
        |     CASE WHEN a.r_cnt < b.r_cnt THEN 1 ELSE 0 END) AS wins_a
        |  FROM top a JOIN top b ON a.sk <> b.sk)
        |SELECT sa AS s_suppkey,
        |  CAST(sum(CASE WHEN wins_a >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS copeland_wins,
        |  CAST(sum(CASE WHEN wins_a <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS copeland_losses,
        |  CAST(sum(CASE WHEN wins_a >= 2 THEN 1 ELSE 0 END)
        |     - sum(CASE WHEN wins_a <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS copeland_score
        |FROM duels GROUP BY 1 ORDER BY copeland_score DESC, s_suppkey""".stripMargin),

    // ------------------------------------------------------------------
    // Equi-depth histogram selectivity estimation audited against the
    // exact count — the optimizer-statistics quality eval (Selinger
    // 1979 System R; Piatetsky-Shapiro & Connell 1984 — public
    // literature): a 16-bucket equi-depth histogram over lineitem
    // price cents (ExactNtile — distributed ranking, NO
    // single-partition ntile window), then for three range predicates
    // price ≤ X the histogram estimate = full buckets below + linear
    // interpolation inside the (unique) straddling bucket, compared to
    // the true count. Bucket (lo, hi, count) stats are deterministic
    // under ties even though tied-row bucket assignment is not — the
    // sorted multiset fixes every rank boundary. The 3-probe × value
    // scan is the eval's exact-truth leg (the zone_map_pruning shape).
    "histogram_selectivity_eval" -> QueryDef(
      (s, dir) => {
        val v = Tables.lineitem(s, dir)
          .select(expr("CAST(CAST(l_extendedprice AS DECIMAL(20,2)) * 100 AS BIGINT)").as("cents"))
        val bounds = ExactNtile.withNtile(v, Seq(col("cents")), 16, "b")
          .groupBy(col("b"))
          .agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"),
            count(lit(1)).as("c"))
        val probes = Seq(2000000L, 5000000L, 8000000L)
        val probeDf = broadcast(
          probes.foldLeft(Option.empty[org.apache.spark.sql.DataFrame]) { (acc, x) =>
            val one = v.sparkSession.range(1).select(lit(x).as("x"))
            Some(acc.fold(one)(_.unionByName(one)))
          }.get)
        val est = bounds.join(probeDf, lit(true))
          .groupBy(col("x"))
          .agg(sum(when(col("hi") <= col("x"), col("c")).otherwise(0L)).as("full_below"),
            coalesce(sum(when(col("lo") <= col("x") && col("hi") > col("x"),
              col("c") * (col("x") - col("lo")))), lit(0L)).as("part_num"),
            coalesce(sum(when(col("lo") <= col("x") && col("hi") > col("x"),
              col("hi") - col("lo"))), lit(0L)).as("part_den"))
        // Left join est→act (est always carries all probes from the
        // bounds cross join): a probe below the data minimum must
        // survive with actual=0 to match the oracle's LEFT JOIN — an
        // outer join with the probe frame preserved would force
        // broadcasting the big value scan in BNLJ, so coalesce here.
        val act = v.join(probeDf, col("cents") <= col("x"))
          .groupBy(col("x")).agg(count(lit(1)).as("actual"))
        est.join(act, Seq("x"), "left")
          .select(col("x"), coalesce(col("actual"), lit(0L)).as("actual"), col("full_below"),
            col("part_num"), col("part_den"),
            (col("full_below").cast("double") +
              when(col("part_den") > 0,
                col("part_num").cast("double") / col("part_den").cast("double"))
                .otherwise(lit(0.0))).as("est_count"))
          .orderBy(col("x"))
      },
      """WITH v AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(20,2)) * 100 AS BIGINT) AS cents FROM lineitem),
        |hist AS (SELECT ntile(16) OVER (ORDER BY cents) AS b, cents FROM v),
        |bounds AS (
        |  SELECT b, CAST(min(cents) AS BIGINT) AS lo, CAST(max(cents) AS BIGINT) AS hi,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM hist GROUP BY 1),
        |probes AS (SELECT CAST(unnest([2000000, 5000000, 8000000]) AS BIGINT) AS x),
        |est AS (
        |  SELECT p.x,
        |    CAST(sum(CASE WHEN b2.hi <= p.x THEN b2.c ELSE 0 END) AS BIGINT) AS full_below,
        |    CAST(coalesce(sum(CASE WHEN b2.lo <= p.x AND b2.hi > p.x
        |      THEN b2.c * (p.x - b2.lo) END), 0) AS BIGINT) AS part_num,
        |    CAST(coalesce(sum(CASE WHEN b2.lo <= p.x AND b2.hi > p.x
        |      THEN b2.hi - b2.lo END), 0) AS BIGINT) AS part_den
        |  FROM probes p CROSS JOIN bounds b2 GROUP BY 1),
        |act AS (SELECT p.x, CAST(count(v.cents) AS BIGINT) AS actual
        |  FROM probes p LEFT JOIN v ON v.cents <= p.x GROUP BY 1)
        |SELECT est.x, act.actual, est.full_below, est.part_num, est.part_den,
        |  CAST(est.full_below AS DOUBLE) + CASE WHEN est.part_den > 0
        |    THEN CAST(est.part_num AS DOUBLE) / CAST(est.part_den AS DOUBLE)
        |    ELSE 0.0 END AS est_count
        |FROM est JOIN act ON act.x = est.x ORDER BY est.x""".stripMargin)
  )
}
