package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{exprs, Md5Hash}
import graft.operators.{GraphOps, Perceptron}

/** Degree-conditioned graph analytics (truncated k-core peel, bounded
  * BFS) over the supplier↔customer graph, and a distributed
  * integer-exact batch perceptron trained on the quantized embedding
  * table — the "linear probe" primitive of representation analysis.
  * All iterative: fixed rounds, one-or-two keyed joins per round,
  * bounded driver participation, and every round replayed bit-exactly
  * by the DuckDB oracle as unrolled CTEs (the PageRank/BPE recipe).
  */
object GraphLearnQueries {

  /** Shared supplier↔customer edge list (who supplies whom via
    * lineitem⋈orders) — the pagerank_supplier_customer graph: node id
    * = 2·suppkey for suppliers, 2·custkey+1 for customers, both
    * directions present.
    */
  private val edgesSql =
    """e0 AS MATERIALIZED (
      |  SELECT DISTINCT l.l_suppkey * 2 AS u, o.o_custkey * 2 + 1 AS v
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |e AS MATERIALIZED (SELECT u, v FROM e0 UNION SELECT v AS u, u AS v FROM e0)""".stripMargin

  /** Session-scoped TRADE-GRAPH artifact (r14 optimization): `b` = the
    * distinct bipartite supplier↔customer pair frame, `sym` = both
    * directions; both lineage-truncated. NINE consumers re-derived
    * this identical graph per query (kcore, bfs_hops, deepwalk,
    * degree_assortativity, closeness, luby_mis, greedy_matching here;
    * pagerank + ppr in SketchStatsQueries) — each paying the
    * lineitem⋈orders join, the pair distinct, and a symmetrize
    * distinct. The artifact rule (SCALE.md; the LPA / IVF / SA / star
    * precedent): a corpus-scale graph consumed by ten queries is
    * built once per (session, corpus) — load-once/query-many.
    *
    * The symmetric union needs NO distinct: node parity splits the
    * two halves (suppliers even, customers odd), so the union of the
    * distinct bipartite frame with its flip is duplicate-free by
    * construction — the old per-query `.distinct()` after the union
    * was a third wasted shuffle (row multiset unchanged, so every
    * consumer's result is bit-identical).
    */
  private[graft] val tradeGraph = new SessionScopedCache[
    (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)](
    "GraphLearnQueries.tradeGraph", (s, dir) => {
      val b = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .select(
          (col("l_suppkey") * 2).as("u"),
          (col("o_custkey") * 2 + 1).as("v"))
        .distinct()
        .localCheckpoint()
      val sym = b.unionByName(b.select(col("v").as("u"), col("u").as("v")))
        .localCheckpoint()
      (b, sym)
    })

  private[graft] def edgesFrame(s: org.apache.spark.sql.SparkSession, dir: String) =
    tradeGraph(s, dir)._2

  /** Session-scoped NATION-FLOW artifact (r14 optimization): the
    * cross-nation trade flow at (supplier_nation u, customer_nation v)
    * grain carrying the two measures its six consumers aggregate —
    * edge count `cnt` and min ship−order day gap `w`.
    * diameter_two_sweep / stress_centrality_nations /
    * katz_centrality_nations / flow_reciprocity_nations take
    * (u, v, cnt) (the above-average filter stays per-query — it runs
    * over ≤625 rows), scc_nation_flows takes the distinct (u, v),
    * sssp_nation_latency takes (u, v, w). Each consumer previously
    * re-ran the same 4-way lineitem⋈orders⋈customer⋈supplier join;
    * the artifact is ≤625 checkpointed rows.
    */
  private[graft] val nationFlow = new SessionScopedCache[org.apache.spark.sql.DataFrame](
    "GraphLearnQueries.nationFlow", (s, dir) =>
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, dir), col("c_custkey") === col("o_custkey"))
        .join(Tables.supplier(s, dir), col("s_suppkey") === col("l_suppkey"))
        .filter(col("s_nationkey") =!= col("c_nationkey"))
        .groupBy(col("s_nationkey").cast("long").as("u"),
          col("c_nationkey").cast("long").as("v"))
        .agg(count(lit(1)).as("cnt"),
          min(datediff(col("l_shipdate"), col("o_orderdate"))).cast("long").as("w"))
        .localCheckpoint())

  /** Quantized-embedding feature frame (id, dim, x, y) with the
    * alternating-sign linear TEACHER label y = sign(Σ (−1)^d·x_d) —
    * a separable concept derived from the data itself, so the
    * perceptron provably converges (Novikoff 1962) and the round-error
    * curve the oracle replays actually falls. Integer features via the
    * QuantizeVec grid make every margin/update exact.
    */
  private def perceptronFeatures(
      s: org.apache.spark.sql.SparkSession, dir: String) = {
    val feats = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"),
        posexplode(exprs.quantizeVec(col("embedding"), 1000)))
      .toDF("id", "dim", "x")
    val labels = feats.groupBy(col("id"))
      .agg(sum(when(col("dim") % 2 === 0, col("x")).otherwise(-col("x")))
        .as("m0"))
      .select(col("id").as("lid"),
        when(col("m0") > 0, 1L).otherwise(-1L).as("y"))
    feats.join(labels, col("id") === col("lid")).drop("lid")
      .localCheckpoint()
  }

  /** Session-scoped PERCEPTRON MODEL artifact (r15): the checkpointed
    * feature frame plus the full 5-round training output (weight
    * history + per-round error stats). THREE queries
    * (perceptron_train_weights, perceptron_round_errors,
    * margin_hard_examples) each re-built the identical feature frame
    * AND re-ran the identical 5-round training — 10 feature-frame
    * scans and 15 driver round-trips for one model. Trained once per
    * (session, corpus); the model is 5×64 longs + 5 stat rows, a
    * driver-side artifact like the IVF codebooks.
    */
  private val perceptronModel = new SessionScopedCache[
    (org.apache.spark.sql.DataFrame, Seq[Array[Long]], Seq[Perceptron.RoundStat])](
    "GraphLearnQueries.perceptronModel", (s, dir) => {
      val feats = perceptronFeatures(s, dir)
      val (hist, stats) = Perceptron.train(feats, dims = 64, rounds = 5)
      (feats, hist, stats)
    })

  /** Session-scoped ε-PAIR artifacts (r15): the exact blocked
    * ε-neighborhood graph at the fixture eps (consumed by
    * dbscan_embedding_clusters AND dbscan_ivf_recall's truth side) and
    * the IVF-routed one (consumed by dbscan_ivf_clusters AND
    * dbscan_ivf_recall's routed side) — each chain previously ran
    * twice per sweep. Checkpointed; dbscanCensus consumes them
    * directly (it no longer re-checkpoints its input).
    */
  private val exactEpsPairs = new SessionScopedCache[org.apache.spark.sql.DataFrame](
    "GraphLearnQueries.exactEpsPairs", (s, dir) =>
      graft.operators.Similarity.epsNeighborPairsBlocked(
        Tables.embeddings(s, dir), "vec_id", "embedding", eps = 0.33)
        .select(col("i"), col("j"))
        .localCheckpoint())

  private val routedEpsPairs = new SessionScopedCache[org.apache.spark.sql.DataFrame](
    "GraphLearnQueries.routedEpsPairs", (s, dir) =>
      graft.operators.Similarity.epsNeighborPairsIvfWithCentroids(
        Tables.embeddings(s, dir), "vec_id", "embedding", eps = 0.33,
        IvfArtifacts.centroids(s, dir), nprobe = 8)
        .select(col("i"), col("j"))
        .localCheckpoint())

  private val perceptronFeaturesSql =
    """q AS (SELECT vec_id AS id,
      |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
      |  FROM embeddings),
      |f AS (SELECT id, CAST(t.i - 1 AS INT) AS dim, q[t.i] AS x
      |      FROM q, LATERAL (SELECT unnest(range(1, len(q) + 1)) AS i) t),
      |y0 AS (SELECT id, CAST(SUM(CASE WHEN dim % 2 = 0 THEN x ELSE -x END) AS BIGINT) AS m0
      |       FROM f GROUP BY 1),
      |l AS (SELECT id, CASE WHEN m0 > 0 THEN 1 ELSE -1 END AS y FROM y0),
      |fl AS MATERIALIZED (SELECT f.id, f.dim, f.x, l.y FROM f JOIN l ON f.id = l.id),
      |w0 AS (SELECT CAST(unnest(range(0, 64)) AS INT) AS dim, CAST(0 AS BIGINT) AS w)""".stripMargin

  /** Unrolled perceptron rounds 1..k: m{r} margins, mis{r}
    * misclassified ids, u{r} per-dim updates, w{r} next weights.
    */
  private def perceptronRoundsSql(k: Int): String =
    (1 to k).map { r =>
      s""",
         |m$r AS MATERIALIZED (
         |  SELECT fl.id, fl.y, CAST(SUM(w.w * fl.x) AS BIGINT) AS margin
         |  FROM fl JOIN w${r - 1} w ON w.dim = fl.dim GROUP BY 1, 2),
         |mis$r AS MATERIALIZED (SELECT id, y FROM m$r WHERE y * margin <= 0),
         |u$r AS (SELECT fl.dim, CAST(SUM(fl.y * fl.x) AS BIGINT) AS du
         |        FROM fl JOIN mis$r ON fl.id = mis$r.id GROUP BY 1),
         |w$r AS MATERIALIZED (
         |  SELECT w.dim, CAST(w.w + coalesce(u.du, 0) AS BIGINT) AS w
         |  FROM w${r - 1} w LEFT JOIN u$r u ON w.dim = u.dim)""".stripMargin
    }.mkString

  /** Nation-grain trade graph with exact negated-cents weights — the
    * mst_trade_backbone input.
    */
  private def mstTradeEdges(
      s: org.apache.spark.sql.SparkSession, dir: String) = {
    val rev = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, dir), col("c_custkey") === col("o_custkey"))
      .join(Tables.supplier(s, dir), col("s_suppkey") === col("l_suppkey"))
      .groupBy(col("c_nationkey").as("cn"), col("s_nationkey").as("sn"))
      .agg(sum((col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long")).as("cents"))
    rev.filter(col("cn") =!= col("sn"))
      .groupBy(least(col("cn"), col("sn")).cast("long").as("u"),
        greatest(col("cn"), col("sn")).cast("long").as("v"))
      .agg(sum(col("cents")).as("cents"))
      .select(col("u"), col("v"), (-col("cents")).as("w"))
  }

  /** Volume-thresholded supplier↔customer graph (pairs with ≥3
    * distinct shared orders, both directions) — the LPA fixture,
    * shared by lpa_communities / lpa_modularity.
    */
  private def thresholdEdges(
      s: org.apache.spark.sql.SparkSession, dir: String) = {
    val e0 = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy((col("l_suppkey") * 2).as("u"),
        (col("o_custkey") * 2 + 1).as("v"))
      .agg(countDistinct(col("o_orderkey")).as("w"))
      .filter(col("w") >= 3)
      .select(col("u"), col("v"))
    e0.unionByName(e0.select(col("v").as("u"), col("u").as("v")))
  }

  /** Session-scoped LPA PARTITION ARTIFACT: (checkpointed thresholded
    * edge frame, converged label frame). The three LPA consumers
    * (`lpa_communities` / `lpa_modularity` / `lpa_conductance`) each
    * re-ran the full semi-synchronous propagation (~8 s of sweep
    * re-derivation; at 100 TB, a corpus-scale clustering recomputed
    * per query) — cluster labels are an artifact, not a per-query
    * computation (SCALE.md's rule, already applied to dedup CC and
    * the star). Both frames are lineage-truncated (lpaCommunities
    * checkpoints per phase), so cached reuse plans shallowly.
    */
  private val lpaPartition = new SessionScopedCache[
    (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)](
    "GraphLearnQueries.lpaPartition", (s, dir) => {
      val e = thresholdEdges(s, dir).localCheckpoint()
      (e, GraphOps.lpaCommunities(e, maxRounds = 6))
    })

  /** Session-scoped SEMANTIC-GRAPH artifact (r14): the IVF-routed
    * k=5 / nprobe=8 kNN graph over the embeddings corpus and its
    * mutual (reciprocated) edge set. EIGHT consumers built this
    * identical graph per query (knn_graph_topk / _mutual / _deepwalk,
    * semdedup_knn_clusters, ktruss_semantic_graph, rich_club_semantic,
    * triangle_count_semantic, triangle_local_cc) — the quantizer was
    * already a session artifact (IvfArtifacts); the graph built on it
    * is the same load-once/query-many case one level up. Both frames
    * lineage-truncated; consumers drop their per-query re-checkpoints.
    */
  private[graft] val knnGraph = new SessionScopedCache[
    (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)](
    "GraphLearnQueries.knnGraph", (s, dir) => {
      val g = graft.operators.KnnGraph.buildWithCentroids(
        Tables.embeddings(s, dir), "vec_id", "embedding", k = 5,
        IvfArtifacts.centroids(s, dir), nprobe = 8)
        .localCheckpoint()
      val mutual = graft.operators.KnnGraph.mutualEdges(g).localCheckpoint()
      (g, mutual)
    })

  /** DeepWalk context pairs (Perozzi et al. 2014) over the edge frame
    * `e` (u, v): one 3-step walk per node, the "random" neighbor chosen
    * by md5(`salt` walk:step) mod degree against a dense per-node
    * neighbor index (row_number over sorted neighbors) — fully
    * deterministic, so [[deepwalkSql]] replays every step. Each step is
    * ONE equi-join on the checkpointed neighbor index keyed by the
    * current node. Output: (walk, step, node), the (center, context)
    * training pairs a skip-gram embedder consumes.
    */
  private def deepwalk(
      e: org.apache.spark.sql.DataFrame, salt: String): org.apache.spark.sql.DataFrame = {
    val nbr = e.select(col("u"), col("v"),
        (row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("u")).orderBy(col("v"))) - 1)
          .cast("long").as("idx"))
      .localCheckpoint()
    val deg = nbr.groupBy(col("u")).agg(count(lit(1)).as("d"))
      .localCheckpoint()
    var cur = deg.select(col("u").as("walk"), col("u").as("cur"))
    val steps = (1 to 3).map { r =>
      cur = cur
        .join(deg, col("u") === col("cur")).drop("u")
        .withColumn("pick",
          Md5Hash.lower63Col(concat(lit(salt), col("walk").cast("string"),
            lit(":"), lit(r).cast("string"))) % col("d"))
        .join(nbr,
          col("u") === col("cur") && col("idx") === col("pick"))
        .select(col("walk"), col("v").as("cur"))
      cur.select(col("walk"), lit(r).cast("int").as("step"),
        col("cur").as("node"))
    }
    steps.reduce(_ unionByName _).orderBy(col("walk"), col("step"))
  }

  /** The oracle twin of [[deepwalk]] over the edge CTE `edges` (u, v):
    * the `nbr`, `deg` and per-step CTEs, then the (walk, step, node)
    * select.
    */
  private def deepwalkSql(edges: String, salt: String): String = {
    def md5(x: String) =
      s"(('0x' || substr(md5($x), 1, 16))::UBIGINT & 9223372036854775807::UBIGINT)::BIGINT"
    val rounds = (1 to 3).map { r =>
      s""",
         |w$r AS (SELECT w.walk, nbr.v AS cur
         |  FROM w${r - 1} w
         |  JOIN deg ON deg.u = w.cur
         |  JOIN nbr ON nbr.u = w.cur
         |   AND nbr.idx = ${md5(s"'$salt' || CAST(w.walk AS VARCHAR) || ':' || $r")} % deg.d)""".stripMargin
    }.mkString
    s"""nbr AS MATERIALIZED (
       |  SELECT u, v, CAST(row_number() OVER (PARTITION BY u ORDER BY v) - 1 AS BIGINT) AS idx
       |  FROM $edges),
       |deg AS MATERIALIZED (SELECT u, CAST(count(*) AS BIGINT) AS d FROM $edges GROUP BY 1),
       |w0 AS (SELECT u AS walk, u AS cur FROM deg)$rounds
       |SELECT walk, step, node FROM (
       |  SELECT walk, 1 AS step, cur AS node FROM w1
       |  UNION ALL SELECT walk, 2, cur FROM w2
       |  UNION ALL SELECT walk, 3, cur FROM w3)
       |ORDER BY walk, step""".stripMargin
  }

  /** DBSCAN chain over an ε-pair frame `(i, j)` (the full directed/
    * symmetric adjacency): cores = degree ≥ 3, clusters = pointer-jump
    * CC over core-core edges (isolated cores are singletons), borders
    * take the MIN cluster among their core neighbors, everything else
    * is the noise row (cluster −1). Shared by the exact blocked form
    * (`dbscan_embedding_clusters`, the eval twin) and the IVF-routed
    * production form (`dbscan_ivf_clusters`) — the pair SOURCE is the
    * only thing that differs between eval and production.
    */
  private def dbscanCensus(
      emb: org.apache.spark.sql.DataFrame,
      pairsIn: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // pairsIn feeds degrees, core-core edges, and borders, so it must
    // arrive materialized (both callers pass the shared checkpointed
    // ε-pair artifacts, r15)
    val pairs = graft.operators.Materialized.require(pairsIn, "dbscanCensus pairs")
      .select(col("i"), col("j"))
    val core = pairs.groupBy(col("i")).agg(count(lit(1)).as("d"))
      .filter(col("d") >= 3).select(col("i").as("id"))
      .localCheckpoint() // feeds two semi-joins, the anti-join, labels
    val coreEdges = pairs
      .join(core.select(col("id").as("i")), Seq("i"), "left_semi")
      .join(core.select(col("id").as("j")), Seq("j"), "left_semi")
      .filter(col("i") < col("j"))
      .select(col("i").as("a"), col("j").as("b"))
    val cc = graft.operators.Dedup.connectedComponents(coreEdges, "a", "b")
    val coreLab = core
      .join(cc.select(col("id"), col("component")), Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("cluster"))
      .localCheckpoint() // border assignment + census
    val border = pairs
      .join(core.select(col("id").as("i")), Seq("i"), "left_anti")
      .join(coreLab.select(col("id").as("j"), col("cluster")), Seq("j"))
      .groupBy(col("i")).agg(min(col("cluster")).as("cluster"))
      .localCheckpoint() // census + noise anti-join
    val census = coreLab.select(col("cluster"), lit(1L).as("is_core"))
      .unionByName(border.select(col("cluster"), lit(0L).as("is_core")))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_total"), sum(col("is_core")).as("n_core"),
        sum(lit(1L) - col("is_core")).as("n_border"))
    val noise = emb.select(col("vec_id"))
      .join(coreLab.select(col("id").as("vec_id")), Seq("vec_id"), "left_anti")
      .join(border.select(col("i").as("vec_id")), Seq("vec_id"), "left_anti")
      .agg(count(lit(1)).as("n_total"))
      .select(lit(-1L).as("cluster"), col("n_total"),
        lit(0L).as("n_core"), lit(0L).as("n_border"))
    census.select(col("cluster"), col("n_total"), col("n_core"), col("n_border"))
      .unionByName(noise)
      .orderBy(col("cluster"))
  }

  /** DuckDB tail of the DBSCAN census given a pair CTE `p(i, j)` —
    * the core/CC/border/noise chain of [[dbscanCensus]], shared by
    * the exact and IVF-routed oracles.
    */
  private def dbscanOracleTail: String =
    """core AS MATERIALIZED (
      |  SELECT i AS id FROM (SELECT i, count(*) AS d FROM p GROUP BY 1)
      |  WHERE d >= 3),
      |ce AS MATERIALIZED (
      |  SELECT p.i AS u, p.j AS v FROM p
      |  JOIN core c1 ON c1.id = p.i JOIN core c2 ON c2.id = p.j),
      |cl AS MATERIALIZED (
      |  SELECT n, min(r) AS cluster FROM (
      |    WITH RECURSIVE reach(n, r) AS (
      |      SELECT id, id FROM core
      |      UNION
      |      SELECT reach.n, e.v FROM reach JOIN ce e ON e.u = reach.r)
      |    SELECT n, r FROM reach) GROUP BY 1),
      |bl AS MATERIALIZED (
      |  SELECT p.i, min(cl.cluster) AS cluster
      |  FROM p JOIN cl ON cl.n = p.j
      |  WHERE p.i NOT IN (SELECT id FROM core)
      |  GROUP BY 1),
      |cen AS (
      |  SELECT cluster, CAST(count(*) AS BIGINT) AS n_total,
      |    CAST(SUM(is_core) AS BIGINT) AS n_core,
      |    CAST(SUM(1 - is_core) AS BIGINT) AS n_border
      |  FROM (SELECT cluster, 1 AS is_core FROM cl
      |        UNION ALL SELECT cluster, 0 AS is_core FROM bl)
      |  GROUP BY 1),
      |noise AS (
      |  SELECT CAST(-1 AS BIGINT) AS cluster, CAST(count(*) AS BIGINT) AS n_total,
      |    CAST(0 AS BIGINT) AS n_core, CAST(0 AS BIGINT) AS n_border
      |  FROM embeddings e
      |  WHERE e.vec_id NOT IN (SELECT n FROM cl)
      |    AND e.vec_id NOT IN (SELECT i FROM bl))
      |SELECT * FROM cen UNION ALL SELECT * FROM noise ORDER BY cluster""".stripMargin

  /** DuckDB CTE chain replaying the thresholded graph + all 6 LPA
    * round budgets (12 semi-synchronous phases) to `l6b(n, lab)` —
    * identity past the fixed point, which is what lets the Spark side
    * early-stop on convergence.
    */
  private def lpaOracleCtes: String = {
    val phases = (1 to 6).flatMap { r =>
      Seq(0, 1).map { p =>
        val prev = if (p == 0) { if (r == 1) "lab0" else s"l${r - 1}b" }
          else s"l${r}a"
        val cur = if (p == 0) s"l${r}a" else s"l${r}b"
        s""",
           |c$cur AS (SELECT e.u AS n, l.lab, CAST(count(*) AS BIGINT) AS c
           |  FROM e JOIN $prev l ON l.n = e.v WHERE e.u % 2 = $p GROUP BY 1, 2),
           |p$cur AS (SELECT n, lab FROM (
           |  SELECT n, lab, row_number() OVER (PARTITION BY n ORDER BY c DESC, lab) AS rn
           |  FROM c$cur) t WHERE rn = 1),
           |$cur AS MATERIALIZED (
           |  SELECT l.n, coalesce(p.lab, l.lab) AS lab
           |  FROM $prev l LEFT JOIN p$cur p ON p.n = l.n)""".stripMargin
      }
    }.mkString
    s"""WITH e0 AS (
       |  SELECT l.l_suppkey * 2 AS u, o.o_custkey * 2 + 1 AS v
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  GROUP BY 1, 2 HAVING count(DISTINCT o.o_orderkey) >= 3),
       |e AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
       |lab0 AS (SELECT DISTINCT u AS n, u AS lab FROM e)$phases""".stripMargin
  }

  val defs: Map[String, QueryDef] = Map(

    // ------------------------------------------------------------------
    // Truncated k-core peel (k=10, 3 rounds) of the supplier↔customer
    // graph: iteratively strip nodes with fewer than 10 distinct
    // trading partners, reporting the surviving core's size and degree
    // envelope per node kind. The dense-core extraction step of graph
    // cleanup (spam/bot pruning keeps the k-core; the periphery is
    // the suspect part). Each round: one degree agg + two semi-joins
    // on the node id — scales with |E| like the PageRank rounds.
    "kcore_decomposition" -> QueryDef(
      (s, dir) =>
        GraphOps.kcoreTruncated(edgesFrame(s, dir), k = 10, rounds = 3)
          .select(
            when(col("node") % 2 === 0, "supplier").otherwise("customer")
              .as("kind"),
            col("deg"))
          .groupBy(col("kind"))
          .agg(
            count(lit(1)).as("n_nodes"),
            min(col("deg")).as("min_deg"),
            max(col("deg")).as("max_deg"),
            sum(col("deg")).as("n_halfedges"))
          .orderBy(col("kind")), {
        val rounds = (0 until 3).map { i =>
          s""",
             |d$i AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM pe$i GROUP BY 1),
             |s$i AS (SELECT u FROM d$i WHERE deg >= 10),
             |pe${i + 1} AS MATERIALIZED (
             |  SELECT x.u, x.v FROM pe$i x
             |  JOIN s$i a ON x.u = a.u JOIN s$i b ON x.v = b.u)""".stripMargin
        }.mkString
        s"""WITH $edgesSql,
           |pe0 AS (SELECT u, v FROM e)$rounds,
           |df AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM pe3 GROUP BY 1)
           |SELECT CASE WHEN u % 2 = 0 THEN 'supplier' ELSE 'customer' END AS kind,
           |  CAST(count(*) AS BIGINT) AS n_nodes,
           |  CAST(min(deg) AS BIGINT) AS min_deg,
           |  CAST(max(deg) AS BIGINT) AS max_deg,
           |  CAST(sum(deg) AS BIGINT) AS n_halfedges
           |FROM df GROUP BY 1 ORDER BY kind""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Bounded BFS (3 rounds) from suppliers {1,2,3}: hop-level census
    // of the reachable neighborhood by node kind — the blast-radius /
    // influence-sphere primitive (abuse propagation, recall expansion
    // in graph retrieval). Frontier-only expansion: each round joins
    // only the newly reached nodes to the edge list and anti-joins the
    // visited set, so per-round cost tracks the frontier.
    "bfs_hops_from_seeds" -> QueryDef(
      (s, dir) => {
        val seeds = s.range(1, 4).select((col("id") * 2).as("node"))
        GraphOps.bfsHops(edgesFrame(s, dir), seeds, rounds = 3)
          .select(
            col("hop"),
            when(col("node") % 2 === 0, "supplier").otherwise("customer")
              .as("kind"))
          .groupBy(col("hop"), col("kind"))
          .agg(count(lit(1)).as("n_nodes"))
          .orderBy(col("hop"), col("kind"))
      }, {
        val rounds = (1 to 3).map { r =>
          s""",
             |n$r AS MATERIALIZED (
             |  SELECT DISTINCT e.v AS node FROM e JOIN f${r - 1} f ON e.u = f.node
             |  WHERE e.v NOT IN (SELECT node FROM h${r - 1})),
             |h$r AS MATERIALIZED (
             |  SELECT node, hop FROM h${r - 1}
             |  UNION ALL SELECT node, $r AS hop FROM n$r),
             |f$r AS (SELECT node FROM n$r)""".stripMargin
        }.mkString
        s"""WITH $edgesSql,
           |h0 AS (SELECT unnest([2, 4, 6]) AS node, 0 AS hop),
           |f0 AS (SELECT node FROM h0)$rounds
           |SELECT CAST(hop AS INT) AS hop,
           |  CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'customer' END AS kind,
           |  CAST(count(*) AS BIGINT) AS n_nodes
           |FROM h3 GROUP BY 1, 2 ORDER BY hop, kind""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Distributed batch-perceptron training (5 rounds) on the
    // quantized embedding table against the alternating-sign teacher:
    // the output is the full weight TRAJECTORY (w after every round),
    // which the oracle reproduces by unrolling all five
    // margin→misclassify→update rounds in SQL. Model-in-the-plan,
    // data-in-the-cluster: per round two scans of the checkpointed
    // feature frame, 64 update rows to the driver.
    "perceptron_train_weights" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        // shared perceptron-model artifact (r15): trained once per
        // (session, corpus), three consumers
        val (_, hist, _) = perceptronModel(s, dir)
        (0 until 64)
          .map(d => (d, hist(0)(d), hist(1)(d), hist(2)(d), hist(3)(d),
            hist(4)(d)))
          .toDF("dim", "w_r1", "w_r2", "w_r3", "w_r4", "w_r5")
          .orderBy(col("dim"))
      },
      s"""WITH $perceptronFeaturesSql${perceptronRoundsSql(5)}
         |SELECT w1.dim, w1.w AS w_r1, w2.w AS w_r2, w3.w AS w_r3,
         |       w4.w AS w_r4, w5.w AS w_r5
         |FROM w1 JOIN w2 ON w1.dim = w2.dim JOIN w3 ON w1.dim = w3.dim
         |  JOIN w4 ON w1.dim = w4.dim JOIN w5 ON w1.dim = w5.dim
         |ORDER BY w1.dim""".stripMargin),

    // ------------------------------------------------------------------
    // The perceptron's LEARNING CURVE: misclassification counts (split
    // by class) of the entering weights at every round — round 1 is
    // the zero model (everything misclassified), and the count falls
    // as the teacher concept is learned; the oracle replays the same
    // five rounds and must reproduce the identical curve. This is the
    // convergence evidence for the trainer above.
    "perceptron_round_errors" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        // shared perceptron-model artifact (r15)
        val (_, _, stats) = perceptronModel(s, dir)
        stats.map(st => (st.round, st.nMisPos, st.nMisNeg))
          .toDF("round", "n_mis_pos", "n_mis_neg")
          .withColumn("n_mis", col("n_mis_pos") + col("n_mis_neg"))
          .orderBy(col("round"))
      }, {
        val rows = (1 to 5).map { r =>
          s"""SELECT $r AS round,
             |  CAST(count(*) FILTER (WHERE y = 1) AS BIGINT) AS n_mis_pos,
             |  CAST(count(*) FILTER (WHERE y = -1) AS BIGINT) AS n_mis_neg
             |FROM mis$r""".stripMargin
        }.mkString(" UNION ALL ")
        s"""WITH $perceptronFeaturesSql${perceptronRoundsSql(5)}
           |SELECT CAST(round AS INT) AS round, n_mis_pos, n_mis_neg,
           |  CAST(n_mis_pos + n_mis_neg AS BIGINT) AS n_mis
           |FROM ($rows) ORDER BY round""".stripMargin
      }),

    // ------------------------------------------------------------------
    // DeepWalk context-pair generation ([[deepwalk]]): one 3-step walk
    // per node over the supplier↔customer graph — the distributed
    // random-walk shape; no walk is ever collected.
    "deepwalk_pairs" -> QueryDef(
      (s, dir) => deepwalk(edgesFrame(s, dir), "w:"),
      s"WITH $edgesSql,\n${deepwalkSql("e", "w:")}"),

    // ------------------------------------------------------------------
    // Item-item collaborative filtering (Sarwar et al. 2001; the
    // Amazon-style recommender): co-occurrence counts over order
    // baskets, cosine similarity c/(√n_i·√n_j) — sqrt is correctly
    // rounded and the expression order is identical on both engines,
    // so the doubles hash-match — and top-3 neighbors per item through
    // the native bounded-heap TopKPerGroup exec. Candidate generation
    // is the within-basket self-join keyed on the ORDER (never
    // item×item): pair volume is Σ basket_size², bounded by basket
    // width, and the item-count frames join broadcast like any dim.
    "cf_item_neighbors" -> QueryDef(
      (s, dir) => {
        // shared checkpointed (order, part) artifact (r15) — the same
        // frame the basket pair artifact self-joins
        val bi = PipelineQueries.orderPartItems(s, dir)
          .select(col("l_orderkey").as("o"), col("l_partkey").as("i"))
        val ni = bi.groupBy(col("i")).agg(count(lit(1)).as("n"))
        // shared checkpointed basket pair-count artifact (r14): the
        // (order,part) self-join + pair agg is identical to the basket
        // queries' build, unfiltered
        val co = PipelineQueries.basketPairsAll(s, dir)
          .select(col("p1").as("i"), col("p2").as("j"), col("c_pair").as("c"))
        val bo = co.unionByName(
          co.select(col("j").as("i"), col("i").as("j"), col("c")))
        val sc = bo
          .join(broadcast(ni.select(col("i"), col("n").as("nx"))), "i")
          .join(broadcast(ni.select(col("i").as("j"), col("n").as("ny"))), "j")
          .select(col("i"), col("j"), col("c"),
            (col("c").cast("double") /
              (sqrt(col("nx").cast("double")) * sqrt(col("ny").cast("double"))))
              .as("cos"))
        graft.plans.TopKPerGroup(sc, groupCols = Seq("i"),
            orderSpecs = Seq(("cos", true), ("j", false)), k = 3)
          .select(col("i").as("item"), col("j").as("nbr"),
            col("c").as("n_co"), col("cos"), col("topk_rank"))
          .orderBy(col("item"), col("topk_rank"))
      },
      """WITH bi AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS i FROM lineitem),
        |ni AS (SELECT i, CAST(count(*) AS BIGINT) AS n FROM bi GROUP BY 1),
        |co AS (SELECT a.i AS i, b.i AS j, CAST(count(*) AS BIGINT) AS c
        |       FROM bi a JOIN bi b ON a.o = b.o AND a.i < b.i GROUP BY 1, 2),
        |bo AS (SELECT i, j, c FROM co UNION ALL SELECT j AS i, i AS j, c FROM co),
        |sc AS (SELECT b.i, b.j, b.c,
        |  CAST(b.c AS DOUBLE) / (sqrt(CAST(x.n AS DOUBLE)) * sqrt(CAST(y.n AS DOUBLE))) AS cos
        |  FROM bo b JOIN ni x ON x.i = b.i JOIN ni y ON y.i = b.j),
        |rk AS (SELECT i, j, c, cos,
        |  CAST(row_number() OVER (PARTITION BY i ORDER BY cos DESC, j) AS INT) AS topk_rank
        |  FROM sc)
        |SELECT i AS item, j AS nbr, c AS n_co, cos, topk_rank
        |FROM rk WHERE topk_rank <= 3 ORDER BY item, topk_rank""".stripMargin),

    // ------------------------------------------------------------------
    // HITS hubs & authorities (Kleinberg 1999) on the supplier→customer
    // bipartite graph — the link-analysis complement to
    // pagerank_supplier_customer: hub(s) = Σ auth(c) over supplied
    // customers, auth(c) = Σ hub(s) over suppliers, 2 rounds,
    // max-normalized to a 0..1000 integer grid each half-step (pure
    // integer arithmetic, so the oracle replays every round exactly;
    // `div` truncation == DuckDB `//` on non-negatives). Each
    // half-round is ONE equi-join on the checkpointed edge frame plus
    // ONE agg; the score frame rides a broadcast hint like PageRank
    // (same escape hatch documented there for graphs whose score
    // frame outgrows broadcast).
    "hits_hubs_authorities" -> QueryDef(
      (s, dir) => {
        // the bipartite (s, c) pair set IS the trade-graph artifact's
        // one-directional frame under the parity encoding (u = 2s,
        // v = 2c+1 — a bijection, so the distinct sets correspond
        // 1:1); decode map-only instead of re-running the
        // lineitem⋈orders join + distinct + checkpoint (r15)
        val e = tradeGraph(s, dir)._1
          .select(expr("u div 2").as("s"), expr("(v - 1) div 2").as("c"))
        var h = e.select(col("s")).distinct().withColumn("h", lit(1000L))
        var a: org.apache.spark.sql.DataFrame = null
        for (_ <- 1 to 2) {
          val ar = e.join(broadcast(h), "s")
            .groupBy(col("c")).agg(sum(col("h")).as("ar"))
          a = ar.crossJoin(broadcast(ar.agg(max(col("ar")).as("m"))))
            .select(col("c"), expr("ar * 1000 div m").as("a"))
          val hr = e.join(broadcast(a), "c")
            .groupBy(col("s")).agg(sum(col("a")).as("hr"))
          h = hr.crossJoin(broadcast(hr.agg(max(col("hr")).as("m"))))
            .select(col("s"), expr("hr * 1000 div m").as("h"))
        }
        a.select(lit("customer").as("kind"), col("c").as("node"),
            col("a").as("score"))
          .unionByName(h.select(lit("supplier").as("kind"),
            col("s").as("node"), col("h").as("score")))
          .orderBy(col("kind"), col("node"))
      }, {
        def round(r: Int) =
          s""",
             |a${r}r AS (SELECT c, CAST(SUM(h) AS BIGINT) AS ar FROM he JOIN h${r - 1} USING (s) GROUP BY 1),
             |a${r}m AS (SELECT max(ar) AS m FROM a${r}r),
             |a$r AS (SELECT c, CAST(ar * 1000 // m AS BIGINT) AS a FROM a${r}r CROSS JOIN a${r}m),
             |h${r}r AS (SELECT s, CAST(SUM(a) AS BIGINT) AS hr FROM he JOIN a$r USING (c) GROUP BY 1),
             |h${r}m AS (SELECT max(hr) AS m FROM h${r}r),
             |h$r AS (SELECT s, CAST(hr * 1000 // m AS BIGINT) AS h FROM h${r}r CROSS JOIN h${r}m)""".stripMargin
        s"""WITH he AS MATERIALIZED (
           |  SELECT DISTINCT l.l_suppkey AS s, o.o_custkey AS c
           |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
           |h0 AS (SELECT DISTINCT s, CAST(1000 AS BIGINT) AS h FROM he)${round(1)}${round(2)}
           |SELECT 'customer' AS kind, c AS node, a AS score FROM a2
           |UNION ALL SELECT 'supplier' AS kind, s AS node, h AS score FROM h2
           |ORDER BY kind, node""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Degree assortativity (Newman 2002): Pearson correlation of the
    // endpoint degrees over all directed edge slots of the supplier↔
    // customer graph. A bipartite hub-to-leaf graph is strongly
    // DISassortative — the structural fingerprint used to spot bot/spam
    // topology shifts. All five sufficient statistics are exact BIGINT
    // sums of bounded degree products (one edge-frame join against the
    // broadcast-size degree frame + one agg); only the final Pearson
    // finish touches doubles, in one fixed IEEE order.
    "degree_assortativity" -> QueryDef(
      (s, dir) => {
        // the edge frame feeds the degree agg AND both sides of the
        // degree join — the shared trade-graph artifact is already
        // lineage-truncated, so the upstream join runs once (r14: the
        // per-query re-checkpoint of the cached frame dropped too)
        val e = edgesFrame(s, dir)
        val deg = e.groupBy(col("u")).agg(count(lit(1)).as("d"))
        val de = e
          .join(deg.select(col("u"), col("d").as("x")), Seq("u"))
          .join(deg.select(col("u").as("v"), col("d").as("y")), Seq("v"))
        val st = de.agg(
          count(lit(1)).as("m"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        st.select(col("m"), col("sx"), col("sxy"),
          ((col("m") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (sqrt((col("m") * col("sxx") - col("sx") * col("sx")).cast("double")) *
              sqrt((col("m") * col("syy") - col("sy") * col("sy")).cast("double"))))
            .as("assortativity"))
      },
      s"""WITH $edgesSql,
         |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1),
         |de AS (
         |  SELECT du.d AS x, dv.d AS y
         |  FROM e JOIN deg du ON du.u = e.u JOIN deg dv ON dv.u = e.v),
         |s AS (
         |  SELECT CAST(count(*) AS BIGINT) AS m,
         |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |    CAST(SUM(x * y) AS BIGINT) AS sxy,
         |    CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy
         |  FROM de)
         |SELECT m, sx, sxy,
         |  CAST(m * sxy - sx * sy AS DOUBLE) /
         |    (sqrt(CAST(m * sxx - sx * sx AS DOUBLE)) * sqrt(CAST(m * syy - sy * sy AS DOUBLE))) AS assortativity
         |FROM s""".stripMargin),

    // ------------------------------------------------------------------
    // Label-propagation community detection (Raghavan 2007) on the
    // VOLUME-THRESHOLDED supplier↔customer graph (edges = pairs with
    // ≥3 distinct shared orders — strong trade ties; the raw graph is
    // one giant component and LPA correctly collapses it to a single
    // community, which is true but uninformative). Semi-synchronous
    // parity-colored rounds with the (count desc, label asc)
    // deterministic tie-break; converges in ≤3 rounds at every tested
    // SF, runs under a 6-round budget whose overrun THROWS, and the
    // oracle unrolls all 6 rounds (identity past the fixed point — the
    // same contract that lets Spark early-stop). Output is the
    // community census: size, side split, and the minimum member id
    // per community.
    "lpa_communities" -> QueryDef(
      (s, dir) => {
        lpaPartition(s, dir)._2
          .groupBy(col("lab").as("community"))
          .agg(
            count(lit(1)).as("n_nodes"),
            sum(when(col("n") % 2 === 0, 1L).otherwise(0L)).as("n_suppliers"),
            sum(when(col("n") % 2 === 1, 1L).otherwise(0L)).as("n_customers"),
            min(col("n")).as("min_node"))
          .orderBy(col("n_nodes").desc, col("community"))
      },
      lpaOracleCtes +
        """
          |SELECT lab AS community,
          |  CAST(count(*) AS BIGINT) AS n_nodes,
          |  CAST(count(*) FILTER (WHERE n % 2 = 0) AS BIGINT) AS n_suppliers,
          |  CAST(count(*) FILTER (WHERE n % 2 = 1) AS BIGINT) AS n_customers,
          |  CAST(min(n) AS BIGINT) AS min_node
          |FROM l6b GROUP BY 1 ORDER BY n_nodes DESC, community""".stripMargin),

    // ------------------------------------------------------------------
    // Newman modularity of the LPA partition (Newman & Girvan 2004):
    // per community c, Q_c = W_c/S − (d_c/S)² where W_c counts
    // directed edge slots with both ends in c, d_c the community's
    // degree mass, S all directed slots — emitted PER COMMUNITY as
    // integer stats + one fixed-order double term (never a SUM over
    // doubles — the chi2 per-row-term rule; the analyst folds Q
    // however they like). The quality score that decides whether the
    // partition is worth acting on. One degree agg + two label joins
    // + one community agg over the same thresholded graph.
    "lpa_modularity" -> QueryDef(
      (s, dir) => {
        val (e, lab) = lpaPartition(s, dir)
        val deg = e.groupBy(col("u")).agg(count(lit(1)).as("d"))
        val stot = e.count()
        val win = e
          .join(lab.select(col("n").as("u"), col("lab").as("la")), Seq("u"))
          .join(lab.select(col("n").as("v"), col("lab").as("lb")), Seq("v"))
          .filter(col("la") === col("lb"))
          .groupBy(col("la").as("community"))
          .agg(count(lit(1)).as("w_in"))
        val dsum = lab
          .join(deg, col("n") === col("u"))
          .groupBy(col("lab").as("community"))
          .agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("d_sum"))
        dsum.join(win, Seq("community"), "left")
          .select(col("community"), col("n_nodes"),
            coalesce(col("w_in"), lit(0L)).as("w_in"), col("d_sum"))
          .withColumn("q_term",
            col("w_in").cast("double") / lit(stot.toDouble) -
              (col("d_sum").cast("double") / lit(stot.toDouble)) *
              (col("d_sum").cast("double") / lit(stot.toDouble)))
          .orderBy(col("community"))
      },
      lpaOracleCtes +
        """,
          |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1),
          |s AS (SELECT CAST(count(*) AS BIGINT) AS stot FROM e),
          |win AS (
          |  SELECT a.lab AS community, CAST(count(*) AS BIGINT) AS w_in
          |  FROM e JOIN l6b a ON a.n = e.u JOIN l6b b ON b.n = e.v
          |  WHERE a.lab = b.lab GROUP BY 1),
          |ds AS (
          |  SELECT l.lab AS community, CAST(count(*) AS BIGINT) AS n_nodes,
          |    CAST(SUM(deg.d) AS BIGINT) AS d_sum
          |  FROM l6b l JOIN deg ON deg.u = l.n GROUP BY 1)
          |SELECT ds.community, ds.n_nodes,
          |  coalesce(win.w_in, 0) AS w_in, ds.d_sum,
          |  CAST(coalesce(win.w_in, 0) AS DOUBLE) / CAST(s.stot AS DOUBLE) -
          |    (CAST(ds.d_sum AS DOUBLE) / CAST(s.stot AS DOUBLE)) *
          |    (CAST(ds.d_sum AS DOUBLE) / CAST(s.stot AS DOUBLE)) AS q_term
          |FROM ds LEFT JOIN win ON win.community = ds.community CROSS JOIN s
          |ORDER BY ds.community""".stripMargin),

    // ------------------------------------------------------------------
    // Conductance of each LPA community (the Cheeger-style cut
    // quality — low conductance = a community that keeps its edges
    // inside): φ_c = cut_c / min(vol_c, S − vol_c), where the
    // boundary cut is EXACTLY the degree mass minus the internal
    // slots (cut = d_c − W_c — no extra join beyond modularity's),
    // all directed-slot integers, one guarded division. Complements
    // modularity: Q says the partition beats chance, φ says each
    // community's boundary is tight.
    "lpa_conductance" -> QueryDef(
      (s, dir) => {
        val (e, lab) = lpaPartition(s, dir)
        val deg = e.groupBy(col("u")).agg(count(lit(1)).as("d"))
        val stot = e.count()
        val win = e
          .join(lab.select(col("n").as("u"), col("lab").as("la")), Seq("u"))
          .join(lab.select(col("n").as("v"), col("lab").as("lb")), Seq("v"))
          .filter(col("la") === col("lb"))
          .groupBy(col("la").as("community"))
          .agg(count(lit(1)).as("w_in"))
        lab.join(deg, col("n") === col("u"))
          .groupBy(col("lab").as("community"))
          .agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("d_sum"))
          .join(win, Seq("community"), "left")
          .select(col("community"), col("n_nodes"),
            coalesce(col("w_in"), lit(0L)).as("w_in"), col("d_sum"))
          .withColumn("cut_out", col("d_sum") - col("w_in"))
          .withColumn("conductance",
            when(least(col("d_sum"), lit(stot) - col("d_sum")) > 0,
              col("cut_out").cast("double") /
                least(col("d_sum"), lit(stot) - col("d_sum")).cast("double"))
              .otherwise(lit(0.0)))
          .orderBy(col("community"))
      },
      lpaOracleCtes +
        """,
          |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1),
          |s AS (SELECT CAST(count(*) AS BIGINT) AS stot FROM e),
          |win AS (
          |  SELECT a.lab AS community, CAST(count(*) AS BIGINT) AS w_in
          |  FROM e JOIN l6b a ON a.n = e.u JOIN l6b b ON b.n = e.v
          |  WHERE a.lab = b.lab GROUP BY 1),
          |ds AS (
          |  SELECT l.lab AS community, CAST(count(*) AS BIGINT) AS n_nodes,
          |    CAST(SUM(deg.d) AS BIGINT) AS d_sum
          |  FROM l6b l JOIN deg ON deg.u = l.n GROUP BY 1)
          |SELECT ds.community, ds.n_nodes,
          |  coalesce(win.w_in, 0) AS w_in, ds.d_sum,
          |  ds.d_sum - coalesce(win.w_in, 0) AS cut_out,
          |  CASE WHEN least(ds.d_sum, s.stot - ds.d_sum) > 0
          |       THEN CAST(ds.d_sum - coalesce(win.w_in, 0) AS DOUBLE) /
          |            CAST(least(ds.d_sum, s.stot - ds.d_sum) AS DOUBLE)
          |       ELSE CAST(0.0 AS DOUBLE) END AS conductance
          |FROM ds LEFT JOIN win ON win.community = ds.community CROSS JOIN s
          |ORDER BY ds.community""".stripMargin),

    // ------------------------------------------------------------------
    // Corpus-wide kNN GRAPH (every node's top-5 cosine neighbors) via
    // the trained-IVF router: candidates are ONE equi-join on the
    // inverted-list id (home list ∈ the probe's nprobe nearest lists),
    // ids-only through the join, exact-cosine rescore, bounded-heap
    // top-k. Oracled END TO END — the DuckDB twin replays the
    // exact-integer k-means training AND the routing (the proven
    // ann_ivf_topk recipe with every node probing), so the indexed
    // path is bit-exact verified; knn_graph_recall below quantifies it
    // against the brute-force truth (the synthetic fixture is
    // UNclustered — cosine ~N(0,0.02) — so exact recall would require
    // probing every list; real clustered corpora run nprobe≪nlist).
    // The backbone of SemDeDup clustering and graph-based curation.
    "knn_graph_topk" -> QueryDef(
      (s, dir) =>
        knnGraph(s, dir)._1 // shared semantic-graph artifact (r14)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
          .orderBy(col("query_id"), col("rank")),
      PipelineQueries.trainedIvfRankedCtes(
        dim = 64, nlist = 16, nprobe = 8,
        sampleSize = 10000, iters = 5, seed = 42L, probeFilter = "TRUE") +
        "\nSELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"),

    // ------------------------------------------------------------------
    // The SKEW-CAPPED build, oracle-gated: buildWithCentroidsCapped
    // sub-splits oversize inverted lists (probes fan to ALL shards of
    // each probed list), so the candidate set — and therefore the
    // graph — is IDENTICAL to the uncapped build while no join task
    // holds more than ~listCap corpus rows per key. The oracle is the
    // same trained-routing replay as knn_graph_topk: a capped build
    // that lost (or duplicated) a candidate hash-mismatches. listCap
    // is set well below the fixture's list sizes so the sub-split
    // genuinely engages at every SF.
    "knn_graph_capped" -> QueryDef(
      (s, dir) =>
        graft.operators.KnnGraph.buildWithCentroidsCapped(
          Tables.embeddings(s, dir), "vec_id", "embedding", k = 5,
          IvfArtifacts.centroids(s, dir), nprobe = 8, listCap = 16L)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
          .orderBy(col("query_id"), col("rank")),
      PipelineQueries.trainedIvfRankedCtes(
        dim = 64, nlist = 16, nprobe = 8,
        sampleSize = 10000, iters = 5, seed = 42L, probeFilter = "TRUE") +
        "\nSELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"),

    // ------------------------------------------------------------------
    // Mutual-kNN sparsification of the same graph: an undirected edge
    // survives iff BOTH endpoints rank each other in their top-5 — the
    // high-precision core that cluster/community rollups consume. One
    // self equi-join on the k-bounded edge list (≤ N·k rows), emitted
    // once per pair (a < b).
    "knn_graph_mutual" -> QueryDef(
      (s, dir) =>
        knnGraph(s, dir)._2 // shared semantic-graph artifact (r14)
          .orderBy(col("a"), col("b")),
      PipelineQueries.trainedIvfRankedCtes(
        dim = 64, nlist = 16, nprobe = 8,
        sampleSize = 10000, iters = 5, seed = 42L, probeFilter = "TRUE") +
        """,
          |knn AS MATERIALIZED (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5)
          |SELECT e1.query_id AS a, e1.neighbor_id AS b
          |FROM knn e1 JOIN knn e2
          |  ON e1.query_id = e2.neighbor_id AND e1.neighbor_id = e2.query_id
          |WHERE e1.query_id < e1.neighbor_id
          |ORDER BY a, b""".stripMargin),

    // ------------------------------------------------------------------
    // INCREMENTAL kNN-graph maintenance: the quantizer trains on the
    // BASE corpus only (the production contract — the index artifact
    // outlives the batch), yesterday's graph is built over base, then
    // the fresh batch (vec_id % 10 = 0) arrives: fresh nodes probe the
    // full index, base nodes only rescore against fresh candidates,
    // and the bounded-heap merge top-k(top-k(base) ∪ new) makes the
    // result EQUAL to a full rebuild — which is exactly what the
    // oracle computes (routing replay over the whole corpus with
    // training restricted to base). Per-batch work is proportional to
    // the batch, not the corpus.
    "knn_graph_append" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val base = emb.filter(col("vec_id") % 10 =!= 0)
        val fresh = emb.filter(col("vec_id") % 10 === 0)
        val cs = graft.operators.IvfIndex.trainCentroids(
          base, "vec_id", "embedding", nlist = 16,
          sampleSize = 10000, iters = 5, seed = 42L)
          .map(_.toIndexedSeq).toIndexedSeq
        val baseKnn = graft.operators.KnnGraph.buildWithCentroids(
          base, "vec_id", "embedding", k = 5, cs, nprobe = 8)
        graft.operators.KnnGraph.appendWithCentroids(
          baseKnn, base, fresh, "vec_id", "embedding", k = 5, cs, nprobe = 8)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
          .orderBy(col("query_id"), col("rank"))
      },
      PipelineQueries.trainedIvfRankedCtes(
        dim = 64, nlist = 16, nprobe = 8,
        sampleSize = 10000, iters = 5, seed = 42L, probeFilter = "TRUE",
        trainFilter = "vec_id % 10 <> 0") +
        "\nSELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"),

    // ------------------------------------------------------------------
    // kNN-graph recall evaluation: the indexed graph above measured
    // against its in-query brute-force twin (the dedup_lsh_eval
    // pattern — production operator + exact truth in one plan).
    // Every node is a probe, so the truth side is the BLOCKED
    // brute force (bruteForceTopKBlocked — nothing corpus-sized
    // broadcasts; still O(N²) compute, which is what "exact truth"
    // costs and why it lives only inside evals). n_true is N·k by
    // construction; recall is one integer→double division,
    // engine-identical.
    "knn_graph_recall" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        // the indexed side IS the shared kNN-graph artifact (same
        // corpus, k=5, standard quantizer, nprobe=8 — r15); only the
        // brute-force truth twin stays per-query by design
        val knn = knnGraph(s, dir)._1
          .select(col("query_id").as("kq"), col("neighbor_id").as("kn"),
            lit(1).as("hit"))
        val truth = graft.operators.Similarity.bruteForceTopKBlocked(
          emb, emb, "vec_id", "embedding", k = 5)
          .select(col("query_id"), col("neighbor_id"))
        truth
          .join(knn,
            col("query_id") === col("kq") && col("neighbor_id") === col("kn"),
            "left")
          .agg(count(lit(1)).as("n_true"), count(col("hit")).as("n_hit"))
          .withColumn("recall",
            col("n_hit").cast("double") / col("n_true").cast("double"))
      },
      PipelineQueries.trainedIvfRankedCtes(
        dim = 64, nlist = 16, nprobe = 8,
        sampleSize = 10000, iters = 5, seed = 42L, probeFilter = "TRUE") +
        """,
          |knn AS MATERIALIZED (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5),
          |bfp AS (
          |  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
          |         list_cosine_similarity(c.embedding, p.embedding) AS sim
          |  FROM embeddings c, embeddings p
          |  WHERE c.vec_id <> p.vec_id),
          |bfr AS (
          |  SELECT query_id, neighbor_id,
          |    row_number() OVER (PARTITION BY query_id
          |         ORDER BY sim DESC, neighbor_id) AS rank
          |  FROM bfp),
          |bf AS (SELECT query_id, neighbor_id FROM bfr WHERE rank <= 5)
          |SELECT CAST(count(*) AS BIGINT) AS n_true,
          |  CAST(count(k.query_id) AS BIGINT) AS n_hit,
          |  CAST(count(k.query_id) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
          |FROM bf b LEFT JOIN knn k
          |  ON k.query_id = b.query_id AND k.neighbor_id = b.neighbor_id""".stripMargin),

    // ------------------------------------------------------------------
    // Quantizer RETRAIN + graph remap — the "rare event" the
    // fixed-quantizer append contract defers (SCALE.md §kNN): retrain
    // the coarse centroids on base ∪ fresh (same exact-integer
    // k-means, same seed), rebuild the graph, and QUANTIFY what the
    // retrain buys before committing to it — per-edge neighbor churn
    // vs the append-composed graph, and the recall delta of both
    // against the blocked brute-force truth. This is the drift report
    // a production index owner reads to decide whether the remap
    // shuffle is worth it. The oracle composes TWO full routing
    // replays (base-trained and retrained — prefix-renamed CTEs of
    // the proven trainedIvfRankedCtes recipe, relying on the
    // spec-proven append ≡ rebuild merge identity) plus the
    // brute-force twin; every ratio is a single IEEE division and
    // the delta subtracts the two divisions in identical textual
    // order.
    "knn_graph_retrain_drift" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val base = emb.filter(col("vec_id") % 10 =!= 0)
        val fresh = emb.filter(col("vec_id") % 10 === 0)
        val csOld = graft.operators.IvfIndex.trainCentroids(
          base, "vec_id", "embedding", nlist = 16,
          sampleSize = 10000, iters = 5, seed = 42L)
          .map(_.toIndexedSeq).toIndexedSeq
        val gOld = graft.operators.KnnGraph.appendWithCentroids(
          graft.operators.KnnGraph.buildWithCentroids(
            base, "vec_id", "embedding", k = 5, csOld, nprobe = 8),
          base, fresh, "vec_id", "embedding", k = 5, csOld, nprobe = 8)
          .select(col("query_id"), col("neighbor_id"))
          .localCheckpoint() // feeds edge count, churn join, recall join
        // the "new" graph IS the shared kNN-graph artifact (standard
        // quantizer, k=5, nprobe=8 — r15); already checkpointed, the
        // map-only select feeds churn join + recall join
        val gNew = knnGraph(s, dir)._1
          .select(col("query_id"), col("neighbor_id"))
        val churn = gNew
          .join(gOld.withColumn("in_old", lit(1)),
            Seq("query_id", "neighbor_id"), "left")
          .agg(count(lit(1)).as("edges_retrain"),
            count(col("in_old")).as("edges_common"))
        val edgesA = gOld.agg(count(lit(1)).as("edges_append"))
        val truth = graft.operators.Similarity.bruteForceTopKBlocked(
          emb, emb, "vec_id", "embedding", k = 5)
          .select(col("query_id"), col("neighbor_id"))
        val rec = truth
          .join(gOld.select(col("query_id").as("aq"),
            col("neighbor_id").as("an"), lit(1).as("ha")),
            col("query_id") === col("aq") && col("neighbor_id") === col("an"),
            "left")
          .join(gNew.select(col("query_id").as("bq"),
            col("neighbor_id").as("bn"), lit(1).as("hb")),
            col("query_id") === col("bq") && col("neighbor_id") === col("bn"),
            "left")
          .agg(count(lit(1)).as("n_true"),
            count(col("ha")).as("n_hit_append"),
            count(col("hb")).as("n_hit_retrain"))
        churn.crossJoin(edgesA).crossJoin(rec)
          .select(
            col("edges_append"), col("edges_retrain"), col("edges_common"),
            (lit(1.0) - col("edges_common").cast("double") /
              col("edges_retrain").cast("double")).as("churn"),
            col("n_true"), col("n_hit_append"), col("n_hit_retrain"),
            (col("n_hit_append").cast("double") /
              col("n_true").cast("double")).as("recall_append"),
            (col("n_hit_retrain").cast("double") /
              col("n_true").cast("double")).as("recall_retrain"),
            (col("n_hit_retrain").cast("double") / col("n_true").cast("double") -
              col("n_hit_append").cast("double") / col("n_true").cast("double"))
              .as("recall_delta"))
      },
      PipelineQueries.trainedIvfRankedCtes(
        dim = 64, nlist = 16, nprobe = 8,
        sampleSize = 10000, iters = 5, seed = 42L, probeFilter = "TRUE",
        trainFilter = "vec_id % 10 <> 0") + ",\n" +
        PipelineQueries.trainedIvfRankedCtes(
          dim = 64, nlist = 16, nprobe = 8,
          sampleSize = 10000, iters = 5, seed = 42L, probeFilter = "TRUE",
          trainFilter = "TRUE", prefix = "rt").stripPrefix("WITH ") +
        """,
          |ga AS MATERIALIZED (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5),
          |gb AS MATERIALIZED (SELECT query_id, neighbor_id FROM rtranked WHERE rank <= 5),
          |bfp AS (
          |  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
          |         list_cosine_similarity(c.embedding, p.embedding) AS sim
          |  FROM embeddings c, embeddings p
          |  WHERE c.vec_id <> p.vec_id),
          |bf AS (
          |  SELECT query_id, neighbor_id FROM (
          |    SELECT query_id, neighbor_id,
          |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
          |    FROM bfp) t WHERE rk <= 5),
          |em AS (
          |  SELECT CAST(count(*) AS BIGINT) AS edges_retrain,
          |    CAST(count(o.query_id) AS BIGINT) AS edges_common
          |  FROM gb LEFT JOIN ga o
          |    ON o.query_id = gb.query_id AND o.neighbor_id = gb.neighbor_id),
          |ea AS (SELECT CAST(count(*) AS BIGINT) AS edges_append FROM ga),
          |rc AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n_true,
          |    CAST(count(k1.query_id) AS BIGINT) AS n_hit_append,
          |    CAST(count(k2.query_id) AS BIGINT) AS n_hit_retrain
          |  FROM bf b
          |  LEFT JOIN ga k1 ON k1.query_id = b.query_id AND k1.neighbor_id = b.neighbor_id
          |  LEFT JOIN gb k2 ON k2.query_id = b.query_id AND k2.neighbor_id = b.neighbor_id)
          |SELECT ea.edges_append, em.edges_retrain, em.edges_common,
          |  CAST(1.0 AS DOUBLE) - CAST(em.edges_common AS DOUBLE) / CAST(em.edges_retrain AS DOUBLE) AS churn,
          |  rc.n_true, rc.n_hit_append, rc.n_hit_retrain,
          |  CAST(rc.n_hit_append AS DOUBLE) / CAST(rc.n_true AS DOUBLE) AS recall_append,
          |  CAST(rc.n_hit_retrain AS DOUBLE) / CAST(rc.n_true AS DOUBLE) AS recall_retrain,
          |  CAST(rc.n_hit_retrain AS DOUBLE) / CAST(rc.n_true AS DOUBLE) -
          |    CAST(rc.n_hit_append AS DOUBLE) / CAST(rc.n_true AS DOUBLE) AS recall_delta
          |FROM em CROSS JOIN ea CROSS JOIN rc""".stripMargin),

    // ------------------------------------------------------------------
    // Memory-bounded kNN-graph construction — the IVFADC composition
    // corpus-wide (KnnGraph.buildIvfPq): the same list-id candidate
    // equi-join, but scored in the COMPRESSED domain (integer ADC
    // over M-byte PQ codes, per-pair cost M lookups) to a shortK=10
    // shortlist per node; full vectors re-attach for shortlist rows
    // only (≤ N·shortK) and exact cosine picks the final 5. At
    // production dims the corpus-side memory is M bytes/vector — the
    // graph build that fits executor memory at 100 TB. Seeded coarse
    // quantizer + seeded codebooks (the pre-trained index-artifact
    // contract, ann_ivfadc seeds), so the oracle inlines both as
    // literals and replays routing, encode, ADC, and rerank exactly.
    "knn_graph_pq" -> QueryDef(
      (s, dir) =>
        graft.operators.KnnGraph.buildIvfPq(
          Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 5, shortK = 10,
          coarse = graft.operators.IvfIndex.seededCentroids(
            dim = 64, nlist = 16, seed = 11L),
          codebooks = graft.operators.PqIndex.seededCodebooks(
            dim = 64, m = 8, ksub = 8, seed = 7L),
          nprobe = 8)
          .orderBy(col("query_id"), col("rank")),
      PipelineQueries.ivfPqGraphOracleSql(
        dim = 64, nlist = 16, m = 8, ksub = 8, nprobe = 8,
        coarseSeed = 11L, pqSeed = 7L, shortK = 10, k = 5)),

    // ------------------------------------------------------------------
    // ONE NN-descent round over the IVF-seeded kNN graph (Dong et al.
    // 2011): candidates grow by the forward 2-hop closure (one self
    // equi-join on the k-bounded edge list, ≤ N·k² rows — never
    // corpus²), exact rescore, re-cut — and the query MEASURES what
    // the round buys: recall vs the in-query brute-force truth before
    // and after (0.81 → higher at nprobe=8/16; the heap only ever
    // improves). This is how production graph builders close the
    // recall gap the coarse router leaves, with per-round cost a
    // fixed multiple of graph size.
    "knn_graph_nndescent" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        // the routed seed graph IS the shared kNN-graph artifact (r15)
        val knn = knnGraph(s, dir)._1
        val refined = graft.operators.KnnGraph.refine(
          knn, emb, "vec_id", "embedding", k = 5)
        val truth = graft.operators.Similarity.bruteForceTopKBlocked(
          emb, emb, "vec_id", "embedding", k = 5)
          .select(col("query_id"), col("neighbor_id"))
        truth
          .join(knn.select(col("query_id").as("k1q"),
            col("neighbor_id").as("k1n"), lit(1).as("h1")),
            col("query_id") === col("k1q") && col("neighbor_id") === col("k1n"),
            "left")
          .join(refined.select(col("query_id").as("k2q"),
            col("neighbor_id").as("k2n"), lit(1).as("h2")),
            col("query_id") === col("k2q") && col("neighbor_id") === col("k2n"),
            "left")
          .agg(count(lit(1)).as("n_true"),
            count(col("h1")).as("n_hit_ivf"),
            count(col("h2")).as("n_hit_refined"))
          .select(col("n_true"), col("n_hit_ivf"), col("n_hit_refined"),
            (col("n_hit_ivf").cast("double") / col("n_true").cast("double"))
              .as("recall_ivf"),
            (col("n_hit_refined").cast("double") / col("n_true").cast("double"))
              .as("recall_refined"))
      }, {
        val pairDot = (0 until 64)
          .map(i => s"CAST(rp.e_n[${i + 1}] AS DOUBLE)*CAST(rp.e_q[${i + 1}] AS DOUBLE)")
          .mkString(" + ")
        PipelineQueries.trainedIvfRankedCtes(
          dim = 64, nlist = 16, nprobe = 8,
          sampleSize = 10000, iters = 5, seed = 42L, probeFilter = "TRUE") +
          s""",
             |knn AS MATERIALIZED (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5),
             |twoh AS (
             |  SELECT e1.query_id, e2.neighbor_id
             |  FROM knn e1 JOIN knn e2 ON e2.query_id = e1.neighbor_id
             |  WHERE e1.query_id <> e2.neighbor_id),
             |cand AS (SELECT query_id, neighbor_id FROM knn
             |         UNION SELECT query_id, neighbor_id FROM twoh),
             |rp AS (
             |  SELECT c.query_id, c.neighbor_id, en.embedding AS e_n, eq.embedding AS e_q
             |  FROM cand c
             |  JOIN embeddings en ON en.vec_id = c.neighbor_id
             |  JOIN embeddings eq ON eq.vec_id = c.query_id),
             |rs AS (
             |  SELECT rp.query_id, rp.neighbor_id,
             |    CASE WHEN nn.n * nq.n > 0 THEN ($pairDot) / (nn.n * nq.n) ELSE 0.0 END AS sim
             |  FROM rp
             |  JOIN nrm nn ON nn.vec_id = rp.neighbor_id
             |  JOIN nrm nq ON nq.vec_id = rp.query_id),
             |ref AS MATERIALIZED (
             |  SELECT query_id, neighbor_id FROM (
             |    SELECT query_id, neighbor_id,
             |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
             |    FROM rs) t WHERE rk <= 5),
             |bfp AS (
             |  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
             |         list_cosine_similarity(c.embedding, p.embedding) AS sim
             |  FROM embeddings c, embeddings p
             |  WHERE c.vec_id <> p.vec_id),
             |bf AS (
             |  SELECT query_id, neighbor_id FROM (
             |    SELECT query_id, neighbor_id,
             |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
             |    FROM bfp) t WHERE rk <= 5)
             |SELECT CAST(count(*) AS BIGINT) AS n_true,
             |  CAST(count(k1.query_id) AS BIGINT) AS n_hit_ivf,
             |  CAST(count(k2.query_id) AS BIGINT) AS n_hit_refined,
             |  CAST(count(k1.query_id) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall_ivf,
             |  CAST(count(k2.query_id) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall_refined
             |FROM bf b
             |LEFT JOIN knn k1 ON k1.query_id = b.query_id AND k1.neighbor_id = b.neighbor_id
             |LEFT JOIN ref k2 ON k2.query_id = b.query_id AND k2.neighbor_id = b.neighbor_id""".stripMargin
      }),

    // ------------------------------------------------------------------
    // SemDeDup-style semantic clusters END TO END: kNN graph →
    // mutual-kNN sparsification (the high-precision core) → pointer-
    // jumping connected components → cluster census with min-id
    // representatives and the prune count (members − 1 drop per
    // cluster — the SemDeDup keep-one policy at cluster grain).
    // Isolated nodes (no reciprocated neighbor) are their own
    // singleton clusters via the left join + coalesce. Every stage is
    // keyed: list-id candidate equi-join, id-keyed mutual self-join,
    // O(log d) CC rounds, one census agg. The oracle replays training
    // + routing + mutual join and closes components with the
    // er_resolved_entities recursive-CTE recipe (min reachable id ≡
    // min-propagation labels).
    "semdedup_knn_clusters" -> QueryDef(
      (s, dir) => {
        val mutual = knnGraph(s, dir)._2 // shared semantic graph (r14)
        val cc = graft.operators.Dedup.connectedComponents(mutual, "a", "b")
        val labeled = Tables.embeddings(s, dir).select(col("vec_id"))
          .join(cc.select(col("id").as("vec_id"), col("component")),
            Seq("vec_id"), "left")
          .select(col("vec_id"),
            coalesce(col("component"), col("vec_id")).as("cluster"))
        labeled.groupBy(col("cluster"))
          .agg(count(lit(1)).as("n_members"),
            (count(lit(1)) - 1).as("n_pruned"))
          .orderBy(col("n_members").desc, col("cluster"))
      },
      PipelineQueries.trainedIvfRankedCtes(
        dim = 64, nlist = 16, nprobe = 8,
        sampleSize = 10000, iters = 5, seed = 42L, probeFilter = "TRUE") +
        """,
          |knn AS MATERIALIZED (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5),
          |mutual AS MATERIALIZED (
          |  SELECT e1.query_id AS a, e1.neighbor_id AS b
          |  FROM knn e1 JOIN knn e2
          |    ON e1.query_id = e2.neighbor_id AND e1.neighbor_id = e2.query_id
          |  WHERE e1.query_id < e1.neighbor_id),
          |adj AS (SELECT a AS u, b AS v FROM mutual
          |        UNION SELECT b AS u, a AS v FROM mutual),
          |cl AS (
          |  SELECT n, min(r) AS lab FROM (
          |    WITH RECURSIVE reach(n, r) AS (
          |      SELECT vec_id, vec_id FROM embeddings
          |      UNION
          |      SELECT reach.n, a.v FROM reach JOIN adj a ON a.u = reach.r)
          |    SELECT n, r FROM reach) GROUP BY 1)
          |SELECT lab AS cluster,
          |  CAST(count(*) AS BIGINT) AS n_members,
          |  CAST(count(*) - 1 AS BIGINT) AS n_pruned
          |FROM cl GROUP BY 1 ORDER BY n_members DESC, cluster""".stripMargin),

    // ------------------------------------------------------------------
    // k-truss (k=3, Cohen 2008) of the mutual-kNN semantic graph: every
    // surviving edge sits in ≥ k−2 = 1 triangle WITHIN the truss —
    // the triangle-reinforced core that is to edges what k-core is to
    // nodes, and the denser-than-mutual cluster signal a SemDeDup-style
    // pruner can trust. Per round: support = ONE triangle count per
    // edge (edge ⋈ adjacency on u, closing join on (v, w)), drop
    // edges below support, repeat to fixpoint (budgeted; overrun
    // throws). The oracle replays training + routing + mutual join
    // (the semdedup chain) and unrolls the full round budget, relying
    // on fixpoint idempotence for the early-stopping Spark side.
    "ktruss_semantic_graph" -> QueryDef(
      (s, dir) => {
        val mutual = knnGraph(s, dir)._2 // shared semantic graph (r14)
        var e = mutual.select(col("a").as("u"), col("b").as("v")).localCheckpoint()
        var nEdges = e.count()
        val maxRounds = 12
        var out: org.apache.spark.sql.DataFrame = null
        var r = 0
        while (r < maxRounds && out == null) {
          val adj = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
          val sup = e
            .join(adj.select(col("u"), col("v").as("w")), Seq("u"))
            .join(adj.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"))
            .groupBy(col("u"), col("v")).agg(count(lit(1)).as("support"))
            .filter(col("support") >= 1)
            .localCheckpoint() // feeds the convergence probe AND next round
          val kept = sup.count()
          if (kept == nEdges) out = sup
          else { e = sup.select(col("u"), col("v")).localCheckpoint(); nEdges = kept }
          r += 1
        }
        require(out != null, s"k-truss did not converge within $maxRounds rounds")
        out.select(col("u"), col("v"), col("support")).orderBy(col("u"), col("v"))
      }, {
        val rounds = (0 until 12).map { r =>
          s""",
             |a$r AS (SELECT u, v FROM e$r UNION ALL SELECT v AS u, u AS v FROM e$r),
             |s$r AS MATERIALIZED (
             |  SELECT e.u, e.v, CAST(count(*) AS BIGINT) AS support
             |  FROM e$r e
             |  JOIN a$r x ON x.u = e.u
             |  JOIN a$r y ON y.u = e.v AND y.v = x.v
             |  GROUP BY e.u, e.v),
             |e${r + 1} AS MATERIALIZED (SELECT u, v FROM s$r WHERE support >= 1)""".stripMargin
        }.mkString
        PipelineQueries.trainedIvfRankedCtes(
          dim = 64, nlist = 16, nprobe = 8,
          sampleSize = 10000, iters = 5, seed = 42L, probeFilter = "TRUE") +
          s""",
             |knn AS MATERIALIZED (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5),
             |e0 AS MATERIALIZED (
             |  SELECT e1.query_id AS u, e1.neighbor_id AS v
             |  FROM knn e1 JOIN knn e2
             |    ON e1.query_id = e2.neighbor_id AND e1.neighbor_id = e2.query_id
             |  WHERE e1.query_id < e1.neighbor_id)$rounds
             |SELECT u, v, support FROM s11 WHERE support >= 1
             |ORDER BY u, v""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Rich-club coefficients (Zhou & Mondragón 2004) of the mutual-kNN
    // semantic graph at k ∈ {2,4,8}: among nodes of degree > k, what
    // fraction of possible edges exist? φ(k) = 2·E_k / (N_k·(N_k−1)) —
    // exact integer counts through one guarded division per k. Rising
    // φ(k) means semantic hubs interconnect (one dense topic core);
    // flat φ means hubs spread across topics — a structure check on
    // the kNN graph before trusting cluster-grain curation decisions.
    "rich_club_semantic" -> QueryDef(
      (s, dir) => {
        val mutual = knnGraph(s, dir)._2 // shared, already checkpointed (r14)
        val sym = mutual.select(col("a").as("u"), col("b").as("v"))
          .unionByName(mutual.select(col("b").as("u"), col("a").as("v")))
        val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("d"))
        val ks = array(lit(2L), lit(4L), lit(8L))
        val nodesK = deg.select(explode(ks).as("k"), col("d"))
          .groupBy(col("k"))
          .agg(sum(when(col("d") > col("k"), 1L).otherwise(0L)).as("n_nodes"))
        val edgesK = mutual
          .join(deg.select(col("u").as("a"), col("d").as("da")), Seq("a"))
          .join(deg.select(col("u").as("b"), col("d").as("db")), Seq("b"))
          .select(explode(ks).as("k"), col("da"), col("db"))
          .groupBy(col("k"))
          .agg(sum(when(col("da") > col("k") && col("db") > col("k"), 1L)
            .otherwise(0L)).as("n_edges"))
        nodesK.join(edgesK, Seq("k"))
          .select(col("k"), col("n_nodes"), col("n_edges"),
            when(col("n_nodes") > 1,
              (lit(2L) * col("n_edges")).cast("double") /
                (col("n_nodes") * (col("n_nodes") - 1)).cast("double"))
              .otherwise(lit(0.0)).as("phi"))
          .orderBy(col("k"))
      },
      PipelineQueries.trainedIvfRankedCtes(
        dim = 64, nlist = 16, nprobe = 8,
        sampleSize = 10000, iters = 5, seed = 42L, probeFilter = "TRUE") +
        """,
          |knn AS MATERIALIZED (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5),
          |mutual AS MATERIALIZED (
          |  SELECT e1.query_id AS a, e1.neighbor_id AS b
          |  FROM knn e1 JOIN knn e2
          |    ON e1.query_id = e2.neighbor_id AND e1.neighbor_id = e2.query_id
          |  WHERE e1.query_id < e1.neighbor_id),
          |sym AS (SELECT a AS u, b AS v FROM mutual
          |        UNION ALL SELECT b AS u, a AS v FROM mutual),
          |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY 1),
          |ks AS (SELECT CAST(k AS BIGINT) AS k FROM (VALUES (2), (4), (8)) t(k)),
          |nk AS (
          |  SELECT ks.k, CAST(SUM(CASE WHEN deg.d > ks.k THEN 1 ELSE 0 END) AS BIGINT) AS n_nodes
          |  FROM deg CROSS JOIN ks GROUP BY 1),
          |ek AS (
          |  SELECT ks.k,
          |    CAST(SUM(CASE WHEN da.d > ks.k AND db.d > ks.k THEN 1 ELSE 0 END) AS BIGINT) AS n_edges
          |  FROM mutual m
          |  JOIN deg da ON da.u = m.a
          |  JOIN deg db ON db.u = m.b
          |  CROSS JOIN ks GROUP BY 1)
          |SELECT nk.k, nk.n_nodes, ek.n_edges,
          |  CASE WHEN nk.n_nodes > 1
          |       THEN CAST(2 * ek.n_edges AS DOUBLE) / CAST(nk.n_nodes * (nk.n_nodes - 1) AS DOUBLE)
          |       ELSE 0.0 END AS phi
          |FROM nk JOIN ek ON ek.k = nk.k
          |ORDER BY nk.k""".stripMargin),

    // ------------------------------------------------------------------
    // Single-source shortest paths (Bellman–Ford, 8 relaxation rounds)
    // on the DIRECTED nation trade graph weighted by the fastest
    // observed shipment (min days from order to ship per nation pair)
    // — "how quickly can goods reach nation X from nation 0". Exact
    // integer distances; one round = one edge join + a min merge, the
    // min-plus analog of the BFS frontier. BOTH engines run the same
    // fixed budget (no convergence probe — the frames are
    // nation-sized), so the result is well-defined even pre-fixpoint.
    "sssp_nation_latency" -> QueryDef(
      (s, dir) => {
        // (u,v,w) projection of the shared checkpointed nation-flow
        // artifact — scanned every round (r14)
        val e = nationFlow(s, dir).select(col("u"), col("v"), col("w"))
        var dist = s.range(1).select(lit(0L).as("node"), lit(0L).as("dist"))
          .localCheckpoint()
        (1 to 8).foreach { _ =>
          dist = dist
            .unionByName(dist.join(e, col("node") === col("u"))
              .select(col("v").as("node"), (col("dist") + col("w")).as("dist")))
            .groupBy(col("node")).agg(min(col("dist")).as("dist"))
            .localCheckpoint()
        }
        dist.orderBy(col("node"))
      }, {
        val rounds = (1 to 8).map { r =>
          s""",
             |d$r AS MATERIALIZED (
             |  SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
             |    SELECT node, dist FROM d${r - 1}
             |    UNION ALL
             |    SELECT e.v AS node, d.dist + e.w AS dist
             |    FROM d${r - 1} d JOIN e ON e.u = d.node)
             |  GROUP BY node)""".stripMargin
        }.mkString
        s"""WITH e AS MATERIALIZED (
           |  SELECT CAST(s.s_nationkey AS BIGINT) AS u,
           |    CAST(c.c_nationkey AS BIGINT) AS v,
           |    CAST(min(datediff('day', CAST(o.o_orderdate AS DATE),
           |                      CAST(l.l_shipdate AS DATE))) AS BIGINT) AS w
           |  FROM lineitem l
           |  JOIN orders o ON o.o_orderkey = l.l_orderkey
           |  JOIN customer c ON c.c_custkey = o.o_custkey
           |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
           |  WHERE s.s_nationkey <> c.c_nationkey
           |  GROUP BY 1, 2),
           |d0 AS (SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist)$rounds
           |SELECT node, dist FROM d8 ORDER BY node""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Closeness centrality of 3 seed suppliers on the bipartite
    // supplier↔customer trade graph, within an 8-hop budget: per-seed
    // labeled BFS (the multi-source frontier carries (seed, node) so
    // three searches share every round's single edge join), then
    // closeness = reached / Σhops — two exact BIGINTs through one
    // division. Both engines run the SAME fixed budget; Spark
    // early-stops when a frontier empties (identical by idempotence —
    // an empty frontier adds nothing), the oracle unrolls all 8
    // rounds. Frontier and visited checkpoint per round (the measured
    // bfs_hops rule: both feed two consumers).
    "closeness_centrality_seeds" -> QueryDef(
      (s, dir) => {
        val e = edgesFrame(s, dir) // shared checkpointed trade graph (r14)
        val seeds = s.range(1, 4).select((col("id") * 2).as("seed"))
        var visited = seeds
          .select(col("seed"), col("seed").as("node"), lit(0).as("hop"))
          .localCheckpoint()
        var frontier = visited.select(col("seed"), col("node"))
        var r = 1
        var empty = false
        while (r <= 8 && !empty) {
          val next = frontier
            .join(e, col("node") === col("u"))
            .select(col("seed"), col("v").as("node")).distinct()
            .join(visited.select(col("seed"), col("node")),
              Seq("seed", "node"), "left_anti")
            .localCheckpoint() // feeds the union AND the next expansion
          if (next.isEmpty) empty = true
          else {
            visited = visited
              .unionByName(next.withColumn("hop", lit(r)))
              .localCheckpoint()
            frontier = next
          }
          r += 1
        }
        // harmonic centrality rides the same visited set: Σ 1/hop with
        // hop ≤ 8 scales to exact integers by lcm(1..8) = 840
        visited.filter(col("hop") > 0)
          .groupBy(col("seed"))
          .agg(count(lit(1)).as("n_reached"),
            sum(col("hop").cast("long")).as("total_hops"),
            sum(expr("840 div CAST(hop AS BIGINT)")).as("harmonic_scaled"))
          .select(
            expr("CAST(seed div 2 AS BIGINT)").as("supplier_id"),
            col("n_reached"), col("total_hops"),
            (col("n_reached").cast("double") / col("total_hops").cast("double"))
              .as("closeness"),
            col("harmonic_scaled"),
            (col("harmonic_scaled").cast("double") / lit(840.0)).as("harmonic"))
          .orderBy(col("supplier_id"))
      }, {
        val rounds = (1 to 8).map { r =>
          s""",
             |f$r AS MATERIALIZED (
             |  SELECT seed, node FROM (
             |    SELECT DISTINCT f.seed, e.v AS node
             |    FROM f${r - 1} f JOIN e ON e.u = f.node) p
             |  WHERE NOT EXISTS (
             |    SELECT 1 FROM v${r - 1} vv
             |    WHERE vv.seed = p.seed AND vv.node = p.node)),
             |v$r AS MATERIALIZED (
             |  SELECT seed, node, hop FROM v${r - 1}
             |  UNION ALL SELECT seed, node, $r AS hop FROM f$r)""".stripMargin
        }.mkString
        s"""WITH e0 AS MATERIALIZED (
           |  SELECT DISTINCT l.l_suppkey * 2 AS u, o.o_custkey * 2 + 1 AS v
           |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
           |e AS MATERIALIZED (SELECT u, v FROM e0 UNION SELECT v AS u, u AS v FROM e0),
           |sd AS (SELECT * FROM (VALUES (2), (4), (6)) s(seed)),
           |v0 AS (SELECT seed, seed AS node, 0 AS hop FROM sd),
           |f0 AS (SELECT seed, node FROM v0)$rounds
           |SELECT CAST(seed // 2 AS BIGINT) AS supplier_id,
           |  CAST(count(*) AS BIGINT) AS n_reached,
           |  CAST(SUM(hop) AS BIGINT) AS total_hops,
           |  CAST(count(*) AS DOUBLE) / CAST(SUM(hop) AS DOUBLE) AS closeness,
           |  CAST(SUM(840 // CAST(hop AS BIGINT)) AS BIGINT) AS harmonic_scaled,
           |  CAST(SUM(840 // CAST(hop AS BIGINT)) AS DOUBLE) / 840 AS harmonic
           |FROM v8 WHERE hop > 0
           |GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // ------------------------------------------------------------------
    // DBSCAN over the embedding corpus (Ester et al. 1996): exact
    // ε-neighborhood graph (cosine ≥ 0.33 — the fixture's top-neighbor
    // band) via the BLOCKED all-pairs shape, core points = ≥3
    // neighbors, clusters = pointer-jump CC over core-core edges
    // (isolated cores are singleton clusters), borders take the MIN
    // cluster among their core neighbors, the rest is the noise row
    // (cluster −1) — nothing silently dropped. The density-based
    // complement to the kNN/SemDeDup clustering family: no k, no
    // centroids, noise is first-class. Exact pairs are the eval-class
    // cost (production candidates come from the IVF/LSH paths); the
    // oracle restates the engine's cosine bit-for-bit
    // (double-cast list_dot_product over explicit sqrt norms) and
    // closes components with the recursive-CTE min-reachable recipe.
    "dbscan_embedding_clusters" -> QueryDef(
      (s, dir) => {
        // shared checkpointed exact ε-pair artifact (r15): the blocked
        // all-pairs chain also feeds dbscan_ivf_recall's truth side
        dbscanCensus(Tables.embeddings(s, dir), exactEpsPairs(s, dir))
      },
      """WITH ev AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |nr AS MATERIALIZED (
        |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS n FROM ev),
        |p AS MATERIALIZED (
        |  SELECT b.vec_id AS i, a.vec_id AS j
        |  FROM nr a, nr b
        |  WHERE a.vec_id <> b.vec_id
        |    AND (CASE WHEN a.n * b.n > 0
        |              THEN list_dot_product(a.v, b.v) / (a.n * b.n)
        |              ELSE CAST(0.0 AS DOUBLE) END) >= 0.33),
        |""".stripMargin + dbscanOracleTail),

    // ------------------------------------------------------------------
    // DBSCAN, the PRODUCTION path: the ε-graph comes from the IVF
    // router (one equi-join on the inverted-list id, exact-cosine
    // verified, symmetrized — Similarity.epsNeighborPairsIvfWithCentroids) instead
    // of the exact O(N²) product; the census chain is IDENTICAL
    // (dbscanCensus). Routed pairs ⊆ exact pairs, so clusters can only
    // split (never merge wrongly) where routing misses a neighbor —
    // dbscan_ivf_recall quantifies the miss rate. The oracle REPLAYS
    // the trained routing (trainedIvfRankedCtes — never brute-force
    // truth), thresholds the rescored exact cosine with the engine's
    // fixed-order formula, symmetrizes, and runs the same census tail.
    "dbscan_ivf_clusters" -> QueryDef(
      (s, dir) => {
        // shared checkpointed routed ε-pair artifact (r15): the same
        // routed chain also feeds dbscan_ivf_recall's routed side
        dbscanCensus(Tables.embeddings(s, dir), routedEpsPairs(s, dir))
      },
      PipelineQueries.trainedIvfRankedCtes(
        dim = 64, nlist = 16, nprobe = 8,
        sampleSize = 10000, iters = 5, seed = 42L, probeFilter = "TRUE") +
        """,
          |p AS MATERIALIZED (
          |  SELECT query_id AS i, neighbor_id AS j FROM rescored WHERE sim >= 0.33
          |  UNION
          |  SELECT neighbor_id AS i, query_id AS j FROM rescored WHERE sim >= 0.33),
          |""".stripMargin + dbscanOracleTail),

    // ------------------------------------------------------------------
    // Pair-recall of the routed ε-graph vs the exact one at the
    // fixture's eps — the eval that justifies shipping the routed
    // DBSCAN: n_meet/n_exact over canonical (i<j) pairs, plus the
    // routed count (routed ⊆ exact because every routed pair is
    // exact-cosine verified, so n_routed = n_meet — asserted by the
    // oracle computing both independently). Exact side is the blocked
    // O(N²) truth twin (disclosed eval-class cost); routed side
    // replays the trained routing.
    "dbscan_ivf_recall" -> QueryDef(
      (s, dir) => {
        // both sides read the shared checkpointed ε-pair artifacts
        // (r15) through a map-only i<j filter — each frame feeds the
        // count AND the meet join over the artifact's blocks
        val exact = exactEpsPairs(s, dir)
          .filter(col("i") < col("j")).select(col("i"), col("j"))
        val routed = routedEpsPairs(s, dir)
          .filter(col("i") < col("j"))
        val meet = routed.join(exact, Seq("i", "j"), "left_semi")
        exact.agg(count(lit(1)).as("n_exact"))
          .crossJoin(broadcast(routed.agg(count(lit(1)).as("n_routed"))))
          .crossJoin(broadcast(meet.agg(count(lit(1)).as("n_meet"))))
          .select(col("n_exact"), col("n_routed"), col("n_meet"),
            (col("n_meet").cast("double") / col("n_exact").cast("double"))
              .as("recall"))
      },
      PipelineQueries.trainedIvfRankedCtes(
        dim = 64, nlist = 16, nprobe = 8,
        sampleSize = 10000, iters = 5, seed = 42L, probeFilter = "TRUE") +
        """,
          |rp AS MATERIALIZED (
          |  SELECT least(query_id, neighbor_id) AS i,
          |         greatest(query_id, neighbor_id) AS j
          |  FROM rescored WHERE sim >= 0.33 GROUP BY 1, 2),
          |ev AS (
          |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          |  FROM embeddings),
          |nr AS MATERIALIZED (
          |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS n FROM ev),
          |xp AS MATERIALIZED (
          |  SELECT a.vec_id AS i, b.vec_id AS j
          |  FROM nr a, nr b
          |  WHERE a.vec_id < b.vec_id
          |    AND (CASE WHEN a.n * b.n > 0
          |              THEN list_dot_product(a.v, b.v) / (a.n * b.n)
          |              ELSE CAST(0.0 AS DOUBLE) END) >= 0.33),
          |mt AS (SELECT rp.i, rp.j FROM rp JOIN xp ON xp.i = rp.i AND xp.j = rp.j)
          |SELECT
          |  (SELECT CAST(count(*) AS BIGINT) FROM xp) AS n_exact,
          |  (SELECT CAST(count(*) AS BIGINT) FROM rp) AS n_routed,
          |  (SELECT CAST(count(*) AS BIGINT) FROM mt) AS n_meet,
          |  CAST((SELECT count(*) FROM mt) AS DOUBLE) /
          |    CAST((SELECT count(*) FROM xp) AS DOUBLE) AS recall""".stripMargin),

    // ------------------------------------------------------------------
    // STRONGLY connected components of the DIRECTED nation trade-flow
    // graph (supplier nation → customer nation per order line) — the
    // directed complement of the family's undirected CC: cycles =
    // mutual trade dependence, sources/sinks = one-way flows. Spark
    // side is GraphOps.scc (min-label FW/BW peeling — labels-only
    // state, bounded peels, overrun throws); the oracle computes
    // mutual reachability DIRECTLY via one recursive closure over the
    // bounded nation graph and takes min over each mutual set — a
    // structurally independent construction that must agree
    // component-for-component. At sf0.001 the graph splits into a
    // 10-nation SCC + 15 one-way nations (real peeling work); at
    // sf0.01+ trade saturates into one 25-nation SCC.
    "scc_nation_flows" -> QueryDef(
      (s, dir) => {
        // the (u,v) grain of the shared nation-flow artifact IS the
        // distinct cross-nation edge set (r14)
        val e = nationFlow(s, dir).select(col("u"), col("v"))
        GraphOps.scc(e, maxPeels = 8, maxRounds = 30)
          .groupBy(col("scc"))
          .agg(count(lit(1)).as("n_members"),
            min(col("n")).as("min_n"), max(col("n")).as("max_n"))
          .orderBy(col("n_members").desc, col("scc"))
      },
      """WITH e AS MATERIALIZED (
        |  SELECT DISTINCT CAST(s.s_nationkey AS BIGINT) AS u,
        |    CAST(c.c_nationkey AS BIGINT) AS v
        |  FROM lineitem l
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  WHERE s.s_nationkey <> c.c_nationkey),
        |nodes AS (SELECT u AS n FROM e UNION SELECT v FROM e),
        |reach AS MATERIALIZED (
        |  WITH RECURSIVE r(a, b) AS (
        |    SELECT n, n FROM nodes
        |    UNION
        |    SELECT r.a, e.v FROM r JOIN e ON e.u = r.b)
        |  SELECT a, b FROM r),
        |mutual AS (
        |  SELECT r1.a AS n, r1.b AS m
        |  FROM reach r1 JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a),
        |scc AS (SELECT n, CAST(min(m) AS BIGINT) AS scc FROM mutual GROUP BY 1)
        |SELECT scc, CAST(count(*) AS BIGINT) AS n_members,
        |  CAST(min(n) AS BIGINT) AS min_n, CAST(max(n) AS BIGINT) AS max_n
        |FROM scc GROUP BY 1 ORDER BY n_members DESC, scc""".stripMargin),

    // ------------------------------------------------------------------
    // LSH S-CURVE PLANNER: for candidate (rows-per-band r, bands b)
    // splits of a 64-bit signature budget, the collision probability
    // p(s) = 1 − (1 − s^r)^b is evaluated against the FIXTURE's own
    // pair-similarity histogram (exact cosine pairs ≥ 0.2, bucketed
    // at 0.05) — the parameter-selection table that says which (r, b)
    // passes the dedup threshold band and suppresses the sub-threshold
    // mass. Integer-exponent powers unroll as fixed left-associated
    // multiply chains (IEEE-deterministic — no pow/log), one row per
    // (config, bucket); the analyst folds expected FP/FN from n_pairs
    // × p however they weight them (the per-row-term rule). The exact
    // pair base is the disclosed eval-class cost.
    "lsh_scurve_planner" -> QueryDef(
      (s, dir) => {
        def powChain(c: org.apache.spark.sql.Column, k: Int) =
          (1 until k).foldLeft(c)((acc, _) => acc * c)
        val bk = graft.operators.Similarity.epsNeighborPairsBlocked(
            Tables.embeddings(s, dir), "vec_id", "embedding", eps = 0.2)
          .filter(col("i") < col("j"))
          .groupBy(floor(col("sim") * 20.0).cast("int").as("bucket"))
          .agg(count(lit(1)).as("n_pairs"))
          .withColumn("s_mid",
            col("bucket").cast("double") / lit(20.0) + lit(0.025))
          .localCheckpoint() // one histogram feeds all four configs
        Seq((2, 32), (4, 16), (8, 8), (16, 4)).map { case (r, b) =>
          bk.select(lit(r).as("r"), lit(b).as("b"), col("bucket"),
            col("n_pairs"), col("s_mid"),
            (lit(1.0) - powChain(lit(1.0) - powChain(col("s_mid"), r), b))
              .as("p_collide"))
        }.reduce(_ unionByName _)
          .orderBy(col("r"), col("bucket"))
      }, {
        def powChain(e: String, k: Int) =
          "(" + Seq.fill(k)(e).mkString(" * ") + ")"
        val parts = Seq((2, 32), (4, 16), (8, 8), (16, 4)).map { case (r, b) =>
          val p = s"1.0 - ${powChain(s"(1.0 - ${powChain("s_mid", r)})", b)}"
          s"SELECT $r AS r, $b AS b, bucket, n_pairs, s_mid, $p AS p_collide FROM bk"
        }
        s"""WITH ev AS (
           |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |  FROM embeddings),
           |nr AS MATERIALIZED (
           |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS n FROM ev),
           |p AS (
           |  SELECT (CASE WHEN a.n * b.n > 0
           |          THEN list_dot_product(a.v, b.v) / (a.n * b.n)
           |          ELSE CAST(0.0 AS DOUBLE) END) AS sim
           |  FROM nr a, nr b WHERE a.vec_id < b.vec_id),
           |bk AS (
           |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_pairs,
           |    CAST(bucket AS DOUBLE) / 20.0 + 0.025 AS s_mid
           |  FROM (SELECT CAST(floor(sim * 20.0) AS INT) AS bucket
           |        FROM p WHERE sim >= 0.2)
           |  GROUP BY 1)
           |${parts.mkString(" UNION ALL ")}
           |ORDER BY r, bucket""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Triangle census + global clustering coefficient of the
    // mutual-kNN semantic graph — the compact-forward / degree-ordered
    // node-iterator (Latapy 2008): orient every edge from the
    // (degree, id)-smaller endpoint to the larger, join oriented
    // wedges on their apex, close them against the oriented edge
    // list. Each triangle counts EXACTLY once, wedge volume is
    // Σ out-deg² with out-degree bounded by O(√m) under degree
    // ordering — the only triangle algorithm that survives skewed
    // 100 TB graphs. All integers; the one double is 3T/W in fixed
    // order. Clustering structure is the signal SemDeDup-style
    // curation reads off the semantic graph.
    "triangle_count_semantic" -> QueryDef(
      (s, dir) => {
        // shared checkpointed semantic graph (r14) — feeds degrees +
        // orientation + closure
        val mutual = knnGraph(s, dir)._2
        val sym = mutual.select(col("a").as("u"), col("b").as("v"))
          .unionByName(mutual.select(col("b").as("u"), col("a").as("v")))
        val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("d"))
        val m2 = mutual
          .join(deg.select(col("u").as("a"), col("d").as("da")), Seq("a"))
          .join(deg.select(col("u").as("b"), col("d").as("db")), Seq("b"))
        val oriented = m2.select(
          when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")), col("a"))
            .otherwise(col("b")).as("s"),
          when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")), col("b"))
            .otherwise(col("a")).as("t"),
          when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")), col("db"))
            .otherwise(col("da")).as("dt"))
          .localCheckpoint() // apex join + both closure sides
        val wedges = oriented.as("o1")
          .join(oriented.as("o2"),
            col("o1.s") === col("o2.s") &&
              (col("o1.dt") < col("o2.dt") ||
                (col("o1.dt") === col("o2.dt") && col("o1.t") < col("o2.t"))))
          .select(col("o1.t").as("v"), col("o2.t").as("w"))
        val tri = wedges.join(oriented,
            col("v") === col("s") && col("w") === col("t"), "left_semi")
        val stats = mutual.agg(count(lit(1)).as("n_edges"))
          .crossJoin(broadcast(
            deg.agg(count(lit(1)).as("n_nodes"),
              sum(expr("d * (d - 1) div 2")).as("n_wedges"))))
          .crossJoin(broadcast(tri.agg(count(lit(1)).as("n_triangles"))))
        stats.select(col("n_nodes"), col("n_edges"), col("n_wedges"),
          col("n_triangles"),
          when(col("n_wedges") > 0,
            (col("n_triangles") * 3).cast("double") /
              col("n_wedges").cast("double")).otherwise(lit(0.0))
            .as("global_cc"))
      },
      PipelineQueries.trainedIvfRankedCtes(
        dim = 64, nlist = 16, nprobe = 8,
        sampleSize = 10000, iters = 5, seed = 42L, probeFilter = "TRUE") +
        """,
          |knn AS MATERIALIZED (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5),
          |mutual AS MATERIALIZED (
          |  SELECT e1.query_id AS a, e1.neighbor_id AS b
          |  FROM knn e1 JOIN knn e2
          |    ON e1.query_id = e2.neighbor_id AND e1.neighbor_id = e2.query_id
          |  WHERE e1.query_id < e1.neighbor_id),
          |sym AS (SELECT a AS u, b AS v FROM mutual
          |        UNION ALL SELECT b AS u, a AS v FROM mutual),
          |deg AS MATERIALIZED (SELECT u, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY 1),
          |ori AS MATERIALIZED (
          |  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND m.a < m.b) THEN m.a ELSE m.b END AS s,
          |         CASE WHEN da.d < db.d OR (da.d = db.d AND m.a < m.b) THEN m.b ELSE m.a END AS t,
          |         CASE WHEN da.d < db.d OR (da.d = db.d AND m.a < m.b) THEN db.d ELSE da.d END AS dt
          |  FROM mutual m JOIN deg da ON da.u = m.a JOIN deg db ON db.u = m.b),
          |wg AS (
          |  SELECT o1.t AS v, o2.t AS w
          |  FROM ori o1 JOIN ori o2
          |    ON o1.s = o2.s AND (o1.dt < o2.dt OR (o1.dt = o2.dt AND o1.t < o2.t))),
          |tri AS (
          |  SELECT count(*) AS n_triangles FROM wg
          |  WHERE EXISTS (SELECT 1 FROM ori o3 WHERE o3.s = wg.v AND o3.t = wg.w)),
          |st AS (
          |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
          |         (SELECT CAST(count(*) AS BIGINT) FROM mutual) AS n_edges,
          |         (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
          |         (SELECT CAST(n_triangles AS BIGINT) FROM tri) AS n_triangles)
          |SELECT n_nodes, n_edges, n_wedges, n_triangles,
          |  CASE WHEN n_wedges > 0
          |       THEN CAST(n_triangles * 3 AS DOUBLE) / CAST(n_wedges AS DOUBLE)
          |       ELSE 0.0 END AS global_cc
          |FROM st""".stripMargin),

    // ------------------------------------------------------------------
    // Per-node clustering coefficient over the mutual-kNN graph: each
    // closed wedge credits all THREE corners (a bounded ×3 explode of
    // the closure rows — never a per-node wedge enumeration), local
    // cc = t_n / (d(d−1)/2), reported for nodes with degree ≥ 3
    // ordered by (cc desc, node). The node-grain refinement of
    // triangle_count_semantic: the "is this doc inside a tight
    // semantic clique?" signal curation reads per document.
    "triangle_local_cc" -> QueryDef(
      (s, dir) => {
        val mutual = knnGraph(s, dir)._2 // shared, already checkpointed (r14)
        val sym = mutual.select(col("a").as("u"), col("b").as("v"))
          .unionByName(mutual.select(col("b").as("u"), col("a").as("v")))
        val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("d"))
        val m2 = mutual
          .join(deg.select(col("u").as("a"), col("d").as("da")), Seq("a"))
          .join(deg.select(col("u").as("b"), col("d").as("db")), Seq("b"))
        val fwd = col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b"))
        val oriented = m2.select(
          when(fwd, col("a")).otherwise(col("b")).as("s"),
          when(fwd, col("b")).otherwise(col("a")).as("t"),
          when(fwd, col("db")).otherwise(col("da")).as("dt"))
          .localCheckpoint()
        val closed = oriented.as("o1")
          .join(oriented.as("o2"),
            col("o1.s") === col("o2.s") &&
              (col("o1.dt") < col("o2.dt") ||
                (col("o1.dt") === col("o2.dt") && col("o1.t") < col("o2.t"))))
          .select(col("o1.s").as("x"), col("o1.t").as("v"), col("o2.t").as("w"))
          .join(oriented,
            col("v") === col("s") && col("w") === col("t"), "left_semi")
        val perNode = closed
          .select(explode(array(col("x"), col("v"), col("w"))).as("u"))
          .groupBy(col("u")).agg(count(lit(1)).as("t_n"))
        deg.filter(col("d") >= 3)
          .join(perNode, Seq("u"), "left")
          .select(col("u").as("node"), col("d").as("degree"),
            coalesce(col("t_n"), lit(0L)).as("n_triangles"),
            (coalesce(col("t_n"), lit(0L)).cast("double") /
              expr("(d * (d - 1) div 2)").cast("double")).as("local_cc"))
          .orderBy(col("local_cc").desc, col("node"))
      },
      PipelineQueries.trainedIvfRankedCtes(
        dim = 64, nlist = 16, nprobe = 8,
        sampleSize = 10000, iters = 5, seed = 42L, probeFilter = "TRUE") +
        """,
          |knn AS MATERIALIZED (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5),
          |mutual AS MATERIALIZED (
          |  SELECT e1.query_id AS a, e1.neighbor_id AS b
          |  FROM knn e1 JOIN knn e2
          |    ON e1.query_id = e2.neighbor_id AND e1.neighbor_id = e2.query_id
          |  WHERE e1.query_id < e1.neighbor_id),
          |sym AS (SELECT a AS u, b AS v FROM mutual
          |        UNION ALL SELECT b AS u, a AS v FROM mutual),
          |deg AS MATERIALIZED (SELECT u, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY 1),
          |ori AS MATERIALIZED (
          |  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND m.a < m.b) THEN m.a ELSE m.b END AS s,
          |         CASE WHEN da.d < db.d OR (da.d = db.d AND m.a < m.b) THEN m.b ELSE m.a END AS t,
          |         CASE WHEN da.d < db.d OR (da.d = db.d AND m.a < m.b) THEN db.d ELSE da.d END AS dt
          |  FROM mutual m JOIN deg da ON da.u = m.a JOIN deg db ON db.u = m.b),
          |closed AS MATERIALIZED (
          |  SELECT o1.s AS x, o1.t AS v, o2.t AS w
          |  FROM ori o1 JOIN ori o2
          |    ON o1.s = o2.s AND (o1.dt < o2.dt OR (o1.dt = o2.dt AND o1.t < o2.t))
          |  WHERE EXISTS (SELECT 1 FROM ori o3 WHERE o3.s = o1.t AND o3.t = o2.t)),
          |pn AS (
          |  SELECT u, CAST(count(*) AS BIGINT) AS t_n FROM (
          |    SELECT x AS u FROM closed
          |    UNION ALL SELECT v FROM closed
          |    UNION ALL SELECT w FROM closed) GROUP BY 1)
          |SELECT deg.u AS node, deg.d AS degree,
          |  coalesce(pn.t_n, 0) AS n_triangles,
          |  CAST(coalesce(pn.t_n, 0) AS DOUBLE) / CAST(deg.d * (deg.d - 1) // 2 AS DOUBLE) AS local_cc
          |FROM deg LEFT JOIN pn ON pn.u = deg.u
          |WHERE deg.d >= 3
          |ORDER BY local_cc DESC, node""".stripMargin),

    // ------------------------------------------------------------------
    // DeepWalk context pairs over the SEMANTIC graph: deepwalk_pairs'
    // walk ([[deepwalk]]) over the mutual-kNN graph instead of the
    // bipartite trade fixture — the walk corpus a skip-gram embedder
    // would train on to densify sparse semantic neighborhoods. Every
    // node with a reciprocated neighbor starts one 3-step walk.
    "knn_graph_deepwalk" -> QueryDef(
      (s, dir) => {
        val mutual = knnGraph(s, dir)._2 // shared semantic graph (r14)
        val e = mutual.select(col("a").as("u"), col("b").as("v"))
          .unionByName(mutual.select(col("b").as("u"), col("a").as("v")))
        deepwalk(e, "s:")
      }, {
        PipelineQueries.trainedIvfRankedCtes(
          dim = 64, nlist = 16, nprobe = 8,
          sampleSize = 10000, iters = 5, seed = 42L, probeFilter = "TRUE") +
          s""",
             |knn AS MATERIALIZED (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5),
             |mutual AS MATERIALIZED (
             |  SELECT e1.query_id AS a, e1.neighbor_id AS b
             |  FROM knn e1 JOIN knn e2
             |    ON e1.query_id = e2.neighbor_id AND e1.neighbor_id = e2.query_id
             |  WHERE e1.query_id < e1.neighbor_id),
             |ge AS MATERIALIZED (SELECT a AS u, b AS v FROM mutual
             |      UNION ALL SELECT b AS u, a AS v FROM mutual),
             |""".stripMargin + deepwalkSql("ge", "s:")
      }),

    // ------------------------------------------------------------------
    // Multinomial Naive Bayes text classifier (train + score in one
    // plan): token counts per class on the doc_id%5≠0 slice, Laplace
    // smoothing over the training vocabulary, held-out docs scored by
    // the probability PRODUCT folded in token order — multiplication
    // is IEEE-deterministic, and both engines fold left-to-right over
    // the identical position-sorted factor list seeded with the class
    // prior, so the tiny doubles hash-match bit-exactly (the
    // fixed-order rule; never log-sum). The model (vocab×classes
    // counts) is broadcast — the classic NB deployment shape: training
    // is one corpus-keyed agg, scoring is map-side.
    "naive_bayes_lang" -> QueryDef(
      (s, dir) => {
        val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
          graft.operators.TextOps.tokens(col("text")).as("toks"))
        val train = d.filter(col("doc_id") % 5 =!= 0)
        val test = d.filter(col("doc_id") % 5 === 0)
        val ttok = train.select(col("lang"), explode(col("toks")).as("term"))
        val cnt = ttok.groupBy(col("lang"), col("term"))
          .agg(count(lit(1)).as("c"))
        val tot = ttok.groupBy(col("lang")).agg(count(lit(1)).as("t"))
        val vocab = ttok.agg(countDistinct(col("term")).as("v"))
        val prior = train.groupBy(col("lang")).agg(count(lit(1)).as("nc"))
        val n = train.agg(count(lit(1)).as("nn"))
        val tk = test
          .select(col("doc_id"), col("lang").as("lang_true"),
            posexplode(col("toks")).as(Seq("pos0", "term")))
          .select(col("doc_id"), col("lang_true"),
            (col("pos0") + 1).as("pos"), col("term"))
        val scored = tk
          .crossJoin(broadcast(prior.select(col("lang"))))
          .crossJoin(broadcast(vocab))
          .join(broadcast(tot), "lang")
          .join(broadcast(cnt), Seq("lang", "term"), "left")
          .select(col("doc_id"), col("lang_true"), col("lang"), col("pos"),
            ((coalesce(col("c"), lit(0L)) + 1).cast("double") /
              (col("t") + col("v")).cast("double")).as("pr"))
        val folded = scored
          .groupBy(col("doc_id"), col("lang_true"), col("lang"))
          .agg(sort_array(collect_list(struct(col("pos"), col("pr"))))
            .as("ps"))
          .join(broadcast(prior), "lang")
          .crossJoin(broadcast(n))
          .withColumn("score",
            aggregate(transform(col("ps"), x => x.getField("pr")),
              col("nc").cast("double") / col("nn").cast("double"),
              (acc, x) => acc * x))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("lang").desc)
        folded
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("doc_id"), col("lang_true"),
            col("lang").as("lang_pred"), col("score"),
            (col("lang") === col("lang_true")).as("correct"))
          .orderBy(col("doc_id"))
      },
      s"""WITH d AS (SELECT doc_id, lang, $nbToksSql AS toks FROM documents),
         |train AS (SELECT * FROM d WHERE doc_id % 5 <> 0),
         |test AS (SELECT * FROM d WHERE doc_id % 5 = 0),
         |ttok AS (SELECT lang, unnest(toks) AS term FROM train),
         |cnt AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS c FROM ttok GROUP BY 1, 2),
         |tot AS (SELECT lang, CAST(count(*) AS BIGINT) AS t FROM ttok GROUP BY 1),
         |vocab AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v FROM ttok),
         |prior AS (SELECT lang, CAST(count(*) AS BIGINT) AS nc FROM train GROUP BY 1),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM train),
         |tk AS (SELECT doc_id, lang AS lang_true, i AS pos, toks[i] AS term
         |       FROM test, unnest(range(1, len(toks) + 1)) r(i)),
         |scored AS (
         |  SELECT tk.doc_id, tk.lang_true, p.lang, tk.pos,
         |    CAST(coalesce(cnt.c, 0) + 1 AS DOUBLE) / CAST(tot.t + vocab.v AS DOUBLE) AS pr
         |  FROM tk CROSS JOIN prior p CROSS JOIN vocab
         |  JOIN tot ON tot.lang = p.lang
         |  LEFT JOIN cnt ON cnt.lang = p.lang AND cnt.term = tk.term),
         |folded AS (
         |  SELECT s.doc_id, s.lang_true, s.lang,
         |    list_reduce(list_prepend(CAST(pr2.nc AS DOUBLE) / CAST(n.nn AS DOUBLE),
         |      list(s.pr ORDER BY s.pos)), (a, b) -> a * b) AS score
         |  FROM scored s JOIN prior pr2 ON pr2.lang = s.lang CROSS JOIN n
         |  GROUP BY s.doc_id, s.lang_true, s.lang, pr2.nc, n.nn),
         |ranked AS (
         |  SELECT doc_id, lang_true, lang AS lang_pred, score,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rk
         |  FROM folded)
         |SELECT doc_id, lang_true, lang_pred, score,
         |  lang_pred = lang_true AS correct
         |FROM ranked WHERE rk = 1 ORDER BY doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // Link prediction by neighborhood overlap (Liben-Nowell & Kleinberg
    // 2003): on the part co-purchase graph (parts sharing an order),
    // score candidate pairs by common-neighbor count and Jaccard
    // cn/(d1+d2−cn) — exact integers into ONE division. Candidates
    // come from the order-keyed self-join (only pairs that actually
    // co-occur — never all-pairs), so the shuffle is bounded by
    // Σ_order |parts|², the classic co-occurrence budget.
    "link_prediction_jaccard" -> QueryDef(
      (s, dir) => {
        // shared artifacts (r15): the (part, order) frame is the
        // basket items artifact and the co-occurrence pair counts ARE
        // basketPairsAll (identical self-join + agg) — this query
        // previously re-ran both
        val po = PipelineQueries.orderPartItems(s, dir)
          .select(col("l_partkey").as("p"), col("l_orderkey").as("o"))
        val deg = po.groupBy(col("p")).agg(count(lit(1)).as("d"))
        val co = PipelineQueries.basketPairsAll(s, dir)
          .select(col("p1"), col("p2"), col("c_pair").as("cn"))
        co.join(deg.select(col("p").as("p1"), col("d").as("d1")), Seq("p1"))
          .join(deg.select(col("p").as("p2"), col("d").as("d2")), Seq("p2"))
          .select(col("p1"), col("p2"), col("cn"), col("d1"), col("d2"),
            (col("cn").cast("double") /
              (col("d1") + col("d2") - col("cn")).cast("double")).as("jaccard"))
          .orderBy(col("jaccard").desc, col("p1"), col("p2"))
          .limit(20)
      },
      """WITH po AS (SELECT DISTINCT l_partkey AS p, l_orderkey AS o FROM lineitem),
        |deg AS (SELECT p, CAST(count(*) AS BIGINT) AS d FROM po GROUP BY 1),
        |co AS (
        |  SELECT a.p AS p1, b.p AS p2, CAST(count(*) AS BIGINT) AS cn
        |  FROM po a JOIN po b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT co.p1, co.p2, co.cn, d1.d AS d1, d2.d AS d2,
        |    CAST(co.cn AS DOUBLE) / CAST(d1.d + d2.d - co.cn AS DOUBLE) AS jaccard
        |  FROM co JOIN deg d1 ON d1.p = co.p1 JOIN deg d2 ON d2.p = co.p2)
        |SELECT p1, p2, cn, d1, d2, jaccard
        |FROM sc ORDER BY jaccard DESC, p1, p2 LIMIT 20""".stripMargin),

    // ------------------------------------------------------------------
    // CART decision-stump split finding (Breiman et al. 1984): best
    // threshold on l_quantity predicting returnflag='R', scored by
    // weighted Gini purity. The value histogram (bounded integer
    // domain) is the only fact-table agg; the cumulative window runs
    // over distinct values, and the purity Σ_side (pos²+neg²)/n_side is
    // one fixed-order double expression per candidate — exact integer
    // counts everywhere else, so the argmax ranking replays exactly.
    "gini_stump_quantity" -> QueryDef(
      (s, dir) => {
        val h = Tables.lineitem(s, dir)
          .select(col("l_quantity").cast("long").as("x"),
            when(col("l_returnflag") === "R", lit(1L)).otherwise(lit(0L))
              .as("y"))
          .groupBy(col("x"))
          .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
        val tot = h.agg(sum(col("n")).as("nt"), sum(col("pos")).as("post"))
        val w = org.apache.spark.sql.expressions.Window.orderBy(col("x"))
        val cum = h
          .withColumn("nl", sum(col("n")).over(w))
          .withColumn("posl", sum(col("pos")).over(w))
          .select(col("x"), col("nl"), col("posl"))
        val nr = col("nt") - col("nl")
        val posr = col("post") - col("posl")
        cum.crossJoin(broadcast(tot))
          .filter(col("nl") > 0 && (col("nt") - col("nl")) > 0)
          .select(col("x").as("threshold"),
            col("nl").as("n_left"), col("posl").as("pos_left"),
            nr.as("n_right"), posr.as("pos_right"),
            (((col("posl") * col("posl") +
              (col("nl") - col("posl")) * (col("nl") - col("posl")))
              .cast("double") / col("nl").cast("double")) +
              ((posr * posr + (nr - posr) * (nr - posr)).cast("double") /
                nr.cast("double"))).as("purity"))
          .orderBy(col("purity").desc, col("threshold"))
          .limit(5)
      },
      """WITH pts AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS x,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        |  FROM lineitem),
        |h AS (SELECT x, CAST(count(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS pos
        |      FROM pts GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(pos) AS BIGINT) AS post FROM h),
        |cum AS (
        |  SELECT x,
        |    CAST(SUM(n) OVER (ORDER BY x) AS BIGINT) AS nl,
        |    CAST(SUM(pos) OVER (ORDER BY x) AS BIGINT) AS posl
        |  FROM h),
        |sp AS (
        |  SELECT c.x AS threshold, c.nl, c.posl,
        |    tot.nt - c.nl AS nr, tot.post - c.posl AS posr,
        |    (CAST(c.posl * c.posl + (c.nl - c.posl) * (c.nl - c.posl) AS DOUBLE) / CAST(c.nl AS DOUBLE)) +
        |    (CAST((tot.post - c.posl) * (tot.post - c.posl) +
        |          ((tot.nt - c.nl) - (tot.post - c.posl)) * ((tot.nt - c.nl) - (tot.post - c.posl)) AS DOUBLE) /
        |     CAST(tot.nt - c.nl AS DOUBLE)) AS purity
        |  FROM cum c CROSS JOIN tot
        |  WHERE c.nl > 0 AND tot.nt - c.nl > 0)
        |SELECT threshold, nl AS n_left, posl AS pos_left, nr AS n_right, posr AS pos_right, purity
        |FROM sp ORDER BY purity DESC, threshold LIMIT 5""".stripMargin),

    // ------------------------------------------------------------------
    // ROC-AUC of the quality score as an en-vs-rest classifier, via the
    // rank-sum identity AUC = (Σ ranks⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻) — the
    // Mann–Whitney machinery repurposed as the standard classifier-eval
    // metric. Ranks come from one global row_number with a
    // deterministic (score, doc_id) tiebreak (a documented variant of
    // the midrank convention); the statistic is exact integers into
    // one division. At scale the global rank is the only total sort —
    // the same cost class as any exact order statistic.
    "auc_quality_en" -> QueryDef(
      (s, dir) => {
        val sc = Tables.documents(s, dir).select(col("doc_id"),
          graft.operators.TextOps.qualityScore(col("text")).as("score"),
          when(col("lang") === "en", lit(1L)).otherwise(lit(0L)).as("y"))
        val r = sc.withColumn("rk",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("score"), col("doc_id"))).cast("long"))
        r.agg(
            sum(col("y")).as("n_pos"),
            (count(lit(1)) - sum(col("y"))).as("n_neg"),
            sum(when(col("y") === 1, col("rk")).otherwise(lit(0L)))
              .as("rank_sum_pos"))
          .select(col("n_pos"), col("n_neg"),
            (col("rank_sum_pos") -
              expr("n_pos * (n_pos + 1) div 2")).as("u_stat"),
            ((col("rank_sum_pos") - expr("n_pos * (n_pos + 1) div 2"))
              .cast("double") /
              (col("n_pos") * col("n_neg")).cast("double")).as("auc"))
      },
      {
        val sw = graft.operators.TextOps.englishStopwords
          .map(w => s"'$w'").mkString("[", ", ", "]")
        s"""WITH t AS (
           |  SELECT doc_id, lang, $nbToksSql AS toks,
           |    len(regexp_replace(coalesce(text, ''), '\\s+', '', 'g')) AS n_chars_nosp,
           |    coalesce(text, '') AS txt
           |  FROM documents
           |), m AS (
           |  SELECT doc_id, lang,
           |    CASE WHEN len(toks) > 0
           |         THEN CAST(len(list_filter(toks, t -> list_contains($sw, t))) AS DOUBLE) / len(toks)
           |         ELSE 0.0 END AS swr,
           |    CASE WHEN len(toks) > 0
           |         THEN CAST(n_chars_nosp AS DOUBLE) / len(toks) ELSE 0.0 END AS mtl,
           |    CASE WHEN len(txt) > 0
           |         THEN CAST(len(regexp_extract_all(txt, '[^A-Za-z0-9\\s]')) AS DOUBLE) / len(txt)
           |         ELSE 0.0 END AS pr
           |  FROM t
           |), sc AS (
           |  SELECT doc_id,
           |    round(
           |      (CASE WHEN mtl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.4
           |      + least(swr * 4.0, 1.0) * 0.3
           |      + greatest(0.0, 1.0 - pr * 4.0) * 0.3, 6) AS score,
           |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
           |  FROM m
           |), r AS (
           |  SELECT y, CAST(row_number() OVER (ORDER BY score, doc_id) AS BIGINT) AS rk
           |  FROM sc
           |), a AS (
           |  SELECT CAST(SUM(y) AS BIGINT) AS n_pos,
           |    CAST(count(*) - SUM(y) AS BIGINT) AS n_neg,
           |    CAST(SUM(CASE WHEN y = 1 THEN rk ELSE 0 END) AS BIGINT) AS rank_sum_pos
           |  FROM r)
           |SELECT n_pos, n_neg,
           |  CAST(rank_sum_pos - n_pos * (n_pos + 1) // 2 AS BIGINT) AS u_stat,
           |  CAST(rank_sum_pos - n_pos * (n_pos + 1) // 2 AS DOUBLE) /
           |    CAST(n_pos * n_neg AS DOUBLE) AS auc
           |FROM a""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Maximum spanning tree of the nation-grain trade graph via
    // distributed Borůvka ([[graft.operators.Mst]]): the "trade
    // backbone" — the strongest acyclic set of bilateral trade links.
    // The graph build aggregates the full fact table (the scale-bearing
    // stage); Borůvka then runs on the bounded nation graph with exact
    // negated-cents weights, so every pick replays bit-exactly. The
    // oracle unrolls the rounds, replaying each component's
    // (w, u, v)-minimum incident edge and re-deriving labels with a
    // recursive-CTE closure (the er_resolved_entities recipe).
    "mst_trade_backbone" -> QueryDef(
      (s, dir) => {
        graft.operators.Mst.boruvka(mstTradeEdges(s, dir), maxRounds = 5)
          .select(col("round"), col("u"), col("v"),
            (-col("w")).as("cents"))
          .orderBy(col("round"), col("u"), col("v"))
      }, {
        val base =
          """WITH rev AS (
            |  SELECT c.c_nationkey AS cn, s.s_nationkey AS sn,
            |    CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
            |  FROM lineitem l
            |  JOIN orders o ON o.o_orderkey = l.l_orderkey
            |  JOIN customer c ON c.c_custkey = o.o_custkey
            |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
            |  GROUP BY 1, 2),
            |ed AS (
            |  SELECT CAST(least(cn, sn) AS BIGINT) AS u, CAST(greatest(cn, sn) AS BIGINT) AS v,
            |    CAST(SUM(cents) AS BIGINT) AS cents
            |  FROM rev WHERE cn <> sn GROUP BY 1, 2),
            |e AS MATERIALIZED (SELECT u, v, CAST(-cents AS BIGINT) AS w FROM ed),
            |nodes AS (SELECT DISTINCT u AS n FROM e UNION SELECT DISTINCT v FROM e),
            |lab0 AS (SELECT n, n AS lab FROM nodes),
            |f0(u, v, w, round) AS (SELECT CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS INT) WHERE FALSE)""".stripMargin
        val rounds = (1 to 5).map { r =>
          s""",
             |x$r AS (
             |  SELECT e.u, e.v, e.w, lu.lab AS cu, lv.lab AS cv
             |  FROM e JOIN lab${r - 1} lu ON lu.n = e.u JOIN lab${r - 1} lv ON lv.n = e.v
             |  WHERE lu.lab <> lv.lab),
             |xs$r AS (
             |  SELECT u, v, w, cu AS comp FROM x$r
             |  UNION ALL SELECT u, v, w, cv AS comp FROM x$r),
             |pk$r AS (
             |  SELECT DISTINCT u, v, w FROM (
             |    SELECT u, v, w, row_number() OVER (PARTITION BY comp ORDER BY w, u, v) AS rk
             |    FROM xs$r) t
             |  WHERE rk = 1),
             |f$r(u, v, w, round) AS (
             |  SELECT u, v, w, round FROM f${r - 1}
             |  UNION ALL SELECT u, v, w, $r FROM pk$r),
             |adj$r AS (SELECT u, v FROM f$r UNION SELECT v, u FROM f$r),
             |cl$r AS (
             |  SELECT n, min(r) AS lab FROM (
             |    WITH RECURSIVE reach(n, r) AS (
             |      SELECT n, n FROM nodes
             |      UNION
             |      SELECT reach.n, a.v FROM reach JOIN adj$r a ON a.u = reach.r)
             |    SELECT n, r FROM reach) GROUP BY 1),
             |lab$r AS (SELECT n, lab FROM cl$r)""".stripMargin
        }.mkString
        base + rounds +
          """
            |SELECT CAST(round AS INT) AS round, u, v, CAST(-w AS BIGINT) AS cents
            |FROM f5 ORDER BY round, u, v""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Katz centrality (Katz 1953, "A new status index derived from
    // sociometric analysis" — public literature) on the THRESHOLDED
    // nation trade graph: edges = nation pairs whose flow count is
    // strictly above the global mean (cnt·n_pairs > total, the
    // cross-multiplied integer comparison — the complete trade graph
    // degenerates to uniform scores). Katz with α = 1/4 truncated at
    // path length 4 stays in integers by scaling with 4⁴:
    // katz_scaled = Σ_r 4^(4−r)·paths_r(v), path counts by r rounds of
    // one keyed equi-join + sum each (the PageRank shape — no driver
    // participation); the final /256 is the single IEEE division. The
    // 1-row totals aggregate broadcasts (J9 shape).
    "katz_centrality_nations" -> QueryDef(
      (s, dir) => {
        val flow = nationFlow(s, dir) // shared 4-way-join artifact (r14)
        val tot = flow.agg(sum(col("cnt")).as("t"), count(lit(1)).as("np"))
        val e = flow.crossJoin(broadcast(tot))
          .filter(col("cnt") * col("np") > col("t"))
          .select(col("u"), col("v"))
          .localCheckpoint() // feeds nodes + all 4 path rounds
        val nodes = e.select(col("u").as("n"))
          .unionByName(e.select(col("v").as("n"))).distinct()
        val paths = scala.collection.mutable.ArrayBuffer(
          e.groupBy(col("v").as("n")).agg(count(lit(1)).as("c1")))
        for (r <- 2 to 4) {
          val prev = paths.last.toDF("n", s"c${r - 1}")
          paths += e.join(prev.withColumnRenamed("n", "u"), Seq("u"))
            .groupBy(col("v").as("n")).agg(sum(col(s"c${r - 1}")).as(s"c$r"))
        }
        val joined = paths.foldLeft(nodes)((acc, p) => acc.join(p, Seq("n"), "left"))
        joined
          .select(col("n").as("nation"),
            (lit(64L) * coalesce(col("c1"), lit(0L)) +
              lit(16L) * coalesce(col("c2"), lit(0L)) +
              lit(4L) * coalesce(col("c3"), lit(0L)) +
              coalesce(col("c4"), lit(0L))).as("katz_scaled"))
          .select(col("nation"), col("katz_scaled"),
            (col("katz_scaled").cast("double") / lit(256.0)).as("katz"))
          .orderBy(col("katz_scaled").desc, col("nation"))
      },
      """WITH flow AS MATERIALIZED (
        |  SELECT CAST(s.s_nationkey AS BIGINT) AS u, CAST(c.c_nationkey AS BIGINT) AS v,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem l
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  WHERE s.s_nationkey <> c.c_nationkey
        |  GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS np FROM flow),
        |e AS MATERIALIZED (SELECT u, v FROM flow CROSS JOIN tot WHERE cnt * np > t),
        |nodes AS (SELECT DISTINCT u AS n FROM e UNION SELECT DISTINCT v FROM e),
        |p1 AS (SELECT e.v AS n, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1),
        |p2 AS (SELECT e.v AS n, CAST(sum(p1.c) AS BIGINT) AS c FROM p1 JOIN e ON e.u = p1.n GROUP BY 1),
        |p3 AS (SELECT e.v AS n, CAST(sum(p2.c) AS BIGINT) AS c FROM p2 JOIN e ON e.u = p2.n GROUP BY 1),
        |p4 AS (SELECT e.v AS n, CAST(sum(p3.c) AS BIGINT) AS c FROM p3 JOIN e ON e.u = p3.n GROUP BY 1)
        |SELECT nodes.n AS nation,
        |  CAST(64*coalesce(p1.c,0) + 16*coalesce(p2.c,0) + 4*coalesce(p3.c,0) + coalesce(p4.c,0) AS BIGINT) AS katz_scaled,
        |  CAST(CAST(64*coalesce(p1.c,0) + 16*coalesce(p2.c,0) + 4*coalesce(p3.c,0) + coalesce(p4.c,0) AS BIGINT) AS DOUBLE) / 256.0 AS katz
        |FROM nodes LEFT JOIN p1 ON p1.n = nodes.n LEFT JOIN p2 ON p2.n = nodes.n
        |LEFT JOIN p3 ON p3.n = nodes.n LEFT JOIN p4 ON p4.n = nodes.n
        |ORDER BY katz_scaled DESC, nation""".stripMargin),

    // ------------------------------------------------------------------
    // Luby maximal independent set over the symmetric supplier↔customer
    // trade graph (GraphOps.lubyMis — fresh md5 priorities per round,
    // winners = nodes beating every active neighbor on the strict
    // (priority, id) order, winners + neighborhoods retire). The
    // fixture converges in 2 rounds (hub suppliers decide round 1);
    // budget 6 leaves the textbook O(log n) slack and non-convergence
    // THROWS. The oracle unrolls the full budget as generated CTEs and
    // relies on fixed-point idempotence (empty active ⇒ empty later
    // winner sets, dropped by the n_winners > 0 gate) — the LPA-oracle
    // recipe. Output is the per-round winner census (count + id sum).
    "luby_mis_trade" -> QueryDef(
      (s, dir) => {
        // shared checkpointed trade graph (r14); keys are BIGINT so the
        // old explicit .cast("long") was a no-op. assumeCanonical: the
        // artifact is distinct with u ≠ v by node parity, so the
        // operator's defensive re-distinct + re-checkpoint was a wasted
        // full shuffle + materialization (r15)
        GraphOps.lubyMis(edgesFrame(s, dir), maxRounds = 6,
            assumeCanonical = true)
          .groupBy(col("round"))
          .agg(count(lit(1)).as("n_winners"), sum(col("node")).as("id_sum"))
          .orderBy(col("round"))
      }, {
        val rounds = (1 to 6).map { r =>
          val p = (x: String) => s"md5('mis${r}_' || CAST($x AS VARCHAR))"
          s""",
             |w$r AS MATERIALIZED (
             |  SELECT a.n FROM a${r - 1} a WHERE NOT EXISTS (
             |    SELECT 1 FROM e JOIN a${r - 1} a2 ON a2.n = e.v
             |    WHERE e.u = a.n AND (${p("e.v")} < ${p("a.n")}
             |      OR (${p("e.v")} = ${p("a.n")} AND e.v < a.n)))),
             |a$r AS MATERIALIZED (
             |  SELECT n FROM a${r - 1} WHERE n NOT IN (SELECT n FROM w$r)
             |    AND n NOT IN (SELECT e.v FROM e JOIN w$r ON w$r.n = e.u))""".stripMargin
        }.mkString
        val unions = (1 to 6).map { r =>
          s"SELECT $r AS round, count(*) AS n_winners, sum(n) AS id_sum FROM w$r"
        }.mkString("\n  UNION ALL ")
        s"""WITH b AS MATERIALIZED (
           |  SELECT DISTINCT CAST(2*l.l_suppkey AS BIGINT) AS u,
           |    CAST(2*o.o_custkey + 1 AS BIGINT) AS v
           |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
           |e AS MATERIALIZED (SELECT u, v FROM b UNION SELECT v, u FROM b),
           |a0 AS MATERIALIZED (SELECT DISTINCT u AS n FROM e)$rounds
           |SELECT CAST(round AS INT) AS round, CAST(n_winners AS BIGINT) AS n_winners,
           |  CAST(id_sum AS BIGINT) AS id_sum
           |FROM ($unions)
           |WHERE n_winners > 0 ORDER BY round""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Greedy maximal matching by parallel local minima (Israeli & Itai
    // 1986 — GraphOps.greedyMatching) over the unique supplier↔customer
    // trade pairs: per round an edge matches iff its fresh md5 priority
    // key is minimal at BOTH endpoints (two per-node min aggregations —
    // the linear formulation; the per-edge NOT-EXISTS neighbor scan is
    // quadratic and measured 100× slower in the oracle). The fixture
    // matches every supplier in 2 rounds; budget 5, non-convergence
    // throws. The oracle unrolls the budget and relies on fixed-point
    // idempotence (the luby_mis_trade recipe). Output: per-round
    // matched-edge census.
    "greedy_matching_trade" -> QueryDef(
      (s, dir) => {
        // one-directional distinct pair frame from the shared artifact
        // (distinct, u ≠ v by parity — assumeCanonical skips the
        // operator's defensive re-distinct + re-checkpoint, r15)
        GraphOps.greedyMatching(tradeGraph(s, dir)._1, maxRounds = 5,
            assumeCanonical = true)
          .groupBy(col("round"))
          .agg(count(lit(1)).as("n_matched"),
            sum(col("u")).as("u_sum"), sum(col("v")).as("v_sum"))
          .orderBy(col("round"))
      }, {
        val pk = (u: String, v: String, r: Int) =>
          s"md5('match${r}_' || CAST($u AS VARCHAR) || '_' || CAST($v AS VARCHAR))" +
            s" || ':' || CAST($u AS VARCHAR) || ':' || CAST($v AS VARCHAR)"
        val rounds = (1 to 5).map { r =>
          s""",
             |l$r AS MATERIALIZED (
             |  SELECT e.u, e.v, ${pk("e.u", "e.v", r)} AS pk
             |  FROM e JOIN a${r - 1} x ON x.n = e.u JOIN a${r - 1} y ON y.n = e.v),
             |nm$r AS MATERIALIZED (
             |  SELECT n, min(pk) AS mp FROM (
             |    SELECT u AS n, pk FROM l$r UNION ALL SELECT v AS n, pk FROM l$r)
             |  GROUP BY 1),
             |w$r AS MATERIALIZED (
             |  SELECT l.u, l.v FROM l$r l
             |  JOIN nm$r mu ON mu.n = l.u AND mu.mp = l.pk
             |  JOIN nm$r mv ON mv.n = l.v AND mv.mp = l.pk),
             |a$r AS MATERIALIZED (
             |  SELECT n FROM a${r - 1} WHERE n NOT IN (SELECT u FROM w$r)
             |    AND n NOT IN (SELECT v FROM w$r))""".stripMargin
        }.mkString
        val unions = (1 to 5).map { r =>
          s"SELECT $r AS round, count(*) AS n_matched, sum(u) AS u_sum, sum(v) AS v_sum FROM w$r"
        }.mkString("\n  UNION ALL ")
        s"""WITH e AS MATERIALIZED (
           |  SELECT DISTINCT CAST(2*l.l_suppkey AS BIGINT) AS u,
           |    CAST(2*o.o_custkey + 1 AS BIGINT) AS v
           |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
           |a0 AS MATERIALIZED (SELECT u AS n FROM e UNION SELECT v AS n FROM e)$rounds
           |SELECT CAST(round AS INT) AS round, CAST(n_matched AS BIGINT) AS n_matched,
           |  CAST(u_sum AS BIGINT) AS u_sum, CAST(v_sum AS BIGINT) AS v_sum
           |FROM ($unions)
           |WHERE n_matched > 0 ORDER BY round""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Graph diameter lower bound by the classic double BFS sweep
    // (Magnien, Latapy & Habib 2009, "Fast computation of empirically
    // tight bounds for the diameter of massive graphs" — public
    // literature): BFS from the minimum node id, re-BFS from the
    // farthest node found (tie-break min id), and the second
    // eccentricity is the standard diameter lower bound. Both sweeps
    // are GraphOps.bfsHops (bounded-round frontier joins, frontier
    // checkpointed per round); the graph is the symmetrized
    // above-mean-thresholded nation flow graph (the katz edge set).
    // The five 1-row summary aggregates meet in broadcast cross joins
    // (J9 shape). Budget 8 hops at diameter 2 — slack, and the oracle
    // replays the same bounded recursion.
    "diameter_two_sweep" -> QueryDef(
      (s, dir) => {
        val flow = nationFlow(s, dir) // shared 4-way-join artifact (r14)
        val tot = flow.agg(sum(col("cnt")).as("t"), count(lit(1)).as("np"))
        val e0 = flow.crossJoin(broadcast(tot))
          .filter(col("cnt") * col("np") > col("t"))
          .select(col("u"), col("v"))
        val e = e0.unionByName(e0.select(col("v").as("u"), col("u").as("v")))
          .distinct().localCheckpoint() // feeds both sweeps
        val seedV = e.agg(min(col("u")).as("seed")).localCheckpoint()
        val h1 = GraphOps.bfsHops(e, seedV.select(col("seed").as("node")), rounds = 8)
        val uStar = h1.orderBy(col("hop").desc, col("node")).limit(1)
          .select(col("node").as("u_star")).localCheckpoint()
        val h2 = GraphOps.bfsHops(e, uStar.select(col("u_star").as("node")), rounds = 8)
        seedV.crossJoin(broadcast(uStar))
          .crossJoin(broadcast(h1.agg(max(col("hop")).cast("long").as("ecc_seed"))))
          .crossJoin(broadcast(h2.agg(max(col("hop")).cast("long").as("diameter_lb"),
            count(lit(1)).as("n_reached"))))
      },
      """WITH flow AS MATERIALIZED (
        |  SELECT CAST(s.s_nationkey AS BIGINT) AS u, CAST(c.c_nationkey AS BIGINT) AS v,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem l
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  WHERE s.s_nationkey <> c.c_nationkey
        |  GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS np FROM flow),
        |e0 AS (SELECT u, v FROM flow CROSS JOIN tot WHERE cnt * np > t),
        |e AS MATERIALIZED (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
        |seed AS (SELECT min(u) AS s0 FROM e),
        |h1 AS MATERIALIZED (
        |  SELECT n, CAST(min(hop) AS BIGINT) AS hop FROM (
        |    WITH RECURSIVE r(n, hop) AS (
        |      SELECT s0, 0 FROM seed
        |      UNION
        |      SELECT e.v, r.hop + 1 FROM r JOIN e ON e.u = r.n WHERE r.hop < 8)
        |    SELECT n, hop FROM r) GROUP BY 1),
        |u_star AS (SELECT n FROM h1 ORDER BY hop DESC, n LIMIT 1),
        |h2 AS MATERIALIZED (
        |  SELECT n, CAST(min(hop) AS BIGINT) AS hop FROM (
        |    WITH RECURSIVE r(n, hop) AS (
        |      SELECT n, 0 FROM u_star
        |      UNION
        |      SELECT e.v, r.hop + 1 FROM r JOIN e ON e.u = r.n WHERE r.hop < 8)
        |    SELECT n, hop FROM r) GROUP BY 1)
        |SELECT (SELECT s0 FROM seed) AS seed,
        |  (SELECT n FROM u_star) AS u_star,
        |  (SELECT max(hop) FROM h1) AS ecc_seed,
        |  CAST(max(hop) AS BIGINT) AS diameter_lb,
        |  CAST(count(*) AS BIGINT) AS n_reached
        |FROM h2""".stripMargin),

    // ------------------------------------------------------------------
    // Region homophily of trade flows — attribute assortativity
    // (Newman 2003, "Mixing patterns in networks" — public literature)
    // of the supplier-region → customer-region flow matrix:
    // r = (T·Σwᵢᵢ − Σaᵢbᵢ)/(T² − Σaᵢbᵢ) with T the total flow, wᵢᵢ the
    // within-region diagonal, and aᵢ/bᵢ the row/column marginals —
    // cross-multiplied to exact BIGINTs (T ≤ 6·10⁵ at sf0.1 keeps
    // T² < 2⁵³), ONE final IEEE division. The flow matrix is one keyed
    // aggregation at the (region, region) grain (≤ 25 cells); the
    // curation reading: r ≈ 0 says trade (≈ corpus linkage) mixes
    // regions randomly — no geographic silo to stratify against.
    "region_homophily_flows" -> QueryDef(
      (s, dir) => {
        val f = Tables.lineitem(s, dir)
          .join(Tables.orders(s, dir), col("o_orderkey") === col("l_orderkey"))
          .join(Tables.customer(s, dir), col("c_custkey") === col("o_custkey"))
          .join(Tables.supplier(s, dir), col("s_suppkey") === col("l_suppkey"))
          .join(Tables.nation(s, dir).select(col("n_nationkey").as("snk"),
            col("n_regionkey").as("ra")), col("snk") === col("s_nationkey"))
          .join(Tables.nation(s, dir).select(col("n_nationkey").as("cnk"),
            col("n_regionkey").as("rb")), col("cnk") === col("c_nationkey"))
          .groupBy(col("ra").cast("long").as("ra"), col("rb").cast("long").as("rb"))
          .agg(count(lit(1)).as("w"))
          .localCheckpoint() // ≤ 25 cells; feeds totals, marginals, diagonal
        val t = f.agg(sum(col("w")).as("tt"))
        val marg = f.groupBy(col("ra")).agg(sum(col("w")).as("sa"))
          .join(f.groupBy(col("rb")).agg(sum(col("w")).as("sb")),
            col("rb") === col("ra"))
          .agg(sum(col("sa") * col("sb")).as("sab"))
        val wi = f.agg(sum(when(col("ra") === col("rb"), col("w")).otherwise(0L))
          .as("win"))
        t.crossJoin(broadcast(wi)).crossJoin(broadcast(marg))
          .select(col("tt").as("total_flow"), col("win").as("within_flow"),
            col("sab").as("sum_ab"),
            (col("tt") * col("win") - col("sab")).as("num_scaled"),
            (col("tt") * col("tt") - col("sab")).as("den_scaled"),
            ((col("tt") * col("win") - col("sab")).cast("double") /
              (col("tt") * col("tt") - col("sab")).cast("double"))
              .as("assortativity"))
      },
      """WITH f AS MATERIALIZED (
        |  SELECT CAST(ns.n_regionkey AS BIGINT) AS ra, CAST(nc.n_regionkey AS BIGINT) AS rb,
        |         CAST(count(*) AS BIGINT) AS w
        |  FROM lineitem l
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  JOIN nation ns ON ns.n_nationkey = s.s_nationkey
        |  JOIN nation nc ON nc.n_nationkey = c.c_nationkey
        |  GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(w) AS BIGINT) AS tt FROM f),
        |marg AS (
        |  SELECT CAST(sum(a.sa * b.sb) AS BIGINT) AS sab FROM
        |    (SELECT ra, CAST(sum(w) AS BIGINT) AS sa FROM f GROUP BY 1) a
        |  JOIN (SELECT rb, CAST(sum(w) AS BIGINT) AS sb FROM f GROUP BY 1) b ON b.rb = a.ra),
        |wi AS (SELECT CAST(sum(CASE WHEN ra = rb THEN w ELSE 0 END) AS BIGINT) AS win FROM f)
        |SELECT t.tt AS total_flow, wi.win AS within_flow, marg.sab AS sum_ab,
        |  CAST(t.tt * wi.win - marg.sab AS BIGINT) AS num_scaled,
        |  CAST(t.tt * t.tt - marg.sab AS BIGINT) AS den_scaled,
        |  CAST(t.tt * wi.win - marg.sab AS DOUBLE) / CAST(t.tt * t.tt - marg.sab AS DOUBLE) AS assortativity
        |FROM t CROSS JOIN wi CROSS JOIN marg""".stripMargin),

    // ------------------------------------------------------------------
    // Margin-based hard-example mining (uncertainty pruning — Settles
    // 2009 active-learning survey; the data-pruning heuristic behind
    // margin-ranked selection): train the exact-integer perceptron
    // (the perceptron_train_weights machinery verbatim, 5 rounds),
    // score every example's margin under the FINAL weights, and keep
    // the 20 smallest |margin| — the boundary examples a curation
    // pass would route to labeling/upweighting. Margins are exact
    // BIGINTs (QuantizeVec grid), the ranking is a TakeOrdered top-k;
    // the oracle replays the identical 5 training rounds and the same
    // final-weight scoring.
    "margin_hard_examples" -> QueryDef(
      (s, dir) => {
        // shared perceptron-model artifact (r15)
        val (feats, hist, _) = perceptronModel(s, dir)
        val w5 = hist(4)
        feats.groupBy(col("id"), col("y"))
          .agg(sum(element_at(lit(w5), col("dim").cast("int") + 1) * col("x"))
            .as("margin"))
          .select(col("id"), col("y"), col("margin"),
            abs(col("margin")).as("abs_margin"))
          .orderBy(col("abs_margin"), col("id"))
          .limit(20)
      },
      s"""WITH $perceptronFeaturesSql${perceptronRoundsSql(5)},
         |mfin AS (
         |  SELECT fl.id, fl.y, CAST(SUM(w.w * fl.x) AS BIGINT) AS margin
         |  FROM fl JOIN w5 w ON w.dim = fl.dim GROUP BY 1, 2)
         |SELECT id, CAST(y AS BIGINT) AS y, margin,
         |  CAST(abs(margin) AS BIGINT) AS abs_margin
         |FROM mfin ORDER BY abs_margin, id LIMIT 20""".stripMargin)
  )

  /** DuckDB twin of TextOps.tokens (a def: `defs` above initializes
    * first — a val here would still be null at that point). */
  private def nbToksSql =
    "list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'), t -> len(t) > 0)"
}
