package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.exprs
import graft.operators.{Similarity, TextOps}

/** Embedding- and LM-driven data-selection operators: greedy k-center
  * coreset selection (Gonzalez 1985 farthest-point traversal — the
  * coreset sampler behind diversity-aware data selection), bitext
  * mutual-top-1 mining (the CCMatrix/LASER margin-mining shape:
  * forward/backward nearest neighbors that agree), per-dimension
  * embedding centroid drift (distribution-shift monitoring between a
  * cohort and the corpus), Hellinger/Bhattacharyya token-distribution
  * drift between sources, and greedy argmax decoding from a trained
  * bigram LM (the sanity-check decode every LM data pipeline runs).
  *
  * Determinism: embeddings ride the [[graft.functions.QuantizeVec]]
  * integer grid wherever a distance feeds a decision (k-center,
  * centroid drift), so every comparison is exact-integer; the bitext
  * ranking reuses the cosine ordering already proven bit-stable by the
  * ann_* oracles and outputs ids only; Hellinger emits per-token sqrt
  * terms (no SUM over doubles, per CLAUDE.md); greedy decode is pure
  * integer-count argmax with lexicographic tie-breaks.
  *
  * Scale: k-center and greedy decode touch the full data once per
  * round through one keyed join/agg (driver sees only the 1-row
  * argmax); bitext is a broadcast block product over two bounded
  * cohorts with map-side-combinable struct-max argmax (no window over
  * the pair frame); centroid drift is two aggregations on the
  * (label, dim) / (dim) grains.
  */
object SelectionEmbedQueries {

  private val toksSql =
    "list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'), t -> len(t) > 0)"

  /** Quantized-integer point frame of the k-center traversal
    * (vec_id, exact-double grid coordinates, self-dot), checkpointed.
    */
  private def kcenterPts(
      s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.embeddings(s, dir)
      .select(col("vec_id"),
        exprs.quantizeVec(col("embedding"), 1000)
          .cast("array<double>").as("v"))
      .withColumn("saa", exprs.vecDot(col("v"), col("v")))
      .localCheckpoint()

  /** Exact-integer squared-L2 distance of every point to a broadcast
    * 1-row center (the aa − 2ab + bb identity) — the k-center round's
    * distance frame.
    */
  private def kcenterDistTo(
      pts: org.apache.spark.sql.DataFrame,
      center: org.apache.spark.sql.DataFrame) =
    pts.crossJoin(broadcast(center
        .select(col("v").as("cv"), col("saa").as("sbb"))))
      .select(col("vec_id"),
        (col("saa") - lit(2.0) * exprs.vecDot(col("v"), col("cv")) +
          col("sbb")).cast("long").as("dist"))

  val defs: Map[String, QueryDef] = Map(

    // ------------------------------------------------------------------
    // Greedy k-center coreset (Gonzalez farthest-point, 5 centers):
    // quantized integer grid → squared-L2 distances are exact BIGINTs
    // (computed via the dot identity aa − 2ab + bb on integer-valued
    // doubles, every partial exact under 2^53). Each round is one
    // broadcast join against the 1-row new center + one running-min +
    // one argmax; the driver sees exactly one row per round. The
    // min-distance frame is localCheckpoint'ed per round (the lineage
    // would otherwise deepen linearly — the cluster analog is a tiny
    // working table).
    "kcenter_coreset" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val pts = kcenterPts(s, dir)
        def distTo(center: org.apache.spark.sql.DataFrame) =
          kcenterDistTo(pts, center)
        val firstId = pts.agg(min(col("vec_id"))).collect()(0).getLong(0)
        var m = distTo(pts.filter(col("vec_id") === firstId)).localCheckpoint()
        // centers(r - 1) = round r's center. Round r's radius is max(dist)
        // of its m, which is the dist of round r + 1's argmax pick, so
        // only the last round reads the radius with its own job.
        val centers = scala.collection.mutable.ArrayBuffer(firstId)
        val radii = scala.collection.mutable.ArrayBuffer[Long]()
        var r = 2
        while (r <= 5) {
          val pick = m.orderBy(col("dist").desc, col("vec_id")).limit(1)
            .collect()(0)
          val cid = pick.getLong(0)
          radii += pick.getLong(1)
          centers += cid
          val d = distTo(pts.filter(col("vec_id") === cid))
          m = m.join(d.withColumnRenamed("dist", "d2"), Seq("vec_id"))
            .select(col("vec_id"),
              when(col("d2") < col("dist"), col("d2")).otherwise(col("dist"))
                .as("dist"))
            .localCheckpoint()
          r += 1
        }
        radii += m.agg(max(col("dist"))).collect()(0).getLong(0)
        centers.indices.map(i => (i + 1, centers(i), radii(i)))
          .toDF("round", "center_id", "radius").orderBy(col("round"))
      }, {
        val kc = new StringBuilder(
          """WITH q AS MATERIALIZED (
            |  SELECT vec_id, i AS dim,
            |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS v
            |  FROM embeddings, unnest(range(1, 65)) r(i)),
            |c1 AS (SELECT CAST(min(vec_id) AS BIGINT) AS id FROM embeddings),
            |d1 AS (
            |  SELECT q.vec_id, CAST(SUM((q.v - p.v) * (q.v - p.v)) AS BIGINT) AS dist
            |  FROM q JOIN (SELECT q2.dim, q2.v FROM q q2 JOIN c1 ON q2.vec_id = c1.id) p
            |    ON p.dim = q.dim
            |  GROUP BY 1),
            |m1 AS (SELECT vec_id, dist FROM d1)""".stripMargin)
        val outs = scala.collection.mutable.ArrayBuffer(
          "SELECT 1 AS round, id AS center_id, (SELECT max(dist) FROM m1) AS radius FROM c1")
        for (r <- 2 to 5) {
          kc ++= s""",
            |c$r AS (SELECT vec_id AS id, dist FROM m${r - 1} ORDER BY dist DESC, vec_id LIMIT 1),
            |d$r AS (
            |  SELECT q.vec_id, CAST(SUM((q.v - p.v) * (q.v - p.v)) AS BIGINT) AS dist
            |  FROM q JOIN (SELECT q2.dim, q2.v FROM q q2 JOIN c$r ON q2.vec_id = c$r.id) p
            |    ON p.dim = q.dim
            |  GROUP BY 1),
            |m$r AS (SELECT m.vec_id, CASE WHEN d.dist < m.dist THEN d.dist ELSE m.dist END AS dist
            |        FROM m${r - 1} m JOIN d$r d ON d.vec_id = m.vec_id)""".stripMargin
          outs += s"SELECT $r AS round, id AS center_id, (SELECT max(dist) FROM m$r) AS radius FROM c$r"
        }
        kc ++= "\nSELECT CAST(round AS INT) AS round, center_id, radius FROM (" +
          outs.mkString(" UNION ALL ") + ") ORDER BY round"
        kc.toString
      }),

    // ------------------------------------------------------------------
    // Bitext mutual-top-1 mining between two cohorts (labels 0 and 1 as
    // stand-ins for two languages): a pair survives only if each side
    // is the other's nearest neighbor by cosine — the agreement filter
    // parallel-corpus miners apply before the margin test. The argmax
    // on each side is a map-side-combinable max(struct(sim, −id))
    // (array_max-over-structs lesson — no window over the pair frame);
    // ids-only output, cosine ordering proven bit-stable by ann_*.
    "bitext_mutual_pairs" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val a = emb.filter(col("label") === 0)
          .select(col("vec_id").as("a_id"), col("embedding").as("ea"))
        val b = emb.filter(col("label") === 1)
          .select(col("vec_id").as("b_id"), col("embedding").as("eb"))
        val pairs = a.crossJoin(broadcast(b))
          .select(col("a_id"), col("b_id"),
            Similarity.cosine(col("ea"), col("eb")).as("sim"))
          .localCheckpoint()
        val fwd = pairs
          .groupBy(col("a_id"))
          .agg(max(struct(col("sim"), (-col("b_id")).as("nb"))).as("m"))
          .select(col("a_id"), (-col("m.nb")).as("b_id"))
        val bwd = pairs
          .groupBy(col("b_id"))
          .agg(max(struct(col("sim"), (-col("a_id")).as("na"))).as("m"))
          .select(col("b_id"), (-col("m.na")).as("a_id"))
        fwd.join(bwd, Seq("a_id", "b_id")).orderBy(col("a_id"))
      },
      """WITH a AS (SELECT vec_id, embedding FROM embeddings WHERE label = 0),
        |b AS (SELECT vec_id, embedding FROM embeddings WHERE label = 1),
        |pairs AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |    list_cosine_similarity(a.embedding, b.embedding) AS sim
        |  FROM a CROSS JOIN b),
        |fwd AS (
        |  SELECT a_id, b_id FROM (
        |    SELECT a_id, b_id,
        |      row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id) AS rk
        |    FROM pairs) WHERE rk = 1),
        |bwd AS (
        |  SELECT a_id, b_id FROM (
        |    SELECT a_id, b_id,
        |      row_number() OVER (PARTITION BY b_id ORDER BY sim DESC, a_id) AS rk
        |    FROM pairs) WHERE rk = 1)
        |SELECT f.a_id, f.b_id
        |FROM fwd f JOIN bwd w ON f.a_id = w.a_id AND f.b_id = w.b_id
        |ORDER BY f.a_id""".stripMargin),

    // ------------------------------------------------------------------
    // Per-dimension centroid drift of each label cohort vs the whole
    // corpus: on the integer grid the shift numerator
    // n_all·S_label,d − n_label·S_all,d is an exact BIGINT, so the
    // top-3 drifting dimensions per label rank exactly; the reported
    // double shift is a single fixed-order division. Two aggregations
    // ((label,dim) then (dim)) over the position-exploded grid — the
    // embedding-table scan dominates at scale, the grain frames are
    // labels×64 rows.
    "embedding_centroid_drift" -> QueryDef(
      (s, dir) => {
        val q = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("label"),
            posexplode(exprs.quantizeVec(col("embedding"), 1000))
              .as(Seq("pos", "v")))
          .select(col("label"), (col("pos") + 1).cast("long").as("dim"),
            col("v"))
        val l = q.groupBy(col("label"), col("dim"))
          .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        val g = q.groupBy(col("dim"))
          .agg(sum(col("v")).as("sg"), count(lit(1)).as("ng"))
        val sh = l.join(g, Seq("dim"))
          .select(col("label"), col("dim"),
            (col("ng") * col("s") - col("n") * col("sg")).as("shift_num"),
            col("n"), col("ng"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("label"))
          .orderBy(abs(col("shift_num")).desc, col("dim"))
        sh.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("label"), col("dim"), col("shift_num"),
            col("n").as("n_label"), col("ng").as("n_all"),
            (col("shift_num").cast("double") /
              (col("n") * col("ng")).cast("double") / lit(1000.0)).as("shift"))
          .orderBy(col("label"), col("dim"))
      },
      """WITH q AS (
        |  SELECT vec_id, label, i AS dim,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS v
        |  FROM embeddings, unnest(range(1, 65)) r(i)),
        |l AS (SELECT label, dim, CAST(SUM(v) AS BIGINT) AS s,
        |             CAST(count(*) AS BIGINT) AS n
        |      FROM q GROUP BY 1, 2),
        |g AS (SELECT dim, CAST(SUM(v) AS BIGINT) AS sg, CAST(count(*) AS BIGINT) AS ng
        |      FROM q GROUP BY 1),
        |sh AS (
        |  SELECT l.label, l.dim,
        |    CAST(g.ng * l.s - l.n * g.sg AS BIGINT) AS shift_num, l.n, g.ng
        |  FROM l JOIN g ON l.dim = g.dim),
        |rk AS (
        |  SELECT label, dim, shift_num, n, ng,
        |    row_number() OVER (PARTITION BY label ORDER BY abs(shift_num) DESC, dim) AS rk
        |  FROM sh)
        |SELECT label, CAST(dim AS BIGINT) AS dim, shift_num, n AS n_label, ng AS n_all,
        |  CAST(shift_num AS DOUBLE) / CAST(n * ng AS DOUBLE) / 1000.0 AS shift
        |FROM rk WHERE rk <= 3 ORDER BY label, dim""".stripMargin),

    // ------------------------------------------------------------------
    // Hellinger/Bhattacharyya token-distribution drift between two
    // sources: per-token affinity terms sqrt(p·q) for the 20 heaviest
    // shared tokens. Counts are exact; each term is two divisions, one
    // multiply, one sqrt in fixed order — emitted per row, never
    // summed (the chi2 emit-per-term rule). The token-count agg is the
    // only big shuffle; the totals ride a broadcast 1-row cross join.
    "hellinger_token_drift" -> QueryDef(
      (s, dir) => {
        val t = Tables.documents(s, dir)
          .filter(col("source").isin("src0", "src1"))
          .select(col("source"), explode(TextOps.tokens(col("text"))).as("tok"))
        val c = t.groupBy(col("tok")).agg(
          count(when(col("source") === "src0", lit(1))).as("c0"),
          count(when(col("source") === "src1", lit(1))).as("c1"))
        val tot = c.agg(sum(col("c0")).as("t0"), sum(col("c1")).as("t1"))
        c.orderBy((col("c0") + col("c1")).desc, col("tok")).limit(20)
          .crossJoin(broadcast(tot))
          .select(col("tok"), col("c0"), col("c1"),
            sqrt((col("c0").cast("double") / col("t0").cast("double")) *
              (col("c1").cast("double") / col("t1").cast("double")))
              .as("bc_term"))
          .orderBy((col("c0") + col("c1")).desc, col("tok"))
      },
      s"""WITH d AS (SELECT source, $toksSql AS toks FROM documents WHERE source IN ('src0','src1')),
         |t AS (SELECT source, unnest(toks) AS tok FROM d),
         |c AS (SELECT tok,
         |        CAST(count(*) FILTER (WHERE source = 'src0') AS BIGINT) AS c0,
         |        CAST(count(*) FILTER (WHERE source = 'src1') AS BIGINT) AS c1
         |      FROM t GROUP BY 1),
         |tot AS (SELECT CAST(SUM(c0) AS BIGINT) AS t0, CAST(SUM(c1) AS BIGINT) AS t1 FROM c),
         |top AS (SELECT tok, c0, c1 FROM c ORDER BY c0 + c1 DESC, tok LIMIT 20)
         |SELECT top.tok, top.c0, top.c1,
         |  sqrt((CAST(top.c0 AS DOUBLE) / CAST(tot.t0 AS DOUBLE)) *
         |       (CAST(top.c1 AS DOUBLE) / CAST(tot.t1 AS DOUBLE))) AS bc_term
         |FROM top CROSS JOIN tot ORDER BY top.c0 + top.c1 DESC, top.tok""".stripMargin),

    // ------------------------------------------------------------------
    // Greedy decode from a trained bigram LM (8 steps from the most
    // frequent seed token, count-argmax with lexicographic ties): the
    // decode-sanity-check of an LM data pipeline, and the degenerate-
    // repetition probe (greedy decodes loop — visibly — when the
    // corpus is template-heavy). The bigram table is built once
    // (checkpointed, reused 9 times); each step is one filtered argmax
    // whose single row is all the driver ever sees.
    "greedy_decode_bigram" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val bg = Tables.documents(s, dir)
          .filter(col("source") === "src0")
          .select(TextOps.tokens(col("text")).as("toks"))
          .filter(size(col("toks")) >= 2)
          .select(explode(expr(
            "transform(sequence(0, size(toks) - 2), i -> struct(toks[i] AS prev, toks[i + 1] AS nxt))"))
            .as("b"))
          .groupBy(col("b.prev").as("prev"), col("b.nxt").as("nxt"))
          .agg(count(lit(1)).as("cnt"))
          .localCheckpoint()
        val seed = bg.groupBy(col("prev").as("tok"))
          .agg(sum(col("cnt")).as("cnt"))
          .orderBy(col("cnt").desc, col("tok")).limit(1)
          .collect()(0)
        val out = scala.collection.mutable.ArrayBuffer[(Int, String, Long)]()
        out += ((0, seed.getString(0), seed.getLong(1)))
        var cur = seed.getString(0)
        var step = 1
        var deadEnd = false
        // headOption + break on a dead-end token (no outgoing bigram):
        // the oracle's p{r} CTE is empty past that step and emits fewer
        // rows — the Spark side must shorten identically, not crash
        // (the submodular_source_select empty-argmax lesson).
        while (step <= 8 && !deadEnd) {
          bg.filter(col("prev") === cur)
            .orderBy(col("cnt").desc, col("nxt")).limit(1).collect()
            .headOption match {
            case None => deadEnd = true
            case Some(nxt) =>
              cur = nxt.getString(1)
              out += ((step, cur, nxt.getLong(2)))
              step += 1
          }
        }
        out.toSeq.toDF("step", "tok", "cnt").orderBy(col("step"))
      }, {
        val rounds = (1 to 8).map { r =>
          s""",
             |p$r AS (SELECT b.nxt AS tok, b.cnt FROM bg b JOIN p${r - 1} p ON b.prev = p.tok
             |        ORDER BY b.cnt DESC, b.nxt LIMIT 1)""".stripMargin
        }.mkString
        val outs = ("SELECT 0 AS step, tok, cnt FROM p0" +:
          (1 to 8).map(r => s"SELECT $r AS step, tok, cnt FROM p$r")).mkString(" UNION ALL ")
        s"""WITH d AS (SELECT $toksSql AS toks FROM documents WHERE source = 'src0'),
           |bg AS MATERIALIZED (
           |  SELECT toks[i] AS prev, toks[i+1] AS nxt, CAST(count(*) AS BIGINT) AS cnt
           |  FROM d, unnest(range(1, len(toks))) r(i) GROUP BY 1, 2),
           |u AS (SELECT prev AS tok, CAST(SUM(cnt) AS BIGINT) AS cnt FROM bg GROUP BY 1),
           |p0 AS (SELECT tok, cnt FROM u ORDER BY cnt DESC, tok LIMIT 1)$rounds
           |SELECT CAST(step AS INT) AS step, tok, cnt FROM ($outs) ORDER BY step""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Speculative-decoding acceptance simulation (Leviathan et al.
    // 2023, "Fast inference from transformers via speculative
    // decoding" — public literature): the TARGET model is the
    // full-corpus bigram argmax, the DRAFT model the same argmax
    // trained on HALF the corpus (even doc_ids — the cheaper-model
    // stand-in); 4-step greedy chains from the top-5 unigram seeds,
    // and at every step the draft's proposal (conditioned on the
    // target's prefix — exactly speculative verification) is accepted
    // iff it equals the target's argmax. Unlike greedy_decode_bigram's
    // driver loop, the chain is 4 UNROLLED joins of the 5-row seed
    // frame against the bigram model — no collect; per-step argmax is
    // a 5-partition window. A target dead-end shortens the chain in
    // both engines identically. All ties break (count DESC, token).
    "speculative_decode_accept" -> QueryDef(
      (s, dir) => {
        val toksL = Tables.documents(s, dir)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
          .localCheckpoint() // feeds target model, draft model, unigrams
        val pairs = toksL.filter(size(col("toks")) >= 2)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(0, size(toks) - 2), i -> struct(toks[i] AS x, toks[i + 1] AS y))"))
            .as("b"))
          .select(col("doc_id"), col("b.x").as("x"), col("b.y").as("y"))
        val big = pairs.groupBy(col("x"), col("y"))
          .agg(count(lit(1)).as("c")).localCheckpoint() // 4 step joins
        val dbig = pairs.filter(col("doc_id") % 2 === 0)
          .groupBy(col("x"), col("y"))
          .agg(count(lit(1)).as("c")).localCheckpoint()
        val c0 = toksL.select(explode(col("toks")).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("tok")).limit(5)
          .select(col("tok").as("seed"), col("tok"))
        val w = Window.partitionBy(col("seed")).orderBy(col("c").desc, col("y"))
        var ck = c0
        (1 to 4).map { k =>
          val tk = ck.join(big, col("x") === col("tok"))
            .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
            .select(col("seed"), col("y").as("t_tok"))
          val dk = ck.join(dbig, col("x") === col("tok"))
            .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
            .select(col("seed"), col("y").as("d_tok"))
          val step = tk.join(dk, Seq("seed"), "left")
            .select(col("seed"), lit(k).as("step"), col("t_tok").as("target_tok"),
              coalesce(col("d_tok"), lit("")).as("draft_tok"),
              when(col("d_tok") === col("t_tok"), 1).otherwise(0).as("accepted"))
          ck = tk.select(col("seed"), col("t_tok").as("tok"))
          step
        }.reduce(_ unionByName _).orderBy(col("seed"), col("step"))
      }, {
        val steps = (1 to 4).map { k =>
          s""",
             |t$k AS (
             |  SELECT c.seed, y AS tok FROM c${k - 1} c JOIN big b ON b.x = c.tok
             |  QUALIFY row_number() OVER (PARTITION BY c.seed ORDER BY b.c DESC, b.y) = 1),
             |d$k AS (
             |  SELECT c.seed, y AS tok FROM c${k - 1} c JOIN dbig b ON b.x = c.tok
             |  QUALIFY row_number() OVER (PARTITION BY c.seed ORDER BY b.c DESC, b.y) = 1),
             |c$k AS (SELECT seed, tok FROM t$k)""".stripMargin
        }.mkString
        val unions = (1 to 4).map { k =>
          s"SELECT seed, $k AS step, t$k.tok AS target_tok, d$k.tok AS draft_tok " +
            s"FROM t$k LEFT JOIN d$k USING (seed)"
        }.mkString("\n UNION ALL ")
        s"""WITH toksL AS MATERIALIZED (SELECT doc_id, $toksSql AS ts FROM documents),
           |big AS MATERIALIZED (
           |  SELECT ts[i] AS x, ts[i+1] AS y, CAST(count(*) AS BIGINT) AS c
           |  FROM toksL, unnest(range(1, len(ts))) r(i) GROUP BY 1, 2),
           |dbig AS MATERIALIZED (
           |  SELECT ts[i] AS x, ts[i+1] AS y, CAST(count(*) AS BIGINT) AS c
           |  FROM toksL, unnest(range(1, len(ts))) r(i)
           |  WHERE doc_id % 2 = 0 GROUP BY 1, 2),
           |uni AS (SELECT tok, count(*) AS c
           |  FROM (SELECT unnest(ts) AS tok FROM toksL) GROUP BY 1),
           |c0 AS (SELECT tok AS seed, tok FROM uni ORDER BY c DESC, tok LIMIT 5)$steps
           |SELECT seed, CAST(step AS INT) AS step, target_tok,
           |  coalesce(draft_tok, '') AS draft_tok,
           |  CAST(CASE WHEN draft_tok = target_tok THEN 1 ELSE 0 END AS INT) AS accepted
           |FROM ($unions) ORDER BY seed, step""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Nucleus (top-p) support size (Holtzman et al. 2020, "The curious
    // case of neural text degeneration" — public literature) of the
    // bigram next-token distributions: for the 10 heaviest contexts,
    // the number of ranked continuations needed to reach 80% of the
    // context's mass (cum·5 ≥ total·4, cross-multiplied — no division
    // inside the scan) plus the argmax share. Sizes the top-p
    // truncation a sampler would apply; a tiny nucleus on a huge
    // context flags a degenerate/templated continuation distribution.
    // The per-context ranking window partitions by context (bounded
    // fan-in); everything else is the one bigram aggregation.
    "nucleus_p80_contexts" -> QueryDef(
      (s, dir) => {
        val big = Tables.documents(s, dir)
          .select(TextOps.tokens(col("text")).as("toks"))
          .filter(size(col("toks")) >= 2)
          .select(explode(expr(
            "transform(sequence(0, size(toks) - 2), i -> struct(toks[i] AS x, toks[i + 1] AS y))"))
            .as("b"))
          .groupBy(col("b.x").as("x"), col("b.y").as("y"))
          .agg(count(lit(1)).as("c"))
          .localCheckpoint() // feeds context totals + the ranked scan
        val ctx = big.groupBy(col("x")).agg(sum(col("c")).as("total"))
          .orderBy(col("total").desc, col("x")).limit(10)
        val w = Window.partitionBy(col("x")).orderBy(col("c").desc, col("y"))
        val ranked = big.join(broadcast(ctx), Seq("x"))
          .withColumn("cum", sum(col("c")).over(
            w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
          .withColumn("rn", row_number().over(w))
        ranked.groupBy(col("x"))
          .agg(min(col("total")).as("total"),
            count(lit(1)).as("vocab_out"),
            min(when(col("cum") * 5 >= col("total") * 4, col("rn").cast("long")))
              .as("nucleus80"),
            max(when(col("rn") === 1, col("c"))).as("top1_count"))
          .select(col("x"), col("total"), col("vocab_out"), col("nucleus80"),
            col("top1_count"),
            (col("top1_count").cast("double") / col("total").cast("double"))
              .as("top1_share"))
          .orderBy(col("x"))
      },
      s"""WITH lists AS (SELECT doc_id, $toksSql AS ts FROM documents),
         |big AS MATERIALIZED (
         |  SELECT ts[i] AS x, ts[i+1] AS y, CAST(count(*) AS BIGINT) AS c
         |  FROM lists, unnest(range(1, len(ts))) r(i) GROUP BY 1, 2),
         |ctx AS (SELECT x, CAST(sum(c) AS BIGINT) AS total FROM big GROUP BY 1
         |        ORDER BY total DESC, x LIMIT 10),
         |ranked AS (
         |  SELECT b.x, b.y, b.c, ctx.total,
         |    CAST(sum(b.c) OVER (PARTITION BY b.x ORDER BY b.c DESC, b.y ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         |    row_number() OVER (PARTITION BY b.x ORDER BY b.c DESC, b.y) AS rn
         |  FROM big b JOIN ctx ON ctx.x = b.x)
         |SELECT x, CAST(min(total) AS BIGINT) AS total,
         |  CAST(count(*) AS BIGINT) AS vocab_out,
         |  CAST(min(CASE WHEN cum * 5 >= total * 4 THEN rn END) AS BIGINT) AS nucleus80,
         |  CAST(max(CASE WHEN rn = 1 THEN c END) AS BIGINT) AS top1_count,
         |  CAST(max(CASE WHEN rn = 1 THEN c END) AS DOUBLE) / CAST(min(total) AS DOUBLE) AS top1_share
         |FROM ranked GROUP BY 1 ORDER BY x""".stripMargin),

    // ------------------------------------------------------------------
    // Semantic contamination sweep: the eval set (the first 10
    // embedding ids, standing in for a benchmark's embedded items)
    // scans the corpus for vectors with cosine ≥ 0.30 (the fixture's
    // top-neighbor band — dbscan's ε) — the EMBEDDING-space
    // complement of text_contamination's n-gram sweep (Lee et al.
    // 2022 / GPT-4-report-style decontamination both ways). The probe
    // set broadcasts into the corpus scan (the ann_bruteforce shape);
    // cosine is the engine's fixed-order formula (VecDot + explicit
    // sqrt norms), restated bit-for-bit by the oracle per the
    // documented threshold-oracle recipe. Every probe reports — zero
    // hits surface as an explicit clean row, never a dropped one.
    "semantic_contamination_sweep" -> QueryDef(
      (s, dir) => {
        val nr = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("embedding"),
            Similarity.l2Norm(col("embedding")).as("n"))
        val probes = nr.filter(col("vec_id") < 10)
          .select(col("vec_id").as("pid"), col("embedding").as("pv"),
            col("n").as("pn"))
          .localCheckpoint() // feeds the sweep and the all-probes frame
        val hits = nr.join(broadcast(probes), col("vec_id") =!= col("pid"))
          .select(col("pid"), col("vec_id").as("cid"),
            Similarity.cosineFromNorms(col("pv"), col("embedding"), col("pn"), col("n"))
              .as("cos"))
          .filter(col("cos") >= 0.30)
          .localCheckpoint() // feeds the census agg AND the top-1 window
        val agg = hits.groupBy(col("pid"))
          .agg(count(lit(1)).as("n_contaminated"))
        val top = hits.withColumn("rn", row_number().over(
            Window.partitionBy(col("pid")).orderBy(col("cos").desc, col("cid"))))
          .filter(col("rn") === 1)
          .select(col("pid"), col("cid").as("top_match_id"), col("cos").as("top_sim"))
        probes.select(col("pid"))
          .join(agg, Seq("pid"), "left")
          .join(top, Seq("pid"), "left")
          .select(col("pid").as("probe_id"),
            coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
            coalesce(col("top_match_id"), lit(-1L)).as("top_match_id"),
            coalesce(col("top_sim"), lit(0.0)).as("top_sim"))
          .orderBy(col("probe_id"))
      },
      """WITH ev AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |nr AS MATERIALIZED (
        |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS n FROM ev),
        |p AS (SELECT vec_id AS pid, v, n FROM nr WHERE vec_id < 10),
        |sc AS (
        |  SELECT p.pid, c.vec_id AS cid,
        |    CASE WHEN p.n * c.n > 0
        |         THEN list_dot_product(p.v, c.v) / (p.n * c.n)
        |         ELSE CAST(0.0 AS DOUBLE) END AS cos
        |  FROM p JOIN nr c ON c.vec_id <> p.pid),
        |hits AS MATERIALIZED (SELECT * FROM sc WHERE cos >= 0.30),
        |agg AS (SELECT pid, CAST(count(*) AS BIGINT) AS n_contaminated FROM hits GROUP BY 1),
        |top AS (
        |  SELECT pid, cid AS top_match_id, cos AS top_sim FROM hits
        |  QUALIFY row_number() OVER (PARTITION BY pid ORDER BY cos DESC, cid) = 1)
        |SELECT p.pid AS probe_id,
        |  coalesce(agg.n_contaminated, 0) AS n_contaminated,
        |  CAST(coalesce(top.top_match_id, -1) AS BIGINT) AS top_match_id,
        |  coalesce(top.top_sim, 0.0) AS top_sim
        |FROM p LEFT JOIN agg ON agg.pid = p.pid
        |LEFT JOIN top ON top.pid = p.pid
        |ORDER BY probe_id""".stripMargin)
  )
}
