package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Degree-conditioned graph operators over an undirected edge frame
  * (columns `u`, `v`, both directions present — the
  * [[PageRank]]/[[Dedup.connectedComponents]] convention).
  *
  * Both are bounded-round iterative equi-joins — the only shape that
  * survives 100 TB graphs: each round is one degree aggregation plus
  * one (or two) keyed semi-joins on the node id, no driver
  * participation, no all-pairs anything. The edge frame is
  * lineage-truncated once up front (localCheckpoint = the cluster's
  * parquet-write analog) because every round rescans it.
  */
object GraphOps {

  /** Truncated k-core peel (Seidman 1983, "Network structure and
    * minimum degree" — public literature): `rounds` iterations of
    * {count degrees → keep nodes with degree ≥ k → keep edges with
    * both endpoints kept}. Returns the surviving nodes with their
    * degree in the final restricted subgraph. Fixed-round truncation
    * (not to-convergence) is the contract — the oracle replays the
    * same rounds; on real graphs the peel cascades and `rounds`
    * bounds the sequential depth, exactly like the fixed-round
    * PageRank contract.
    */
  def kcoreTruncated(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, "k and rounds must be positive")
    var e = edges.select(col("u"), col("v")).localCheckpoint()
    var r = 0
    while (r < rounds) {
      val surv = e.groupBy(col("u")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
      // NO per-round checkpoint here: A/B'd at sf0.1 (r8) — AQE reuses
      // the materialized exchanges across surv's two join sides and
      // the next round's agg, and the checkpointed variant measured
      // equal-or-slower (2.9-4.2s plain vs 3.6-4.0s checkpointed), the
      // PrefixSum lesson again. bfsHops below is the opposite case
      // (its frontier lineage is NOT exchange-shaped, so it keeps one).
      e = e
        .join(surv.select(col("u").as("ku")), col("u") === col("ku")).drop("ku")
        .join(surv.select(col("u").as("kv")), col("v") === col("kv")).drop("kv")
      r += 1
    }
    e.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** Semi-synchronous label-propagation community detection (Raghavan
    * et al. 2007, "Near linear time algorithm to detect community
    * structures" — public literature) over a BIPARTITE edge frame
    * using the repo's node-parity convention (even ids = one side,
    * odd = the other) as the 2-coloring: each round updates the even
    * side from odd labels, then the odd side from the just-updated
    * even labels. Semi-synchronous scheduling on a proper coloring
    * removes the synchronous-LPA oscillation mode (Cordasco & Gargano
    * 2010); the deterministic tie-break (max count, then MIN label —
    * one struct-max aggregate, the array_max-over-structs lesson)
    * makes every round replayable by the oracle's unrolled CTEs.
    *
    * Per phase: one edge⋈label equi-join + one (node,label) count agg
    * + one struct-max argmax + one label update join — all keyed on
    * the node id, no driver participation beyond the per-round
    * convergence probe (a limit-1 count). Labels localCheckpoint per
    * phase: each phase's frame feeds the next phase's count join AND
    * the update base AND (round-end) the convergence compare — the
    * degree_assortativity multi-consumer lesson. Converged means a
    * full round changed no label (a fixed point — further rounds are
    * identity, which is what lets the oracle unroll a FIXED round
    * count); non-convergence within `maxRounds` throws rather than
    * silently truncating.
    *
    * CONTRACT: `edges` must be SYMMETRIC (every (u,v) has its (v,u)
    * twin) — labels key off the u column and votes flow u←v, so an
    * unsymmetrized directed frame would silently leave v-only nodes
    * unlabeled and drop their votes. Enforced by one early-out
    * anti-join against the reversed frame (a bounded guard job on the
    * already-checkpointed edges), which throws instead.
    */
  def lpaCommunities(edges: DataFrame, maxRounds: Int): DataFrame = {
    require(maxRounds >= 1, "maxRounds must be positive")
    val e = edges.select(col("u"), col("v")).localCheckpoint()
    val unmirrored = e.join(
      e.select(col("v").as("u"), col("u").as("v")),
      Seq("u", "v"), "left_anti").limit(1).count()
    require(unmirrored == 0L,
      "lpaCommunities requires a symmetric edge frame: some (u,v) has no (v,u) twin")
    var lab = e.select(col("u").as("n")).distinct()
      .select(col("n"), col("n").as("lab"))
      .localCheckpoint()
    var r = 1
    var done = false
    while (r <= maxRounds && !done) {
      val prev = lab
      var cur = lab
      var par = 0
      while (par <= 1) {
        cur = lpaPhase(e, cur, par).localCheckpoint()
        par += 1
      }
      lab = cur
      done = prev.select(col("n"), col("lab").as("old"))
        .join(lab, Seq("n"))
        .filter(col("lab") =!= col("old")).limit(1).count() == 0L
      r += 1
    }
    require(done, s"LPA did not converge within $maxRounds rounds")
    lab
  }

  /** ONE LPA half-step's updated label frame, pre-checkpoint — the
    * loop body of [[lpaCommunities]] (edge⋈label equi-join +
    * (node,label) count + struct-max argmax + label-update join).
    */
  private def lpaPhase(
      e: DataFrame, cur: DataFrame, par: Int): DataFrame = {
    val cnt = e.filter(col("u") % 2 === par)
      .join(cur.select(col("n").as("vn"), col("lab")),
        col("v") === col("vn"))
      .groupBy(col("u"), col("lab"))
      .agg(count(lit(1)).as("c"))
    val pick = cnt.groupBy(col("u"))
      .agg(max(struct(col("c"), (-col("lab")).as("nl"))).as("m"))
      .select(col("u").as("pn"), (-col("m.nl")).as("plab"))
    cur.join(pick, col("n") === col("pn"), "left")
      .select(col("n"), coalesce(col("plab"), col("lab")).as("lab"))
  }

  /** Bounded-round BFS hop levels from a seed frame (column `node`):
    * hop 0 = seeds, hop r = nodes first reached in round r ≤ `rounds`.
    * Frontier-only expansion — each round joins ONLY the newly
    * reached nodes to the edge frame and anti-joins the visited set,
    * so per-round work is proportional to the frontier, not the
    * visited set (the textbook distributed-BFS shape).
    */
  def bfsHops(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be positive")
    val e = edges.select(col("u"), col("v")).localCheckpoint()
    var visited = seeds.select(col("node")).distinct()
      .withColumn("hop", lit(0)).localCheckpoint()
    var frontier = visited.select(col("node").as("fnode"))
    var r = 1
    while (r <= rounds) {
      // checkpoint the frontier: it is consumed by BOTH the visited
      // union and the next round's expansion join — unchecked, round
      // r's frontier lineage re-runs every earlier round's join
      val next = bfsRound(e, visited, frontier, r).localCheckpoint()
      visited = visited.unionByName(next).localCheckpoint()
      frontier = next.select(col("node").as("fnode"))
      r += 1
    }
    visited
  }

  /** ONE BFS round's frame, pre-checkpoint — the loop body of
    * [[bfsHops]] (frontier expansion equi-join + distinct + visited
    * anti-join).
    */
  private def bfsRound(
      e: DataFrame, visited: DataFrame, frontier: DataFrame,
      r: Int): DataFrame =
    e.join(frontier, col("u") === col("fnode"))
      .select(col("v").as("node")).distinct()
      .join(visited.select(col("node").as("vn")),
        col("node") === col("vn"), "left_anti")
      .withColumn("hop", lit(r))

  /** STRONGLY connected components of a DIRECTED edge frame (u → v;
    * the one operator here that does NOT want the mirrored
    * convention) by min-label peeling (the FW-BW colorization made
    * label-parallel — Orzan 2004 / Slota et al. 2014 shape): per
    * peel, propagate the minimum ANCESTOR label forward and the
    * minimum DESCENDANT label backward to fixpoint (one keyed
    * equi-join per round each, labels-only state); a node whose two
    * labels agree on m is mutually reachable with m, so it resolves
    * into SCC(m) — and whole SCCs resolve together because members
    * share ancestor and descendant sets. Resolved nodes peel off
    * (mutual reachability among survivors never routes through a
    * resolved SCC — it would have merged with it), and the loop
    * repeats on the shrunken subgraph. Each peel resolves at least
    * the minimum-node SCC of every weak component; worst case
    * (a descending id chain) needs one peel per node, so `maxPeels`
    * bounds the fixture and overrun THROWS (the LPA contract).
    * Returns (n, scc) for every node incident to an edge.
    */
  def scc(edges: DataFrame, maxPeels: Int, maxRounds: Int): DataFrame = {
    require(maxPeels >= 1 && maxRounds >= 1, "bounds must be positive")
    // min-label propagation to fixpoint along `e` (l(v) ← min over
    // in-neighbors' labels); rounds bounded, non-convergence throws
    def minReach(e: DataFrame, nodes: DataFrame, out: String): DataFrame = {
      var lab = nodes.select(col("n"), col("n").as(out)).localCheckpoint()
      var r = 0
      var done = false
      while (r < maxRounds && !done) {
        val prev = lab
        val pushed = e.join(lab.select(col("n").as("u"), col(out)),
            Seq("u"))
          .groupBy(col("v").as("n")).agg(min(col(out)).as("pushed"))
        lab = lab.join(pushed, Seq("n"), "left")
          .select(col("n"), least(col(out),
            coalesce(col("pushed"), col(out))).as(out))
          .localCheckpoint()
        done = prev.select(col("n"), col(out).as("old"))
          .join(lab, Seq("n"))
          .filter(col(out) =!= col("old")).limit(1).count() == 0L
        r += 1
      }
      require(done, s"SCC label propagation did not converge within $maxRounds rounds")
      lab
    }
    var e = edges.select(col("u"), col("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint()
    var remaining = e.select(col("u").as("n"))
      .unionByName(e.select(col("v").as("n"))).distinct().localCheckpoint()
    var out: Option[DataFrame] = None
    var peel = 0
    while (peel < maxPeels && remaining.limit(1).count() > 0) {
      val f = minReach(e, remaining, "fl")
      val b = minReach(e.select(col("v").as("u"), col("u").as("v")),
        remaining, "bl")
      val resolved = f.join(b, Seq("n"))
        .filter(col("fl") === col("bl"))
        .select(col("n"), col("fl").as("scc"))
        .localCheckpoint() // feeds the output union AND both peels below
      out = Some(out.fold(resolved)(_.unionByName(resolved)))
      remaining = remaining
        .join(resolved.select(col("n")), Seq("n"), "left_anti")
        .localCheckpoint()
      e = e
        .join(remaining.select(col("n").as("u")), Seq("u"), "left_semi")
        .join(remaining.select(col("n").as("v")), Seq("v"), "left_semi")
        .localCheckpoint()
      peel += 1
    }
    require(remaining.limit(1).count() == 0L,
      s"SCC peeling did not finish within $maxPeels peels")
    // empty edge frame: no node is incident to an edge → empty (n, scc)
    out.getOrElse(remaining.select(col("n"), col("n").as("scc")).limit(0))
  }

  /** Luby-style maximal independent set (Luby 1986, "A simple parallel
    * algorithm for the maximal independent set problem" — public
    * literature) over a SYMMETRIC edge frame (u, v). Per round, every
    * still-active node draws a fresh deterministic priority
    * md5("mis" + round + "_" + id); a node joins the MIS iff no active
    * neighbor beats it on (priority, id) — a strict total order, so
    * ties are impossible and the round is conflict-free. Winners and
    * their neighborhoods retire; fresh per-round priorities give the
    * textbook O(log n) expected rounds (a FIXED priority degrades to
    * sequential greedy depth). Each round is two keyed joins + one
    * anti-join on the node id — no driver participation beyond the
    * O(rounds) convergence probes; non-convergence within `maxRounds`
    * THROWS (the LPA/SCC contract) so a silent partial MIS cannot
    * masquerade as maximal. Returns (round, node) winners.
    */
  def lubyMis(edges: DataFrame, maxRounds: Int,
      assumeCanonical: Boolean = false): DataFrame = {
    require(maxRounds >= 1, "maxRounds must be positive")
    // assumeCanonical: caller warrants edges are already distinct with
    // u ≠ v (the shared trade-graph artifact is, by node parity) — the
    // defensive re-distinct + re-checkpoint of an already-checkpointed
    // frame is then a wasted full shuffle + materialization (r15). That
    // the frame is checkpointed is checked, not warranted.
    val e =
      if (assumeCanonical)
        Materialized.require(edges, "lubyMis edges").select(col("u"), col("v"))
      else edges.select(col("u"), col("v"))
        .filter(col("u") =!= col("v")).distinct().localCheckpoint()
    var active = e.select(col("u").as("n")).distinct().localCheckpoint()
    var out: Option[DataFrame] = None
    var r = 1
    var done = active.isEmpty
    while (r <= maxRounds && !done) {
      def pri(id: Column): Column =
        md5(concat(lit("mis"), lit(r.toString), lit("_"), id.cast("string")))
      // u loses if some ACTIVE neighbor v beats it; inactive neighbors
      // never block (they are already decided)
      val losers = e
        .join(active.select(col("n").as("__av")), col("v") === col("__av"))
        .filter(pri(col("v")) < pri(col("u")) ||
          (pri(col("v")) === pri(col("u")) && col("v") < col("u")))
        .select(col("u").as("n")).distinct()
      // winners feed the output union AND the removal join below
      val winners = active.join(losers, Seq("n"), "left_anti")
        .localCheckpoint()
      val removed = winners
        .unionByName(e.join(winners.select(col("n").as("__w")),
          col("u") === col("__w")).select(col("v").as("n")))
        .distinct()
      active = active.join(removed, Seq("n"), "left_anti").localCheckpoint()
      out = Some(out.fold(winners.withColumn("round", lit(r)))(
        _.unionByName(winners.withColumn("round", lit(r)))))
      done = active.isEmpty
      r += 1
    }
    require(done, s"lubyMis did not converge within $maxRounds rounds")
    out.fold(e.select(lit(0).as("round"), col("u").as("node")).limit(0))(
      _.select(col("round"), col("n").as("node")))
  }

  /** Greedy maximal matching by parallel local minima (Israeli & Itai
    * 1986, "A fast and simple randomized parallel algorithm for
    * maximal matching" — public literature) over an edge frame of
    * UNIQUE undirected pairs (u, v). Per round, every edge between
    * two still-unmatched nodes draws a fresh deterministic priority
    * key md5("match" + round + "_" + u + "_" + v) ++ ":u:v" (globally
    * unique, so a strict total order); an edge enters the matching
    * iff its key is the minimum among live edges at BOTH endpoints —
    * two per-node min aggregations + two equi-joins, conflict-free by
    * construction, and the globally minimal live edge always wins so
    * every round makes progress. Matched endpoints retire; the
    * matching is maximal exactly when no live edge remains, and
    * exhausting `maxRounds` before that THROWS (the lubyMis contract).
    * Returns (round, u, v) matched edges.
    */
  def greedyMatching(edges: DataFrame, maxRounds: Int,
      assumeCanonical: Boolean = false): DataFrame = {
    require(maxRounds >= 1, "maxRounds must be positive")
    // assumeCanonical: see lubyMis — skips the defensive re-distinct +
    // re-checkpoint when the caller passes an already-canonical
    // (distinct, u ≠ v) checkpointed frame.
    val e0 =
      if (assumeCanonical)
        Materialized.require(edges, "greedyMatching edges").select(col("u"), col("v"))
      else edges.select(col("u"), col("v"))
        .filter(col("u") =!= col("v")).distinct().localCheckpoint()
    var act = e0.select(col("u").as("n"))
      .unionByName(e0.select(col("v").as("n"))).distinct().localCheckpoint()
    var out: Option[DataFrame] = None
    // live = edges whose BOTH endpoints are still unmatched; feeds the
    // emptiness probe, the node-min agg, and the winner join
    def liveEdges(a: DataFrame, rr: Int): DataFrame = e0
      .join(a.select(col("n").as("__a1")), col("u") === col("__a1")).drop("__a1")
      .join(a.select(col("n").as("__a2")), col("v") === col("__a2")).drop("__a2")
      .withColumn("pk", concat(
        md5(concat(lit("match"), lit(rr.toString), lit("_"),
          col("u").cast("string"), lit("_"), col("v").cast("string"))),
        lit(":"), col("u").cast("string"), lit(":"), col("v").cast("string")))
      .localCheckpoint()
    var r = 1
    var live = liveEdges(act, r)
    var done = live.isEmpty
    while (r <= maxRounds && !done) {
      val nodeMin = live.select(col("u").as("n"), col("pk"))
        .unionByName(live.select(col("v").as("n"), col("pk")))
        .groupBy(col("n")).agg(min(col("pk")).as("mp"))
      val w = live
        .join(nodeMin.select(col("n").as("u"), col("mp").as("__mu")), Seq("u"))
        .join(nodeMin.select(col("n").as("v"), col("mp").as("__mv")), Seq("v"))
        .filter(col("pk") === col("__mu") && col("pk") === col("__mv"))
        .select(col("u"), col("v"))
        .localCheckpoint() // feeds the output union AND the retire join
      val matchedNodes = w.select(col("u").as("n"))
        .unionByName(w.select(col("v").as("n")))
      act = act.join(matchedNodes, Seq("n"), "left_anti").localCheckpoint()
      out = Some(out.fold(w.withColumn("round", lit(r)))(
        _.unionByName(w.withColumn("round", lit(r)))))
      r += 1
      live = liveEdges(act, r)
      done = live.isEmpty
    }
    require(done, s"greedyMatching did not converge within $maxRounds rounds")
    out.fold(e0.select(lit(0).as("round"), col("u"), col("v")).limit(0))(
      _.select(col("round"), col("u"), col("v")))
  }
}
