package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Add, EvalMode, Literal,
  NumericEvalContext, RaiseError}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType,
  StructField, StructType}
import org.apache.spark.storage.StorageLevel

import LocalGraph.described

import scala.collection.mutable

/** Graph centrality for corpus curation: PageRank over an entity or
  * host graph ranks nodes by link mass — the FineWeb/CommonCrawl-style
  * signal for host trust and the entity-graph signal for which resolver
  * clusters matter most (the reference ranks entities by dataset reach
  * in its statistics exporter, `zavod/zavod/exporters/statistics.py`;
  * link-mass centrality is the graph-native generalization).
  *
  * The arithmetic is ALL-INTEGER on purpose: ranks live in units of
  * `scale⁻¹` (default 10⁻¹²) and every contribution is a floor
  * division, so the fixpoint is bit-identical on any engine regardless
  * of summation order — the same engine-portability rule the resolver
  * and sampling operators follow. Floor losses strictly shrink total
  * mass (bounded by one unit per edge per round), they never create it.
  *
  * Scale shape per round: one equi-join of the rank frame against the
  * edge list on `src` + one groupBy(dst) partial-aggregated sum — the
  * textbook distributed PageRank round. The edge list is persisted and
  * reused across rounds; the only driver-visible values are 1-row
  * aggregates (node count, dangling mass).
  */
object Centrality {

  /** Fixed-round integer PageRank. `edges` is a directed (src, dst)
    * list — pre-deduplicated by the caller if multi-edges should not
    * weigh double. Damping 0.85 as the classic 85/100 integer split;
    * dangling mass (outdeg-0 nodes) is redistributed uniformly.
    *
    * @return (node, outdeg, rank) with rank in scale⁻¹ units */
  def pageRank(edges: DataFrame, rounds: Int,
      scale: Long = 1000000000000L): DataFrame = {
    // Integer-arithmetic contract: the teleport term is `15 * scale / 100`
    // (exact only when 100 | scale) and per-round contributions compute
    // `85 * rank` with rank ≤ scale, so scale must stay below
    // Long.MaxValue/100 to be overflow-free and divisible by 100 to keep
    // the 85/15 split exact. The 1e12 default satisfies both.
    require(scale > 0 && scale % 100 == 0 && scale <= Long.MaxValue / 100,
      s"pageRank scale must be positive, divisible by 100, and <= ${Long.MaxValue / 100}: $scale")
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).persist()
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .join(outdeg, col("node") === col("src"), "left")
      .select(col("node"), coalesce(col("outdeg"), lit(0L)).as("outdeg"))
      .persist()
    val nCnt = nodes.count()
    val nRow = broadcast(nodes.agg(count(lit(1)).as("__n")))
    var ranks = nodes.crossJoin(nRow)
      .select(col("node"), col("outdeg"),
        expr(s"CAST($scale AS BIGINT) div __n").as("rank"))
    for (_ <- 0 until rounds) {
      // rank state is node-sized and checkpointed (stat-less): the
      // size-gated broadcast (IterState doc) streams the persisted edge
      // frame per round instead of sort-merging it, and the groupBy(dst)
      // partial-aggregates map-side before its one small shuffle
      val contribs = IterState.bcastIf(ranks.where(col("outdeg") > 0), nCnt)
        .join(e, col("node") === col("src"))
        .select(col("dst"), expr("((85 * rank) div 100) div outdeg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("__inmass"))
      val dang = broadcast(ranks.where(col("outdeg") === 0)
        .agg(coalesce(sum(expr("(85 * rank) div 100")), lit(0L)).as("__dang")))
      ranks = nodes
        .join(IterState.bcastIf(contribs, nCnt),
          col("node") === col("dst"), "left")
        .crossJoin(nRow).crossJoin(dang)
        .select(col("node"), col("outdeg"),
          (expr(s"CAST(${15 * scale / 100} AS BIGINT) div __n") +
            expr("__dang div __n") +
            coalesce(col("__inmass"), lit(0L))).as("rank"))
        // per-round materialization barrier (the k-means trainer's
        // lineage contract): the next round reads THIS frame twice
        // (contributions + dangling aggregate) — without the barrier
        // each round re-evaluates the whole prior lineage per read and
        // the plan compounds ~2^rounds
        .localCheckpoint()
    }
    // the final ranks are materialized by the eager checkpoint above,
    // so the edge/node caches can be released before returning
    e.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    ranks
  }

  /** Bounded-round k-core peeling: repeatedly remove nodes whose
    * degree among still-alive nodes is < k — after `rounds` rounds the
    * survivors are a superset of the true k-core, equal to it when the
    * last round removed nothing (the emitted `converged` flag, which
    * also makes the bounded-round SPEC honest: the oracle replays the
    * exact same R rounds, fixpoint or not). Dense cores = template /
    * boilerplate clusters in a host graph — a curation signal; peeling
    * is the standard distributed algorithm (one degree aggregate + one
    * semi-join per round, lineage cut per round like the PageRank
    * barrier).
    *
    * @return (node, removed_round ∈ [1, rounds] or 0 if surviving,
    *          final_deg among survivors, converged) */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val und = edges.select(
        least(col("u"), col("v")).cast("long").as("a"),
        greatest(col("u"), col("v")).cast("long").as("b"))
      .where(col("a") =!= col("b")).distinct().persist()
    val both = und.select(col("a").as("s"), col("b").as("t"))
      .union(und.select(col("b").as("s"), col("a").as("t"))).persist()
    var alive = both.select(col("s").as("node")).distinct()
      .withColumn("removed_round", lit(0L)).localCheckpoint()
    // node count bounds every per-round frame below, so the size-gated
    // broadcasts (IterState doc) spend no further jobs: with the alive
    // set broadcast, the degree count STREAMS the persisted edge frame
    // (zero Exchange before the partial aggregate) instead of
    // sort-merging it twice per round against a stat-less checkpoint
    val nodesCnt = alive.count()
    for (r <- 1 to rounds) {
      val aliveSet = alive.where(col("removed_round") === 0L).select("node")
      val deg = both
        .join(IterState.bcastIf(
          aliveSet.withColumnRenamed("node", "s"), nodesCnt), "s")
        .join(IterState.bcastIf(
          aliveSet.withColumnRenamed("node", "t"), nodesCnt), "t")
        .groupBy(col("s").as("node")).agg(count(lit(1)).as("deg"))
      val toRemove = aliveSet
        .join(IterState.bcastIf(deg, nodesCnt), Seq("node"), "left")
        .where(coalesce(col("deg"), lit(0L)) < k)
        .select(col("node"), lit(r.toLong).as("rr"))
      alive = alive.join(IterState.bcastIf(toRemove, nodesCnt),
          Seq("node"), "left")
        .select(col("node"),
          when(col("removed_round") === 0L && col("rr").isNotNull, col("rr"))
            .otherwise(col("removed_round")).as("removed_round"))
        .localCheckpoint()
    }
    // Convergence = the FINAL round removed nothing; earlier rounds never
    // feed the flag, so probing per round (as before round 9) was one
    // wasted driver action per peel round. One probe on the final
    // checkpointed frame is enough. rounds == 0 keeps the conservative
    // "not converged" answer (no peel was attempted).
    val removedLast = rounds > 0 &&
      alive.where(col("removed_round") === rounds.toLong).limit(1).count() > 0
    val converged = rounds > 0 && !removedLast
    val survivors = alive.where(col("removed_round") === 0L).select("node")
    val finalDeg = both
      .join(IterState.bcastIf(
        survivors.withColumnRenamed("node", "s"), nodesCnt), "s")
      .join(IterState.bcastIf(
        survivors.withColumnRenamed("node", "t"), nodesCnt), "t")
      .groupBy(col("s").as("node")).agg(count(lit(1)).as("deg"))
    val out = alive
      .join(IterState.bcastIf(finalDeg, nodesCnt), Seq("node"), "left")
      .select(col("node"), col("removed_round"),
        coalesce(col("deg"), lit(0L)).as("final_deg"),
        lit(converged).as("converged"))
      // eager barrier so the edge caches release before returning
      .localCheckpoint()
    und.unpersist(blocking = false)
    both.unpersist(blocking = false)
    out
  }

  /** Per-node triangle counts via degree-ordered orientation — the
    * standard distributed algorithm (Suri & Vassilvitskii's MR-friendly
    * form): orient every undirected edge from its lower-(degree, id)
    * endpoint to the higher one, so each node's out-neighborhood is at
    * most O(√m) even on power-law graphs; enumerate wedges by joining
    * oriented out-edges on their source, and close each wedge with one
    * equi-join back against the oriented edge list. Every triangle is
    * found exactly once; per-node counts explode it to its three
    * corners. All equi-joins on node keys — no cartesian, wedge volume
    * bounded by the orientation.
    *
    * @param edges undirected (u, v) pairs; dedup + self-loop removal
    *              applied here
    * @return (node, n_triangles) for nodes in at least one triangle */
  /** Bounded-hop seed proximity — the sanctions-domain network-risk
    * query ("every entity within h hops of a sanctioned one", the
    * graph question screening teams ask of the resolved entity graph).
    * BFS by min-distance propagation: exactly `maxHops` rounds, each
    * one edge-keyed shuffle + a min aggregate — distances are bounded
    * by construction so there is no fixpoint detection to pay for, and
    * lineage is cut per round (the PageRank lesson: an unbarriered
    * h-round plan re-evaluates ~2^h times).
    *
    * `edges` undirected (symmetrized internally); `seeds` one id
    * column. Returns (id, dist) for ids within maxHops only. */
  def seedProximity(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    val sym = edges.toDF("src", "dst")
      .filter(col("src") =!= col("dst"))
    val e = sym.unionByName(sym.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var dist = seeds.toDF("id").distinct().select(col("id"), lit(0L).as("dist"))
    (1 to maxHops).foreach { h =>
      // frontier-only: in unweighted BFS a node's first-reach round IS
      // its distance, so only last round's fresh nodes can mint new
      // ones — re-expanding settled nodes only re-derives lost minima
      // (the earliestArrival delta-frontier rule, trivial case).
      // Size-gated broadcast of the frontier (IterState doc): the
      // checkpointed state has no stats, so without the hint every
      // round sort-merges the full edge frame against a tiny frontier.
      val next = e.join(
          IterState.bcastIfSmall(dist.where(col("dist") === (h - 1))
            .withColumnRenamed("id", "src")), "src")
        .select(col("dst").as("id"), (col("dist") + 1L).as("dist"))
      dist = dist.unionByName(next)
        .groupBy("id").agg(min(col("dist")).as("dist"))
        .localCheckpoint()
    }
    e.unpersist(blocking = false)
    dist
  }

  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = edges.select(
        least(col("u"), col("v")).cast("long").as("a"),
        greatest(col("u"), col("v")).cast("long").as("b"))
      .where(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("node")).union(und.select(col("b")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient low-(deg, id) -> high-(deg, id)
    val oriented = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("a"))
          .otherwise(col("b")).as("src"),
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("b"))
          .otherwise(col("a")).as("dst"))
      .persist()
    // wedges (src, x, y) with x < y in orientation order need a total
    // order on out-neighbors; (deg, id) order is encoded by re-joining
    // degrees — use plain id order on dst: a wedge closes iff the
    // third edge exists in EITHER orientation of (x, y), so enumerate
    // unordered out-pairs by dst id and probe both orientations via
    // canonical (min, max) form.
    val e1 = oriented.select(col("src").as("s"), col("dst").as("x"))
    val e2 = oriented.select(col("src").as("s"), col("dst").as("y"))
    val wedges = e1.join(e2, "s").where(col("x") < col("y"))
    val closing = oriented.select(
      least(col("src"), col("dst")).as("x"), greatest(col("src"), col("dst")).as("y"))
    val triangles = wedges.join(closing, Seq("x", "y"))
    val out = triangles
      .select(explode(array(col("s"), col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
      // eager barrier: counts are node-sized; materializing them here
      // lets the oriented-edge cache release before returning
      .localCheckpoint()
    oriented.unpersist(blocking = false)
    out
  }

  /** Synchronous label propagation (community detection) — the
    * Raghavan-style LPA round the graph family was missing beside
    * PageRank/triangles/k-core: every node adopts the MODE of its
    * neighbors' previous-round labels, with a fully deterministic
    * tie-break (max count, then min label) so the result is identical
    * on any engine and any partitioning — the usual randomized LPA
    * tie-coin is exactly what an oracle-gated distributed operator
    * cannot afford. Initial label = node id; fixed `rounds` (the
    * bounded-round discipline of [[kCorePeel]] — no per-round fixpoint
    * detection to pay for, lineage cut per round). Returns (node,
    * label, converged): the flag is kCorePeel's honesty pattern —
    * true iff the final round changed no label, from one bounded probe
    * on the last two frames.
    *
    * Scale shape per round: one edge⋈label equi-join shuffled on the
    * edge key + one (node, label) count + one per-node top-1 — the
    * WindowGroupLimit-bounded ranker pattern, nothing node-quadratic.
    * `edges` directed (src, dst) — callers bidirect for undirected
    * semantics; a node with no in-edges keeps its label. */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().persist()
    val nCnt = nodes.count()
    var labels = nodes.select(col("node"), col("node").as("label"))
    var prev = labels
    (1 to rounds).foreach { _ =>
      prev = labels
      // label frame is node-sized and checkpointed (stat-less): the
      // size-gated broadcast (IterState doc) streams the persisted edge
      // frame instead of sort-merging it per round. Top-1-per-node is a
      // max_by over the lexicographic (count, −label) struct — the SAME
      // (max count, min label) pick the row_number window made, as one
      // partially-aggregated groupBy with no sort and no second
      // window-keyed Exchange.
      val counted = e.join(
          IterState.bcastIf(labels.withColumnRenamed("node", "src"), nCnt),
          "src")
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
      val picked = counted.groupBy("node")
        .agg(max_by(col("label"), struct(col("c"), negate(col("label"))))
          .as("label"))
      labels = nodes
        .join(IterState.bcastIf(
            picked.withColumnRenamed("label", "_nl"), nCnt),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("_nl"), col("node")).as("label"))
        .localCheckpoint()
    }
    // Convergence honesty flag (the kCorePeel pattern): converged =
    // the FINAL round changed no label. One bounded probe against the
    // last two checkpointed frames — earlier rounds never feed the
    // flag, so nothing is probed per round. rounds == 0 keeps the
    // conservative "not converged" answer.
    val changedLast = rounds > 0 && labels
      .join(prev.withColumnRenamed("label", "_prev"), "node")
      .where(col("label") =!= col("_prev")).limit(1).count() > 0
    val out = labels.withColumn("converged",
      lit(rounds > 0 && !changedLast))
    e.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    out
  }

  /** Earliest-arrival temporal reachability — time-respecting BFS over
    * a timestamped edge list: a path is valid only if edge times
    * STRICTLY INCREASE along it (you cannot ride an edge that departed
    * before you arrived), the semantics plain reachability silently
    * gets wrong on temporal graphs (a c→s→c' chain whose second hop
    * predates the first is not a flow). Per (seed, node) the operator
    * keeps the MINIMUM arrival time — the earliest-arrival semiring,
    * merged per round exactly like [[seedProximity]]'s min-distance.
    *
    * Scale shape per round: frontier ⋈ edges equi-join on the node key
    * with the `t_edge > t_arr` residual filter riding the join (never a
    * cartesian), then a (seed, node) min aggregate; lineage cut per
    * round. State is bounded by |seeds|·|reached nodes|, not by path
    * count — the reason earliest-arrival beats path enumeration at any
    * scale. Per round only the DELTA FRONTIER expands — pairs whose
    * arrival is new or improved since the previous round. Exactly
    * equivalent to expanding the full reach set (an unimproved pair
    * re-emits candidates the merge already holds — the min-semiring
    * delta argument), but the joined frame per round is the improved
    * pairs, not everything ever reached: the full-expansion form
    * measured exponent 1.44 over a 5× decade on the trade graph
    * (re-expanding a growing reach set each round compounds) where
    * this form tracks the frontier volume. `edges`: (src, dst, t);
    * `seeds`: one id column; seeds start before all time (arrival −1
    * with times ≥ 0). Returns (seed, node, arrival) for nodes reached
    * in 1..maxHops hops. */
  def earliestArrival(edges: DataFrame, seeds: DataFrame,
      maxHops: Int): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), col("t").cast("long").as("t"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var reach = seeds.toDF("seed").distinct()
      .select(col("seed").cast("long").as("seed"),
        col("seed").cast("long").as("node"), lit(-1L).as("arrival"))
    var frontier = reach
    // iteration state is (seed, node) LABELED — O(seeds·reach) rows —
    // so per-round checkpoints hold SERIALIZED, disk-spillable blocks:
    // deserialized row-copy storage (plain localCheckpoint) measured an
    // executor OOM at the 25× decade point on an 8 GiB driver, purely
    // from checkpoint residency, not from any shuffle
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    (1 to maxHops).foreach { _ =>
      // frontier/prev-reach are checkpointed (stat-less) — size-gated
      // broadcasts (IterState doc) keep the edge expansion and the
      // delta-frontier probe shuffle-free while the state is small
      val next = e.join(
          IterState.bcastIfSmall(frontier.withColumnRenamed("node", "src")),
          "src")
        .where(col("t") > col("arrival"))
        .select(col("seed"), col("dst").as("node"), col("t").as("arrival"))
      val merged = reach.unionByName(next)
        .groupBy("seed", "node").agg(min(col("arrival")).as("arrival"))
        .localCheckpoint(true, lvl)
      frontier = merged
        .join(IterState.bcastIfSmall(
            reach.withColumnRenamed("arrival", "__prev")),
          Seq("seed", "node"), "left")
        .where(col("__prev").isNull || col("arrival") < col("__prev"))
        .select("seed", "node", "arrival")
        .localCheckpoint(true, lvl)
      reach = merged
    }
    e.unpersist(blocking = false)
    reach.where(col("arrival") >= 0L)
  }

  /** Per-seed hop distances — labeled multi-source BFS over an
    * unweighted directed edge list, the static twin of
    * [[earliestArrival]]. Returns (seed, node, dist) for
    * 1 ≤ dist ≤ maxHops; `edges`: (src, dst); `seeds`: one id column.
    *
    * Under the local gate ([[localGraph]]) one per-seed kernel runs over
    * a broadcast CSR: a plain BFS per seed, in two jobs (collect the
    * edges, run the kernel) for any maxHops. Above it,
    * one edge-keyed join + one (seed, node) min aggregate per round,
    * expanding only the FRESH frontier (nodes first reached last round):
    * a node re-reached later always loses the min, so frontier work per
    * round is bounded by newly-reached pairs; state is |seeds|·|reached|,
    * never path count. Both paths give the same rows — including a
    * (seed, null, first hop) row when a reached node has a null-`dst`
    * edge; null seeds and null-`src` edges reach nothing. */
  def bfsDistances(edges: DataFrame, seeds: DataFrame,
      maxHops: Int): DataFrame = {
    val op = "Centrality.bfsDistances"
    val e = normEdges(edges)
    localGraph(e, op) match {
      case Some(g) =>
        runKernel(op, e, g, seeds, Kernel.Distances, maxHops, scale = 0L)
      case None =>
        var reach = seeds.toDF("seed").distinct()
          .select(col("seed").cast("long").as("seed"),
            col("seed").cast("long").as("node"), lit(0L).as("dist"))
        // same serialized spill-safe checkpoint rule as [[earliestArrival]]
        val lvl = StorageLevel.MEMORY_AND_DISK_SER
        (1 to maxHops).foreach { h =>
          described(e.sparkSession, s"$op: round $h") {
            // size-gated frontier broadcast (IterState doc): stream the
            // persisted edge frame instead of sort-merging it per round
            val frontier = reach.where(col("dist") === (h - 1))
            val next = e.join(
                IterState.bcastIfSmall(frontier.withColumnRenamed("node", "src")),
                "src")
              .select(col("seed"), col("dst").as("node"), lit(h.toLong).as("dist"))
            reach = reach.unionByName(next)
              .groupBy("seed", "node").agg(min(col("dist")).as("dist"))
              .localCheckpoint(true, lvl)
          }
        }
        e.unpersist(blocking = false)
        reach.where(col("dist") > 0L)
    }
  }

  /** Community-quality report: Newman modularity of a labeling, in
    * EXACT integer arithmetic. For undirected unique edges (u < v)
    * with m = |E|, degree d(v) and per-community intra-edge count e_c
    * and degree mass D_c, modularity is Σ_c (e_c/m − (D_c/2m)²) =
    * Σ_c (4·m·e_c − D_c²) / 4m² — so the report emits the integer
    * NUMERATOR per community plus the shared denominator, and the
    * oracle replays the sum without a float anywhere (the
    * engine-portable-arithmetic house rule; floor-division PageRank's
    * sibling). One shuffle for degrees, two label equi-joins for
    * intra-edges (labels are narrow), one broadcast 1-row m frame.
    * `edges`: (u, v) undirected unique; `labels`: (node, label), and
    * MUST cover every node incident to an edge — a partial labeling
    * raises at execution time instead of silently misreporting. */
  def modularityReport(edges: DataFrame, labels: DataFrame): DataFrame = {
    val e = edges.select(col("u").cast("long").as("u"),
      col("v").cast("long").as("v"))
    val lbl = labels.select(col("node").cast("long").as("node"),
      col("label").cast("long").as("label"))
    val mFrame = e.agg(count(lit(1)).as("m"))
    // Coverage contract, enforced LOUDLY: labels must cover every node
    // incident to an edge — an inner join would silently drop the
    // degree mass and edges of unlabeled nodes, making the numerators
    // modularity of NEITHER the full graph nor the labeled subgraph
    // (m still counts all edges). Left joins + per-row raise_error cost
    // the same shuffles, and a partial labeling fails at execution time
    // instead of misreporting (round-13 advisory).
    def labeled(lc: Column, nodeC: Column) =
      when(lc.isNull, raise_error(format_string(
        "modularityReport: node %d has an edge but no label — labels " +
          "must cover every node incident to an edge", nodeC)))
        .otherwise(lc)
    // the label frame is node-sized (callers pass the checkpointed LPA
    // output) — size-gated broadcast (IterState doc) keeps the two
    // edge-side label attachments streaming instead of sort-merging the
    // edge frame twice against a stat-less checkpoint
    val lblB = IterState.bcastIfSmall(lbl)
    val deg = e.select(col("u").as("node"))
      .unionByName(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val dSum = deg.join(lblB, Seq("node"), "left")
      .select(col("d"), labeled(col("label"), col("node")).as("label"))
      .groupBy("label")
      .agg(sum(col("d")).as("degree_sum"), count(lit(1)).as("n_nodes"))
    val intra = e
      .join(lblB.select(col("node").as("u"), col("label").as("lu")),
        Seq("u"), "left")
      .join(lblB.select(col("node").as("v"), col("label").as("lv")),
        Seq("v"), "left")
      .select(labeled(col("lu"), col("u")).as("lu"),
        labeled(col("lv"), col("v")).as("lv"))
      .where(col("lu") === col("lv"))
      .groupBy(col("lu").as("label")).agg(count(lit(1)).as("intra_edges"))
    dSum.join(intra, Seq("label"), "left")
      .select(col("label"), col("n_nodes"), col("degree_sum"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"))
      .crossJoin(broadcast(mFrame))
      .select(col("label"), col("n_nodes"), col("degree_sum"),
        col("intra_edges"),
        (lit(4L) * col("m") * col("intra_edges")
          - col("degree_sum") * col("degree_sum")).as("contrib_num"),
        (lit(4L) * col("m") * col("m")).as("contrib_den"))
  }

  /** Per-seed WEIGHTED shortest distances — bounded-round Bellman-Ford
    * over a directed edge list with non-negative integer weights, the
    * weighted twin of [[bfsDistances]]. After `maxHops` rounds the
    * result is exact over paths of ≤ maxHops edges (the bounded-round
    * contract every operator in this family states; oracles replay the
    * same rounds). Per round only the DELTA FRONTIER relaxes — (seed,
    * node) pairs whose distance is new or improved since last round:
    * re-relaxing an unimproved pair re-emits candidates the min-merge
    * already holds (the min-plus-semiring delta argument, identical to
    * [[earliestArrival]]'s), so per-round join volume tracks improved
    * pairs, not everything ever reached. State is |seeds|·|reached|,
    * never path count; per-round checkpoints hold SERIALIZED
    * spill-safe blocks (the round-13 checkpoint-residency rule).
    * `edges`: (src, dst, w) with w ≥ 0 integral — parallel edges are
    * fine (the min absorbs them); `seeds`: one id column.
    * Returns (seed, node, dist) for nodes reached in 1..maxHops hops. */
  def weightedDistances(edges: DataFrame, seeds: DataFrame,
      maxHops: Int): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), col("w").cast("long").as("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var reach = seeds.toDF("seed").distinct()
      .select(col("seed").cast("long").as("seed"),
        col("seed").cast("long").as("node"), lit(0L).as("dist"))
    var frontier = reach
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    (1 to maxHops).foreach { _ =>
      // same size-gated broadcasts as [[earliestArrival]] (IterState doc)
      val next = e.join(
          IterState.bcastIfSmall(frontier.withColumnRenamed("node", "src")),
          "src")
        .select(col("seed"), col("dst").as("node"),
          (col("dist") + col("w")).as("dist"))
      val merged = reach.unionByName(next)
        .groupBy("seed", "node").agg(min(col("dist")).as("dist"))
        .localCheckpoint(true, lvl)
      frontier = merged
        .join(IterState.bcastIfSmall(
            reach.withColumnRenamed("dist", "__prev")),
          Seq("seed", "node"), "left")
        .where(col("__prev").isNull || col("dist") < col("__prev"))
        .select("seed", "node", "dist")
        .localCheckpoint(true, lvl)
      reach = merged
    }
    e.unpersist(blocking = false)
    // drop the seed self-rows (dist 0 by construction — non-negative
    // weights mean no cycle improves them); other pairs keep whatever
    // the min-merge holds, including 0-cost arrivals over w=0 edges
    reach.where(col("node") =!= col("seed"))
  }

  /** Per-seed SHORTEST-PATH COUNTS — the forward phase of Brandes'
    * betweenness algorithm as a standalone operator: for every (seed,
    * node) pair reached within `maxHops`, the hop distance AND the
    * number σ of distinct shortest paths achieving it. The semiring is
    * (min, +) on distance carrying (sum) on counts: a node first
    * reached at hop h counts Σ σ(predecessor at h−1) paths, one term
    * per edge, so parallel edges count as distinct paths; a re-reach at
    * a LATER hop (a self-loop included) is by construction not shortest
    * and adds nothing. A null `dst` is never closed: every layer whose
    * nodes have null-`dst` edges yields its own (seed, null, h, σ) row.
    * Sums overflow loudly (ANSI). `edges`: (src, dst); `seeds`: one id
    * column. Returns (seed, node, dist, paths) for 1 ≤ dist ≤ maxHops.
    *
    * Under the local gate ([[localGraph]]) this is the per-seed kernel's
    * forward pass; above it, [[pathCountsFull]]'s join rounds. Both give
    * the same rows. */
  def shortestPathCounts(edges: DataFrame, seeds: DataFrame,
      maxHops: Int): DataFrame = {
    val op = "Centrality.shortestPathCounts"
    val e = normEdges(edges)
    localGraph(e, op, arithmetic = true) match {
      case Some(g) =>
        runKernel(op, e, g, seeds, Kernel.PathCounts, maxHops, scale = 0L)
      case None =>
        pathCountsFull(op, e, seeds, maxHops, unpersistEdges = true)
          .where(col("dist") > 0L)
    }
  }

  private def normEdges(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** [[shortestPathCounts]]' join-path forward pass INCLUDING the dist-0
    * seed rows — the layered path-DAG state ([[betweenness]]'s backward
    * phase needs layer 0 as a dependency target). `e` must already be
    * the normalized persisted (src, dst) frame. */
  private def pathCountsFull(op: String, e: DataFrame, seeds: DataFrame,
      maxHops: Int, unpersistEdges: Boolean): DataFrame = {
    var reach = seeds.toDF("seed").distinct()
      .select(col("seed").cast("long").as("seed"),
        col("seed").cast("long").as("node"), lit(0L).as("dist"),
        lit(1L).as("paths"))
    val lvl = StorageLevel.MEMORY_AND_DISK_SER
    (1 to maxHops).foreach { h =>
      described(e.sparkSession, s"$op: round $h") {
        // round state is checkpointed, so Catalyst sees no stats and
        // would sort-merge every join; the operator counts the
        // materialized state itself and broadcasts the small side
        // (IterState doc). The expansion then STREAMS the persisted edge
        // frame — zero Exchange until the (seed, node) partial
        // aggregate, which map-side-combines the layer down to its
        // distinct pairs before shuffling.
        val frontier = reach.where(col("dist") === (h - 1))
        val fCnt = frontier.count()
        val layer = e.join(
            IterState.bcastIf(frontier.withColumnRenamed("node", "src"), fCnt),
            "src")
          .groupBy(col("seed"), col("dst").as("node"))
          .agg(sum(col("paths")).as("paths"))
        val fresh = layer.join(
            IterState.bcastIfSmall(reach.select("seed", "node")),
            Seq("seed", "node"), "left_anti")
          .select(col("seed"), col("node"), lit(h.toLong).as("dist"),
            col("paths"))
        reach = reach.unionByName(fresh).localCheckpoint(true, lvl)
      }
    }
    if (unpersistEdges) e.unpersist(blocking = false)
    reach
  }

  /** BETWEENNESS dependency accumulation — Brandes' backward phase
    * completing [[shortestPathCounts]]: over the layered shortest-path
    * DAG the forward pass built, dependencies flow from the deepest
    * layer back to the seeds,
    *
    *   δ(v) = Σ_{w : succ(v)} σ(v)/σ(w) · (1 + δ(w)),
    *
    * in SCALED-INTEGER arithmetic (the house engine-portability rule —
    * exact rationals would need per-path denominators): with D = scale·δ,
    * each (v, w) DAG edge contributes σ(v)·(scale + D(w)) div σ(w),
    * floor-rounded per edge BEFORE the sum, so the result is identical
    * on any engine and any partitioning, and an oracle replays it
    * layer-for-layer. Per-seed betweenness of v is D(v) in scale⁻¹
    * units; node betweenness is one groupBy-sum over seeds.
    *
    * Bounded-round contract (as the whole family): only shortest paths
    * of ≤ maxHops edges count — the terminal layer's dependency is 0,
    * exactly what running Brandes on the maxHops-truncated DAG means.
    * Parallel edges count as distinct paths, matching the forward σ. A
    * σ·(scale + D) product past BIGINT fails with a `raise_error`
    * naming σ, D and scale; an overflowing sum fails as ANSI does.
    *
    * Under the local gate ([[localGraph]]) the per-seed kernel runs the
    * forward σ and this backward δ over a broadcast CSR, in two jobs.
    * Above it, one edge-keyed join + one aggregate per layer in
    * each direction; state is |seeds|·|reached| rows, never path counts;
    * serialized spill-safe per-layer checkpoints. Both give the same
    * rows and the same overflow messages.
    * Returns (seed, node, dist, paths, dep) for 1 ≤ dist ≤ maxHops. */
  def betweenness(edges: DataFrame, seeds: DataFrame, maxHops: Int,
      scale: Long = 1000000L): DataFrame = {
    require(scale > 0, s"scale: $scale")
    val op = "Centrality.betweenness"
    val e = normEdges(edges)
    localGraph(e, op, arithmetic = true) match {
      case Some(g) => runKernel(op, e, g, seeds, Kernel.Betweenness, maxHops, scale)
      case None => joinBetweenness(op, e, seeds, maxHops, scale)
    }
  }

  private def joinBetweenness(op: String, e: DataFrame, seeds: DataFrame,
      maxHops: Int, scale: Long): DataFrame = {
    val lvl = StorageLevel.MEMORY_AND_DISK_SER
    val reach = pathCountsFull(op, e, seeds, maxHops, unpersistEdges = false)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Per-layer row counts off the persisted forward state: ONE
    // aggregate job for all layers (it was one count job per layer —
    // maxHops+1 scheduler round-trips over the same persisted frame),
    // and every backward-phase frame below is bounded by one of them —
    // so the size-gated broadcast decisions (IterState doc) spend no
    // further jobs. With the layer frames broadcast, the DAG-edge
    // expansion streams the persisted edge frame map-side and the
    // per-(seed, node) dependency aggregate partial-combines before
    // its one small shuffle — the unhinted plan sort-merged (shuffle +
    // sort) the FULL expansion once per layer.
    val layerCnt: Map[Int, Long] = described(e.sparkSession, s"$op: layer sizes") {
      reach.groupBy("dist")
        .agg(count(lit(1)).as("__n")).collect()
        .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
        .withDefaultValue(0L)
    }
    // backward: deepest layer seeds dep 0; layer h−1 sums its DAG-edge
    // contributions from layer h, left-joined so successor-less nodes
    // keep dep 0
    var dep = reach.where(col("dist") === maxHops.toLong)
      .select(col("seed"), col("node"), lit(0L).as("dep"))
    var acc = dep.withColumn("dist", lit(maxHops.toLong))
    (maxHops to 1 by -1).foreach { h =>
      described(e.sparkSession, s"$op: backward round $h") {
        val hw = reach.where(col("dist") === h.toLong)
          .join(IterState.bcastIf(dep, layerCnt(h)), Seq("seed", "node"))
          .select(col("seed"), col("node").as("dst"),
            col("paths").as("_pw"), col("dep").as("_dw"))
        val contrib = e.join(IterState.bcastIf(hw, layerCnt(h)), "dst")
          .join(IterState.bcastIf(
              reach.where(col("dist") === (h - 1).toLong)
                .select(col("seed"), col("node").as("src"),
                  col("paths").as("_pv")),
              layerCnt(h - 1)),
            Seq("seed", "src"))
          .groupBy(col("seed"), col("src").as("node"))
          // σ·(scale+D) is unchecked BIGINT multiplication; on dense
          // graphs σ and the scaled dependency can pass Long.MaxValue
          // and silently wrap, corrupting scores the oracle-replayable
          // contract promises exact (round-15 advisory) — so the
          // product is guarded per edge: both factors are positive
          // (σ ≥ 1, scale > 0, D ≥ 0), overflow iff σ exceeds
          // Long.MaxValue div (scale+D), and the guard fails LOUDLY
          // (lower scale or maxHops) instead of wrapping.
          .agg(sum(expr(
            s"CASE WHEN _pv > 9223372036854775807L div ($scale + _dw) " +
              "THEN CAST(raise_error(concat('betweenness: sigma*(scale+dep) " +
              "overflows BIGINT at sigma=', CAST(_pv AS STRING), " +
              "', dep=', CAST(_dw AS STRING), " +
              s"', scale=$scale — lower scale or maxHops')) AS BIGINT) " +
              s"ELSE (_pv * ($scale + _dw)) div _pw END")).as("dep"))
        dep = reach.where(col("dist") === (h - 1).toLong)
          .select(col("seed"), col("node"))
          .join(IterState.bcastIf(contrib, layerCnt(h - 1)),
            Seq("seed", "node"), "left")
          .select(col("seed"), col("node"),
            coalesce(col("dep"), lit(0L)).as("dep"))
          .localCheckpoint(true, lvl)
      }
      if (h > 1) acc = acc.unionByName(dep.withColumn("dist", lit((h - 1).toLong)))
    }
    e.unpersist(blocking = false)
    val out = reach.where(col("dist") > 0L)
      .join(IterState.bcastIf(
          acc.select(col("seed"), col("node"), col("dep")),
          (1 to maxHops).map(layerCnt).sum),
        Seq("seed", "node"))
    reach.unpersist(blocking = false)
    out
  }

  /** Fixed-round integer PERSONALIZED PageRank: teleport mass lands on
    * the seed set instead of uniformly — the standard seed-proximity
    * ranking (recommendation, entity-neighborhood relevance), sharing
    * [[pageRank]]'s engine-portable arithmetic contract: every term is
    * BIGINT floor division (85/100 damping split exact when 100 |
    * scale), so ranks are identical on any engine and across any
    * executor count. Dangling mass (outdeg-0 nodes) returns to the
    * SEEDS uniformly — on a directed bipartite graph (e.g. customer →
    * supplier) the whole supplier side is dangling, which is exactly
    * what makes personalization visible: mass cycles seed → neighbor
    * → seed instead of leaking. Initial ranks are the teleport
    * distribution itself (scale div |S| on seeds, 0 elsewhere).
    *
    * @return (node, outdeg, is_seed, rank) with rank in scale⁻¹ units */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, rounds: Int,
      scale: Long = 1000000000000L): DataFrame = {
    require(scale > 0 && scale % 100 == 0 && scale <= Long.MaxValue / 100,
      s"personalizedPageRank scale must be positive, divisible by 100, " +
        s"and <= ${Long.MaxValue / 100}: $scale")
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).persist()
    val sd = seeds.toDF("seed").distinct()
      .select(col("seed").cast("long").as("seed")).persist()
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .union(sd.select(col("seed").as("node"))).distinct()
      .join(outdeg, col("node") === col("src"), "left")
      .join(sd, col("node") === col("seed"), "left")
      .select(col("node"), coalesce(col("outdeg"), lit(0L)).as("outdeg"),
        col("seed").isNotNull.as("is_seed"))
      .persist()
    val nCnt = nodes.count()
    val sRow = broadcast(sd.agg(count(lit(1)).as("__s")))
    var ranks = nodes.crossJoin(sRow)
      .select(col("node"), col("outdeg"), col("is_seed"),
        when(col("is_seed"), expr(s"CAST($scale AS BIGINT) div __s"))
          .otherwise(lit(0L)).as("rank"))
    for (_ <- 0 until rounds) {
      // same size-gated rank-frame broadcast as [[pageRank]]
      val contribs = IterState.bcastIf(ranks.where(col("outdeg") > 0), nCnt)
        .join(e, col("node") === col("src"))
        .select(col("dst"), expr("((85 * rank) div 100) div outdeg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("__inmass"))
      val dang = broadcast(ranks.where(col("outdeg") === 0)
        .agg(coalesce(sum(expr("(85 * rank) div 100")), lit(0L)).as("__dang")))
      ranks = nodes
        .join(IterState.bcastIf(contribs, nCnt),
          col("node") === col("dst"), "left")
        .crossJoin(sRow).crossJoin(dang)
        .select(col("node"), col("outdeg"), col("is_seed"),
          (when(col("is_seed"),
            expr(s"CAST(${15 * scale / 100} AS BIGINT) div __s")
              + expr("__dang div __s")).otherwise(lit(0L)) +
            coalesce(col("__inmass"), lit(0L))).as("rank"))
        // same per-round lineage barrier as [[pageRank]]
        .localCheckpoint()
    }
    e.unpersist(blocking = false)
    sd.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    ranks
  }

  // ---- the local seed kernel: bfsDistances, shortestPathCounts and
  // betweenness under the iteration-state byte gate ----

  /** A directed multigraph as compressed sparse rows over dense indices.
    * `ids` are the sorted distinct non-null node ids; node i's out-edges
    * are `adj(off(i) until off(i + 1))`, one entry per edge row, so
    * parallel edges repeat. Index `ids.length` stands for a null `dst`:
    * a node that is reached but never expanded. */
  private final class Csr(val ids: Array[Long], val off: Array[Int],
      val adj: Array[Int]) extends Serializable

  /** The local gate: the CSR of `e` — the normalized, persisted
    * (src, dst) frame — when [[LocalGraph.gated]] collects it, else None
    * and the caller runs its join path. `arithmetic` kernels also need
    * ANSI mode, whose overflow errors their exact adds reproduce. */
  private def localGraph(e: DataFrame, op: String,
      arithmetic: Boolean = false): Option[Csr] = {
    if (arithmetic && !e.sparkSession.conf.get("spark.sql.ansi.enabled").toBoolean)
      return None
    LocalGraph.gated(e, s"$op: collect edges").map { g =>
      e.unpersist(blocking = false)
      val n = g.ids.length
      val off = new Array[Int](n + 1)
      g.from.foreach(v => off(v + 1) += 1)
      (0 until n).foreach(v => off(v + 1) += off(v))
      val next = off.clone()
      val adj = new Array[Int](g.from.length)
      g.from.indices.foreach { k => adj(next(g.from(k))) = g.to(k); next(g.from(k)) += 1 }
      new Csr(g.ids, off, adj)
    }
  }

  /** What the seed kernel emits per reached (seed, node). */
  private sealed trait Kernel extends Serializable
  private object Kernel {
    /** (seed, node, dist), as [[bfsDistances]]. */
    case object Distances extends Kernel
    /** (seed, node, dist, paths), as [[shortestPathCounts]]. */
    case object PathCounts extends Kernel
    /** (seed, node, dist, paths, dep), as [[betweenness]]. */
    case object Betweenness extends Kernel

    /** The join path's output schema. Its nullability follows the
      * join path's plan: `seed` is the cast seed; `node` is a cast seed
      * or, after a round, a cast `dst`; `dist` is a literal, or a min
      * after a round of BFS; `paths` is a sum once a round ran; `dep`
      * is coalesced. */
    def schema(k: Kernel, seed: Boolean, dst: Boolean, rounds: Boolean): StructType = {
      def f(name: String, nullable: Boolean) = StructField(name, LongType, nullable)
      val keys = Seq(f("seed", seed), f("node", seed || (rounds && dst)))
      StructType(k match {
        case Distances => keys :+ f("dist", rounds)
        case PathCounts => keys ++ Seq(f("dist", false), f("paths", rounds))
        case Betweenness =>
          keys ++ Seq(f("dist", false), f("paths", rounds), f("dep", false))
      })
    }
  }

  /** One `mapPartitions` over the distinct, cast seed frame — the join
    * path's expressions — hash-partitioned into
    * `spark.sql.shuffle.partitions` partitions, so written outputs keep
    * their file count. The CSR is broadcast and each task runs
    * [[SeedRun]] per seed. The result is checkpointed eagerly like every
    * join-path round, so the kernel's job carries its description.
    *
    * An integral seed column casts injectively, so deduplicating the
    * cast ids is its `distinct()` and saves that query stage. Any other
    * type runs `distinct()` first, and a cast id that m distinct seeds
    * share (as "3" and "03" do) starts with σ = m, as the join path's m
    * dist-0 rows do. */
  private def runKernel(op: String, e: DataFrame, g: Csr, seeds: DataFrame,
      k: Kernel, maxHops: Int, scale: Long): DataFrame = {
    val spark = seeds.sparkSession
    val raw = seeds.toDF("seed")
    val injective = raw.schema.head.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val cast = (if (injective) raw else raw.distinct())
      .select(col("seed").cast("long").as("seed"))
    val parts = new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val bg = spark.sparkContext.broadcast(g)
    described(spark, s"$op: local kernel") {
      val rows = cast.queryExecution.toRdd
        .flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0) -> 1L))
        .reduceByKey(parts, _ + _)
        .mapPartitions { it =>
          val run = new SeedRun(bg.value, k, maxHops, scale)
          it.flatMap { case (s, m) => run(s, if (injective) 1L else m) }
        }
      spark.createDataFrame(rows, Kernel.schema(k, cast.schema.head.nullable,
          e.schema("dst").nullable, maxHops > 0))
        .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    }
  }

  /** The per-seed kernel of one task. Its arrays are sized to the graph
    * once and reset between seeds by walking only what the last seed
    * reached. Layer h is `order(layerEnd(h - 1) until layerEnd(h))`.
    *
    * It reproduces the join path row for row: hops stop at `maxHops`;
    * every edge row adds its σ, so parallel edges are distinct paths;
    * a node reached at an earlier hop (a self-loop included) takes no
    * further paths; the null node is reached per layer and never
    * expanded. Backward, each DAG edge adds σ(v)·(scale + D(w)) div σ(w),
    * floored per edge before the sum. Adds fail as ANSI sums do, and a
    * product past BIGINT fails with the join path's `raise_error` text. */
  private final class SeedRun(g: Csr, k: Kernel, maxHops: Int, scale: Long) {
    private val n = g.ids.length
    // a BFS adds a node per layer or stops, so layers past n + 1 are empty
    private val hops = math.max(0, math.min(maxHops, n + 1))
    private val counting = k != Kernel.Distances
    private val dist = Array.fill(n)(-1)
    private val sigma = new Array[Long](n)
    private val delta = new Array[Long](n)
    private val order = new Array[Int](n)
    private val layerEnd = new Array[Int](hops + 1)
    // σ of the null node per layer; 0 = not reached
    private val nullPaths = new Array[Long](hops + 1)
    private var reached = 0

    def apply(seed: Long, m: Long): Iterator[Row] = {
      val s = java.util.Arrays.binarySearch(g.ids, seed)
      if (s < 0 || hops == 0) return Iterator.empty
      val layers = forward(s, m)
      if (k == Kernel.Betweenness) backward(layers, m)
      val out = emit(seed, layers)
      (0 until reached).foreach(i => dist(order(i)) = -1)
      java.util.Arrays.fill(nullPaths, 0L)
      out.iterator
    }

    /** BFS layers 1..L from `s` with σ(s) = m; returns L. */
    private def forward(s: Int, m: Long): Int = {
      dist(s) = 0; sigma(s) = m; delta(s) = 0L
      order(0) = s; reached = 1; layerEnd(0) = 1
      var start = 0
      var h = 1
      while (h <= hops && start < reached) {
        val end = reached
        var nul = 0L
        (start until end).foreach { i =>
          val v = order(i)
          val sv = sigma(v)
          (g.off(v) until g.off(v + 1)).foreach { j =>
            val w = g.adj(j)
            if (w == n) nul = if (counting) add(nul, sv) else 1L
            else if (dist(w) < 0) {
              dist(w) = h; sigma(w) = sv; delta(w) = 0L
              order(reached) = w; reached += 1
            } else if (counting && dist(w) == h) sigma(w) = add(sigma(w), sv)
          }
        }
        layerEnd(h) = reached
        nullPaths(h) = nul
        start = end
        h += 1
      }
      h - 1
    }

    /** Brandes' dependencies from layer `layers` back to the seed. The
      * seed's own δ is never emitted; it is summed only so that it
      * overflows where the join path's m dist-0 rows (σ 1 each) do. */
    private def backward(layers: Int, m: Long): Unit =
      (layers to 1 by -1).foreach { h =>
        (if (h == 1) 0 else layerEnd(h - 2)).until(layerEnd(h - 1)).foreach { i =>
          val v = order(i)
          val sv = if (h == 1) 1L else sigma(v)
          var acc = 0L
          (g.off(v) until g.off(v + 1)).foreach { j =>
            val w = g.adj(j)
            if (w != n && dist(w) == h) {
              val sd = add(scale, delta(w))
              if (sv > Long.MaxValue / sd)
                raise(s"betweenness: sigma*(scale+dep) overflows BIGINT at sigma=$sv, " +
                  s"dep=${delta(w)}, scale=$scale — lower scale or maxHops")
              acc = add(acc, sv * sd / sigma(w))
            }
          }
          delta(v) = if (h == 1) (1L until m).foldLeft(acc)((a, _) => add(a, acc)) else acc
        }
      }

    private def emit(seed: Long, layers: Int): mutable.ArrayBuffer[Row] = {
      val out = new mutable.ArrayBuffer[Row](reached)
      var nullSeen = false
      (1 to layers).foreach { h =>
        (layerEnd(h - 1) until layerEnd(h)).foreach { i =>
          val v = order(i)
          out += (k match {
            case Kernel.Distances => Row(seed, g.ids(v), h.toLong)
            case Kernel.PathCounts => Row(seed, g.ids(v), h.toLong, sigma(v))
            case Kernel.Betweenness => Row(seed, g.ids(v), h.toLong, sigma(v), delta(v))
          })
        }
        if (nullPaths(h) != 0L) k match {
          case Kernel.Distances if !nullSeen => out += Row(seed, null, h.toLong)
          case Kernel.PathCounts => out += Row(seed, null, h.toLong, nullPaths(h))
          case _ =>
        }
        nullSeen ||= nullPaths(h) != 0L
      }
      out
    }
  }

  /** a + b, failing as an ANSI BIGINT sum does: on overflow it
    * evaluates Spark's own ANSI `Add`, which throws Spark's error. */
  private def add(a: Long, b: Long): Long = {
    val r = a + b
    if (((a ^ r) & (b ^ r)) < 0)
      Add(Literal(a), Literal(b), NumericEvalContext(EvalMode.ANSI)).eval()
    r
  }

  /** Throws what `raise_error(message)` throws, by evaluating it. */
  private def raise(message: String): Nothing = {
    new RaiseError(Literal(message)).eval()
    throw new IllegalStateException(message)
  }
}
