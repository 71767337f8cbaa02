package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** Distributed connected components (R1): the resolver's union-find over
  * judgement edges (zavod/zavod/integration/dedupe.py:22-39,93-128) as an
  * iterative DataFrame algorithm.
  *
  * Implements alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14), which
  * converges in O(log² n) rounds even on path graphs — min-label
  * propagation would need O(diameter) rounds, which is unusable at scale.
  *
  * Scale notes:
  *  - each round is a bounded number of shuffles on the edge frame keyed
  *    by node id; lineage is cut every round by a localCheckpoint;
  *  - convergence is two-tier. Per round we compute a cheap aggregate
  *    signature over the new pointer set — (count, sum(xxhash64(src,dst))
  *    as decimal) — which is a single scan and doubles as the action
  *    that materializes the round's checkpoint: one Spark job per
  *    iteration, no join. Only when the signature says "unchanged" do we
  *    run the exact set-equality check (full-outer join of old vs new,
  *    counting one-sided rows) as a confirmation barrier before exiting.
  *    A signature collision (~2⁻⁶⁴ per check) can therefore cost one
  *    wasted exact join, never a wrong answer — the loop only exits on
  *    the exact check. This replaced an every-round full-outer join that
  *    dominated the iteration cost (~3× the per-round work at sf0.1);
  *  - a pointer set that passes the one graph gate ([[LocalGraph]]), at
  *    entry or after any round, is collected once and finished by a
  *    driver union-find into the fixpoint the rounds would reach.
  */
object ConnectedComponents {

  /** Signature of a pointer set: its rows, the sum of its edge hashes
    * (the convergence check) and the octets of its src and dst keys. */
  private final case class Sig(rows: Long, hash: java.math.BigDecimal,
      srcBytes: Long, dstBytes: Long) {
    def keyBytes: Long = srcBytes + dstBytes
  }

  /** Union-find over a gate-small pointer set, collected by
    * [[LocalGraph.collect]]. Input `e` is the current canonical
    * (src > dst) edge frame; output is the FIXPOINT pointer set — one
    * (member, min-label) row per non-root member, exactly the frame the
    * star rounds converge to — with its signature (hash unset: nothing
    * checks convergence after a local finish). The ids come sorted in
    * Spark's order and every union links the larger root under the
    * smaller, so each root is its set's smallest index: the min label. */
  private def localFinish[K](e: DataFrame, key: LocalGraph.Key[K],
      fixedKeyWidth: Long): (DataFrame, Sig) = {
    val spark = e.sparkSession
    val g = LocalGraph.collect(e, key, "ConnectedComponents.run: local finish")
    val parent = Array.range(0, g.ids.length)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    g.from.indices.foreach { k =>
      val a = find(g.from(k)); val b = find(g.to(k))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    def value(k: K): Any = k match { case s: UTF8String => s.toString; case v => v }
    def octets(k: K): Long = k match { case s: UTF8String => s.numBytes; case _ => fixedKeyWidth }
    val out = mutable.ArrayBuffer[Row]()
    var srcBytes, dstBytes = 0L
    g.ids.indices.foreach { i =>
      val r = find(i)
      if (r != i) {
        out += Row(value(g.ids(i)), value(g.ids(r)))
        srcBytes += octets(g.ids(i)); dstBytes += octets(g.ids(r))
      }
    }
    // RDD-backed, not LocalRelation: a gate-sized (≤ millions of rows)
    // LocalRelation would ride along inside every downstream plan copy;
    // as an RDD leaf it is just a reference (the final attach broadcast-
    // gates it by the known bound, so the missing stats cost nothing).
    val slices = math.max(1, out.length / 500000)
    val dt = e.schema("src").dataType
    val solved = spark.createDataFrame(spark.sparkContext.parallelize(out.toSeq, slices),
        StructType(Seq(StructField("src", key.dataType), StructField("dst", key.dataType))))
      .select(col("src").cast(dt).as("src"), col("dst").cast(dt).as("dst"))
    (solved, Sig(out.length.toLong, java.math.BigDecimal.ZERO, srcBytes, dstBytes))
  }

  /** Round cap of the star iteration. */
  private val MaxIterations = 50

  /** First round that pointer-jumps (see the jump in [[run]]). */
  private val PointerJumpAfter = 4

  /** edges: two key columns (src, dst). Returns (id, component) where
    * component = min node id of the connected component. Nodes given in
    * `nodes` (single key column `id`, same type as the edge keys) are
    * included even when isolated.
    *
    * Every round ends in the convergence check, which is also its
    * materialization barrier: each star round references the previous
    * edge frame twice (the symmetrized neighbor union), so an
    * unmaterialized round would be recomputed multiplicatively by the
    * next one — measured several times SLOWER when the barrier was
    * skipped. The check is a cheap hash-signature aggregate (see class
    * doc), so the barrier costs one scan, not a join. The signature also
    * prices the [[LocalGraph]] gate, under which [[localFinish]] ends the
    * iteration with the same output. */
  def run(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val spark = nodes.sparkSession

    val n = nodes.toDF("id")
    // Symmetrize, strip self-loops; pointer form (src > dst) — edges are
    // (node, parent) pointers, matching the small-star output so the
    // set-equality convergence check compares like with like.
    var e = edges.toDF("src", "dst")
      .filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    // Order-independent set signature: (cardinality, sum of 64-bit edge
    // hashes as decimal — decimal so ANSI mode can't overflow-throw,
    // plus the summed src and dst key octets that price the byte gates
    // — measured for string keys, exact rows × width for fixed-width
    // ones; all in the SAME single scan).
    // Over distinct pointer sets, two different sets collide with
    // probability ~2⁻⁶⁴ per comparison; a collision costs one wasted
    // exact check below, never a wrong result.
    val keyIsString = e.schema("src").dataType == StringType
    val fixedKeyWidth = e.schema("src").dataType.defaultSize.toLong
    def sig(df: DataFrame): Sig = {
      def octets(c: String) =
        if (keyIsString) sum(octet_length(col(c)).cast("long")) else sum(lit(0L))
      val r = df.agg(
        count(lit(1)),
        sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")),
        octets("src"), octets("dst")).head()
      val s = if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1)
      def kb(i: Int) =
        if (!keyIsString) r.getLong(0) * fixedKeyWidth
        else if (r.isNullAt(i)) 0L else r.getLong(i)
      Sig(r.getLong(0), s, kb(2), kb(3))
    }
    // materialize once so each round starts cached
    var prevSig = LocalGraph.described(spark, "ConnectedComponents.run: round 0")(sig(e))

    var converged = false
    var iter = 0
    val key = LocalGraph.Key.of(e.schema("src").dataType)
    while (!converged && iter < MaxIterations) {
      // Local finish (class doc): the signature that ends every round
      // already prices the gate, so deciding it costs no job.
      if (key.isDefined && LocalGraph.fits(spark, prevSig.rows, prevSig.keyBytes)) {
        val (solved, solvedSig) = localFinish(e, key.get, fixedKeyWidth)
        e.unpersist(blocking = false)
        e = solved
        prevSig = solvedSig
        converged = true
      } else LocalGraph.described(spark, s"ConnectedComponents.run: round ${iter + 1}") {
        // Large-star: for each node u, connect every strictly-larger
        // neighbor to m = min(N(u) ∪ {u}).
        val nbrs = e.select(col("src").as("u"), col("dst").as("v"))
          .union(e.select(col("dst").as("u"), col("src").as("v")))
        val minN = nbrs.groupBy(col("u")).agg(min(col("v")).as("mn"))
          .select(col("u"), least(col("u"), col("mn")).as("m"))
        val large = nbrs.join(minN, "u")
          .filter(col("v") > col("u"))
          .select(col("v").as("src"), col("m").as("dst"))
          .filter(col("src") =!= col("dst"))

        // Small-star: for each node u, connect every neighbor <= u (and u)
        // to the min of those. `large` emits (src > dst) rows only, so no
        // re-canonicalization is needed.
        val nbrsS = large.select(col("src").as("u"), col("dst").as("v"))
        val minS = nbrsS.groupBy(col("u")).agg(min(col("v")).as("m"))
        val small0 = nbrsS.join(minS, "u")
          .select(col("v").as("src"), col("m").as("dst"))
          .union(minS.select(col("u").as("src"), col("m").as("dst")))
          .filter(col("src") =!= col("dst"))
          .select(least(col("src"), col("dst")).as("dst2"),
            greatest(col("src"), col("dst")).as("src2"))
          .select(col("src2").as("src"), col("dst2").as("dst"))
          .distinct()
        // Pointer jump: (u→p) with (p→gp) contracts to (u→gp) — one extra
        // self-join per round that shortcuts long parent chains. Adaptive:
        // on short-diameter graphs (cliques, short paths) the star rounds
        // alone converge within a few iterations and the extra shuffle
        // would be pure cost, so the first `PointerJumpAfter` rounds never
        // jump; a loop still going after that is evidence of a
        // diameter-heavy graph (long chains), where each jump round
        // contracts depth ~3× instead of ~2× and pays for itself.
        val small1 =
          if (iter < PointerJumpAfter) small0
          else {
            val parents = small0.select(col("src").as("_p"), col("dst").as("_gp"))
            small0.join(parents, col("dst") === col("_p"), "left")
              .select(col("src"), coalesce(col("_gp"), col("dst")).as("dst"))
              .filter(col("src") =!= col("dst"))
              .distinct()
          }
        val small = small1.localCheckpoint(eager = false)
          .persist(StorageLevel.MEMORY_AND_DISK)

        // Cheap per-round barrier: one aggregate scan materializes the
        // round's checkpoint and yields the set signature.
        val newSig = sig(small)
        if (newSig.rows == prevSig.rows && newSig.hash.compareTo(prevSig.hash) == 0) {
          // Signature says fixpoint — confirm with the exact set-equality
          // join. Runs once at convergence (plus ~never on collisions),
          // not once per round.
          val changed = small.withColumn("l", lit(1))
            .join(e.withColumn("r", lit(1)), Seq("src", "dst"), "full_outer")
            .filter(col("l").isNull || col("r").isNull)
            .limit(1).count()
          converged = changed == 0L
        }
        prevSig = newSig
        val old = e
        e = small
        old.unpersist(blocking = false)
        iter += 1
      }
    }

    // At fixpoint every edge is (node -> component root). Attach isolated nodes.
    // Each `comp` row is one row of the union below, so its size is
    // bounded by the union's: 2 rows per pointer and Σ|src| + 3·Σ|dst|
    // bytes over the pointer set that prevSig describes. The size-gated
    // broadcast (IterState doc) is used ONLY here: gating the per-round
    // star joins measured neutral to worse (sf0.1 min-of-3: q19 19.4 vs
    // 19.7 s, q280 19.3 vs 26.2 s), as ReuseExchange already dedupes the
    // nbrs shuffle and a broadcast recomputes the star subtree.
    val comp = e.select(col("src").as("id"), col("dst").as("component"))
      .union(e.select(col("dst").as("id"), col("dst").as("component")))
      .groupBy(col("id")).agg(min(col("component")).as("component"))
    val out = n.join(
      IterState.bcastIf(comp, 2 * prevSig.rows, prevSig.srcBytes + 3 * prevSig.dstBytes),
      Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
    out
  }

  /** Union-find with NEGATIVE constraints (the resolver's judgement
    * semantics): positive edges merge, but a merge bucket containing a
    * negative pair is flagged. Returns (id, component, vetoed). */
  def runWithNegatives(
      nodes: DataFrame,
      positive: DataFrame,
      negative: DataFrame): DataFrame = {
    val cc = run(nodes, positive)
    val neg = negative.toDF("a", "b")
    val compOf = cc.select(col("id"), col("component"))
    // a negative pair landing in one component vetoes that component
    val vetoed = neg
      .join(compOf.withColumnRenamed("id", "a").withColumnRenamed("component", "ca"), Seq("a"))
      .join(compOf.withColumnRenamed("id", "b").withColumnRenamed("component", "cb"), Seq("b"))
      .filter(col("ca") === col("cb"))
      .select(col("ca").as("component")).distinct()
      .withColumn("vetoed", lit(true))
    cc.join(vetoed, Seq("component"), "left")
      .select(col("id"), col("component"), coalesce(col("vetoed"), lit(false)).as("vetoed"))
  }

  /** Incremental maintenance of a components fixpoint (the resolver's
    * daily regime: yesterday's canonicalization plus today's decision
    * batch — reference: the dedupe journal is append-only,
    * zavod/zavod/integration/dedupe.py:93-128, so each run adds edges
    * to an already-resolved graph).
    *
    * Instead of re-iterating large-star/small-star over the FULL edge
    * set, contract the new edges onto the component graph: map each new
    * endpoint through the old labeling (an endpoint the store has never
    * seen labels itself), run the full CC fixpoint on that contracted
    * graph — O(batch) rows, not O(corpus) — and broadcast the changed
    * old-label → new-root mapping back over the big labeling.
    *
    * Exactness: labels are min-node-ids, and min over a union of merged
    * components equals min over their min-labels, so the incremental
    * result is row-identical to a full recompute over (old ∪ new) edges
    * — spec-asserted against `run` on a random graph, and oracle-gated
    * end-to-end (q209).
    *
    * Scale contract: `prev` is scanned exactly twice (one broadcast
    * semi-probe to label the touched endpoints, one broadcast remap) and
    * NEVER shuffled or iterated; everything iterative happens on the
    * contracted graph, whose size is bounded by the batch. At 100 TB
    * this is the difference between O(|batch| · log²|batch|) and
    * re-running the full O(|corpus| · log²|corpus|) fixpoint per day.
    *
    * @param prev     (id, component) — a `run` fixpoint (component = min id)
    * @param newEdges (src, dst) — the decision batch
    * @param newNodes (id) — nodes to include even when isolated; may
    *                 overlap `prev` (overlaps keep their old label)
    * @return (id, component) over prev-nodes ∪ newNodes ∪ edge endpoints */
  def incremental(
      prev: DataFrame,
      newEdges: DataFrame,
      newNodes: DataFrame): DataFrame = {
    val p = prev.toDF("id", "component")
    val e = newEdges.toDF("src", "dst")
      .filter(col("src") =!= col("dst"))
      .distinct()

    // Touched node set: batch endpoints + declared new nodes. Small by
    // contract (one decision batch), so it broadcasts. Materialized
    // eagerly: three later consumers (the la/lb contraction broadcasts,
    // cnodes, freshIds) would otherwise each rebuild the union+distinct
    // inside their own broadcast exchange.
    val touch = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .union(newNodes.toDF("id"))
      .distinct()
      .localCheckpoint(true)

    // Old labels for the touched nodes — prev scanned ONCE, probe side
    // broadcast, output bounded by the batch. Materialized eagerly:
    // WITHOUT the barrier, each of the three broadcast builds that
    // reference it (la, lb, freshIds' anti probe) replans the p⋈touch
    // join and rescans `prev` — measured 4 corpus scans instead of the
    // 2 the operator's contract promises (q209 fresh-JVM min-of-3:
    // 13.2 s before, 6.0 s with this barrier + the `touch` one above).
    val touchLbl = p.join(broadcast(touch), Seq("id"))
      .select(col("id"), col("component"))
      .localCheckpoint(true)

    // Contract endpoints through the old labeling; unseen endpoints
    // label themselves (they are genuinely new singleton components).
    val la = touchLbl.select(col("id").as("src"), col("component").as("ca"))
    val lb = touchLbl.select(col("id").as("dst"), col("component").as("cb"))
    val contracted = e
      .join(broadcast(la), Seq("src"), "left")
      .join(broadcast(lb), Seq("dst"), "left")
      .select(coalesce(col("ca"), col("src")).as("src"),
        coalesce(col("cb"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))

    // Contracted-graph nodes: every touched node's (old label | itself),
    // so isolated new nodes still come out labeled.
    val cnodes = touch
      .join(broadcast(touchLbl.withColumnRenamed("component", "c0")), Seq("id"), "left")
      .select(coalesce(col("c0"), col("id")).as("id"))
      .distinct()

    // Full fixpoint on the batch-sized graph. Eager localCheckpoint,
    // not persist: same intra-query reuse (the `changed` and `fresh`
    // broadcasts), but the block is a per-query round barrier the
    // bench/verify between-query sweep reclaims — a bare persist here
    // leaked one batch-sized frame into the block manager per call for
    // the life of the session.
    val mapping = run(cnodes, contracted).localCheckpoint(true)

    // Broadcast remap over the big labeling: only labels that actually
    // moved ride the broadcast — prev scanned the SECOND and last time.
    val changed = mapping.filter(col("component") =!= col("id"))
      .select(col("id").as("component"), col("component").as("newc"))
    val remapped = p.join(broadcast(changed), Seq("component"), "left")
      .select(col("id"), coalesce(col("newc"), col("component")).as("component"))

    // Genuinely-new nodes (incl. unseen edge endpoints): their final
    // label is their contracted-graph component, remapped nowhere else.
    // Fresh = touch minus touchLbl's ids: touchLbl holds exactly the
    // touched ids present in prev, so this anti-join stays batch-sized
    // on BOTH sides (anti-joining touch against prev's full id column
    // would sort-merge the entire corpus labeling once prev outgrows
    // the broadcast threshold — the cost this operator exists to avoid).
    val freshIds = touch.join(broadcast(touchLbl.select(col("id"))),
      Seq("id"), "left_anti")
    val fresh = freshIds.join(
        broadcast(mapping.withColumnRenamed("component", "newc")), Seq("id"))
      .select(col("id"), col("newc").as("component"))

    remapped.unionByName(fresh)
  }

  /** Representative per component — the keeper rule shared by the
    * semantic (Similarity.semanticDedup) and lexical
    * (Dedup.nearDedupManifest) dedup pipelines: highest `weight` wins,
    * ties → lowest id, members missing a weight rank lowest. One
    * max_by partial aggregate keyed on the component.
    * `comp` is (id, component); `weights` is (id, weight).
    * Returns (component, kept_id, n_members). */
  def representatives(comp: DataFrame, weights: DataFrame): DataFrame =
    comp.join(weights.toDF("id", "weight"), Seq("id"), "left")
      .groupBy(col("component"))
      .agg(
        max_by(col("id"),
          struct(coalesce(col("weight"), lit(Long.MinValue)), negate(col("id"))))
          .as("kept_id"),
        count(lit(1)).as("n_members"))
}
