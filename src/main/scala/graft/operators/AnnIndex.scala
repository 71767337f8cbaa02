package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted, versioned ANN index — the build-once / query-many serving
  * pattern the per-call trainers ([[Similarity.ivfTopK]],
  * [[Similarity.cosineTopKAnnAuto]]) deliberately do not cover. At
  * 100 TB the quantizer training pass (n·k per Lloyd round) is the
  * expensive step; a production retrieval path trains ONCE, publishes
  * the trained index atomically, absorbs corpus growth by assigning new
  * vectors to the FROZEN quantizer, and serves probes that read only
  * the probed cells. This operator composes the two halves the engine
  * already gates separately:
  *
  *  - [[Snapshot]] gives the index store its versioned-publish
  *    protocol: atomic pointer swap (readers are never torn), CAS
  *    optimistic concurrency for racing writers, as-of time travel
  *    (query the index as it stood before an append), vacuum.
  *  - [[Similarity]] gives it the quantizer: hash-seeded deterministic
  *    k-means ([[Similarity.seedCentroids]] +
  *    [[Similarity.kmeansCentroids]]), √n cell sizing
  *    ([[Similarity.kFor]]), recall-calibrated probe width
  *    ([[Similarity.nprobeFor]]).
  *
  * Index layout: ONE frame per version (so one atomic pointer governs
  * both halves) with a `kind` discriminator — 'c' rows are the trained
  * centroids (broadcast-sized, ≤ 65536 by [[Similarity.kFor]]'s clamp),
  * 'm' rows are the corpus vectors with their frozen cell assignment.
  * Member rows are range-partitioned and sorted by `centroid_id` before
  * the write, so parquet row-group stats are tight per cell and a
  * probed-cell predicate prunes the scan to ~nprobe/cells of the data;
  * the manifest assigns one entry per cell (clustered, not hashed — the
  * [[Snapshot.manifestEntriesBy]] trade), so manifest-level pruning
  * (q183's broadcast candidate join) composes on top for a deployment
  * that splits cells across files.
  *
  * Freezing the quantizer on append is the deliberate semantics, not a
  * shortcut: retraining would re-shuffle every existing assignment
  * (rebuilding the index), and SemDeDup-style pipelines depend on cell
  * ids being stable across corpus growth. The cost is drift — appended
  * vectors far from every trained centroid get poor cells — so
  * [[append]] logs the batch's assignment-cosine envelope against the
  * index's stored build-time envelope; a production operator rebuilds
  * when the logged drift crosses its threshold (the classic
  * IVF-index maintenance contract). Reference analog: the reference
  * publishes per-release artifacts and serves matching from the
  * published artifact, not from a per-query rebuild
  * (zavod/zavod/archive.py publish + opensanctions' release-versioned
  * index consumption); this is that release model applied to the
  * retrieval index.
  *
  * Correctness: q193 gates build → publish → frozen append → as-of and
  * current probes against a DuckDB replay of the full quantizer
  * arithmetic on both seeds; AnnIndexSpec gates the FS protocol
  * (equivalence with the direct IVF path, centroid freeze, time travel,
  * vacuum survival, pruned-scan plan shape). */
object AnnIndex {

  /** Probed-cell sets at most this large are pushed to the member scan
    * as an IN predicate (real parquet row-group pruning); larger sets
    * fall back to the equi-join plan (same rows, no pushdown) — an IN
    * list past a few thousand entries stops being a win inside codegen. */
  val MaxPushdownCells = 1024

  private def asDouble(c: org.apache.spark.sql.Column) = c.cast("array<double>")

  /** (id, vec, centroid_id): nearest FROZEN centroid per vector — the
    * same min_by partial aggregate, deterministic tie-break (max
    * cosine, then min centroid id) and NaN behavior as
    * [[Similarity.ivfCandidates]]' corpus assignment, carrying the
    * vector through so members persist with their cell. */
  private def assignMembers(corpus: DataFrame, centroids: DataFrame): DataFrame =
    corpus.toDF("id", "vec")
      .select(col("id"), asDouble(col("vec")).as("vec"))
      .join(broadcast(centroids.toDF("centroid_id", "cvec")))
      .withColumn("ccos", Similarity.cosine(col("vec"), col("cvec")))
      .groupBy(col("id"))
      .agg(min_by(struct(col("vec"), col("centroid_id")),
        struct(negate(col("ccos")), col("centroid_id"))).as("best"))
      .select(col("id"), col("best.vec").as("vec"),
        col("best.centroid_id").as("centroid_id"))

  /** One versioned index frame from its two halves. Member rows are
    * clustered by cell before the write so the probe predicate prunes
    * row groups; centroid rows ride in front (kind 'c', centroid_id as
    * both id and cell). */
  private def indexFrame(centroids: DataFrame, members: DataFrame): DataFrame = {
    val c = centroids.toDF("centroid_id", "cvec")
      .select(lit("c").as("kind"), col("centroid_id").cast("long").as("id"),
        col("cvec").as("vec"), col("centroid_id").cast("long").as("centroid_id"))
    val m = members
      .select(lit("m").as("kind"), col("id").cast("long").as("id"), col("vec"),
        col("centroid_id").cast("long").as("centroid_id"))
      .repartitionByRange(col("centroid_id"))
      .sortWithinPartitions("centroid_id")
    c.unionByName(m)
  }

  private def commitIndex(spark: SparkSession, root: String, version: Long,
      idx: DataFrame, commitMillis: Long): Unit = {
    val persisted = idx.persist()
    try {
      val manifest = Snapshot.manifestEntriesBy(persisted,
        when(col("kind") === "c", lit(-1L))
          .when(col("kind") === "b", lit(-2L))
          .otherwise(col("centroid_id")),
        col("centroid_id"), version)
      Snapshot.commit(spark, root, version, persisted, manifest, commitMillis)
    } finally persisted.unpersist()
  }

  /** INCREMENTAL index append commit (round-17, VERDICT r16 #7):
    * publish `newRows` (already in the index-frame schema) as version
    * `cur + 1` via [[Snapshot.commitAppendData]] — v`cur`'s immutable
    * data files are reused (linked), only the batch's rows are encoded
    * and written, and the manifest is merged incrementally (previous
    * entries re-versioned ∪ the batch's entries, re-aggregated per
    * file bucket — bit-identical to the full recompute because n_rows
    * adds and key envelopes union). [[commitIndex]]'s full rewrite made
    * every streaming append (q268: one per micro-batch) re-encode and
    * rewrite the whole member set; per-batch work is now O(batch) Spark
    * work + O(files) driver metadata. */
  private def commitIndexAppend(spark: SparkSession, root: String, cur: Long,
      newRows: DataFrame, commitMillis: Long): Unit = {
    val version = cur + 1L
    val persisted = newRows.persist()
    try {
      val addedEntries = Snapshot.manifestEntriesBy(persisted,
        when(col("kind") === "c", lit(-1L))
          .when(col("kind") === "b", lit(-2L))
          .otherwise(col("centroid_id")),
        col("centroid_id"), version)
      val prevMan = spark.read.parquet(s"$root/manifest/v$cur")
        .select(col("file_id"), col("n_rows"), col("min_key"), col("max_key"))
      val merged = prevMan
        .unionByName(addedEntries.select(col("file_id"), col("n_rows"),
          col("min_key"), col("max_key")))
        .groupBy("file_id")
        .agg(sum(col("n_rows")).as("n_rows"), min(col("min_key")).as("min_key"),
          max(col("max_key")).as("max_key"))
        .select(lit(version).as("version"), col("file_id"), col("n_rows"),
          col("min_key"), col("max_key"))
      Snapshot.commitAppendData(spark, root, cur, version, persisted, merged,
        commitMillis)
    } finally persisted.unpersist()
  }

  /** Train the quantizer on `corpus` and publish version 1 of the
    * index at `root`. Deterministic for a fixed `kmeansIterations`
    * (earlyStop off — the oracle-replayable trainer); cells follow the
    * √n rule. Returns the published version (1). */
  def build(spark: SparkSession, root: String, corpus: DataFrame, dim: Int,
      kmeansIterations: Int = 2,
      commitMillis: Long = System.currentTimeMillis()): Long = {
    val v = corpus.toDF("id", "vec")
      .select(col("id"), asDouble(col("vec")).as("vec"))
    val n = v.count()
    val seed = Similarity.seedCentroids(v, Similarity.kFor(n))
    val trained = Similarity.kmeansCentroids(v, seed, dim,
      maxIterations = kmeansIterations, earlyStop = false)
    commitIndex(spark, root, 1L, indexFrame(trained, assignMembers(v, trained)),
      commitMillis)
    1L
  }

  private def split(idx: DataFrame): (DataFrame, DataFrame) = (
    idx.filter(col("kind") === "c")
      .select(col("centroid_id"), col("vec").as("cvec")),
    idx.filter(col("kind") === "m")
      .select(col("id"), col("vec"), col("centroid_id")))

  /** Assign `added` to the CURRENT version's frozen centroids and
    * publish the grown index as the next version. The centroid half is
    * carried over bit-identical (AnnIndexSpec gates the freeze). Logs
    * the batch's assignment-cosine envelope next to the current
    * members' — the drift signal a maintenance policy rebuilds on.
    * Returns the new version. */
  def append(spark: SparkSession, root: String, added: DataFrame,
      commitMillis: Long = System.currentTimeMillis()): Long =
    appendWithDrift(spark, root, added, commitMillis)._1

  /** The assignment-cosine envelope of one appended batch against the
    * live index — the measured drift signal. A batch whose vectors sit
    * where the quantizer was trained assigns about as well as the
    * index's own members (`batchMean ≈ indexMean`); a batch the
    * quantizer has never seen assigns poorly (`batchMean` drops), cells
    * stop isolating neighborhoods, and probe recall decays — the
    * classic frozen-IVF failure mode, surfaced as a number instead of a
    * silent quality loss. */
  final case class Drift(batchMean: Double, batchMin: Double,
      indexMean: Double, indexMin: Double)

  /** [[append]], returning the measured [[Drift]] alongside the new
    * version (None for a degenerate empty batch or empty index). */
  def appendWithDrift(spark: SparkSession, root: String, added: DataFrame,
      commitMillis: Long = System.currentTimeMillis()): (Long, Option[Drift]) = {
    val cur = Snapshot.currentVersion(spark, root).drop(1).toLong
    val (cents, members) = split(Snapshot.readCurrent(spark, root))
    val newMembers = assignMembers(added, cents).persist()
    try {
      // one 2-row aggregate job for the drift signal (bounded, never per-row)
      val env = newMembers.select(lit("batch").as("side"), col("vec"),
          col("centroid_id"))
        .unionByName(members.select(lit("index").as("side"), col("vec"),
          col("centroid_id")))
        .join(broadcast(cents), "centroid_id")
        .groupBy("side")
        .agg(avg(Similarity.cosine(col("vec"), col("cvec"))).as("mean_cos"),
          min(Similarity.cosine(col("vec"), col("cvec"))).as("min_cos"))
        .collect().map(r => r.getString(0) ->
          (r.getDouble(1), r.getDouble(2))).toMap
      val drift = for (b <- env.get("batch"); i <- env.get("index"))
        yield Drift(b._1, b._2, i._1, i._2)
      drift.foreach { dr =>
        System.err.println(
          f"[graft] AnnIndex.append v${cur + 1}: batch assignment cosine " +
            f"mean=${dr.batchMean}%.4f min=${dr.batchMin}%.4f vs index " +
            f"mean=${dr.indexMean}%.4f min=${dr.indexMin}%.4f")
      }
      // incremental commit: only the batch's member rows are written
      // (clustered by their own cells); the existing files carry over
      commitIndexAppend(spark, root, cur,
        newMembers
          .select(lit("m").as("kind"), col("id").cast("long").as("id"),
            col("vec"), col("centroid_id").cast("long").as("centroid_id"))
          .repartitionByRange(col("centroid_id"))
          .sortWithinPartitions("centroid_id"),
        commitMillis)
      (cur + 1L, drift)
    } finally newMembers.unpersist()
  }

  /** RETRAIN the quantizer on the full current member set and publish
    * the rebuilt index as the next version — the maintenance event a
    * drifted index pays for. Cell ids change (every member re-assigns),
    * which is exactly why [[append]] freezes by default and rebuilds
    * are policy-gated, not automatic. Returns the new version. */
  def rebuild(spark: SparkSession, root: String, dim: Int,
      kmeansIterations: Int = 2,
      commitMillis: Long = System.currentTimeMillis()): Long = {
    val cur = Snapshot.currentVersion(spark, root).drop(1).toLong
    val corpus = split(Snapshot.readCurrent(spark, root))._2
      .select(col("id"), col("vec"))
    val n = corpus.count()
    val seed = Similarity.seedCentroids(corpus, Similarity.kFor(n))
    val trained = Similarity.kmeansCentroids(corpus, seed, dim,
      maxIterations = kmeansIterations, earlyStop = false)
    commitIndex(spark, root, cur + 1L,
      indexFrame(trained, assignMembers(corpus, trained)), commitMillis)
    cur + 1L
  }

  /** The drift-policy maintenance step: append the batch, then rebuild
    * iff its mean assignment cosine fell below `rebuildFactor` × the
    * index mean — in-distribution growth stays on the cheap frozen
    * path (ProbeAnnIndex: 7% of a build at 25×), out-of-distribution
    * drift pays one retrain before probe recall decays silently.
    * Returns (published version, whether a rebuild fired). */
  def maintain(spark: SparkSession, root: String, added: DataFrame, dim: Int,
      rebuildFactor: Double = 0.8, kmeansIterations: Int = 2,
      appendMillis: Long = System.currentTimeMillis(),
      rebuildMillis: Long = System.currentTimeMillis()): (Long, Boolean) = {
    val (v, drift) = appendWithDrift(spark, root, added, appendMillis)
    drift match {
      case Some(dr) if dr.batchMean < rebuildFactor * dr.indexMean =>
        System.err.println(
          f"[graft] AnnIndex.maintain: drift ${dr.batchMean}%.4f < " +
            f"$rebuildFactor%.2f × ${dr.indexMean}%.4f — rebuilding")
        (rebuild(spark, root, dim, kmeansIterations, rebuildMillis), true)
      case _ => (v, false)
    }
  }

  /** Probe an ALREADY-LOADED index frame: queries rank their `nprobe`
    * nearest cells (window over the query side only — the small side),
    * then meet members cell-locally and rank exactly. When the probed
    * cell set is small it is collected (bounded by
    * min(|queries|·nprobe, cells) — driver-bounded the same way the
    * zone-map candidate lists are) and pushed as an IN predicate so the
    * member scan prunes row groups; past [[MaxPushdownCells]] the probe
    * joins instead. */
  def queryFrame(idx: DataFrame, queries: DataFrame, k: Int,
      nprobe: Int = 2): DataFrame = {
    val (cents, members) = split(idx)
    val bc = broadcast(cents)
    val probeW = Window.partitionBy("query_id")
      .orderBy(col("qcos").desc, col("centroid_id").asc)
    val probes = queries.toDF("query_id", "qvec")
      .select(col("query_id"), asDouble(col("qvec")).as("qvec"))
      .join(bc)
      .withColumn("qcos", Similarity.cosine(col("qvec"), col("cvec")))
      .withColumn("prank", row_number().over(probeW))
      .filter(col("prank") <= nprobe)
      .select(col("query_id"), col("qvec"), col("centroid_id"))
      .persist()
    try {
      val cellIds = probes.select(col("centroid_id").cast("long")).distinct()
        .limit(MaxPushdownCells + 1).collect().map(_.getLong(0))
      val scoped =
        if (cellIds.length <= MaxPushdownCells)
          members.filter(col("centroid_id").isin(cellIds: _*))
        else members
      // the probe side is |queries|·nprobe rows — ALWAYS the small side
      // of this join; broadcast it explicitly so the member store is
      // never shuffled (a sort-merge here would move every member
      // vector of the probed cells through an exchange)
      val cand = broadcast(probes).join(scoped, "centroid_id")
        .filter(col("query_id") =!= col("id"))
        .select(col("query_id"), col("qvec"),
          col("id").as("neighbor_id"), col("vec").as("nvec"))
      // rankCandidates shuffles scored scalars only — materialize the
      // ranked frame while the probe side is still pinned
      Similarity.rankCandidates(cand, k).localCheckpoint()
    } finally probes.unpersist()
  }

  /** Probe the published index: the CURRENT version, or — Iceberg-style
    * — the version live at `asOfMillis` (query the index as it stood
    * before an append). */
  def query(spark: SparkSession, root: String, queries: DataFrame, k: Int,
      nprobe: Int = 2, asOfMillis: Option[Long] = None): DataFrame = {
    val idx = asOfMillis match {
      case Some(t) => Snapshot.readAsOf(spark, root, t)
      case None => Snapshot.readCurrent(spark, root)
    }
    queryFrame(idx, queries, k, nprobe)
  }

  // ——— IVFPQ: PQ codes inside the persisted index (FAISS IVFPQ shape:
  // coarse cells bound what a probe READS, packed PQ codes bound what
  // each read member COSTS — ADC ranks within the probed cells off a
  // (id, centroid_id, pq_code) projection that never touches the
  // embedding column, and only the top-r pool fetches full vectors for
  // the exact re-rank). Codes approximate the RAW vectors (not the
  // FAISS residual refinement): raw-vector ADC keeps the arithmetic
  // identical to the oracle-gated ProductQuantizer form, and the recall
  // the composition buys comes from cell scoping, which the decade
  // probe measured directly (STRESS.md, ProbeAnnRecall ivfpq mode). ———

  /** One versioned IVFPQ index frame: 'c' rows are coarse centroids,
    * 'b' rows the PQ codebooks (centroid_id = subspace, id = code,
    * vec = code vector), 'm' rows the members carrying BOTH the full
    * vector (read only by the re-rank's id-join) and the packed
    * one-long PQ code (the ADC path's entire per-member payload —
    * parquet stores them as separate columns, so column pruning keeps
    * the ADC scan code-only). Members cluster by cell exactly like the
    * uncompressed layout, so probed-cell predicates prune row groups. */
  private def pqIndexFrame(centroids: DataFrame, codebooks: DataFrame,
      members: DataFrame): DataFrame = {
    val c = centroids.toDF("centroid_id", "cvec")
      .select(lit("c").as("kind"), col("centroid_id").cast("long").as("id"),
        col("cvec").as("vec"), col("centroid_id").cast("long").as("centroid_id"),
        lit(null).cast("long").as("pq_code"))
    val b = codebooks.toDF("sub", "code", "cvec")
      .select(lit("b").as("kind"), col("code").cast("long").as("id"),
        col("cvec").as("vec"), col("sub").cast("long").as("centroid_id"),
        lit(null).cast("long").as("pq_code"))
    val m = members
      .select(lit("m").as("kind"), col("id").cast("long").as("id"), col("vec"),
        col("centroid_id").cast("long").as("centroid_id"), col("pq_code"))
      .repartitionByRange(col("centroid_id"))
      .sortWithinPartitions("centroid_id")
    c.unionByName(b).unionByName(m)
  }

  /** Train BOTH quantizers on `corpus` and publish version 1 of the
    * IVFPQ index at `root`: the coarse √n-cell k-means (identical to
    * [[build]]) plus the (m × pqK) product codebooks, members stored
    * with their frozen cell AND their packed PQ code. Deterministic
    * end-to-end (both trainers are the fixed-round hash-seeded
    * protocol), so a SQL engine replays the full lifecycle. */
  def buildPq(spark: SparkSession, root: String, corpus: DataFrame, dim: Int,
      m: Int = 8, pqK: Int = 16, kmeansIterations: Int = 2,
      pqIterations: Int = 2,
      commitMillis: Long = System.currentTimeMillis()): Long = {
    val v = corpus.toDF("id", "vec")
      .select(col("id"), asDouble(col("vec")).as("vec"))
    val n = v.count()
    val seed = Similarity.seedCentroids(v, Similarity.kFor(n))
    val trained = Similarity.kmeansCentroids(v, seed, dim,
      maxIterations = kmeansIterations, earlyStop = false)
    val cb = ProductQuantizer.trainCodebooks(v, dim, m, pqK, pqIterations)
    val members = assignMembers(v, trained)
      .join(ProductQuantizer.packedCodes(v, cb, dim, m, pqK), "id")
    commitIndex(spark, root, 1L, pqIndexFrame(trained, cb, members),
      commitMillis)
    1L
  }

  /** Probe an ALREADY-LOADED IVFPQ index frame: queries rank their
    * `nprobe` nearest coarse cells, ADC ranks the probed cells' members
    * from packed codes alone (per-query lookup tables broadcast; the
    * scoring exchange carries (query_id, id, partial-decimal) scalars
    * — never a vector, never even the code column past the map side),
    * the top `r` per query fetch their full vectors by id, and the
    * exact re-rank emits top-k. Decode is ((pq_code >> 4s) & 15) —
    * integer-exact, oracle-replayable. */
  def queryPqFrame(idx: DataFrame, queries: DataFrame, k: Int, dim: Int,
      m: Int = 8, nprobe: Int = 2, r: Int = 50, pqK: Int = 16): DataFrame = {
    require(r >= k, s"re-rank pool r=$r must cover k=$k")
    val bits = ProductQuantizer.bitsFor(pqK)
    val codeMask = (1L << bits) - 1L
    val (cents, _) = split(idx)
    val cbs = idx.filter(col("kind") === "b")
      .select(col("centroid_id").as("sub"), col("id").as("code"),
        col("vec").as("cvec"))
    // ADC projection: the embedding column is ABSENT — at 100 TB this
    // is the difference between scanning ~12 B/member and ~520 B/member
    val memCodes = idx.filter(col("kind") === "m")
      .select(col("id"), col("centroid_id"), col("pq_code"))
    val memVec = idx.filter(col("kind") === "m")
      .select(col("id").as("neighbor_id"), col("vec").as("nvec"))
    val q = queries.toDF("query_id", "qvec")
      .select(col("query_id"), asDouble(col("qvec")).as("qvec"))
    val probeW = Window.partitionBy("query_id")
      .orderBy(col("qcos").desc, col("centroid_id").asc)
    val probes = q.join(broadcast(cents))
      .withColumn("qcos", Similarity.cosine(col("qvec"), col("cvec")))
      .withColumn("prank", row_number().over(probeW))
      .filter(col("prank") <= nprobe)
      .select(col("query_id"), col("centroid_id"))
      .persist()
    try {
      val cellIds = probes.select(col("centroid_id").cast("long")).distinct()
        .limit(MaxPushdownCells + 1).collect().map(_.getLong(0))
      val scoped =
        if (cellIds.length <= MaxPushdownCells)
          memCodes.filter(col("centroid_id").isin(cellIds: _*))
        else memCodes
      val lut = ProductQuantizer.queryLut(q, cbs, dim, m)
      // (query, member) candidates: the probe side is |queries|·nprobe
      // rows — broadcast so the member-code store never shuffles
      val scored = broadcast(probes).join(scoped, "centroid_id")
        .filter(col("query_id") =!= col("id"))
        .select(col("query_id"), col("id"),
          explode(sequence(lit(0), lit(m - 1))).as("sub"),
          col("pq_code"))
        .withColumn("code",
          expr(s"shiftright(pq_code, cast($bits * sub as int)) & $codeMask"))
        .join(broadcast(lut), Seq("query_id", "sub", "code"))
        .groupBy(col("query_id"), col("id"))
        // exact decimal sums: order-independent across engines/retries
        .agg(sum(col("ip").cast("decimal(30,12)")).as("ddot"),
          sum(col("cn2").cast("decimal(30,12)")).as("dn2"))
        .select(col("query_id"), col("id"),
          (col("ddot").cast("double") / sqrt(col("dn2").cast("double")))
            .as("ascore"))
      val rankW = Window.partitionBy("query_id")
        .orderBy(col("ascore").desc, col("id").asc)
      val cand = scored.withColumn("arank", row_number().over(rankW))
        .filter(col("arank") <= r)
        .select(col("query_id"), col("id").as("neighbor_id"))
      // the only touch of full vectors: |queries|·r candidate ids fetch
      // by id-join (candidates broadcast; the member store un-shuffled)
      val full = broadcast(cand).join(memVec, "neighbor_id")
        .join(broadcast(q), "query_id")
        .select(col("query_id"), col("qvec"), col("neighbor_id"), col("nvec"))
      Similarity.rankCandidates(full, k).localCheckpoint()
    } finally probes.unpersist()
  }

  /** Assign `added` to the CURRENT IVFPQ index's FROZEN coarse
    * centroids AND encode them against its FROZEN product codebooks,
    * publishing the grown index as the next version — [[append]]'s
    * twin for the compressed layout. Both quantizer halves carry over
    * bit-identical (retraining either would re-assign/re-encode every
    * existing member — a rebuild); the cost is the same drift story as
    * the coarse-only index, and [[maintain]]'s policy applies
    * unchanged through a rebuildPq a deployment would pair with this.
    * Returns the new version. */
  def appendPq(spark: SparkSession, root: String, added: DataFrame,
      dim: Int, m: Int = 8, pqK: Int = 16,
      commitMillis: Long = System.currentTimeMillis()): Long = {
    val cur = Snapshot.currentVersion(spark, root).drop(1).toLong
    val idx = Snapshot.readCurrent(spark, root)
    val cents = idx.filter(col("kind") === "c")
      .select(col("centroid_id"), col("vec").as("cvec"))
    val cbs = idx.filter(col("kind") === "b")
      .select(col("centroid_id").as("sub"), col("id").as("code"),
        col("vec").as("cvec"))
    val a = added.toDF("id", "vec")
      .select(col("id"), asDouble(col("vec")).as("vec"))
    val newMembers = assignMembers(a, cents)
      .join(ProductQuantizer.packedCodes(a, cbs, dim, m, pqK), "id")
    // incremental commit: existing member files carry over untouched;
    // only the batch is assigned, encoded and written — per-batch work
    // ∝ batch size, the streaming-maintenance contract (q268)
    commitIndexAppend(spark, root, cur,
      newMembers
        .select(lit("m").as("kind"), col("id").cast("long").as("id"),
          col("vec"), col("centroid_id").cast("long").as("centroid_id"),
          col("pq_code"))
        .repartitionByRange(col("centroid_id"))
        .sortWithinPartitions("centroid_id"),
      commitMillis)
    cur + 1L
  }

  /** Re-rank pool size for a cell-scoped ADC probe. MEASURED rule
    * (round-12 decade, ProbeAnnRecall ivfpq, cos≈0.35 arm): the pool
    * must track CORPUS density (n/40, [[ProductQuantizer.rFor]]'s
    * fraction), not the scanned-pool fraction — ADC distortion is an
    * absolute property of the codes, so the depth needed to cover its
    * ranking error grows with n regardless of how many cells were
    * scanned (the scanned-pool form measured 0.287/0.331 at 5×/25×
    * where this rule measures 0.811/0.891 with 128-entry codebooks).
    * Floor 200, not 50: at the small end the corpus fraction
    * undershoots the ADC error band (r=50 → 0.657 at 1×; r=200 →
    * 0.835 against a 0.854 cell ceiling) and 200 exact cosines per
    * query is noise at any scale. Capped at the scoped pool — ADC
    * never scored anything beyond it — except at tiny scales, where
    * the 50-row floor deliberately WINS over the pool cap (the outer
    * max applies last): a heap larger than the pool just keeps
    * everything, so the floor is harmless there and keeps the formula
    * monotone in n. */
  def rForCells(n: Long, cells: Int, nprobe: Int): Int = {
    val pool = n * nprobe / math.max(1, cells).toLong
    math.max(50L, math.min(math.max(200L, n / 40L), pool)).toInt
  }

  /** Probe the published IVFPQ index: current version or as-of. */
  def queryPq(spark: SparkSession, root: String, queries: DataFrame, k: Int,
      dim: Int, m: Int = 8, nprobe: Int = 2, r: Int = 50, pqK: Int = 16,
      asOfMillis: Option[Long] = None): DataFrame = {
    val idx = asOfMillis match {
      case Some(ts) => Snapshot.readAsOf(spark, root, ts)
      case None => Snapshot.readCurrent(spark, root)
    }
    queryPqFrame(idx, queries, k, dim, m, nprobe, r, pqK)
  }

  /** One micro-batch of STREAMING semantic dedup against the frozen
    * quantizer — the online-serving twin of the batch
    * [[Similarity.semanticDedupIvf]]: an incoming vector is DROPPED
    * when some already-accepted vector in its (top-1, frozen) cell — or
    * a SMALLER-ID vector of the same batch in the same cell — is
    * θ-close; otherwise it is KEPT and joins the accepted set for
    * every later batch. The within-batch half is deliberately the
    * RELATIONAL rule (θ-close to any smaller-id batch peer, whether or
    * not that peer itself survived), not the sequential greedy chain:
    * it is order-deterministic, one equi-join, and exactly replayable
    * by the oracle — at the cost of occasionally dropping both ends of
    * a within-batch pair chain (conservative: never keeps a duplicate).
    *
    * Scale shape per batch: |batch|·cells broadcast assignment, then
    * ONE cell-bucketed equi-join against the accepted members of the
    * batch's own cells — the accepted store is never scanned outside
    * the touched cells when its layout clusters by cell (the
    * [[indexFrame]] write order), and no exchange carries an embedding
    * beyond the bucket join itself (scored scalars only afterwards).
    *
    * `centroids` is the frozen (centroid_id, cvec) half of the index;
    * `accepted` is (id, vec, centroid_id) — index members plus every
    * previously kept streaming vector; `batch` is (id, vec). Returns
    * (id, centroid_id, vec, status kept|dropped, matched_id = the
    * smallest θ-matching id, null when kept) — the caller appends the
    * kept rows to the accepted store and emits the decisions. */
  /** PQ twin of [[dedupBatch]] — the streaming dedup decision where
    * the accepted state IS the persisted IVFPQ index (q268): the batch
    * assigns to its frozen top-1 cell, the ACCEPTED side is ranked by
    * ADC from packed codes alone ([[queryPqFrame]], nprobe = 1, pool
    * `r`), and only the r survivors' full vectors are fetched for the
    * exact θ-test — so however large the accepted set grows, its
    * per-member cost on the scoring path stays ~8 bytes (the 100 TB
    * serving story q194's full-vector cell probe does not have; kept
    * vectors re-enter the index through [[appendPq]], codes composed
    * against the frozen codebooks). Within-batch peers compare exactly
    * — the micro-batch carries its own vectors. Decision contract
    * matches [[dedupBatch]]: dropped iff a θ-close accepted candidate
    * exists in the ADC top-r (an ADC miss past r keeps a dup — the
    * documented approximate trade the r sizing bounds) or a smaller-id
    * θ-close same-cell batch peer; matched_id = the smallest such id.
    * Returns (id, centroid_id, vec, status, matched_id). */
  def dedupBatchPq(idx: DataFrame, batch: DataFrame, theta: Double,
      dim: Int, m: Int = 8, pqK: Int = 16, r: Int = 50): DataFrame = {
    val (cents, _) = split(idx)
    val b = batch.toDF("id", "vec")
      .select(col("id"), asDouble(col("vec")).as("vec"))
    val asg = assignMembers(b, cents)
    val cand = queryPqFrame(idx, b, k = r, dim = dim, m = m, nprobe = 1,
      r = r, pqK = pqK)
    val fromAccepted = cand.filter(col("cosine") >= theta)
      .select(col("query_id").as("id"), col("neighbor_id").as("mid"))
    val peers = asg.select(col("id").as("mid"), col("vec").as("mvec"),
      col("centroid_id"))
    val fromBatch = asg.join(broadcast(peers), "centroid_id")
      .filter(col("mid") < col("id") &&
        Similarity.cosine(col("vec"), col("mvec")) >= theta)
      .select(col("id"), col("mid"))
    val matches = fromAccepted.unionByName(fromBatch)
      .groupBy("id").agg(min(col("mid")).as("matched_id"))
    asg.join(broadcast(matches), Seq("id"), "left")
      .select(col("id"), col("centroid_id"), col("vec"),
        when(col("matched_id").isNull, lit("kept"))
          .otherwise(lit("dropped")).as("status"),
        col("matched_id"))
  }

  def dedupBatch(centroids: DataFrame, accepted: DataFrame, batch: DataFrame,
      theta: Double): DataFrame = {
    val asg = assignMembers(batch, centroids)
    val acc = accepted.toDF("mid", "mvec", "centroid_id")
      .select(col("mid"), asDouble(col("mvec")).as("mvec"), col("centroid_id"))
    // the batch is the micro-batch-sized side; broadcast it so the
    // accepted store (index members + everything kept so far — the
    // side that grows without bound) is never shuffled
    val fromAccepted = broadcast(asg).join(acc, "centroid_id")
      .filter(Similarity.cosine(col("vec"), col("mvec")) >= theta)
      .select(col("id"), col("mid"))
    val peers = asg.select(col("id").as("mid"), col("vec").as("mvec"),
      col("centroid_id"))
    val fromBatch = asg.join(broadcast(peers), "centroid_id")
      .filter(col("mid") < col("id") &&
        Similarity.cosine(col("vec"), col("mvec")) >= theta)
      .select(col("id"), col("mid"))
    val matches = fromAccepted.unionByName(fromBatch)
      .groupBy("id").agg(min(col("mid")).as("matched_id"))
    // matches is ≤ |batch| rows — broadcast so the decision join never
    // re-shuffles the batch either
    asg.join(broadcast(matches), Seq("id"), "left")
      .select(col("id"), col("centroid_id"), col("vec"),
        when(col("matched_id").isNull, lit("kept"))
          .otherwise(lit("dropped")).as("status"),
        col("matched_id"))
  }
}
