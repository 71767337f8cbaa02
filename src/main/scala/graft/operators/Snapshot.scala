package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

/** Snapshot-commit protocol for the versioned statement/entity store —
  * the manifest-swap pattern (Iceberg/Delta's core idea) tying the
  * layout family together: data files are IMMUTABLE once written, a
  * MANIFEST lists the files (with their zone-map stats) that make up a
  * version, and a single tiny pointer names the current manifest.
  * Commit = write new files + write new manifest + atomically swap the
  * pointer; concurrent readers that resolved the old pointer keep
  * reading the old files, which no commit ever mutates or deletes
  * (removal is a separate, retention-gated [[vacuumPlan]]).
  *
  * The reference publishes a finished crawl by copying the version
  * directory over `latest` and rewriting it in place
  * (zavod/zavod/publish.py:63-94, archive/backend.py's versioned
  * paths) — a reader racing that copy can see a half-published mix.
  * Here `latest` is never a directory copy: it is a one-line pointer
  * swap, so publish is all-or-nothing at any table size (the 100 TB
  * point: publish cost is O(manifest), not O(data)).
  *
  * Split by concern:
  *  - MANIFEST ARITHMETIC (append / compaction / diff) is pure
  *    DataFrame algebra over (version, file_id, n_rows, min/max key)
  *    rows — oracle-checkable (q182) and engine-portable;
  *  - the FS PROTOCOL (pointer swap atomicity, reader isolation,
  *    vacuum safety) is exercised by SnapshotSpec against a real
  *    Hadoop FileSystem.
  */
object Snapshot {

  // ---------------------------------------------------------------
  // Manifest arithmetic (relational, oracle-gated)

  /** Dense 0-based ranks over a file-id frame WITHOUT a global
    * single-partition window: per-(file_id mod 64) row_number plus a
    * 64-row offset frame — the [[Layout.compactionPlan]] two-phase
    * discipline, so the house rule ("the only globally-ordered window
    * is a tiny bucket frame") holds in the mutation family too. The
    * frames here (merge touch set, delete boundary set, DV-hot set)
    * are manifest-sized by construction, but a degenerate input (every
    * file touched on a 100M-file manifest) must not single-partition —
    * this keeps the rank assignment parallel at any frame size.
    *
    * Rank ORDER is partition-major — (file_id mod 64, file_id), not
    * global file_id order. Any deterministic order serves: ranks only
    * mint fresh UNIQUE ids past the manifest max. Oracles replay it as
    * `ROW_NUMBER() OVER (ORDER BY file_id % 64, file_id) - 1`
    * (equal to the plain file_id order while ids stay distinct
    * mod 64, as every fixture's do — same note as commitCompact's). */
  private def freshRanks(ids: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // materialize the id frame ONCE: it is manifest-sized, but its
    // lineage is typically a join/aggregate over the data (the touch
    // set, the boundary set, the DV-hot set) — without this, the
    // two-phase shape evaluates that upstream subtree twice (in-bucket
    // ranks + bucket offsets), which measured a 1.55× wall on the
    // mutation-heavy q208 composition against the old one-pass window.
    // EAGER on purpose — round-14 A/B'd both cheaper-looking variants
    // against it (same session, q01 as the ambient reference) and both
    // lost: a lazy columnar persist keeps single evaluation but NOT
    // the lineage cut, so merge-CHAIN plans (q208: merge feeding
    // merge) grow across iterations (+50% on the chain);
    // localCheckpoint(eager = false) measured worse still (~2× on the
    // whole family — the first-job checkpoint capture replans under
    // AQE instead of reusing blocks). The ~0.3 s/call eager constant
    // at fixture scale is the price of the chain win and shrinks
    // relative to real work at scale.
    val part = ids.withColumn("_p", pmod(col("file_id"), lit(64L)))
      .localCheckpoint()
    val offsets = part.groupBy("_p").agg(count(lit(1)).as("_c"))
      .withColumn("_off", coalesce(sum(col("_c")).over(
        Window.orderBy(col("_p"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_p"), col("_off"))
    part.join(broadcast(offsets), "_p")
      .withColumn("_rk", col("_off") +
        row_number().over(Window.partitionBy(col("_p"))
          .orderBy(col("file_id"))).cast("long") - 1L)
      .select(col("file_id"), col("_rk"))
  }

  /** Manifest entries for a batch of rows about to become `version`'s
    * NEW files: rows are assigned to `files` buckets by a portable hash
    * of the id (the write-side layout), and each file's entry carries
    * its zone-map stats — (version, file_id, n_rows, min_key, max_key).
    * One partial-aggregated groupBy; output is manifest-sized. */
  def manifestEntries(df: DataFrame, id: Column, key: Column,
      files: Int, version: Long): DataFrame = {
    require(files >= 1, s"files: $files")
    manifestEntriesBy(df,
      pmod(Dedup.hash60(id.cast("string")), lit(files.toLong)), key, version)
  }

  /** Manifest entries with an EXPLICIT file-assignment expression.
    * Hash assignment ([[manifestEntries]]) balances file sizes but
    * every envelope spans the key domain — zone-map pruning never
    * fires; a clustered assignment (`key div width`, the
    * [[Layout.clusteredWrite]] layout) gives tight disjoint envelopes
    * that a range query prunes to O(1) files (q183). */
  def manifestEntriesBy(df: DataFrame, fileId: Column, key: Column,
      version: Long): DataFrame =
    df.select(fileId.as("file_id"), key.as("_k"))
      .groupBy("file_id")
      .agg(count(lit(1)).as("n_rows"), min(col("_k")).as("min_key"),
        max(col("_k")).as("max_key"))
      .select(lit(version).as("version"), col("file_id"), col("n_rows"),
        col("min_key"), col("max_key"))

  /** Append commit: the new version's manifest = every live entry of
    * the previous manifest + the added entries, with added file ids
    * offset past the previous maximum so ids never collide (file ids
    * are table-unique, monotone across commits — the property vacuum
    * and diff rely on). Broadcast of a 1-row max; no shuffle beyond
    * the added side's aggregation. */
  def commitAppend(prev: DataFrame, added: DataFrame, version: Long): DataFrame = {
    val base = broadcast(prev.agg(
      coalesce(max(col("file_id")) + 1L, lit(0L)).as("_base")))
    prev.select(lit(version).as("version"), col("file_id"), col("n_rows"),
        col("min_key"), col("max_key"))
      .unionByName(added.crossJoin(base)
        .select(lit(version).as("version"),
          (col("file_id") + col("_base")).as("file_id"), col("n_rows"),
          col("min_key"), col("max_key")))
  }

  /** Compaction commit: files smaller than `smallRows` are packed into
    * replacement files of ≈`targetRows` by the same two-phase prefix
    * sum as [[Layout.compactionPlan]] (no global window); full-size
    * files carry over untouched. Replacement ids start past the
    * previous max. Returns the NEW manifest: every output row is
    * either a carried-over entry or a packed group of small ones
    * (n_rows summed, key envelope unioned — exactly how a real
    * compaction's zone map comes out). */
  def commitCompact(prev: DataFrame, smallRows: Long, targetRows: Long,
      version: Long): DataFrame = {
    require(smallRows <= targetRows, "smallRows must be <= targetRows")
    val keep = prev.where(col("n_rows") >= smallRows)
    val small = prev.where(col("n_rows") < smallRows)
    val base = broadcast(prev.agg(
      coalesce(max(col("file_id")) + 1L, lit(0L)).as("_base")))
    // pack in (file_id mod 64, file_id) order: running row total div
    // target = group. Two-phase prefix sum (per-partition total +
    // ordered partial) — the Packing.twoPhaseRunning shape, inlined
    // here; the two-phase form is what still holds on a 100M-file
    // manifest. The pack order is partition-major, NOT global file_id
    // order once ids exceed 64 — any deterministic order packs
    // equally well, and the q182 oracle's plain-window replay is
    // exactly equivalent while all small ids are distinct mod 64.
    val part = small.withColumn("_p", pmod(col("file_id"), lit(64L)))
    val partTotals = part.groupBy("_p").agg(sum(col("n_rows")).as("_pt"))
    val partOffsets = partTotals
      .withColumn("_off", coalesce(sum(col("_pt")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("_p"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("_p"), col("_off"))
    val wp = org.apache.spark.sql.expressions.Window.partitionBy(col("_p"))
      .orderBy(col("file_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val grouped = part.join(broadcast(partOffsets), "_p")
      .withColumn("_start", col("_off") + coalesce(sum(col("n_rows")).over(wp), lit(0L)))
      .withColumn("_grp", expr(s"_start div $targetRows"))
      .groupBy("_grp")
      .agg(sum(col("n_rows")).as("n_rows"), min(col("min_key")).as("min_key"),
        max(col("max_key")).as("max_key"))
    keep.select(lit(version).as("version"), col("file_id"), col("n_rows"),
        col("min_key"), col("max_key"))
      .unionByName(grouped.crossJoin(base)
        .select(lit(version).as("version"),
          (col("_grp") + col("_base")).as("file_id"), col("n_rows"),
          col("min_key"), col("max_key")))
  }

  /** Compaction with the ROWS rewritten alongside the manifest — the
    * physical form of [[commitCompact]], for stores whose rows carry
    * their `file_id` (posting stores, the mergeCow row model). Small
    * files pack by [[Layout.compactionPlan]]'s two-phase prefix sum
    * (single-`source` frame ordered by file_id — manifest-sized, never
    * a data window); the frag→group mapping broadcasts back over the
    * data so ONLY the packed files' rows are rewritten (new file_id),
    * kept files' rows carry through untouched. Manifest entries for
    * packed groups re-aggregate from the REMAPPED rows, so
    * manifest/rows consistency is by construction, not by parallel
    * arithmetic. `key` is the zone-map column of `rows`.
    *
    * Inconsistent inputs do NOT lose rows: a row whose file_id the
    * manifest doesn't cover is not in the pack mapping, so it carries
    * through UNTOUCHED (the non-packed branch is an anti-join on the
    * mapping, not a semi-join on the kept manifest) and — not being a
    * kept entry — gets a fresh manifest entry re-aggregated from its
    * rows, healing the manifest/rows drift instead of silently
    * dropping data (round-12 advisory).
    * Returns (manifest', rows'). */
  def compactFiles(rows: DataFrame, manifest: DataFrame, key: Column,
      smallRows: Long, targetRows: Long, version: Long): (DataFrame, DataFrame) = {
    require(smallRows <= targetRows, "smallRows must be <= targetRows")
    val keep = manifest.where(col("n_rows") >= smallRows)
    val small = manifest.where(col("n_rows") < smallRows)
    val base = broadcast(manifest.agg(
      coalesce(max(col("file_id")) + 1L, lit(0L)).as("_base")))
    val mapping = Layout.compactionPlan(
        small.select(lit("f").as("source"), col("file_id").as("frag_idx"),
          col("n_rows").as("bytes")), targetRows)
      .select(col("frag_idx").as("file_id"), col("out_group"))
    val rows2 = rows.join(broadcast(mapping.select("file_id")), Seq("file_id"),
        "left_anti")
      .unionByName(rows
        .join(broadcast(mapping), Seq("file_id"))
        .crossJoin(base)
        .select((col("_base") + col("out_group")).as("file_id") +:
          rows.columns.filterNot(_ == "file_id").map(col): _*)
        .select(rows.columns.map(col): _*))
    val packedEntries = rows2
      .join(broadcast(keep.select("file_id")), Seq("file_id"), "left_anti")
      .select(col("file_id"), key.as("_k"))
      .groupBy("file_id")
      .agg(count(lit(1)).as("n_rows"), min(col("_k")).as("min_key"),
        max(col("_k")).as("max_key"))
    val manifest2 = keep
      .select(lit(version).as("version"), col("file_id"), col("n_rows"),
        col("min_key"), col("max_key"))
      .unionByName(packedEntries.select(lit(version).as("version"),
        col("file_id"), col("n_rows"), col("min_key"), col("max_key")))
    (manifest2, rows2)
  }

  /** Copy-on-write MERGE commit — the Delta/Iceberg `MERGE INTO`
    * write shape, the one mutation the append/compact family can't
    * express. `source` carries keyed ops ('U' upsert: update matched /
    * insert unmatched; 'D' delete matched; keys must be unique, as in
    * Delta's multiple-match error), `target` the current rows tagged
    * with their file, `prevManifest` the live manifest.
    *
    * COW contract: ONLY files containing a matched source key are
    * rewritten. The touch set is one semi-join + distinct — a
    * manifest-sized frame broadcast back into every downstream join —
    * and every untouched manifest entry carries forward id-stable with
    * NO data rescan, so a point update on a 100 TB table costs one
    * file rewrite, not a table rewrite (and on a clustered layout the
    * touch set is as tight as the source's key locality, q196).
    * Rewritten and insert files take fresh monotone ids past the
    * previous max — the table-unique-id invariant [[vacuumPlan]] and
    * [[snapshotDiff]] rely on; inserts hash-pack into `insertFiles`
    * new files. Fresh ids come from [[freshRanks]]'s two-phase prefix
    * sum — no unpartitioned window anywhere in the mutation family,
    * even on a degenerate all-files-touched input.
    *
    * Returns (manifest', rows', changes):
    *  - manifest' — (version, file_id, n_rows, min_key, max_key,
    *    action ∈ carried|rewritten|added);
    *  - rows' — complete post-merge rows (file_id, key, value);
    *  - changes — the writer-side change feed (key, change_type ∈
    *    insert|update|delete, value_before, value_after), emitted from
    *    the same join that built the rewrite, so it costs nothing
    *    extra. Updates that leave the value unchanged are suppressed
    *    (reader-parity semantics: the reader-side version diff — q197
    *    — must agree row-for-row, the cross-check SnapshotSpec
    *    asserts; Delta's CDF would emit them).
    *
    * Reference analog: the resolver DB load is first-wins append
    * (zavod/zavod/integration/dedupe.py — no in-place update shape
    * exists there); merge is what a mutable-entity deployment of the
    * same versioned store needs. */
  def mergeCow(target: DataFrame, source: DataFrame,
      prevManifest: DataFrame, valCol: String, version: Long,
      insertFiles: Int): (DataFrame, DataFrame, DataFrame) = {
    require(insertFiles >= 1, s"insertFiles: $insertFiles")
    val vType = target.schema(valCol).dataType
    val nullV = lit(null).cast(vType)
    val srcK = source.select(col("key"), col("op"), col(valCol).as("_sv"))

    // the COW touch set: files holding at least one matched key
    val touched = target.join(srcK.select("key").distinct(), Seq("key"), "left_semi")
      .select("file_id").distinct()
    val touchedRk = freshRanks(touched)
    val nTouched = broadcast(touched.agg(count(lit(1)).as("_nt")))
    val base = broadcast(prevManifest.agg(
      coalesce(max(col("file_id")) + 1L, lit(0L)).as("_base")))

    val carried = prevManifest.join(broadcast(touched), Seq("file_id"), "left_anti")
      .select(lit(version).as("version"), col("file_id"), col("n_rows"),
        col("min_key"), col("max_key"), lit("carried").as("action"))

    // rewrite: only the touched files' rows ride the ops join
    val tt = target.join(broadcast(touchedRk), Seq("file_id"))
      .join(srcK, Seq("key"), "left")
    val survivors = tt.filter(col("op").isNull || col("op") === "U")
      .crossJoin(base)
      .select((col("_base") + col("_rk")).as("file_id"), col("key"),
        when(col("op") === "U", col("_sv")).otherwise(col(valCol)).as(valCol))
    val rewritten = survivors.groupBy("file_id")
      .agg(count(lit(1)).as("n_rows"), min("key").as("min_key"),
        max("key").as("max_key"))
      .select(lit(version).as("version"), col("file_id"), col("n_rows"),
        col("min_key"), col("max_key"), lit("rewritten").as("action"))

    // inserts: unmatched upserts, hash-packed into fresh files
    val ins = srcK.filter(col("op") === "U")
      .join(target.select("key"), Seq("key"), "left_anti")
      .crossJoin(base).crossJoin(nTouched)
      .select((col("_base") + col("_nt") +
          pmod(Dedup.hash60(col("key").cast("string")), lit(insertFiles.toLong)))
        .as("file_id"), col("key"), col("_sv").as(valCol))
    val added = ins.groupBy("file_id")
      .agg(count(lit(1)).as("n_rows"), min("key").as("min_key"),
        max("key").as("max_key"))
      .select(lit(version).as("version"), col("file_id"), col("n_rows"),
        col("min_key"), col("max_key"), lit("added").as("action"))

    val manifest2 = carried.unionByName(rewritten).unionByName(added)
    val rows2 = target.join(broadcast(touched), Seq("file_id"), "left_anti")
      .select(col("file_id"), col("key"), col(valCol))
      .unionByName(survivors).unionByName(ins)
    val changes = tt.filter(col("op") === "D")
        .select(col("key"), lit("delete").as("change_type"),
          col(valCol).as("value_before"), nullV.as("value_after"))
      .unionByName(tt.filter(col("op") === "U" && !(col("_sv") <=> col(valCol)))
        .select(col("key"), lit("update").as("change_type"),
          col(valCol).as("value_before"), col("_sv").as("value_after")))
      .unionByName(ins.select(col("key"), lit("insert").as("change_type"),
        nullV.as("value_before"), col(valCol).as("value_after")))
    (manifest2, rows2, changes)
  }

  /** Range delete with METADATA-ONLY file drops — the shape that makes
    * a retention/GDPR sweep on a clustered 100 TB table cheap. Files
    * are classified by their manifest envelope against [lo, hi]:
    *
    *  - envelope disjoint from the range → `carried` (id-stable, no
    *    data touched);
    *  - envelope CONTAINED in the range → `dropped` — removed from the
    *    live manifest WITHOUT READING A BYTE (Iceberg's metadata
    *    delete; on a key-clustered layout this is almost every
    *    affected file);
    *  - envelope straddling a boundary → `rewritten`: only these
    *    files' rows ride a filter, landing under fresh monotone ids.
    *
    * Returns (audit, rows'): `audit` carries EVERY classification
    * (version, file_id, n_rows, min_key, max_key, action ∈
    * carried|dropped|rewritten) — the live v-manifest is
    * `action != 'dropped'`; dropped entries keep their ORIGINAL stats
    * as the deletion record (a change feed for dropped files would
    * have to read them — the one thing this operator exists to avoid;
    * Delta's CDF makes the same trade and calls it out). `rows'`
    * excludes dropped files by an anti-join on file_id, so their
    * parquet is pruned, not scanned. */
  def deleteRange(target: DataFrame, prevManifest: DataFrame,
      valCol: String, lo: Long, hi: Long, version: Long): (DataFrame, DataFrame) = {
    val carried = prevManifest
      .filter(col("max_key") < lo || col("min_key") > hi)
      .select(lit(version).as("version"), col("file_id"), col("n_rows"),
        col("min_key"), col("max_key"), lit("carried").as("action"))
    val dropped = prevManifest
      .filter(col("min_key") >= lo && col("max_key") <= hi)
      .select(lit(version).as("version"), col("file_id"), col("n_rows"),
        col("min_key"), col("max_key"), lit("dropped").as("action"))
    val boundary = prevManifest
      .filter(col("min_key") < lo && col("max_key") >= lo ||
        col("min_key") <= hi && col("max_key") > hi)
      .select("file_id")
    val boundaryRk = freshRanks(boundary)
    val base = broadcast(prevManifest.agg(
      coalesce(max(col("file_id")) + 1L, lit(0L)).as("_base")))
    val surv = target.join(broadcast(boundaryRk), Seq("file_id"))
      .filter(col("key") < lo || col("key") > hi)
      .crossJoin(base)
      .select((col("_base") + col("_rk")).as("file_id"), col("key"), col(valCol))
    val rewritten = surv.groupBy("file_id")
      .agg(count(lit(1)).as("n_rows"), min("key").as("min_key"),
        max("key").as("max_key"))
      .select(lit(version).as("version"), col("file_id"), col("n_rows"),
        col("min_key"), col("max_key"), lit("rewritten").as("action"))
    val audit = carried.unionByName(dropped).unionByName(rewritten)
    val touched = boundary.unionByName(dropped.select("file_id"))
    val rows2 = target.join(broadcast(touched), Seq("file_id"), "left_anti")
      .select(col("file_id"), col("key"), col(valCol))
      .unionByName(surv)
    (audit, rows2)
  }

  /** MERGE-ON-READ delete — the other half of the delete family
    * ([[deleteRange]] drops/rewrites files eagerly; this writes a
    * DELETION VECTOR instead, Iceberg-v2-position-delete /
    * Delta-DV-style at the engine's (file_id, key) granularity):
    * matched rows are recorded as (file_id, key) tombstones and the
    * data files are NOT touched, so the delete's write cost is
    * O(matched keys) regardless of file sizes — the shape a constant
    * trickle of small GDPR/erasure deletes on a 100 TB table needs.
    * The read side pays the anti-join until [[compactDv]] materializes
    * hot files. */
  def deleteMor(rows: DataFrame, matchKeys: DataFrame): DataFrame =
    rows.join(matchKeys.select("key").distinct(), Seq("key"), "left_semi")
      .select(col("file_id"), col("key"))

  /** The MOR read path: live rows = data files minus the deletion
    * vector. One (file_id, key) anti-join — the read amplification
    * [[compactDv]] exists to bound. */
  def readWithDv(rows: DataFrame, dv: DataFrame): DataFrame =
    rows.join(dv.select("file_id", "key"), Seq("file_id", "key"), "left_anti")

  /** DV compaction: files whose deleted fraction ≥ `threshold`
    * materialize (their live rows rewritten under fresh monotone file
    * ids, their DV entries dropped); everything else is carried
    * untouched. Returns (rows', dv', audit) where audit =
    * (file_id, n_rows, n_deleted, materialized). Bounds the read-side
    * anti-join to cold files — the maintenance half of the MOR trade,
    * same monotone-id + broadcast-touch-set discipline as
    * [[mergeCow]]. */
  def compactDv(rows: DataFrame, dv: DataFrame,
      threshold: Double): (DataFrame, DataFrame, DataFrame) = {
    val perFile = rows.groupBy("file_id").agg(count(lit(1)).as("n_rows"))
    val delPerFile = dv.groupBy("file_id").agg(count(lit(1)).as("n_deleted"))
    val audit = perFile.join(delPerFile, Seq("file_id"), "left")
      .withColumn("n_deleted", coalesce(col("n_deleted"), lit(0L)))
      .withColumn("materialized",
        col("n_deleted").cast("double") >= lit(threshold) * col("n_rows").cast("double"))
    val hot = audit.filter(col("materialized")).select("file_id")
    val hotRk = freshRanks(hot)
    val base = broadcast(rows.agg(
      coalesce(max(col("file_id")) + 1L, lit(0L)).as("_base")))
    val materialized = readWithDv(rows.join(broadcast(hot), Seq("file_id"), "left_semi"), dv)
      .join(broadcast(hotRk), Seq("file_id"))
      .crossJoin(base)
      .select((col("_base") + col("_rk")).as("file_id") +:
        rows.columns.filterNot(_ == "file_id").map(col): _*)
    val rows2 = rows.join(broadcast(hot), Seq("file_id"), "left_anti")
      .unionByName(materialized.select(rows.columns.map(col): _*))
    val dv2 = dv.join(broadcast(hot), Seq("file_id"), "left_anti")
    (rows2, dv2, audit)
  }

  /** MERGE-ON-READ merge — [[mergeCow]]'s write-cheap twin (Hudi-MOR /
    * Iceberg-v2 shape): matched rows (updates AND deletes) land in the
    * deletion vector, updated values and fresh inserts land in
    * hash-packed APPEND files, and no existing data file is read or
    * rewritten — write cost O(|source|), the high-frequency-upsert
    * regime COW can't serve. The read is [[readWithDv]] over
    * rows ∪ appends; [[compactDv]] bounds the read amplification.
    * Returns (dv, appendedRows) — rows' = rows ∪ appended;
    * read ≡ the COW merge result by construction (q264 gates it). */
  def mergeMor(target: DataFrame, source: DataFrame, valCol: String,
      insertFiles: Int): (DataFrame, DataFrame) = {
    require(insertFiles >= 1, s"insertFiles: $insertFiles")
    val srcK = source.select(col("key"), col("op"), col(valCol).as("_sv"))
    // every matched key's CURRENT row is tombstoned (updates replace,
    // deletes remove)
    val dv = deleteMor(target, srcK.select("key"))
    val base = broadcast(target.agg(
      coalesce(max(col("file_id")) + 1L, lit(0L)).as("_base")))
    // upserts (matched-update + unmatched-insert) append under fresh ids
    val appended = srcK.filter(col("op") === "U")
      .crossJoin(base)
      .select((col("_base") +
          pmod(Dedup.hash60(col("key").cast("string")), lit(insertFiles.toLong)))
        .as("file_id"), col("key"), col("_sv").as(valCol))
    (dv, appended)
  }

  /** COW-vs-MOR merge advisor — the [[JoinAdvisor]] pattern applied to
    * the mutation family: now that the engine owns BOTH merge shapes
    * ([[mergeCow]] rewrites touched files; [[mergeMor]] tombstones +
    * appends), the per-batch call between them is cost arithmetic the
    * planner can run WITHOUT writing anything:
    *
    *  - COW write mass = rows of every touched file that survive
    *    (touched_rows − matched deletes) + inserts — the rewrite;
    *  - MOR write mass = matched keys (tombstones) + upserts
    *    (appended values);
    *  - dv_fraction = matched / target rows — the read-amplification
    *    a MOR choice defers to [[readWithDv]]/[[compactDv]].
    *
    * Recommend MOR when the COW rewrite exceeds `cowFactor` × the MOR
    * write mass (scattered point updates touching many files: COW
    * rewrites whole files to change single rows); otherwise COW (a
    * batch DENSE in its touched files pays little extra to materialize
    * now and keeps every later read clean — STRESS.md's ProbeMorDv
    * sweep measured exactly that read-side rent). `cowFactor` is the
    * deployment's read/write exchange rate; 4 is a batch-analytics
    * default (reads dominate), streaming-upsert deployments set it
    * higher.
    *
    * Cost: one semi-join pass over the target (the same touch-set
    * discovery the merge itself needs — or the q202 manifest-bloom
    * route for a metadata-only estimate) + manifest-sized aggregates;
    * all counts are EXACT, so the q267 gate re-runs both mutation
    * paths and checks the estimates equal the measured write masses.
    * Returns one row: every term above + `recommend` ∈ cow|mor. */
  def adviseMerge(target: DataFrame, source: DataFrame,
      prevManifest: DataFrame, cowFactor: Double = 4.0): DataFrame = {
    val srcK = source.select(col("key"), col("op"))
    val matched = target.join(srcK, Seq("key"))
    val touched = matched.select("file_id").distinct()
    val touchedStats = broadcast(prevManifest
      .join(touched, Seq("file_id"), "left_semi")
      .agg(coalesce(count(lit(1)), lit(0L)).as("files_touched"),
        coalesce(sum(col("n_rows")), lit(0L)).as("touched_rows")))
    val m = broadcast(matched.agg(
      count(lit(1)).as("matched_keys"),
      coalesce(sum(when(col("op") === "D", 1L).otherwise(0L)), lit(0L))
        .as("matched_deletes")))
    val ins = broadcast(srcK.filter(col("op") === "U")
      .join(target.select("key"), Seq("key"), "left_anti")
      .agg(count(lit(1)).as("inserts")))
    val ups = broadcast(srcK.filter(col("op") === "U")
      .agg(count(lit(1)).as("upserts")))
    val nT = broadcast(target.agg(count(lit(1)).as("n_target")))
    nT.crossJoin(m).crossJoin(ins).crossJoin(ups).crossJoin(touchedStats)
      .withColumn("cow_write_rows",
        col("touched_rows") - col("matched_deletes") + col("inserts"))
      .withColumn("mor_write_rows", col("matched_keys") + col("upserts"))
      .withColumn("dv_fraction",
        round(col("matched_keys").cast("double") /
          col("n_target").cast("double"), 6))
      .withColumn("recommend",
        when(col("cow_write_rows").cast("double") >
          lit(cowFactor) * col("mor_write_rows").cast("double"), lit("mor"))
          .otherwise(lit("cow")))
      .select(col("n_target"), col("matched_keys"), col("matched_deletes"),
        col("inserts"), col("upserts"), col("files_touched"),
        col("touched_rows"), col("cow_write_rows"), col("mor_write_rows"),
        col("dv_fraction"), col("recommend"))
  }

  /** [[adviseMerge]]'s METADATA-ONLY sibling: the advisor from the
    * manifest-carried per-file Bloom index ([[Bloom.buildFileBits]],
    * maintained by [[Bloom.maintainFileBits]]) and the manifest's
    * n_rows — the target's DATA is never read to produce the
    * recommendation, which is the only advisor admissible at 100 TB
    * (adviseMerge's exact semi-join is the same pass the merge itself
    * pays; paying it twice to *decide how* to merge defeats the
    * advisor). Bloom soundness (no false negatives) makes every
    * estimate a one-sided BOUND, and the columns say which side:
    *
    *  - `est_files_touched` / `est_touched_rows` ≥ the exact touch
    *    set (candidate files ⊇ touched files);
    *  - `est_matched_keys_max` ≥ matched_keys (a key with no
    *    candidate file is definitely absent);
    *  - `definite_inserts` ≤ inserts ≤ `upserts`;
    *  - `est_cow_write_rows_max` ≥ cow_write_rows and
    *    `est_mor_write_rows_max` ≥ mor_write_rows.
    *
    * `recommend_estimate` compares the two UPPER bounds with the same
    * `cowFactor` rule; the q285 gate runs this beside the exact
    * advisor and checks every bound holds. Cost: |src keys|·k probe
    * rows joined to files × m/32 index words + manifest-sized
    * aggregates — metadata joined to metadata. */
  def adviseMergeFromManifest(source: DataFrame, fileBits: DataFrame,
      prevManifest: DataFrame, m: Int, k: Int, salt: String,
      cowFactor: Double = 4.0): DataFrame = {
    val srcKeys = source.select(col("key")).distinct()
    // swept query-scoped cache, not an unreleasable persist (lazy
    // return): metadata-sized (|src keys|·k probe hits), reused by
    // four branches
    val pairs = QueryScoped.cached(
      Bloom.candidateKeyFiles(srcKeys, col("key"), fileBits, m, k, salt))
    val candFiles = pairs.select("file_id").distinct()
    val tStats = broadcast(prevManifest
      .join(candFiles, Seq("file_id"), "left_semi")
      .agg(coalesce(count(lit(1)), lit(0L)).as("est_files_touched"),
        coalesce(sum(col("n_rows")), lit(0L)).as("est_touched_rows")))
    val present = pairs.select("key").distinct()
    val mk = broadcast(present.agg(count(lit(1)).as("est_matched_keys_max")))
    val sc = broadcast(source.agg(
      coalesce(sum(when(col("op") === "U", 1L).otherwise(0L)), lit(0L))
        .as("upserts"),
      coalesce(sum(when(col("op") === "D", 1L).otherwise(0L)), lit(0L))
        .as("deletes")))
    val di = broadcast(source.filter(col("op") === "U")
      .join(present, Seq("key"), "left_anti")
      .agg(count(lit(1)).as("definite_inserts")))
    tStats.crossJoin(mk).crossJoin(sc).crossJoin(di)
      .withColumn("est_cow_write_rows_max",
        col("est_touched_rows") + col("upserts"))
      .withColumn("est_mor_write_rows_max",
        col("est_matched_keys_max") + col("upserts"))
      .withColumn("recommend_estimate",
        when(col("est_cow_write_rows_max").cast("double") >
          lit(cowFactor) * col("est_mor_write_rows_max").cast("double"),
          lit("mor"))
          .otherwise(lit("cow")))
  }

  /** Schema evolution across snapshot versions — read files written
    * under an OLD schema through the CURRENT one, without rewriting a
    * byte of data (Iceberg's column-mapping rule: identity lives in
    * the mapping, not in the parquet footer):
    *
    *  - `renames`  old-name → current-name (a renamed column keeps its
    *    data; only the manifest-level mapping changes);
    *  - `added`    (name, sqlType) columns that postdate the old
    *    files — backfilled as typed NULL on old rows, never written;
    *  - type WIDENING is implicit: every shared column is cast to the
    *    new frame's type (long ← int, double ← float, decimal
    *    precision growth — the safe directions; narrowing throws in
    *    ANSI mode, which is the correct failure).
    *
    * The reference's statement schema gained columns over crawls
    * (`external`, `last_change` — zavod/zavod/entity.py's statement
    * rows); previous-version scans (S3) read those older files through
    * today's schema exactly this way.
    *
    * Scale shape: pure projection — no shuffle, no data rewrite; the
    * cost of evolving a 100 TB table is one manifest commit. */
  def readEvolved(oldFiles: DataFrame, newFiles: DataFrame,
      renames: Map[String, String] = Map.empty,
      added: Seq[(String, String)] = Seq.empty): DataFrame = {
    val renamed = renames.foldLeft(oldFiles) {
      case (df, (o, n)) => df.withColumnRenamed(o, n)
    }
    val backfilled = added.foldLeft(renamed) { case (df, (n, t)) =>
      require(!df.columns.contains(n),
        s"added column '$n' already exists in the old schema")
      df.withColumn(n, lit(null).cast(t))
    }
    val widened = newFiles.schema.fields.foldLeft(backfilled) { (df, f) =>
      if (df.schema.fieldNames.contains(f.name) &&
        df.schema(f.name).dataType != f.dataType)
        df.withColumn(f.name, col(f.name).cast(f.dataType))
      else df
    }
    widened.select(newFiles.columns.map(col).toIndexedSeq: _*)
      .unionByName(newFiles)
  }

  /** Snapshot diff between two manifests: per version-pair file/row
    * adds and removes — the audit row a lakehouse table history shows.
    * A full outer join on file_id (file ids are table-unique and
    * immutable, so identity is the id, not the stats). */
  def snapshotDiff(a: DataFrame, b: DataFrame): DataFrame = {
    val l = a.select(col("file_id"), col("n_rows").as("_ra"))
    val r = b.select(col("file_id"), col("n_rows").as("_rb"))
    l.join(r, Seq("file_id"), "full_outer")
      .agg(
        count(when(col("_ra").isNull, 1)).as("files_added"),
        count(when(col("_rb").isNull, 1)).as("files_removed"),
        coalesce(sum(when(col("_ra").isNull, col("_rb"))), lit(0L)).as("rows_added"),
        coalesce(sum(when(col("_rb").isNull, col("_ra"))), lit(0L)).as("rows_removed"))
  }

  /** Three-way key-level merge of two DIVERGED snapshots against their
    * common fork base — what [[publishBranch]]'s rebase rule punts to
    * the caller, made an operator. Nessie/Iceberg-style branch merge
    * semantics at row granularity: a side "changed" a key when its
    * (presence, value) differs from base; an unchanged side always
    * yields to a changed one; two sides that changed a key to the SAME
    * outcome agree; two sides that changed it to different outcomes
    * CONFLICT (surfaced as rows, never silently resolved — the
    * reference's resolver has the same both-edited-pick-neither rule
    * for contested merges).
    *
    * Output: one row per key present in any of the three states —
    * (key, action, present, merged) with action ∈ {base, ours, theirs,
    * both, conflict}; `present=false` rows are deletions (merged NULL)
    * or conflicts. Callers commit `present` rows as the merged
    * snapshot iff no conflict rows exist.
    *
    * Scale shape: two full-outer hash equi-joins on the key — the
    * same co-partitioned single-key shuffle family as [[mergeCow]];
    * nothing pairwise, nothing driver-side, value payloads ride the
    * join untouched. Bucketed-by-key table layouts make all three
    * sides Exchange-free. */
  def threeWayMerge(base: DataFrame, ours: DataFrame, theirs: DataFrame,
      keyCol: String, valCol: String): DataFrame = {
    def side(df: DataFrame, tag: String) =
      df.select(col(keyCol).as("k"), col(valCol).as(s"v_$tag"),
        lit(true).as(s"in_$tag"))
    val j = side(base, "b")
      .join(side(ours, "o"), Seq("k"), "full_outer")
      .join(side(theirs, "t"), Seq("k"), "full_outer")
      .select(col("k"),
        coalesce(col("in_b"), lit(false)).as("in_b"),
        coalesce(col("in_o"), lit(false)).as("in_o"),
        coalesce(col("in_t"), lit(false)).as("in_t"),
        col("v_b"), col("v_o"), col("v_t"))
    // a side changed the key iff its (presence, value) differs from base
    val chO = col("in_o") =!= col("in_b") || !(col("v_o") <=> col("v_b"))
    val chT = col("in_t") =!= col("in_b") || !(col("v_t") <=> col("v_b"))
    val sameOutcome = col("in_o") === col("in_t") && (col("v_o") <=> col("v_t"))
    j.select(col("k").as(keyCol),
        when(!chO && !chT, lit("base"))
          .when(chO && !chT, lit("ours"))
          .when(chT && !chO, lit("theirs"))
          .when(sameOutcome, lit("both"))
          .otherwise(lit("conflict")).as("action"),
        when(!chO && !chT, col("in_b"))
          .when(chO && !chT, col("in_o"))
          .when(chT && !chO, col("in_t"))
          .when(sameOutcome, col("in_o"))
          .otherwise(lit(false)).as("present"),
        when(chO && !chT, col("v_o"))
          .when(chT && !chO, col("v_t"))
          .when(chO && chT && sameOutcome, col("v_o"))
          .when(!chO && !chT, col("v_b"))
          .as(valCol))
      .withColumn(valCol, when(col("present"), col(valCol)))
  }

  // ---------------------------------------------------------------
  // Filesystem protocol (spec-gated; works on any Hadoop FS scheme)

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Commit `df` as version `version`: data parquet under
    * `root/data/v<version>/`, manifest (the file list as parquet)
    * under `root/manifest/v<version>/`, a one-line commit-time record
    * under `root/meta/v<version>` (what [[resolveVersionAsOf]] reads),
    * then the CURRENT pointer swapped via write-temp + atomic rename.
    * Existing data/manifest directories of other versions are never
    * touched. `commitMillis` defaults to the wall clock; tests and
    * replayable pipelines pass an explicit timestamp. */
  def commit(spark: SparkSession, root: String, version: Long,
      df: DataFrame, manifest: DataFrame,
      commitMillis: Long = System.currentTimeMillis()): Unit = {
    df.write.mode(SaveMode.ErrorIfExists).parquet(s"$root/data/v$version")
    manifest.write.mode(SaveMode.ErrorIfExists).parquet(s"$root/manifest/v$version")
    val f = fs(spark, new Path(root))
    f.mkdirs(new Path(s"$root/meta"))
    val meta = f.create(new Path(s"$root/meta/v$version"), true)
    meta.write(commitMillis.toString.getBytes("UTF-8"))
    meta.close()
    val tmp = new Path(s"$root/_CURRENT.tmp$version")
    val cur = new Path(s"$root/_CURRENT")
    // The swap must REPLACE atomically: a delete-then-rename leaves a
    // window with no _CURRENT at all, and a concurrent reader's
    // currentVersion dies with FileNotFoundException (caught live by
    // SnapshotSpec's thread-stress). Scheme-dependent like
    // claimVersion: local fs gets POSIX rename(2) via NIO ATOMIC_MOVE
    // + REPLACE_EXISTING (the kernel swaps the directory entry in
    // place — readers see old or new, never absent; the temp is
    // NIO-written too, so no checksum sidecar is left orphaned); every
    // other scheme tries FileContext.rename(OVERWRITE) first (on HDFS
    // this is a namenode-atomic replace — same no-absent-window
    // guarantee), and only a filesystem with no AbstractFileSystem
    // binding falls back to delete+rename with its tiny gap — object
    // stores need their conditional-put committer regardless.
    pointerSwap(f, tmp, cur, version)
  }

  /** Incremental APPEND commit (round-17, VERDICT r16 #7): version
    * `version`'s data directory REUSES `prevVersion`'s immutable data
    * files and adds only `added`'s rows as new files — per-commit Spark
    * work is O(batch), never O(table). [[commit]] rewrites the full
    * frame per version, which turned every streaming index append
    * (q268: one per micro-batch) into a whole-corpus re-encode + write.
    *
    * File reuse is a hard link per data file on the local filesystem
    * (O(files) driver-side metadata ops — the moral equivalent of a
    * manifest entry pointing at an existing file; version dirs stay
    * immutable and vacuum-safe because unlinking one directory's entry
    * never frees an inode other versions still reference). Non-POSIX
    * schemes fall back to a byte copy with a loud note — a real object
    * -store deployment would use manifest-scoped reads instead, which
    * [[readCurrent]]'s directory contract deliberately keeps out of
    * scope here. Manifest/meta/pointer follow [[commit]] exactly. */
  def commitAppendData(spark: SparkSession, root: String, prevVersion: Long,
      version: Long, added: DataFrame, manifest: DataFrame,
      commitMillis: Long = System.currentTimeMillis()): Unit = {
    val f = fs(spark, new Path(root))
    val prevDir = new Path(s"$root/data/v$prevVersion")
    val newDir = new Path(s"$root/data/v$version")
    if (f.exists(newDir))
      throw new org.apache.hadoop.fs.FileAlreadyExistsException(newDir.toString)
    f.mkdirs(newDir)
    f.listStatus(prevDir).iterator.filter(_.isFile)
      .map(_.getPath).filter { p =>
        val n = p.getName
        n != "_SUCCESS" && !n.startsWith(".") && !n.startsWith("_")
      }
      .foreach { p =>
        val dst = new Path(newDir, p.getName)
        f match {
          case l: org.apache.hadoop.fs.LocalFileSystem =>
            java.nio.file.Files.createLink(
              l.pathToFile(dst).toPath, l.pathToFile(p).toPath)
          case _ =>
            org.apache.hadoop.fs.FileUtil.copy(f, p, f, dst, false,
              spark.sparkContext.hadoopConfiguration)
        }
      }
    added.write.mode(SaveMode.Append).parquet(newDir.toString)
    manifest.write.mode(SaveMode.ErrorIfExists).parquet(s"$root/manifest/v$version")
    f.mkdirs(new Path(s"$root/meta"))
    val meta = f.create(new Path(s"$root/meta/v$version"), true)
    meta.write(commitMillis.toString.getBytes("UTF-8"))
    meta.close()
    pointerSwap(f, new Path(s"$root/_CURRENT.tmp$version"),
      new Path(s"$root/_CURRENT"), version)
  }

  private def pointerSwap(f: org.apache.hadoop.fs.FileSystem,
      tmp: Path, cur: Path, version: Long): Unit =
    pointerSwapText(f, tmp, cur, s"v$version")

  /** A CAS commit lost its race: CURRENT advanced past the version the
    * writer read (its prepared manifest is stale), or another writer
    * holds the claim on the target version. Retryable by construction:
    * re-read CURRENT, re-derive the manifest from it, commit again. */
  final class CommitConflictException(msg: String) extends RuntimeException(msg)

  /** Atomically claim `version` for one writer. The primitive is
    * scheme-dependent, because Hadoop's create(overwrite = false) is
    * only atomic where the underlying store makes it so:
    *
    *  - HDFS: namenode create-exclusive IS atomic — use it directly;
    *  - local fs: Hadoop's LocalFileSystem (ChecksumFileSystem) opens
    *    with an exists() CHECK before the create — a TOCTOU hole under
    *    real thread/process concurrency — so the claim drops to POSIX
    *    O_CREAT|O_EXCL via java.nio `CREATE_NEW`, which the kernel
    *    makes atomic (SnapshotSpec's thread-stress hammers this);
    *  - object stores (S3A): NEITHER call is conditional — a real
    *    deployment there must swap in a conditional-put (If-None-Match)
    *    or DynamoDB-style lock, as Iceberg/Delta do on S3.
    *
    * Only "the marker already exists" reads as a LOST claim; any other
    * I/O failure propagates — masking a broken filesystem as a lost
    * race would send writers into a silent retry loop (round-10
    * advisory). Returns whether THIS caller won. */
  def claimVersion(spark: SparkSession, root: String, version: Long): Boolean =
    claimMarker(spark, root, s"v$version")

  /** Default publish-claim lease: far above any real check-and-swap
    * window (milliseconds), far below "wedged until an operator
    * notices". */
  val PublishLeaseMillis: Long = 15L * 60L * 1000L

  /** [[claimVersion]] with the stale-claim lease — for maintenance
    * paths that must make progress past a crashed writer's orphaned
    * version claim. The takeover window must exceed the longest
    * legitimate data write for that version, which is why the COMMIT
    * path keeps the no-lease form (a slow writer is not a dead one;
    * its claimed number must stay its own). */
  def claimVersionWithLease(spark: SparkSession, root: String, version: Long,
      leaseMillis: Long,
      nowMillis: Long = System.currentTimeMillis()): Boolean =
    claimMarkerWithLease(spark, root, s"v$version", leaseMillis, nowMillis)

  /** The exclusive-create primitive behind [[claimVersion]] and
    * [[publishBranch]]'s sibling-publish CAS, for an arbitrary marker
    * name under `root/claim/`. Same scheme-dependent atomicity story
    * as the claimVersion scaladoc. */
  private def claimMarker(spark: SparkSession, root: String,
      name: String): Boolean = {
    val f = fs(spark, new Path(root))
    f.mkdirs(new Path(s"$root/claim"))
    val marker = new Path(s"$root/claim/$name")
    try {
      f match {
        case l: org.apache.hadoop.fs.LocalFileSystem =>
          java.nio.file.Files.write(l.pathToFile(marker).toPath,
            name.getBytes("UTF-8"),
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
        case _ =>
          val out = f.create(marker, false)
          out.write(name.getBytes("UTF-8"))
          out.close()
      }
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
    }
  }

  /** Release an orphaned claim (a writer that claimed a version and
    * died before publishing). Admin/vacuum escape hatch — never called
    * on the commit path, where a lost claim means retry-at-next. */
  def releaseClaim(spark: SparkSession, root: String, version: Long): Unit =
    fs(spark, new Path(root)).delete(new Path(s"$root/claim/v$version"), false)

  /** [[claimMarker]] with a stale-claim LEASE (round-14 finding #1): a
    * claim whose marker mtime is older than `leaseMillis` is an orphan
    * — its writer died mid-window — and may be TAKEN OVER, so a
    * crashed publisher cannot wedge a fork base forever. The takeover
    * arbiter must itself be atomic (a bare delete+create lets two
    * contenders interleave into two "winners"): the orphan is first
    * RENAMED aside to a tombstone — rename is atomic on local fs (NIO
    * ATOMIC_MOVE) and HDFS (namenode), and exactly one contender's
    * rename finds the source present — and only the renamer proceeds
    * to the exclusive re-create. A contender that loses the rename, or
    * that finds a FRESH marker (a live writer, or the winner's new
    * claim), reads a lost claim as before.
    *
    * Staleness is verified TWICE (round-15 advisory): the pre-rename
    * mtime check alone is a TOCTOU hole — a rival can complete the
    * whole takeover cycle (rename, delete, fresh re-create) between
    * our stat and our rename, in which case our rename atomically
    * moves the rival's FRESH claim aside and both contenders "win".
    * So after a successful rename the TOMBSTONE's mtime (rename
    * preserves mtime on POSIX and HDFS) is compared against the stale
    * mtime captured at the stat: a mismatch means we moved a live
    * claim — it is restored via the same exclusive-create primitive
    * (never a destructive rename-back, which would clobber a third
    * contender that claimed in the gap; if the restore loses that
    * race the tombstone is LEFT IN PLACE so the displaced claim stays
    * recoverable) and the contender loses. `leaseMillis =
    * Long.MaxValue` disables takeover (the pre-lease behavior). */
  private def claimMarkerWithLease(spark: SparkSession, root: String,
      name: String, leaseMillis: Long, nowMillis: Long): Boolean = {
    if (claimMarker(spark, root, name)) return true
    if (leaseMillis == Long.MaxValue) return false
    val f = fs(spark, new Path(root))
    val marker = new Path(s"$root/claim/$name")
    val mtime =
      try f.getFileStatus(marker).getModificationTime
      catch {
        // holder released between our create and this stat: one retry
        case _: java.io.FileNotFoundException =>
          return claimMarker(spark, root, name)
      }
    if (nowMillis - mtime <= leaseMillis) return false
    beforeTakeoverRename()
    val tomb = new Path(s"$root/claim/.stale-$name-$mtime")
    val moved =
      try f match {
        case l: org.apache.hadoop.fs.LocalFileSystem =>
          java.nio.file.Files.move(l.pathToFile(marker).toPath,
            l.pathToFile(tomb).toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          true
        case _ => f.rename(marker, tomb)
      } catch { case _: java.io.IOException => false }
    if (!moved) return false
    val tombMtime =
      try f.getFileStatus(tomb).getModificationTime
      catch { case _: java.io.FileNotFoundException => return false }
    if (tombMtime != mtime) {
      // we renamed a claim FRESHER than the one we judged stale — a
      // rival takeover re-created the marker in our stat→rename gap.
      // Restore it exclusively and lose; on restore-loss keep the
      // tombstone (a third claimant owns the marker now, and the
      // displaced claim must stay recoverable, never silently gone).
      if (claimMarker(spark, root, name)) f.delete(tomb, false)
      return false
    }
    f.delete(tomb, false)
    claimMarker(spark, root, name)
  }

  /** Test-only injection seam for [[claimMarkerWithLease]]'s
    * stat→rename gap — a no-op in production; SnapshotSpec swaps it to
    * interleave a rival's full takeover between the staleness stat and
    * the rename, driving the tombstone-mtime verification branch. */
  private[operators] var beforeTakeoverRename: () => Unit = () => ()

  /** Optimistic-concurrency commit (the Iceberg-style CAS seam on top
    * of [[commit]]): the writer read `expected` as CURRENT (-1 for an
    * empty table), derived its manifest from that snapshot, and
    * publishes as `expected + 1` iff
    *
    *  1. CURRENT still equals `expected` (a stale read means the
    *     prepared manifest is missing a concurrent commit's files — a
    *     lost update if published), and
    *  2. it WINS the atomic [[claimVersion]] of `expected + 1` —
    *     exactly one of N racing writers does.
    *
    * Losers raise [[CommitConflictException]] BEFORE touching data or
    * manifest directories (loud, retryable, no cleanup needed); the
    * winner writes data + manifest and swaps the pointer forward. A
    * writer crashing between claim and publish leaves an orphaned
    * claim that blocks that one version number until
    * [[releaseClaim]] — version numbers are cheap and the table is
    * never half-published. Returns the committed version. */
  def commitCas(spark: SparkSession, root: String, expected: Long,
      df: DataFrame, manifest: DataFrame,
      commitMillis: Long = System.currentTimeMillis()): Long = {
    val f = fs(spark, new Path(root))
    val cur = new Path(s"$root/_CURRENT")
    val current: Long =
      if (!f.exists(cur)) -1L else currentVersion(spark, root).drop(1).toLong
    if (current != expected)
      throw new CommitConflictException(
        s"CAS commit: CURRENT is v$current but the writer prepared " +
          s"against v$expected — re-read and re-derive the manifest")
    val version = expected + 1
    if (!claimVersion(spark, root, version))
      throw new CommitConflictException(
        s"CAS commit: version v$version already claimed by another " +
          s"writer — re-read CURRENT and retry")
    commit(spark, root, version, df, manifest, commitMillis)
    version
  }

  /** Swap the CURRENT pointer to `version` iff it moves FORWARD
    * (version ≥ the pointed one). The forward-only rule is what makes
    * at-least-once writers (streaming foreachBatch retries) safe: a
    * late retry of an old batch id re-publishes its version directory
    * but can never roll the table back. Returns whether the pointer
    * moved. */
  def swapPointerForward(spark: SparkSession, root: String, version: Long): Boolean = {
    val f = fs(spark, new Path(root))
    val cur = new Path(s"$root/_CURRENT")
    val current: Long =
      if (!f.exists(cur)) -1L
      else currentVersion(spark, root).drop(1).toLong
    if (version < current) return false
    // same no-absent-window atomic replace as [[commit]]'s swap
    pointerSwap(f, new Path(s"$root/_CURRENT.tmp$version"), cur, version)
    true
  }

  /** Resolve the CURRENT pointer to its version string (e.g. "v3"). */
  def currentVersion(spark: SparkSession, root: String): String = {
    val f = fs(spark, new Path(root))
    val in = f.open(new Path(s"$root/_CURRENT"))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
  }

  /** Read the snapshot the CURRENT pointer names. A reader that holds
    * the returned frame keeps a consistent view: later commits add new
    * directories and swap the pointer but never rewrite this one. */
  def readCurrent(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/data/${currentVersion(spark, root)}")

  /** Iceberg-style time travel: resolve the version that was CURRENT
    * at `asOfMillis` — the HIGHEST version whose commit record
    * (`root/meta/v*`, written by [[commit]] before the pointer swap)
    * is ≤ the probe, never a version published after it. Versions the
    * vacuum has dropped no longer resolve (their meta goes with their
    * data), exactly as a lakehouse table's expired snapshots stop
    * resolving. O(versions) driver-side listing of one-line files —
    * the same cost class as [[vacuumPlan]]; no Spark job. Throws if no
    * version is old enough (the table did not exist at `asOfMillis`).
    * Commit timestamps are monotone whenever the caller's clock is —
    * the CAS path serializes commits, so a skewed multi-writer clock
    * can at worst re-order meta stamps, in which case the max-version
    * tie-break below still resolves deterministically. */
  def resolveVersionAsOf(spark: SparkSession, root: String,
      asOfMillis: Long): Long = {
    val f = fs(spark, new Path(root))
    val eligible = f.listStatus(new Path(s"$root/meta"))
      .map(_.getPath).filter(_.getName.startsWith("v"))
      .flatMap { p =>
        val in = f.open(p)
        val ts = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
        finally in.close()
        scala.util.Try(p.getName.drop(1).toLong).toOption.map(v => (v, ts))
      }
      .filter(_._2 <= asOfMillis)
    require(eligible.nonEmpty,
      s"no snapshot of $root existed at t=$asOfMillis")
    eligible.maxBy(v => (v._2, v._1))._1
  }

  /** Read the snapshot that was CURRENT at `asOfMillis` — the
    * timestamp form of time travel beside [[readCurrent]]'s
    * pointer-follow (the SnapshotSpec as-of case drives both). */
  def readAsOf(spark: SparkSession, root: String, asOfMillis: Long): DataFrame =
    spark.read.parquet(
      s"$root/data/v${resolveVersionAsOf(spark, root, asOfMillis)}")

  // ---------------------------------------------------------------
  // Branch refs: write–audit–publish (WAP)

  /** Iceberg-style named branch ref. A branch is a one-line pointer
    * file `root/refs/<name>` recording its HEAD version and the main
    * version it FORKED from (`v<head> base v<base>`). Version
    * directories stay global and immutable — a branch commit mints a
    * fresh global version through the same [[claimVersion]] CAS as
    * main-line writers, it just swaps the BRANCH pointer instead of
    * `_CURRENT`. Main readers never see staged data: nothing they
    * resolve through `_CURRENT` changes until [[publishBranch]]'s
    * single pointer swap — the write–audit–publish isolation property,
    * at O(pointer) publish cost regardless of staged data size. */
  def createBranch(spark: SparkSession, root: String, branch: String): Long = {
    require(!TmpRefRe.pattern.matcher(branch).matches,
      s"branch name '$branch' matches the crash-leftover temp-ref " +
        "pattern (*.tmp<digits>) — vacuumPlan could never pin it")
    val base = currentVersion(spark, root).drop(1).toLong
    writeBranchRef(spark, root, branch, head = base, base = base)
    base
  }

  private def writeBranchRef(spark: SparkSession, root: String,
      branch: String, head: Long, base: Long): Unit = {
    val f = fs(spark, new Path(root))
    f.mkdirs(new Path(s"$root/refs"))
    // same no-absent-window swap discipline as _CURRENT (local rename(2)
    // / HDFS FileContext OVERWRITE — see pointerSwapText): a concurrent
    // branch reader sees the old head or the new one, never a missing ref
    pointerSwapText(f, new Path(s"$root/refs/$branch.tmp$head"),
      new Path(s"$root/refs/$branch"), s"v$head base v$base")
  }

  /** One atomic-replace text-pointer swap, shared by `_CURRENT` and
    * branch refs. Local fs: POSIX rename(2) (kernel-atomic, readers
    * see old or new, never absent). Any other scheme: write the temp
    * via the FileSystem, then FileContext.rename(OVERWRITE) — on HDFS
    * a namenode-atomic replace with the same no-absent-window
    * guarantee. Only when the scheme has no AbstractFileSystem binding
    * (FileContext unavailable) does the swap degrade to
    * delete+rename, which has a tiny absent window — object stores
    * need a conditional-put committer regardless, as documented at
    * [[claimVersion]]. */
  private def pointerSwapText(f: org.apache.hadoop.fs.FileSystem,
      tmp: Path, dst: Path, text: String): Unit = f match {
    case l: org.apache.hadoop.fs.LocalFileSystem =>
      val tmpNio = l.pathToFile(tmp).toPath
      java.nio.file.Files.write(tmpNio, text.getBytes("UTF-8"))
      java.nio.file.Files.move(tmpNio, l.pathToFile(dst).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    case _ =>
      val out = f.create(tmp, true)
      out.write(text.getBytes("UTF-8"))
      out.close()
      val atomically = scala.util.Try {
        org.apache.hadoop.fs.FileContext.getFileContext(f.getUri, f.getConf)
          .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      }
      if (atomically.isFailure) {
        if (f.exists(dst)) f.delete(dst, false)
        require(f.rename(tmp, dst), s"ref swap failed for $dst")
      }
  }

  /** (head, base) of a branch ref. */
  def branchRef(spark: SparkSession, root: String, branch: String): (Long, Long) = {
    val f = fs(spark, new Path(root))
    val in = f.open(new Path(s"$root/refs/$branch"))
    val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
    s match {
      case BranchRefRe(h, b) => (h.toLong, b.toLong)
      case other => throw new IllegalStateException(
        s"malformed branch ref $root/refs/$branch: '$other'")
    }
  }
  private val BranchRefRe = """v(\d+) base v(\d+)""".r
  /** Crash-leftover temp refs from [[writeBranchRef]]'s swap:
    * `<branch>.tmp<head>`. Matched EXACTLY (not substring) so a branch
    * whose name merely contains ".tmp" is still pinned by vacuum. */
  private val TmpRefRe = """.+\.tmp\d+""".r

  /** Read the snapshot a branch's HEAD names. */
  def readBranch(spark: SparkSession, root: String, branch: String): DataFrame = {
    val (head, _) = branchRef(spark, root, branch)
    spark.read.parquet(s"$root/data/v$head")
  }

  /** Commit `df` as the branch's new HEAD: mint the next free global
    * version (max of existing data versions + 1, CAS-claimed — racing
    * main-line or sibling-branch writers each win distinct numbers,
    * probing upward past lost claims), write data/manifest/meta through
    * [[commit]]'s machinery WITHOUT touching `_CURRENT`, then swap the
    * branch ref. Returns the minted version. */
  def commitToBranch(spark: SparkSession, root: String, branch: String,
      df: DataFrame, manifest: DataFrame,
      commitMillis: Long = System.currentTimeMillis(),
      newBase: Option[Long] = None): Long = {
    val (_, oldBase) = branchRef(spark, root, branch)
    val base = newBase.getOrElse(oldBase)
    val f = fs(spark, new Path(root))
    val existing = f.listStatus(new Path(s"$root/data"))
      .map(_.getPath.getName).filter(_.startsWith("v"))
      .flatMap(n => scala.util.Try(n.drop(1).toLong).toOption)
    var version = (if (existing.isEmpty) -1L else existing.max) + 1
    while (!claimVersion(spark, root, version)) version += 1
    df.write.mode(SaveMode.ErrorIfExists).parquet(s"$root/data/v$version")
    manifest.write.mode(SaveMode.ErrorIfExists)
      .parquet(s"$root/manifest/v$version")
    f.mkdirs(new Path(s"$root/meta"))
    val meta = f.create(new Path(s"$root/meta/v$version"), true)
    meta.write(commitMillis.toString.getBytes("UTF-8"))
    meta.close()
    writeBranchRef(spark, root, branch, head = version, base = base)
    version
  }

  /** Publish a branch: fast-forward `_CURRENT` to the branch HEAD —
    * the "P" of write–audit–publish, one atomic pointer swap after the
    * audit queries approved the staged state. Fails loudly
    * ([[CommitConflictException]]) if main advanced past the branch's
    * fork base: the staged state was derived from a snapshot that is
    * no longer main's history, so fast-forwarding would silently drop
    * the interleaved main commits (the caller rebases: re-fork, re-
    * stage, re-audit). The ref is retired on publish. Returns the
    * published version. */
  def publishBranch(spark: SparkSession, root: String, branch: String,
      leaseMillis: Long = PublishLeaseMillis,
      nowMillis: Long = System.currentTimeMillis()): Long = {
    val (head, base) = branchRef(spark, root, branch)
    // Sibling-publish CAS: the mainV == base check below is
    // check-then-swap, so TWO sibling branches forked from the same
    // base racing publishBranch could both pass it and both
    // fast-forward — the later swap silently dropping the earlier
    // branch's state, exactly what the conflict rule exists to
    // prevent. The atomic arbiter is the same exclusive-create
    // primitive as [[claimVersion]]: exactly one publisher from a
    // given fork base holds `claim/pub-v<base>` across its
    // check-and-swap window; a contender raises BEFORE any pointer
    // motion and retries (after the winner's swap the mainV check
    // gives it the accurate rebase-first conflict). The marker is
    // released on every exit — held only across the window — and a
    // publisher that crashes mid-window can no longer wedge the base:
    // its orphaned marker is taken over once older than `leaseMillis`
    // ([[claimMarkerWithLease]]'s rename arbiter — the publish window
    // is a pointer read + swap, milliseconds, so a generous lease
    // cannot evict a LIVE publisher).
    if (!claimMarkerWithLease(spark, root, s"pub-v$base", leaseMillis,
        nowMillis))
      throw new CommitConflictException(
        s"publish $branch: a concurrent publish from fork base v$base " +
          "is in flight — retry; rebase first if main has advanced")
    try {
      val mainV = currentVersion(spark, root).drop(1).toLong
      if (mainV != base)
        throw new CommitConflictException(
          s"publish $branch: main is v$mainV but the branch forked from " +
            s"v$base — rebase (re-fork, re-stage, re-audit) before publish")
      require(swapPointerForward(spark, root, head),
        s"publish $branch: pointer did not move to v$head")
      fs(spark, new Path(root)).delete(new Path(s"$root/refs/$branch"), false)
      head
    } finally fs(spark, new Path(root))
      .delete(new Path(s"$root/claim/pub-v$base"), false)
  }

  /** Rebase a branch onto main's current head — the flow
    * [[publishBranch]]'s conflict message demands, made an operator:
    * three-way merge ([[threeWayMerge]]) of the branch head and main
    * against the branch's FORK BASE, committed back to the branch with
    * the base advanced to main's head, so a subsequent publish
    * fast-forwards. Conflicting keys fail LOUDLY
    * ([[CommitConflictException]]) before anything is written — a
    * rebase never silently drops either side's edit. A branch whose
    * base already equals main is a no-op (returns the current head).
    *
    * `manifestFn` builds the new head's manifest from the merged
    * state (manifest layout is the caller's policy, as in
    * [[commitToBranch]]). Returns the new branch head version. */
  def rebaseBranch(spark: SparkSession, root: String, branch: String,
      keyCol: String, valCol: String,
      manifestFn: DataFrame => DataFrame,
      commitMillis: Long = System.currentTimeMillis()): Long = {
    val (head, base) = branchRef(spark, root, branch)
    val mainV = currentVersion(spark, root).drop(1).toLong
    if (mainV == base) return head
    val baseDf = spark.read.parquet(s"$root/data/v$base")
    val merged = threeWayMerge(baseDf,
      readBranch(spark, root, branch), readCurrent(spark, root),
      keyCol, valCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val conflicts = merged.filter(col("action") === "conflict").count()
      if (conflicts > 0)
        throw new CommitConflictException(
          s"rebase $branch: $conflicts conflicting keys against main " +
            s"v$mainV — resolve and re-stage")
      val state = merged.filter(col("present")).select(keyCol, valCol)
      commitToBranch(spark, root, branch, state, manifestFn(state),
        commitMillis, newBase = Some(mainV))
    } finally merged.unpersist(blocking = false)
  }

  /** Versions safe to delete under a keep-last-`retain` policy: every
    * version directory not among the `retain` highest, not the pointer
    * target, and not named by any live branch ref (a branch HEAD must
    * stay readable for audit, and its fork BASE must stay resolvable
    * for the three-way rebase/[[threeWayMerge]] a conflicting publish
    * requires — a retention policy that only counted from the top
    * would silently destroy a long-lived staging branch). Returns the
    * version longs; the caller deletes. Pure listing arithmetic —
    * never touches data. */
  def vacuumPlan(spark: SparkSession, root: String, retain: Int): Seq[Long] = {
    require(retain >= 1, s"retain: $retain")
    val f = fs(spark, new Path(root))
    val versions = f.listStatus(new Path(s"$root/data"))
      .map(_.getPath.getName).filter(_.startsWith("v"))
      .flatMap(n => scala.util.Try(n.drop(1).toLong).toOption)
      .sorted
    val current = currentVersion(spark, root).drop(1).toLong
    val refDir = new Path(s"$root/refs")
    val pinned: Set[Long] =
      if (!f.exists(refDir)) Set.empty
      else f.listStatus(refDir).map(_.getPath.getName)
        .filterNot(TmpRefRe.pattern.matcher(_).matches)
        .flatMap { b =>
          // a ref retired between listStatus and this read (publishBranch
          // deletes on publish) simply stops pinning: its head is the
          // published pointer target (protected separately below) and
          // its fork base ages out under the normal retain rule — the
          // plan must not abort on that benign race. ONLY the vanished
          // ref is benign: a malformed ref still throws loudly, because
          // silently unpinning a corrupted branch would hand its head
          // to the vacuum
          try { val (h, base) = branchRef(spark, root, b); Seq(h, base) }
          catch { case _: java.io.FileNotFoundException => Seq.empty[Long] }
        }.toSet
    versions.dropRight(retain)
      .filterNot(v => v == current || pinned.contains(v)).toSeq
  }

  /** Execute the retention vacuum: delete every version [[vacuumPlan]]
    * names (its data AND manifest directories). The plan by
    * construction never includes the pointer target or the retained
    * tail, so a reader of any retained snapshot is unaffected.
    * Returns the deleted versions. */
  def vacuum(spark: SparkSession, root: String, retain: Int): Seq[Long] = {
    val doomed = vacuumPlan(spark, root, retain)
    val f = fs(spark, new Path(root))
    doomed.foreach { v =>
      f.delete(new Path(s"$root/data/v$v"), true)
      f.delete(new Path(s"$root/manifest/v$v"), true)
      // the commit record and the claim marker expire with the data:
      // as-of resolution must stop naming a vacuumed snapshot, and a
      // retired version number's marker has no writer left to exclude
      f.delete(new Path(s"$root/meta/v$v"), false)
      f.delete(new Path(s"$root/claim/v$v"), false)
    }
    doomed
  }
}
