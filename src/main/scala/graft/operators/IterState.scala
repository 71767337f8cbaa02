package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Size-gated broadcast for ITERATION-STATE frames — guide §3.1 ("pick
  * the join strategy deliberately") + §2.4 ("remove shuffles outright")
  * applied to the engine's iterative operators.
  *
  * Every iterative operator here cuts lineage per round with
  * `localCheckpoint`. In Spark 4.1.2 the checkpoint leaf keeps the
  * origin plan's ESTIMATED statistics, which are wrong rather than
  * missing, and compound from round to round: a 10-row join+aggregate
  * checkpoints as `sizeInBytes=3.1 MiB`. So the planner cannot be trusted
  * to see that the persisted edge frame is joined against a state frame
  * of a few thousand rows (a 30-seed BFS frontier, a per-round label
  * frame, a rank vector). The operator, unlike the planner, knows the
  * state is materialized, so counting it costs one metadata-cheap job;
  * with the count in hand it makes the broadcast decision itself, the
  * manual join-strategy rule the optimization guide prescribes when
  * statistics cannot reach the planner.
  *
  * The gate is ROW- and BYTE-counted, never guessed (round-17: the
  * row-only gate under-priced wide string keys — 2M rows of 255-char
  * ids is ~1 GB, not the ~64 MB the row cap was calibrated for):
  *  - the row cap is 2,000,000 rows (~64 MB at 32 B of long-keyed
  *    state per row — the same order as the session's 64 MB
  *    autoBroadcastJoinThreshold);
  *  - `bytesCap` defaults to 64 MB of estimated row payload
  *    (`spark.graft.iterBroadcastBytes`; 0 disables the byte gate).
  *    [[bcastIfSmall]] MEASURES the payload — variable-width columns
  *    (string/binary) by their actual octet length, fixed-width ones by
  *    their Catalyst defaultSize — in the same single aggregate job
  *    that was already counting rows; [[bcastIf]] spends no job by
  *    contract, so it prices the caller's row bound at the schema's
  *    static width (strings at Catalyst's 20 B default) unless the
  *    caller passes a measured byte bound;
  *  - the decision re-evaluates EVERY round, so a growing frontier
  *    falls back to the shuffle plan the moment it outgrows either cap
  *    — scale behaviour is graceful, not cliff-edged.
  * The rule itself is [[LocalGraph.fits]], which also decides when a
  * graph operator collects its graph and solves it locally.
  *
  * Only sides that are legal build sides for the join type in question
  * are ever wrapped (inner: either; left outer / left anti: right side).
  */
object IterState {
  val RowsCap = 2000000L
  val BytesConfKey = "spark.graft.iterBroadcastBytes"
  val DefaultBytesCap = 64L * 1024 * 1024

  def bytesCap(spark: SparkSession): Long =
    spark.conf.getOption(BytesConfKey).map(_.toLong).getOrElse(DefaultBytesCap)

  /** Static per-row width of a schema: fixed-width types at their
    * Catalyst defaultSize (long 8, double 8, ...), variable-width ones
    * at the same source's default estimate (StringType 20 B). A
    * job-free floor — callers that can afford a job use
    * [[measuredRowsBytes]] for real widths instead. */
  def staticRowWidth(schema: org.apache.spark.sql.types.StructType): Long =
    schema.fields.map(_.dataType.defaultSize.toLong).sum

  /** (rows, payload bytes) of a materialized frame in ONE aggregate job
    * — the job [[bcastIfSmall]] was already paying for the row count.
    * Variable-width columns (string/binary) are summed at their actual
    * octet length; everything else at its fixed Catalyst defaultSize
    * (nested types keep their static estimate — no iteration-state
    * frame here carries corpus-sized nested payloads). */
  def measuredRowsBytes(df: DataFrame): (Long, Long) = {
    import org.apache.spark.sql.types.{BinaryType, StringType}
    val widths = df.schema.fields.map { f =>
      f.dataType match {
        case StringType | BinaryType =>
          coalesce(octet_length(col(f.name)).cast("long"), lit(0L))
        case dt => lit(dt.defaultSize.toLong)
      }
    }
    val r = df.agg(count(lit(1)), sum(widths.reduce(_ + _))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Count-and-byte-gated broadcast hint. `df` must be cheap to scan —
    * i.e. checkpointed/persisted, or a narrow projection/filter of such
    * a frame; the single aggregate job is the price of the decision. */
  def bcastIfSmall(df: DataFrame): DataFrame = {
    val (rows, bytes) = measuredRowsBytes(df)
    if (LocalGraph.fits(df.sparkSession, rows, bytes)) broadcast(df) else df
  }

  /** Broadcast hint gated on a row bound the CALLER already holds (an
    * agg/probe output bounded by a frame counted earlier) — spends no
    * extra job; bytes are priced at the static schema width. */
  def bcastIf(df: DataFrame, knownRowsBound: Long): DataFrame =
    bcastIf(df, knownRowsBound, knownRowsBound * staticRowWidth(df.schema))

  /** [[bcastIf]] with a MEASURED byte bound the caller already holds
    * (e.g. from a signature scan that summed key widths) — still spends
    * no extra job, but prices wide string keys honestly. */
  def bcastIf(df: DataFrame, knownRowsBound: Long,
      knownBytesBound: Long): DataFrame =
    if (LocalGraph.fits(df.sparkSession, knownRowsBound, knownBytesBound)) broadcast(df)
    else df
}
