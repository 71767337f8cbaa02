package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Query-surface plumbing shared by the correctness/bench query sets. */
object Q {
  /** (spark, sfDir) => result frame — the driver's query contract. */
  type QFn = (SparkSession, String) => DataFrame

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Events with `ts` normalized to a plain TIMESTAMP regardless of how
    * the parquet encodes it. Known generator variants: nanosecond
    * timestamps (session sets `spark.sql.legacy.parquet.nanosAsLong=true`
    * so `ts` arrives as epoch-nanos long → floor-divide to micros, matching
    * DuckDB's epoch_us on TIMESTAMP_NS) and microsecond wall-clock
    * timestamps (Spark infers TIMESTAMP_NTZ → cast to TIMESTAMP; the
    * session timezone is UTC everywhere, so the cast is value-preserving
    * and matches DuckDB's naive read). */
  def events(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = t(s, dir, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }

  /** Scratch-path tag for FS-writing queries (round-15 advisory):
    * roots derived from the dataset dir ALONE are shared across
    * processes, so two concurrent JVMs over the same fixture (parallel
    * verify/bench) pre-delete and rewrite each other's files mid-query
    * — spurious gate failures or mixed row counts. Suffixing the
    * sanitized dir with the process id keeps the path deterministic
    * WITHIN a JVM (each evaluation's pre-delete still reclaims this
    * process's own leftovers) while making it private per process. */
  def scratchTag(d: String): String =
    d.replaceAll("[^a-zA-Z0-9]", "_") + "_p" +
      java.lang.ProcessHandle.current().pid()

  /** Scale-adaptive state partitioning for Structured Streaming (guide
    * §2: derive partitioning from input size, don't hard-code either
    * end). Two facts force an explicit derivation here: AQE cannot
    * coalesce stateful exchanges (MicroBatchExecution logs "Disabling
    * AQE ... not supported in stateful workloads"), and the state-store
    * partition count is FROZEN into the checkpoint at the first batch.
    * Left at the session's cpus-keyed `spark.sql.shuffle.partitions`,
    * every micro-batch pays (partitions × stores-per-operator) state
    * commits — delta file + fsync each — regardless of how many rows
    * exist; measured at sf0.1 that machinery dominated every stateful
    * query (q249 17.6 s at 32 state partitions vs 8.6 s at 4, q282
    * 11.0 → 4.5, q114 18.6 → 5.0, fresh-JVM steady walls).
    *
    * partitions = clamp(ceil(landingBytes / bytesPerPartition), 1,
    * session shuffle partitions): small watermarked inputs get the few
    * partitions their state can fill; once input outgrows
    * bytesPerPartition × configured parallelism the clamp returns the
    * session setting unchanged — a cluster keeps its configured
    * parallelism, so this can only ever REDUCE partition count below
    * what the data supports, never tune the job to the local box.
    * bytesPerPartition (4 MiB of raw landing bytes per state
    * partition) shapes only the small-input end; anything in the
    * 1-32 MiB range reaches the clamp at scale.
    *
    * Scope the WHOLE pass section (first drop already landed) in
    * `body`: later passes reuse the checkpoint's frozen partitioning,
    * and foreachBatch handles inherit the scoped value for their own
    * shuffles, which the same small-state argument covers. */
  def withStreamStatePartitions[T](s: SparkSession, landingDirs: String*)(
      body: => T): T = {
    val hconf = s.sparkContext.hadoopConfiguration
    val bytes = landingDirs.map { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(hconf)
      if (fs.exists(hp)) fs.getContentSummary(hp).getLength else 0L
    }.sum
    val per = 4L << 20
    val key = "spark.sql.shuffle.partitions"
    val cap = s.conf.get(key).toInt
    val n = math.max(1L, math.min((bytes + per - 1) / per, cap.toLong)).toInt
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }

  /** One declared query: Spark plan + optional DuckDB oracle SQL. */
  final case class Decl(name: String, fn: QFn, oracle: Option[String])

  def decl(name: String, fn: QFn, oracle: String): Decl = Decl(name, fn, Some(oracle))
  def declNoOracle(name: String, fn: QFn): Decl = Decl(name, fn, None)
}
