package graft

import org.apache.spark.sql.SparkSession

import java.io.File

/** The one session builder: every main and the test harness get their
  * session here, so the correctness gate (Verify) runs exactly the plans
  * the bench (Bench) times. This is the only code that reads the
  * session's environment:
  *  - `SPARK_GRAFT_MASTER`: the master URL, a deployment setting;
  *    default `local[cpus]`;
  *  - `SPARK_GRAFT_CPUS`: local cores; default the JVM's processors.
  */
object GraftSession {
  /** Input bytes per shuffle partition (see [[shufflePartitions]]). */
  private val BytesPerPartition: Long = 2L << 20

  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** clamp(ceil(inputBytes / 2 MiB), 1, cpus). A cpus-keyed count bills
    * every reduce stage `cpus` near-empty tasks on small inputs (the
    * query suite at sf0.1 ran faster on 8 cpus than on 32, 624 vs
    * 832 s); any input ≥ 2 MiB × cpus reaches the clamp, so a
    * large input keeps the configured parallelism. AQE's
    * parallelismFirst coalescing measured worse as the alternative: it
    * collapses real compute to one partition. */
  def shufflePartitions(inputBytes: Long, cpus: Int): Int =
    math.max(1L, math.min(
      (inputBytes + BytesPerPartition - 1) / BytesPerPartition, cpus.toLong)).toInt

  /** Bytes of the regular files under `path` (followed if it is itself a
    * link). Links below it are skipped, so a link cycle cannot recurse
    * and no file counts twice; a dir that vanishes or cannot be listed
    * counts 0. */
  def dirBytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File])
        .filterNot(c => java.nio.file.Files.isSymbolicLink(c.toPath)).map(walk).sum
      else f.length()
    walk(new File(path))
  }

  /** Master and confs of a session on `cpus` cores; shuffle partitions
    * come from `inputDir`'s bytes when given, else `cpus`. */
  def settings(cpus: Int = defaultCpus, inputDir: Option[String] = None): Map[String, String] =
    Map(
      "spark.master" -> sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"),
      "spark.sql.shuffle.partitions" ->
        inputDir.fold(cpus)(d => shufflePartitions(dirBytes(d), cpus)).toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      // events.parquet may carry ns timestamps; read as long, convert in Q.events
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> (64L << 20).toString,
      "spark.driver.maxResultSize" -> "2g",
      "spark.ui.enabled" -> "false")

  /** A builder with `s` applied and the engine's SQL functions installed. */
  def builder(s: Map[String, String] = settings()): SparkSession.Builder =
    s.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .withExtensions(new GraftExtensions)
}
