package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** The session Bench times for the same input (see [[Bench.settings]]),
    * so the oracle gates the benchmarked plans. */
  def settings(sfDir: String, cpus: Int = GraftSession.defaultCpus): Map[String, String] =
    GraftSession.settings(cpus, Some(sfDir))

  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // optional trailing names: dump only those queries (local iteration);
    // the driver passes exactly two args and gets the full suite
    val only = args.drop(2).toSet
    only.diff(SparkEntry.queries.keySet).foreach(n =>
      System.err.println(s"[verify] WARNING: no query named '$n' — skipped"))
    val spark = GraftSession.builder(settings(sfDir)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // no coalesce(1): a single-task write serializes at larger sf; the
    // driver reads the per-query directory as a glob either way
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // between-query sweep of leaked localCheckpoint blocks — the
      // SparkEntry.queries execution contract (the ContextCleaner's
      // periodic GC is far slower than a 318-query run)
      SparkEntry.sweepQueryState(spark)
    }
    graft.queries.ExportQueries.unpersistAll()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
