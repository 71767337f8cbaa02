package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** What the harness learns from one op's output check. */
final case class Checked(publishedBytes: Long, pairs: PairCounts)

/** One workload of the benchmark. The harness generates inputs several
  * times (set-up time is a median), stages the engine state once, runs
  * one untimed warm-up op, then runs timed ops in a closed loop with
  * one op in flight. */
trait Workload {
  /** Generate this seed's inputs and write them where the ops read
    * them; returns their size on disk in bytes. */
  def generate(): Long
  /** Engine-side set-up the ops build on (a published previous
    * version, a persisted graph). Runs once, after [[generate]]. */
  def stage(): Unit
  /** The untimed warm-up op: by default op 0 and its check. */
  def warmUp(): Unit = op(0)()
  /** Input rows one op processes. */
  def inputRows: Long
  /** Run op `i` (timed); returns the untimed check of its output, which
    * throws when the output is wrong and deletes the op's output root. */
  def op(i: Int): () => Checked
  /** Run op `i` again, one engine layer per span; returns the extra
    * per-layer counters. */
  def traced(t: Tracer, i: Int): Map[String, Double]
}

object Session {
  /** Same settings as the engine's own query bench: AQE, 64 MB broadcast
    * threshold, 2g result cap, nanosecond parquet timestamps as longs,
    * and shuffle partitions derived from input bytes. */
  def build(cpus: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .config("spark.driver.maxResultSize", "2g")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** partitions = clamp(ceil(input bytes / 2 MiB), 1, cpus). */
  def shufflePartitions(inputBytes: Long, cpus: Int): Int = {
    val per = 2L << 20
    math.max(1L, math.min((inputBytes + per - 1) / per, cpus.toLong)).toInt
  }

  /** The effective configuration, minus per-process values. */
  def effectiveConf(spark: SparkSession): Map[String, String] = {
    val volatile = Set("spark.app.id", "spark.app.startTime", "spark.driver.port",
      "spark.driver.host", "spark.local.dir", "spark.sql.warehouse.dir",
      "spark.app.submitTime", "spark.executor.id", "spark.driver.extraJavaOptions",
      "spark.executor.extraJavaOptions")
    spark.conf.getAll.filterNot { case (k, _) => volatile.contains(k) }
  }
}

object Files {
  def bytes(path: String): Long = {
    val f = new File(path)
    if (java.nio.file.Files.isSymbolicLink(f.toPath)) 0L
    else if (f.isDirectory) Option(f.listFiles()).map(_.map(c => bytes(c.getPath)).sum).getOrElse(0L)
    else f.length()
  }

  def delete(path: String): Unit = {
    val f = new File(path)
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(c => delete(c.getPath)))
    f.delete()
  }

  def read(path: String): String =
    new String(java.nio.file.Files.readAllBytes(new File(path).toPath), "UTF-8")
}

/** Minimal JSON writer for the result lines. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long | _: Boolean) => n.toString
    case m: collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => apply(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}

object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, workDir: String)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work-dir"))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cpus = math.min(Runtime.getRuntime.availableProcessors(), 4)
    val spark = Session.build(cpus, o.workDir)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val listener = new SpanListener
    spark.sparkContext.addSparkListener(listener)
    val w: Workload = o.workload match {
      case "daily_publish" => new DailyPublish(spark, o.seed, s"${o.workDir}/data", parties = 2500)
      case "xref_dedupe" => new XrefDedupe(spark, o.seed, s"${o.workDir}/data", records = 8000)
      case "ownership_graph" => new OwnershipGraph(spark, o.seed, s"${o.workDir}/data",
        edgeCount = 8000, maxHops = 6, betweennessHops = 2)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    try run(spark, o, cpus, w, listener, sessionS)
    finally {
      val t = System.nanoTime()
      spark.stop()
      log(f"stopped in ${(System.nanoTime() - t) / 1e9}%.2f s")
    }
  }

  private def run(spark: SparkSession, o: Opts, cpus: Int, w: Workload,
      listener: SpanListener, sessionS: Double): Unit = {
    // set-up: generation is repeated and its median billed, the engine
    // state and the warm-up op (first ops run 1.5-3x steady state) once
    val gens = (1 to 3).map(_ => seconds(w.generate()))
    val inputBytes = gens.last._1
    val partitions = Session.shufflePartitions(inputBytes, cpus)
    spark.conf.set("spark.sql.shuffle.partitions", partitions.toLong)
    val (_, stageS) = seconds(w.stage())
    val (_, warmS) = seconds(w.warmUp())
    val setupS = sessionS + median(gens.map(_._2)) + stageS + warmS
    log(f"setup ${setupS}%.2f s (session $sessionS%.2f, generate " +
      f"${median(gens.map(_._2))}%.2f, stage $stageS%.2f, warm-up $warmS%.2f), " +
      s"input $inputBytes bytes, shuffle partitions $partitions")

    // closed loop: one op in flight; tracing measures half the window
    // untraced (for the overhead ratio), then one traced op. The window
    // counts timed op walls only, so the untimed checks and collections
    // between ops do not change how many ops a run measures.
    val window = if (o.trace) o.seconds / 2.0 else o.seconds.toDouble
    listener.resetPeak()
    var opGcS = 0.0
    var measuredS = 0.0
    val walls = scala.collection.mutable.ArrayBuffer[Double]()
    val checks = scala.collection.mutable.ArrayBuffer[Checked]()
    var attempted = 0
    var failed = 0
    while (attempted == 0 || measuredS < window) {
      attempted += 1
      // start each op on a collected heap, so no op pays for another's
      // garbage; only collections inside the op count toward jvm.gc_s
      System.gc()
      val gc0 = gcSeconds
      val start = System.nanoTime()
      var wall = Double.NaN
      try {
        val check = w.op(attempted)
        wall = (System.nanoTime() - start) / 1e9
        opGcS += gcSeconds - gc0
        checks += check()
        walls += wall
        log(f"op $attempted: $wall%.3f s")
      } catch {
        case e: Exception =>
          failed += 1
          log(s"op $attempted failed: $e")
      } finally {
        measuredS += (if (wall.isNaN) (System.nanoTime() - start) / 1e9 else wall)
      }
    }
    val gcPerOp = opGcS / math.max(1, attempted)
    val peakMb = listener.peakTaskMemBytes / SpanListener.MiB
    if (walls.isEmpty) throw new IllegalStateException("every op failed")
    val opS = median(walls.toSeq)

    val metrics: Map[String, Double] =
      if (!o.trace) Map(
        "setup_s" -> setupS,
        "op_s" -> opS,
        // from the median op, so one op slowed by the host moves it no more than op_s
        "rows_per_s" -> w.inputRows / opS,
        "published_mb" -> median(checks.map(_.publishedBytes / SpanListener.MiB).toSeq),
        "pair_recall" -> median(checks.map(_.pairs.recall).toSeq),
        "pair_precision" -> median(checks.map(_.pairs.precision).toSeq))
      else {
        val tracer = new Tracer(spark.sparkContext, listener)
        val i = attempted + 1
        attempted += 1
        val extra =
          try w.traced(tracer, i)
          catch {
            case e: Exception =>
              failed += 1
              log(s"traced op failed: $e")
              Map.empty[String, Double]
          }
        val spanStats = Layers.spans.map(s => s -> tracer.stats(s)).toMap
        val tracedWall = Layers.opSpan.get(o.workload) match {
          case Some(s) => spanStats(s).wallS
          case None => tracer.spans.map(spanStats(_).wallS).sum
        }
        Layers.metrics(spanStats, extra) ++ Map(
          "trace.overhead" -> tracedWall / opS,
          "jvm.gc_s" -> gcPerOp,
          // quantized by Spark's page-sized allocations (81 or 115 MB
          // across seeds of one workload), so reported here, unbounded
          "exec.peak_task_mem_mb" -> peakMb)
      }

    val detail = Map(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "cpus" -> cpus, "input_bytes" -> inputBytes, "input_rows" -> w.inputRows,
      "shuffle_partitions" -> partitions,
      "setup" -> Map("session_s" -> sessionS, "generate_s" -> gens.map(_._2),
        "stage_s" -> stageS, "warmup_s" -> warmS),
      "op_walls_s" -> walls.toSeq, "error_rate" -> failed.toDouble / attempted,
      "jvm_gc_s_per_op" -> gcPerOp,
      "conf" -> Session.effectiveConf(spark))
    println("PERFBENCH_DETAIL " + Json(detail))
    println("PERFBENCH_RESULT " + Json(Map(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics)))
  }
}
