package graft

/** Benchmark main: runs every declared query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line with per-query wall times.
  *
  * Quiet-run protocol: local wall times on a shared box swing ±2× with
  * machine contention (round 2 recorded 9–13× regressions on queries
  * whose plans were unchanged). To keep round-over-round comparisons
  * meaningful, each query is timed SPARK_GRAFT_BENCH_RUNS times
  * (default 2) and the per-query BEST is reported — the best of N is a
  * contention-robust estimator of the plan's true cost, while averages
  * inherit the noise. The JSON records `runs` so readers know the
  * protocol; a warm-up action precedes timing so JVM/codegen startup is
  * not billed to the first query.
  *
  * Kill tolerance (round-5 lesson — a contended 1-hour window produced
  * an EMPTY bench artifact): every completed wall is streamed to stdout
  * as a `[bench-wall] {...}` line THE MOMENT it completes, so a killed
  * run still leaves the full per-query record in the log tail; and each
  * query run is capped at SPARK_GRAFT_BENCH_CAP seconds (default 120) —
  * on expiry the query's Spark jobs (current and future) are cancelled
  * and the wall is recorded as the cap, flagged `"capped":true`, so one
  * pathological query can never eat the whole bench window.
  */
object Bench {
  /** The session for input `sfDir`, shared with [[Verify.settings]]. */
  def settings(sfDir: String, cpus: Int = GraftSession.defaultCpus): Map[String, String] =
    GraftSession.settings(cpus, Some(sfDir))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    val capSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_CAP", "120").toInt
    val spark = GraftSession.builder(settings(sfDir)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warm up: JVM + parquet footer reads
    spark.read.parquet(s"$sfDir/nation.parquet").count()

    val sc = spark.sparkContext

    // Memory-envelope evidence (round-9): max single-task execution
    // memory + total shuffle/agg spill per query, from the task-metrics
    // listener. Peak TASK memory is the per-executor envelope that must
    // fit at any cluster size — the number that proves sketch/layout
    // state is O(k)/O(files) rather than O(rows). Listener events are
    // async (values are task-granular and a hair racy at query
    // boundaries); good to the ~MB the envelope argument needs.
    val peakTaskMem = new java.util.concurrent.atomic.AtomicLong(0L)
    val spilledBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          peakTaskMem.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
          spilledBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    })
    def resetMem(): Unit = { peakTaskMem.set(0L); spilledBytes.set(0L) }
    def memMb(v: Long): Double = v / 1048576.0

    // One timed, capped execution of `body`. Returns (wall, capped).
    def timedCapped(name: String, body: () => Unit): (Double, Boolean) = {
      val group = s"bench-$name-${System.nanoTime()}"
      // Single atomic winner-decider between body completion and the
      // watchdog: whichever side wins compareAndSet(false, true) owns
      // the outcome, so a watchdog waking exactly at the cap can no
      // longer observe a stale flag after body() has effectively
      // finished and mark a completed query as capped.
      val finished = new java.util.concurrent.atomic.AtomicBoolean(false)
      @volatile var expired = false
      val watchdog = new Thread(() => {
        try {
          Thread.sleep(capSec * 1000L)
          if (finished.compareAndSet(false, true)) {
            expired = true
            // kill the query's running AND subsequently-submitted jobs —
            // driver-side loops (CC fixpoints, ETL stages) keep
            // submitting after a plain cancelJobGroup
            sc.cancelJobGroupAndFutureJobs(group, s"bench cap ${capSec}s hit by $name")
          }
        } catch { case _: InterruptedException => () }
      }, s"bench-watchdog-$name")
      watchdog.setDaemon(true)
      sc.setJobGroup(group, name, interruptOnCancel = true)
      watchdog.start()
      val t0 = System.nanoTime()
      try { body(); finished.compareAndSet(false, true) } catch {
        case e: Throwable if !expired =>
          System.err.println(s"[bench] $name: ${e.getMessage}")
        case _: Throwable => () // cancellation from the cap — expected
      } finally {
        watchdog.interrupt()
        sc.clearJobGroup()
      }
      val wall = (System.nanoTime() - t0) / 1e9
      if (expired) (capSec.toDouble, true) else (wall, false)
    }

    // optional trailing names: bench only those queries (local
    // iteration); the driver passes no args and gets the full suite
    val only = args.toSet
    val known = SparkEntry.allDecls.map(_.name).toSet
    only.diff(known).foreach(n =>
      System.err.println(s"[bench] WARNING: no query named '$n' — skipped"))
    val capped = scala.collection.mutable.Set[String]()
    val contended = scala.collection.mutable.Set[String]()
    // Between-query state sweep (round-16, guide §5): every iterative
    // operator cuts lineage with localCheckpoint, and those blocks stay
    // in the BlockManager until the ContextCleaner's periodic GC (30 min
    // default — longer than the whole bench), so late queries ran
    // against an ever-fuller block manager: BENCH r16-before measured
    // q78 at 54.3 s IN-SUITE vs 7.1 s in the same artifact's fresh
    // post-GC retime, a 7× pure-contamination gap (the round-7 scaling-
    // block lesson, now applied to the suite itself). Swept OUTSIDE the
    // timed region, between queries: only RDDs created at a
    // localCheckpoint call site are dropped — they are per-query round
    // barriers that no cross-query frame references (the only
    // cross-query persisted frames, ExportQueries' entity caches, are
    // plain persists and stay warm exactly as before). A periodic
    // System.gc() lets the ContextCleaner release dead broadcasts too.
    var sinceGc = 0
    // debug-only boundary telemetry (round-17, VERDICT r16 #4): one
    // line per sweep with block-manager storage occupancy, persistent-
    // RDD count, JVM thread count and post-suite heap — the
    // instrumentation that attributes late-suite in-suite inflation
    // (in-suite wall >> fresh retime) to suite state instead of guesses
    val sweepLog = sys.env.get("SPARK_GRAFT_SWEEPLOG").contains("1")
    def sweepQueryState(): Unit = {
      SparkEntry.sweepQueryState(spark)
      sinceGc += 1
      if (sinceGc >= 20) { sinceGc = 0; System.gc() }
      if (sweepLog) {
        val (mx, rem) = sc.getExecutorMemoryStatus.values
          .foldLeft((0L, 0L)) { case ((a, b), (m, r)) => (a + m, b + r) }
        val rt = Runtime.getRuntime
        // JIT code-cache occupancy: codegen classes accumulate across a
        // 634-run suite and silent code-cache FLUSHING (no JVM warning
        // until hard-full) deopts hot loops — the prime suspect for
        // late-suite walls >> fresh retimes on the driver host
        import scala.jdk.CollectionConverters._
        val code = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
          .asScala.filter(_.getName.startsWith("CodeHeap"))
          .map(p => p.getUsage.getUsed).sum
        val meta = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
          .asScala.find(_.getName == "Metaspace")
          .map(_.getUsage.getUsed).getOrElse(0L)
        System.err.println(
          f"""[bench-sweep] {"storage_used_mb":${(mx - rem) / 1048576.0}%.1f,"persistent_rdds":${sc.getPersistentRDDs.size},"threads":${Thread.activeCount()},"heap_used_mb":${(rt.totalMemory - rt.freeMemory) / 1048576.0}%.1f,"code_cache_mb":${code / 1048576.0}%.1f,"metaspace_mb":${meta / 1048576.0}%.1f}""")
      }
    }
    val results = SparkEntry.allDecls
      .filter(d => only.isEmpty || only(d.name))
      .map { d =>
      resetMem()
      val timed = (1 to runs).map { _ =>
        // Materialize via the noop sink: every output column is computed
        // and serialized, so projection-only queries (hashes, regexes,
        // date parses) are billed honestly — a bare .count() would let
        // Catalyst prune the entire projection.
        val r = timedCapped(d.name,
          () => d.fn(spark, sfDir).write.format("noop").mode("overwrite").save())
        // Sweep BETWEEN runs, not just between queries (round-17,
        // closing the round-16 ADVICE/VERDICT measurement hole): with
        // runs=2, run 2 of a query using QueryScoped caches reused
        // run 1's materialized cache (CacheManager matches the rebuilt
        // logical plan), so the reported best-of-N excluded the
        // intermediate's build cost for every minhash/simhash/shingle/
        // graph-fixture query. The sweep is OUTSIDE the timed region;
        // each timed run is now cold w.r.t. query-scoped state, so
        // q42-class walls rise to their honest cost.
        sweepQueryState()
        r
      }
      // Flag discipline (round-15 finding #1, superseding round-14's
      // last-run rule): `capped` only when EVERY run hit the cap — a
      // single capped run beside a healthy sibling is host contention
      // in SOME run (first-run JIT/GC in r14's false-flag mode, a
      // contended steady-state run in r15's inverse, q109), and both
      // modes auto-repro'd healthy. min ≥ cap is the only signal the
      // plan itself is slow; the partial case is recorded as its own
      // `contended` field so the noise stays observable without
      // triggering the repro ritual.
      if (timed.forall(_._2)) capped += d.name
      else if (timed.exists(_._2)) contended += d.name
      val times = timed.map(_._1)
      val best = times.min
      val first = times.head
      // envelope over ALL runs of this query (max peak, summed spill)
      val (pk, sp) = (memMb(peakTaskMem.get()), memMb(spilledBytes.get()))
      // stream the wall immediately: a killed run keeps every line so far.
      // On STDOUT since round 17 (VERDICT r16 next-round #1): the
      // driver's per-query comparison reads the bench's stdout, and the
      // stderr stream left PERF.per_query empty for two rounds.
      println(
        f"""[bench-wall] {"query":"${d.name}","sec":$best%.3f,"first_sec":$first%.3f,"capped":${capped.contains(d.name)},"contended":${contended.contains(d.name)},"peak_task_mem_mb":$pk%.1f,"spilled_mb":$sp%.1f}""")
      (d.name, best, pk, sp, first)
    }
    val qs = results.map { case (k, v, _, _, _) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val memJson = results.map { case (k, _, pk, sp, _) =>
      "\"" + k + "\":" + f"""{"peak_task_mem_mb":$pk%.1f,"spilled_mb":$sp%.1f}"""
    }.mkString("{", ",", "}")
    val firstJson = results.map { case (k, _, _, _, fst) =>
      "\"" + k + "\":" + f"$fst%.3f"
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum

    // Scaling-trend evidence: re-time the ten most expensive queries at
    // BOTH scales and record wall-clock ratio + scaling exponent
    // (log t-ratio / log data-ratio) per query. An exponent near 1 =
    // linear; anything with a wall ratio beyond ~1.3× the data ratio is
    // flagged for a documented reason.
    //
    // Self-contamination fix (round-7 lesson): the in-suite walls are
    // measured late in a JVM that has executed the whole 125-query
    // suite — accumulated persists, code-cache and GC pressure made
    // q74 look 7× slower in-suite than isolated (exponent 1.53 vs
    // 0.48, a false superlinear flag that cost a round of triage). So
    // before re-timing, every cached frame is dropped and a full GC is
    // forced, and BOTH t_large and t_small are fresh measurements from
    // the cleaned JVM — the suite wall is carried separately as
    // t_insuite so the contamination itself stays observable.
    // Caveat recorded with the numbers: at the small scale a run is
    // dominated by fixed plan/jobsetup overhead, so ratios UNDERSTATE
    // the data-driven exponent; embeddings/documents tables scale less
    // than the TPC-H 10× between these dirs.
    val scalingDir = sys.env.getOrElse("SPARK_GRAFT_SCALING_DIR", "/root/testdata/sf0.01")
    val dataRatio = sys.env.getOrElse("SPARK_GRAFT_SCALING_RATIO", "10").toDouble
    val flaggedNames = scala.collection.mutable.ListBuffer[String]()
    val scalingJson =
      if (only.nonEmpty || !new java.io.File(scalingDir).isDirectory) "null"
      else {
        // drop suite state: persisted frames (ours and Spark's cache
        // registry) and a forced GC so the re-times start from a clean
        // heap and empty block manager
        graft.queries.ExportQueries.unpersistAll()
        spark.catalog.clearCache()
        System.gc()
        spark.read.parquet(s"$scalingDir/nation.parquet").count()
        val top = results.sortBy(-_._2).take(10).map(r => (r._1, r._2))
        flaggedNames.clear()
        val rows = top.map { case (name, tInsuite) =>
          val decl = SparkEntry.allDecls.find(_.name == name).get
          // best-of-N wall + whether the best run itself hit the cap:
          // a capped re-time recorded as a clean wall would silently
          // UNDERSTATE the exponent and dodge the flag — the exact
          // class of misleading scaling evidence this block exists to
          // prevent, so a capped row is always flagged and labeled.
          // Peak task memory is captured per scale: a flat peak across
          // the data ratio is the O(state)-not-O(rows) evidence.
          def retime(dir: String): (Double, Boolean, Double) = {
            resetMem()
            val rs = (1 to runs).map { _ =>
              timedCapped(s"$name-scaling",
                () => decl.fn(spark, dir).write.format("noop").mode("overwrite").save())
            }
            (rs.map(_._1).min, rs.forall(_._2), memMb(peakTaskMem.get()))
          }
          val (tLarge, capLarge, pkLarge) = retime(sfDir)
          val (tSmall, capSmall, pkSmall) = retime(scalingDir)
          val retimeCapped = capLarge || capSmall
          val ratio = tLarge / tSmall
          val expo = math.log(ratio) / math.log(dataRatio)
          // A retime orders of magnitude under the in-suite wall means
          // the jobs failed instantly (round-11 forensics: a shutdown
          // kill mid-scaling stopped the SparkContext, every retime
          // "completed" in 4 ms, and the artifact recorded nonsense
          // exponents with stderr already gone). Flag it so a reader
          // never mistakes a dead context for a fast query.
          val anomalous = spark.sparkContext.isStopped ||
            (tInsuite > 1.0 && (tLarge < tInsuite / 100 || tSmall < 0.05))
          val flagged = ratio > 1.3 * dataRatio || retimeCapped || anomalous
          if (flagged) flaggedNames += name
          "\"" + name + "\":" +
            f"""{"t_small":$tSmall%.3f,"t_large":$tLarge%.3f,"t_insuite":$tInsuite%.3f,"ratio":$ratio%.2f,"exponent":$expo%.2f,"peak_mem_small_mb":$pkSmall%.1f,"peak_mem_large_mb":$pkLarge%.1f,"retime_capped":$retimeCapped,"retime_anomalous":$anomalous,"flagged":$flagged}"""
        }
        s"""{"small_sf_dir":"$scalingDir","data_ratio":$dataRatio,""" +
          s""""note":"t_large/t_small are fresh post-GC re-times (t_insuite = contaminated suite wall); small-scale walls include fixed per-query overhead so ratios understate the data exponent","queries":${rows.mkString("{", ",", "}")}}"""
      }

    // Capped-query auto-repro (the round-13 adjudication protocol,
    // generalized from q230): a capped wall on a loaded box is
    // unadjudicable unless the artifact carries its own isolated
    // re-measurement — BENCH_r13's q200 capped both driver runs at
    // 120 s while measuring 5.4 s healthy, and nothing in the artifact
    // could say which number was real. So every capped query re-runs
    // in a FRESH JVM (same flags + classpath, `graft.Bench <name>` with
    // two runs) and the artifact records its first and best walls: a
    // fresh-JVM wall near the cap means the plan itself is slow; a fast
    // fresh-JVM wall means suite/box contention. Full suite only, so the
    // child (which names its query) never spawns a repro of its own.
    val reproJson =
      if (only.nonEmpty || capped.isEmpty) "null"
      else {
        val javaBin = new java.io.File(new java.io.File(
          System.getProperty("java.home"), "bin"), "java").getPath
        val jvmArgs = java.lang.management.ManagementFactory
          .getRuntimeMXBean.getInputArguments
          .toArray(Array.empty[String]).toSeq
          .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent"))
        val cp = System.getProperty("java.class.path")
        val entries = capped.toSeq.sorted.map { name =>
          System.err.println(s"[bench] capped-query repro: $name in a fresh JVM")
          val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-cp", cp, "graft.Bench", name)
          val pb = new ProcessBuilder(cmd: _*)
          val childOut = java.io.File.createTempFile(s"bench-repro-$name-", ".json")
          pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
          pb.environment().put("SPARK_GRAFT_BENCH_RUNS", "2")
          pb.environment().put("SPARK_GRAFT_BENCH_OUT", childOut.getPath)
          pb.redirectErrorStream(true)
          @volatile var wall: Option[(String, String)] = None
          var rc = -1
          var timedOut = false
          try {
            val proc = pb.start()
            val reader = new java.io.BufferedReader(
              new java.io.InputStreamReader(proc.getInputStream))
            val wallRe =
              """\[bench-wall\] \{.*"sec":([0-9.]+),"first_sec":([0-9.]+)""".r.unanchored
            // drain continuously so the child never blocks on a full pipe
            val drainer = new Thread(() => {
              var line = reader.readLine()
              while (line != null) {
                line match {
                  case wallRe(sec, first) => wall = Some((first, sec))
                  case _ => ()
                }
                line = reader.readLine()
              }
            }, s"repro-drain-$name")
            drainer.setDaemon(true); drainer.start()
            timedOut = !proc.waitFor(2L * capSec + 180L,
              java.util.concurrent.TimeUnit.SECONDS)
            if (timedOut) proc.destroyForcibly()
            else rc = proc.exitValue()
            drainer.join(5000)
          } catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"[bench] repro $name failed to launch: ${e.getMessage}")
          } finally childOut.delete()
          val (warm, steady) = wall.getOrElse(("null", "null"))
          System.err.println(
            s"""[bench-repro] {"query":"$name","fresh_jvm_warm_sec":$warm,"fresh_jvm_sec":$steady,"rc":$rc,"timed_out":$timedOut}""")
          "\"" + name + "\":" +
            s"""{"fresh_jvm_warm_sec":$warm,"fresh_jvm_sec":$steady,"rc":$rc,"timed_out":$timedOut}"""
        }
        entries.mkString("{", ",", "}")
      }

    val cappedJson = capped.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val contendedJson = contended.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"first_runs":$firstJson,"memory":$memJson,"runs":$runs,"sf":"$sfDir","cap_sec":$capSec,"capped":$cappedJson,"contended":$contendedJson,"capped_repro":$reproJson,"scaling":$scalingJson}"""
    println(json)
    // Durability: the full summary (125+ queries + scaling block, ~4 KB)
    // outgrows a harness's log-tail capture (round 6 stored only a
    // 2,271-byte tail and BENCH parsed null despite a clean run), so the
    // machine-readable artifact is also written — and fsynced — to a
    // stable file that never depends on how much stdout a reader keeps.
    // The default path resolves against SPARK_GRAFT_REPO_DIR (falling
    // back to user.dir, which is logged) so the artifact's location no
    // longer silently depends on the launcher's working directory.
    val outPath = sys.env.get("SPARK_GRAFT_BENCH_OUT").getOrElse {
      val root = sys.env.getOrElse("SPARK_GRAFT_REPO_DIR", System.getProperty("user.dir"))
      new java.io.File(root, "target/bench_latest.json").getPath
    }
    // Never overwrite a good artifact from a dying JVM: a shutdown kill
    // mid-run stops the SparkContext and the remaining "measurements"
    // are instant failures (round-11 forensics).
    if (spark.sparkContext.isStopped) {
      System.err.println(s"[bench] ABORT: SparkContext stopped mid-run — summary NOT written")
      return
    }
    try {
      val f = new java.io.File(outPath)
      Option(f.getParentFile).foreach(_.mkdirs())
      val fos = new java.io.FileOutputStream(f)
      try {
        fos.write((json + "\n").getBytes("UTF-8"))
        fos.getFD.sync()
      } finally fos.close()
      System.err.println(s"[bench] summary written to ${f.getAbsolutePath}")
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] WARNING: could not write $outPath: ${e.getMessage}")
    }
    graft.queries.ExportQueries.unpersistAll()
    // Tail-capture protocol: a reader that keeps only the last few KB of
    // stdout truncates the full line above (BENCH_r07 parsed null that
    // way), so the LAST stdout line is a compact (<1 KB) first-class
    // summary — total, run protocol, cap/flag lists, and where the full
    // artifact lives.
    //
    // Round-17 (VERDICT r16 next-round #1): the driver's round-over-round
    // per-query comparison needs the `queries` map on stdout, and the
    // first full line above is too far from the tail for a bounded
    // capture. So the SECOND-TO-LAST line is the driver-contract line —
    // {"metric","value","unit","queries",...} with the queries map EARLY
    // and the scaling block LAST (a tail capture that truncates the line
    // head still shows the scaling retimes, exactly as in r15/r16) —
    // and the guaranteed-parse compact line stays LAST, unchanged.
    val flaggedJson = flaggedNames.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"sf":"$sfDir","n_queries":${results.size},"queries":$qs,"cap_sec":$capSec,"capped":$cappedJson,"contended":$contendedJson,"capped_repro":$reproJson,"scaling_flagged":$flaggedJson,"scaling":$scalingJson}""")
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"sf":"$sfDir","n_queries":${results.size},"cap_sec":$capSec,"capped":$cappedJson,"contended":$contendedJson,"capped_repro":$reproJson,"scaling_flagged":$flaggedJson,"full_summary":"$outPath"}""")
    spark.stop()
  }
}
