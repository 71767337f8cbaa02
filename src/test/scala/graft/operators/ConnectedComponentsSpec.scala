package graft.operators

import graft.SparkSpec

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  test("path graph collapses to one component (transitivity)") {
    val nodes = (1L to 10L).toDF("id")
    val edges = (1L until 10L).map(i => (i, i + 1)).toDF("src", "dst")
    val out = ConnectedComponents.run(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(out.values.toSet == Set(1L))
    assert(out.keySet == (1L to 10L).toSet)
  }

  test("long chain engages adaptive pointer jumping and still converges exactly") {
    // 800-node path: star rounds alone need ~log2(800) ≈ 10 rounds, so
    // the adaptive jump (from round 4) is exercised. Gate off: this
    // test exists to exercise the distributed rounds.
    aboveGate {
      val nodes = (1L to 800L).toDF("id")
      val edges = (1L until 800L).map(i => (i, i + 1)).toDF("src", "dst")
      val out = ConnectedComponents.run(nodes, edges)
        .as[(Long, Long)].collect().toMap
      assert(out.values.toSet == Set(1L))
      assert(out.keySet == (1L to 800L).toSet)
    }
  }

  test("local finisher equals the distributed rounds on random long graphs") {
    // The size-gated driver finisher must be bit-identical to the star
    // rounds it replaces — same components, same min labels.
    val rnd = new scala.util.Random(41)
    for (trial <- 1 to 4) {
      val n = 60 + trial * 20
      val edges = Seq.fill(n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val nodes = (0L until n.toLong).toDF("id")
      val local = ConnectedComponents.run(nodes, edges.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      val dist = aboveGate {
        ConnectedComponents.run(nodes, edges.toDF("src", "dst"))
          .as[(Long, Long)].collect().toMap
      }
      assert(local == dist, s"trial $trial")
    }
    // one more input keyed by IntegerType, negative ids included: the
    // finisher collects int keys cast to long and hands back ints
    val n = 90
    val edges = Seq.fill(n)((rnd.nextInt(n) - n / 2, rnd.nextInt(n) - n / 2))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    val nodes = (-n / 2 until n / 2).toDF("id")
    val local = ConnectedComponents.run(nodes, edges)
    assert(local.schema("component").dataType == org.apache.spark.sql.types.IntegerType)
    assert(local.as[(Int, Int)].collect().toMap ==
      aboveGate(ConnectedComponents.run(nodes, edges).as[(Int, Int)].collect().toMap))
  }

  test("local finish fires mid-iteration once a round brings the pointer set under the gate") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // A dense fixed-seed graph (|E| ≫ |V|): its entry pointer set is over
    // a gate that its fixpoint (fewer than |V| pointers) is under, so
    // round 1 runs distributed and the local finish ends the iteration.
    val rnd = new scala.util.Random(53)
    val n = 200
    val pairs = Seq.fill(4000)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    val entryRows = pairs.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.max(a, b), math.min(a, b)) }.distinct.size
    val gate = 16000L // bytes: a long pointer prices at 16
    assert(entryRows * 16L > gate && n * 16L < gate)
    val edges = pairs.toDF("src", "dst")
    val nodes = (0L until n.toLong).toDF("id")

    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(seen.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val mixed = try {
      spark.conf.set(IterState.BytesConfKey, gate.toString)
      try ConnectedComponents.run(nodes, edges).as[(Long, Long)].collect().toMap
      finally spark.conf.unset(IterState.BytesConfKey)
    } finally {
      // the listener bus delivers in order: the finish's job comes last
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains("ConnectedComponents.run: local finish") &&
          System.nanoTime() < deadline) Thread.sleep(50)
      sc.removeSparkListener(listener)
    }
    assert(seen.contains("ConnectedComponents.run: round 1"))
    assert(seen.contains("ConnectedComponents.run: local finish"))
    assert(mixed == aboveGate(ConnectedComponents.run(nodes, edges)
      .as[(Long, Long)].collect().toMap))
  }

  test("local finisher string keys use Spark's binary ordering (non-ASCII)") {
    // UTF8String comparison is unsigned UTF-8 byte order, which differs
    // from Java String ordering on supplementary characters — 'Ｚ'
    // (U+FF3A, 3 UTF-8 bytes) vs '𝐀' (U+1D400, surrogate pair): Java
    // compares UTF-16 units (0xFF3A > 0xD835) but UTF-8 bytes say
    // 0xEF < 0xF0. The min label must match Spark's own min().
    // Two components: {Ｚ, 𝐀} where the orderings disagree (Java min
    // is 𝐀, UTF-8 binary min is Ｚ), and an ASCII control pair.
    val nodes = Seq("Ｚ", "𝐀", "zeta", "alpha").toDF("id")
    val edges = Seq(("Ｚ", "𝐀"), ("zeta", "alpha")).toDF("src", "dst")
    val local = ConnectedComponents.run(nodes, edges)
      .as[(String, String)].collect().toMap
    val dist = aboveGate {
      ConnectedComponents.run(nodes, edges)
        .as[(String, String)].collect().toMap
    }
    assert(local == dist)
    assert(local("𝐀") == "Ｚ" && local("Ｚ") == "Ｚ") // UTF-8 binary min
    assert(local("zeta") == "alpha")
  }

  test("byte gate: 255-char string keys near the row gate stay correct either way") {
    // Round-17 (VERDICT r16 #2): the local-finish gate is byte-counted,
    // not row-counted alone — 2M rows of 255-char ids would be ~1 GB at
    // collect(). Build a graph of 255-char keys and run it (a) with the
    // byte cap forced below the measured key bytes, so the DISTRIBUTED
    // rounds must finish it, and (b) with defaults, where the local
    // finisher fires; the labelings must be identical.
    def wide(i: Int): String = f"k$i%04d" + ("x" * 249) // 255 chars each
    val nodes = (0 until 40).map(wide).toDF("id")
    val edges = (0 until 39).map(i => (wide(i), wide(i + 1))).toDF("src", "dst")
    val viaLocal = ConnectedComponents.run(nodes, edges)
      .as[(String, String)].collect().toMap
    val viaDistributed = aboveGate {
      ConnectedComponents.run(nodes, edges)
        .as[(String, String)].collect().toMap
    }
    assert(viaLocal == viaDistributed)
    assert(viaLocal.values.toSet == Set(wide(0)))
  }

  test("IterState byte gate measures string octets and blocks oversized broadcasts") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    def hinted(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.collectFirst { case h: ResolvedHint => h }.nonEmpty
    val wideKeys = (0 until 64).map(i => f"k$i%03d" + ("y" * 251)).toDF("id")
    val (rows, bytes) = IterState.measuredRowsBytes(wideKeys)
    assert(rows == 64L && bytes == 64L * 255L) // exact octet accounting
    // under both caps → broadcast hint applied
    assert(hinted(IterState.bcastIfSmall(wideKeys)))
    // byte cap below the measured payload → no hint, rows cap untouched
    spark.conf.set(IterState.BytesConfKey, (64L * 255L - 1L).toString)
    try {
      assert(!hinted(IterState.bcastIfSmall(wideKeys)))
      // bcastIf with a measured byte bound obeys the same cap jobs-free
      assert(!hinted(IterState.bcastIf(wideKeys, 64L, 64L * 255L)))
      assert(hinted(IterState.bcastIf(wideKeys, 64L, 1024L)))
    } finally spark.conf.unset(IterState.BytesConfKey)
  }

  test("disjoint components and isolated nodes keep separate labels") {
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 99L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val out = ConnectedComponents.run(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(out(1L) == 1L && out(2L) == 1L && out(3L) == 1L)
    assert(out(10L) == 10L && out(11L) == 10L)
    assert(out(99L) == 99L) // isolated
  }

  test("edge direction and duplicates do not matter") {
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val edges = Seq((3L, 2L), (2L, 3L), (2L, 1L), (1L, 2L)).toDF("src", "dst")
    val out = ConnectedComponents.run(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(out.values.toSet == Set(1L))
  }

  test("random graphs match a driver-side union-find (no premature convergence)") {
    // Regression for the old sum/count convergence signature, which two
    // different edge sets could collide on and stop early; the exact
    // set-equality check must always reach the true components.
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 5) {
      val n = 40 + trial * 10
      val edges = Seq.fill(n / 2)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
      val out = ConnectedComponents.run(
        (0L until n.toLong).toDF("id"), edges.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      assert(out == expected, s"trial $trial")
    }
  }

  test("incremental batch equals full recompute on random graphs") {
    // The contract that makes `incremental` safe to run daily: for any
    // split of the edge set into (base, batch), contract-and-remap is
    // row-identical to the full fixpoint over base ∪ batch.
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 4) {
      val n = 50 + trial * 15
      val all = Seq.fill(n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val (base, batch) = all.splitAt(all.size / 2)
      val nodes = (0L until n.toLong).toDF("id")
      val prev = ConnectedComponents.run(nodes, base.toDF("src", "dst"))
      val inc = ConnectedComponents.incremental(
        prev, batch.toDF("src", "dst"), spark.emptyDataset[Long].toDF("id"))
        .as[(Long, Long)].collect().toMap
      val full = ConnectedComponents.run(nodes, all.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      assert(inc == full, s"trial $trial")
    }
  }

  test("incremental handles new nodes: isolated, attached, and new-new edges") {
    val nodes = Seq(1L, 2L, 3L, 10L, 11L).toDF("id")
    val prev = ConnectedComponents.run(nodes, Seq((1L, 2L), (10L, 11L)).toDF("src", "dst"))
    // 20 attaches to the {1,2} component via 2; 30-31 is a brand-new
    // pair; 40 arrives isolated; 3 stays untouched.
    val out = ConnectedComponents.incremental(
      prev,
      Seq((20L, 2L), (30L, 31L)).toDF("src", "dst"),
      Seq(40L).toDF("id"))
      .as[(Long, Long)].collect().toMap
    assert(out(1L) == 1L && out(2L) == 1L && out(20L) == 1L)
    assert(out(30L) == 30L && out(31L) == 30L)
    assert(out(40L) == 40L)
    assert(out(3L) == 3L && out(10L) == 10L && out(11L) == 10L)
    assert(out.size == 9)
  }

  test("incremental merging two old components relabels both to the joint min") {
    val nodes = (1L to 6L).toDF("id")
    val prev = ConnectedComponents.run(nodes, Seq((1L, 2L), (5L, 6L), (3L, 4L)).toDF("src", "dst"))
    val out = ConnectedComponents.incremental(
      prev, Seq((6L, 4L)).toDF("src", "dst"), spark.emptyDataset[Long].toDF("id"))
      .as[(Long, Long)].collect().toMap
    // {5,6} ∪ {3,4} → min 3; {1,2} untouched
    assert(out(3L) == 3L && out(4L) == 3L && out(5L) == 3L && out(6L) == 3L)
    assert(out(1L) == 1L && out(2L) == 1L)
  }

  test("negative judgements veto merged components") {
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("id")
    val pos = Seq((1L, 2L), (3L, 4L)).toDF("src", "dst")
    val neg = Seq((1L, 2L)).toDF("a", "b")
    val out = ConnectedComponents.runWithNegatives(nodes, pos, neg)
      .as[(Long, Long, Boolean)].collect()
      .map { case (id, c, v) => id -> ((c, v)) }.toMap
    assert(out(1L)._2 && out(2L)._2)      // 1-2 merged but vetoed
    assert(!out(3L)._2 && !out(4L)._2)    // 3-4 clean
  }

  test("final attach bounds comp's bytes soundly when dst keys are long") {
    // 100 pairs (bNN -> a 201-byte root): comp holds Σ|src| + 3·Σ|dst| =
    // 300 + 3·20,100 = 60,600 bytes; 2·(Σ|src| + Σ|dst|) = 40,800 would
    // undercount it, so a 50,000-byte cap must keep comp unbroadcast.
    val pairs = (0 until 100).map(i => (f"b$i%02d", "a" + "x" * 197 + f"$i%03d"))
    val nodes = pairs.flatMap { case (b, r) => Seq(b, r) }.toDF("id")
    val expected = pairs.flatMap { case (b, r) => Seq(b -> r, r -> r) }.toMap
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    val thresholdWas = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // only the operator's hint may broadcast (a persisted round frame
    // carries real stats the planner would act on by itself)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(IterState.BytesConfKey, "50000")
    try {
      for (local <- Seq(true, false)) {
        def run() = ConnectedComponents.run(nodes, pairs.toDF("src", "dst"))
        val out = if (local) run() else aboveGate(run())
        val plan = out.queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastExchange"), s"local=$local\n$plan")
        assert(out.as[(String, String)].collect().toMap == expected, s"local=$local")
      }
    } finally {
      spark.conf.unset(IterState.BytesConfKey)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresholdWas)
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
    }
  }
}
