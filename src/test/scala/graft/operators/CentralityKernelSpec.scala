package graft.operators

import graft.SparkSpec
import org.apache.spark.SparkThrowable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The local seed kernel of `bfsDistances`, `shortestPathCounts` and
  * `betweenness` against their join paths. The byte gate is forced each
  * way through `spark.graft.iterBroadcastBytes`: unset, the small graphs
  * here pass it; at 1 byte no edge frame does. Graphs are fixed-seed
  * scalacheck multigraphs with self-loops, parallel edges and null
  * endpoints; each property run unions several of them as disjoint
  * components, so one pair of runs covers many graphs. */
class CentralityKernelSpec extends SparkSpec {
  import spark.implicits._

  /** A component: nodes 0 until n, edges that may repeat, loop or carry
    * a null end, and seeds drawn from 0 until 2n, so some are missing
    * from the graph and some repeat. */
  private val component: Gen[(Seq[(Option[Long], Option[Long])], Seq[Long])] = for {
    n <- Gen.chooseNum(2, 8)
    end = Gen.frequency(18 -> Gen.chooseNum(0L, n - 1L).map(Option(_)), 1 -> Gen.const(None))
    base <- Gen.listOfN(2 * n, Gen.zip(end, end))
    parallel <- Gen.someOf(base)
    seeds <- Gen.listOfN(3, Gen.chooseNum(0L, 2L * n - 1))
  } yield (base ++ parallel, seeds)

  private def graphs(hops: Int): (DataFrame, DataFrame) = {
    val comps = (0 until 6).flatMap(c =>
      component(Gen.Parameters.default, Seed(1000L * hops + c)).map(c -> _))
    def shift(c: Int)(v: Option[Long]) = v.map(_ + 100L * c)
    val edges = comps.flatMap { case (c, (es, _)) =>
      es.map { case (a, b) => (shift(c)(a), shift(c)(b)) } }
    val seeds = comps.flatMap { case (c, (_, ss)) => ss.map(s => Option(s + 100L * c)) }
    (edges.toDF("src", "dst"), (seeds :+ None).toDF("id"))
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def sameBothWays(what: String, run: () => DataFrame): Unit = {
    val local = run()
    val join = aboveGate(run())
    assert(local.schema == join.schema, what)
    assert(rows(local) == rows(join), what)
  }

  private def allThree(tag: String, edges: DataFrame, seeds: DataFrame,
      hops: Int, scale: Long): Unit = {
    sameBothWays(s"bfsDistances $tag",
      () => Centrality.bfsDistances(edges, seeds, hops))
    sameBothWays(s"shortestPathCounts $tag",
      () => Centrality.shortestPathCounts(edges, seeds, hops))
    sameBothWays(s"betweenness $tag",
      () => Centrality.betweenness(edges, seeds, hops, scale))
  }

  test("kernel = join path on random multigraphs, maxHops 0-4") {
    (0 to 4).foreach { hops =>
      val (edges, seeds) = graphs(hops)
      // a small scale makes the per-edge floor bite
      allThree(s"maxHops $hops", edges, seeds, hops,
        if (hops % 2 == 0) 7L else 1000000L)
      if (hops == 0) assert(Centrality.betweenness(edges, seeds, 0).isEmpty)
    }
  }

  test("kernel = join path when distinct string seeds cast to one id") {
    // "3" and "03" are two distinct seeds with one id: the join path
    // starts that seed with two dist-0 rows, so σ doubles
    val (edges, _) = graphs(3)
    val seeds = Seq(Some("3"), Some("03"), Some("5"), Some("5"), None).toDF("id")
    allThree("string seeds", edges, seeds, 3, 7L)
  }

  /** The message of the first error in `e`'s cause chain with `condition`. */
  private def failure(condition: String)(body: => Any): SparkThrowable = {
    val e = intercept[Exception](body)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case t: SparkThrowable if t.getCondition == condition => t }
      .getOrElse(fail(s"no $condition in", e))
  }

  test("an overflowing sigma*(scale+dep) fails with the same raise_error message") {
    // σ(2) = σ(3) = 3 over three parallel edges; at scale Long.MaxValue/2
    // the one DAG edge 2→3 overflows: 3 > MaxValue div scale = 2
    val edges = Seq((1L, 2L), (1L, 2L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val scale = Long.MaxValue / 2
    def raised = failure("USER_RAISED_EXCEPTION") {
      Centrality.betweenness(edges, seeds, 2, scale).collect()
    }.asInstanceOf[Throwable].getMessage
    val local = raised
    assert(local.contains(s"sigma=3, dep=0, scale=$scale"), local)
    assert(aboveGate(raised) == local)
  }

  test("an overflowing path count fails as an ANSI sum on both paths") {
    // ten layers of 8 nodes, 8 parallel edges between consecutive
    // layers' nodes: σ grows 64× per layer and passes 2^63 at hop 11
    val w = 8
    def node(layer: Int, i: Int) = layer * 100L + i
    val edges = ((0 until w).flatMap(i => Seq.fill(w)((0L, node(1, i)))) ++
      (1 until 11).flatMap(l => for {
        i <- 0 until w; j <- 0 until w; _ <- 0 until w
      } yield (node(l, i), node(l + 1, j)))).toDF("src", "dst")
    val seeds = Seq(0L).toDF("id")
    def overflow = failure("ARITHMETIC_OVERFLOW") {
      Centrality.shortestPathCounts(edges, seeds, 11).collect()
    }.getMessageParameters.get("message")
    assert(overflow == "long overflow")
    assert(aboveGate(overflow) == "long overflow")
    // one hop less fits, and both paths agree on it
    sameBothWays("10 hops", () => Centrality.shortestPathCounts(edges, seeds, 10))
  }

  test("kernel jobs and join rounds carry descriptions; the caller's is restored") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(seen.add)
    }
    val sc = spark.sparkContext
    // two partitions of 10 and 2 edges; a gate of exactly 12 rows gives
    // each a share of 6, so the first collect returns the small one only
    // and a second collects the other
    val big = (1L to 10L).map(i => (i % 4, (i * 3) % 5))
    val edges = sc.parallelize(big, 1).union(sc.parallelize(Seq((0L, 2L), (2L, 0L)), 1))
      .toDF("src", "dst")
    val seeds = Seq(0L, 1L, 3L).toDF("id")
    def count(d: String) = seen.toArray(Array.empty[String]).count(_ == d)
    /** Waits for the listener bus to deliver `d`'s job start. */
    def await(d: String): Unit = {
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (count(d) == 0 && System.nanoTime() < deadline) Thread.sleep(50)
    }
    sc.addSparkListener(listener)
    sc.setJobDescription("caller")
    try {
      spark.conf.set(IterState.BytesConfKey, (12 * 16).toString)
      val out = try Centrality.betweenness(edges, seeds, 3)
        finally spark.conf.unset(IterState.BytesConfKey)
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      await("Centrality.betweenness: local kernel")
      assert(count("Centrality.betweenness: collect edges") == 2)
      assert(out.rdd.getNumPartitions ==
        spark.conf.get("spark.sql.shuffle.partitions").toInt)
      assert(rows(out) == rows(aboveGate(Centrality.betweenness(edges, seeds, 3))))
      aboveGate(Centrality.bfsDistances(edges, seeds, 2))
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      Seq("Centrality.betweenness: round 3", "Centrality.betweenness: backward round 1",
          "Centrality.bfsDistances: round 2").foreach { d =>
        await(d)
        assert(count(d) > 0, d)
      }
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }
}
