package perfbench

import graft.operators._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** An assembled entity row: (id, schema, properties). */
final case class EntityRow(id: String, schema: String, properties: Map[String, Seq[String]])

/** A directed ownership/control graph over numbered parties. Party `n`
  * has entity id `g-n`; every edge is an Ownership or Directorship
  * entity pointing from owner/director to asset/organization. */
final case class GraphData(parties: Int, edges: Seq[(Long, Long)], persons: Set[Long],
    seeds: Seq[Long]) {

  /** Plain-Scala reference: per-seed hop distances 1..maxHops. */
  def bfs(maxHops: Int): Set[(Long, Long, Long)] = {
    val out = edges.groupMap(_._1)(_._2)
    seeds.distinct.flatMap { s =>
      val dist = mutable.Map(s -> 0L)
      var frontier = Seq(s)
      var h = 0L
      while (frontier.nonEmpty && h < maxHops) {
        h += 1
        frontier = frontier.flatMap(out.getOrElse(_, Nil)).distinct.filterNot(dist.contains)
        frontier.foreach(dist(_) = h)
      }
      dist.collect { case (n, d) if d > 0 => (s, n, d) }
    }.toSet
  }

  /** Plain-Scala reference: weakly connected components (union-find),
    * labelled by their smallest party number. */
  def components: Map[Long, Long] = {
    val parent = Array.tabulate(parties + 1)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (1 to parties).map(n => n.toLong -> find(n).toLong).toMap
  }
}

object GraphData {
  /** About `edges` edges: corporate groups of 3-8 companies with a
    * parent, second-level subsidiaries and person directors; five hub
    * owners each holding 1-2% of all companies; and shell chains 10-20
    * deep, each headed by a sanctioned person. Seeds are the chain
    * heads, a sample of group parents and one hub. */
  def generate(seed: Long, edges: Int): GraphData = {
    val r = new Rng(seed)
    var next = 0L
    def party(): Long = { next += 1; next }
    val es = mutable.ArrayBuffer[(Long, Long)]()
    val persons = mutable.Set[Long]()
    val companies = mutable.ArrayBuffer[Long]()
    val parents = mutable.ArrayBuffer[Long]()
    val chainHeads = mutable.ArrayBuffer[Long]()
    val chainBudget = edges / 5
    while (es.size < chainBudget) {
      val head = party()
      persons += head
      chainHeads += head
      var prev = head
      (1 to r.between(10, 20)).foreach { _ =>
        val c = party()
        companies += c
        es += ((prev, c))
        prev = c
      }
    }
    val hubBudget = edges / 10
    while (es.size < edges - hubBudget) {
      val members = (1 to r.between(3, 8)).map(_ => party())
      companies ++= members
      parents += members.head
      members.tail.foreach { m =>
        val owner = if (r.chance(0.3)) members(r.int(members.indexOf(m))) else members.head
        es += ((owner, m))
      }
      (1 to r.between(1, 2)).foreach { _ =>
        val p = party()
        persons += p
        es += ((p, r.pick(members.toIndexedSeq)))
      }
    }
    val hubs = (1 to 5).map(_ => party())
    val hubCompanies = companies.toIndexedSeq
    while (es.size < edges) es += ((r.pick(hubs), r.pick(hubCompanies)))
    val seeds = chainHeads.toSeq ++ r.shuffle(parents.toIndexedSeq).take(chainHeads.size) :+ hubs.head
    GraphData(next.toInt, es.toSeq, persons.toSet, seeds)
  }

  def id(n: Long): String = s"g-$n"
}

/** `ownership_graph`: exposure analysis over an assembled entity frame
  * — reference edges, hop distances and betweenness from sanctioned
  * seeds, and weakly connected components over every party. */
final class OwnershipGraph(spark: SparkSession, seed: Long, dataDir: String,
    edgeCount: Int, maxHops: Int, betweennessHops: Int) extends Workload {
  import spark.implicits._

  private val inputs = s"$dataDir/entities"
  private var data: GraphData = _
  private var entities: DataFrame = _
  private var refBfs: Set[(Long, Long, Long)] = Set.empty
  private var refComponents: Map[Long, Long] = Map.empty

  def generate(): Long = {
    data = GraphData.generate(seed, edgeCount)
    val parties = (1L to data.parties).map { n =>
      val person = data.persons(n)
      EntityRow(GraphData.id(n), if (person) "Person" else "Company",
        Map("name" -> Seq(s"${if (person) "Person" else "Company"} $n")))
    }
    val links = data.edges.zipWithIndex.map { case ((a, b), k) =>
      if (data.persons(a) && k % 2 == 0)
        EntityRow(s"gl-$k", "Directorship",
          Map("director" -> Seq(GraphData.id(a)), "organization" -> Seq(GraphData.id(b))))
      else
        EntityRow(s"gl-$k", "Ownership", Map("owner" -> Seq(GraphData.id(a)),
          "asset" -> Seq(GraphData.id(b)), "percentage" -> Seq((10 + k % 90).toString)))
    }
    (parties ++ links).toDF().write.mode(SaveMode.Overwrite).parquet(inputs)
    Files.bytes(inputs)
  }

  /** Persist the entity frame and compute the references once. */
  def stage(): Unit = {
    entities = spark.read.parquet(inputs).persist(StorageLevel.MEMORY_AND_DISK)
    entities.count()
    refBfs = data.bfs(maxHops)
    refComponents = data.components
  }

  def inputRows: Long = data.edges.size.toLong

  private def party(c: String) = substring_index(col(c), "-", -1).cast("long")

  /** Owner → asset and director → organization edges between parties. */
  private def partyEdges(): DataFrame = {
    val ends = Adjacency.refEdges(entities)
    val from = ends.filter(col("prop").isin("owner", "director"))
      .select(col("src_id").as("link"), party("dst_id").as("src"))
    val to = ends.filter(col("prop").isin("asset", "organization"))
      .select(col("src_id").as("link"), party("dst_id").as("dst"))
    from.join(to, "link").select("src", "dst")
  }

  private def seeds = data.seeds.toDF("seed")
  private def nodes = entities.filter(col("schema").isin("Person", "Company"))
    .select(party("id").as("id"))

  private def betweenness(edges: DataFrame): DataFrame =
    Centrality.betweenness(edges, seeds, betweennessHops)
      .groupBy(col("node")).agg(sum(col("dep")).as("score"))

  def op(i: Int): () => Checked = {
    val out = s"$dataDir/out/$i"
    val edges = partyEdges().persist(StorageLevel.MEMORY_AND_DISK)
    try {
      Centrality.bfsDistances(edges, seeds, maxHops)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/distances")
      betweenness(edges).write.mode(SaveMode.Overwrite).parquet(s"$out/betweenness")
      ConnectedComponents.run(nodes, edges)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/components")
    } finally edges.unpersist(blocking = false)
    () => check(out)
  }

  private def check(out: String): Checked =
    try {
      val dist = spark.read.parquet(s"$out/distances")
        .select(col("seed"), col("node"), col("dist")).as[(Long, Long, Long)].collect().toSet
      require(dist == refBfs, s"distances: ${dist.size} rows, reference ${refBfs.size}, " +
        s"${(dist diff refBfs).size} differ")
      val scored = spark.read.parquet(s"$out/betweenness").count()
      require(scored > 0, "no betweenness scores")
      val comp = spark.read.parquet(s"$out/components")
        .select(col("id"), col("component")).as[(Long, Long)].collect().toMap
      val expected = refComponents.values.toSet.size
      require(comp.values.toSet.size == expected,
        s"${comp.values.toSet.size} components, reference $expected")
      Checked(Files.bytes(out), PairCounts(comp, refComponents))
    } finally Files.delete(out)

  def traced(t: Tracer, i: Int): Map[String, Double] = {
    val out = s"$dataDir/out/$i"
    val edges = t.span("operators.Adjacency.refEdges") {
      val e = partyEdges().persist(StorageLevel.MEMORY_AND_DISK)
      e.count()
      e
    }
    try {
      val edgeRows = edges.count()
      t.span("operators.Centrality.bfsDistances") {
        Centrality.bfsDistances(edges, seeds, maxHops)
          .write.mode(SaveMode.Overwrite).parquet(s"$out/distances")
      }
      val reached = spark.read.parquet(s"$out/distances").count()
      t.span("operators.Centrality.betweenness") {
        betweenness(edges).write.mode(SaveMode.Overwrite).parquet(s"$out/betweenness")
      }
      t.span("operators.ConnectedComponents.run") {
        ConnectedComponents.run(nodes, edges)
          .write.mode(SaveMode.Overwrite).parquet(s"$out/components")
      }
      val components = spark.read.parquet(s"$out/components")
        .select("component").distinct().count()
      check(out)
      Map(
        "operators.Adjacency.refEdges.edges" -> edgeRows.toDouble,
        "operators.Centrality.bfsDistances.reached_pairs" -> reached.toDouble,
        "operators.ConnectedComponents.run.components" -> components.toDouble)
    } finally edges.unpersist(blocking = false)
  }
}
