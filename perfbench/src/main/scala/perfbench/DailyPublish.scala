package perfbench

import graft.etl.Etl
import graft.model.{FtmModel, Statement}
import graft.operators._
import graft.sources.{Ingestion, StatementIO}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Raw crawl rows: parties (Person/Company) and links (Ownership/
  * Directorship edge entities whose endpoints are entity ids). */
final case class PartyRow(key: String, schema: String, name: String, alias: String,
    date: String, country: String, ident: String, topic: String)
final case class LinkRow(key: String, schema: String, src: String, dst: String,
    share: String, start: String)
final case class DecisionRow(a: String, b: String, judgement: String, user: String,
    decided_at: java.sql.Timestamp)

/** Two crawl versions of one dataset. `curr` differs from `prev` by the
  * planted adds, mods and deletes (parties only, never a duplicate);
  * `dups` pairs a party with its duplicate, merged by the decisions. */
final case class DailyData(
    prev: Seq[PartyRow], curr: Seq[PartyRow], links: Seq[LinkRow],
    dups: Seq[(String, String)], adds: Int, mods: Int, dels: Int) {
  def expectedEntities: Long = curr.size + links.size - dups.size
  def previousEntities: Long = prev.size + links.size - dups.size
  /** Statements the current crawl emits: one per non-null mapped value. */
  def currentStatements: Long =
    curr.map(p => 4 + Seq(p.alias, p.topic).count(_ != null)).sum +
      links.map(l => if (l.share == null) 3 else 4).sum
}

object DailyData {
  val Dataset = "perf"
  def id(key: String): String = s"$Dataset-$key"

  /** `parties` source parties plus a quarter as many links (links are
    * 20% of all entities); 2% of parties gain a duplicate; adds, mods
    * and deletes are 2%, 2% and 1% of all entities. */
  def generate(seed: Long, parties: Int): DailyData = {
    val r = new Rng(seed)
    def party(i: Int): PartyRow = {
      val person = r.chance(0.6)
      val name =
        if (person) s"${r.pick(Names.firsts)} ${Names.zipfSurname(r)}"
        else s"${Names.zipfSurname(r)} ${r.pick(Names.companySuffixes)}"
      // ~1 in 100 aliases is a bare number, which name cleaning rejects
      val alias =
        if (!r.chance(0.3)) null
        else if (r.chance(0.03)) r.between(1, 99).toString
        else if (person) s"${r.pick(Names.firsts)} ${Names.zipfSurname(r)}"
        else s"${Names.zipfSurname(r)} ${r.pick(Names.companySuffixes)}"
      val topic = if (r.chance(0.25)) "sanction" else if (r.chance(0.1)) "role.pep" else null
      PartyRow(f"e$i%07d", if (person) "Person" else "Company", name, alias,
        if (person) Names.date(r, 1940, 2000) else Names.date(r, 1970, 2024),
        r.pick(Names.countries), f"ID${r.int(100000000)}%08d", topic)
    }
    val base = (0 until parties).map(party)
    val persons = base.filter(_.schema == "Person").map(p => id(p.key))
    val companies = base.filter(_.schema == "Company").map(p => id(p.key))
    val links = (0 until parties / 4).map { i =>
      if (r.chance(0.7))
        LinkRow(f"l$i%07d", "Ownership", id(r.pick(base).key), r.pick(companies),
          r.between(1, 100).toString, Names.date(r, 2000, 2024))
      else
        LinkRow(f"l$i%07d", "Directorship", r.pick(persons), r.pick(companies),
          null, Names.date(r, 2000, 2024))
    }
    val total = parties + links.size
    val order = r.shuffle(base.indices)
    val nDups = (parties * 0.02).toInt
    val nAdds = (total * 0.02).toInt
    val nMods = (total * 0.02).toInt
    val nDels = (total * 0.01).toInt
    val dupOf = order.take(nDups)
    val adds = order.slice(nDups, nDups + nAdds).toSet
    val mods = order.slice(nDups + nAdds, nDups + nAdds + nMods).toSet
    val dels = order.slice(nDups + nAdds + nMods, nDups + nAdds + nMods + nDels).toSet
    val dupRows = dupOf.zipWithIndex.map { case (b, j) =>
      base(b).copy(key = f"d$j%07d", ident = f"ID${r.int(100000000)}%08d") }
    val modified = base.indices.map(i =>
      if (mods(i)) base(i).copy(name = base(i).name + " Novus") else base(i))
    DailyData(
      prev = base.indices.filterNot(adds).map(base) ++ dupRows,
      curr = modified.indices.filterNot(dels).map(modified) ++ dupRows,
      links = links,
      dups = dupOf.zip(dupRows).map { case (b, d) => (id(base(b).key), id(d.key)) },
      adds = nAdds, mods = nMods, dels = nDels)
  }
}

/** `daily_publish`: the scheduled `zavod run` — crawl rows through
  * `Ingestion.emit`, then `Etl.run` against the previous version with
  * all ten products, an entity-count assertion and the publish step. */
final class DailyPublish(spark: SparkSession, seed: Long, dataDir: String,
    parties: Int) extends Workload {
  import spark.implicits._
  import DailyData.Dataset

  private val inputs = s"$dataDir/inputs"
  private val archive = s"$dataDir/archive"
  private val prevRun = "2026-01-01 00:00:00"
  private val currRun = "2026-01-02 00:00:00"
  private val Previous = "previous"
  private val Genesis = "genesis"
  private var data: DailyData = _

  def generate(): Long = {
    data = DailyData.generate(seed, parties)
    val at = java.sql.Timestamp.valueOf("2025-12-01 00:00:00")
    data.prev.toDF().write.mode(SaveMode.Overwrite).parquet(s"$inputs/prev_parties")
    data.curr.toDF().write.mode(SaveMode.Overwrite).parquet(s"$inputs/curr_parties")
    data.links.toDF().write.mode(SaveMode.Overwrite).parquet(s"$inputs/links")
    data.dups.map { case (a, b) => DecisionRow(a, b, Resolver.Positive, "perfbench", at) }
      .toDF().write.mode(SaveMode.Overwrite).parquet(s"$inputs/decisions")
    Files.bytes(inputs)
  }

  private def read(name: String) = spark.read.parquet(s"$inputs/$name")
  private def decisions = read("decisions")

  /** `Ingestion.emit` over both entity families of one crawl. */
  private def emit(partyFile: String, runTime: String): DataFrame = {
    val parties = read(partyFile)
    val links = read("links")
    val p = Ingestion.emit(parties, Dataset, col("schema"), Seq(col("key")), Seq(
      Ingestion.PropMapping("name", "name", col("name")),
      Ingestion.PropMapping("alias", "name", col("alias")),
      Ingestion.PropMapping("birthDate", "date",
        when(col("schema") === "Person", col("date"))),
      Ingestion.PropMapping("incorporationDate", "date",
        when(col("schema") === "Company", col("date"))),
      Ingestion.PropMapping("country", "country", col("country")),
      Ingestion.PropMapping("registrationNumber", "identifier", col("ident")),
      Ingestion.PropMapping("topics", "topic", col("topic"))), lit(runTime))
    val l = Ingestion.emit(links, Dataset, col("schema"), Seq(col("key")), Seq(
      Ingestion.PropMapping("owner", "entity",
        when(col("schema") === "Ownership", col("src"))),
      Ingestion.PropMapping("asset", "entity",
        when(col("schema") === "Ownership", col("dst"))),
      Ingestion.PropMapping("director", "entity",
        when(col("schema") === "Directorship", col("src"))),
      Ingestion.PropMapping("organization", "entity",
        when(col("schema") === "Directorship", col("dst"))),
      Ingestion.PropMapping("percentage", "number", col("share")),
      Ingestion.PropMapping("startDate", "date", col("start"))), lit(runTime))
    p.unionByName(l)
  }

  private def config(version: String, previous: Option[String], runTime: String) =
    Etl.Config(Dataset, version, archive, runTime,
      assertions = Seq(Validators.Assertion("entity_count", "gte", "",
        if (version == Previous) data.previousEntities else data.expectedEntities)),
      previousVersion = previous)

  /** An empty store version for the previous version to diff against. */
  def stage(): Unit = {
    Files.delete(archive)
    StatementIO.write(spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      Statement.sparkSchema).as[Statement], s"$archive/statements", Genesis)
  }

  /** The warm-up op publishes the previous version: the same pipeline
    * and plans as a timed op, diffed against the empty genesis version.
    * Timed ops diff against the previous version. */
  override def warmUp(): Unit = {
    val res = Etl.run(spark, Ingestion.toStatements(emit("prev_parties", prevRun)), decisions,
      config(Previous, Some(Genesis), prevRun))
    require(res.entityCount == data.previousEntities,
      s"previous version: entities ${res.entityCount} != ${data.previousEntities}")
    require(Etl.DefaultExporters.toSet.subsetOf(res.products.keySet), "previous version: products")
    Files.delete(s"$archive/datasets/$Previous")
  }

  def inputRows: Long = data.currentStatements

  def op(i: Int): () => Checked = {
    val version = f"v$i%04d"
    val res = Etl.run(spark, Ingestion.toStatements(emit("curr_parties", currRun)),
      decisions, config(version, Some(Previous), currRun))
    () => check(res, version)
  }

  private def check(res: Etl.Result, version: String): Checked = {
    val products = s"$archive/datasets/$version"
    val store = s"$archive/statements/$version"
    try {
      require(res.entityCount == data.expectedEntities,
        s"entities ${res.entityCount} != ${data.expectedEntities}")
      val missing = Etl.DefaultExporters.filterNot(p =>
        res.products.get(p).exists(path => new java.io.File(path).exists))
      require(missing.isEmpty, s"missing products: ${missing.mkString(", ")}")
      val latest = Files.read(s"$archive/datasets/latest/$Dataset/_VERSION")
      require(latest == version, s"latest names $latest, not $version")
      val ops = spark.read.text(res.products("entities.delta.json"))
        .select(regexp_extract(col("value"), "^\\{\"op\":\"([A-Z]+)\"", 1).as("op"))
        .groupBy("op").count().as[(String, Long)].collect().toMap
      val planted = Map(Delta.OpAdd -> data.adds.toLong, Delta.OpMod -> data.mods.toLong,
        Delta.OpDel -> data.dels.toLong)
      require(ops == planted, s"delta $ops != planted $planted")
      val canonical = spark.read.parquet(store)
        .select(col("entityId"), col("canonicalId")).distinct()
        .as[(String, String)].collect().toMap
      val dupOf = data.dups.map { case (a, b) => b -> a }.toMap
      val truth = canonical.keys.map(id => id -> dupOf.getOrElse(id, id)).toMap
      Checked(Files.bytes(products) + Files.bytes(store), PairCounts(canonical, truth))
    } finally {
      Files.delete(products)
      Files.delete(store)
    }
  }

  /** Every (schema|prop) whose value is an entity id. */
  private lazy val refPairs: Seq[String] = (for {
    s <- FtmModel.schemata.keys.toSeq
    p <- FtmModel.entityRefProps(s)
  } yield s"$s|$p").sorted

  private def hashFrame(entities: DataFrame): DataFrame =
    entities.select(col("id"),
      Delta.entityHash(col("id"), col("schema"),
        flatten(transform(map_entries(col("properties")),
          e => transform(e.getField("value"),
            v => concat_ws("|", e.getField("key"), v))))).as("hash"))

  private def writeText(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).text(path)

  /** The op's stages one by one, each materialized inside its span,
    * then the whole op once more under the `etl.Etl.run` span. */
  def traced(t: Tracer, i: Int): Map[String, Double] = {
    val root = s"$dataDir/trace"
    val version = f"t$i%04d"
    val runTs = lit(currRun).cast("timestamp")
    try {
      val emitted = t.span("sources.Ingestion.emit") {
        emit("curr_parties", currRun).localCheckpoint(true)
      }
      val rowsOut = emitted.count()
      require(rowsOut == data.currentStatements,
        s"emitted $rowsOut statements, generator planted ${data.currentStatements}")
      val rejected = emitted.filter(col("value").isNull).count()
      val dec = decisions
      val ids = dec.select(col("a").as("id")).unionByName(dec.select(col("b").as("id"))).distinct()
      val mapping = t.span("operators.Resolver.canonicalize") {
        Resolver.canonicalize(ids, dec)
      }
      val remap = mapping.filter(col("canonical") =!= col("id"))
        .select(col("id").as("entityId"), col("canonical"))
      val clusters = remap.select("canonical").distinct().count()
      val isRef = concat_ws("|", col("schema"), col("prop")).isInCollection(refPairs)
      val canonicalized = Ingestion.toStatements(emitted).drop("canonicalId")
        .join(broadcast(remap), Seq("entityId"), "left")
        .withColumn("canonicalId", coalesce(col("canonical"), col("entityId")))
        .drop("canonical")
        .join(broadcast(remap.select(col("entityId").as("__v"), col("canonical").as("__c"))),
          isRef && col("value") === col("__v"), "left")
        .withColumn("value", coalesce(col("__c"), col("value")))
        .drop("__v", "__c")
      val prev = StatementIO.scanVersion(spark, s"$archive/statements", Previous).toDF()
      t.span("sources.StatementIO.write") {
        StatementIO.write(
          Delta.preserveFirstSeen(canonicalized, prev, runTs)
            .select(Statement.sparkSchema.map(f => col(f.name).cast(f.dataType)): _*)
            .as[Statement],
          s"$root/statements", version)
      }
      val writtenMb = Files.bytes(s"$root/statements/$version") / SpanListener.MiB
      val stored = StatementIO.scanVersion(spark, s"$root/statements", version).toDF()
      val entities = t.span("operators.EntityAssembler.assembleColumnar") {
        val e = EntityAssembler.assembleColumnar(stored.filter(!col("external")),
          trustCanonicalId = true).persist(StorageLevel.MEMORY_AND_DISK)
        e.count()
        e
      }
      val entityCount = entities.count()
      val issues = t.span("operators.Validators") {
        Validators.checkAssertions(entities, config(version, Some(Previous), currRun).assertions).collect()
        val dangling = Validators.danglingRefs(entities)
          .select(lit(Dataset).as("dataset"), lit("warning").as("level"),
            concat(col("src_id"), lit(" -> "), col("dst_id")).as("message"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        dangling.count()
        dangling
      }
      val dir = s"$root/products/$version"
      def sink(name: String)(body: => Unit): Unit =
        t.span(s"operators.Exporters.sink.$name")(body)
      sink("ftm_json") {
        writeText(entities.select(Exporters.ftmJsonLine(col("id"), col("schema"),
          col("properties")).as("json")).coalesce(1).sortWithinPartitions("json"),
          s"$dir/entities.ftm.json")
      }
      sink("names_txt") {
        writeText(Etl.namesTxt(entities).coalesce(1).sortWithinPartitions("name"),
          s"$dir/names.txt")
      }
      sink("simple_csv") {
        Exporters.simpleCsv(entities).coalesce(1).sortWithinPartitions("id")
          .write.mode(SaveMode.Overwrite).option("header", "true")
          .csv(s"$dir/targets.simple.csv")
      }
      sink("nested_json") {
        writeText(Exporters.nestedTargetJsonLines(entities).select("json").coalesce(1)
          .sortWithinPartitions("json"), s"$dir/targets.nested.json")
      }
      sink("senzing_json") {
        writeText(Exporters.senzingJsonLines(entities, Dataset).select("json").coalesce(1)
          .sortWithinPartitions("json"), s"$dir/senzing.json")
      }
      sink("statistics_json") {
        writeText(Statistics.statisticsJson(entities), s"$dir/statistics.json")
      }
      sink("statements_csv") {
        StatementIO.exportCsv(stored.as[Statement], s"$dir/statements.csv")
      }
      sink("delta_json") {
        val prevEntities = EntityAssembler.assembleColumnar(prev.filter(!col("external")),
          trustCanonicalId = true)
        val diff = Delta.diff(hashFrame(prevEntities), hashFrame(entities))
        writeText(Exporters.deltaJsonLines(diff, entities, prevEntities).select("json")
          .coalesce(1).sortWithinPartitions("json"), s"$dir/entities.delta.json")
      }
      sink("index_json") {
        writeText(Exporters.datasetIndexJson(stored, issues, version, currRun,
          resources = Etl.DefaultExporters.sorted).select("json"), s"$dir/index.json")
      }
      sink("catalog_json") {
        writeText(Exporters.catalog(stored).select("json").sortWithinPartitions("json"),
          s"$dir/catalog.json")
      }
      issues.unpersist(blocking = false)
      entities.unpersist(blocking = false)
      emitted.unpersist(blocking = false)
      val check = t.span("etl.Etl.run")(op(i))
      check()
      Map(
        "sources.Ingestion.emit.rows_out" -> rowsOut.toDouble,
        "sources.Ingestion.emit.rejected_ratio" -> rejected.toDouble / rowsOut,
        "operators.Resolver.canonicalize.clusters" -> clusters.toDouble,
        "sources.StatementIO.write.written_mb" -> writtenMb,
        "operators.EntityAssembler.assembleColumnar.entities" -> entityCount.toDouble)
    } finally Files.delete(root)
  }
}
