package perfbench

import graft.operators._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** One source record; `cluster` is the generator's truth (the id of
  * the real-world party it describes) and never reaches the engine. */
final case class XrefRow(id: String, dataset: String, schema: String, name: String,
    country: String, year: String, inn: String, lei: String)

object XrefData {
  /** `n` records over five datasets. About 10% sit in planted clusters
    * of 2-5 records, each variant a typo, case change, token-order swap
    * or an extra middle initial; surnames are Zipf-skewed. Returns the
    * records with their true cluster ids. */
  def generate(seed: Long, n: Int): Seq[(XrefRow, String)] = {
    val r = new Rng(seed)
    val datasets = IndexedSeq("ds1", "ds2", "ds3", "ds4", "ds5")
    def identity(): XrefRow = {
      val country = r.pick(Names.countries)
      if (r.chance(0.75)) {
        val middle = if (r.chance(0.6)) s" ${r.pick(Names.firsts)}" else ""
        XrefRow(null, null, "Person", s"${r.pick(Names.firsts)}$middle ${Names.zipfSurname(r)}",
          country, r.between(1940, 2000).toString,
          if (country == "ru") f"${r.int(1000000000)}%010d" else null, null)
      } else
        XrefRow(null, null, "Company",
          s"${Names.zipfSurname(r)} ${Names.zipfSurname(r)} ${r.pick(Names.companySuffixes)}",
          country, r.between(1970, 2024).toString, null,
          if (r.chance(0.5)) f"LEI${r.int(1000000000)}%010d" else null)
    }
    def variant(x: XrefRow): XrefRow = {
      val toks = x.name.split(" ")
      r.int(4) match {
        case 0 => // one-letter typo in the last token, never its first letter
          val last = toks.last
          val pos = 1 + r.int(last.length - 1)
          val c = ('a' + r.int(26)).toChar
          val typo = last.substring(0, pos) + c + last.substring(pos + 1)
          x.copy(name = (toks.init :+ typo).mkString(" "))
        case 1 => x.copy(name = x.name.toUpperCase)
        case 2 => x.copy(name = (toks.last +: toks.init).mkString(" "))
        case _ => x.copy(name = s"${toks.head} ${('A' + r.int(26)).toChar}. ${toks.tail.mkString(" ")}")
      }
    }
    val out = scala.collection.mutable.ArrayBuffer[(XrefRow, String)]()
    var c = 0
    while (out.size < n) {
      val base = identity()
      val size = if (r.chance(0.1 / 3.5)) math.min(r.between(2, 5), n - out.size) else 1
      (0 until size).foreach { k =>
        val rec = if (k == 0) base else variant(base)
        val id = f"x${out.size}%07d"
        out += ((rec.copy(id = id, dataset = r.pick(datasets)), f"c$c%07d"))
      }
      c += 1
    }
    out.toSeq
  }
}

/** `xref_dedupe`: cross-dataset duplicate resolution — blocking,
  * scoring, per-record top-k, rule-based auto decisions, and the
  * resolver's connected components over every record. */
final class XrefDedupe(spark: SparkSession, seed: Long, dataDir: String,
    records: Int) extends Workload {
  import spark.implicits._

  private val inputs = s"$dataDir/records"
  private val maxDf = 50L
  private val mergeScore = 0.7
  private var truth: Map[String, String] = Map.empty

  def generate(): Long = {
    val rows = XrefData.generate(seed, records)
    truth = rows.map { case (x, c) => x.id -> c }.toMap
    rows.map(_._1).toDF().write.mode(SaveMode.Overwrite).parquet(inputs)
    Files.bytes(inputs)
  }

  def stage(): Unit = ()
  def inputRows: Long = records.toLong

  private def arr(c: String) = array_compact(array(col(c)))

  private def candidates(recs: DataFrame): DataFrame =
    Blocking.candidates(recs, recs, col("id"), col("name"), col("id"), col("name"), maxDf)
      .filter(col("subject_id") =!= col("target_id"))
      .select(col("subject_id"), col("target_id"))

  private def score(recs: DataFrame, pairs: DataFrame): DataFrame = {
    val feats = recs.select(col("id"), array(col("name")), arr("country"), arr("year"),
      array_compact(array(col("inn"), col("lei"))))
    Matcher.score(pairs, feats, feats)
  }

  /** Rule-based decisions first (identifier matches), then the score. */
  private def decide(recs: DataFrame, kept: DataFrame): DataFrame = {
    def side(p: String) = recs.select(col("id").as(s"${p}_id"), col("schema").as(s"${p}_schema"),
      array(col("name")).as(s"${p}_names"), arr("country").as(s"${p}_cty"),
      arr("inn").as(s"${p}_inn"), arr("lei").as(s"${p}_lei"))
    val none = array().cast("array<string>")
    kept.join(side("l"), col("subject_id") === col("l_id"))
      .join(side("r"), col("target_id") === col("r_id"))
      .withColumn("auto", AutoMerge.decide(
        when(col("l_schema") === col("r_schema"), col("l_schema")).otherwise(lit("Thing")),
        none, none, col("l_names"), col("r_names"), none, none,
        col("l_cty"), col("r_cty"), col("l_inn"), col("r_inn"), none, none,
        col("l_lei"), col("r_lei"), none, none))
      .select(col("subject_id").as("a"), col("target_id").as("b"),
        coalesce(col("auto.decision"),
          when(col("score") >= mergeScore, lit(Resolver.Positive))).as("judgement"),
        col("auto.decision").isNotNull.as("auto"))
      .filter(col("judgement").isNotNull)
      .withColumn("user", lit("perfbench"))
      .withColumn("decided_at", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
  }

  def op(i: Int): () => Checked = {
    val recs = spark.read.parquet(inputs)
    val kept = Blocking.topK(score(recs, candidates(recs)), k = 5, cutoff = 0.5)
    val mapping = Resolver.canonicalize(recs.select("id"), decide(recs, kept).drop("auto"))
    val out = s"$dataDir/out/$i"
    mapping.write.mode(SaveMode.Overwrite).parquet(out)
    () => check(out)
  }

  /** The mapping must be a partition of the record ids. */
  private def check(out: String): Checked =
    try {
      val rows = spark.read.parquet(out).as[(String, String)].collect()
      val mapping = rows.toMap
      require(rows.length == mapping.size, "an id is mapped twice")
      require(mapping.keySet == truth.keySet,
        s"mapping covers ${mapping.size} ids, not the ${truth.size} records")
      require(mapping.forall { case (_, c) => mapping.get(c).contains(c) },
        "a canonical id is not its own cluster's member")
      Checked(Files.bytes(out), PairCounts(mapping, truth))
    } finally Files.delete(out)

  def traced(t: Tracer, i: Int): Map[String, Double] = {
    val recs = spark.read.parquet(inputs)
    val cands = t.span("operators.Blocking.candidates")(candidates(recs).localCheckpoint(true))
    val candidatePairs = cands.count()
    val truthDf = truth.toSeq.toDF("id", "cluster")
    val usefulPairs = cands
      .join(truthDf.select(col("id").as("subject_id"), col("cluster").as("sc")), "subject_id")
      .join(truthDf.select(col("id").as("target_id"), col("cluster").as("tc")), "target_id")
      .filter(col("sc") === col("tc")).count()
    val scored = t.span("operators.Matcher.score")(score(recs, cands).localCheckpoint(true))
    val kept = t.span("operators.Blocking.topK") {
      Blocking.topK(scored, k = 5, cutoff = 0.5).localCheckpoint(true)
    }
    val decisions = t.span("operators.AutoMerge.decide")(decide(recs, kept).localCheckpoint(true))
    val auto = decisions.filter(col("auto")).count()
    val mapping = t.span("operators.Resolver.canonicalize") {
      Resolver.canonicalize(recs.select("id"), decisions.drop("auto"))
    }
    val clusters = mapping.groupBy("canonical").count().filter(col("count") > 1).count()
    val out = s"$dataDir/out/$i"
    mapping.write.mode(SaveMode.Overwrite).parquet(out)
    check(out)
    Map(
      "operators.Blocking.candidates.candidate_pairs" -> candidatePairs.toDouble,
      "operators.Blocking.candidates.true_pair_ratio" ->
        usefulPairs.toDouble / math.max(1L, candidatePairs),
      "operators.Blocking.topK.kept_pairs" -> kept.count().toDouble,
      "operators.AutoMerge.decide.auto_decisions" -> auto.toDouble,
      "operators.Resolver.canonicalize.clusters" -> clusters.toDouble)
  }
}
