package graft.sources

import graft.model.Statement
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Statement fact-table IO (S1–S3, K2, T1).
  *
  * The reference streams per-dataset `statements.pack` files
  * (zavod/zavod/archive/__init__.py:92,292-314) and versioned artifact
  * paths (archive/__init__.py:337-352). Here the fact table is parquet,
  * hash-partitioned on disk by `dataset` so collection scans prune to the
  * member datasets and the `external` filter pushes down to the scan.
  *
  * Scale notes: `partitionBy("dataset")` gives partition pruning for
  * S2 collection scans (union of leaves = one multi-path read, no Spark
  * union needed); the boolean `external` predicate reaches parquet row
  * groups via predicate pushdown.
  */
object StatementIO {

  /** Write statements partitioned by dataset under `root/version/`. */
  def write(statements: Dataset[Statement], root: String, version: String): Unit =
    statements.write
      .mode(SaveMode.Overwrite)
      .partitionBy("dataset")
      .parquet(s"$root/$version")

  /** S1: scan one dataset's statements; `includeExternal=false` drops
    * enrichment candidates (archive/__init__.py:292-297). */
  def scan(
      spark: SparkSession,
      root: String,
      version: String,
      datasets: Seq[String],
      includeExternal: Boolean = false): Dataset[Statement] = {
    import spark.implicits._
    var df: DataFrame = spark.read
      .schema(org.apache.spark.sql.types.StructType(
        Statement.sparkSchema.filterNot(_.name == "dataset")))
      .option("basePath", s"$root/$version")
      .parquet(datasets.map(d => s"$root/$version/dataset=$d"): _*)
    if (!includeExternal) df = df.filter(!col("external"))
    df.select(Statement.sparkSchema.map(f => col(f.name)): _*).as[Statement]
  }

  /** S2: a collection is the union of its leaf datasets — expressed as a
    * single pruned multi-path scan rather than N unions. */
  def scanCollection(
      spark: SparkSession,
      root: String,
      version: String,
      leaves: Seq[String]): Dataset[Statement] =
    scan(spark, root, version, leaves)

  /** S3: previous-version scan (time-travel read over the versioned layout). */
  def scanVersion(
      spark: SparkSession,
      root: String,
      version: String): Dataset[Statement] = {
    import spark.implicits._
    spark.read.schema(Statement.sparkSchema).parquet(s"$root/$version").as[Statement]
  }

  /** Bucketed statement table: hash-bucketed AND sorted by canonicalId,
    * so every downstream canonical-id operation — entity assembly
    * (A1), delta joins (J6), referents (J4) — co-locates without a
    * shuffle: bucketed scans satisfy the join/aggregation distribution
    * requirement directly. At 100 TB this turns the biggest recurring
    * shuffle (statements → entities, every run) into a local sort-merge
    * over pre-bucketed files. */
  def writeBucketed(
      statements: Dataset[Statement],
      tableName: String,
      buckets: Int = 32): Unit =
    statements.write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, "canonicalId")
      .sortBy("canonicalId")
      .format("parquet")
      .saveAsTable(tableName)

  /** Publish: promote a finished version to `latest` — the reference's
    * archive copy to /datasets/latest (zavod/zavod/publish.py:63-94).
    * Copies `root/version[/dataset]` to `root/latest[/dataset]`; a
    * missing source (a run with no products) still creates `latest`, so
    * the marker records the version. A filesystem-level copy via the
    * Hadoop FS API so it works on any scheme (local, HDFS, object stores
    * with their committers). */
  def publishLatest(spark: SparkSession, root: String, version: String,
      dataset: String = ""): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    def at(v: String) = new org.apache.hadoop.fs.Path(
      if (dataset.isEmpty) s"$root/$v" else s"$root/$v/$dataset")
    val src = at(version)
    val dst = at("latest")
    val fs = src.getFileSystem(conf)
    if (fs.exists(dst)) fs.delete(dst, true)
    if (fs.exists(src)) org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, conf)
    else fs.mkdirs(dst)
    // marker recording which version latest points at
    val out = fs.create(new org.apache.hadoop.fs.Path(dst, "_VERSION"), true)
    out.write(version.getBytes("UTF-8"))
    out.close()
  }

  /** K2: statements CSV export, skipping the BASE existence prop, in
    * the FtM CSVStatementWriter column order with the derived
    * `prop_type` column (zavod/zavod/exporters/statements.py:9-30;
    * followthemoney statement CSV serialization). The (schema, prop) →
    * type table is model metadata inlined as a literal map — a codegen'd
    * lookup, no join. */
  def exportCsv(statements: Dataset[Statement], path: String): Unit = {
    import graft.model.FtmModel
    val typeOf: Map[String, String] = (for {
      s <- FtmModel.schemata.keys.toSeq
      (pn, pd) <- FtmModel.allProps(s)
      // registry names, not case-class names: an entity reference's FtM
      // type is "entity" (followthemoney registry; statements.py:24)
      tn = pd.ptype match {
        case FtmModel.PropType.EntityRef => "entity"
        case other => other.toString.toLowerCase
      }
    } yield s + "|" + pn -> tn).toMap
    val propType = coalesce(
      element_at(typedLit(typeOf), concat(col("schema"), lit("|"), col("prop"))),
      lit("string"))
    statements
      .filter(col("prop") =!= Statement.Base)
      .select(
        col("id"), col("entityId").as("entity_id"),
        col("canonicalId").as("canonical_id"), col("prop"),
        propType.as("prop_type"), col("schema"), col("value"),
        col("originalValue").as("original_value"), col("dataset"),
        col("lang"), col("origin"), col("external"),
        col("firstSeen").as("first_seen"), col("lastSeen").as("last_seen"))
      .write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
  }
}
