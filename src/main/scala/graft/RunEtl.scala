package graft

import graft.etl.Etl
import graft.operators.Validators.Assertion
import org.apache.spark.sql.{Row, SparkSession}

/** Operational CLI shell for [[graft.etl.Etl.run]] — the engine's
  * analog of the reference's `zavod run <dataset.yml>` entry point
  * (zavod/zavod/cli/etl.py:95-154): parse a dataset spec, run the full
  * crawl-output → publish pipeline, exit with a code the scheduler can
  * gate on. The spec is a single-object JSON file read through
  * `spark.read.json` (the engine's own parser — no extra config
  * dependency):
  *
  * {{{
  * {"name": "my_dataset", "version": "v1",
  *  "out_root": "/data/archive", "run_time": "2026-01-01 00:00:00",
  *  "statements": "/data/crawl/statements.parquet",
  *  "decisions": "/data/resolver/decisions.parquet",   // optional
  *  "previous_version": "v0",                           // optional
  *  "exporters": ["entities.ftm.json", "names.txt"],    // optional
  *  "buckets": 32,                                      // optional
  *  "bucketed_store_prefix": "mystore",                 // optional
  *  "assertions": [                                     // optional
  *    {"metric": "entity_count", "comparison": "gte",
  *     "key": "", "threshold": 1}]}
  * }}}
  *
  * Exit codes, mirroring the reference's fail-fast contract: 0 =
  * published; 2 = the assertion gate aborted the run (failed GTE —
  * validators/assertions.py:156-183); 3 = a product sink exceeded the
  * timeout; 64 = unusable spec; 1 = any other failure. */
object RunEtl {

  /** Parse the spec and run the pipeline on an existing session.
    * Returns the process exit code — separated from [[main]] so
    * EtlSpec drives the full CLI path in-JVM. */
  def execute(spark: SparkSession, specPath: String): Int = {
    import spark.implicits._
    try {
      val specDf = spark.read.option("multiLine", true).json(specPath)
      val spec = specDf.first()
      val fields = spec.schema.fieldNames.toSet
      def has(f: String) = fields.contains(f) && !spec.isNullAt(spec.fieldIndex(f))
      def str(f: String): String = {
        require(has(f), s"dataset spec is missing required field '$f'")
        spec.getAs[String](f)
      }
      def optStr(f: String): Option[String] =
        if (has(f)) Some(spec.getAs[String](f)) else None
      val assertions: Seq[Assertion] =
        if (!has("assertions")) Seq.empty
        else spec.getSeq[Row](spec.fieldIndex("assertions")).map { a =>
          Assertion(a.getAs[String]("metric"), a.getAs[String]("comparison"),
            Option(a.getAs[String]("key")).getOrElse(""),
            a.getAs[Long]("threshold"))
        }
      val exporters =
        if (has("exporters")) spec.getSeq[String](spec.fieldIndex("exporters"))
        else Etl.DefaultExporters
      val statements = spark.read.parquet(str("statements"))
      val decisions = optStr("decisions")
        .map(spark.read.parquet(_))
        .getOrElse(Seq.empty[(String, String, String, String, java.sql.Timestamp)]
          .toDF("a", "b", "judgement", "user", "decided_at"))
      val cfg = Etl.Config(
        datasetName = str("name"),
        version = str("version"),
        outRoot = str("out_root"),
        runTime = str("run_time"),
        assertions = assertions,
        exporters = exporters,
        previousVersion = optStr("previous_version"),
        bucketedStorePrefix = optStr("bucketed_store_prefix"),
        buckets = if (has("buckets")) spec.getAs[Long]("buckets").toInt else 32)
      val res = Etl.run(spark, statements, decisions, cfg)
      println(s"[run-etl] published ${cfg.datasetName} ${res.version}: " +
        s"${res.entityCount} entities, ${res.products.size} products at " +
        res.productDir +
        (if (res.danglingRefCount > 0)
          s" (warning: ${res.danglingRefCount} dangling refs)" else ""))
      0
    } catch {
      case e: Etl.ValidationFailedException =>
        System.err.println(s"[run-etl] BLOCKED by assertion gate: ${e.getMessage}")
        2
      case e: Etl.ProductTimeoutException =>
        System.err.println(s"[run-etl] product timeout: ${e.getMessage}")
        3
      case e: IllegalArgumentException =>
        System.err.println(s"[run-etl] bad dataset spec: ${e.getMessage}")
        64
      case e: Throwable =>
        System.err.println(s"[run-etl] failed: $e")
        1
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.length != 1) {
      System.err.println("usage: graft.RunEtl <dataset.json>")
      sys.exit(64)
    }
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val code = try execute(spark, args(0)) finally spark.stop()
    sys.exit(code)
  }
}
