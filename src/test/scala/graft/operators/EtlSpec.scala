package graft.operators

import graft.SparkSpec
import graft.etl.Etl
import graft.operators.Validators.Assertion
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Integration spec for the end-to-end ETL runner (the `zavod run`
  * analog — zavod/zavod/cli/etl.py:95-154): publish layout, assertion
  * gate fail-fast, first_seen preservation + delta across versions,
  * canonicalization through the resolver journal, and release of the
  * shared entity cache.
  */
class EtlSpec extends SparkSpec {
  import spark.implicits._

  private def stmts(rows: Seq[(String, String, String, String)], ts: String): DataFrame =
    rows.toDF("entityId", "prop", "value", "schema")
      .select(
        md5(concat_ws("|", lit("t"), col("entityId"), col("prop"), col("value"))).as("id"),
        col("entityId"), col("entityId").as("canonicalId"),
        col("prop"), col("schema"), col("value"),
        lit("t").as("dataset"), lit("en").as("lang"), lit("crawl").as("origin"),
        col("value").as("originalValue"),
        lit(ts).cast("timestamp").as("firstSeen"),
        lit(ts).cast("timestamp").as("lastSeen"),
        lit(false).as("external"))

  private val noDecisions =
    Seq.empty[(String, String, String, String, java.sql.Timestamp)]
      .toDF("a", "b", "judgement", "user", "decided_at")

  private def tmpRoot(tag: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"graft-etl-$tag")
    p.toFile.deleteOnExit(); p.toString
  }

  private val baseRows = Seq(
    ("e1", "name", "Alpha Corp", "Company"),
    ("e1", "country", "de", "Company"),
    ("e2", "name", "Bob Person", "Person"),
    ("e2", "topics", "sanction", "Person"),
    ("e3", "name", "Bob P. Duplicate", "Person"))

  test("run publishes the versioned layout, latest copy and success marker") {
    val root = tmpRoot("publish")
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val res = Etl.run(spark, stmts(baseRows, "2025-01-01 00:00:00"), noDecisions,
      Etl.Config("t", "v1", root, "2025-01-01 00:00:00",
        assertions = Seq(Assertion("entity_count", "gte", "", 1L))))
    assert(res.entityCount === 3)
    assert(res.products.size === Etl.DefaultExporters.size)
    for (p <- Etl.DefaultExporters) {
      assert(new java.io.File(s"$root/datasets/v1/t/$p").exists(), s"versioned $p")
      assert(new java.io.File(s"$root/datasets/latest/t/$p").exists(), s"latest $p")
    }
    val marker = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/datasets/latest/t/_VERSION")), "UTF-8")
    assert(marker === "v1")
    val state = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/state/t/last_successful_version")), "UTF-8")
    assert(state === "v1")
    // single-assembly invariant: the shared entity cache is released
    // (scoped to THIS run — the shared test session may carry other
    // suites' checkpoints)
    assert(spark.sparkContext.getPersistentRDDs.keySet
      .subsetOf(persistedBefore))
  }

  test("a run with no exporters still promotes latest/_VERSION") {
    val root = tmpRoot("noexporters")
    val res = Etl.run(spark, stmts(baseRows, "2025-01-01 00:00:00"), noDecisions,
      Etl.Config("t", "v1", root, "2025-01-01 00:00:00", exporters = Seq.empty))
    assert(res.entityCount === 3 && res.products.isEmpty)
    def read(p: String) = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
    assert(read(s"$root/datasets/latest/t/_VERSION") === "v1")
    assert(read(s"$root/state/t/last_successful_version") === "v1")
  }

  test("the result carries one wall per stage, in run order") {
    val res = Etl.run(spark, stmts(baseRows, "2025-01-01 00:00:00"), noDecisions,
      Etl.Config("t", "v1", tmpRoot("stages"), "2025-01-01 00:00:00", exporters = Seq.empty))
    assert(res.stageSeconds.keys.toSeq === Seq("canonicalize", "enrich", "store",
      "assemble", "validate", "products", "publish"))
    assert(res.stageSeconds.values.forall(_ >= 0.0))
  }

  test("fatal GTE assertion aborts before any product is written") {
    val root = tmpRoot("abort")
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val ex = intercept[Etl.ValidationFailedException] {
      Etl.run(spark, stmts(baseRows, "2025-01-01 00:00:00"), noDecisions,
        Etl.Config("t", "v1", root, "2025-01-01 00:00:00",
          assertions = Seq(
            Assertion("entity_count", "gte", "", 1000L),
            Assertion("schema_entities", "lte", "Person", 0L)))) // LTE fails but is non-fatal
    }
    // only the GTE failure aborts (validators/assertions.py:156-183)
    assert(ex.failures.size === 1)
    assert(ex.failures.head.contains("entity_count"))
    assert(!new java.io.File(s"$root/datasets/v1/t").exists())
    assert(!new java.io.File(s"$root/state/t/last_successful_version").exists())
    assert(spark.sparkContext.getPersistentRDDs.keySet
      .subsetOf(persistedBefore))
  }

  test("an empty dataset runs to completion with empty products (EmptyValidator analog)") {
    val root = tmpRoot("empty")
    val res = Etl.run(spark, stmts(Seq.empty, "2025-01-01 00:00:00"), noDecisions,
      Etl.Config("t", "v1", root, "2025-01-01 00:00:00"))
    assert(res.entityCount === 0)
    for (p <- Etl.DefaultExporters)
      assert(new java.io.File(s"$root/datasets/latest/t/$p").exists(), s"latest $p")
    assert(spark.read.text(s"$root/datasets/latest/t/entities.ftm.json").count() === 0)
  }

  test("issue log: crawl issues + dangling-ref warnings publish as issues.json and index issue_levels") {
    val root = tmpRoot("issues")
    // e9 references a missing entity via an entity-ref prop
    val rows = baseRows :+ (("e9", "entity", "ghost-id", "Sanction"))
    val crawlIssues = Seq(("t", "error", "bad date in row 7")).toDF("dataset", "level", "message")
    val res = Etl.run(spark, stmts(rows, "2025-01-01 00:00:00"), noDecisions,
      Etl.Config("t", "v1", root, "2025-01-01 00:00:00",
        // a failed LTE assertion warns without aborting
        assertions = Seq(Assertion("schema_entities", "lte", "Person", 1L))),
      crawlIssues = Some(crawlIssues))
    assert(res.danglingRefCount === 1)
    assert(res.products.contains("issues.json"))
    val issueLines = spark.read.text(s"$root/datasets/latest/t/issues.json")
      .as[String].collect().toSeq
    assert(issueLines.size === 3)
    assert(issueLines.exists(l => l.contains("\"error\"") && l.contains("bad date")))
    assert(issueLines.exists(l => l.contains("\"warning\"") && l.contains("ghost-id")))
    assert(issueLines.exists(l => l.contains("assertion failed") && l.contains("schema_entities")))
    val index = spark.read.text(s"$root/datasets/latest/t/index.json")
      .as[String].collect().head
    assert(index.contains(""""issue_levels":{"error":1,"warning":2}"""))
    assert(index.contains(""""issue_count":3"""))
  }

  test("enrichment stage: cluster-aware judgement gate, same-id short-circuit, route precedence") {
    val root = tmpRoot("enrich")
    // subject cluster {s1, s9} merged by decision; s3/s4/s5/s6 single
    val subjRows = Seq(
      ("s1", "name", "Acme Trading", "Company"),
      ("s9", "name", "Acme Trading Holdings", "Company"),
      ("s3", "name", "Crimson Widgets", "Company"),
      ("s4", "name", "Delta Works", "Company"),
      ("s5", "name", "Echo Foxtrot", "Company"),
      ("s6", "name", "Echo Foxtrot Group", "Company"))
    // external target store (dataset "ext"):
    //  tA judged POSITIVE against the NON-canonical member s9
    //  tN judged NEGATIVE against the NON-canonical member s9
    //  t3 unjudged (external candidate)
    //  s4 present under the SUBJECT's own id (same-id short-circuit)
    //  tP matched by two subjects: POSITIVE via s5, unjudged via s6
    val tgtRows = Seq(
      ("tA", "name", "Trading Acme", "Company"),
      ("tA", "registrationNumber", "R123", "Company"),
      ("tN", "name", "Acme Trading", "Company"),
      ("t3", "name", "Crimson Widgets", "Company"),
      ("t3", "email", "x@crimson.example", "Company"),
      ("s4", "name", "Delta Prime", "Company"),
      ("tP", "name", "Echo Foxtrot", "Company"))
    val targets = tgtRows.toDF("entityId", "prop", "value", "schema")
      .select(
        md5(concat_ws("|", lit("ext"), col("entityId"), col("prop"), col("value"))).as("id"),
        col("entityId"), col("entityId").as("canonicalId"),
        col("prop"), col("schema"), col("value"),
        lit("ext").as("dataset"), lit("en").as("lang"), lit("crawl").as("origin"),
        col("value").as("originalValue"),
        lit("2025-01-01 00:00:00").cast("timestamp").as("firstSeen"),
        lit("2025-01-01 00:00:00").cast("timestamp").as("lastSeen"),
        lit(false).as("external"))
    val ts = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    val decisions = Seq(
      ("s1", "s9", "POSITIVE", "tester", ts),
      ("s9", "tA", "POSITIVE", "tester", ts), // against the non-canonical member
      ("s9", "tN", "NEGATIVE", "tester", ts), // against the non-canonical member
      ("s5", "tP", "POSITIVE", "tester", ts))
      .toDF("a", "b", "judgement", "user", "decided_at")

    Etl.run(spark, stmts(subjRows, "2025-01-01 00:00:00"), decisions,
      Etl.Config("t", "v1", root, "2025-01-01 00:00:00",
        exporters = Seq("entities.ftm.json", "names.txt"),
        enrichment = Some(Etl.Enrichment(targets))))

    val stored = spark.read.parquet(s"$root/statements/v1")
    def rowsOf(id: String) = stored.filter(col("entityId") === id)

    // POSITIVE via the non-canonical member: tA lands internal, in the
    // subject's cluster (canonical s1 — the resolver merged {s1,s9,tA})
    assert(rowsOf("tA").count() === 2)
    assert(rowsOf("tA").filter(col("external") === false &&
      col("canonicalId") === "s1" && col("origin") === "enrich").count() === 2)
    // NEGATIVE via the non-canonical member: tN fully dropped
    assert(rowsOf("tN").count() === 0)
    // unjudged: t3's statements land as external=true candidates
    assert(rowsOf("t3").filter(col("dataset") === "t").count() === 2)
    assert(rowsOf("t3").filter(col("dataset") === "t")
      .filter(col("external") === true).count() === 2)
    // same-id: the target under the subject's own id routes INTERNAL
    // (resolver.get_judgement returns POSITIVE for identical ids)
    val s4enr = rowsOf("s4").filter(col("origin") === "enrich")
    assert(s4enr.count() === 1)
    assert(s4enr.filter(col("external") === false).count() === 1)
    // precedence: tP is POSITIVE for s5 and unjudged for s6 —
    // internal > external, one emission, canonical joins s5's cluster
    assert(rowsOf("tP").count() === 1)
    assert(rowsOf("tP").filter(col("external") === false &&
      col("canonicalId") === "s5").count() === 1)

    // products: internal enrichment statements surface in the entity
    // products; external candidates do not
    val ftm = spark.read.text(s"$root/datasets/latest/t/entities.ftm.json")
      .as[String].collect()
    val s1line = ftm.find(_.contains("\"id\":\"s1\"")).get
    assert(s1line.contains("Trading Acme") && s1line.contains("R123"))
    assert(ftm.find(_.contains("\"id\":\"s4\"")).get.contains("Delta Prime"))
    assert(!ftm.exists(_.contains("\"id\":\"t3\"")))
    assert(!ftm.exists(_.contains("crimson.example")))
    val names = spark.read.text(s"$root/datasets/latest/t/names.txt")
      .as[String].collect().toSet
    assert(names.contains("Trading Acme") && names.contains("Delta Prime"))
  }

  test("enrichment expansion emits the match's graph context with inherited routes") {
    // subject s1 matches target tA (POSITIVE). The target store also
    // holds an Ownership edge entity oE referencing tA and owner oW —
    // reachable at hops 1 and 2 respectively, never matched themselves.
    val subjRows = Seq(("s1", "name", "Acme Trading", "Company"))
    val tgtRows = Seq(
      ("tA", "name", "Acme Trading", "Company"),
      ("oE", "asset", "tA", "Ownership"),
      ("oE", "owner", "oW", "Ownership"),
      ("oW", "name", "Wanda Owner", "Person"))
    def tstmts(rows: Seq[(String, String, String, String)]) =
      rows.toDF("entityId", "prop", "value", "schema").select(
        md5(concat_ws("|", lit("ext"), col("entityId"), col("prop"), col("value"))).as("id"),
        col("entityId"), col("entityId").as("canonicalId"),
        col("prop"), col("schema"), col("value"),
        lit("ext").as("dataset"), lit("en").as("lang"), lit("crawl").as("origin"),
        col("value").as("originalValue"),
        lit("2025-01-01 00:00:00").cast("timestamp").as("firstSeen"),
        lit("2025-01-01 00:00:00").cast("timestamp").as("lastSeen"),
        lit(false).as("external"))
    val ts = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    val decisions = Seq(("s1", "tA", "POSITIVE", "tester", ts))
      .toDF("a", "b", "judgement", "user", "decided_at")

    // hops=0: only the matched entity itself
    val root0 = tmpRoot("expand0")
    Etl.run(spark, stmts(subjRows, "2025-01-01 00:00:00"), decisions,
      Etl.Config("t", "v1", root0, "2025-01-01 00:00:00",
        exporters = Seq("names.txt"),
        enrichment = Some(Etl.Enrichment(tstmts(tgtRows)))))
    val ids0 = spark.read.parquet(s"$root0/statements/v1")
      .filter(col("origin") === "enrich")
      .select("entityId").distinct().as[String].collect().toSet
    assert(ids0 === Set("tA"))

    // hops=2: company ← ownership → owner, all inherited internal
    val root2 = tmpRoot("expand2")
    Etl.run(spark, stmts(subjRows, "2025-01-01 00:00:00"), decisions,
      Etl.Config("t", "v1", root2, "2025-01-01 00:00:00",
        exporters = Seq("names.txt"),
        enrichment = Some(Etl.Enrichment(tstmts(tgtRows), expandHops = 2))))
    val enr2 = spark.read.parquet(s"$root2/statements/v1")
      .filter(col("origin") === "enrich")
    assert(enr2.select("entityId").distinct().as[String].collect().toSet
      === Set("tA", "oE", "oW"))
    // POSITIVE seed → everything reached is internal
    assert(enr2.filter(col("external") === true).count() === 0)
    val names2 = spark.read.text(s"$root2/datasets/latest/t/names.txt")
      .as[String].collect().toSet
    assert(names2.contains("Wanda Owner"))
  }

  test("a wedged product exporter fails the run naming the stuck product") {
    val root = tmpRoot("hang")
    val ex = intercept[Etl.ProductTimeoutException] {
      Etl.run(spark, stmts(baseRows, "2025-01-01 00:00:00"), noDecisions,
        Etl.Config("t", "v1", root, "2025-01-01 00:00:00",
          exporters = Seq("names.txt", "hang.bin"),
          customExporters = Map("hang.bin" -> (_ => Thread.sleep(120000L))),
          productTimeout = scala.concurrent.duration.Duration(10, "sec")))
    }
    assert(ex.stuck === Seq("hang.bin"), ex.getMessage)
    assert(ex.getMessage.contains("hang.bin"))
  }

  test("bucketed store: prev-vs-curr delta assembly and hash join ride the buckets, no Exchange") {
    val root = tmpRoot("bucketed")
    val prefix = "graft_spec_bstore"
    try {
      Etl.run(spark, stmts(baseRows, "2025-01-01 00:00:00"), noDecisions,
        Etl.Config("t", "v1", root, "2025-01-01 00:00:00",
          exporters = Seq("entities.ftm.json"),
          bucketedStorePrefix = Some(prefix)))
      Etl.run(spark,
        stmts(baseRows :+ (("e4", "name", "New Co", "Company")), "2026-01-01 00:00:00"),
        noDecisions,
        Etl.Config("t", "v2", root, "2026-01-01 00:00:00",
          previousVersion = Some("v1"),
          exporters = Seq("entities.delta.json"),
          bucketedStorePrefix = Some(prefix)))
      // value-level: the delta saw the bucketed prev version
      val delta = spark.read.text(s"$root/datasets/latest/t/entities.delta.json")
        .as[String].collect().toSeq
      assert(delta.exists(l => l.contains("ADD") && l.contains("\"e4\"")), delta)
      assert(delta.size === 1)
      // plan-level K10 lock: both versions assemble from their bucketed
      // tables and the prev-vs-curr hash join runs WITHOUT any Exchange —
      // the aggregation and the full-outer join all ride the
      // canonicalId bucketing (id is a pure alias of the bucket key)
      def side(table: String) = EntityAssembler
        .assembleColumnar(spark.table(table).filter(!col("external")),
          trustCanonicalId = true)
        .select(col("id"), xxhash64(to_json(col("properties"))).as("hash"))
      val joined = side(s"${prefix}_v1").withColumnRenamed("hash", "prev_hash")
        .join(side(s"${prefix}_v2").withColumnRenamed("hash", "curr_hash"),
          Seq("id"), "full_outer")
      assert(joined.count() === 4) // e1..e3 + e4
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(2500))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}_v1")
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}_v2")
    }
  }

  test("resolver decisions canonicalize; second run preserves first_seen and emits delta ops") {
    val root = tmpRoot("delta")
    Etl.run(spark, stmts(baseRows, "2025-01-01 00:00:00"), noDecisions,
      Etl.Config("t", "v1", root, "2025-01-01 00:00:00"))

    // v2: e3 merged into e2, e1's country changed, e4 added
    val v2Rows = Seq(
      ("e1", "name", "Alpha Corp", "Company"),
      ("e1", "country", "fr", "Company"),
      ("e2", "name", "Bob Person", "Person"),
      ("e2", "topics", "sanction", "Person"),
      ("e3", "name", "Bob P. Duplicate", "Person"),
      ("e4", "name", "New Entity", "Person"))
    val decisions = Seq(("e2", "e3", "POSITIVE", "tester",
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .toDF("a", "b", "judgement", "user", "decided_at")
    Etl.run(spark, stmts(v2Rows, "2026-01-01 00:00:00"), decisions,
      Etl.Config("t", "v2", root, "2026-01-01 00:00:00",
        previousVersion = Some("v1")))

    val stored = spark.read.parquet(s"$root/statements/v2")
    // canonicalization: e3's statements carry canonical id e2
    assert(stored.filter(col("entityId") === "e3" && col("canonicalId") === "e2")
      .count() === 1)
    // first_seen preserved for unchanged statements, run time for new ones
    val seen = stored.select(col("prop"), col("value"),
        date_format(col("firstSeen"), "yyyy-MM-dd").as("fs"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(seen(("name", "Alpha Corp")) === "2025-01-01")
    assert(seen(("country", "fr")) === "2026-01-01")
    assert(seen(("name", "New Entity")) === "2026-01-01")

    val delta = spark.read.text(s"$root/datasets/latest/t/entities.delta.json")
      .as[String].collect().toSeq
    def opsOf(op: String) = delta.filter(_.startsWith(s"""{"op":"$op"""))
    // e1 changed country → MOD; e4 new → ADD; e2 gained a merged name
    // value → MOD; e3 stopped being its own canonical entity → DEL
    assert(opsOf("ADD").exists(_.contains("\"e4\"")))
    assert(opsOf("MOD").exists(_.contains("\"e1\"")))
    assert(opsOf("MOD").exists(_.contains("\"e2\"")))
    assert(opsOf("DEL").exists(_.contains("\"e3\"")))
    assert(delta.size === 4)

    // the merged entity carries both name values in ftm.json
    val ftm = spark.read.text(s"$root/datasets/latest/t/entities.ftm.json")
      .as[String].collect()
    val e2line = ftm.find(_.contains("\"id\":\"e2\"")).get
    assert(e2line.contains("Bob P. Duplicate") && e2line.contains("Bob Person"))
    assert(!ftm.exists(_.contains("\"id\":\"e3\"")))

    val marker = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/datasets/latest/t/_VERSION")), "UTF-8")
    assert(marker === "v2")
  }

  test("RunEtl CLI: spec file drives the full pipeline; exit codes gate") {
    val root = tmpRoot("cli")
    val stDir = s"$root/in/statements.parquet"
    stmts(baseRows, "2025-01-01 00:00:00").write.parquet(stDir)
    def spec(threshold: Long, extra: String = ""): String = {
      val f = java.nio.file.Files.createTempFile("graft-spec", ".json")
      java.nio.file.Files.writeString(f,
        s"""{"name": "t", "version": "v1", "out_root": "$root",
           | "run_time": "2025-01-01 00:00:00",
           | "statements": "$stDir",$extra
           | "assertions": [{"metric": "entity_count", "comparison": "gte",
           |                 "key": "", "threshold": $threshold}]}""".stripMargin)
      f.toString
    }
    // happy path: published layout + exit 0, restricted exporter list
    assert(graft.RunEtl.execute(spark,
      spec(1L, """ "exporters": ["entities.ftm.json", "statistics.json"],""")) === 0)
    assert(new java.io.File(s"$root/datasets/v1/t/entities.ftm.json").exists())
    assert(new java.io.File(s"$root/datasets/v1/t/statistics.json").exists())
    assert(!new java.io.File(s"$root/datasets/v1/t/names.txt").exists())
    // assertion gate: impossible GTE aborts with the reference's
    // fail-fast semantics -> exit 2, nothing published for v2
    val root2 = tmpRoot("cli2")
    val f2 = java.nio.file.Files.createTempFile("graft-spec", ".json")
    java.nio.file.Files.writeString(f2,
      s"""{"name": "t", "version": "v1", "out_root": "$root2",
         | "run_time": "2025-01-01 00:00:00",
         | "statements": "$stDir",
         | "assertions": [{"metric": "entity_count", "comparison": "gte",
         |                 "key": "", "threshold": 1000}]}""".stripMargin)
    assert(graft.RunEtl.execute(spark, f2.toString) === 2)
    assert(!new java.io.File(s"$root2/datasets/v1/t/entities.ftm.json").exists())
    // unusable spec (missing out_root) -> 64
    val f3 = java.nio.file.Files.createTempFile("graft-spec", ".json")
    java.nio.file.Files.writeString(f3,
      s"""{"name": "t", "version": "v1",
         | "run_time": "2025-01-01 00:00:00",
         | "statements": "$stDir"}""".stripMargin)
    assert(graft.RunEtl.execute(spark, f3.toString) === 64)
  }
}
