package graft.etl

import graft.model.{FtmModel, Statement}
import graft.operators.{Blocking, Delta, EntityAssembler, Enricher, Exporters, Resolver, Statistics, Validators}
import graft.sources.StatementIO
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Top-level ETL orchestration — the engine's analog of the reference's
  * `zavod run` (zavod/zavod/cli/etl.py:95-154): one job that takes a
  * statement frame through
  *
  *   canonicalize (J3) → store (S1 versioned layout, T5 first_seen
  *   preservation) → assemble (A1) → validate (J7 + assertion gate,
  *   GTE failures abort — validators/assertions.py:156-183) → export
  *   (every product a plan over ONE persisted entity frame —
  *   exporters/__init__.py:49-84) → publish (versioned layout promoted
  *   to latest, last-successful-version marker —
  *   zavod/publish.py:63-94, runtime/versions.py).
  *
  * Scale shape: the statement store is written partitioned-by-dataset
  * parquet (partition pruning + pushdown for every downstream scan);
  * the entity frame is assembled ONCE and persisted, then the exporters
  * are N independent sink plans over it — Catalyst prunes each sink's
  * columns, and the expensive shuffle (statements → entities) happens
  * exactly once per run, exactly like the reference's single pass over
  * `view.entities()`.
  */
object Etl {

  /** Product names follow the reference's FILE_NAMEs
    * (exporters/__init__.py:24-45). */
  val DefaultExporters: Seq[String] = Seq(
    "entities.ftm.json", "names.txt", "targets.simple.csv",
    "targets.nested.json", "senzing.json", "statistics.json",
    "statements.csv", "entities.delta.json", "index.json", "catalog.json")

  final case class Config(
      datasetName: String,
      version: String,
      outRoot: String,
      runTime: String,
      assertions: Seq[Validators.Assertion] = Seq.empty,
      exporters: Seq[String] = DefaultExporters,
      previousVersion: Option[String] = None,
      republishLatest: Boolean = true,
      // when set, the run ALSO writes the statements as a table
      // bucketed+sorted by canonicalId (name = <prefix>_<version>) and
      // assembles from it — the statements → entities aggregation then
      // runs with NO exchange over the pre-bucketed files, the 100 TB
      // shape of the biggest recurring shuffle. The parquet layout is
      // still written: it is the versioned archive previous-run scans
      // (first_seen, delta) read.
      bucketedStorePrefix: Option[String] = None,
      buckets: Int = 32,
      // when set, the run composes the xref/enrichment flow (J9/J10)
      // as a stage of the SAME pipeline, like the reference's
      // enrichment datasets riding the normal ETL entry point
      // (zavod/zavod/runner/enrich.py:21-50 via cli/etl.py:95-154)
      enrichment: Option[Enrichment] = None,
      // per-run custom products (the reference's per-dataset exporter
      // registry — zavod/zavod/exporters/__init__.py:24-44): name →
      // writer over the assembled entity frame; the name must also
      // appear in `exporters` to be scheduled
      customExporters: Map[String, DataFrame => Unit] = Map.empty,
      // upper bound on the concurrent product fan-out: a wedged sink
      // must fail the run WITH the stuck product's name, not hang it
      // forever (round-5 finding on the Duration.Inf wait)
      productTimeout: scala.concurrent.duration.Duration =
        scala.concurrent.duration.Duration(30, "min"))

  /** Enrichment stage config: match the crawled subjects against an
    * external target statement store; matched target entities are
    * emitted INTO this run's statement frame — unjudged matches as
    * `external=true` candidates (excluded from the default entity view
    * and every target product, visible in statements.csv), POSITIVE
    * matches as internal statements that canonicalize into the subject
    * cluster, NEGATIVE matches dropped
    * (runner/enrich.py:21-50, runner/local_enricher.py:161-199).
    *
    * `expandHops` > 0 additionally emits the matched target's adjacent
    * graph context from the target store — officers, owners, linked
    * edge entities (the reference's `expand_wrapped`,
    * enrich.py:32-48): each hop follows statement-level entity-ref
    * edges in BOTH directions (an Ownership edge entity references its
    * endpoints, so reaching the owner from a matched company takes two
    * hops: company ← ownership → owner). Expanded entities inherit
    * their seed's route, internal taking precedence when reached from
    * both. 0 (default) emits only the matched entities themselves. */
  final case class Enrichment(
      targetStatements: DataFrame,
      maxDf: Long = 100,
      topK: Int = 5,
      cutoff: Double = 0.5,
      minScoreRatio: Double = 0.1,
      expandHops: Int = 0,
      // > 1 turns on the skew-salted candidate join (a hot surname
      // bigram splits across this many reducers — Blocking.candidates)
      saltBuckets: Int = 1)

  /** Fatal validation failures abort the run before any product is
    * written (etl.py:122-131: validation failure → archive_failure,
    * no export). */
  final case class ValidationFailedException(failures: Seq[String])
      extends RuntimeException(
        s"validation aborted the run: ${failures.mkString("; ")}")

  /** The product fan-out exceeded `Config.productTimeout`; `stuck`
    * names every exporter that had not completed — the diagnostic the
    * unbounded wait it replaced could never give. */
  final case class ProductTimeoutException(
      stuck: Seq[String], timeout: scala.concurrent.duration.Duration)
      extends RuntimeException(
        s"product export exceeded $timeout; unfinished: ${stuck.mkString(", ")}")

  final case class Result(
      version: String,
      productDir: String,
      products: Map[String, String],
      entityCount: Long,
      danglingRefCount: Long)

  private def statementsRoot(cfg: Config) = s"${cfg.outRoot}/statements"

  /** Every (schema, prop) whose value is an entity reference — the
    * rows whose VALUES the canonical remap and the enrichment
    * expansion follow. */
  private lazy val entityRefPairs: Seq[String] = (for {
    sch <- graft.model.FtmModel.schemata.keys.toSeq
    p <- graft.model.FtmModel.entityRefProps(sch)
  } yield s"$sch|$p").sorted
  private def productDir(cfg: Config, version: String) =
    s"${cfg.outRoot}/datasets/$version/${cfg.datasetName}"

  /** All name-typed property values, one distinct sorted value per line
    * (K5 — exporters/names.py:18-25). */
  def namesTxt(entities: DataFrame): DataFrame = {
    val nameProps = FtmModel.schemata.values.flatMap(_.props)
      .filter(_.ptype == FtmModel.PropType.Name).map(_.name).toSet.toSeq.sorted
    entities.select(explode(flatten(transform(
        filter(map_entries(col("properties")),
          e => e.getField("key").isin(nameProps: _*)),
        e => e.getField("value")))).as("name"))
      .filter(length(trim(col("name"))) > 0)
      .distinct()
  }

  /** Entity content hash frame for the delta diff (A4). */
  private def hashFrame(entities: DataFrame): DataFrame =
    entities.select(col("id"),
      Delta.entityHash(col("id"), col("schema"),
        flatten(transform(map_entries(col("properties")),
          e => transform(e.getField("value"),
            v => concat_ws("|", e.getField("key"), v))))).as("hash"))

  /** Run the full pipeline. `statements` must conform to
    * [[Statement.sparkSchema]] minus `canonicalId` (recomputed here);
    * `decisions` is the resolver journal (may be empty). `crawlIssues`
    * is the optional (dataset, level, message) issue log from the crawl
    * stage — structural warnings found here (dangling references) are
    * appended to it, the combined log feeds index.json's issue_levels,
    * and a non-empty log is published as an issues.json product (K13,
    * runtime/issues.py). */
  def run(
      spark: SparkSession,
      statements: DataFrame,
      decisions: DataFrame,
      cfg: Config,
      crawlIssues: Option[DataFrame] = None): Result = {
    import spark.implicits._
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    // opt-in stage timing (GRAFT_ETL_TIMING=1): wall per pipeline stage
    // to stderr — a profiling probe, not a product
    val timed = sys.env.get("GRAFT_ETL_TIMING").contains("1")
    var lastTick = System.nanoTime()
    def tick(stage: String): Unit = if (timed) {
      val now = System.nanoTime()
      System.err.println(f"[etl-timing] $stage: ${(now - lastTick) / 1e9}%.2f s")
      lastTick = now
    }

    // ---- 1. canonicalize (J3): remap entityId → cluster id. Only the
    // non-identity rows of the mapping are joined (the resolver linker
    // is sparse relative to the statement table), broadcast like the
    // reference's in-memory linker (integration/dedupe.py).
    val hasDecisions = !decisions.isEmpty
    val remapOpt: Option[DataFrame] =
      if (!hasDecisions) None
      else {
        // CC only over ids the decision log touches — every other id
        // maps to itself by construction, so running components over
        // the full statement universe (like a first draft did) is pure
        // waste; this is the reference's linker scope (judgement pairs)
        val decisionIds = decisions.select(col("a").as("id"))
          .unionByName(decisions.select(col("b").as("id"))).distinct()
        val mapping = Resolver.canonicalize(decisionIds, decisions)
        // the remap is decision-scoped (tiny) but its lineage is the
        // whole CC run — checkpoint it, or every downstream plan that
        // broadcasts it re-walks (and re-plans) the resolver DAG once
        // per reference; measured 10-40× on the enrichment flow
        Some(mapping.filter(col("canonical") =!= col("id"))
          .select(col("id").as("entityId"), col("canonical"))
          .localCheckpoint())
      }
    def canonicalizeFrame(df: DataFrame): DataFrame = remapOpt match {
      case None => df.withColumn("canonicalId", col("entityId"))
      case Some(remap) =>
        // nomenklatura's linker.apply_statement (tools/util.py:32)
        // canonicalizes BOTH the entity id and entity-ref property
        // VALUES — an edge pointing at a merged-away member must point
        // at the cluster id, or the member's disappearance as an
        // entity leaves the edge dangling. Same broadcast remap, second
        // cheap join keyed on the value for ref-typed rows only;
        // originalValue keeps the raw provenance.
        val isRef = concat_ws("|", col("schema"), col("prop"))
          .isInCollection(entityRefPairs)
        df.drop("canonicalId")
          .join(broadcast(remap), Seq("entityId"), "left")
          .withColumn("canonicalId", coalesce(col("canonical"), col("entityId")))
          .drop("canonical")
          .join(broadcast(remap.select(col("entityId").as("__refv"),
            col("canonical").as("__refc"))),
            isRef && col("value") === col("__refv"), "left")
          .withColumn("value", coalesce(col("__refc"), col("value")))
          .drop("__refv", "__refc")
    }
    val crawled = canonicalizeFrame(statements)
    tick("canonicalize-plan")

    // ---- 1b. enrich (optional): the q110 xref flow composed INTO the
    // run — blocked candidates against the external target store,
    // per-subject top-k, the same-id short-circuit, then the judgement
    // gate routes every surviving match: unjudged → the matched target
    // entity's statements land here as external=true candidates,
    // POSITIVE → internal statements whose canonicalId follows the SAME
    // resolver mapping as the crawl side (so the match merges into the
    // subject cluster), NEGATIVE → dropped. Route precedence per target
    // entity is internal > external (a confirmed match stays visible
    // even if another subject also matched it unjudged) — 'internal' >
    // 'external' lexicographically, so max() encodes it.
    val canonicalized = cfg.enrichment match {
      case None => crawled
      case Some(en) =>
        // every DISTINCT (id, name) pair blocks independently (the
        // reference indexes all names per entity); scores aggregate to
        // the best name-pair score before top-k
        val subj = crawled
          .filter(col("prop") === "name" && !col("external"))
          .select(col("canonicalId").as("sid"), col("value").as("sname"))
          .distinct()
        val tgt = en.targetStatements.filter(col("prop") === "name")
          .select(col("entityId").as("tid"), col("value").as("tname"))
          .distinct()
        val cands = Blocking.candidates(subj, tgt,
            col("sid"), col("sname"), col("tid"), col("tname"), en.maxDf,
            saltBuckets = en.saltBuckets)
          .groupBy(col("subject_id"), col("target_id"))
          .agg(max(col("score")).as("score"))
        val top = Blocking.topK(cands, en.topK, en.cutoff, en.minScoreRatio)
        // the match set is per-subject-top-k small, but its lineage is
        // the full blocking DAG (self-joins + windows) — checkpoint it
        // so the judgement gate, the emission join and the store write
        // below plan over a leaf, not over the xref plan again
        val matches = Enricher.withSameIdMatches(
          top.select(col("subject_id"), col("target_id"), col("score")),
          subj, tgt, col("sid"), col("tid"))
          .localCheckpoint()
        // cluster-aware gate (nomenklatura resolver.get_judgement,
        // local_enricher.py:174): BOTH the match pair and the decision
        // pairs run through the SAME canonical remap as the statements,
        // so a judgement recorded against a non-canonical member of a
        // merged cluster still gates its whole cluster, and a target
        // that resolves INTO the subject's cluster short-circuits to
        // internal via the gate's same-id rule.
        def canonId(df: DataFrame, idCol: String): DataFrame = remapOpt match {
          case None => df
          case Some(remap) =>
            df.join(broadcast(remap.select(col("entityId").as(idCol),
                col("canonical").as("__canon"))), Seq(idCol), "left")
              .withColumn(idCol, coalesce(col("__canon"), col(idCol)))
              .drop("__canon")
        }
        val eff = Resolver.effective(decisions)
        val effCanon = canonId(canonId(eff.select(col("a"), col("b"),
          col("judgement")), "a"), "b")
        val dec = effCanon
          .select(col("a").as("subject_id"), col("b").as("target_id"), col("judgement"))
          .unionByName(effCanon
            .select(col("b").as("subject_id"), col("a").as("target_id"), col("judgement")))
          .distinct()
        // gate on the canonical target id, route by the ORIGINAL target
        // id (emission pulls the raw target entity's statements)
        val matchesCanon = canonId(
          matches.withColumn("orig_target_id", col("target_id")), "target_id")
        val routed = Enricher.judgementGate(matchesCanon, dec)
          .groupBy(col("orig_target_id").as("target_id"))
          .agg(max(col("route")).as("route"))
        // expand_wrapped (enrich.py:32-48): pull the matched targets'
        // graph context along statement-level entity-ref edges, both
        // directions per hop, routes inherited with internal > external
        val routedExp =
          if (en.expandHops <= 0) routed
          else {
            val edges = en.targetStatements
              .filter(concat_ws("|", col("schema"), col("prop"))
                .isInCollection(entityRefPairs))
              .filter(col("value").isNotNull && length(col("value")) > 0)
              .select(col("entityId").as("a"), col("value").as("b"))
              .distinct()
              .localCheckpoint()
            var cur = routed
            for (_ <- 1 to en.expandHops) {
              val out = cur.join(edges, cur("target_id") === edges("a"))
                .select(col("b").as("target_id"), col("route"))
              val in = cur.join(edges, cur("target_id") === edges("b"))
                .select(col("a").as("target_id"), col("route"))
              cur = cur.unionByName(out).unionByName(in)
                .groupBy("target_id").agg(max(col("route")).as("route"))
            }
            cur.localCheckpoint()
          }
        val emitted = en.targetStatements
          .join(routedExp.withColumnRenamed("target_id", "entityId"), Seq("entityId"))
          .withColumn("dataset", lit(cfg.datasetName))
          .withColumn("origin", lit("enrich"))
          .withColumn("external", col("route") === "external")
          .withColumn("firstSeen", lit(cfg.runTime).cast("timestamp"))
          .withColumn("lastSeen", lit(cfg.runTime).cast("timestamp"))
          .drop("route")
        // the emitted candidate frame is small (matched targets only)
        // but its lineage is the whole xref DAG — checkpoint it so the
        // store write below is a plain union, not a re-walk of the
        // blocking/judgement plan (the CC-barrier lesson applied here)
        crawled.unionByName(canonicalizeFrame(emitted)
          .select(crawled.columns.map(col): _*).localCheckpoint())
    }

    // ---- 2. store: first_seen preservation vs the previous version
    // (T5 — runtime/timestamps.py:26-65), then the versioned layout.
    // When the store is bucketed, the PREVIOUS version reads from its
    // bucketed table too (written by the prior run with the same
    // prefix): the prev-side assembly and the K10 delta hash join then
    // ride the canonicalId bucketing with no Exchange — locked by
    // EtlSpec's bucketed-delta plan assertion.
    val prevStatements = cfg.previousVersion.map { v =>
      cfg.bucketedStorePrefix
        .map(prefix => s"${prefix}_$v".replaceAll("[^a-zA-Z0-9_]", "_"))
        .filter(spark.catalog.tableExists)
        .map(spark.table)
        .getOrElse(StatementIO.scanVersion(spark, statementsRoot(cfg), v).toDF())
    }
    val withSeen = prevStatements match {
      case Some(prev) =>
        Delta.preserveFirstSeen(canonicalized, prev,
          lit(cfg.runTime).cast("timestamp"))
      case None => canonicalized
    }
    val ordered = withSeen.select(
      Statement.sparkSchema.map(f => col(f.name).cast(f.dataType)): _*)
    tick("enrich-plan")
    StatementIO.write(ordered.as[Statement], statementsRoot(cfg), cfg.version)
    tick("store-write")
    // the write is a materialization barrier: everything the resolver
    // stage cached (id-hash map, CC round checkpoints) is consumed now —
    // release it so a long-lived session does not accumulate storage
    spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => persistedBefore.contains(id) }
      .values.foreach(_.unpersist(false))
    val stored = cfg.bucketedStorePrefix match {
      case Some(prefix) =>
        val table = s"${prefix}_${cfg.version}".replaceAll("[^a-zA-Z0-9_]", "_")
        StatementIO.writeBucketed(
          StatementIO.scanVersion(spark, statementsRoot(cfg), cfg.version),
          table, cfg.buckets)
        spark.table(table)
      case None =>
        StatementIO.scanVersion(spark, statementsRoot(cfg), cfg.version).toDF()
    }

    // ---- 3. assemble ONCE; every downstream consumer shares this
    // persisted frame (single-assembly invariant — EtlSpec asserts it).
    // canonicalId is guaranteed populated by stage 1, so the assembly
    // groups on the raw column — shuffle-free over a bucketed store.
    // The entity frame is the DEFAULT view: external=true candidate
    // statements (enrichment emissions awaiting judgement) are excluded
    // from entities and every product over them — exactly the
    // reference's store.view(scope, external=False); they remain in the
    // statement store and statements.csv (P2 lets consumers scan them).
    val entities = EntityAssembler
      .assembleColumnar(stored.filter(!col("external")), trustCanonicalId = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val entityCount = entities.count()
      tick("assemble-count")

      // ---- 4. validate: assertion gate (fatal = failed GTE, aborts;
      // failed LTE assertions become warning-level issues —
      // validators/assertions.py:156-183 warns without aborting) + the
      // warning-level structural validators (J7/J8).
      val assertionWarnings: Seq[(String, String, String)] =
        if (cfg.assertions.isEmpty) Seq.empty
        else {
          def describe(r: org.apache.spark.sql.Row): String =
            s"${r.getAs[String]("metric")}(${r.getAs[String]("key")}) " +
              s"${r.getAs[String]("comparison")} ${r.getAs[Long]("threshold")} " +
              s"but actual=${r.getAs[Long]("actual")}"
          val failed = Validators.checkAssertions(entities, cfg.assertions)
            .filter(!col("passed")).collect().toSeq
          val fatal = failed.filter(_.getAs[Boolean]("fatal"))
          if (fatal.nonEmpty)
            throw ValidationFailedException(fatal.map(describe))
          failed.map(r => (cfg.datasetName, "warning", "assertion failed: " + describe(r)))
        }
      // structural warnings join the crawl-stage issue log (the
      // reference logs them through context.log into issues.json)
      val danglingIssues = Validators.danglingRefs(entities)
        .select(lit(cfg.datasetName).as("dataset"), lit("warning").as("level"),
          concat(col("src_id"), lit(" property "), col("prop"),
            lit(" references missing id "), col("dst_id")).as("message"))
      val baseIssues = crawlIssues match {
        case Some(ci) => ci.select(col("dataset"), col("level"), col("message"))
          .unionByName(danglingIssues)
        case None => danglingIssues
      }
      val issues = baseIssues
        .unionByName(assertionWarnings.toDF("dataset", "level", "message"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val dangling = danglingIssues.count()
      tick("validate")

      // ---- 5. export: fan out the sinks over the ONE persisted frame.
      val dir = productDir(cfg, cfg.version)
      // Output file sizing (guide §6: aim for large product files, not
      // one shard per shuffle partition): every line-oriented product
      // is ~entityCount lines, and entityCount is already counted, so
      // the file count derives from the data —
      // ceil(entityCount / spark.graft.productRowsPerFile [500k lines
      // ≈ a few hundred MB of FtM JSON]) — instead of inheriting the
      // cpus-keyed partition count. Locally that turns 10 products ×
      // 32 near-empty shards (each a task commit, then a serial
      // publish-copy of ~330 files) into ~10 files; at 100 TB the same
      // formula yields thousands of right-sized shards. coalesce, not
      // repartition: no exchange, and sortWithinPartitions keeps the
      // per-file determinism contract unchanged (products are line
      // sets).
      val productFiles: Int = {
        val target = spark.conf.getOption("spark.graft.productRowsPerFile")
          .map(_.toLong).getOrElse(500000L)
        math.max(1L, (entityCount + target - 1) / target)
          .min(Int.MaxValue.toLong).toInt
      }
      def sized(df: DataFrame): DataFrame = df.coalesce(productFiles)
      // the sinks are independent jobs over the ONE persisted frame —
      // submit them concurrently (the Spark scheduler interleaves their
      // stages across the cluster), the parallel analog of the
      // reference's single-pass multi-exporter feed loop
      // (exporters/__init__.py:49-84)
      def writeProduct(name: String): Unit = {
        val path = s"$dir/$name"
        cfg.customExporters.get(name) match {
          case Some(write) => write(entities); return
          case None => ()
        }
        name match {
          // sortWithinPartitions: deterministic file contents with NO
          // extra range-exchange per sink (a global sort would add one
          // shuffle per product; consumers treat products as line sets)
          case "entities.ftm.json" =>
            writeText(sized(entities.select(Exporters.ftmJsonLine(
              col("id"), col("schema"), col("properties")).as("json")))
              .sortWithinPartitions("json"), path)
          case "names.txt" =>
            writeText(sized(namesTxt(entities)).sortWithinPartitions("name"), path)
          case "targets.simple.csv" =>
            sized(Exporters.simpleCsv(entities)).sortWithinPartitions("id")
              .write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
          case "targets.nested.json" =>
            writeText(sized(Exporters.nestedTargetJsonLines(entities)
              .select("json")).sortWithinPartitions("json"), path)
          case "senzing.json" =>
            writeText(sized(Exporters.senzingJsonLines(entities, cfg.datasetName)
              .select("json")).sortWithinPartitions("json"), path)
          case "statistics.json" =>
            writeText(Statistics.statisticsJson(entities), path)
          case "statements.csv" =>
            StatementIO.exportCsv(stored.as[Statement], path)
          case "entities.delta.json" =>
            val prevEntities = prevStatements match {
              case Some(prev) =>
                // our own store always populates canonicalId (stage 1),
                // so the key is a pure alias — the assembly then rides
                // a bucketed prev scan with no Exchange
                EntityAssembler.assembleColumnar(prev.filter(!col("external")),
                  trustCanonicalId = true)
              case None => entities.limit(0)
            }
            val diff = Delta.diff(hashFrame(prevEntities), hashFrame(entities))
            writeText(sized(Exporters.deltaJsonLines(diff, entities, prevEntities)
              .select("json")).sortWithinPartitions("json"), path)
          case "index.json" =>
            writeText(Exporters.datasetIndexJson(stored, issues,
              cfg.version, cfg.runTime,
              resources = cfg.exporters.sorted).select("json"), path)
          case "catalog.json" =>
            writeText(Exporters.catalog(stored).select("json")
              .sortWithinPartitions("json"), path)
          case other =>
            throw new IllegalArgumentException(s"no exporter for: $other")
        }
      }
      val products = {
        import scala.concurrent.{Await, ExecutionContext, Future}
        // Dedicated pool, not ExecutionContext.global: on timeout the
        // unfinished exporter futures must actually STOP — shutdownNow()
        // interrupts them (writeProduct bodies are Spark actions, which
        // respond to thread interrupts), so a wedged sink can neither
        // keep mutating the version's product directory after the abort
        // nor occupy a shared global-pool thread for the session.
        // Daemon threads: every exit path below shuts the pool down, but
        // an exporter that swallows its interrupt could otherwise pin a
        // non-daemon thread and block JVM exit after shutdownNow. Note
        // the failure semantics this pool carries (vs the old global
        // pool): one exporter failing interrupts its siblings mid-write,
        // so a failed run can leave MORE partially-written product files
        // — ProductTimeoutException callers must treat the whole version
        // directory as aborted, which the publish gate already does.
        // Cap A/B (sf0.1, best of 2): pool 8 = 17.8s, pool 10 (every
        // sink concurrent) = 20.4s — the cap does not serialize the ten
        // product sinks; each exporter is itself a parallel Spark
        // action, so extra submitter threads only contend for cores.
        val poolThreads = math.max(1, math.min(cfg.exporters.size, 8))
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          poolThreads,
          new java.util.concurrent.ThreadFactory {
            private val n = new java.util.concurrent.atomic.AtomicInteger(0)
            def newThread(r: Runnable): Thread = {
              val t = new Thread(r, s"graft-exporter-${n.incrementAndGet()}")
              t.setDaemon(true)
              t
            }
          })
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
        val done = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
        val all = Future.sequence(cfg.exporters.map(name =>
          Future { writeProduct(name); done.add(name); name -> s"$dir/$name" }))
        try {
          val res = Await.result(all, cfg.productTimeout).toMap
          pool.shutdown()
          res
        } catch {
          case _: java.util.concurrent.TimeoutException =>
            pool.shutdownNow()
            throw ProductTimeoutException(
              cfg.exporters.filterNot(done.contains), cfg.productTimeout)
          case e: Throwable =>
            pool.shutdownNow()
            throw e
        }
      }
      tick("products")
      // K13: a non-empty issue log publishes as issues.json
      // (runtime/issues.py; exporters write it alongside the products)
      val issuesProduct =
        if (cfg.exporters.nonEmpty && !issues.isEmpty) {
          writeText(sized(issues
            .select(to_json(struct(col("dataset"), col("level"),
              col("message"))).as("json")))
            .sortWithinPartitions("json"), s"$dir/issues.json")
          Map("issues.json" -> s"$dir/issues.json")
        } else Map.empty[String, String]

      // ---- 6. publish: promote to latest + record the successful
      // version (publish.py:63-94; runtime/versions.py
      // set_last_successful_version).
      if (cfg.republishLatest) {
        val conf = spark.sparkContext.hadoopConfiguration
        val src = new org.apache.hadoop.fs.Path(dir)
        val dst = new org.apache.hadoop.fs.Path(
          s"${cfg.outRoot}/datasets/latest/${cfg.datasetName}")
        val fs = src.getFileSystem(conf)
        if (fs.exists(dst)) fs.delete(dst, true)
        // no exporters → no product dir: latest still records the version
        if (fs.exists(src)) org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, conf)
        else fs.mkdirs(dst)
        val marker = fs.create(
          new org.apache.hadoop.fs.Path(dst, "_VERSION"), true)
        marker.write(cfg.version.getBytes("UTF-8"))
        marker.close()
      }
      val fs = new org.apache.hadoop.fs.Path(cfg.outRoot)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val state = fs.create(new org.apache.hadoop.fs.Path(
        s"${cfg.outRoot}/state/${cfg.datasetName}/last_successful_version"), true)
      state.write(cfg.version.getBytes("UTF-8"))
      state.close()

      issues.unpersist(blocking = false)
      Result(cfg.version, dir, products ++ issuesProduct, entityCount, dangling)
    } finally entities.unpersist(blocking = false)
  }

  private def writeText(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).text(path)
}
