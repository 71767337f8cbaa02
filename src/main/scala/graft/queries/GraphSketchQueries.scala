package graft.queries

import graft.functions.Sketches
import graft.operators.{Centrality, Dedup, Frequency}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._
import PipelineQueries.sqlHash60

/** Sketch aggregation and graph analytics at query level: the KMV
  * distinct sketch (bounded-state, exactly mergeable — unlike HLL its
  * estimator is deterministic integer arithmetic, so the ORACLE can
  * replay the estimate itself), and fixed-round integer PageRank over
  * the customer↔supplier trade graph (the host-trust / entity-reach
  * centrality signal, engine-portable because every round is floor
  * division and integer sums).
  */
object GraphSketchQueries {

  private val Scale = 1000000000000L

  /** Part co-purchase graph (parts sharing an order) — one definition
    * for the q163/q172 edge construction.
    *
    * Query-scoped cached (guide §2.4 — remove recomputation the
    * optimizer cannot see): every consumer references this frame from
    * several branches of ONE plan (q276: LPA edges + deg + intra +
    * m-count = 4 copies; q271's union arms = 2; q163's degree/orient
    * branches = 3), and because each branch prunes different columns
    * the subtrees are not identical, so ReuseExchange never fires —
    * the round-16 q276 plan carried EIGHT lineitem scans (4× the
    * self-join + distinct). The cache computes the self-join once per
    * query; RELEASE CONTRACT (round-16 ADVICE): consumers of these
    * decls must call SparkEntry.sweepQueryState (or
    * QueryScoped.releaseAll) at each query boundary, as
    * Bench and Verify do — an embedder that skips the sweep leaks
    * one corpus-sized cached edge frame per query invocation. */
  private def coPurchaseEdges(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val li = t(s, d, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").cast("long").as("pk"))
    val a = li.select(col("ok"), col("pk").as("u"))
    val b = li.select(col("ok"), col("pk").as("v"))
    graft.operators.QueryScoped.cached(
      a.join(b, "ok").where(col("u") < col("v")).select("u", "v").distinct())
  }

  /** Oracle twin of [[coPurchaseEdges]]: CTEs `li` and `ed(a, b)`,
    * MATERIALIZED because downstream chains reference them repeatedly
    * and inlined CTE re-evaluation compounds per reference. */
  private val coPurchaseSql: String =
    """li AS MATERIALIZED (SELECT l_orderkey AS ok, l_partkey::BIGINT AS pk FROM lineitem),
      |ed AS MATERIALIZED (SELECT DISTINCT a.pk AS a, b.pk AS b
      |     FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk)""".stripMargin

  /** Unrolled PageRank round CTEs r1..rN over base CTEs e/nn/n/r0. */
  private def prRounds(rounds: Int): String =
    (1 to rounds).map { r =>
      s"""c$r AS (SELECT e.dst AS node,
         |  SUM(((85 * p.rank) // 100) // p.outdeg)::BIGINT AS inmass
         |  FROM r${r - 1} p JOIN e ON p.node = e.src
         |  WHERE p.outdeg > 0 GROUP BY 1),
         |r$r AS (SELECT nn.node AS node, nn.outdeg AS outdeg,
         |  (${15 * Scale / 100} // n.n) + COALESCE(c$r.inmass, 0) AS rank
         |  FROM nn LEFT JOIN c$r USING (node), n)""".stripMargin
    }.mkString(",\n")


  /** One advisor candidate's SQL replay (q221): KMV NDVs, θ-sample
    * intersection, and the decision rules — the q160/q175 integer
    * arithmetic verbatim. */
  private def adviseSql(tag: String, label: String,
      factTable: String, factKey: String,
      dimTable: String, dimKey: String): String = {
    val two60 = "1152921504606846976"
    def ndv(r: String) =
      s"""CASE WHEN COUNT(*) < 128 THEN COUNT(*)::BIGINT
         |       ELSE CAST((127::HUGEINT * $two60::HUGEINT)
         |            // MAX(CASE WHEN rk <= 128 THEN h END) AS BIGINT) END""".stripMargin
    s"""ha$tag AS (SELECT DISTINCT ${sqlHash60(s"('ja|' || $factKey::VARCHAR)")} AS h FROM $factTable),
       |hb$tag AS (SELECT DISTINCT ${sqlHash60(s"('ja|' || $dimKey::VARCHAR)")} AS h FROM $dimTable),
       |ra$tag AS (SELECT h, row_number() OVER (ORDER BY h) AS rk FROM ha$tag),
       |rb$tag AS (SELECT h, row_number() OVER (ORDER BY h) AS rk FROM hb$tag),
       |sa$tag AS (SELECT MAX(CASE WHEN rk <= 128 THEN h END) AS kth_a,
       |  ${ndv("a")} AS ndv_a FROM ra$tag),
       |sb$tag AS (SELECT MAX(CASE WHEN rk <= 128 THEN h END) AS kth_b,
       |  ${ndv("b")} AS ndv_b FROM rb$tag),
       |sm$tag AS (SELECT COUNT(*)::BIGINT AS c FROM ra$tag a JOIN rb$tag b ON a.h = b.h
       |  CROSS JOIN sa$tag CROSS JOIN sb$tag
       |  WHERE a.rk <= 128 AND b.rk <= 128 AND a.h < LEAST(kth_a, kth_b)),
       |ad$tag AS (SELECT '$label' AS join_key, ndv_a, ndv_b, c AS sample_inter,
       |  CAST((c::HUGEINT * $two60::HUGEINT) // LEAST(kth_a, kth_b)::HUGEINT AS BIGINT) AS est_common_keys,
       |  CASE WHEN ndv_b <= 1000 THEN 'broadcast' ELSE 'shuffle' END AS strategy,
       |  (CAST((c::HUGEINT * $two60::HUGEINT) // LEAST(kth_a, kth_b)::HUGEINT AS BIGINT) * 2 < ndv_a) AS runtime_filter
       |  FROM sa$tag CROSS JOIN sb$tag CROSS JOIN sm$tag)""".stripMargin
  }

  val decls: Seq[Decl] = Seq(

    // Bounded-hop seed proximity (round-11): "every entity within 3
    // hops of a sanctioned one" — the network-risk query screening
    // teams run on the resolved graph. BFS min-distance propagation:
    // exactly 3 edge-keyed rounds with per-round lineage cuts, no
    // fixpoint machinery (hops bound the rounds by construction). The
    // oracle replays it as a hop-bounded recursive CTE.
    decl("q233_risk_proximity",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val c = t(s, d, "customer")
        val w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
        val edges = c.withColumn("next", lead(col("c_custkey"), 1).over(w))
          .filter(col("next").isNotNull)
          .select(col("c_custkey").cast("long").as("src"),
            col("next").cast("long").as("dst"))
        // hash-derived seed set (~1/37 of customers on ANY key domain —
        // a raw modulus broke on the bijected second seed, which has
        // zero multiples of 37)
        val seeds = c.where(pmod(Dedup.hash60(
            concat(lit("rp|"), col("c_custkey").cast("string"))), lit(37L)) === 0)
          .select(col("c_custkey").cast("long").as("id"))
        Centrality.seedProximity(edges, seeds, maxHops = 3)
      },
      s"""WITH RECURSIVE base AS (
         |  SELECT c_custkey::BIGINT AS src,
         |    (lead(c_custkey) OVER (PARTITION BY c_nationkey ORDER BY c_custkey))::BIGINT AS dst
         |  FROM customer),
         |e AS (SELECT src, dst FROM base WHERE dst IS NOT NULL
         |  UNION SELECT dst, src FROM base WHERE dst IS NOT NULL),
         |reach(id, d) AS (
         |  SELECT c_custkey::BIGINT, 0::BIGINT FROM customer
         |  WHERE ${sqlHash60("('rp|' || c_custkey::VARCHAR)")} % 37 = 0
         |  UNION
         |  SELECT e.dst, r.d + 1 FROM reach r JOIN e ON e.src = r.id WHERE r.d < 3)
         |SELECT id, MIN(d)::BIGINT AS dist FROM reach GROUP BY id""".stripMargin),

    // Sketch-driven join advisor (round-11): what a cost-based
    // optimizer does with NDV statistics, computed from the engine's
    // own KMV sketches — per-side NDV (q160 estimator), estimated
    // common keys (q175 θ-intersection), a broadcast-vs-shuffle call
    // from the dim side's NDV, and a runtime-filter recommendation
    // (est common < half the fact NDV → a dim-key bloom prunes most
    // fact rows, the q162 gate). NO global window in the engine path:
    // the k-min sets materialize by broadcasting each sketch's kth
    // hash back as a filter. Three real join candidates; all decision
    // arithmetic integer, replayed in SQL.
    decl("q221_join_advisor",
      (s, d) => {
        import graft.operators.JoinAdvisor
        val o = t(s, d, "orders"); val c = t(s, d, "customer")
        val l = t(s, d, "lineitem"); val p = t(s, d, "part")
        val su = t(s, d, "supplier")
        JoinAdvisor.advise(o, col("o_custkey"), c, col("c_custkey"),
            "orders.custkey->customer")
          .unionByName(JoinAdvisor.advise(l, col("l_partkey"), p, col("p_partkey"),
            "lineitem.partkey->part"))
          .unionByName(JoinAdvisor.advise(l, col("l_suppkey"), su, col("s_suppkey"),
            "lineitem.suppkey->supplier"))
          // a SELECTIVE dim (every 10th customer): common keys ≈ 10% of
          // the fact NDV, so the runtime-filter rule FIRES — pushing the
          // dim-key bloom prunes ~90% of fact rows before the shuffle
          .unionByName(JoinAdvisor.advise(o, col("o_custkey"),
            c.where(col("c_custkey") % 10 === 0), col("c_custkey"),
            "orders.custkey->customer_decile"))
      },
      "WITH " + Seq(
        adviseSql("1", "orders.custkey->customer", "orders", "o_custkey",
          "customer", "c_custkey"),
        adviseSql("2", "lineitem.partkey->part", "lineitem", "l_partkey",
          "part", "p_partkey"),
        adviseSql("3", "lineitem.suppkey->supplier", "lineitem", "l_suppkey",
          "supplier", "s_suppkey"),
        adviseSql("4", "orders.custkey->customer_decile", "orders", "o_custkey",
          "(SELECT * FROM customer WHERE c_custkey % 10 = 0)", "c_custkey"))
        .mkString(",\n") +
      "\nSELECT * FROM ad1 UNION ALL SELECT * FROM ad2 UNION ALL SELECT * FROM ad3 UNION ALL SELECT * FROM ad4"),

    // KMV distinct-users-per-event-type: the sketch keeps the 64
    // smallest distinct user hashes per group — O(k) state however
    // large the group, exactly mergeable across partitions (map-side
    // combine is bit-identical to one pass). The oracle ranks the
    // distinct hashes per group in SQL and recomputes the (k-1)*2^60/h_k
    // integer estimator, so the sketch CONTENT and the estimate are
    // both hash-checked against exact replay.
    decl("q160_kmv_distinct",
      (s, d) => {
        val ev = t(s, d, "events").select(col("event_type"), col("user_id"))
          .withColumn("h",
            Dedup.hash60(concat(lit("kmv|"), col("user_id").cast("string"))))
        ev.groupBy("event_type")
          .agg(Sketches.kmvDistinct(col("h"), 64).as("s"),
            countDistinct(col("h")).as("exact_distinct"),
            count(lit(1)).as("n_rows"))
          .select(col("event_type"), col("n_rows"), col("exact_distinct"),
            col("s.est_distinct").as("est_distinct"),
            col("s.kth_hash").as("kth_hash"),
            col("s.n_kept").as("n_kept"))
      },
      s"""WITH h AS (SELECT DISTINCT event_type,
         |  ${sqlHash60("('kmv|' || user_id::VARCHAR)")} AS h FROM events),
         |r AS (SELECT event_type, h,
         |      row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk FROM h),
         |kk AS (SELECT event_type,
         |       MAX(CASE WHEN rk <= 64 THEN h END) AS kth_hash,
         |       LEAST(COUNT(*), 64)::INT AS n_kept,
         |       COUNT(*)::BIGINT AS exact_distinct FROM r GROUP BY 1),
         |base AS (SELECT event_type, COUNT(*)::BIGINT AS n_rows FROM events GROUP BY 1)
         |SELECT kk.event_type AS event_type, base.n_rows AS n_rows,
         |  kk.exact_distinct AS exact_distinct,
         |  CASE WHEN kk.n_kept < 64 THEN kk.n_kept::BIGINT
         |       ELSE CAST((63::HUGEINT * ${1L << 60}::HUGEINT) // kk.kth_hash AS BIGINT)
         |  END AS est_distinct,
         |  kk.kth_hash AS kth_hash, kk.n_kept AS n_kept
         |FROM kk JOIN base USING (event_type)""".stripMargin),

    // Theta-sketch-style SET-INTERSECTION estimation from two KMV
    // sketches — what an optimizer's join-cardinality estimator does
    // with sketch metadata instead of scanning either side: θ =
    // min(kth_a, kth_b) re-anchors both k-min samples to a common
    // hash-space prefix, the intersection of the samples below θ is a
    // uniform sample of A∩B, and est = c·2^60/θ in integer division.
    // Exact counts ride along, so the estimate's quality is visible in
    // the result, and every step — ranks, θ, sample overlap, the
    // division — is replayed by the oracle. A = high-value events, B =
    // engagement-type events: ~10k-key sets with genuinely partial
    // overlap, so θ sits deep in the hash space and the estimate is
    // meaningfully close to (and visibly not equal to) the exact count.
    decl("q175_sketch_intersection",
      (s, d) => {
        val k = 128
        val ev = t(s, d, "events").select(col("event_type"), col("value"),
          Dedup.hash60(concat(lit("tsk|"), col("event_id").cast("string"))).as("h"))
        val a = ev.where(col("value") >= 20.0).select(col("h")).distinct()
        val b = ev.where(col("event_type").isin("click", "view", "signup"))
          .select(col("h")).distinct()
        def kmin(df: org.apache.spark.sql.DataFrame, tag: String) = df
          .withColumn("rk", row_number().over(Window.orderBy("h")))
          .where(col("rk") <= k).select(col("h").as(s"h_$tag"))
        val ka = kmin(a, "a"); val kb = kmin(b, "b")
        val stats = ka.agg(max("h_a").as("kth_a"), count(lit(1)).as("n_ka"))
          .crossJoin(kb.agg(max("h_b").as("kth_b"), count(lit(1)).as("n_kb")))
          .withColumn("theta", least(col("kth_a"), col("kth_b")))
        val sample = ka.join(kb, col("h_a") === col("h_b"))
          .crossJoin(broadcast(stats))
          .where(col("h_a") < col("theta"))
          .agg(count(lit(1)).as("sample_inter"))
        val exact = a.select(col("h")).intersect(b.select(col("h")))
          .agg(count(lit(1)).as("inter_exact"))
          .crossJoin(a.agg(count(lit(1)).as("n_a_exact")))
          .crossJoin(b.agg(count(lit(1)).as("n_b_exact")))
        stats.crossJoin(broadcast(sample)).crossJoin(broadcast(exact))
          .select(col("n_a_exact"), col("n_b_exact"), col("inter_exact"),
            col("kth_a"), col("kth_b"), col("theta"), col("sample_inter"),
            // est = c · (2^60 div θ): the factored form stays in BIGINT
            // (c · 2^60 would overflow at c > 7) at ~1/(2^60/θ) relative
            // precision — spec'd identically in the oracle
            expr(s"sample_inter * (CAST(${1L << 60} AS BIGINT) div theta)")
              .as("est_inter"))
      },
      s"""WITH ev AS (SELECT event_type, value,
         |  ${sqlHash60("('tsk|' || event_id::VARCHAR)")} AS h FROM events),
         |a AS (SELECT DISTINCT h FROM ev WHERE value >= 20.0),
         |b AS (SELECT DISTINCT h FROM ev
         |      WHERE event_type IN ('click', 'view', 'signup')),
         |ka AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rk
         |       FROM a) WHERE rk <= 128),
         |kb AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rk
         |       FROM b) WHERE rk <= 128),
         |st AS (SELECT (SELECT MAX(h) FROM ka) AS kth_a,
         |              (SELECT MAX(h) FROM kb) AS kth_b),
         |st2 AS (SELECT kth_a, kth_b, LEAST(kth_a, kth_b) AS theta FROM st),
         |smp AS (SELECT COUNT(*)::BIGINT AS sample_inter
         |        FROM ka JOIN kb USING (h), st2 WHERE ka.h < st2.theta),
         |ex AS (SELECT (SELECT COUNT(*) FROM a)::BIGINT AS n_a_exact,
         |       (SELECT COUNT(*) FROM b)::BIGINT AS n_b_exact,
         |       (SELECT COUNT(*) FROM (SELECT h FROM a INTERSECT SELECT h FROM b))::BIGINT
         |         AS inter_exact)
         |SELECT ex.n_a_exact, ex.n_b_exact, ex.inter_exact,
         |  st2.kth_a AS kth_a, st2.kth_b AS kth_b, st2.theta AS theta,
         |  smp.sample_inter AS sample_inter,
         |  smp.sample_inter * (${1L << 60} // st2.theta) AS est_inter
         |FROM st2, smp, ex""".stripMargin),

    // Sketch ROLLUP — the lakehouse "sketch column" pattern: build one
    // per-(event_type, day) KMV table (≤ k rows per cell), then answer
    // arbitrary day-range distinct-user questions from the SKETCH TABLE
    // ALONE — k-min(∪ of cells' k-mins) = k-min(∪ of cells) is the KMV
    // merge law, so re-aggregation never rescans raw events. Three
    // ranges (full / early half / late half) are estimated from the
    // same daily table; exact counts from the raw data ride along so
    // estimate quality is visible. The oracle replays the daily k-min
    // construction, the per-range re-rank, and the integer estimator.
    decl("q177_sketch_rollup",
      (s, d) => {
        val k = 64
        val ev = Q.events(s, d)
          .select(col("event_type"), col("user_id"),
            expr("unix_micros(ts) div 86400000000").as("day"))
          // metric = distinct active USER-DAYS: genuinely range-dependent
          // cardinality, so the three ranges produce distinct estimates
          .select(col("event_type"), col("day"),
            Dedup.hash60(concat(lit("rkmv|"), col("user_id").cast("string"),
              lit("|"), col("day").cast("string"))).as("h"))
        val bounds = ev.agg(min("day").as("d0"), max("day").as("d1"))
          .select(col("d0"), expr("d0 + (d1 - d0) div 2").as("dm"), col("d1"))
        val daily = ev.select(col("event_type"), col("day"), col("h")).distinct()
          .withColumn("rk", row_number().over(
            Window.partitionBy("event_type", "day").orderBy("h")))
          .where(col("rk") <= k).select("event_type", "day", "h")
        def range(tag: String, pred: org.apache.spark.sql.Column) = {
          val cells = daily.crossJoin(broadcast(bounds)).where(pred)
          val merged = cells.select(col("event_type"), col("h")).distinct()
            .withColumn("rk", row_number().over(
              Window.partitionBy("event_type").orderBy("h")))
            .where(col("rk") <= k)
          val sk = merged.groupBy("event_type")
            .agg(max("h").as("kth"), count(lit(1)).as("n_kept"))
          val exact = ev.crossJoin(broadcast(bounds)).where(pred)
            .groupBy("event_type").agg(countDistinct(col("h")).as("exact_distinct"))
          // estimator factored to stay in BIGINT: (k-1)·2^54 div (kth div 64)
          // — 63·2^60 would overflow; the 6 dropped low bits of kth are
          // spec'd identically in the oracle
          sk.join(exact, "event_type")
            .select(lit(tag).as("range_tag"), col("event_type"),
              expr(s"CASE WHEN n_kept < $k THEN CAST(n_kept AS BIGINT) " +
                s"ELSE CAST(${(k - 1) * ((1L << 60) / 64)} AS BIGINT) div (kth div 64) END")
                .as("est_distinct"),
              col("kth").as("kth_hash"), col("n_kept"), col("exact_distinct"))
        }
        range("full", col("day") >= col("d0"))
          .unionByName(range("early", col("day") <= col("dm")))
          .unionByName(range("late", col("day") > col("dm")))
      },
      s"""WITH ev0 AS (SELECT event_type, user_id,
         |  epoch_ns(ts) // 1000 // 86400000000 AS day FROM events),
         |ev AS (SELECT event_type, day,
         |  ${sqlHash60("('rkmv|' || user_id::VARCHAR || '|' || day::VARCHAR)")} AS h
         |  FROM ev0),
         |bd AS (SELECT MIN(day) AS d0, MIN(day) + (MAX(day) - MIN(day)) // 2 AS dm,
         |       MAX(day) AS d1 FROM ev),
         |daily AS (SELECT event_type, day, h FROM (
         |  SELECT event_type, day, h,
         |    row_number() OVER (PARTITION BY event_type, day ORDER BY h) AS rk
         |  FROM (SELECT DISTINCT event_type, day, h FROM ev))
         |  WHERE rk <= 64),
         |${Seq(("full", "day >= bd.d0"), ("early", "day <= bd.dm"),
               ("late", "day > bd.dm")).map { case (tag, pred) =>
             s"""m_$tag AS (SELECT event_type, h FROM (
                |  SELECT event_type, h,
                |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
                |  FROM (SELECT DISTINCT event_type, h FROM daily, bd WHERE $pred))
                |  WHERE rk <= 64),
                |s_$tag AS (SELECT event_type, MAX(h) AS kth, COUNT(*)::BIGINT AS n_kept
                |  FROM m_$tag GROUP BY 1),
                |x_$tag AS (SELECT event_type, COUNT(DISTINCT h)::BIGINT AS exact_distinct
                |  FROM ev, bd WHERE $pred GROUP BY 1),
                |r_$tag AS (SELECT '$tag' AS range_tag, s_$tag.event_type AS event_type,
                |  CASE WHEN n_kept < 64 THEN n_kept
                |       ELSE (${63L * ((1L << 60) / 64)} // (kth // 64)) END AS est_distinct,
                |  kth AS kth_hash, n_kept, exact_distinct
                |  FROM s_$tag JOIN x_$tag USING (event_type))""".stripMargin
           }.mkString(",\n")}
         |SELECT * FROM r_full UNION ALL SELECT * FROM r_early
         |UNION ALL SELECT * FROM r_late""".stripMargin),

    // Integer PageRank, 3 rounds, over the bidirected customer↔supplier
    // trade graph (suppliers offset by 10^6). Bidirection makes every
    // node's outdegree >= 1, so the engine's dangling-mass term is
    // provably zero and the oracle's unrolled rounds omit it. All
    // arithmetic is floor division on scale^-1 units — summation order
    // cannot move a single bit in either engine.
    decl("q161_pagerank_trade",
      (s, d) => {
        val eo = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
          .join(t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").cast("long").as("c"),
            (lit(1000000L) + col("l_suppkey")).as("sup"))
          .distinct()
        val edges = eo.select(col("c").as("src"), col("sup").as("dst"))
          .union(eo.select(col("sup").as("src"), col("c").as("dst")))
        Centrality.pageRank(edges, rounds = 3, scale = Scale)
      },
      s"""WITH eo AS (SELECT DISTINCT o_custkey::BIGINT AS c,
         |  (1000000 + l_suppkey)::BIGINT AS sup
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS (SELECT c AS src, sup AS dst FROM eo
         |      UNION ALL SELECT sup, c FROM eo),
         |od AS (SELECT src, COUNT(*)::BIGINT AS outdeg FROM e GROUP BY 1),
         |nodes AS (SELECT DISTINCT src AS node FROM e
         |          UNION SELECT DISTINCT dst FROM e),
         |nn AS (SELECT node, COALESCE(od.outdeg, 0)::BIGINT AS outdeg
         |       FROM nodes LEFT JOIN od ON node = od.src),
         |n AS (SELECT COUNT(*)::BIGINT AS n FROM nn),
         |r0 AS (SELECT node, outdeg, $Scale // n.n AS rank FROM nn, n),
         |${prRounds(3)}
         |SELECT node, outdeg, CAST(rank AS BIGINT) AS rank FROM r3""".stripMargin),

    // Triangle counting over the part co-purchase graph (parts sharing
    // an order), via degree-ordered orientation: out-neighborhoods stay
    // O(sqrt(m)) even on skewed graphs, wedges enumerate at the
    // orientation-minimal corner only, and one equi-join against the
    // canonical edge form closes them — each triangle found exactly
    // once, no cartesian anywhere. The oracle replays orientation,
    // wedge enumeration, and closure in SQL.
    decl("q163_triangle_counts",
      (s, d) => Centrality.triangleCounts(coPurchaseEdges(s, d)),
      s"""WITH $coPurchaseSql,
        |deg AS (SELECT node, COUNT(*)::BIGINT AS deg FROM
        |        (SELECT a AS node FROM ed UNION ALL SELECT b FROM ed) GROUP BY 1),
        |o AS (SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND ed.a < ed.b)
        |             THEN ed.a ELSE ed.b END AS src,
        |             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND ed.a < ed.b)
        |             THEN ed.b ELSE ed.a END AS dst
        |      FROM ed JOIN deg da ON ed.a = da.node JOIN deg db ON ed.b = db.node),
        |w AS (SELECT e1.src AS s, e1.dst AS x, e2.dst AS y
        |      FROM o e1 JOIN o e2 ON e1.src = e2.src AND e1.dst < e2.dst),
        |cl AS (SELECT LEAST(src, dst) AS x, GREATEST(src, dst) AS y FROM o),
        |tr AS (SELECT s, x, y FROM w JOIN cl USING (x, y)),
        |ex AS (SELECT unnest([s, x, y]) AS node FROM tr)
        |SELECT node, COUNT(*)::BIGINT AS n_triangles FROM ex GROUP BY 1""".stripMargin),

    // Bounded-round k-core peeling on the part co-purchase graph: four
    // rounds at k=75 produce a genuine CASCADE (each removal lowers
    // neighbors' degrees: 51 -> 8 -> 2 -> 1 nodes peel at sf0.01) and
    // the emitted `converged` flag makes the bounded-round spec honest
    // (round 4 still removed a node -> false, oracle-checked). One
    // degree aggregate + alive semi-joins per round, lineage cut per
    // round. Dense surviving cores = the template/boilerplate signal.
    decl("q172_kcore_peel",
      (s, d) => Centrality.kCorePeel(coPurchaseEdges(s, d), k = 75, rounds = 4),
      {
        val base =
          s"""WITH $coPurchaseSql,
            |bo AS MATERIALIZED (SELECT a AS s, b AS t FROM ed UNION ALL SELECT b, a FROM ed),
            |n0 AS MATERIALIZED (SELECT DISTINCT s AS node FROM bo),
            |a0 AS MATERIALIZED (SELECT node FROM n0)""".stripMargin
        val rounds = (1 to 4).map { r =>
          s"""d$r AS MATERIALIZED (SELECT s AS node, COUNT(*) AS dg FROM bo
             |     JOIN a${r - 1} p1 ON bo.s = p1.node JOIN a${r - 1} p2 ON bo.t = p2.node
             |     GROUP BY 1),
             |rm$r AS MATERIALIZED (SELECT p.node FROM a${r - 1} p LEFT JOIN d$r USING (node)
             |     WHERE COALESCE(dg, 0) < 75),
             |a$r AS MATERIALIZED (SELECT node FROM a${r - 1} EXCEPT SELECT node FROM rm$r)"""
            .stripMargin
        }.mkString(",\n")
        base + ",\n" + rounds +
          """,
            |removed AS (""".stripMargin +
          (1 to 4).map(r => s"SELECT node, $r AS rr FROM rm$r")
            .mkString(" UNION ALL ") + "),\n" +
          """fd AS (SELECT s AS node, COUNT(*) AS dg FROM bo
            |     JOIN a4 p1 ON bo.s = p1.node JOIN a4 p2 ON bo.t = p2.node GROUP BY 1),
            |conv AS (SELECT (SELECT COUNT(*) FROM rm4) = 0 AS converged)
            |SELECT n0.node AS node, COALESCE(rr, 0)::BIGINT AS removed_round,
            |  COALESCE(fd.dg, 0)::BIGINT AS final_deg, conv.converged AS converged
            |FROM n0 LEFT JOIN removed USING (node) LEFT JOIN fd USING (node), conv"""
            .stripMargin
      }),

    // Histogram quantile sketch: per event type, a 256-bucket equi-width
    // histogram (a plain groupBy — mergeable, retry-proof, O(buckets)
    // state per group) interpolates p50/p90/p99 of the value column.
    // Every arithmetic step — bucket assignment, cumulative counts,
    // ceil(q*n) targeting, in-bucket interpolation — is a fixed IEEE
    // expression tree the oracle replays verbatim: a DETERMINISTIC
    // quantile sketch, where t-digest/GK would be merge-order-sensitive.
    decl("q164_hist_quantiles",
      (s, d) => {
        val ev = t(s, d, "events").select(col("event_type"), col("value"))
        graft.operators.Quantiles.histQuantiles(ev, col("event_type"),
          col("value"), buckets = 256, qs = Seq(0.5, 0.9, 0.99))
      },
      """WITH b AS (SELECT event_type AS g, value::DOUBLE AS v FROM events),
        |bounds AS (SELECT g, MIN(v) AS lo, MAX(v) AS hi FROM b GROUP BY 1),
        |h AS (SELECT g, CASE WHEN hi = lo THEN 0
        |      ELSE LEAST(255, floor((v - lo) * 256.0 / (hi - lo))::BIGINT) END AS bkt,
        |      COUNT(*)::BIGINT AS cnt
        |      FROM b JOIN bounds USING (g) GROUP BY 1, 2),
        |c AS (SELECT g, bkt, cnt,
        |      CAST(SUM(cnt) OVER (PARTITION BY g ORDER BY bkt
        |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM h),
        |n AS (SELECT g, SUM(cnt)::BIGINT AS n FROM h GROUP BY 1),
        |q AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS qtile),
        |sel AS (SELECT c.g, q.qtile, c.bkt, c.cnt, c.cum - c.cnt AS cumb, c.cum,
        |        CAST(ceil(q.qtile * n.n) AS BIGINT) AS target
        |        FROM c JOIN n USING (g) CROSS JOIN q)
        |SELECT sel.g AS "group", sel.qtile AS qtile,
        |  CAST(CAST(lo + (bkt::DOUBLE + (target - cumb)::DOUBLE / cnt::DOUBLE)
        |    * (hi - lo) / 256.0 AS DECIMAL(18,4)) AS DOUBLE) AS est
        |FROM sel JOIN bounds ON sel.g = bounds.g
        |WHERE cum >= target AND cumb < target""".stripMargin),

    // Count-min heavy hitters: a 3x1024 counter sketch over the event
    // stream's user ids — counters are plain sums over fixed hash
    // positions, so the sketch merges exactly and only ever OVERcounts.
    // The top-20 users by exact count are probed back through the
    // sketch; est_cnt >= exact_cnt holds structurally in the output.
    // (The ranking window runs over the distinct-user frame — dimension
    // cardinality, not event volume; at stream scale the sketch itself
    // is the candidate generator.) The oracle rebuilds all d*w counters
    // and the min-over-rows estimates from the same hash arithmetic.
    decl("q166_countmin_heavy_hitters",
      (s, d) => {
        val m = 1024; val dd = 3
        val ev = t(s, d, "events").select(col("user_id"))
        val cm = Frequency.countMin(ev, col("user_id"), m, dd, "cm")
        val top = ev.groupBy("user_id").agg(count(lit(1)).as("exact_cnt"))
          .withColumn("rk", row_number()
            .over(Window.orderBy(col("exact_cnt").desc, col("user_id")))
            .cast("long"))
          .where(col("rk") <= 20)
        Frequency.cmEstimate(top, col("user_id"), cm, m, dd, "cm")
          .select("user_id", "exact_cnt", "rk", "est_cnt")
      },
      s"""WITH ev AS (SELECT user_id FROM events),
         |pos AS (${(0 until 3).map(j =>
             s"SELECT $j AS r, ${sqlHash60(s"('cm$j|' || user_id::VARCHAR)")} % 1024 AS p FROM ev")
             .mkString("\n  UNION ALL ")}),
         |cm AS (SELECT r, p, COUNT(*)::BIGINT AS cnt FROM pos GROUP BY 1, 2),
         |ex AS (SELECT user_id, COUNT(*)::BIGINT AS exact_cnt FROM ev GROUP BY 1),
         |top AS (SELECT * FROM (SELECT user_id, exact_cnt,
         |        row_number() OVER (ORDER BY exact_cnt DESC, user_id)::BIGINT AS rk
         |        FROM ex) WHERE rk <= 20)
         |SELECT t.user_id AS user_id, t.exact_cnt AS exact_cnt, t.rk AS rk,
         |  LEAST(${(0 until 3).map(j => s"COALESCE(c$j.cnt, 0)").mkString(", ")}) AS est_cnt
         |FROM top t
         |${(0 until 3).map(j =>
             s"LEFT JOIN cm c$j ON c$j.r = $j AND c$j.p = " +
               s"${sqlHash60(s"('cm$j|' || t.user_id::VARCHAR)")} % 1024")
             .mkString("\n")}""".stripMargin)) :+ lpaDecl :+ temporalDecl :+ modularityDecl :+ harmonicDecl :+ hllDecl :+ ssspDecl :+ pprDecl :+ pathCountDecl :+ betweennessDecl :+ chokepointDecl :+ betweennessSampledDecl :+ betweennessErrorDecl :+ entityChokepointDecl

  // q286 (round-14): per-group HYPERLOGLOG distinct — the fixed-memory
  // arm of the distinct-count family beside KMV (q164: exact below k,
  // order-statistic above; HLL: O(m) registers at ANY cardinality).
  // Registers, the scaled harmonic numerator Σ 2^(R−M_j) (an exact
  // BIGINT ≤ 2^61 by construction — no float in the state), and the
  // bias-corrected estimate are all hash-gated, with the exact
  // per-group distinct alongside; the oracle replays the trailing-zero
  // rank (`bit_count((s & -s) - 1) + 1`), the register maxima, and
  // the one IEEE division from first principles.
  private def hllDecl: Decl = {
    val p = 8; val m = 1L << p; val rMax = 60 - p + 1
    decl("q286_hll_group_distinct",
      (s, d) => {
        import graft.operators.Hll
        val ev = Q.events(s, d).select(col("event_type"), col("user_id"))
        val rep = Hll.groupDistinct(ev, col("event_type"), col("user_id"), p)
        val exact = ev.groupBy(col("event_type").as("grp"))
          .agg(countDistinct(col("user_id")).as("exact_distinct"))
        rep.join(exact, "grp")
          .select(col("grp").as("event_type"), col("n_registers_set"),
            col("register_sum"), col("harmonic_num"), col("est_distinct"),
            col("exact_distinct"))
      },
      s"""WITH ev AS (SELECT event_type, user_id FROM events),
         |h AS (SELECT event_type, ${sqlHash60("user_id::VARCHAR")} AS h FROM ev),
         |r AS (SELECT event_type, h % $m AS reg, h // $m AS s FROM h),
         |rho AS (SELECT event_type, reg,
         |        CASE WHEN s = 0 THEN $rMax
         |             ELSE bit_count((s & -s) - 1) + 1 END AS rho FROM r),
         |mreg AS (SELECT event_type, reg, MAX(rho)::BIGINT AS mr
         |         FROM rho GROUP BY 1, 2),
         |agg AS (SELECT event_type, COUNT(*)::BIGINT AS n_registers_set,
         |        SUM(mr)::BIGINT AS register_sum,
         |        SUM(1::BIGINT << ($rMax - mr)::INT)::BIGINT AS setnum
         |        FROM mreg GROUP BY 1),
         |ex AS (SELECT event_type, COUNT(DISTINCT user_id)::BIGINT
         |         AS exact_distinct FROM ev GROUP BY 1)
         |SELECT agg.event_type, agg.n_registers_set, agg.register_sum,
         |  (agg.setnum + ($m - agg.n_registers_set)
         |     * (1::BIGINT << $rMax))::BIGINT AS harmonic_num,
         |  ${PipelineQueries.sqlHllEstCase(m, rMax,
              "agg.n_registers_set", "agg.setnum")} AS est_distinct,
         |  ex.exact_distinct
         |FROM agg JOIN ex USING (event_type)""".stripMargin)
  }

  /** Unrolled LPA round CTEs aK/pK/lK over base CTEs bo/nod/l0. */
  private def lpaRounds(rounds: Int): String =
    (1 to rounds).map { r =>
      s"""a$r AS (SELECT e.dst AS node, l.label, COUNT(*)::BIGINT AS c
         |  FROM bo e JOIN l${r - 1} l ON e.src = l.node GROUP BY 1, 2),
         |p$r AS (SELECT node, label FROM (
         |  SELECT node, label, row_number() OVER (PARTITION BY node
         |    ORDER BY c DESC, label) AS rk FROM a$r) WHERE rk = 1),
         |l$r AS (SELECT nod.node, COALESCE(p$r.label, nod.node) AS label
         |  FROM nod LEFT JOIN p$r USING (node))""".stripMargin
    }.mkString(",\n")

  // q271 (round-13): synchronous label propagation — the community-
  // detection member of the graph family (PageRank ranks, triangles/
  // k-core density-score, components connect; LPA CLUSTERS). Three
  // deterministic rounds over the bidirected part co-purchase graph:
  // each node adopts the mode of its neighbors' previous labels
  // (max count, min label tie-break — no tie-coin, so any engine and
  // any partitioning converge identically). Per round: one edge⋈label
  // join + one (node, label) count + one WindowGroupLimit-bounded
  // top-1 — nothing node-quadratic. The oracle unrolls all three
  // rounds; community sizes ride along so the clustering itself (not
  // just per-node labels) is hash-gated.
  private def lpaDecl: Decl =
    decl("q271_label_propagation",
      (s, d) => {
        val und = coPurchaseEdges(s, d)
        val e = und.select(col("u").as("src"), col("v").as("dst"))
          .unionByName(und.select(col("v").as("src"), col("u").as("dst")))
        val labels = Centrality.labelPropagation(e, rounds = 3)
        val sizes = labels.groupBy("label").agg(count(lit(1)).as("community_size"))
        labels.join(sizes, "label").select("node", "label", "community_size")
      },
      s"""WITH $coPurchaseSql,
         |bo AS MATERIALIZED (SELECT a AS src, b AS dst FROM ed
         |     UNION ALL SELECT b, a FROM ed),
         |nod AS MATERIALIZED (SELECT DISTINCT src AS node FROM bo),
         |l0 AS (SELECT node, node AS label FROM nod),
         |${lpaRounds(3)},
         |sz AS (SELECT label, COUNT(*)::BIGINT AS community_size
         |       FROM l3 GROUP BY 1)
         |SELECT l3.node AS node, l3.label AS label, sz.community_size
         |FROM l3 JOIN sz USING (label)""".stripMargin)

  // q276 (round-13): MODULARITY of the q271 LPA communities — the
  // quality score that makes a clustering auditable (is the labeling
  // better than chance?), in exact integer arithmetic: per community
  // the report emits (4·m·e_c − D_c²) over the shared 4m² denominator,
  // so Q = Σ contrib_num / contrib_den with no float anywhere and the
  // oracle replays degrees, intra-edge counts and the numerator sum
  // verbatim. Composition gate: the LABELS come from the same
  // three-round LPA the q271 oracle unrolls, so a drift in either
  // operator breaks this hash too.
  private def modularityDecl: Decl =
    decl("q276_modularity",
      (s, d) => {
        val und = coPurchaseEdges(s, d)
        val e = und.select(col("u").as("src"), col("v").as("dst"))
          .unionByName(und.select(col("v").as("src"), col("u").as("dst")))
        val labels = Centrality.labelPropagation(e, rounds = 3)
        Centrality.modularityReport(und, labels)
      },
      s"""WITH $coPurchaseSql,
         |bo AS MATERIALIZED (SELECT a AS src, b AS dst FROM ed
         |     UNION ALL SELECT b, a FROM ed),
         |nod AS MATERIALIZED (SELECT DISTINCT src AS node FROM bo),
         |l0 AS (SELECT node, node AS label FROM nod),
         |${lpaRounds(3)},
         |m AS (SELECT COUNT(*)::BIGINT AS m FROM ed),
         |deg AS (SELECT src AS node, COUNT(*)::BIGINT AS d FROM bo GROUP BY 1),
         |ds AS (SELECT l.label, SUM(deg.d)::BIGINT AS degree_sum,
         |       COUNT(*)::BIGINT AS n_nodes
         |       FROM deg JOIN l3 l ON deg.node = l.node GROUP BY 1),
         |ie AS (SELECT lu.label AS label, COUNT(*)::BIGINT AS intra_edges
         |       FROM ed JOIN l3 lu ON ed.a = lu.node
         |       JOIN l3 lv ON ed.b = lv.node
         |       WHERE lu.label = lv.label GROUP BY 1)
         |SELECT ds.label, ds.n_nodes, ds.degree_sum,
         |  COALESCE(ie.intra_edges, 0)::BIGINT AS intra_edges,
         |  (4 * m.m * COALESCE(ie.intra_edges, 0)
         |   - ds.degree_sum * ds.degree_sum)::BIGINT AS contrib_num,
         |  (4 * m.m * m.m)::BIGINT AS contrib_den
         |FROM ds LEFT JOIN ie USING (label), m""".stripMargin)

  /** Unrolled plain-BFS round CTEs nK/rK over base CTEs e/r0 —
    * earliest-arrival's static twin (dist, not time). */
  private def bfsRounds(rounds: Int): String =
    (1 to rounds).map { r =>
      s"""n$r AS (SELECT r.seed, e.dst AS node, ${r}::BIGINT AS dist
         |  FROM e JOIN r${r - 1} r ON e.src = r.node
         |  WHERE r.dist = ${r - 1}),
         |r$r AS (SELECT seed, node, MIN(dist)::BIGINT AS dist FROM (
         |  SELECT * FROM r${r - 1} UNION ALL SELECT * FROM n$r) GROUP BY 1, 2)"""
        .stripMargin
    }.mkString(",\n")

  // q277 (round-13): HARMONIC CENTRALITY of sampled seeds over the
  // static customer↔supplier trade graph — Σ_reached 1/d, the
  // disconnected-safe closeness variant, as pure integers: with hop
  // distances d ∈ {1,2,3} the per-seed score is Σ 6/d =
  // 6·n₁ + 3·n₂ + 2·n₃ (common denominator 6 — no float division,
  // same rule as q161's floor-division PageRank). The BFS expands
  // only each round's FRESH frontier; the oracle unrolls three
  // labeled-BFS rounds and replays the arithmetic.
  private def harmonicDecl: Decl =
    decl("q277_harmonic_centrality",
      (s, d) => {
        val eo = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
          .join(t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").cast("long").as("c"),
            (lit(1000000L) + col("l_suppkey")).as("sup"))
          .distinct()
        val edges = eo.select(col("c").as("src"), col("sup").as("dst"))
          .unionByName(eo.select(col("sup").as("src"), col("c").as("dst")))
        val seeds = t(s, d, "customer").select(col("c_custkey"))
          .where(expr("c_custkey % 100 = 0"))
        Centrality.bfsDistances(edges, seeds, maxHops = 3)
          .groupBy("seed")
          .agg(sum(when(col("dist") === 1, 1L).otherwise(0L)).as("n1"),
            sum(when(col("dist") === 2, 1L).otherwise(0L)).as("n2"),
            sum(when(col("dist") === 3, 1L).otherwise(0L)).as("n3"))
          .select(col("seed"), col("n1"), col("n2"), col("n3"),
            (lit(6L) * col("n1") + lit(3L) * col("n2")
              + lit(2L) * col("n3")).as("harmonic_num"))
      },
      s"""WITH eo AS MATERIALIZED (SELECT DISTINCT o_custkey::BIGINT AS c,
         |  (1000000 + l_suppkey)::BIGINT AS sup
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS MATERIALIZED (SELECT c AS src, sup AS dst FROM eo
         |     UNION ALL SELECT sup, c FROM eo),
         |r0 AS (SELECT c_custkey::BIGINT AS seed, c_custkey::BIGINT AS node,
         |       0::BIGINT AS dist FROM customer WHERE c_custkey % 100 = 0),
         |${bfsRounds(3)}
         |SELECT seed,
         |  SUM(CASE WHEN dist = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
         |  SUM(CASE WHEN dist = 2 THEN 1 ELSE 0 END)::BIGINT AS n2,
         |  SUM(CASE WHEN dist = 3 THEN 1 ELSE 0 END)::BIGINT AS n3,
         |  (6 * SUM(CASE WHEN dist = 1 THEN 1 ELSE 0 END)
         |   + 3 * SUM(CASE WHEN dist = 2 THEN 1 ELSE 0 END)
         |   + 2 * SUM(CASE WHEN dist = 3 THEN 1 ELSE 0 END))::BIGINT
         |    AS harmonic_num
         |FROM r3 WHERE dist > 0 GROUP BY 1""".stripMargin)

  /** Unrolled earliest-arrival round CTEs nK/rK over base CTEs e/r0. */
  private def taRounds(rounds: Int): String =
    (1 to rounds).map { r =>
      s"""n$r AS (SELECT r.seed, e.dst AS node, e.t AS arrival
         |  FROM e JOIN r${r - 1} r ON e.src = r.node WHERE e.t > r.arrival),
         |r$r AS (SELECT seed, node, MIN(arrival)::BIGINT AS arrival FROM (
         |  SELECT * FROM r${r - 1} UNION ALL SELECT * FROM n$r) GROUP BY 1, 2)"""
        .stripMargin
    }.mkString(",\n")

  // q272 (round-13): earliest-arrival TEMPORAL reachability — plain
  // reachability (q233 BFS) is wrong on timestamped graphs: a
  // customer→supplier→customer chain whose second hop PREDATES the
  // first is not a flow. Time-respecting BFS keeps, per (seed, node),
  // the minimum arrival over paths with strictly increasing edge
  // times — the earliest-arrival semiring, state bounded by
  // seeds×reached (never path-count), merged per round like q233's
  // min-distance. Edges are the bidirected trade graph stamped with
  // the order DATE (integer epoch days — exact in both engines); the
  // `t > arrival` residual rides the node equi-join, never a
  // cartesian. The oracle unrolls all three rounds.
  private def temporalDecl: Decl =
    decl("q272_temporal_reachability",
      (s, d) => {
        val eo = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
          .join(t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").cast("long").as("c"),
            (lit(1000000L) + col("l_suppkey")).as("sup"),
            datediff(col("o_orderdate").cast("date"),
              lit("1970-01-01").cast("date")).cast("long").as("t"))
          .distinct()
        val edges = eo.select(col("c").as("src"), col("sup").as("dst"), col("t"))
          .unionByName(eo.select(col("sup").as("src"), col("c").as("dst"),
            col("t")))
        val seeds = t(s, d, "customer").select(col("c_custkey"))
          .where(expr("c_custkey % 100 = 0"))
        Centrality.earliestArrival(edges, seeds, maxHops = 3)
      },
      s"""WITH eo AS MATERIALIZED (SELECT DISTINCT o_custkey::BIGINT AS c,
         |  (1000000 + l_suppkey)::BIGINT AS sup,
         |  (o_orderdate::DATE - DATE '1970-01-01')::BIGINT AS t
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS MATERIALIZED (SELECT c AS src, sup AS dst, t FROM eo
         |     UNION ALL SELECT sup, c, t FROM eo),
         |r0 AS (SELECT c_custkey::BIGINT AS seed, c_custkey::BIGINT AS node,
         |       (-1)::BIGINT AS arrival FROM customer WHERE c_custkey % 100 = 0),
         |${taRounds(3)}
         |SELECT seed, node, arrival FROM r3 WHERE arrival >= 0""".stripMargin)

  /** Unrolled Bellman-Ford relaxation CTEs nK/rK over base CTEs e/r0. */
  private def wRounds(rounds: Int): String =
    (1 to rounds).map { r =>
      s"""n$r AS (SELECT r.seed, e.dst AS node, r.dist + e.w AS dist
         |  FROM e JOIN r${r - 1} r ON e.src = r.node),
         |r$r AS (SELECT seed, node, MIN(dist)::BIGINT AS dist FROM (
         |  SELECT * FROM r${r - 1} UNION ALL SELECT * FROM n$r) GROUP BY 1, 2)"""
        .stripMargin
    }.mkString(",\n")

  // q299 (round-14): WEIGHTED shortest paths — bounded-round
  // Bellman-Ford over the trade graph where an edge costs its
  // cheapest observed shipment quantity (exact integers): "what is
  // the lightest 3-hop trade route from each sampled customer". The
  // unweighted BFS family (q233/q277) cannot express this — a 2-hop
  // path can beat a 1-hop edge, which is precisely what the min-plus
  // merge arbitrates. Delta-frontier relaxation (only improved
  // (seed, node) pairs expand — the q272 semiring argument), state
  // |seeds|·|reached|, serialized spill-safe round checkpoints. The
  // oracle unrolls the same three relaxation rounds.
  private def ssspDecl: Decl =
    decl("q299_weighted_sssp",
      (s, d) => {
        val eo = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
          .join(t(s, d, "lineitem").select(col("l_orderkey"),
            col("l_suppkey"), col("l_quantity")),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_custkey").cast("long").as("c"),
            (lit(1000000L) + col("l_suppkey")).as("sup"))
          .agg(min(col("l_quantity").cast("long")).as("w"))
        val edges = eo.select(col("c").as("src"), col("sup").as("dst"), col("w"))
          .unionByName(eo.select(col("sup").as("src"), col("c").as("dst"),
            col("w")))
        val seeds = t(s, d, "customer").select(col("c_custkey"))
          .where(expr("c_custkey % 500 = 0"))
        Centrality.weightedDistances(edges, seeds, maxHops = 3)
      },
      s"""WITH eo AS MATERIALIZED (SELECT o_custkey::BIGINT AS c,
         |  (1000000 + l_suppkey)::BIGINT AS sup,
         |  MIN(l_quantity::BIGINT) AS w
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  GROUP BY 1, 2),
         |e AS MATERIALIZED (SELECT c AS src, sup AS dst, w FROM eo
         |     UNION ALL SELECT sup, c, w FROM eo),
         |r0 AS (SELECT c_custkey::BIGINT AS seed, c_custkey::BIGINT AS node,
         |       0::BIGINT AS dist FROM customer WHERE c_custkey % 500 = 0),
         |${wRounds(3)}
         |SELECT seed, node, dist FROM r3 WHERE node <> seed""".stripMargin)

  /** Unrolled personalized-PageRank round CTEs cK/gK/rK over base
    * CTEs e/nn/sc — [[prRounds]] plus the seed-targeted teleport and
    * the dangling-mass-to-seeds return arm. */
  private def pprRounds(rounds: Int): String =
    (1 to rounds).map { r =>
      s"""c$r AS (SELECT e.dst AS node,
         |  SUM(((85 * p.rank) // 100) // p.outdeg)::BIGINT AS inmass
         |  FROM r${r - 1} p JOIN e ON p.node = e.src
         |  WHERE p.outdeg > 0 GROUP BY 1),
         |g$r AS (SELECT COALESCE(SUM((85 * rank) // 100), 0)::BIGINT AS dang
         |  FROM r${r - 1} WHERE outdeg = 0),
         |r$r AS (SELECT nn.node, nn.outdeg, nn.is_seed,
         |  (CASE WHEN nn.is_seed
         |   THEN (${15 * Scale / 100} // sc.s) + (g$r.dang // sc.s)
         |   ELSE 0 END + COALESCE(c$r.inmass, 0))::BIGINT AS rank
         |  FROM nn LEFT JOIN c$r USING (node), sc, g$r)""".stripMargin
    }.mkString(",\n")

  // q300 (round-14): PERSONALIZED PageRank — teleport mass lands on a
  // seed set instead of uniformly, the standard seed-relative
  // relevance ranking (recommendations, entity-neighborhood risk).
  // Same engine-portable integer contract as q161 (85/100 floor
  // division, BIGINT everywhere) with two new arms the oracle replays:
  // the teleport CASE lands only on seeds, and dangling mass RETURNS
  // to the seeds — on this deliberately DIRECTED customer→supplier
  // graph the entire supplier side is dangling, so without that
  // return arm the walk would leak 85% of its mass per round instead
  // of cycling seed → supplier → seed.
  private def pprDecl: Decl =
    decl("q300_personalized_pagerank",
      (s, d) => {
        val edges = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
          .join(t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").cast("long").as("src"),
            (lit(1000000L) + col("l_suppkey")).as("dst"))
          .distinct()
        val seeds = t(s, d, "customer").select(col("c_custkey"))
          .where(expr("c_custkey % 50 = 0"))
        Centrality.personalizedPageRank(edges, seeds, rounds = 3,
          scale = Scale)
      },
      s"""WITH e AS MATERIALIZED (SELECT DISTINCT o_custkey::BIGINT AS src,
         |  (1000000 + l_suppkey)::BIGINT AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |sd AS (SELECT c_custkey::BIGINT AS seed FROM customer
         |       WHERE c_custkey % 50 = 0),
         |od AS (SELECT src, COUNT(*)::BIGINT AS outdeg FROM e GROUP BY 1),
         |nodes AS (SELECT DISTINCT src AS node FROM e
         |          UNION SELECT DISTINCT dst FROM e
         |          UNION SELECT seed FROM sd),
         |nn AS (SELECT node, COALESCE(od.outdeg, 0)::BIGINT AS outdeg,
         |       (sd.seed IS NOT NULL) AS is_seed
         |       FROM nodes LEFT JOIN od ON node = od.src
         |       LEFT JOIN sd ON node = sd.seed),
         |sc AS (SELECT COUNT(*)::BIGINT AS s FROM sd),
         |r0 AS (SELECT node, outdeg, is_seed,
         |       CASE WHEN is_seed THEN $Scale // sc.s ELSE 0 END AS rank
         |       FROM nn, sc),
         |${pprRounds(3)}
         |SELECT node, outdeg, is_seed, CAST(rank AS BIGINT) AS rank
         |FROM r3""".stripMargin)

  /** Unrolled path-count round CTEs lK/rK over base CTEs e/r0: layer
    * K sums predecessor counts, the NOT EXISTS keeps earlier-reached
    * pairs closed (a later re-reach is by construction not shortest). */
  private def pcRounds(rounds: Int): String =
    (1 to rounds).map { h =>
      s"""l$h AS (SELECT r.seed, e.dst AS node, SUM(r.paths)::BIGINT AS paths
         |  FROM e JOIN r${h - 1} r ON e.src = r.node AND r.dist = ${h - 1}
         |  GROUP BY 1, 2),
         |r$h AS (SELECT * FROM r${h - 1}
         |  UNION ALL
         |  SELECT l.seed, l.node, $h::BIGINT AS dist, l.paths FROM l$h l
         |  WHERE NOT EXISTS (SELECT 1 FROM r${h - 1} p
         |    WHERE p.seed = l.seed AND p.node = l.node))""".stripMargin
    }.mkString(",\n")

  // q313 (round-14): SHORTEST-PATH COUNTS — Brandes' forward phase as
  // an operator: distance AND the number σ of distinct shortest paths
  // per (seed, node), the quantity betweenness/path-redundancy
  // analyses start from ("how many independent 2-hop routes connect
  // these parties" is itself a risk signal: σ = 1 is a chokepoint).
  // The (min,+)-with-count-sums semiring rides BFS layers — counts
  // grow multiplicatively with degree, ROWS do not (one aggregate per
  // layer, an anti-join closes earlier-reached pairs). The oracle
  // unrolls the same three layers with the same NOT-EXISTS closure.
  private def pathCountDecl: Decl =
    decl("q313_shortest_path_counts",
      (s, d) => {
        val (edges, seeds) = bipartiteFixture(s, d)
        Centrality.shortestPathCounts(edges, seeds, maxHops = 3)
      },
      s"""WITH eo AS MATERIALIZED (SELECT DISTINCT o_custkey::BIGINT AS c,
         |  (1000000 + l_suppkey)::BIGINT AS sup
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS MATERIALIZED (SELECT c AS src, sup AS dst FROM eo
         |     UNION ALL SELECT sup, c FROM eo),
         |r0 AS (SELECT c_custkey::BIGINT AS seed, c_custkey::BIGINT AS node,
         |       0::BIGINT AS dist, 1::BIGINT AS paths
         |       FROM customer WHERE c_custkey % 500 = 0),
         |${pcRounds(3)}
         |SELECT seed, node, dist, paths FROM r3 WHERE dist > 0""".stripMargin)

  /** Unrolled BACKWARD (dependency-accumulation) round CTEs cK/dK over
    * the forward CTEs e/r$rounds: layer K's dependency sums its DAG-edge
    * contributions σ(v)·(scale + dep(w)) div σ(w) from layer K+1,
    * left-joined so successor-less nodes keep dep 0 — the exact twin of
    * [[graft.operators.Centrality.betweenness]]'s per-layer joins. */
  private def bwRounds(rounds: Int, scale: Long): String = {
    val rN = s"r$rounds"
    ((rounds - 1) to 1 by -1).map { k =>
      s"""c$k AS (SELECT w.seed, e.src AS node,
         |  SUM((v.paths * ($scale + d.dep)) // w.paths)::BIGINT AS dep
         |  FROM e JOIN $rN w ON e.dst = w.node AND w.dist = ${k + 1}
         |  JOIN d${k + 1} d ON d.seed = w.seed AND d.node = w.node
         |  JOIN $rN v ON v.seed = w.seed AND v.node = e.src AND v.dist = $k
         |  GROUP BY 1, 2),
         |d$k AS (SELECT l.seed, l.node, COALESCE(c.dep, 0)::BIGINT AS dep
         |  FROM (SELECT seed, node FROM $rN WHERE dist = $k) l
         |  LEFT JOIN c$k c ON c.seed = l.seed AND c.node = l.node)""".stripMargin
    }.mkString(",\n")
  }

  // q319 (round-15): BETWEENNESS dependency accumulation — Brandes'
  // backward phase completing q313's forward σ counts: dependencies
  // flow from the deepest BFS layer back toward the seeds, δ(v) =
  // Σ_succ σ(v)/σ(w)·(1+δ(w)), in scaled-integer arithmetic (each DAG
  // edge contributes σ(v)·(scale+D(w)) div σ(w), floor-rounded BEFORE
  // the sum — deterministic on any engine/partitioning, replayed
  // term-for-term by the oracle). This is the chokepoint score the
  // screening-network family points at: a high-dep supplier is the
  // broker every shortest customer→customer route crosses. Bounded-
  // round contract as the whole family (terminal layer dep 0 = Brandes
  // on the maxHops-truncated DAG). One edge join + one aggregate per
  // layer per direction; the oracle unrolls forward AND backward.
  private def betweennessDecl: Decl =
    decl("q319_betweenness",
      (s, d) => {
        val (edges, seeds) = bipartiteFixture(s, d)
        Centrality.betweenness(edges, seeds, maxHops = 3, scale = 1000000L)
      },
      s"""WITH eo AS MATERIALIZED (SELECT DISTINCT o_custkey::BIGINT AS c,
         |  (1000000 + l_suppkey)::BIGINT AS sup
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS MATERIALIZED (SELECT c AS src, sup AS dst FROM eo
         |     UNION ALL SELECT sup, c FROM eo),
         |r0 AS (SELECT c_custkey::BIGINT AS seed, c_custkey::BIGINT AS node,
         |       0::BIGINT AS dist, 1::BIGINT AS paths
         |       FROM customer WHERE c_custkey % 500 = 0),
         |${pcRounds(3)},
         |d3 AS (SELECT seed, node, 0::BIGINT AS dep FROM r3 WHERE dist = 3),
         |${bwRounds(3, 1000000L)}
         |SELECT r.seed, r.node, r.dist, r.paths, u.dep
         |FROM r3 r JOIN (SELECT * FROM d1 UNION ALL SELECT * FROM d2
         |                UNION ALL SELECT * FROM d3) u
         |  ON u.seed = r.seed AND u.node = r.node
         |WHERE r.dist > 0""".stripMargin)

  // q327 (round-15): CHOKEPOINT BROKERS — q319's dependency scores
  // aggregated to the node level and top-k'd: betweenness(v) =
  // Σ_seeds δ_s(v), the score that ranks which suppliers every
  // shortest customer→customer route crosses (the broker the
  // screening family wants surfaced). One groupBy-sum over the
  // per-seed deps + a deterministic global top-10 (score desc, node
  // asc — no tie-coin). n_seeds_covering rides along so reach and
  // brokerage are distinguishable in the gate.
  private def chokepointDecl: Decl =
    decl("q327_chokepoint_brokers",
      (s, d) => {
        val (edges, seeds) = bipartiteFixture(s, d)
        Centrality.betweenness(edges, seeds, maxHops = 3, scale = 1000000L)
          .groupBy("node")
          .agg(count(lit(1)).as("n_seeds_covering"),
            sum(col("dep")).as("betweenness"))
          .orderBy(col("betweenness").desc, col("node").asc)
          .limit(10)
      },
      s"""WITH eo AS MATERIALIZED (SELECT DISTINCT o_custkey::BIGINT AS c,
         |  (1000000 + l_suppkey)::BIGINT AS sup
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS MATERIALIZED (SELECT c AS src, sup AS dst FROM eo
         |     UNION ALL SELECT sup, c FROM eo),
         |r0 AS (SELECT c_custkey::BIGINT AS seed, c_custkey::BIGINT AS node,
         |       0::BIGINT AS dist, 1::BIGINT AS paths
         |       FROM customer WHERE c_custkey % 500 = 0),
         |${pcRounds(3)},
         |d3 AS (SELECT seed, node, 0::BIGINT AS dep FROM r3 WHERE dist = 3),
         |${bwRounds(3, 1000000L)},
         |gran AS (SELECT r.seed, r.node, u.dep
         |  FROM r3 r JOIN (SELECT * FROM d1 UNION ALL SELECT * FROM d2
         |                  UNION ALL SELECT * FROM d3) u
         |    ON u.seed = r.seed AND u.node = r.node
         |  WHERE r.dist > 0)
         |SELECT node, COUNT(*)::BIGINT AS n_seeds_covering,
         |  SUM(dep)::BIGINT AS betweenness
         |FROM gran GROUP BY 1
         |ORDER BY betweenness DESC, node ASC LIMIT 10""".stripMargin)

  /** The q319/q327 customer–supplier bipartite graph + the %500 seed
    * pool, shared by the sampled-betweenness family (q329/q330). */
  private def bipartiteFixture(s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
    // eo is query-scoped cached (guide §2.4): both union arms reference
    // it, so the orders⋈lineitem distinct otherwise computes twice in
    // the one materialization of the operator's edge persist
    val eo = graft.operators.QueryScoped.cached(t(s, d, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").cast("long").as("c"),
        (lit(1000000L) + col("l_suppkey")).as("sup"))
      .distinct())
    val edges = eo.select(col("c").as("src"), col("sup").as("dst"))
      .unionByName(eo.select(col("sup").as("src"), col("c").as("dst")))
    val pool = t(s, d, "customer").where(expr("c_custkey % 500 = 0"))
      .select(col("c_custkey").cast("long").as("id"))
    (edges, pool)
  }

  /** Shared SQL prefix for q329/q330: the bipartite edges, the seed
    * pool, its size, and the hash-stable k-draw (`smp`). */
  private def btwSamplePrefix(k: Int): String =
    s"""WITH eo AS MATERIALIZED (SELECT DISTINCT o_custkey::BIGINT AS c,
       |  (1000000 + l_suppkey)::BIGINT AS sup
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e AS MATERIALIZED (SELECT c AS src, sup AS dst FROM eo
       |     UNION ALL SELECT sup, c FROM eo),
       |pool AS (SELECT c_custkey::BIGINT AS id FROM customer
       |         WHERE c_custkey % 500 = 0),
       |pn AS (SELECT COUNT(*)::BIGINT AS pool_size FROM pool),
       |smp AS (SELECT id FROM pool
       |  ORDER BY ${sqlHash60("('bs|' || id::VARCHAR)")}, id LIMIT $k)""".stripMargin

  // q329 (round-16): SAMPLED-SEED BETWEENNESS — the 100 TB scale path
  // for q319 (Brandes–Pich): exact per-seed Brandes is O(|seeds|·E),
  // so at corpus scale the seed set is SAMPLED — k seeds drawn
  // hash-stably from the pool (order by hash60('bs|'‖id), id — the
  // Sampling.scala draw discipline: deterministic, engine-replayable,
  // independent of the id domain's shape), Brandes runs on those k
  // ONLY (the wall scales with k·E, not |pool|·E — the decade row
  // beside q319's is the evidence), and per-node betweenness is the
  // scaled-up subset sum est = Σ_sample δ · |pool| div k — unbiased
  // over the draw because each per-seed dependency is itself exact.
  // The oracle replays draw, forward σ, backward δ, and the scale-up.
  private def betweennessSampledDecl: Decl =
    decl("q329_betweenness_sampled",
      (s, d) => {
        val (edges, pool) = bipartiteFixture(s, d)
        val sample = pool.orderBy(
            graft.operators.Dedup.hash60(
              concat(lit("bs|"), col("id").cast("string"))), col("id"))
          .limit(10)
        val poolN = broadcast(pool.agg(count(lit(1)).as("pool_size")))
        Centrality.betweenness(edges, sample, maxHops = 3, scale = 1000000L)
          .groupBy("node")
          .agg(count(lit(1)).as("n_sample_seeds_covering"),
            sum(col("dep")).as("sample_dep"))
          .crossJoin(poolN)
          .select(col("node"), col("n_sample_seeds_covering"),
            col("sample_dep"), col("pool_size"),
            least(lit(10L), col("pool_size")).as("sample_k"),
            expr("(sample_dep * pool_size) div least(10, pool_size)")
              .as("est_betweenness"))
      },
      s"""${btwSamplePrefix(10)},
         |r0 AS (SELECT id AS seed, id AS node, 0::BIGINT AS dist,
         |       1::BIGINT AS paths FROM smp),
         |${pcRounds(3)},
         |d3 AS (SELECT seed, node, 0::BIGINT AS dep FROM r3 WHERE dist = 3),
         |${bwRounds(3, 1000000L)},
         |gran AS (SELECT r.seed, r.node, u.dep
         |  FROM r3 r JOIN (SELECT * FROM d1 UNION ALL SELECT * FROM d2
         |                  UNION ALL SELECT * FROM d3) u
         |    ON u.seed = r.seed AND u.node = r.node
         |  WHERE r.dist > 0)
         |SELECT g.node, COUNT(*)::BIGINT AS n_sample_seeds_covering,
         |  SUM(g.dep)::BIGINT AS sample_dep, pn.pool_size,
         |  LEAST(10, pn.pool_size)::BIGINT AS sample_k,
         |  ((SUM(g.dep)::BIGINT * pn.pool_size)
         |     // LEAST(10, pn.pool_size))::BIGINT AS est_betweenness
         |FROM gran g, pn GROUP BY g.node, pn.pool_size""".stripMargin)

  // q330 (round-16): the sampled estimator's QUALITY GATE — ONE
  // full-pool Brandes run yields every per-seed dependency, so the
  // exact node betweenness (Σ over ALL pool seeds) and the q329
  // estimator (scaled Σ over the k hash-drawn seeds — identical
  // values to running Brandes on the subset, per-seed deps don't
  // interact) come from the same frame and are gated side by side
  // with the absolute error, top-20 by exact score. k = 5 here so
  // the sampled subset is PROPER at bench scale (pool 30 at sf0.1)
  // while still total at sf0.01's 3-seed pool (est ≡ exact — the
  // degenerate-draw identity is itself part of the gate).
  private def betweennessErrorDecl: Decl =
    decl("q330_betweenness_sample_error",
      (s, d) => {
        val (edges, pool) = bipartiteFixture(s, d)
        val sample = broadcast(pool.orderBy(
            graft.operators.Dedup.hash60(
              concat(lit("bs|"), col("id").cast("string"))), col("id"))
          .limit(5).select(col("id").as("seed"), lit(1L).as("in_sample")))
        val poolN = broadcast(pool.agg(count(lit(1)).as("pool_size")))
        Centrality.betweenness(edges, pool, maxHops = 3, scale = 1000000L)
          .join(sample, Seq("seed"), "left")
          .groupBy("node")
          .agg(count(lit(1)).as("n_seeds_covering"),
            sum(col("dep")).as("exact_betweenness"),
            sum(when(col("in_sample") === 1L, col("dep")).otherwise(0L))
              .as("sample_dep"))
          .crossJoin(poolN)
          .select(col("node"), col("n_seeds_covering"),
            col("exact_betweenness"),
            least(lit(5L), col("pool_size")).as("sample_k"),
            expr("(sample_dep * pool_size) div least(5, pool_size)")
              .as("est_betweenness"))
          .withColumn("abs_error",
            abs(col("est_betweenness") - col("exact_betweenness")))
          .orderBy(col("exact_betweenness").desc, col("node").asc)
          .limit(20)
      },
      s"""${btwSamplePrefix(5)},
         |r0 AS (SELECT id AS seed, id AS node, 0::BIGINT AS dist,
         |       1::BIGINT AS paths FROM pool),
         |${pcRounds(3)},
         |d3 AS (SELECT seed, node, 0::BIGINT AS dep FROM r3 WHERE dist = 3),
         |${bwRounds(3, 1000000L)},
         |gran AS (SELECT r.seed, r.node, u.dep
         |  FROM r3 r JOIN (SELECT * FROM d1 UNION ALL SELECT * FROM d2
         |                  UNION ALL SELECT * FROM d3) u
         |    ON u.seed = r.seed AND u.node = r.node
         |  WHERE r.dist > 0),
         |agg AS (SELECT g.node, COUNT(*)::BIGINT AS n_seeds_covering,
         |  SUM(g.dep)::BIGINT AS exact_betweenness,
         |  LEAST(5, pn.pool_size)::BIGINT AS sample_k,
         |  ((SUM(CASE WHEN g.seed IN (SELECT id FROM smp)
         |        THEN g.dep ELSE 0 END)::BIGINT * pn.pool_size)
         |     // LEAST(5, pn.pool_size))::BIGINT AS est_betweenness
         |  FROM gran g, pn GROUP BY g.node, pn.pool_size)
         |SELECT node, n_seeds_covering, exact_betweenness, sample_k,
         |  est_betweenness,
         |  abs(est_betweenness - exact_betweenness)::BIGINT AS abs_error
         |FROM agg
         |ORDER BY exact_betweenness DESC, node ASC LIMIT 20""".stripMargin)

  // q333 (round-16): CHOKEPOINT BROKERS on the ENTITY graph — q327's
  // broker view re-hosted over q233's synthetic-entity chain fixture
  // and COMPOSED with the risk-topic gate (P1/P4): betweenness scores
  // aggregate per node, join to the synthetic entity frame on the
  // 'c‖custkey' id, and the P4 topic filter keeps sanction-topic
  // entities only — "which SANCTIONED parties does every shortest
  // route cross", the screening question the expansion family points
  // at. Seeds are hash-drawn (~1/499 of customers — hash, not raw
  // modulus, so the draw survives any key-domain bijection); the
  // oracle replays the chain edges, three Brandes layers each way,
  // the id join, and the topic-gate arithmetic.
  private def entityChokepointDecl: Decl =
    decl("q333_entity_chokepoints",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val c = t(s, d, "customer")
        val w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
        val chain = c.withColumn("next", lead(col("c_custkey"), 1).over(w))
          .filter(col("next").isNotNull)
          .select(col("c_custkey").cast("long").as("src"),
            col("next").cast("long").as("dst"))
        val edges = chain.unionByName(
          chain.select(col("dst").as("src"), col("src").as("dst")))
        val seeds = c.where(pmod(graft.operators.Dedup.hash60(
            concat(lit("ec|"), col("c_custkey").cast("string"))),
            lit(499L)) === 0)
          .select(col("c_custkey").cast("long").as("id"))
        val scores = Centrality.betweenness(edges, seeds, maxHops = 3,
            scale = 1000000L)
          .groupBy("node")
          .agg(count(lit(1)).as("n_seeds_covering"),
            sum(col("dep")).as("betweenness"))
        val ents = ExportQueries.syntheticEntities(s, d)
          .select(col("id"), col("schema").as("sch"),
            coalesce(element_at(col("properties"), "topics"),
              array().cast("array<string>")).as("topics"))
        scores
          .join(ents, concat(lit("c"), col("node").cast("string")) === col("id"))
          .where(array_contains(col("topics"), "sanction"))
          .select(col("id"), col("sch"), col("node"),
            col("n_seeds_covering"), col("betweenness"))
          .orderBy(col("betweenness").desc, col("node").asc)
          .limit(15)
      },
      s"""WITH base AS (SELECT c_custkey::BIGINT AS src,
         |  (lead(c_custkey) OVER (PARTITION BY c_nationkey
         |     ORDER BY c_custkey))::BIGINT AS dst FROM customer),
         |e AS MATERIALIZED (SELECT src, dst FROM base WHERE dst IS NOT NULL
         |  UNION ALL SELECT dst, src FROM base WHERE dst IS NOT NULL),
         |r0 AS (SELECT c_custkey::BIGINT AS seed, c_custkey::BIGINT AS node,
         |       0::BIGINT AS dist, 1::BIGINT AS paths FROM customer
         |       WHERE ${sqlHash60("('ec|' || c_custkey::VARCHAR)")} % 499 = 0),
         |${pcRounds(3)},
         |d3 AS (SELECT seed, node, 0::BIGINT AS dep FROM r3 WHERE dist = 3),
         |${bwRounds(3, 1000000L)},
         |gran AS (SELECT r.seed, r.node, u.dep
         |  FROM r3 r JOIN (SELECT * FROM d1 UNION ALL SELECT * FROM d2
         |                  UNION ALL SELECT * FROM d3) u
         |    ON u.seed = r.seed AND u.node = r.node
         |  WHERE r.dist > 0),
         |agg AS (SELECT node, COUNT(*)::BIGINT AS n_seeds_covering,
         |  SUM(dep)::BIGINT AS betweenness FROM gran GROUP BY 1)
         |SELECT 'c' || node::VARCHAR AS id,
         |  CASE WHEN node % 4 = 0 THEN 'Company' ELSE 'Person' END AS sch,
         |  node, n_seeds_covering, betweenness
         |FROM agg WHERE node % 3 = 0
         |ORDER BY betweenness DESC, node ASC LIMIT 15""".stripMargin)
}
