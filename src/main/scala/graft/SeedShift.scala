package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Second-seed dataset generator: a deterministic, schema-preserving
  * perturbation of a testdata directory that breaks every seed-42
  * fixture accident WITHOUT changing what the queries compute:
  *
  *  - every key domain is remapped through an affine bijection
  *    k → (k·37 + 11) mod M (M = the smallest power of two above the
  *    domain's max key, so the map is a bijection on [0, M) and the
  *    remapped keys stay in the domain's original magnitude — planted
  *    +10⁶ overlay ids in the query fixtures remain collision-free).
  *    Foreign keys get the owning domain's map, so joins and group
  *    sizes are IDENTICAL; every modular selector (doc_id % 37,
  *    vec_id % 50, …), every ordering by key, and every "planted at
  *    position p" accident changes membership.
  *  - doc_id and vec_id share one map (q169/q179 fuse the two tables
  *    on the id, so the alignment is semantic, not accidental).
  *  - all timestamps shift by +11 days (monotone, so SCD/window/delta
  *    semantics are unchanged; any oracle that PASSES only because a
  *    literal date matched seed-42 data fails here).
  *  - row order is shuffled by a hash of the new key (storage order is
  *    never semantic; a query that only passes because parquet row
  *    order matched would fail here).
  *  - values (text, prices, names, vectors) are byte-identical: the
  *    point is to vary the ACCIDENTS (key values, residues, order),
  *    not the distributions the operators are tested against.
  *
  * Running the full 160+-query DuckDB-oracle sweep against the output
  * directory is the round-9 fixture-overfit gate: both engines read
  * the same perturbed parquet, so any query that passes on seed 42
  * but fails here depends on a seed-42 accident. See SEEDB.md.
  *
  * Usage: runMain graft.SeedShift [srcDir] [dstDir]
  */
object SeedShift {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val dst = args.lift(1).getOrElse("target/seedB")
    val spark = GraftSession.builder(GraftSession.settings(inputDir = Some(src))).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def read(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")

    /** Smallest power of two strictly above the max value of `c`. */
    def domainMod(dfs: Seq[(DataFrame, String)]): Long = {
      val mx = dfs.map { case (df, c) =>
        df.agg(max(col(c).cast("long"))).head().getLong(0)
      }.max
      var m = 1L
      while (m <= mx) m <<= 1
      m
    }

    /** Affine bijection on [0, M): odd multiplier mod a power of two. */
    def perm(c: Column, m: Long): Column = (c.cast("long") * 37L + 11L) % m

    val customer = read("customer"); val supplier = read("supplier")
    val part = read("part"); val orders = read("orders")
    val lineitem = read("lineitem"); val events = read("events")
    val documents = read("documents"); val embeddings = read("embeddings")

    val mCust = domainMod(Seq((customer, "c_custkey")))
    val mSupp = domainMod(Seq((supplier, "s_suppkey")))
    val mPart = domainMod(Seq((part, "p_partkey")))
    val mOrd = domainMod(Seq((orders, "o_orderkey")))
    val mEvt = domainMod(Seq((events, "event_id")))
    val mUser = domainMod(Seq((events, "user_id")))
    // doc_id and vec_id are ONE id space (the retrieval fusion queries
    // join documents to embeddings on it) — one shared map
    val mDoc = domainMod(Seq((documents, "doc_id"), (embeddings, "vec_id")))
    System.err.println(s"[seedshift] moduli: cust=$mCust supp=$mSupp " +
      s"part=$mPart ord=$mOrd evt=$mEvt user=$mUser doc=$mDoc")

    def shuffled(df: DataFrame, key: String): DataFrame =
      df.orderBy(md5(concat(lit("seedB|"), col(key).cast("string"))))

    def write(name: String)(df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      System.err.println(s"[seedshift] $name done")
    }

    // dimension tables: tiny, keys referenced as int32 across the star
    // schema — pass through untouched (as they would at any seed)
    write("region")(read("region"))
    write("nation")(read("nation"))

    write("customer")(shuffled(customer
      .withColumn("c_custkey", perm(col("c_custkey"), mCust)), "c_custkey"))
    write("supplier")(shuffled(supplier
      .withColumn("s_suppkey", perm(col("s_suppkey"), mSupp)), "s_suppkey"))
    write("part")(shuffled(part
      .withColumn("p_partkey", perm(col("p_partkey"), mPart)), "p_partkey"))
    write("orders")(shuffled(orders
      .withColumn("o_orderkey", perm(col("o_orderkey"), mOrd))
      .withColumn("o_custkey", perm(col("o_custkey"), mCust))
      .withColumn("o_orderdate", col("o_orderdate") + expr("INTERVAL 11 DAYS")),
      "o_orderkey"))
    write("lineitem")(shuffled(lineitem
      .withColumn("l_orderkey", perm(col("l_orderkey"), mOrd))
      .withColumn("l_partkey", perm(col("l_partkey"), mPart))
      .withColumn("l_suppkey", perm(col("l_suppkey"), mSupp))
      .withColumn("l_shipdate", col("l_shipdate") + expr("INTERVAL 11 DAYS")),
      "l_orderkey"))
    write("events")(shuffled(events
      .withColumn("event_id", perm(col("event_id"), mEvt))
      .withColumn("user_id", perm(col("user_id"), mUser))
      .withColumn("ts", col("ts") + expr("INTERVAL 11 DAYS")), "event_id"))
    write("documents")(shuffled(documents
      .withColumn("doc_id", perm(col("doc_id"), mDoc)), "doc_id"))
    write("embeddings")(shuffled(embeddings
      .withColumn("vec_id", perm(col("vec_id"), mDoc)), "vec_id"))
    spark.stop()
  }
}
