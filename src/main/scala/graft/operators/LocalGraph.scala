package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, ShortType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable
import scala.reflect.ClassTag

/** The local-graph runtime of the graph operators. An edge frame that
  * passes the iteration-state gate ([[fits]]) is collected to the driver
  * once, as sorted distinct ids and dense edge endpoints, and solved
  * there ([[ConnectedComponents.run]]'s union-find finish) or broadcast
  * to every task ([[Centrality]]'s seed kernel). This is REPOSE's
  * pattern: replicate one compact index instead of shuffling the graph
  * once per round. The reference resolver has the same shape, an
  * in-memory union-find over the judgement journal
  * (zavod/zavod/integration/dedupe.py:22-128).
  */
object LocalGraph {

  private val JobDescription = "spark.job.description"

  /** Runs `body` with `what` as the calling thread's Spark job
    * description and restores the previous description afterwards. */
  def described[T](spark: SparkSession, what: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(JobDescription)
    sc.setJobDescription(what)
    try body finally sc.setLocalProperty(JobDescription, prev)
  }

  /** The gate: a frame of `rows` rows and `bytes` measured bytes fits
    * when it has at most [[IterState.RowsCap]] rows and at most
    * [[IterState.bytesCap]] bytes (a cap of 0 disables the byte bound).
    * A frame that size is what a size-gated broadcast ships to every
    * executor, so holding it on the driver costs no more. */
  def fits(spark: SparkSession, rows: Long, bytes: Long): Boolean = {
    val cap = IterState.bytesCap(spark)
    rows <= IterState.RowsCap && (cap <= 0 || bytes <= cap)
  }

  /** How the collector reads, orders and finds one key type. */
  sealed abstract class Key[K](val dataType: DataType)(implicit val tag: ClassTag[K])
      extends Serializable {
    def get(r: InternalRow, i: Int): K
    def sort(a: Array[K]): Unit
    def search(ids: Array[K], k: K): Int
  }

  object Key {
    /** Integral keys, cast to long: Spark orders them as longs. */
    case object Integral extends Key[Long](LongType) {
      def get(r: InternalRow, i: Int): Long = r.getLong(i)
      def sort(a: Array[Long]): Unit = java.util.Arrays.sort(a)
      def search(ids: Array[Long], k: Long): Int = java.util.Arrays.binarySearch(ids, k)
    }

    /** String keys, copied out of the row, in Spark's binary order:
      * unsigned UTF-8 bytes, which differs from Java's String order. */
    case object Utf8 extends Key[UTF8String](StringType) {
      private val order: java.util.Comparator[UTF8String] = _.binaryCompare(_)
      def get(r: InternalRow, i: Int): UTF8String = r.getUTF8String(i).copy()
      def sort(a: Array[UTF8String]): Unit = java.util.Arrays.sort(a, order)
      def search(ids: Array[UTF8String], k: UTF8String): Int =
        java.util.Arrays.binarySearch(ids, k, order)
    }

    /** The key of a column type: Long, Int and Short keys collect as
      * longs, strings as strings; None for any other type. */
    def of(dt: DataType): Option[Key[_]] = dt match {
      case LongType | IntegerType | ShortType => Some(Integral)
      case StringType => Some(Utf8)
      case _ => None
    }
  }

  /** A collected (src, dst) frame over dense indices. `ids` are its
    * sorted distinct non-null keys; edge k runs from `from(k)` to
    * `to(k)`, one entry per edge row, so parallel edges repeat. Index
    * `ids.length` stands for a null `dst`. Rows with a null `src` are
    * dropped: no join ever matches them. */
  final class Graph[K](val ids: Array[K], val from: Array[Int], val to: Array[Int])

  /** Collects `e`'s edges in one job. For a frame whose size the caller
    * has already priced with [[fits]]. */
  def collect[K](e: DataFrame, key: Key[K], what: String): Graph[K] = {
    val parts = described(e.sparkSession, what) {
      edgeRows(e, key).mapPartitions(it => Iterator.single(pack(key, Long.MaxValue)(it))).collect()
    }
    graph(key, parts)
  }

  /** Collects `e`'s long (src, dst) edges when they fit the gate, at
    * 16 bytes per row, else None. One job counts every partition and
    * returns its edges too if the partition holds at most its 1/p share
    * of the gate; so the driver never holds more than the gate, and a
    * second job collects only the partitions past their share when the
    * total passes. */
  def gated(e: DataFrame, what: String): Option[Graph[Long]] = {
    val spark = e.sparkSession
    val key = Key.Integral
    val rdd = edgeRows(e, key)
    val width = 2L * LongType.defaultSize
    val cap = IterState.bytesCap(spark)
    val most = math.min(IterState.RowsCap, if (cap > 0) cap / width else Long.MaxValue)
    val share = most / math.max(1, rdd.getNumPartitions)
    val first = described(spark, what) {
      rdd.mapPartitions(it => Iterator.single(pack(key, share)(it))).collect()
    }
    val total = first.map(_.rows).sum
    if (!fits(spark, total, total * width)) return None
    val missing = first.indices.filter(first(_).src == null)
    val rest = if (missing.isEmpty) Array.empty[Packed[Long]] else
      described(spark, what) {
        spark.sparkContext.runJob(rdd, pack(key, Long.MaxValue) _, missing)
      }
    Some(graph(key, first.filter(_.src != null) ++ rest))
  }

  private def edgeRows(e: DataFrame, key: Key[_]) =
    e.select(col("src").cast(key.dataType), col("dst").cast(key.dataType))
      .queryExecution.toRdd

  /** One partition's (src, dst) rows: its row count, and its edges while
    * the count is at most `limit`, else null arrays. */
  private final case class Packed[K](rows: Long, src: Array[K], dst: Array[K],
      toNull: Array[K])

  private def pack[K](key: Key[K], limit: Long)(it: Iterator[InternalRow]): Packed[K] = {
    implicit val tag: ClassTag[K] = key.tag
    val src, dst, toNull = mutable.ArrayBuilder.make[K]
    var rows = 0L
    it.foreach { r =>
      rows += 1
      if (rows <= limit && !r.isNullAt(0)) {
        if (r.isNullAt(1)) toNull += key.get(r, 0)
        else { src += key.get(r, 0); dst += key.get(r, 1) }
      }
    }
    if (rows > limit) Packed(rows, null, null, null)
    else Packed(rows, src.result(), dst.result(), toNull.result())
  }

  /** The id dictionary: sorted distinct ids, and each edge's ends as
    * indices into them. */
  private def graph[K](key: Key[K], parts: Array[Packed[K]]): Graph[K] = {
    implicit val tag: ClassTag[K] = key.tag
    val src = parts.flatMap(_.src)
    val dst = parts.flatMap(_.dst)
    val toNull = parts.flatMap(_.toNull)
    val all = Array.concat(src, dst, toNull)
    key.sort(all)
    var n = 0
    all.indices.foreach { i =>
      if (i == 0 || all(i) != all(i - 1)) { all(n) = all(i); n += 1 }
    }
    val ids = all.take(n)
    def index(k: K) = key.search(ids, k)
    new Graph(ids,
      Array.concat(src.map(index), toNull.map(index)),
      Array.concat(dst.map(index), Array.fill(toNull.length)(n)))
  }
}
