package graft.operators

import graft.SparkSpec

/** Differential test of [[Resolver.canonicalize]] against a plain-Scala
  * replay of the journal: the latest judgement per unordered pair wins
  * (decided_at, then user, both descending), effective POSITIVE pairs
  * whose BOTH endpoints are nodes are unioned, and a cluster's canonical
  * id is its min id under unsigned UTF-8 byte order (Spark's binary
  * string order). Run with the components local finish on and off. */
class ResolverDifferentialSpec extends SparkSpec {
  import spark.implicits._

  private type Row = (String, String, String, String, java.sql.Timestamp)

  private def utf8Lt(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(a.getBytes("UTF-8"), b.getBytes("UTF-8")) < 0

  private def expected(nodes: Seq[String], journal: Seq[Row]): Map[String, String] = {
    val ns = nodes.toSet
    val latest = journal
      .groupBy { case (a, b, _, _, _) => if (utf8Lt(b, a)) (b, a) else (a, b) }
      .values.map(_.maxBy { case (_, _, _, user, at) => (at.getTime, user) })
    val parent = scala.collection.mutable.Map(ns.toSeq.map(n => n -> n): _*)
    def find(x: String): String =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    for ((a, b, j, _, _) <- latest
         if j == Resolver.Positive && ns(a) && ns(b)) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    val members = ns.toSeq.groupBy(find)
    ns.toSeq.map(n => n -> members(find(n)).reduce((x, y) => if (utf8Lt(y, x)) y else x)).toMap
  }

  private def actual(nodes: Seq[String], journal: Seq[Row]): Map[String, String] = {
    val out = Resolver.canonicalize(nodes.toDF("id"),
      journal.toDF("a", "b", "judgement", "user", "decided_at"))
      .as[(String, String)].collect()
    assert(out.map(_._1).distinct.length == out.length, "one row per id")
    out.toMap
  }

  private def bothFinishes(body: => Unit): Unit = {
    body
    aboveGate(body)
  }

  private def at(i: Int) = new java.sql.Timestamp(1767225600000L + i * 1000L)

  test("fixed journal: non-ASCII order, outside endpoints, self and duplicate pairs, overrides") {
    import Resolver.{Negative, Positive, Unsure}
    val nodes = Seq("Ｚ", "𝐀", "x", "y", "p", "q", "r", "s", "t", "u", "v", "w")
    val journal: Seq[Row] = Seq(
      ("Ｚ", "𝐀", Positive, "a", at(1)), // UTF-8 min is Ｚ, UTF-16 min is 𝐀
      ("x", "out", Positive, "a", at(2)), // out is no node: links nothing
      ("out", "y", Positive, "a", at(3)),
      ("p", "p", Positive, "a", at(4)), // self pair
      ("q", "r", Positive, "a", at(5)), // duplicate pair, both orders
      ("r", "q", Positive, "b", at(6)),
      ("q", "r", Positive, "a", at(6)),
      ("s", "t", Positive, "a", at(7)), // later UNSURE overrides
      ("t", "s", Unsure, "a", at(8)),
      ("u", "v", Positive, "a", at(9)), // later NEGATIVE overrides
      ("u", "v", Negative, "a", at(10)),
      ("v", "w", Negative, "a", at(11)), // later POSITIVE overrides back
      ("w", "v", Positive, "a", at(12)))
    val want = expected(nodes, journal)
    assert(want("𝐀") == "Ｚ" && want("x") == "x" && want("y") == "y")
    assert(want("r") == "q" && want("t") == "t" && want("u") == "u" && want("w") == "v")
    bothFinishes(assert(actual(nodes, journal) == want))
  }

  test("random journals over string ids equal a union-find replay") {
    import Resolver.{Negative, Positive, Unsure}
    val rnd = new scala.util.Random(1301)
    val pool = Seq("Ｚ", "𝐀", "é", "e", "É", "z", "中", "ß", "a1", "a10", "a2",
      "Q", "q", "ñ", "n", "😀", "ｚ", "~", "id-01", "id-02", "id-10", "Ā")
    val judgements = Seq(Positive, Positive, Positive, Unsure, Negative)
    for (trial <- 1 to 5) {
      val nodes = pool.filter(_ => rnd.nextDouble() < 0.75) :+ pool(trial)
      val ids = pool ++ Seq("out-1", "out-2")
      // distinct decision times: no tie leaves the latest row ambiguous
      val times = rnd.shuffle((0 until 15 + trial * 5).toList)
      val journal: Seq[Row] = times.map { t =>
        (ids(rnd.nextInt(ids.size)), ids(rnd.nextInt(ids.size)),
          judgements(rnd.nextInt(judgements.size)),
          if (rnd.nextBoolean()) "a" else "b", at(t))
      }
      val want = expected(nodes, journal)
      bothFinishes(assert(actual(nodes, journal) == want, s"trial $trial"))
    }
  }
}
