package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every workload's inputs are a pure
  * function of (seed, size): the same seed gives the same rows, and the
  * engine only ever sees the frames built from them. */
final class Rng(seed: Long) {
  private val r = new SplittableRandom(seed)
  def int(n: Int): Int = r.nextInt(n)
  def between(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
  def chance(p: Double): Boolean = r.nextDouble() < p
  def double(): Double = r.nextDouble()
  def pick[T](xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))
  def shuffle[T](xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }
}

/** Synthetic name pools: syllable products, so the pools are large and
  * fixed while the seed only decides which names are drawn. Surnames
  * are drawn Zipf-skewed, which makes a few blocking keys hot. */
object Names {
  private val syl = IndexedSeq("ka", "lo", "mi", "ra", "ten", "vor", "zu",
    "bel", "dan", "fi", "gor", "hul", "ian", "jo", "kes", "lin", "mar",
    "nov", "ost", "pel", "qua", "ris", "sal", "tor", "ul", "ven", "wes",
    "yan", "zor", "ber")
  private def cap(s: String) = s.head.toUpper.toString + s.tail
  val surnames: IndexedSeq[String] =
    for (a <- syl; b <- syl; c <- IndexedSeq("", "ov", "son", "er", "ski")) yield cap(a + b + c)
  val firsts: IndexedSeq[String] =
    for (a <- syl.take(20); b <- syl.drop(10).take(15)) yield cap(a + b + "a")
  val companySuffixes = IndexedSeq("Holdings", "Trading", "Group", "Capital",
    "Shipping", "Energy", "Invest", "Logistics")
  val countries = IndexedSeq("ru", "by", "ir", "kp", "sy", "ve", "cu", "us",
    "gb", "de", "fr", "cn", "ae", "tr", "cy", "ch", "nl", "pa", "hk", "sg")

  private val zipfCdf: Array[Double] = {
    val w = surnames.indices.map(r => 1.0 / (r + 1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }

  def zipfSurname(r: Rng): String = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.double())
    surnames(math.min(surnames.size - 1, if (i >= 0) i else -i - 1))
  }

  def date(r: Rng, fromYear: Int, toYear: Int): String =
    f"${r.between(fromYear, toYear)}%04d-${r.between(1, 12)}%02d-${r.between(1, 28)}%02d"
}
