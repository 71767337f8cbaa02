package graft.functions

import graft.SparkSpec
import graft.operators.Skew
import org.apache.spark.sql.functions._

class NativeExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("native checksum expressions agree with the HOF reference forms") {
    val rnd = new scala.util.Random(11)
    // non-empty samples: the HOF form's sequence(1, 0) artifact makes
    // the empty string undefined there; the native form pins it false
    val samples = Seq("0", "7", "98", "794", "3214282912345698765432161182") ++
      Seq.fill(50)(Seq.fill(1 + rnd.nextInt(30))(rnd.nextInt(10)).mkString)
    val df = samples.toDF("digits")
    val out = df.select(
      Identifiers.luhnOk($"digits").as("luhn_native"),
      Identifiers.luhnOkHof($"digits").as("luhn_hof"),
      expr("length(digits)").as("len"))
    assert(out.filter($"luhn_native" =!= $"luhn_hof").count() == 0)
    assert(Seq("").toDF("d").select(Identifiers.luhnOk($"d"))
      .as[Boolean].collect()(0) == false)

    // mod97 is private; exercise it through the LEI/IBAN validators
    val ids = Seq("HWUPKR0MPOU8FGXBT394", "DE89370400440532013000",
      "529900T8BM49AURSDO55", "NOTANID").toDF("v")
    val both = ids.select(
      Identifiers.leiValid($"v").as("a"),
      Identifiers.ibanValid($"v").as("b")).collect()
    assert(both.length == 4) // evaluates without codegen errors
  }

  test("expressions register as SQL functions via SparkSessionExtensions") {
    // the shared session is built by GraftSession, which installs them
    val row = spark.sql(
      "SELECT graft_mod97('98') AS m, graft_luhn('79927398713') AS l").collect()(0)
    assert(row.getInt(0) == 98 % 97)
    assert(row.getBoolean(1)) // canonical Luhn test number
  }

  test("salted aggregations match their direct forms") {
    val df = (1 to 2000).map(i => (s"k${i % 7}", i.toLong)).toDF("k", "v")
    val direct = df.groupBy("k").agg(count(lit(1)).as("cnt"),
      sum($"v").as("total")).as[(String, Long, Long)].collect()
      .map { case (k, c, t) => k -> ((c, t)) }.toMap

    val saltedC = Skew.saltedCount(df, $"k").as[(String, Long)].collect().toMap
    val saltedS = Skew.saltedSum(df, $"k", $"v").as[(String, Long)].collect().toMap
    direct.foreach { case (k, (c, t)) =>
      assert(saltedC(k) == c && saltedS(k) == t)
    }

    val set = Skew.saltedCollectSet(
      Seq(("a", "x"), ("a", "y"), ("a", "x"), ("b", "z")).toDF("k", "v"),
      $"k", $"v").as[(String, Seq[String])].collect().toMap
    assert(set("a") == Seq("x", "y") && set("b") == Seq("z"))
  }

  test("jaroWinkler matches the classic-variant reference values (DuckDB-probed)") {
    // Every expectation below was probed against DuckDB's
    // jaro_winkler_similarity — the oracle engine — so this pins the
    // exact variant: 0.7 boost threshold, prefix cap 4, FLOOR'd
    // transposition halves (the abcxyz/bcaxyz case distinguishes
    // floor from float halves: 0.9444 vs 0.9167), empty → 0.
    val cases = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("dwayne", "duane", 0.8400000000000001),
      ("abcdxxxx", "abcdyyyy", 0.6666666666666666), // below boost threshold
      ("ab", "ab", 1.0),
      ("a", "b", 0.0),
      ("aabbcc", "ccbbaa", 0.5555555555555555),
      ("crate", "trace", 0.7333333333333334),
      ("abcxyz", "bcaxyz", 0.9444444444444445),     // odd transposition count
      ("", "", 0.0),
      ("abc", "", 0.0))
    val got = cases.map { case (a, b, _) => (a, b) }.toDF("a", "b")
      .select($"a", $"b", Names.jaroWinkler($"a", $"b").as("jw"))
      .as[(String, String, Double)].collect()
      .map { case (a, b, v) => (a, b) -> v }.toMap
    cases.foreach { case (a, b, want) =>
      assert(math.abs(got((a, b)) - want) < 1e-12, s"jw($a,$b)=${got((a, b))}")
    }
    // interpreted path (eval without codegen) agrees with the static impl
    cases.foreach { case (a, b, want) =>
      assert(math.abs(graft.functions.expr.JaroWinklerImpl.jw(a, b) - want) < 1e-12)
    }
    // the expression stays inside whole-stage codegen: the projection
    // carries the `*(n)` codegen-stage marker (a UDF fallback would
    // print an unstarred Project / BatchEvalPython-style node)
    val plan = spark.range(100)
      .select(Names.jaroWinkler(concat(lit("n"), $"id"), lit("n1")).as("jw"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") && plan.contains("graft_jaro_winkler"), plan)
  }

  test("jaroWinkler iterates code points, not UTF-16 units") {
    import graft.functions.expr.JaroWinklerImpl
    // BMP non-ASCII (Cyrillic): one code unit per char either way, so
    // the classic martha/marhta value carries over unchanged
    assert(math.abs(
      JaroWinklerImpl.jw("мартха", "мархта") - 0.9611111111111111) < 1e-12)
    // astral lead character (U+1D552, a surrogate PAIR in UTF-16):
    // code-point JW sees 3-char strings — window 0, m=2, prefix 2 →
    // 7/9 + 0.2·(2/9) = 0.8222…; the former code-unit iteration saw
    // 4-unit strings (window 1, m=3, prefix 3 → 0.8833…), splitting
    // the surrogate halves as separate "characters"
    assert(math.abs(
      JaroWinklerImpl.jw("𝕒bc", "𝕒bd")
        - 0.8222222222222222) < 1e-12)
    // and the column path agrees with the static impl on non-ASCII
    val got = Seq(("мартха", "мархта")).toDF("a", "b")
      .select(Names.jaroWinkler($"a", $"b")).as[Double].collect()(0)
    assert(math.abs(got - 0.9611111111111111) < 1e-12)
  }
}
