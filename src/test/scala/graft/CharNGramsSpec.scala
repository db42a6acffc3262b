package graft

import graft.functions.CharNGrams.charNGrams
import org.apache.spark.sql.functions._

class CharNGramsSpec extends GraftSuite {
  test("generator output equals the transform+sequence+explode formulation") {
    import spark.implicits._
    // inputs all >= 5 chars: for SHORTER strings the built-in formulation
    // is wrong (sequence(1, 0) descends in Spark and fabricates shingles),
    // which is one reason the Generator exists — see the edge-case test
    val df = Seq("hello world", "abcde", "xyzzy plugh").toDF("text")
    val viaGenerator = df.select($"text", charNGrams($"text", 5))
    val viaBuiltins = df.select($"text",
      explode(transform(sequence(lit(1), length($"text") - 4),
        i => $"text".substr(i, lit(5)))).as("s"))
    assert(viaGenerator.exceptAll(viaBuiltins).count() == 0)
    assert(viaBuiltins.exceptAll(viaGenerator).count() == 0)
  }

  test("built-in sequence formulation fabricates rows for short strings") {
    import spark.implicits._
    val short = Seq("abcd").toDF("text")
    val bogus = short.select(
      explode(transform(sequence(lit(1), length($"text") - 4),
        i => $"text".substr(i, lit(5)))).as("s")).count()
    assert(bogus == 2) // sequence(1,0) == [1,0] — the trap the Generator avoids
    assert(short.select(charNGrams($"text", 5)).count() == 0)
  }

  test("edge cases: short strings produce no rows, nulls produce no rows") {
    import spark.implicits._
    val df = Seq(Some("abc"), Some("abcde"), None, Some("")).toDF("text")
    val out = df.select(charNGrams($"text", 5).as("s")).as[String].collect()
    assert(out.toSeq == Seq("abcde"))
  }

  test("multibyte characters count as single chars") {
    import spark.implicits._
    val out = Seq("héllø wörld").toDF("text")
      .select(charNGrams($"text", 5).as("s")).as[String].collect()
    assert(out.head == "héllø" && out.length == "héllø wörld".length - 4)
  }
}
