package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins the native ShingleSet expression bit-equal to the declarative
  * formulation it replaced in the verify stages:
  * sort_array(array_distinct(transform(sequence(1, length(t)-(n-1)),
  * i => substr(t, i, n)))) guarded by the former when/otherwise chain
  * (null -> null, shorter than n -> empty array). Random inputs include
  * multi-byte characters (substr counts CHARACTERS, not bytes — the
  * offset walk must agree), repeats (dedup), and boundary lengths.
  */
class ShingleSetSpec extends GraftSuite {
  private def declarative(t: org.apache.spark.sql.Column, n: Int) =
    sort_array(when(length(t) < n, array().cast(ArrayType(StringType)))
      .otherwise(array_distinct(transform(
        sequence(lit(1), length(t) - (n - 1)),
        i => t.substr(i, lit(n))))))

  test("native == declarative on random multi-byte inputs, all n in 1..6") {
    import spark.implicits._
    val alphabet = "ab cδé漢🙂x ".toCharArray
    val rnd = new scala.util.Random(20260819L)
    val rows: Seq[String] =
      Seq(null, "", "a", "ab", "abcd", "ααααα", "aaaaaaaaaa") ++
        (1 to 300).map { _ =>
          val len = rnd.nextInt(60)
          (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length)))
            .mkString
        }
    val df = rows.toDF("t")
    for (n <- 1 to 6) {
      val both = df.select(
        graft.functions.ShingleSet.shingleSet($"t", n).as("nat"),
        declarative($"t", n).as("dec"))
      val bad = both.where(
        ($"nat".isNull =!= $"dec".isNull) ||
          (!$"nat".isNull && !($"nat" === $"dec"))).count()
      assert(bad == 0L, s"n=$n: $bad rows differ between native and " +
        "declarative shingle sets")
    }
  }

  test("null propagates; short input yields an empty array") {
    import spark.implicits._
    val out = Seq(("x", null: String), ("y", "abc"))
      .toDF("k", "t")
      .select($"k", graft.functions.ShingleSet.shingleSet($"t", 5).as("sh"))
      .collect().map(r => r.getString(0) ->
        Option(r.getSeq[String](1)).map(_.length)).toMap
    assert(out("x").isEmpty, "null text must yield a null set")
    assert(out("y").contains(0), "shorter-than-n text must yield empty")
  }
}
