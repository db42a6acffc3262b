package graft

import graft.medallion.Silver
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests for the silver cleaning/bucketization library (SURVEY §5):
  * idempotence of the normalizers and totality of the bucketizers, evaluated
  * in one Spark pass over ScalaCheck-generated inputs (not one job per
  * sample).
  */
class CleaningPropertiesSpec extends GraftSuite {
  private def samples[A](g: Gen[A], n: Int = 300): Seq[A] =
    Iterator.from(0)
      .flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))
      .take(n).toSeq

  private val messyString: Gen[String] = Gen.oneOf(
    Gen.asciiPrintableStr,
    Gen.listOf(Gen.oneOf(Gen.numChar, Gen.const('('), Gen.const(')'),
      Gen.const('-'), Gen.const(' '), Gen.const('+'), Gen.alphaChar))
      .map(_.mkString))

  test("phoneClean and emailClean are idempotent") {
    import spark.implicits._
    val df = samples(messyString).toDF("x").cache()
    val once = Silver.phoneClean(col("x"))
    val twice = Silver.phoneClean(Silver.phoneClean(col("x")))
    assert(df.filter(once =!= twice).count() == 0)
    val e1 = Silver.emailClean(col("x"))
    val e2 = Silver.emailClean(Silver.emailClean(col("x")))
    assert(df.filter(e1 =!= e2).count() == 0)
  }

  test("stateStandardized and cityStandardized are idempotent") {
    import spark.implicits._
    val states = samples(Gen.oneOf("CA", "California", "ca", "TX", "texas",
      "NY", "new york", "FL", "WA", "Oregon")) ++ samples(messyString, 100)
    val df = states.toDF("x")
    val s1 = Silver.stateStandardized(col("x"))
    val s2 = Silver.stateStandardized(Silver.stateStandardized(col("x")))
    assert(df.filter(s1 =!= s2).count() == 0)
    val c1 = Silver.cityStandardized(col("x"))
    val c2 = Silver.cityStandardized(Silver.cityStandardized(col("x")))
    assert(df.filter(c1 =!= c2).count() == 0)
  }

  test("bucketizers are total with closed output domains") {
    import spark.implicits._
    val amounts = samples(Gen.chooseNum(-1e6, 1e6), 500) ++
      Seq(0.0, 100.0, 250.0, 500.0, 1000.0, Double.MinPositiveValue)
    val df = amounts.toDF("amt")
    val tiers = df.select(Silver.customerValueTier(col("amt")).as("t"))
      .distinct().as[String].collect().toSet
    assert(tiers.subsetOf(Set("high_value", "medium_value", "low_value", "browser_only")))
    val sizes = df.select(Silver.transactionSizeCategory(col("amt")).as("t"))
      .distinct().as[String].collect().toSet
    assert(sizes.subsetOf(Set("large", "medium", "small", "none")))

    val views = samples(Gen.chooseNum(-5, 50), 300).toDF("pv")
    val scores = views.select(Silver.engagementScore(col("pv")).as("s"))
      .distinct().as[Int].collect().toSet
    assert(scores.subsetOf(Set(0, 1, 2, 3, 4)))
  }

  test("phoneClean canonicalizes every 10/11-digit shape to (##########)") {
    import spark.implicits._
    val tenDigits = Gen.listOfN(10, Gen.numChar).map(_.mkString)
    val shapes = samples(tenDigits, 200).flatMap { d =>
      Seq(d, s"1$d", s"(${d.take(3)}) ${d.slice(3, 6)}-${d.drop(6)}",
        s"+1$d", s"${d.take(3)}-${d.slice(3, 6)}-${d.drop(6)}")
    }
    val df = shapes.toDF("x")
    val bad = df.filter(!Silver.phoneClean(col("x")).rlike("^\\(\\d{10}\\)$")).count()
    assert(bad == 0)
  }

  test("cdcChunks is a lossless segmentation of arbitrary strings") {
    import spark.implicits._
    // printable-ASCII strings across the length regimes that matter:
    // empty, shorter than the hash window (8), around it, and long
    val texts = samples(Gen.asciiPrintableStr, 250) ++
      samples(Gen.chooseNum(1, 40)
        .flatMap(n => Gen.listOfN(n, Gen.asciiPrintableChar).map(_.mkString)), 250) ++
      Seq("", "1234567", "12345678", "a" * 500)
    val df = texts.distinct.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("rid", "body").cache()
    val ch = graft.api.Graft.cdcChunks(df, $"rid", $"body")
    // in-order concatenation rebuilds every non-empty input exactly;
    // empty inputs produce no chunks at all
    val rebuilt = ch.orderBy($"id", $"chunk_idx")
      .groupBy($"id").agg(concat_ws("", collect_list($"chunk")).as("r"))
    val joined = df.join(rebuilt, df("rid") === rebuilt("id"), "left")
    val broken = joined.filter(
      when(length($"body") === 0, $"r".isNotNull)
        .otherwise($"r".isNull || $"r" =!= $"body")).count()
    assert(broken == 0)
    // chunk lengths account for every character exactly once
    val lenOk = ch.groupBy($"id").agg(sum($"chunk_len").as("n"))
      .join(df, col("id") === df("rid"))
      .filter(col("n") =!= length($"body")).count()
    assert(lenOk == 0)
  }
}
