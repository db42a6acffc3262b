package graft

import org.apache.spark.sql.functions._

/** Source-format breadth beyond parquet: CSV and JSON round-trips with
  * explicit schemas (the engine's ingest surface for non-lakehouse feeds),
  * plus schema-on-read options.
  */
class SourcesSpec extends GraftSuite {
  private val dir = "/root/testdata/sf0.001"

  test("csv round-trip preserves values under an explicit schema") {
    val li = Tables.load(spark, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    val out = tmpDir("graft_csv").toString
    li.write.mode("overwrite").option("header", "true").csv(out)
    val back = spark.read.option("header", "true").schema(li.schema).csv(out)
    assert(back.count() == li.count())
    assert(back.exceptAll(li).count() == 0 && li.exceptAll(back).count() == 0)
  }

  test("json round-trip preserves values and nulls") {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
      .select($"event_id", $"user_id", $"event_type",
        when($"value" > 100, $"value").as("big_value")) // typed nulls
    val out = tmpDir("graft_json").toString
    ev.write.mode("overwrite").json(out)
    val back = spark.read.schema(ev.schema).json(out)
    assert(back.exceptAll(ev).count() == 0 && ev.exceptAll(back).count() == 0)
    assert(back.filter($"big_value".isNull).count() ==
      ev.filter($"big_value".isNull).count())
  }

  test("malformed csv rows are isolated in permissive mode") {
    val out = tmpDir("graft_badcsv")
    java.nio.file.Files.writeString(out.resolve("part.csv"),
      "a,b\n1,2\nnot_a_number,3\n4,5\n")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("b", org.apache.spark.sql.types.IntegerType)))
    val df = spark.read.option("header", "true").option("mode", "PERMISSIVE")
      .schema(schema).csv(out.toString)
    assert(df.count() == 3)
    assert(df.filter(col("a").isNull).count() == 1) // bad cell -> null, row kept
  }
}
