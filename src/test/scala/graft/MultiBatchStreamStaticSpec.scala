package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** st05's stream-static join shape, proven on a FORCED multi-batch run:
  * the stream arrives as two parquet files replayed one per micro-batch,
  * each batch joins the SAME static dimension (stateless, no join state
  * store), and the complete-mode aggregate over all batches equals the
  * batch join over the full input.
  */
class MultiBatchStreamStaticSpec extends GraftSuite {
  test("stream-static join accumulates across micro-batches") {
    import spark.implicits._
    val root = tmpDir("graft_mb_ss")
    val srcDir = root.resolve("stream").toString
    new java.io.File(srcDir).mkdirs()

    def writeBatch(name: String, rows: Seq[(Long, Double)],
                   modTime: Long): Unit = {
      val staging = root.resolve(s"staging_$name").toString
      rows.toDF("uid", "amount").coalesce(1).write.parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(srcDir, s"$name.parquet")
      assert(part.renameTo(dest))
      assert(dest.setLastModified(modTime))
    }

    // two batches over the same key space; uid 3 has no dimension row and
    // must be dropped by the inner join in BOTH batches
    writeBatch("b1", Seq((1L, 10.0), (2L, 5.0), (3L, 99.0)), 1000000L)
    writeBatch("b2", Seq((1L, 2.5), (2L, 7.5), (1L, 1.0)), 2000000L)

    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("k", "tier")
    val schema = StructType(Seq(
      StructField("uid", LongType), StructField("amount", DoubleType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)

    val agg = stream.join(broadcast(dim), $"uid" === $"k")
      .groupBy($"tier")
      .agg(count(lit(1)).as("n"), Det.moneySum($"amount").as("total"))

    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("mb_ss").start()
    try q.processAllAvailable() finally q.stop()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches >= 2, s"expected >=2 micro-batches, saw $batches")

    val got = spark.table("mb_ss")
      .as[(String, Long, Double)].collect().toSet
    // gold: 10 + 2.5 + 1 over 3 rows; silver: 5 + 7.5 over 2; uid 3 dropped
    assert(got == Set(("gold", 3L, 13.5), ("silver", 2L, 12.5)), got.toString)
  }
}
