package graft

import graft.api.Graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming dimension maintenance: a change log arriving as micro-batches,
  * each batch folded into a Type-2 SCD history with [[Graft.scdMerge]]
  * (latest state per key per batch), must converge to exactly the history
  * [[Graft.scd2FromChangeLog]] builds from the full log in one pass —
  * provided each batch carries at most one state change per key (within a
  * batch, scdMerge keeps only the latest state; intermediate flips
  * collapse, which the one-pass builder also does for consecutive equal
  * states but not for A->B->A — so the convergence contract is per-batch
  * granularity, stated here and in the scaladoc).
  */
class StreamingScdSpec extends GraftSuite {
  test("per-batch scdMerge replay equals the one-pass SCD2 build") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val base = tmpDir("graft_scd_stream")
    val in = new java.io.File(base.toFile, "in"); in.mkdirs()

    val batches = Seq(
      Seq((1L, t("2024-01-01 00:00:00"), 1L, "bronze"),
        (2L, t("2024-01-01 00:00:00"), 2L, "bronze")),
      Seq((1L, t("2024-01-02 00:00:00"), 3L, "silver"),
        (2L, t("2024-01-02 00:00:00"), 4L, "bronze"), // no-op update
        (3L, t("2024-01-02 00:00:00"), 5L, "gold")),  // brand-new key
      Seq((1L, t("2024-01-03 00:00:00"), 6L, "gold"),
        (2L, t("2024-01-03 00:00:00"), 7L, "silver")))
    batches.zipWithIndex.foreach { case (rows, i) =>
      val staging = s"$base/staging_$i"
      rows.toDF("uid", "at", "seq", "tier").coalesce(1).write.parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(in, s"b$i.parquet")
      assert(part.renameTo(dest))
      // file source processes oldest-first: pin distinct mod times so the
      // micro-batch order is the log order
      assert(dest.setLastModified(1000000L * (i + 1)))
    }

    val schema = batches.head.toDF("uid", "at", "seq", "tier").schema
    // an empty history with the right shape: the builder over an empty log
    var current = Graft.scd2FromChangeLog(
      Seq.empty[(Long, java.sql.Timestamp, Long, String)]
        .toDF("uid", "at", "seq", "tier"),
      "uid", "at", $"seq", Seq("tier"))

    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(in.toString)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val upd = Graft.capPerGroup(batch, col("uid"),
            struct(col("at"), col("seq")), col("seq"), n = 1)
          .select(col("uid"), col("tier"), col("at"))
        current = Graft.scdMerge(current, upd, "uid", Seq("tier"), "at")
          .localCheckpoint()
      }
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()

    val expected = Graft.scd2FromChangeLog(
      batches.flatten.toDF("uid", "at", "seq", "tier"),
      "uid", "at", $"seq", Seq("tier"))
    def canon(df: DataFrame): Seq[String] = df.select(concat_ws("|",
        col("uid"), col("tier"), col("valid_from").cast("string"),
        coalesce(col("valid_to").cast("string"), lit("open")),
        col("version"), col("is_current")))
      .as[String].collect().sorted.toSeq
    assert(canon(current) == canon(expected))
    assert(current.where(col("is_current")).count() == 3)
  }
}
