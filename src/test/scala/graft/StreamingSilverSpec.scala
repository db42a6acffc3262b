package graft

import graft.medallion.{BronzeGen, Silver}
import org.apache.spark.sql.functions._

/** The streaming ingest variant the reference's unused checkpoints bucket
  * implies (SURVEY §1.1): bronze landing files arrive as a stream and flow
  * through the SAME silver expression library as batch — proving the
  * enrichment is a stateless projection usable in both modes.
  */
class StreamingSilverSpec extends GraftSuite {
  test("streaming silver appends micro-batches into the shared catalog table") {
    import graft.medallion.{MdpConfig, Pipeline}
    import spark.implicits._
    val epoch = 1754982000L
    val base = tmpDir("graft_stream_tbl").toString
    val cfg = MdpConfig.fromEnv(base)
    // the table name is global catalog state shared by suites in this JVM:
    // start from a clean catalog and leave one behind whatever happens
    spark.sql(s"DROP TABLE IF EXISTS ${cfg.silverFqn}")
    new java.io.File(cfg.bronzeUri).mkdirs()
    try {

    // land bronze as two separate FILES so maxFilesPerTrigger=1 forces two
    // micro-batches through the foreachBatch table writer
    val all = BronzeGen.generate(spark, 1200, 2, payloadKb = 1,
      seed = 9, baseEpochS = epoch).cache()
    def land(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val staging = s"$base/staging_$name"
      df.coalesce(1).write.parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      assert(part.renameTo(new java.io.File(cfg.bronzeUri, s"$name.parquet")))
    }
    land("b1", all.where($"id" < 600))
    land("b2", all.where($"id" >= 600))

    val q = Pipeline.silverStreaming(spark, cfg, all.schema,
      checkpoint = s"$base/ckpt", maxFilesPerTrigger = 1)
    try q.processAllAvailable() finally q.stop()

    val got = spark.table(cfg.silverFqn)
    val expected = Silver.enrich(all,
      clockDate = to_date(timestamp_seconds(lit(epoch))),
      clockTs = timestamp_seconds(lit(epoch)),
      clockEpochS = lit(epoch))
    assert(got.count() == expected.count())
    val fp = (df: org.apache.spark.sql.DataFrame) => df.select(
      concat_ws("|", col("id"), col("email_clean"), col("customer_value_tier"),
        col("interaction_date").cast("string"), col("channel")))
      .as[String].collect().sorted.toSeq
    assert(fp(got) == fp(expected))
    all.unpersist()
    } finally spark.sql(s"DROP TABLE IF EXISTS ${cfg.silverFqn}")
  }

  test("effectively-once streaming: a full replay from a lost checkpoint adds no duplicates") {
    import graft.medallion.{MdpConfig, Pipeline}
    import spark.implicits._
    val epoch = 1754982000L
    val base = tmpDir("graft_stream_eo").toString
    val cfg = MdpConfig.fromEnv(base)
    new java.io.File(cfg.bronzeUri).mkdirs()

    val all = graft.medallion.BronzeGen.generate(spark, 1200, 2, payloadKb = 1,
      seed = 11, baseEpochS = epoch).cache()
    def land(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val staging = s"$base/staging_$name"
      df.coalesce(1).write.parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      assert(part.renameTo(new java.io.File(cfg.bronzeUri, s"$name.parquet")))
    }
    land("b1", all.where($"id" < 600))
    land("b2", all.where($"id" >= 600))

    def run(ckpt: String): Unit = {
      val q = Pipeline.silverStreamingEffectivelyOnce(spark, cfg, all.schema,
        checkpoint = s"$base/$ckpt", maxFilesPerTrigger = 1)
      try q.processAllAvailable() finally q.stop()
    }
    def fingerprint(): (Long, Long, Seq[String]) = {
      val t = spark.read.parquet(cfg.silverFallbackUri)
      (t.count(), t.select("id").distinct().count(),
        t.select(concat_ws("|", col("id"), col("email_clean"),
          col("interaction_date").cast("string"), col("channel")))
          .as[String].collect().sorted.toSeq)
    }
    run("ckpt_first")
    val first = fingerprint()
    assert(first._1 == first._2, "ids must be unique after the first run")
    // a FRESH checkpoint re-delivers every landing file (the worst-case
    // at-least-once replay); the keyed merge must converge, not append
    run("ckpt_replayed")
    assert(fingerprint() == first, "replay changed the table")
    all.unpersist()
  }

  test("silver enrichment runs identically over a bronze file stream") {
    import spark.implicits._
    val epoch = 1754982000L
    val dir = tmpDir("graft_stream_silver").toString

    // land a seeded bronze batch as the "arriving" file
    val bronze = BronzeGen.generate(spark, 1000, 2, payloadKb = 1,
      seed = 7, baseEpochS = epoch)
    bronze.write.mode("overwrite").parquet(s"$dir/landing")

    def enrich(df: org.apache.spark.sql.DataFrame) =
      Silver.enrich(df,
        clockDate = to_date(timestamp_seconds(lit(epoch))),
        clockTs = timestamp_seconds(lit(epoch)),
        clockEpochS = lit(epoch))

    val stream = spark.readStream.schema(bronze.schema).parquet(s"$dir/landing")
    val q = enrich(stream)
      .groupBy($"customer_value_tier")
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("stream_silver").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("stream_silver")
    val batch = enrich(spark.read.parquet(s"$dir/landing"))
      .groupBy($"customer_value_tier").agg(count(lit(1)).as("n"))
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0)
    assert(streamed.as[(String, Long)].collect().map(_._2).sum == bronze
      .filter(col("data_quality_flag") =!= "duplicate_suspected").count())
  }
}
