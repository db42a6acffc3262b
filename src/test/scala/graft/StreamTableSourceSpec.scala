package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** STREAMING READS of catalog tables — `spark.readStream.table(t)`:
  * the first micro-batch is the snapshot current at stream start, then
  * every commit's added files become a batch (offsets = version-dir
  * names through the pointer log). Pins: snapshot+tail row sets,
  * per-commit batch boundaries, restart-from-checkpoint resuming at
  * the committed offset (no re-emission), the COW re-emission
  * semantics on a MERGE (documented ignoreChanges posture), and the
  * unpartitioned + hidden-transform layouts both streaming. */
class StreamTableSourceSpec extends GraftSuite {
  private val warehouse: String = registerCatalog("graft_sts")

  /** Run one round of available data through foreachBatch (the sink
    * shape that supports checkpoint recovery), return the rows. */
  private def drain(table: String,
                    ckpt: java.nio.file.Path): Seq[(Long, Double)] = {
    import org.apache.spark.sql.DataFrame
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
    val q = spark.readStream.table(table)
      .writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.select(col("id"), col("v")).collect()
          .foreach(r => out.add((r.getLong(0), r.getDouble(1))))
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    q.stop()
    import scala.jdk.CollectionConverters._
    out.iterator().asScala.toSeq.sorted
  }

  test("snapshot + tail: bucketed table streams its appends per commit") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_sts.db")
    (1L to 10L).map(i => (i, i * 1.0)).toDF("id", "v")
      .writeTo("graft_sts.db.src").using("parquet")
      .partitionedBy(bucket(4, $"id")).createOrReplace()
    val ckpt = tmpDir("graft_sts_ck1")
    // batch 1: the full snapshot at stream start
    assert(drain("graft_sts.db.src", ckpt) ==
      (1L to 10L).map(i => (i, i * 1.0)))
    // two appends = two commits; the restarted stream resumes at the
    // committed offset and serves ONLY the added rows, one batch each
    Seq((11L, 11.0)).toDF("id", "v").writeTo("graft_sts.db.src").append()
    Seq((12L, 12.0)).toDF("id", "v").writeTo("graft_sts.db.src").append()
    val got = drain("graft_sts.db.src", ckpt)
    assert(got == Seq((11L, 11.0), (12L, 12.0)), got)
    // nothing new: an empty drain, not a re-emission
    assert(drain("graft_sts.db.src", ckpt).isEmpty)
  }

  test("COW commits re-emit rewritten files (ignoreChanges posture)") {
    import spark.implicits._
    Seq((5L, 500.0)).toDF("mid", "nv").createOrReplaceTempView("sts_src")
    spark.sql("""MERGE INTO graft_sts.db.src t USING sts_src s
                |ON t.id = s.mid
                |WHEN MATCHED THEN UPDATE SET v = s.nv""".stripMargin)
    val ckpt = java.nio.file.Paths.get(
      tmpDir("graft_sts_ck1x").toString)
    // a fresh stream sees the merged snapshot in batch 1 (13 rows)
    val all = drain("graft_sts.db.src", ckpt)
    assert(all.size == 12 && all.contains((5L, 500.0)), all)
    // the PRIOR stream's next drain re-emits the rewritten bucket's
    // file rows (5 hashes with whatever shares its bucket) — appended
    // semantics, documented: never misses data, replays rewrites
    spark.sql("DROP TABLE graft_sts.db.src")
  }

  test("maxFilesPerTrigger chunks the snapshot across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_sts.db")
    // 8 bucket dirs -> >= 8 data files in the initial snapshot
    (1L to 64L).map(i => (i, i * 1.0)).toDF("id", "v")
      .writeTo("graft_sts.db.big").using("parquet")
      .partitionedBy(bucket(8, $"id")).createOrReplace()
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
    val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val q = spark.readStream
      .option("maxFilesPerTrigger", "3")
      .table("graft_sts.db.big")
      .writeStream
      .option("checkpointLocation",
        tmpDir("graft_sts_ck4").toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val rows = batch.select(col("id"), col("v")).collect()
        if (rows.nonEmpty) batchSizes.add(rows.length)
        rows.foreach(r => out.add((r.getLong(0), r.getDouble(1))))
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    q.stop()
    import scala.jdk.CollectionConverters._
    // complete, exactly once, and genuinely chunked: a >= 8-file
    // snapshot at <= 3 files/trigger needs >= 3 non-empty batches
    assert(out.iterator().asScala.toSeq.sorted ==
      (1L to 64L).map(i => (i, i * 1.0)))
    assert(batchSizes.size >= 3,
      s"expected the snapshot chunked into >= 3 batches, got " +
        s"${batchSizes.size} (sizes ${batchSizes.iterator().asScala.toSeq})")
    spark.sql("DROP TABLE graft_sts.db.big")
  }

  test("skipChangeCommits: COW commits are skipped, appends still flow") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_sts.db")
    (1L to 6L).map(i => (i, i * 1.0)).toDF("id", "v")
      .writeTo("graft_sts.db.scc").using("parquet")
      .partitionedBy(bucket(2, $"id")).createOrReplace()
    val ckpt = tmpDir("graft_sts_ck5")
    def drainSkip(): Seq[(Long, Double)] = {
      val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
      val q = spark.readStream
        .option("skipChangeCommits", "true")
        .table("graft_sts.db.scc")
        .writeStream
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.select(col("id"), col("v")).collect()
            .foreach(r => out.add((r.getLong(0), r.getDouble(1))))
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      q.stop()
      import scala.jdk.CollectionConverters._
      out.iterator().asScala.toSeq.sorted
    }
    assert(drainSkip() == (1L to 6L).map(i => (i, i * 1.0)))
    // append; COW-update a row; append again — the resumed drain must
    // serve BOTH appends and NOTHING from the change commit (no
    // replayed rewrites, and the merge's update is skipped with it)
    Seq((7L, 7.0)).toDF("id", "v").writeTo("graft_sts.db.scc").append()
    Seq((2L, 200.0)).toDF("mid", "nv").createOrReplaceTempView("scc_src")
    spark.sql("""MERGE INTO graft_sts.db.scc t USING scc_src s
                |ON t.id = s.mid
                |WHEN MATCHED THEN UPDATE SET v = s.nv""".stripMargin)
    Seq((8L, 8.0)).toDF("id", "v").writeTo("graft_sts.db.scc").append()
    val got = drainSkip()
    assert(got == Seq((7L, 7.0), (8L, 8.0)), got)
    spark.sql("DROP TABLE graft_sts.db.scc")
  }

  test("unpartitioned table streams; historical snapshot refuses") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_sts.db")
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v")
      .writeTo("graft_sts.db.flat").using("parquet").createOrReplace()
    val ckpt = tmpDir("graft_sts_ck2")
    assert(drain("graft_sts.db.flat", ckpt) ==
      Seq((1L, 1.0), (2L, 2.0)))
    Seq((3L, 3.0)).toDF("id", "v").writeTo("graft_sts.db.flat").append()
    assert(drain("graft_sts.db.flat", ckpt) == Seq((3L, 3.0)))
    // projection prunes through the stream: only `v` read
    val q = spark.readStream.table("graft_sts.db.flat").select($"v")
      .writeStream.format("memory").queryName("sts7")
      .option("checkpointLocation",
        tmpDir("graft_sts_ck3").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(spark.table("sts7").as[Double].collect().sorted.toSeq ==
      Seq(1.0, 2.0, 3.0))
    spark.sql("DROP TABLE graft_sts.db.flat")
  }

  test("mid-diff checkpoint resumed WITHOUT maxFilesPerTrigger advances " +
      "in Long (no Int overflow, no lost or duplicate files)") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_sts.db")
    (1L to 40L).map(i => (i, i * 1.0)).toDF("id", "v")
      .repartition(4)
      .writeTo("graft_sts.db.ovf").using("parquet")
      .partitionedBy(bucket(4, $"id")).createOrReplace()
    val ckpt = tmpDir("graft_sts_ovf")
    val outA = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
    // run A: one file per trigger, crash BEFORE processing batch 1 —
    // the checkpoint is left MID-DIFF (batch 0 committed, k=1)
    val qa = spark.readStream
      .option("maxFilesPerTrigger", 1)
      .table("graft_sts.db.ovf")
      .writeStream.option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (batchId >= 1) throw new RuntimeException("sts injected stop")
        batch.select(col("id"), col("v")).collect()
          .foreach(r => outA.add((r.getLong(0), r.getDouble(1))))
      }
      .start()
    try qa.processAllAvailable() catch { case _: Throwable => () }
    qa.stop()
    assert(!outA.isEmpty, "run A never committed a batch")
    // run B: same checkpoint, NO admission option — the advance from
    // k=1 is k + Int.MaxValue, which must clamp instead of wrapping
    // negative (a wrap re-serves already-emitted files)
    val outB = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
    val qb = spark.readStream.table("graft_sts.db.ovf")
      .writeStream.option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.select(col("id"), col("v")).collect()
          .foreach(r => outB.add((r.getLong(0), r.getDouble(1))))
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    qb.awaitTermination(60000)
    qb.stop()
    import scala.jdk.CollectionConverters._
    val a = outA.iterator().asScala.toSeq
    val b = outB.iterator().asScala.toSeq
    assert((a ++ b).sorted == (1L to 40L).map(i => (i, i * 1.0)),
      s"resume lost or duplicated rows: |A|=${a.size} |B|=${b.size}")
  }

  test("startingVersion=latest serves only future commits; a bogus " +
      "version fails pointedly") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_sts.db")
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v")
      .writeTo("graft_sts.db.sv").using("parquet").createOrReplace()
    Seq((3L, 3.0)).toDF("id", "v").writeTo("graft_sts.db.sv").append()
    val ckpt = tmpDir("graft_sts_sv")
    def drainLatest(): Seq[(Long, Double)] = {
      val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
      val q = spark.readStream
        .option("startingVersion", "latest")
        .table("graft_sts.db.sv")
        .writeStream.option("checkpointLocation", ckpt.toString)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.select(col("id"), col("v")).collect()
            .foreach(r => out.add((r.getLong(0), r.getDouble(1))))
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      q.stop()
      import scala.jdk.CollectionConverters._
      out.iterator().asScala.toSeq.sorted
    }
    assert(drainLatest() == Nil,
      "startingVersion=latest replayed history on a fresh checkpoint")
    Seq((4L, 4.0)).toDF("id", "v").writeTo("graft_sts.db.sv").append()
    // option ignored on resume; the new commit flows
    assert(drainLatest() == Seq((4L, 4.0)))

    val bad = spark.readStream
      .option("startingVersion", "v-00000000-dead-beef-0000-000000000000")
      .table("graft_sts.db.sv")
      .writeStream.option("checkpointLocation",
        tmpDir("graft_sts_svbad").toString)
      .format("memory").queryName("sts_svbad")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      bad.awaitTermination()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(err).exists(_.contains("retention window")), err.toString)
    spark.sql("DROP TABLE graft_sts.db.sv")
  }

  test("startingTimestamp starts at the first commit at or after the " +
      "instant") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_sts.db")
    Seq((1L, 1.0)).toDF("id", "v")
      .writeTo("graft_sts.db.stt").using("parquet").createOrReplace()
    Thread.sleep(20) // distinct commit-instant milliseconds
    Seq((2L, 2.0)).toDF("id", "v").writeTo("graft_sts.db.stt").append()
    // the SECOND commit's instant, read off its marker
    val dir = java.nio.file.Paths.get(warehouse, "db", "stt")
    val head = Files.readAllLines(dir.resolve("_current")).get(0).trim
    val ms = new String(Files.readAllBytes(
      dir.resolve(head).resolve("_committed_at")), "UTF-8").trim
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
    val q = spark.readStream
      .option("startingTimestamp", ms)
      .table("graft_sts.db.stt")
      .writeStream.option("checkpointLocation",
        tmpDir("graft_sts_stt").toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.select(col("id"), col("v")).collect()
          .foreach(r => out.add((r.getLong(0), r.getDouble(1))))
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    q.stop()
    import scala.jdk.CollectionConverters._
    assert(out.iterator().asScala.toSeq.sorted == Seq((2L, 2.0)),
      "startingTimestamp did not start at the named commit")
    spark.sql("DROP TABLE graft_sts.db.stt")
  }

  test("maxBytesPerTrigger admits by cumulative size — a 1-byte budget " +
      "degrades to one file per trigger, rows exactly once") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_sts.db")
    (1L to 20L).map(i => (i, i * 1.0)).toDF("id", "v")
      .repartition(4)
      .writeTo("graft_sts.db.ovb").using("parquet")
      .partitionedBy(bucket(2, $"id")).createOrReplace()
    val nFiles = spark.sql(
      "SELECT count(*) FROM graft_sts.db.ovb.files").head().getLong(0)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
    val batches = new java.util.concurrent.atomic.AtomicLong(0)
    val q = spark.readStream
      .option("maxBytesPerTrigger", 1) // below any parquet footer
      .table("graft_sts.db.ovb")
      .writeStream.option("checkpointLocation",
        tmpDir("graft_sts_ovb").toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batches.incrementAndGet()
        batch.select(col("id"), col("v")).collect()
          .foreach(r => out.add((r.getLong(0), r.getDouble(1))))
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    q.stop()
    import scala.jdk.CollectionConverters._
    assert(out.iterator().asScala.toSeq.sorted ==
      (1L to 20L).map(i => (i, i * 1.0)))
    assert(batches.get() == nFiles,
      s"expected $nFiles one-file batches under a 1-byte budget, got " +
        batches.get())
    spark.sql("DROP TABLE graft_sts.db.ovb")
  }

  test("a backlog spanning metadata-only spec evolution reads every " +
      "file under the layout that wrote it (per-batch factories)") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_sts.db")
    // identity(g): g lives in DIRECTORY NAMES for the legacy files,
    // but in the data pages for post-evolution files — serving both
    // from one head-layout factory would null-fill g for one side
    (1L to 8L).map(i => (i, i * 1.0, (i % 2).toString)).toDF("id", "v", "g")
      .writeTo("graft_sts.db.sev").using("parquet")
      .partitionedBy($"g").createOrReplace()
    spark.sql(
      "CALL graft_sts.system.evolve_layout('db.sev', 'bucket(2,id)')")
      .collect()
    (9L to 12L).map(i => (i, i * 1.0, (i % 2).toString)).toDF("id", "v", "g")
      .writeTo("graft_sts.db.sev").append()
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double, String)]()
    val q = spark.readStream.table("graft_sts.db.sev")
      .writeStream.option("checkpointLocation",
        tmpDir("graft_sts_sev").toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.select(col("id"), col("v"), col("g")).collect()
          .foreach(r => out.add((r.getLong(0), r.getDouble(1), r.getString(2))))
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    q.stop()
    import scala.jdk.CollectionConverters._
    assert(out.iterator().asScala.toSeq.sorted ==
      (1L to 12L).map(i => (i, i * 1.0, (i % 2).toString)),
      "mixed-layout backlog lost rows or null-filled partition columns")
    spark.sql("DROP TABLE graft_sts.db.sev")
  }
}
