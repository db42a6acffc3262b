package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Kill-and-restart recovery for the streaming-upsert path (st11/st12's
  * production shape): a FILE-source stream running foreachBatch MERGEs
  * into the atomic catalog with a REAL checkpoint directory — not the
  * memory-sink harness the gates use. Proves the two claims the gates
  * cannot: (1) a query killed after its sink commit but before its
  * checkpoint commit re-runs that micro-batch on restart and the
  * batch-id guard makes the replay a no-op (effectively-once across a
  * crash, not just across an injected same-process replay); (2) a batch
  * MERGE racing the stream's micro-batch commits through the same CAS —
  * the loser conflicts and a retry loses neither update.
  */
class StreamingRecoverySpec extends GraftSuite {
  registerCatalog("graft_rec")

  private def mkdirs(): (java.nio.file.Path, java.nio.file.Path) =
    (tmpDir("graft_rec_in"), tmpDir("graft_rec_ckpt"))

  private def writeInput(dir: java.nio.file.Path, name: String,
                         rows: Seq[(Long, Double)]): Unit = {
    import spark.implicits._
    // land the file atomically: write aside, move the part file in
    val tmp = tmpDir("graft_rec_stage")
    rows.toDF("id", "v").coalesce(1).write.parquet(tmp.resolve("w").toString)
    val part = Files.list(tmp.resolve("w")).iterator()
    var moved = false
    while (part.hasNext && !moved) {
      val f = part.next()
      if (f.getFileName.toString.endsWith(".parquet")) {
        Files.move(f, dir.resolve(name)); moved = true
      }
    }
    assert(moved, "no parquet part file produced")
  }

  private def startUpsert(inDir: java.nio.file.Path,
                          ckpt: java.nio.file.Path,
                          table: String,
                          crashAfterCommitOfBatch: Long = -1L) = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType)))
    spark.readStream.schema(schema).parquet(inDir.toString)
      .writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val ss = batch.sparkSession
        batch.groupBy(col("id"))
          .agg(count(lit(1)).as("n"), sum(col("v")).as("total"))
          .withColumn("batch_id", lit(batchId))
          .createOrReplaceTempView("rec_delta")
        ss.sql(s"""MERGE INTO $table t USING rec_delta s ON t.id = s.id
                  |WHEN MATCHED AND s.batch_id > t.last_batch THEN UPDATE SET
                  |  n = t.n + s.n, total = t.total + s.total,
                  |  last_batch = s.batch_id
                  |WHEN NOT MATCHED THEN
                  |  INSERT (id, n, total, last_batch)
                  |  VALUES (s.id, s.n, s.total, s.batch_id)
                  |""".stripMargin)
        // the injected CRASH: die AFTER the sink committed, BEFORE the
        // stream engine records the batch in the checkpoint — exactly
        // the window a real process kill can land in
        if (batchId == crashAfterCommitOfBatch)
          throw new RuntimeException("injected post-commit crash")
        ()
      }
      .start()
  }

  private def state(table: String): Seq[(Long, Long, Double, Long)] = {
    import spark.implicits._
    spark.table(table).select($"id", $"n", $"total", $"last_batch")
      .orderBy($"id").as[(Long, Long, Double, Long)].collect().toSeq
  }

  test("restart from a real checkpoint replays the crashed batch as a no-op") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_rec.db")
    Seq.empty[(Long, Long, Double, Long)]
      .toDF("id", "n", "total", "last_batch")
      .writeTo("graft_rec.db.up1").using("parquet").createOrReplace()
    val (inDir, ckpt) = mkdirs()

    // ---- run 1: one micro-batch, killed AFTER its merge committed ----
    writeInput(inDir, "f1.parquet", Seq((1L, 1.0), (1L, 2.0), (2L, 5.0)))
    val q1 = startUpsert(inDir, ckpt, "graft_rec.db.up1",
      crashAfterCommitOfBatch = 0L)
    val died = intercept[Exception] { q1.processAllAvailable() }
    assert(died.getMessage != null)
    q1.stop()
    // the merge of batch 0 COMMITTED before the crash
    assert(state("graft_rec.db.up1") ==
      Seq((1L, 2L, 3.0, 0L), (2L, 1L, 5.0, 0L)),
      "batch 0's merge must be committed before the injected crash")

    // ---- run 2: restart from the SAME checkpoint, new data arrives ----
    writeInput(inDir, "f2.parquet", Seq((2L, 7.0), (3L, 9.0)))
    val q2 = startUpsert(inDir, ckpt, "graft_rec.db.up1")
    q2.processAllAvailable()
    q2.stop()
    // batch 0 was re-offered on restart (its checkpoint commit never
    // happened) and the guard made the replay a NO-OP; batch 1 applied
    // once — effectively-once across the crash
    assert(state("graft_rec.db.up1") ==
      Seq((1L, 2L, 3.0, 0L), (2L, 2L, 12.0, 1L), (3L, 1L, 9.0, 1L)),
      "restart must replay the crashed batch as a no-op and apply new data")
    spark.sql("DROP TABLE graft_rec.db.up1")
  }

  test("a batch MERGE racing the stream conflicts; retry loses no update") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_rec.db")
    Seq((1L, 1L, 1.0, -1L), (2L, 1L, 2.0, -1L))
      .toDF("id", "n", "total", "last_batch")
      .writeTo("graft_rec.db.up2").using("parquet").createOrReplace()
    val (inDir, ckpt) = mkdirs()
    // a batch writer pins its base snapshot (analysis time) BEFORE the
    // stream's micro-batch lands — the classic mid-flight interleave
    Seq((2L, 100.0)).toDF("id", "delta").createOrReplaceTempView("up2_batch")
    val batchMerge = """MERGE INTO graft_rec.db.up2 t USING up2_batch s
                       |ON t.id = s.id
                       |WHEN MATCHED THEN UPDATE SET
                       |  total = t.total + s.delta
                       |""".stripMargin
    val pinned = spark.sessionState.executePlan(
      spark.sessionState.sqlParser.parsePlan(batchMerge)).analyzed
    // the stream commits a micro-batch merge through the same CAS
    writeInput(inDir, "f1.parquet", Seq((1L, 10.0)))
    val q = startUpsert(inDir, ckpt, "graft_rec.db.up2")
    q.processAllAvailable()
    q.stop()
    assert(state("graft_rec.db.up2") ==
      Seq((1L, 2L, 11.0, 0L), (2L, 1L, 2.0, -1L)))
    // the pinned batch merge must CONFLICT (its base moved), not clobber
    // the stream's commit
    val err = intercept[Exception] {
      spark.sessionState.executePlan(pinned).commandExecuted
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(err).exists(
      _.isInstanceOf[java.util.ConcurrentModificationException]),
      s"expected a commit conflict, got: $err")
    assert(state("graft_rec.db.up2") ==
      Seq((1L, 2L, 11.0, 0L), (2L, 1L, 2.0, -1L)),
      "the losing batch merge must apply NOTHING")
    // a fresh retry applies cleanly: stream + batch effects both land
    spark.sql(batchMerge)
    assert(state("graft_rec.db.up2") ==
      Seq((1L, 2L, 11.0, 0L), (2L, 1L, 102.0, -1L)),
      "retrying the batch merge must lose neither update")
    spark.sql("DROP TABLE graft_rec.db.up2")
  }
}
