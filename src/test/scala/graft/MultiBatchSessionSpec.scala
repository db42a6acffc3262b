package graft

import graft.streaming.{SessEvent, Streams}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** st03's cross-batch session continuity, proven on a FORCED multi-batch
  * run: the input is split into two parquet files replayed one per
  * micro-batch (maxFilesPerTrigger=1), with a session deliberately
  * spanning the batch boundary. A naive per-batch sessionizer (state lost
  * between batches) would open a new session at the boundary and over-count.
  */
class MultiBatchSessionSpec extends GraftSuite {
  test("sessions persist across micro-batches via carried state") {
    import spark.implicits._
    val root = tmpDir("graft_mb_sess")
    val srcDir = root.resolve("stream").toString
    new java.io.File(srcDir).mkdirs()

    // Write one parquet FILE per micro-batch, older file first (the file
    // source replays in modification-time order).
    def writeBatch(name: String, rows: Seq[(Long, Long, Long)],
                   modTime: Long): Unit = {
      val staging = root.resolve(s"staging_$name").toString
      rows.toDF("user_id", "event_id", "epochS")
        .coalesce(1).write.parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(srcDir, s"$name.parquet")
      assert(part.renameTo(dest))
      assert(dest.setLastModified(modTime))
    }

    // batch 1: user 1 opens a session (t=0,600); user 2 one event (t=0)
    writeBatch("b1", Seq((1L, 1L, 0L), (1L, 2L, 600L), (2L, 10L, 0L)),
      modTime = 1000000L)
    // batch 2: user 1 CONTINUES the same session (t=1200, gap 600 <= 1800)
    // then opens a second one (t=10000); user 2 opens a second session
    writeBatch("b2", Seq((1L, 3L, 1200L), (1L, 4L, 10000L), (2L, 11L, 9000L)),
      modTime = 2000000L)

    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType),
      StructField("epochS", LongType)))
    val events = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir).as[SessEvent]
    val out = Streams.statefulSessions(events)

    val q = out.writeStream.outputMode("update")
      .format("memory").queryName("mb_sessions").start()
    try q.processAllAvailable() finally q.stop()
    // the split actually produced more than one micro-batch
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches >= 2, s"expected >=2 micro-batches, saw $batches")

    val got = spark.table("mb_sessions")
      .groupBy($"user_id")
      .agg(max($"n_sessions").as("n_sessions"), max($"n_events").as("n_events"))
      .as[(Long, Long, Long)].collect().toSet
    // user 1: events 0,600 | 1200 continue session 1 across the boundary,
    // 10000 opens session 2 -> (2 sessions, 4 events). A state-less
    // per-batch run would report 3 sessions.
    assert(got == Set((1L, 2L, 4L), (2L, 2L, 2L)), got.toString)
  }
}
