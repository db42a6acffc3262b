package graft.sources

import graft.GraftSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.write.LogicalWriteInfoImpl
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** NATIVE STREAMING WRITES (`writeStream.toTable` on a catalog table)
  * and the fast-append REBASE: pins (1) the end-to-end engine path —
  * stream in, per-epoch snapshots out, checkpoint-resumed tail with no
  * re-emission; (2) the partitioned sink laying epoch rows out under
  * the table's spec; (3) exactly-once epoch replay — a re-committed
  * epoch (crash between sink commit and offset record) adds NOTHING,
  * even when an unrelated batch append landed in between (the ledger
  * carry); (4) a conflicted fast-append REBASING onto the new head
  * instead of failing, and still refusing when the concurrent commit
  * changed the table's shape. */
class StreamingWriteSpec extends GraftSuite {
  private val warehouse: String = registerCatalog("graft_sw")

  private def catalog: AtomicParquetCatalog =
    spark.sessionState.catalogManager.catalog("graft_sw")
      .asInstanceOf[AtomicParquetCatalog]

  private def drainToTable(src: String, out: String,
                           ckpt: java.nio.file.Path): Unit = {
    val q = spark.readStream.table(src)
      .writeStream
      .option("checkpointLocation", ckpt.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable(out)
    q.awaitTermination(60000)
    q.stop()
  }

  test("writeStream.toTable: snapshot + resumed tail, exactly once") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_sw.db")
    (1L to 10L).map(i => (i, i * 1.0)).toDF("id", "v")
      .writeTo("graft_sw.db.src").using("parquet").createOrReplace()
    (1L to 10L).map(i => (i, i * 1.0)).toDF("id", "v").limit(0)
      .writeTo("graft_sw.db.out").using("parquet").createOrReplace()
    val ckpt = tmpDir("graft_sw_ckpt")
    drainToTable("graft_sw.db.src", "graft_sw.db.out", ckpt)
    assert(spark.table("graft_sw.db.out").count() === 10)
    // tail: two more commits, resumed from the same checkpoint
    Seq((11L, 11.0)).toDF("id", "v").writeTo("graft_sw.db.src").append()
    Seq((12L, 12.0)).toDF("id", "v").writeTo("graft_sw.db.src").append()
    drainToTable("graft_sw.db.src", "graft_sw.db.out", ckpt)
    val got = spark.table("graft_sw.db.out").select("id")
      .as[Long].collect().sorted
    assert(got === (1L to 12L).toArray) // every row once, none twice
    // the epoch ledger keys on the STABLE query id (not the per-run
    // id): two separate runs of the same checkpointed query must share
    // ONE ledger entry — an unstable key would let a crash-replayed
    // epoch double-apply after a restart
    val outDir = java.nio.file.Paths.get(warehouse, "db", "out")
    val headDir = outDir.resolve(catalog.versionLog(outDir).head)
    assert(StreamEpochs.read(headDir).size === 1,
      s"ledger must have one entry: ${StreamEpochs.read(headDir)}")
    // a third drain with nothing new appends nothing (and creates no
    // empty snapshot — empty batches commit nothing)
    val versions = catalog.versionLog(
      java.nio.file.Paths.get(warehouse, "db", "out")).size
    drainToTable("graft_sw.db.src", "graft_sw.db.out", ckpt)
    assert(spark.table("graft_sw.db.out").count() === 12)
    assert(catalog.versionLog(
      java.nio.file.Paths.get(warehouse, "db", "out")).size === versions)
  }

  test("partitioned sink: epoch rows land under the table's spec") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_sw.db")
    (1L to 20L).map(i => (i, i * 1.0)).toDF("id", "v")
      .writeTo("graft_sw.db.psrc").using("parquet").createOrReplace()
    (1L to 20L).map(i => (i, i * 1.0)).toDF("id", "v").limit(0)
      .writeTo("graft_sw.db.pout").using("parquet")
      .partitionedBy(bucket(4, $"id")).createOrReplace()
    val ckpt = tmpDir("graft_sw_pckpt")
    drainToTable("graft_sw.db.psrc", "graft_sw.db.pout", ckpt)
    assert(spark.table("graft_sw.db.pout").count() === 20)
    // the snapshot's layout is the bucket spec, not flat epoch files
    val tdir = java.nio.file.Paths.get(warehouse, "db", "pout")
    val head = tdir.resolve(catalog.versionLog(tdir).head)
    val parts = MetaStore.dataFiles(head)
      .map(p => head.relativize(java.nio.file.Paths.get(p)).toString)
    assert(parts.nonEmpty && parts.forall(_.startsWith("_gb_id=")),
      s"expected bucket-partition dirs, got $parts")
    // and the bucket metadata survives: partition listing sees 4 cells
    assert(spark.sql(
      "SELECT count(DISTINCT partition_path) FROM graft_sw.db.pout.partitions")
      .head().getLong(0) === 4)
  }

  test("epoch replay is a no-op, even across an interleaved batch append") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_sw.db")
    Seq((1L, 1.0)).toDF("id", "v")
      .writeTo("graft_sw.db.replay").using("parquet").createOrReplace()
    val ident = Identifier.of(Array("db"), "replay")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", DoubleType)))
    def streamingWrite() = catalog.loadTable(ident)
      .asInstanceOf[PointerTable]
      .newWriteBuilder(LogicalWriteInfoImpl("sw-replay-query", schema,
        CaseInsensitiveStringMap.empty()))
      .build().toStreaming
    def commitEpoch(sw: org.apache.spark.sql.connector.write.streaming.StreamingWrite,
                    epoch: Long, rows: Seq[(Long, Double)]): Unit = {
      val w = sw.createStreamingWriterFactory(
        new org.apache.spark.sql.connector.write.PhysicalWriteInfo {
          override def numPartitions(): Int = 1
        })
        .createWriter(0, 0L, epoch)
      rows.foreach { case (i, v) => w.write(InternalRow(i, v)) }
      sw.commit(epoch, Array(w.commit()))
    }
    commitEpoch(streamingWrite(), 0L, Seq((2L, 2.0)))
    assert(spark.table("graft_sw.db.replay").count() === 2)
    // an unrelated batch append lands between the commit and the replay
    Seq((3L, 3.0)).toDF("id", "v").writeTo("graft_sw.db.replay").append()
    // the replay (same query, same epoch — the crash-recovery path):
    // the ledger was carried through the batch append, so NOTHING lands
    commitEpoch(streamingWrite(), 0L, Seq((2L, 2.0)))
    assert(spark.table("graft_sw.db.replay").select("id")
      .as[Long].collect().sorted === Array(1L, 2L, 3L))
    // the next epoch is new work and commits normally
    commitEpoch(streamingWrite(), 1L, Seq((4L, 4.0)))
    assert(spark.table("graft_sw.db.replay").count() === 4)
  }

  test("conflicted fast-append rebases onto the new head") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_sw.db")
    Seq((1L, 1.0)).toDF("id", "v")
      .writeTo("graft_sw.db.race").using("parquet").createOrReplace()
    // pin a table object at the current version, then advance the
    // table underneath it — the deterministic conflict
    val pinned = catalog.loadTable(Identifier.of(Array("db"), "race"))
      .asInstanceOf[PointerTable]
    Seq((2L, 2.0)).toDF("id", "v").writeTo("graft_sw.db.race").append()
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", DoubleType)))
    val rel = pinned
      .newWriteBuilder(LogicalWriteInfoImpl("sw-race-query", schema,
        CaseInsensitiveStringMap.empty()))
      .build().asInstanceOf[org.apache.spark.sql.connector.write.V1Write]
      .toInsertableRelation
    rel.insert(Seq((3L, 3.0)).toDF("id", "v"), overwrite = false)
    // the rebase kept BOTH the concurrent append and this one
    assert(spark.table("graft_sw.db.race").select("id")
      .as[Long].collect().sorted === Array(1L, 2L, 3L))
  }

  test("rebase refuses when the concurrent commit changed the shape") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_sw.db")
    Seq((1L, 1.0)).toDF("id", "v")
      .writeTo("graft_sw.db.race2").using("parquet").createOrReplace()
    val pinned = catalog.loadTable(Identifier.of(Array("db"), "race2"))
      .asInstanceOf[PointerTable]
    // the concurrent commit REPLACES the table with a different schema
    Seq((1L, "x")).toDF("id", "s")
      .writeTo("graft_sw.db.race2").using("parquet").createOrReplace()
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", DoubleType)))
    val rel = pinned
      .newWriteBuilder(LogicalWriteInfoImpl("sw-race2-query", schema,
        CaseInsensitiveStringMap.empty()))
      .build().asInstanceOf[org.apache.spark.sql.connector.write.V1Write]
      .toInsertableRelation
    val e = intercept[java.util.ConcurrentModificationException] {
      rel.insert(Seq((3L, 3.0)).toDF("id", "v"), overwrite = false)
    }
    assert(e.getMessage.contains("schema or partition spec"))
    // and the racing replace's table is intact
    assert(spark.table("graft_sw.db.race2").columns.toSeq === Seq("id", "s"))
  }
}
