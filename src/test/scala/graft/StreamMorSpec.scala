package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** MERGE-ON-READ delete entries composed with STREAMING READS
  * (CatalogStreamRead + MorDeletes) — the r14 verdict's missing
  * composition #1, plus the column-order regression it surfaced:
  *
  *  - identity-partitioned tables stream correctly (the partition
  *    column sits mid-schema, so the file scan's data-then-partition
  *    column order differs from the relation's — the stream must
  *    declare table order or columnar batches misbind);
  *  - default mode re-emits EXACTLY the affected files' survivors
  *    when a delete commit lands (the COW re-emission analogue),
  *    never a deleted row;
  *  - skipChangeCommits detects an entry-adding commit as a change
  *    commit (no file moved — the file-set test alone cannot see it)
  *    and skips it whole;
  *  - positional entries (PK-less tables) apply on the stream too;
  *  - the two-drain CDC composition: MoR MERGE between checkpointed
  *    drains, downstream upsert state equals the logical table, and
  *    the sidecar stays live throughout (no hidden rewrite). */
class StreamMorSpec extends GraftSuite {
  private val warehouse: String = registerCatalog("graft_smr")

  spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_smr.db")

  private def mkIdentityPartitioned(name: String): Unit = {
    val s = spark
    import s.implicits._
    s.range(300).select($"id".as("k"), ($"id" % 3).cast("string").as("p"),
        ($"id" * 1.0).as("v"))
      .writeTo(s"graft_smr.db.$name").using("parquet")
      .tableProperty("write.merge.mode", "merge-on-read")
      .tableProperty("write.delete.mode", "merge-on-read")
      .partitionedBy($"p").createOrReplace()
  }

  test("identity-partitioned table streams with correct column " +
      "binding (regression: scan order vs relation order)") {
    val s = spark
    import s.implicits._
    mkIdentityPartitioned("ord1")
    val q = s.readStream.table("graft_smr.db.ord1").writeStream
      .format("memory").queryName("smr_ord1")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(60000) finally q.stop()
    val got = s.table("smr_ord1")
    assert(got.count() === 300L)
    // value-level assertions on every column: a positional misbind
    // (double vector read as string, or p served from the wrong slot)
    // cannot pass these
    assert(got.where($"p" === "1").count() === 100L)
    assert(got.agg(sum($"v")).head.getDouble(0) ===
      (0 until 300).map(_ * 1.0).sum)
    assert(got.where($"k" === 7L).select($"p", $"v").head ===
      Row("1", 7.0))
  }

  test("default mode: a MoR delete commit re-emits exactly the " +
      "affected files' survivors, deleted rows never served") {
    val s = spark
    import s.implicits._
    mkIdentityPartitioned("ord2")
    val ckpt = tmpDir("graft_smr_ck2").toString
    val batches =
      scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, String, Double)]]
    def drain(): Unit = {
      val q = s.readStream.table("graft_smr.db.ord2").writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          batches += b.select("k", "p", "v")
            .as[(Long, String, Double)](
              org.apache.spark.sql.Encoders.tuple(
                org.apache.spark.sql.Encoders.scalaLong,
                org.apache.spark.sql.Encoders.STRING,
                org.apache.spark.sql.Encoders.scalaDouble))
            .collect().toSeq
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    assert(batches.map(_.size).sum === 300)
    batches.clear()
    // metadata-only MoR delete: k IN (5, 105, 205) — translatable,
    // stats-narrowed scope names only the files holding those keys
    s.sql("DELETE FROM graft_smr.db.ord2 WHERE k IN (5, 105, 205)")
    assert(s.table("graft_smr.db.ord2.deletes").count() === 1L)
    drain()
    val emitted = batches.flatten
    assert(emitted.nonEmpty,
      "the delete commit must re-emit its affected files' survivors")
    assert(!emitted.exists(r => Set(5L, 105L, 205L).contains(r._1)),
      s"a deleted row was re-served: ${emitted.filter(r =>
        Set(5L, 105L, 205L).contains(r._1))}")
    // exactness: the re-emission is the survivors of the files that
    // HELD the deleted keys — strictly fewer rows than the table
    // (stats-narrowed scope), and every emitted row is a live row
    assert(emitted.size < 297,
      s"re-emission must be scoped to the affected files, got " +
        s"${emitted.size} of 297 live rows")
    val live = s.table("graft_smr.db.ord2")
      .select($"k").as[Long].collect().toSet
    assert(emitted.forall(r => live.contains(r._1)))
  }

  test("skipChangeCommits: an entry-adding commit (no file moves) is " +
      "a change commit and skips whole") {
    val s = spark
    import s.implicits._
    mkIdentityPartitioned("ord3")
    val ckpt = tmpDir("graft_smr_ck3").toString
    def drainCount(): Long = {
      var n = 0L
      val q = s.readStream
        .option("skipChangeCommits", "true")
        .table("graft_smr.db.ord3").writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) => n += b.count(); () }
        .start()
      try q.processAllAvailable() finally q.stop()
      n
    }
    assert(drainCount() === 300L) // snapshot
    // commit 2: MoR delete (adds an entry, moves NO files) + commit 3:
    // a plain append — skip mode must drop the delete commit whole
    // and serve the append
    s.sql("DELETE FROM graft_smr.db.ord3 WHERE k IN (1, 101)")
    assert(s.table("graft_smr.db.ord3.deletes").count() === 1L)
    s.range(5).select(($"id" + 1000L).as("k"), lit("9").as("p"),
        lit(0.5).as("v"))
      .writeTo("graft_smr.db.ord3").append()
    assert(drainCount() === 5L,
      "skip mode must skip the entry-adding commit whole and serve " +
        "only the append")
  }

  test("positional entries (PK-less table) apply on the stream") {
    val s = spark
    import s.implicits._
    // duplicate rows, no PK: the delete that only positional ids can
    // express — remove rows by predicate through the positional path
    s.range(100).select(($"id" % 10).as("k"), lit("a").as("tag"))
      .writeTo("graft_smr.db.ord4").using("parquet")
      .tableProperty("write.update.mode", "merge-on-read")
      .createOrReplace()
    s.sql("UPDATE graft_smr.db.ord4 SET tag = 'b' WHERE k = 3")
    // the UPDATE took the positional path (no PK): .pos sidecar live
    val head = {
      val tdir = java.nio.file.Paths.get(warehouse, "db", "ord4")
      tdir.resolve(new String(java.nio.file.Files.readAllBytes(
        tdir.resolve("_current")), "UTF-8").split("\n").head.trim)
    }
    import scala.jdk.CollectionConverters._
    val ls = java.nio.file.Files.list(head.resolve("_deletes"))
    val hasPos =
      try ls.iterator().asScala.exists(_.getFileName.toString.endsWith(".pos"))
      finally ls.close()
    assert(hasPos, "expected a positional sidecar from the PK-less UPDATE")
    val q = s.readStream.table("graft_smr.db.ord4").writeStream
      .format("memory").queryName("smr_ord4")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(60000) finally q.stop()
    val got = s.table("smr_ord4")
    assert(got.count() === 100L)
    assert(got.where($"k" === 3L && $"tag" === "a").count() === 0L,
      "positionally-deleted rows must not be served")
    assert(got.where($"k" === 3L && $"tag" === "b").count() === 10L)
  }

  test("two-drain CDC composition: MoR merge between checkpointed " +
      "drains, downstream upsert equals the logical table") {
    val s = spark
    import s.implicits._
    mkIdentityPartitioned("src5")
    s.sql("ALTER TABLE graft_smr.db.src5 ADD CONSTRAINT s5_pk " +
      "PRIMARY KEY (k) NOT ENFORCED")
    s.range(0).select($"id".as("k"), lit("x").as("p"), lit(0.0).as("v"))
      .writeTo("graft_smr.db.snk5").using("parquet").createOrReplace()
    val ckpt = tmpDir("graft_smr_ck5").toString
    def drain(): Unit = {
      val q = s.readStream.table("graft_smr.db.src5")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.createOrReplaceTempView("smr_b5")
          // a deleted row served beside its replacement would be the
          // same key twice in one batch -> duplicate-match MERGE error
          b.sparkSession.sql(
            """MERGE INTO graft_smr.db.snk5 t USING smr_b5 s
              |ON t.k = s.k
              |WHEN MATCHED THEN UPDATE SET *
              |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    assert(s.table("graft_smr.db.snk5").count() === 300L)
    s.range(300).where($"id" % 7 === 0)
      .select($"id".as("k"), ($"id" % 3).cast("string").as("p"),
        (-$"id" * 1.0).as("v"))
      .unionByName(s.range(10)
        .select(($"id" + 1000L).as("k"), lit("z").as("p"),
          ($"id" * 2.0).as("v")))
      .createOrReplaceTempView("smr_src5")
    s.sql("""MERGE INTO graft_smr.db.src5 t USING smr_src5 s ON t.k = s.k
      |WHEN MATCHED THEN UPDATE SET *
      |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(s.table("graft_smr.db.src5.deletes").count() >= 1L)
    drain()
    assert(s.table("graft_smr.db.src5.deletes").count() >= 1L,
      "the drain must serve live entries, not materialize them")
    val snk = s.table("graft_smr.db.snk5")
    assert(snk.count() === 310L)
    // updated keys show the new negative values (k=0 stays 0.0)
    assert(snk.where($"k" % 7 === 0 && $"k" < 1000 && $"v" > 0)
      .count() === 0L)
    assert(snk.where($"k" === 7L).select($"v").head.getDouble(0) === -7.0)
    assert(snk.where($"k" >= 1000L).count() === 10L)
  }
}
