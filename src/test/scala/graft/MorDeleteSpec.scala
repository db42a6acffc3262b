package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** MERGE-ON-READ DELETE (MorDeletes.scala): with
  * `write.deleteMode = merge-on-read`, a translatable DELETE commits
  * metadata only — the pins here are inode equality of every data file
  * across the delete (zero rewrite), exact read-side application
  * (including when the predicate column is pruned from the query),
  * snapshot semantics for later appends, time travel, the COW
  * fallback for untranslatable conditions, materialization via
  * rewrite_deletes/compact, and the refusal rails (streaming, export). */
class MorDeleteSpec extends GraftSuite {
  private val warehouse: String = registerCatalog("graft_mor")

  private def withMor[A](f: => A): A =
    withConf("spark.sql.catalog.graft.write.deleteMode" -> "merge-on-read")(f)

  /** (relativePath → inode) of every data file of `tbl`'s current
    * version. */
  private def dataInodes(tbl: String): Map[String, Any] = {
    val dir = Paths.get(warehouse, "db", tbl)
    val cur = dir.resolve(new String(
      Files.readAllBytes(dir.resolve("_current")), "UTF-8")
      .split("\n").head.trim)
    val walk = Files.walk(cur)
    try walk.iterator().asScala.filter { p =>
      val rel = cur.relativize(p).toString
      Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith("_") &&
        !p.getFileName.toString.startsWith(".") &&
        !rel.startsWith("_deletes/") && !rel.startsWith("_staging/")
    }.map { p =>
      cur.relativize(p).toString ->
        Files.getAttribute(p, "unix:ino")
    }.toMap
    finally walk.close()
  }

  private def mkTable(name: String): Unit = {
    val s = spark
    import s.implicits._
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_mor.db")
    s.sql(s"DROP TABLE IF EXISTS graft_mor.db.$name")
    s.range(1000).select($"id".as("k"), ($"id" % 4).cast("int").as("p"),
        concat(lit("u"), $"id" % 50).as("tag"), ($"id" * 1.5).as("v"))
      .writeTo(s"graft_mor.db.$name").partitionedBy($"p").create()
  }

  test("translatable DELETE commits metadata-only and reads exactly") {
    val s = spark
    import s.implicits._
    mkTable("t1")
    val before = dataInodes("t1")
    withMor { s.sql("DELETE FROM graft_mor.db.t1 WHERE k >= 100 AND k < 200") }
    val after = dataInodes("t1")
    assert(after === before,
      "a merge-on-read delete must hard-link every data file unchanged")
    assert(s.table("graft_mor.db.t1").count() === 900L)
    assert(s.table("graft_mor.db.t1").where($"k" === 150L).count() === 0L)
    assert(s.table("graft_mor.db.t1").where($"k" === 99L).count() === 1L)
    // the predicate column pruned out of the query: application still
    // exact (the scan extends its schema, filters, projects away)
    assert(s.table("graft_mor.db.t1").select($"v").count() === 900L)
    assert(s.table("graft_mor.db.t1").agg(sum($"k")).head.getLong(0) ===
      (0L until 1000L).filterNot(k => k >= 100 && k < 200).sum)
    // the .deletes metadata view names the entry
    val d = s.table("graft_mor.db.t1.deletes").collect()
    assert(d.length === 1 && d.head.getLong(2) > 0)
    assert(d.head.getString(1).contains("k >= 100"))
  }

  test("snapshot semantics: re-inserted matching rows persist; time travel") {
    val s = spark
    import s.implicits._
    // t1 carries the k∈[100,200) delete from the previous test
    Seq((150L, 2, "u0", 1.0)).toDF("k", "p", "tag", "v")
      .writeTo("graft_mor.db.t1").append()
    assert(s.table("graft_mor.db.t1").where($"k" === 150L).count() === 1L,
      "a row appended AFTER the delete must not be filtered by it")
    // the pre-delete snapshot (ordinal 2 = the create) serves all rows
    assert(s.sql(
      "SELECT count(*) FROM graft_mor.db.t1 VERSION AS OF 2")
      .head.getLong(0) === 1000L)
  }

  test("untranslatable condition falls back to COW and rewrites") {
    val s = spark
    import s.implicits._
    mkTable("t2")
    val before = dataInodes("t2")
    withMor { s.sql("DELETE FROM graft_mor.db.t2 WHERE k % 7 = 3") }
    val after = dataInodes("t2")
    assert(after !== before, "an arithmetic condition cannot translate — " +
      "the COW rewrite must have produced new files")
    assert(s.table("graft_mor.db.t2").count() ===
      (0L until 1000L).count(_ % 7 != 3))
    assert(!Files.isDirectory(
      Paths.get(warehouse, "db", "t2").resolve("_deletes")))
  }

  test("second delete stacks; aggregates refuse pushdown and stay exact") {
    val s = spark
    import s.implicits._
    withMor { s.sql("DELETE FROM graft_mor.db.t1 WHERE tag = 'u7'") }
    val expect = (0L until 1000L)
      .filterNot(k => k >= 100 && k < 200).count(_ % 50 != 7) + 1
    // +1: the re-inserted k=150 row (tag u0) from the previous test
    assert(s.table("graft_mor.db.t1").count() === expect.toLong)
    assert(s.table("graft_mor.db.t1.deletes").count() === 2L)
  }

  test("COW row-level ops on a table with live deletes stay exact") {
    val s = spark
    import s.implicits._
    mkTable("t3")
    withMor { s.sql("DELETE FROM graft_mor.db.t3 WHERE k < 100") }
    assert(s.table("graft_mor.db.t3").count() === 900L)
    // a COW UPDATE touching one partition: deleted rows must NOT
    // resurrect — neither in the rewritten partition nor the linked ones
    s.sql("UPDATE graft_mor.db.t3 SET v = -1.0 WHERE k = 500")
    assert(s.table("graft_mor.db.t3").count() === 900L)
    assert(s.table("graft_mor.db.t3").where($"v" === -1.0).count() === 1L)
    assert(s.table("graft_mor.db.t3").where($"k" < 100).count() === 0L)
    // MERGE inserting a previously-deleted key: the new row persists
    Seq((50L, 2, "zz", 9.9)).toDF("k", "p", "tag", "v")
      .createOrReplaceTempView("mor_src")
    s.sql("""MERGE INTO graft_mor.db.t3 t USING mor_src s ON t.k = s.k
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(s.table("graft_mor.db.t3").where($"k" === 50L).count() === 1L)
    assert(s.table("graft_mor.db.t3").where($"k" === 51L).count() === 0L)
  }

  test("rewrite_deletes materializes only the affected files") {
    val s = spark
    import s.implicits._
    mkTable("t4")
    // one extra file per partition that the delete will NOT touch
    s.range(1000, 2000).select($"id".as("k"),
        ($"id" % 4).cast("int").as("p"),
        concat(lit("u"), $"id" % 50).as("tag"), ($"id" * 1.5).as("v"))
      .writeTo("graft_mor.db.t4").append()
    withMor { s.sql("DELETE FROM graft_mor.db.t4 WHERE k < 1000") }
    val before = dataInodes("t4")
    val sum = s.sql("CALL graft_mor.system.rewrite_deletes('db.t4')")
      .collect().head
    assert(sum.getLong(0) === 1L, "one entry removed")
    assert(sum.getLong(1) > 0L, "the first write's files were rewritten")
    val after = dataInodes("t4")
    // the second append's files are in the entry's manifest (they
    // existed at delete time), but their footer stats prove k >= 1000
    // matches nothing — the stats-pruned rewrite must hard-link them
    val untouched = before.keySet.filter(r => after.contains(r))
    assert(untouched.nonEmpty)
    untouched.foreach(r => assert(after(r) === before(r),
      s"$r should have been linked, not rewritten"))
    assert(s.table("graft_mor.db.t4").count() === 1000L)
    assert(s.table("graft_mor.db.t4").agg(min($"k")).head.getLong(0) === 1000L)
    assert(s.table("graft_mor.db.t4.deletes").count() === 0L)
    // idempotent no-op second call
    val sum2 = s.sql("CALL graft_mor.system.rewrite_deletes('db.t4')")
      .collect().head
    assert(sum2.getLong(0) === 0L && sum2.getLong(1) === 0L)
  }

  test("compact materializes deletes too") {
    val s = spark
    import s.implicits._
    mkTable("t5")
    withMor { s.sql("DELETE FROM graft_mor.db.t5 WHERE k >= 900") }
    s.sql("CALL graft_mor.system.compact('db.t5', 1)").collect()
    assert(s.table("graft_mor.db.t5").count() === 900L)
    assert(s.table("graft_mor.db.t5.deletes").count() === 0L)
    assert(s.table("graft_mor.db.t5").agg(max($"k")).head.getLong(0) === 899L)
  }

  test("streaming a table with live deletes SERVES them applied " +
      "(the r14 refusal, replaced by delete-aware incremental scans)") {
    val s = spark
    import s.implicits._
    mkTable("t6")
    // tag = 'u1' translates (string equality) and scatters: 20 rows
    // across every p partition
    withMor { s.sql("DELETE FROM graft_mor.db.t6 WHERE tag = 'u1'") }
    // the entry stays live (no hidden rewrite) and the snapshot batch
    // applies it: deleted rows are never served to the stream
    assert(s.table("graft_mor.db.t6.deletes").count() >= 1L)
    val q = s.readStream.table("graft_mor.db.t6").writeStream
      .format("memory").queryName("mor_t6")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(30000) finally q.stop()
    val got = s.table("mor_t6")
    assert(got.count() === 980L,
      "the stream must serve exactly the survivors")
    assert(got.where($"tag" === "u1").count() === 0L,
      "a deleted row was served to the stream")
    assert(s.table("graft_mor.db.t6.deletes").count() >= 1L,
      "the drain must not depend on materializing the sidecar")
  }

  test("tableChanges reports a MOR delete as row-level deletes") {
    val s = spark
    import s.implicits._
    mkTable("t7")
    withMor { s.sql("DELETE FROM graft_mor.db.t7 WHERE k < 10") }
    val ch = graft.sources.AtomicParquetCatalog
      .tableChanges(s, "graft_mor.db.t7", fromCommitsBack = 1)
    val del = ch.where($"_change_type" === "delete")
    assert(del.count() === 10L)
    assert(del.agg(max($"k")).head.getLong(0) === 9L)
    assert(ch.where($"_change_type" === "insert").count() === 0L)
  }
}
