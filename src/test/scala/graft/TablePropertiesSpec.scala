package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** Persisted TBLPROPERTIES: CREATE ... TBLPROPERTIES lands in the
  * table's `_props` sidecar, SHOW TBLPROPERTIES / ALTER TABLE SET |
  * UNSET round-trip it, clones carry it, reserved keys refuse — and
  * the load-bearing consumer works: `write.delete.mode = merge-on-read`
  * as a TABLE property makes DELETE metadata-only with no session
  * conf. */
class TablePropertiesSpec extends GraftSuite {
  private val warehouse: String = registerCatalog("graft_props")

  private def props(tbl: String): Map[String, String] =
    spark.sql(s"SHOW TBLPROPERTIES graft_props.db.$tbl").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  test("create with TBLPROPERTIES persists; SET/UNSET round-trips") {
    val s = spark
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_props.db")
    s.sql("""CREATE TABLE graft_props.db.p1 (k BIGINT, v STRING)
            | USING parquet
            | TBLPROPERTIES ('team'='ingest', 'quality.tier'='gold')"""
      .stripMargin)
    assert(props("p1").get("team") === Some("ingest"))
    assert(props("p1").get("quality.tier") === Some("gold"))
    s.sql("ALTER TABLE graft_props.db.p1 SET TBLPROPERTIES " +
      "('quality.tier'='silver', 'ttl.days'='30')")
    assert(props("p1").get("quality.tier") === Some("silver"))
    assert(props("p1").get("ttl.days") === Some("30"))
    s.sql("ALTER TABLE graft_props.db.p1 UNSET TBLPROPERTIES ('team')")
    assert(props("p1").get("team") === None)
    assert(props("p1").get("ttl.days") === Some("30"))
    // a property-only ALTER created no snapshot: history has 1 version
    assert(s.table("graft_props.db.p1.history").count() === 1L)
  }

  test("RTAS (CREATE TABLE AS) persists properties too") {
    val s = spark
    import s.implicits._
    s.range(10).select($"id".as("k"))
      .writeTo("graft_props.db.p2")
      .tableProperty("origin", "rtas").create()
    assert(props("p2").get("origin") === Some("rtas"))
  }

  test("merge-on-read delete mode as a TABLE property, no session conf") {
    val s = spark
    import s.implicits._
    s.sql("""CREATE TABLE graft_props.db.p3 (k BIGINT, v DOUBLE)
            | USING parquet
            | TBLPROPERTIES ('write.delete.mode'='merge-on-read')"""
      .stripMargin)
    s.range(100).select($"id".as("k"), ($"id" * 1.0).as("v"))
      .writeTo("graft_props.db.p3").append()
    def inodes(): Set[Any] = {
      val tdir = Paths.get(warehouse, "db", "p3")
      val cur = tdir.resolve(new String(
        Files.readAllBytes(tdir.resolve("_current")), "UTF-8")
        .split("\n").head.trim)
      val walk = Files.walk(cur)
      try walk.iterator().asScala.filter { p =>
        val rel = cur.relativize(p).toString
        Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith("_") &&
          !p.getFileName.toString.startsWith(".") &&
          !rel.startsWith("_deletes/")
      }.map(Files.getAttribute(_, "unix:ino")).toSet
      finally walk.close()
    }
    val before = inodes()
    assert(s.conf.getOption(
      "spark.sql.catalog.graft.write.deleteMode").isEmpty)
    s.sql("DELETE FROM graft_props.db.p3 WHERE k < 10")
    assert(inodes() === before, "the table property alone must route " +
      "the delete merge-on-read (zero rewrite)")
    assert(s.table("graft_props.db.p3").count() === 90L)
    // flipping the property off restores COW for the next delete
    s.sql("ALTER TABLE graft_props.db.p3 UNSET TBLPROPERTIES " +
      "('write.delete.mode')")
    s.sql("DELETE FROM graft_props.db.p3 WHERE k >= 90")
    assert(inodes() !== before)
    assert(s.table("graft_props.db.p3").count() === 80L)
  }

  test("write.target-file-size-rows caps every written file") {
    val s = spark
    import s.implicits._
    s.sql("""CREATE TABLE graft_props.db.p4 (k BIGINT)
            | USING parquet
            | TBLPROPERTIES ('write.target-file-size-rows'='100')"""
      .stripMargin)
    s.range(1000).select($"id".as("k")).coalesce(1)
      .writeTo("graft_props.db.p4").append()
    val rows = s.table("graft_props.db.p4.files")
      .select($"row_count").collect().map(_.getLong(0))
    assert(rows.sum === 1000L)
    assert(rows.forall(_ <= 100L),
      s"every file must hold <= 100 rows, got ${rows.mkString(",")}")
    assert(rows.length >= 10)
  }

  test("clone carries properties; reserved keys refuse") {
    val s = spark
    s.sql("CALL graft_props.system.clone('db.p1', 'db.p1_clone')").collect()
    assert(props("p1_clone").get("ttl.days") === Some("30"))
    val e = intercept[Exception] {
      s.sql("ALTER TABLE graft_props.db.p1 SET TBLPROPERTIES " +
        "('location'='/elsewhere')")
    }
    assert(e.getMessage.contains("reserved"))
  }
}
