package graft

import java.nio.file.Files

/** DEFAULT column values on the atomic catalog — metadata-only schema
  * evolution: `ALTER TABLE ADD COLUMN x DEFAULT v` commits a snapshot
  * whose data files are all HARD LINKS of the prior version (zero
  * rewrite), rows in pre-column files read the frozen EXISTS_DEFAULT,
  * inserts that omit the column get CURRENT_DEFAULT filled by the
  * analyzer, and `ALTER COLUMN SET DEFAULT` changes only FUTURE
  * inserts — history keeps reading the add-time value. */
class DefaultColumnSpec extends GraftSuite {
  private val warehouse: String = registerCatalog("graft_dc")

  test("ADD COLUMN DEFAULT: old files read the default, zero rewrite") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_dc.db")
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .writeTo("graft_dc.db.t").using("parquet").createOrReplace()
    val tdir = java.nio.file.Paths.get(warehouse, "db", "t")
    def headFiles(): Map[String, Object] = {
      val head = tdir.resolve(
        Files.readAllLines(tdir.resolve("_current")).get(0).trim)
      import scala.jdk.CollectionConverters._
      Files.walk(head).iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map(p => p.getFileName.toString ->
          Files.getAttribute(p, "unix:fileKey")).toMap
    }
    val before = headFiles()
    spark.sql(
      "ALTER TABLE graft_dc.db.t ADD COLUMN category STRING DEFAULT 'general'")
    // metadata-only: every data file of the new head is the SAME inode
    val after = headFiles()
    assert(after === before, "ADD COLUMN DEFAULT must not rewrite data")
    // pre-column rows serve the frozen EXISTS_DEFAULT
    assert(spark.sql(
      "SELECT id, category FROM graft_dc.db.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "general"), (2L, "general")))
  }

  test("INSERT omitting the column gets CURRENT_DEFAULT") {
    spark.sql("INSERT INTO graft_dc.db.t (id, name) VALUES (3, 'c')")
    spark.sql(
      "INSERT INTO graft_dc.db.t VALUES (4, 'd', DEFAULT)")
    spark.sql(
      "INSERT INTO graft_dc.db.t VALUES (5, 'e', 'science')")
    assert(spark.sql(
      "SELECT id, category FROM graft_dc.db.t WHERE id > 2 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((3L, "general"), (4L, "general"), (5L, "science")))
  }

  test("SET DEFAULT changes future inserts only; history keeps reading") {
    spark.sql(
      "ALTER TABLE graft_dc.db.t ALTER COLUMN category SET DEFAULT 'news'")
    spark.sql("INSERT INTO graft_dc.db.t (id, name) VALUES (6, 'f')")
    val got = spark.sql(
      "SELECT id, category FROM graft_dc.db.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // ids 1-2 predate the column: STILL the add-time existence default;
    // 3-4 were written as 'general'; 6 picks up the NEW current default
    assert(got === Seq((1L, "general"), (2L, "general"), (3L, "general"),
      (4L, "general"), (5L, "science"), (6L, "news")))
    spark.sql(
      "ALTER TABLE graft_dc.db.t ALTER COLUMN category DROP DEFAULT")
    // with no current default an omitted column is a null, not an error
    spark.sql("INSERT INTO graft_dc.db.t (id, name) VALUES (7, 'g')")
    assert(spark.sql(
      "SELECT category FROM graft_dc.db.t WHERE id = 7")
      .collect().head.isNullAt(0))
  }

  test("defaults on a partitioned table survive the COW merge path") {
    import spark.implicits._
    Seq((1L, 10.0, "x"), (2L, 20.0, "y")).toDF("id", "v", "g")
      .writeTo("graft_dc.db.p").using("parquet")
      .partitionedBy($"g").createOrReplace()
    spark.sql(
      "ALTER TABLE graft_dc.db.p ADD COLUMN score INT DEFAULT 50")
    // a row-level UPDATE through partition-level COW rewrites one
    // partition; the OTHER partition's files still predate the column
    spark.sql("UPDATE graft_dc.db.p SET v = v + 1 WHERE g = 'x'")
    assert(spark.sql(
      "SELECT id, v, score FROM graft_dc.db.p ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq ===
      Seq((1L, 11.0, 50), (2L, 20.0, 50)))
  }
}
