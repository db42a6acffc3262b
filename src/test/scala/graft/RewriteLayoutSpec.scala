package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** `CALL cat.system.rewrite_layout(table, spec)` — partition spec
  * evolution: the current snapshot rewritten under a new spec as one
  * conflict-checked commit. Pins: identity → bucket re-layout (hidden
  * dirs appear, rows identical), re-layout onto a time transform,
  * flatten to unpartitioned, the old layout remaining time-travelable,
  * pruning working against the NEW layout, and the
  * invalid-spec / unknown-column guard rails. */
class RewriteLayoutSpec extends GraftSuite {
  private val warehouse: String = registerCatalog("graft_rl")

  private def tblDir(name: String): java.nio.file.Path =
    java.nio.file.Paths.get(warehouse, "db", name)

  private def currentVersionDir(name: String): java.nio.file.Path = {
    val cat = spark.sessionState.catalogManager.catalog("graft_rl")
      .asInstanceOf[graft.sources.AtomicParquetCatalog]
    tblDir(name).resolve(cat.versionLog(tblDir(name)).head)
  }

  private def topDirs(name: String): Seq[String] = {
    val v = currentVersionDir(name)
    java.nio.file.Files.list(v).iterator().asScala
      .filter(java.nio.file.Files.isDirectory(_))
      .map(_.getFileName.toString).toSeq.sorted
  }

  private def df0 = {
    import spark.implicits._
    (1 to 40).toDF("i")
      .select($"i".cast("long").as("k"), ($"i" % 4).cast("int").as("g"),
        (lit(1704067200L) + $"i" * 21600L).cast("timestamp").as("ts"),
        ($"i" * 2.5).as("v"))
  }

  test("identity → bucket → days → flat: layouts change, rows never do") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_rl.db")
    df0.writeTo("graft_rl.db.t").using("parquet")
      .partitionedBy($"g").createOrReplace()
    assert(topDirs("t").forall(_.startsWith("g=")) && topDirs("t").size == 4)
    val want = df0.orderBy($"k").collect().toSeq

    val r1 = spark.sql(
      "CALL graft_rl.system.rewrite_layout('db.t', 'bucket(4,k)')").head()
    assert(r1.getString(0) == "g" && r1.getString(1) == "bucket(4,k)")
    assert(topDirs("t").forall(_.startsWith("_gb_k=")), topDirs("t"))
    assert(spark.table("graft_rl.db.t").orderBy($"k").collect().toSeq == want)

    spark.sql("CALL graft_rl.system.rewrite_layout('db.t', 'days(ts)')")
      .collect()
    assert(topDirs("t").forall(_.startsWith("_gd_ts=")) &&
      topDirs("t").size == 11, topDirs("t"))
    assert(spark.table("graft_rl.db.t").orderBy($"k").collect().toSeq == want)
    // pruning works against the NEW layout: a day filter reads 4 rows
    val lo = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-03T00:00:00Z"))
    val hi = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-04T00:00:00Z"))
    val q = spark.table("graft_rl.db.t")
      .where($"ts" >= lit(lo) && $"ts" < lit(hi))
    assert(q.count() == 4)

    spark.sql("CALL graft_rl.system.rewrite_layout('db.t', '')").collect()
    assert(topDirs("t").isEmpty, topDirs("t"))
    assert(spark.table("graft_rl.db.t").orderBy($"k").collect().toSeq == want)
  }

  test("the old layout stays time-travelable; history grows per rewrite") {
    import spark.implicits._
    // 4 commits: create + 3 rewrites
    assert(spark.sql("SELECT count(*) FROM graft_rl.db.t.history")
      .head().getLong(0) == 4)
    // ordinal 3 back = the original identity layout
    val old = spark.sql("SELECT * FROM graft_rl.db.t VERSION AS OF 3")
    assert(old.orderBy($"k").collect().toSeq ==
      df0.orderBy($"k").collect().toSeq)
  }

  test("guard rails: unknown column and unsupported key type are refused") {
    import spark.implicits._
    val e1 = intercept[Exception] {
      spark.sql(
        "CALL graft_rl.system.rewrite_layout('db.t', 'bucket(4,nope)')")
        .collect()
    }
    assert(e1.getMessage.contains("nope"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("CALL graft_rl.system.rewrite_layout('db.t', 'days(v)')")
        .collect()
    }
    assert(e2.getMessage.contains("days"), e2.getMessage)
    // a failed rewrite leaves no new commit
    assert(spark.sql("SELECT count(*) FROM graft_rl.db.t.history")
      .head().getLong(0) == 4)
    spark.sql("DROP TABLE graft_rl.db.t")
  }
}
