package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

/** The catalog's metadata-file seam ([[graft.sources.MetaStore]]): the
  * directory listings behind SHOW TABLES, SHOW NAMESPACES and DROP
  * NAMESPACE release their handles, and a version without its
  * `_committed_at` marker (the older layout) takes its commit instant
  * from its directory's mtime in every reader of that instant. */
class MetaStoreSpec extends GraftSuite {
  private val warehouse: String = registerCatalog("graft_meta")

  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  private def versionLog(dir: Path): Seq[String] =
    read(dir.resolve("_current")).split("\n").toSeq

  private def openFds(): Int = {
    val ls = Files.list(Paths.get("/proc/self/fd"))
    try ls.count().toInt finally ls.close()
  }

  test("catalog listings close their directory streams") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_meta.fds")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_meta.fds.inner")
    Seq(1L).toDF("id").writeTo("graft_meta.fds.t").using("parquet")
      .createOrReplace()
    def round(): Unit = {
      spark.sql("SHOW TABLES IN graft_meta.fds").collect()
      spark.sql("SHOW NAMESPACES IN graft_meta").collect()
      spark.sql("SHOW NAMESPACES IN graft_meta.fds").collect()
      intercept[Exception](spark.sql("DROP NAMESPACE graft_meta.fds"))
    }
    round() // loads every class and opens the session's own files first
    val before = openFds()
    (1 to 100).foreach(_ => round())
    val grown = openFds() - before
    assert(grown < 50, s"100 rounds of catalog listings left $grown more " +
      "file descriptors open")
    spark.sql("DROP NAMESPACE graft_meta.fds CASCADE")
  }

  test("a version without _committed_at resolves its commit instant to " +
      "its directory mtime") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_meta.db")
    spark.sql("DROP TABLE IF EXISTS graft_meta.db.instants")
    (1 to 3).foreach { i =>
      (1L to i * 10L).toDF("id")
        .writeTo("graft_meta.db.instants").using("parquet").createOrReplace()
    }
    val dir = Paths.get(warehouse, "db", "instants")
    val Seq(_, middle, oldest) = versionLog(dir)
    val oldestMs = read(dir.resolve(oldest).resolve("_committed_at")).toLong
    // the middle version reads as an older-layout one, its mtime
    // (whole seconds: some file systems keep no finer) ten seconds
    // before the oldest version's commit
    val mtime = (oldestMs / 1000L - 10L) * 1000L
    Files.delete(dir.resolve(middle).resolve("_committed_at"))
    Files.setLastModifiedTime(dir.resolve(middle), FileTime.fromMillis(mtime))

    val history = spark.sql("SELECT version, committed_at FROM " +
      "graft_meta.db.instants.history").collect()
      .map(r => r.getString(0) -> r.getTimestamp(1).getTime).toMap
    assert(history(middle) == mtime, history)

    // newest first, the first version committed at or before the
    // instant: the middle one by its mtime, not the oldest by its marker
    val asOf = spark.sql("SELECT count(*) FROM graft_meta.db.instants " +
      s"TIMESTAMP AS OF timestamp_millis($mtime)").head().getLong(0)
    assert(asOf == 20L)

    // older_than at the oldest version's commit: the middle version is
    // older by its mtime and expires, the oldest stays
    val cutoff = java.time.Instant.ofEpochMilli(oldestMs).toString
      .replace('T', ' ').stripSuffix("Z")
    val r = spark.sql("CALL graft_meta.system.expire_snapshots(" +
      s"'db.instants', 0, TIMESTAMP '$cutoff')").head()
    assert(r.getAs[Int]("expired_snapshots") == 1, r)
    assert(versionLog(dir).drop(1) == Seq(oldest))
    assert(!Files.exists(dir.resolve(middle)))
    spark.sql("DROP TABLE graft_meta.db.instants")
  }
}
