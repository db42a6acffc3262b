package graft.sources

import java.nio.file.{Files, Paths, StandardOpenOption}

import graft.GraftSuite

/** The commit-lock safety contract of the footer-stats pass: a FAILING
  * footer read in the 65–1024-file driver-pool band degrades (the bad
  * file stays unskippable, every other file's stats land) instead of
  * failing — or worse, hanging — the commit. The pool's wait is bounded
  * (120 s, was Duration.Inf until r19) so a wedged filesystem read
  * surfaces as a TimeoutException into the caller's best-effort catch
  * rather than holding the table's commit lock forever; the timeout
  * itself is not simulated here (no injection seam into Hadoop I/O),
  * but the degrade path it shares with read failures is.
  */
class FileStatsDegradeSpec extends GraftSuite {
  test("pool-band footer pass: one corrupt file degrades to unskippable, " +
      "record() completes and covers the rest") {
    val tableDir = tmpDir("graft_fs_degrade")
    val versionDir = tableDir.resolve("v-test")
    // 80 files lands squarely in the 65..1024 driver-pool band: a
    // partitioned write yields exactly one file per k directory
    import spark.implicits._
    (0 until 80).map(k => (k, s"v$k")).toDF("k", "s")
      .write.partitionBy("k").parquet(versionDir.toString)
    val walk = Files.walk(versionDir)
    val dataFiles =
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.filter(p =>
          p.getFileName.toString.endsWith(".parquet") &&
            Files.isRegularFile(p)).toVector
      } finally walk.close()
    assert(dataFiles.size >= 65, s"need the pool band, got ${dataFiles.size}")
    // corrupt one file: overwrite it with garbage shorter than a footer
    val victim = dataFiles.head
    Files.write(victim, "not a parquet file".getBytes("UTF-8"),
      StandardOpenOption.TRUNCATE_EXISTING)
    // must return (not throw, not hang): per-file failures degrade
    FileStats.record(tableDir, versionDir)
    val store = tableDir.resolve("_filestats")
    assert(Files.exists(store), "the stats store must land for the good files")
    val covered = FileStats.coveredKeys(tableDir)
    val victimRel = versionDir.relativize(victim).toString
    assert(!covered.contains(victimRel),
      "the corrupt file must stay uncovered (unskippable)")
    assert(dataFiles.map(p => versionDir.relativize(p).toString)
      .count(covered.contains) >= dataFiles.size - 1,
      "every healthy file's stats must land despite the corrupt sibling")
  }
}
