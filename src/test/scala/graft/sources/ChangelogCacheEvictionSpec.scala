package graft.sources

import java.nio.file.{Files, Paths}

import graft.GraftSuite
import org.apache.spark.sql.connector.read.streaming.ReadLimit

/** Driver-memory bounds of a LONG-RUNNING changelog stream
  * (ChangelogRead.scala): the per-version file-set and per-advance
  * unit-list caches exist so a rate-limited drain walks each version
  * once — but a stream that lives for months sees an unbounded parade
  * of versions, so `commit()` must evict what a committed offset can
  * never need again. Pins: (a) after each commit the unit-list cache
  * holds at most the in-flight advance; (b) file sets of versions
  * strictly older than the committed base are gone (a tailing stream's
  * caches stay O(in-flight chain), not O(versions ever seen));
  * (c) eviction never changes the rows a multi-trigger drain serves. */
class ChangelogCacheEvictionSpec extends GraftSuite {
  private val warehouse: String = registerCatalog("graft_cce")

  spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cce.db")

  test("commit() keeps the caches bounded while a tailing stream " +
      "drains commit after commit, without changing what it serves") {
    val s = spark
    import s.implicits._
    s.range(4).select($"id".as("k")).writeTo("graft_cce.db.t").create()
    val tableDir = Paths.get(warehouse, "db", "t")
    def log(): Seq[String] = new String(
      Files.readAllBytes(tableDir.resolve("_current")), "UTF-8")
      .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    val stream = new ChangelogMicroBatchStream(s, "t", tableDir,
      s.table("graft_cce.db.t").schema, () => log(),
      StreamReadOptions(Some(1), false, None, None))
    var off = stream.initialOffset().asInstanceOf[VersionOffset]
    var planned = 0
    // drive the admission loop by hand (one unit per trigger), exactly
    // the sequence the streaming engine runs: latestOffset → plan →
    // commit, until caught up
    def drain(): Unit = {
      var triggers = 0
      var advanced = true
      while (advanced) {
        val next = stream.latestOffset(off, ReadLimit.maxFiles(1))
          .asInstanceOf[VersionOffset]
        advanced = next != off
        if (advanced) {
          planned += stream.planInputPartitions(off, next).length
          stream.commit(next)
          val (nFileSets, nUnitLists) = stream.cacheSizes
          // at most the in-flight advance's unit list survives a commit
          assert(nUnitLists <= 1,
            s"unit-list cache grew past the in-flight advance: $nUnitLists")
          // file sets: only versions at-or-newer than the committed
          // base (the chain a future advance could still walk)
          val maxLive = log().indexOf(next.base) + 1
          assert(next.base.isEmpty || nFileSets <= math.max(maxLive, 1),
            s"file-set cache holds stale versions: $nFileSets > $maxLive")
          off = next
        }
        triggers += 1
        assert(triggers < 200, "drain failed to converge")
      }
    }
    drain() // the initial snapshot: 4 rows as inserts
    // now TAIL five append commits, draining (and committing) after
    // each — the shape whose caches previously grew one file set per
    // version ever seen, forever
    for (i <- 1 to 5) {
      s.range(i * 10L, i * 10L + 2).select($"id".as("k"))
        .writeTo("graft_cce.db.t").append()
      drain()
      val (fs, ul) = stream.cacheSizes
      // caught up + committed: base == upto == head, so nothing older
      // than the head survives — NOT i+1 entries
      assert(fs <= 1 && ul <= 1,
        s"caught-up caches must be ~empty after append $i: fs=$fs ul=$ul")
    }
    assert(off.base == off.upto && off.base == log().head,
      s"the tail must end caught up, got $off")
    assert(planned > 0, "the drain must have planned real partitions")
    // eviction changed no rows: the batch feed sees exactly the
    // RETAINED window's changes (2 rows per retained append commit —
    // retention may have expired the oldest snapshots under the stream)
    assert(s.table("graft_cce.db.t.changes").count() ==
      (log().size - 1L) * 2L)
  }
}
