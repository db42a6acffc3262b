package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The `.changes` metadata table (ChangelogRead.scala): the row-level
  * change feed as a batch relation AND a streaming source. Pins:
  * batch `.changes` equals `tableChanges` row-for-row over the same
  * window; the STREAM drains the same typed rows (snapshot-as-inserts
  * first) under per-unit admission control and across a
  * checkpoint-resume; a MoR merge commit serves its delete half from
  * the entry's narrowed scope; a COW rewrite commit fails pointedly;
  * unsupported options refuse pointedly. */
class ChangelogStreamSpec extends GraftSuite {
  private val warehouse: String = registerCatalog("graft_chg")

  spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_chg.db")

  private def typedRows(df: DataFrame): Seq[(String, Long, String)] =
    df.select(col("_change_type"), col("k"), col("tag"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .toSeq.sorted

  /** Drain a changelog stream (availableNow semantics via
    * processAllAvailable) into an accumulator, optionally rate-limited
    * to force multi-batch admission. */
  private def drain(table: String, ckpt: String,
      maxFiles: Option[Int] = None): Seq[Row] = {
    val acc = scala.collection.mutable.ArrayBuffer.empty[Row]
    var reader = spark.readStream
    maxFiles.foreach(m => reader =
      reader.option("maxFilesPerTrigger", m.toString))
    val q = reader.table(table)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        acc.synchronized { acc ++= batch.collect() }
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    acc.toSeq
  }

  test("batch .changes equals tableChanges over the retained window; " +
      "a MoR merge serves typed inserts AND deletes") {
    val s = spark
    import s.implicits._
    s.range(100).select($"id".as("k"), concat(lit("t"), $"id" % 5).as("tag"))
      .repartition(2).writeTo("graft_chg.db.c1")
      .tableProperty("write.merge.mode", "merge-on-read")
      .create()
    s.sql("ALTER TABLE graft_chg.db.c1 ADD CONSTRAINT c1_pk " +
      "PRIMARY KEY (k) NOT ENFORCED")
    // commit 2: plain append
    s.range(100, 120).select($"id".as("k"), lit("new").as("tag"))
      .repartition(1).writeTo("graft_chg.db.c1").append()
    // commit 3: MoR merge — 5 updates (delete+reinsert) + 3 inserts
    s.range(8).select(($"id" * 10).as("k"), lit("upd").as("tag"))
      .union(s.range(3).select(($"id" + 200).as("k"), lit("ins").as("tag")))
      .distinct().createOrReplaceTempView("c1_src")
    s.sql("""MERGE INTO graft_chg.db.c1 t USING c1_src s ON t.k = s.k
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(s.table("graft_chg.db.c1.deletes").count() >= 1L,
      "the merge must land as a live equality entry")
    val batchChanges = s.table("graft_chg.db.c1.changes")
    val viaApi = graft.sources.AtomicParquetCatalog
      .tableChanges(s, "graft_chg.db.c1", fromCommitsBack = 2)
    assert(typedRows(batchChanges) == typedRows(viaApi),
      "batch .changes must match tableChanges row-for-row")
    // _commit_timestamp is constant per commit and ordered: the append
    // commit's inserts carry a strictly earlier instant than the
    // merge's rows (commits serialize under the table lock)
    val tsByVersion = batchChanges
      .select(col("_commit_version"), col("_commit_timestamp"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime)).toMap
    assert(tsByVersion.size == 2,
      s"one instant per commit, got $tsByVersion")
    // the merge's delete half: the 8 matched keys re-read as deletes
    val dels = batchChanges.where($"_change_type" === "delete")
      .select($"k").as[Long].collect().sorted.toSeq
    assert(dels == (0L until 8L).map(_ * 10),
      s"merge deletes mismatch: $dels")
  }

  test("the stream drains snapshot-as-inserts, then the typed feed " +
      "commit by commit, rate-limited and across checkpoint resumes") {
    val s = spark
    import s.implicits._
    s.range(100).select($"id".as("k"), concat(lit("t"), $"id" % 5).as("tag"))
      .repartition(2).writeTo("graft_chg.db.c2")
      .tableProperty("write.merge.mode", "merge-on-read")
      .create()
    s.sql("ALTER TABLE graft_chg.db.c2 ADD CONSTRAINT c2_pk " +
      "PRIMARY KEY (k) NOT ENFORCED")
    val ckpt = tmpDir("graft_chg_ckpt").toString
    // drain 1: the stream starts BEFORE any change — the current
    // snapshot serves as inserts (Delta CDF's initial-snapshot rule)
    val first = drain("graft_chg.db.c2.changes", ckpt)
    val firstTyped = first.map(r =>
      (r.getString(2), r.getLong(0), r.getString(1))).sorted
    assert(firstTyped == (0L until 100L).map(k =>
      ("insert", k, s"t${k % 5}")).sorted,
      s"snapshot drain mismatch (${firstTyped.size} rows)")
    // two commits while the stream is DOWN: an append + a MoR merge
    s.range(100, 120).select($"id".as("k"), lit("new").as("tag"))
      .repartition(1).writeTo("graft_chg.db.c2").append()
    s.range(8).select(($"id" * 10).as("k"), lit("upd").as("tag"))
      .union(s.range(3).select(($"id" + 200).as("k"), lit("ins").as("tag")))
      .distinct().createOrReplaceTempView("c2_src")
    s.sql("""MERGE INTO graft_chg.db.c2 t USING c2_src s ON t.k = s.k
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(s.table("graft_chg.db.c2.deletes").count() >= 1L)
    // drain 2, rate-limited to one unit per micro-batch: the resumed
    // stream serves exactly the two commits' TYPED rows — the merge's
    // delete half carries the ORIGINAL rows, its insert half the new
    val before = {
      val ls = Files.list(java.nio.file.Paths.get(ckpt, "offsets"))
      try ls.count() finally ls.close()
    }
    val second = drain("graft_chg.db.c2.changes", ckpt, maxFiles = Some(1))
    val secondTyped = second.map(r =>
      (r.getString(2), r.getLong(0), r.getString(1))).sorted
    val expect = ((100L until 120L).map(k => ("insert", k, "new")) ++
      (0L until 8L).map(k => ("insert", k * 10, "upd")) ++
      (200L until 203L).map(k => ("insert", k, "ins")) ++
      (0L until 8L).map(k => ("delete", k * 10, s"t${(k * 10) % 5}"))).sorted
    assert(secondTyped == expect,
      s"typed feed mismatch (${secondTyped.size} rows): $secondTyped")
    // the rate limit actually split the advance into multiple batches
    val after = {
      val ls = Files.list(java.nio.file.Paths.get(ckpt, "offsets"))
      try ls.count() finally ls.close()
    }
    assert(after - before >= 3,
      s"expected multi-batch admission, got ${after - before} batches")
    // drain 3: a commit while down again — exactly it, nothing replays
    s.range(300, 305).select($"id".as("k"), lit("late").as("tag"))
      .repartition(1).writeTo("graft_chg.db.c2").append()
    val third = drain("graft_chg.db.c2.changes", ckpt)
    val thirdTyped = third.map(r =>
      (r.getString(2), r.getLong(0), r.getString(1))).sorted
    assert(thirdTyped == (300L until 305L).map(k =>
      ("insert", k, "late")).sorted,
      s"resume must serve only the new commit, got $thirdTyped")
  }

  test("batch window options: startingVersion/endingVersion bound the " +
      "served commits (Delta's batch-CDF surface)") {
    val s = spark
    import s.implicits._
    // c2's log, newest first: late-append(0), merge(1), append(2),
    // create(3) — the window [1,1] is exactly the merge commit
    val windowed = s.read
      .option("startingVersion", "1").option("endingVersion", "1")
      .table("graft_chg.db.c2.changes")
    val byType = windowed.groupBy($"_change_type").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(byType == Map("insert" -> 11L, "delete" -> 8L),
      s"the [merge,merge] window must serve 8 upd-deletes + 8 " +
        s"reinserts + 3 inserts, got $byType")
    // FROM the merge onward (no cap): the late append rides too
    val open = s.read.option("startingVersion", "1")
      .table("graft_chg.db.c2.changes")
    assert(open.count() == 19L + 5L, s"got ${open.count()}")
    // an inverted window fails pointedly, not silently-empty
    val e = intercept[Exception] {
      s.read.option("startingVersion", "0").option("endingVersion", "2")
        .table("graft_chg.db.c2.changes").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("precedes")), msgs(e))
  }

  test("metadata-only spec evolution is TRANSPARENT to the stream: a " +
      "pure relocation is no row-level change") {
    val s = spark
    import s.implicits._
    s.range(10).select($"id".as("k"), lit("a").as("tag"))
      .repartition(2).writeTo("graft_chg.db.c4").create()
    val ckpt = tmpDir("graft_chg_ev_ck").toString
    assert(drain("graft_chg.db.c4.changes", ckpt).size == 10)
    // the evolving commit hard-links every root file under _spec-0/
    // (zero rewrite) — the stream must neither die nor re-emit
    s.sql("CALL graft_chg.system.evolve_layout('db.c4', 'bucket(2,k)')")
    s.range(100, 103).select($"id".as("k"), lit("b").as("tag"))
      .repartition(1).writeTo("graft_chg.db.c4").append()
    val resumed = drain("graft_chg.db.c4.changes", ckpt)
    assert(resumed.map(r => (r.getString(2), r.getLong(0))).sorted ==
      (100L until 103L).map(k => ("insert", k)),
      s"evolution must contribute nothing, got $resumed")
    // the batch window agrees: only the 3 appended rows are changes
    assert(s.table("graft_chg.db.c4.changes").count() == 3L)
  }

  test("a branch ref tails the BRANCH's feed (the audit half of WAP, " +
      "streaming form); other metadata tables refuse branch refs") {
    val s = spark
    import s.implicits._
    s.range(10).select($"id".as("k"), lit("m").as("tag"))
      .writeTo("graft_chg.db.c3").create()
    s.sql("CALL graft_chg.system.create_branch('db.c3', 'audit')")
    s.range(100, 103).select($"id".as("k"), lit("b").as("tag"))
      .writeTo("graft_chg.db.`c3@audit`").append()
    val ckpt = tmpDir("graft_chg_br_ck").toString
    val first = drain("graft_chg.db.`c3@audit`.changes", ckpt)
    // the branch head's snapshot (10 main-forked + 3 branch-only rows)
    assert(first.size == 13, s"branch snapshot drain got ${first.size}")
    // a branch-only commit while down: only the branch feed serves it
    s.range(200, 202).select($"id".as("k"), lit("b2").as("tag"))
      .writeTo("graft_chg.db.`c3@audit`").append()
    val second = drain("graft_chg.db.`c3@audit`.changes", ckpt)
    assert(second.map(r => (r.getString(2), r.getLong(0))).sorted ==
      Seq(("insert", 200L), ("insert", 201L)),
      s"branch resume mismatch: $second")
    // batch form agrees; MAIN's feed never saw the branch commits
    assert(s.table("graft_chg.db.`c3@audit`.changes").count() == 5L)
    assert(s.table("graft_chg.db.c3.changes").count() == 0L,
      "main's feed must not see branch-only commits")
    // the branch-ref shorthand stays changes-only: t@branch.history
    // must not resolve (silently serving main's data mislabeled)
    val e = intercept[Exception] {
      s.table("graft_chg.db.`c3@audit`.history").collect()
    }
    assert(e.getMessage.toUpperCase.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      e.getMessage.contains("not found"), e.getMessage)
  }

  test("schema evolution inside the window: pre-evolution commits " +
      "null-fill the evolved column (latest-schema projection)") {
    val s = spark
    import s.implicits._
    s.range(5).select($"id".as("k"), lit("a").as("tag"))
      .writeTo("graft_chg.db.c5").create()
    val ckpt = tmpDir("graft_chg_se_ck").toString
    assert(drain("graft_chg.db.c5.changes", ckpt).size == 5)
    // two commits while down: a pre-evolution append, then ALTER ADD
    // COLUMN + a post-evolution append — one resume spans both shapes
    s.range(10, 12).select($"id".as("k"), lit("b").as("tag"))
      .writeTo("graft_chg.db.c5").append()
    s.sql("ALTER TABLE graft_chg.db.c5 ADD COLUMN note STRING")
    Seq((20L, "c", "noted")).toDF("k", "tag", "note")
      .writeTo("graft_chg.db.c5").append()
    val rows = drain("graft_chg.db.c5.changes", ckpt)
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)).getOrElse("NULL"))).sorted
    assert(rows == Seq((10L, "b", "NULL"), (11L, "b", "NULL"),
      (20L, "c", "noted")),
      s"latest-schema projection mismatch: $rows")
  }

  test("an identity-partitioned source serves through the feed: the " +
      "partition column rides from the directory paths") {
    val s = spark
    import s.implicits._
    s.range(40).select($"id".as("k"), ($"id" % 4).cast("int").as("p"),
        concat(lit("u"), $"id").as("tag"))
      .writeTo("graft_chg.db.c7")
      .tableProperty("write.merge.mode", "merge-on-read")
      .partitionedBy($"p").create()
    s.sql("ALTER TABLE graft_chg.db.c7 ADD CONSTRAINT c7_pk " +
      "PRIMARY KEY (k) NOT ENFORCED")
    val ckpt = tmpDir("graft_chg_pt_ck").toString
    val snap = drain("graft_chg.db.c7.changes", ckpt)
    assert(snap.size == 40 &&
      snap.forall(r => r.getInt(1) == (r.getLong(0) % 4).toInt),
      "snapshot rows must carry the partition column from the paths")
    // a scattered merge: updates in two partitions + one insert
    Seq((0L, 0, "upd"), (5L, 1, "upd"), (100L, 2, "new"))
      .toDF("k", "p", "tag").createOrReplaceTempView("c7_src")
    s.sql("""MERGE INTO graft_chg.db.c7 t USING c7_src s ON t.k = s.k
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val typed = drain("graft_chg.db.c7.changes", ckpt)
      .map(r => (r.getString(3), r.getLong(0), r.getInt(1),
        r.getString(2))).sorted
    assert(typed == Seq(
      ("delete", 0L, 0, "u0"), ("delete", 5L, 1, "u5"),
      ("insert", 0L, 0, "upd"), ("insert", 5L, 1, "upd"),
      ("insert", 100L, 2, "new")).sorted,
      s"partitioned typed feed mismatch: $typed")
  }

  test("an expired window fails the resume pointedly (retention)") {
    val s = spark
    import s.implicits._
    // a dedicated short-retention catalog (history is read at catalog
    // init, not per query)
    registerCatalog("graft_chr")
    s.conf.set("spark.sql.catalog.graft_chr.history", "2")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_chr.db")
    s.range(3).select($"id".as("k")).writeTo("graft_chr.db.c6").create()
    val ckpt = tmpDir("graft_chg_rt_ck").toString
    assert(drain("graft_chr.db.c6.changes", ckpt).size == 3)
    // three commits at history=2: the checkpointed base expires
    for (i <- 1 to 3)
      s.range(10L * i, 10L * i + 1).select($"id".as("k"))
        .writeTo("graft_chr.db.c6").append()
    val e = intercept[Exception] { drain("graft_chr.db.c6.changes", ckpt) }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("retention") ||
      m.contains("retained")), s"want the pointed expiry error: ${msgs(e)}")
  }

  test("content-preserving maintenance is transparent to the feed: a " +
      "compaction and a delete materialization serve ZERO changes and " +
      "the stream survives them") {
    val s = spark
    import s.implicits._
    // a deeper-history catalog: the resume below spans FOUR commits
    // past the checkpointed base (merge, rewrite_deletes, compact,
    // append), which the default history=3 window would expire
    registerCatalog("graft_chm")
    s.conf.set("spark.sql.catalog.graft_chm.history", "10")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_chm.db")
    s.range(50).select($"id".as("k"), concat(lit("v"), $"id" % 3).as("tag"))
      .repartition(4).writeTo("graft_chm.db.c8")
      .tableProperty("write.merge.mode", "merge-on-read")
      .create()
    s.sql("ALTER TABLE graft_chm.db.c8 ADD CONSTRAINT c8_pk " +
      "PRIMARY KEY (k) NOT ENFORCED")
    val ckpt = tmpDir("graft_chg_mt_ck").toString
    assert(drain("graft_chm.db.c8.changes", ckpt).size == 50)
    // a MoR merge (live entry), then rewrite_deletes MATERIALIZES it,
    // then compact rewrites every file — both content-preserving —
    // then a real append; all four commits land while the stream is
    // down, so ONE resume must span them all
    Seq((0L, "upd"), (7L, "upd")).toDF("k", "tag")
      .createOrReplaceTempView("c8_src")
    s.sql("""MERGE INTO graft_chm.db.c8 t USING c8_src s ON t.k = s.k
            |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    assert(s.table("graft_chm.db.c8.deletes").count() >= 1L)
    s.sql("CALL graft_chm.system.rewrite_deletes('db.c8')")
    assert(s.table("graft_chm.db.c8.deletes").count() == 0L,
      "rewrite_deletes must clear the sidecar")
    s.sql("CALL graft_chm.system.compact('db.c8', 1)")
    s.range(500, 503).select($"id".as("k"), lit("new").as("tag"))
      .repartition(1).writeTo("graft_chm.db.c8").append()
    val resumed = drain("graft_chm.db.c8.changes", ckpt)
      .map(r => (r.getString(2), r.getLong(0), r.getString(1))).sorted
    assert(resumed == (Seq(("delete", 0L, "v0"), ("delete", 7L, "v1"),
      ("insert", 0L, "upd"), ("insert", 7L, "upd")) ++
      (500L until 503L).map(k => ("insert", k, "new"))).sorted,
      s"maintenance must contribute zero changes: $resumed")
    // the batch window agrees: the merge commit (4) + append (3) only.
    // the default window's base is the oldest RETAINED version — keep
    // it anchored before the merge regardless of the catalog's
    // retention depth by windowing explicitly from the merge commit
    val win = s.read.option("startingVersion", "3")
      .table("graft_chm.db.c8.changes")
    assert(win.count() == 7L, s"got ${win.count()}")
  }

  test("window bounds refuse pointedly: an inverted window that " +
      "resolves base == upto, a bound on the oldest retained snapshot, " +
      "and endingVersion on a stream") {
    val s = spark
    import s.implicits._
    s.range(5).select($"id".as("k")).writeTo("graft_chg.db.c9").create()
    s.range(5, 8).select($"id".as("k")).writeTo("graft_chg.db.c9").append()
    s.range(8, 9).select($"id".as("k")).writeTo("graft_chg.db.c9").append()
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    // (startingVersion=head, endingVersion=1) previously resolved
    // base == upto and returned silently empty
    val e1 = intercept[Exception] {
      s.read.option("startingVersion", "0").option("endingVersion", "1")
        .table("graft_chg.db.c9.changes").collect()
    }
    assert(msgs(e1).exists(_.contains("precedes")), msgs(e1))
    // the oldest retained snapshot's own changes are underivable —
    // starting or ending there must refuse, not silently demote
    val e2 = intercept[Exception] {
      s.read.option("startingVersion", "2")
        .table("graft_chg.db.c9.changes").collect()
    }
    assert(msgs(e2).exists(_.contains("OLDEST")), msgs(e2))
    val e3 = intercept[Exception] {
      s.read.option("endingVersion", "2")
        .table("graft_chg.db.c9.changes").collect()
    }
    assert(msgs(e3).exists(_.contains("OLDEST")), msgs(e3))
    val e4 = intercept[Exception] {
      val q = s.readStream.option("startingVersion", "2")
        .table("graft_chg.db.c9.changes")
        .writeStream.format("noop")
        .option("checkpointLocation",
          tmpDir("graft_chg_old_ck").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(msgs(e4).exists(_.contains("OLDEST")), msgs(e4))
    // a stream has no end: endingVersion refuses instead of being
    // silently ignored (an unbounded read against a stated cap)
    val e5 = intercept[Exception] {
      val q = s.readStream.option("endingVersion", "1")
        .table("graft_chg.db.c9.changes")
        .writeStream.format("noop")
        .option("checkpointLocation",
          tmpDir("graft_chg_ev_ck2").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(msgs(e5).exists(_.contains("batch-window")), msgs(e5))
    // endingTimestamp refuses on a stream for the same reason — before
    // the refusal it was silently IGNORED (an unbounded read against
    // the caller's stated end bound)
    val e6 = intercept[Exception] {
      val q = s.readStream.option("endingTimestamp", "2099-01-01")
        .table("graft_chg.db.c9.changes")
        .writeStream.format("noop")
        .option("checkpointLocation",
          tmpDir("graft_chg_et_ck").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(msgs(e6).exists(m => m.contains("endingTimestamp") &&
      m.contains("batch-window")), msgs(e6))
  }

  test("timestamp windows resolve against the strictly-monotonic " +
      "commit instants: batch starting/endingTimestamp, the stream's " +
      "startingTimestamp, and pointed out-of-window refusals") {
    val s = spark
    import s.implicits._
    s.range(5).select($"id".as("k"), lit("base").as("tag"))
      .writeTo("graft_chg.db.c10").create()
    s.range(10, 12).select($"id".as("k"), lit("a1").as("tag"))
      .writeTo("graft_chg.db.c10").append()
    s.range(20, 21).select($"id".as("k"), lit("a2").as("tag"))
      .writeTo("graft_chg.db.c10").append()
    // learn the two append commits' instants from the feed itself
    val tsByTag = s.table("graft_chg.db.c10.changes")
      .select($"tag", $"_commit_timestamp").distinct().collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime)).toMap
    val (tsA1, tsA2) = (tsByTag("a1"), tsByTag("a2"))
    assert(tsA1 < tsA2, "commit instants must be strictly monotonic")
    // FROM a2's instant inclusive: exactly a2's row
    val from2 = s.read.option("startingTimestamp", tsA2.toString)
      .table("graft_chg.db.c10.changes")
    assert(from2.select($"k").as[Long].collect().toSeq == Seq(20L))
    // FROM a1's instant: both appends
    assert(s.read.option("startingTimestamp", tsA1.toString)
      .table("graft_chg.db.c10.changes").count() == 3L)
    // THROUGH a1's instant inclusive: exactly a1's rows
    val thru1 = s.read.option("endingTimestamp", tsA1.toString)
      .table("graft_chg.db.c10.changes")
    assert(thru1.select($"k").as[Long].collect().sorted.toSeq ==
      Seq(10L, 11L))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    // a starting instant after the newest commit: a batch window would
    // serve nothing — refuse pointedly
    val e1 = intercept[Exception] {
      s.read.option("startingTimestamp", (tsA2 + 3600000L).toString)
        .table("graft_chg.db.c10.changes").collect()
    }
    assert(msgs(e1).exists(_.contains("NEWEST")), msgs(e1))
    // an ending instant before every append resolves to the oldest
    // retained snapshot, whose changes are underivable
    val e2 = intercept[Exception] {
      s.read.option("endingTimestamp", (tsA1 - 1L).toString)
        .table("graft_chg.db.c10.changes").collect()
    }
    assert(msgs(e2).exists(_.contains("OLDEST")), msgs(e2))
    // the date-string form parses as UTC and resolves like any instant
    val e3 = intercept[Exception] {
      s.read.option("startingTimestamp", "1970-01-02")
        .table("graft_chg.db.c10.changes").collect()
    }
    assert(msgs(e3).exists(_.contains("OLDEST")), msgs(e3))
    // the STREAM from a2's instant: exactly a2's row, then it tails
    val ck1 = tmpDir("graft_chg_ts_ck1").toString
    val rows = {
      val acc = scala.collection.mutable.ArrayBuffer.empty[Row]
      val q = s.readStream.option("startingTimestamp", tsA2.toString)
        .table("graft_chg.db.c10.changes")
        .writeStream.option("checkpointLocation", ck1)
        .foreachBatch { (b: DataFrame, _: Long) =>
          acc.synchronized { acc ++= b.collect() }; ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      acc.toSeq
    }
    assert(rows.map(_.getLong(0)).sorted == Seq(20L),
      s"stream from a2's instant must serve exactly a2: $rows")
    // a FUTURE instant tails from now: nothing at start, the next
    // commit serves (the stream reading of 'at or after ts')
    val ck2 = tmpDir("graft_chg_ts_ck2").toString
    def drainTs(): Seq[Row] = {
      val acc = scala.collection.mutable.ArrayBuffer.empty[Row]
      val q = s.readStream
        .option("startingTimestamp", (tsA2 + 3600000L).toString)
        .table("graft_chg.db.c10.changes")
        .writeStream.option("checkpointLocation", ck2)
        .foreachBatch { (b: DataFrame, _: Long) =>
          acc.synchronized { acc ++= b.collect() }; ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      acc.toSeq
    }
    assert(drainTs().isEmpty, "a future instant must serve nothing yet")
    s.range(30, 32).select($"id".as("k"), lit("a3").as("tag"))
      .writeTo("graft_chg.db.c10").append()
    assert(drainTs().map(_.getLong(0)).sorted == Seq(30L, 31L))
  }

  test("typed updates (write.cdf.typed-updates): a pure-update merge " +
      "serves update_preimage/update_postimage through the layout " +
      "router; a mixed merge with a DELETE arm SPLITS per entry — " +
      "the update stays typed, the delete stays a delete") {
    val s = spark
    import s.implicits._
    // identity-partitioned: reinserted rows land through the layout
    // router, so the commit must keep them apart from fresh inserts
    // with two churn-sized writes to know the postimage files
    s.range(20).select($"id".as("k"), ($"id" % 2).cast("int").as("p"),
        concat(lit("v"), $"id").as("tag"))
      .writeTo("graft_chg.db.c11")
      .tableProperty("write.merge.mode", "merge-on-read")
      .tableProperty("write.cdf.typed-updates", "true")
      .partitionedBy($"p").create()
    s.sql("ALTER TABLE graft_chg.db.c11 ADD CONSTRAINT c11_pk " +
      "PRIMARY KEY (k) NOT ENFORCED")
    val ckpt = tmpDir("graft_chg_tu_ck").toString
    assert(drain("graft_chg.db.c11.changes", ckpt).size == 20)
    // pure-update MERGE carrying BOTH kinds: 2 updates + 2 inserts
    Seq((0L, 0, "u0"), (3L, 1, "u3"), (100L, 0, "new"), (101L, 1, "new"))
      .toDF("k", "p", "tag").createOrReplaceTempView("c11_src")
    s.sql("""MERGE INTO graft_chg.db.c11 t USING c11_src s ON t.k = s.k
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val typed = drain("graft_chg.db.c11.changes", ckpt)
      .map(r => (r.getString(3), r.getLong(0), r.getString(2))).sorted
    assert(typed == Seq(
      ("insert", 100L, "new"), ("insert", 101L, "new"),
      ("update_postimage", 0L, "u0"), ("update_postimage", 3L, "u3"),
      ("update_preimage", 0L, "v0"), ("update_preimage", 3L, "v3")).sorted,
      s"typed feed mismatch: $typed")
    // the batch window agrees with the stream
    val batchTyped = s.read.option("startingVersion", "0")
      .table("graft_chg.db.c11.changes")
      .collect().map(r => (r.getString(3), r.getLong(0), r.getString(2)))
      .toSeq.sorted
    assert(batchTyped == typed, s"batch/stream divergence: $batchTyped")
    // a MIXED merge (one matched row took the DELETE arm, one the
    // UPDATE arm): the commit SPLITS its equality entry — the id
    // reinserted pairs into a typed update half, the id that took the
    // DELETE arm into an untyped delete half — so one DELETE arm no
    // longer degrades the whole commit's typing (Delta CDF types per
    // row; before the split, consumers were back to re-pairing by key)
    Seq((5L, 1, "kill"), (6L, 0, "u6")).toDF("k", "p", "tag")
      .createOrReplaceTempView("c11_src2")
    s.sql("""MERGE INTO graft_chg.db.c11 t USING c11_src2 s ON t.k = s.k
            |WHEN MATCHED AND s.tag = 'kill' THEN DELETE
            |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    val mixed = drain("graft_chg.db.c11.changes", ckpt)
      .map(r => (r.getString(3), r.getLong(0), r.getString(2))).sorted
    assert(mixed == Seq(("delete", 5L, "v5"),
      ("update_preimage", 6L, "v6"),
      ("update_postimage", 6L, "u6")).sorted,
      s"a mixed merge must type per entry: $mixed")
    // the split's matched counts stay exact per half: COUNT(*) keeps
    // its zero-scan metadata answer across the mixed commit
    val dels = s.table("graft_chg.db.c11.deletes").collect()
    assert(dels.length >= 3 && dels.forall(r => !r.isNullAt(3)),
      s"both halves must persist matched counts: ${dels.toSeq}")
    // the SQL surface agrees: tableChanges (and so the changelog VIEW)
    // serves the same four-way typing over the marked commit and the
    // same delete/insert fallback over the mixed one
    val viaApi = graft.sources.AtomicParquetCatalog
      .tableChanges(s, "graft_chg.db.c11", fromCommitsBack = 2)
      .collect().map(r => (r.getString(3), r.getLong(0), r.getString(2)))
      .toSeq.sorted
    assert(viaApi == (typed ++ mixed).sorted,
      s"tableChanges typing diverged from the stream: $viaApi")
  }

  test("mark_content_preserving backfills a PRE-r17 maintenance " +
      "commit: the stream dies pointedly on the untagged compaction, " +
      "the CALL validates then tags, and the SAME checkpoint drains " +
      "on — no reset, no re-snapshot; tagging a genuine data commit " +
      "refuses") {
    val s = spark
    import s.implicits._
    s.range(10).select($"id".as("k"), lit("a").as("tag"))
      .repartition(3).writeTo("graft_chg.db.c15").create()
    val ckpt = tmpDir("graft_chg_bf_ck").toString
    assert(drain("graft_chg.db.c15.changes", ckpt).size == 10)
    s.range(10, 14).select($"id".as("k"), lit("b").as("tag"))
      .writeTo("graft_chg.db.c15").append()
    assert(drain("graft_chg.db.c15.changes", ckpt).size == 4)
    // a compaction, then SIMULATE a pre-r17 build by deleting the
    // marker its commit wrote
    s.sql("CALL graft_chg.system.compact('db.c15', 1)")
    val tdir = java.nio.file.Paths.get(
      s.conf.get("spark.sql.catalog.graft_chg.warehouse"), "db", "c15")
    val compacted = new String(
      Files.readAllBytes(tdir.resolve("_current")), "UTF-8")
      .split("\n").head.trim
    val marker = tdir.resolve(compacted)
      .resolve(graft.sources.AtomicParquetCatalog.ContentPreservingMarker)
    assert(Files.deleteIfExists(marker), "the compaction must have " +
      "written the marker for the simulation to remove")
    s.range(20, 23).select($"id".as("k"), lit("c").as("tag"))
      .writeTo("graft_chg.db.c15").append()
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    // the untagged compaction kills the stream with the pointed error
    val e1 = intercept[Exception] {
      drain("graft_chg.db.c15.changes", ckpt)
    }
    assert(msgs(e1).exists(_.contains("removed")), msgs(e1))
    // the repair refuses a version that is NOT content-preserving
    // (the append commit added live rows)
    val e2 = intercept[Exception] {
      s.sql("CALL graft_chg.system.mark_content_preserving(" +
        "'db.c15', '0')").collect()
    }
    assert(msgs(e2).exists(_.contains("NOT content-preserving")), msgs(e2))
    // the compaction validates (live rows identical) and tags
    val marked = s.sql("CALL graft_chg.system.mark_content_preserving(" +
      s"'db.c15', '$compacted')").collect()
    assert(marked.head.getString(0) == compacted &&
      !marked.head.getBoolean(1), s"unexpected ${marked.toSeq}")
    assert(Files.exists(marker), "the CALL must write the marker")
    // idempotent: a second CALL reports already_marked
    assert(s.sql("CALL graft_chg.system.mark_content_preserving(" +
      s"'db.c15', '$compacted')").collect().head.getBoolean(1))
    // the SAME checkpoint drains on: zero rows for the compaction,
    // the post-compaction append's rows arrive
    val resumed = drain("graft_chg.db.c15.changes", ckpt)
    assert(resumed.map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("k"))).sorted ==
      Seq(("insert", 20L), ("insert", 21L), ("insert", 22L)),
      s"resume after backfill mismatch: ${resumed.size}")
  }

  test("maxBytesPerTrigger admits changelog units by cumulative " +
      "serving-file size: a 1-byte budget forces one unit per batch " +
      "and the drained rows are identical") {
    val s = spark
    import s.implicits._
    s.range(30).select($"id".as("k"), lit("a").as("tag"))
      .repartition(3).writeTo("graft_chg.db.c12").create()
    val ckpt = tmpDir("graft_chg_mb_ck").toString
    val before = {
      val acc = scala.collection.mutable.ArrayBuffer.empty[Row]
      val q = s.readStream.option("maxBytesPerTrigger", "1")
        .table("graft_chg.db.c12.changes")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          acc.synchronized { acc ++= b.collect() }; ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      acc.toSeq
    }
    assert(before.map(_.getLong(0)).sorted == (0L until 30L),
      s"byte-budget drain must serve every row once: ${before.size}")
    // 3 snapshot files under a 1-byte budget = at least 3 micro-batches
    val batches = {
      val ls = Files.list(java.nio.file.Paths.get(ckpt, "offsets"))
      try ls.count() finally ls.close()
    }
    assert(batches >= 3, s"expected per-unit admission, got $batches")
  }

  test("a typed-updates consumer needs NO per-key dedup dance: " +
      "delete preimages, upsert postimages and inserts — the replica " +
      "converges across rate-limited batch splits") {
    val s = spark
    import s.implicits._
    s.range(30).select($"id".as("k"), concat(lit("v"), $"id").as("tag"))
      .writeTo("graft_chg.db.c13")
      .tableProperty("write.merge.mode", "merge-on-read")
      .tableProperty("write.cdf.typed-updates", "true")
      .create()
    s.sql("ALTER TABLE graft_chg.db.c13 ADD CONSTRAINT c13_pk " +
      "PRIMARY KEY (k) NOT ENFORCED")
    s.range(0).select($"id".as("k"), lit("").as("tag"))
      .writeTo("graft_chg.db.c13_rep").create()
    val ckpt = tmpDir("graft_chg_tr_ck").toString
    def apply(): Unit = {
      // Delta CDF's TYPED recipe: preimages are informational — drop
      // them; deletes DELETE; postimages and inserts UPSERT. No
      // row_number window, no commit-ordering tiebreak.
      val q = s.readStream.option("maxFilesPerTrigger", "1")
        .table("graft_chg.db.c13.changes")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.where(col("_change_type") =!= "update_preimage")
            .createOrReplaceTempView("c13_batch")
          b.sparkSession.sql(
            """MERGE INTO graft_chg.db.c13_rep t USING c13_batch s
              |ON t.k = s.k
              |WHEN MATCHED AND s._change_type = 'delete' THEN DELETE
              |WHEN MATCHED THEN UPDATE SET tag = s.tag
              |WHEN NOT MATCHED AND s._change_type <> 'delete' THEN
              |  INSERT (k, tag) VALUES (s.k, s.tag)""".stripMargin)
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    apply() // snapshot
    // a pure-update merge + a fresh insert, then a plain delete-arm
    // merge, each applied through rate-limited (split) batches
    Seq((3L, "upd3"), (7L, "upd7"), (100L, "new")).toDF("k", "tag")
      .createOrReplaceTempView("c13_src")
    s.sql("""MERGE INTO graft_chg.db.c13 t USING c13_src s ON t.k = s.k
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    apply()
    Seq((5L, "kill")).toDF("k", "tag").createOrReplaceTempView("c13_src2")
    s.sql("""MERGE INTO graft_chg.db.c13 t USING c13_src2 s ON t.k = s.k
            |WHEN MATCHED THEN DELETE""".stripMargin)
    apply()
    val src = s.table("graft_chg.db.c13").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    val rep = s.table("graft_chg.db.c13_rep").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(rep == src, s"replica diverged: ${rep.size} vs ${src.size}")
  }

  test("typed updates on a POSITIONAL row-id table (no PK): the " +
      "positional entry marks as preimage, the reinsert files as " +
      "postimage") {
    val s = spark
    import s.implicits._
    s.range(20).select($"id".as("k"), concat(lit("v"), $"id").as("tag"))
      .writeTo("graft_chg.db.c14")
      .tableProperty("write.merge.mode", "merge-on-read")
      .tableProperty("write.cdf.typed-updates", "true")
      .create()
    // no PRIMARY KEY: the row-level funnel routes POSITIONALLY
    Seq((2L, "u2"), (9L, "u9")).toDF("k", "tag")
      .createOrReplaceTempView("c14_src")
    s.sql("""MERGE INTO graft_chg.db.c14 t USING c14_src s ON t.k = s.k
            |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    val shown = s.table("graft_chg.db.c14.deletes")
      .select($"predicate").as[String].collect()
    assert(shown.nonEmpty && shown.forall(_.startsWith("POSITIONAL")),
      s"expected a positional entry, got: ${shown.mkString("; ")}")
    val typed = s.table("graft_chg.db.c14.changes").collect()
      .map(r => (r.getString(2), r.getLong(0), r.getString(1)))
      .toSeq.sorted
    assert(typed == Seq(
      ("update_postimage", 2L, "u2"), ("update_postimage", 9L, "u9"),
      ("update_preimage", 2L, "v2"), ("update_preimage", 9L, "v9")).sorted,
      s"positional typed feed mismatch: $typed")
  }

  test("a COW rewrite commit fails the feed pointedly; options refuse") {
    val s = spark
    import s.implicits._
    // COW delete (no MoR delete mode set on the session) rewrites files
    s.sql("DELETE FROM graft_chg.db.c1 WHERE k < 3")
    val e = intercept[Exception] {
      s.table("graft_chg.db.c1.changes").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("table_changes")),
      s"the COW commit must fail pointedly, got: ${msgs(e)}")
    val e2 = intercept[Exception] {
      val q = s.readStream.option("skipChangeCommits", "true")
        .table("graft_chg.db.c1.changes")
        .writeStream.format("noop")
        .option("checkpointLocation",
          tmpDir("graft_chg_ck2").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(msgs(e2).exists(_.contains("skipChangeCommits")), msgs(e2))
  }
}
