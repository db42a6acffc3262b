package graft

import org.apache.spark.sql.functions._

/** FILE-LEVEL DATA SKIPPING (FileStats.scala): footer min/max stats are
  * recorded at commit and consulted at scan planning, so a selective
  * predicate over a range-laid-out table schedules only the files whose
  * intervals overlap it. The pins here are the kept/planned FILE counts
  * published by the skipping scan, plus the invariants that make the
  * feature safe to default on: identical results with skipping off,
  * conservative keeps for statless files, null-test semantics, and —
  * the one that guards correctness of the whole catalog — row-level
  * COW rewrites never lose carried rows to skipping. */
class FileSkippingSpec extends GraftSuite {
  registerCatalog("graft_fsk")

  private def counts(tbl: String): (Int, Int) =
    Option(graft.sources.FileSkippingScan.counts.get(s"db.$tbl"))
      .getOrElse((-1, -1))

  test("range query over a range-laid-out table skips non-overlapping files") {
    val s = spark
    import s.implicits._
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_fsk.db")
    s.sql("DROP TABLE IF EXISTS graft_fsk.db.sorted")
    // 8 files with DISJOINT k ranges: repartitionByRange gives each
    // task a contiguous slice, so footer min/max intervals tile [0, 8000)
    s.range(8000).select($"id".as("k"), ($"id" % 7).as("v"))
      .repartitionByRange(8, $"k")
      .writeTo("graft_fsk.db.sorted").create()
    graft.sources.FileSkippingScan.counts.clear()
    val got = s.table("graft_fsk.db.sorted")
      .where($"k" >= 2000L && $"k" < 3000L).agg(count(lit(1))).head.getLong(0)
    assert(got === 1000L)
    val (kept, total) = counts("sorted")
    assert(total === 8, "the batch should have planned against all 8 files")
    assert(kept <= 2, s"a 1/8-width range must keep at most 2 of 8 " +
      s"range-tiled files, kept $kept")

    // point lookup: exactly one file can hold k = 4242
    graft.sources.FileSkippingScan.counts.clear()
    val one = s.table("graft_fsk.db.sorted").where($"k" === 4242L).collect()
    assert(one.length === 1 && one.head.getLong(1) === 4242L % 7)
    assert(counts("sorted")._1 === 1)
  }

  test("skipping off → same rows, all files planned") {
    val s = spark
    import s.implicits._
    withConf("spark.sql.catalog.graft.read.fileSkipping" -> "false") {
      graft.sources.FileSkippingScan.counts.clear()
      val got = s.table("graft_fsk.db.sorted")
        .where($"k" >= 2000L && $"k" < 3000L).agg(count(lit(1))).head.getLong(0)
      assert(got === 1000L)
      assert(counts("sorted") === ((-1, -1)),
        "no skipping scan should have been planned with the conf off")
    }
  }

  test("appended overlapping files get their own stats and stay kept") {
    val s = spark
    import s.implicits._
    // one appended file spanning the WHOLE range: overlaps every query
    s.range(8000).select($"id".as("k"), lit(99L).as("v"))
      .coalesce(1).writeTo("graft_fsk.db.sorted").append()
    graft.sources.FileSkippingScan.counts.clear()
    val got = s.table("graft_fsk.db.sorted")
      .where($"k" === 4242L).collect()
    assert(got.length === 2) // original row + appended row
    val (kept, total) = counts("sorted")
    assert(total === 9)
    assert(kept === 2, "the one range file plus the full-span appended file")
  }

  test("null-test predicates skip on nullCount") {
    val s = spark
    import s.implicits._
    s.sql("DROP TABLE IF EXISTS graft_fsk.db.nulls")
    // file A: v never null; file B: v always null
    val a = s.range(100).select($"id".as("k"), $"id".cast("string").as("v"))
      .coalesce(1)
    a.writeTo("graft_fsk.db.nulls").create()
    s.range(100, 200).select($"id".as("k"),
      lit(null).cast("string").as("v")).coalesce(1)
      .writeTo("graft_fsk.db.nulls").append()

    graft.sources.FileSkippingScan.counts.clear()
    assert(s.table("graft_fsk.db.nulls").where($"v".isNull).count() === 100L)
    assert(counts("nulls") === ((1, 2)), "IS NULL must skip the no-null file")

    graft.sources.FileSkippingScan.counts.clear()
    assert(s.table("graft_fsk.db.nulls").where($"v".isNotNull).count() === 100L)
    assert(counts("nulls") === ((1, 2)), "IS NOT NULL must skip the all-null file")

    // a VALUE predicate can never match the all-null file either
    graft.sources.FileSkippingScan.counts.clear()
    assert(s.table("graft_fsk.db.nulls").where($"v" === "42").count() === 1L)
    assert(counts("nulls") === ((1, 2)))
  }

  test("string equality skips by min/max; OR widens conservatively") {
    val s = spark
    import s.implicits._
    s.sql("DROP TABLE IF EXISTS graft_fsk.db.strs")
    Seq(("apple", 1), ("banana", 2)).toDF("w", "n").coalesce(1)
      .writeTo("graft_fsk.db.strs").create()
    Seq(("yam", 3), ("zucchini", 4)).toDF("w", "n").coalesce(1)
      .writeTo("graft_fsk.db.strs").append()

    graft.sources.FileSkippingScan.counts.clear()
    assert(s.table("graft_fsk.db.strs").where($"w" === "apple").count() === 1L)
    assert(counts("strs") === ((1, 2)))

    // OR across both files' ranges keeps both
    graft.sources.FileSkippingScan.counts.clear()
    assert(s.table("graft_fsk.db.strs")
      .where($"w" === "apple" || $"w" === "yam").count() === 2L)
    assert(counts("strs") === ((2, 2)))
  }

  test("skipping composes with partition pruning inside kept partitions") {
    val s = spark
    import s.implicits._
    s.sql("DROP TABLE IF EXISTS graft_fsk.db.parted")
    s.sql("""CREATE TABLE graft_fsk.db.parted (k BIGINT, ch STRING)
            | USING parquet PARTITIONED BY (ch)""".stripMargin)
    // per partition value, 4 range-tiled files on k
    s.range(4000).select($"id".as("k"),
        when($"id" % 2 === 0, "a").otherwise("b").as("ch"))
      .repartitionByRange(4, $"k")
      .sortWithinPartitions($"k")
      .writeTo("graft_fsk.db.parted").append()
    graft.sources.FileSkippingScan.counts.clear()
    val got = s.table("graft_fsk.db.parted")
      .where($"ch" === "a" && $"k" < 1000L).count()
    assert(got === 500L)
    val (kept, total) = counts("parted")
    // partition pruning already dropped ch=b's files at listing; of
    // ch=a's 4 range files the k-predicate keeps 1 (plus at most one
    // boundary straddler)
    assert(total <= 4 && kept <= 2,
      s"expected <=2 of <=4 files kept, got ($kept, $total)")
  }

  test("cluster_by turns a shuffled layout into a skipping-friendly one") {
    val s = spark
    import s.implicits._
    s.sql("DROP TABLE IF EXISTS graft_fsk.db.clu")
    // round-robin placement: every file's k range spans ~[0, 8000) —
    // min/max intervals all overlap any query range, nothing skips
    s.range(8000).select($"id".as("k"), ($"id" % 7).as("v"))
      .repartition(8)
      .writeTo("graft_fsk.db.clu").create()
    graft.sources.FileSkippingScan.counts.clear()
    assert(s.table("graft_fsk.db.clu")
      .where($"k" >= 2000L && $"k" < 2100L).count() === 100L)
    val (k0, t0) = counts("clu")
    assert(k0 === t0 && t0 >= 8, s"shuffled layout must keep all files ($k0/$t0)")

    val sum = s.sql("CALL graft_fsk.system.cluster_by('db.clu', 'k', 8)")
      .collect().head
    assert(sum.getString(0) === "k" && sum.getLong(1) === 8L)
    graft.sources.FileSkippingScan.counts.clear()
    assert(s.table("graft_fsk.db.clu")
      .where($"k" >= 2000L && $"k" < 2100L).count() === 100L)
    val (k1, t1) = counts("clu")
    assert(t1 === 8 && k1 <= 2,
      s"clustered layout must skip non-overlapping files ($k1/$t1)")
    // partitioned tables refuse pointedly
    val e = intercept[Exception] {
      s.sql("CALL graft_fsk.system.cluster_by('db.parted', 'k', 4)").collect()
    }
    assert(e.getMessage.contains("partitioned"))
  }

  test("write.sort-cols keeps UNSORTED appends skippable: range " +
      "distribution + local sort at write time, no cluster_by needed") {
    val s = spark
    import s.implicits._
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_fsk.db")
    s.sql("DROP TABLE IF EXISTS graft_fsk.db.autosorted")
    // deliberately SCRAMBLED input: without the property every file
    // would span the whole key range and nothing could skip
    val scrambled = s.range(8000)
      .select((($"id" * 2654435761L) % 8000L).as("k"), ($"id" % 7).as("v"))
    scrambled.limit(0).writeTo("graft_fsk.db.autosorted")
      .tableProperty("write.sort-cols", "k")
      .tableProperty("write.target-file-size-rows", "1000").create()
    scrambled.writeTo("graft_fsk.db.autosorted").append()
    graft.sources.FileSkippingScan.counts.clear()
    val got = s.table("graft_fsk.db.autosorted")
      .where($"k" >= 2000L && $"k" < 3000L).agg(count(lit(1)))
      .head.getLong(0)
    val expect = (0L until 8000L)
      .count(i => { val k = (i * 2654435761L) % 8000L; k >= 2000L && k < 3000L })
    assert(got === expect.toLong)
    val (kept, total) = counts("autosorted")
    assert(total >= 4, s"expected several files, got $total")
    assert(kept * 3 <= total,
      s"a 1/8-width range should skip most sorted files: kept $kept/$total")
    // a misspelled sort column fails the write pointedly, commits nothing
    s.sql("ALTER TABLE graft_fsk.db.autosorted " +
      "SET TBLPROPERTIES ('write.sort-cols' = 'no_such')")
    val e = intercept[Exception] {
      Seq((1L, 1L)).toDF("k", "v")
        .writeTo("graft_fsk.db.autosorted").append()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("write.sort-cols")),
      s"wrong error: ${msgs(e).mkString(" | ").take(300)}")
    assert(s.table("graft_fsk.db.autosorted").count() === 8000L)
  }

  test("write.sort-cols on a PARTITIONED table: partition clustering " +
      "kept, files sorted within each partition dir") {
    val s = spark
    import s.implicits._
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_fsk.db")
    s.sql("DROP TABLE IF EXISTS graft_fsk.db.psorted")
    val scrambled = s.range(8000)
      .select((($"id" * 2654435761L) % 8000L).as("k"),
        ($"id" % 2).cast("int").as("g"), ($"id" % 7).as("v"))
    scrambled.limit(0).writeTo("graft_fsk.db.psorted")
      .tableProperty("write.sort-cols", "k")
      .tableProperty("write.target-file-size-rows", "500")
      .partitionedBy(col("g")).create()
    scrambled.writeTo("graft_fsk.db.psorted").append()
    graft.sources.FileSkippingScan.counts.clear()
    // partition pruning keeps g=1; inside it, the sorted tiling skips
    val got = s.table("graft_fsk.db.psorted")
      .where($"g" === 1 && $"k" >= 1000L && $"k" < 2000L)
      .agg(count(lit(1))).head.getLong(0)
    val expect = (0L until 8000L).count { i =>
      val k = (i * 2654435761L) % 8000L
      i % 2 == 1 && k >= 1000L && k < 2000L
    }
    assert(got === expect.toLong)
    val (kept, total) = counts("psorted")
    assert(total >= 4 && kept * 2 <= total,
      s"in-partition sorted tiling should skip most files: $kept/$total")
  }

  // ---- write.sort-cols composed with MAINTENANCE (every rewriter
  // routes through the shared layout writer, so a sorted table's skip
  // index survives compaction instead of dulling on the first pass) ----

  private def mkSorted(tbl: String, fileRows: Int = 1000): Unit = {
    val s = spark
    import s.implicits._
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_fsk.db")
    s.sql(s"DROP TABLE IF EXISTS graft_fsk.db.$tbl")
    val scrambled = s.range(8000)
      .select((($"id" * 2654435761L) % 8000L).as("k"), ($"id" % 7).as("v"))
    scrambled.limit(0).writeTo(s"graft_fsk.db.$tbl")
      .tableProperty("write.sort-cols", "k")
      .tableProperty("write.target-file-size-rows", fileRows.toString)
      .create()
    scrambled.writeTo(s"graft_fsk.db.$tbl").append()
  }

  private def rangeKept(tbl: String): (Long, Int, Int) = {
    val s = spark
    import s.implicits._
    graft.sources.FileSkippingScan.counts.clear()
    val got = s.table(s"graft_fsk.db.$tbl")
      .where($"k" >= 2000L && $"k" < 3000L).agg(count(lit(1)))
      .head.getLong(0)
    val (kept, total) = counts(tbl)
    (got, kept, total)
  }

  private val expectIn2k3k: Long = (0L until 8000L)
    .count(i => { val k = (i * 2654435761L) % 8000L; k >= 2000L && k < 3000L })
    .toLong

  test("compact preserves write.sort-cols: the compacted files still " +
      "tile the key space and the range query keeps a strict subset") {
    val s = spark
    mkSorted("msort1")
    s.sql("CALL graft_fsk.system.compact('db.msort1', 4)").collect()
    val (got, kept, total) = rangeKept("msort1")
    assert(got === expectIn2k3k)
    assert(total >= 4, s"compaction to 4 range partitions with the " +
      s"1000-row file cap should leave several files, got $total")
    assert(kept * 3 <= total,
      s"compaction dulled the skip index: kept $kept/$total")
  }

  test("compact(target_files) on a PARTITIONED table clusters the " +
      "exchange: ~1 file per dir, never tasks x dirs") {
    val s = spark
    import s.implicits._
    s.sql("DROP TABLE IF EXISTS graft_fsk.db.pcomp")
    s.range(8000)
      .select($"id".as("k"), ($"id" % 4).cast("string").as("p"),
        ($"id" % 7).as("v"))
      .repartition(8) // scrambled: 8 tasks x 4 dirs = 32 small files
      .writeTo("graft_fsk.db.pcomp").using("parquet")
      .tableProperty("write.sort-cols", "k")
      .partitionedBy($"p").create()
    def nFiles(): Long = s.sql(
      "SELECT count(*) FROM graft_fsk.db.pcomp.files").head().getLong(0)
    assert(nFiles() == 32L, s"setup should scatter, got ${nFiles()}")
    s.sql("CALL graft_fsk.system.compact('db.pcomp', 2)").collect()
    // range exchange on (dirs ++ sort cols): small dirs share a task,
    // so file count is bounded by dirs + target - 1 = 5, never the
    // unclustered 2 tasks x 4 dirs = 8 (and never repartition(target)
    // at a real task count scattering into every dir)
    assert(nFiles() >= 4L && nFiles() <= 5L,
      s"partitioned compact must write ~1 file per dir " +
        s"(<= dirs + target - 1), got ${nFiles()}")
    assert(s.table("graft_fsk.db.pcomp").agg(sum($"k")).head.getLong(0)
      === (0L until 8000L).sum)
    // the dirs << target end: a wide target must not collapse to one
    // task per dir (that was the hash-clustering regression) — it may
    // split big dirs across tasks, and must stay far under tasks x dirs
    s.sql("CALL graft_fsk.system.compact('db.pcomp', 8)").collect()
    assert(nFiles() <= 11L, // dirs + target - 1
      s"wide-target partitioned compact over-scattered: ${nFiles()}")
    assert(s.table("graft_fsk.db.pcomp").agg(sum($"k")).head.getLong(0)
      === (0L until 8000L).sum)
  }

  test("rewrite_deletes preserves write.sort-cols: materialized " +
      "survivor files stay as sharp as a fresh append") {
    val s = spark
    mkSorted("msort2")
    withConf("spark.sql.catalog.graft.write.deleteMode" -> "merge-on-read") {
      s.sql("DELETE FROM graft_fsk.db.msort2 WHERE k >= 2100 AND k < 2200")
    }
    s.sql("CALL graft_fsk.system.rewrite_deletes('db.msort2')").collect()
    assert(s.table("graft_fsk.db.msort2").count() === 7900L)
    val (got, kept, total) = rangeKept("msort2")
    assert(got === expectIn2k3k - 100L)
    assert(kept * 2 <= total,
      s"rewrite_deletes dulled the skip index: kept $kept/$total")
  }

  test("an unpartitioned COW merge preserves write.sort-cols (the " +
      "raw staged-file move is skipped for sorted tables)") {
    val s = spark
    import s.implicits._
    mkSorted("msort3")
    // whole-table COW merge (no PK, no MoR mode): without the sorted
    // re-layout the staged flat files would each span the key space
    Seq((2500L, -1L), (9000L, -2L)).toDF("k", "v")
      .createOrReplaceTempView("msort3_src")
    s.sql("""MERGE INTO graft_fsk.db.msort3 t USING msort3_src s
      |ON t.k = s.k
      |WHEN MATCHED THEN UPDATE SET t.v = s.v
      |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(s.table("graft_fsk.db.msort3").count() === 8001L)
    val (got, kept, total) = rangeKept("msort3")
    assert(got === expectIn2k3k)
    assert(kept * 3 <= total,
      s"the COW merge dulled the skip index: kept $kept/$total")
    assert(s.table("graft_fsk.db.msort3").where($"k" === 2500L)
      .head.getLong(1) === -1L)
  }

  test("branch reads serve the footer-stats skip index too: a range " +
      "query on t@branch keeps a strict subset of the BRANCH's files") {
    val s = spark
    import s.implicits._
    mkSorted("msort4")
    s.sql("CALL graft_fsk.system.create_branch('db.msort4', 'work')")
    // branch-only append widens the branch's file set; main untouched
    s.range(100).select(($"id" + 10000L).as("k"), lit(0L).as("v"))
      .writeTo("graft_fsk.db.`msort4@work`").append()
    graft.sources.FileSkippingScan.counts.clear()
    val got = s.table("graft_fsk.db.`msort4@work`")
      .where($"k" >= 2000L && $"k" < 3000L).agg(count(lit(1)))
      .head.getLong(0)
    assert(got === expectIn2k3k)
    // counts are keyed by scan name; grab whichever key the branch
    // read published rather than assuming its rendering
    import scala.jdk.CollectionConverters._
    val entry = graft.sources.FileSkippingScan.counts.asScala
      .find(_._1.contains("msort4"))
    assert(entry.isDefined, "the branch read must plan a skipping scan")
    val (kept, total) = entry.get._2
    assert(kept * 2 <= total,
      s"branch read did not skip: kept $kept/$total")
  }

  test("row-level COW rewrites never lose rows to skipping") {
    val s = spark
    import s.implicits._
    s.sql("DROP TABLE IF EXISTS graft_fsk.db.cow")
    s.range(8000).select($"id".as("k"), ($"id" % 7).as("v"))
      .repartitionByRange(8, $"k")
      .writeTo("graft_fsk.db.cow").create()
    // the DELETE condition is selective enough that a (hypothetically
    // unsound) skipped rewrite would drop the other files' rows
    s.sql("DELETE FROM graft_fsk.db.cow WHERE k = 4242")
    assert(s.table("graft_fsk.db.cow").count() === 7999L)
    s.sql("UPDATE graft_fsk.db.cow SET v = -1 WHERE k = 17")
    assert(s.table("graft_fsk.db.cow").count() === 7999L)
    assert(s.table("graft_fsk.db.cow").where($"v" === -1L).count() === 1L)
    // and the rewritten table's NEW files are themselves skippable
    graft.sources.FileSkippingScan.counts.clear()
    assert(s.table("graft_fsk.db.cow").where($"k" === 17L).head.getLong(1) === -1L)
    val (kept, total) = counts("cow")
    assert(kept < total, s"rewritten files should carry stats ($kept, $total)")
  }
}
