package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DELETE-AWARE COUNT(*) PUSHDOWN (KeyGroupedScan.scala /
  * MorDeletes.DeleteEntry.matched): a table with LIVE merge-on-read
  * delete entries keeps the zero-scan COUNT(*) fast path when every
  * entry's removed-row count is known exactly — positional ordinals
  * outright, equality entries via the matched count the commit funnel
  * persisted. Pins: the plan is a LocalTableScan (zero parquet), the
  * answer equals the row-scan answer for every sidecar shape, the
  * O(metadata) deleteWhere entry (count unknowable without a read)
  * REFUSES back to the scan path, MIN/MAX keep refusing while any
  * entry lives, and the kill-switch forces the scan path. */
class MorCountPushdownSpec extends GraftSuite {
  private val warehouse: String = registerCatalog("graft_cnt")
  spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cnt.db")

  /** Every test here reads counts through aggregate pushdown. */
  override def withFixture(test: NoArgTest) =
    withConf("spark.sql.parquet.aggregatePushdown" -> "true")(super.withFixture(test))

  private def countDf(tbl: String): DataFrame =
    spark.sql(s"SELECT count(*) AS n FROM graft_cnt.db.$tbl")

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def assertMetadataServed(tbl: String, expect: Long): Unit = {
    val df = countDf(tbl)
    val plan = planOf(df)
    assert(plan.contains("LocalTableScan"),
      s"count over $tbl must serve from sidecar metadata:\n$plan")
    assert(!plan.toLowerCase.contains("parquet"),
      s"count over $tbl must plan zero data files:\n$plan")
    assert(df.collect()(0).getLong(0) === expect)
  }

  private def assertScanServed(tbl: String, expect: Long): Unit = {
    val df = countDf(tbl)
    val plan = planOf(df)
    assert(!plan.contains("LocalTableScan"),
      s"count over $tbl must NOT claim a metadata answer:\n$plan")
    assert(df.collect()(0).getLong(0) === expect)
  }

  private def mkPk(name: String): Unit = {
    val s = spark
    import s.implicits._
    s.sql(s"DROP TABLE IF EXISTS graft_cnt.db.$name")
    s.range(1000).select($"id".as("k"), ($"id" % 7).as("g"),
        ($"id" * 2.0).as("v"))
      .repartition(4)
      .writeTo(s"graft_cnt.db.$name")
      .tableProperty("write.merge.mode", "merge-on-read")
      .tableProperty("write.update.mode", "merge-on-read")
      .tableProperty("write.delete.mode", "merge-on-read")
      .create()
    s.sql(s"ALTER TABLE graft_cnt.db.$name ADD CONSTRAINT ${name}_pk " +
      "PRIMARY KEY (k) NOT ENFORCED")
  }

  test("equality entry from the MERGE funnel: COUNT(*) serves from " +
      "metadata, exactly") {
    val s = spark
    import s.implicits._
    mkPk("c1")
    s.range(100).select(($"id" * 10).as("k"))
      .createOrReplaceTempView("c1_src") // k = 0,10,…,990 → 100 matches
    s.sql("""MERGE INTO graft_cnt.db.c1 t USING c1_src s ON t.k = s.k
            |WHEN MATCHED THEN DELETE""".stripMargin)
    assertMetadataServed("c1", 900L)
    // an UPDATE merge too: delete+reinsert — net count unchanged, the
    // reinserted rows land as new files the footer stats cover
    s.range(50).select(($"id" * 10 + 5).as("k"), lit(0L).as("g"),
        lit(-1.0).as("v"))
      .createOrReplaceTempView("c1_upd")
    s.sql("""MERGE INTO graft_cnt.db.c1 t USING c1_upd s ON t.k = s.k
            |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    assertMetadataServed("c1", 900L)
    // the answers above agree with the row scan (kill-switch)
    withConf("spark.sql.catalog.graft.read.morAggPushdown" -> "false") {
      assertScanServed("c1", 900L)
    }
  }

  test("a CONSUMED conjunct never reaches the inner parquet scan: a " +
      "plain SELECT that projects AWAY the filter column returns the " +
      "right rows (the regression: the pushed parquet filter on the " +
      "pruned-out column evaluated null and dropped every row)") {
    val s = spark
    import s.implicits._
    s.sql("DROP TABLE IF EXISTS graft_cnt.db.cw1")
    // two single-row files with disjoint k ranges plus a positional
    // merge — the exact shape that returned ZERO rows: k=2's file is
    // must-match, k=1's none-match, `k = 2` is raw-decided on every
    // file and gets consumed, and the projection drops k from the
    // read schema
    Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v").repartitionByRange(2, $"k")
      .writeTo("graft_cnt.db.cw1")
      .tableProperty("write.merge.mode", "merge-on-read")
      .create()
    Seq((2L, 22.0)).toDF("k", "v").createOrReplaceTempView("cw1_src")
    // no PK → positional row ids; the UPDATE deletes (file, pos) and
    // reinserts into a fresh file
    s.sql("""MERGE INTO graft_cnt.db.cw1 t USING cw1_src s ON t.k = s.k
            |WHEN MATCHED THEN UPDATE SET t.v = s.v""".stripMargin)
    val df = s.table("graft_cnt.db.cw1").where($"k" === 2L).select("v")
    val plan = planOf(df)
    // the conjunct IS consumed (no post-scan Filter) and the inner
    // parquet scan carries no filter on the pruned-out column
    assert(!plan.contains("Filter ("), s"expected the consumed plan:\n$plan")
    assert(df.collect().map(_.getDouble(0)).toSeq === Seq(22.0))
    // same read with the filter column kept agrees
    assert(s.table("graft_cnt.db.cw1").where($"k" === 2L)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      Seq((2L, 22.0)))
    // and an aggregate the metadata path cannot serve under the
    // consumed filter refuses to the inner footer path (which cannot
    // see the withheld conjunct) — the row plan answers it
    val sm = s.sql("SELECT sum(v) AS sv FROM graft_cnt.db.cw1 WHERE k = 2")
    assert(!planOf(sm).contains("PushedAggregation: [SUM"),
      s"inner footer aggregate must not engage under a consumed filter:\n${planOf(sm)}")
    assert(sm.collect()(0).getDouble(0) === 22.0)
  }

  test("MIN/MAX keep refusing while entries live; a filtered COUNT " +
      "scans") {
    val s = spark
    val mm = s.sql("SELECT min(k) AS mn, max(k) AS mx FROM graft_cnt.db.c1")
    val plan = planOf(mm)
    assert(!plan.contains("LocalTableScan") &&
      !plan.contains("PushedAggregation: [MIN"),
      s"min/max must not push while a delete can remove the extremum:\n$plan")
    val row = mm.collect()(0)
    assert(row.getLong(0) === 1L && row.getLong(1) === 999L)
    val filtered = s.sql(
      "SELECT count(*) AS n FROM graft_cnt.db.c1 WHERE g = 3")
    assert(!planOf(filtered).contains("LocalTableScan"))
    // live rows: k%10 != 0; g = k%7 EXCEPT the 50 updated rows
    // (k = 5,15,…,495) whose g was rewritten to 0 by the first test
    assert(filtered.collect()(0).getLong(0) ===
      (0L until 1000L).filterNot(_ % 10 == 0).count(k =>
        (if (k % 10 == 5 && k < 500) 0L else k % 7) == 3L).toLong)
  }

  test("positional entries count their ordinals; mixed sidecars sum " +
      "exactly; rewrite_deletes returns the footer path") {
    val s = spark
    import s.implicits._
    mkPk("c2")
    // equality entry first (PK merge), then drop the PK and route a
    // second delete positionally — both kinds live at once
    s.range(10).select(($"id" * 100).as("k"))
      .createOrReplaceTempView("c2_src") // 10 matches
    s.sql("""MERGE INTO graft_cnt.db.c2 t USING c2_src s ON t.k = s.k
            |WHEN MATCHED THEN DELETE""".stripMargin)
    s.sql("ALTER TABLE graft_cnt.db.c2 DROP CONSTRAINT c2_pk")
    // modulo is untranslatable → row-level funnel, positional ids
    s.sql("DELETE FROM graft_cnt.db.c2 WHERE k % 100 = 50")
    val dels = Paths.get(warehouse, "db", "c2")
    val head = dels.resolve(new String(
      Files.readAllBytes(dels.resolve("_current")), "UTF-8")
      .split("\n").head.trim).resolve("_deletes")
    import scala.jdk.CollectionConverters._
    def kinds(sfx: String): Int = {
      val ls = Files.list(head)
      try ls.iterator().asScala.count(_.getFileName.toString.endsWith(sfx))
      finally ls.close()
    }
    assert(kinds(".pred") >= 1 && kinds(".pos") >= 1,
      "the spec needs both sidecar kinds live")
    assertMetadataServed("c2", 1000L - 10L - 10L)
    // materialize: entries clear, the ordinary footer-aggregation path
    // (PushedAggregation on the parquet scan) serves the count again
    s.sql("CALL graft_cnt.system.rewrite_deletes('db.c2')")
    val after = countDf("c2")
    val plan = planOf(after)
    assert(!plan.contains("LocalTableScan") &&
      plan.contains("PushedAggregation: [COUNT("),
      s"post-materialization count must ride the parquet footer path:\n$plan")
    assert(after.collect()(0).getLong(0) === 980L)
  }

  test("branch and time-travel heads serve the metadata count too: " +
      "each head's own files minus its own entries") {
    val s = spark
    import s.implicits._
    mkPk("c4")
    s.range(5).select(($"id" * 100).as("k")) // 5 matches
      .createOrReplaceTempView("c4_src")
    s.sql("""MERGE INTO graft_cnt.db.c4 t USING c4_src s ON t.k = s.k
            |WHEN MATCHED THEN DELETE""".stripMargin)
    // branch forks AT the post-merge head; a branch-only merge deletes
    // 3 more — the branch counts 992, main still 995, the pre-merge
    // travel head 1000: three heads, three metadata answers
    s.sql("CALL graft_cnt.system.create_branch('db.c4', 'work')")
    s.range(3).select(($"id" * 100 + 7).as("k"))
      .createOrReplaceTempView("c4_bsrc")
    s.sql("""MERGE INTO graft_cnt.db.`c4@work` t USING c4_bsrc s
            |ON t.k = s.k WHEN MATCHED THEN DELETE""".stripMargin)
    assertMetadataServed("`c4@work`", 992L)
    assertMetadataServed("c4", 995L)
    val tt = s.sql(
      "SELECT count(*) AS n FROM graft_cnt.db.c4 VERSION AS OF 1")
    assert(planOf(tt).contains("LocalTableScan") ||
      planOf(tt).contains("PushedAggregation: [COUNT("),
      s"the pre-merge head has no entries — either metadata path is " +
        s"fine, a row scan is not:\n${planOf(tt)}")
    assert(tt.collect()(0).getLong(0) === 1000L)
  }

  test("a file-pruning filter keeps the metadata count: all-or-nothing " +
      "stats consumption over a years() layout, positional ordinals " +
      "subtracted per included file, an in-scope equality entry " +
      "subtracted whole") {
    val s = spark
    import s.implicits._
    // time-correlated surrogate keys: each year's file owns a disjoint
    // k range, so the recent-keys delete scopes to recent files
    def y(id: Int) = 1992 + id / 200
    def kOf(id: Int) = y(id).toLong * 100000L + id
    val rows = (0 until 800).map(id =>
      (kOf(id), java.sql.Date.valueOf(s"${y(id)}-0${id % 9 + 1}-15")))
    s.sql("DROP TABLE IF EXISTS graft_cnt.db.cp1")
    rows.toDF("k", "d")
      .writeTo("graft_cnt.db.cp1")
      .partitionedBy(years($"d"))
      .tableProperty("write.merge.mode", "merge-on-read")
      .tableProperty("write.delete.mode", "merge-on-read")
      .create()
    s.sql("ALTER TABLE graft_cnt.db.cp1 ADD CONSTRAINT cp1_pk " +
      "PRIMARY KEY (k) NOT ENFORCED")
    val eqDel = (id: Int) => id % 10 == 0 && y(id) >= 1994
    (0 until 800).filter(eqDel).map(kOf).toDF("k")
      .createOrReplaceTempView("cp1_src")
    s.sql("""MERGE INTO graft_cnt.db.cp1 t USING cp1_src s ON t.k = s.k
            |WHEN MATCHED THEN DELETE""".stripMargin)
    s.sql("ALTER TABLE graft_cnt.db.cp1 DROP CONSTRAINT cp1_pk")
    s.sql("DELETE FROM graft_cnt.db.cp1 WHERE k % 7 = 3") // positional
    val posDel = (id: Int) => !eqDel(id) && kOf(id) % 7 == 3
    val expected = (0 until 800).count(id =>
      y(id) >= 1994 && !eqDel(id) && !posDel(id)).toLong
    val filtered = s.sql("SELECT count(*) AS n FROM graft_cnt.db.cp1 " +
      "WHERE d >= DATE '1994-01-01'")
    val plan = planOf(filtered)
    assert(plan.contains("LocalTableScan") &&
      !plan.toLowerCase.contains("parquet"),
      s"the pruned count must serve from metadata:\n$plan")
    assert(filtered.collect()(0).getLong(0) === expected)
    // the kill switch takes the whole consumption with it: the scan
    // path re-applies the filter as rows and agrees
    withConf("spark.sql.catalog.graft.read.morAggPushdown" -> "false") {
      val scanned = s.sql("SELECT count(*) AS n FROM graft_cnt.db.cp1 " +
        "WHERE d >= DATE '1994-01-01'")
      assert(!planOf(scanned).contains("LocalTableScan"))
      assert(scanned.collect()(0).getLong(0) === expected)
    }
    // a wider window that still contains the whole entry scope serves
    // from metadata too
    val wider = s.sql("SELECT count(*) AS n FROM graft_cnt.db.cp1 " +
      "WHERE d >= DATE '1993-01-01'")
    assert(planOf(wider).contains("LocalTableScan"))
    assert(wider.collect()(0).getLong(0) ===
      (0 until 800).count(id =>
        y(id) >= 1993 && !eqDel(id) && !posDel(id)).toLong)
  }

  test("an identity-partition filter keeps the metadata count: the " +
      "partition value never sits in the files, so per-file stats " +
      "synthesize EXACTLY from the directory names") {
    val s = spark
    import s.implicits._
    s.sql("DROP TABLE IF EXISTS graft_cnt.db.cp3")
    s.range(400).select($"id".as("k"), ($"id" % 4).cast("int").as("p"))
      .writeTo("graft_cnt.db.cp3")
      .partitionedBy($"p")
      .tableProperty("write.delete.mode", "merge-on-read")
      .create()
    // untranslatable predicate → the positional funnel; per-file
    // ordinals never straddle a pruned boundary
    s.sql("DELETE FROM graft_cnt.db.cp3 WHERE k % 7 = 3")
    val expected = (0 until 400).count(k => k % 4 == 2 && k % 7 != 3).toLong
    val df = s.sql("SELECT count(*) AS n FROM graft_cnt.db.cp3 WHERE p = 2")
    val plan = planOf(df)
    assert(plan.contains("LocalTableScan") &&
      !plan.toLowerCase.contains("parquet"),
      s"identity-partition count must serve from metadata:\n$plan")
    assert(df.collect()(0).getLong(0) === expected)
    // an undecidable residual conjunct refuses the whole fast path —
    // and the scan answer agrees with the arithmetic
    val both = s.sql("SELECT count(*) AS n FROM graft_cnt.db.cp3 " +
      "WHERE p = 2 AND k % 2 = 0")
    assert(!planOf(both).contains("LocalTableScan"))
    assert(both.collect()(0).getLong(0) ===
      (0 until 400).count(k =>
        k % 4 == 2 && k % 7 != 3 && k % 2 == 0).toLong)
  }

  test("a conjunct decided only through SYNTHESIZED identity stats " +
      "stays in the residual: the file skipper re-decides from RAW " +
      "footer stats, so consuming it would return rows the dropped " +
      "Filter node was supposed to remove") {
    val s = spark
    import s.implicits._
    s.sql("DROP TABLE IF EXISTS graft_cnt.db.cp5")
    s.range(400).select($"id".as("k"), ($"id" % 4).cast("int").as("p"))
      .writeTo("graft_cnt.db.cp5")
      .partitionedBy($"p")
      .tableProperty("write.delete.mode", "merge-on-read")
      .create()
    s.sql("DELETE FROM graft_cnt.db.cp5 WHERE k % 7 = 3") // live pos entry
    // `p = 2 OR k >= 1000` references a data column, so the inner
    // builder returns it as a residual — and no k reaches 1000, so the
    // predicate is exactly `p = 2`, decidable per file ONLY by
    // synthesizing p from the directory names (the footer carries no
    // p stat the skipper could re-decide from). Consuming it dropped
    // the Filter while the skipper kept every file: rows from p != 2
    // surfaced on a plain SELECT.
    val expect = (0L until 400L)
      .filter(k => (k % 4 == 2 || k >= 1000) && k % 7 != 3).toArray
    val df = s.sql(
      "SELECT k FROM graft_cnt.db.cp5 WHERE p = 2 OR k >= 1000")
    assert(df.collect().map(_.getLong(0)).sorted === expect,
      "rows violating the WHERE must not surface")
    // the count of the same shape refuses the metadata answer (the
    // conjunct stays residual, so Spark never pushes the aggregate)
    // and stays exact on the scan path
    val cnt = s.sql("SELECT count(*) AS n FROM graft_cnt.db.cp5 " +
      "WHERE p = 2 OR k >= 1000")
    assert(cnt.collect()(0).getLong(0) === expect.length.toLong)
  }

  test("a CLEAN table's filtered count serves from metadata BY " +
      "DEFAULT (the common case at scale); the opt-out conf restores " +
      "the scan; the filtered SELECT stays exact under consumption") {
    val s = spark
    import s.implicits._
    s.sql("DROP TABLE IF EXISTS graft_cnt.db.cp4")
    (0 until 600).map(id =>
        (id.toLong, java.sql.Date.valueOf(s"${1992 + id / 200}-06-15")))
      .toDF("k", "d")
      .writeTo("graft_cnt.db.cp4")
      .partitionedBy(years($"d"))
      .create()
    // NO conf set: the default serves the pruned metadata count
    val df = s.sql("SELECT count(*) AS n FROM graft_cnt.db.cp4 " +
      "WHERE d >= DATE '1993-01-01'")
    val plan = planOf(df)
    assert(plan.contains("LocalTableScan") &&
      !plan.toLowerCase.contains("parquet"),
      s"clean filtered count must serve from metadata by default:\n$plan")
    assert(df.collect()(0).getLong(0) === 400L)
    // the unfiltered count keeps the inner footer path (it also
    // serves MIN/MAX) — no plan change for the q100 shape
    val plain = s.sql("SELECT count(*) AS n FROM graft_cnt.db.cp4")
    assert(planOf(plain).contains("PushedAggregation"),
      planOf(plain))
    assert(plain.collect()(0).getLong(0) === 600L)
    // a plain filtered SELECT under consumption: the rows are exact
    // (files pruned all-or-nothing by the raw-stats proof)
    val sel = s.sql("SELECT k FROM graft_cnt.db.cp4 " +
      "WHERE d >= DATE '1993-01-01'")
    assert(sel.collect().map(_.getLong(0)).sorted === (200L until 600L),
      "consumed filtered SELECT must return exactly the matching rows")
    // opt-OUT: the kill switch restores the scan path, same answer
    withConf("spark.sql.catalog.graft.read.cleanCountPruning" -> "false") {
      val off = s.sql("SELECT count(*) AS n FROM graft_cnt.db.cp4 " +
        "WHERE d >= DATE '1993-01-01'")
      assert(!planOf(off).contains("LocalTableScan"),
        s"the opt-out must restore the scan:\n${planOf(off)}")
      assert(off.collect()(0).getLong(0) === 400L)
    }
  }

  test("an equality entry STRADDLING the pruned boundary refuses to " +
      "the scan — and the consumed filter still yields exact rows " +
      "there (files pruned all-or-nothing, no Filter node needed)") {
    val s = spark
    import s.implicits._
    def y(id: Int) = 1992 + id / 200
    def kOf(id: Int) = y(id).toLong * 100000L + id
    val rows = (0 until 800).map(id =>
      (kOf(id), java.sql.Date.valueOf(s"${y(id)}-0${id % 9 + 1}-15")))
    s.sql("DROP TABLE IF EXISTS graft_cnt.db.cp2")
    rows.toDF("k", "d")
      .writeTo("graft_cnt.db.cp2")
      .partitionedBy(years($"d"))
      .tableProperty("write.merge.mode", "merge-on-read")
      .tableProperty("write.delete.mode", "merge-on-read")
      .create()
    s.sql("ALTER TABLE graft_cnt.db.cp2 ADD CONSTRAINT cp2_pk " +
      "PRIMARY KEY (k) NOT ENFORCED")
    // one commit deleting keys across EVERY year: the entry's scope
    // spans the 1994 boundary, so its per-entry matched count cannot
    // split across it
    (0 until 800).filter(_ % 10 == 0).map(kOf).toDF("k")
      .createOrReplaceTempView("cp2_src")
    s.sql("""MERGE INTO graft_cnt.db.cp2 t USING cp2_src s ON t.k = s.k
            |WHEN MATCHED THEN DELETE""".stripMargin)
    val expected = (0 until 800).count(id =>
      y(id) >= 1994 && id % 10 != 0).toLong
    val filtered = s.sql("SELECT count(*) AS n FROM graft_cnt.db.cp2 " +
      "WHERE d >= DATE '1994-01-01'")
    assert(!planOf(filtered).contains("LocalTableScan"),
      "a straddling entry must refuse the metadata answer")
    assert(filtered.collect()(0).getLong(0) === expected)
    // the unfiltered count never cared about scope placement
    assertMetadataServed("cp2", 800L - 80L)
  }

  test("MIN/MAX push when the live entry's own predicate proves the " +
      "extremum SURVIVED; a removed extremum and a value-blind entry " +
      "both refuse to the scan") {
    val s = spark
    import s.implicits._
    mkPk("cmm")
    // interior keys deleted via the PK merge → an IN-entry over k only
    (100L to 109L).toDF("k").createOrReplaceTempView("cmm_src")
    s.sql("""MERGE INTO graft_cnt.db.cmm t USING cmm_src s ON t.k = s.k
            |WHEN MATCHED THEN DELETE""".stripMargin)
    val df = s.sql("SELECT min(k) AS mn, max(k) AS mx, " +
      "CAST(count(*) AS BIGINT) AS n FROM graft_cnt.db.cmm")
    val plan = planOf(df)
    assert(plan.contains("LocalTableScan") &&
      !plan.toLowerCase.contains("parquet"),
      s"survived MIN/MAX + COUNT must serve from metadata:\n$plan")
    assert(df.collect()(0).toSeq === Seq(0L, 999L, 990L))
    // delete the extremum key: MIN must refuse back to the scan — a
    // removed extremum makes the next-best unknowable from footers
    Seq(0L).toDF("k").createOrReplaceTempView("cmm_src2")
    s.sql("""MERGE INTO graft_cnt.db.cmm t USING cmm_src2 s ON t.k = s.k
            |WHEN MATCHED THEN DELETE""".stripMargin)
    val df2 = s.sql("SELECT min(k) AS mn FROM graft_cnt.db.cmm")
    assert(!planOf(df2).contains("LocalTableScan"),
      "a deleted extremum must refuse the metadata answer")
    assert(df2.collect()(0).getLong(0) === 1L)
    // an entry predicated on ANOTHER column is value-blind for k:
    // refuse (it might have removed the k-extremum row)
    s.sql("DELETE FROM graft_cnt.db.cmm WHERE g = 5") // .pred entry on g
    val df3 = s.sql("SELECT max(k) AS mx FROM graft_cnt.db.cmm")
    assert(!planOf(df3).contains("LocalTableScan"))
    assert(df3.collect()(0).getLong(0) === 998L) // 999 % 7 = 5: deleted
  }

  test("COUNT(col) serves non-null counts from footer null counts; an " +
      "entry on the counted column subtracts exactly (its matched rows " +
      "are provably non-null), an entry on another column refuses") {
    val s = spark
    import s.implicits._
    s.sql("DROP TABLE IF EXISTS graft_cnt.db.cnn")
    s.range(1000).select($"id".as("k"),
        when($"id" % 5 === 0, lit(null).cast("long"))
          .otherwise($"id").as("n"))
      .repartition(4)
      .writeTo("graft_cnt.db.cnn")
      .tableProperty("write.merge.mode", "merge-on-read")
      .create()
    s.sql("ALTER TABLE graft_cnt.db.cnn ADD CONSTRAINT cnn_pk " +
      "PRIMARY KEY (k) NOT ENFORCED")
    (10L until 20L).toDF("k").createOrReplaceTempView("cnn_src")
    s.sql("""MERGE INTO graft_cnt.db.cnn t USING cnn_src s ON t.k = s.k
            |WHEN MATCHED THEN DELETE""".stripMargin)
    // count over the ENTRY's own column: matched rows are non-null in
    // k by construction, so footer non-nulls minus matched is exact
    val ck = s.sql("SELECT CAST(count(k) AS BIGINT) AS n, " +
      "CAST(count(*) AS BIGINT) AS total FROM graft_cnt.db.cnn")
    val plan = planOf(ck)
    assert(plan.contains("LocalTableScan") &&
      !plan.toLowerCase.contains("parquet"),
      s"count(k) must serve from metadata:\n$plan")
    assert(ck.collect()(0).toSeq === Seq(990L, 990L))
    // count over ANOTHER column: the deleted rows' nullness in n is
    // unknowable from footers (k=10 and k=15 were null in n) — refuse
    val cn = s.sql("SELECT CAST(count(n) AS BIGINT) AS n " +
      "FROM graft_cnt.db.cnn")
    assert(!planOf(cn).contains("LocalTableScan"),
      "count over a column the entry does not cover must scan")
    assert(cn.collect()(0).getLong(0) === 792L) // 800 non-null − 8 live
  }

  test("SUM/AVG serve from the store's harvested per-file sums on a " +
      "clean table (unfiltered AND pruned), refuse under any live " +
      "entry, refuse on non-integral columns, and return after " +
      "rewrite_deletes") {
    val s = spark
    import s.implicits._
    s.sql("DROP TABLE IF EXISTS graft_cnt.db.cs1")
    s.range(1000).select($"id".as("k"), ($"id" % 5 === 0).as("flag"),
        when($"id" % 4 === 0, lit(null).cast("long"))
          .otherwise($"id" * 3).as("n"),
        ($"id" * 0.5).as("v"))
      .repartition(4)
      .writeTo("graft_cnt.db.cs1")
      .tableProperty("write.merge.mode", "merge-on-read")
      .tableProperty("write.stats.sums", "true")
      .create()
    val expSum = (0L until 1000L).filter(_ % 4 != 0).map(_ * 3).sum
    val expCnt = (0L until 1000L).count(_ % 4 != 0).toLong
    val df = s.sql("SELECT sum(n) AS sn, avg(n) AS an, sum(k) AS sk " +
      "FROM graft_cnt.db.cs1")
    val plan = planOf(df)
    assert(plan.contains("LocalTableScan") &&
      !plan.toLowerCase.contains("parquet"),
      s"clean SUM/AVG must serve from harvested sums:\n$plan")
    val row = df.collect()(0)
    assert(row.getLong(0) === expSum)
    assert(row.getDouble(1) === expSum.toDouble / expCnt)
    assert(row.getLong(2) === (0L until 1000L).sum)
    // the kill switch agrees with the scan
    withConf("spark.sql.catalog.graft.read.morAggPushdown" -> "false") {
      val scan = s.sql("SELECT sum(n) AS sn, avg(n) AS an, sum(k) AS sk " +
        "FROM graft_cnt.db.cs1")
      assert(!planOf(scan).contains("LocalTableScan"))
      assert(scan.collect()(0).toSeq === row.toSeq)
    }
    // a PRUNED sum: the consumed filter restricts to all-rows-match
    // files, whose harvested sums are exact contributions
    val pruned = s.sql("SELECT sum(k) AS sk FROM graft_cnt.db.cs1 " +
      "WHERE k >= 0")
    assert(planOf(pruned).contains("LocalTableScan"), planOf(pruned))
    assert(pruned.collect()(0).getLong(0) === (0L until 1000L).sum)
    // a DOUBLE column refuses (float sums are order-sensitive)
    val dbl = s.sql("SELECT sum(v) AS sv FROM graft_cnt.db.cs1")
    assert(!planOf(dbl).contains("LocalTableScan"),
      "non-integral SUM must scan")
    // a SIGN-MIXED integral column SERVES under the abs-sum proof
    // (Σ|values| bounds every partial the scan could form), a DECIMAL
    // money column serves catalyst's exact decimal sum, and a column
    // whose Σ|values| overflows the scan's Long accumulator REFUSES
    // even though its total fits
    s.sql("DROP TABLE IF EXISTS graft_cnt.db.cs2")
    s.range(100).select($"id".as("k"),
        when($"id" % 2 === 0, $"id").otherwise(-$"id").as("m"),
        ($"id" + 1).as("p"),
        ($"id" * 2).cast("decimal(12,2)").as("price"),
        when($"id" === 0, java.lang.Long.MAX_VALUE)
          .otherwise(lit(10L)).as("huge"))
      .repartition(2)
      .writeTo("graft_cnt.db.cs2")
      .tableProperty("write.stats.sums", "true")
      .create()
    val mixed = s.sql("SELECT sum(m) AS sm, avg(m) AS am FROM graft_cnt.db.cs2")
    assert(planOf(mixed).contains("LocalTableScan"),
      s"sign-mixed SUM under the abs-sum bound must serve:\n${planOf(mixed)}")
    val expMixed = (0L until 100L).map(i => if (i % 2 == 0) i else -i).sum
    assert(mixed.collect()(0).getLong(0) === expMixed)
    assert(mixed.collect()(0).getDouble(1) === expMixed.toDouble / 100L)
    val price = s.sql("SELECT sum(price) AS sp FROM graft_cnt.db.cs2")
    assert(planOf(price).contains("LocalTableScan"),
      s"decimal SUM must serve from harvested unscaled sums:\n${planOf(price)}")
    assert(price.collect()(0).getDecimal(0) ===
      new java.math.BigDecimal("9900.00"))
    // decimal AVG serves through SPARK'S OWN sum/count rewrite: the
    // rule pushes SUM+COUNT (both exact from metadata) and keeps the
    // decimal division in the Project, so the division semantics are
    // catalyst's in both plans — morSum itself never risks them
    val ap = s.sql("SELECT avg(price) AS ap FROM graft_cnt.db.cs2")
    assert(planOf(ap).contains("LocalTableScan"), planOf(ap))
    withConf("spark.sql.catalog.graft.read.morAggPushdown" -> "false") {
      assert(ap.collect()(0).getDecimal(0) ===
        s.sql("SELECT avg(price) AS ap FROM graft_cnt.db.cs2")
          .collect()(0).getDecimal(0))
    }
    // Σ|huge| > Long.Max: a partial CAN overflow the scan's Long
    // accumulator, so the metadata path refuses (plan-only assert —
    // the scan itself may raise under ANSI, which is the point)
    assert(!planOf(s.sql("SELECT sum(huge) AS sh FROM graft_cnt.db.cs2"))
      .contains("LocalTableScan"),
      "an abs-sum past the accumulator bound must refuse")
  }

  test("a PRUNED SUM survives a live entry scoped wholly OUTSIDE the " +
      "pruned file set: the merge touched partition B, the partition-A " +
      "sum stays a metadata answer; overall and partition-B sums refuse") {
    val s = spark
    import s.implicits._
    s.sql("DROP TABLE IF EXISTS graft_cnt.db.cs3")
    // keys RANGE-SEPARATE by partition (part 0: k<200, part 1:
    // k>=200) so the entry's footer-stats narrowing can actually
    // exclude partition A's file from its scope
    s.range(400).select($"id".as("k"),
        when($"id" < 200, 0).otherwise(1).as("part"),
        ($"id" + 1).as("n"))
      .repartition($"part")
      .writeTo("graft_cnt.db.cs3")
      .partitionedBy($"part")
      .tableProperty("write.merge.mode", "merge-on-read")
      .tableProperty("write.stats.sums", "true")
      .create()
    s.sql("ALTER TABLE graft_cnt.db.cs3 ADD CONSTRAINT cs3_pk " +
      "PRIMARY KEY (k) NOT ENFORCED")
    // delete keys 300–319 — every one inside partition B's [200,399]
    // range, outside partition A's [0,199]
    (300L until 320L).toDF("k").createOrReplaceTempView("cs3_src")
    s.sql("""MERGE INTO graft_cnt.db.cs3 t USING cs3_src s ON t.k = s.k
            |WHEN MATCHED THEN DELETE""".stripMargin)
    require(s.table("graft_cnt.db.cs3.deletes").count() >= 1L)
    val a = s.sql(
      "SELECT sum(n) AS sn FROM graft_cnt.db.cs3 WHERE part = 0")
    assert(planOf(a).contains("LocalTableScan"),
      s"partition-A SUM must survive the partition-B entry:\n${planOf(a)}")
    assert(a.collect()(0).getLong(0) === (1L to 200L).sum)
    val all = s.sql("SELECT sum(n) AS sn FROM graft_cnt.db.cs3")
    assert(!planOf(all).contains("LocalTableScan"),
      "the unfiltered SUM includes the entry's files and must refuse")
    val b = s.sql(
      "SELECT sum(n) AS sn FROM graft_cnt.db.cs3 WHERE part = 1")
    assert(!planOf(b).contains("LocalTableScan"),
      "the partition-B SUM intersects the live entry and must refuse")
    assert(b.collect()(0).getLong(0) ===
      (200L until 400L).filterNot(k => k >= 300L && k < 320L)
        .map(_ + 1).sum)
    // a live entry refuses: the deleted rows' contribution is
    // unknowable from metadata
    s.sql("ALTER TABLE graft_cnt.db.cs1 ADD CONSTRAINT cs1_pk " +
      "PRIMARY KEY (k) NOT ENFORCED")
    (0L until 50L).map(_ * 20).toDF("k")
      .createOrReplaceTempView("cs1_src")
    s.sql("""MERGE INTO graft_cnt.db.cs1 t USING cs1_src s ON t.k = s.k
            |WHEN MATCHED THEN DELETE""".stripMargin)
    val live = s.sql("SELECT sum(n) AS sn FROM graft_cnt.db.cs1")
    assert(!planOf(live).contains("LocalTableScan"),
      "SUM under a live entry must refuse to the scan")
    val expAfter = (0L until 1000L)
      .filter(k => k % 4 != 0 && k % 20 != 0).map(_ * 3).sum
    assert(live.collect()(0).getLong(0) === expAfter)
    // rewrite_deletes materializes: the NEW files' sums were harvested
    // at the rewrite commit, so the metadata path returns
    s.sql("CALL graft_cnt.system.rewrite_deletes('db.cs1')")
    val back = s.sql("SELECT sum(n) AS sn FROM graft_cnt.db.cs1")
    assert(planOf(back).contains("LocalTableScan"),
      s"post-materialization SUM must serve from metadata:\n${planOf(back)}")
    assert(back.collect()(0).getLong(0) === expAfter)
  }

  test("the O(metadata) deleteWhere entry has no count: COUNT refuses " +
      "to the scan path and stays exact") {
    val s = spark
    import s.implicits._
    s.sql("DROP TABLE IF EXISTS graft_cnt.db.c3")
    s.range(1000).select($"id".as("k"), ($"id" % 7).as("g"))
      .repartition(4).writeTo("graft_cnt.db.c3").create()
    withConf("spark.sql.catalog.graft.write.deleteMode" -> "merge-on-read") {
      s.sql("DELETE FROM graft_cnt.db.c3 WHERE k >= 900")
    }
    // entry present, count absent (never read a row) → no metadata claim
    assertScanServed("c3", 900L)
    // the .deletes observability table mirrors the distinction: the
    // count-less deleteWhere entry shows n_matched NULL (the signal
    // that rewrite_deletes would restore the COUNT fast path), while
    // c1's funnel entries carry their exact counts
    val c3d = spark.table("graft_cnt.db.c3.deletes").collect()
    assert(c3d.length == 1 && c3d.head.isNullAt(3),
      s"deleteWhere entry must show n_matched NULL, got ${c3d.toSeq}")
    val c1d = spark.table("graft_cnt.db.c1.deletes").collect()
    assert(c1d.nonEmpty && c1d.forall(r => !r.isNullAt(3)),
      s"funnel entries must carry n_matched, got ${c1d.toSeq}")
    assert(c1d.map(_.getLong(3)).sum == 100L + 50L,
      s"c1's two entries matched 100 + 50 rows, got ${c1d.toSeq}")
  }
}
