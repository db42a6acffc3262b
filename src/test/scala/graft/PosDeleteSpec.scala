package graft

import java.nio.file.{Files, Path => JPath, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** POSITIONAL merge-on-read deletes (Iceberg v2's second delete-file
  * format) + the `_file`/`_pos` metadata columns: tables with NO usable
  * PRIMARY KEY get O(changed rows) MERGE/UPDATE/DELETE too — matched
  * rows are addressed by (file, ordinal) instead of a key, the pairs
  * land as a `.pos` sidecar entry, and reads drop exactly those rows
  * by probing the parquet row index. Pins: inode-zero-rewrite, exact
  * application (including duplicate rows — a key could never tell them
  * apart), user-facing `_file`/`_pos` queries, rewrite_deletes
  * materialization, snapshot scoping, CDC reporting, and the COW
  * interplay. */
class PosDeleteSpec extends GraftSuite {
  private val warehouse: String = registerCatalog("graft_pos")

  spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_pos.db")

  private def tableDir(name: String): JPath =
    Paths.get(warehouse, "db", name)

  private def versions(name: String): Seq[String] = {
    val log = tableDir(name).resolve("_current")
    new String(Files.readAllBytes(log), "UTF-8").split("\n").toSeq
      .map(_.trim).filter(_.nonEmpty)
  }

  private def headDir(name: String): JPath =
    tableDir(name).resolve(versions(name).head)

  private def dataInodes(v: JPath): Map[String, Any] = {
    val walk = Files.walk(v)
    try walk.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".") &&
        !v.relativize(p).toString.split("/").exists(_.startsWith("_"))
    }.map(p => v.relativize(p).toString ->
      Files.getAttribute(p, "unix:ino")).toMap
    finally walk.close()
  }

  private def posEntryCount(v: JPath): Int = {
    val d = v.resolve("_deletes")
    if (!Files.isDirectory(d)) 0
    else {
      val ls = Files.list(d)
      try ls.iterator().asScala.count(_.getFileName.toString.endsWith(".pos"))
      finally ls.close()
    }
  }

  test("PK-less MoR MERGE: positional entry, every base file hard-links") {
    import spark.implicits._
    // NO primary key declared — equality deletes are impossible here
    (1L to 100L).map(i => (i, s"grp${i % 4}", i * 1.0))
      .toDF("id", "grp", "v")
      .writeTo("graft_pos.db.p1").using("parquet")
      .tableProperty("write.merge.mode", "merge-on-read")
      .tableProperty("write.update.mode", "merge-on-read")
      .tableProperty("write.delete.mode", "merge-on-read")
      .partitionedBy(col("grp")).createOrReplace()
    val base = headDir("p1")
    val baseInodes = dataInodes(base)
    assert(baseInodes.nonEmpty)

    // scattered keys: 1..4 hit all four partitions
    Seq((1L, "gX", -1.0), (2L, "gY", -2.0), (3L, "gZ", -3.0),
        (200L, "gN", 200.0))
      .toDF("id", "grp", "v").createOrReplaceTempView("psrc")
    spark.sql("""MERGE INTO graft_pos.db.p1 t USING psrc s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")

    val head = headDir("p1")
    val headInodes = dataInodes(head)
    baseInodes.foreach { case (rel, ino) =>
      assert(headInodes.get(rel).contains(ino),
        s"base file $rel was REWRITTEN by a positional MoR merge")
    }
    assert(headInodes.size > baseInodes.size, "no new delta files landed")
    assert(posEntryCount(head) == 1,
      s"expected one positional entry, got ${posEntryCount(head)}")

    val got = spark.table("graft_pos.db.p1").orderBy("id")
      .as[(Long, String, Double)].collect()
    assert(got.length == 101)
    assert(got.find(_._1 == 1L).get == ((1L, "gX", -1.0)))
    assert(got.find(_._1 == 2L).get == ((2L, "gY", -2.0)))
    assert(got.find(_._1 == 200L).get == ((200L, "gN", 200.0)))
    assert(got.find(_._1 == 4L).get == ((4L, "grp0", 4.0)))
    // time travel still serves the pre-merge rows
    val old = spark.sql("SELECT * FROM graft_pos.db.p1 VERSION AS OF 1")
    assert(old.count() == 100)
    assert(old.where($"id" === 1L).select("v").as[Double].head() == 1.0)
  }

  test("snapshot scoping: a later append's rows are untouched even at " +
      "the same values") {
    import spark.implicits._
    // re-append a row identical to a DELETED one: ordinals address the
    // OLD file only, so the new row must survive
    withConf("spark.sql.catalog.graft.write.deleteMode" -> "merge-on-read") {
      // untranslatable predicate (modulo) → the positional delta path,
      // NOT the predicate-sidecar path
      spark.sql("DELETE FROM graft_pos.db.p1 WHERE id % 10 = 7 AND id <= 100")
      assert(spark.table("graft_pos.db.p1").where($"id" === 7L).count() == 0)
      Seq((7L, "grp3", 7.0)).toDF("id", "grp", "v")
        .writeTo("graft_pos.db.p1").append()
      assert(spark.table("graft_pos.db.p1").where($"id" === 7L).count() == 1,
        "the re-appended row was eaten by an old positional entry")
    }
  }

  test("duplicate rows: positional UPDATE touches each row individually " +
      "(a key-based delete could never tell them apart)") {
    import spark.implicits._
    // two IDENTICAL rows — no possible key discriminates them
    Seq((1L, 5.0), (1L, 5.0), (2L, 9.0)).toDF("id", "v")
      .writeTo("graft_pos.db.pdup").using("parquet")
      .tableProperty("write.update.mode", "merge-on-read")
      .createOrReplace()
    val baseInodes = dataInodes(headDir("pdup"))
    spark.sql("UPDATE graft_pos.db.pdup SET v = v + 1 WHERE id = 1")
    val headInodes = dataInodes(headDir("pdup"))
    baseInodes.foreach { case (rel, ino) =>
      assert(headInodes.get(rel).contains(ino), s"$rel rewritten")
    }
    val got = spark.table("graft_pos.db.pdup").orderBy("id", "v")
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 6.0), (1L, 6.0), (2L, 9.0)),
      s"duplicate-row update wrong: $got")
  }

  test("_file/_pos metadata columns answer user queries") {
    import spark.implicits._
    val rows = spark.sql(
      "SELECT id, _file, _pos FROM graft_pos.db.pdup ORDER BY id, _pos")
      .collect()
    assert(rows.length == 3)
    // every _file is a version-relative parquet path; ordinals are
    // per-file dense from 0
    rows.foreach { r =>
      assert(r.getString(1).endsWith(".parquet"), r.getString(1))
      assert(!r.getString(1).startsWith("/"), "not version-relative")
      assert(r.getLong(2) >= 0L)
    }
    // count(*) with positional deletes live still filters exactly
    assert(spark.table("graft_pos.db.pdup").count() == 3)
    // a metadata-ONLY projection (no data columns in the scan) still
    // serves: per-file row counts via _file alone
    val perFile = spark.sql(
      "SELECT _file, count(*) AS n FROM graft_pos.db.pdup GROUP BY _file")
      .collect()
    assert(perFile.map(_.getLong(1)).sum == 3L, perFile.mkString(", "))
  }

  test("rewrite_deletes materializes positional entries") {
    import spark.implicits._
    val before = spark.table("graft_pos.db.p1").orderBy("id", "v")
      .as[(Long, String, Double)].collect().toSeq
    spark.sql("CALL graft_pos.system.rewrite_deletes('db.p1')")
    val head = headDir("p1")
    assert(posEntryCount(head) == 0, "live positional entries remain")
    val after = spark.table("graft_pos.db.p1").orderBy("id", "v")
      .as[(Long, String, Double)].collect().toSeq
    assert(after == before, "materialization changed the rows")
  }

  test("table_changes reports a positional delete as row-level deletes") {
    import spark.implicits._
    Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("id", "v")
      .writeTo("graft_pos.db.pcdc").using("parquet")
      .tableProperty("write.delete.mode", "merge-on-read")
      .createOrReplace()
    spark.sql("DELETE FROM graft_pos.db.pcdc WHERE id % 2 = 1")
    val head = headDir("pcdc")
    assert(posEntryCount(head) == 1)
    val changes = graft.sources.AtomicParquetCatalog
      .tableChanges(spark, "graft_pos.db.pcdc", 1, 0)
      .select("_change_type", "id").as[(String, Long)].collect().toSet
    assert(changes == Set(("delete", 1L), ("delete", 3L)),
      s"CDC over the positional delete read $changes")
  }

  test("a COW rewrite over live positional deletes does not resurrect") {
    import spark.implicits._
    // pcdc has one live positional entry (ids 1 and 3 deleted); a COW
    // UPDATE (mode unset ⇒ copy-on-write) must apply it while rewriting
    spark.sql("UPDATE graft_pos.db.pcdc SET v = v * 10 WHERE id = 2")
    val got = spark.table("graft_pos.db.pcdc").orderBy("id")
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((2L, 20.0)),
      s"COW over positional deletes resurrected rows: $got")
  }

  test("the max-delete-keys cap applies to positional ids too") {
    import spark.implicits._
    (1L to 50L).map(i => (i, i * 1.0)).toDF("id", "v")
      .writeTo("graft_pos.db.pcap").using("parquet")
      .tableProperty("write.update.mode", "merge-on-read")
      .tableProperty("write.mor.max-delete-keys", "5")
      .createOrReplace()
    val e = intercept[Exception] {
      spark.sql("UPDATE graft_pos.db.pcap SET v = 0 WHERE id % 3 = 0")
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("copy-on-write")),
      s"wrong error: ${msgs(e).mkString(" | ")}")
    assert(spark.table("graft_pos.db.pcap").where($"v" === 0.0).count() == 0,
      "the refused update committed rows")
  }

  test("spec evolution rebases positional entry paths into the legacy " +
      "subtree; unify_layout materializes their share") {
    import spark.implicits._
    (1L to 40L).map(i => (i, (i % 4).toInt, i * 1.0)).toDF("id", "g", "v")
      .writeTo("graft_pos.db.pevo").using("parquet")
      .tableProperty("write.update.mode", "merge-on-read")
      .partitionedBy(col("g")).createOrReplace()
    spark.sql("UPDATE graft_pos.db.pevo SET v = -v WHERE id % 5 = 0")
    assert(posEntryCount(headDir("pevo")) == 1)
    // metadata-only evolve: old files (and the entry's paths) relocate
    // under _spec-0; the positional rows must stay deleted
    spark.sql(
      "CALL graft_pos.system.evolve_layout('db.pevo', 'bucket(4,id)')")
      .collect()
    val neg = spark.table("graft_pos.db.pevo").where($"v" < 0).count()
    assert(neg == 8, s"positional deletes lost across evolve ($neg)")
    assert(spark.table("graft_pos.db.pevo").count() == 40)
    // new-layout rows with ordinals colliding with the old entry's
    // must survive (paths, not bare ordinals, scope the entry)
    (101L to 105L).map(i => (i, (i % 4).toInt, i * 1.0)).toDF("id", "g", "v")
      .writeTo("graft_pos.db.pevo").append()
    assert(spark.table("graft_pos.db.pevo").count() == 45)
    // partial unification materializes the legacy share exactly
    spark.sql("CALL graft_pos.system.unify_layout('db.pevo')").collect()
    assert(spark.table("graft_pos.db.pevo").where($"v" < 0).count() == 8)
    assert(spark.table("graft_pos.db.pevo").count() == 45)
    assert(spark.table("graft_pos.db.pevo")
      .where($"id" === 5L).select("v").as[Double].head() == -5.0)
  }

  test("surgical row repair: DELETE by (_file, _pos) predicate removes " +
      "exactly one of two identical rows") {
    import spark.implicits._
    // the 100 TB operator story: one corrupt row, no key to name it —
    // address it by where it sits
    Seq((1L, 5.0), (1L, 5.0)).toDF("id", "v").coalesce(1)
      .writeTo("graft_pos.db.psurg").using("parquet")
      .tableProperty("write.delete.mode", "merge-on-read")
      .createOrReplace()
    val target = spark.sql(
      "SELECT _file, _pos FROM graft_pos.db.psurg ORDER BY _pos").head()
    val (f, p) = (target.getString(0), target.getLong(1))
    val baseInodes = dataInodes(headDir("psurg"))
    spark.sql("DELETE FROM graft_pos.db.psurg " +
      s"WHERE _file = '$f' AND _pos = $p")
    val headInodes = dataInodes(headDir("psurg"))
    baseInodes.foreach { case (rel, ino) =>
      assert(headInodes.get(rel).contains(ino), s"$rel rewritten")
    }
    assert(posEntryCount(headDir("psurg")) == 1)
    val got = spark.table("graft_pos.db.psurg")
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 5.0)),
      s"surgical delete removed the wrong rows: $got")
  }

  test("MERGE ... NOT MATCHED BY SOURCE deletes through the positional " +
      "delta path") {
    import spark.implicits._
    (1L to 10L).map(i => (i, i * 1.0)).toDF("id", "v")
      .writeTo("graft_pos.db.pnmbs").using("parquet")
      .tableProperty("write.merge.mode", "merge-on-read")
      .createOrReplace()
    val baseInodes = dataInodes(headDir("pnmbs"))
    Seq((2L, 22.0), (4L, 44.0)).toDF("id", "v")
      .createOrReplaceTempView("pnmbs_src")
    spark.sql("""MERGE INTO graft_pos.db.pnmbs t USING pnmbs_src s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    val headInodes = dataInodes(headDir("pnmbs"))
    baseInodes.foreach { case (rel, ino) =>
      assert(headInodes.get(rel).contains(ino), s"$rel rewritten")
    }
    val got = spark.table("graft_pos.db.pnmbs").orderBy("id")
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((2L, 22.0), (4L, 44.0)),
      s"NMBS positional merge wrong: $got")
  }

  test("an equality-keyed table still uses equality deletes (positional " +
      "is the fallback, not a replacement)") {
    import spark.implicits._
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v")
      .writeTo("graft_pos.db.peq").using("parquet")
      .tableProperty("write.update.mode", "merge-on-read")
      .createOrReplace()
    spark.sql("ALTER TABLE graft_pos.db.peq " +
      "ADD CONSTRAINT peq_pk PRIMARY KEY (id) NOT ENFORCED")
    spark.sql("UPDATE graft_pos.db.peq SET v = -v WHERE id = 1")
    val head = headDir("peq")
    assert(posEntryCount(head) == 0, "PK table wrote a positional entry")
    val d = head.resolve("_deletes")
    val ls = Files.list(d)
    val preds =
      try ls.iterator().asScala.count(_.getFileName.toString.endsWith(".pred"))
      finally ls.close()
    assert(preds == 1)
  }
}
