package graft

import java.nio.file.{Files, Path => JPath, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** BLOOM-FILTER FILE INDEX (BloomIndex.scala): with `write.bloom-cols`
  * the layout writer embeds parquet's native split-block bloom filters
  * and the commit-time footer pass harvests the bitsets into
  * `_bloomidx`, so scan planning drops files on point lookups that
  * min/max stats cannot prune (uniform high-cardinality keys — every
  * file's [min,max] spans the whole space). Pinned here: the
  * stats-cannot/bloom-can separation (kept counts with probing off vs
  * on), identical results both ways, proof-of-absence skips (missing
  * key → zero files), IN-list union probing, conservative keeps for
  * files written before the property existed, and the merge-on-read
  * composition — an equality-delete entry's file scope narrows to the
  * files that actually hold the matched keys. */
class BloomIndexSpec extends GraftSuite {
  private val warehouse: String = registerCatalog("graft_blm")

  spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_blm.db")

  private def counts(tbl: String): (Int, Int) =
    Option(graft.sources.FileSkippingScan.counts.get(s"db.$tbl"))
      .getOrElse((-1, -1))

  private def md5Hex(v: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(v.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def tableDir(name: String): JPath =
    Paths.get(warehouse, "db", name)

  private def headDir(name: String): JPath = {
    val log = tableDir(name).resolve("_current")
    val v = new String(Files.readAllBytes(log), "UTF-8").split("\n")
      .map(_.trim).filter(_.nonEmpty).head
    tableDir(name).resolve(v)
  }

  /** Relative paths of the head version's ONE equality entry's scope. */
  private def entryScope(name: String): Set[String] = {
    val d = headDir(name).resolve("_deletes")
    val ls = Files.list(d)
    val fs =
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".files")).toSeq
      finally ls.close()
    assert(fs.length == 1, s"expected one entry, got $fs")
    new String(Files.readAllBytes(d.resolve(fs.head)), "UTF-8")
      .split("\n").map(_.trim).filter(_.nonEmpty).toSet
  }

  /** A table whose key is a uniform hash (md5 of the id) written in
    * arrival order: every file's [min,max] spans the key space, so
    * footer stats alone can never skip a point lookup. */
  private def mkHashTable(name: String, nFiles: Int): Unit = {
    val s = spark
    import s.implicits._
    s.sql(s"DROP TABLE IF EXISTS graft_blm.db.$name")
    s.sql(s"CREATE TABLE graft_blm.db.$name (h STRING, v BIGINT) " +
      "TBLPROPERTIES ('write.bloom-cols'='h','write.bloom-ndv'='2000')")
    s.range(8000)
      .select(md5($"id".cast("string")).as("h"), ($"id" % 7).as("v"))
      .repartition(nFiles).writeTo(s"graft_blm.db.$name").append()
  }

  test("point lookup: stats keep every file, bloom keeps ~one, " +
      "results identical, missing key keeps zero") {
    val s = spark
    import s.implicits._
    mkHashTable("pt", 8)
    assert(Files.isDirectory(tableDir("pt").resolve("_bloomidx")),
      "the commit-time footer pass must have harvested a bloom store")
    val probe = md5Hex("4242")

    // probing OFF: min/max spans the space in every file — all kept
    withConf("spark.sql.catalog.graft.read.bloomSkipping" -> "false") {
      graft.sources.FileSkippingScan.counts.clear()
      val off = s.table("graft_blm.db.pt").where($"h" === probe).collect()
      assert(off.length == 1 && off.head.getLong(1) == 4242L % 7)
      assert(counts("pt") == ((8, 8)),
        s"stats alone must keep all 8 files, got ${counts("pt")}")
    }

    // probing ON: only the file(s) whose bloom admits the key plan
    graft.sources.FileSkippingScan.counts.clear()
    val on = s.table("graft_blm.db.pt").where($"h" === probe).collect()
    assert(on.length == 1 && on.head.getLong(1) == 4242L % 7)
    val (kept, total) = counts("pt")
    assert(total == 8 && kept <= 2,
      s"bloom must keep ~1 of 8 files (fpp slack 2), got $kept/$total")

    // a key that is not in the table: bloom misses are a PROOF of
    // absence — zero files planned, empty result
    graft.sources.FileSkippingScan.counts.clear()
    val none = s.table("graft_blm.db.pt")
      .where($"h" === md5Hex("not-an-id")).collect()
    assert(none.isEmpty && counts("pt")._1 == 0,
      s"missing key must plan zero files, got ${counts("pt")}")
  }

  test("IN-list probes the union of keys; conjunctions compose with stats") {
    val s = spark
    import s.implicits._
    mkHashTable("inl", 8)
    val keys = Seq("17", "2024", "7777").map(md5Hex)
    graft.sources.FileSkippingScan.counts.clear()
    val got = s.table("graft_blm.db.inl")
      .where($"h".isin(keys: _*)).agg(sum($"v")).head.getLong(0)
    assert(got == (17L % 7) + (2024L % 7) + (7777L % 7))
    val (kept, total) = counts("inl")
    assert(total == 8 && kept <= 4,
      s"three keys must keep at most 3 files (+fpp slack), got $kept")

    // conjunction: the bloom-rejected side of AND kills the file even
    // though the other conjunct matches everywhere
    graft.sources.FileSkippingScan.counts.clear()
    val and = s.table("graft_blm.db.inl")
      .where($"h" === md5Hex("absent") && $"v" >= 0L).collect()
    assert(and.isEmpty && counts("inl")._1 == 0)
  }

  test("files written before the property keep conservatively") {
    val s = spark
    import s.implicits._
    s.sql("DROP TABLE IF EXISTS graft_blm.db.mixed")
    val mk = (lo: Long, hi: Long) => s.range(lo, hi)
      .select(md5($"id".cast("string")).as("h"), ($"id" % 7).as("v"))
    // first batch: NO bloom property — files carry no filters
    mk(0L, 4000L).repartition(4).writeTo("graft_blm.db.mixed").create()
    s.sql("ALTER TABLE graft_blm.db.mixed SET TBLPROPERTIES " +
      "('write.bloom-cols'='h','write.bloom-ndv'='2000')")
    mk(4000L, 8000L).repartition(4).writeTo("graft_blm.db.mixed").append()
    // a key from the PRE-property batch: its files have no blooms and
    // must all stay; the post-property files bloom-miss and drop
    graft.sources.FileSkippingScan.counts.clear()
    val got = s.table("graft_blm.db.mixed")
      .where($"h" === md5Hex("123")).collect()
    assert(got.length == 1 && got.head.getLong(1) == 123L % 7)
    val (kept, total) = counts("mixed")
    assert(total == 8 && kept >= 4 && kept <= 5,
      s"4 statless files keep + at most 1 bloomed file, got $kept/$total")
  }

  test("float/double bloom-cols refuse pointedly (raw-bits hash vs ±0.0)") {
    val s = spark
    import s.implicits._
    s.sql("DROP TABLE IF EXISTS graft_blm.db.zd")
    // measured on vanilla Spark: with a parquet bloom on a double
    // column, the reader's own in-task row-group filtering drops a
    // stored -0.0 from a `= 0.0` probe (bit-exact hash, SQL-equal
    // values) — so the write option must refuse rather than mint
    // files that make plain reads wrong
    s.sql("CREATE TABLE graft_blm.db.zd (d DOUBLE, id BIGINT) " +
      "TBLPROPERTIES ('write.bloom-cols'='d','write.bloom-ndv'='2000')")
    val e = intercept[Exception] {
      s.range(100).select(($"id" + 0.5d).as("d"), $"id")
        .repartition(2).writeTo("graft_blm.db.zd").append()
    }
    def rootMsgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ rootMsgs(x.getCause))
    assert(rootMsgs(e).exists(_.contains("cannot be bloom-indexed")),
      s"expected the pointed float/double refusal, got ${rootMsgs(e)}")
    // nothing committed
    assert(s.table("graft_blm.db.zd").count() == 0L)
  }

  test("partitioned tables bloom per partition directory") {
    val s = spark
    import s.implicits._
    s.sql("DROP TABLE IF EXISTS graft_blm.db.partb")
    s.range(8000)
      .select(md5($"id".cast("string")).as("h"), ($"id" % 4).cast("string")
        .as("p"), ($"id" % 7).as("v"))
      .repartition(2)
      .writeTo("graft_blm.db.partb").using("parquet")
      .tableProperty("write.bloom-cols", "h")
      .tableProperty("write.bloom-ndv", "2000")
      .partitionedBy($"p").create()
    // 4 partition dirs x 2 files; the probe key lives in exactly one
    // partition AND one file — directory pruning is unavailable (no
    // partition predicate), so any skipping here is the bloom's
    graft.sources.FileSkippingScan.counts.clear()
    val got = s.table("graft_blm.db.partb")
      .where($"h" === md5Hex("4242")).collect()
    assert(got.length == 1 && got.head.getString(1) == (4242L % 4).toString)
    val (kept, total) = counts("partb")
    assert(total == 8 && kept <= 2,
      s"bloom must keep ~1 of 8 partitioned files, got $kept/$total")
  }

  test("compaction keeps the bloom index sharp (rewritten files re-harvest)") {
    val s = spark
    import s.implicits._
    mkHashTable("cmpb", 8)
    s.sql("CALL graft_blm.system.compact('db.cmpb', 4)")
    val probe = md5Hex("4242")
    graft.sources.FileSkippingScan.counts.clear()
    val got = s.table("graft_blm.db.cmpb").where($"h" === probe).collect()
    assert(got.length == 1 && got.head.getLong(1) == 4242L % 7)
    val (kept, total) = counts("cmpb")
    assert(total == 4 && kept <= 2,
      s"the compacted files must carry fresh blooms (kept ~1 of 4), " +
        s"got $kept/$total")
    // proof of absence survives the rewrite too
    graft.sources.FileSkippingScan.counts.clear()
    assert(s.table("graft_blm.db.cmpb")
      .where($"h" === md5Hex("gone")).isEmpty && counts("cmpb")._1 == 0)
    // `.files` surfaces the bloom readiness without opening a footer
    val bcols = s.table("graft_blm.db.cmpb.files")
      .select($"bloom_cols").collect().map(_.getString(0))
    assert(bcols.length == 4 && bcols.forall(_ == "h"), bcols.mkString(","))
  }

  test("multiple bloom-cols index independently; either column can skip") {
    val s = spark
    import s.implicits._
    s.sql("DROP TABLE IF EXISTS graft_blm.db.two")
    s.sql("CREATE TABLE graft_blm.db.two (h STRING, g STRING, v BIGINT) " +
      "TBLPROPERTIES ('write.bloom-cols'='h,g','write.bloom-ndv'='2000')")
    s.range(8000)
      .select(md5($"id".cast("string")).as("h"),
        md5(($"id" + 1000000L).cast("string")).as("g"), ($"id" % 7).as("v"))
      .repartition(8).writeTo("graft_blm.db.two").append()
    // h probe skips
    graft.sources.FileSkippingScan.counts.clear()
    assert(s.table("graft_blm.db.two")
      .where($"h" === md5Hex("4242")).count() == 1L)
    assert(counts("two")._1 <= 2, s"h probe over-kept ${counts("two")}")
    // g probe skips through ITS filters
    graft.sources.FileSkippingScan.counts.clear()
    assert(s.table("graft_blm.db.two")
      .where($"g" === md5Hex("1004242")).count() == 1L)
    assert(counts("two")._1 <= 2, s"g probe over-kept ${counts("two")}")
    // conjunction of an absent h and a present g: proof of absence wins
    graft.sources.FileSkippingScan.counts.clear()
    assert(s.table("graft_blm.db.two")
      .where($"h" === md5Hex("nope") && $"g" === md5Hex("1004242"))
      .isEmpty && counts("two")._1 == 0)
  }

  test("bloomSkipping=false also disables COMMIT-TIME entry scoping") {
    val s = spark
    import s.implicits._
    // a suspect sidecar must not be able to bake a wrong file scope
    // into a PERSISTED delete entry while the operator has probing
    // off — scan-time disablement could never repair that
    mkHashTable("morko", 8)
    s.sql("ALTER TABLE graft_blm.db.morko " +
      "ADD CONSTRAINT morko_pk PRIMARY KEY (h) NOT ENFORCED")
    withConf("spark.sql.catalog.graft.read.bloomSkipping" -> "false",
        "spark.sql.catalog.graft.write.rowLevelMode" -> "merge-on-read") {
      Seq(md5Hex("33")).toDF("h").createOrReplaceTempView("morko_src")
      s.sql("""MERGE INTO graft_blm.db.morko t USING morko_src s
              |ON t.h = s.h WHEN MATCHED THEN DELETE""".stripMargin)
    }
    // uniform hash key: stats cannot narrow, and bloom was OFF — the
    // entry must scope to ALL files (with probing on it scopes to ~1)
    assert(entryScope("morko").size == 8,
      s"probing-off merge must not bloom-narrow, got ${entryScope("morko")}")
    assert(s.table("graft_blm.db.morko").count() == 7999L)
  }

  test("branch and time-travel reads serve the bloom index: each head " +
      "plans a strict subset of ITS OWN files") {
    val s = spark
    import s.implicits._
    mkHashTable("ttb", 8)
    // second MAIN commit so time travel has a distinct older head
    s.range(8000, 8100)
      .select(md5($"id".cast("string")).as("h"), ($"id" % 7).as("v"))
      .repartition(2).writeTo("graft_blm.db.ttb").append()
    // branch-only append widens the BRANCH's file set; main untouched
    s.sql("CALL graft_blm.system.create_branch('db.ttb', 'work')")
    s.range(9000, 9100)
      .select(md5($"id".cast("string")).as("h"), ($"id" % 7).as("v"))
      .repartition(2).writeTo("graft_blm.db.`ttb@work`").append()
    import scala.jdk.CollectionConverters._
    def countsLike(sub: String): (Int, Int) =
      graft.sources.FileSkippingScan.counts.asScala
        .find(_._1.contains(sub)).map(_._2).getOrElse((-1, -1))
    // a branch-only key probes the branch head: its 12 files narrow to
    // the ~1 holding the key — and the same key on MAIN proves absent
    graft.sources.FileSkippingScan.counts.clear()
    val br = s.table("graft_blm.db.`ttb@work`")
      .where($"h" === md5Hex("9042")).collect()
    assert(br.length == 1 && br.head.getLong(1) == 9042L % 7)
    val (bk, bt) = countsLike("ttb")
    assert(bt == 12 && bk <= 2,
      s"branch probe must keep ~1 of the branch's 12 files, got $bk/$bt")
    graft.sources.FileSkippingScan.counts.clear()
    assert(s.table("graft_blm.db.ttb")
      .where($"h" === md5Hex("9042")).isEmpty && countsLike("ttb")._1 == 0,
      s"the branch-only key must prove absent on main: ${countsLike("ttb")}")
    // time travel to the pre-append head: an original key narrows
    // within THAT head's 8 files; a second-batch key proves absent
    graft.sources.FileSkippingScan.counts.clear()
    val tt = s.sql("SELECT v FROM graft_blm.db.ttb VERSION AS OF 1 " +
      s"WHERE h = '${md5Hex("4242")}'").collect()
    assert(tt.length == 1 && tt.head.getLong(0) == 4242L % 7)
    val (tk, ttot) = countsLike("ttb")
    assert(ttot == 8 && tk <= 2,
      s"time-travel probe must keep ~1 of the old head's 8 files, " +
        s"got $tk/$ttot")
    graft.sources.FileSkippingScan.counts.clear()
    assert(s.sql("SELECT v FROM graft_blm.db.ttb VERSION AS OF 1 " +
      s"WHERE h = '${md5Hex("8042")}'").isEmpty &&
      countsLike("ttb")._1 == 0,
      "a key appended after the travelled head must prove absent there")
  }

  test("spec evolution composes: evolve_layout appends re-harvest and " +
      "unify_layout's rewrite keeps the index sharp") {
    val s = spark
    import s.implicits._
    mkHashTable("evb", 8)
    // metadata-only evolution: the 8 legacy files relocate under
    // `_spec-<k>`; new appends land under the bucketed layout THROUGH
    // writeLayout, which applies BloomIndex.writerOptions
    s.sql("CALL graft_blm.system.evolve_layout('db.evb', 'bucket(4,v)')")
    s.range(8000, 16000)
      .select(md5($"id".cast("string")).as("h"), ($"id" % 7).as("v"))
      .writeTo("graft_blm.db.evb").append()
    import scala.jdk.CollectionConverters._
    def keptTotal(): (Int, Int) =
      graft.sources.FileSkippingScan.counts.asScala
        .filter(_._1.contains("evb")).values
        .foldLeft((0, 0)) { case ((k, t), (k2, t2)) => (k + k2, t + t2) }
    // a legacy-subtree key and a post-evolution key each narrow to ~1
    // file across the mixed-spec union
    graft.sources.FileSkippingScan.counts.clear()
    val legacy = s.table("graft_blm.db.evb")
      .where($"h" === md5Hex("4242")).collect()
    assert(legacy.length == 1 && legacy.head.getLong(1) == 4242L % 7)
    val (lk, lt) = keptTotal()
    assert(lt >= 12 && lk <= 2,
      s"mixed-spec probe must keep ~1 of all $lt files, got $lk")
    graft.sources.FileSkippingScan.counts.clear()
    val fresh = s.table("graft_blm.db.evb")
      .where($"h" === md5Hex("12042")).collect()
    assert(fresh.length == 1 && fresh.head.getLong(1) == 12042L % 7)
    assert(keptTotal()._1 <= 2,
      s"post-evolution probe over-kept ${keptTotal()}")
    graft.sources.FileSkippingScan.counts.clear()
    assert(s.table("graft_blm.db.evb")
      .where($"h" === md5Hex("nope")).isEmpty && keptTotal()._1 == 0,
      s"absence must hold across both specs, got ${keptTotal()}")
    // unify: every legacy file rewrites into the current spec — the
    // rewritten files must re-harvest (same contract as compaction)
    s.sql("CALL graft_blm.system.unify_layout('db.evb')")
    graft.sources.FileSkippingScan.counts.clear()
    val post = s.table("graft_blm.db.evb")
      .where($"h" === md5Hex("4242")).collect()
    assert(post.length == 1 && post.head.getLong(1) == 4242L % 7)
    val (uk, ut) = keptTotal()
    assert(ut > 0 && uk <= 2,
      s"post-unify probe must keep ~1 of $ut files, got $uk")
    graft.sources.FileSkippingScan.counts.clear()
    assert(s.table("graft_blm.db.evb")
      .where($"h" === md5Hex("nope")).isEmpty && keptTotal()._1 == 0,
      "absence must hold over the unified layout")
  }

  test("merge-on-read equality entries scope to the files holding the keys") {
    val s = spark
    import s.implicits._
    mkHashTable("morb", 8)
    s.sql("ALTER TABLE graft_blm.db.morb " +
      "ADD CONSTRAINT morb_pk PRIMARY KEY (h) NOT ENFORCED")
    withConf("spark.sql.catalog.graft.write.rowLevelMode" -> "merge-on-read") {
      Seq(md5Hex("11"), md5Hex("22")).toDF("h")
        .createOrReplaceTempView("morb_src")
      s.sql("""MERGE INTO graft_blm.db.morb t USING morb_src s ON t.h = s.h
              |WHEN MATCHED THEN DELETE""".stripMargin)
    }
    val scope = entryScope("morb")
    assert(scope.nonEmpty && scope.size <= 3,
      s"two keys must scope the entry to at most 2 files (+fpp slack), " +
        s"got ${scope.size}")
    assert(s.table("graft_blm.db.morb").count() == 7998L)
    assert(s.table("graft_blm.db.morb")
      .where($"h" === md5Hex("11")).count() == 0L)
  }
}
