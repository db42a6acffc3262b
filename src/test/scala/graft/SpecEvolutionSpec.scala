package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** `CALL cat.system.evolve_layout(table, spec)` — METADATA-ONLY
  * partition spec evolution (Iceberg's contract, vs `rewrite_layout`'s
  * full rewrite): the new spec applies to future writes; existing
  * files stay in their old layout under `_spec-<k>` legacy subtrees,
  * HARD-LINKED (zero data movement — pinned by inode equality), and
  * reads union per-spec scans with per-spec pruning. Pins: zero-copy
  * links, new-writes-in-new-layout, per-spec directory pruning on both
  * sides of the boundary, chained evolutions, MERGE on a mixed table
  * unifying via whole-table COW, compact unifying, clone carrying the
  * legacy sidecar, time travel across the boundary, and the refusal
  * rails (dynamic overwrite, same-spec evolve, widening a legacy
  * transform's source column). */
class SpecEvolutionSpec extends GraftSuite {
  private val warehouse: String = registerCatalog("graft_sev")

  private def tblDir(name: String): java.nio.file.Path =
    java.nio.file.Paths.get(warehouse, "db", name)

  private def catalog: graft.sources.AtomicParquetCatalog =
    spark.sessionState.catalogManager.catalog("graft_sev")
      .asInstanceOf[graft.sources.AtomicParquetCatalog]

  private def versionDirs(name: String): Seq[java.nio.file.Path] =
    catalog.versionLog(tblDir(name)).map(tblDir(name).resolve)

  private def currentVersionDir(name: String): java.nio.file.Path =
    versionDirs(name).head

  /** (relative path -> inode) of every data file under `root`. */
  private def inodes(root: java.nio.file.Path): Map[String, Any] = {
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.filter { p =>
      java.nio.file.Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith("_") &&
        !p.getFileName.toString.startsWith(".")
    }.map { p =>
      root.relativize(p).toString ->
        java.nio.file.Files.getAttribute(p, "unix:ino")
    }.toMap
    finally walk.close()
  }

  /** Distinct partition dirs (relative to the version dir) of the
    * files each scan of `df`'s executed plan actually PLANNED —
    * unwrapping the mixed-spec DispatchedPartition tags. */
  private def plannedDirs(df: org.apache.spark.sql.DataFrame): Set[String] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.datasources.FilePartition
    def scans(p: SparkPlan): Seq[BatchScanExec] = p.collect {
      case b: BatchScanExec => Seq(b)
      case q: QueryStageExec => scans(q.plan)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    }.flatten
    def files(ip: Any): Seq[String] = ip match {
      case fp: FilePartition => fp.files.map(_.urlEncodedPath).toSeq
      case other =>
        // DispatchedPartition is private[sources]; unwrap reflectively
        other.getClass.getMethods.find(_.getName == "inner")
          .map(m => files(m.invoke(other))).getOrElse(Nil)
    }
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    scans(plan).flatMap(_.inputPartitions).flatMap(files)
      .map { f =>
        val segs = f.split('/').toSeq
        val vi = segs.lastIndexWhere(_.startsWith("v-"))
        segs.slice(vi + 1, segs.length - 1).mkString("/")
      }.toSet
  }

  private def df0 = {
    import spark.implicits._
    (1 to 40).toDF("i")
      .select($"i".cast("long").as("k"), ($"i" % 4).cast("int").as("g"),
        (lit(1704067200L) + $"i" * 21600L).cast("timestamp").as("ts"),
        ($"i" * 2.5).as("v"))
  }

  test("evolve is metadata-only: old files hard-link, zero data moves") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_sev.db")
    df0.writeTo("graft_sev.db.t").using("parquet")
      .partitionedBy($"g").createOrReplace()
    val before = inodes(currentVersionDir("t"))
    assert(before.nonEmpty && before.keySet.forall(_.startsWith("g=")))
    val want = df0.orderBy($"k").collect().toSeq

    val r = spark.sql(
      "CALL graft_sev.system.evolve_layout('db.t', 'bucket(4,k)')").head()
    assert(r.getString(0) == "g" && r.getString(1) == "bucket(4,k)" &&
      r.getInt(2) == 1)

    val after = inodes(currentVersionDir("t"))
    // every pre-evolution file rides under _spec-0 with the SAME inode
    val legacy = after.filter(_._1.startsWith("_spec-0/"))
    assert(legacy.map { case (p, i) => p.stripPrefix("_spec-0/") -> i } ==
      before, "legacy files are not the same inodes (data was copied)")
    // and nothing else exists yet (no rewrite produced root files)
    assert(after.size == legacy.size)
    assert(spark.table("graft_sev.db.t").orderBy($"k").collect().toSeq ==
      want)
  }

  test("new writes land in the NEW layout; both specs prune their dirs") {
    import spark.implicits._
    // t is now spec bucket(4,k) with legacy _spec-0 = identity(g)
    val extra = (41 to 80).toDF("i")
      .select($"i".cast("long").as("k"), ($"i" % 4).cast("int").as("g"),
        (lit(1704067200L) + $"i" * 21600L).cast("timestamp").as("ts"),
        ($"i" * 2.5).as("v"))
    extra.writeTo("graft_sev.db.t").append()
    val all = inodes(currentVersionDir("t"))
    assert(all.keySet.exists(_.startsWith("_gb_k=")),
      s"appended rows did not land in the bucket layout: ${all.keySet}")
    assert(all.keySet.exists(_.startsWith("_spec-0/g=")),
      "legacy files did not ride the fast-append")
    assert(spark.table("graft_sev.db.t").count() == 80)

    // legacy-side pruning: a g filter keeps only _spec-0/g=1 among the
    // legacy dirs (native identity partition pushdown, replayed)
    val qg = spark.table("graft_sev.db.t").where($"g" === 1)
    assert(qg.count() == 20)
    val dg = plannedDirs(qg)
    assert(dg.filter(_.startsWith("_spec-0/")) == Set("_spec-0/g=1"), dg)

    // current-side pruning: a k equality statically prunes to ONE
    // bucket dir (legacy dirs all stay — g dirs cannot prove k)
    val qk = spark.table("graft_sev.db.t").where($"k" === 50L)
    assert(qk.count() == 1)
    val dk = plannedDirs(qk)
    val bucketDirs = dk.filterNot(_.startsWith("_spec-0/"))
    assert(bucketDirs.size == 1 && bucketDirs.head.startsWith("_gb_k="),
      dk)
  }

  test("chained evolution carries prior legacy subtrees forward") {
    import spark.implicits._
    val r = spark.sql(
      "CALL graft_sev.system.evolve_layout('db.t', 'days(ts)')").head()
    assert(r.getInt(2) == 2, s"expected 2 legacy specs, got $r")
    val all = inodes(currentVersionDir("t"))
    assert(all.keySet.exists(_.startsWith("_spec-0/g=")))
    assert(all.keySet.exists(_.startsWith("_spec-1/_gb_k=")))
    assert(spark.table("graft_sev.db.t").count() == 80)
    // a day filter prunes the ROOT (days) part... which has no files
    // yet; correctness across three layouts:
    assert(spark.table("graft_sev.db.t").where($"g" === 2).count() == 20)
  }

  test("MERGE on a mixed table runs whole-table COW and UNIFIES the spec") {
    import spark.implicits._
    spark.range(1, 3).select(($"id" * 10).as("k"), lit(999.0).as("nv"))
      .createOrReplaceTempView("sev_src")
    spark.sql("""MERGE INTO graft_sev.db.t t USING sev_src s
                |ON t.k = s.k
                |WHEN MATCHED THEN UPDATE SET v = s.nv""".stripMargin)
    val v = currentVersionDir("t")
    assert(!java.nio.file.Files.exists(v.resolve("_legacy_specs.txt")),
      "post-merge version still carries legacy specs — COW did not unify")
    val all = inodes(v)
    assert(all.keySet.forall(_.startsWith("_gd_ts=")),
      s"unified layout should be days(ts): ${all.keySet.take(5)}")
    val got = spark.table("graft_sev.db.t")
      .where($"k" isin (10L, 20L)).select($"v").collect().map(_.getDouble(0))
    assert(got.toSeq == Seq(999.0, 999.0))
    assert(spark.table("graft_sev.db.t").count() == 80)
  }

  test("compact unifies a mixed table into the current spec") {
    import spark.implicits._
    df0.writeTo("graft_sev.db.c").using("parquet")
      .partitionedBy($"g").createOrReplace()
    spark.sql(
      "CALL graft_sev.system.evolve_layout('db.c', 'bucket(4,k)')").collect()
    (41 to 50).toDF("i")
      .select($"i".cast("long").as("k"), ($"i" % 4).cast("int").as("g"),
        (lit(1704067200L) + $"i" * 21600L).cast("timestamp").as("ts"),
        ($"i" * 2.5).as("v"))
      .writeTo("graft_sev.db.c").append()
    spark.sql("CALL graft_sev.system.compact('db.c', 1)").collect()
    val v = currentVersionDir("c")
    assert(!java.nio.file.Files.exists(v.resolve("_legacy_specs.txt")))
    val all = inodes(v)
    assert(all.keySet.forall(_.startsWith("_gb_k=")), all.keySet.take(5))
    assert(spark.table("graft_sev.db.c").count() == 50)
  }

  test("dynamic overwrite on a mixed table is refused, not wrong") {
    import spark.implicits._
    df0.writeTo("graft_sev.db.d").using("parquet")
      .partitionedBy($"g").createOrReplace()
    spark.sql(
      "CALL graft_sev.system.evolve_layout('db.d', 'bucket(4,k)')").collect()
    withConf("spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      val e = intercept[Exception] {
        spark.sql("""INSERT OVERWRITE graft_sev.db.d
                    |SELECT k, g, ts, v FROM graft_sev.db.d VERSION AS OF 0
                    |WHERE k <= 4""".stripMargin)
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("mixed-spec")), e.toString)
    }
  }

  test("clone carries the legacy sidecar; time travel crosses the boundary") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS graft_sev.db.d2")
    spark.sql("CALL graft_sev.system.clone('db.d', 'db.d2')").collect()
    assert(spark.table("graft_sev.db.d2").count() == 40)
    // the pre-evolution snapshot still reads under its own layout
    assert(spark.sql(
      "SELECT count(*) FROM graft_sev.db.d VERSION AS OF 1")
      .head().getLong(0) == 40)
  }

  test("unify_layout: partial compaction — current-layout files hard-link, " +
      "legacy subtree rewritten, deletes split correctly, SPJ returns") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_sev.db")
    df0.writeTo("graft_sev.db.u").using("parquet")
      .partitionedBy($"g").createOrReplace()
    spark.sql(
      "CALL graft_sev.system.evolve_layout('db.u', 'bucket(4,k)')").collect()
    (41 to 80).toDF("i")
      .select($"i".cast("long").as("k"), ($"i" % 4).cast("int").as("g"),
        (lit(1704067200L) + $"i" * 21600L).cast("timestamp").as("ts"),
        ($"i" * 2.5).as("v"))
      .writeTo("graft_sev.db.u").append()
    // a MoR delete whose files span BOTH layouts: k 20..60 hits the
    // legacy identity(g) files (k<=40) and the bucket files (k>40)
    withConf("spark.sql.catalog.graft.write.deleteMode" -> "merge-on-read") {
      spark.sql("DELETE FROM graft_sev.db.u WHERE k >= 20 AND k <= 60")
    }
    val pre = currentVersionDir("u")
    // data files only: the delete sidecar's entries are re-MATERIALIZED
    // by the restricted carry (same ids, intersected manifests), so
    // their files are not inode-stable (nor data)
    val rootBefore = inodes(pre).filterNot(kv =>
      kv._1.startsWith("_spec-") || kv._1.startsWith("_deletes/"))
    assert(rootBefore.nonEmpty)
    // the MIXED table joins with exchanges (SpecUnionScan declines
    // key-grouped reporting on purpose — two specs, no single grouping)
    (1L to 100L).map(i => (i, i * 1.0)).toDF("k", "dv")
      .writeTo("graft_sev.db.u_dim").using("parquet")
      .partitionedBy(bucket(4, $"k")).createOrReplace()
    // AQE off for the probe: the adaptive wrapper hides exchanges
    // from a static executedPlan walk until execution finalizes it
    def spjShuffles(): Int =
      withConf("spark.sql.sources.v2.bucketing.enabled" -> "true",
          "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.enabled" -> "false") {
        val j = spark.table("graft_sev.db.u")
          .join(spark.table("graft_sev.db.u_dim"), Seq("k"))
          .groupBy($"k").agg(sum($"v" + $"dv"))
        var n = 0
        j.queryExecution.executedPlan.foreachUp {
          case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
            n += 1
          case _ => ()
        }
        n
      }
    assert(spjShuffles() > 0, "mixed-spec read unexpectedly reported SPJ")

    val r = spark.sql("CALL graft_sev.system.unify_layout('db.u')").head()
    assert(r.getInt(1) == 1 && r.getLong(2) > 0L, s"unify summary: $r")
    val v = currentVersionDir("u")
    assert(!java.nio.file.Files.exists(v.resolve("_legacy_specs.txt")))
    val after = inodes(v).filterNot(_._1.startsWith("_deletes/"))
    assert(after.keySet.forall(_.startsWith("_gb_k=")),
      s"unified layout should be bucket(4,k): ${after.keySet.take(5)}")
    // the current-layout fraction was NEVER rewritten (cost claim)
    rootBefore.foreach { case (rel, ino) =>
      assert(after.get(rel).contains(ino),
        s"current-layout file $rel was rewritten by the PARTIAL compaction")
    }
    // rows: 80 - 41 deleted (k in 20..60) = 39; deletes stay exact on
    // both the rewritten legacy rows and the linked current rows
    assert(spark.table("graft_sev.db.u").count() == 39)
    assert(spark.table("graft_sev.db.u").where($"k" === 10L).count() == 1)
    // k=30: a LEGACY row — its delete was materialized by the rewrite
    assert(spark.table("graft_sev.db.u").where($"k" === 30L).count() == 0)
    // k=50: a CURRENT-layout row — its delete survives as the carried,
    // file-restricted entry and still applies on read
    assert(spark.table("graft_sev.db.u").where($"k" === 50L).count() == 0)
    // k=70: outside the deleted range, must survive in the new layout
    assert(spark.table("graft_sev.db.u").where($"k" === 70L).count() == 1)
    // idempotence rail: a second unify refuses (nothing legacy left)
    val e = intercept[Exception] {
      spark.sql("CALL graft_sev.system.unify_layout('db.u')").collect()
    }
    assert(e.getMessage.contains("nothing to unify"), e.getMessage)
    // after materializing the residual delete entries, the unified
    // single-spec table joins its co-bucketed dim with ZERO exchanges
    spark.sql("CALL graft_sev.system.rewrite_deletes('db.u')").collect()
    assert(spjShuffles() == 0,
      "SPJ did not come back after unify_layout + rewrite_deletes")
    assert(spark.table("graft_sev.db.u").count() == 39)
  }

  test("table_changes across unify_layout reports NOTHING: carried " +
      "delete entries keep their ids, rewritten rows cancel exactly") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_sev.db")
    df0.writeTo("graft_sev.db.u2").using("parquet")
      .partitionedBy($"g").createOrReplace()
    spark.sql(
      "CALL graft_sev.system.evolve_layout('db.u2', 'bucket(4,k)')").collect()
    (41 to 80).toDF("i")
      .select($"i".cast("long").as("k"), ($"i" % 4).cast("int").as("g"),
        (lit(1704067200L) + $"i" * 21600L).cast("timestamp").as("ts"),
        ($"i" * 2.5).as("v"))
      .writeTo("graft_sev.db.u2").append()
    // a POSITIONAL MoR update (no PK) on CURRENT-layout rows: its
    // ordinal sidecar survives the unify's restricted carry — the
    // exact entry shape that was re-reported as fresh CDC deletes
    // when the carry minted new ids
    withConf("spark.sql.catalog.graft.write.rowLevelMode" -> "merge-on-read") {
      spark.sql(
        "UPDATE graft_sev.db.u2 SET v = -1.0 WHERE k = 50 OR k = 60")
    }
    val head = currentVersionDir("u2")
    val ls = java.nio.file.Files.list(head.resolve("_deletes"))
    val hasPos =
      try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala.exists(_.getFileName.toString.endsWith(".pos"))
      } finally ls.close()
    assert(hasPos, "the PK-less update must land a positional sidecar")
    spark.sql("CALL graft_sev.system.unify_layout('db.u2')").collect()
    // the unify commit is pure reorganization: rewritten legacy rows
    // cancel in the exceptAll, carried entries are NOT new (same ids)
    val ch = graft.sources.AtomicParquetCatalog
      .tableChanges(spark, "graft_sev.db.u2", fromCommitsBack = 1)
    assert(ch.count() == 0L,
      s"unify must report zero row-level changes, got ${ch.count()}: " +
        s"${ch.limit(5).collect().toSeq}")
    // ...while the carried entry still APPLIES on read
    assert(spark.table("graft_sev.db.u2").where($"k" === 50L)
      .select("v").head.getDouble(0) == -1.0)
    assert(spark.table("graft_sev.db.u2").count() == 80)
  }

  test("a small mixed-spec table still broadcasts: the union scan's " +
      "statistics survive spec evolution (disk-size floor as fallback)") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_sev.db")
    df0.writeTo("graft_sev.db.bsm").using("parquet")
      .partitionedBy($"g").createOrReplace()
    spark.sql(
      "CALL graft_sev.system.evolve_layout('db.bsm', 'bucket(4,k)')").collect()
    (41 to 60).toDF("i")
      .select($"i".cast("long").as("k"), ($"i" % 4).cast("int").as("g"),
        (lit(1704067200L) + $"i" * 21600L).cast("timestamp").as("ts"),
        ($"i" * 2.5).as("v"))
      .writeTo("graft_sev.db.bsm").append()
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val big = spark.range(1L, 100000L)
        .select($"id".as("k"), ($"id" * 2.0).as("bv"))
      val j = big.join(spark.table("graft_sev.db.bsm"), Seq("k"))
      val hasBroadcast = j.queryExecution.executedPlan.exists {
        case _: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
          true
        case _ => false
      }
      assert(hasBroadcast,
        "a 60-row mixed-spec table lost its broadcast decision — the " +
          s"union scan reported no size:\n${j.queryExecution.executedPlan}")
      assert(j.count() == 60)
    }
  }

  test("refusals: same-spec evolve; widening a legacy transform's source") {
    import spark.implicits._
    val e1 = intercept[Exception] {
      spark.sql(
        "CALL graft_sev.system.evolve_layout('db.d', 'bucket(4,k)')")
        .collect()
    }
    assert(e1.getMessage.contains("nothing to evolve"), e1.getMessage)
    // k is BIGINT already; build a fresh INT-keyed table to test widening
    (1 to 10).toDF("i")
      .select($"i".as("ki"), ($"i" % 2).as("g2"))
      .writeTo("graft_sev.db.w").using("parquet")
      .partitionedBy(bucket(4, $"ki")).createOrReplace()
    spark.sql("CALL graft_sev.system.evolve_layout('db.w', 'g2')").collect()
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE graft_sev.db.w ALTER COLUMN ki TYPE BIGINT")
    }
    assert(e2.getMessage.contains("legacy"), e2.getMessage)
    assert(spark.table("graft_sev.db.w").count() == 10)
  }
}
