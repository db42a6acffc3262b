package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** The atomic-replace contract of graft.sources.AtomicParquetCatalog —
  * the claims Pipeline's docs could previously only assert are exercised
  * here: RTAS plans through the STAGED (atomic) path, a failed replace
  * leaves the committed table untouched, a reader pinned before the swap
  * still reads its full old version afterwards, and INSERT OVERWRITE
  * swaps atomically too. Plus the medallion integration: silver+gold run
  * against this catalog through Pipeline.writeTable's V2 RTAS branch.
  */
class AtomicCatalogSpec extends GraftSuite {
  private val warehouse: String = registerCatalog("graft_atomic")

  test("createOrReplace is staged RTAS: readable, partitioned, replaceable") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db")
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0))
      .toDF("id", "part", "v")
      .writeTo("graft_atomic.db.t1").using("parquet")
      .partitionedBy(col("part"))
      .createOrReplace()
    val got = spark.table("graft_atomic.db.t1").orderBy("id")
      .as[(Long, String, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(1L, 2L, 3L))
    // partition filter prunes to the matching rows
    val aOnly = spark.table("graft_atomic.db.t1")
      .where($"part" === "a").select(sum($"v")).head().getDouble(0)
    assert(aOnly == 40.0)
    // the plan is the ATOMIC exec, not drop-then-create (V2 commands run
    // eagerly at planning, so this both inspects AND executes the replace)
    val qe = spark.sessionState.executePlan(
      spark.sessionState.sqlParser.parsePlan(
        "REPLACE TABLE graft_atomic.db.t1 USING parquet AS SELECT 1 AS id"))
    assert(qe.executedPlan.toString.contains("AtomicReplaceTableAsSelect"),
      s"RTAS did not plan through the staged path:\n${qe.executedPlan}")
    assert(spark.table("graft_atomic.db.t1").collect().map(_.getInt(0)).toSeq
      == Seq(1))
  }

  test("a failed RTAS leaves the committed version untouched") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db")
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v")
      .writeTo("graft_atomic.db.t2").using("parquet").createOrReplace()
    val boom = udf((i: Long) => {
      if (i > 2) throw new RuntimeException("mid-write failure"); i
    })
    intercept[Exception] {
      spark.range(10).select(boom($"id").as("id"), lit(9.9).as("v"))
        .writeTo("graft_atomic.db.t2").using("parquet").createOrReplace()
    }
    val after = spark.table("graft_atomic.db.t2").orderBy("id")
      .as[(Long, Double)].collect().toSeq
    assert(after == Seq((1L, 1.0), (2L, 2.0)),
      s"failed replace corrupted the table: $after")
  }

  test("a reader pinned before the swap keeps its full old version") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db")
    spark.range(100).select($"id", lit("old").as("tag"))
      .writeTo("graft_atomic.db.t3").using("parquet").createOrReplace()
    // pin a reader (resolves _current at load)
    val pinned = spark.table("graft_atomic.db.t3").cache()
    assert(pinned.count() == 100)
    // swap to a new version underneath it
    spark.range(7).select($"id", lit("new").as("tag"))
      .writeTo("graft_atomic.db.t3").using("parquet").createOrReplace()
    // the pinned reader still serves its complete old version: the old
    // directory is immutable, and inside the retention window (`history`,
    // default 3 previous versions) no commit deletes it. The guarantee is
    // BOUNDED: a reader pinned more than `history` commits back loses its
    // directory to the retention vacuum, exactly like an expired Iceberg
    // snapshot (asserted below in the past-window test)...
    pinned.unpersist()
    assert(pinned.count() == 100, "pinned reader tore across versions")
    assert(pinned.where($"tag" === "new").count() == 0)
    // ...while a fresh load sees the new version, completely
    val fresh = spark.table("graft_atomic.db.t3")
    assert(fresh.count() == 7)
    assert(fresh.where($"tag" =!= "new").count() == 0)
  }

  test("INSERT INTO appends; INSERT OVERWRITE swaps atomically") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db")
    Seq((1L, "x")).toDF("id", "s")
      .writeTo("graft_atomic.db.t4").using("parquet").createOrReplace()
    spark.sql("INSERT INTO graft_atomic.db.t4 VALUES (2, 'y')")
    assert(spark.table("graft_atomic.db.t4").count() == 2)
    spark.sql("INSERT OVERWRITE graft_atomic.db.t4 VALUES (9, 'z')")
    val after = spark.table("graft_atomic.db.t4")
      .as[(Long, String)].collect().toSeq
    assert(after == Seq((9L, "z")))
  }

  test("a writer killed mid-RTAS leaves readers on the old version; dropTable sweeps the orphan") {
    import org.apache.spark.sql.connector.catalog.Identifier
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db")
    Seq((1L, "committed"), (2L, "committed")).toDF("id", "s")
      .writeTo("graft_atomic.db.t5").using("parquet").createOrReplace()
    val cat = spark.sessionState.catalogManager.catalog("graft_atomic")
      .asInstanceOf[graft.sources.AtomicParquetCatalog]
    val ident = Identifier.of(Array("db"), "t5")
    val dir = java.nio.file.Paths.get(warehouse, "db", "t5")
    val before = cat.versionLog(dir)
    // stage a replace and write its data, then "die" before the commit:
    // stageReplace creates the not-yet-visible version dir, and the data
    // write lands inside it — exactly the on-disk state of a writer
    // killed between its last data byte and the pointer swap
    val schema = spark.table("graft_atomic.db.t5").schema
    cat.stageReplace(ident, schema, Array.empty,
      java.util.Collections.emptyMap[String, String]())
    val orphan = java.nio.file.Files.list(dir).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("v-") && !before.contains(n)).toSeq
    assert(orphan.size == 1, s"expected one staged dir, got $orphan")
    spark.range(999).select($"id", lit("torn").as("s"))
      .write.mode("append").parquet(dir.resolve(orphan.head).toString)
    // a concurrent reader sees the OLD committed version, whole
    val seen = spark.table("graft_atomic.db.t5")
      .as[(Long, String)].collect().toSeq.sorted
    assert(seen == Seq((1L, "committed"), (2L, "committed")),
      s"mid-RTAS crash leaked into readers: $seen")
    // the orphan never entered the snapshot log
    assert(cat.versionLog(dir) == before)
    // ... and the next dropTable sweeps the whole table dir, orphan included
    assert(cat.dropTable(ident))
    assert(!java.nio.file.Files.exists(dir), "dropTable left the orphan")
  }

  test("VERSION AS OF time travel with retention pruning") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db")
    def put(tag: String, n: Int): Unit =
      spark.range(n).select($"id", lit(tag).as("tag"))
        .writeTo("graft_atomic.db.tt").using("parquet").createOrReplace()
    put("v1", 3); put("v2", 5); put("v3", 7)
    // 0 = current, k = k commits back
    assert(spark.sql("SELECT count(*) FROM graft_atomic.db.tt VERSION AS OF 0")
      .head().getLong(0) == 7)
    assert(spark.sql("SELECT count(*) FROM graft_atomic.db.tt VERSION AS OF 1")
      .head().getLong(0) == 5)
    assert(spark.sql(
      "SELECT DISTINCT tag FROM graft_atomic.db.tt VERSION AS OF 2")
      .head().getString(0) == "v1")
    // an exact v-<uuid> name from the log resolves too
    val cat = spark.sessionState.catalogManager.catalog("graft_atomic")
      .asInstanceOf[graft.sources.AtomicParquetCatalog]
    val dir = java.nio.file.Paths.get(warehouse, "db", "tt")
    val byName = cat.versionLog(dir)(1)
    assert(spark.sql(
      s"SELECT count(*) FROM graft_atomic.db.tt VERSION AS OF 'v-${byName.stripPrefix("v-")}'")
      .head().getLong(0) == 5)
    // retention (default history=3): two more commits prune v1's dir
    put("v4", 9); put("v5", 11)
    val log = cat.versionLog(dir)
    assert(log.size == 4, s"retention window wrong: $log")
    val onDisk = java.nio.file.Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("v-")).toSet
    assert(onDisk == log.toSet, s"vacuum out of sync: disk $onDisk vs log $log")
    val err = intercept[Exception](spark.sql(
      "SELECT * FROM graft_atomic.db.tt VERSION AS OF 9").collect())
    assert(err.getMessage.contains("retention window"), err.getMessage)
    // a historical snapshot refuses writes (history is immutable)
    val hist = cat.loadTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("db"), "tt"), "1")
    val werr = intercept[UnsupportedOperationException](
      hist.asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
        .newWriteBuilder(null))
    assert(werr.getMessage.contains("immutable"), werr.getMessage)
    spark.sql("DROP TABLE graft_atomic.db.tt")
  }

  test("partition pruning reads only the matching version subdirectories") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db")
    Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0), (4L, "c", 4.0))
      .toDF("id", "part", "v")
      .writeTo("graft_atomic.db.t6").using("parquet")
      .partitionedBy(col("part")).createOrReplace()
    val pruned = spark.table("graft_atomic.db.t6").where($"part" === "a")
    // the V2 ParquetScan must carry the predicate as a PARTITION filter
    // (directory-level pruning on the version dir), not a data filter
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(part") &&
      plan.contains("part") && plan.contains("= a)"),
      s"scan did not prune partitions:\n$plan")
    assert(pruned.count() == 2)
    spark.sql("DROP TABLE graft_atomic.db.t6")
  }

  test("concurrent replace commits conflict instead of silently last-winning") {
    import org.apache.spark.sql.connector.catalog.Identifier
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db")
    Seq((1L, "base")).toDF("id", "s")
      .writeTo("graft_atomic.db.t7").using("parquet").createOrReplace()
    val cat = spark.sessionState.catalogManager.catalog("graft_atomic")
      .asInstanceOf[graft.sources.AtomicParquetCatalog]
    val ident = Identifier.of(Array("db"), "t7")
    val schema = spark.table("graft_atomic.db.t7").schema
    val none = java.util.Collections.emptyMap[String, String]()
    // two writers stage a replace from the SAME base version
    val w1 = cat.stageReplace(ident, schema, Array.empty, none)
    val w2 = cat.stageReplace(ident, schema, Array.empty, none)
    w1.commitStagedChanges() // first writer wins
    val afterFirst = cat.versionLog(
      java.nio.file.Paths.get(warehouse, "db", "t7"))
    // the second commit must CONFLICT (its base is no longer current),
    // leaving the first writer's commit untouched
    val err = intercept[java.util.ConcurrentModificationException](
      w2.commitStagedChanges())
    assert(err.getMessage.contains("concurrent update"), err.getMessage)
    w2.abortStagedChanges()
    assert(cat.versionLog(
      java.nio.file.Paths.get(warehouse, "db", "t7")) == afterFirst,
      "conflicting commit mutated the log")
    // sequential staging (stage AFTER the other's commit) still works
    val w3 = cat.stageReplace(ident, schema, Array.empty, none)
    w3.commitStagedChanges()
    spark.sql("DROP TABLE graft_atomic.db.t7")
  }

  test("a dead writer's stale commit lock is broken, a live one is honored") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db")
    Seq((1L, "x")).toDF("id", "s")
      .writeTo("graft_atomic.db.t8").using("parquet").createOrReplace()
    val dir = java.nio.file.Paths.get(warehouse, "db", "t8")
    val lock = dir.resolve("_commit.lock")
    // a writer died holding the lock 11 minutes ago (stale beyond the
    // 10-minute breaker): the next commit must break it and succeed
    java.nio.file.Files.createFile(lock)
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 11 * 60 * 1000L))
    Seq((2L, "y")).toDF("id", "s")
      .writeTo("graft_atomic.db.t8").using("parquet").createOrReplace()
    assert(spark.table("graft_atomic.db.t8").count() == 1)
    assert(!java.nio.file.Files.exists(lock), "stale lock not cleaned up")
    spark.sql("DROP TABLE graft_atomic.db.t8")
  }

  test("a reader pinned past the retention window fails cleanly, not wrongly") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db")
    def put(tag: String, n: Int): Unit =
      spark.range(n).select($"id", lit(tag).as("tag"))
        .writeTo("graft_atomic.db.t9").using("parquet").createOrReplace()
    put("v1", 100)
    val pinned = spark.table("graft_atomic.db.t9")
    assert(pinned.count() == 100)
    // history=3 previous versions: four more commits vacuum v1's dir
    put("v2", 2); put("v3", 3); put("v4", 4); put("v5", 5)
    // the pinned reader's directory is GONE — the failure mode past the
    // window is a missing-files error (or an empty scan if the listing
    // was cached), never rows from a DIFFERENT version
    val res = scala.util.Try(pinned.where($"tag" =!= "v1").count())
    res match {
      case scala.util.Success(n) =>
        assert(n == 0, s"expired pinned reader served another version's rows")
      case scala.util.Failure(_) => () // clean read error — expected shape
    }
    spark.sql("DROP TABLE graft_atomic.db.t9")
  }

  test("schema evolution via replace: old snapshots keep their own schema") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db")
    spark.range(3).select($"id", lit("a").as("s"))
      .writeTo("graft_atomic.db.tev").using("parquet").createOrReplace()
    // evolve: ADD COLUMN happens as a replace carrying the wider schema
    // (alterTable is refused — versions are immutable, schema included)
    spark.range(4).select($"id", lit("b").as("s"), lit(1.5).as("score"))
      .writeTo("graft_atomic.db.tev").using("parquet").createOrReplace()
    val now = spark.table("graft_atomic.db.tev")
    assert(now.columns.toSeq == Seq("id", "s", "score"))
    assert(now.count() == 4)
    // time travel to the pre-evolution snapshot serves the OLD schema
    // (each version dir carries its own _schema.json) — no leaked column,
    // no null-padded phantom values
    val old = spark.sql("SELECT * FROM graft_atomic.db.tev VERSION AS OF 1")
    assert(old.columns.toSeq == Seq("id", "s"))
    assert(old.count() == 3)
    // and the evolved current version still time-travels by exact name
    val cat = spark.sessionState.catalogManager.catalog("graft_atomic")
      .asInstanceOf[graft.sources.AtomicParquetCatalog]
    val dir = java.nio.file.Paths.get(warehouse, "db", "tev")
    val head = cat.versionLog(dir).head
    val byName = spark.sql(
      s"SELECT * FROM graft_atomic.db.tev VERSION AS OF '$head'")
    assert(byName.columns.toSeq == Seq("id", "s", "score"))
    spark.sql("DROP TABLE graft_atomic.db.tev")
  }

  test("an append racing a same-shape replace rebases onto it") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db")
    Seq((1L, "base")).toDF("id", "s")
      .writeTo("graft_atomic.db.t10").using("parquet").createOrReplace()
    // pin the append's table resolution (loadTable resolves the version),
    // then let a replace land before the append commits: the append's
    // CAS fails and the fast-append REBASE re-stages its rows onto the
    // replace's head (Iceberg's retry semantics — an append validates
    // nothing about concurrent commits, so it must never lose to one).
    // Under the pre-rebase semantics this was pinned as a hard
    // conflict; the SHAPE-CHANGED race still is (StreamingWriteSpec).
    // The load-bearing half is unchanged either way: the replace's
    // snapshot is never silently mutated — the append lands ON TOP.
    val cat = spark.sessionState.catalogManager.catalog("graft_atomic")
      .asInstanceOf[graft.sources.AtomicParquetCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
      Array("db"), "t10")
    val pinnedTable = cat.loadTable(ident) // resolves the current version
    Seq((9L, "replacer")).toDF("id", "s")
      .writeTo("graft_atomic.db.t10").using("parquet").createOrReplace()
    val info = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def queryId(): String = "test-append"
      override def schema(): org.apache.spark.sql.types.StructType =
        spark.table("graft_atomic.db.t10").schema
      override def options(): org.apache.spark.sql.util.CaseInsensitiveStringMap =
        org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()
    }
    val rel = pinnedTable
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
      .newWriteBuilder(info).build()
      .asInstanceOf[org.apache.spark.sql.connector.write.V1Write]
      .toInsertableRelation
    rel.insert(Seq((2L, "appender")).toDF("id", "s"), false)
    // the rebase kept the replace AND the append; the base row the
    // append staged against is gone (the replace removed it) — the
    // append's rows were re-staged, not the whole staging snapshot
    assert(spark.table("graft_atomic.db.t10").as[(Long, String)]
      .collect().toSeq.sorted == Seq((2L, "appender"), (9L, "replacer")))
    // and history agrees: one version back is the replace alone
    assert(spark.sql(
      "SELECT * FROM graft_atomic.db.t10 VERSION AS OF 1")
      .as[(Long, String)].collect().toSeq == Seq((9L, "replacer")))
    spark.sql("DROP TABLE graft_atomic.db.t10")
  }

  test("fast-append makes a snapshot: time travel sees pre-append state") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db")
    Seq((1L, "x")).toDF("id", "s")
      .writeTo("graft_atomic.db.t11").using("parquet").createOrReplace()
    spark.sql("INSERT INTO graft_atomic.db.t11 VALUES (2, 'y')")
    assert(spark.table("graft_atomic.db.t11").count() == 2)
    // the append committed a NEW version (prior files hard-linked in);
    // VERSION AS OF 1 is the pre-append snapshot
    assert(spark.sql(
      "SELECT count(*) FROM graft_atomic.db.t11 VERSION AS OF 1")
      .head().getLong(0) == 1)
    spark.sql("DROP TABLE graft_atomic.db.t11")
  }

  test("DELETE and UPDATE commit copy-on-write snapshots; time travel sees both priors") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db")
    Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "v")
      .writeTo("graft_atomic.db.t12").using("parquet").createOrReplace()
    spark.sql("DELETE FROM graft_atomic.db.t12 WHERE id = 2")
    spark.sql("UPDATE graft_atomic.db.t12 SET v = v + 1.0 WHERE id = 3")
    val now = spark.table("graft_atomic.db.t12")
      .orderBy($"id").as[(Long, Double)].collect().toSeq
    assert(now == Seq((1L, 10.0), (3L, 31.0)), now)
    // VERSION AS OF k counts commits BACK (0 = current): 1 = post-delete
    // pre-update, 2 = the pre-delete original — each statement made its
    // own conflict-checked snapshot
    assert(spark.sql(
      "SELECT count(*) FROM graft_atomic.db.t12 VERSION AS OF 2")
      .head().getLong(0) == 3)
    val v1 = spark.sql(
      "SELECT id, v FROM graft_atomic.db.t12 VERSION AS OF 1 ORDER BY id")
      .as[(Long, Double)].collect().toSeq
    assert(v1 == Seq((1L, 10.0), (3L, 30.0)), v1)
    spark.sql("DROP TABLE graft_atomic.db.t12")
  }

  test("TIMESTAMP AS OF resolves the newest snapshot at or before the instant") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db")
    Seq((1L, "old")).toDF("id", "s")
      .writeTo("graft_atomic.db.t13").using("parquet").createOrReplace()
    Thread.sleep(30) // commit markers are ms-precision
    val between = java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochMilli(System.currentTimeMillis()),
      java.time.ZoneOffset.UTC).toString.replace('T', ' ')
    Thread.sleep(30)
    Seq((1L, "new"), (2L, "x")).toDF("id", "s")
      .writeTo("graft_atomic.db.t13").using("parquet").createOrReplace()
    // session tz is UTC (build.sbt), so the UTC-rendered instant between
    // the two commits parses back to the same epoch
    val asOf = spark.sql(
      s"SELECT s FROM graft_atomic.db.t13 TIMESTAMP AS OF '$between'")
      .as[String].collect().toSeq
    assert(asOf == Seq("old"), asOf)
    assert(spark.table("graft_atomic.db.t13").count() == 2)
    // an instant before the first commit has no snapshot to serve
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft_atomic.db.t13 TIMESTAMP AS OF '2000-01-01 00:00:00'")
        .collect()
    }
    assert(e.getMessage.contains("no snapshot committed at or before"), e.getMessage)
    spark.sql("DROP TABLE graft_atomic.db.t13")
  }

  test("ALTER TABLE ADD/DROP COLUMN evolve as metadata-only snapshots") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db")
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .writeTo("graft_atomic.db.t14").using("parquet").createOrReplace()
    spark.sql("ALTER TABLE graft_atomic.db.t14 ADD COLUMN score DOUBLE")
    // pre-evolution rows surface null for the added column
    val afterAdd = spark.table("graft_atomic.db.t14")
      .orderBy($"id").as[(Long, String, Option[Double])].collect().toSeq
    assert(afterAdd == Seq((1L, "a", None), (2L, "b", None)), afterAdd)
    // appended rows carry values; old rows stay null
    spark.sql("INSERT INTO graft_atomic.db.t14 VALUES (3, 'c', 0.5)")
    val mixed = spark.table("graft_atomic.db.t14")
      .orderBy($"id").as[(Long, String, Option[Double])].collect().toSeq
    assert(mixed == Seq((1L, "a", None), (2L, "b", None), (3L, "c", Some(0.5))),
      mixed)
    // the pre-evolution snapshot keeps ITS schema across the boundary
    assert(spark.sql(
      "SELECT * FROM graft_atomic.db.t14 VERSION AS OF 2").columns.toSeq
      == Seq("id", "s"))
    spark.sql("ALTER TABLE graft_atomic.db.t14 DROP COLUMN s")
    assert(spark.table("graft_atomic.db.t14").columns.toSeq == Seq("id", "score"))
    // time travel one back still serves the dropped column
    assert(spark.sql(
      "SELECT * FROM graft_atomic.db.t14 VERSION AS OF 1").columns.toSeq
      == Seq("id", "s", "score"))
    // honest boundaries refuse with pointed messages
    val r = intercept[Exception] {
      spark.sql("ALTER TABLE graft_atomic.db.t14 RENAME COLUMN score TO sc")
    }
    assert(r.getMessage.contains("field-id"), r.getMessage)
    val nn = intercept[Exception] {
      spark.sql("ALTER TABLE graft_atomic.db.t14 ADD COLUMN req LONG NOT NULL")
    }
    assert(nn.getMessage.contains("unsatisfiable"), nn.getMessage)
    spark.sql("DROP TABLE graft_atomic.db.t14")
  }

  test("ALTER COLUMN TYPE widens losslessly as a metadata-only snapshot") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db")
    spark.sql("DROP TABLE IF EXISTS graft_atomic.db.t15")
    spark.sql("""CREATE TABLE graft_atomic.db.t15
                | (id INT, v FLOAT, g STRING) USING parquet
                | PARTITIONED BY (g)""".stripMargin)
    spark.sql("INSERT INTO graft_atomic.db.t15 VALUES (1, 1.5, 'a'), (2, 2.5, 'b')")
    spark.sql("ALTER TABLE graft_atomic.db.t15 ALTER COLUMN id TYPE BIGINT")
    spark.sql("ALTER TABLE graft_atomic.db.t15 ALTER COLUMN v TYPE DOUBLE")
    assert(spark.table("graft_atomic.db.t15").schema.map(_.dataType.simpleString)
      == Seq("bigint", "double", "string"))
    // old int32/float files serve through the widened schema, and a new
    // append writes values ONLY the widened type can hold
    spark.sql(s"INSERT INTO graft_atomic.db.t15 VALUES (${Int.MaxValue.toLong + 7}, 3.5, 'a')")
    val got = spark.table("graft_atomic.db.t15").orderBy($"id")
      .as[(Long, Double, String)].collect().toSeq
    assert(got == Seq((1L, 1.5, "a"), (2L, 2.5, "b"),
      (Int.MaxValue.toLong + 7, 3.5, "a")), got)
    // a MERGE through the widened schema still routes and rewrites
    Seq((2L, 9.0)).toDF("mid", "nv").createOrReplaceTempView("t15_src")
    spark.sql("""MERGE INTO graft_atomic.db.t15 t USING t15_src s
                |ON t.id = s.mid WHEN MATCHED THEN UPDATE SET v = s.nv""".stripMargin)
    assert(spark.table("graft_atomic.db.t15").where($"id" === 2L)
      .select($"v").as[Double].head() == 9.0)
    // lossy narrowing refuses — Spark's analyzer rejects non-upcasts
    // before the catalog (NOT_SUPPORTED_CHANGE_COLUMN); the catalog's
    // own `lossless` guard backstops direct alterTable callers
    val lossy = intercept[Exception] {
      spark.sql("ALTER TABLE graft_atomic.db.t15 ALTER COLUMN id TYPE INT")
    }
    assert(lossy.getMessage.contains("not supported for changing") ||
      lossy.getMessage.contains("lossless"), lossy.getMessage)
    spark.sql("DROP TABLE graft_atomic.db.t15")
    spark.sql("""CREATE TABLE graft_atomic.db.t16 (k INT, v DOUBLE)
                | USING parquet PARTITIONED BY (bucket(4, k))""".stripMargin)
    val tb = intercept[Exception] {
      spark.sql("ALTER TABLE graft_atomic.db.t16 ALTER COLUMN k TYPE BIGINT")
    }
    assert(tb.getMessage.contains("type-qualified"), tb.getMessage)
    spark.sql("DROP TABLE graft_atomic.db.t16")
  }

  test("history/files metadata tables enumerate snapshots and data files") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db")
    spark.sql("DROP TABLE IF EXISTS graft_atomic.db.meta1")
    Seq((1L, "a"), (2L, "b")).toDF("id", "part")
      .writeTo("graft_atomic.db.meta1").using("parquet")
      .partitionedBy(col("part")).createOrReplace()
    // an APPEND is a snapshot too: history must show both commits
    Seq((3L, "a")).toDF("id", "part")
      .writeTo("graft_atomic.db.meta1").append()
    val hist = spark.table("graft_atomic.db.meta1.history")
      .orderBy($"ordinal")
      .select($"ordinal", $"is_current", $"n_data_files", $"size_bytes")
      .collect()
    assert(hist.length == 2, hist.mkString(","))
    assert(hist(0).getInt(0) == 0 && hist(0).getBoolean(1))
    assert(hist(1).getInt(0) == 1 && !hist(1).getBoolean(1))
    // the fast-append links the old files beside the new ones
    assert(hist(0).getLong(2) > hist(1).getLong(2))
    assert(hist.forall(r => r.getLong(3) > 0L))
    // commit instants are ordered newest-first like the log
    val ts = spark.table("graft_atomic.db.meta1.history")
      .orderBy($"ordinal").select($"committed_at").collect()
      .map(_.getTimestamp(0).getTime)
    assert(ts(0) >= ts(1), ts.mkString(","))
    // files: current snapshot's data files under their partition dirs
    val files = spark.table("graft_atomic.db.meta1.files")
      .select($"path", $"partition_path", $"size_bytes").collect()
    assert(files.length == hist(0).getLong(2))
    assert(files.forall(_.getLong(2) > 0L))
    assert(files.map(_.getString(1)).toSet.subsetOf(Set("part=a", "part=b")))
    assert(files.exists(_.getString(1) == "part=a"))
    // history stays queryable THROUGH SQL aggregation (it is a real table)
    assert(spark.sql(
      "SELECT count(*) FROM graft_atomic.db.meta1.history").head().getLong(0)
      == 2L)
    // an unknown metadata suffix under a real table is still missing
    intercept[Exception] {
      spark.table("graft_atomic.db.meta1.nope").collect()
    }
    // a metadata table never shadows a REAL table of the same name
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db.meta1x")
    spark.sql("DROP TABLE IF EXISTS graft_atomic.db.meta1")
  }

  test("CALL create_changelog_view: the change feed as a SQL temp view") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db")
    spark.sql("DROP TABLE IF EXISTS graft_atomic.db.cvw1")
    (1L to 10L).map(i => (i, i * 10)).toDF("id", "v")
      .writeTo("graft_atomic.db.cvw1").using("parquet").create()
    spark.sql("DELETE FROM graft_atomic.db.cvw1 WHERE id > 8")
    (11L to 12L).map(i => (i, i * 10)).toDF("id", "v")
      .writeTo("graft_atomic.db.cvw1").append()
    val sum = spark.sql("CALL graft_atomic.system.create_changelog_view(" +
      "'db.cvw1', 'cvw1_changes', 2)").collect()
    assert(sum.length == 1 &&
      sum(0).getAs[String]("changelog_view") == "cvw1_changes")
    // the view is the DISTRIBUTED change feed: step 1 = the delete
    // commit (net removals only — carried rows cancel), step 2 = the
    // appended batch as inserts
    val rows = spark.sql(
      "SELECT cast(_commit_step AS INT), _change_type, cast(id AS BIGINT) " +
        "FROM cvw1_changes ORDER BY 1, 2, 3")
      .as[(Int, String, Long)].collect().toSeq
    assert(rows == Seq((1, "delete", 9L), (1, "delete", 10L),
      (2, "insert", 11L), (2, "insert", 12L)), rows.mkString(", "))
    // a hostile view name refuses before anything registers
    intercept[Exception] {
      spark.sql("CALL graft_atomic.system.create_changelog_view(" +
        "'db.cvw1', 'bad name; drop', 1)").collect()
    }
  }

  test("expire_snapshots older_than: age shields versions beyond the count") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db")
    spark.sql("DROP TABLE IF EXISTS graft_atomic.db.exp2")
    (1 to 3).foreach { i =>
      (1L to i * 10L).toDF("id")
        .writeTo("graft_atomic.db.exp2").using("parquet").createOrReplace()
    }
    def history(): Long = spark.sql(
      "SELECT count(*) FROM graft_atomic.db.exp2.history").head().getLong(0)
    assert(history() == 3L)
    // a cutoff in the deep past: nothing is old enough to expire, even
    // at keep=0 — age SHIELDS what the count window would drop
    val past = spark.sql("CALL graft_atomic.system.expire_snapshots(" +
      "'db.exp2', 0, TIMESTAMP '2000-01-01 00:00:00')").collect()
    assert(past(0).getAs[Int]("kept_snapshots") == 3, past.mkString)
    assert(history() == 3L)
    // a future cutoff degrades to the pure count window
    val fut = spark.sql("CALL graft_atomic.system.expire_snapshots(" +
      "'db.exp2', 1, TIMESTAMP '2100-01-01 00:00:00')").collect()
    assert(fut(0).getAs[Int]("kept_snapshots") == 2, fut.mkString)
    assert(history() == 2L)
    // omitted entirely: the r13 two-arg call keeps working
    spark.sql("CALL graft_atomic.system.expire_snapshots('db.exp2', 0)")
    assert(history() == 1L)
  }

  test("CALL procedures: expire_snapshots, rollback_to, compact") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db")
    spark.sql("DROP TABLE IF EXISTS graft_atomic.db.proc1")
    def write(n: Int): Unit =
      (1 to n).map(i => (i.toLong, s"r$i")).toDF("id", "v")
        .repartition(4)
        .writeTo("graft_atomic.db.proc1").using("parquet").createOrReplace()
    write(10); write(20); write(30)
    def history(): Long = spark.sql(
      "SELECT count(*) FROM graft_atomic.db.proc1.history").head().getLong(0)
    assert(history() == 3L)

    // rollback_to: the 20-row snapshot becomes current again as a NEW
    // commit; the 30-row head stays travelable one commit back
    val rb = spark.sql(
      "CALL graft_atomic.system.rollback_to('db.proc1', 1)").collect()
    assert(rb.length == 1 && rb(0).schema.fieldNames.contains("new_version"))
    assert(spark.table("graft_atomic.db.proc1").count() == 20L)
    assert(spark.sql(
      "SELECT count(*) FROM graft_atomic.db.proc1 VERSION AS OF 1")
      .head().getLong(0) == 30L)
    assert(history() == 4L)

    // compact: same 20 rows, exactly 1 data file, one more snapshot
    val cp = spark.sql(
      "CALL graft_atomic.system.compact('db.proc1', 1)").collect()
    assert(cp(0).getAs[Long]("files_after") == 1L, cp.mkString)
    assert(spark.table("graft_atomic.db.proc1").count() == 20L)
    assert(spark.table("graft_atomic.db.proc1").orderBy($"id")
      .as[(Long, String)].collect().toSeq ==
      (1 to 20).map(i => (i.toLong, s"r$i")))
    assert(spark.sql("SELECT count(*) FROM graft_atomic.db.proc1.files")
      .head().getLong(0) == 1L)

    // expire_snapshots keep=0: only the current snapshot survives and
    // the expired ordinal no longer resolves
    val ex = spark.sql(
      "CALL graft_atomic.system.expire_snapshots('db.proc1', 0)").collect()
    assert(ex(0).getAs[Int]("kept_snapshots") == 1, ex.mkString)
    assert(history() == 1L)
    intercept[Exception] {
      spark.sql("SELECT count(*) FROM graft_atomic.db.proc1 VERSION AS OF 1")
        .collect()
    }
    assert(spark.table("graft_atomic.db.proc1").count() == 20L)
    spark.sql("DROP TABLE IF EXISTS graft_atomic.db.proc1")
  }

  test("tags: VERSION AS OF <name>, retention exemption, refs metadata") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db")
    spark.sql("DROP TABLE IF EXISTS graft_atomic.db.tags1")
    def write(n: Int): Unit =
      (1 to n).map(i => (i.toLong, s"r$i")).toDF("id", "v")
        .writeTo("graft_atomic.db.tags1").using("parquet").createOrReplace()
    write(10); write(20); write(30)
    // tag the 10-row snapshot (2 commits back)
    spark.sql("CALL graft_atomic.system.tag('db.tags1', 'baseline', 2)")
      .collect()
    assert(spark.sql(
      "SELECT count(*) FROM graft_atomic.db.tags1 VERSION AS OF 'baseline'")
      .head().getLong(0) == 10L)
    // names that collide with the ordinal / v-dir spaces are refused
    intercept[Exception] {
      spark.sql("CALL graft_atomic.system.tag('db.tags1', '2', 0)").collect()
    }
    intercept[Exception] {
      spark.sql("CALL graft_atomic.system.tag('db.tags1', 'v-x', 0)").collect()
    }
    // duplicate tag names are refused
    intercept[Exception] {
      spark.sql("CALL graft_atomic.system.tag('db.tags1', 'baseline', 0)")
        .collect()
    }
    // push the tagged snapshot far outside the retention window (keep=3):
    // untagged peers vacuum, the tagged version survives and still reads
    write(40); write(50); write(60); write(70); write(80)
    assert(spark.sql(
      "SELECT count(*) FROM graft_atomic.db.tags1 VERSION AS OF 'baseline'")
      .head().getLong(0) == 10L)
    // the log keeps window + tagged tail: 4 + 1
    assert(spark.sql("SELECT count(*) FROM graft_atomic.db.tags1.history")
      .head().getLong(0) == 5L)
    // refs metadata table reports the tag with its current ordinal (the
    // tagged entry rides at the log tail = ordinal 4)
    val refs = spark.table("graft_atomic.db.tags1.refs").collect()
    assert(refs.length == 1 && refs(0).getString(0) == "baseline")
    assert(refs(0).getInt(2) == 4, refs.mkString)
    // drop_tag: the ref disappears; the NEXT commit sweeps the version
    spark.sql("CALL graft_atomic.system.drop_tag('db.tags1', 'baseline')")
      .collect()
    assert(spark.table("graft_atomic.db.tags1.refs").count() == 0L)
    write(90)
    intercept[Exception] {
      spark.sql(
        "SELECT count(*) FROM graft_atomic.db.tags1 VERSION AS OF 'baseline'")
        .collect()
    }
    assert(spark.sql("SELECT count(*) FROM graft_atomic.db.tags1.history")
      .head().getLong(0) == 4L)
    spark.sql("DROP TABLE IF EXISTS graft_atomic.db.tags1")
  }

  test("write-audit-publish: a failing audit never touches the table") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db")
    spark.sql("DROP TABLE IF EXISTS graft_atomic.db.wap1")
    Seq((1L, "good"), (2L, "good")).toDF("id", "v")
      .writeTo("graft_atomic.db.wap1").using("parquet").createOrReplace()
    // audit REJECTS: the replacement snapshot must never become visible
    val bad = Seq((9L, "bad")).toDF("id", "v")
    val boom = intercept[IllegalStateException] {
      graft.sources.AtomicParquetCatalog.writeAudited(
        spark, "graft_atomic.db.wap1", bad) { staged =>
        if (staged.count() < 2)
          throw new IllegalStateException("row-count floor violated")
      }
    }
    assert(boom.getMessage.contains("row-count floor"))
    assert(spark.table("graft_atomic.db.wap1").count() == 2L)
    assert(spark.sql("SELECT count(*) FROM graft_atomic.db.wap1.history")
      .head().getLong(0) == 1L) // the aborted staging never entered the log
    // audit PASSES: the swap is atomic and the audit really read the
    // STAGED rows (it observed the new count before publish)
    var audited = -1L
    graft.sources.AtomicParquetCatalog.writeAudited(
      spark, "graft_atomic.db.wap1",
      Seq((1L, "n"), (2L, "n"), (3L, "n")).toDF("id", "v")) { staged =>
      audited = staged.count()
    }
    assert(audited == 3L)
    assert(spark.table("graft_atomic.db.wap1").count() == 3L)
    assert(spark.sql("SELECT count(*) FROM graft_atomic.db.wap1.history")
      .head().getLong(0) == 2L)
    spark.sql("DROP TABLE IF EXISTS graft_atomic.db.wap1")
  }

  test("analyze writes per-snapshot stats; a new commit starts statless") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db")
    spark.sql("DROP TABLE IF EXISTS graft_atomic.db.anl1")
    Seq((1L, Some("a")), (2L, Some("b")), (3L, None), (4L, Some("b")))
      .toDF("id", "v")
      .writeTo("graft_atomic.db.anl1").using("parquet").createOrReplace()
    // stats are per-snapshot: empty until analyze runs
    assert(spark.table("graft_atomic.db.anl1.stats").count() == 0L)
    val sum = spark.sql("CALL graft_atomic.system.analyze('db.anl1')")
      .collect()(0)
    assert(sum.getAs[Long]("n_rows") == 4L && sum.getAs[Int]("n_columns") == 2)
    val st = spark.table("graft_atomic.db.anl1.stats")
      .orderBy($"column").collect()
    // id: 4 rows, 0 nulls, 4 distinct (KMV exact below k), min 1 max 4
    assert(st(0).getString(0) == "id" && st(0).getLong(1) == 4L &&
      st(0).getLong(2) == 0L && st(0).getLong(3) == 4L &&
      st(0).getString(4) == "1" && st(0).getString(5) == "4")
    // v: 1 null, 2 distinct (nulls excluded), min "a" max "b"
    assert(st(1).getString(0) == "v" && st(1).getLong(2) == 1L &&
      st(1).getLong(3) == 2L && st(1).getString(4) == "a" &&
      st(1).getString(5) == "b")
    // a fresh commit is a fresh snapshot: its stats start absent rather
    // than silently serving the prior snapshot's numbers
    Seq((9L, Some("z"))).toDF("id", "v")
      .writeTo("graft_atomic.db.anl1").using("parquet").createOrReplace()
    assert(spark.table("graft_atomic.db.anl1.stats").count() == 0L)
    // sidecar-format hostile values: an all-NULL column round-trips as
    // NULL min/max, and values containing the sidecar's own delimiters
    // (tab/newline) survive the encode/decode intact
    Seq((1L, None: Option[String], "a\tb\nc"), (2L, None, "x"))
      .toDF("id", "allnull", "wild")
      .writeTo("graft_atomic.db.anl1").using("parquet").createOrReplace()
    spark.sql("CALL graft_atomic.system.analyze('db.anl1')").collect()
    val st2 = spark.table("graft_atomic.db.anl1.stats")
      .orderBy($"column").collect()
    assert(st2(0).getString(0) == "allnull" && st2(0).isNullAt(4) &&
      st2(0).isNullAt(5) && st2(0).getLong(3) == 0L, st2.mkString)
    assert(st2(2).getString(0) == "wild" && st2(2).getString(4) == "a\tb\nc" &&
      st2(2).getString(5) == "x", st2.mkString)
    spark.sql("DROP TABLE IF EXISTS graft_atomic.db.anl1")
  }

  test("clone is zero-copy and the tables evolve independently") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db")
    spark.sql("DROP TABLE IF EXISTS graft_atomic.db.cl_src")
    spark.sql("DROP TABLE IF EXISTS graft_atomic.db.cl_dst")
    (1 to 100).map(i => (i.toLong, s"r$i")).toDF("id", "v")
      .writeTo("graft_atomic.db.cl_src").using("parquet").createOrReplace()
    spark.sql(
      "CALL graft_atomic.system.clone('db.cl_src', 'db.cl_dst')").collect()
    assert(spark.table("graft_atomic.db.cl_dst").count() == 100L)
    // cloning an existing destination is refused
    intercept[Exception] {
      spark.sql("CALL graft_atomic.system.clone('db.cl_src', 'db.cl_dst')")
        .collect()
    }
    // independent evolution: replacing the source leaves the clone; the
    // clone's own append leaves the source
    Seq((999L, "new")).toDF("id", "v")
      .writeTo("graft_atomic.db.cl_src").using("parquet").createOrReplace()
    assert(spark.table("graft_atomic.db.cl_src").count() == 1L)
    assert(spark.table("graft_atomic.db.cl_dst").count() == 100L)
    Seq((101L, "x")).toDF("id", "v")
      .writeTo("graft_atomic.db.cl_dst").append()
    assert(spark.table("graft_atomic.db.cl_dst").count() == 101L)
    assert(spark.table("graft_atomic.db.cl_src").count() == 1L)
    // push the source's shared snapshot out of its retention window so
    // its vacuum deletes the ORIGINAL dirs: the clone's hard links must
    // keep the bytes alive (ownership by refcount, not by directory)
    (1 to 5).foreach { i =>
      Seq((i.toLong, "w")).toDF("id", "v")
        .writeTo("graft_atomic.db.cl_src").using("parquet").createOrReplace()
    }
    assert(spark.table("graft_atomic.db.cl_dst")
      .where($"id" <= 100L).count() == 100L)
    spark.sql("DROP TABLE IF EXISTS graft_atomic.db.cl_src")
    spark.sql("DROP TABLE IF EXISTS graft_atomic.db.cl_dst")
  }

  test("dynamic partition overwrite replaces only the written partitions") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db")
    spark.sql("DROP TABLE IF EXISTS graft_atomic.db.dyn1")
    Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "c"))
      .toDF("id", "part")
      .writeTo("graft_atomic.db.dyn1").using("parquet")
      .partitionedBy(col("part")).createOrReplace()
    withConf("spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      Seq((10L, "a")).toDF("id", "part")
        .writeTo("graft_atomic.db.dyn1").overwritePartitions()
      // partition a replaced wholesale; b and c untouched
      assert(spark.table("graft_atomic.db.dyn1").orderBy($"id")
        .as[(Long, String)].collect().toSeq ==
        Seq((3L, "b"), (4L, "c"), (10L, "a")))
      // the overwrite is a SNAPSHOT: the pre-overwrite table time-travels
      assert(spark.sql(
        "SELECT count(*) FROM graft_atomic.db.dyn1 VERSION AS OF 1")
        .head().getLong(0) == 4L)
      // untouched partitions arrive as hard links of the prior files
      // (same file names) — the no-data-copy claim
      val files = spark.table("graft_atomic.db.dyn1.files")
        .select($"partition_path", $"path").as[(String, String)]
        .collect().toMap
      assert(files.keySet == Set("part=a", "part=b", "part=c"), files)
    }
    // STATIC overwrite (the default) keeps whole-table semantics
    Seq((99L, "z")).toDF("id", "part")
      .writeTo("graft_atomic.db.dyn1").overwrite(lit(true))
    assert(spark.table("graft_atomic.db.dyn1").as[(Long, String)]
      .collect().toSeq == Seq((99L, "z")))
    spark.sql("DROP TABLE IF EXISTS graft_atomic.db.dyn1")
  }

  // ---- partition-level copy-on-write for row-level operations ----

  /** inode of a file — hard-link equality is THE proof that a partition
    * rode into the new snapshot without a data copy. */
  private def ino(p: java.nio.file.Path): Long =
    java.nio.file.Files.getAttribute(p, "unix:ino").asInstanceOf[Long]

  private def tblDir(name: String): java.nio.file.Path =
    java.nio.file.Paths.get(warehouse, "db", name)

  private def currentVersionDir(name: String): java.nio.file.Path = {
    val cat = spark.sessionState.catalogManager.catalog("graft_atomic")
      .asInstanceOf[graft.sources.AtomicParquetCatalog]
    tblDir(name).resolve(cat.versionLog(tblDir(name)).head)
  }

  private def partFiles(v: java.nio.file.Path, part: String): Map[String, Long] = {
    val d = v.resolve(part)
    if (!java.nio.file.Files.isDirectory(d)) Map.empty
    else java.nio.file.Files.list(d).iterator().asScala
      .filter(f => java.nio.file.Files.isRegularFile(f) &&
        !f.getFileName.toString.startsWith("_") &&
        !f.getFileName.toString.startsWith("."))
      .map(f => f.getFileName.toString -> ino(f)).toMap
  }

  test("MERGE rewrites only touched partitions; untouched partitions are hard-linked") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db")
    Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0),
        (4L, "b", 40.0), (5L, "c", 50.0))
      .toDF("id", "part", "v")
      .writeTo("graft_atomic.db.cow1").using("parquet")
      .partitionedBy(col("part")).createOrReplace()
    val v0 = currentVersionDir("cow1")
    val bBefore = partFiles(v0, "part=b")
    val cBefore = partFiles(v0, "part=c")
    assert(bBefore.nonEmpty && cBefore.nonEmpty)
    // source matches only partition a's keys, plus one brand-new key
    Seq((1L, 100.0), (2L, -1.0), (9L, 900.0)).toDF("id", "delta")
      .createOrReplaceTempView("cow1_src")
    spark.sql("""MERGE INTO graft_atomic.db.cow1 t USING cow1_src s
                |ON t.id = s.id
                |WHEN MATCHED AND s.delta < 0 THEN DELETE
                |WHEN MATCHED THEN UPDATE SET v = t.v + s.delta
                |WHEN NOT MATCHED THEN
                |  INSERT (id, part, v) VALUES (s.id, 'new', s.delta)
                |""".stripMargin)
    val got = spark.table("graft_atomic.db.cow1").orderBy("id")
      .as[(Long, String, Double)].collect().toSeq
    assert(got == Seq((1L, "a", 110.0), (3L, "b", 30.0), (4L, "b", 40.0),
      (5L, "c", 50.0), (9L, "new", 900.0)), got)
    val v1 = currentVersionDir("cow1")
    assert(v1 != v0, "merge must commit a NEW snapshot")
    // untouched partitions: identical file names AND identical inodes —
    // hard links, not copies, not rewrites
    assert(partFiles(v1, "part=b") == bBefore,
      s"partition b was rewritten: ${partFiles(v1, "part=b")} vs $bBefore")
    assert(partFiles(v1, "part=c") == cBefore,
      s"partition c was rewritten: ${partFiles(v1, "part=c")} vs $cBefore")
    // touched partition: rewritten (no file shared with the base)
    val aNow = partFiles(v1, "part=a")
    assert(aNow.nonEmpty &&
      aNow.values.toSet.intersect(partFiles(v0, "part=a").values.toSet).isEmpty,
      "touched partition a must be rewritten, not linked")
    // inserted rows landed in their own partition directory
    assert(partFiles(v1, "part=new").nonEmpty)
    // the pre-merge snapshot is still time-travelable in full
    assert(spark.sql(
      "SELECT count(*) FROM graft_atomic.db.cow1 VERSION AS OF 1")
      .head().getLong(0) == 5)
    spark.sql("DROP TABLE graft_atomic.db.cow1")
  }

  test("partitioned DELETE through the pruned path; NOT-MATCHED-BY-SOURCE merge degrades to whole-table and stays correct") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db")
    Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0), (4L, "b", 4.0))
      .toDF("id", "part", "v")
      .writeTo("graft_atomic.db.cow2").using("parquet")
      .partitionedBy(col("part")).createOrReplace()
    val v0 = currentVersionDir("cow2")
    val aBefore = partFiles(v0, "part=a")
    spark.sql("DELETE FROM graft_atomic.db.cow2 WHERE part = 'b' AND v > 3.0")
    val v1 = currentVersionDir("cow2")
    assert(spark.table("graft_atomic.db.cow2").orderBy("id")
      .as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
    assert(partFiles(v1, "part=a") == aBefore,
      "DELETE on partition b must hard-link partition a")
    // a merge whose NOT MATCHED BY SOURCE clause touches every partition
    // must NOT prune (group filtering is unsound there) — correctness
    // over cleverness
    Seq((2L, 20.0)).toDF("id", "delta").createOrReplaceTempView("cow2_src")
    spark.sql("""MERGE INTO graft_atomic.db.cow2 t USING cow2_src s
                |ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET v = s.delta
                |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = t.v + 0.5
                |""".stripMargin)
    assert(spark.table("graft_atomic.db.cow2").orderBy("id")
      .as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "a", 1.5), (2L, "b", 20.0), (3L, "c", 3.5)))
    spark.sql("DROP TABLE graft_atomic.db.cow2")
  }

  test("a whole-partition delete removes the partition; an all-false condition links everything") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db")
    Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("id", "part", "v")
      .writeTo("graft_atomic.db.cow3").using("parquet")
      .partitionedBy(col("part")).createOrReplace()
    spark.sql("DELETE FROM graft_atomic.db.cow3 WHERE part = 'b'")
    val v1 = currentVersionDir("cow3")
    assert(partFiles(v1, "part=b").isEmpty, "emptied partition must vanish")
    assert(spark.table("graft_atomic.db.cow3").count() == 2)
    // delete matching nothing: every partition survives (linked or
    // rewritten — correctness first; the pruned path links all three)
    val v1a = partFiles(v1, "part=a")
    spark.sql("DELETE FROM graft_atomic.db.cow3 WHERE part = 'zzz'")
    val v2 = currentVersionDir("cow3")
    assert(spark.table("graft_atomic.db.cow3").count() == 2)
    assert(partFiles(v2, "part=a") == v1a,
      "no-match delete must hard-link untouched partitions")
    spark.sql("DROP TABLE graft_atomic.db.cow3")
  }

  test("two-level and date-typed partitions stay correct under row-level ops") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db")
    // TWO partition columns: Spark's runtime-filter V2 translation
    // pushes single-column IN predicates only (a multi-key pruning
    // subquery's child is a struct it cannot translate), so
    // SplitMultiColumnRuntimeGroupFilter rewrites the multi-key
    // subquery into per-column subqueries that DO translate — the scan
    // receives one IN per partition column, intersects them, and the
    // operation takes the PRUNED partition-level COW path: only the
    // (p1=x, p2=1) partition is rewritten, the other three hard-link
    // (inode-pinned below)
    Seq((1L, "x", 1, 1.0), (2L, "x", 2, 2.0), (3L, "y", 1, 3.0),
        (4L, "y", 2, 4.0))
      .toDF("id", "p1", "p2", "v")
      .writeTo("graft_atomic.db.cow4").using("parquet")
      .partitionedBy(col("p1"), col("p2")).createOrReplace()
    val u0 = currentVersionDir("cow4")
    val keepX2 = partFiles(u0, "p1=x/p2=2")
    val keepY1 = partFiles(u0, "p1=y/p2=1")
    val keepY2 = partFiles(u0, "p1=y/p2=2")
    assert(keepX2.nonEmpty && keepY1.nonEmpty && keepY2.nonEmpty)
    spark.sql("DELETE FROM graft_atomic.db.cow4 WHERE p1 = 'x' AND p2 = 1")
    val u1 = currentVersionDir("cow4")
    assert(spark.table("graft_atomic.db.cow4").orderBy("id")
      .as[(Long, String, Int, Double)].collect().toSeq ==
      Seq((2L, "x", 2, 2.0), (3L, "y", 1, 3.0), (4L, "y", 2, 4.0)))
    assert(partFiles(u1, "p1=x/p2=2") == keepX2 &&
      partFiles(u1, "p1=y/p2=1") == keepY1 &&
      partFiles(u1, "p1=y/p2=2") == keepY2,
      "a two-column-partitioned DELETE must hard-link the three " +
        "untouched partitions (multi-column runtime group filter)")
    assert(partFiles(u1, "p1=x/p2=1").isEmpty,
      "the fully-deleted (x,1) partition must vanish")
    spark.sql("DROP TABLE graft_atomic.db.cow4")
    // a DATE partition column: the runtime filter's literals are
    // days-since-epoch ints, the directory names are ISO strings — the
    // cast-based comparison must line them up
    Seq((1L, java.sql.Date.valueOf("2024-01-01"), 1.0),
        (2L, java.sql.Date.valueOf("2024-01-02"), 2.0),
        (3L, java.sql.Date.valueOf("2024-01-03"), 3.0))
      .toDF("id", "d", "v")
      .writeTo("graft_atomic.db.cow5").using("parquet")
      .partitionedBy(col("d")).createOrReplace()
    val w0 = currentVersionDir("cow5")
    val keep2 = partFiles(w0, "d=2024-01-02")
    val keep3 = partFiles(w0, "d=2024-01-03")
    spark.sql("DELETE FROM graft_atomic.db.cow5 WHERE d = DATE '2024-01-01'")
    val w1 = currentVersionDir("cow5")
    assert(spark.table("graft_atomic.db.cow5").orderBy("id")
      .as[(Long, java.sql.Date, Double)].collect().map(_._1).toSeq ==
      Seq(2L, 3L))
    assert(partFiles(w1, "d=2024-01-02") == keep2 &&
      partFiles(w1, "d=2024-01-03") == keep3,
      "date partitions must hard-link when another date is deleted")
    spark.sql("DROP TABLE graft_atomic.db.cow5")
  }

  test("whole-table COW keeps the partition layout (NOT MATCHED BY SOURCE)") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db")
    // NOT MATCHED BY SOURCE makes EVERY partition potentially affected,
    // so group filtering cannot fire and the rewrite is whole-table COW
    // — which must re-lay the output as partition directories, not
    // silently flatten the table (one merge destroying the layout would
    // also destroy future pruning and the partitions metadata table)
    Seq((1L, "x", 1, 1.0), (2L, "x", 2, 2.0), (3L, "y", 1, 3.0),
        (4L, "y", 2, 4.0))
      .toDF("id", "p1", "p2", "v")
      .writeTo("graft_atomic.db.cow6").using("parquet")
      .partitionedBy(col("p1"), col("p2")).createOrReplace()
    Seq((1L, 10.0)).toDF("id", "delta").createOrReplaceTempView("cow6_src")
    spark.sql("""MERGE INTO graft_atomic.db.cow6 t USING cow6_src s
                |ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET v = t.v + s.delta
                |WHEN NOT MATCHED BY SOURCE AND t.id = 4 THEN DELETE
                |""".stripMargin)
    assert(spark.table("graft_atomic.db.cow6").orderBy("id")
      .as[(Long, String, Int, Double)].collect().toSeq ==
      Seq((1L, "x", 1, 11.0), (2L, "x", 2, 2.0), (3L, "y", 1, 3.0)))
    val w = currentVersionDir("cow6")
    for (p <- Seq("p1=x/p2=1", "p1=x/p2=2", "p1=y/p2=1"))
      assert(partFiles(w, p).nonEmpty,
        s"whole-table COW flattened the layout: $p has no data files")
    assert(partFiles(w, "p1=y/p2=2").isEmpty && partFiles(w, "").isEmpty,
      "deleted partition must vanish and no flat files may sit at root")
    // partition pruning still works after the whole-table rewrite
    val pruned = spark.table("graft_atomic.db.cow6")
      .where($"p1" === "x" && $"p2" === 1)
    assert(pruned.as[(Long, String, Int, Double)].collect().toSeq ==
      Seq((1L, "x", 1, 11.0)))
    spark.sql("DROP TABLE graft_atomic.db.cow6")
  }

  test("MERGE WITH SCHEMA EVOLUTION widens the target from the source") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db")
    Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "part", "v")
      .writeTo("graft_atomic.db.se1").using("parquet")
      .partitionedBy(col("part")).createOrReplace()
    Seq((1L, "a", 9.0, "note1"), (3L, "c", 3.0, "note3"))
      .toDF("id", "part", "v", "note").createOrReplaceTempView("se1_src")
    spark.sql("""MERGE WITH SCHEMA EVOLUTION INTO graft_atomic.db.se1 t
                |USING se1_src s ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val after = spark.table("graft_atomic.db.se1")
    assert(after.schema.fieldNames.toSeq ==
      Seq("id", "part", "v", "note"),
      s"schema evolution did not widen: ${after.schema.treeString}")
    assert(after.orderBy("id")
      .as[(Long, String, Double, String)].collect().toSeq ==
      Seq((1L, "a", 9.0, "note1"), (2L, "b", 2.0, null),
        (3L, "c", 3.0, "note3")),
      "schema evolution merge must widen the table and null-fill old rows")
    spark.sql("DROP TABLE graft_atomic.db.se1")
  }

  test("MERGE racing an append conflicts; retry applies both effects") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db")
    Seq((1L, "a", 1.0)).toDF("id", "part", "v")
      .writeTo("graft_atomic.db.race1").using("parquet")
      .partitionedBy(col("part")).createOrReplace()
    Seq((1L, 10.0)).toDF("id", "delta").createOrReplaceTempView("race1_src")
    val mergeSql = """MERGE INTO graft_atomic.db.race1 t USING race1_src s
                     |ON t.id = s.id
                     |WHEN MATCHED THEN UPDATE SET v = t.v + s.delta
                     |""".stripMargin
    // analyze (NOT execute) the merge: analysis pins the base snapshot,
    // exactly a writer that loaded the table and is mid-flight
    val pinned = spark.sessionState.executePlan(
      spark.sessionState.sqlParser.parsePlan(mergeSql)).analyzed
    // an append lands while the merge is in flight
    spark.sql("INSERT INTO graft_atomic.db.race1 VALUES (2, 'b', 2.0)")
    // executing the pinned merge must CONFLICT, not clobber the append
    val err = intercept[Exception] {
      spark.sessionState.executePlan(pinned).commandExecuted
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(err).exists(
      _.isInstanceOf[java.util.ConcurrentModificationException]),
      s"expected a commit conflict, got: $err")
    // the append survived and the merge applied NOTHING
    assert(spark.table("graft_atomic.db.race1").orderBy("id")
      .as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    // retrying the merge fresh (new base) applies it: no lost update
    spark.sql(mergeSql)
    assert(spark.table("graft_atomic.db.race1").orderBy("id")
      .as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "a", 11.0), (2L, "b", 2.0)))
    spark.sql("DROP TABLE graft_atomic.db.race1")
  }

  test("MERGE racing MERGE: the loser conflicts and a retry loses no update") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db")
    Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "part", "v")
      .writeTo("graft_atomic.db.race2").using("parquet")
      .partitionedBy(col("part")).createOrReplace()
    Seq((1L, 10.0)).toDF("id", "delta").createOrReplaceTempView("race2_a")
    Seq((2L, 200.0)).toDF("id", "delta").createOrReplaceTempView("race2_b")
    def merge(src: String) = s"""MERGE INTO graft_atomic.db.race2 t
                                |USING $src s ON t.id = s.id
                                |WHEN MATCHED THEN UPDATE SET v = t.v + s.delta
                                |""".stripMargin
    // both merges analyze (pin) against the SAME base snapshot
    val pinnedA = spark.sessionState.executePlan(
      spark.sessionState.sqlParser.parsePlan(merge("race2_a"))).analyzed
    val pinnedB = spark.sessionState.executePlan(
      spark.sessionState.sqlParser.parsePlan(merge("race2_b"))).analyzed
    spark.sessionState.executePlan(pinnedA).commandExecuted // A wins
    val err = intercept[Exception] {
      spark.sessionState.executePlan(pinnedB).commandExecuted
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(err).exists(
      _.isInstanceOf[java.util.ConcurrentModificationException]),
      s"expected a commit conflict, got: $err")
    // A's effect intact, B's absent; a fresh retry of B applies cleanly
    assert(spark.table("graft_atomic.db.race2").orderBy("id")
      .as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "a", 11.0), (2L, "b", 2.0)))
    spark.sql(merge("race2_b"))
    assert(spark.table("graft_atomic.db.race2").orderBy("id")
      .as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "a", 11.0), (2L, "b", 202.0)))
    spark.sql("DROP TABLE graft_atomic.db.race2")
  }

  test("a crashed MERGE leaves the table untouched and no committed junk; EXPLAIN leaves no orphan version") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db")
    Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "part", "v")
      .writeTo("graft_atomic.db.crash1").using("parquet")
      .partitionedBy(col("part")).createOrReplace()
    val cat = spark.sessionState.catalogManager.catalog("graft_atomic")
      .asInstanceOf[graft.sources.AtomicParquetCatalog]
    val logBefore = cat.versionLog(tblDir("crash1"))
    def vDirs(): Set[String] =
      java.nio.file.Files.list(tblDir("crash1")).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("v-")).toSet
    val dirsBefore = vDirs()
    // EXPLAIN must not touch disk (plan built, never executed)
    spark.sql("""EXPLAIN MERGE INTO graft_atomic.db.crash1 t
                |USING (SELECT 1L AS id, 5.0 AS delta) s ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET v = s.delta""".stripMargin)
      .collect()
    assert(vDirs() == dirsBefore, "EXPLAIN MERGE created an orphan version dir")
    // a merge that dies mid-flight (boom in the source) aborts cleanly
    val boom = udf((i: Long) => {
      if (i > 0) throw new RuntimeException("mid-merge failure"); i
    })
    spark.range(1, 3).select(boom($"id").as("id"), lit(7.0).as("delta"))
      .createOrReplaceTempView("crash1_src")
    intercept[Exception] {
      spark.sql("""MERGE INTO graft_atomic.db.crash1 t USING crash1_src s
                  |ON t.id = s.id
                  |WHEN MATCHED THEN UPDATE SET v = s.delta""".stripMargin)
    }
    assert(cat.versionLog(tblDir("crash1")) == logBefore,
      "crashed merge mutated the snapshot log")
    assert(spark.table("graft_atomic.db.crash1").orderBy("id")
      .as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "a", 1.0), (2L, "b", 2.0)),
      "crashed merge corrupted the table")
    spark.sql("DROP TABLE graft_atomic.db.crash1")
  }

  test("concurrent-thread MERGE soak: every update lands exactly once") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db")
    (1L to 6L).map(i => (i, if (i % 2 == 0) "even" else "odd", 0.0))
      .toDF("id", "part", "v")
      .writeTo("graft_atomic.db.soak1").using("parquet")
      .partitionedBy(col("part")).createOrReplace()
    // 3 threads x 2 merges each, disjoint keys, retry-on-conflict (the
    // documented client contract) — the CAS must serialize them with no
    // lost update and no double-apply
    val threads = (0 until 3).map { t =>
      new Thread(() => {
        (0 until 2).foreach { r =>
          val view = s"soak1_src_${t}_$r"
          Seq((t * 2 + r + 1L, 1.0)).toDF("id", "delta")
            .createOrReplaceTempView(view)
          val sql = s"""MERGE INTO graft_atomic.db.soak1 t USING $view s
                       |ON t.id = s.id
                       |WHEN MATCHED THEN UPDATE SET v = t.v + s.delta
                       |""".stripMargin
          var done = false
          var attempts = 0
          while (!done && attempts < 30) {
            attempts += 1
            try { spark.sql(sql); done = true }
            catch {
              case e: Exception
                  if Iterator.iterate(e: Throwable)(_.getCause)
                    .takeWhile(_ != null).take(10).exists(
                      _.isInstanceOf[java.util.ConcurrentModificationException]) =>
                Thread.sleep(20L * attempts)
            }
          }
          assert(done, s"merge $view never committed after $attempts attempts")
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    val got = spark.table("graft_atomic.db.soak1").orderBy("id")
      .as[(Long, String, Double)].collect().toSeq
    assert(got == (1L to 6L).map(i => (i, if (i % 2 == 0) "even" else "odd",
      1.0)), s"soak lost or double-applied an update: $got")
    spark.sql("DROP TABLE graft_atomic.db.soak1")
  }

  test("remove_orphans sweeps dead staging dirs, never live or young ones") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_atomic.db")
    Seq((1L, 1.0)).toDF("id", "v")
      .writeTo("graft_atomic.db.orph1").using("parquet").createOrReplace()
    val dir = tblDir("orph1")
    // a dead writer's leftover: a v-* dir in no log, mtime in the past
    val dead = dir.resolve(s"v-${java.util.UUID.randomUUID()}")
    java.nio.file.Files.createDirectories(dead)
    java.nio.file.Files.setLastModifiedTime(dead,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600 * 1000L))
    // an in-flight writer's staging dir: exists, NOT committed, young
    val inflight = dir.resolve(s"v-${java.util.UUID.randomUUID()}")
    java.nio.file.Files.createDirectories(inflight)
    val n = spark.sql(
      "CALL graft_atomic.system.remove_orphans('db.orph1', 600)")
      .head().getInt(0)
    assert(n == 1, s"expected exactly the dead orphan swept, got $n")
    assert(!java.nio.file.Files.exists(dead), "dead orphan not swept")
    assert(java.nio.file.Files.exists(inflight),
      "young in-flight staging dir must survive the sweep")
    // live (committed) versions are untouched and the table still reads
    assert(spark.table("graft_atomic.db.orph1").count() == 1)
    // age 0 sweeps the in-flight one too (operator's explicit choice)
    val n2 = spark.sql(
      "CALL graft_atomic.system.remove_orphans('db.orph1', 0)")
      .head().getInt(0)
    assert(n2 == 1 && !java.nio.file.Files.exists(inflight))
    assert(spark.table("graft_atomic.db.orph1").count() == 1)
    spark.sql("DROP TABLE graft_atomic.db.orph1")
  }

  test("medallion silver+gold run through the V2 RTAS path on this catalog") {
    val base = tmpDir("graft_atomic_mdp").toString
    val cfg = graft.medallion.MdpConfig.fromEnv(base).copy(
      ingestGb = 0.001, payloadKb = 1, partitions = 4,
      catalog = "graft_atomic")
    graft.medallion.Pipeline.bronze(spark, cfg)
    val silverRows = graft.medallion.Pipeline.silver(spark, cfg)
    val goldRows = graft.medallion.Pipeline.gold(spark, cfg)
    // tables live in the atomic catalog and read back through it; the
    // counts the stages return (taken from the write) are the tables'
    assert(silverRows > 0 && silverRows == spark.table(cfg.silverFqn).count())
    assert(goldRows > 0 && goldRows == spark.table(cfg.goldFqn).count())
    // silver is partitioned: a partition-column filter works against it
    val oneDay = spark.table(cfg.silverFqn)
      .select("interaction_date").distinct().head().getDate(0)
    assert(spark.table(cfg.silverFqn)
      .where(col("interaction_date") === oneDay).count() > 0)
    // a re-run REPLACES atomically (no drop window): gold twice is fine
    assert(graft.medallion.Pipeline.gold(spark, cfg) == goldRows)
    assert(spark.table(cfg.goldFqn).count() == goldRows)
    Seq(cfg.silverFqn, cfg.goldFqn)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
