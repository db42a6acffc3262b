package graft

import java.nio.file.{Files, Paths}

/** BRANCHES on the atomic catalog (parallel pointer logs): fork with
  * `CALL system.create_branch`, bind reads/writes with the `t@branch`
  * identifier, publish with `fast_forward` — git semantics in the
  * pointer-log model. Pinned here: write isolation both ways, branch
  * time travel, `VERSION AS OF '<branch>'`, the fast-forward ancestor
  * condition, retention protection ACROSS refs (main's sweep can
  * never vacuum a version a branch still references), orphan-sweep
  * awareness, DDL refusals, and MoR merges on a branch. */
class BranchSpec extends GraftSuite {
  private val warehouse: String = registerCatalog("graft_br")

  spark.conf.set("spark.sql.catalog.graft_br.history", "2")
  spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_br.db")

  private def ids(table: String): Seq[Long] = {
    import spark.implicits._
    spark.table(table).select("id").as[Long].collect().sorted.toSeq
  }

  test("branch writes are isolated from main and vice versa") {
    import spark.implicits._
    Seq(1L, 2L, 3L).toDF("id").writeTo("graft_br.db.t1")
      .using("parquet").create()
    spark.sql("CALL graft_br.system.create_branch('db.t1', 'dev')")
    // write to the branch: main must not move
    Seq(10L).toDF("id").writeTo("graft_br.db.`t1@dev`").append()
    assert(ids("graft_br.db.t1") == Seq(1L, 2L, 3L))
    assert(ids("graft_br.db.`t1@dev`") == Seq(1L, 2L, 3L, 10L))
    // write to main: branch must not move
    Seq(20L).toDF("id").writeTo("graft_br.db.t1").append()
    assert(ids("graft_br.db.t1") == Seq(1L, 2L, 3L, 20L))
    assert(ids("graft_br.db.`t1@dev`") == Seq(1L, 2L, 3L, 10L))
  }

  test("VERSION AS OF '<branch>' on the main identifier reads the " +
      "branch head; branch-side time travel resolves in the branch log") {
    import spark.implicits._
    assert(spark.sql("SELECT id FROM graft_br.db.t1 VERSION AS OF 'dev'")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 10L))
    // branch log: head = +10 append, 1 back = the fork state
    assert(spark.sql("SELECT id FROM graft_br.db.`t1@dev` VERSION AS OF 1")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("row-level ops bind to the branch: MERGE + MoR on t@dev") {
    import spark.implicits._
    Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("id", "v")
      .writeTo("graft_br.db.t2").using("parquet")
      .tableProperty("write.merge.mode", "merge-on-read")
      .create()
    spark.sql("ALTER TABLE graft_br.db.t2 " +
      "ADD CONSTRAINT t2pk PRIMARY KEY (id) NOT ENFORCED")
    spark.sql("CALL graft_br.system.create_branch('db.t2', 'fix')")
    Seq((2L, -2.0), (9L, 9.0)).toDF("id", "v")
      .createOrReplaceTempView("brsrc")
    spark.sql("""MERGE INTO graft_br.db.`t2@fix` t USING brsrc s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    // branch sees the merge (through the MoR delta path), main does not
    val branch = spark.table("graft_br.db.`t2@fix`").orderBy("id")
      .as[(Long, Double)].collect().toSeq
    assert(branch == Seq((1L, 1.0), (2L, -2.0), (3L, 3.0), (9L, 9.0)))
    assert(spark.table("graft_br.db.t2").orderBy("id")
      .as[(Long, Double)].collect().toSeq ==
      Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
    // the delta path engaged on the branch: an eq-delete entry lives in
    // the BRANCH head, not main's
    val tdir = Paths.get(warehouse, "db", "t2")
    def head(ref: String): java.nio.file.Path = tdir.resolve(
      new String(Files.readAllBytes(tdir.resolve(ref)), "UTF-8")
        .split("\n").head.trim)
    assert(Files.isDirectory(head("_branch_fix").resolve("_deletes")))
    assert(!Files.isDirectory(head("_current").resolve("_deletes")))
  }

  test("fast_forward publishes the branch; a diverged main refuses") {
    import spark.implicits._
    spark.sql("CALL graft_br.system.fast_forward('db.t2', 'fix')")
    assert(spark.table("graft_br.db.t2").orderBy("id")
      .as[(Long, Double)].collect().toSeq ==
      Seq((1L, 1.0), (2L, -2.0), (3L, 3.0), (9L, 9.0)))
    // diverge: commit to main after the fork, then try to fast-forward
    spark.sql("CALL graft_br.system.create_branch('db.t2', 'stale')")
    Seq((100L, 0.0)).toDF("id", "v").writeTo("graft_br.db.t2").append()
    val e = intercept[Exception] {
      spark.sql("CALL graft_br.system.fast_forward('db.t2', 'stale')")
    }
    assert(e.getMessage.contains("not an") ||
      Option(e.getCause).exists(_.getMessage.contains("not an")),
      s"wrong error: ${e.getMessage}")
    spark.sql("CALL graft_br.system.drop_branch('db.t2', 'stale')")
  }

  test("create_changelog_view accepts a branch ref: the view serves " +
      "the BRANCH's change feed") {
    import spark.implicits._
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "tag")
      .writeTo("graft_br.db.cv").using("parquet").create()
    spark.sql("CALL graft_br.system.create_branch('db.cv', 'audit')")
    // two branch-only commits: an append and a COW delete — main stays
    Seq((10L, "x"), (11L, "y")).toDF("id", "tag")
      .writeTo("graft_br.db.`cv@audit`").append()
    spark.sql("DELETE FROM graft_br.db.`cv@audit` WHERE id = 2")
    val summary = spark.sql("CALL graft_br.system.create_changelog_view(" +
      "'db.cv@audit', 'cv_audit_changes', 2)").collect()
    assert(summary.length == 1 &&
      summary(0).getAs[String]("changelog_view") == "cv_audit_changes")
    val got = spark.sql(
      """SELECT _commit_step, _change_type, id FROM cv_audit_changes
        |ORDER BY _commit_step, _change_type, id""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((1, "insert", 10L), (1, "insert", 11L),
      (2, "delete", 2L)),
      s"branch change feed mismatch: $got")
    // main's own feed sees none of the branch's commits — only its own
    Seq((30L, "z")).toDF("id", "tag").writeTo("graft_br.db.cv").append()
    spark.sql("CALL graft_br.system.create_changelog_view(" +
      "'db.cv', 'cv_main_changes', 1)")
    val main = spark.sql("SELECT _change_type, id FROM cv_main_changes")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(main == Seq(("insert", 30L)),
      s"main must see only its own append, got $main")
  }

  test("main's retention sweep never vacuums a version a branch holds") {
    import spark.implicits._
    Seq(1L).toDF("id").writeTo("graft_br.db.t3").using("parquet").create()
    spark.sql("CALL graft_br.system.create_branch('db.t3', 'keep')")
    val tdir = Paths.get(warehouse, "db", "t3")
    val forkHead = new String(
      Files.readAllBytes(tdir.resolve("_branch_keep")), "UTF-8")
      .split("\n").head.trim
    // history=2: five main appends push the fork version far off
    // main's window
    for (i <- 2 to 6)
      Seq(i.toLong).toDF("id").writeTo("graft_br.db.t3").append()
    assert(Files.isDirectory(tdir.resolve(forkHead)),
      "main's retention sweep vacuumed a branch-referenced version")
    assert(ids("graft_br.db.`t3@keep`") == Seq(1L))
    // remove_orphans must not touch it either
    spark.sql("CALL graft_br.system.remove_orphans('db.t3', 0)")
    assert(ids("graft_br.db.`t3@keep`") == Seq(1L))
    // drop the branch: like a dropped tag, the protected version stays
    // in main's log TAIL until the next log swap sweeps it — one more
    // commit vacuums it
    spark.sql("CALL graft_br.system.drop_branch('db.t3', 'keep')")
    Seq(7L).toDF("id").writeTo("graft_br.db.t3").append()
    assert(!Files.isDirectory(tdir.resolve(forkHead)),
      "dropped-branch versions must fall to the next retention sweep")
  }

  test("DDL refuses branch-bound identifiers pointedly") {
    val e1 = intercept[Exception] {
      spark.sql("ALTER TABLE graft_br.db.`t1@dev` ADD COLUMN x INT")
    }
    assert(e1.getMessage.contains("branch") ||
      Option(e1.getCause).exists(_.getMessage.contains("branch")))
    val e2 = intercept[Exception] {
      spark.sql("DROP TABLE graft_br.db.`t1@dev`")
    }
    assert(e2.getMessage.contains("branch") ||
      Option(e2.getCause).exists(_.getMessage.contains("branch")))
    // reading a branch that does not exist names the fix
    val e3 = intercept[Exception] {
      spark.table("graft_br.db.`t1@nosuch`").collect()
    }
    assert(e3.getMessage.contains("create_branch") ||
      Option(e3.getCause).exists(_.getMessage.contains("create_branch")))
  }

  test("the .branches metadata table lists live branches with lead counts") {
    import spark.implicits._
    val rows = spark.table("graft_br.db.t1.branches")
      .as[(String, String, Int)].collect().toSeq
    assert(rows.map(_._1) == Seq("dev"))
    assert(rows.head._3 == 1, // one branch commit main does not have
      s"expected dev 1 commit ahead, got ${rows.head._3}")
  }

  test("branch names collide with neither tags nor existing branches") {
    spark.sql("CALL graft_br.system.tag('db.t1', 'pinned', 0)")
    val e = intercept[Exception] {
      spark.sql("CALL graft_br.system.create_branch('db.t1', 'pinned')")
    }
    assert(e.getMessage.contains("tag") ||
      Option(e.getCause).exists(_.getMessage.contains("tag")))
    val e2 = intercept[Exception] {
      spark.sql("CALL graft_br.system.create_branch('db.t1', 'dev')")
    }
    assert(e2.getMessage.contains("already exists") ||
      Option(e2.getCause).exists(_.getMessage.contains("already exists")))
  }

  test("path-shaped branch names are refused at every resolving entry " +
      "point — drop_branch, fast_forward, table_changes") {
    def shapeErr(body: => Unit): Unit = {
      val e = intercept[Exception](body)
      assert(e.getMessage.contains("[A-Za-z0-9_-]") ||
        Option(e.getCause).exists(_.getMessage.contains("[A-Za-z0-9_-]")),
        s"expected the name-shape error, got: ${e.getMessage}")
    }
    // each of these would otherwise resolve '_branch_x/../_current'
    // onto the table's MAIN pointer (delete it, swap it, or serve
    // main's change feed labeled as a branch)
    shapeErr(spark.sql(
      "CALL graft_br.system.drop_branch('db.t1', 'x/../_current')"))
    shapeErr(spark.sql(
      "CALL graft_br.system.fast_forward('db.t1', 'x/../_current')"))
    // (a literal '..' cannot even reach the branch resolver here — the
    // table string splits on dots first — but any slash-carrying name
    // is refused before it touches the filesystem)
    shapeErr(graft.sources.AtomicParquetCatalog
      .tableChanges(spark, "graft_br.db.t1@x/y", 1))
    // the main pointer survived the attempts
    assert(spark.table("graft_br.db.t1").count() > 0)
  }
}
