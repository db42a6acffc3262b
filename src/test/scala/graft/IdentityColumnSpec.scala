package graft

/** IDENTITY COLUMNS on the atomic catalog (`GENERATED { ALWAYS | BY
  * DEFAULT } AS IDENTITY`): the spec survives CREATE into the table
  * schema, omitted values are connector-allocated — unique,
  * directional, continuing above the footer-stats watermark across
  * appends — explicit inserts into ALWAYS columns are refused inside
  * the write pass, BY DEFAULT keeps explicit values and allocates
  * above them, merge-inserted nulls are refused pointedly, and a
  * racing identity append CONFLICTS instead of rebasing (overlapping
  * allocations). */
class IdentityColumnSpec extends GraftSuite {
  registerCatalog("graft_ic")

  test("GENERATED ALWAYS: values allocate from start, unique, ascending") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_ic.db")
    spark.sql("""CREATE TABLE graft_ic.db.t (
                |  id BIGINT GENERATED ALWAYS AS IDENTITY
                |    (START WITH 100 INCREMENT BY 5),
                |  s STRING) USING parquet""".stripMargin)
    spark.sql("INSERT INTO graft_ic.db.t (s) VALUES ('a'), ('b'), ('c')")
    val ids1 = spark.sql("SELECT id FROM graft_ic.db.t")
      .collect().map(_.getLong(0)).sorted
    assert(ids1.length === 3)
    assert(ids1.distinct.length === 3, "identity values must be unique")
    assert(ids1.head >= 100L, s"values must start at START WITH: ${ids1.toSeq}")
    assert(ids1.forall(v => (v - 100L) % 5L == 0L),
      s"values must walk the step grid: ${ids1.toSeq}")
    // the second append continues ABOVE the first's watermark — read
    // from commit-time footer stats, not a data scan
    spark.sql("INSERT INTO graft_ic.db.t (s) VALUES ('d'), ('e')")
    val ids2 = spark.sql("SELECT id FROM graft_ic.db.t")
      .collect().map(_.getLong(0)).sorted
    assert(ids2.length === 5 && ids2.distinct.length === 5)
    assert(ids2.drop(3).forall(_ > ids1.max),
      s"new values must continue above the prior watermark: ${ids2.toSeq}")
  }

  test("GENERATED ALWAYS refuses explicit values") {
    val e = intercept[Exception] {
      spark.sql("INSERT INTO graft_ic.db.t VALUES (999999, 'z')")
    }
    assert(e.getMessage.contains("GENERATED ALWAYS") ||
      String.valueOf(e.getCause).contains("GENERATED ALWAYS"),
      s"unexpected failure: ${e.getMessage}")
    assert(spark.table("graft_ic.db.t").count() === 5,
      "the refused write must not have committed")
  }

  test("GENERATED BY DEFAULT keeps explicit values, allocates above them") {
    spark.sql("""CREATE TABLE graft_ic.db.d (
                |  id BIGINT GENERATED BY DEFAULT AS IDENTITY,
                |  s STRING) USING parquet""".stripMargin)
    spark.sql("INSERT INTO graft_ic.db.d VALUES (500, 'x')")
    spark.sql("INSERT INTO graft_ic.db.d (s) VALUES ('y')")
    val ids = spark.sql("SELECT id FROM graft_ic.db.d")
      .collect().map(_.getLong(0)).sorted
    assert(ids.contains(500L))
    assert(ids.distinct.length === 2)
    assert(ids.max > 500L,
      s"allocation must continue above the explicit value: ${ids.toSeq}")
  }

  test("merge-inserted rows get engine-allocated identity values") {
    import spark.implicits._
    // with the identity capability declared, Spark's row-level command
    // resolution allocates identity values for MERGE inserts ITSELF
    // (measured: watermark-continuing, unique) — the connector's
    // refuse-nulls guard on the COW write path stays as defense in
    // depth and never fires on this road
    val before = spark.sql("SELECT id FROM graft_ic.db.d")
      .collect().map(_.getLong(0)).toSet
    Seq(("q", 1)).toDF("s", "n").createOrReplaceTempView("ic_src")
    spark.sql("""MERGE INTO graft_ic.db.d t USING ic_src s
                |ON t.s = s.s
                |WHEN NOT MATCHED THEN INSERT (s) VALUES (s.s)
                |""".stripMargin)
    val after = spark.sql("SELECT id, s FROM graft_ic.db.d").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(after.length === before.size + 1)
    assert(after.map(_._1).distinct.length === after.length,
      s"identity values must stay unique: ${after.toSeq}")
    val newId = after.collectFirst { case (i, "q") => i }.get
    assert(!before.contains(newId) && newId > before.max,
      s"merge-allocated id must continue above the watermark: $newId")
  }

  test("identity composes with merge-on-read: reinserts keep their " +
      "values, fresh inserts allocate, ALWAYS refuses explicit input") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS graft_ic.db.dm")
    spark.sql("""CREATE TABLE graft_ic.db.dm (
                |  rid BIGINT GENERATED ALWAYS AS IDENTITY
                |    (START WITH 10 INCREMENT BY 2),
                |  k BIGINT, v DOUBLE)
                |USING parquet
                |TBLPROPERTIES ('write.merge.mode' = 'merge-on-read')
                |""".stripMargin)
    spark.sql("INSERT INTO graft_ic.db.dm (k, v) " +
      "SELECT id, id * 1.0 FROM range(50)")
    spark.sql("ALTER TABLE graft_ic.db.dm ADD CONSTRAINT dm_pk " +
      "PRIMARY KEY (k) NOT ENFORCED")
    val ridOf = spark.table("graft_ic.db.dm")
      .select($"k", $"rid").as[(Long, Long)].collect().toMap
    // the MoR delta path engages (identity no longer demotes to COW):
    // an update + an insert, rid omitted in both branches
    Seq((7L, -7.0), (1000L, 1.0)).toDF("k", "v")
      .createOrReplaceTempView("dm_src")
    spark.sql("""MERGE INTO graft_ic.db.dm t USING dm_src s ON t.k = s.k
                |WHEN MATCHED THEN UPDATE SET v = s.v
                |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
                |""".stripMargin)
    // one equality-delete entry = the delta path ran, not a rewrite
    assert(spark.table("graft_ic.db.dm.deletes").count() === 1L)
    val after = spark.table("graft_ic.db.dm")
      .select($"k", $"rid", $"v").as[(Long, Long, Double)].collect()
    assert(after.length === 51)
    // the updated row KEPT its surrogate key through delete+reinsert
    assert(after.find(_._1 == 7L).get === ((7L, ridOf(7L), -7.0)))
    // the fresh insert allocated above the watermark, on the grid
    val fresh = after.find(_._1 == 1000L).get._2
    assert(fresh > ridOf.values.max && (fresh - 10L) % 2L == 0L,
      s"fresh rid $fresh must continue the (10,2) grid above " +
        s"${ridOf.values.max}")
    assert(after.map(_._2).distinct.length === after.length)
    // GENERATED ALWAYS still refuses an explicit value on this road
    Seq((2000L, 99L, 0.0)).toDF("k", "rid", "v")
      .createOrReplaceTempView("dm_bad")
    val e = intercept[Exception] {
      spark.sql("""MERGE INTO graft_ic.db.dm t USING dm_bad s ON t.k = s.k
                  |WHEN NOT MATCHED THEN
                  |  INSERT (rid, k, v) VALUES (s.rid, s.k, s.v)
                  |""".stripMargin)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("GENERATED ALWAYS") ||
        m.contains("IDENTITY")),
      s"wrong refusal: ${msgs(e).mkString(" | ").take(300)}")
    assert(spark.table("graft_ic.db.dm").count() === 51,
      "the refused merge must commit nothing")
  }

  test("a racing identity append conflicts instead of rebasing") {
    import spark.implicits._
    val cat = spark.sessionState.catalogManager.catalog("graft_ic")
      .asInstanceOf[graft.sources.AtomicParquetCatalog]
    val pinned = cat.loadTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("db"), "d"))
    spark.sql("INSERT INTO graft_ic.db.d (s) VALUES ('advance')")
    val info = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def queryId(): String = "ic-race"
      override def schema(): org.apache.spark.sql.types.StructType =
        spark.table("graft_ic.db.d").schema
      override def options(): org.apache.spark.sql.util.CaseInsensitiveStringMap =
        org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()
    }
    val rel = pinned
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
      .newWriteBuilder(info).build()
      .asInstanceOf[org.apache.spark.sql.connector.write.V1Write]
      .toInsertableRelation
    intercept[java.util.ConcurrentModificationException] {
      rel.insert(Seq((java.lang.Long.valueOf(777L), "racer")).toDF("id", "s"),
        false)
    }
  }
}
