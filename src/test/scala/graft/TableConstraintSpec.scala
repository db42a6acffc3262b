package graft

/** TABLE CONSTRAINTS on the atomic catalog (Spark 4's connector
  * constraint surface): ENFORCED CHECK constraints are validated
  * inside every write's own query plan — a violating row FAILS the
  * write and the table keeps its pre-write snapshot (the commit never
  * happens); adding a CHECK over data that already violates it fails
  * the DDL; PRIMARY KEY / UNIQUE persist as informational (NOT
  * ENFORCED) metadata; FOREIGN KEY is refused pointedly. */
class TableConstraintSpec extends GraftSuite {
  registerCatalog("graft_tc")

  test("enforced CHECK fails a violating write; the table is untouched") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_tc.db")
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "amount")
      .writeTo("graft_tc.db.pay").using("parquet").createOrReplace()
    spark.sql("ALTER TABLE graft_tc.db.pay " +
      "ADD CONSTRAINT amount_pos CHECK (amount > 0)")
    // a valid write passes
    spark.sql("INSERT INTO graft_tc.db.pay VALUES (3, 30.0)")
    assert(spark.table("graft_tc.db.pay").count() === 3)
    // a violating write FAILS — and commits nothing
    val e = intercept[Exception] {
      spark.sql("INSERT INTO graft_tc.db.pay VALUES (4, -1.0)")
    }
    assert(e.getMessage.toLowerCase.contains("amount_pos") ||
      e.getMessage.toLowerCase.contains("check"),
      s"unexpected failure text: ${e.getMessage}")
    assert(spark.table("graft_tc.db.pay").count() === 3,
      "a failed write must not change the table")
    // a violating MERGE fails the same way (same analyzer hook)
    Seq((3L, -5.0)).toDF("id", "amount")
      .createOrReplaceTempView("tc_bad_src")
    intercept[Exception] {
      spark.sql("""MERGE INTO graft_tc.db.pay t USING tc_bad_src s
                  |ON t.id = s.id
                  |WHEN MATCHED THEN UPDATE SET amount = s.amount
                  |""".stripMargin)
    }
    assert(spark.table("graft_tc.db.pay")
      .where($"amount" < 0).count() === 0)
  }

  test("ADD CONSTRAINT over already-violating data fails the DDL") {
    import spark.implicits._
    Seq((1L, -10.0)).toDF("id", "amount")
      .writeTo("graft_tc.db.dirty").using("parquet").createOrReplace()
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_tc.db.dirty " +
        "ADD CONSTRAINT pos CHECK (amount > 0)")
    }
    // the rejected constraint must not have been persisted
    spark.sql("INSERT INTO graft_tc.db.dirty VALUES (2, -20.0)")
    assert(spark.table("graft_tc.db.dirty").count() === 2)
  }

  test("DROP CONSTRAINT lifts enforcement; PK/UNIQUE are informational") {
    spark.sql("ALTER TABLE graft_tc.db.pay DROP CONSTRAINT amount_pos")
    spark.sql("INSERT INTO graft_tc.db.pay VALUES (5, -2.0)") // now fine
    assert(spark.table("graft_tc.db.pay").count() === 4)
    spark.sql("ALTER TABLE graft_tc.db.pay " +
      "ADD CONSTRAINT pay_pk PRIMARY KEY (id) NOT ENFORCED")
    // persisted and reported back through DESCRIBE
    val desc = spark.sql("DESCRIBE EXTENDED graft_tc.db.pay")
      .collect().map(_.mkString(" ")).mkString("\n")
    assert(desc.contains("pay_pk"))
    intercept[Exception] { // duplicate names refused
      spark.sql("ALTER TABLE graft_tc.db.pay " +
        "ADD CONSTRAINT pay_pk UNIQUE (id) NOT ENFORCED")
    }
  }

  test("PRIMARY KEY over NULL key data: refused without RELY (the " +
      "non-null flip would corrupt reads); RELY asserts past the scan") {
    import spark.implicits._
    Seq((Some(1L), 1.0), (None: Option[Long], 2.0)).toDF("id", "amount")
      .writeTo("graft_tc.db.nk").using("parquet").createOrReplace()
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft_tc.db.nk " +
        "ADD CONSTRAINT nk_pk PRIMARY KEY (id) NOT ENFORCED")
    }
    assert(e.getMessage.contains("NULL"),
      s"expected the NULL-validation error, got: ${e.getMessage}")
    // the refused constraint was NOT persisted (no phantom): adding a
    // same-named constraint later must not hit "already exists"
    val desc = spark.sql("DESCRIBE EXTENDED graft_tc.db.nk")
      .collect().map(_.mkString(" ")).mkString("\n")
    assert(!desc.contains("nk_pk"), "phantom constraint persisted")
    // ...and the schema was not flipped non-null
    assert(spark.table("graft_tc.db.nk").schema("id").nullable)
    // RELY skips the scan — the user asserts the trust explicitly
    spark.sql("ALTER TABLE graft_tc.db.nk " +
      "ADD CONSTRAINT nk_pk PRIMARY KEY (id) NOT ENFORCED RELY")
  }

  test("PRIMARY KEY on a nonexistent column fails and persists nothing") {
    import spark.implicits._
    Seq((1L, 1.0)).toDF("id", "amount")
      .writeTo("graft_tc.db.ghost").using("parquet").createOrReplace()
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_tc.db.ghost " +
        "ADD CONSTRAINT g_pk PRIMARY KEY (no_such_col) NOT ENFORCED")
    }
    // no phantom left behind the failed ALTER: the same name is free
    spark.sql("ALTER TABLE graft_tc.db.ghost " +
      "ADD CONSTRAINT g_pk PRIMARY KEY (id) NOT ENFORCED")
  }
}
