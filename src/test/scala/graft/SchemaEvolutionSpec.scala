package graft

import org.apache.spark.sql.functions._

/** Schema evolution on the lakehouse tables — the capability the reference
  * advertises via Iceberg (README.md:133) but never exercises: new columns
  * appear in later writes; older files backfill as nulls on read.
  */
class SchemaEvolutionSpec extends GraftSuite {
  test("parquet mergeSchema reads old+new files under one evolved schema") {
    import spark.implicits._
    val dir = tmpDir("graft_evolve").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v1")
      .write.mode("append").parquet(dir)
    Seq((3L, "c", 1.5), (4L, "d", 2.5)).toDF("id", "v1", "v2_added")
      .write.mode("append").parquet(dir)

    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("id", "v1", "v2_added"))
    assert(merged.count() == 4)
    // old files surface the new column as null
    assert(merged.filter($"v2_added".isNull).count() == 2)
    assert(merged.filter($"id" === 3L).head().getAs[Double]("v2_added") == 1.5)
  }

  test("catalog table evolves via ALTER TABLE ADD COLUMN") {
    import spark.implicits._
    // warehouse.dir is a static conf — use whatever the session already has
    spark.sql("DROP TABLE IF EXISTS evolve_t")
    Seq((1L, "x")).toDF("id", "v1").write.saveAsTable("evolve_t")
    spark.sql("ALTER TABLE evolve_t ADD COLUMN (score DOUBLE)")
    Seq((2L, "y", 9.5)).toDF("id", "v1", "score")
      .write.mode("append").format("parquet").saveAsTable("evolve_t")
    val t = spark.table("evolve_t")
    assert(t.columns.toSet == Set("id", "v1", "score"))
    assert(t.filter($"id" === 1L).head().isNullAt(2))
    assert(t.filter($"id" === 2L).head().getAs[Double]("score") == 9.5)
    spark.sql("DROP TABLE evolve_t")
  }
}
