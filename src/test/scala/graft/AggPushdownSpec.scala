package graft

/** AGGREGATE PUSHDOWN through the catalog scan: with
  * `spark.sql.parquet.aggregatePushdown` on, COUNT(*)/MIN/MAX over a
  * catalog table are answered from parquet FOOTER metadata — the scan
  * reports `PushedAggregation` and materializes one pre-aggregated row
  * per file instead of the rows themselves. At 100 TB that is the
  * difference between a count being a metadata sweep and a full table
  * read. The catalog's [[graft.sources.KeyGroupedParquetScanBuilder]]
  * forwards `SupportsPushDownAggregates` to Spark's parquet builder,
  * so the whole machinery composes with snapshot pinning. */
class AggPushdownSpec extends GraftSuite {
  registerCatalog("graft_ap")

  test("COUNT/MIN/MAX are answered from footers (PushedAggregation)") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_ap.db")
    (1L to 1000L).map(i => (i, i * 2.0)).toDF("id", "v")
      .repartition(4)
      .writeTo("graft_ap.db.t").using("parquet").createOrReplace()
    withConf("spark.sql.parquet.aggregatePushdown" -> "true") {
      val df = spark.sql(
        "SELECT count(*) AS n, min(id) AS lo, max(id) AS hi " +
          "FROM graft_ap.db.t")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregation: [COUNT(*)") ||
        plan.contains("PushedAggregation: [COUNT(1)"),
        s"aggregate not pushed:\n$plan")
      assert(df.collect().head.toSeq === Seq(1000L, 1L, 1000L))
      // still snapshot-correct: an append is visible to a NEW query,
      // and the pushed result matches the unpushed one
      spark.sql("INSERT INTO graft_ap.db.t VALUES (1001, 2002.0)")
      assert(spark.sql("SELECT count(*) FROM graft_ap.db.t")
        .head().getLong(0) === 1001L)
    }
    assert(spark.sql("SELECT count(*) FROM graft_ap.db.t")
      .head().getLong(0) === 1001L)
  }
}
