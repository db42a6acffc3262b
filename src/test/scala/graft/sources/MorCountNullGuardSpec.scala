package graft.sources

import java.nio.file.{Files, Paths}

import graft.GraftSuite

/** COUNT(col)'s null-guard (KeyGroupedScan.morCountCol /
  * MorDeletes.matchesNulls): the non-null metadata answer subtracts an
  * equality entry's matched count on the claim "a matched row provably
  * has col non-null". A COUNTED null-matching entry — the shape a
  * future counted `DELETE WHERE col IS NULL` would persist — breaks
  * that claim: its matched rows belong to the NULL count. The guard
  * makes the proof LOCAL: any entry whose node contains a
  * null-matching leaf refuses COUNT(col) back to the scan, while
  * COUNT(*) (where the matched count subtracts from TOTAL rows) keeps
  * its metadata answer. The entry is injected directly so the test
  * does not depend on which write path persists counts today. */
class MorCountNullGuardSpec extends GraftSuite {
  private val warehouse: String = registerCatalog("graft_ng")
  spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_ng.db")

  /** Every test here reads counts through aggregate pushdown. */
  override def withFixture(test: NoArgTest) =
    withConf("spark.sql.parquet.aggregatePushdown" -> "true")(super.withFixture(test))

  test("a COUNTED isnull entry refuses COUNT(col) to the scan (exact " +
      "answer), while COUNT(*) keeps the metadata path") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    s.range(1000).select($"id".as("k"),
        when($"id" % 5 === 0, lit(null).cast("long"))
          .otherwise($"id").as("n"))
      .repartition(4)
      .writeTo("graft_ng.db.t").create()
    val tdir = Paths.get(warehouse, "db", "t")
    val cur = new String(Files.readAllBytes(tdir.resolve("_current")),
      "UTF-8").split("\n").head.trim
    val nv = tdir.resolve(cur)
    val files = AtomicParquetCatalog.walkDataFiles(nv)
      .map(p => nv.relativize(Paths.get(p)).toString).toSet
    // the hypothetical future shape: a predicate-delete entry over
    // `n IS NULL` that DOES carry its matched count (200 null rows)
    MorDeletes.writeEntry(nv, MorDeletes.Leaf("isnull", "n", Nil),
      files, matched = Some(200L))
    assert(MorDeletes.matchesNulls(MorDeletes.Leaf("isnull", "n", Nil)))
    assert(MorDeletes.matchesNulls(MorDeletes.OrN(
      MorDeletes.Leaf("eq", "n", Seq("3")),
      MorDeletes.Leaf("isnull", "n", Nil))),
      "an OrN branch containing isnull must flag")
    assert(!MorDeletes.matchesNulls(MorDeletes.Leaf("notnull", "n", Nil)),
      "notnull rejects nulls outright — not null-matching")
    // COUNT(*): total rows (1000) − matched (200) = 800, still a
    // zero-scan metadata answer — the subtraction from TOTAL rows is
    // sound whatever the entry matches
    val cstar = s.sql(
      "SELECT CAST(count(*) AS BIGINT) AS n FROM graft_ng.db.t")
    val planStar = cstar.queryExecution.executedPlan.toString
    assert(planStar.contains("LocalTableScan"),
      s"count(*) must keep the metadata path:\n$planStar")
    assert(cstar.collect()(0).getLong(0) === 800L)
    // COUNT(n): without the guard the metadata path would answer
    // nonNull − matched = 800 − 200 = 600 — WRONG (the deleted rows
    // were the NULL ones; the live non-null count is still 800).
    // The guard refuses to the scan, which agrees with 800.
    val ccol = s.sql(
      "SELECT CAST(count(n) AS BIGINT) AS n FROM graft_ng.db.t")
    val planCol = ccol.queryExecution.executedPlan.toString
    assert(!planCol.contains("LocalTableScan"),
      s"count(col) under a null-matching entry must scan:\n$planCol")
    assert(ccol.collect()(0).getLong(0) === 800L)
  }
}
