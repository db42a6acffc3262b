package graft

import graft.medallion.Maintenance
import org.apache.spark.sql.functions._

/** The z-order layout op's whole point is multi-dimensional file pruning:
  * after [[Maintenance.zorderLayout]], a predicate on EITHER clustering
  * dimension must touch a strict subset of the written files (matching
  * rows cluster into few files, and parquet min/max stats skip the rest).
  * A single-column sort gives that for one dimension only — the contrast
  * case proves the interleave is doing the work. */
class ZorderLayoutSpec extends GraftSuite {
  private def filesTouched(path: String, pred: org.apache.spark.sql.Column): Long =
    spark.read.parquet(path).where(pred)
      .select(input_file_name()).distinct().count()

  test("zorderLayout clusters both dimensions; x-sort only clusters x") {
    import spark.implicits._
    // a 64x64 grid, shuffled id order so the input has no incidental layout
    val grid = spark.range(4096)
      .select((col("id") % 64).cast("int").as("x"),
        (col("id") / 64).cast("int").as("y"),
        md5(col("id").cast("string")).as("payload"))
      .orderBy("payload")
    val zPath = "/tmp/graft_zorder_spec/z"
    val xPath = "/tmp/graft_zorder_spec/xsort"
    val nz = Maintenance.zorderLayout(grid, zPath, $"x", $"y",
      bits = 6, numFiles = 16)
    assert(nz == 16L, s"expected 16 files, wrote $nz")
    // contrast layout: same file count, single-dimension sort
    grid.repartitionByRange(16, $"x").sortWithinPartitions($"x")
      .write.mode("overwrite").parquet(xPath)

    val xPred = $"x".between(10, 15)
    val yPred = $"y".between(10, 15)
    val zx = filesTouched(zPath, xPred)
    val zy = filesTouched(zPath, yPred)
    // z-order: BOTH dimensions' matches live in a strict minority of files
    assert(zx <= 8 && zx < nz, s"x predicate touched $zx of $nz z-ordered files")
    assert(zy <= 8 && zy < nz, s"y predicate touched $zy of $nz z-ordered files")
    // x-sort: x prunes hard, y hits every file — the one-dimensional trap
    assert(filesTouched(xPath, xPred) <= 4)
    assert(filesTouched(xPath, yPred) == 16L)
  }
}
