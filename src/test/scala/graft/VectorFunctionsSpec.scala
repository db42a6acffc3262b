package graft

import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._

class VectorFunctionsSpec extends GraftSuite {
  test("dotF64 matches the higher-order fold bit-for-bit") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val rows = Seq.fill(500)(
      (Array.fill(64)(rng.nextDouble() - 0.5), Array.fill(64)(rng.nextDouble() - 0.5)))
    val df = rows.toDF("a", "b")
    val fold = aggregate(zip_with($"a", $"b", (x, y) => x * y), lit(0.0), (s, x) => s + x)
    val native = VectorFunctions.dotF64($"a", $"b")
    val mismatches = df.select(fold.as("f"), native.as("n"))
      .filter($"f" =!= $"n").count()
    assert(mismatches == 0)
  }

  test("dotF64 participates in whole-stage codegen") {
    import spark.implicits._
    // build over spark.range so a real physical stage exists (a local
    // relation would collapse to LocalTableScan with no codegen at all)
    val df = spark.range(10)
      .select(array(col("id").cast("double"), lit(2.0)).as("a"),
        array(lit(3.0), lit(4.0)).as("b"))
      .select(col("a"), col("b"), VectorFunctions.dotF64(col("a"), col("b")).as("d"))
    // [id,2]x[3,4] = id*3 + 8
    assert(df.filter(col("d") =!= col("a").getItem(0) * 3.0 + 8.0).count() == 0)
    // "*(n)" prefixes mark whole-stage-codegen stages in the tree string;
    // graft_dot must appear inside one (no fallback Project stage).
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("graft_dot") && l.contains("*(")), plan)
  }

  test("graft_dot is callable from SQL after registration") {
    import spark.implicits._
    VectorFunctions.register(spark)
    Seq((Array(1.0, 2.0, 3.0), Array(1.0, 1.0, 1.0))).toDF("a", "b")
      .createOrReplaceTempView("v_vec")
    val r = spark.sql("SELECT graft_dot(a, b) AS d FROM v_vec").head().getDouble(0)
    assert(r == 6.0)
  }

  test("nulls propagate (null array -> null result)") {
    import spark.implicits._
    val df = Seq((Some(Array(1.0)), Option.empty[Array[Double]]))
      .toDF("a", "b")
      .select(VectorFunctions.dotF64($"a", $"b").as("d"))
    assert(df.head().isNullAt(0))
  }
}
