package graft

import graft.plans.{FuseDotProduct, GraftExtensions}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

class GraftExtensionsSpec extends GraftSuite {
  private def foldDot = {
    aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
  }

  test("FuseDotProduct rewrites the higher-order fold into graft_dot") {
    import spark.implicits._
    val df = spark.range(5)
      .select(array(col("id").cast("double"), lit(1.0)).as("a"),
        array(lit(2.0), lit(3.0)).as("b"))
      .select(foldDot.as("d"))
    val before = df.queryExecution.analyzed
    val after = FuseDotProduct(before)
    assert(!before.toString.contains("graft_dot"))
    assert(after.toString.contains("graft_dot"), after.toString)
    // value-equality of the rewritten expression is covered by the
    // session-level test below and VectorFunctionsSpec's fold comparison
  }

  test("extensions-enabled session applies the fusion during optimization") {
    // the fixture's session starts the context; with the active and
    // default sessions cleared, the builder makes a second session on it
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val df = s2.range(5)
        .select(array(col("id").cast("double"), lit(1.0)).as("a"),
          array(lit(2.0), lit(3.0)).as("b"))
        .select(foldDot.as("d"))
      assert(df.queryExecution.optimizedPlan.toString.contains("graft_dot"),
        df.queryExecution.optimizedPlan.toString)
      assert(df.collect().map(_.getDouble(0)).toSeq == Seq(3.0, 5.0, 7.0, 9.0, 11.0))
    } finally {
      // hand the shared session back to every later suite
      SparkSession.setActiveSession(shared)
      SparkSession.setDefaultSession(shared)
    }
  }
}
