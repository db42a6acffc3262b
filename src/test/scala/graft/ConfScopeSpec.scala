package graft

/** `graft.withConf`, the one set-and-restore rule for session confs: a
  * scope puts back the value the session had, or unsets a key it had not
  * set, also when its body throws. Gates that override a conf for part of
  * their work keep a value the session set before them. */
class ConfScopeSpec extends GraftSuite {
  private val dir = "/root/testdata/sf0.001"

  test("withConf restores previous values, unsets new keys, and survives a throw") {
    val (had, fresh) = ("spark.graft.test.had", "spark.graft.test.fresh")
    withConf(had -> "before") {
      intercept[IllegalStateException] {
        withConf(had -> "inside", fresh -> "inside") {
          assert(spark.conf.get(had) == "inside" && spark.conf.get(fresh) == "inside")
          throw new IllegalStateException("body failed")
        }
      }
      assert(spark.conf.get(had) == "before")
      assert(!spark.conf.getAll.contains(fresh))
    }
    assert(!spark.conf.getAll.contains(had))
  }

  test("q95 and q111 keep the session's own deleteMode and bloomSkipping") {
    val deleteMode = "spark.sql.catalog.graft.write.deleteMode"
    val bloom = "spark.sql.catalog.graft.read.bloomSkipping"
    // both gates override their key inside; q111 needs probing on after
    // its window, so its key is set explicitly on rather than off
    withConf(deleteMode -> "merge-on-read", bloom -> "true") {
      ops.Extras.q95MorDelete(spark, dir).collect()
      assert(spark.conf.getOption(deleteMode).contains("merge-on-read"))
      ops.Extras.q111BloomSkipping(spark, dir).collect()
      assert(spark.conf.getOption(bloom).contains("true"))
      assert(spark.conf.getOption(deleteMode).contains("merge-on-read"))
    }
  }
}
