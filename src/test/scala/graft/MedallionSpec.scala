package graft

import graft.medallion.{BronzeGen, Gold, Silver}
import org.apache.spark.sql.functions._

class MedallionSpec extends GraftSuite {
  private val epoch = 1754982000L // fixed generation clock
  private lazy val bronze =
    BronzeGen.generate(spark, 2000, 4, 1, seed = 42, baseEpochS = epoch).cache()
  private lazy val silver = Silver.enrich(bronze,
    clockDate = to_date(timestamp_seconds(lit(epoch))),
    clockTs = timestamp_seconds(lit(epoch)),
    clockEpochS = lit(epoch)).cache()

  test("bronze schema has the full reference column surface") {
    val expected = Set(
      "id", "event_timestamp", "event_id", "session_id", "customer_id",
      "email_raw", "phone_raw", "interaction_type", "product_id",
      "product_category", "transaction_amount", "currency", "channel",
      "device_type", "browser", "ip_address", "city_raw", "state_raw",
      "zip_code", "page_views", "time_on_site_seconds", "bounce_rate",
      "support_ticket_id", "issue_category", "satisfaction_score",
      "campaign_id", "utm_source", "utm_medium", "loyalty_member",
      "loyalty_tier", "points_earned", "points_redeemed", "data_source",
      "data_quality_flag", "interaction_payload", "entropy_break1",
      "entropy_break2", "entropy_break3", "raw_user_agent",
      "session_fingerprint")
    assert(bronze.columns.toSet == expected)
  }

  test("bronze generation is deterministic for a fixed seed") {
    val again = BronzeGen.generate(spark, 2000, 4, 1, seed = 42, baseEpochS = epoch)
    val fp = (df: org.apache.spark.sql.DataFrame) =>
      df.select(sha2(concat_ws("|", df.columns.map(col): _*), 256).as("h"))
        .agg(sum(conv(substring(col("h"), 1, 8), 16, 10).cast("long")))
        .head().getLong(0)
    assert(fp(bronze) == fp(again))
    val other = BronzeGen.generate(spark, 2000, 4, 1, seed = 43, baseEpochS = epoch)
    assert(fp(bronze) != fp(other))
  }

  test("bronze distributions are sane") {
    val n = bronze.count()
    assert(n == 2000)
    val dup = bronze.filter(col("data_quality_flag") === "duplicate_suspected").count()
    assert(dup > 30 && dup < 250, s"duplicate_suspected=$dup of $n (expect ~5%)")
    // purchases have positive amounts; everything else zero
    assert(bronze.filter(col("interaction_type") === "purchase" &&
      col("transaction_amount") <= 0).count() == 0)
    assert(bronze.filter(col("interaction_type") =!= "purchase" &&
      col("transaction_amount") =!= 0).count() == 0)
    // payload = 1KB/64 = 16 sha2 blocks of 64 hex chars
    assert(bronze.select(length(col("interaction_payload"))).distinct().head().getInt(0)
      == 16 * 64)
    // event timestamps carry a real time-of-day (intended fix of §1.4-1)
    assert(bronze.select(countDistinct(hour(col("event_timestamp")))).head().getLong(0) > 20)
  }

  test("phone_clean replicates the reference regex exactly") {
    import spark.implicits._
    val in = Seq("(555) 123-4567", "+15551234567", "5551234567",
      "555-123-4567", "12345", "abc").toDF("p")
    val out = in.select(Silver.phoneClean(col("p")).as("c")).as[String].collect()
    assert(out.toSeq == Seq("(5551234567)", "(5551234567)", "(5551234567)",
      "(5551234567)", "12345", ""))
  }

  test("email_clean lowercases, trims, strips .DUPLICATE") {
    import spark.implicits._
    val in = Seq("  user42.DUPLICATE@Gmail.com ", "USER7@outlook.com").toDF("e")
    val out = in.select(Silver.emailClean(col("e")).as("c")).as[String].collect()
    assert(out.toSeq == Seq("user42@gmail.com", "user7@outlook.com"))
  }

  test("state/city standardization") {
    import spark.implicits._
    val in = Seq("California", "ca", "TEXAS", "NY", "New York", "FL").toDF("s")
    val out = in.select(Silver.stateStandardized(col("s")).as("c")).as[String].collect()
    assert(out.toSeq == Seq("CA", "CA", "TX", "NY", "NY", "FL"))
    val cities = Seq("NYC", "new york", "Dallas").toDF("c")
    val cOut = cities.select(Silver.cityStandardized(col("c")).as("x")).as[String].collect()
    assert(cOut.toSeq == Seq("New York", "New York", "Dallas"))
  }

  test("silver keeps ~95% of rows and all bronze columns plus 35 derived") {
    val bronzeN = bronze.count()
    val silverN = silver.count()
    val dup = bronze.filter(col("data_quality_flag") === "duplicate_suspected").count()
    assert(silverN == bronzeN - dup)
    assert(bronze.columns.toSet.subsetOf(silver.columns.toSet))
    assert(silver.columns.length == bronze.columns.length + 34)
  }

  test("approx KPIs land within 3*rsd of the exact distinct counts (m04 tolerance)") {
    // Cross-engine hashing is impossible for HLL sketches by design (the m04
    // gate is rows-only); the honest check is intra-engine: each
    // approx_count_distinct lands within ~3 relative standard deviations of
    // the exact countDistinct it replaces, per group.
    val rsd = 0.05
    val exact = Gold.kpis(silver).select("interaction_date",
      "daily_active_customers", "unique_email_addresses", "support_tickets_created")
    val approx = Gold.kpisApprox(silver, rsd).select("interaction_date",
      "daily_active_customers", "unique_email_addresses", "support_tickets_created")
    val joined = exact.as("e").join(approx.as("a"), "interaction_date").collect()
    assert(joined.nonEmpty)
    for (row <- joined; i <- 1 to 3) {
      val ex = row.getLong(i); val ap = row.getLong(i + 3)
      if (ex == 0L) assert(ap == 0L, s"col $i: exact 0 but approx $ap")
      else {
        val relErr = math.abs(ap - ex).toDouble / ex
        assert(relErr <= 3 * rsd,
          s"col $i on ${row.get(0)}: exact=$ex approx=$ap relErr=$relErr > ${3 * rsd}")
      }
    }
  }

  test("gold KPIs match an independent SQL formulation (intra-engine oracle)") {
    silver.createOrReplaceTempView("t_silver")
    val got = Gold.kpis(silver)
    got.createOrReplaceTempView("t_gold")
    val want = spark.sql(
      """SELECT interaction_date,
        | count(DISTINCT customer_id) AS daily_active_customers,
        | sum(transaction_amount) AS total_daily_revenue,
        | count_if(transaction_amount > 0) AS total_transactions,
        | sum(CASE WHEN channel = 'web' THEN transaction_amount ELSE 0 END) AS web_revenue,
        | count_if(customer_journey_stage = 'conversion') AS daily_conversions,
        | count_if(loyalty_member) AS loyalty_member_interactions,
        | count(DISTINCT support_ticket_id) AS support_tickets_created,
        | count_if(churn_risk_indicator = 'high_risk') AS high_churn_risk_customers
        |FROM t_silver GROUP BY interaction_date""".stripMargin)
    val gotSub = got.select("interaction_date", "daily_active_customers",
      "total_daily_revenue", "total_transactions", "web_revenue",
      "daily_conversions", "loyalty_member_interactions",
      "support_tickets_created", "high_churn_risk_customers")
    assert(gotSub.exceptAll(want).count() == 0 && want.exceptAll(gotSub).count() == 0)
    // conversions == purchases surviving the filter; must be < total rows
    // (guards against the reference's count(bool) bug semantics, §1.4-3)
    val row = got.agg(sum(col("daily_conversions")), sum(col("total_transactions"))).head()
    assert(row.getLong(0) == silver.filter(col("interaction_type") === "purchase").count())
    assert(row.getLong(1) < silver.count())
  }
}
