package graft

/** The persisted privacy ledger: DP mechanisms APPEND their spends to
  * a VersionedTable-backed release log, sequential composition over
  * the WRITTEN table (not a fixture) flips over_budget on re-release,
  * and `auditAsOf` time-travels the spend through VersionedTable
  * snapshots. */
class PrivacyLedgerSpec extends SparkSpecBase {

  private def budgets = spark.createDataFrame(Seq(
    graft.privacy.PrivacyLedger.Budget("customer", 1.0, 1e-6)))

  test("successive privDpSum calls append to the persisted ledger " +
      "and flip over_budget") {
    val root = graft.privacy.PrivacyLedger.newScratchLedger()
    assert(graft.privacy.PrivacyLedger.readLedger(spark, root).count() == 0)

    // first release: the mechanism itself writes 2 rows (sum + the
    // independently-noised mean denominator), ε spent = 2 × 0.5 = 1.0
    // — exactly AT the budget, not over (strict >)
    graft.queries.PrivacyQueries.privDpSum(spark, sfDir, root).count()
    val led1 = graft.privacy.PrivacyLedger.readLedger(spark, root)
    assert(led1.count() == 2)
    val a1 = graft.privacy.PrivacyLedger
      .auditLedger(spark, root, budgets).collect()(0)
    assert(a1.getAs[Long]("n_releases") == 2L)
    assert(math.abs(a1.getAs[Double]("eps_spent") - 1.0) < 1e-9)
    assert(!a1.getAs[Boolean]("over_budget"))

    // re-release: a second call is a NEW spend — two MORE rows with
    // fresh sequence-suffixed ids (never an upsert that absorbs the
    // re-release), and composition now breaches the ε = 1 budget
    graft.queries.PrivacyQueries.privDpSum(spark, sfDir, root).count()
    val led2 = graft.privacy.PrivacyLedger.readLedger(spark, root)
    assert(led2.count() == 4)
    assert(led2.select("release_id").distinct().count() == 4,
      "re-released ids must be unique, not upsert-absorbed")
    val a2 = graft.privacy.PrivacyLedger
      .auditLedger(spark, root, budgets).collect()(0)
    assert(a2.getAs[Long]("n_releases") == 4L)
    assert(math.abs(a2.getAs[Double]("eps_spent") - 2.0) < 1e-9)
    assert(a2.getAs[Boolean]("over_budget"),
      "two privDpSum releases compose to 2.0 > 1.0 and must flag")

    // a k-anonymity release is logged as an artifact but spends no ε
    graft.queries.PrivacyQueries.privKRelease(spark, sfDir, root).count()
    val led3 = graft.privacy.PrivacyLedger.readLedger(spark, root)
    assert(led3.count() == 5)
    val a3 = graft.privacy.PrivacyLedger
      .auditLedger(spark, root, budgets).collect()(0)
    assert(a3.getAs[Long]("n_releases") == 5L)
    assert(math.abs(a3.getAs[Double]("eps_spent") - 2.0) < 1e-9,
      "k-anonymity release must not change the ε spend")
  }

  test("auditAsOf time-travels the spend: version 0 sees only the " +
      "first release batch") {
    val root = graft.privacy.PrivacyLedger.newScratchLedger()
    val v0 = graft.privacy.PrivacyLedger.register(spark, root, Seq(
      graft.privacy.PrivacyLedger.Release(
        "r_a", "customer", "laplace_count", 0.4, 0.0, 1.0)))
    graft.privacy.PrivacyLedger.register(spark, root, Seq(
      graft.privacy.PrivacyLedger.Release(
        "r_b", "customer", "laplace_sum", 0.8, 0.0, 1.0)))
    val then_ = graft.privacy.PrivacyLedger
      .auditAsOf(spark, root, budgets, v0).collect()(0)
    val now = graft.privacy.PrivacyLedger
      .auditLedger(spark, root, budgets).collect()(0)
    assert(math.abs(then_.getAs[Double]("eps_spent") - 0.4) < 1e-9)
    assert(!then_.getAs[Boolean]("over_budget"))
    assert(math.abs(now.getAs[Double]("eps_spent") - 1.2) < 1e-9)
    assert(now.getAs[Boolean]("over_budget"))
  }

  test("budget audit trips on the release that exceeds the source budget") {
    import graft.privacy.PrivacyLedger._
    def spent(n: Int): (Boolean, Double) = {
      val log = spark.createDataFrame((1 to n).map(i =>
        Release(s"rel_$i", "customer", "laplace_count", 0.5, 0.0, 1.0)))
      val r = audit(log, budgets).collect()(0)
      (r.getAs[Boolean]("over_budget"), r.getAs[Double]("eps_spent"))
    }
    assert(spent(1) == (false, 0.5)) // first release: within budget
    assert(spent(2) == (false, 1.0)) // second: exactly exhausts it
    val third = spent(3)             // third re-release: composition trips
    assert(third == (true, 1.5), s"third release did not trip: $third")
  }

  test("budget audit lists budgeted sources with zero releases") {
    import graft.privacy.PrivacyLedger._
    val log = spark.createDataFrame(
      Seq(Release("r1", "customer", "laplace_sum", 0.25, 0.0, 100.0)))
    val twoBudgets = spark.createDataFrame(
      Seq(Budget("customer", 1.0, 1e-6), Budget("events", 0.5, 0.0)))
    val rows = audit(log, twoBudgets).orderBy("source").collect()
    assert(rows.length == 2)
    val ev = rows.find(_.getString(0) == "events").get
    assert(ev.getLong(1) == 0L && ev.getDouble(2) == 0.0
      && !ev.getAs[Boolean]("over_budget"))
    assert(ev.getDouble(5) == 0.5) // eps_remaining = untouched budget
  }

  test("privDpCounts registers one laplace_count spend per call") {
    val root = graft.privacy.PrivacyLedger.newScratchLedger()
    graft.queries.PrivacyQueries.privDpCounts(spark, sfDir, root).count()
    val led = graft.privacy.PrivacyLedger.readLedger(spark, root).collect()
    assert(led.length == 1)
    assert(led(0).getAs[String]("mechanism") == "laplace_count")
    assert(led(0).getAs[String]("source") == "customer")
    assert(led(0).getAs[String]("release_id").startsWith("rel_dp_counts#"))
  }
}
