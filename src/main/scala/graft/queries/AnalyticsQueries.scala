package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Gate
import graft.core.Tables

/** Round-10 analytics surface: the event-history operators a warehouse
  * team reaches for next once the BonusQueries window family exists —
  * interval coverage (gaps-and-islands), exponential smoothing,
  * market-basket association, next-event transition models, and SCD2
  * dimension-history construction. Every operator is a single-shuffle
  * keyed plan (one hash exchange on the entity key serves its windows)
  * and every oracle replays the identical arithmetic, per the
  * cross-engine pitfalls catalogued in docs/SCALE.md. */
object AnalyticsQueries extends graft.QueryModule {

  /** Merge overlapping activity intervals per user (gaps-and-islands):
    * each event opens a 30-minute presence interval; touching/
    * overlapping intervals coalesce into islands via the classic
    * running-max-of-end window (strictly-before frame), then one
    * grouped reduction per island. All interval arithmetic is integral
    * epoch-micros so both engines bound islands on the same integers.
    * Scale shape: one exchange on user_id, ROWS-bounded running
    * windows, island count ≤ event count. */
  def tsMergeIntervals(spark: SparkSession, sfDir: String): DataFrame = {
    val span = 1800000000L // 30 min in µs
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val prevMax = max(col("e")).over(
      w.rowsBetween(Window.unboundedPreceding, -1))
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("e", col("us") + span)
    ev.withColumn("new_island",
        when(prevMax.isNull || col("us") > prevMax, 1L).otherwise(0L))
      .withColumn("island", sum(col("new_island")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "island")
      .agg(min("us").as("s"), max("e").as("t"), count(lit(1)).as("n_events"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_intervals"),
        // integral `div`, not `/`: Column./ is DOUBLE division and the
        // oracle's `//` is integer — the classic cross-engine mismatch
        sum(col("t") - col("s")).as("covered_us"),
        max(col("t") - col("s")).as("max_span_us"),
        max("n_events").as("max_events_per_interval"))
      .select(col("user_id"), col("n_intervals"),
        expr("covered_us div 1000000").as("covered_seconds"),
        col("max_span_us"), col("max_events_per_interval"))
      .orderBy("user_id")
  }
  val mergeIntervalsSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    epoch_us(CAST(ts AS TIMESTAMP)) + 1800000000 AS e
      |  FROM events),
      |m AS (
      |  SELECT *, max(e) OVER (PARTITION BY user_id ORDER BY us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      |  FROM e),
      |isl AS (
      |  SELECT *, CAST(sum(CASE WHEN pm IS NULL OR us > pm THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY user_id ORDER BY us, event_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
      |  FROM m),
      |iv AS (
      |  SELECT user_id, island, min(us) AS s, max(e) AS t,
      |    count(*) AS n_events
      |  FROM isl GROUP BY 1, 2)
      |SELECT user_id, count(*) AS n_intervals,
      |  CAST(sum(t - s) AS BIGINT) // 1000000 AS covered_seconds,
      |  CAST(max(t - s) AS BIGINT) AS max_span_us,
      |  max(n_events) AS max_events_per_interval
      |FROM iv GROUP BY 1 ORDER BY 1""".stripMargin

  /** Exponentially weighted moving average per user series, the
    * smoothing primitive of monitoring/forecast features. EWMA is
    * inherently recursive; the scale-safe relational form truncates at
    * K=8 lags (2⁻⁸ residual weight < 0.4%) so it becomes ONE window
    * pass with ROWS-bounded frames — no recursion, no state. Weights
    * are exact powers of two, so every product is an exponent shift
    * and the left-to-right sums are bit-identical across engines (no
    * rounding slack needed; 6dp rounding kept only to normalize the
    * printed width). Emitted per user at the LAST event (the live
    * smoothed reading). */
  def tsEwma(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val lags = (0 to 8).map(j => lag(col("value"), j).over(w))
    val num = lags.zipWithIndex.map { case (l, j) =>
      coalesce(l, lit(0.0)) * lit(math.pow(2.0, -j)) }.reduceLeft(_ + _)
    val den = lags.zipWithIndex.map { case (l, j) =>
      when(l.isNotNull, lit(math.pow(2.0, -j))).otherwise(lit(0.0)) }
      .reduceLeft(_ + _)
    val rn = row_number().over(
      Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("ewma", round(num / den, 6))
      .withColumn("rn", rn)
      .where(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("ewma"))
      .orderBy("user_id")
  }
  val ewmaSql: String = {
    val num = (0 to 8).map(j =>
      s"coalesce(lag(value, $j) OVER w, 0.0) * ${math.pow(2.0, -j)}")
      .mkString(" + ")
    val den = (0 to 8).map(j =>
      s"CASE WHEN lag(value, $j) OVER w IS NOT NULL" +
        s" THEN ${math.pow(2.0, -j)} ELSE 0.0 END")
      .mkString(" + ")
    s"""WITH sm AS (
       |  SELECT user_id, event_id, round(($num) / ($den), 6) AS ewma,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id
       |    ORDER BY CAST(ts AS TIMESTAMP), event_id))
       |SELECT user_id, event_id AS last_event_id, ewma
       |FROM sm WHERE rn = 1 ORDER BY user_id""".stripMargin
  }

  /** Channel → bitmask for the Shapley exposure universe (k = 4
    * non-conversion event types; conversion = purchase). */
  private val ShapleyChannels: Seq[(String, Int)] =
    Seq(("click", 1), ("error", 2), ("signup", 4), ("view", 8))

  /** Exact Shapley-value channel attribution (Shapley 1953; the
    * marketing form in Dalessandro et al. 2012) — the order-free
    * division of conversion credit that last-touch and linear
    * attribution approximate: channel c earns the coalition-weighted
    * average of its marginal contributions v(S∪{c})−v(S) over all
    * 2^{k−1} coalitions. The characteristic function is monotone by
    * construction — v(S) = conversions among users whose exposure set
    * ⊆ S — which buys the conservation law Σφ_c = v(full) − v(∅) that
    * ShapleyAttributionSpec pins. Shape: ONE keyed pass folds each user to a
    * 4-bit exposure mask + converted flag; EVERYTHING afterwards lives
    * on the 16-row mask table (subset-sum join, coalition enumeration,
    * factorial weights as a popcount CASE) — exact Shapley is 2^k and
    * k is the channel count, never the data. */
  def xShapleyAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val u = Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("conv"),
        ShapleyChannels.map { case (ch, bit) =>
          max(when(col("event_type") === ch, bit).otherwise(0))
        }.reduce(_ + _).as("mask"))
    val byMask = u.groupBy("mask").agg(sum("conv").as("convs"))
    val sets = spark.range(16).select(col("id").cast("int").as("s"))
    val v = sets.join(byMask,
        col("mask").bitwiseAND(col("s")) === col("mask"), "left")
      .groupBy("s")
      .agg(coalesce(sum("convs"), lit(0L)).as("vv"))
    val channels = {
      import spark.implicits._
      ShapleyChannels.toDF("channel", "bit")
    }
    // coalition weights |S|!(k−1−|S|)!/k! for k = 4, keyed by popcount
    val w = when(expr("bit_count(s0)") === 0, lit(6.0) / 24.0)
      .when(expr("bit_count(s0)") === 3, lit(6.0) / 24.0)
      .otherwise(lit(2.0) / 24.0)
    val phi = channels
      .crossJoin(v.select(col("s").as("s0"), col("vv").as("v0")))
      .where(col("s0").bitwiseAND(col("bit")) === 0)
      .join(v.select(col("s").as("s1"), col("vv").as("v1")),
        col("s1") === col("s0").bitwiseOR(col("bit")))
      .groupBy("channel")
      .agg(graft.functions.ScoreFns.scoreRound(
        sum(w * (col("v1") - col("v0"))), 6).as("shapley"))
    val tot = v.agg(
      max(when(col("s") === 15, col("vv"))).as("total_conversions"),
      max(when(col("s") === 0, col("vv"))).as("baseline_conversions"))
    phi.crossJoin(broadcast(tot)).orderBy("channel")
  }
  val shapleySql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
      |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      + max(CASE WHEN event_type = 'error' THEN 2 ELSE 0 END)
      |      + max(CASE WHEN event_type = 'signup' THEN 4 ELSE 0 END)
      |      + max(CASE WHEN event_type = 'view' THEN 8 ELSE 0 END) AS mask
      |  FROM events GROUP BY 1),
      |bm AS (SELECT mask, sum(conv) AS convs FROM u GROUP BY 1),
      |sets AS (SELECT unnest(generate_series(0, 15)) AS s),
      |v AS (
      |  SELECT s, CAST(coalesce(sum(convs), 0) AS BIGINT) AS vv
      |  FROM sets LEFT JOIN bm ON (mask & s) = mask
      |  GROUP BY 1),
      |ch(channel, bit) AS (VALUES
      |  ('click', 1), ('error', 2), ('signup', 4), ('view', 8)),
      |phi AS (
      |  SELECT channel,
      |    round(sum((CASE WHEN bit_count(v0.s) IN (0, 3) THEN 6.0 / 24.0
      |      ELSE 2.0 / 24.0 END) * (v1.vv - v0.vv)), 6) + 0.0 AS shapley
      |  FROM ch
      |  JOIN v v0 ON (v0.s & ch.bit) = 0
      |  JOIN v v1 ON v1.s = (v0.s | ch.bit)
      |  GROUP BY 1),
      |tot AS (
      |  SELECT max(CASE WHEN s = 15 THEN vv END) AS total_conversions,
      |    max(CASE WHEN s = 0 THEN vv END) AS baseline_conversions
      |  FROM v)
      |SELECT channel, shapley, total_conversions, baseline_conversions
      |FROM phi CROSS JOIN tot ORDER BY channel""".stripMargin

  /** Two-sample log-rank test over the x_survival_km life table — the
    * inferential companion to the KM curve: does cohort 1 (md5-parity
    * arm of the customer key) churn at a different hazard than cohort
    * 0? At every distinct event time t the observed group-1 deaths are
    * compared to the hypergeometric expectation d_t·n1_t/n_t given the
    * at-risk margins; χ² = (Σ(d1−E1))²/ΣV with the standard variance
    * term (Mantel 1966). Same censoring rule and shapes as
    * x_survival_km: ONE keyed aggregation to the duration-bounded life
    * table, reverse-cumulative at-risk windows over that bounded frame
    * (whitelisted), exact-integer cells in doubles, Σ rounded at 6. */
  def xLogrank(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
    val life = orders.groupBy("o_custkey")
      .agg(min("o_orderdate").as("fd"), max("o_orderdate").as("ld"))
      .crossJoin(broadcast(orders.agg(max("o_orderdate").as("maxd"))))
      .select(
        (graft.sketch.Sketches.hash60(col("o_custkey").cast("string")) % 2)
          .as("g"),
        datediff(to_date(col("ld")), to_date(col("fd"))).cast("long")
          .as("dur"),
        (col("ld") < col("maxd") - expr("INTERVAL 90 DAYS")).cast("long")
          .as("ev"))
    val byDur = life.groupBy("dur").agg(
      sum(when(col("g") === 0, 1L).otherwise(0L)).as("c0"),
      sum(when(col("g") === 0, col("ev")).otherwise(0L)).as("d0"),
      sum(when(col("g") === 1, 1L).otherwise(0L)).as("c1"),
      sum(when(col("g") === 1, col("ev")).otherwise(0L)).as("d1"))
    val atRisk = Window.orderBy("dur")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val t = byDur
      .withColumn("n0", sum("c0").over(atRisk).cast("double"))
      .withColumn("n1", sum("c1").over(atRisk).cast("double"))
      .where(col("d0") + col("d1") > 0)
      .withColumn("nn", col("n0") + col("n1"))
      .withColumn("d", (col("d0") + col("d1")).cast("double"))
      .withColumn("e1", col("d") * col("n1") / col("nn"))
      .withColumn("v", when(col("nn") > 1,
        col("d") * (col("n1") / col("nn"))
          * (lit(1.0) - col("n1") / col("nn"))
          * (col("nn") - col("d")) / (col("nn") - lit(1.0)))
        .otherwise(lit(0.0)))
    val users = life.agg(
      sum(when(col("g") === 0, 1L).otherwise(0L)).as("n_users0"),
      sum(when(col("g") === 1, 1L).otherwise(0L)).as("n_users1"))
    val lr = t.agg(
      sum("d0").as("events0"),
      sum("d1").as("events1"),
      graft.functions.ScoreFns.scoreRound(sum("e1"), 6).as("expected1"),
      graft.functions.ScoreFns.scoreRound(
        (sum(col("d1")).cast("double") - sum("e1"))
          * (sum(col("d1")).cast("double") - sum("e1")) / sum("v"), 6)
        .as("logrank_chi2"))
    users.crossJoin(lr)
  }
  val logrankSql: String =
    """WITH l AS (
      |  SELECT o_custkey, min(o_orderdate) AS fd, max(o_orderdate) AS ld
      |  FROM orders GROUP BY 1),
      |m AS (SELECT max(o_orderdate) AS maxd FROM orders),
      |life AS (
      |  SELECT ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)),
      |      1, 15))::BIGINT % 2 AS g,
      |    CAST(date_diff('day', CAST(fd AS DATE), CAST(ld AS DATE))
      |      AS BIGINT) AS dur,
      |    CASE WHEN ld < maxd - INTERVAL 90 DAY THEN 1 ELSE 0 END AS ev
      |  FROM l, m),
      |bd AS (
      |  SELECT dur,
      |    CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
      |    CAST(sum(CASE WHEN g = 0 THEN ev ELSE 0 END) AS BIGINT) AS d0,
      |    CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |    CAST(sum(CASE WHEN g = 1 THEN ev ELSE 0 END) AS BIGINT) AS d1
      |  FROM life GROUP BY 1),
      |rk AS (
      |  SELECT dur, d0, d1,
      |    CAST(sum(c0) OVER wf AS DOUBLE) AS n0,
      |    CAST(sum(c1) OVER wf AS DOUBLE) AS n1
      |  FROM bd
      |  WINDOW wf AS (ORDER BY dur
      |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
      |t AS (
      |  SELECT d0, d1, n0, n1, n0 + n1 AS nn,
      |    CAST(d0 + d1 AS DOUBLE) AS d
      |  FROM rk WHERE d0 + d1 > 0),
      |s AS (
      |  SELECT d0, d1, d * n1 / nn AS e1,
      |    CASE WHEN nn > 1 THEN d * (n1 / nn) * (1.0 - n1 / nn)
      |      * (nn - d) / (nn - 1.0) ELSE 0.0 END AS v
      |  FROM t),
      |u AS (
      |  SELECT
      |    CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_users0,
      |    CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_users1
      |  FROM life),
      |lr AS (
      |  SELECT CAST(sum(d0) AS BIGINT) AS events0,
      |    CAST(sum(d1) AS BIGINT) AS events1,
      |    round(sum(e1), 6) + 0.0 AS expected1,
      |    round((CAST(sum(d1) AS DOUBLE) - sum(e1))
      |      * (CAST(sum(d1) AS DOUBLE) - sum(e1)) / sum(v), 6) + 0.0
      |      AS logrank_chi2
      |  FROM s)
      |SELECT n_users0, n_users1, events0, events1, expected1,
      |  logrank_chi2
      |FROM u CROSS JOIN lr""".stripMargin

  /** Page–Hinkley drift allowance δ (tolerated per-day deviation from
    * the running mean before mass accumulates). */
  private val PhDelta = 0.05

  /** Page–Hinkley alarm threshold λ on the cumulative deviation mass
    * (daily-mean scale; the series std-error is ≈1.1 at sf0.01). */
  private val PhLambda = 3.0

  /** Page–Hinkley drift detector over the daily mean of event value —
    * the STREAMING change detector that complements the retrospective
    * x_cusum/ts_changepoint pair: it accumulates deviations of each
    * new observation from the RUNNING mean (not a fixed reference), so
    * it flags slow drifts a fixed-k CUSUM tuned to the global mean
    * misses. m_t = Σ_{i≤t}(x_i − x̄_i − δ), PH_t = m_t − min_{i≤t}m_i,
    * alarm when PH > λ (Page 1954; the streaming form in Gama et al.,
    * "A survey on concept drift adaptation", 2014). Shape: ONE keyed
    * aggregation of the fact table to the ≤31-row daily frame
    * (per-day means rounded at 6 so both engines agree), then
    * cumulative windows over that bounded frame — the x_cusum class. */
  def tsPageHinkley(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("ts").cast("date").as("d"))
      .agg(round(avg("value"), 6).as("x"))
    val w = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("mu", round(avg("x").over(w), 6))
      .withColumn("m", round(sum(col("x") - col("mu") - lit(PhDelta))
        .over(w), 6))
      .withColumn("ph", round(col("m") - min("m").over(w), 6))
      .select(col("d"), col("x"), col("m"), col("ph"),
        (col("ph") > PhLambda).as("alarm"))
      .orderBy("d")
  }
  val pageHinkleySql: String =
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS d, round(avg(value), 6) AS x
       |  FROM events GROUP BY 1),
       |mu AS (
       |  SELECT d, x, round(avg(x) OVER w, 6) AS mu
       |  FROM daily
       |  WINDOW w AS (ORDER BY d
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |m AS (
       |  SELECT d, x, round(sum(x - mu - $PhDelta) OVER w, 6) AS m
       |  FROM mu
       |  WINDOW w AS (ORDER BY d
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |ph AS (
       |  SELECT d, x, m, round(m - min(m) OVER w, 6) AS ph
       |  FROM m
       |  WINDOW w AS (ORDER BY d
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT d, x, m, ph, ph > $PhLambda AS alarm
       |FROM ph ORDER BY d""".stripMargin

  /** Market-basket association: brand co-purchase lift over orders.
    * The itemset universe is collapsed to the 25 part BRANDS before
    * pairing, so the per-order pair expansion is ≤ C(25,2) regardless
    * of order width — the cap that keeps the classic self-join shape
    * linear in orders at any scale. The self-join is key-equal on
    * l_orderkey (co-partitioned, no cartesian); `part` rides in as a
    * broadcast dim. lift = P(ab) / (P(a)P(b)) computed from exact
    * integer counts; both engines divide the same integers so 6dp
    * rounding is deterministic. */
  def xMarketBasket(spark: SparkSession, sfDir: String): DataFrame = {
    val ob = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("okey"), col("l_partkey"))
      .join(broadcast(Tables.part(spark, sfDir)
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))),
        "l_partkey")
      .select(col("okey"), col("p_brand")).distinct()
    val n = ob.agg(countDistinct("okey").cast("double").as("n_orders"))
    val singles = ob.groupBy("p_brand").agg(count(lit(1)).as("c"))
    val pairs = ob.as("a").join(ob.as("b"), "okey")
      .where(col("a.p_brand") < col("b.p_brand"))
      .groupBy(col("a.p_brand").as("brand_a"), col("b.p_brand").as("brand_b"))
      .agg(count(lit(1)).as("c_ab"))
    pairs
      .join(broadcast(singles).select(col("p_brand").as("brand_a"),
        col("c").as("c_a")), "brand_a")
      .join(broadcast(singles).select(col("p_brand").as("brand_b"),
        col("c").as("c_b")), "brand_b")
      .crossJoin(broadcast(n))
      .select(col("brand_a"), col("brand_b"), col("c_ab"),
        round(col("c_ab") * col("n_orders") /
          (col("c_a") * col("c_b")), 6).as("lift"))
      .orderBy(col("lift").desc, col("brand_a"), col("brand_b"))
      .limit(25)
  }
  val marketBasketSql: String =
    """WITH ob AS (
      |  SELECT DISTINCT l.l_orderkey AS okey, p.p_brand
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      |n AS (SELECT CAST(count(DISTINCT okey) AS DOUBLE) AS n_orders FROM ob),
      |s AS (SELECT p_brand, count(*) AS c FROM ob GROUP BY 1),
      |pr AS (
      |  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
      |    count(*) AS c_ab
      |  FROM ob a JOIN ob b ON a.okey = b.okey AND a.p_brand < b.p_brand
      |  GROUP BY 1, 2)
      |SELECT brand_a, brand_b, CAST(c_ab AS BIGINT) AS c_ab,
      |  round(c_ab * n.n_orders / (sa.c * sb.c), 6) AS lift
      |FROM pr
      |JOIN s sa ON pr.brand_a = sa.p_brand
      |JOIN s sb ON pr.brand_b = sb.p_brand
      |CROSS JOIN n
      |ORDER BY lift DESC, brand_a, brand_b LIMIT 25""".stripMargin

  /** First-order next-event transition model (the clickstream Markov
    * chain): P(next event type | current) from each user's ordered
    * stream. One lead() window on the same user exchange, then a
    * 9-cell aggregation — the transition matrix of a 3-state journey.
    * Probabilities are exact-integer ratios rounded at 6dp. */
  def xNextEventMarkov(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val t = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .where(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = Window.partitionBy("from_type")
    t.withColumn("p", round(col("n") / sum("n").over(totals), 6))
      .orderBy("from_type", "to_type")
  }
  val nextEventMarkovSql: String =
    """WITH t AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS to_type
      |  FROM events),
      |c AS (
      |  SELECT from_type, to_type, count(*) AS n
      |  FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  round(n / sum(n) OVER (PARTITION BY from_type), 6) AS p
      |FROM c ORDER BY from_type, to_type""".stripMargin

  /** SCD2 dimension-history build from a change stream: each user's
    * event_type treated as the tracked attribute; consecutive
    * duplicates collapse (lag inequality), each surviving change opens
    * a version row with [valid_from, valid_to) epoch-micros bounds and
    * the open tail marked current — the gaps-and-islands construction
    * every warehouse uses to turn a mutation log into a temporal
    * dimension. Single exchange on user_id serves both windows.
    * Summarized per (user, attribute): version count and total dwell
    * time, plus which attribute holds the open tail — pinning both the
    * compression rule and the boundary hand-off. */
  def scd2Build(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val versions = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .where(col("prev_type").isNull ||
        col("prev_type") =!= col("event_type"))
      .withColumn("valid_from", col("us"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(
        Window.partitionBy("user_id").orderBy(col("valid_from"), col("event_id"))))
    versions
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_versions"),
        sum(when(col("valid_to").isNotNull,
          col("valid_to") - col("valid_from")).otherwise(0L))
          .as("closed_dwell_us"),
        max(col("valid_to").isNull.cast("long")).as("holds_open_tail"))
      .select(col("user_id"), col("event_type"), col("n_versions"),
        expr("closed_dwell_us div 1000000").as("closed_dwell_seconds"),
        col("holds_open_tail"))
      .orderBy("user_id", "event_type")
  }
  val scd2Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    event_type,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS prev_type
      |  FROM events),
      |ch AS (
      |  SELECT user_id, event_id, us AS valid_from, event_type
      |  FROM e WHERE prev_type IS NULL OR prev_type <> event_type),
      |v AS (
      |  SELECT *, lead(valid_from) OVER (PARTITION BY user_id
      |    ORDER BY valid_from, event_id) AS valid_to
      |  FROM ch)
      |SELECT user_id, event_type, count(*) AS n_versions,
      |  CAST(sum(CASE WHEN valid_to IS NOT NULL
      |    THEN valid_to - valid_from ELSE 0 END) AS BIGINT) // 1000000
      |    AS closed_dwell_seconds,
      |  CAST(max(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS holds_open_tail
      |FROM v GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Per-entity trend extraction: ordinary least squares of value
    * against hours-since-first-event, one regression PER USER in a
    * single grouped aggregation pass (regr_slope/regr_intercept are
    * partial-aggregable moment sketches — no per-group sorting, no
    * driver loop; the 100 TB form of "fit a line to every entity").
    * The time origin is each user's own first event so the regressors
    * are small exact doubles; slope/intercept carry the ±0.0
    * normalization every hashed regression statistic needs. */
  def xPerGroupRegression(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("value"))
      .withColumn("h",
        (col("us") - min("us").over(w)).cast("double") / 3600000000.0)
    ev.groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        graft.functions.ScoreFns.scoreRound(
          expr("regr_slope(value, h)"), 6).as("slope"),
        graft.functions.ScoreFns.scoreRound(
          expr("regr_intercept(value, h)"), 6).as("intercept"))
      .where(col("n") >= 2)
      .orderBy("user_id")
  }
  val perGroupRegressionSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, value
      |  FROM events),
      |h AS (
      |  SELECT user_id, value,
      |    CAST(us - min(us) OVER (PARTITION BY user_id) AS DOUBLE)
      |      / 3600000000.0 AS h
      |  FROM e)
      |SELECT user_id, count(*) AS n,
      |  round(regr_slope(value, h), 6) + 0.0 AS slope,
      |  round(regr_intercept(value, h), 6) + 0.0 AS intercept
      |FROM h GROUP BY 1 HAVING count(*) >= 2 ORDER BY 1""".stripMargin

  /** Longest same-value run per entity (consecutive event_type
    * streak): the gaps-and-islands change-flag cumsum, island length
    * reduction, then a per-user max — engagement-streak analytics.
    * One exchange on user_id serves both windows and the reduction. */
  def xLongestStreak(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(w).isNull ||
          lag(col("event_type"), 1).over(w) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "island")
      .agg(count(lit(1)).as("len"))
      .groupBy("user_id")
      .agg(max("len").as("longest_streak"), count(lit(1)).as("n_runs"))
      .orderBy("user_id")
  }
  val longestStreakSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev
      |  FROM events),
      |isl AS (
      |  SELECT user_id,
      |    CAST(sum(CASE WHEN prev IS NULL OR prev <> event_type
      |      THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
      |        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
      |      AS island
      |  FROM e),
      |runs AS (
      |  SELECT user_id, island, count(*) AS len
      |  FROM isl GROUP BY 1, 2)
      |SELECT user_id, max(len) AS longest_streak, count(*) AS n_runs
      |FROM runs GROUP BY 1 ORDER BY 1""".stripMargin

  /** Kaplan–Meier survival over customer order lifetimes: duration =
    * days between a customer's first and last order; the event
    * ("churned") is observed when the last order predates the global
    * max order date by > 90 days, else the lifetime is right-censored.
    * Classic KM: at each duration t, risk set n_t = customers with
    * duration ≥ t, d_t = events at t, Ŝ(t) = Π_{s≤t} (n_s−d_s)/n_s.
    *
    * Shape: one groupBy(customer), one groupBy(duration), then windows
    * over the DISTINCT-duration table — bounded by the calendar span
    * (≤ ~2,500 rows at any sf; same bounded-window rationale as the
    * ≤2000-row rank lists in SimQueries), so the unpartitioned window
    * is safe. The product is exp∘sum∘ln over the ordered window (both
    * engines sum the same doubles in the same order); censored-only
    * durations contribute ln(1) = 0 exactly, so the product can run
    * over all rows and the d_t>0 filter applies after. scoreRound +
    * the 1e-300 floor guard the ±0.0 / ln(0) edges. */
  def xSurvivalKm(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
    val life = orders.groupBy("o_custkey")
      .agg(min("o_orderdate").as("fd"), max("o_orderdate").as("ld"))
      .crossJoin(broadcast(orders.agg(max("o_orderdate").as("maxd"))))
      .select(
        datediff(to_date(col("ld")), to_date(col("fd"))).cast("long")
          .as("dur"),
        (col("ld") < col("maxd") - expr("INTERVAL 90 DAYS")).cast("long")
          .as("ev"))
    val byDur = life.groupBy("dur")
      .agg(count(lit(1)).as("c"), sum("ev").as("d"))
    val atRisk = Window.orderBy("dur")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val sofar = Window.orderBy("dur")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDur
      .withColumn("n_risk", sum("c").over(atRisk))
      .withColumn("km", exp(sum(log(greatest(
        (col("n_risk") - col("d")) / col("n_risk"), lit(1e-300))))
        .over(sofar)))
      .where(col("d") > 0)
      .select(col("dur"), col("n_risk"), col("d").as("n_events"),
        graft.functions.ScoreFns.scoreRound(col("km"), 6).as("km"))
      .orderBy("dur")
  }
  val survivalKmSql: String =
    """WITH l AS (
      |  SELECT o_custkey, min(o_orderdate) AS fd, max(o_orderdate) AS ld
      |  FROM orders GROUP BY 1),
      |m AS (SELECT max(o_orderdate) AS maxd FROM orders),
      |life AS (
      |  SELECT CAST(date_diff('day', CAST(fd AS DATE), CAST(ld AS DATE))
      |      AS BIGINT) AS dur,
      |    CASE WHEN ld < maxd - INTERVAL 90 DAY THEN 1 ELSE 0 END AS ev
      |  FROM l, m),
      |bd AS (
      |  SELECT dur, count(*) AS c, CAST(sum(ev) AS BIGINT) AS d
      |  FROM life GROUP BY 1),
      |rk AS (
      |  SELECT dur, c, d, CAST(sum(c) OVER (ORDER BY dur
      |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
      |    AS n_risk
      |  FROM bd),
      |km AS (
      |  SELECT dur, d, n_risk,
      |    exp(sum(ln(greatest((n_risk - d) / n_risk, 1e-300)))
      |      OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING)) AS km
      |  FROM rk)
      |SELECT dur, n_risk, d AS n_events, round(km, 6) + 0.0 AS km
      |FROM km WHERE d > 0 ORDER BY dur""".stripMargin

  /** Robust per-entity outlier detection by median/MAD — the
    * heavy-tail-safe sibling of x_anomaly_zscore (a single 1000×
    * spend inflates a user's mean AND stddev enough to hide itself
    * from a z-score; the median and MAD barely move). Flags events
    * with |value − median| > 3.5 · 1.4826 · MAD (the 1.4826 factor
    * scales MAD to σ under normality; 3.5 is Iglewicz–Hoban's cut).
    *
    * Two keyed median aggregations (Spark's native `median`) joined
    * back on the SAME user_id key stream — the per-user stats tables
    * are left un-hinted (unlike x_anomaly_zscore's broadcast) because
    * a per-entity table grows with the corpus; AQE picks broadcast
    * when it fits. Every comparison is exact IEEE arithmetic on
    * identical doubles (medians average the two middle values the
    * same way in both engines), so no rounding is needed anywhere. */
  def tsMadOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select("user_id", "value")
    val med = ev.groupBy("user_id").agg(median(col("value")).as("med"))
    val mad = ev.join(med, "user_id")
      .groupBy("user_id")
      .agg(median(abs(col("value") - col("med"))).as("mad"))
    ev.join(med, "user_id").join(mad, "user_id")
      .where(col("mad") > 0)
      .withColumn("z",
        abs(col("value") - col("med")) / (lit(1.4826) * col("mad")))
      .groupBy("user_id")
      .agg(sum((col("z") > 3.5).cast("long")).as("n_outliers"),
        round(max("z"), 4).as("max_z"))
      .where(col("n_outliers") > 0)
      .orderBy("user_id")
  }
  val madOutliersSql: String =
    """WITH med AS (
      |  SELECT user_id, median(value) AS med FROM events GROUP BY 1),
      |mad AS (
      |  SELECT e.user_id, median(abs(e.value - m.med)) AS mad
      |  FROM events e JOIN med m USING (user_id) GROUP BY 1),
      |z AS (
      |  SELECT e.user_id,
      |    abs(e.value - m.med) / (1.4826 * d.mad) AS z
      |  FROM events e JOIN med m USING (user_id)
      |  JOIN mad d USING (user_id)
      |  WHERE d.mad > 0)
      |SELECT user_id,
      |  CAST(sum(CASE WHEN z > 3.5 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_outliers,
      |  round(max(z), 4) AS max_z
      |FROM z GROUP BY 1
      |HAVING sum(CASE WHEN z > 3.5 THEN 1 ELSE 0 END) > 0
      |ORDER BY 1""".stripMargin

  /** Last-touch marketing attribution: each purchase is credited to
    * the user's most recent click/view within the preceding 7 days,
    * else to 'direct'. One pass, one exchange on user_id: the "most
    * recent touch" is two `last(..., ignoreNulls)` calls over the
    * same ROWS-bounded window (both CASE inputs are null on exactly
    * the same rows, so the ts and the channel always come from the
    * SAME touch row — no join back, no per-purchase range scan). The
    * attribution window check is exact µs timestamp arithmetic. */
  def xAttributionLastTouch(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type").isin("click", "view"), col("ts"))
    val touchType =
      when(col("event_type").isin("click", "view"), col("event_type"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"), col("value"))
      .withColumn("touch_ts", last(touch, ignoreNulls = true).over(w))
      .withColumn("touch_type", last(touchType, ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase")
      .select(when(col("touch_ts").isNotNull &&
          col("touch_ts") >= col("ts") - expr("INTERVAL 7 DAYS"),
          col("touch_type")).otherwise(lit("direct")).as("channel"),
        col("value"))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_purchases"),
        round(sum("value"), 2).as("total_value"))
      .orderBy("channel")
  }
  val attributionSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    event_type, value
      |  FROM events),
      |w AS (
      |  SELECT user_id, event_type, ts, value,
      |    last_value(CASE WHEN event_type IN ('click', 'view') THEN ts END
      |        IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS touch_ts,
      |    last_value(CASE WHEN event_type IN ('click', 'view')
      |        THEN event_type END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS touch_type
      |  FROM e)
      |SELECT CASE WHEN touch_ts IS NOT NULL
      |    AND touch_ts >= ts - INTERVAL 7 DAY
      |    THEN touch_type ELSE 'direct' END AS channel,
      |  count(*) AS n_purchases, round(sum(value), 2) AS total_value
      |FROM w WHERE event_type = 'purchase'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Per-nation Gini coefficient of customer spend concentration —
    * the inequality statistic quota/mix curation reads before
    * rebalancing a corpus (here: does one customer dominate a
    * nation's revenue?). Rank-sum form over ASCENDING (spend, key)
    * order: G = 2·Σ r·s / (n·Σs) − (n+1)/n. All windows are
    * PARTITIONED BY nation (bounded peer groups — never the global
    * rank the curriculum-binning rationale warns about); the division
    * is a ratio of like-magnitude sums, so 6dp rounding is stable. */
  def xGiniSpend(spark: SparkSession, sfDir: String): DataFrame = {
    val spend = Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), col("c_custkey"))
      .agg(sum("o_totalprice").as("s"))
    val byNation = Window.partitionBy("nation")
    val rk = Window.partitionBy("nation").orderBy(col("s"), col("c_custkey"))
    spend
      .withColumn("r", row_number().over(rk))
      .withColumn("n", count(lit(1)).over(byNation))
      .withColumn("tot", sum("s").over(byNation))
      .groupBy("nation")
      .agg(max("n").as("n_customers"),
        graft.functions.ScoreFns.scoreRound(
          lit(2.0) * sum(col("r") * col("s")) / (max("n") * max("tot"))
            - (max("n") + lit(1.0)) / max("n"), 6).as("gini"))
      .orderBy("nation")
  }
  val giniSql: String =
    """WITH spend AS (
      |  SELECT n.n_name AS nation, c.c_custkey, sum(o.o_totalprice) AS s
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  GROUP BY 1, 2),
      |rk AS (
      |  SELECT nation, s,
      |    row_number() OVER (PARTITION BY nation ORDER BY s, c_custkey)
      |      AS r,
      |    count(*) OVER (PARTITION BY nation) AS n,
      |    sum(s) OVER (PARTITION BY nation) AS tot
      |  FROM spend)
      |SELECT nation, CAST(max(n) AS BIGINT) AS n_customers,
      |  round(2.0 * sum(r * s) / (max(n) * max(tot))
      |    - (max(n) + 1.0) / max(n), 6) + 0.0 AS gini
      |FROM rk GROUP BY 1 ORDER BY 1""".stripMargin

  /** Chi-squared goodness-of-fit of order volume against a uniform
    * weekday distribution, per priority class — the seasonality sanity
    * check (is FRIDAY really heavier, or is the pipeline's partition
    * clock skewed?). χ² = Σ_dow (o − e)² / e with e = n/7 — entirely
    * rational double arithmetic on exact counts, no transcendentals;
    * the only cross-engine trap is the WEEKDAY NUMBERING (Spark
    * 1=Sunday..7, DuckDB 0=Sunday..6), which both sides normalize to
    * 0-based before grouping. One keyed aggregation, one 7-row-per-key
    * reduction. */
  def xChisqDow(spark: SparkSession, sfDir: String): DataFrame = {
    val byDow = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderpriority").as("priority"),
        (dayofweek(col("o_orderdate")) - 1).as("dow"))
      .agg(count(lit(1)).as("o"))
      .withColumn("n", sum("o").over(Window.partitionBy("priority")))
    // absent weekdays contribute (0−e)²/e = e each: add (7−present)·e
    // so the statistic is over all 7 cells even when a cell is empty
    val dev = col("o") - col("n") / 7.0 // e = n/7, a per-row constant
    byDow.groupBy("priority")
      .agg(max("n").as("n"),
        graft.functions.ScoreFns.scoreRound(
          sum(dev * dev / (col("n") / 7.0))
            + (lit(7) - count(lit(1))) * (max("n") / 7.0), 4)
          .as("chi2"))
      .orderBy("priority")
  }
  val chisqDowSql: String =
    """WITH bd AS (
      |  SELECT o_orderpriority AS priority,
      |    dayofweek(o_orderdate) AS dow, count(*) AS o
      |  FROM orders GROUP BY 1, 2),
      |wn AS (
      |  SELECT *, sum(o) OVER (PARTITION BY priority) AS n FROM bd)
      |SELECT priority, CAST(max(n) AS BIGINT) AS n,
      |  round(sum((o - n / 7.0) * (o - n / 7.0) / (n / 7.0))
      |    + (7 - count(*)) * (max(n) / 7.0), 4) + 0.0 AS chi2
      |FROM wn GROUP BY 1 ORDER BY 1""".stripMargin

  /** Herfindahl–Hirschman concentration of supplier revenue within each
    * nation — the standard market-concentration statistic. HHI needs no
    * per-row share column: Σ(rev_i/T)² = Σrev_i²/T², so the whole
    * statistic is a two-level keyed aggregation (supplier revenue, then
    * per-nation moments) with NO window at all — one exchange on
    * suppkey, one on nationkey, both broadcast-dimension joins. That is
    * the shape that survives 100 TB: fact rows are touched once and
    * only (nation, supplier) partials shuffle. Rounded at 4dp via
    * scoreRound (double-summation order differs across engines at
    * ~1e-12 relative). */
  def xHhiConcentration(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = Tables.lineitem(spark, sfDir)
      .select(col("l_suppkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("r"))
      .groupBy("l_suppkey").agg(sum("r").as("rev"))
      .join(broadcast(Tables.supplier(spark, sfDir)
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))),
        "l_suppkey")
      .join(broadcast(Tables.nation(spark, sfDir)
        .select(col("n_nationkey").as("s_nationkey"), col("n_name"))),
        "s_nationkey")
    rev.groupBy("n_name")
      .agg(count(lit(1)).as("n_suppliers"),
        graft.functions.ScoreFns.scoreRound(
          lit(10000.0) * sum(col("rev") * col("rev")) /
            (sum("rev") * sum("rev")), 4).as("hhi"))
      .orderBy("n_name")
  }
  val hhiSql: String =
    """WITH rev AS (
      |  SELECT l_suppkey, sum(l_extendedprice * (1.0 - l_discount)) AS rev
      |  FROM lineitem GROUP BY 1),
      |r AS (
      |  SELECT n.n_name, rev.rev
      |  FROM rev
      |  JOIN supplier s ON rev.l_suppkey = s.s_suppkey
      |  JOIN nation n ON s.s_nationkey = n.n_nationkey)
      |SELECT n_name, count(*) AS n_suppliers,
      |  round(10000.0 * sum(rev * rev) / (sum(rev) * sum(rev)), 4) + 0.0
      |    AS hhi
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  /** Shannon entropy (nats) of the order-priority mix within each
    * market segment — the categorical-diversity statistic (used for
    * e.g. source-mix monitoring in a training corpus). Uses the
    * identity −Σp·ln p = ln N − (Σ c·ln c)/N so it is again a pure
    * two-level groupBy with no windows and no per-row share column:
    * cell counts shuffle once on (segment, priority), the 25-cell
    * reduction finishes per segment. ln() is transcendental → 4dp
    * scoreRound with the ±0.0 oracle mirror. */
  def xCategoryEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables.orders(spark, sfDir)
      .join(broadcast(Tables.customer(spark, sfDir)
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))),
        "o_custkey")
      .groupBy(col("c_mktsegment").as("segment"),
        col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("c"))
    cells.groupBy("segment")
      .agg(sum("c").as("n"), count(lit(1)).as("n_categories"),
        sum(col("c") * log(col("c"))).as("clnc"))
      .select(col("segment"), col("n"), col("n_categories"),
        graft.functions.ScoreFns.scoreRound(
          log(col("n")) - col("clnc") / col("n"), 4).as("entropy"))
      .orderBy("segment")
  }
  val categoryEntropySql: String =
    """WITH cells AS (
      |  SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority,
      |    count(*) AS c
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY 1, 2)
      |SELECT segment, CAST(sum(c) AS BIGINT) AS n,
      |  count(*) AS n_categories,
      |  round(ln(CAST(sum(c) AS DOUBLE))
      |    - sum(c * ln(CAST(c AS DOUBLE))) / sum(c), 4) + 0.0 AS entropy
      |FROM cells GROUP BY 1 ORDER BY 1""".stripMargin

  /** Cramér's V association between market segment and order priority
    * — the normalized chi-squared over the full r×c contingency table.
    * The observed cells come from one keyed aggregation; the FULL grid
    * (including empty cells, which contribute their expectation e to
    * χ²) is rebuilt by cross-joining the two broadcast margin
    * dictionaries (r·c ≤ 25 rows) and left-joining the counts, so a
    * missing cell can never silently drop out of the statistic. The
    * grand total rides in as a broadcast 1-row aggregate (the
    * Collocations idiom) — no unpartitioned window anywhere. Emits one
    * row: dimensions, χ², and V = sqrt(χ²/(n·min(r−1,c−1))). */
  def xCramersV(spark: SparkSession, sfDir: String): DataFrame = {
    val joined = Tables.orders(spark, sfDir)
      .join(broadcast(Tables.customer(spark, sfDir)
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))),
        "o_custkey")
      .select(col("c_mktsegment").as("seg"),
        col("o_orderpriority").as("prio"))
    val cells = joined.groupBy("seg", "prio").agg(count(lit(1)).as("o"))
    val segTot = cells.groupBy("seg").agg(sum("o").as("rt"))
    val prioTot = cells.groupBy("prio").agg(sum("o").as("ct"))
    val n = cells.agg(sum("o").cast("double").as("n"))
    val grid = broadcast(segTot).crossJoin(broadcast(prioTot))
      .join(cells, Seq("seg", "prio"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(n))
      .withColumn("e", col("rt") * col("ct") / col("n"))
    grid.agg(
        countDistinct("seg").as("r"), countDistinct("prio").as("c"),
        max("n").cast("long").as("n"),
        sum((col("o") - col("e")) * (col("o") - col("e")) / col("e"))
          .as("chi2d"))
      .select(col("r"), col("c"), col("n"),
        graft.functions.ScoreFns.scoreRound(col("chi2d"), 4).as("chi2"),
        graft.functions.ScoreFns.scoreRound(
          sqrt(col("chi2d") / (col("n") *
            least(col("r") - 1, col("c") - 1))), 4).as("v"))
  }
  val cramersVSql: String =
    """WITH j AS (
      |  SELECT c.c_mktsegment AS seg, o.o_orderpriority AS prio
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      |cells AS (SELECT seg, prio, count(*) AS o FROM j GROUP BY 1, 2),
      |st AS (SELECT seg, sum(o) AS rt FROM cells GROUP BY 1),
      |pt AS (SELECT prio, sum(o) AS ct FROM cells GROUP BY 1),
      |n AS (SELECT CAST(sum(o) AS DOUBLE) AS n FROM cells),
      |grid AS (
      |  SELECT st.seg, pt.prio, st.rt, pt.ct, coalesce(cells.o, 0) AS o,
      |    st.rt * pt.ct / n.n AS e, n.n
      |  FROM st CROSS JOIN pt CROSS JOIN n
      |  LEFT JOIN cells ON st.seg = cells.seg AND pt.prio = cells.prio),
      |agg AS (
      |  SELECT count(DISTINCT seg) AS r, count(DISTINCT prio) AS c,
      |    CAST(max(n) AS BIGINT) AS n,
      |    sum((o - e) * (o - e) / e) AS chi2d
      |  FROM grid)
      |SELECT r, c, n, round(chi2d, 4) + 0.0 AS chi2,
      |  round(sqrt(chi2d / (n * least(r - 1, c - 1))), 4) + 0.0 AS v
      |FROM agg""".stripMargin

  /** Binned AUC-ROC: how well order value separates finished ('F')
    * from open orders, computed the way AUC is actually computed at
    * scale (cf. Spark MLlib's own BinaryClassificationMetrics with
    * numBins): scores land in FIXED-width histogram bins (width 1000,
    * bounded by the price RANGE, not the row count), per-bin
    * pos/neg counts reduce map-side, and the Mann–Whitney pairwise
    * count collapses to a prefix sum over the ≤600-row bin table —
    * the one window here runs over a range-bounded set, never the
    * fact table. All products are exact integers-plus-halves (< 2^53)
    * so the final division is bit-identical across engines. */
  def xAucRoc(spark: SparkSession, sfDir: String): DataFrame = {
    val bins = Tables.orders(spark, sfDir)
      .select(floor(col("o_totalprice") / 1000.0).cast("long").as("bin"),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("p"),
        when(col("o_orderstatus") =!= "F", 1L).otherwise(0L).as("ng"))
      .groupBy("bin").agg(sum("p").as("pos"), sum("ng").as("neg"))
    val below = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, -1)
    bins
      .withColumn("cum_neg", coalesce(sum("neg").over(below), lit(0L)))
      .agg(sum("pos").as("n_pos"), sum("neg").as("n_neg"),
        count(lit(1)).as("n_bins"),
        round(sum(col("pos") * (col("cum_neg") + lit(0.5) * col("neg"))) /
          (sum("pos") * sum("neg").cast("double")), 6).as("auc"))
  }
  val aucRocSql: String =
    """WITH b AS (
      |  SELECT CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS bin,
      |    sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS pos,
      |    sum(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS neg
      |  FROM orders GROUP BY 1),
      |c AS (
      |  SELECT *, coalesce(sum(neg) OVER (ORDER BY bin
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_neg
      |  FROM b)
      |SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
      |  CAST(sum(neg) AS BIGINT) AS n_neg, count(*) AS n_bins,
      |  round(sum(pos * (cum_neg + 0.5 * neg))
      |    / (sum(pos) * CAST(sum(neg) AS DOUBLE)), 6) AS auc
      |FROM c""".stripMargin

  /** RFM segmentation with FIXED band rules (the form that scales:
    * quantile-banded RFM needs a global sort or sampled quantiles;
    * rule-banded RFM is one keyed aggregation plus a broadcastable
    * CASE — and in production the bands are frozen parameters anyway
    * so segments stay comparable release-to-release). Recency is
    * measured against a pinned reference date (reproducible runs, no
    * wall clock). Output: per-segment customer count and averages. */
  def xRfmSegments(spark: SparkSession, sfDir: String): DataFrame = {
    val ref = to_date(lit("2002-01-01"))
    val rfm = Tables.orders(spark, sfDir)
      .groupBy("o_custkey")
      .agg(datediff(ref, max(col("o_orderdate").cast("date")))
          .as("recency_days"),
        count(lit(1)).as("freq"), sum("o_totalprice").as("monetary"))
      .withColumn("r", when(col("recency_days") <= 365, 3)
        .when(col("recency_days") <= 730, 2).otherwise(1))
      .withColumn("f", when(col("freq") >= 20, 3)
        .when(col("freq") >= 10, 2).otherwise(1))
      .withColumn("m", when(col("monetary") >= 150000.0, 3)
        .when(col("monetary") >= 50000.0, 2).otherwise(1))
      .withColumn("segment",
        when(col("r") === 3 && col("f") === 3 && col("m") === 3,
          "champion")
        .when(col("r") === 3 && col("f") >= 2, "loyal")
        .when(col("r") === 1 && col("m") >= 2, "at_risk_big")
        .when(col("r") === 1, "lapsed")
        .otherwise("regular"))
    rfm.groupBy("segment")
      .agg(count(lit(1)).as("n_customers"),
        round(avg("freq"), 4).as("avg_freq"),
        round(avg("monetary"), 2).as("avg_monetary"))
      .orderBy("segment")
  }
  val rfmSql: String =
    """WITH rfm AS (
      |  SELECT o_custkey,
      |    date_diff('day', CAST(max(o_orderdate) AS DATE),
      |      DATE '2002-01-01') AS recency_days,
      |    count(*) AS freq, sum(o_totalprice) AS monetary
      |  FROM orders GROUP BY 1),
      |sc AS (
      |  SELECT *,
      |    CASE WHEN recency_days <= 365 THEN 3
      |         WHEN recency_days <= 730 THEN 2 ELSE 1 END AS r,
      |    CASE WHEN freq >= 20 THEN 3
      |         WHEN freq >= 10 THEN 2 ELSE 1 END AS f,
      |    CASE WHEN monetary >= 150000.0 THEN 3
      |         WHEN monetary >= 50000.0 THEN 2 ELSE 1 END AS m
      |  FROM rfm),
      |seg AS (
      |  SELECT *,
      |    CASE WHEN r = 3 AND f = 3 AND m = 3 THEN 'champion'
      |         WHEN r = 3 AND f >= 2 THEN 'loyal'
      |         WHEN r = 1 AND m >= 2 THEN 'at_risk_big'
      |         WHEN r = 1 THEN 'lapsed'
      |         ELSE 'regular' END AS segment
      |  FROM sc)
      |SELECT segment, count(*) AS n_customers,
      |  round(avg(freq), 4) AS avg_freq,
      |  round(avg(monetary), 2) AS avg_monetary
      |FROM seg GROUP BY 1 ORDER BY 1""".stripMargin

  /** Point-in-time read over the SCD2 dimension (the feature-store
    * "as-of" semantics scd2_build exists to serve): reconstruct the
    * population's state distribution at three probe instants — the
    * quartile points of the corpus time range, derived from a
    * broadcast 1-row min/max aggregate in exact integer µs (never the
    * wall clock). A version answers for probe t iff
    * valid_from ≤ t < valid_to (open tail = +∞); per user the
    * intervals partition time, so the count of matching version rows
    * IS the user count in that state. The 3-row probe table rides
    * broadcast against the version frame — no second shuffle after
    * the user-keyed windows. */
  def scd2PointInTime(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("event_type"))
    val versions = ev
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .where(col("prev_type").isNull ||
        col("prev_type") =!= col("event_type"))
      .withColumn("valid_from", col("us"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(
        Window.partitionBy("user_id")
          .orderBy(col("valid_from"), col("event_id"))))
    val probes = ev.agg(min("us").as("lo"), max("us").as("hi"))
      .select(explode(sequence(lit(1), lit(3))).as("probe_idx"),
        col("lo"), col("hi"))
      .select(col("probe_idx").cast("long").as("probe_idx"),
        expr("lo + probe_idx * ((hi - lo) div 4)").as("t"))
    versions.crossJoin(broadcast(probes))
      .where(col("valid_from") <= col("t") &&
        (col("valid_to").isNull || col("t") < col("valid_to")))
      .groupBy("probe_idx", "event_type")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("probe_idx", "event_type")
  }
  val scd2PitSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    event_type,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS prev_type
      |  FROM events),
      |ch AS (
      |  SELECT user_id, event_id, us AS valid_from, event_type
      |  FROM e WHERE prev_type IS NULL OR prev_type <> event_type),
      |v AS (
      |  SELECT *, lead(valid_from) OVER (PARTITION BY user_id
      |    ORDER BY valid_from, event_id) AS valid_to
      |  FROM ch),
      |b AS (SELECT min(us) AS lo, max(us) AS hi FROM e),
      |pt AS (
      |  SELECT CAST(probe_idx AS BIGINT) AS probe_idx,
      |    lo + probe_idx * ((hi - lo) // 4) AS t
      |  FROM (SELECT unnest(generate_series(1, 3)) AS probe_idx)
      |  CROSS JOIN b)
      |SELECT pt.probe_idx, v.event_type, count(*) AS n_users
      |FROM v CROSS JOIN pt
      |WHERE v.valid_from <= pt.t
      |  AND (v.valid_to IS NULL OR pt.t < v.valid_to)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Autocorrelation function of the daily order-arrival series at
    * lags 1..7 — the seasonality probe run before any forecast model.
    * The series is first reduced to one row per day (bounded by the
    * CALENDAR, not the fact table), so the lag alignment is a tiny
    * self-join on day+k (robust to calendar gaps, unlike a row-number
    * window) and the global mean/denominator ride in as a broadcast
    * 1-row aggregate. Uses the standard estimator
    * r_k = Σ(x_t−x̄)(x_{t+k}−x̄) / Σ(x_t−x̄)² with x̄ over the full
    * series. */
  def tsAcf(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(count(lit(1)).cast("double").as("x"))
    val stats = daily.agg(
        (sum("x") / count(lit(1))).as("mu"),
        (sum(col("x") * col("x")) -
          sum("x") * sum("x") / count(lit(1))).as("den"))
    val lags = spark.range(1, 8).select(col("id").as("k"))
    val shifted = daily.crossJoin(broadcast(lags))
      .select(col("k"), date_add(col("d"), col("k").cast("int")).as("d2"),
        col("x").as("xa"))
    shifted
      .join(daily.select(col("d").as("d2"), col("x").as("xb")), "d2")
      .crossJoin(broadcast(stats))
      .groupBy("k")
      .agg(count(lit(1)).as("n_pairs"),
        graft.functions.ScoreFns.scoreRound(
          sum((col("xa") - col("mu")) * (col("xb") - col("mu"))) /
            first(col("den")), 4).as("acf"))
      .orderBy("k")
  }
  val acfSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d,
      |    CAST(count(*) AS DOUBLE) AS x
      |  FROM orders GROUP BY 1),
      |st AS (
      |  SELECT sum(x) / count(*) AS mu,
      |    sum(x * x) - sum(x) * sum(x) / count(*) AS den
      |  FROM daily),
      |lg AS (SELECT CAST(unnest(generate_series(1, 7)) AS BIGINT) AS k),
      |sh AS (
      |  SELECT lg.k, daily.d + CAST(lg.k AS INTEGER) AS d2, daily.x AS xa
      |  FROM daily CROSS JOIN lg)
      |SELECT sh.k, count(*) AS n_pairs,
      |  round(sum((sh.xa - st.mu) * (b.x - st.mu)) / max(st.den), 4) + 0.0
      |    AS acf
      |FROM sh JOIN daily b ON sh.d2 = b.d CROSS JOIN st
      |GROUP BY sh.k ORDER BY sh.k""".stripMargin

  /** Welch's unequal-variance t-test comparing mean order value
    * between two market segments — the A/B-test primitive. Everything
    * reduces to the five sufficient statistics (n, Σx, Σx²) per arm in
    * ONE keyed aggregation pass; the t statistic and Welch–
    * Satterthwaite degrees of freedom are scalar arithmetic on the
    * broadcast 2-row result. No window, no sort, no second scan —
    * the estimator commutes with partial aggregation, which is the
    * whole reason this test (and not a rank test needing a global
    * sort) is the scale default. */
  def xWelchTtest(spark: SparkSession, sfDir: String): DataFrame = {
    val two = Tables.orders(spark, sfDir)
      .join(broadcast(Tables.customer(spark, sfDir)
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))),
        "o_custkey")
      .where(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      .select(col("c_mktsegment").as("seg"), col("o_totalprice").as("x"))
    val arms = two.groupBy("seg")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("m", col("sx") / col("n"))
      .withColumn("s2",
        (col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1))
      .withColumn("v", col("s2") / col("n"))
    val one = arms.agg(
      max(when(col("seg") === "BUILDING", col("n"))).as("n1"),
      max(when(col("seg") === "BUILDING", col("m"))).as("m1"),
      max(when(col("seg") === "BUILDING", col("v"))).as("v1"),
      max(when(col("seg") === "MACHINERY", col("n"))).as("n2"),
      max(when(col("seg") === "MACHINERY", col("m"))).as("m2"),
      max(when(col("seg") === "MACHINERY", col("v"))).as("v2"))
    one.select(col("n1"), col("n2"),
      round(col("m1") - col("m2"), 2).as("mean_diff"),
      graft.functions.ScoreFns.scoreRound(
        (col("m1") - col("m2")) / sqrt(col("v1") + col("v2")), 4).as("t"),
      graft.functions.ScoreFns.scoreRound(
        ((col("v1") + col("v2")) * (col("v1") + col("v2"))) /
          (col("v1") * col("v1") / (col("n1") - 1) +
           col("v2") * col("v2") / (col("n2") - 1)), 2).as("df"))
  }
  val welchSql: String =
    """WITH two AS (
      |  SELECT c.c_mktsegment AS seg, o.o_totalprice AS x
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')),
      |arms AS (
      |  SELECT seg, count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx
      |  FROM two GROUP BY 1),
      |st AS (
      |  SELECT seg, n, sx / n AS m,
      |    ((sxx - sx * sx / n) / (n - 1)) / n AS v
      |  FROM arms),
      |one AS (
      |  SELECT
      |    max(CASE WHEN seg = 'BUILDING' THEN n END) AS n1,
      |    max(CASE WHEN seg = 'BUILDING' THEN m END) AS m1,
      |    max(CASE WHEN seg = 'BUILDING' THEN v END) AS v1,
      |    max(CASE WHEN seg = 'MACHINERY' THEN n END) AS n2,
      |    max(CASE WHEN seg = 'MACHINERY' THEN m END) AS m2,
      |    max(CASE WHEN seg = 'MACHINERY' THEN v END) AS v2
      |  FROM st)
      |SELECT n1, n2, round(m1 - m2, 2) AS mean_diff,
      |  round((m1 - m2) / sqrt(v1 + v2), 4) + 0.0 AS t,
      |  round(((v1 + v2) * (v1 + v2))
      |    / (v1 * v1 / (n1 - 1) + v2 * v2 / (n2 - 1)), 2) + 0.0 AS df
      |FROM one""".stripMargin

  /** Benford first-digit audit of order totals — the forensic
    * data-quality screen (fabricated or truncated monetary data breaks
    * the log-uniform leading-digit law). The digit is extracted by
    * integer TRUNCATION + string head, never via log10 (a 1-ulp log
    * difference at an exact power of ten would flip the digit across
    * engines); expected shares are exact log10(1+1/d) literals. One
    * 9-cell aggregation, total folded in as a broadcast 1-row
    * aggregate; χ² over the 9 cells closes the audit. */
  def xBenford(spark: SparkSession, sfDir: String): DataFrame = {
    val digits = Tables.orders(spark, sfDir)
      .select(substring(floor(col("o_totalprice")).cast("long")
        .cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val total = digits.agg(sum("n").cast("double").as("tot"))
    digits.crossJoin(broadcast(total))
      .withColumn("expected_pct",
        graft.functions.ScoreFns.scoreRound(
          log(10.0, lit(1.0) + lit(1.0) / col("digit")), 4))
      .select(col("digit"), col("n"),
        round(col("n") / col("tot"), 4).as("observed_pct"),
        col("expected_pct"),
        graft.functions.ScoreFns.scoreRound(
          (col("n") - col("tot") * log(10.0,
            lit(1.0) + lit(1.0) / col("digit"))) *
          (col("n") - col("tot") * log(10.0,
            lit(1.0) + lit(1.0) / col("digit"))) /
          (col("tot") * log(10.0, lit(1.0) + lit(1.0) / col("digit"))),
          4).as("chi2_term"))
      .orderBy("digit")
  }
  val benfordSql: String =
    """WITH d AS (
      |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
      |    AS VARCHAR), 1, 1) AS INTEGER) AS digit
      |  FROM orders),
      |c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
      |t AS (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM c)
      |SELECT digit, CAST(n AS BIGINT) AS n,
      |  round(n / tot, 4) AS observed_pct,
      |  round(log10(1.0 + 1.0 / digit), 4) + 0.0 AS expected_pct,
      |  round((n - tot * log10(1.0 + 1.0 / digit))
      |    * (n - tot * log10(1.0 + 1.0 / digit))
      |    / (tot * log10(1.0 + 1.0 / digit)), 4) + 0.0 AS chi2_term
      |FROM c CROSS JOIN t ORDER BY digit""".stripMargin

  /** Conversion latency histogram: hours from each user's FIRST click
    * to their FIRST purchase, for users who convert (purchase after
    * click). One keyed aggregation computes both firsts as conditional
    * mins (exact integer µs), the latency buckets integrally — no
    * windows, no per-event state, and the histogram width is bounded
    * by the corpus time span, not the user count. */
  def xTimeToConvert(spark: SparkSession, sfDir: String): DataFrame = {
    val firsts = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_type"))
      .groupBy("user_id")
      .agg(min(when(col("event_type") === "click", col("us"))).as("c"),
        min(when(col("event_type") === "purchase", col("us"))).as("p"))
    firsts
      .where(col("c").isNotNull && col("p").isNotNull && col("p") > col("c"))
      .select(expr("(p - c) div 3600000000").as("hours_to_convert"))
      .groupBy("hours_to_convert")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("hours_to_convert")
  }
  val timeToConvertSql: String =
    """WITH f AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'click'
      |      THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS c,
      |    min(CASE WHEN event_type = 'purchase'
      |      THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS p
      |  FROM events GROUP BY 1)
      |SELECT (p - c) // 3600000000 AS hours_to_convert,
      |  count(*) AS n_users
      |FROM f WHERE c IS NOT NULL AND p IS NOT NULL AND p > c
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Cross-correlation between the daily click and purchase series at
    * lags −3..+3 — does engagement LEAD spending? Same calendar-
    * bounded shape as [[tsAcf]]: both series reduce to one row per
    * day, the lag alignment is a tiny self-join on day+k, and each
    * series' mean/deviation energy rides in as a broadcast 1-row
    * aggregate. r_k = Σ(a_t−ā)(b_{t+k}−b̄)/√(Σ(a−ā)²·Σ(b−b̄)²). */
  def tsCrossCorrelation(spark: SparkSession, sfDir: String): DataFrame = {
    def daily(t: String) = Tables.events(spark, sfDir)
      .where(col("event_type") === t)
      .groupBy(col("ts").cast("date").as("d"))
      .agg(count(lit(1)).cast("double").as("x"))
    val a = daily("click")
    val b = daily("purchase")
    val stats = a.agg((sum("x") / count(lit(1))).as("ma"),
        (sum(col("x") * col("x")) -
          sum("x") * sum("x") / count(lit(1))).as("da"))
      .crossJoin(b.agg((sum("x") / count(lit(1))).as("mb"),
        (sum(col("x") * col("x")) -
          sum("x") * sum("x") / count(lit(1))).as("db")))
    val lags = spark.range(-3, 4).select(col("id").as("k"))
    a.crossJoin(broadcast(lags))
      .select(col("k"), date_add(col("d"), col("k").cast("int")).as("d2"),
        col("x").as("xa"))
      .join(b.select(col("d").as("d2"), col("x").as("xb")), "d2")
      .crossJoin(broadcast(stats))
      .groupBy("k")
      .agg(count(lit(1)).as("n_pairs"),
        graft.functions.ScoreFns.scoreRound(
          sum((col("xa") - col("ma")) * (col("xb") - col("mb"))) /
            sqrt(first(col("da")) * first(col("db"))), 4).as("ccf"))
      .orderBy("k")
  }
  val crossCorrSql: String =
    """WITH a AS (
      |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
      |    CAST(count(*) AS DOUBLE) AS x
      |  FROM events WHERE event_type = 'click' GROUP BY 1),
      |b AS (
      |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
      |    CAST(count(*) AS DOUBLE) AS x
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |st AS (
      |  SELECT sa.ma, sa.da, sb.mb, sb.db FROM
      |    (SELECT sum(x) / count(*) AS ma,
      |       sum(x * x) - sum(x) * sum(x) / count(*) AS da FROM a) sa
      |  CROSS JOIN
      |    (SELECT sum(x) / count(*) AS mb,
      |       sum(x * x) - sum(x) * sum(x) / count(*) AS db FROM b) sb),
      |lg AS (SELECT CAST(unnest(generate_series(-3, 3)) AS BIGINT) AS k),
      |sh AS (
      |  SELECT lg.k, a.d + CAST(lg.k AS INTEGER) AS d2, a.x AS xa
      |  FROM a CROSS JOIN lg)
      |SELECT sh.k, count(*) AS n_pairs,
      |  round(sum((sh.xa - st.ma) * (b.x - st.mb))
      |    / sqrt(max(st.da) * max(st.db)), 4) + 0.0 AS ccf
      |FROM sh JOIN b ON sh.d2 = b.d CROSS JOIN st
      |GROUP BY sh.k ORDER BY sh.k""".stripMargin

  /** Cohort lifetime-value triangle: customers grouped by first-order
    * month, revenue tracked by month offset since that first order,
    * with the cumulative LTV running sum. ONE exchange on the customer
    * key serves both the first-order aggregate and the join back; the
    * cumulative window is partitioned by cohort and ordered over the
    * ≤ calendar-bounded offset axis. Month labels are exact integer
    * yyyymm arithmetic (no months_between floats). */
  def xCohortLtv(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderdate").cast("date").as("od"),
        col("o_totalprice"))
    val first = o.groupBy("o_custkey").agg(min("od").as("fd"))
    val ym = (d: org.apache.spark.sql.Column) =>
      year(d) * 12 + (month(d) - 1)
    val tri = o.join(first, "o_custkey")
      .select((year(col("fd")) * 100 + month(col("fd"))).as("cohort"),
        (ym(col("od")) - ym(col("fd"))).cast("long").as("offset_m"),
        col("o_custkey"), col("o_totalprice"))
      .groupBy("cohort", "offset_m")
      .agg(countDistinct("o_custkey").as("n_active"),
        sum("o_totalprice").as("rev"))
    val w = Window.partitionBy("cohort").orderBy("offset_m")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tri.withColumn("cum_rev", sum("rev").over(w))
      .select(col("cohort"), col("offset_m"), col("n_active"),
        round(col("rev"), 2).as("rev"), round(col("cum_rev"), 2).as("cum_rev"))
      .orderBy("cohort", "offset_m")
  }
  val cohortLtvSql: String =
    """WITH o AS (
      |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS od, o_totalprice
      |  FROM orders),
      |f AS (SELECT o_custkey, min(od) AS fd FROM o GROUP BY 1),
      |tri AS (
      |  SELECT year(f.fd) * 100 + month(f.fd) AS cohort,
      |    CAST((year(o.od) * 12 + (month(o.od) - 1))
      |      - (year(f.fd) * 12 + (month(f.fd) - 1)) AS BIGINT) AS offset_m,
      |    count(DISTINCT o.o_custkey) AS n_active,
      |    sum(o.o_totalprice) AS rev
      |  FROM o JOIN f ON o.o_custkey = f.o_custkey
      |  GROUP BY 1, 2)
      |SELECT cohort, offset_m, n_active, round(rev, 2) AS rev,
      |  round(sum(rev) OVER (PARTITION BY cohort ORDER BY offset_m
      |    ROWS UNBOUNDED PRECEDING), 2) AS cum_rev
      |FROM tri ORDER BY cohort, offset_m""".stripMargin

  /** Order-width (basket size) distribution — the fact-table profile
    * that sizes every downstream basket expansion (x_market_basket's
    * quadratic-per-order bound reads straight off this histogram).
    * Two keyed aggregations, total as a broadcast 1-row aggregate. */
  def xBasketSizeDist(spark: SparkSession, sfDir: String): DataFrame = {
    val sizes = Tables.lineitem(spark, sfDir)
      .groupBy("l_orderkey").agg(count(lit(1)).as("basket_size"))
      .groupBy("basket_size").agg(count(lit(1)).as("n_orders"))
    sizes.crossJoin(broadcast(
        sizes.agg(sum("n_orders").cast("double").as("tot"))))
      .select(col("basket_size"), col("n_orders"),
        round(col("n_orders") / col("tot"), 6).as("pct"))
      .orderBy("basket_size")
  }
  val basketSizeSql: String =
    """WITH s AS (
      |  SELECT l_orderkey, count(*) AS basket_size
      |  FROM lineitem GROUP BY 1),
      |h AS (SELECT basket_size, count(*) AS n_orders FROM s GROUP BY 1),
      |t AS (SELECT CAST(sum(n_orders) AS DOUBLE) AS tot FROM h)
      |SELECT basket_size, n_orders, round(n_orders / tot, 6) AS pct
      |FROM h CROSS JOIN t ORDER BY basket_size""".stripMargin

  /** Multiplicative weekly seasonal index of order arrivals: average
    * daily volume per weekday over the grand daily average — the
    * decomposition step before any deseasonalized forecast. Day keys
    * are normalized to 0=Sunday (Spark's dayofweek is 1-based, DuckDB's
    * 0-based — the cross-engine constant is adjusted per engine, never
    * copied). Calendar-bounded series, broadcast grand mean. */
  def tsSeasonalIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(count(lit(1)).cast("double").as("n"))
    val grand = daily.agg((sum("n") / count(lit(1))).as("g"))
    daily
      .select((dayofweek(col("d")) - 1).as("dow"), col("n"))
      .groupBy("dow")
      .agg(count(lit(1)).as("n_days"), (sum("n") / count(lit(1))).as("a"))
      .crossJoin(broadcast(grand))
      .select(col("dow"), col("n_days"), round(col("a"), 4).as("avg_orders"),
        graft.functions.ScoreFns.scoreRound(col("a") / col("g"), 4)
          .as("seasonal_index"))
      .orderBy("dow")
  }
  val seasonalIndexSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d, CAST(count(*) AS DOUBLE) AS n
      |  FROM orders GROUP BY 1),
      |g AS (SELECT sum(n) / count(*) AS g FROM daily)
      |SELECT dayofweek(d) AS dow, count(*) AS n_days,
      |  round(sum(n) / count(*), 4) AS avg_orders,
      |  round((sum(n) / count(*)) / max(g.g), 4) + 0.0 AS seasonal_index
      |FROM daily CROSS JOIN g
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** New-vs-returning monthly split: an order is "new" when it lands
    * on its customer's first order DATE. The first-date aggregate and
    * the join back share one customer-key exchange; the monthly
    * reduction is integer yyyymm. The share divides exact integers. */
  def xNewVsReturning(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderdate").cast("date").as("od"))
    val first = o.groupBy("o_custkey").agg(min("od").as("fd"))
    o.join(first, "o_custkey")
      .select((year(col("od")) * 100 + month(col("od"))).as("ym"),
        when(col("od") === col("fd"), 1L).otherwise(0L).as("is_new"))
      .groupBy("ym")
      .agg(sum("is_new").as("n_new"),
        sum(lit(1L) - col("is_new")).as("n_returning"),
        round(sum("is_new") / count(lit(1)).cast("double"), 6)
          .as("new_share"))
      .orderBy("ym")
  }
  val newVsReturningSql: String =
    """WITH o AS (
      |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS od FROM orders),
      |f AS (SELECT o_custkey, min(od) AS fd FROM o GROUP BY 1)
      |SELECT year(o.od) * 100 + month(o.od) AS ym,
      |  CAST(sum(CASE WHEN o.od = f.fd THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_new,
      |  CAST(sum(CASE WHEN o.od = f.fd THEN 0 ELSE 1 END) AS BIGINT)
      |    AS n_returning,
      |  round(sum(CASE WHEN o.od = f.fd THEN 1 ELSE 0 END)
      |    / CAST(count(*) AS DOUBLE), 6) AS new_share
      |FROM o JOIN f ON o.o_custkey = f.o_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Binned two-sample Kolmogorov–Smirnov distance between order-value
    * distributions of two segments — the drift detector run between
    * data releases. Same scale trick as [[xAucRoc]]: fixed-width bins
    * bound the statistic's working set by the VALUE RANGE, per-bin
    * counts reduce map-side, and both ECDFs become prefix sums over
    * the ≤600-row bin table (the max|·| over bin boundaries IS the KS
    * of the binned distributions). Every ECDF value divides exact
    * integers. */
  def xKsBinned(spark: SparkSession, sfDir: String): DataFrame = {
    val two = Tables.orders(spark, sfDir)
      .join(broadcast(Tables.customer(spark, sfDir)
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))),
        "o_custkey")
      .where(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      .select(floor(col("o_totalprice") / 1000.0).cast("long").as("bin"),
        when(col("c_mktsegment") === "BUILDING", 1L).otherwise(0L).as("a"),
        when(col("c_mktsegment") === "MACHINERY", 1L).otherwise(0L).as("b"))
      .groupBy("bin").agg(sum("a").as("na"), sum("b").as("nb"))
    val w = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = two.agg(sum("na").cast("double").as("ta"),
      sum("nb").cast("double").as("tb"))
    two
      .withColumn("ca", sum("na").over(w))
      .withColumn("cb", sum("nb").over(w))
      .crossJoin(broadcast(tot))
      .agg(max("ta").cast("long").as("n_a"),
        max("tb").cast("long").as("n_b"),
        count(lit(1)).as("n_bins"),
        round(max(abs(col("ca") / col("ta") - col("cb") / col("tb"))), 6)
          .as("ks"))
  }
  val ksBinnedSql: String =
    """WITH two AS (
      |  SELECT CAST(floor(o.o_totalprice / 1000.0) AS BIGINT) AS bin,
      |    sum(CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END)
      |      AS na,
      |    sum(CASE WHEN c.c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END)
      |      AS nb
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
      |  GROUP BY 1),
      |c AS (
      |  SELECT *,
      |    sum(na) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS ca,
      |    sum(nb) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cb,
      |    sum(na) OVER () AS ta, sum(nb) OVER () AS tb
      |  FROM two)
      |SELECT CAST(sum(na) AS BIGINT) AS n_a, CAST(sum(nb) AS BIGINT) AS n_b,
      |  count(*) AS n_bins,
      |  round(max(abs(CAST(ca AS DOUBLE) / ta - CAST(cb AS DOUBLE) / tb)), 6)
      |    AS ks
      |FROM c""".stripMargin

  /** Gaps-and-islands census over an id subset (fulfilled orders) with
    * ZERO windows: an id starts an island iff id−1 is absent (one
    * hash anti-join), so island count, gap count, and density all come
    * from keyed joins + one aggregate — the formulation that survives
    * an id space of any size, where the classic id−row_number() trick
    * would funnel everything through a single unpartitioned sort. */
  def xGapIslands(spark: SparkSession, sfDir: String): DataFrame = {
    val ids = Tables.orders(spark, sfDir)
      .where(col("o_orderstatus") === "F")
      .select(col("o_orderkey").as("id"))
    val starts = ids.join(ids.select((col("id") + 1).as("id")),
      Seq("id"), "left_anti")
    val stats = ids.agg(count(lit(1)).as("n_ids"), min("id").as("lo"),
      max("id").as("hi"))
    starts.agg(count(lit(1)).as("n_islands"))
      .crossJoin(broadcast(stats))
      .select(col("n_ids"), col("lo"), col("hi"),
        (col("hi") - col("lo") + 1 - col("n_ids")).as("total_missing"),
        col("n_islands"), (col("n_islands") - 1).as("n_gaps"),
        round(col("n_ids") / col("n_islands").cast("double"), 6)
          .as("avg_island_len"))
  }
  val gapIslandsSql: String =
    """WITH ids AS (
      |  SELECT o_orderkey AS id FROM orders WHERE o_orderstatus = 'F'),
      |st AS (
      |  SELECT count(*) AS n_islands FROM ids
      |  WHERE id - 1 NOT IN (SELECT id FROM ids)),
      |s AS (SELECT count(*) AS n_ids, min(id) AS lo, max(id) AS hi
      |      FROM ids)
      |SELECT s.n_ids, s.lo, s.hi,
      |  s.hi - s.lo + 1 - s.n_ids AS total_missing,
      |  st.n_islands, st.n_islands - 1 AS n_gaps,
      |  round(s.n_ids / CAST(st.n_islands AS DOUBLE), 6)
      |    AS avg_island_len
      |FROM st CROSS JOIN s""".stripMargin

  /** DAU/MAU stickiness per month — the engagement ratio every product
    * dashboard tracks. Two keyed distinct-count aggregations (per day,
    * per month) joined on the month label; both are partial-aggregable
    * HashAggregate paths with no window. */
  def xStickiness(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts").cast("date").as("d"))
      .withColumn("ym", year(col("d")) * 100 + month(col("d")))
    val dau = ev.groupBy("ym", "d")
      .agg(countDistinct("user_id").cast("double").as("dau"))
      .groupBy("ym")
      .agg(count(lit(1)).as("n_days"), (sum("dau") / count(lit(1))).as("ad"))
    val mau = ev.groupBy("ym").agg(countDistinct("user_id").as("mau"))
    dau.join(mau, "ym")
      .select(col("ym"), col("n_days"), col("mau"),
        round(col("ad"), 4).as("avg_dau"),
        round(col("ad") / col("mau"), 6).as("stickiness"))
      .orderBy("ym")
  }
  val stickinessSql: String =
    """WITH ev AS (
      |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
      |    year(CAST(ts AS TIMESTAMP)) * 100
      |      + month(CAST(ts AS TIMESTAMP)) AS ym
      |  FROM events),
      |dau AS (
      |  SELECT ym, count(*) AS n_days, sum(dd) / count(*) AS ad FROM (
      |    SELECT ym, d, CAST(count(DISTINCT user_id) AS DOUBLE) AS dd
      |    FROM ev GROUP BY 1, 2) GROUP BY 1),
      |mau AS (SELECT ym, count(DISTINCT user_id) AS mau FROM ev GROUP BY 1)
      |SELECT dau.ym, dau.n_days, mau.mau, round(dau.ad, 4) AS avg_dau,
      |  round(dau.ad / mau.mau, 6) AS stickiness
      |FROM dau JOIN mau USING (ym) ORDER BY ym""".stripMargin

  /** Binned Pareto (whale-curve) table: customers grouped into
    * fixed-width lifetime-spend bins, walked from the highest bin
    * down with cumulative customer and revenue shares — "the top
    * spend band holds x% of customers and y% of revenue". Same scale
    * architecture as the other rank statistics: the only window runs
    * over the value-range-bounded bin table, everything fact-sized is
    * a keyed aggregation, totals are a broadcast 1-row aggregate. */
  def xParetoCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val bins = Tables.orders(spark, sfDir)
      .groupBy("o_custkey").agg(sum("o_totalprice").as("s"))
      .groupBy(floor(col("s") / 100000.0).cast("long").as("bin"))
      .agg(count(lit(1)).as("n_cust"), sum("s").as("rev"))
    val tot = bins.agg(sum("n_cust").cast("double").as("tc"),
      sum("rev").as("tr"))
    val w = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bins
      .withColumn("cum_cust", sum("n_cust").over(w))
      .withColumn("cum_rev", sum("rev").over(w))
      .crossJoin(broadcast(tot))
      .select(col("bin"), col("n_cust"),
        round(col("cum_cust") / col("tc"), 6).as("cum_cust_share"),
        round(col("cum_rev") / col("tr"), 6).as("cum_rev_share"))
      .orderBy(col("bin").desc)
  }
  val paretoSql: String =
    """WITH s AS (
      |  SELECT o_custkey, sum(o_totalprice) AS s FROM orders GROUP BY 1),
      |b AS (
      |  SELECT CAST(floor(s / 100000.0) AS BIGINT) AS bin,
      |    count(*) AS n_cust, sum(s) AS rev
      |  FROM s GROUP BY 1),
      |t AS (SELECT CAST(sum(n_cust) AS DOUBLE) AS tc, sum(rev) AS tr FROM b),
      |c AS (
      |  SELECT *,
      |    sum(n_cust) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING)
      |      AS cum_cust,
      |    sum(rev) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING)
      |      AS cum_rev
      |  FROM b)
      |SELECT bin, n_cust,
      |  round(cum_cust / t.tc, 6) AS cum_cust_share,
      |  round(cum_rev / t.tr, 6) AS cum_rev_share
      |FROM c CROSS JOIN t ORDER BY bin DESC""".stripMargin

  /** Per-brand discount sensitivity: OLS slope of quantity on discount
    * (does discounting move volume?) as one grouped moment aggregation
    * — regr_slope/regr_r2 are partial-aggregable sufficient-statistic
    * sketches, so every brand's regression fits in one fact-table pass
    * with no sort and no window (the same 100 TB form as
    * x_per_group_regression, here over a broadcast-joined dimension
    * key). */
  def xDiscountSensitivity(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .join(broadcast(Tables.part(spark, sfDir)
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))),
        "l_partkey")
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"),
        graft.functions.ScoreFns.scoreRound(
          regr_slope(col("l_quantity"), col("l_discount")), 4).as("slope"),
        graft.functions.ScoreFns.scoreRound(
          regr_r2(col("l_quantity"), col("l_discount")), 6).as("r2"))
      .orderBy("p_brand")
  val discountSensitivitySql: String =
    """SELECT p.p_brand, count(*) AS n,
      |  round(regr_slope(l.l_quantity, l.l_discount), 4) + 0.0 AS slope,
      |  round(regr_r2(l.l_quantity, l.l_discount), 6) + 0.0 AS r2
      |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Wald–Wolfowitz runs test for randomness of the daily order volume
    * around its mean — too few sign runs = trending, too many =
    * oscillating. The sign series is calendar-bounded (one row per
    * day), so the lag window that counts sign changes runs over a
    * range-bounded set; the mean rides in as a broadcast 1-row
    * aggregate; z uses the exact integer n₊/n₋ moments. */
  def xRunsTest(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(count(lit(1)).cast("double").as("x"))
    val mu = daily.agg((sum("x") / count(lit(1))).as("mu"))
    val signs = daily.crossJoin(broadcast(mu))
      .select(col("d"), when(col("x") >= col("mu"), 1L).otherwise(0L)
        .as("sgn"))
    val w = Window.orderBy("d")
    val runs = signs
      .withColumn("chg",
        when(lag(col("sgn"), 1).over(w).isNull ||
          lag(col("sgn"), 1).over(w) =!= col("sgn"), 1L).otherwise(0L))
      .agg(sum("sgn").as("n_pos"),
        (count(lit(1)) - sum("sgn")).as("n_neg"),
        sum("chg").as("runs"))
    runs.select(col("n_pos"), col("n_neg"), col("runs"),
      graft.functions.ScoreFns.scoreRound(
        (col("runs") - (lit(2.0) * col("n_pos") * col("n_neg") /
          (col("n_pos") + col("n_neg")) + 1)) /
        sqrt(lit(2.0) * col("n_pos") * col("n_neg") *
          (lit(2.0) * col("n_pos") * col("n_neg") - col("n_pos") - col("n_neg")) /
          ((col("n_pos") + col("n_neg")) * (col("n_pos") + col("n_neg")) *
           (col("n_pos") + col("n_neg") - 1))), 4).as("z"))
  }
  val runsTestSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d, CAST(count(*) AS DOUBLE) AS x
      |  FROM orders GROUP BY 1),
      |m AS (SELECT sum(x) / count(*) AS mu FROM daily),
      |s AS (
      |  SELECT d, CASE WHEN x >= mu THEN 1 ELSE 0 END AS sgn
      |  FROM daily CROSS JOIN m),
      |r AS (
      |  SELECT CAST(sum(sgn) AS BIGINT) AS n_pos,
      |    CAST(count(*) - sum(sgn) AS BIGINT) AS n_neg,
      |    CAST(sum(CASE WHEN lg IS NULL OR lg <> sgn THEN 1 ELSE 0 END)
      |      AS BIGINT) AS runs
      |  FROM (SELECT sgn, lag(sgn) OVER (ORDER BY d) AS lg FROM s))
      |SELECT n_pos, n_neg, runs,
      |  round((runs - (2.0 * n_pos * n_neg / (n_pos + n_neg) + 1))
      |    / sqrt(2.0 * n_pos * n_neg
      |        * (2.0 * n_pos * n_neg - n_pos - n_neg)
      |      / ((n_pos + n_neg) * (n_pos + n_neg) * (n_pos + n_neg - 1))),
      |    4) + 0.0 AS z
      |FROM r""".stripMargin

  /** Seasonal-naive forecast backtest: predict each day's order volume
    * with the value from seven days earlier and score MAE / MAPE /
    * bias over the whole series — the baseline every forecasting
    * pipeline must beat, and the cheapest honest accuracy floor. The
    * alignment is the same calendar-bounded day+7 self-join as
    * [[tsAcf]]; the error aggregation is one pass over matched days
    * (exact integer differences until the final divisions). */
  def tsBacktestNaive(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(count(lit(1)).cast("double").as("x"))
    daily.select(date_add(col("d"), 7).as("d"), col("x").as("f"))
      .join(daily, "d")
      .agg(count(lit(1)).as("n_days"),
        round(avg(abs(col("x") - col("f"))), 4).as("mae"),
        round(avg(abs(col("x") - col("f")) / col("x")), 6).as("mape"),
        graft.functions.ScoreFns.scoreRound(
          avg(col("x") - col("f")), 4).as("bias"))
  }
  val backtestNaiveSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d, CAST(count(*) AS DOUBLE) AS x
      |  FROM orders GROUP BY 1)
      |SELECT count(*) AS n_days,
      |  round(avg(abs(a.x - f.x)), 4) AS mae,
      |  round(avg(abs(a.x - f.x) / a.x), 6) AS mape,
      |  round(avg(a.x - f.x), 4) + 0.0 AS bias
      |FROM daily a JOIN daily f ON a.d = f.d + 7""".stripMargin

  /** Binary changepoint detection on the daily series: the split day
    * maximizing |mean(left) − mean(right)| (the first step of binary
    * segmentation / CUSUM). Candidate scores come from prefix sums
    * over the calendar-bounded daily table (one range-bounded window)
    * against broadcast grand totals; a 7-day margin keeps both arms
    * estimable. The argmax ranks the ROUNDED score with a day
    * tie-break, so both engines cut at the same point. */
  def tsChangepoint(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(count(lit(1)).cast("double").as("x"))
    val tot = daily.agg(sum("x").as("tx"),
      count(lit(1)).cast("double").as("tn"))
    val w = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("cx", sum("x").over(w))
      .withColumn("cn", count(lit(1)).over(w).cast("double"))
      .crossJoin(broadcast(tot))
      .where(col("cn") >= 7 && col("tn") - col("cn") >= 7)
      .select(col("d").as("split_day"), col("cn").cast("long").as("n_left"),
        round(col("cx") / col("cn"), 4).as("mean_left"),
        round((col("tx") - col("cx")) / (col("tn") - col("cn")), 4)
          .as("mean_right"),
        round(abs(col("cx") / col("cn") -
          (col("tx") - col("cx")) / (col("tn") - col("cn"))), 6)
          .as("shift"))
      .orderBy(col("shift").desc, col("split_day"))
      .limit(1)
  }
  val changepointSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d, CAST(count(*) AS DOUBLE) AS x
      |  FROM orders GROUP BY 1),
      |t AS (SELECT sum(x) AS tx, CAST(count(*) AS DOUBLE) AS tn FROM daily),
      |c AS (
      |  SELECT d, sum(x) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS cx,
      |    CAST(count(*) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
      |      AS DOUBLE) AS cn
      |  FROM daily)
      |SELECT d AS split_day, CAST(cn AS BIGINT) AS n_left,
      |  round(cx / cn, 4) AS mean_left,
      |  round((t.tx - cx) / (t.tn - cn), 4) AS mean_right,
      |  round(abs(cx / cn - (t.tx - cx) / (t.tn - cn)), 6) AS shift
      |FROM c CROSS JOIN t
      |WHERE cn >= 7 AND t.tn - cn >= 7
      |ORDER BY shift DESC, split_day LIMIT 1""".stripMargin

  /** Monthly churn: customers ordering in month m with no order in
    * month m+1,
    * over a LINEAR month index (y·12+m−1, so the +1 lookup is exact
    * across year boundaries). The distinct activity set reduces once;
    * churn is a hash anti-join of (user, m) against (user, m+1) —
    * no window, no per-user state. The open-ended final month is
    * excluded via the broadcast max. */
  def xChurnRate(spark: SparkSession, sfDir: String): DataFrame = {
    val act = Tables.orders(spark, sfDir)
      .select(col("o_custkey").as("user_id"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .as("mi"))
      .distinct()
    val churned = act.join(
      act.select(col("user_id"), (col("mi") - 1).as("mi")),
      Seq("user_id", "mi"), "left_anti")
    val maxMi = act.agg(max("mi").as("max_mi"))
    act.groupBy("mi").agg(count(lit(1)).as("n_active"))
      .join(churned.groupBy("mi").agg(count(lit(1)).as("n_churned")),
        Seq("mi"), "left")
      .na.fill(0L, Seq("n_churned"))
      .crossJoin(broadcast(maxMi))
      .where(col("mi") < col("max_mi"))
      .select((col("mi") / 12).cast("long").as("y"),
        (col("mi") % 12 + 1).cast("long").as("m"),
        col("n_active"), col("n_churned"),
        round(col("n_churned") / col("n_active").cast("double"), 6)
          .as("churn_rate"))
      .orderBy("y", "m")
  }
  val churnRateSql: String =
    """WITH act AS (
      |  SELECT DISTINCT o_custkey AS user_id,
      |    year(o_orderdate) * 12 + month(o_orderdate) - 1 AS mi
      |  FROM orders),
      |ch AS (
      |  SELECT a.user_id, a.mi FROM act a
      |  LEFT JOIN act b ON a.user_id = b.user_id AND b.mi = a.mi + 1
      |  WHERE b.user_id IS NULL),
      |n AS (SELECT mi, count(*) AS n_active FROM act GROUP BY 1),
      |c AS (SELECT mi, count(*) AS n_churned FROM ch GROUP BY 1),
      |mx AS (SELECT max(mi) AS max_mi FROM act)
      |SELECT CAST(n.mi // 12 AS BIGINT) AS y,
      |  CAST(n.mi % 12 + 1 AS BIGINT) AS m,
      |  n.n_active, coalesce(c.n_churned, 0) AS n_churned,
      |  round(coalesce(c.n_churned, 0) / CAST(n.n_active AS DOUBLE), 6)
      |    AS churn_rate
      |FROM n LEFT JOIN c ON n.mi = c.mi CROSS JOIN mx
      |WHERE n.mi < mx.max_mi
      |ORDER BY y, m""".stripMargin

  /** Repeat-purchase cadence: the histogram of day-gaps between each
    * customer's consecutive orders, bucketed by week — the metric
    * replenishment/subscription teams watch. One exchange on the
    * customer key serves the lag window; everything after is an
    * integer-bucket reduction. */
  def xRepeatPurchaseInterval(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("od"), col("o_orderkey"))
    val gaps = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("od"))
      .withColumn("prev", lag(col("od"), 1).over(w))
      .where(col("prev").isNotNull)
      .select(datediff(col("od"), col("prev")).cast("long").as("gap_days"))
    gaps.groupBy(expr("gap_days div 7").as("gap_weeks"))
      .agg(count(lit(1)).as("n_gaps"),
        round(avg("gap_days"), 4).as("avg_gap_days"))
      .orderBy("gap_weeks")
  }
  val repeatPurchaseSql: String =
    """WITH g AS (
      |  SELECT date_diff('day',
      |    lag(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey
      |      ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
      |    CAST(o_orderdate AS DATE)) AS gap_days
      |  FROM orders)
      |SELECT gap_days // 7 AS gap_weeks, count(*) AS n_gaps,
      |  round(avg(gap_days), 4) AS avg_gap_days
      |FROM g WHERE gap_days IS NOT NULL
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // Round-11 additions: rank/bootstrap statistics, variance-reduced
  // experiment readout, multi-touch attribution, binned range join.
  // ------------------------------------------------------------------

  /** Mann-Whitney U (Wilcoxon rank-sum) test in BINNED form — the
    * nonparametric two-sample location test, for metrics too skewed
    * for Welch's t. Exact rank-sum needs a global sort; the scale form
    * bins the metric into fixed-width buckets and computes MIDRANKS
    * from bin counts (binning = deliberate tying; the tie-corrected z
    * stays exact for the binned statistic). Cost: one keyed aggregate
    * to the ≤1024-row bin table, prefix sums over bins only (the
    * x_auc_roc pattern — whitelisted in WindowPartitionSpec), one-row
    * output. Samples: urgent vs low-priority order values. */
  def xMannWhitney(spark: SparkSession, sfDir: String): DataFrame = {
    val two = Tables.orders(spark, sfDir)
      .where(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
          .as("is_a"),
        floor(col("o_totalprice") / 10000).cast("long").as("bin"))
    val bins = two.groupBy("bin")
      .agg(sum("is_a").as("na_bin"), count(lit(1)).as("nt_bin"))
    val w = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = bins
      .withColumn("cum_before", coalesce(sum("nt_bin").over(w), lit(0L)))
      .withColumn("midrank",
        col("cum_before") + (col("nt_bin") + 1) / lit(2.0))
    val s = ranked.agg(
      sum(col("na_bin") * col("midrank")).as("ra"),
      sum("na_bin").cast("double").as("na"),
      sum("nt_bin").cast("double").as("n"),
      sum(col("nt_bin").cast("double") * col("nt_bin") * col("nt_bin")
        - col("nt_bin")).as("ties"))
    s.select(
      col("na").cast("long").as("n_a"),
      (col("n") - col("na")).cast("long").as("n_b"),
      round(col("ra") - col("na") * (col("na") + 1) / 2, 1).as("u_a"),
      graft.functions.ScoreFns.scoreRound(
        (col("ra") - col("na") * (col("na") + 1) / 2
          - col("na") * (col("n") - col("na")) / 2)
          / sqrt(col("na") * (col("n") - col("na")) / 12.0
            * ((col("n") + 1) - col("ties") / (col("n") * (col("n") - 1)))),
        6).as("z"))
  }
  val mannWhitneySql: String =
    """WITH two AS (
      |  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
      |      AS is_a,
      |    CAST(floor(o_totalprice / 10000) AS BIGINT) AS bin
      |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
      |bins AS (
      |  SELECT bin, CAST(sum(is_a) AS BIGINT) AS na_bin,
      |    count(*) AS nt_bin
      |  FROM two GROUP BY 1),
      |ranked AS (
      |  SELECT *, coalesce(sum(nt_bin) OVER (ORDER BY bin
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    AS cum_before
      |  FROM bins),
      |s AS (
      |  SELECT sum(na_bin * (cum_before + (nt_bin + 1) / 2.0)) AS ra,
      |    CAST(sum(na_bin) AS DOUBLE) AS na,
      |    CAST(sum(nt_bin) AS DOUBLE) AS n,
      |    sum(CAST(nt_bin AS DOUBLE) * nt_bin * nt_bin - nt_bin) AS ties
      |  FROM ranked)
      |SELECT CAST(na AS BIGINT) AS n_a, CAST(n - na AS BIGINT) AS n_b,
      |  round(ra - na * (na + 1) / 2, 1) AS u_a,
      |  round((ra - na * (na + 1) / 2 - na * (n - na) / 2)
      |    / sqrt(na * (n - na) / 12.0
      |      * ((n + 1) - ties / (n * (n - 1)))), 6) + 0.0 AS z
      |FROM s""".stripMargin

  /** CUPED variance-reduced experiment readout (Deng et al. 2013, the
    * standard A/B-test adjustment): arm = deterministic md5-hash
    * parity of the customer key (the cross-engine curate_class_balance
    * idiom), metric Y = 1996 revenue, covariate X = the SAME unit's
    * 1995 (pre-period) revenue; the adjusted metric Y − θ·(X − E[X])
    * with θ = cov(X,Y)/var(X) removes the pre-existing between-unit
    * variance that the arms inherited. Everything is moment
    * aggregation: one keyed pass to per-customer (x, y), a 1-row
    * pooled-moments aggregate crossed back via broadcast, one per-arm
    * aggregate — no window, no sort, nothing data-sized collected. */
  def xCuped(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.orders(spark, sfDir)
      .where(year(col("o_orderdate")).isin(1995, 1996))
      .groupBy("o_custkey")
      .agg(
        sum(when(year(col("o_orderdate")) === 1995, col("o_totalprice"))
          .otherwise(lit(0.0))).as("x"),
        sum(when(year(col("o_orderdate")) === 1996, col("o_totalprice"))
          .otherwise(lit(0.0))).as("y"))
      .withColumn("arm",
        (graft.sketch.Sketches.hash60(col("o_custkey").cast("string")) % 2)
          .cast("int"))
    val pooled = base.agg(
      (covar_pop(col("x"), col("y")) / var_pop(col("x"))).as("theta"),
      avg("x").as("mx"))
    base.crossJoin(broadcast(pooled))
      .groupBy("arm")
      .agg(count(lit(1)).as("n_units"),
        graft.functions.ScoreFns.scoreRound(avg("y"), 4).as("mean_raw"),
        graft.functions.ScoreFns.scoreRound(
          avg(col("y") - col("theta") * (col("x") - col("mx"))), 4)
          .as("mean_cuped"))
      .orderBy("arm")
  }
  val cupedSql: String =
    """WITH base AS (
      |  SELECT o_custkey,
      |    sum(CASE WHEN year(o_orderdate) = 1995
      |      THEN o_totalprice ELSE 0.0 END) AS x,
      |    sum(CASE WHEN year(o_orderdate) = 1996
      |      THEN o_totalprice ELSE 0.0 END) AS y
      |  FROM orders WHERE year(o_orderdate) IN (1995, 1996)
      |  GROUP BY 1),
      |armed AS (
      |  SELECT x, y,
      |    CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))
      |      ::BIGINT % 2 AS INT) AS arm
      |  FROM base),
      |pooled AS (
      |  SELECT covar_pop(x, y) / var_pop(x) AS theta, avg(x) AS mx
      |  FROM armed)
      |SELECT arm, count(*) AS n_units,
      |  round(avg(y), 4) + 0.0 AS mean_raw,
      |  round(avg(y - theta * (x - mx)), 4) + 0.0 AS mean_cuped
      |FROM armed CROSS JOIN pooled
      |GROUP BY arm ORDER BY arm""".stripMargin

  /** Percentile-bootstrap confidence interval for the mean order
    * value, with DETERMINISTIC resampling: replica weights are
    * Poisson(1) draws read off the inverse CDF at a md5-derived
    * uniform (the Poisson bootstrap — Chamandy et al., Google 2012 —
    * exactly because true multinomial resampling needs a global n and
    * per-replica coordination that don't distribute). hash60(key:b)
    * / 2^60 is the same rational number in both engines, so weights
    * match exactly. Cost shape: a map-side ×32 replica explode into
    * one keyed aggregate (32 rows out), a 32-element sorted array on
    * the driver side of a 1-row result — nothing data-sized moves.
    * Bounds are the 2nd/31st order statistics of the 32 replica
    * means (a ~94% interval). */
  def xBootstrapCi(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"))
    val reps = o
      .select(col("o_orderkey"), col("o_totalprice"),
        explode(sequence(lit(0), lit(31))).as("b"))
      .withColumn("u",
        graft.sketch.Sketches.hash60(concat(
          col("o_orderkey").cast("string"), lit(":"),
          col("b").cast("string"))) / lit(1152921504606846976.0))
      .withColumn("w",
        when(col("u") < 0.3678794412, 0).when(col("u") < 0.7357588823, 1)
          .when(col("u") < 0.9196986029, 2).when(col("u") < 0.9810118431, 3)
          .otherwise(4))
    val means = reps.groupBy("b")
      .agg((sum(col("w") * col("o_totalprice")) / sum("w")).as("mean_b"))
    val point = o.agg(count(lit(1)).as("n_orders"),
      avg("o_totalprice").as("pm"))
    means.agg(sort_array(collect_list("mean_b")).as("ms"))
      .crossJoin(broadcast(point))
      .select(col("n_orders"),
        round(col("pm"), 4).as("point_mean"),
        round(element_at(col("ms"), 2), 4).as("ci_lo"),
        round(element_at(col("ms"), 31), 4).as("ci_hi"))
  }
  val bootstrapCiSql: String =
    """WITH reps AS (
      |  SELECT b.b, o.o_totalprice,
      |    ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':'
      |        || CAST(b.b AS VARCHAR)), 1, 15))::BIGINT
      |      / 1152921504606846976.0 AS u
      |  FROM orders o CROSS JOIN
      |    (SELECT unnest(generate_series(0, 31)) AS b) b),
      |wtd AS (
      |  SELECT b, o_totalprice,
      |    CASE WHEN u < 0.3678794412 THEN 0 WHEN u < 0.7357588823 THEN 1
      |      WHEN u < 0.9196986029 THEN 2 WHEN u < 0.9810118431 THEN 3
      |      ELSE 4 END AS w
      |  FROM reps),
      |m AS (SELECT b, sum(w * o_totalprice) / sum(w) AS mean_b
      |      FROM wtd GROUP BY 1),
      |arr AS (SELECT list_sort(list(mean_b)) AS ms FROM m),
      |p AS (SELECT count(*) AS n_orders, avg(o_totalprice) AS pm
      |      FROM orders)
      |SELECT n_orders, round(pm, 4) AS point_mean,
      |  round(ms[2], 4) AS ci_lo, round(ms[31], 4) AS ci_hi
      |FROM arr, p""".stripMargin

  /** LINEAR multi-touch attribution — each purchase's value is split
    * EQUALLY across every click/view touch in the preceding 7 days
    * (last-touch's sibling; the pair brackets the attribution
    * spectrum). One exchange on user_id serves everything: with only
    * two touch channels, the per-purchase touch composition is two
    * RANGE-framed indicator sums over the microsecond timeline (no
    * purchase×touch self-join, no per-purchase rescan); the credit
    * split is then pure row arithmetic exploded into per-channel
    * rows. Touchless purchases credit 'direct' in full. */
  def xAttributionLinear(spark: SparkSession, sfDir: String): DataFrame = {
    val sevenDaysUs = 7L * 24 * 3600 * 1000000
    val w = Window.partitionBy("user_id").orderBy(col("us"))
      .rangeBetween(-sevenDaysUs, -1)
    val e = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_type"), col("value"))
      .withColumn("nc",
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).over(w))
      .withColumn("nv",
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).over(w))
    val p = e.where(col("event_type") === "purchase")
      .withColumn("nt", col("nc") + col("nv"))
    p.select(explode(array(
        struct(lit("click").as("channel"),
          when(col("nt") > 0, col("nc") / col("nt")).otherwise(lit(0.0))
            .as("credit")),
        struct(lit("view").as("channel"),
          when(col("nt") > 0, col("nv") / col("nt")).otherwise(lit(0.0))
            .as("credit")),
        struct(lit("direct").as("channel"),
          when(col("nt") === 0, lit(1.0)).otherwise(lit(0.0))
            .as("credit")))).as("c"),
        col("value"))
      .select(col("c.channel").as("channel"), col("c.credit").as("credit"),
        (col("c.credit") * col("value")).as("cv"))
      .where(col("credit") > 0)
      .groupBy("channel")
      .agg(round(sum("credit"), 6).as("credited_purchases"),
        round(sum("cv"), 2).as("credited_value"))
      .orderBy("channel")
  }
  val attributionLinearSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    event_type, value
      |  FROM events),
      |fr AS (
      |  SELECT user_id, us, event_type, value,
      |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY us
      |        RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING)
      |      AS nc,
      |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY us
      |        RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING)
      |      AS nv
      |  FROM e),
      |p AS (SELECT *, nc + nv AS nt FROM fr
      |      WHERE event_type = 'purchase'),
      |credits AS (
      |  SELECT 'click' AS channel,
      |    CASE WHEN nt > 0 THEN CAST(nc AS DOUBLE) / nt ELSE 0 END
      |      AS credit, value
      |  FROM p
      |  UNION ALL
      |  SELECT 'view',
      |    CASE WHEN nt > 0 THEN CAST(nv AS DOUBLE) / nt ELSE 0 END, value
      |  FROM p
      |  UNION ALL
      |  SELECT 'direct', CASE WHEN nt = 0 THEN 1.0 ELSE 0.0 END, value
      |  FROM p)
      |SELECT channel, round(sum(credit), 6) AS credited_purchases,
      |  round(sum(credit * value), 2) AS credited_value
      |FROM credits WHERE credit > 0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Binned (bucketed) RANGE JOIN — point-in-interval matching
    * without the O(|points|·|intervals|) nested loop Spark falls back
    * to on a raw BETWEEN join. Each interval EXPLODES into the
    * month buckets it overlaps (map-side, ≤2-3 rows per interval
    * here), points carry their single bucket, and the join becomes a
    * plain hash equi-join on the bucket followed by the exact BETWEEN
    * residual filter — the standard interval-join decomposition
    * (Spark's own range-join hints, DuckDB's IEJoin, and every
    * geospatial grid join use exactly this shape). Works when BOTH
    * sides are large: no broadcast, candidates ∝ Σ buckets-overlapped,
    * never |P|×|I|. Fixture: quarterly 45-day campaign windows
    * derived from the order calendar, matched against all orders. */
  def xRangeJoinBinned(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderdate").as("odate"), col("o_totalprice"))
    val campaigns = o
      .select(date_trunc("quarter", col("odate")).as("cstart")).distinct()
      .withColumn("cend",
        col("cstart") + expr("INTERVAL 44 DAYS"))
    val campBinned = campaigns
      .select(col("cstart"), col("cend"),
        explode(sequence(date_trunc("month", col("cstart")),
          date_trunc("month", col("cend")),
          expr("INTERVAL 1 MONTH"))).as("bin"))
    val pts = o.withColumn("bin", date_trunc("month", col("odate")))
    pts.join(campBinned, Seq("bin"))
      .where(col("odate") >= col("cstart") && col("odate") <= col("cend"))
      .groupBy(col("cstart").as("campaign_start"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("revenue"))
      .orderBy("campaign_start")
  }
  val rangeJoinBinnedSql: String =
    """WITH camp AS (
      |  SELECT DISTINCT date_trunc('quarter', o_orderdate) AS cstart
      |  FROM orders),
      |c2 AS (SELECT cstart, cstart + INTERVAL 44 DAY AS cend FROM camp)
      |SELECT c.cstart AS campaign_start, count(*) AS n_orders,
      |  round(sum(o.o_totalprice), 2) AS revenue
      |FROM c2 c JOIN orders o
      |  ON o.o_orderdate >= c.cstart AND o.o_orderdate <= c.cend
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Two-proportion z-test on conversion rate — the binary-outcome
    * companion to x_welch_ttest/x_cuped: arm = md5-hash parity of
    * user_id, outcome = "did the user ever purchase". Shape: one
    * keyed aggregate to per-user conversion flags, one 2-row per-arm
    * aggregate, pooled-variance z in a 1-row select. Counts are
    * exact; only z is floating (scoreRound 6). */
  def xTwoProportionZ(spark: SparkSession, sfDir: String): DataFrame = {
    val users = Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("converted"))
      .withColumn("arm",
        (graft.sketch.Sketches.hash60(col("user_id").cast("string")) % 2)
          .cast("int"))
    val arms = users.groupBy("arm")
      .agg(count(lit(1)).as("n"), sum("converted").as("k"))
    val one = arms.agg(
      max(when(col("arm") === 0, col("n"))).as("n0"),
      max(when(col("arm") === 0, col("k"))).as("k0"),
      max(when(col("arm") === 1, col("n"))).as("n1"),
      max(when(col("arm") === 1, col("k"))).as("k1"))
    val p0 = col("k0").cast("double") / col("n0")
    val p1 = col("k1").cast("double") / col("n1")
    val pp = (col("k0") + col("k1")).cast("double") / (col("n0") + col("n1"))
    one.select(col("n0"), col("k0"), col("n1"), col("k1"),
      graft.functions.ScoreFns.scoreRound(p1 - p0, 6).as("rate_diff"),
      graft.functions.ScoreFns.scoreRound(
        (p1 - p0) / sqrt(pp * (lit(1.0) - pp)
          * (lit(1.0) / col("n0") + lit(1.0) / col("n1"))), 6).as("z"))
  }
  val twoProportionZSql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c
      |  FROM events GROUP BY 1),
      |armed AS (
      |  SELECT c, CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
      |    1, 15))::BIGINT % 2 AS INT) AS arm
      |  FROM u),
      |a AS (SELECT arm, count(*) AS n, CAST(sum(c) AS BIGINT) AS k
      |      FROM armed GROUP BY 1),
      |o AS (SELECT
      |    max(CASE WHEN arm = 0 THEN n END) AS n0,
      |    max(CASE WHEN arm = 0 THEN k END) AS k0,
      |    max(CASE WHEN arm = 1 THEN n END) AS n1,
      |    max(CASE WHEN arm = 1 THEN k END) AS k1
      |  FROM a)
      |SELECT n0, k0, n1, k1,
      |  round(CAST(k1 AS DOUBLE) / n1 - CAST(k0 AS DOUBLE) / n0, 6) + 0.0
      |    AS rate_diff,
      |  round((CAST(k1 AS DOUBLE) / n1 - CAST(k0 AS DOUBLE) / n0)
      |    / sqrt((CAST(k0 + k1 AS DOUBLE) / (n0 + n1))
      |      * (1.0 - CAST(k0 + k1 AS DOUBLE) / (n0 + n1))
      |      * (1.0 / n0 + 1.0 / n1)), 6) + 0.0 AS z
      |FROM o""".stripMargin

  def gates: Seq[Gate] = Seq(
    Gate("x_two_proportion_z", xTwoProportionZ, twoProportionZSql),
    Gate("ts_page_hinkley", tsPageHinkley, pageHinkleySql),
    Gate("x_logrank", xLogrank, logrankSql),
    Gate("x_shapley_attribution", xShapleyAttribution, shapleySql),
    Gate("x_mann_whitney", xMannWhitney, mannWhitneySql),
    Gate("x_cuped", xCuped, cupedSql),
    Gate("x_bootstrap_ci", xBootstrapCi, bootstrapCiSql),
    Gate("x_attribution_linear", xAttributionLinear, attributionLinearSql),
    Gate("x_range_join_binned", xRangeJoinBinned, rangeJoinBinnedSql),
    Gate("x_attribution_last_touch", xAttributionLastTouch, attributionSql),
    Gate("x_chisq_dow", xChisqDow, chisqDowSql),
    Gate("x_gini_spend", xGiniSpend, giniSql),
    Gate("x_survival_km", xSurvivalKm, survivalKmSql),
    Gate("ts_mad_outliers", tsMadOutliers, madOutliersSql),
    Gate("x_per_group_regression", xPerGroupRegression, perGroupRegressionSql),
    Gate("x_longest_streak", xLongestStreak, longestStreakSql),
    Gate("ts_merge_intervals", tsMergeIntervals, mergeIntervalsSql),
    Gate("ts_ewma", tsEwma, ewmaSql),
    Gate("x_hhi_concentration", xHhiConcentration, hhiSql),
    Gate("x_category_entropy", xCategoryEntropy, categoryEntropySql),
    Gate("x_cramers_v", xCramersV, cramersVSql),
    Gate("x_auc_roc", xAucRoc, aucRocSql),
    Gate("x_rfm_segments", xRfmSegments, rfmSql),
    Gate("x_market_basket", xMarketBasket, marketBasketSql),
    Gate("x_next_event_markov", xNextEventMarkov, nextEventMarkovSql),
    Gate("scd2_build", scd2Build, scd2Sql),
    Gate("scd2_point_in_time", scd2PointInTime, scd2PitSql),
    Gate("ts_acf", tsAcf, acfSql),
    Gate("x_welch_ttest", xWelchTtest, welchSql),
    Gate("x_benford", xBenford, benfordSql),
    Gate("x_time_to_convert", xTimeToConvert, timeToConvertSql),
    Gate("ts_cross_correlation", tsCrossCorrelation, crossCorrSql),
    Gate("x_cohort_ltv", xCohortLtv, cohortLtvSql),
    Gate("x_basket_size_dist", xBasketSizeDist, basketSizeSql),
    Gate("ts_seasonal_index", tsSeasonalIndex, seasonalIndexSql),
    Gate("x_new_vs_returning", xNewVsReturning, newVsReturningSql),
    Gate("x_ks_binned", xKsBinned, ksBinnedSql),
    Gate("x_gap_islands", xGapIslands, gapIslandsSql),
    Gate("x_stickiness", xStickiness, stickinessSql),
    Gate("x_pareto_curve", xParetoCurve, paretoSql),
    Gate("x_discount_sensitivity", xDiscountSensitivity,
      discountSensitivitySql),
    Gate("x_runs_test", xRunsTest, runsTestSql),
    Gate("ts_backtest_naive", tsBacktestNaive, backtestNaiveSql),
    Gate("ts_changepoint", tsChangepoint, changepointSql),
    Gate("x_churn_rate", xChurnRate, churnRateSql),
    Gate("x_repeat_purchase_interval", xRepeatPurchaseInterval,
      repeatPurchaseSql))
}
