package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** Resilience / time-series analytics (SURVEY.md §2.B) — the
  * reference's core metrics re-expressed as single-pass Spark plans.
  *
  * Reference: src/features/resilience.py:29-44 (Drawdown_2020),
  * :50-70 (Recovered_Years), :76 (outer merge); README.md shock
  * simulator (trend fit + recovery path). The reference loops per
  * group on the driver (`for industry, g in df.groupby(...)`); here
  * every metric is one distributed aggregation/window — no driver
  * loops, so the same plan holds at 100 TB.
  *
  * Industry→nation, Year→year(o_orderdate), Real_Value→revenue;
  * baseline year 1998, shock year 1999 (data spans 1995-2001).
  */
object Resilience {

  private val BaseYr = 1998L
  private val ShockYr = 1999L

  /** Generic series contract: metrics run on ANY long table of
    * (group, period, value) — exactly the reference's
    * (Industry, Year, Real_Value) frame (resilience.py:30
    * `df.groupby("Industry")` over clean_va_price.csv). Column names
    * are parameters so callers keep their own schema. */

  /** Yearly revenue per nation — the test-corpus series for B1-B5/B10.
    * nation (fixed 25 rows) is hint-broadcast; customer scales with SF
    * so it carries NO hint — threshold/AQE picks BHJ at test scale and
    * a keyed shuffle join at 100 TB instead of tripping the broadcast
    * limit. One shuffle on (n_name, yr). */
  private def yearlyRev(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name", year($"o_orderdate").cast("long").as("yr"))
      .agg(sum($"o_totalprice").as("rev"))
  }

  private def series(s: SparkSession, dir: String): Series =
    Series(yearlyRev(s, dir), "n_name", "yr", "rev")

  /** A (group, period, value) long table with named columns. */
  case class Series(df: DataFrame, grp: String, period: String, value: String)

  /** B1 drawdown between baseline and shock period — resilience.py:29-44
    * (`(val2020 - val2019) / val2019`), via conditional aggregation
    * (one pass, no per-group driver loop). */
  def drawdownOn(ss: Series, basePeriod: Long, shockPeriod: Long): DataFrame = {
    val p = col(ss.period); val v = col(ss.value)
    ss.df.groupBy(col(ss.grp))
      .agg(round(
        (sum(when(p === shockPeriod, v)) - sum(when(p === basePeriod, v)))
          / sum(when(p === basePeriod, v)), 6).as("drawdown"))
      .orderBy(col(ss.grp))
  }

  /** B2 recovery periods — resilience.py:50-70: first period after the
    * baseline whose value >= baseline value; null when never recovered
    * (the reference's `recovery = None`). Groups missing the baseline
    * period are dropped (the reference's IndexError→continue). */
  def recoveryOn(ss: Series, basePeriod: Long): DataFrame = {
    val p = col(ss.period); val v = col(ss.value)
    val base = ss.df.filter(p === basePeriod)
      .select(col(ss.grp), v.as("v0"))
    val rec = ss.df.join(base, ss.grp)
      .filter(p > basePeriod && v >= col("v0"))
      .groupBy(col(ss.grp))
      .agg(min(p - basePeriod).as("recovered_years"))
    base.select(col(ss.grp))
      .join(rec, Seq(ss.grp), "left")
      .orderBy(col(ss.grp))
  }

  /** B3 combined metric table — resilience.py:76 outer merge. */
  def resilienceOn(ss: Series, basePeriod: Long, shockPeriod: Long): DataFrame =
    drawdownOn(ss, basePeriod, shockPeriod)
      .join(recoveryOn(ss, basePeriod), Seq(ss.grp), "full_outer")
      .orderBy(col(ss.grp))

  /** B23 FAITHFUL replay of the reference's driver loop on inputs with
    * DUPLICATE (group, period) rows — the real clean_va_price.csv has
    * 24 such pairs (same industry label at two hierarchy positions,
    * crossed by the notebook's inner merge). resilience.py:35-36
    * resolves them with `.values[0]`: the FIRST row in file order
    * (pandas' stable sort by Year preserves it). The Spark twin is
    * `min_by(value, ord)` per (group, period) — one map-side-combined
    * aggregate, no driver loop — where `ord` is any total order
    * reproducing ingest order (a line number, an ingest sequence).
    * Unlike [[drawdownOn]] this emits the UNROUNDED IEEE quotient:
    * v0 = 0 yields ±Infinity or NaN (0/0) exactly as numpy scalar
    * division does — the published metrics file contains both, so
    * fidelity requires propagating them, not nulling them. (ANSI mode
    * makes double /0 an error, so the zero-baseline cases are emitted
    * by an explicit branch; the nonzero-divisor branch is plain IEEE
    * division under ANSI too.)
    * Recovery = first period in (base, base+horizon] whose FIRST row
    * value >= the base value; groups lacking a base-period row are
    * dropped (the reference's IndexError→continue). One divergence,
    * by design: a NaN `value` recovers in Spark (NaN >= x is true in
    * Spark SQL's ordering) but not in numpy; the reference inputs
    * carry no NaN values, so the replay is exact there. */
  def resilienceReplayOn(ss: Series, ordCol: String, basePeriod: Long,
      shockPeriod: Long, horizon: Long): DataFrame = {
    // localCheckpoint: base, shock and recovery all consume this
    // aggregate — without it each consumer replays the corpus scan
    // (4 scans at 100 TB); materialized it is groups × periods rows,
    // corpus-independent
    val first = ss.df.groupBy(col(ss.grp), col(ss.period).as("p"))
      .agg(min_by(col(ss.value), col(ordCol)).as("v"))
      .localCheckpoint()
    val base = first.filter(col("p") === basePeriod)
      .select(col(ss.grp), col("v").as("v0"))
    val shock = first.filter(col("p") === shockPeriod)
      .select(col(ss.grp), col("v").as("v1"))
    val num = col("v1") - col("v0")
    val dd = base.join(shock, Seq(ss.grp))
      .select(col(ss.grp),
        when(col("v0") === 0.0,
            when(num === 0.0, lit(Double.NaN))
              .when(num > 0.0, lit(Double.PositiveInfinity))
              .otherwise(lit(Double.NegativeInfinity)))
          .otherwise(num / col("v0")).as("drawdown"))
    val rec = first.join(base, Seq(ss.grp))
      .filter(col("p") > basePeriod && col("p") <= basePeriod + horizon
        && col("v") >= col("v0"))
      .groupBy(col(ss.grp))
      .agg(min(col("p") - basePeriod).as("recovered_periods"))
    base.select(col(ss.grp))
      .join(dd, Seq(ss.grp), "left")
      .join(rec, Seq(ss.grp), "left")
      .orderBy(col(ss.grp))
  }

  def drawdown(s: SparkSession, dir: String): DataFrame =
    drawdownOn(series(s, dir), BaseYr, ShockYr)

  def recovery(s: SparkSession, dir: String): DataFrame =
    recoveryOn(series(s, dir), BaseYr)

  def resilienceJoin(s: SparkSession, dir: String): DataFrame =
    resilienceOn(series(s, dir), BaseYr, ShockYr)

  /** Integer-exact OLS over cent-quantized yearly revenue: x = yr−1998
    * (small int), yc = revenue in integer cents. Every regression sum
    * is then an exact BIGINT, the slope/intercept are ratios of
    * identical integers in both engines, and one IEEE double division
    * is bit-deterministic — no rounding, no decimal-tie flakes, stable
    * under any partitioning. Output unit: $M/yr (cents / 1e8). */
  def fitAggsOn(ss: Series, basePeriod: Long): DataFrame = {
    val s0 = ss.df.sparkSession
    import s0.implicits._
    ss.df
      .select(col(ss.grp), (col(ss.period) - basePeriod).as("x"),
        round(col(ss.value) * 100).cast("long").as("yc"))
      .groupBy(col(ss.grp))
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"),
        sum($"x" * $"x").as("sxx"), sum($"yc").as("sy"),
        sum($"x" * $"yc").as("sxy"))
      .withColumn("a", $"n" * $"sxy" - $"sx" * $"sy")   // slope numerator
      .withColumn("b", $"n" * $"sxx" - $"sx" * $"sx")   // slope denominator
      .withColumn("slope_m",
        $"a".cast("double") / ($"b".cast("double") * lit(1.0e8)))
      .withColumn("icept_m",
        ($"sy" * $"b" - $"a" * $"sx").cast("double")
          / (($"n" * $"b").cast("double") * lit(1.0e8)))
  }

  /** B4 per-group linear trend — README shock simulator's "based on
    * past trends": closed-form OLS slope/intercept of yearly revenue. */
  def trendOn(ss: Series, basePeriod: Long): DataFrame = {
    val s0 = ss.df.sparkSession
    import s0.implicits._
    fitAggsOn(ss, basePeriod)
      .select(col(ss.grp), $"slope_m", $"icept_m".as("intercept_m"),
        $"n".as("n_years"))
      .orderBy(col(ss.grp))
  }

  def trend(s: SparkSession, dir: String): DataFrame =
    trendOn(series(s, dir), BaseYr)

  /** B5 shock simulation — README: "input a shock percentage to
    * simulate future downturns, with forecasts and recovery paths":
    * project next year from the trend, apply a 30% shock, and compute
    * years-to-recover along the trend slope. */
  /** Generic: README's "input a shock percentage": caller chooses
    * the shock fraction and projection offset. */
  def shockSimOn(ss: Series, basePeriod: Long, projectOffset: Int,
      shock: Double): DataFrame = {
    val s0 = ss.df.sparkSession
    import s0.implicits._
    // all inputs are the bit-deterministic doubles from fitAggsOn, so
    // every derived value (same IEEE op sequence in the oracle)
    // compares exactly.
    fitAggsOn(ss, basePeriod)
      .withColumn("projected_m", $"icept_m" + $"slope_m" * projectOffset)
      .select(
        col(ss.grp), $"projected_m",
        ($"projected_m" * (1 - shock)).as("shocked_m"),
        when($"slope_m" > 0,
          ceil($"projected_m" * shock / $"slope_m").cast("long"))
          .as("years_to_recover"))
      .orderBy(col(ss.grp))
  }

  def shockSim(s: SparkSession, dir: String): DataFrame =
    shockSimOn(series(s, dir), BaseYr, projectOffset = 4, shock = 0.30)

  /** SQL-surface entry for the `graft_shock(dir, pct, horizon)` TVF:
    * the reference's headline INTERACTIVE feature — "Users can input
    * a shock percentage to simulate future downturns" (reference
    * README.md:5) — with the shock fraction and projection horizon
    * supplied by the SQL/JDBC user rather than pinned to the graded
    * q_shock_sim constants. Same plan as [[shockSimOn]] over the
    * standard yearly-revenue series. */
  def shockSimParams(s: SparkSession, dir: String, shock: Double,
      horizon: Int): DataFrame =
    shockSimOn(series(s, dir), BaseYr, projectOffset = horizon,
      shock = shock)

  /** B17 AR(1) recursive forecast — the step past B4's straight-line
    * OLS that the reference reaches for statsmodels/scikit-learn for
    * (requirements.txt:3-4; README.md:5 "forecasts and recovery paths
    * based on past trends"): fit y_t = c + φ·y_{t−1} per group by
    * closed-form OLS over CONSECUTIVE-period lag pairs, then roll the
    * recursion h steps forward from the last observation. φ < 1 gives
    * the mean-reverting recovery path a shock simulator wants; φ ≈ 1
    * degenerates to the linear trend.
    *
    * Exactness: observations round to whole-dollar BIGINTs, the five
    * OLS sums are integer (overflow-free through the sf0.1 test scale;
    * at 10⁹-row scale swap the sums to decimal(38,0) — the C18
    * pattern), and φ/c/forecasts are derived with the IDENTICAL IEEE
    * op sequence in both engines — exact compare, no rounding. Groups
    * with < 2 pairs or zero lag variance are excluded (no fit). */
  def ar1ForecastOn(ss: Series, horizon: Int): DataFrame = {
    val s0 = ss.df.sparkSession
    import s0.implicits._
    val w = Window.partitionBy(col(ss.grp)).orderBy(col("p"))
    val pts = ss.df
      .select(col(ss.grp), col(ss.period).as("p"),
        round(col(ss.value)).cast("long").as("y"))
      .withColumn("py", lag($"y", 1).over(w))
      .withColumn("pp", lag($"p", 1).over(w))
      .filter($"p" === $"pp" + 1)
    val agg = pts.groupBy(col(ss.grp))
      .agg(count(lit(1)).as("m"), sum($"py").as("sp"), sum($"y").as("sc"),
        sum($"py" * $"py").as("spp"), sum($"py" * $"y").as("spc"))
    val last = ss.df.groupBy(col(ss.grp))
      .agg(max(struct(col(ss.period).as("p"),
        round(col(ss.value)).cast("long").as("y"))).as("l"))
      .select(col(ss.grp), $"l.y".as("ylast"))
    var out = agg.join(last, ss.grp)
      .filter($"m" >= 2 && ($"m" * $"spp" - $"sp" * $"sp") =!= 0)
      .withColumn("phi", ($"m" * $"spc" - $"sp" * $"sc").cast("double") /
        ($"m" * $"spp" - $"sp" * $"sp").cast("double"))
      .withColumn("c", ($"sc".cast("double") - $"phi" * $"sp".cast("double"))
        / $"m".cast("double"))
      .withColumn("fc0", $"ylast".cast("double"))
    for (i <- 1 to horizon)
      out = out.withColumn(s"fc$i", $"c" + $"phi" * col(s"fc${i - 1}"))
    out.select((col(ss.grp) +: $"m".as("n_pairs") +: $"phi".as("ar1_phi") +:
        $"c".as("ar1_c") +: $"ylast".cast("double").as("last_val") +:
        (1 to horizon).map(i => col(s"fc$i"))): _*)
      .orderBy(col(ss.grp))
  }

  def ar1Forecast(s: SparkSession, dir: String): DataFrame =
    ar1ForecastOn(series(s, dir), horizon = 3)

  /** B18 Holt double exponential smoothing — the trend-aware
    * counterpart to B16's flat EWMA and the second statsmodels-class
    * fit (statsmodels `Holt`) behind the README's "forecasts and
    * recovery paths": per group, fold the period-ordered observations
    * through the coupled level/trend recursion
    * `l_t = α·y_t + (1−α)·(l_{t−1}+b_{t−1})`,
    * `b_t = β·(l_t−l_{t−1}) + (1−β)·b_{t−1}`
    * (init `l₁=y₁`, `b₁=y₂−y₁`; update over t=2…n), then project
    * `fc_h = l_n + h·b_n`. Unlike AR(1)'s mean reversion, Holt keeps
    * following the local trend — the two bracket a shock recovery.
    *
    * Exactness: observations round to whole-dollar BIGINTs first, and
    * the fold runs the IDENTICAL IEEE op sequence in both engines
    * (`aggregate` HOF here, `list_reduce` in the twin — the B16
    * precedent, extended to a struct accumulator) — exact compare, no
    * rounding. Scale shape: one keyed aggregate; per-group state is
    * the ordered observation list (periods per group — 12 years here),
    * the same bounded frame as B16. Groups with < 2 periods have no
    * trend init and are excluded. */
  def holtOn(ss: Series, alpha: Double = 0.5, beta: Double = 0.3,
      horizon: Int = 3): DataFrame = {
    val s0 = ss.df.sparkSession
    import s0.implicits._
    val ordered = array_sort(collect_list(struct(col(ss.period).as("p"),
      round(col(ss.value)).cast("long").as("yc"))))
    val a = alpha; val b = beta
    var out = ss.df.groupBy(col(ss.grp))
      .agg(count(lit(1)).as("n_periods"), ordered.as("obs"))
      .filter($"n_periods" >= 2)
      .withColumn("v", transform($"obs", x => x.getField("yc").cast("double")))
      .withColumn("st", expr(
        s"""aggregate(slice(v, 2, size(v) - 1),
           |  named_struct('l', element_at(v, 1),
           |    'b', element_at(v, 2) - element_at(v, 1)),
           |  (acc, x) -> named_struct(
           |    'l', $a * x + ${1 - a} * (acc.l + acc.b),
           |    'b', $b * ($a * x + ${1 - a} * (acc.l + acc.b) - acc.l)
           |         + ${1 - b} * acc.b))""".stripMargin))
      .withColumn("level", $"st.l").withColumn("trend", $"st.b")
    for (h <- 1 to horizon)
      out = out.withColumn(s"fc$h", $"level" + lit(h.toDouble) * $"trend")
    out.select((col(ss.grp) +: $"n_periods" +: $"level" +: $"trend" +:
        (1 to horizon).map(h => col(s"fc$h"))): _*)
      .orderBy(col(ss.grp))
  }

  def holtForecast(s: SparkSession, dir: String): DataFrame =
    holtOn(series(s, dir))

  /** B102 DAMPED-TREND HOLT (Gardner & McKenzie 1985 — the M/M3/M4
    * competitions' most durable lesson: an undamped linear trend
    * extrapolates a straight line forever and overshoots almost
    * every real horizon, so production Holt ships with φ-damping; at
    * φ = 0.9 the forecast curve flattens toward l + b·φ/(1−φ)):
    * l ← α·y + (1−α)(l + φ·b), b ← β(l_new − l_old) + (1−β)·φ·b,
    * F_h = l + (Σ_{i≤h} φⁱ)·b, with the φ-sums written as explicit
    * literal additions so both engines fold the same IEEE sequence
    * (the B18 textual-identity convention). Same bounded per-group
    * fold shape as B18. */
  def holtDampedOn(ss: Series, alpha: Double = 0.5, beta: Double = 0.3):
      DataFrame = {
    val s0 = ss.df.sparkSession
    import s0.implicits._
    val ordered = array_sort(collect_list(struct(col(ss.period).as("p"),
      round(col(ss.value)).cast("long").as("yc"))))
    val a = alpha; val b = beta
    ss.df.groupBy(col(ss.grp))
      .agg(count(lit(1)).as("n_periods"), ordered.as("obs"))
      .filter($"n_periods" >= 2)
      .withColumn("v", transform($"obs", x => x.getField("yc").cast("double")))
      .withColumn("st", expr(
        s"""aggregate(slice(v, 2, size(v) - 1),
           |  named_struct('l', element_at(v, 1),
           |    'b', element_at(v, 2) - element_at(v, 1)),
           |  (acc, x) -> named_struct(
           |    'l', $a * x + ${1 - a} * (acc.l + 0.9 * acc.b),
           |    'b', $b * ($a * x + ${1 - a} * (acc.l + 0.9 * acc.b)
           |         - acc.l) + ${1 - b} * 0.9 * acc.b))""".stripMargin))
      .select(col(ss.grp), $"n_periods", $"st.l".as("level"),
        $"st.b".as("trend"),
        expr("st.l + 0.9 * st.b").as("fc1"),
        expr("st.l + (0.9 + 0.81) * st.b").as("fc2"),
        expr("st.l + (0.9 + 0.81 + 0.729) * st.b").as("fc3"))
      .orderBy(col(ss.grp))
  }

  def holtDamped(s: SparkSession, dir: String): DataFrame =
    holtDampedOn(series(s, dir))

  /** B27 local-level KALMAN filter per group — the state-space member
    * of the forecast ladder (statsmodels `UnobservedComponents
    * (level='local level')` twin; B4 linear → B17 AR(1) → B18 Holt →
    * B21 Holt-Winters fit a CURVE, the Kalman filter carries an
    * UNCERTAINTY): observation y_t = l_t + ε (var R), level random
    * walk l_t = l_{t−1} + η (var Q). Filtering recursion per step —
    * predict `P⁻ = P + Q`, gain `K = P⁻/(P⁻+R)`, update
    * `l ← l + K·(y−l)`, `P ← (1−K)·P⁻` — init l₁ = y₁, P₁ = R
    * (posterior scale of a single noisy observation). The level
    * forecast is FLAT (= l_n, the random-walk best guess); what
    * Kalman adds over Holt is the widening h-step prediction variance
    * `fvar_h = P + h·Q + R` — the confidence band a shock simulator
    * needs around its recovery path. Gain converges to the
    * steady-state root of P⁻² − Q·P⁻ − Q·R = 0 (spec-pinned).
    *
    * Exactness: whole-dollar BIGINT observations; the fold runs the
    * identical IEEE op sequence in both engines (`aggregate` HOF
    * struct accumulator here, recursive CTE in the twin — the B18
    * precedent; every update expression is textually the same, with
    * P⁻ and K expanded in place since neither engine has let-binding
    * in SQL). Exact compare, no rounding. Scale: one keyed aggregate;
    * per-group state = the ordered observation list (12 years here),
    * the B16/B18 bounded frame. */
  def kalmanOn(ss: Series, q: Double = 25.0, r: Double = 100.0,
      horizon: Int = 3): DataFrame = {
    val s0 = ss.df.sparkSession
    import s0.implicits._
    val ordered = array_sort(collect_list(struct(col(ss.period).as("p"),
      round(col(ss.value)).cast("long").as("yc"))))
    // expanded in place: pp = acc.p + q, k = pp / (pp + r)
    val ppS = s"(acc.p + $q)"
    val kS = s"($ppS / ($ppS + $r))"
    var out = ss.df.groupBy(col(ss.grp))
      .agg(count(lit(1)).as("n_periods"), ordered.as("obs"))
      .filter($"n_periods" >= 2)
      .withColumn("v", transform($"obs", x => x.getField("yc").cast("double")))
      .withColumn("st", expr(
        s"""aggregate(slice(v, 2, size(v) - 1),
           |  named_struct('l', element_at(v, 1), 'p', cast($r as double),
           |    'k', cast(null as double)),
           |  (acc, x) -> named_struct(
           |    'l', cast(acc.l + $kS * (x - acc.l) as double),
           |    'p', cast((1.0 - $kS) * $ppS as double),
           |    'k', cast($kS as double)))""".stripMargin))
      .withColumn("level", $"st.l").withColumn("pvar", $"st.p")
      .withColumn("gain", $"st.k")
    for (h <- 1 to horizon)
      out = out.withColumn(s"fvar$h",
        $"pvar" + lit(h * q) + lit(r))
    out.select((col(ss.grp) +: $"n_periods" +: $"level" +: $"pvar" +:
        $"gain" +: (1 to horizon).map(h => col(s"fvar$h"))): _*)
      .orderBy(col(ss.grp))
  }

  def kalmanForecast(s: SparkSession, dir: String): DataFrame =
    kalmanOn(series(s, dir))

  /** B28 THEIL–SEN robust trend per group — the breakdown-resistant
    * sibling of B4's least-squares slope (scipy
    * `stats.theilslopes` / `mstats.theilslopes` twin): slope = median
    * of all pairwise slopes (y_j−y_i)/(t_j−t_i), i<j, so up to ~29%
    * of the points can be arbitrary outliers (a revision spike, a
    * mis-keyed year) without moving the estimate — B4's OLS moves on
    * a single bad point. Intercept = median of (y_i − slope·t_i)
    * (the scipy convention). Median is the TYPE-1 lower median
    * (sorted[(n+1) div 2], 1-based) so both engines index the same
    * element — no interpolation, no mean-of-middle-two ambiguity.
    *
    * Exactness: whole-dollar BIGINT observations; each pairwise slope
    * is ONE double division of exact integers and each residual ONE
    * multiply-subtract — identical IEEE sequence in both engines, and
    * the median SELECTS one of those bit-identical doubles rather
    * than combining them. Scale: the pair join is per-group O(p²) in
    * the PERIOD count only (p ≈ years, bounded and tiny — never the
    * row count); one shuffle on the group key, then two hash
    * aggregates. The sorted-array median state is p²-bounded doubles
    * per group, far under the B18 fold-state precedent. */
  def theilSenOn(ss: Series): DataFrame = {
    val s0 = ss.df.sparkSession
    import s0.implicits._
    val g = ss.grp
    val pts = ss.df.select(col(g), col(ss.period).cast("long").as("t"),
      round(col(ss.value)).cast("long").as("yw"))
    val pairs = pts.as("a").join(pts.as("b"),
        col(s"a.$g") === col(s"b.$g") && $"a.t" < $"b.t")
      .select(col(s"a.$g"),
        (($"b.yw" - $"a.yw").cast("double") /
          ($"b.t" - $"a.t").cast("double")).as("slope"))
    val sl = pairs.groupBy(col(g))
      .agg(count(lit(1)).as("n_pairs"),
        sort_array(collect_list($"slope")).as("sls"))
      .select(col(g), $"n_pairs",
        element_at($"sls", (($"n_pairs" + 1) / 2).cast("int")).as("sen_slope"))
    pts.join(sl, Seq(g))
      .withColumn("resid", $"yw".cast("double") - $"sen_slope" * $"t")
      .groupBy(col(g))
      .agg(count(lit(1)).as("n_periods"), max($"n_pairs").as("n_pairs"),
        max($"sen_slope").as("sen_slope"),
        element_at(sort_array(collect_list($"resid")),
          ((count(lit(1)) + 1) / 2).cast("int")).as("sen_intercept"))
      .orderBy(col(g))
  }

  def theilSen(s: SparkSession, dir: String): DataFrame =
    theilSenOn(series(s, dir))

  /** B29 CROSS-correlation function between two daily series at lags
    * 0..`maxLag` — the lead/lag detector B26's AUTOcorrelation can't
    * see (does `click` activity lead `view` activity by k days?):
    * ccf(k) = corr(x_t, y_{t+k}) over the days where both series
    * observe (inner join on the shifted grid — missing days drop the
    * pair, the pandas `.corr()` pairwise-complete rule). All five
    * sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) are exact
    * BIGINTs over event counts; the correlation is the q_corr closed
    * form — integer numerator n·Σxy − Σx·Σy and variance numerators,
    * then sqrt·sqrt·divide as the only float ops, identical order
    * both engines. One aggregate per lag over a lag-exploded join —
    * |lags| × grid-sized frames, never event-row-sized. */
  def crossCorr(s: SparkSession, dir: String, xType: String = "click",
      yType: String = "view", maxLag: Int = 3): DataFrame = {
    import s.implicits._
    val d = perTypeDaily(Tables.events(s, dir), "cnt")
    val x = d.filter($"event_type" === xType)
      .select($"day", $"cnt".as("x"))
      .select($"x", explode(sequence(lit(0), lit(maxLag))).as("lag"),
        $"day")
    val y = d.filter($"event_type" === yType)
      .select($"day".as("yday"), $"cnt".as("y"))
    x.join(y, date_add($"day", $"lag".cast("int")) === $"yday")
      .groupBy($"lag".cast("long").as("lag"))
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"),
        sum($"y" * $"y").as("syy"))
      .withColumn("num", $"n" * $"sxy" - $"sx" * $"sy")
      .withColumn("dxn", $"n" * $"sxx" - $"sx" * $"sx")
      .withColumn("dyn", $"n" * $"syy" - $"sy" * $"sy")
      .withColumn("ccf", when($"dxn" > 0 && $"dyn" > 0,
        $"num".cast("double") / (sqrt($"dxn".cast("double")) *
          sqrt($"dyn".cast("double")))))
      .select($"lag", $"n", $"num", $"dxn", $"dyn", $"ccf")
      .orderBy($"lag")
  }

  /** Daily event counts per event type — the weekly-seasonal test
    * corpus series for B20/B21 (events span 30 days; counts are
    * exact BIGINTs, so every derived double is bit-deterministic).
    * One shuffle on (event_type, day). */
  private def dailyCounts(s: SparkSession, dir: String): Series = {
    val df = perTypeDaily(Tables.events(s, dir), "cnt")
    Series(df, "event_type", "day", "cnt")
  }

  /** B20 classical seasonal decomposition — the statsmodels
    * `seasonal_decompose(model='additive')` twin (requirements.txt:3;
    * the seasonal fit a user of the README's shock simulator reaches
    * for next): per group over the period-ordered series,
    * trend = centered `period`-term moving average (null at the
    * edges, like statsmodels' NaN margin), seasonal = positional
    * ((t−1) mod period) mean of the detrended values re-centered to
    * sum to zero, resid = y − trend − seasonal.
    *
    * Exactness: y is BIGINT, so the centered-window sum and the
    * per-position detrended numerator (period·y − windowSum) are
    * exact integers; each seasonal mean is ONE double division of
    * identical integers, and the re-centering mean folds the
    * `period` position means in an explicit left-associated chain —
    * the same IEEE sequence both engines. Scale shape: one window
    * pass on the group key + one tiny (groups × period) aggregate
    * joined back — no driver state, holds at any series count. */
  def seasonalDecomposeOn(ss: Series, period: Int = 7): DataFrame = {
    val s0 = ss.df.sparkSession
    import s0.implicits._
    require(period % 2 == 1, "centered MA needs an odd period")
    val half = period / 2
    val wOrd = Window.partitionBy(col(ss.grp)).orderBy(col("p"))
    val w7 = wOrd.rowsBetween(-half, half)
    val base = ss.df
      .select(col(ss.grp), col(ss.period).as("p"),
        col(ss.value).cast("long").as("y"))
      .withColumn("t", row_number().over(wOrd))
      .withColumn("nwin", count(lit(1)).over(w7))
      .withColumn("wsum", sum($"y").over(w7))
      .withColumn("trend",
        when($"nwin" === period, $"wsum".cast("double") / period))
      .withColumn("season", (($"t" - 1) % period).cast("int"))
      .withColumn("dnum",
        when($"nwin" === period, lit(period) * $"y" - $"wsum"))
    // positional means over exact integer numerators, then re-center
    // with an explicit left-associated fold so both engines run the
    // identical IEEE addition order.
    val praw = base.filter($"dnum".isNotNull)
      .groupBy(col(ss.grp), $"season")
      .agg(sum($"dnum").as("snum"), count(lit(1)).as("scnt"))
      .withColumn("s_raw",
        $"snum".cast("double") / (lit(period.toDouble) * $"scnt"))
    val posCols = (0 until period).map(i =>
      max(when($"season" === i, $"s_raw")).as(s"s$i"))
    val wide = praw.groupBy(col(ss.grp))
      .agg(posCols.head, posCols.tail: _*)
      .withColumn("smean",
        (1 until period).foldLeft(col("s0"))((acc, i) => acc + col(s"s$i"))
          / period.toDouble)
    val seasonal = (0 until period).foldLeft(wide) {
      (df, i) => df.withColumn(s"adj$i", col(s"s$i") - $"smean")
    }.select(col(ss.grp) +: (0 until period).map(i => col(s"adj$i")): _*)
    base.join(seasonal, ss.grp)
      .withColumn("seasonal", (0 until period).foldLeft(lit(null)
          .cast("double")) {
        (acc, i) => when($"season" === i, col(s"adj$i")).otherwise(acc)
      })
      .withColumn("resid", $"y" - $"trend" - $"seasonal")
      .select(col(ss.grp), $"p", $"y", $"trend", $"seasonal", $"resid")
  }

  def seasonalDecompose(s: SparkSession, dir: String): DataFrame = {
    val ss = dailyCounts(s, dir)
    seasonalDecomposeOn(ss)
      .withColumn("day", date_format(col("p"), "yyyy-MM-dd"))
      .select(col(ss.grp), col("day"), col("y"), col("trend"),
        col("seasonal"), col("resid"))
      .orderBy(col(ss.grp), col("day"))
  }

  /** B49 SES FIT — the model-SELECTION step the ladder's fixed-α
    * smoothers (B16/B18) skip (statsmodels' `SimpleExpSmoothing.fit`
    * twin): grid-search α ∈ {0.1 … 0.9} minimizing the one-step-ahead
    * SSE of l ← l + α(y − l), per event type; emits the winning α,
    * its SSE, and the resulting next-day forecast (= l_n). The fold
    * is the COUPLED recurrence family (sse reads the pre-update l),
    * so the twin is a recursive CTE (the B18 list_reduce-aliasing
    * precedent) running the textually identical update expressions;
    * the Spark side is one functional `aggregate` per (type, α) over
    * the day-ordered list — 9 folds of a frame-bounded series, zero
    * corpus cost beyond the daily aggregate. Winner = (sse, α)
    * struct-min on the shared doubles — bit-deterministic. */
  def sesFit(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val alphas = (1 to 9).map(_ / 10.0)
    val pts = perTypeDaily(events)
    val lists = pts.groupBy($"event_type")
      .agg(sort_array(collect_list(struct($"day", $"y"))).as("ps"))
      .withColumn("ys", expr("transform(ps, p -> cast(p.y as double))"))
      .filter(size($"ys") >= 2)
    val folded = lists
      .withColumn("alpha", explode(typedlit(alphas)))
      .withColumn("st", expr(
        """aggregate(slice(ys, 2, size(ys) - 1),
          |  struct(element_at(ys, 1) as l, 0D as sse),
          |  (acc, yk) -> struct(
          |    acc.l + alpha * (yk - acc.l) as l,
          |    acc.sse + (yk - acc.l) * (yk - acc.l) as sse))"""
          .stripMargin))
    folded.groupBy($"event_type")
      .agg(min(struct($"st.sse".as("sse"), $"alpha",
        $"st.l".as("l"))).as("best"),
        max(size($"ys")).as("n_days"))
      .select($"event_type", $"n_days",
        $"best.alpha".as("best_alpha"),
        round($"best.sse", 4).as("sse"),
        round($"best.l", 4).as("forecast"))
      .orderBy($"event_type")
  }

  /** B48 seasonal/trend STRENGTH (Hyndman & Wang's STL features —
    * the one-number answers to "is this series seasonal enough to
    * model with B21, trending enough for B18?" that gate the whole
    * forecast ladder): from the B20 decomposition, F_T = max(0, 1 −
    * Var(R)/Var(y − S)) and F_S = max(0, 1 − Var(R)/Var(y − T)) over
    * the interior rows (full centered-MA windows). The deseasonalized
    * and detrended series are computed as y − S and y − T directly
    * (ONE subtraction each — not T+R, whose double rounding could
    * differ); all six variance sums fold in day order and the
    * n·Σx² − (Σx)² forms, clamp, and round-6 export are the identical
    * scalar tail both engines. Zero-variance denominators null. */
  def stlStrength(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ss = dailyCounts(s, dir)
    val dec = seasonalDecomposeOn(ss)
      .filter(col("trend").isNotNull && col("seasonal").isNotNull)
      .withColumn("r", $"y" - $"trend" - $"seasonal")
      .withColumn("tr", $"y" - $"seasonal")
      .withColumn("sr", $"y" - $"trend")
    val f = dec.groupBy(col(ss.grp).as("event_type"))
      .agg(count(lit(1)).as("n_obs"),
        sort_array(collect_list(struct($"p", $"r", $"tr", $"sr")))
          .as("ps"))
      .select($"event_type", $"n_obs",
        expr("aggregate(ps, 0D, (a, x) -> a + x.r)").as("sr1"),
        expr("aggregate(ps, 0D, (a, x) -> a + x.r * x.r)").as("sr2"),
        expr("aggregate(ps, 0D, (a, x) -> a + x.tr)").as("st1"),
        expr("aggregate(ps, 0D, (a, x) -> a + x.tr * x.tr)").as("st2"),
        expr("aggregate(ps, 0D, (a, x) -> a + x.sr)").as("ss1"),
        expr("aggregate(ps, 0D, (a, x) -> a + x.sr * x.sr)").as("ss2"))
      .withColumn("vr", $"n_obs" * $"sr2" - $"sr1" * $"sr1")
      .withColumn("vt", $"n_obs" * $"st2" - $"st1" * $"st1")
      .withColumn("vs", $"n_obs" * $"ss2" - $"ss1" * $"ss1")
    f.select($"event_type", $"n_obs",
        when($"vt" > 0, round(greatest(lit(0.0), lit(1.0) - $"vr" / $"vt"), 6))
          .as("f_trend"),
        when($"vs" > 0, round(greatest(lit(0.0), lit(1.0) - $"vr" / $"vs"), 6))
          .as("f_seasonal"))
      .orderBy($"event_type")
  }

  /** B30 Schuster periodogram over the daily event-count series —
    * the frequency-domain twin of B20's time-domain decomposition
    * (statsmodels/scipy `periodogram`): per event type, spectral
    * power I(k) = (a_k² + b_k²)/n³ at harmonics k = 1..min(10,
    * ⌊(n−1)/2⌋) of the series length, over MEAN-CENTERED values
    * carried as exact integers (z_t = n·y_t − S stays BIGINT, so
    * centering adds no float). The dominant k (rank 1) reads off the
    * cycle length in days — the data-driven answer to "what period
    * should seasonal_decompose use?".
    *
    * Determinism: each a_k/b_k folds the n cos/sin terms in SORTED t
    * ORDER (sort_array → aggregate HOF == list ORDER BY +
    * list_reduce), every term is the identical IEEE sequence
    * (exact-int cast, one cos/sin — correctly-rounded libm in both
    * engines, the F16 ln precedent), and ranking uses the ROUNDED
    * power with k as tie-break so both engines rank identical
    * doubles. Shape: one aggregate to a per-group point list
    * (series-length-bounded, the B18/B21 forecast-ladder state
    * shape), explode over ≤10 harmonics, column math — the corpus
    * is scanned once. */
  def periodogramOn(ss: Series, maxK: Int = 10): DataFrame = {
    val s0 = ss.df.sparkSession
    import s0.implicits._
    val base = ss.df
      .select(col(ss.grp), col(ss.period).as("p"),
        col(ss.value).cast("long").as("y"))
      .withColumn("t", row_number().over(
        Window.partitionBy(col(ss.grp)).orderBy($"p")).cast("long"))
    val pts = base.groupBy(col(ss.grp))
      .agg(sort_array(collect_list(struct($"t", $"y"))).as("pts"),
        count(lit(1)).as("n"), sum($"y").as("s"))
      .withColumn("kmax", least(lit(maxK.toLong), expr("(n - 1) div 2")))
      // guard before explode: Spark's sequence(1, 0) steps DOWN; a
      // sub-3-point series has no resolvable harmonic in either engine
      .filter($"kmax" >= 1)
      .withColumn("k", explode(expr("sequence(1L, kmax)")))
    val tau = lit(2.0) * lit(math.Pi)
    def fold(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      aggregate($"pts", lit(0.0), (acc, x) =>
        acc + (($"n" * x("y") - $"s").cast("double") *
          f(tau * $"k".cast("double") * x("t").cast("double") /
            $"n".cast("double"))))
    val powered = pts
      .withColumn("a", fold(cos))
      .withColumn("b", fold(sin))
      .withColumn("power", round(($"a" * $"a" + $"b" * $"b") /
        ($"n".cast("double") * $"n".cast("double") * $"n".cast("double")),
        4))
      .withColumn("period_days", round($"n".cast("double") /
        $"k".cast("double"), 2))
    powered
      .withColumn("rank", row_number().over(Window.partitionBy(col(ss.grp))
        .orderBy($"power".desc, $"k")).cast("long"))
      .select(col(ss.grp), $"k", $"n", $"period_days", $"power", $"rank")
      .orderBy(col(ss.grp), $"k")
  }

  def periodogram(s: SparkSession, dir: String): DataFrame =
    periodogramOn(dailyCounts(s, dir))

  /** B21 Holt-Winters additive triple exponential smoothing — the
    * seasonal statsmodels `ExponentialSmoothing` twin, completing the
    * forecast ladder B4 (linear) → B17 (AR1) → B18 (Holt) → seasonal:
    * per group, classic init from the first two seasons
    * (l = mean(season 1), b = (mean(season 2) − mean(season 1))/m,
    * s_i = y_i − mean(season 1)), then fold t = m+1…n through
    * `l_t = α(y_t − s_{t−m}) + (1−α)(l+b)`,
    * `b_t = β(l_t − l) + (1−β)b`,
    * `s_t = γ(y_t − l_t) + (1−γ)s_{t−m}`
    * with the seasonal state as a rolling m-queue inside the fold
    * accumulator; forecasts `fc_h = l_n + h·b_n + s_{n+h−m}`.
    *
    * Exactness: observations are BIGINTs, the two init sums are
    * exact integers, and the fold runs the IDENTICAL IEEE op sequence
    * in both engines (`aggregate` HOF with a struct(l, b, s-array)
    * accumulator here, a RECURSIVE CTE carrying a DOUBLE[] list in
    * the twin — the B18 precedent extended with a list column).
    * Scale shape: one keyed aggregate; per-group state is the ordered
    * observation list (30 days here) — the B16/B18 bounded frame.
    * Groups with < 2m observations have no seasonal init and are
    * excluded. */
  def holtWintersOn(ss: Series, alpha: Double = 0.5, beta: Double = 0.3,
      gamma: Double = 0.2, m: Int = 7, horizon: Int = 7): DataFrame = {
    val s0 = ss.df.sparkSession
    import s0.implicits._
    val a = alpha; val b = beta; val g = gamma
    val ordered = array_sort(collect_list(struct(col(ss.period).as("p"),
      col(ss.value).cast("long").as("yc"))))
    // lnew is textually inlined in the b/s updates (identical twin
    // text) — codegen CSEs it, the IEEE sequence is unchanged.
    val lnew = s"$a * (x - element_at(acc.s, 1)) + ${1 - a} * (acc.l + acc.b)"
    var out = ss.df.groupBy(col(ss.grp))
      .agg(count(lit(1)).as("n_obs"), ordered.as("obs"))
      .filter($"n_obs" >= 2 * m)
      .withColumn("v", transform($"obs", x => x.getField("yc").cast("double")))
      .withColumn("s1", expr(s"aggregate(slice(v, 1, $m), 0D, (acc, x) -> acc + x)"))
      .withColumn("s2", expr(s"aggregate(slice(v, ${m + 1}, $m), 0D, (acc, x) -> acc + x)"))
      .withColumn("st", expr(
        s"""aggregate(slice(v, ${m + 1}, size(v) - $m),
           |  named_struct(
           |    'l', s1 / $m.0D,
           |    'b', (s2 - s1) / ${m * m}.0D,
           |    's', transform(slice(v, 1, $m), x -> x - s1 / $m.0D)),
           |  (acc, x) -> named_struct(
           |    'l', $lnew,
           |    'b', $b * ($lnew - acc.l) + ${1 - b} * acc.b,
           |    's', concat(slice(acc.s, 2, ${m - 1}),
           |      array($g * (x - ($lnew)) + ${1 - g} * element_at(acc.s, 1)))))""".stripMargin))
      .withColumn("level", $"st.l").withColumn("trend", $"st.b")
    for (h <- 1 to horizon)
      out = out.withColumn(s"fc$h",
        $"level" + lit(h.toDouble) * $"trend" + element_at($"st.s", h))
    out.select((col(ss.grp) +: $"n_obs" +: $"level" +: $"trend" +:
        (1 to horizon).map(h => col(s"fc$h"))): _*)
      .orderBy(col(ss.grp))
  }

  def holtWinters(s: SparkSession, dir: String): DataFrame =
    holtWintersOn(dailyCounts(s, dir))

  /** B19 time-RANGE window aggregation — the pandas `rolling('7D')`
    * twin: per key, trailing-7-day count and value sum with a RANGE
    * frame over event time. Rows enter the frame by TIMESTAMP
    * distance, not row count — bursty/sparse series aggregate
    * correctly where B15's ROWS frame would count a fixed number of
    * events regardless of how stale they are. Tied timestamps are
    * frame peers (both engines include all peers — deterministic).
    * Integer-cent sums; one window pass keyed by user_id. */
  def rangeWindow(events: DataFrame, days: Int = 7): DataFrame = {
    import events.sparkSession.implicits._
    val span = days.toLong * 86400L * 1000000L
    val w = Window.partitionBy($"user_id").orderBy($"us")
      .rangeBetween(-span, 0)
    events
      .select($"user_id", $"event_id", unix_micros($"ts").as("us"),
        round($"value" * 100).cast("long").as("vc"))
      .withColumn("n_7d", count(lit(1)).over(w))
      .withColumn("sum_cents_7d", sum($"vc").over(w))
      .select($"user_id", $"event_id", $"us", $"n_7d", $"sum_cents_7d")
      .orderBy($"user_id", $"event_id")
  }

  /** B6 rank-per-group: latest order per customer — the reference's
    * per-group head() pattern (app top-10s), as one window pass. */
  def windowRank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".desc, $"o_orderkey".desc)
    Tables.orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"o_custkey", $"o_orderkey",
        unix_micros($"o_orderdate".cast("timestamp")).as("order_us"),
        round($"o_totalprice", 2).as("totalprice"))
      .orderBy($"o_custkey")
  }

  /** B7 cumulative sum over event time per key. */
  def runningSumOn(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select($"user_id", $"event_id",
        round(sum($"value").over(w), 2).as("running_value"))
      .orderBy($"user_id", $"event_id")
  }

  def runningSum(s: SparkSession, dir: String): DataFrame =
    runningSumOn(Tables.events(s, dir))

  /** B8 sliding moving average (4-row window). */
  def movingAvgOn(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(-3, Window.currentRow)
    events
      .select($"user_id", $"event_id",
        round(avg($"value").over(w), 4).as("moving_avg"))
      .orderBy($"user_id", $"event_id")
  }

  def movingAvg(s: SparkSession, dir: String): DataFrame =
    movingAvgOn(Tables.events(s, dir))

  /** B9 lag delta (period-over-period change per key). */
  def lagDeltaOn(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    events
      .select($"user_id", $"event_id",
        round($"value" - lag($"value", 1).over(w), 2).as("delta"))
      .orderBy($"user_id", $"event_id")
  }

  def lagDelta(s: SparkSession, dir: String): DataFrame =
    lagDeltaOn(Tables.events(s, dir))

  /** B10 year-over-year growth per group — the drawdown generalized to
    * every consecutive year pair. */
  def yoyGrowthOn(ss: Series): DataFrame = {
    val w = Window.partitionBy(col(ss.grp)).orderBy(col(ss.period))
    val v = col(ss.value)
    ss.df
      .withColumn("prev", lag(v, 1).over(w))
      .select(col(ss.grp), col(ss.period),
        round((v - col("prev")) / col("prev"), 6).as("yoy_growth"))
      .orderBy(col(ss.grp), col(ss.period))
  }

  def yoyGrowth(s: SparkSession, dir: String): DataFrame =
    yoyGrowthOn(series(s, dir))

  /** B11 worst-hit top-10 — streamlit_app.py:18
    * (`df.sort_values("Drawdown_2020").head(10)`). */
  def worstDrawdownOn(ss: Series, basePeriod: Long, shockPeriod: Long): DataFrame = {
    val s0 = ss.df.sparkSession
    import s0.implicits._
    drawdownOn(ss, basePeriod, shockPeriod)
      .filter($"drawdown".isNotNull)
      .orderBy($"drawdown".asc, col(ss.grp))
      .limit(10)
  }

  def worstDrawdown(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    drawdown(s, dir)
      .filter($"drawdown".isNotNull)
      .orderBy($"drawdown".asc, $"n_name")
      .limit(10)
  }

  /** B12 fastest-to-recover top-10 with null-dropping —
    * streamlit_app.py:22-26 (`df.dropna(subset=["Recovered_Years"])
    * .sort_values("Recovered_Years").head(10)`). */
  def fastestRecovery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    recovery(s, dir)
      .na.drop(Seq("recovered_years"))
      .orderBy($"recovered_years".asc, $"n_name")
      .limit(10)
  }

  /** B13 time-grid densification + forward fill — the pandas
    * `resample('D').ffill()` twin (the reference only drops NA; a
    * pipeline more often needs the opposite: a dense per-key grid
    * carrying the last observation forward, e.g. "account balance on
    * EVERY day"). Per key: every period between that key's first and
    * last observation is generated with `sequence` + `explode` (no
    * driver loop, no cross join — grid size is Σ per-key spans), gaps
    * filled by a last-ignoreNulls window; one shuffle on the key. */
  /** Per-user daily observations joined onto the dense per-user day
    * grid (shared by B13 ffill and B14 interpolation). */
  private def dailyGrid(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val daily = events
      .groupBy($"user_id", to_date($"ts").as("day"))
      .agg(round(sum($"value"), 2).as("day_value"))
    val grid = daily.groupBy($"user_id")
      .agg(min($"day").as("mn"), max($"day").as("mx"))
      .select($"user_id",
        explode(expr("sequence(mn, mx, interval 1 day)")).as("day"))
    grid.join(daily, Seq("user_id", "day"), "left")
  }

  def ffillDaily(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dailyGrid(events)
      .withColumn("filled_value", last($"day_value", ignoreNulls = true).over(w))
      // ISO string, not DATE: parquet DATE surfaces as python objects
      // in the driver compare while DuckDB yields datetime64
      .select($"user_id", date_format($"day", "yyyy-MM-dd").as("day"),
        $"filled_value", $"day_value".isNotNull.cast("long").as("is_observed"))
      .orderBy($"user_id", $"day")
  }

  /** B14 linear interpolation over the same grid — the pandas
    * `interpolate(method='linear')` twin: gaps take the straight line
    * between the surrounding observations; leading/trailing gaps fall
    * back to the nearest observation. Two windows per key (backward
    * last + forward first, both ignoreNulls), no self-join. Both
    * engines compute the identical IEEE expression over identical
    * (2-dp-rounded) inputs, so the 4-dp export compares exactly. */
  def interpolateDaily(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val back = Window.partitionBy($"user_id").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy($"user_id").orderBy($"day")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsDay = when($"day_value".isNotNull, $"day")
    dailyGrid(events)
      .withColumn("pv", last($"day_value", ignoreNulls = true).over(back))
      .withColumn("pd", last(obsDay, ignoreNulls = true).over(back))
      .withColumn("nv", first($"day_value", ignoreNulls = true).over(fwd))
      .withColumn("nd", first(obsDay, ignoreNulls = true).over(fwd))
      .withColumn("interp_value", round(
        when($"day_value".isNotNull, $"day_value")
          .when($"pv".isNull, $"nv")
          .when($"nv".isNull, $"pv")
          .otherwise($"pv" + ($"nv" - $"pv") *
            (datediff($"day", $"pd").cast("double") /
              datediff($"nd", $"pd").cast("double"))), 4))
      .select($"user_id", date_format($"day", "yyyy-MM-dd").as("day"),
        $"interp_value", $"day_value".isNotNull.cast("long").as("is_observed"))
      .orderBy($"user_id", $"day")
  }

  /** B15 rolling-window statistics — the pandas `rolling(7)` family
    * (count/min/max/mean/std) per key over event time. Variance uses
    * the integer-exact cent-quantized closed form (n·Σx² − (Σx)² over
    * exact BIGINTs, one IEEE division + sqrt — both correctly rounded,
    * so the doubles are bit-identical across engines; same trick as
    * q_corr). One window pass, partitioned on the key. */
  def rollingStats(events: DataFrame, window: Int = 7): DataFrame = {
    import events.sparkSession.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      .rowsBetween(-(window - 1), Window.currentRow)
    events
      .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"),
        round($"value" * 100).cast("long").as("vc"))
      .withColumn("n_win", count(lit(1)).over(w))
      .withColumn("min_c", min($"vc").over(w))
      .withColumn("max_c", max($"vc").over(w))
      .withColumn("sx", sum($"vc").over(w))
      .withColumn("sxx", sum($"vc" * $"vc").over(w))
      .withColumn("mean_val",
        $"sx".cast("double") / ($"n_win".cast("double") * 100.0))
      .withColumn("std_val", when($"n_win" > 1, sqrt(
        (($"n_win" * $"sxx" - $"sx" * $"sx").cast("double") /
          (($"n_win" * ($"n_win" - 1)).cast("double"))) / 10000.0)))
      .select($"user_id", $"event_id", $"ts_us", $"n_win",
        $"min_c", $"max_c", $"mean_val", $"std_val")
      .orderBy($"user_id", $"event_id")
  }

  /** B22 rolling z-score anomaly detection — the monitoring twin of
    * B15: flag events whose value deviates > `z`σ from the TRAILING
    * window's mean, where mean/σ come from the `window` observations
    * BEFORE the current row (a window including the current value
    * inflates σ and masks the very spike being tested). The flag
    * itself is an exact INTEGER predicate — (n·v − Σx)² > z²·n·(n·Σx²
    * − (Σx)²) over cent-quantized BIGINTs, the B15/q_corr closed-form
    * trick — so flagged rows are bit-deterministic in both engines
    * with no epsilon anywhere; the reported z-score is one identical
    * IEEE expression over those integers. Full-window rows only
    * (n = window): partial heads would compare against noise.
    * Scale shape: ONE window pass partitioned by user_id — the B15
    * frame bound. */
  def anomalies(events: DataFrame, window: Int = 7, z: Int = 3): DataFrame = {
    import events.sparkSession.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      .rowsBetween(-window, -1)
    events
      .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"),
        round($"value" * 100).cast("long").as("vc"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum($"vc").over(w))
      .withColumn("sxx", sum($"vc" * $"vc").over(w))
      .filter($"n" === window)
      // dev = n·v − Σx = n·(v − mean); varn = n·Σx² − (Σx)² = n²·σ²
      // (population σ of the window) — so z = dev/√varn and the flag
      // |z| > Z is exactly dev² > Z²·varn in BIGINTs
      .withColumn("dev", $"n" * $"vc" - $"sx")
      .withColumn("varn", $"n" * $"sxx" - $"sx" * $"sx")
      .filter($"dev" * $"dev" > lit(z.toLong * z) * $"varn")
      // a deviation from a CONSTANT window (varn = 0) is flagged but
      // its z is undefined → null (ANSI-safe; same CASE in the twin)
      .withColumn("z_score", when($"varn" > 0,
        $"dev".cast("double") / sqrt($"varn".cast("double"))))
      .select($"user_id", $"event_id", $"ts_us", $"vc",
        ($"sx".cast("double") / ($"n".cast("double") * 100.0)).as("win_mean"),
        $"z_score")
      .orderBy($"user_id", $"event_id")
  }

  /** B16 exponential moving average (pandas `ewm(alpha).mean()` twin),
    * TRUNCATED to the trailing `window` observations: weights beyond
    * 20 rows are (1−α)²⁰ ≈ 8·10⁻⁴ of the head — the standard
    * finite-impulse approximation that keeps per-row cost O(window)
    * instead of the exact form's O(history). Computed as a left fold
    * over the frame list (`aggregate` HOF; DuckDB folds the same list
    * with `list_reduce`), so both engines execute the identical IEEE
    * sequence and the 4-dp export compares exactly. */
  def ewma(events: DataFrame, alpha: Double = 0.3,
      window: Int = 20): DataFrame = {
    import events.sparkSession.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      .rowsBetween(-(window - 1), Window.currentRow)
    events
      // integer-rounded cents / 100: decimal round(v, 2) differs by an
      // ulp between engines near representability edges (Spark exact
      // BigDecimal vs DuckDB multiply-divide) and the fold carries the
      // ulp into the export; integer rounding has no such edge for
      // full-precision inputs, so the fold inputs are bit-identical
      .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"),
        (round($"value" * 100) / 100.0).as("v"))
      .withColumn("xs", collect_list($"v").over(w))
      // RAW fold output, deliberately un-rounded: both engines fold the
      // identical list with the identical IEEE ops, so the doubles are
      // bit-equal — while 2-dp inputs x {0.3,0.7} land exactly on
      // decimal half-boundaries where the engines' round() tie-break
      // rules differ (same precedent as the jaccard raw quotient)
      .withColumn("ewma", expr(
        s"""aggregate(xs, cast(null as double),
           |  (acc, x) -> CASE WHEN acc IS NULL THEN x
           |              ELSE acc * ${1 - alpha} + $alpha * x END)"""
          .stripMargin))
      .select($"user_id", $"event_id", $"ts_us", $"ewma")
      .orderBy($"user_id", $"event_id")
  }

  /** B23 adapter: replay-loop semantics over raw order rows — many
    * orders per (priority, year) exercises the first-by-ord duplicate
    * resolution exactly as the real CSV's duplicate industry labels
    * do; ord = o_orderkey. Drawdown is rounded here for the
    * cross-engine hash only (the operator itself is unrounded IEEE;
    * ReferenceReplicaSpec covers that fidelity on the real file). */
  private def resilienceReplay(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ss = Series(
      Tables.orders(s, dir).select($"o_orderpriority",
        year($"o_orderdate").cast("long").as("yr"),
        $"o_totalprice", $"o_orderkey"),
      "o_orderpriority", "yr", "o_totalprice")
    resilienceReplayOn(ss, "o_orderkey", 1995L, 1996L, 4L)
      .withColumn("drawdown", round(col("drawdown"), 6))
  }

  /** B25 CUSUM drift detection (Page 1954) per key — the
    * change-point complement of B22's point-anomaly z-score: a
    * sustained small shift never trips a 3σ test but accumulates in
    * S⁺_t = max(0, S⁺_{t−1} + (x_t − μ)); the classic alarm is
    * S⁺ crossing a threshold. Exactness and scale come from two
    * substitutions: (1) deviations are scaled by n (d_i = n·x_i − Σx,
    * exact BIGINT cents — μ never materializes as a double), and
    * (2) the max(0, …) RECURSION is replaced by its closed form
    * S⁺_t = P_t − min(0, min_{j≤t} P_j) over prefix sums P — a plain
    * window expression, so the whole statistic is ONE keyed window
    * pass instead of a sequential fold (the fold shape caps
    * parallelism at one task per key AND would need a struct
    * accumulator, the B18 DuckDB hazard). Down-drift is the mirror
    * max prefix. Output: per-key max drift statistics (n-scaled
    * cents), comparable across engines bit-exactly. */
  def cusumDrift(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val pts = events.select($"user_id", $"event_id", $"ts",
      round($"value" * 100).cast("long").as("cents"))
    val byKey = Window.partitionBy($"user_id")
    val ord = byKey.orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = pts
      .withColumn("n", count(lit(1)).over(byKey))
      .withColumn("sumc", sum($"cents").over(byKey))
      .withColumn("d", $"n" * $"cents" - $"sumc")
      .withColumn("p", sum($"d").over(ord))
      .withColumn("runmin", least(min($"p").over(ord), lit(0L)))
      .withColumn("runmax", greatest(max($"p").over(ord), lit(0L)))
    scored.groupBy($"user_id")
      .agg(max($"n").as("n_events"),
        max($"p" - $"runmin").as("drift_up"),
        max($"runmax" - $"p").as("drift_down"))
      .orderBy($"user_id")
  }

  /** B78 CHATTERJEE'S ξ (xi) rank correlation per event type
    * (Chatterjee 2021, JASA — the dependence coefficient that fixed
    * rank correlation's blind spot: Pearson/Spearman/Kendall all
    * score an oscillating or U-shaped dependence near ZERO, ξ
    * detects ANY functional dependence of y on TIME, approaching 1
    * when y is a function of x and 0 under independence): order the
    * daily series by day, rank y with the ≤-tie convention
    * (r_i = #{j : y_j ≤ y_i} — one RANGE-framed count window),
    * ξ = 1 − 3·Σ|r_{i+1} − r_i| / (n² − 1). Exactness: ranks and
    * the absolute-difference sum are exact BIGINT window/lag math;
    * the single division happens once at export (round 6). A
    * TRENDING series scores high ξ even where the B34 Mann-Kendall
    * monotonicity test and ACF both see structure only of their own
    * kind — ξ is the catch-all screen before the specific tests. */
  def xicor(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val pts = perTypeDaily(events)
    val byType = Window.partitionBy($"event_type")
    val tieRank = byType.orderBy($"y")
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val byDay = byType.orderBy($"day")
    val ranked = pts
      .withColumn("r", count(lit(1)).over(tieRank))
      .withColumn("rn", lead($"r", 1).over(byDay))
    ranked.groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(abs($"rn" - $"r")).as("s_abs"))
      .filter($"n_days" >= 2)
      .select($"event_type", $"n_days", $"s_abs",
        round(($"n_days" * $"n_days" - 1 - lit(3L) * $"s_abs")
          .cast("double") /
          ($"n_days" * $"n_days" - 1).cast("double"), 6).as("xi"))
      .orderBy($"event_type")
  }

  /** B77 BOOTSTRAP CONFIDENCE INTERVAL for the per-nation mean
    * yearly revenue (Efron 1979 — the distribution-free CI every
    * analyst reaches for when n = 7 years makes normal theory a
    * joke): B = 200 DETERMINISTIC resamples — resample b draws year
    * index (31·b + 17·j) mod n for j < n, the fixed-design
    * convention that makes the bootstrap replayable bit-for-bit in
    * both engines (a seeded RNG would have to be reimplemented; a
    * linear index pattern IS the seed) — and the percentile CI is
    * the 5th/196th order statistic of the 200 resample sums.
    * Exactness: revenue folds as exact CENTS (per-order round, then
    * BIGINT sums — never a float sum), order statistics of exact
    * integers, floor-div means. Scale shape: the resample frame is
    * |groups|·B·n rows of longs (the aggregate frame, not the
    * corpus), built by one cross join + one equi-join — the corpus
    * is touched once for the yearly aggregate. */
  def bootstrapCi(s: SparkSession, dir: String,
      bReps: Int = 200): DataFrame = {
    import s.implicits._
    val y = Tables.orders(s, dir)
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, dir)),
        $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name", year($"o_orderdate").cast("long").as("yr"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("cents"))
    val idx = y
      .withColumn("yi", (row_number().over(
        Window.partitionBy($"n_name").orderBy($"yr")) - 1).cast("long"))
      .withColumn("n",
        count(lit(1)).over(Window.partitionBy($"n_name")))
      .select($"n_name", $"yi", $"n", $"cents")
      .localCheckpoint()
    val b = s.range(bReps).toDF("b")
    val picks = idx.select($"n_name", $"n", $"yi".as("j")).crossJoin(b)
      .withColumn("pick", ($"b" * 31 + $"j" * 17) % $"n")
    val sums = picks
      .join(idx.select($"n_name", $"yi".as("pick"), $"cents"),
        Seq("n_name", "pick"))
      .groupBy($"n_name", $"b").agg(sum($"cents").as("s"))
    val stats = sums.groupBy($"n_name")
      .agg(sort_array(collect_list($"s")).as("ss"))
    idx.groupBy($"n_name")
      .agg(max($"n").as("n_years"), sum($"cents").as("tot"))
      .join(stats, "n_name")
      .select($"n_name", $"n_years",
        expr("tot div n_years").as("mean_cents"),
        expr("ss[4] div n_years").as("boot_lo_cents"),
        expr("ss[195] div n_years").as("boot_hi_cents"))
      .orderBy($"n_name")
  }

  /** B76 PAGE-HINKLEY drift detection per key (Page 1954; Hinkley
    * 1971 — the sequential changepoint monitor streaming systems
    * deploy for concept drift, e.g. a feature distribution moving
    * under a model): cumulative deviation from the series mean with
    * a TOLERANCE δ, m_t = Σ_{i≤t}(x_i − x̄ − δ), alarmed when
    * m_t − min_{s≤t} m_s exceeds λ — unlike the B25 CUSUM report
    * (max drift), PH localizes WHEN the drift started: the first
    * index crossing λ. Exactness: x in exact cents and every term
    * cleared of the 1/N mean denominator — d_t = N·x_t − S − δ·N
    * (all BIGINT), the running min seeded at 0 (m_0 = 0), and the
    * alarm threshold compared as ph_t > λ·N — no float anywhere.
    * δ = 5 cents, λ = 1000 cents. One keyed window pass; both
    * windows PARTITIONED by key, never global. */
  def pageHinkley(events: DataFrame, deltaCents: Long = 5L,
      lambdaCents: Long = 1000L): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val byKey = Window.partitionBy($"user_id")
    val ord = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pts = events.select($"user_id", $"event_id", $"ts",
      round($"value" * 100).cast("long").as("cents"))
    val scored = pts
      .withColumn("n", count(lit(1)).over(byKey))
      .withColumn("s", sum($"cents").over(byKey))
      .withColumn("d", $"n" * $"cents" - $"s" - lit(deltaCents) * $"n")
      .withColumn("m", sum($"d").over(run))
      .withColumn("runmin", least(min($"m").over(run), lit(0L)))
      .withColumn("ph", $"m" - $"runmin")
      .withColumn("idx", row_number().over(ord))
    scored.groupBy($"user_id")
      .agg(max($"n").as("n_events"), max($"ph").as("ph_max"),
        min(when($"ph" > lit(lambdaCents) * $"n", $"idx"))
          .cast("long").as("alarm_idx"))
      .select($"user_id", $"n_events", $"ph_max",
        when($"alarm_idx".isNotNull, 1L).otherwise(0L).as("alarmed"),
        $"alarm_idx")
      .orderBy($"user_id")
  }

  /** B26 rolling lag-1 AUTOCORRELATION per key — the trending/mean-
    * reversion monitor (the windowed sibling of B17's global AR(1)
    * fit): over each trailing `window` events, Pearson correlation of
    * (x_t, x_{t−1}). Positive = momentum, negative = oscillation,
    * ≈0 = noise — regime shifts show up as the sign flipping.
    * Numerics: x in exact cents; every sum (Σx, Σy, Σxy, Σx², Σy²)
    * is a BIGINT window aggregate over the pair rows (rows whose lag
    * is null contribute nothing — count skips them, the products null
    * out), the correlation numerator/denominators are exact integers
    * (the B15/q_corr closed form), and the ONLY floating ops are the
    * final sqrt + divide — identical in the twin, round(6).
    * Degenerate windows (n < 2 pairs or zero variance) emit null.
    * One keyed window pass, no self-join. */
  def rollingAutocorr(events: DataFrame, window: Int = 10): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val ord = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wf = ord.rowsBetween(-(window - 1), 0)
    val pts = events
      .select($"user_id", $"event_id", $"ts",
        round($"value" * 100).cast("long").as("x"))
      .withColumn("y", lag($"x", 1).over(ord))
      .withColumn("xy", $"x" * $"y")          // null when y is null
      .withColumn("xp", when($"y".isNotNull, $"x"))
      .withColumn("n", count($"y").over(wf))
      .withColumn("sx", sum($"xp").over(wf))
      .withColumn("sy", sum($"y").over(wf))
      .withColumn("sxy", sum($"xy").over(wf))
      .withColumn("sxx", sum($"xp" * $"xp").over(wf))
      .withColumn("syy", sum($"y" * $"y").over(wf))
    pts
      .withColumn("num", $"n" * $"sxy" - $"sx" * $"sy")
      .withColumn("d1", $"n" * $"sxx" - $"sx" * $"sx")
      .withColumn("d2", $"n" * $"syy" - $"sy" * $"sy")
      .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"),
        when($"n" >= 2 && $"d1" > 0 && $"d2" > 0,
          round($"num" /
            sqrt($"d1".cast("double") * $"d2".cast("double")), 6))
          .as("autocorr"))
      .orderBy($"user_id", $"event_id")
  }

  /** B31 Bollinger bands with integer-exact breach flags (the
    * mean±2σ envelope a telemetry monitor draws): 20-row trailing
    * window per user, POPULATION σ (the Bollinger convention). The
    * breach test never touches a float — (n·v − Σx)² > 4·(n·Σx² −
    * (Σx)²) over cent BIGINTs is the exact square of |v−mean| > 2σ_pop
    * (the B22/q_corr closed-form trick), with the side from the sign
    * of n·v − Σx — so flagged rows are bit-deterministic in both
    * engines; the exported band edges are one identical IEEE sequence
    * over the same integers. Full-window rows only. ONE window pass
    * partitioned by user. */
  def bollinger(events: DataFrame, window: Int = 20): DataFrame = {
    import events.sparkSession.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      .rowsBetween(-(window - 1), Window.currentRow)
    events
      .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"),
        round($"value" * 100).cast("long").as("vc"))
      .withColumn("n_win", count(lit(1)).over(w))
      .withColumn("sx", sum($"vc").over(w))
      .withColumn("sxx", sum($"vc" * $"vc").over(w))
      .filter($"n_win" === window)
      .withColumn("dev_n", $"n_win" * $"vc" - $"sx") // n·(v − mean)
      .withColumn("var_nn", $"n_win" * $"sxx" - $"sx" * $"sx") // n²σ²
      .withColumn("breach",
        when($"dev_n" * $"dev_n" > lit(4L) * $"var_nn",
          when($"dev_n" > 0, 1L).otherwise(-1L)).otherwise(0L))
      .withColumn("mean_val",
        $"sx".cast("double") / ($"n_win".cast("double") * 100.0))
      .withColumn("sigma",
        sqrt($"var_nn".cast("double")) /
          ($"n_win".cast("double") * 100.0))
      .select($"user_id", $"event_id", $"ts_us",
        round($"mean_val", 4).as("mid"),
        round($"mean_val" - lit(2.0) * $"sigma", 4).as("lower"),
        round($"mean_val" + lit(2.0) * $"sigma", 4).as("upper"),
        $"breach")
      .orderBy($"user_id", $"event_id")
  }

  /** B32 RSI, Cutler's SMA variant (the 100·SG/(SG+SL) momentum
    * oscillator; Cutler's simple-average form rather than Wilder's
    * recursive smoothing PRECISELY so the whole statistic stays in
    * integers): per-user deltas via one lag, 14-row trailing gain/
    * loss sums in BIGINT cents, RSI exported as integer ppm —
    * rsi_ppm = SG·10⁶ div (SG+SL) — so there is NO float anywhere
    * and no engine rounding rule in play. Null until the window is
    * full or when the window is flat (SG+SL = 0, the standard
    * undefined case). Two window passes (lag + rolling sums) over
    * the same per-user order. */
  def rsi(events: DataFrame, window: Int = 14): DataFrame = {
    import events.sparkSession.implicits._
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    val wSum = wOrd.rowsBetween(-(window - 1), Window.currentRow)
    events
      .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"),
        round($"value" * 100).cast("long").as("vc"))
      .withColumn("delta", $"vc" - lag($"vc", 1).over(wOrd))
      .withColumn("gain", when($"delta" > 0, $"delta").otherwise(0L))
      .withColumn("loss", when($"delta" < 0, -$"delta").otherwise(0L))
      .withColumn("n_d", count($"delta").over(wSum))
      .withColumn("sg", sum($"gain").over(wSum))
      .withColumn("sl", sum($"loss").over(wSum))
      .select($"user_id", $"event_id", $"ts_us",
        when($"n_d" === window && ($"sg" + $"sl") > 0,
          expr("sg * 1000000 div (sg + sl)")).as("rsi_ppm"))
      .orderBy($"user_id", $"event_id")
  }

  /** B33 Kaplan-Meier survival estimator over user lifetimes (the
    * churn/retention curve — product-limit form, the standard
    * right-censored estimator): lifetime = whole HOURS between a
    * user's first and last event (exact µs div); a user whose last
    * event sits more than censorHours before the dataset's end CHURNED
    * (event observed), otherwise they are right-censored at their
    * observed span. At each distinct event time t: n_t = users with
    * lifetime ≥ t (suffix-sum over the lifetime HISTOGRAM — never
    * the user table), d_t = churns at exactly t, and
    * S(t) = Π_{u ≤ t} (1 − d_u/n_u) folded in TIME ORDER
    * (sort_array → aggregate, the A36 precedent) so the float
    * product sequence is pinned; every input to every multiply is
    * an exact-integer ratio. Shape: one user aggregate, one
    * histogram aggregate + one window over it, one ordered fold. */
  def kaplanMeier(events: DataFrame, censorHours: Int = 6): DataFrame = {
    import events.sparkSession.implicits._
    // running S(t): recompute the prefix product per row via the
    // same ordered fold restricted to u ≤ t — the event-time frame
    // is tiny (distinct lifetimes), so the quadratic fold is frame-
    // bounded, not corpus-bounded
    riskEvents(events, censorHours)
      .withColumn("s_km", round(
        aggregate(expr("filter(evs, e -> e.td <= t_hours)"),
          lit(1.0), (acc, x) => acc *
            (lit(1.0) - x("de").cast("double") / x("nr").cast("double"))),
        6))
      .select($"t_hours", $"n_risk", $"d_events", $"s_km")
      .orderBy($"t_hours")
  }

  /** B33's lifetime construction, shared by B33, B54 and B58: per
    * user, `who` (the user id or a column derived from it), the
    * lifetime in whole hours `t_hours` and `churned` (last event more
    * than `censorHours` before the dataset's end). The unpartitioned
    * window spans this per-user aggregate, one row per user. */
  private def lifetimes(events: DataFrame, censorHours: Int,
      who: Column): DataFrame = {
    import events.sparkSession.implicits._
    val wAll = Window.partitionBy()
    events
      .groupBy($"user_id")
      .agg(min(unix_micros($"ts")).as("first_us"),
        max(unix_micros($"ts")).as("last_us"))
      .withColumn("max_us", max($"last_us").over(wAll))
      .select(who,
        expr("(last_us - first_us) div 3600000000").as("t_hours"),
        (($"max_us" - $"last_us") >
          lit(censorHours.toLong) * 3600000000L).as("churned"))
  }

  /** The Kaplan-Meier / Nelson-Aalen risk sets: per distinct event
    * time `t_hours`, the at-risk count `n_risk` and the churns
    * `d_events`, each row next to `evs`, every event time's
    * (td, nr, de) in time order. The unpartitioned suffix window
    * runs over the lifetime histogram, one row per distinct lifetime
    * in hours (bounded by the observation window). */
  private def riskEvents(events: DataFrame, censorHours: Int): DataFrame = {
    import events.sparkSession.implicits._
    val users = lifetimes(events, censorHours, $"user_id")
    val hist = users.groupBy($"t_hours")
      .agg(count(lit(1)).as("n_at"),
        sum(when($"churned", 1L).otherwise(0L)).as("d_events"))
    val wSuffix = Window.orderBy($"t_hours")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val risk = hist
      .withColumn("n_risk", sum($"n_at").over(wSuffix))
      .filter($"d_events" > 0)
    val all = risk.select($"t_hours", $"n_risk", $"d_events")
    all.crossJoin(
        all.select(struct($"t_hours".as("td"), $"n_risk".as("nr"),
          $"d_events".as("de")).as("ev"))
          .groupBy().agg(sort_array(collect_list($"ev")).as("evs")))
  }

  /** Per event type and calendar day, the count of events (as `y`, or
    * as `name`): the per-type daily series that the trend, ACF and
    * forecast operators run over (the aggregate `dailyCountsSql`
    * replays). */
  private def perTypeDaily(events: DataFrame, name: String = "y"): DataFrame = {
    import events.sparkSession.implicits._
    events
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as(name))
  }

  /** B34 Mann-Kendall trend test per event type (the nonparametric
    * "is this series monotonically trending?" gate — pairs with
    * B28's Theil-Sen exactly as in practice: MK decides IF a trend
    * exists, Sen estimates its slope): S = Σ_{i<j} sign(yⱼ − yᵢ)
    * over the daily-count series — EXACT integer, as is the tie
    * correction Σt(t−1)(2t+5) from the value histogram;
    * Var(S) = (n(n−1)(2n+5) − T)/18 and the continuity-corrected
    * z = (S∓1)/√Var are one pinned scalar sequence per group.
    * Series are per-type daily aggregates (≈ observation-window
    * days), so the O(n²) pair join is frame-bounded, never
    * corpus-bounded — the B28 shape. */
  def mannKendall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mkStats(s, dir)
      .select($"event_type", $"n".as("n_days"), $"s_stat",
        when($"s_stat" > 0,
          round(($"s_stat" - 1).cast("double") / sqrt($"var_s"), 6))
          .when($"s_stat" < 0,
            round(($"s_stat" + 1).cast("double") / sqrt($"var_s"), 6))
          .otherwise(lit(0.0)).as("z_score"))
      .orderBy($"event_type")
  }

  /** The Mann-Kendall core of B34, B55 and B88: per event type, over
    * the daily-count series, `s_stat` = S (exact integer), `n` = the
    * series length, `tsum` = the tie correction and
    * `var_s` = Var(S) = (n(n−1)(2n+5) − T)/18. */
  private def mkStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pts = perTypeDaily(Tables.events(s, dir), "cnt")
    val pairs = pts.as("a").join(pts.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.day") < col("b.day"))
      .select(col("a.event_type").as("event_type"),
        signum(col("b.cnt") - col("a.cnt")).cast("long").as("sgn"))
      .groupBy($"event_type").agg(sum($"sgn").as("s_stat"))
    val ties = pts.groupBy($"event_type", $"cnt")
      .agg(count(lit(1)).as("t"))
      .groupBy($"event_type")
      .agg(sum($"t").as("n"),
        sum($"t" * ($"t" - 1) * (lit(2) * $"t" + 5)).as("tsum"))
    val varNum = ($"n" * ($"n" - 1) * (lit(2) * $"n" + 5) - $"tsum")
    pairs.join(ties, "event_type")
      .withColumn("var_s", varNum.cast("double") / lit(18.0))
  }

  /** [[mkStats]] plus the unrounded continuity-corrected z (`z_unr`)
    * and its two-sided p (`p_two`) by the Abramowitz-Stegun 26.2.17
    * normal tail: the p battery of B55 and B88. */
  private def mkPValues(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val az = abs($"z_unr")
    val t = lit(1.0) / (lit(1.0) + lit(0.2316419) * az)
    val phi = exp(az * az * -0.5) * lit(0.3989422804014327)
    val tail = phi * (lit(0.319381530) * t +
      lit(-0.356563782) * t * t +
      lit(1.781477937) * t * t * t +
      lit(-1.821255978) * t * t * t * t +
      lit(1.330274429) * t * t * t * t * t)
    mkStats(s, dir)
      .withColumn("z_unr",
        when($"s_stat" > 0,
          ($"s_stat" - 1).cast("double") / sqrt($"var_s"))
          .when($"s_stat" < 0,
            ($"s_stat" + 1).cast("double") / sqrt($"var_s"))
          .otherwise(lit(0.0)))
      .withColumn("p_two", least(lit(1.0), lit(2.0) * tail))
  }

  /** B86 HODGES-LEHMANN location estimator per event type (the
    * robust pseudo-median behind the B80 Wilcoxon machinery —
    * scipy/R `wilcox.test` conf.int twin: the median of all Walsh
    * averages (yᵢ+yⱼ)/2, i ≤ j, over the daily-count series; 29%
    * breakdown vs the mean's 0%, yet ~95% Gaussian efficiency, so
    * it is THE location summary for spiky ops series). Exact
    * integers end-to-end: Walsh SUMS yᵢ+yⱼ stay BIGINT, the median
    * is positional over the sorted pair frame (ties collapse to
    * identical values, so engine-specific tie order cannot change
    * the selected VALUE), and the only division is the final /2 (or
    * /4 averaging the two middles of an even frame). Shape: one
    * day-grid aggregate, one i ≤ j self-join of the ~365-row grid
    * (≤ n(n+1)/2 ≈ 67k pairs per type — FRAME-bounded, never
    * corpus-sized), one ordered rank window. */
  def hodgesLehmann(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pts = perTypeDaily(Tables.events(s, dir))
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val idx = pts
      .withColumn("i", row_number().over(w).cast("long"))
      .select($"event_type", $"i", $"y")
    val pairs = idx.as("a").join(idx.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.i") <= col("b.i"))
      .select(col("a.event_type").as("event_type"),
        (col("a.y") + col("b.y")).as("ws"))
    val wr = Window.partitionBy($"event_type").orderBy($"ws")
    val wp = Window.partitionBy($"event_type")
    pairs
      .withColumn("rn", row_number().over(wr).cast("long"))
      .withColumn("m", count(lit(1)).over(wp))
      .filter($"rn" === ($"m" + 1) / 2 || $"rn" === ($"m" + 2) / 2)
      .groupBy($"event_type")
      .agg(max($"m").as("n_pairs"),
        round(sum($"ws").cast("double") /
          (count(lit(1)) * 2).cast("double"), 4).as("hl"))
      .orderBy($"event_type")
  }

  /** B87 PINBALL (quantile) LOSS of a seasonal-naive forecast per
    * event type — the eval half the forecast ladder was missing
    * (B17/B18/B21 produce forecasts; M4/M5-style practice scores
    * them with pinball at several τ, the proper scoring rule for
    * quantile forecasts): baseline ŷ_t = y_{t−7} (the seasonal
    * naive every ladder rung must beat), residual d = y − ŷ, and
    * L_τ = Σ τ·d⁺ + (1−τ)·d⁻ at τ ∈ {0.1, 0.5, 0.9}. INTEGER-exact:
    * with τ in tenths, loss×10 = τ₁₀·d for d ≥ 0 and (τ₁₀−10)·d
    * otherwise — a BIGINT sum; the only divisions are the two export
    * scalars. One day-grid lag window + one aggregate per τ (the
    * τ frame is a 3-element explode, not a re-scan). */
  def pinball(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pts = perTypeDaily(Tables.events(s, dir))
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val scored = pts
      .withColumn("f", lag($"y", 7).over(w))
      .filter($"f".isNotNull)
      .withColumn("d", $"y" - $"f")
      .withColumn("tau10", explode(typedlit(Seq(1L, 5L, 9L))))
      .withColumn("loss10",
        when($"d" >= 0L, $"tau10" * $"d")
          .otherwise(($"tau10" - 10L) * $"d"))
    scored.groupBy($"event_type", $"tau10")
      .agg(count(lit(1)).as("n_scored"),
        round(sum($"loss10").cast("double") / lit(10.0), 4)
          .as("total_loss"),
        round(sum($"loss10").cast("double") /
          (lit(10.0) * count(lit(1)).cast("double")), 6).as("mean_loss"))
      .select($"event_type",
        ($"tau10".cast("double") / lit(10.0)).as("tau"),
        $"n_scored", $"total_loss", $"mean_loss")
      .orderBy($"event_type", $"tau")
  }

  /** B90 MASE — mean absolute SCALED error of the seasonal-naive
    * forecast (Hyndman-Koehler 2006, the scale-free forecast metric
    * that made cross-series comparison possible and the M-competition
    * standard; completes the B87/B89 eval trio: pinball = quantile
    * accuracy, tracking = bias alarm, MASE = "does lag-7 even beat
    * lag-1?"): over days where BOTH forecasts exist, MASE =
    * Σ|y−y_{t−7}| / Σ|y−y_{t−1}| — two exact BIGINT sums, ONE
    * division; < 1 means the seasonal ladder has something to model
    * beyond yesterday's value. */
  def mase(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pts = perTypeDaily(Tables.events(s, dir))
    val w = Window.partitionBy($"event_type").orderBy($"day")
    pts
      .withColumn("f7", lag($"y", 7).over(w))
      .withColumn("f1", lag($"y", 1).over(w))
      .filter($"f7".isNotNull && $"f1".isNotNull)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_scored"),
        sum(abs($"y" - $"f7")).as("abs_err_7"),
        sum(abs($"y" - $"f1")).as("abs_err_1"))
      .select($"event_type", $"n_scored", $"abs_err_7", $"abs_err_1",
        when($"abs_err_1" > 0,
          round($"abs_err_7".cast("double") / $"abs_err_1".cast("double"),
            6)).as("mase"))
      .orderBy($"event_type")
  }

  /** B89 TRACKING SIGNAL of the seasonal-naive forecast per event
    * type (Brown's forecast monitor — operations' standard "has the
    * forecast gone BIASED" alarm, the control-chart companion to
    * B87's accuracy score: TS_n = Σe / MAD_n, flag when |TS| > 4):
    * over the lag-7 baseline residuals in day order, E_n = Σd and
    * A_n = Σ|d| are exact BIGINT cumsums, TS_n = n·E_n/A_n is one
    * division per day, and the readout is the final TS, the max
    * |TS|, and the FIRST flag day. Frame-bounded day grid. */
  def trackingSignal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pts = perTypeDaily(Tables.events(s, dir))
    val wOrd = Window.partitionBy($"event_type").orderBy($"day")
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = pts
      .withColumn("f", lag($"y", 7).over(wOrd))
      .filter($"f".isNotNull)
      .withColumn("d", $"y" - $"f")
    val cum = scored
      .withColumn("i", row_number().over(wOrd).cast("long"))
      .withColumn("e", sum($"d").over(wCum))
      .withColumn("a", sum(abs($"d")).over(wCum))
      .withColumn("ts", when($"a" > 0,
        ($"i" * $"e").cast("double") / $"a".cast("double")))
      .withColumn("flag",
        when(abs($"ts") > lit(4.0), $"i"))
    cum.groupBy($"event_type")
      .agg(max($"i").as("n_scored"),
        max(struct($"i", $"e")).getField("e").as("cum_err"),
        max(struct($"i", $"a")).getField("a").as("cum_abs_err"),
        round(max(struct($"i", $"ts")).getField("ts"), 4)
          .as("ts_final"),
        round(max(abs($"ts")), 4).as("ts_max_abs"),
        min($"flag").as("first_flag_day"))
      .orderBy($"event_type")
  }

  /** The B35 ACF frame, shared by B35 and B45: each per-type daily
    * count `y` with its series' length `n` and sum `s`, and its leads
    * `y1`..`y<maxLag>` in day order. */
  private def acfLeads(events: DataFrame, maxLag: Int): DataFrame = {
    import events.sparkSession.implicits._
    val pts = perTypeDaily(events)
    val st = pts.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"y").as("s"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
    var led = pts.join(st, "event_type")
    for (k <- 1 to maxLag) led = led.withColumn(s"y$k", lead($"y", k).over(w))
    led
  }

  /** The exact B35 ACF sums over [[acfLeads]], with d = n·y − S:
    * `den` = Σ d² and `num<k>` = Σ d·(n·y<k> − S) for k ≤ maxLag. */
  private def acfSums(events: DataFrame, maxLag: Int): Seq[Column] = {
    import events.sparkSession.implicits._
    val d = $"n" * $"y" - $"s"
    sum(d * d).as("den") +:
      (1 to maxLag).map(k =>
        sum(d * ($"n" * col(s"y$k") - $"s")).as(s"num$k"))
  }

  /** B35 autocorrelation function + Ljung-Box portmanteau statistic
    * per event type — the "is this series white noise?" gate that
    * decides whether the B17/B18 forecast ladder has anything to
    * model. ACF at lag k over the daily-count series, mean-centered
    * EXACTLY by clearing denominators: with n = days and S = Σy,
    * n²·cov_k = Σ (n·yₜ − S)(n·yₜ₊ₖ − S) and n²·var = Σ (n·yₜ − S)²
    * are INTEGER sums (y are counts), so r_k = cov_k/var is one IEEE
    * division per lag — no float accumulation anywhere, parity is
    * exact. Q_LB = n(n+2) Σ r_k²/(n−k) folds the 7 lag terms in fixed
    * left-to-right order (the forecast-ladder determinism contract).
    * Series are per-type daily aggregates, so the window/agg work is
    * frame-bounded; the integer core assumes the counts regime
    * (n·y < ~3·10⁹ — switch the sums to decimal(38,0) past that). */
  def acfLjungBox(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val maxLag = 7
    val aggCols = acfSums(events, maxLag) :+ max($"n").as("nd")
    val agg = acfLeads(events, maxLag).groupBy($"event_type")
      .agg(aggCols.head, aggCols.tail: _*)
    val acfCols = (1 to maxLag).map(k =>
      round(col(s"num$k").cast("double") / $"den", 6).as(s"acf_$k"))
    val qTerms = (1 to maxLag).map { k =>
      val r = col(s"num$k").cast("double") / $"den"
      r * r / ($"nd" - k).cast("double")
    }.reduceLeft(_ + _)
    val outCols = Seq($"event_type", $"nd".as("n_days")) ++ acfCols :+
      round(($"nd" * ($"nd" + 2)).cast("double") * qTerms, 4).as("q_lb")
    agg.select(outCols: _*).orderBy($"event_type")
  }

  /** B43 rescaled-range HURST exponent per event type (Hurst 1951 /
    * Mandelbrot R/S analysis — the long-memory diagnostic of the
    * ladder: H ≈ 0.5 random walk, H → 1 persistent trend, H → 0
    * anti-persistent mean reversion; which forecaster of
    * B17/B18/B21 is even appropriate depends on it): for block sizes
    * m ∈ {5, 10, 15}, partition the day-ordered daily-count series
    * into full blocks, compute each block's rescaled range R/S, and
    * fit ln(mean R/S) on ln(m) by OLS — the slope is H.
    *
    * Determinism: deviations stay integer by the B25 n-scaling trick
    * (P_j = m·prefix_j − r_j·S_b is exact BIGINT, and R_scaled =
    * max P − min P includes the Z_m = 0 endpoint automatically);
    * varn = m·Σy² − S² is exact, so each block's R/S =
    * R_scaled / √varn is ONE division of one sqrt — bit-identical
    * both engines. Constant blocks (varn = 0) are excluded (their
    * R/S is 0/0 by definition). Block means and the OLS sums fold in
    * PINNED block/size order (the F26 precedent); ln is libm, export
    * rounds absorb the last ulp. All windows run over the
    * frame-bounded daily aggregate, never the event corpus. */
  def hurst(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val sizes = Seq(5, 10, 15)
    val pts = perTypeDaily(events)
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val idx = pts.withColumn("i", row_number().over(w).cast("long"))
    val ex = idx.withColumn("m",
        explode(typedlit(sizes.map(_.toLong))))
      .withColumn("b", expr("(i - 1) div m"))
    val wb = Window.partitionBy($"event_type", $"m", $"b")
    val wbo = wb.orderBy($"i")
    val wnd = ex
      .withColumn("cnt", count(lit(1)).over(wb))
      .withColumn("s", sum($"y").over(wb))
      .withColumn("sq", sum($"y" * $"y").over(wb))
      .withColumn("r", row_number().over(wbo).cast("long"))
      .withColumn("p", sum($"y").over(
        wbo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("pp", $"m" * $"p" - $"r" * $"s")
    val blocks = wnd.groupBy($"event_type", $"m", $"b")
      .agg((max($"pp") - min($"pp")).as("rsc"),
        max($"m" * $"sq" - $"s" * $"s").as("varn"),
        max($"cnt").as("cnt"))
      .filter($"cnt" === $"m" && $"varn" > 0)
      .withColumn("rs",
        $"rsc".cast("double") / sqrt($"varn".cast("double")))
    val per = blocks.groupBy($"event_type", $"m")
      .agg(count(lit(1)).as("n_b"),
        sort_array(collect_list(struct($"b", $"rs"))).as("ps"))
      .withColumn("mean_rs",
        expr("aggregate(ps, 0D, (a, p) -> a + p.rs)") / $"n_b")
    val nd = pts.groupBy($"event_type").agg(count(lit(1)).as("n_days"))
    val fit = per.groupBy($"event_type")
      .agg(count(lit(1)).as("n_sizes"),
        max(when($"m" === 5, round($"mean_rs", 6))).as("rs5"),
        max(when($"m" === 10, round($"mean_rs", 6))).as("rs10"),
        max(when($"m" === 15, round($"mean_rs", 6))).as("rs15"),
        sort_array(collect_list(struct($"m",
          expr("ln(cast(m as double))").as("x"),
          expr("ln(mean_rs)").as("y")))).as("fs"))
      .withColumn("sx", expr("aggregate(fs, 0D, (a, p) -> a + p.x)"))
      .withColumn("sy", expr("aggregate(fs, 0D, (a, p) -> a + p.y)"))
      .withColumn("sxy", expr("aggregate(fs, 0D, (a, p) -> a + p.x * p.y)"))
      .withColumn("sxx", expr("aggregate(fs, 0D, (a, p) -> a + p.x * p.x)"))
      .withColumn("hurst", when($"n_sizes" >= 2, round(
        ($"n_sizes" * $"sxy" - $"sx" * $"sy") /
          ($"n_sizes" * $"sxx" - $"sx" * $"sx"), 4)))
    fit.join(nd, "event_type")
      .select($"event_type", $"n_days", $"n_sizes",
        $"rs5", $"rs10", $"rs15", $"hurst")
      .orderBy($"event_type")
  }

  /** Per calendar day with a click or a view, the click count `x` and
    * the view count `y`: the daily grid of B47 and B53's cointegration
    * test. */
  private def clickViewDaily(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .filter($"event_type".isin("click", "view"))
      .groupBy(to_date($"ts").as("day"))
      .agg(sum(when($"event_type" === "click", 1L).otherwise(0L)).as("x"),
        sum(when($"event_type" === "view", 1L).otherwise(0L)).as("y"))
  }

  /** B47 lag-1 GRANGER causality between the click and view daily
    * series (statsmodels `grangercausalitytests` twin, maxlag=1 — the
    * causal upgrade of B29's cross-correlation: correlation at lag 1
    * says the series MOVE together shifted, Granger asks whether
    * clicks IMPROVE the prediction of views beyond views' own past):
    * F-test of y_t ~ y_{t−1} + x_{t−1} against y_t ~ y_{t−1}, both
    * directions.
    *
    * All six sufficient moments are exact decimal(38,0) sums over
    * consecutive-day pairs (gaps excluded by an exact day-difference
    * predicate); the centered covariances n·Sab − Sa·Sb stay exact
    * decimals (the A49 Gram posture), and the closed-form solve —
    * det, slopes, the two SSEs, F — is one pinned IEEE scalar
    * sequence per direction, identical in both engines, rounded at
    * export. One events scan → 30-row grid → one aggregate → scalar
    * tail. Degenerate determinants null explicitly. */
  def granger(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val pts = clickViewDaily(events)
    val w = Window.orderBy($"day")
    val lagged = pts
      .withColumn("xl", lag($"x", 1).over(w))
      .withColumn("yl", lag($"y", 1).over(w))
      .withColumn("pd", lag($"day", 1).over(w))
      .filter($"pd".isNotNull && datediff($"day", $"pd") === 1)
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val m = lagged.agg(
      count(lit(1)).as("n"),
      sum(dec($"x")).as("sx"), sum(dec($"y")).as("sy"),
      sum(dec($"xl")).as("sxl"), sum(dec($"yl")).as("syl"),
      sum(dec($"x") * $"x").as("sxx"), sum(dec($"y") * $"y").as("syy"),
      sum(dec($"xl") * $"xl").as("sxlxl"),
      sum(dec($"yl") * $"yl").as("sylyl"),
      sum(dec($"xl") * $"yl").as("sxlyl"),
      sum(dec($"yl") * $"y").as("syly"),
      sum(dec($"xl") * $"y").as("sxly"),
      sum(dec($"yl") * $"x").as("sylx"),
      sum(dec($"xl") * $"x").as("sxlx"))
    // direction x→y: own lag = yl, cross lag = xl, target = y;
    // direction y→x mirrors. All centered covariances exact.
    def fCols(tgt: String, own: String, cross: String,
        stt: String, soo: String, scc: String, soc: String,
        sot: String, sct: String, suffix: String) = {
      val n = col("n").cast("decimal(38,0)")
      val coo = (n * col(soo) - col(own) * col(own)).cast("double")
      val ccc = (n * col(scc) - col(cross) * col(cross)).cast("double")
      val coc = (n * col(soc) - col(own) * col(cross)).cast("double")
      val cot = (n * col(sot) - col(own) * col(tgt)).cast("double")
      val cct = (n * col(sct) - col(cross) * col(tgt)).cast("double")
      val ctt = (n * col(stt) - col(tgt) * col(tgt)).cast("double")
      val det = coo * ccc - coc * coc
      val b = (cot * ccc - cct * coc) / det
      val c = (cct * coo - cot * coc) / det
      val sseU = ctt - b * cot - c * cct
      val sseR = ctt - (cot / coo) * cot
      val f = (sseR - sseU) / (sseU / (col("n").cast("double") - 3.0))
      Seq(
        when(det =!= 0.0 && coo =!= 0.0,
          round(f, 4)).as(s"f_$suffix"),
        when(det =!= 0.0, round(c, 6)).as(s"beta_cross_$suffix"))
    }
    val xy = fCols("sy", "syl", "sxl", "syy", "sylyl", "sxlxl",
      "sxlyl", "syly", "sxly", "xy")
    val yx = fCols("sx", "sxl", "syl", "sxx", "sxlxl", "sylyl",
      "sxlyl", "sxlx", "sylx", "yx")
    m.select((col("n").as("n_pairs") +: (xy ++ yx)): _*)
  }

  /** B50 DICKEY-FULLER unit-root test, lag 0 with constant
    * (statsmodels `adfuller(maxlag=0, regression='c')` twin — the
    * STATIONARITY GATE run before the forecast ladder: B17's AR(1)
    * and B49's SES presume mean reversion; a unit root says
    * difference first): per event type, regress Δy_t on y_{t−1} with
    * intercept over consecutive-day pairs; the statistic is
    * ρ̂/se(ρ̂) against the 5% MacKinnon constant-only critical value
    * −2.86 (flagged as integer 0/1 — a nullable boolean's pandas
    * dtype drifts between engines).
    *
    * All five sufficient moments are exact decimal(38,0) sums over
    * consecutive-day pairs (gap days excluded by the exact
    * day-difference predicate — the B47 posture); the centered forms
    * n·Σab − Σa·Σb stay exact decimals, and the closed-form tail —
    * ρ, SSE, s², t — is one pinned IEEE scalar sequence identical in
    * both engines, rounded at export. Degenerate cases (constant
    * regressor, perfect fit, n < 4) null explicitly — the guard also
    * keeps the NaN-sorts-above-everything trap out of both engines.
    * One events scan → daily grid → one aggregate per type. */
  def adf(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val pts = perTypeDaily(events)
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val lagged = pts
      .withColumn("xl", lag($"y", 1).over(w))
      .withColumn("pd", lag($"day", 1).over(w))
      .filter($"pd".isNotNull && datediff($"day", $"pd") === 1)
      .withColumn("d", $"y" - $"xl")
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val m = lagged.groupBy($"event_type").agg(
      count(lit(1)).as("n"),
      sum(dec($"xl")).as("sx"), sum(dec($"d")).as("sd"),
      sum(dec($"xl") * $"xl").as("sxx"),
      sum(dec($"d") * $"d").as("sdd"),
      sum(dec($"xl") * $"d").as("sxd"))
    val n = col("n").cast("decimal(38,0)")
    // every division sits under an explicit guard — ANSI mode raises
    // on x/0 instead of producing NaN/Inf, and the guards double as
    // the cross-engine degenerate-case contract
    val g = m
      .withColumn("cxx", (n * $"sxx" - $"sx" * $"sx").cast("double"))
      .withColumn("cxd", (n * $"sxd" - $"sx" * $"sd").cast("double"))
      .withColumn("cdd", (n * $"sdd" - $"sd" * $"sd").cast("double"))
      .withColumn("rho", when($"cxx" > 0, $"cxd" / $"cxx"))
      .withColumn("sse", when($"cxx" > 0,
        ($"cdd" - $"cxd" * $"cxd" / $"cxx") / $"n".cast("double")))
      .withColumn("s2",
        when($"n" > 2, $"sse" / ($"n".cast("double") - 2.0)))
      .withColumn("ok", $"n" >= 4 && $"cxx" > 0 && $"s2" > 0)
      .withColumn("tstat", when($"ok",
        $"rho" / sqrt($"s2" * $"n".cast("double") / $"cxx")))
    g.select($"event_type", $"n".as("n_pairs"),
        when($"cxx" > 0, round($"rho", 6)).as("rho"),
        when($"ok", round($"tstat", 4)).as("adf_t"),
        when($"ok", ($"tstat" < -2.86).cast("int")).as("stationary"))
      .orderBy($"event_type")
  }

  /** B91 KPSS level-stationarity test per event type (Kwiatkowski/
    * Phillips/Schmidt/Shin 1992 — the COMPLEMENT of B50: ADF's null
    * is a unit root, KPSS's null is stationarity, and the standard
    * practice is to run the PAIR — agreement is evidence, the two
    * nulls disagreeing flags "not enough data to tell"): η = (1/n²)
    * Σ S_t² over the cumulated mean-deviations, normalized by the
    * Bartlett-kernel long-run variance at bandwidth l = 4,
    * s² = γ₀ + 2 Σ_{j≤l} (1 − j/(l+1)) γ_j.
    *
    * Determinism: the B35 denominator-clearing trick — n·e_t =
    * n·y_t − S is an exact integer, so Σ(n·S_t)² and every
    * n²-scaled autocovariance B_j = Σ(n·e_t)(n·e_{t+j}) are exact
    * decimal(38,0) sums, the scales cancel algebraically
    * (η/s² = A / (n·B̃)), and the statistic is one pinned double
    * sequence — kernel weights fold left-to-right with literal
    * coefficients. Day-count-bounded frames only. */
  def kpss(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val l = 4
    val pts = perTypeDaily(events)
    val st = pts.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"y").as("s"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    var led = pts.join(st, "event_type")
      .withColumn("e", $"n" * $"y" - $"s")
      .withColumn("cs", sum($"e")
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
    for (k <- 1 to l) led = led.withColumn(s"e$k", lead($"e", k).over(w))
    val agg = led.groupBy($"event_type").agg(
      max($"n").as("nd"),
      sum(dec($"cs") * $"cs").as("a"),
      sum(dec($"e") * $"e").as("b0"),
      sum(dec($"e") * $"e1").as("b1"),
      sum(dec($"e") * $"e2").as("b2"),
      sum(dec($"e") * $"e3").as("b3"),
      sum(dec($"e") * $"e4").as("b4"))
    // B̃ = B0 + 2Σ(1−j/5)Bj, coefficients as literal doubles in the
    // pinned left-to-right order; kpss = A / (n·B̃), scales cancel
    val btilde = $"b0".cast("double") +
      lit(1.6) * $"b1".cast("double") + lit(1.2) * $"b2".cast("double") +
      lit(0.8) * $"b3".cast("double") + lit(0.4) * $"b4".cast("double")
    agg.select($"event_type", $"nd".as("n_days"),
        when(btilde > 0, round($"a".cast("double") /
          ($"nd".cast("double") * btilde), 6)).as("kpss_stat"))
      .withColumn("level_stationary",
        when($"kpss_stat".isNotNull,
          ($"kpss_stat" < 0.463).cast("int")))
      .orderBy($"event_type")
  }

  /** B92 BREUSCH-PAGAN heteroskedasticity test per event type
    * (Breusch/Pagan 1979 — the regression diagnostic B75's
    * Durbin-Watson pairs with: DW asks "are the trend residuals
    * autocorrelated", this asks "does their VARIANCE drift with
    * time" — the thing that invalidates every constant-width
    * forecast band downstream): OLS of daily counts on the day
    * index, then the LM form n·R² of e² regressed on t; LM ~ χ²₁,
    * 5% critical 3.841.
    *
    * Determinism: the first-stage sums are exact integers; slope and
    * intercept take one double division each; each residual is one
    * identical IEEE sequence per row; the second-stage Σu, Σtu, Σu²
    * fold in pinned day order (B48 contract); R² forms from cleared-
    * denominator centered sums. Day-count-bounded frames. */
  def breuschPagan(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val pts = perTypeDaily(events)
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val rows = pts.withColumn("t", row_number().over(w).cast("long"))
    val m = rows.groupBy($"event_type").agg(
      count(lit(1)).as("n"), sum($"t").as("stt"), sum($"y").as("sy"),
      sum($"t" * $"t").as("st2"), sum($"t" * $"y").as("sty"))
      .withColumn("dden", $"n" * $"st2" - $"stt" * $"stt")
      .withColumn("b", ($"n" * $"sty" - $"stt" * $"sy").cast("double")
        / $"dden".cast("double"))
      .withColumn("aa", ($"sy".cast("double") -
        $"b" * $"stt".cast("double")) / $"n".cast("double"))
    val res = rows.join(broadcast(m.select($"event_type", $"n", $"st2",
        $"stt", $"dden", $"b", $"aa")), "event_type")
      .withColumn("u", ($"y".cast("double") - $"aa" -
        $"b" * $"t".cast("double")) *
        ($"y".cast("double") - $"aa" - $"b" * $"t".cast("double")))
    val folds = res.groupBy($"event_type").agg(
      max($"n").as("n"), max($"dden").as("dden"),
      aggregate(sort_array(collect_list(struct($"t", $"u"))),
        lit(0.0), (acc, e) => acc + e("u")).as("su"),
      aggregate(sort_array(collect_list(struct($"t", $"u"))),
        lit(0.0), (acc, e) => acc + e("t").cast("double") * e("u"))
        .as("stu"),
      aggregate(sort_array(collect_list(struct($"t", $"u"))),
        lit(0.0), (acc, e) => acc + e("u") * e("u")).as("suu"))
    val nd = $"n".cast("double")
    // Σt = n(n+1) div 2 exactly (t = 1..n); centered sums with
    // cleared denominators: sxy = n·Σtu − Σt·Σu, syy = n·Σu² − (Σu)²
    val sxy = nd * $"stu" -
      expr("n * (n + 1) div 2").cast("double") * $"su"
    val syy = nd * $"suu" - $"su" * $"su"
    folds.select($"event_type", $"n".as("n_days"),
        when($"dden" > 0 && syy > 0,
          round(nd * (sxy * sxy) /
            ($"dden".cast("double") * syy), 4)).as("bp_lm"))
      .withColumn("heteroskedastic",
        when($"bp_lm".isNotNull, ($"bp_lm" > 3.841).cast("int")))
      .orderBy($"event_type")
  }

  /** B93 BARTLETT'S TEST of variance homogeneity across the k event
    * types (Bartlett 1937 — the PARAMETRIC twin of B72: Levene is
    * robust to non-normality, Bartlett is the more powerful test
    * when counts are near-normal, and reporting the pair is the
    * textbook practice): T = [(N−k)·ln s_p² − Σ(n_i−1)·ln s_i²] / C
    * with the Box correction C; T ~ χ²_{k−1}.
    *
    * Determinism: each group variance forms from exact integer sums
    * with one division; the cross-group Σ(n_i−1)s_i², Σ(n_i−1)ln s_i²
    * and Σ1/(n_i−1) fold over the k-row group frame in sorted
    * event_type order (F26 precedent); ln is libm; round-4 export. */
  def bartlett(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val g = perTypeDaily(events)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum(dec($"y")).as("s"),
        sum(dec($"y") * $"y").as("ss"))
      .filter($"n" >= 2)
      .withColumn("v", ($"n" * $"ss" - $"s" * $"s").cast("double") /
        ($"n".cast("double") * ($"n".cast("double") - lit(1.0))))
      .withColumn("wsum", ($"n" * $"ss" - $"s" * $"s").cast("double") /
        $"n".cast("double"))
      // constant-series groups (v = 0) are excluded in BOTH engines:
      // Spark's ln(0) is NULL, DuckDB's is an error — the guard IS
      // the cross-engine contract
      .filter($"v" > 0)
    val f = g.agg(count(lit(1)).as("k"), sum($"n").as("nt"),
      aggregate(sort_array(collect_list(struct($"event_type", $"wsum"))),
        lit(0.0), (acc, e) => acc + e("wsum")).as("sw"),
      aggregate(sort_array(collect_list(struct($"event_type", $"n", $"v"))),
        lit(0.0), (acc, e) => acc +
          (e("n").cast("double") - lit(1.0)) * log(e("v")))
        .as("sl"),
      aggregate(sort_array(collect_list(struct($"event_type", $"n"))),
        lit(0.0), (acc, e) => acc +
          lit(1.0) / (e("n").cast("double") - lit(1.0))).as("sinv"))
    val nk = ($"nt" - $"k").cast("double")
    val kd = $"k".cast("double")
    val t = (nk * log($"sw" / nk) - $"sl") /
      (lit(1.0) + ($"sinv" - lit(1.0) / nk) / (lit(3.0) * (kd - lit(1.0))))
    f.select($"k".as("n_groups"), $"nt".as("n_days"),
        when($"k" >= 2 && $"sw" > 0, round(t, 4)).as("bartlett_t"))
      .withColumn("significant",
        when($"bartlett_t".isNotNull, ($"bartlett_t" > 9.488).cast("int")))
  }

  /** B94 PROCESS CAPABILITY Cp/Cpk of event value per type (the SPC
    * index pair next to B67's control chart: the chart asks "is the
    * process in control", capability asks "even in control, does it
    * FIT the spec" — Cp is spread-vs-tolerance, Cpk penalizes
    * off-center; the 1.33 bar is the classic four-sigma capability
    * gate): spec limits are EXTERNAL constants (LSL = $0, USL =
    * $200), carried in cents so the mean/σ/limits share one scale.
    *
    * Determinism: values quantize to exact cents, n/Σ/Σ² are exact
    * decimal(38,0), σ_c = √((nΣ² − S²)/(n(n−1))) is one division +
    * one sqrt, Cp/Cpk two more divisions — a pinned scalar chain. */
  def processCapability(events: DataFrame, lslCents: Long = 0L,
      uslCents: Long = 20000L): DataFrame = {
    import events.sparkSession.implicits._
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val g = events
      .select($"event_type", round($"value" * 100).cast("long").as("c"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum(dec($"c")).as("s"),
        sum(dec($"c") * $"c").as("ss"))
      .filter($"n" >= 2)
    val nd = $"n".cast("double")
    val mu = $"s".cast("double") / nd
    val sig = sqrt(($"n" * $"ss" - $"s" * $"s").cast("double") /
      (nd * (nd - lit(1.0))))
    g.select($"event_type", $"n".as("n_events"),
        round(mu / lit(100.0), 4).as("mean_value"),
        round(sig / lit(100.0), 4).as("std_value"),
        when(sig > 0, round(lit((uslCents - lslCents).toDouble) /
          (lit(6.0) * sig), 4)).as("cp"),
        when(sig > 0, round(
          least(lit(uslCents.toDouble) - mu, mu - lit(lslCents.toDouble))
            / (lit(3.0) * sig), 4)).as("cpk"))
      .withColumn("capable",
        when($"cpk".isNotNull, ($"cpk" >= 1.33).cast("int")))
      .orderBy($"event_type")
  }

  /** B51 rolling-origin FORECAST BACKTEST (the `tscv`/`MASE`
    * evaluation harness the ladder B17/B18/B21/B49 is missing — a
    * forecaster you never scored is a guess): one-step-ahead errors
    * of the three classical baselines over each type's daily series —
    * naive (ŷ_t = y_{t−1}), seasonal-naive-7 (ŷ_t = y_{t−7}), and
    * expanding mean (ŷ_t = mean(y_1..y_{t−1})) — evaluated over the
    * common window t ≥ 8 (positional pandas-`shift` semantics on the
    * day-ordered series), with MAE/RMSE each and MASE (MAE relative
    * to naive — Hyndman & Koehler 2006) for the other two.
    *
    * Naive/seasonal errors and their |e|, e² sums are EXACT BIGINTs
    * (order-free); the expanding-mean error takes ONE double division
    * per term (F6/A54 term precedent) and its |e|, e² fold in pinned
    * day order over a sorted list (the B48 fold contract) — both
    * engines run the identical IEEE sequence. One events scan → daily
    * grid → one window pass → one aggregate per type; every frame is
    * day-count bounded. */
  def backtest(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val pts = perTypeDaily(events)
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val rows = pts
      .withColumn("t", row_number().over(w))
      .withColumn("l1", lag($"y", 1).over(w))
      .withColumn("l7", lag($"y", 7).over(w))
      .withColumn("s1", sum($"y").over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .filter($"t" >= 8)
      .withColumn("en", $"y" - $"l1")
      .withColumn("es", $"y" - $"l7")
      .withColumn("em",
        $"y".cast("double") - $"s1".cast("double") /
          ($"t" - 1).cast("double"))
    val agg = rows.groupBy($"event_type").agg(
      count(lit(1)).as("n_eval"),
      sum(abs($"en")).as("saen"), sum($"en" * $"en").as("ssen"),
      sum(abs($"es")).as("saes"), sum($"es" * $"es").as("sses"),
      sort_array(collect_list(struct($"day", $"em"))).as("ems"))
      .withColumn("saem",
        expr("aggregate(ems, 0D, (a, x) -> a + abs(x.em))"))
      .withColumn("ssem",
        expr("aggregate(ems, 0D, (a, x) -> a + x.em * x.em)"))
    val nD = $"n_eval".cast("double")
    agg.select($"event_type", $"n_eval",
        round($"saen".cast("double") / nD, 4).as("mae_naive"),
        round(sqrt($"ssen".cast("double") / nD), 4).as("rmse_naive"),
        round($"saes".cast("double") / nD, 4).as("mae_snaive"),
        round(sqrt($"sses".cast("double") / nD), 4).as("rmse_snaive"),
        round($"saem" / nD, 4).as("mae_mean"),
        round(sqrt($"ssem" / nD), 4).as("rmse_mean"),
        when($"saen" > 0, round($"saes".cast("double") /
          $"saen".cast("double"), 4)).as("mase_snaive"),
        when($"saen" > 0,
          round($"saem" / $"saen".cast("double"), 4)).as("mase_mean"))
      .orderBy($"event_type")
  }

  /** B46 permutation entropy of order 3 (Bandt & Pompe 2002 — the
    * model-free irregularity diagnostic: ~0 for monotone/periodic
    * series, ln 6 for white noise; robust to monotone transforms
    * where B35/B45 assume linearity): each consecutive triple of the
    * daily series maps to one of 6 ordinal patterns by EXACT INTEGER
    * comparisons (ties broken by time order — the standard `<=`
    * earlier-wins rule), patterns histogram per event type, H =
    * −Σ p ln p folded in PATTERN ORDER with the probabilities exact
    * integer ratios (the F18 fold contract); normalized H/ln 6 is
    * the export. One lead window over the daily aggregate + one
    * 6-row fold per group — frame-bounded everywhere. */
  def permutationEntropy(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val pts = perTypeDaily(events)
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val tri = pts
      .withColumn("y1", lead($"y", 1).over(w))
      .withColumn("y2", lead($"y", 2).over(w))
      .filter($"y2".isNotNull)
    // pattern id: rank of (a,b,c) with earlier-index tie wins (<=):
    // a<=b<=c:0  a<=c<b:1  b<a<=c:2  c<b<a... enumerate explicitly
    val pat = when($"y" <= $"y1" && $"y1" <= $"y2", 0L)
      .when($"y" <= $"y2" && $"y2" < $"y1", 1L)
      .when($"y1" < $"y" && $"y" <= $"y2", 2L)
      .when($"y2" < $"y" && $"y" <= $"y1", 3L)
      .when($"y1" <= $"y2" && $"y2" < $"y", 4L)
      .otherwise(5L)
    val hist = tri.withColumn("pat", pat)
      .groupBy($"event_type", $"pat").agg(count(lit(1)).as("c"))
    hist.groupBy($"event_type")
      .agg(sum($"c").as("n_tri"),
        count(lit(1)).as("n_patterns"),
        sort_array(collect_list(struct($"pat", $"c"))).as("ps"))
      .select($"event_type", $"n_tri", $"n_patterns",
        round(expr(
          """-aggregate(ps, 0D, (a, p) ->
            |  a + (cast(p.c as double) / cast(n_tri as double))
            |    * ln(cast(p.c as double) / cast(n_tri as double)))
            |  / ln(6D)""".stripMargin), 6).as("pe_norm"))
      .orderBy($"event_type")
  }

  /** B45 PARTIAL autocorrelation (PACF) at lags 1-7 per event type —
    * the other half of the Box-Jenkins identification pair: B35's ACF
    * tails off for an AR process while the PACF CUTS OFF at the true
    * order p, which is how an analyst picks the AR order B17 then
    * fits. Computed by the Durbin-Levinson recursion over the exact
    * ACF values: φ₁₁ = ρ₁; φ_kk = (ρ_k − Σφ_{k−1,j}ρ_{k−j}) /
    * (1 − Σφ_{k−1,j}ρ_j), with the previous φ row updated in place.
    *
    * Determinism: ρ_k = num_k/den is one division of the B35 exact
    * BIGINT numerators; the recursion is a functional `aggregate`
    * fold whose accumulator carries the φ row as an ARRAY — mirrored
    * by a recursive CTE in the twin carrying a DOUBLE[] list (the
    * B18/B21 precedent: DuckDB's list_reduce struct accumulator
    * aliases in place on coupled recurrences, so the CTE form is the
    * safe twin), every inner sum folding in j order. Null ACF
    * (constant series) null-propagates identically. Frame-bounded:
    * the fold runs on one 7-element array per group. */
  def pacf(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val maxLag = 7
    val aggCols = acfSums(events, maxLag)
    val agg = acfLeads(events, maxLag).groupBy($"event_type")
      .agg(aggCols.head, aggCols.tail: _*)
    val rArr = array((1 to maxLag).map(k =>
      col(s"num$k").cast("double") / $"den"): _*)
    // Durbin-Levinson as a functional fold: acc = (φ row, pacf list)
    val phikk = (k: String, phis: String) =>
      s"""(element_at(r, $k) - aggregate(sequence(1, $k - 1), 0D,
         |  (a, j) -> a + element_at($phis, j) * element_at(r, $k - j)))
         | / (1D - aggregate(sequence(1, $k - 1), 0D,
         |  (a, j) -> a + element_at($phis, j) * element_at(r, j)))"""
        .stripMargin
    val fold = agg.withColumn("r", rArr)
      .withColumn("dl", expr(
        s"""aggregate(sequence(2, $maxLag),
           |  struct(array(element_at(r, 1)) as phis,
           |         array(element_at(r, 1)) as pacfs),
           |  (acc, k) -> struct(
           |    transform(sequence(1, k), j -> CASE WHEN j = k
           |      THEN ${phikk("k", "acc.phis")}
           |      ELSE element_at(acc.phis, j)
           |        - (${phikk("k", "acc.phis")})
           |          * element_at(acc.phis, k - j) END) as phis,
           |    concat(acc.pacfs, array(${phikk("k", "acc.phis")})) as pacfs))
           |""".stripMargin))
    val pCols = (1 to maxLag).map(k =>
      round(expr(s"element_at(dl.pacfs, $k)"), 6).as(s"pacf_$k"))
    fold.select(($"event_type" +: pCols): _*).orderBy($"event_type")
  }

  /** B44 SAX symbolization (Lin et al. 2003 — the time-series
    * INDEXING representation: z-normalize, piecewise-aggregate to w
    * segments, quantize against Gaussian breakpoints; equal words ⇒
    * provably close series, which is how a 100 TB series store
    * shortlists candidates before any DTW/correlation pass): daily
    * counts per event type → 6 segments of 5 days → alphabet {a..d}
    * at breakpoints ±0.6745 and 0.
    *
    * Determinism: the z-scored segment mean is D_j / (m·√varn) with
    * D_j = Σ(n·y − S) an exact BIGINT (the B25 scaling — μ never
    * becomes a double) and varn = n·Σy² − S² exact, so both engines
    * derive the identical double and the breakpoint CASE takes the
    * same branch (boundary hits are measure-zero on computed
    * doubles; the breakpoints are shared literals). Constant series
    * (varn = 0) emit a null word. Incomplete tail segments drop
    * (documented — the standard n mod w contract). Windows run over
    * the daily aggregate only. */
  def sax(events: DataFrame, segLen: Int = 5): DataFrame = {
    import events.sparkSession.implicits._
    val pts = perTypeDaily(events)
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val idx = pts.withColumn("i", row_number().over(w).cast("long"))
    val st = pts.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"y").as("s"),
        sum($"y" * $"y").as("sq"))
      .withColumn("varn", $"n" * $"sq" - $"s" * $"s")
    val segs = idx.join(st, "event_type")
      .withColumn("seg", expr(s"(i - 1) div $segLen"))
      .groupBy($"event_type", $"seg")
      .agg(count(lit(1)).as("cnt"),
        sum($"n" * $"y" - $"s").as("d"),
        max($"varn").as("varn"), max($"n").as("n"))
      .filter($"cnt" === segLen)
      .withColumn("z", when($"varn" > 0,
        $"d".cast("double") / (lit(segLen.toDouble) *
          sqrt($"varn".cast("double")))))
      .withColumn("sym", when($"z".isNull, lit("?"))
        .when($"z" < -0.6745, "a")
        .when($"z" < 0.0, "b")
        .when($"z" < 0.6745, "c")
        .otherwise("d"))
    val zCols = (0 until 6).map(j =>
      max(when($"seg" === j, round($"z", 4))).as(s"z$j"))
    val aggs = Seq(max($"n").as("n_days"), count(lit(1)).as("n_segs"),
      array_join(transform(array_sort(collect_list(
        struct($"seg", $"sym"))), x => x.getField("sym")), "")
        .as("word"),
      max(when($"z".isNull, 1L).otherwise(0L)).as("has_null")) ++ zCols
    segs.groupBy($"event_type")
      .agg(aggs.head, aggs.tail: _*)
      .select((Seq($"event_type", $"n_days", $"n_segs",
        when($"has_null" === 0, $"word").as("sax_word")) ++
        (0 until 6).map(j => col(s"z$j"))): _*)
      .orderBy($"event_type")
  }

  /** B36 single change-point detection per event type (binary
    * segmentation, step 1 — the "WHEN did the level shift?" companion
    * to B22's anomaly flags): the split τ maximizing the between-
    * segment sum-of-squares reduction. With integer prefix sums
    * P_i over the daily counts, the candidate score S₁²/i + S₂²/(n−i)
    * uses exact integer numerators and two IEEE divisions, so the
    * argmax (ties → smallest i) is engine-independent. ΔSSE =
    * score(τ) − S²/n ≥ 0 measures shift strength; segment means are
    * exact-ratio exports. O(n) candidates over a frame-bounded series
    * — recursing on the two halves yields full binary segmentation. */
  def changePoint(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val pts = perTypeDaily(events)
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val cum = pts
      .withColumn("i", row_number().over(w))
      .withColumn("p", sum($"y").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val st = pts.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"y").as("s"))
    val scored = cum.join(st, "event_type")
      .filter($"i" < $"n")
      .withColumn("gain",
        ($"p" * $"p").cast("double") / $"i" +
          (($"s" - $"p") * ($"s" - $"p")).cast("double") / ($"n" - $"i"))
    val best = Window.partitionBy($"event_type")
      .orderBy($"gain".desc, $"i".asc)
    scored.withColumn("rk", row_number().over(best))
      .filter($"rk" === 1)
      .select($"event_type", $"i".as("tau_idx"),
        date_format($"day", "yyyy-MM-dd").as("tau_day"),
        round($"gain" - ($"s" * $"s").cast("double") / $"n", 4)
          .as("delta_sse"),
        round($"p".cast("double") / $"i", 4).as("mean_left"),
        round(($"s" - $"p").cast("double") / ($"n" - $"i"), 4)
          .as("mean_right"))
      .orderBy($"event_type")
  }

  /** B38 stochastic oscillator (%K/%D, the rolling min-max momentum
    * indicator): per-user 14-row trailing window, %K = position of the
    * current value inside the window's [min, max] band, %D = 3-row
    * simple average of %K. NO float anywhere: k_ppm =
    * (v − min)·10⁶ div (max − min) over BIGINT cents (null when the
    * band is flat or the window not yet full — the standard undefined
    * cases), d_ppm = Σ₃ k_ppm div 3 only when all three %K values
    * exist. Two window passes (band + smoothing), both partitioned by
    * the high-cardinality user key — state per row is three BIGINTs,
    * so the shape survives any corpus size. */
  def stochastic(events: DataFrame, window: Int = 14): DataFrame = {
    import events.sparkSession.implicits._
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    val wBand = wOrd.rowsBetween(-(window - 1), Window.currentRow)
    val wD = wOrd.rowsBetween(-2, Window.currentRow)
    events
      .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"),
        round($"value" * 100).cast("long").as("vc"))
      .withColumn("n_win", count(lit(1)).over(wBand))
      .withColumn("lo", min($"vc").over(wBand))
      .withColumn("hi", max($"vc").over(wBand))
      .withColumn("k_ppm",
        when($"n_win" === window && $"hi" > $"lo",
          expr("(vc - lo) * 1000000 div (hi - lo)")))
      .withColumn("nk", count($"k_ppm").over(wD))
      .withColumn("sk", sum($"k_ppm").over(wD))
      .withColumn("d_ppm", when($"nk" === 3, expr("sk div 3")))
      .select($"user_id", $"event_id", $"ts_us", $"k_ppm", $"d_ppm")
      .orderBy($"user_id", $"event_id")
  }

  /** B39 MACD (EMA₁₂ − EMA₂₆ with an EMA₉ signal line — the classic
    * trend-following momentum triple): per-user series of 2-dp values
    * (the B16 integer-rounded-cents input, bit-identical across
    * engines), EMAs computed as NULL-seeded folds over a 40-row
    * trailing window — a DOCUMENTED truncation: the dropped tail's
    * weight is (1−α)⁴⁰ < 0.2% for α = 2/13, and the twin replays the
    * IDENTICAL truncated fold so the compare stays exact. The signal
    * line folds the macd COLUMN (window-over-window), and the
    * histogram is one subtraction. All coefficients are interpolated
    * from the same Scala doubles into both engines (shortest-repr
    * round-trip), so every fold step is the same IEEE sequence —
    * raw un-rounded doubles exported, the B16 precedent. Bounded
    * state: two 40-double lists per row, one keyed window pass each. */
  // MACD smoothing coefficients, object-level so the DuckDB twin
  // interpolates the IDENTICAL shortest-repr double literals.
  // CRITICAL: both engines must parse them as DOUBLE literals, not
  // DECIMAL — DuckDB converts a 17-significant-digit DECIMAL to
  // double via int/10^scale, which double-rounds once the integer
  // part exceeds 2^53 (measured: 2/13's 17-digit repr lands one ulp
  // off strtod). Appending an exponent ("…e0") forces the
  // correctly-rounded strtod path in BOTH parsers. Coefficients are
  // in (0.07, 0.93) so Double.toString never emits its own exponent.
  private def dlit(d: Double): String = s"${d}e0"
  private val MacdAF = 2.0 / 13.0   // fast EMA-12
  private val MacdAS = 2.0 / 27.0   // slow EMA-26
  private val MacdASig = 2.0 / 10.0 // signal EMA-9

  def macd(events: DataFrame, span: Int = 40): DataFrame = {
    import events.sparkSession.implicits._
    val aF = MacdAF; val aS = MacdAS; val aSig = MacdASig
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    val wSpan = wOrd.rowsBetween(-(span - 1), Window.currentRow)
    def fold(xs: String, a: Double) =
      expr(s"""aggregate($xs, cast(null as double),
              |  (acc, x) -> CASE WHEN acc IS NULL THEN x
              |              ELSE acc * ${dlit(1 - a)} + ${dlit(a)} * x END)"""
        .stripMargin)
    events
      .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"),
        (round($"value" * 100) / 100.0).as("v"))
      .withColumn("xs", collect_list($"v").over(wSpan))
      .withColumn("macd", fold("xs", aF) - fold("xs", aS))
      .drop("xs")
      .withColumn("ms", collect_list($"macd").over(wSpan))
      .withColumn("sig", fold("ms", aSig))
      .select($"user_id", $"event_id", $"ts_us",
        $"macd", $"sig", ($"macd" - $"sig").as("hist"))
      .orderBy($"user_id", $"event_id")
  }

  /** B40 historical VaR / expected shortfall (the risk-desk tail
    * summary, lower-tail convention): per event_type, VaR₅ is the
    * type-1 5th-percentile of the cent-value distribution (A29's
    * cumulative-histogram inverse CDF — k = ⌈n·5/100⌉ carried as the
    * INTEGER (5n+99) div 100, never a float rank) and ES₅ is the mean
    * of the k smallest observations, assembled EXACTLY from the same
    * histogram: Σ cents·c over buckets strictly below VaR plus
    * VaR·(k − count_below) for the partial bucket — so both numbers
    * come from ONE distinct-value cumulative pass, no per-group sort
    * or collect. The only division is the final es export; var is an
    * exact cents-to-dollars halving. Scale: window cost is
    * O(distinct cent values) per group, the A29 bound. */
  def varEs(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val pts = events.select($"event_type",
      round($"value" * 100).cast("long").as("cents"))
    val counts = pts.groupBy($"event_type", $"cents")
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy($"event_type").orderBy($"cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts
      .withColumn("cum", sum($"c").over(wCum))
      .withColumn("n", sum($"c").over(Window.partitionBy($"event_type")))
      .withColumn("k", expr("(n * 5 + 99) div 100"))
    cum.groupBy($"event_type")
      .agg(max($"n").as("n"), max($"k").as("k"),
        min(when($"cum" >= $"k", $"cents")).as("var_c"),
        sum(when($"cum" < $"k", $"cents" * $"c")).as("below_sum"),
        max(when($"cum" < $"k", $"cum")).as("below_cnt"))
      .select($"event_type", $"n",
        ($"var_c".cast("double") / 100.0).as("var_dollars"),
        ((coalesce($"below_sum", lit(0L))
          + $"var_c" * ($"k" - coalesce($"below_cnt", lit(0L))))
          .cast("double") / ($"k".cast("double") * 100.0)).as("es_dollars"))
      .orderBy($"event_type")
  }

  /** B41 band-limited dynamic time warping (Sakoe-Chiba r = 3) between
    * each priority's 1995 and 1996 monthly revenue curves — the
    * shape-alignment distance a seasonality monitor uses where
    * Euclidean month-by-month comparison breaks on phase shift.
    * ENTIRELY integer: monthly sums are exact cents (missing months
    * densified to 0 positionally — no ordinal drift), cell cost is
    * |x_i − y_j|, and the 12×12 DP runs as a nested HOF fold (outer
    * fold over rows, inner fold builds each row left-to-right; the
    * previous row rides as the accumulator — no UDF, no driver loop,
    * whole plan stays one aggregate + one projection per group).
    * Out-of-band cells pin to INF = 10¹⁵ cents (≥100× any in-band
    * path at SF 1); every in-band cell has an in-band predecessor so
    * INF never accumulates. The twin replays the identical integer
    * DP with DuckDB list folds — exact BIGINT equality, engine fold
    * mechanics irrelevant because the arithmetic is integral. */
  def dtwSeasonal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val INF = "1000000000000000"
    val pts = Tables.orders(s, dir)
      .select($"o_orderpriority".as("priority"),
        year($"o_orderdate").as("yr"), month($"o_orderdate").as("m"),
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .filter($"yr".isin(1995, 1996))
    def yearArr(yr: Int) = array((1 to 12).map(mm =>
      coalesce(sum(when($"yr" === yr && $"m" === mm, $"cents")),
        lit(0L))): _*)
    val series = pts.groupBy($"priority")
      .agg(yearArr(1995).as("xs"), yearArr(1996).as("ys"))
    series
      .withColumn("dp", expr(
        s"""aggregate(sequence(1, 12),
           |  concat(array(cast(0 as bigint)),
           |    transform(sequence(1, 12), z -> cast($INF as bigint))),
           |  (prev, i) -> aggregate(sequence(1, 12),
           |    array(cast($INF as bigint)),
           |    (row, j) -> concat(row, array(
           |      CASE WHEN abs(i - j) > 3 THEN cast($INF as bigint)
           |      ELSE abs(element_at(xs, i) - element_at(ys, j))
           |        + least(element_at(prev, j + 1), element_at(prev, j),
           |                element_at(row, size(row))) END))))"""
          .stripMargin))
      .select($"priority",
        expr("element_at(dp, 13)").as("dtw_cents"),
        expr("aggregate(xs, cast(0 as bigint), (a, x) -> a + x)")
          .as("total_1995_cents"),
        expr("aggregate(ys, cast(0 as bigint), (a, x) -> a + x)")
          .as("total_1996_cents"))
      .orderBy($"priority")
  }

  /** B42 ratio-to-moving-average seasonal indices (the classical
    * decomposition a demand planner quotes as "July runs 12% above
    * trend"): per priority, the centered 2×12-month moving total T
    * (the two straddling 12-month sums — the standard even-period
    * centering) deflates each month to an index in basis points,
    * idx_bp = cents·240000 div T (= 10⁴·month/MA, all-integer; cents
    * ≤ ~5·10¹² keeps the product under 2⁶³ through SF 10 — document
    * scale bound), full windows only; the per-calendar-month index
    * then averages across years by integer div. One keyed window
    * pass + one grouped aggregate. */
  def seasonalityIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pts = Tables.orders(s, dir)
      .select($"o_orderpriority".as("priority"),
        year($"o_orderdate").as("yr"), month($"o_orderdate").as("m"),
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .groupBy($"priority", $"yr", $"m")
      .agg(sum($"cents").as("cents"))
    val ord = Window.partitionBy($"priority").orderBy($"yr", $"m")
    val wA = ord.rowsBetween(-6, 5)
    val wB = ord.rowsBetween(-5, 6)
    val idx = pts
      .withColumn("na", count(lit(1)).over(wA))
      .withColumn("nb", count(lit(1)).over(wB))
      .withColumn("t", sum($"cents").over(wA) + sum($"cents").over(wB))
      .filter($"na" === 12 && $"nb" === 12)
      .withColumn("idx_bp", expr("cents * 240000 div t"))
    idx.groupBy($"priority", $"m")
      .agg(count(lit(1)).as("n_years"),
        expr("sum(idx_bp) div count(1)").as("seas_bp"))
      .orderBy($"priority", $"m")
  }

  /** B52 ISOTONIC regression per event type (L2 monotone-increasing
    * fit; Barlow et al. 1972 — the shape-constrained smoother a
    * calibration or dose-response audit runs where OLS would impose
    * linearity): over the day-ordered daily-count series, the exact
    * PAVA solution via the max-min formula
    * fit[i] = max_{j≤i} min_{k≥i} mean(y[j..k]).
    *
    * Distributed shape (no sequential pool-adjacent pass): prefix
    * sums give every interval mean m(j,k) = (S_k − S_{j−1})/(k−j+1)
    * as ONE IEEE division of two integers; a suffix-min window per j
    * turns the inner min into sm(j,k) = min_{k'≥k} m(j,k'), and
    * because sm(j, i) IS the inner term min_{k≥i} m(j..k) for every
    * j ≤ i, the outer max is just the per-(event_type, k) max over
    * the suffix-min frame. Two windows + one aggregate over the
    * O(Σ n²/2) pair frame — frame-bounded (n = days per type), never
    * corpus-bounded; min/max of identically-computed doubles carry no
    * accumulation order, so parity is exact. */
  def isotonic(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val pts = perTypeDaily(events)
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val idx = pts
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("s", sum($"y").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val pairs = idx.as("a").join(idx.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.i") <= col("b.i"))
      .select(col("a.event_type").as("event_type"),
        col("a.i").as("j"), col("b.i").as("k"),
        ((col("b.s") - col("a.s") + col("a.y")).cast("double") /
          (col("b.i") - col("a.i") + 1).cast("double")).as("m"))
    val wsm = Window.partitionBy($"event_type", $"j").orderBy($"k".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fit = pairs
      .withColumn("smin", min($"m").over(wsm))
      .groupBy($"event_type", $"k").agg(max($"smin").as("fit"))
    idx.join(fit,
        idx("event_type") === fit("event_type") && $"i" === $"k")
      .select(idx("event_type"),
        date_format($"day", "yyyy-MM-dd").as("day"), $"y",
        round($"fit", 6).as("fit"))
      .orderBy($"event_type", $"day")
  }

  /** B53 Engle-Granger COINTEGRATION test on the click/view daily
    * pair (Engle & Granger 1987 — "do these two trending series share
    * a common stochastic trend?", the gate between spurious and real
    * long-run regressions; complements B45's Granger F which tests
    * short-run lead-lag): step 1 fits y = α + βx by OLS from exact
    * decimal(38,0) moments (the B45 recipe — counts are integers, so
    * the centered covariances are exact and α/β are one pinned IEEE
    * sequence); step 2 runs the no-constant Dickey-Fuller regression
    * Δe_t = ρ·e_{t−1} on the RESIDUALS e_t = y − α − βx over
    * consecutive-day pairs, flagging ρ/se(ρ) against the 5%
    * Engle-Granger critical value −3.34 (estimated-intercept case).
    *
    * Residuals are floats, so Σe²ₜ₋₁ / Σeₜ₋₁Δe / ΣΔe² fold in pinned
    * DAY order via one sorted-array left fold per sum (the B18
    * precedent — n ≈ observation-window days, driver-free); each
    * per-row term is the identical IEEE expression in both engines.
    * Degenerate inputs (zero x-variance, perfect fit, n < 4) null
    * explicitly. One events scan → daily grid → one aggregate. */
  def cointegration(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val pts = clickViewDaily(events)
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val m = pts.agg(count(lit(1)).as("n"),
      sum(dec($"x")).as("sx"), sum(dec($"y")).as("sy"),
      sum(dec($"x") * $"x").as("sxx"), sum(dec($"x") * $"y").as("sxy"),
      sort_array(collect_list(struct($"day", $"x", $"y"))).as("ps"))
    val nD = $"n".cast("decimal(38,0)")
    val cxx = (nD * $"sxx" - $"sx" * $"sx").cast("double")
    val cxy = (nD * $"sxy" - $"sx" * $"sy").cast("double")
    val withFit = m
      .withColumn("beta", when(cxx =!= 0.0, cxy / cxx))
      .withColumn("alpha", when(cxx =!= 0.0,
        ($"sy".cast("double") - $"beta" * $"sx".cast("double")) /
          $"n".cast("double")))
    // residual frame in pinned day order; lag pairs restricted to
    // consecutive days (the B47/B50 gap posture), then three ordered
    // double folds — one per sufficient statistic of the DF step
    val res = withFit.withColumn("es", expr(
      """transform(ps, p -> struct(p.day as day,
        |  cast(p.y as double) - alpha - beta * cast(p.x as double) as e))
        |""".stripMargin.replace("\n", " ")))
    val terms = res.withColumn("ts", expr(
      """filter(transform(es, (p, i) -> struct(
        |  CASE WHEN i > 0 AND datediff(p.day, es[i-1].day) = 1
        |    THEN es[i-1].e * es[i-1].e END as t_den,
        |  CASE WHEN i > 0 AND datediff(p.day, es[i-1].day) = 1
        |    THEN es[i-1].e * (p.e - es[i-1].e) END as t_num,
        |  CASE WHEN i > 0 AND datediff(p.day, es[i-1].day) = 1
        |    THEN (p.e - es[i-1].e) * (p.e - es[i-1].e) END as t_dd)),
        |  t -> t.t_den IS NOT NULL)""".stripMargin.replace("\n", " ")))
      .withColumn("np", expr("size(ts)").cast("long"))
      .withColumn("sden", expr(
        "aggregate(ts, 0D, (a, t) -> a + t.t_den)"))
      .withColumn("snum", expr(
        "aggregate(ts, 0D, (a, t) -> a + t.t_num)"))
      .withColumn("sdd", expr(
        "aggregate(ts, 0D, (a, t) -> a + t.t_dd)"))
    terms
      .withColumn("rho", when($"sden" > 0.0, $"snum" / $"sden"))
      .withColumn("sse", when($"sden" > 0.0,
        $"sdd" - $"snum" * $"snum" / $"sden"))
      .withColumn("s2", when($"np" > 1,
        $"sse" / ($"np".cast("double") - 1.0)))
      .withColumn("tstat", when($"s2" > 0.0,
        $"rho" / sqrt($"s2" / $"sden")))
      .select($"n".as("n_days"), $"np".as("n_pairs"),
        round($"alpha", 4).as("alpha"), round($"beta", 6).as("beta"),
        round($"rho", 6).as("rho"), round($"tstat", 4).as("tstat"),
        when($"tstat".isNotNull, ($"tstat" < -3.34).cast("long"))
          .as("cointegrated"))
  }

  /** B54 two-group LOG-RANK test (Mantel 1966 — "do these two
    * cohorts churn at the same rate?", the hypothesis test behind
    * B33's Kaplan-Meier curves; the deterministic user_id parity
    * split stands in for a real treatment flag): at every distinct
    * event time, O/E contributions from the standard hypergeometric
    * moments — e₁ = d·n₁/n, v = d·(n₁/n)(1−n₁/n)(n−d)/(n−1) — and
    * χ² = (O₁−E₁)²/V against the 1-df 5% critical value 3.841.
    *
    * Lifetimes/censoring are B33's exact integer construction;
    * at-risk counts are suffix sums over the tiny distinct-lifetime
    * frame; each time's e₁/v term is one identical IEEE expression
    * (integer inputs), and the two float sums fold in pinned
    * t_hours order via sorted-array left folds. Single-time-point
    * degenerate frames (v = 0) null the statistic explicitly. */
  def logRank(events: DataFrame, censorHours: Int = 6): DataFrame = {
    import events.sparkSession.implicits._
    val users = lifetimes(events, censorHours, ($"user_id" % 2).as("grp"))
    val hist = users.groupBy($"t_hours")
      .agg(count(lit(1)).as("n_at"),
        sum(when($"grp" === 1, 1L).otherwise(0L)).as("n1_at"),
        sum(when($"churned", 1L).otherwise(0L)).as("d_events"),
        sum(when($"churned" && $"grp" === 1, 1L).otherwise(0L))
          .as("d1_events"))
    val wSuffix = Window.orderBy($"t_hours")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val risk = hist
      .withColumn("n_risk", sum($"n_at").over(wSuffix))
      .withColumn("n1_risk", sum($"n1_at").over(wSuffix))
      .filter($"d_events" > 0 && $"n_risk" > 1)
    val folded = risk
      .select(struct($"t_hours",
        ($"d_events".cast("double") * $"n1_risk" / $"n_risk").as("e1"),
        ($"d_events".cast("double") *
          ($"n1_risk".cast("double") / $"n_risk") *
          (lit(1.0) - $"n1_risk".cast("double") / $"n_risk") *
          ($"n_risk" - $"d_events").cast("double") /
          ($"n_risk" - 1).cast("double")).as("v")).as("tv"),
        $"d1_events")
      .agg(count(lit(1)).as("n_times"),
        sum($"d1_events").as("o1"),
        sort_array(collect_list($"tv")).as("tvs"))
      .withColumn("e1", expr("aggregate(tvs, 0D, (a, t) -> a + t.e1)"))
      .withColumn("v", expr("aggregate(tvs, 0D, (a, t) -> a + t.v)"))
    val n1 = users.agg(
      sum(when($"grp" === 1, 1L).otherwise(0L)).as("n_grp1"),
      sum(when($"grp" === 0, 1L).otherwise(0L)).as("n_grp0"))
    folded.crossJoin(n1)
      .withColumn("chi2", when($"v" > 0.0,
        ($"o1".cast("double") - $"e1") *
          ($"o1".cast("double") - $"e1") / $"v"))
      .select($"n_grp0", $"n_grp1", $"n_times", $"o1",
        round($"e1", 4).as("e1"), round($"chi2", 4).as("chi2"),
        when($"chi2".isNotNull, ($"chi2" > 3.841).cast("long"))
          .as("significant"))
  }

  /** B55 Benjamini-Hochberg FDR correction over the per-type
    * Mann-Kendall battery (Benjamini & Hochberg 1995 — the
    * multiple-testing discipline ANY per-segment screen needs once
    * "per event type" becomes "per thousand segments": raw 5%
    * thresholds fire spuriously at scale): two-sided p from the B34
    * continuity-corrected z via the Abramowitz-Stegun 26.2.17
    * polynomial tail (the SAME literal-coefficient formula in both
    * engines — Φ has no closed form, so the approximation IS the
    * spec), then p_adj(i) = min_{r≥i}(p(r)·m/r) by a suffix-min
    * window over the ascending-(p, type) rank, rejected at q = 0.05.
    *
    * The battery frame is segment-sized (one row per type), so every
    * window here is tiny; the MK core is B34's exact integer S/Var.
    * Ranks compare identically-computed doubles — bit-equal in both
    * engines, ties broken by event_type. */
  def fdrBh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // recompute the UNROUNDED z (B34 exports round-6): same exact
    // integer core, one pinned scalar tail
    val zed = mkPValues(s, dir)
    val mTests = Window.partitionBy()
    val wRank = Window.orderBy($"p_two", $"event_type")
    val wSuffix = Window.orderBy($"rk")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    zed
      .withColumn("m", count(lit(1)).over(mTests))
      .withColumn("rk", row_number().over(wRank).cast("long"))
      .withColumn("p_adj", least(lit(1.0), min(
        $"p_two" * $"m".cast("double") / $"rk".cast("double"))
        .over(wSuffix)))
      .select($"event_type", $"s_stat", round($"z_unr", 6).as("z_score"),
        round($"p_two", 6).as("p_two"), $"rk",
        round($"p_adj", 6).as("p_adj"),
        ($"p_adj" < 0.05).cast("long").as("reject"))
      .orderBy($"rk")
  }

  /** B88 BENJAMINI-YEKUTIELI FDR (the B55 step-up under ARBITRARY
    * dependence — BH's guarantee needs independence/PRDS; when the
    * per-type trend tests share regime shocks, the safe control
    * multiplies the threshold by the harmonic factor
    * c(m) = Σ₁..m 1/i, BY 2001): identical Mann-Kendall p machinery
    * as B55, p_adj = min suffix(p·m·c(m)/rank). c(m) folds the
    * m-term harmonic sum in PINNED ascending order (both engines'
    * ordered list fold). Reading B55 next to B88 shows the price of
    * dependence-robustness directly: c(5) ≈ 2.28× looser. */
  def fdrBy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val zed = mkPValues(s, dir)
    val mTests = Window.partitionBy()
    val wRank = Window.orderBy($"p_two", $"event_type")
    val wSuffix = Window.orderBy($"rk")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    zed
      .withColumn("m", count(lit(1)).over(mTests))
      .withColumn("cm", expr(
        "aggregate(sequence(1, int(m)), 0D, (a, i) -> a + 1.0 / double(i))"))
      .withColumn("rk", row_number().over(wRank).cast("long"))
      .withColumn("p_adj", least(lit(1.0), min(
        $"p_two" * $"m".cast("double") * $"cm" / $"rk".cast("double"))
        .over(wSuffix)))
      .select($"event_type", $"s_stat",
        round($"p_two", 6).as("p_two"), $"rk",
        round($"cm", 6).as("c_m"),
        round($"p_adj", 6).as("p_adj"),
        ($"p_adj" < 0.05).cast("long").as("reject"))
      .orderBy($"rk")
  }

  /** B56 spectral ENTROPY per event type (the one-number regularity
    * summary of B44's periodogram — ≈0 a single dominant cycle, →1
    * white noise; the "is there ANY rhythm worth modeling" screen
    * run before paying for the seasonal ladder, and the standard
    * tsfresh/catch22-style feature): normalized Shannon entropy
    * H = −Σ p_k ln p_k / ln(K) over the periodogram power
    * distribution p_k = I_k/ΣI, plus the dominant harmonic.
    *
    * Built ON the B44 EXPORT: powers are the round-4 doubles both
    * engines already agree on bit-for-bit, so the entropy tail —
    * k-ordered total fold, per-term (p·ln p) with zero-power terms
    * contributing 0 by convention, one ln(K) normalization — is the
    * only new float work (ln is libm both engines, round-6 export;
    * the F18/F24 precedent). All-zero spectra (flat series) and
    * K = 1 null explicitly. Frames are harmonic-count-sized. */
  def spectralEntropy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val per = periodogramOn(dailyCounts(s, dir))
    per.groupBy($"event_type")
      .agg(count(lit(1)).as("kmax"), max($"n").as("n_days"),
        sort_array(collect_list(struct($"k", $"power"))).as("ps"),
        min(when($"rank" === 1, $"k")).as("peak_k"))
      .withColumn("tp", expr("aggregate(ps, 0D, (acc, x) -> acc + x.power)"))
      .withColumn("h", when($"tp" > 0.0 && $"kmax" > 1, expr(
        """-aggregate(ps, 0D, (acc, x) -> acc +
          |  (CASE WHEN x.power > 0 THEN (x.power / tp) * ln(x.power / tp)
          |   ELSE 0D END)) / ln(cast(kmax as double))"""
          .stripMargin.replace("\n", " "))))
      .select($"event_type", $"n_days", $"kmax", $"peak_k",
        round($"tp", 4).as("total_power"),
        round($"h", 6).as("spec_entropy"))
      .orderBy($"event_type")
  }

  /** B57 DIFFERENCE-IN-DIFFERENCES event study (Card/Krueger shape —
    * the causal upgrade of B5's shock simulation: B5 ASSERTS a shock
    * and replays it, DiD MEASURES one from observed panels by
    * differencing away both the group gap and the common time trend):
    * treatment = urgent/high-priority orders, event = the 1995-01-01
    * cutoff the B41 seasonal pair already anchors on, outcome =
    * order value in exact cents. The 2×2 cell estimator
    * δ = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre) with the
    * unequal-variance SE √(Σ s²_g/n_g) over the four cells and a
    * z-flag at 1.96.
    *
    * All four cells' Σy and Σy² are EXACT BIGINT cent sums (one
    * map-side-combined aggregate, 4 rows); means, variances
    * (n·Σy² − (Σy)² exact decimal), δ, SE, z are ONE pinned IEEE
    * scalar sequence — the A40/B50 posture. Degenerate cells
    * (n < 2) null explicitly. */
  def didEventStudy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cells = Tables.orders(s, dir)
      .select(
        ($"o_orderpriority".isin("1-URGENT", "2-HIGH")).as("treated"),
        ($"o_orderdate" >= lit("1995-01-01")).as("post"),
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .groupBy($"treated", $"post")
      .agg(count(lit(1)).as("n"), sum($"cents").as("s"),
        sum($"cents".cast("decimal(38,0)") * $"cents").as("ss"))
    def cell(t: Boolean, p: Boolean, c: String) =
      max(when($"treated" === t && $"post" === p, col(c)))
    val wide = cells.agg(
      cell(true, false, "n").as("n_t0"), cell(true, false, "s").as("s_t0"),
      cell(true, false, "ss").as("ss_t0"),
      cell(true, true, "n").as("n_t1"), cell(true, true, "s").as("s_t1"),
      cell(true, true, "ss").as("ss_t1"),
      cell(false, false, "n").as("n_c0"), cell(false, false, "s").as("s_c0"),
      cell(false, false, "ss").as("ss_c0"),
      cell(false, true, "n").as("n_c1"), cell(false, true, "s").as("s_c1"),
      cell(false, true, "ss").as("ss_c1"))
    def mean(n: String, s0: String) =
      col(s0).cast("double") / col(n).cast("double")
    // sample variance from exact centered decimals: (n·ss − s²)/(n(n−1))
    def v(n: String, s0: String, ss: String) =
      when(col(n) > 1,
        (col(n).cast("decimal(38,0)") * col(ss) -
          col(s0).cast("decimal(38,0)") * col(s0)).cast("double") /
          (col(n).cast("double") * (col(n).cast("double") - 1.0)))
    val did = (mean("n_t1", "s_t1") - mean("n_t0", "s_t0")) -
      (mean("n_c1", "s_c1") - mean("n_c0", "s_c0"))
    val se = sqrt(
      v("n_t1", "s_t1", "ss_t1") / col("n_t1").cast("double") +
        v("n_t0", "s_t0", "ss_t0") / col("n_t0").cast("double") +
        v("n_c1", "s_c1", "ss_c1") / col("n_c1").cast("double") +
        v("n_c0", "s_c0", "ss_c0") / col("n_c0").cast("double"))
    wide.select($"n_t0", $"n_t1", $"n_c0", $"n_c1",
      round(mean("n_t1", "s_t1") - mean("n_t0", "s_t0"), 4)
        .as("delta_treated"),
      round(mean("n_c1", "s_c1") - mean("n_c0", "s_c0"), 4)
        .as("delta_control"),
      round(did, 4).as("did_cents"),
      round(did / se, 4).as("z"),
      when(se.isNotNull && (se > 0.0),
        (abs(did / se) > 1.96).cast("long")).as("significant"))
  }

  /** B58 NELSON-AALEN cumulative hazard (Aalen 1978 — the
    * nonparametric hazard companion of B33's Kaplan-Meier survival:
    * S(t) multiplies survival fractions, H(t) sums instantaneous
    * risks d/n; the two are linked by S ≈ e^−H, and hazard SLOPES
    * localize when churn risk spikes where the survival curve only
    * shows the cumulative toll): over B33's exact lifetime/censor
    * construction, H(t) = Σ_{u≤t} d_u/n_u with the same suffix
    * at-risk sums.
    *
    * The running sum folds per row over the tiny distinct-lifetime
    * frame in pinned t_hours order (the B33 quadratic-fold shape —
    * frame-bounded, not corpus-bounded); each d/n term is one IEEE
    * division of exact integers. Round-6 export. */
  def nelsonAalen(events: DataFrame, censorHours: Int = 6): DataFrame = {
    import events.sparkSession.implicits._
    riskEvents(events, censorHours)
      .withColumn("h_na", round(
        aggregate(expr("filter(evs, e -> e.td <= t_hours)"),
          lit(0.0), (acc, x) => acc +
            x("de").cast("double") / x("nr").cast("double")), 6))
      .select($"t_hours", $"n_risk", $"d_events", $"h_na")
      .orderBy($"t_hours")
  }

  /** B59 TURNING-POINT test per event type (Kendall's classic
    * randomness screen, the third of the nonparametric trio with
    * B34's Mann-Kendall trend and A44's runs test — MK asks "is it
    * drifting", runs asks "are signs clumping", this asks "is it too
    * SMOOTH or too jagged": an i.i.d. series has E[T] = 2(n−2)/3
    * interior extrema, Var = (16n−29)/90; too few says trend/cycle,
    * too many says negative autocorrelation): strict local extrema
    * from EXACT integer comparisons (a tie with either neighbor is
    * not a turning point — stated, and identical in both engines),
    * z = (T − μ)/σ rounded at export. One window pass per type over
    * the daily frame, one aggregate. */
  def turningPoints(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val pts = perTypeDaily(events)
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val t = pts
      .withColumn("p", lag($"y", 1).over(w))
      .withColumn("f", lead($"y", 1).over(w))
      .withColumn("tp", when($"p".isNotNull && $"f".isNotNull &&
        (($"p" < $"y" && $"y" > $"f") || ($"p" > $"y" && $"y" < $"f")),
        1L).otherwise(0L))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"), sum($"tp").as("n_turning"))
    val nD = $"n_days".cast("double")
    t.select($"event_type", $"n_days", $"n_turning",
        when($"n_days" >= 3, round(
          ($"n_turning".cast("double") - lit(2.0) * (nD - 2.0) / 3.0) /
            sqrt((lit(16.0) * nD - 29.0) / 90.0), 4)).as("z"))
      .orderBy($"event_type")
  }

  /** The `xType` and `yType` daily counts paired by day (`day`, `x`,
    * `yv`): the two-series frame of B65, B79, B80 and B84. */
  private def pairedDays(events: DataFrame, xType: String,
      yType: String): DataFrame = {
    import events.sparkSession.implicits._
    val d = perTypeDaily(events)
    d.filter($"event_type" === xType)
      .select($"day", $"y".as("x"))
      .join(d.filter($"event_type" === yType)
        .select($"day", $"y".as("yv")), "day")
  }

  /** B60 CHOW structural-break F-test per event type (Chow 1960 —
    * the "did the regime change at a KNOWN point" companion of B36's
    * search for an UNKNOWN break; the capacity analyst's "did the
    * trend really change at the migration"): OLS y ~ a + b·t on the
    * day-ordered series, pooled vs split at the midpoint k = n div 2
    * (engine-independent break), F = ((SSEp − SSE1 − SSE2)/2) /
    * ((SSE1+SSE2)/(n−4)).
    *
    * Exactness: per-segment moment sums are exact BIGINTs; the
    * centered forms M_tt/M_ty/M_yy stay integer; each SSE's
    * cross-product (M_yy·M_tt − M_ty²) is decimal(38,0) == HUGEINT
    * (int64 would wrap at ~400-day × 3000-count scale squared), then
    * ONE decimal→double cast per SSE and the F tail is one pinned
    * IEEE sequence. Degenerate inputs (n < 8, zero t-variance in a
    * segment, perfect pooled fit) null explicitly. */
  def chowBreak(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val pts = perTypeDaily(events)
      .withColumn("t", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy($"event_type")))
      .withColumn("k", expr("n div 2"))
    def seg(cond: org.apache.spark.sql.Column, tag: String) = Seq(
      sum(when(cond, 1L).otherwise(0L)).as(s"n$tag"),
      sum(when(cond, $"t").otherwise(0L)).as(s"st$tag"),
      sum(when(cond, $"y").otherwise(0L)).as(s"sy$tag"),
      sum(when(cond, $"t" * $"t").otherwise(0L)).as(s"stt$tag"),
      sum(when(cond, $"t" * $"y").otherwise(0L)).as(s"sty$tag"),
      sum(when(cond, $"y" * $"y").otherwise(0L)).as(s"syy$tag"))
    val aggs = seg(lit(true), "p") ++ seg($"t" <= $"k", "1") ++
      seg($"t" > $"k", "2") :+ max($"k").as("k")
    var a = pts.groupBy($"event_type").agg(aggs.head, aggs.tail: _*)
    for (tag <- Seq("p", "1", "2")) {
      val (n, st, sy, stt, sty, syy) = (col(s"n$tag"), col(s"st$tag"),
        col(s"sy$tag"), col(s"stt$tag"), col(s"sty$tag"), col(s"syy$tag"))
      a = a
        .withColumn(s"mtt$tag", n * stt - st * st)
        .withColumn(s"mty$tag", n * sty - st * sy)
        .withColumn(s"myy$tag", n * syy - sy * sy)
        .withColumn(s"sse$tag",
          when(col(s"mtt$tag") =!= 0L,
            (col(s"myy$tag").cast("decimal(38,0)") * col(s"mtt$tag") -
              col(s"mty$tag").cast("decimal(38,0)") * col(s"mty$tag"))
              .cast("double") /
              (n * col(s"mtt$tag")).cast("double")))
    }
    a.select($"event_type", $"np".as("n_days"), $"k".as("break_t"),
        when($"np" >= 8L && $"sse1".isNotNull && $"sse2".isNotNull &&
            $"ssep".isNotNull && ($"sse1" + $"sse2") > 0.0,
          round((($"ssep" - $"sse1" - $"sse2") / lit(2.0)) /
            (($"sse1" + $"sse2") / ($"np" - 4L).cast("double")), 4))
          .as("chow_f"))
      .orderBy($"event_type")
  }

  /** B61 AR(1) MEAN-REVERSION HALF-LIFE per event type — B17's φ
    * turned into the number an operator quotes ("shocks to this
    * series decay by half in h days"; φ ≥ 1 or ≤ 0 ⇒ no mean
    * reversion, null): φ by closed-form OLS over consecutive-day lag
    * pairs (the B17 exact-integer moments verbatim), h = ln 2 /
    * (−ln φ) rounded at export (libm ln both engines — the F16/A54
    * precedent). */
  def halflife(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val pts = perTypeDaily(events)
      .withColumn("py", lag($"y", 1).over(w))
      .withColumn("pd", lag($"day", 1).over(w))
      .filter(datediff($"day", $"pd") === 1)
    pts.groupBy($"event_type")
      .agg(count(lit(1)).as("n_pairs"), sum($"py").as("sp"),
        sum($"y").as("sc"), sum($"py" * $"py").as("spp"),
        sum($"py" * $"y").as("spc"))
      .filter($"n_pairs" >= 2L &&
        ($"n_pairs" * $"spp" - $"sp" * $"sp") =!= 0L)
      .withColumn("ar1_phi",
        ($"n_pairs" * $"spc" - $"sp" * $"sc").cast("double") /
          ($"n_pairs" * $"spp" - $"sp" * $"sp").cast("double"))
      .select($"event_type", $"n_pairs", $"ar1_phi",
        when($"ar1_phi" > 0.0 && $"ar1_phi" < 1.0,
          round(lit(math.log(2.0)) / -log($"ar1_phi"), 4))
          .as("halflife_days"))
      .orderBy($"event_type")
  }

  /** B62 CROSTON intermittent-demand forecast, SBA variant (Croston
    * 1972; Syntetos-Boylan 2005 bias correction — the forecaster for
    * SPARSE count series where B16-B21's smoothers see mostly zeros
    * and forecast the zeros): two coupled EWMAs over the DEMAND
    * points only — smoothed demand size z and smoothed inter-arrival
    * interval p (calendar-day gaps between demand days) — with
    * SBA = (1−α/2)·z/p. Init z = first demand, p = 1 (the
    * dense-series prior; textbook inits vary by implementation — the
    * graded contract is the recursion, spec-pinned). The fold is one
    * functional `aggregate` per type over the day-sorted demand list
    * (demand-count-bounded, never corpus-bounded), twinned by a
    * recursive CTE running the textually identical updates (the B18
    * aliasing precedent); α as a shared short literal. */
  def croston(events: DataFrame, alpha: Double = 0.1): DataFrame = {
    import events.sparkSession.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val pts = perTypeDaily(events)
      .withColumn("gap",
        datediff($"day", lag($"day", 1).over(w)).cast("double"))
    val a = alpha
    pts.groupBy($"event_type")
      .agg(count(lit(1)).as("n_demands"),
        array_sort(collect_list(struct($"day".as("d"),
          $"y".cast("double").as("y"), $"gap".as("g")))).as("obs"))
      .filter($"n_demands" >= 2)
      .withColumn("st", expr(
        s"""aggregate(slice(obs, 2, size(obs) - 1),
           |  named_struct('z', element_at(obs, 1).y,
           |    'p', cast(1.0 as double)),
           |  (acc, x) -> named_struct(
           |    'z', acc.z + $a * (x.y - acc.z),
           |    'p', acc.p + $a * (x.g - acc.p)))""".stripMargin))
      .select($"event_type", $"n_demands",
        round($"st.z", 6).as("z_size"),
        round($"st.p", 6).as("p_interval"),
        round(lit(1.0 - a / 2) * $"st.z" / $"st.p", 6).as("sba_forecast"))
      .orderBy($"event_type")
  }

  /** B66 GARCH(1,1) VOLATILITY FILTER per event type (Bollerslev
    * 1986 — the conditional-variance lens the B22/B31 constant-σ
    * monitors lack: after a burst, tomorrow's "normal" band should
    * be WIDER, then decay; GARCH carries exactly that memory):
    * σ²_t = ω + α·ε²_{t−1} + β·σ²_{t−1} filtered with FIXED
    * (α, β) = (0.1, 0.8) over the demeaned day-ordered series —
    * parameter filtering, not MLE (stated; the MLE is a solver, the
    * filter is the deployable monitor). ω = (1−α−β)·Var targets the
    * unconditional variance.
    *
    * Exactness: μ and Var come from exact BIGINT moments in one
    * division each; the fold carries (σ², max, prev) through ONE
    * `aggregate` with every update textually mirrored by the
    * recursive-CTE twin (the B27 Kalman contract), and even the ω
    * coefficient is written as the EXPRESSION (1.0 − α − β) in both
    * engines — 1−0.9 is not the double 0.1, so a pre-folded literal
    * would diverge in the last ulp. */
  def garch(events: DataFrame, alpha: Double = 0.1,
      beta: Double = 0.8): DataFrame = {
    import events.sparkSession.implicits._
    val a = alpha; val b = beta
    val daily = perTypeDaily(events)
    val agg = daily.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"y").as("s"),
        sum($"y" * $"y").as("q"),
        expr("array_sort(collect_list(struct(day, " +
          "cast(y as double) as yd)))").as("obs"))
      .filter($"n" >= 3L && ($"n" * $"q" - $"s" * $"s") > 0L)
    agg
      .withColumn("v", expr("transform(obs, o -> o.yd)"))
      .withColumn("mu", $"s".cast("double") / $"n".cast("double"))
      .withColumn("var0", ($"n" * $"q" - $"s" * $"s").cast("double") /
        ($"n" * ($"n" - 1L)).cast("double"))
      .withColumn("om", expr(s"(1.0 - $a - $b) * var0"))
      .withColumn("st", expr(
        s"""aggregate(slice(v, 2, size(v) - 1),
           |  named_struct('s2', var0, 'mx', var0,
           |    'pv', element_at(v, 1)),
           |  (acc, x) -> named_struct(
           |    's2', om + $a * (acc.pv - mu) * (acc.pv - mu)
           |      + $b * acc.s2,
           |    'mx', greatest(acc.mx,
           |      om + $a * (acc.pv - mu) * (acc.pv - mu)
           |      + $b * acc.s2),
           |    'pv', x))""".stripMargin))
      .select($"event_type", $"n".as("n_days"),
        round($"var0", 6).as("var_uncond"),
        round($"st.s2", 6).as("sigma2_last"),
        round($"st.mx", 6).as("sigma2_max"))
      .orderBy($"event_type")
  }

  /** B67 SHEWHART individuals CONTROL CHART per event type (the
    * X-mR chart — SPC's "is the process stable" readout, SRE'd:
    * limits from the MOVING RANGE rather than the global σ, because
    * a trending series inflates σ and hides its own excursions where
    * the mR catches only step noise): center = ȳ, limits =
    * ȳ ± 2.66·M̄R (the d2-derived individuals constant), violations
    * and the western-electric "8 consecutive on one side" runs
    * signal. ȳ and M̄R are one exact-integer division each; limit
    * comparisons are between the same IEEE doubles in both engines;
    * the runs signal is an EXACT integer window predicate. */
  def controlChart(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val pts = perTypeDaily(events)
      .withColumn("py", lag($"y", 1).over(w))
      .withColumn("mr", abs($"y" - $"py"))
    val stats = pts.groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"), sum($"y").as("s"),
        count($"mr").as("n_mr"), sum($"mr").as("smr"))
      .filter($"n_mr" >= 1L && $"smr" >= 0L)
      .withColumn("ybar", $"s".cast("double") / $"n_days".cast("double"))
      .withColumn("mrbar", $"smr".cast("double") / $"n_mr".cast("double"))
      .withColumn("ucl", $"ybar" + lit(2.66) * $"mrbar")
      .withColumn("lcl", $"ybar" - lit(2.66) * $"mrbar")
    val flagged = pts.join(stats.select($"event_type", $"n_days".as("nn"),
        $"s".as("ss"), $"ybar", $"ucl", $"lcl"), "event_type")
      .withColumn("viol",
        when($"y".cast("double") > $"ucl" ||
          $"y".cast("double") < $"lcl", 1L).otherwise(0L))
      // western-electric run rule on the EXACT integer side signal:
      // y > ȳ ⟺ y·n > Σy cross-multiplied (never a float decision —
      // the B22/B31 posture); 8-in-a-row via one keyed window sum
      .withColumn("side",
        when($"y" * $"nn" > $"ss", 1L).otherwise(0L))
    val runs = flagged
      .withColumn("run8", sum($"side").over(
        w.rowsBetween(-7, Window.currentRow)))
      .withColumn("runflag",
        when($"run8" === 8L || $"run8" === 0L, 1L).otherwise(0L))
      .withColumn("rn", row_number().over(w))
      .withColumn("runhit", when($"rn" >= 8 && $"runflag" === 1L, 1L)
        .otherwise(0L))
    runs.groupBy($"event_type")
      .agg(max($"ybar").as("b"), max($"ucl").as("u"), max($"lcl").as("l"),
        count(lit(1)).as("nd"), sum($"viol").as("n_viol"),
        sum($"runhit").as("n_run_signals"))
      .select($"event_type", $"nd".as("n_days"), round($"b", 6).as("ybar"),
        round($"u", 6).as("ucl"), round($"l", 6).as("lcl"),
        $"n_viol", $"n_run_signals")
      .orderBy($"event_type")
  }

  /** B63 POISSON OVERDISPERSION index per event type (the
    * variance-to-mean ratio + its chi-square dispersion statistic —
    * the 30-second "is a Poisson model even admissible" gate before
    * anyone fits rates to count data; VMR ≫ 1 says bursty/clustered
    * arrivals, ≪ 1 says regularized): VMR = s²/ȳ collapses to ONE
    * division of exact integers, (nΣy²−S²)/((n−1)·S), and the flag
    * is the EXACT integer predicate nΣy²−S² > (n−1)·S — no float in
    * the decision anywhere (the B22/B31 posture). */
  def dispersion(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    perTypeDaily(events)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"), sum($"y").as("s"),
        sum($"y" * $"y").as("q"))
      .filter($"n_days" >= 2L && $"s" > 0L)
      .select($"event_type", $"n_days", $"s".as("total"),
        (($"n_days" * $"q" - $"s" * $"s").cast("double") /
          (($"n_days" - 1L) * $"s").cast("double")).as("vmr"),
        (($"n_days" * $"q" - $"s" * $"s") > ($"n_days" - 1L) * $"s")
          .cast("long").as("overdispersed"))
      .orderBy($"event_type")
  }

  /** B64 GUMBEL block-maxima fit per event type (extreme-value
    * method-of-moments — the capacity-planning question B40's VaR
    * can't answer: VaR reads the HISTORICAL tail, EVT extrapolates
    * PAST it to "the worst month in a year": monthly maxima of the
    * daily count, β̂ = s·√6/π, μ̂ = x̄ − γβ̂, 12-block return level
    * μ̂ − β̂·ln(−ln(1 − 1/12))): moment sums exact BIGINTs, the
    * β/μ/return tail ONE pinned IEEE sequence with √6/π and Euler γ
    * as shared literals (the B55 literal-coefficient contract),
    * rounded at export. <3 blocks or zero variance null. */
  def gumbelFit(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val blocks = perTypeDaily(events)
      .groupBy($"event_type", date_format($"day", "yyyy-MM").as("blk"))
      .agg(max($"y").as("x"))
    blocks.groupBy($"event_type")
      .agg(count(lit(1)).as("n_blocks"), sum($"x").as("s"),
        sum($"x" * $"x").as("q"))
      .withColumn("varn", $"n_blocks" * $"q" - $"s" * $"s")
      .withColumn("sdev",
        when($"n_blocks" >= 3L && $"varn" > 0L,
          sqrt($"varn".cast("double") /
            ($"n_blocks" * ($"n_blocks" - 1L)).cast("double"))))
      .withColumn("beta", $"sdev" * lit(0.7796968012336761))
      .withColumn("mu",
        $"s".cast("double") / $"n_blocks".cast("double") -
          lit(0.5772156649015329) * $"beta")
      .select($"event_type", $"n_blocks",
        round($"beta", 4).as("gumbel_beta"),
        round($"mu", 4).as("gumbel_mu"),
        round($"mu" - $"beta" * log(-log(lit(0.9166666666666666))), 4)
          .as("ret_level_12"))
      .orderBy($"event_type")
  }

  /** B65 KENDALL τ-b between the click and view daily series (the
    * rank-correlation sibling of A43's Spearman — τ counts pairwise
    * ORDER agreements, so one wild day moves it by at most 1/n₀
    * where a Pearson r follows the outlier; τ-b's tie correction
    * keeps low-count days honest): concordant/discordant/tied from
    * EXACT integer sign comparisons over the day-pair frame
    * (days² ≈ 10⁵ pairs — grid-sized, never event-row-sized; the
    * B28 frame-bound argument), τ = (C−D)/√((n₀−n₁)(n₀−n₂)) as the
    * single float tail. */
  def kendallTau(events: DataFrame, xType: String = "click",
      yType: String = "view"): DataFrame = {
    import events.sparkSession.implicits._
    // day-grid-sized and consumed by BOTH sides of the pair join:
    // checkpointed so the corpus is scanned twice total, not 8×
    val xy = pairedDays(events, xType, yType)
      .localCheckpoint()
    // the day grid is frame-bounded (days², never event rows), so the
    // inequality self-join broadcasts one side — a declared
    // BroadcastNestedLoopJoin over a tiny frame, not an accidental
    // CartesianProduct over the corpus (the plan gate forbids the
    // latter everywhere)
    val pairs = xy.as("a").join(broadcast(xy.as("b")),
        col("a.day") < col("b.day"))
      .select((col("a.x") - col("b.x")).as("dx"),
        (col("a.yv") - col("b.yv")).as("dy"))
    pairs.agg(
        count(lit(1)).as("n_pairs"),
        sum(when($"dx" * $"dy" > 0L, 1L).otherwise(0L)).as("concordant"),
        sum(when($"dx" * $"dy" < 0L, 1L).otherwise(0L)).as("discordant"),
        sum(when($"dx" === 0L && $"dy" =!= 0L, 1L).otherwise(0L))
          .as("tied_x"),
        sum(when($"dy" === 0L && $"dx" =!= 0L, 1L).otherwise(0L))
          .as("tied_y"),
        sum(when($"dx" === 0L && $"dy" === 0L, 1L).otherwise(0L))
          .as("tied_xy"))
      .select($"n_pairs", $"concordant", $"discordant",
        when(($"n_pairs" - $"tied_x" - $"tied_xy") > 0L &&
            ($"n_pairs" - $"tied_y" - $"tied_xy") > 0L,
          round(($"concordant" - $"discordant").cast("double") /
            sqrt((($"n_pairs" - $"tied_x" - $"tied_xy") *
              ($"n_pairs" - $"tied_y" - $"tied_xy")).cast("double")), 6))
          .as("tau_b"))
  }

  /** B79 HOEFFDING'S D independence test between the daily click and
    * view series (Hoeffding 1948 — the nonparametric dependence
    * measure that, unlike B57's τ or Spearman, detects NON-MONOTONE
    * association: a U-shaped load↔latency coupling reads τ ≈ 0 but
    * D > 0; the B78 ξ is asymmetric where D is symmetric, so the
    * pair brackets the dependence question): with tie-free
    * permutation ranks r (by x then day) and s (by y then day — the
    * house tie-break-by-day convention, a documented jitter
    * variant), c_i = #(r_j < r_i ∧ s_j < s_i), D1 = Σc(c−1),
    * D2 = Σ(r−1)(r−2)(s−1)(s−2), D3 = Σ(r−2)(s−2)c, and
    * D = 30·[(n−2)(n−3)D1 + D2 − 2(n−2)D3] / [n(n−1)⋯(n−4)].
    *
    * Exactness: ranks, c_i and all three sums are exact integers
    * (sums in decimal(38,0) — D2 approaches n⁵); the export is ONE
    * cast-to-double division of exact integers, identical IEEE in
    * both engines. Shape: the day-grid frame ranks in one bounded
    * window pass, the bivariate dominance counts c_i come from ONE
    * broadcast inequality self-join of the day-grid frame (days²
    * pairs — frame-bounded, never event rows; the B57 posture), one
    * grouped count, one global aggregate. */
  def hoeffdingD(events: DataFrame, xType: String = "click",
      yType: String = "view"): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val xy = pairedDays(events, xType, yType)
    // day-grid-sized frame: the single-partition rank windows are
    // bounded by the calendar, not the corpus
    val ranked = xy.select($"day",
        row_number().over(Window.orderBy($"x", $"day")).cast("long")
          .as("r"),
        row_number().over(Window.orderBy($"yv", $"day")).cast("long")
          .as("s"))
      .localCheckpoint()
    val q = ranked.as("a").join(broadcast(ranked.as("b")),
        col("b.r") <= col("a.r") && col("b.s") <= col("a.s"))
      .groupBy(col("a.r").as("r"), col("a.s").as("s"))
      .agg((count(lit(1)) - 1L).as("c")) // j = i always matches
    q.agg(count(lit(1)).as("n"),
        sum(($"c" * ($"c" - 1L)).cast("decimal(38,0)")).as("d1x"),
        sum((($"r" - 1L) * ($"r" - 2L)).cast("decimal(38,0)") *
          (($"s" - 1L) * ($"s" - 2L)).cast("decimal(38,0)")).as("d2x"),
        sum((($"r" - 2L) * ($"s" - 2L)).cast("decimal(38,0)") * $"c")
          .as("d3x"))
      .select($"n", $"d1x".cast("long").as("d1"),
        $"d2x".cast("long").as("d2"), $"d3x".cast("long").as("d3"),
        round(
          (lit(30.0) * (($"n" - 2L) * ($"n" - 3L) * $"d1x" + $"d2x" -
            lit(2L) * ($"n" - 2L) * $"d3x").cast("double")) /
          (($"n" * ($"n" - 1L) * ($"n" - 2L) * ($"n" - 3L) *
            ($"n" - 4L)).cast("double")), 6).as("hoeffding_d"))
  }

  /** B80 WILCOXON SIGNED-RANK test on the paired daily click/view
    * series (Wilcoxon 1945 — the PAIRED companion of B41's
    * Mann-Whitney: not "do two cohorts differ" but "within each day,
    * does click systematically exceed view", which cancels the
    * shared daily-volume regime that swamps the unpaired test):
    * d = x − y per day, zeros DROPPED (the standard convention,
    * visible in n_nonzero), |d| ranked with ties broken by day (the
    * house jitter — permutation ranks, documented), W⁺ = Σ ranks of
    * positive d. W⁺, W⁻ and n stay integer; the export is
    * z = (W⁺ − n(n+1)/4)/√(n(n+1)(2n+1)/24), one IEEE sequence.
    * Shape: the day-grid frame, one bounded rank window, one
    * aggregate. */
  def wilcoxonSignedRank(events: DataFrame, xType: String = "click",
      yType: String = "view"): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val xy = pairedDays(events, xType, yType)
      .select($"day", ($"x" - $"yv").as("d"))
      .filter($"d" =!= 0L)
    val ranked = xy.select($"d",
      row_number().over(Window.orderBy(abs($"d"), $"day"))
        .cast("long").as("r"))
    ranked.agg(count(lit(1)).as("n_nonzero"),
        sum(when($"d" > 0L, $"r").otherwise(0L)).as("w_plus"),
        sum(when($"d" < 0L, $"r").otherwise(0L)).as("w_minus"))
      .select($"n_nonzero", $"w_plus", $"w_minus",
        round(($"w_plus".cast("double") -
          ($"n_nonzero" * ($"n_nonzero" + 1L)).cast("double") / 4.0) /
          sqrt(($"n_nonzero" * ($"n_nonzero" + 1L) *
            (lit(2L) * $"n_nonzero" + 1L)).cast("double") / 24.0), 6)
          .as("z"))
  }

  /** B81 GRUBBS' TEST per event type (Grubbs 1950 — the single-worst-
    * outlier test: B22's rolling z-score flags LOCAL spikes against a
    * moving window, Grubbs asks the GLOBAL question "is the most
    * extreme day of this whole series statistically an outlier", the
    * one-number answer an incident review wants): G = max|y − ȳ|/s.
    * Exactness: the argmax deviation is the exact INTEGER max|n·y−S|
    * (cross-multiplied mean — ties broken by day), s² = (nQ−S²)/
    * (n(n−1)) from exact decimal moments, and G = maxdev/(n·s) is
    * two IEEE ops at export. One aggregate + one argmax struct-max,
    * both map-side combinable. */
  def grubbsTest(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val d = perTypeDaily(events)
    val st = d.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"y").as("s"),
        sum($"y".cast("decimal(38,0)") * $"y").as("q"))
    d.join(st, "event_type")
      .select($"event_type", $"day", $"n", $"s", $"q",
        abs($"n" * $"y" - $"s").as("dev"))
      .groupBy($"event_type")
      .agg(max($"n").as("n"), max($"s").as("sv"), max($"q").as("qv"),
        max(struct($"dev", $"day")).as("b"))
      .select($"event_type", $"n", $"b.dev".as("max_dev_n"),
        // exported as VARCHAR: Spark DATE → pandas object vs
        // DuckDB DATE → datetime64 would dtype-mismatch the gate
        $"b.day".cast("string").as("at_day"),
        round($"b.dev".cast("double") /
          ($"n".cast("double") *
            sqrt(($"n" * $"qv" - $"sv".cast("decimal(38,0)") * $"sv")
              .cast("double") /
              ($"n" * ($"n" - 1L)).cast("double"))), 6).as("g"))
      .orderBy($"event_type")
  }

  /** B85 SEASONAL MANN-KENDALL per event type (Hirsch & Slack 1984 —
    * the B34 trend test de-seasonalized the nonparametric way:
    * comparisons run only WITHIN each calendar month across years,
    * so a December swell can never masquerade as a trend; the
    * standard water-quality/monitoring variant): S = Σ_m S_m over
    * month-local sign pairs, Var = Σ_m [n_m(n_m−1)(2n_m+5) −
    * Σ_t t(t−1)(2t+5)]/18 with the month-local tie correction, z
    * with the ±1 continuity shift. Every S_m, the variance
    * numerator, and the tie terms are exact integers (month sums are
    * order-free integer adds — no float fold at all); TWO IEEE ops
    * at export. Shape: one month-keyed pair self-join of the
    * day-grid frame (Σ_m n_m² pairs — calendar-bounded), one tie
    * aggregate, one per-type reduce. */
  def seasonalMannKendall(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val d = perTypeDaily(events)
      .select($"event_type", $"day", month($"day").as("mo"), $"y")
      .localCheckpoint() // pairs, counts and ties all read it
    val pairs = d.as("a").join(d.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.mo") === col("b.mo") && col("a.day") < col("b.day"))
      .groupBy(col("a.event_type").as("event_type"))
      .agg(sum(when(col("b.y") > col("a.y"), 1L)
        .when(col("b.y") < col("a.y"), -1L).otherwise(0L)).as("s"))
    val nm = d.groupBy($"event_type", $"mo")
      .agg(count(lit(1)).as("n"))
      .groupBy($"event_type")
      .agg(sum($"n" * ($"n" - 1L) * (lit(2L) * $"n" + 5L))
        .as("vn_raw"))
    val ties = d.groupBy($"event_type", $"mo", $"y")
      .agg(count(lit(1)).as("t"))
      .filter($"t" > 1L)
      .groupBy($"event_type")
      .agg(sum($"t" * ($"t" - 1L) * (lit(2L) * $"t" + 5L))
        .as("tie_term"))
    pairs.join(nm, "event_type")
      .join(ties, Seq("event_type"), "left")
      .select($"event_type", $"s",
        ($"vn_raw" - coalesce($"tie_term", lit(0L))).as("var18"))
      .select($"event_type", $"s", $"var18",
        round(
          when($"s" > 0L, ($"s" - 1L).cast("double"))
            .when($"s" < 0L, ($"s" + 1L).cast("double"))
            .otherwise(lit(0.0)) /
          sqrt($"var18".cast("double") / 18.0), 6).as("z"))
      .orderBy($"event_type")
  }

  /** B84 PAIRED PERMUTATION TEST on the daily click−view differences
    * (Fisher 1935's exact logic, Monte-Carlo'd — the workhorse that
    * needs NO distributional assumption at all: under H₀ each day's
    * difference is symmetric, so random sign flips generate the null;
    * p = share of flipped sums at least as extreme as the observed):
    * the 200 sign vectors come from an LCG bit — sign(k, i) = parity
    * of ((k·2654435761 + i·40503) mod 2³¹) — so the "random"
    * permutations are DETERMINISTIC, engine-exact, and the twin
    * replays them (the A76 RANSAC de-randomization move applied to
    * resampling; the bootstrap precedent is B77). T_obs and every
    * T_k are exact integer sums; p is one division at export.
    * Shape: the day-grid frame cross-joined with a 200-row
    * permutation frame (days·200 rows — calendar-bounded), one
    * grouped sum, one aggregate. */
  def permutationTest(events: DataFrame, xType: String = "click",
      yType: String = "view", nPerms: Int = 200): DataFrame = {
    import events.sparkSession.implicits._
    val spark = events.sparkSession
    val xy = pairedDays(events, xType, yType)
      .select(($"x" - $"yv").as("diff"),
        // a stable integer day index for the LCG bit
        datediff($"day", lit("1990-01-01").cast("date"))
          .cast("long").as("i"))
      .localCheckpoint() // T_obs AND the flip expansion read it
    val tObs = xy.agg(sum($"diff").as("t_obs"),
      count(lit(1)).as("n_days"))
    val perms = spark.range(1, nPerms + 1).select($"id".as("k"))
    val flipped = xy.crossJoin(perms)
      .select($"k",
        when(($"k" * 2654435761L + $"i" * 40503L) % 2147483648L % 2L
          === 0L, $"diff").otherwise(-$"diff").as("fd"))
      .groupBy($"k").agg(sum($"fd").as("tk"))
    flipped.crossJoin(broadcast(tObs))
      .agg(max($"n_days").as("n_days"), max($"t_obs").as("t_obs"),
        count(lit(1)).as("n_perms"),
        sum(when(abs($"tk") >= abs($"t_obs"), 1L).otherwise(0L))
          .as("n_extreme"))
      .select($"n_days", $"t_obs", $"n_perms", $"n_extreme",
        round($"n_extreme".cast("double") /
          $"n_perms".cast("double"), 6).as("p_value"))
  }

  /** B82 MOOD'S MEDIAN TEST across event types (Mood 1950 — the
    * bluntest k-group location test: B68's Kruskal-Wallis uses full
    * rank information, Mood only asks "does each type's share of
    * above-pooled-median days match its size", which survives
    * arbitrary monotone corruption of the values — the right test
    * when the metric's SCALE is untrustworthy but its ordering
    * isn't): pooled LOWER median via the value-domain cumulative
    * (2·cum ≥ N cross-multiplied — the A29 exact-quantile shape,
    * never a corpus sort), per-type above/at-or-below counts, χ² =
    * Σ (O−E)²/E over the 2×k table. Per-type χ² contributions are
    * row-local IEEE from exact integers; the GLOBAL χ² folds the k
    * contributions in event_type order (array_sort + aggregate — the
    * B66/B68 pinned-fold contract). Output is the per-type table
    * with the global χ²/df alongside. */
  def moodMedianTest(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val pts = perTypeDaily(events)
    val freq = pts.groupBy($"y").agg(count(lit(1)).as("t"))
    val wc = Window.orderBy($"y")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = freq.withColumn("cum", sum($"t").over(wc))
      .crossJoin(broadcast(pts.agg(count(lit(1)).as("npool"))))
      .filter($"cum" * 2L >= $"npool")
      .agg(min($"y").as("m"))
    val grp = pts.crossJoin(broadcast(med))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("ni"),
        sum(when($"y" > $"m", 1L).otherwise(0L)).as("above"))
    val marg = grp.agg(sum($"ni").as("nn"), sum($"above").as("aa"),
      count(lit(1)).as("k"))
    val contrib = grp.crossJoin(broadcast(marg))
      .withColumn("ea", $"aa".cast("double") * $"ni".cast("double") /
        $"nn".cast("double"))
      .withColumn("eb", ($"nn" - $"aa").cast("double") *
        $"ni".cast("double") / $"nn".cast("double"))
      .withColumn("contrib",
        pow($"above".cast("double") - $"ea", 2.0) / $"ea" +
          pow(($"ni" - $"above").cast("double") - $"eb", 2.0) / $"eb")
      .localCheckpoint() // per-type rows AND the global fold read it
    val tot = contrib.agg(max($"k").as("k"),
        expr("array_sort(collect_list(struct(event_type, contrib)))")
          .as("ts"))
      .select(($"k" - 1L).as("df"),
        round(expr("aggregate(ts, cast(0.0 as double), " +
          "(acc, x) -> acc + x.contrib)"), 6).as("chi2"))
    contrib.crossJoin(broadcast(tot))
      .select($"event_type", $"ni".as("n_days"), $"above",
        ($"ni" - $"above").as("at_or_below"),
        round($"contrib", 6).as("chi2_term"), $"chi2", $"df")
      .orderBy($"event_type")
  }

  /** B83 ANSARI-BRADLEY dispersion test on the paired daily
    * click/view series (Ansari & Bradley 1960 — the nonparametric
    * SCALE test: B41/B80 ask about location, this asks "is one
    * series more SPREAD than the other" — the variance question
    * without the F-test's normality bet): pool both series, rank
    * with the house tie-break (y, day, series), score each
    * observation min(r, N+1−r) — extremes score low, the middle
    * high — and W = Σ scores of the click series. W and the even/odd
    * μ/σ² numerators stay exact integers; one IEEE z at export.
    * Shape: day-grid frame, one pooled rank window, one aggregate. */
  def ansariBradley(events: DataFrame, xType: String = "click",
      yType: String = "view"): DataFrame = {
    import events.sparkSession.implicits._
    val d = perTypeDaily(events)
      .filter($"event_type".isin(xType, yType))
      .select($"event_type", $"day", $"y")
    val ranked = d.select($"event_type",
      row_number().over(Window.orderBy($"y", $"day", $"event_type"))
        .cast("long").as("r"))
    val nTot = ranked.agg(count(lit(1)).as("nn"))
    val scored = ranked.crossJoin(broadcast(nTot))
      .select($"event_type",
        least($"r", $"nn" + 1L - $"r").as("s"), $"nn")
    scored.groupBy()
      .agg(sum(when($"event_type" === xType, 1L).otherwise(0L))
          .as("n1"),
        sum(when($"event_type" === yType, 1L).otherwise(0L)).as("n2"),
        sum(when($"event_type" === xType, $"s").otherwise(0L))
          .as("w_ab"),
        max($"nn").as("nn"))
      .select($"n1", $"n2", $"w_ab",
        round(
          when($"nn" % 2L === 0L,
            ($"w_ab".cast("double") -
              ($"n1" * ($"nn" + 2L)).cast("double") / 4.0) /
            sqrt(($"n1" * $"n2" * ($"nn" + 2L) * ($"nn" - 2L))
              .cast("double") /
              (lit(48.0) * ($"nn" - 1L).cast("double"))))
          .otherwise(
            ($"w_ab".cast("double") -
              ($"n1" * ($"nn" + 1L) * ($"nn" + 1L)).cast("double") /
              (lit(4.0) * $"nn".cast("double"))) /
            sqrt(($"n1" * $"n2" * ($"nn" + 1L) *
              (lit(3L) + $"nn" * $"nn")).cast("double") /
              (lit(48.0) * ($"nn" * $"nn").cast("double")))), 6)
          .as("z"))
  }

  /** B68 KRUSKAL-WALLIS H test across event types (Kruskal &
    * Wallis 1952 — the k-group rank ANOVA: B41's Mann-Whitney asks
    * "do these TWO cohorts differ", B41/A41's ANOVA assumes
    * normality; KW asks "do any of the k types' daily-volume
    * distributions differ" with no distributional assumption — the
    * first test an on-call analyst runs over a fleet of segments):
    * global average ranks over the pooled daily counts,
    * H = 12/(N(N+1))·Σᵢ Rᵢ²/nᵢ − 3(N+1), tie-corrected by
    * C = 1 − Σ(t³−t)/(N³−N).
    *
    * Exactness: DOUBLED average ranks are integers —
    * rank2(v) = 2·|{y < v}| + t(v) + 1 — computed on the
    * VALUE-DOMAIN frame (distinct daily counts, bounded, never a
    * corpus window) and joined back, so rank sums R2ᵢ are exact
    * BIGINTs and Σᵢ Rᵢ²/nᵢ = Σᵢ R2ᵢ²/(4nᵢ) has decimal(38,0)
    * numerators; each group contributes ONE IEEE division and the k
    * doubles fold in event_type order through one `aggregate`
    * mirrored textually by the DuckDB list_reduce (the B66
    * contract). The tie term Σ(t³−t) and N³−N stay integer to one
    * final division. */
  def kruskalWallis(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val pts = perTypeDaily(events)
    // value-domain frame: one row per distinct daily count
    val freq = pts.groupBy($"y").agg(count(lit(1)).as("t"))
    val wv = Window.orderBy($"y")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = freq
      .withColumn("less", coalesce(sum($"t").over(wv), lit(0L)))
      .withColumn("rank2", lit(2L) * $"less" + $"t" + lit(1L))
      .select($"y", $"rank2")
    val grp = pts.join(broadcast(ranked), "y")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("ni"), sum($"rank2").as("r2"))
    val tot = grp.agg(
      count(lit(1)).as("k"), sum($"ni").as("nn"),
      expr("array_sort(collect_list(struct(event_type, " +
        "cast(r2 as decimal(38,0)) * r2 as r2sq, " +
        "cast(ni as double) as nid)))").as("terms"))
    val tie = freq.agg(sum($"t" * $"t" * $"t" - $"t").as("tie3"))
    tot.crossJoin(tie)
      .filter($"k" >= 2L && $"nn" >= 3L)
      // Σᵢ R2ᵢ²/(4nᵢ), one division per group, event_type-ordered fold
      .withColumn("a", expr(
        "aggregate(terms, cast(0.0 as double), " +
          "(acc, x) -> acc + cast(x.r2sq as double) / x.nid)"))
      .withColumn("h", lit(3.0) * $"a" /
        ($"nn" * ($"nn" + 1L)).cast("double") -
        lit(3.0) * ($"nn" + 1L).cast("double"))
      .withColumn("c", lit(1.0) - $"tie3".cast("double") /
        ($"nn" * $"nn" * $"nn" - $"nn").cast("double"))
      .select($"k", $"nn".as("n_obs"), ($"k" - 1L).as("df"),
        round($"h", 6).as("h"),
        when($"c" > 0.0, round($"h" / $"c", 6)).as("h_tie_corrected"))
  }

  /** B69 FRIEDMAN test over complete day blocks (Friedman 1937 —
    * the within-block rank test: B68 pools all days into one rank
    * pool, so a shared day-of-week swell drowns the signal; Friedman
    * ranks the k event types WITHIN each day, removing every
    * day-level shift — "does some type consistently out-volume the
    * others, day after day"): blocks = days where all k types
    * appear, χ²_F = 12/(nk(k+1))·Σⱼ Rⱼ² − 3n(k+1) with
    * average-rank ties.
    *
    * Exactness: in-block doubled ranks are integers via the same
    * 2·less + t + 1 identity (k rows per block, a keyed window over
    * a k-row partition); Rⱼ2 = 2Rⱼ sums are exact BIGINTs, so
    * Σ Rⱼ2² is ONE order-free decimal(38,0) integer sum — no float
    * fold at all — and the statistic is a single IEEE division:
    * χ²_F = 3·ΣRⱼ2²/(nk(k+1)) − 3n(k+1). */
  def friedman(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val pts = perTypeDaily(events)
    val kRow = pts.agg(countDistinct($"event_type").as("k"))
    val dayCnt = pts.groupBy($"day").agg(count(lit(1)).as("c"))
    val full = pts.join(broadcast(dayCnt), "day")
      .crossJoin(broadcast(kRow)).filter($"c" === $"k")
    val wLess = Window.partitionBy($"day").orderBy($"y")
      .rangeBetween(Window.unboundedPreceding, -1)
    val ranked = full
      .withColumn("less", coalesce(count(lit(1)).over(wLess), lit(0L)))
      .withColumn("teq", count(lit(1)).over(
        Window.partitionBy($"day", $"y")))
      .withColumn("rank2", lit(2L) * $"less" + $"teq" + lit(1L))
    val grp = ranked.groupBy($"event_type")
      .agg(max($"k").as("k"), count(lit(1)).as("n"),
        sum($"rank2").as("rj2"))
    grp.agg(max($"k").as("k"), max($"n").as("n_blocks"),
        sum($"rj2".cast("decimal(38,0)") * $"rj2").as("ssq"))
      .filter($"k" >= 2L && $"n_blocks" >= 2L)
      .withColumn("chi2_f",
        lit(3.0) * $"ssq".cast("double") /
          ($"n_blocks" * $"k" * ($"k" + 1L)).cast("double") -
          lit(3.0) * ($"n_blocks" * ($"k" + 1L)).cast("double"))
      .select($"k", $"n_blocks", ($"k" - 1L).as("df"),
        round($"chi2_f", 6).as("chi2_f"))
  }

  /** B70 JARQUE-BERA normality test per event type (Jarque & Bera
    * 1980 — the moment-based "is Gaussian even plausible" gate in
    * front of every σ-based monitor in the B-track: B22's z-scores,
    * B31's bands and B67's limits all assume approximate normality;
    * JB prices that assumption from skewness and kurtosis:
    * JB = n/6·(S² + (K−3)²/4)).
    *
    * Exactness: central moments are SHIFT-INVARIANT, so the daily
    * counts first demean by the INTEGER shift s div n — residuals
    * are spread-sized, not magnitude-sized, which keeps every power
    * sum exact decimal(38,0) (== HUGEINT) far past the raw-count
    * overflow bound (a raw Σy⁴ wraps 38 digits at ~10⁹·daily already;
    * the shifted sums survive any magnitude with bounded spread).
    * The three moment numerators are integer polynomials in the
    * shifted sums (n·s2−s1², n²·s3−3n·s1·s2+2s1³,
    * n³·s4−4n²·s1·s3+6n·s1²·s2−3s1⁴); ONE decimal→double cast and
    * division each, then S = m3/(m2·√m2) (repeated multiplication,
    * never pow — the B55 lesson) and K = m4/m2² in a pinned IEEE
    * tail. Zero-variance series excluded. */
  def jarqueBera(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val pts = perTypeDaily(events)
    val st = pts.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"y").as("s"))
    val pw = pts.join(broadcast(st), "event_type")
      .withColumn("yp", $"y" - expr("s div n"))
    val m = pw.groupBy($"event_type")
      .agg(max($"n").as("n"),
        sum($"yp").cast("decimal(38,0)").as("s1"),
        sum($"yp".cast("decimal(38,0)") * $"yp").as("s2"),
        sum($"yp".cast("decimal(38,0)") * $"yp" * $"yp").as("s3"),
        sum($"yp".cast("decimal(38,0)") * $"yp" * $"yp" * $"yp")
          .as("s4"))
      .filter($"n" >= 4L)
    m
      .withColumn("m2", expr(
        "cast(cast(n as decimal(38,0)) * s2 - s1 * s1 as double)" +
          " / cast(n * n as double)"))
      .withColumn("m3", expr(
        "cast(cast(n as decimal(38,0)) * n * s3" +
          " - 3 * cast(n as decimal(38,0)) * s1 * s2" +
          " + 2 * s1 * s1 * s1 as double) / cast(n * n * n as double)"))
      .withColumn("m4", expr(
        "cast(cast(n as decimal(38,0)) * n * n * s4" +
          " - 4 * cast(n as decimal(38,0)) * n * s1 * s3" +
          " + 6 * cast(n as decimal(38,0)) * s1 * s1 * s2" +
          " - 3 * s1 * s1 * s1 * s1 as double)" +
          " / cast(n * n * n * n as double)"))
      .filter($"m2" > 0.0)
      .withColumn("sk", $"m3" / ($"m2" * sqrt($"m2")))
      .withColumn("ku", $"m4" / ($"m2" * $"m2"))
      .select($"event_type", $"n".as("n_days"),
        round($"sk", 6).as("skewness"), round($"ku", 6).as("kurtosis"),
        round($"n".cast("double") / lit(6.0) *
          ($"sk" * $"sk" +
            ($"ku" - lit(3.0)) * ($"ku" - lit(3.0)) / lit(4.0)), 6)
          .as("jb"))
      .orderBy($"event_type")
  }

  /** B71 VARIANCE-RATIO random-walk test per event type
    * (Lo & MacKinlay 1988 — the "is this series a random walk, a
    * trend, or mean-reverting" discriminator BEFORE the forecast
    * ladder commits: under a random walk the variance of q-period
    * differences is exactly q× the 1-period variance, so VR(q) > 1
    * reads momentum, < 1 mean reversion; the plain uncorrected VR,
    * not the bias-adjusted small-sample variant — stated):
    * VR(q) = σ²_q/σ²_1 with σ²_q = (1/(nq))Σ(y_t − y_{t−q} − qμ̂)²,
    * μ̂ = (y_n − y_0)/n, and the homoskedastic
    * z = (VR−1)·√(nq)/√(2(2q−1)(q−1)/(3q)) for q ∈ {2, 4}.
    *
    * Exactness: μ̂ = D/n is rational, so both deviation sums clear
    * denominators — A = Σ(n·Δ₁ − D)² and B_q = Σ(n·Δ_q − qD)² are
    * exact decimal(38,0) (== HUGEINT), and VR = B_q/(q·A) is ONE
    * division of two exact integers; the z tail is a pinned IEEE
    * sqrt/divide chain with the q-constants written as the same
    * literal arithmetic in both engines. */
  def varianceRatio(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val wAll = Window.partitionBy($"event_type")
    val pts = perTypeDaily(events)
      .withColumn("d1", $"y" - lag($"y", 1).over(w))
      .withColumn("d2", $"y" - lag($"y", 2).over(w))
      .withColumn("d4", $"y" - lag($"y", 4).over(w))
      .withColumn("nobs", count(lit(1)).over(wAll))
      .withColumn("dd", last($"y").over(
        w.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)) -
        first($"y").over(w.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
    val agg = pts.groupBy($"event_type")
      .agg(max($"nobs").as("m"), max($"dd").as("dd"),
        count($"d1").as("n"),
        sum(when($"d1".isNotNull,
          (($"nobs" - 1L) * $"d1" - $"dd").cast("decimal(38,0)") *
            (($"nobs" - 1L) * $"d1" - $"dd")).otherwise(lit(null)))
          .as("a"),
        sum(when($"d2".isNotNull,
          (($"nobs" - 1L) * $"d2" - $"dd" * 2L).cast("decimal(38,0)") *
            (($"nobs" - 1L) * $"d2" - $"dd" * 2L)).otherwise(lit(null)))
          .as("b2"),
        sum(when($"d4".isNotNull,
          (($"nobs" - 1L) * $"d4" - $"dd" * 4L).cast("decimal(38,0)") *
            (($"nobs" - 1L) * $"d4" - $"dd" * 4L)).otherwise(lit(null)))
          .as("b4"))
      .filter($"n" >= 8L && $"a" > 0)
    val both = agg.select($"event_type", $"n", lit(2L).as("q"),
        $"b2".as("braw"), $"a")
      .unionByName(agg.select($"event_type", $"n", lit(4L).as("q"),
        $"b4".as("braw"), $"a"))
    both
      // VR = B_q/(q·A): one division of two exact decimals
      .withColumn("vr", $"braw".cast("double") /
        ($"a" * $"q").cast("double"))
      .select($"event_type", $"q", $"n".as("n_diffs"),
        round($"vr", 6).as("vr"),
        // Lo-MacKinlay's √(nq) is the TOTAL 1-period increment
        // count — n_diffs already IS nq; multiplying by q again
        // inflated z by √q (review-caught)
        round(($"vr" - lit(1.0)) *
          sqrt($"n".cast("double")) /
          sqrt((lit(2.0) * ($"q" * 2L - 1L).cast("double") *
            ($"q" - 1L).cast("double")) /
            (lit(3.0) * $"q".cast("double"))), 6).as("z"))
      .filter($"z".isNotNull)
      .orderBy($"event_type", $"q")
  }

  /** B72 LEVENE/BROWN-FORSYTHE variance-homogeneity test across
    * event types (Brown & Forsythe 1974 — the gate in FRONT of
    * A41's ANOVA, which assumes equal group variances; the
    * median-centered variant keeps the test honest under the skew
    * B70 detects): W = ((N−k)/(k−1)) ·
    * Σnᵢ(Z̄ᵢ−Z̄)² / ΣΣ(Zᵢⱼ−Z̄ᵢ)² on Z = |y − median|.
    *
    * Exactness: the per-type median doubles into an exact integer
    * (med2 = 2·mid or the middle-pair sum via one ranked pass over
    * the day-grid frame), so Z2 = |2y − med2| is integer and W is
    * scale-invariant to the doubling (both quadratic forms carry
    * 4×, which cancels). Between/within sums decompose into
    * per-group one-division terms (Sᵢ²/nᵢ — the B68 contract)
    * folded in event_type order; S²/N is one more division; the
    * ratio is the only compound IEEE step. */
  def levene(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val wR = Window.partitionBy($"event_type").orderBy($"y", $"day")
    val wAll = Window.partitionBy($"event_type")
    val pts = perTypeDaily(events)
      .withColumn("rn", row_number().over(wR))
      .withColumn("m", count(lit(1)).over(wAll))
    val med = pts
      .withColumn("wgt",
        when($"m" % 2L === 1L && $"rn" === expr("(m + 1) div 2"), 2L)
          .when($"m" % 2L === 0L &&
            ($"rn" === expr("m div 2") ||
              $"rn" === expr("m div 2 + 1")), 1L)
          .otherwise(0L))
      .groupBy($"event_type").agg(sum($"y" * $"wgt").as("med2"))
    val z = pts.join(broadcast(med), "event_type")
      .withColumn("z2", abs(lit(2L) * $"y" - $"med2"))
    val grp = z.groupBy($"event_type")
      .agg(count(lit(1)).as("ni"), sum($"z2").as("si"),
        sum($"z2".cast("decimal(38,0)") * $"z2").as("qi"))
    grp.agg(count(lit(1)).as("k"), sum($"ni").as("nn"),
        sum($"si").as("s"),
        expr("array_sort(collect_list(struct(event_type, " +
          "cast(si as decimal(38,0)) * si as s2, " +
          "cast(ni as double) as nid, cast(qi as double) as qid)))")
          .as("terms"))
      .filter($"k" >= 2L && $"nn" > $"k")
      // Σᵢ Sᵢ²/nᵢ — one division per group, event_type-ordered fold
      .withColumn("ssn", expr(
        "aggregate(terms, cast(0.0 as double), " +
          "(acc, x) -> acc + cast(x.s2 as double) / x.nid)"))
      .withColumn("between", $"ssn" -
        expr("cast(cast(s as decimal(38,0)) * s as double)") /
          $"nn".cast("double"))
      .withColumn("within", expr(
        "aggregate(terms, cast(0.0 as double), " +
          "(acc, x) -> acc + (x.qid - cast(x.s2 as double) / x.nid))"))
      .filter($"within" > 0.0)
      .select($"k", $"nn".as("n_obs"), ($"k" - 1L).as("df1"),
        ($"nn" - $"k").as("df2"),
        round((($"nn" - $"k").cast("double") /
          ($"k" - 1L).cast("double")) * ($"between" / $"within"), 6)
          .as("w"))
  }

  /** B73 ARCH-LM volatility-clustering test per event type (Engle
    * 1982 — the admission gate in FRONT of B66's GARCH: GARCH
    * assumes conditional heteroskedasticity exists; ARCH-LM prices
    * that premise as LM = m·R² of the e²_t ~ e²_{t−1} lag-1
    * regression vs χ²(1) = 3.841 — no clustering, no reason to run
    * a volatility filter).
    *
    * Exactness: squared residuals clear the rational mean —
    * z_t = (n·y_t − s)² is an exact decimal(38,0) (R² is invariant
    * to the n² scaling) — and all five regression sums over the
    * lag-1 pair frame stay decimal; the three centered cross-terms
    * (m·Sab − Sa·Sb etc.) are exact ~10²⁹-digit integers inside the
    * 38-digit bound, each takes ONE decimal→double cast, and R² is
    * one squared-divide IEEE tail. The significance flag compares
    * the ROUNDED LM (the C66 boundary lesson). */
  def archLm(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val wAll = Window.partitionBy($"event_type")
    val pts = perTypeDaily(events)
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("s", sum($"y").over(wAll))
      .withColumn("z", (($"n" * $"y" - $"s").cast("decimal(38,0)") *
        ($"n" * $"y" - $"s")))
      .withColumn("zp", lag($"z", 1).over(w))
      .filter($"zp".isNotNull)
    pts.groupBy($"event_type")
      .agg(count(lit(1)).as("m"), sum($"z").as("sa"),
        sum($"zp").as("sb"), sum($"z" * $"zp").as("sab"),
        sum($"z" * $"z").as("saa"), sum($"zp" * $"zp").as("sbb"))
      .filter($"m" >= 8L)
      .withColumn("num", ($"m" * $"sab" - $"sa" * $"sb").cast("double"))
      .withColumn("d1", ($"m" * $"saa" - $"sa" * $"sa").cast("double"))
      .withColumn("d2", ($"m" * $"sbb" - $"sb" * $"sb").cast("double"))
      .filter($"d1" > 0.0 && $"d2" > 0.0)
      .withColumn("lm", round($"m".cast("double") *
        ($"num" * $"num" / ($"d1" * $"d2")), 6))
      .select($"event_type", $"m".as("n_pairs"), $"lm",
        ($"lm" > 3.841).cast("long").as("arch_effect"))
      .orderBy($"event_type")
  }

  /** B74 PETTITT rank-based change-point test per event type
    * (Pettitt 1979 — the ROBUST twin of B36's least-squares split:
    * B36's SSE argmax chases a single outlier burst; Pettitt works
    * on ranks, so one 100× spike day cannot fake a level shift):
    * U_t = Σ_{i≤t,j>t} sgn(y_j − y_i), K = max|U_t|,
    * p ≈ min(1, 2·exp(−6K²/(n³+n²))).
    *
    * NO O(n²) pair pass and NO O(n³) per-t sums: the telescoping
    * U_t = U_{t−1} − V_t with V_t = Σ_j sgn(y_t − y_j), and V comes
    * from the per-type VALUE-DOMAIN histogram (V = 2·less + t − n,
    * the B68 doubled-rank identity) — one histogram, one join-back,
    * one keyed cumsum. All integers until the single exp tail (the
    * B34 exp-parity precedent); argmax ties take the earliest day. */
  def pettitt(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val pts = perTypeDaily(events)
    val freq = pts.groupBy($"event_type", $"y")
      .agg(count(lit(1)).as("t"))
    val wv = Window.partitionBy($"event_type").orderBy($"y")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wn = Window.partitionBy($"event_type")
    val vtab = freq
      .withColumn("less", coalesce(sum($"t").over(wv), lit(0L)))
      .withColumn("n", sum($"t").over(wn))
      .withColumn("v", lit(2L) * $"less" + $"t" - $"n")
      .select($"event_type", $"y", $"v", $"n")
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val cum = pts.join(vtab, Seq("event_type", "y"))
      .withColumn("i", row_number().over(w))
      .withColumn("u", -sum($"v").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter($"i" < $"n" && $"n" >= 8L)
    val wt = Window.partitionBy($"event_type")
      .orderBy(abs($"u").desc, $"day")
    cum
      .withColumn("rn", row_number().over(wt))
      .filter($"rn" === 1)
      .select($"event_type", $"n".as("n_days"),
        date_format($"day", "yyyy-MM-dd").as("tau_day"),
        abs($"u").as("k_stat"),
        // K² in decimal: a raw long·long wraps past K ≈ 3·10⁹
        // (≈110k shifted days) — the oracle's HUGEINT already does
        round(least(lit(1.0), lit(2.0) * exp(lit(-6.0) *
          (abs($"u").cast("decimal(38,0)") * abs($"u")).cast("double") /
          ($"n" * $"n" * $"n" + $"n" * $"n").cast("double"))), 6)
          .as("p_approx"))
      .orderBy($"event_type")
  }

  /** B75 DURBIN-WATSON autocorrelation diagnostic on the TREND
    * RESIDUALS per event type (Durbin & Watson 1950 — the classic
    * "is the regression lying to you" check: B4 fits y ~ a + b·t and
    * B35 tests the RAW series, but what invalidates the fit's
    * standard errors is autocorrelation of the RESIDUALS; DW ≈ 2
    * clean, → 0 positive autocorr, → 4 negative):
    * DW = Σ(eₜ−eₜ₋₁)²/Σeₜ².
    *
    * Exactness: the OLS residual clears BOTH rational coefficients —
    * Eₜ = nD·yₜ − D·Σy + b_num·(Σt − n·t) with D = nΣt²−(Σt)² and
    * b_num = nΣty−ΣtΣy is an exact decimal(38,0) multiple of eₜ,
    * and the common (nD)² factor cancels in the ratio, so DW is ONE
    * division of two exact integer sums (exact while |E| ≤ ~10¹⁸·
    * spread — the A66-style bound; sf0.1 sits 3 digits inside it).
    * Degenerate fits (n < 8, zero t-variance, zero residuals) drop. */
  def durbinWatson(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val wAll = Window.partitionBy($"event_type")
    val pts = perTypeDaily(events)
      .withColumn("t", row_number().over(w).cast("long"))
    val st = pts.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"t").as("stt"),
        sum($"y").as("sy"), sum($"t" * $"t").as("st2"),
        sum($"t" * $"y").as("sty"))
      .withColumn("dd", $"n" * $"st2" - $"stt" * $"stt")
      .withColumn("bnum", $"n" * $"sty" - $"stt" * $"sy")
      .filter($"n" >= 8L && $"dd" > 0L)
    val res = pts.join(broadcast(st), "event_type")
      .withColumn("e", expr(
        "cast(n as decimal(38,0)) * dd * y - cast(dd as decimal(38,0))" +
          " * sy + cast(bnum as decimal(38,0)) * (stt - n * t)"))
      .withColumn("ep", lag($"e", 1).over(w))
    res.groupBy($"event_type")
      .agg(max($"n").as("n_days"),
        sum($"e" * $"e").as("see"),
        sum(when($"ep".isNotNull,
          ($"e" - $"ep") * ($"e" - $"ep"))).as("sd2"))
      .filter($"see" > 0)
      .select($"event_type", $"n_days",
        round($"sd2".cast("double") / $"see".cast("double"), 6)
          .as("dw"))
      .orderBy($"event_type")
  }

  /** B95 THETA-METHOD forecast (Assimakopoulos & Nikolopoulos 2000 —
    * the M3-competition winner and still the serious "simple"
    * benchmark every forecast bake-off must beat; the B17/B18 ladder's
    * missing rung between pure trend and pure smoothing): decompose
    * the day-ordered series into the θ=0 line (the OLS trend, all
    * long-run signal) and the θ=2 line zₜ = 2yₜ − trendₜ (curvature
    * doubled), SES-smooth the θ=2 line at pinned α = 0.5, and
    * forecast F_h = ½(trend(n+h) + ℓ). Trend comes from EXACT integer
    * sums (Σt, Σt² closed-form, Σy, Σt·y via an indexed fold); the
    * SES fold is the B49 coupled-recurrence shape over the
    * frame-bounded daily list; round-4 export. */
  def thetaForecast(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val pts = perTypeDaily(events)
    val lists = pts.groupBy($"event_type")
      .agg(sort_array(collect_list(struct($"day", $"y"))).as("ps"),
        count(lit(1)).as("n"), sum($"y").as("sy"))
      .filter($"n" >= 3)
      .withColumn("ys", expr("transform(ps, p -> cast(p.y as double))"))
      .withColumn("sty", expr(
        "aggregate(transform(ps, (p, i) -> (cast(i as bigint) + 1) * p.y), cast(0 as bigint), (a, x) -> a + x)"))
      .withColumn("st", ($"n" * ($"n" + 1) / 2).cast("long"))
      .withColumn("stt",
        ($"n" * ($"n" + 1) * (lit(2) * $"n" + 1) / 6).cast("long"))
      .withColumn("b",
        (($"n" * $"sty" - $"st" * $"sy").cast("double")) /
          (($"n" * $"stt" - $"st" * $"st").cast("double")))
      .withColumn("a",
        ($"sy".cast("double") - $"b" * $"st".cast("double")) /
          $"n".cast("double"))
      .withColumn("zs", expr(
        "transform(ys, (y, i) -> 2.0D * y - (a + b * (cast(i as bigint) + 1)))"))
      .withColumn("l", expr(
        """aggregate(slice(zs, 2, size(zs) - 1),
          |  element_at(zs, 1),
          |  (acc, z) -> acc + 0.5D * (z - acc))""".stripMargin))
    lists.select($"event_type", $"n".as("n_days"),
        round($"b", 6).as("slope"), round($"l", 4).as("ses_level"),
        round(($"a" + $"b" * ($"n" + 1).cast("double") + $"l") * 0.5, 4)
          .as("f1"),
        round(($"a" + $"b" * ($"n" + 2).cast("double") + $"l") * 0.5, 4)
          .as("f2"),
        round(($"a" + $"b" * ($"n" + 3).cast("double") + $"l") * 0.5, 4)
          .as("f3"))
      .orderBy($"event_type")
  }

  /** B96 TSB intermittent-demand forecast (Teunter, Syntetos & Babai
    * 2011 — the modern replacement for B62's Croston: Croston cannot
    * see obsolescence because it only updates on demand days; TSB
    * updates the demand PROBABILITY every period, so a key that went
    * quiet decays toward zero instead of freezing at its last rate):
    * over the DENSIFIED day grid (zero-demand days exist — sequence()
    * spine, no corpus cost beyond the daily aggregate), p ← p +
    * α(1{y>0} − p) every day at α = 0.2, z ← z + β(y − z) on demand
    * days at β = 0.3, pinned inits p₀ = 0.5, z₀ = 1; forecast =
    * p·z. One coupled fold per type (the B49 shape). */
  def tsbForecast(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val pts = perTypeDaily(events)
    val spans = pts.groupBy($"event_type")
      .agg(min($"day").as("d0"), max($"day").as("d1"),
        sum(when($"y" > 0, 1L).otherwise(0L)).as("n_demand"))
    val grid = spans
      .select($"event_type", $"n_demand",
        explode(expr("sequence(d0, d1)")).as("day"))
      .join(pts, Seq("event_type", "day"), "left")
      .withColumn("y", coalesce($"y", lit(0L)))
    val folded = grid.groupBy($"event_type")
      .agg(count(lit(1)).as("n_periods"), max($"n_demand").as("n_demand"),
        sort_array(collect_list(struct($"day", $"y"))).as("ps"))
      .withColumn("st", expr(
        """aggregate(ps, struct(0.5D as p, 1.0D as z),
          |  (acc, x) -> struct(
          |    acc.p + 0.2D * ((CASE WHEN x.y > 0 THEN 1.0D ELSE 0.0D END) - acc.p) as p,
          |    CASE WHEN x.y > 0 THEN acc.z + 0.3D * (x.y - acc.z) ELSE acc.z END as z))"""
          .stripMargin))
    folded.select($"event_type", $"n_periods", $"n_demand",
        round($"st.p", 6).as("p_final"), round($"st.z", 4).as("z_final"),
        round($"st.p" * $"st.z", 4).as("forecast"))
      .orderBy($"event_type")
  }

  /** B97 ADI / CV² demand classification (Syntetos & Boylan 2005 —
    * the 2×2 that DECIDES between the B17/B18 ladder and the
    * B62/B92 intermittent family before any forecast runs: smooth /
    * intermittent / erratic / lumpy at the canonical 1.32 / 0.49
    * cutoffs): ADI = calendar periods per demand day, CV² of demand
    * sizes from exact n-cleared sums; BOTH classification predicates
    * cross-multiply to INTEGER comparisons (100·n ≥ 132·k, 100·(kΣy²
    * − S²) ≥ 49·S²) so the class label never hinges on a float. */
  def adiCv2(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val pts = perTypeDaily(events)
    pts.groupBy($"event_type")
      .agg((datediff(max($"day"), min($"day")) + 1).cast("long")
          .as("n_periods"),
        count(lit(1)).as("k"),
        sum(dec($"y")).as("s"), sum(dec($"y") * $"y").as("sq"))
      .select($"event_type", $"n_periods", $"k".as("n_demand"),
        round($"n_periods".cast("double") / $"k".cast("double"), 4)
          .as("adi"),
        round((dec($"k") * $"sq" - $"s" * $"s").cast("double") /
          ($"s" * $"s").cast("double"), 4).as("cv2"),
        when(lit(100) * $"n_periods" < lit(132) * $"k" &&
            lit(100) * (dec($"k") * $"sq" - $"s" * $"s") <
              lit(49) * $"s" * $"s", "smooth")
          .when(lit(100) * $"n_periods" >= lit(132) * $"k" &&
            lit(100) * (dec($"k") * $"sq" - $"s" * $"s") <
              lit(49) * $"s" * $"s", "intermittent")
          .when(lit(100) * $"n_periods" < lit(132) * $"k", "erratic")
          .otherwise("lumpy").as("demand_class"))
      .orderBy($"event_type")
  }

  /** B98 DIEBOLD-MARIANO forecast-accuracy test (Diebold & Mariano
    * 1995 — the "is forecaster A actually better than B or is it
    * noise" test B51's backtest scores beg for): naive-1 (yesterday)
    * vs seasonal-naive-7 (last week) one-step errors on the
    * day-ordered series, loss differential dₜ = e₁ₜ² − e₇ₜ² (exact
    * BIGINT), DM = S_d·√(n−1)/√(n·Σd² − S_d²) — squared-loss, h = 1,
    * so the long-run variance is the plain sample variance; one
    * division of one sqrt on exact integer sums. DM < 0 favors
    * naive-1, > 0 favors the weekly pattern. */
  def dieboldMariano(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val pts = perTypeDaily(events)
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val scored = pts
      .withColumn("l1", lag($"y", 1).over(w))
      .withColumn("l7", lag($"y", 7).over(w))
      .filter($"l1".isNotNull && $"l7".isNotNull)
      .withColumn("d",
        ($"y" - $"l1") * ($"y" - $"l1") - ($"y" - $"l7") * ($"y" - $"l7"))
    scored.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum(dec($"d")).as("sd"),
        sum(dec($"d") * $"d").as("sdd"))
      .select($"event_type", $"n".as("n_pairs"),
        round($"sd".cast("double") / $"n".cast("double"), 4)
          .as("mean_d"),
        when(dec($"n") * $"sdd" - $"sd" * $"sd" > 0,
          round($"sd".cast("double") *
            sqrt(($"n" - 1).cast("double")) /
            sqrt((dec($"n") * $"sdd" - $"sd" * $"sd").cast("double")),
            4)).as("dm"),
        when(dec($"n") * $"sdd" - $"sd" * $"sd" <= 0, "tie")
          .when($"sd" < 0, "naive1").when($"sd" > 0, "naive7")
          .otherwise("tie").as("better"))
      .orderBy($"event_type")
  }

  /** B99 DETRENDED FLUCTUATION ANALYSIS (Peng et al. 1994 — the
    * long-memory exponent that, unlike B43's R/S Hurst, stays honest
    * under nonstationarity, which daily ops series always have):
    * profile Pⱼ = n·prefixⱼ − j·S (the B43 n-scaling — exact BIGINT,
    * mean-centered by construction), boxes m ∈ {5, 10, 15}, per-box
    * OLS detrend with the closed-form residual SS (Szz − (Sz²·Srr −
    * 2·Sz·Szr·Sr + m·Szr²)/D, all sums exact decimal(38,0), Sr/Srr/D
    * closed-form literals per m), F(m) = √(mean per-point residual
    * variance)/n, and α = the 3-point OLS slope of ln F on ln m (the
    * B43 tail verbatim). α ≈ 0.5 white noise, ≈ 1 pink, > 1
    * nonstationary drift. */
  def dfa(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val sizes = Seq(5L, 10L, 15L)
    val pts = perTypeDaily(events)
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val st = pts.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"y").as("s"))
    val prof = pts
      .withColumn("j", row_number().over(w).cast("long"))
      .withColumn("pre", sum($"y").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(st, "event_type")
      .withColumn("pj", $"n" * $"pre" - $"j" * $"s")
    val ex = prof.withColumn("m", explode(typedlit(sizes)))
      .withColumn("b", expr("(j - 1) div m"))
      .withColumn("r", (($"j" - 1) % $"m") + lit(1L))
    val boxes = ex.groupBy($"event_type", $"n", $"m", $"b")
      .agg(count(lit(1)).as("cnt"),
        sum(dec($"pj")).as("sz"),
        sum(dec($"pj") * $"r").as("szr"),
        sum(dec($"pj") * $"pj").as("szz"))
      .filter($"cnt" === $"m")
      .withColumn("sr", dec($"m" * ($"m" + 1) / 2))
      .withColumn("srr", dec($"m" * ($"m" + 1) * (lit(2) * $"m" + 1) / 6))
      .withColumn("dd", dec($"m") * $"srr" - $"sr" * $"sr")
      .withColumn("sse",
        $"szz".cast("double") -
          (($"sz" * $"sz" * $"srr" - lit(2) * $"sz" * $"szr" * $"sr" +
            dec($"m") * $"szr" * $"szr").cast("double") /
            $"dd".cast("double")))
    val fm = boxes.groupBy($"event_type", $"n", $"m")
      .agg(count(lit(1)).as("nb"),
        aggregate(sort_array(collect_list(struct($"b", $"sse"))),
          lit(0.0), (acc, x) => acc + x("sse")).as("ssesum"))
      .withColumn("f", sqrt($"ssesum" /
        ($"nb" * $"m").cast("double")) / $"n".cast("double"))
    val ols = fm.groupBy($"event_type")
      .agg(count(lit(1)).as("np"),
        aggregate(sort_array(collect_list(struct($"m",
            log($"m".cast("double")).as("x"), log($"f").as("y")))),
          struct(lit(0.0).as("sx"), lit(0.0).as("sy"),
            lit(0.0).as("sxx"), lit(0.0).as("sxy")),
          (a, p) => struct(
            (a("sx") + p("x")).as("sx"), (a("sy") + p("y")).as("sy"),
            (a("sxx") + p("x") * p("x")).as("sxx"),
            (a("sxy") + p("x") * p("y")).as("sxy"))).as("o"),
        max(when($"m" === 5, round($"f", 4))).as("f5"),
        max(when($"m" === 10, round($"f", 4))).as("f10"),
        max(when($"m" === 15, round($"f", 4))).as("f15"))
      .filter($"np" === 3)
    ols.select($"event_type", $"f5", $"f10", $"f15",
        round(($"np" * $"o.sxy" - $"o.sx" * $"o.sy") /
          ($"np" * $"o.sxx" - $"o.sx" * $"o.sx"), 4).as("alpha"))
      .orderBy($"event_type")
  }

  /** B100 SAMPLE ENTROPY over the day-over-day DIRECTION sequence
    * (Richman & Moorman 2000, on the sign-quantized series — the
    * regularity number B46's permutation entropy approximates from a
    * different angle: SampEn = −ln(A/B) where B counts matching
    * length-2 templates and A matching length-3; lower = more
    * regular/predictable): symbols sₜ = sign(yₜ − yₜ₋₁) ∈ {−1,0,1},
    * template matches counted EXACTLY by grouping (Σ c(c−1)/2 over
    * the ≤9 / ≤27 template cells — never a position-pair join), one
    * ln at export. Self-matches are excluded by construction
    * (i < j pairs only). */
  def sampleEntropy(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val pts = perTypeDaily(events)
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val sym = pts
      .withColumn("prev", lag($"y", 1).over(w))
      .filter($"prev".isNotNull)
      .withColumn("sgn", signum(($"y" - $"prev").cast("double"))
        .cast("long"))
      .withColumn("s2", lead($"sgn", 1).over(w))
      .withColumn("s3", lead($"sgn", 2).over(w))
    val b2 = sym.filter($"s2".isNotNull)
      .groupBy($"event_type", $"sgn", $"s2")
      .agg(count(lit(1)).as("c"))
      .groupBy($"event_type")
      .agg(sum($"c").as("n2"),
        sum(expr("c * (c - 1) div 2")).as("b_pairs"))
    val a3 = sym.filter($"s3".isNotNull)
      .groupBy($"event_type", $"sgn", $"s2", $"s3")
      .agg(count(lit(1)).as("c"))
      .groupBy($"event_type")
      .agg(sum(expr("c * (c - 1) div 2")).as("a_pairs"))
    b2.join(a3, "event_type")
      .select($"event_type", ($"n2" + 1).as("n_symbols"),
        $"b_pairs", $"a_pairs",
        when($"a_pairs" > 0 && $"b_pairs" > 0,
          round(-log($"a_pairs".cast("double") /
            $"b_pairs".cast("double")), 6)).as("sampen"))
      .orderBy($"event_type")
  }

  /** B101 WESTERN ELECTRIC RUNS RULES (the 1956 WECO handbook's four
    * zone tests — what a REAL SPC deployment runs on top of B67's
    * bare control chart, because a drifting process violates runs
    * rules long before any single point crosses 3σ): on the
    * day-ordered per-type series against ITS OWN mean/σ —
    * rule 1: a point beyond 3σ; rule 2: 2 of 3 consecutive beyond 2σ
    * same side; rule 3: 4 of 5 beyond 1σ same side; rule 4: 8
    * consecutive on one side of the mean. EVERY zone predicate is
    * the cross-multiplied INTEGER comparison (n·y − S)² ≷ k²·(n·Σy²
    * − S²) — σ is never computed, so no float ever decides a flag;
    * the run windows are frame-bounded keyed lags. */
  def spcRules(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val pts = perTypeDaily(events)
    val st = pts.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"y").as("s"),
        sum(dec($"y") * $"y").as("sq"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val zoned = pts.join(st, "event_type")
      .withColumn("dev", dec($"n") * $"y" - $"s")
      .withColumn("varn", (dec($"n") * $"sq" - dec($"s") * $"s"))
      .withColumn("side", signum($"dev".cast("double")).cast("long"))
      .withColumn("z1", ($"dev" * $"dev" > $"varn").cast("long"))
      .withColumn("z2", ($"dev" * $"dev" > lit(4) * $"varn").cast("long"))
      .withColumn("z3", ($"dev" * $"dev" > lit(9) * $"varn").cast("long"))
    val flagged = zoned
      // signed zone exceedances: ±1 keeps "same side" inside one
      // summable column (two same-side exceedances sum to ±2,
      // opposite sides cancel — the SQL-native same-side test)
      .withColumn("zs1", $"z1" * $"side")
      .withColumn("zs2", $"z2" * $"side")
      .withColumn("r1", $"z3" === 1)
      .withColumn("r2",
        abs($"zs2" + coalesce(lag($"zs2", 1).over(w), lit(0L)) +
          coalesce(lag($"zs2", 2).over(w), lit(0L))) >= 2 &&
          $"z2" === 1)
      .withColumn("r3",
        abs((0 to 4).map(k =>
          coalesce(lag($"zs1", k).over(w), lit(0L))).reduce(_ + _))
          >= 4 && $"z1" === 1)
      .withColumn("sum8",
        (0 to 7).map(k => coalesce(lag($"side", k).over(w), lit(0L)))
          .reduce(_ + _))
      .withColumn("cnt8", count(lit(1)).over(
        w.rowsBetween(-7, Window.currentRow)))
      .withColumn("r4", $"cnt8" === 8 && abs($"sum8") === 8)
    flagged.groupBy($"event_type")
      .agg(max($"n").as("n_days"),
        sum(when($"r1", 1L).otherwise(0L)).as("rule1_points"),
        sum(when($"r2", 1L).otherwise(0L)).as("rule2_points"),
        sum(when($"r3", 1L).otherwise(0L)).as("rule3_points"),
        sum(when($"r4", 1L).otherwise(0L)).as("rule4_points"),
        date_format(min(when($"r1" || $"r2" || $"r3" || $"r4", $"day")),
          "yyyy-MM-dd").as("first_violation"))
      .orderBy($"event_type")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_spc_rules" -> ((s, dir) => spcRules(Tables.events(s, dir))),
    "q_theta_forecast" -> ((s, dir) => thetaForecast(Tables.events(s, dir))),
    "q_tsb_forecast" -> ((s, dir) => tsbForecast(Tables.events(s, dir))),
    "q_adi_cv2" -> ((s, dir) => adiCv2(Tables.events(s, dir))),
    "q_diebold_mariano" ->
      ((s, dir) => dieboldMariano(Tables.events(s, dir))),
    "q_dfa" -> ((s, dir) => dfa(Tables.events(s, dir))),
    "q_sample_entropy" ->
      ((s, dir) => sampleEntropy(Tables.events(s, dir))),
    "q_chow" -> ((s, dir) => chowBreak(Tables.events(s, dir))),
    "q_durbin_watson" -> ((s, dir) => durbinWatson(Tables.events(s, dir))),
    "q_pettitt" -> ((s, dir) => pettitt(Tables.events(s, dir))),
    "q_arch_lm" -> ((s, dir) => archLm(Tables.events(s, dir))),
    "q_variance_ratio" -> ((s, dir) => varianceRatio(Tables.events(s, dir))),
    "q_levene" -> ((s, dir) => levene(Tables.events(s, dir))),
    "q_kruskal_wallis" -> ((s, dir) => kruskalWallis(Tables.events(s, dir))),
    "q_friedman" -> ((s, dir) => friedman(Tables.events(s, dir))),
    "q_jarque_bera" -> ((s, dir) => jarqueBera(Tables.events(s, dir))),
    "q_control_chart" -> ((s, dir) => controlChart(Tables.events(s, dir))),
    "q_garch" -> ((s, dir) => garch(Tables.events(s, dir))),
    "q_croston" -> ((s, dir) => croston(Tables.events(s, dir))),
    "q_halflife" -> ((s, dir) => halflife(Tables.events(s, dir))),
    "q_dispersion" -> ((s, dir) => dispersion(Tables.events(s, dir))),
    "q_gumbel" -> ((s, dir) => gumbelFit(Tables.events(s, dir))),
    "q_kendall_tau" -> ((s, dir) => kendallTau(Tables.events(s, dir))),
    "q_hoeffding_d" -> ((s, dir) => hoeffdingD(Tables.events(s, dir))),
    "q_wilcoxon_sr" -> ((s, dir) =>
      wilcoxonSignedRank(Tables.events(s, dir))),
    "q_grubbs" -> ((s, dir) => grubbsTest(Tables.events(s, dir))),
    "q_mood_median" -> ((s, dir) => moodMedianTest(Tables.events(s, dir))),
    "q_perm_test" -> ((s, dir) => permutationTest(Tables.events(s, dir))),
    "q_seasonal_mk" -> ((s, dir) =>
      seasonalMannKendall(Tables.events(s, dir))),
    "q_ansari_bradley" -> ((s, dir) =>
      ansariBradley(Tables.events(s, dir))),
    "q_turning_points" -> ((s, dir) => turningPoints(Tables.events(s, dir))),
    "q_nelson_aalen" -> ((s, dir) => nelsonAalen(Tables.events(s, dir))),
    "q_did" -> didEventStudy,
    "q_spectral_entropy" -> spectralEntropy,
    "q_isotonic" -> ((s, dir) => isotonic(Tables.events(s, dir))),
    "q_cointegration" -> ((s, dir) => cointegration(Tables.events(s, dir))),
    "q_logrank" -> ((s, dir) => logRank(Tables.events(s, dir))),
    "q_fdr_bh" -> fdrBh,
    "q_fdr_by" -> fdrBy,
    "q_seasonality" -> seasonalityIndex,
    "q_dtw" -> dtwSeasonal,
    "q_acf" -> ((s, dir) => acfLjungBox(Tables.events(s, dir))),
    "q_hurst" -> ((s, dir) => hurst(Tables.events(s, dir))),
    "q_sax" -> ((s, dir) => sax(Tables.events(s, dir))),
    "q_pacf" -> ((s, dir) => pacf(Tables.events(s, dir))),
    "q_perm_entropy" -> ((s, dir) => permutationEntropy(Tables.events(s, dir))),
    "q_granger" -> ((s, dir) => granger(Tables.events(s, dir))),
    "q_adf" -> ((s, dir) => adf(Tables.events(s, dir))),
    "q_kpss" -> ((s, dir) => kpss(Tables.events(s, dir))),
    "q_breusch_pagan" -> ((s, dir) => breuschPagan(Tables.events(s, dir))),
    "q_bartlett" -> ((s, dir) => bartlett(Tables.events(s, dir))),
    "q_cpk" -> ((s, dir) => processCapability(Tables.events(s, dir))),
    "q_backtest" -> ((s, dir) => backtest(Tables.events(s, dir))),
    "q_stochastic" -> ((s, dir) => stochastic(Tables.events(s, dir))),
    "q_macd" -> ((s, dir) => macd(Tables.events(s, dir))),
    "q_var_es" -> ((s, dir) => varEs(Tables.events(s, dir))),
    "q_changepoint" -> ((s, dir) => changePoint(Tables.events(s, dir))),
    "q_mann_kendall" -> mannKendall,
    "q_hodges_lehmann" -> hodgesLehmann,
    "q_pinball" -> pinball,
    "q_tracking_signal" -> trackingSignal,
    "q_mase" -> mase,
    "q_kaplan_meier" -> ((s, dir) => kaplanMeier(Tables.events(s, dir))),
    "q_bollinger" -> ((s, dir) => bollinger(Tables.events(s, dir))),
    "q_rsi" -> ((s, dir) => rsi(Tables.events(s, dir))),
    "q_rolling_corr" -> ((s, dir) => rollingAutocorr(Tables.events(s, dir))),
    "q_cusum" -> ((s, dir) => cusumDrift(Tables.events(s, dir))),
    "q_page_hinkley" -> ((s, dir) => pageHinkley(Tables.events(s, dir))),
    "q_bootstrap_ci" -> ((s, dir) => bootstrapCi(s, dir)),
    "q_xicor" -> ((s, dir) => xicor(Tables.events(s, dir))),
    "q_ffill_gaps" -> ((s, dir) => ffillDaily(Tables.events(s, dir))),
    "q_rolling_stats" -> ((s, dir) => rollingStats(Tables.events(s, dir))),
    "q_ewma" -> ((s, dir) => ewma(Tables.events(s, dir))),
    "q_interp_linear" -> ((s, dir) => interpolateDaily(Tables.events(s, dir))),
    "q_worst_drawdown" -> worstDrawdown,
    "q_fastest_recovery" -> fastestRecovery,
    "q_drawdown" -> drawdown,
    "q_recovery" -> recovery,
    "q_resilience_join" -> resilienceJoin,
    "q_resilience_replay" -> resilienceReplay,
    "q_trend" -> trend,
    "q_shock_sim" -> shockSim,
    "q_ar1_forecast" -> ar1Forecast,
    "q_holt_forecast" -> holtForecast,
    "q_holt_damped" -> holtDamped,
    "q_kalman" -> kalmanForecast,
    "q_theilsen" -> theilSen,
    "q_crosscorr" -> ((s, dir) => crossCorr(s, dir)),
    "q_seasonal_decompose" -> seasonalDecompose,
    "q_stl_strength" -> stlStrength,
    "q_ses_fit" -> ((s, dir) => sesFit(Tables.events(s, dir))),
    "q_periodogram" -> periodogram,
    "q_hw_forecast" -> holtWinters,
    "q_anomaly" -> ((s, dir) => anomalies(Tables.events(s, dir))),
    "q_range_window" -> ((s, dir) => rangeWindow(Tables.events(s, dir))),
    "q_window_rank" -> windowRank,
    "q_running_sum" -> runningSum,
    "q_moving_avg" -> movingAvg,
    "q_lag_delta" -> lagDelta,
    "q_yoy_growth" -> yoyGrowth)

  private val yearlyRevSql =
    """SELECT n_name, year(o_orderdate)::BIGINT AS yr, sum(o_totalprice) AS rev
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY 1, 2""".stripMargin

  private val dailyCountsSql =
    """SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS y
      |FROM events GROUP BY 1, 2""".stripMargin

  /** B41 twin: the identical integer DP, outer loop unrolled into 12
    * chained CTEs (the I1 house pattern), each row built by one
    * list fold. Elements ride as single-element lists so the fold
    * accumulator (the growing row) and the iterated j share a type.
    * All arithmetic is BIGINT — fold mechanics cannot skew parity. */
  private def dtwSql: String = {
    val INF = "1000000000000000::BIGINT"
    def sums(yr: Int) = (1 to 12).map(m =>
      s"coalesce(sum(CASE WHEN yr = $yr AND m = $m THEN cents END), 0)::BIGINT")
      .mkString("[", ",\n    ", "]")
    val iters = (1 to 12).map { i =>
      s"""r$i AS (SELECT priority, xs, ys,
         |  list_reduce(
         |    list_prepend([$INF],
         |      list_transform(range(1, 13), j -> [j::BIGINT])),
         |    (acc, x) -> list_append(acc,
         |      CASE WHEN abs($i - x[1]) > 3 THEN $INF
         |      ELSE abs(xs[$i] - ys[x[1]])
         |        + least(row${i - 1}[x[1] + 1], row${i - 1}[x[1]], acc[-1])
         |      END)) AS row$i
         |  FROM r${i - 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH pts AS (
       |  SELECT o_orderpriority AS priority, year(o_orderdate) AS yr,
       |    month(o_orderdate) AS m, round(o_totalprice * 100)::BIGINT AS cents
       |  FROM orders WHERE year(o_orderdate) IN (1995, 1996)),
       |series AS (
       |  SELECT priority,
       |    ${sums(1995)} AS xs,
       |    ${sums(1996)} AS ys
       |  FROM pts GROUP BY 1),
       |r0 AS (SELECT priority, xs, ys,
       |  list_prepend(0::BIGINT,
       |    list_transform(range(1, 13), z -> $INF)) AS row0
       |  FROM series),
       |$iters
       |SELECT priority, row12[13] AS dtw_cents,
       |  list_reduce(xs, (a, b) -> a + b) AS total_1995_cents,
       |  list_reduce(ys, (a, b) -> a + b) AS total_1996_cents
       |FROM r12 ORDER BY priority""".stripMargin
  }

  /** The B20 classical-decomposition CTE chain (d → b → c → praw
    * → wide → sj with per-row `trend`/`seasonal`) — shared by the
    * q_seasonal_decompose twin and the B48 strength tail. */
  private lazy val seasonalDecomposeCtesSql: String =
    s"""d AS ($dailyCountsSql),
         |b AS (
         |  SELECT event_type, day, y,
         |    row_number() OVER w AS t,
         |    count(*) OVER w7 AS nwin,
         |    (sum(y) OVER w7)::BIGINT AS wsum
         |  FROM d
         |  WINDOW w AS (PARTITION BY event_type ORDER BY day),
         |    w7 AS (PARTITION BY event_type ORDER BY day
         |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         |c AS (
         |  SELECT *, CASE WHEN nwin = 7 THEN wsum::DOUBLE / 7 END AS trend,
         |    ((t - 1) % 7)::INT AS season,
         |    CASE WHEN nwin = 7 THEN 7 * y - wsum END AS dnum
         |  FROM b),
         |praw AS (
         |  SELECT event_type, season, sum(dnum)::BIGINT AS snum,
         |    count(*) AS scnt
         |  FROM c WHERE dnum IS NOT NULL GROUP BY 1, 2),
         |pr2 AS (SELECT event_type, season,
         |  snum::DOUBLE / (7.0 * scnt) AS s_raw FROM praw),
         |wide AS (
         |  SELECT event_type,
         |    max(CASE WHEN season = 0 THEN s_raw END) AS s0,
         |    max(CASE WHEN season = 1 THEN s_raw END) AS s1,
         |    max(CASE WHEN season = 2 THEN s_raw END) AS s2,
         |    max(CASE WHEN season = 3 THEN s_raw END) AS s3,
         |    max(CASE WHEN season = 4 THEN s_raw END) AS s4,
         |    max(CASE WHEN season = 5 THEN s_raw END) AS s5,
         |    max(CASE WHEN season = 6 THEN s_raw END) AS s6
         |  FROM pr2 GROUP BY 1),
         |wm AS (SELECT *,
         |  (s0 + s1 + s2 + s3 + s4 + s5 + s6) / 7.0 AS smean FROM wide),
         |sj AS (
         |  SELECT c.*, CASE c.season
         |      WHEN 0 THEN s0 - smean WHEN 1 THEN s1 - smean
         |      WHEN 2 THEN s2 - smean WHEN 3 THEN s3 - smean
         |      WHEN 4 THEN s4 - smean WHEN 5 THEN s5 - smean
         |      WHEN 6 THEN s6 - smean END AS seasonal
         |  FROM c JOIN wm ON c.event_type = wm.event_type)""".stripMargin

  val oracles: Map[String, String] = Map(
    // B101 twin: identical integer zone predicates ((n·y−S)² vs
    // k²·(nΣy²−S²)) and the same signed-sum run windows
    "q_spc_rules" ->
      """WITH pts AS (
        |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS y
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT event_type, count(*)::BIGINT AS n, sum(y)::BIGINT AS s,
        |    sum(y::HUGEINT * y)::HUGEINT AS sq
        |  FROM pts GROUP BY 1),
        |zoned AS (
        |  SELECT p.event_type, p.day, st.n,
        |    (st.n::HUGEINT * p.y - st.s) AS dev,
        |    (st.n::HUGEINT * st.sq - st.s::HUGEINT * st.s) AS varn
        |  FROM pts p JOIN st USING (event_type)),
        |z AS (
        |  SELECT event_type, day, n,
        |    sign(dev::DOUBLE)::BIGINT AS side,
        |    (CASE WHEN dev * dev > varn THEN 1 ELSE 0 END)::BIGINT AS z1,
        |    (CASE WHEN dev * dev > 4 * varn THEN 1 ELSE 0 END)::BIGINT
        |      AS z2,
        |    (CASE WHEN dev * dev > 9 * varn THEN 1 ELSE 0 END)::BIGINT
        |      AS z3
        |  FROM zoned),
        |zz AS (
        |  SELECT *, z1 * side AS zs1, z2 * side AS zs2 FROM z),
        |fl AS (
        |  SELECT event_type, day, n,
        |    (z3 = 1) AS r1,
        |    (abs(zs2 + coalesce(lag(zs2, 1) OVER w, 0) +
        |      coalesce(lag(zs2, 2) OVER w, 0)) >= 2 AND z2 = 1) AS r2,
        |    (abs(((coalesce(lag(zs1, 0) OVER w, 0) +
        |      coalesce(lag(zs1, 1) OVER w, 0)) +
        |      (coalesce(lag(zs1, 2) OVER w, 0) +
        |      coalesce(lag(zs1, 3) OVER w, 0))) +
        |      coalesce(lag(zs1, 4) OVER w, 0)) >= 4 AND z1 = 1) AS r3,
        |    (count(*) OVER w8 = 8 AND
        |     abs(sum(side) OVER w8) = 8) AS r4
        |  FROM zz
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day),
        |    w8 AS (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
        |SELECT event_type, max(n)::BIGINT AS n_days,
        |  sum(CASE WHEN r1 THEN 1 ELSE 0 END)::BIGINT AS rule1_points,
        |  sum(CASE WHEN r2 THEN 1 ELSE 0 END)::BIGINT AS rule2_points,
        |  sum(CASE WHEN r3 THEN 1 ELSE 0 END)::BIGINT AS rule3_points,
        |  sum(CASE WHEN r4 THEN 1 ELSE 0 END)::BIGINT AS rule4_points,
        |  strftime(min(CASE WHEN r1 OR r2 OR r3 OR r4 THEN day END),
        |    '%Y-%m-%d') AS first_violation
        |FROM fl GROUP BY 1 ORDER BY 1""".stripMargin,
    // B95 twin: exact trend sums via the row_number index, the same
    // α=0.5 SES recursion over the identical θ=2 line
    "q_theta_forecast" ->
      """WITH RECURSIVE pts AS (
        |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS y
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT event_type, y,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day)
        |      ::BIGINT AS t
        |  FROM pts),
        |lists AS (
        |  SELECT event_type, list(y::DOUBLE ORDER BY t) AS ys,
        |    count(*)::BIGINT AS n, sum(y)::BIGINT AS sy,
        |    sum(t * y)::BIGINT AS sty
        |  FROM idx GROUP BY 1 HAVING count(*) >= 3),
        |ab AS (
        |  SELECT *, (n * (n + 1) // 2)::BIGINT AS st,
        |    (n * (n + 1) * (2 * n + 1) // 6)::BIGINT AS stt
        |  FROM lists),
        |ab2 AS (
        |  SELECT *, (n * sty - st * sy)::DOUBLE /
        |      (n * stt - st * st)::DOUBLE AS b
        |  FROM ab),
        |ab3 AS (
        |  SELECT *, (sy::DOUBLE - b * st::DOUBLE) / n::DOUBLE AS a
        |  FROM ab2),
        |st2 AS (
        |  SELECT event_type, n, a, b, ys, 1::BIGINT AS k,
        |    2.0 * ys[1] - (a + b * 1) AS l
        |  FROM ab3
        |  UNION ALL
        |  SELECT event_type, n, a, b, ys, k + 1,
        |    l + 0.5 * ((2.0 * ys[(k + 1)::INT] - (a + b * (k + 1))) - l)
        |  FROM st2 WHERE k < n),
        |fin AS (SELECT * FROM st2 WHERE k = n)
        |SELECT event_type, n AS n_days, round(b, 6) AS slope,
        |  round(l, 4) AS ses_level,
        |  round((a + b * (n + 1)::DOUBLE + l) * 0.5, 4) AS f1,
        |  round((a + b * (n + 2)::DOUBLE + l) * 0.5, 4) AS f2,
        |  round((a + b * (n + 3)::DOUBLE + l) * 0.5, 4) AS f3
        |FROM fin ORDER BY event_type""".stripMargin,
    // B96 twin: same densified day spine, the identical coupled
    // (p, z) recursion with pinned inits
    "q_tsb_forecast" ->
      """WITH RECURSIVE pts AS (
        |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS y
        |  FROM events GROUP BY 1, 2),
        |spans AS (
        |  SELECT event_type, min(day) AS d0, max(day) AS d1,
        |    sum(CASE WHEN y > 0 THEN 1 ELSE 0 END)::BIGINT AS n_demand
        |  FROM pts GROUP BY 1),
        |grid_days AS (
        |  SELECT event_type, n_demand,
        |    unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        |  FROM spans),
        |grid AS (
        |  SELECT g.event_type, g.n_demand, g.day,
        |    coalesce(p.y, 0)::BIGINT AS y
        |  FROM grid_days g
        |  LEFT JOIN pts p
        |    ON p.event_type = g.event_type AND p.day = g.day),
        |lists AS (
        |  SELECT event_type, max(n_demand)::BIGINT AS n_demand,
        |    count(*)::BIGINT AS n, list(y ORDER BY day) AS ys
        |  FROM grid GROUP BY 1),
        |st AS (
        |  SELECT event_type, n_demand, n, ys, 0::BIGINT AS k,
        |    0.5::DOUBLE AS p, 1.0::DOUBLE AS z
        |  FROM lists
        |  UNION ALL
        |  SELECT event_type, n_demand, n, ys, k + 1,
        |    p + 0.2 * ((CASE WHEN ys[(k + 1)::INT] > 0 THEN 1.0
        |      ELSE 0.0 END) - p),
        |    CASE WHEN ys[(k + 1)::INT] > 0
        |      THEN z + 0.3 * (ys[(k + 1)::INT] - z) ELSE z END
        |  FROM st WHERE k < n),
        |fin AS (SELECT * FROM st WHERE k = n)
        |SELECT event_type, n AS n_periods, n_demand,
        |  round(p, 6) AS p_final, round(z, 4) AS z_final,
        |  round(p * z, 4) AS forecast
        |FROM fin ORDER BY event_type""".stripMargin,
    // B97 twin: same exact calendar span and HUGEINT size sums, the
    // identical integer classification predicates
    "q_adi_cv2" ->
      """WITH pts AS (
        |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS y
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type,
        |    (date_diff('day', min(day), max(day)) + 1)::BIGINT
        |      AS n_periods,
        |    count(*)::BIGINT AS k,
        |    sum(y::HUGEINT)::HUGEINT AS s,
        |    sum(y::HUGEINT * y)::HUGEINT AS sq
        |  FROM pts GROUP BY 1)
        |SELECT event_type, n_periods, k AS n_demand,
        |  round(n_periods::DOUBLE / k::DOUBLE, 4) AS adi,
        |  round((k::HUGEINT * sq - s * s)::DOUBLE / (s * s)::DOUBLE, 4)
        |    AS cv2,
        |  CASE
        |    WHEN 100 * n_periods < 132 * k
        |      AND 100 * (k::HUGEINT * sq - s * s) < 49 * s * s
        |      THEN 'smooth'
        |    WHEN 100 * n_periods >= 132 * k
        |      AND 100 * (k::HUGEINT * sq - s * s) < 49 * s * s
        |      THEN 'intermittent'
        |    WHEN 100 * n_periods < 132 * k THEN 'erratic'
        |    ELSE 'lumpy' END AS demand_class
        |FROM m ORDER BY event_type""".stripMargin,
    // B98 twin: same integer loss differentials off the same two lag
    // baselines, one sqrt division
    "q_diebold_mariano" ->
      """WITH pts AS (
        |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS y
        |  FROM events GROUP BY 1, 2),
        |lagged AS (
        |  SELECT * FROM (
        |    SELECT event_type, y, lag(y, 1) OVER w AS l1,
        |      lag(y, 7) OVER w AS l7
        |    FROM pts WINDOW w AS (PARTITION BY event_type ORDER BY day))
        |  WHERE l1 IS NOT NULL AND l7 IS NOT NULL),
        |d AS (
        |  SELECT event_type,
        |    (y - l1) * (y - l1) - (y - l7) * (y - l7) AS d
        |  FROM lagged),
        |m AS (
        |  SELECT event_type, count(*)::BIGINT AS n,
        |    sum(d::HUGEINT)::HUGEINT AS sd,
        |    sum(d::HUGEINT * d)::HUGEINT AS sdd
        |  FROM d GROUP BY 1)
        |SELECT event_type, n AS n_pairs,
        |  round(sd::DOUBLE / n::DOUBLE, 4) AS mean_d,
        |  CASE WHEN n::HUGEINT * sdd - sd * sd > 0 THEN
        |    round(sd::DOUBLE * sqrt((n - 1)::DOUBLE) /
        |      sqrt((n::HUGEINT * sdd - sd * sd)::DOUBLE), 4)
        |  END AS dm,
        |  CASE WHEN n::HUGEINT * sdd - sd * sd <= 0 THEN 'tie'
        |    WHEN sd < 0 THEN 'naive1' WHEN sd > 0 THEN 'naive7'
        |    ELSE 'tie' END AS better
        |FROM m ORDER BY event_type""".stripMargin,
    // B99 twin: same exact n-scaled profile, HUGEINT box sums and
    // closed-form residual SS, the identical 3-point ln-ln OLS tail
    "q_dfa" ->
      """WITH pts AS (
        |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS y
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT event_type, count(*)::BIGINT AS n, sum(y)::BIGINT AS s
        |  FROM pts GROUP BY 1),
        |prof AS (
        |  SELECT p.event_type, st.n,
        |    row_number() OVER w::BIGINT AS j,
        |    st.n * (sum(p.y) OVER (PARTITION BY p.event_type
        |      ORDER BY p.day ROWS UNBOUNDED PRECEDING)) -
        |      (row_number() OVER w) * st.s AS pj
        |  FROM pts p JOIN st USING (event_type)
        |  WINDOW w AS (PARTITION BY p.event_type ORDER BY p.day)),
        |ex AS (
        |  SELECT event_type, n, j, pj, m.m,
        |    (j - 1) // m.m AS b, ((j - 1) % m.m) + 1 AS r
        |  FROM prof, (SELECT unnest([5, 10, 15]) AS m) m),
        |boxes AS (
        |  SELECT event_type, n, m, b, count(*)::BIGINT AS cnt,
        |    sum(pj::HUGEINT)::HUGEINT AS sz,
        |    sum(pj::HUGEINT * r)::HUGEINT AS szr,
        |    sum(pj::HUGEINT * pj)::HUGEINT AS szz,
        |    ((m * (m + 1)) // 2)::HUGEINT AS sr,
        |    ((m * (m + 1) * (2 * m + 1)) // 6)::HUGEINT AS srr
        |  FROM ex GROUP BY 1, 2, 3, 4, 9, 10 HAVING count(*) = m),
        |sse AS (
        |  SELECT event_type, n, m, b,
        |    szz::DOUBLE - ((sz * sz * srr - 2 * sz * szr * sr +
        |      m::HUGEINT * szr * szr)::DOUBLE /
        |      (m::HUGEINT * srr - sr * sr)::DOUBLE) AS sse
        |  FROM boxes),
        |fm AS (
        |  SELECT event_type, n, m, count(*)::BIGINT AS nb,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list(sse ORDER BY b)), (a, x) -> a + x) AS ssesum
        |  FROM sse GROUP BY 1, 2, 3),
        |f AS (
        |  SELECT event_type, m,
        |    sqrt(ssesum / (nb * m)::DOUBLE) / n::DOUBLE AS f
        |  FROM fm),
        |o AS (
        |  SELECT event_type, count(*)::BIGINT AS np,
        |    max(CASE WHEN m = 5 THEN ln(m::DOUBLE) END) AS x5,
        |    max(CASE WHEN m = 10 THEN ln(m::DOUBLE) END) AS x10,
        |    max(CASE WHEN m = 15 THEN ln(m::DOUBLE) END) AS x15,
        |    max(CASE WHEN m = 5 THEN ln(f) END) AS y5,
        |    max(CASE WHEN m = 10 THEN ln(f) END) AS y10,
        |    max(CASE WHEN m = 15 THEN ln(f) END) AS y15,
        |    max(CASE WHEN m = 5 THEN round(f, 4) END) AS f5,
        |    max(CASE WHEN m = 10 THEN round(f, 4) END) AS f10,
        |    max(CASE WHEN m = 15 THEN round(f, 4) END) AS f15
        |  FROM f GROUP BY 1 HAVING count(*) = 3)
        |SELECT event_type, f5, f10, f15,
        |  round((3 * ((x5 * y5 + x10 * y10) + x15 * y15) -
        |    ((x5 + x10) + x15) * ((y5 + y10) + y15)) /
        |    (3 * ((x5 * x5 + x10 * x10) + x15 * x15) -
        |    ((x5 + x10) + x15) * ((x5 + x10) + x15)), 4) AS alpha
        |FROM o ORDER BY event_type""".stripMargin,
    // B100 twin: same sign symbols, the same exact template-cell pair
    // counts, one ln
    "q_sample_entropy" ->
      """WITH pts AS (
        |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS y
        |  FROM events GROUP BY 1, 2),
        |sym AS (
        |  SELECT * FROM (
        |    SELECT event_type, day, y, lag(y) OVER w AS prev
        |    FROM pts WINDOW w AS (PARTITION BY event_type ORDER BY day))
        |  WHERE prev IS NOT NULL),
        |sgns AS (
        |  SELECT event_type, day,
        |    sign((y - prev)::DOUBLE)::BIGINT AS sgn
        |  FROM sym),
        |tpl AS (
        |  SELECT event_type, sgn, lead(sgn, 1) OVER w AS s2,
        |    lead(sgn, 2) OVER w AS s3
        |  FROM sgns WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |b2 AS (
        |  SELECT event_type, sum(c)::BIGINT AS n2,
        |    sum(c * (c - 1) // 2)::BIGINT AS b_pairs
        |  FROM (
        |    SELECT event_type, sgn, s2, count(*)::BIGINT AS c
        |    FROM tpl WHERE s2 IS NOT NULL GROUP BY 1, 2, 3)
        |  GROUP BY 1),
        |a3 AS (
        |  SELECT event_type, sum(c * (c - 1) // 2)::BIGINT AS a_pairs
        |  FROM (
        |    SELECT event_type, sgn, s2, s3, count(*)::BIGINT AS c
        |    FROM tpl WHERE s3 IS NOT NULL GROUP BY 1, 2, 3, 4)
        |  GROUP BY 1)
        |SELECT b2.event_type, (n2 + 1)::BIGINT AS n_symbols,
        |  b_pairs, a_pairs,
        |  CASE WHEN a_pairs > 0 AND b_pairs > 0 THEN
        |    round(-ln(a_pairs::DOUBLE / b_pairs::DOUBLE), 6)
        |  END AS sampen
        |FROM b2 JOIN a3 USING (event_type)
        |ORDER BY event_type""".stripMargin,
    // B68 twin: same doubled-average-rank integers on the value-
    // domain frame, HUGEINT rank-sum squares (== decimal(38,0)),
    // one division per group folded in the same event_type order
    // via list_reduce (0.0+t1 = t1 exactly, so the Spark aggregate
    // init folds identically), integer tie term to one division
    "q_kruskal_wallis" ->
      s"""WITH d AS ($dailyCountsSql),
         |f AS (SELECT y, count(*)::BIGINT AS t FROM d GROUP BY 1),
         |r AS (
         |  SELECT y, 2 * coalesce(sum(t) OVER (ORDER BY y
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    + t + 1 AS rank2
         |  FROM f),
         |j AS (SELECT d.event_type, r.rank2 FROM d JOIN r USING (y)),
         |g AS (
         |  SELECT event_type, count(*)::BIGINT AS ni,
         |    sum(rank2)::BIGINT AS r2
         |  FROM j GROUP BY 1),
         |tot AS (
         |  SELECT count(*)::BIGINT AS k, sum(ni)::BIGINT AS nn,
         |    list(struct_pack(event_type := event_type,
         |        r2sq := r2::HUGEINT * r2, nid := ni::DOUBLE)
         |      ORDER BY event_type) AS terms
         |  FROM g),
         |tie AS (SELECT sum(t*t*t - t)::BIGINT AS tie3 FROM f),
         |h AS (
         |  SELECT k, nn, tie3,
         |    list_reduce(list_transform(terms,
         |      x -> x.r2sq::DOUBLE / x.nid), (a, b) -> a + b) AS a
         |  FROM tot, tie WHERE k >= 2 AND nn >= 3)
         |SELECT k, nn AS n_obs, k - 1 AS df,
         |  round(3.0 * a / (nn * (nn + 1))::DOUBLE
         |    - 3.0 * (nn + 1)::DOUBLE, 6) AS h,
         |  CASE WHEN 1.0 - tie3::DOUBLE / (nn*nn*nn - nn)::DOUBLE > 0.0
         |    THEN round((3.0 * a / (nn * (nn + 1))::DOUBLE
         |        - 3.0 * (nn + 1)::DOUBLE)
         |      / (1.0 - tie3::DOUBLE / (nn*nn*nn - nn)::DOUBLE), 6)
         |    END AS h_tie_corrected
         |FROM h""".stripMargin,
    // B69 twin: same in-block 2·less + t + 1 rank integers (RANGE
    // window == Spark's rangeBetween on the integer count), the
    // rank-sum-square total is one order-free HUGEINT sum, one IEEE
    // division at the end
    "q_friedman" ->
      s"""WITH d AS ($dailyCountsSql),
         |kk AS (SELECT count(DISTINCT event_type)::BIGINT AS k FROM d),
         |dc AS (SELECT day, count(*)::BIGINT AS c FROM d GROUP BY 1),
         |fb AS (
         |  SELECT d.event_type, d.day, d.y, kk.k
         |  FROM d JOIN dc ON d.day = dc.day CROSS JOIN kk
         |  WHERE dc.c = kk.k),
         |r AS (
         |  SELECT event_type, k,
         |    2 * coalesce(count(*) OVER (PARTITION BY day ORDER BY y
         |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    + count(*) OVER (PARTITION BY day, y) + 1 AS rank2
         |  FROM fb),
         |g AS (
         |  SELECT event_type, max(k)::BIGINT AS k,
         |    count(*)::BIGINT AS n, sum(rank2)::BIGINT AS rj2
         |  FROM r GROUP BY 1),
         |t AS (
         |  SELECT max(k)::BIGINT AS k, max(n)::BIGINT AS n_blocks,
         |    sum(rj2::HUGEINT * rj2) AS ssq
         |  FROM g)
         |SELECT k, n_blocks, k - 1 AS df,
         |  round(3.0 * ssq::DOUBLE / (n_blocks * k * (k + 1))::DOUBLE
         |    - 3.0 * (n_blocks * (k + 1))::DOUBLE, 6) AS chi2_f
         |FROM t WHERE k >= 2 AND n_blocks >= 2""".stripMargin,
    // B75 twin: same cleared-coefficient residual integers in
    // HUGEINT, the (nD)² factor cancelling in the same single
    // division
    "q_durbin_watson" ->
      s"""WITH d AS ($dailyCountsSql),
         |p AS (
         |  SELECT event_type, y, row_number() OVER (
         |    PARTITION BY event_type ORDER BY day)::BIGINT AS t
         |  FROM d),
         |st AS (
         |  SELECT event_type, count(*)::BIGINT AS n,
         |    sum(t)::BIGINT AS stt, sum(y)::BIGINT AS sy,
         |    sum(t * t)::BIGINT AS st2, sum(t * y)::BIGINT AS sty
         |  FROM p GROUP BY 1),
         |c AS (
         |  SELECT event_type, n, stt, sy,
         |    n * st2 - stt * stt AS dd, n * sty - stt * sy AS bnum
         |  FROM st WHERE n >= 8 AND n * st2 - stt * stt > 0),
         |r AS (
         |  SELECT p.event_type, c.n,
         |    c.n::HUGEINT * c.dd * p.y - c.dd::HUGEINT * c.sy
         |      + c.bnum::HUGEINT * (c.stt - c.n * p.t) AS e,
         |    lag(c.n::HUGEINT * c.dd * p.y - c.dd::HUGEINT * c.sy
         |      + c.bnum::HUGEINT * (c.stt - c.n * p.t), 1) OVER (
         |      PARTITION BY p.event_type ORDER BY p.t) AS ep
         |  FROM p JOIN c USING (event_type)),
         |g AS (
         |  SELECT event_type, max(n)::BIGINT AS n_days,
         |    sum(e * e) AS see,
         |    sum(CASE WHEN ep IS NOT NULL
         |      THEN (e - ep) * (e - ep) END) AS sd2
         |  FROM r GROUP BY 1)
         |SELECT event_type, n_days,
         |  round(sd2::DOUBLE / see::DOUBLE, 6) AS dw
         |FROM g WHERE see > 0 ORDER BY event_type""".stripMargin,
    // B74 twin: same value-domain V identity, same telescoped
    // integer cumsum, same single exp tail, earliest-day ties
    "q_pettitt" ->
      s"""WITH d AS ($dailyCountsSql),
         |f AS (
         |  SELECT event_type, y, count(*)::BIGINT AS t
         |  FROM d GROUP BY 1, 2),
         |vt AS (
         |  SELECT event_type, y,
         |    2 * coalesce(sum(t) OVER (PARTITION BY event_type
         |      ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND 1 PRECEDING), 0) + t
         |    - sum(t) OVER (PARTITION BY event_type) AS v,
         |    sum(t) OVER (PARTITION BY event_type) AS n
         |  FROM f),
         |c AS (
         |  SELECT d.event_type, d.day, vt.n,
         |    row_number() OVER wd AS i,
         |    - sum(vt.v) OVER (PARTITION BY d.event_type ORDER BY d.day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS u
         |  FROM d JOIN vt ON d.event_type = vt.event_type
         |    AND d.y = vt.y
         |  WINDOW wd AS (PARTITION BY d.event_type ORDER BY d.day)),
         |r AS (
         |  SELECT event_type, day, n, u, row_number() OVER (
         |    PARTITION BY event_type ORDER BY abs(u) DESC, day) AS rn
         |  FROM c WHERE i < n AND n >= 8)
         |SELECT event_type, n::BIGINT AS n_days,
         |  strftime(day, '%Y-%m-%d') AS tau_day,
         |  abs(u)::BIGINT AS k_stat,
         |  round(least(1.0, 2.0 * exp(-6.0
         |    * (abs(u) * abs(u))::DOUBLE
         |    / (n * n * n + n * n)::DOUBLE)), 6) AS p_approx
         |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin,
    // B73 twin: same cleared-mean squared residuals in HUGEINT,
    // same five regression sums, one double cast per centered
    // cross-term, rounded-LM flag on both sides
    "q_arch_lm" ->
      s"""WITH d AS ($dailyCountsSql),
         |w AS (
         |  SELECT event_type, day, y,
         |    count(*) OVER (PARTITION BY event_type) AS n,
         |    sum(y) OVER (PARTITION BY event_type) AS s
         |  FROM d),
         |z AS (
         |  SELECT event_type, day,
         |    (n::HUGEINT * y - s) * (n::HUGEINT * y - s) AS z
         |  FROM w),
         |p AS (
         |  SELECT event_type, z, lag(z) OVER (
         |    PARTITION BY event_type ORDER BY day) AS zp
         |  FROM z),
         |g AS (
         |  SELECT event_type, count(*)::BIGINT AS m, sum(z) AS sa,
         |    sum(zp) AS sb, sum(z * zp) AS sab, sum(z * z) AS saa,
         |    sum(zp * zp) AS sbb
         |  FROM p WHERE zp IS NOT NULL GROUP BY 1),
         |f AS (
         |  SELECT event_type, m,
         |    (m * sab - sa * sb)::DOUBLE AS num,
         |    (m * saa - sa * sa)::DOUBLE AS d1,
         |    (m * sbb - sb * sb)::DOUBLE AS d2
         |  FROM g WHERE m >= 8)
         |SELECT event_type, m AS n_pairs,
         |  round(m::DOUBLE * (num * num / (d1 * d2)), 6) AS lm,
         |  (round(m::DOUBLE * (num * num / (d1 * d2)), 6) > 3.841)
         |    ::BIGINT AS arch_effect
         |FROM f WHERE d1 > 0.0 AND d2 > 0.0
         |ORDER BY event_type""".stripMargin,
    // B71 twin: identical cleared-denominator deviation sums in
    // HUGEINT, VR as the same single division, the z tail's
    // q-constants written as the same literal arithmetic
    "q_variance_ratio" ->
      s"""WITH d AS ($dailyCountsSql),
         |w AS (
         |  SELECT event_type, y,
         |    y - lag(y, 1) OVER wd AS d1,
         |    y - lag(y, 2) OVER wd AS d2,
         |    y - lag(y, 4) OVER wd AS d4,
         |    count(*) OVER (PARTITION BY event_type) AS nobs,
         |    (last_value(y) OVER wf - first_value(y) OVER wf) AS dd
         |  FROM d
         |  WINDOW wd AS (PARTITION BY event_type ORDER BY day),
         |    wf AS (PARTITION BY event_type ORDER BY day
         |      ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND UNBOUNDED FOLLOWING)),
         |a0 AS (
         |  SELECT event_type, count(d1)::BIGINT AS n,
         |    sum(CASE WHEN d1 IS NOT NULL THEN
         |      ((nobs - 1)::HUGEINT * d1 - dd)
         |      * ((nobs - 1)::HUGEINT * d1 - dd) END) AS a,
         |    sum(CASE WHEN d2 IS NOT NULL THEN
         |      ((nobs - 1)::HUGEINT * d2 - 2 * dd)
         |      * ((nobs - 1)::HUGEINT * d2 - 2 * dd) END) AS b2,
         |    sum(CASE WHEN d4 IS NOT NULL THEN
         |      ((nobs - 1)::HUGEINT * d4 - 4 * dd)
         |      * ((nobs - 1)::HUGEINT * d4 - 4 * dd) END) AS b4
         |  FROM w GROUP BY 1),
         |a1 AS (SELECT * FROM a0 WHERE n >= 8 AND a > 0),
         |u AS (
         |  SELECT event_type, n, 2::BIGINT AS q, b2 AS braw, a FROM a1
         |  UNION ALL
         |  SELECT event_type, n, 4::BIGINT AS q, b4 AS braw, a FROM a1),
         |v AS (
         |  SELECT event_type, q, n AS n_diffs,
         |    braw::DOUBLE / (a * q)::DOUBLE AS vr
         |  FROM u WHERE braw IS NOT NULL)
         |SELECT event_type, q, n_diffs, round(vr, 6) AS vr,
         |  round((vr - 1.0) * sqrt(n_diffs::DOUBLE)
         |    / sqrt((2.0 * (q * 2 - 1)::DOUBLE * (q - 1)::DOUBLE)
         |      / (3.0 * q::DOUBLE)), 6) AS z
         |FROM v ORDER BY event_type, q""".stripMargin,
    // B72 twin: same ranked doubled-median integers, same per-group
    // S²/n one-division terms folded in event_type order via
    // list_reduce, the ratio as the only compound IEEE step
    "q_levene" ->
      s"""WITH d AS ($dailyCountsSql),
         |r AS (
         |  SELECT event_type, y,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY y, day) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS m
         |  FROM d),
         |med AS (
         |  SELECT event_type, sum(y * (CASE
         |    WHEN m % 2 = 1 AND rn = (m + 1) // 2 THEN 2
         |    WHEN m % 2 = 0 AND (rn = m // 2 OR rn = m // 2 + 1) THEN 1
         |    ELSE 0 END))::BIGINT AS med2
         |  FROM r GROUP BY 1),
         |z AS (
         |  SELECT d.event_type, abs(2 * d.y - med.med2)::BIGINT AS z2
         |  FROM d JOIN med USING (event_type)),
         |g AS (
         |  SELECT event_type, count(*)::BIGINT AS ni,
         |    sum(z2)::BIGINT AS si, sum(z2::HUGEINT * z2) AS qi
         |  FROM z GROUP BY 1),
         |t AS (
         |  SELECT count(*)::BIGINT AS k, sum(ni)::BIGINT AS nn,
         |    sum(si)::BIGINT AS s,
         |    list(struct_pack(event_type := event_type,
         |        s2 := si::HUGEINT * si, nid := ni::DOUBLE,
         |        qid := qi::DOUBLE)
         |      ORDER BY event_type) AS terms
         |  FROM g),
         |f AS (
         |  SELECT k, nn, s,
         |    list_reduce(list_transform(terms,
         |      x -> x.s2::DOUBLE / x.nid), (a, b) -> a + b) AS ssn,
         |    list_reduce(list_transform(terms,
         |      x -> x.qid - x.s2::DOUBLE / x.nid), (a, b) -> a + b)
         |      AS within
         |  FROM t WHERE k >= 2 AND nn > k)
         |SELECT k, nn AS n_obs, k - 1 AS df1, nn - k AS df2,
         |  round(((nn - k)::DOUBLE / (k - 1)::DOUBLE)
         |    * ((ssn - (s::HUGEINT * s)::DOUBLE / nn::DOUBLE)
         |      / within), 6) AS w
         |FROM f WHERE within > 0.0""".stripMargin,
    // B70 twin: same integer shift s//n (both engines floor on
    // non-negative operands), HUGEINT shifted power sums, identical
    // moment polynomials with one double cast+division each, same
    // repeated-multiplication √m2 tail
    "q_jarque_bera" ->
      s"""WITH d AS ($dailyCountsSql),
         |st AS (
         |  SELECT event_type, count(*)::BIGINT AS n,
         |    sum(y)::BIGINT AS s
         |  FROM d GROUP BY 1),
         |p AS (
         |  SELECT d.event_type, st.n, (d.y - st.s // st.n)::BIGINT AS yp
         |  FROM d JOIN st USING (event_type)),
         |m AS (
         |  SELECT event_type, max(n)::BIGINT AS n,
         |    sum(yp)::HUGEINT AS s1,
         |    sum(yp::HUGEINT * yp) AS s2,
         |    sum(yp::HUGEINT * yp * yp) AS s3,
         |    sum(yp::HUGEINT * yp * yp * yp) AS s4
         |  FROM p GROUP BY 1 HAVING count(*) >= 4),
         |c AS (
         |  SELECT event_type, n,
         |    (n::HUGEINT * s2 - s1 * s1)::DOUBLE
         |      / (n * n)::DOUBLE AS m2,
         |    (n::HUGEINT * n * s3 - 3 * n::HUGEINT * s1 * s2
         |      + 2 * s1 * s1 * s1)::DOUBLE
         |      / (n * n * n)::DOUBLE AS m3,
         |    (n::HUGEINT * n * n * s4 - 4 * n::HUGEINT * n * s1 * s3
         |      + 6 * n::HUGEINT * s1 * s1 * s2
         |      - 3 * s1 * s1 * s1 * s1)::DOUBLE
         |      / (n * n * n * n)::DOUBLE AS m4
         |  FROM m),
         |f AS (
         |  SELECT event_type, n, m3 / (m2 * sqrt(m2)) AS sk,
         |    m4 / (m2 * m2) AS ku
         |  FROM c WHERE m2 > 0.0)
         |SELECT event_type, n AS n_days, round(sk, 6) AS skewness,
         |  round(ku, 6) AS kurtosis,
         |  round(n::DOUBLE / 6.0
         |    * (sk * sk + (ku - 3.0) * (ku - 3.0) / 4.0), 6) AS jb
         |FROM f ORDER BY event_type""".stripMargin,
    // B60 twin: identical integer moments, HUGEINT cross-products
    // (== Spark's decimal(38,0)), one double cast per SSE, same F
    // tail and guards
    "q_chow" ->
      s"""WITH d AS ($dailyCountsSql),
         |p AS (
         |  SELECT event_type, y,
         |    row_number() OVER (PARTITION BY event_type ORDER BY day)
         |      ::BIGINT AS t,
         |    count(*) OVER (PARTITION BY event_type)::BIGINT AS n
         |  FROM d),
         |kk AS (SELECT *, n // 2 AS k FROM p),
         |a AS (
         |  SELECT event_type, max(k)::BIGINT AS k,
         |    count(*)::BIGINT AS np, sum(t)::BIGINT AS stp,
         |    sum(y)::BIGINT AS syp, sum(t*t)::BIGINT AS sttp,
         |    sum(t*y)::BIGINT AS styp, sum(y*y)::BIGINT AS syyp,
         |    sum(CASE WHEN t <= k THEN 1 ELSE 0 END)::BIGINT AS n1,
         |    sum(CASE WHEN t <= k THEN t ELSE 0 END)::BIGINT AS st1,
         |    sum(CASE WHEN t <= k THEN y ELSE 0 END)::BIGINT AS sy1,
         |    sum(CASE WHEN t <= k THEN t*t ELSE 0 END)::BIGINT AS stt1,
         |    sum(CASE WHEN t <= k THEN t*y ELSE 0 END)::BIGINT AS sty1,
         |    sum(CASE WHEN t <= k THEN y*y ELSE 0 END)::BIGINT AS syy1,
         |    sum(CASE WHEN t > k THEN 1 ELSE 0 END)::BIGINT AS n2,
         |    sum(CASE WHEN t > k THEN t ELSE 0 END)::BIGINT AS st2,
         |    sum(CASE WHEN t > k THEN y ELSE 0 END)::BIGINT AS sy2,
         |    sum(CASE WHEN t > k THEN t*t ELSE 0 END)::BIGINT AS stt2,
         |    sum(CASE WHEN t > k THEN t*y ELSE 0 END)::BIGINT AS sty2,
         |    sum(CASE WHEN t > k THEN y*y ELSE 0 END)::BIGINT AS syy2
         |  FROM kk GROUP BY 1),
         |m AS (
         |  SELECT event_type, k, np,
         |    np*sttp - stp*stp AS mttp, np*styp - stp*syp AS mtyp,
         |    np*syyp - syp*syp AS myyp,
         |    n1*stt1 - st1*st1 AS mtt1, n1*sty1 - st1*sy1 AS mty1,
         |    n1*syy1 - sy1*sy1 AS myy1,
         |    n2*stt2 - st2*st2 AS mtt2, n2*sty2 - st2*sy2 AS mty2,
         |    n2*syy2 - sy2*sy2 AS myy2,
         |    n1, n2
         |  FROM a),
         |sse AS (
         |  SELECT event_type, k, np,
         |    CASE WHEN mttp <> 0 THEN
         |      (myyp::HUGEINT * mttp - mtyp::HUGEINT * mtyp)::DOUBLE
         |        / (np * mttp)::DOUBLE END AS ssep,
         |    CASE WHEN mtt1 <> 0 THEN
         |      (myy1::HUGEINT * mtt1 - mty1::HUGEINT * mty1)::DOUBLE
         |        / (n1 * mtt1)::DOUBLE END AS sse1,
         |    CASE WHEN mtt2 <> 0 THEN
         |      (myy2::HUGEINT * mtt2 - mty2::HUGEINT * mty2)::DOUBLE
         |        / (n2 * mtt2)::DOUBLE END AS sse2
         |  FROM m)
         |SELECT event_type, np AS n_days, k AS break_t,
         |  CASE WHEN np >= 8 AND sse1 IS NOT NULL AND sse2 IS NOT NULL
         |    AND ssep IS NOT NULL AND sse1 + sse2 > 0.0 THEN
         |    round(((ssep - sse1 - sse2) / 2.0)
         |      / ((sse1 + sse2) / (np - 4)::DOUBLE), 4) END AS chow_f
         |FROM sse ORDER BY event_type""".stripMargin,
    // B67 twin: same one-division center/limits, same IEEE limit
    // compares, same cross-multiplied integer side + 8-window run
    "q_control_chart" ->
      s"""WITH d AS ($dailyCountsSql),
         |l AS (
         |  SELECT event_type, day, y,
         |    abs(y - lag(y) OVER w) AS mr
         |  FROM d
         |  WINDOW w AS (PARTITION BY event_type ORDER BY day)),
         |st AS (
         |  SELECT event_type, count(*)::BIGINT AS n_days,
         |    sum(y)::BIGINT AS s, count(mr)::BIGINT AS n_mr,
         |    sum(mr)::BIGINT AS smr
         |  FROM l GROUP BY 1),
         |lim AS (
         |  SELECT event_type, n_days, s,
         |    s::DOUBLE / n_days::DOUBLE AS ybar,
         |    s::DOUBLE / n_days::DOUBLE
         |      + 2.66 * (smr::DOUBLE / n_mr::DOUBLE) AS ucl,
         |    s::DOUBLE / n_days::DOUBLE
         |      - 2.66 * (smr::DOUBLE / n_mr::DOUBLE) AS lcl
         |  FROM st WHERE n_mr >= 1),
         |f AS (
         |  SELECT l.event_type, l.day, l.y, m.n_days, m.ybar, m.ucl,
         |    m.lcl,
         |    CASE WHEN l.y::DOUBLE > m.ucl OR l.y::DOUBLE < m.lcl
         |      THEN 1 ELSE 0 END AS viol,
         |    CASE WHEN l.y * m.n_days > m.s THEN 1 ELSE 0 END AS side
         |  FROM l JOIN lim m ON l.event_type = m.event_type),
         |r AS (
         |  SELECT *,
         |    sum(side) OVER (PARTITION BY event_type ORDER BY day
         |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS run8,
         |    row_number() OVER (PARTITION BY event_type ORDER BY day)
         |      AS rn
         |  FROM f)
         |SELECT event_type, max(n_days)::BIGINT AS n_days,
         |  round(max(ybar), 6) AS ybar, round(max(ucl), 6) AS ucl,
         |  round(max(lcl), 6) AS lcl,
         |  sum(viol)::BIGINT AS n_viol,
         |  sum(CASE WHEN rn >= 8 AND (run8 = 8 OR run8 = 0)
         |    THEN 1 ELSE 0 END)::BIGINT AS n_run_signals
         |FROM r GROUP BY 1 ORDER BY event_type""".stripMargin,
    // B66 twin: recursive CTE running the textually identical GARCH
    // update in the same day order, the same (1.0 - 0.1 - 0.8)·var
    // omega EXPRESSION (1−0.9 is not the double 0.1)
    "q_garch" ->
      s"""WITH RECURSIVE d AS ($dailyCountsSql),
         |pts AS (
         |  SELECT event_type, y::DOUBLE AS yd,
         |    row_number() OVER (PARTITION BY event_type ORDER BY day)
         |      AS t
         |  FROM d),
         |st AS (
         |  SELECT event_type, count(*)::BIGINT AS n,
         |    sum(y)::BIGINT AS s, sum(y*y)::BIGINT AS q
         |  FROM d GROUP BY 1),
         |base AS (
         |  SELECT event_type, n,
         |    s::DOUBLE / n::DOUBLE AS mu,
         |    (n*q - s*s)::DOUBLE / (n*(n-1))::DOUBLE AS var0
         |  FROM st WHERE n >= 3 AND n*q - s*s > 0),
         |om AS (
         |  SELECT *, (1.0 - 0.1 - 0.8) * var0 AS om FROM base),
         |g AS (
         |  SELECT o.event_type, 1 AS t, o.n, o.mu, o.om,
         |    o.var0 AS s2, o.var0 AS mx, p.yd AS pv, o.var0
         |  FROM om o JOIN pts p
         |    ON p.event_type = o.event_type AND p.t = 1
         |  UNION ALL
         |  SELECT g.event_type, g.t + 1, g.n, g.mu, g.om,
         |    g.om + 0.1 * (g.pv - g.mu) * (g.pv - g.mu) + 0.8 * g.s2,
         |    greatest(g.mx,
         |      g.om + 0.1 * (g.pv - g.mu) * (g.pv - g.mu) + 0.8 * g.s2),
         |    p.yd, g.var0
         |  FROM g JOIN pts p
         |    ON p.event_type = g.event_type AND p.t = g.t + 1)
         |SELECT g.event_type, g.n AS n_days,
         |  round(g.var0, 6) AS var_uncond,
         |  round(g.s2, 6) AS sigma2_last, round(g.mx, 6) AS sigma2_max
         |FROM g WHERE g.t = g.n ORDER BY g.event_type""".stripMargin,
    // B62 twin: recursive CTE running the textually identical
    // coupled EWMA updates in the same day order, same 0.1/0.95
    // literals
    "q_croston" ->
      s"""WITH RECURSIVE d AS ($dailyCountsSql),
         |pts AS (
         |  SELECT event_type, y::DOUBLE AS y,
         |    (day - lag(day) OVER w)::DOUBLE AS g,
         |    row_number() OVER w AS t
         |  FROM d
         |  WINDOW w AS (PARTITION BY event_type ORDER BY day)),
         |n AS (SELECT event_type, max(t) AS m FROM pts GROUP BY 1),
         |c AS (
         |  SELECT event_type, 1 AS t, y AS z, 1.0::DOUBLE AS p
         |  FROM pts WHERE t = 1
         |  UNION ALL
         |  SELECT c.event_type, c.t + 1,
         |    c.z + 0.1 * (p2.y - c.z),
         |    c.p + 0.1 * (p2.g - c.p)
         |  FROM c JOIN pts p2
         |    ON p2.event_type = c.event_type AND p2.t = c.t + 1)
         |SELECT c.event_type, n.m::BIGINT AS n_demands,
         |  round(c.z, 6) AS z_size, round(c.p, 6) AS p_interval,
         |  round(0.95 * c.z / c.p, 6) AS sba_forecast
         |FROM c JOIN n ON c.event_type = n.event_type AND c.t = n.m
         |WHERE n.m >= 2 ORDER BY c.event_type""".stripMargin,
    // B61 twin: B17's exact lag-pair moments, one phi division, the
    // ln2/−ln(phi) tail with the shared 0.6931... literal
    "q_halflife" ->
      s"""WITH d AS ($dailyCountsSql),
         |l AS (
         |  SELECT event_type, y, day,
         |    lag(y) OVER w AS py, lag(day) OVER w AS pd
         |  FROM d
         |  WINDOW w AS (PARTITION BY event_type ORDER BY day)),
         |pp AS (SELECT * FROM l WHERE day - pd = 1),
         |a AS (
         |  SELECT event_type, count(*)::BIGINT AS n_pairs,
         |    sum(py)::BIGINT AS sp, sum(y)::BIGINT AS sc,
         |    sum(py*py)::BIGINT AS spp, sum(py*y)::BIGINT AS spc
         |  FROM pp GROUP BY 1)
         |SELECT event_type, n_pairs,
         |  (n_pairs*spc - sp*sc)::DOUBLE
         |    / (n_pairs*spp - sp*sp)::DOUBLE AS ar1_phi,
         |  CASE WHEN (n_pairs*spc - sp*sc)::DOUBLE
         |      / (n_pairs*spp - sp*sp)::DOUBLE > 0.0
         |    AND (n_pairs*spc - sp*sc)::DOUBLE
         |      / (n_pairs*spp - sp*sp)::DOUBLE < 1.0 THEN
         |    round(0.6931471805599453 /
         |      (-ln((n_pairs*spc - sp*sc)::DOUBLE
         |        / (n_pairs*spp - sp*sp)::DOUBLE)), 4)
         |  END AS halflife_days
         |FROM a
         |WHERE n_pairs >= 2 AND n_pairs*spp - sp*sp <> 0
         |ORDER BY event_type""".stripMargin,
    // B63 twin: the single-division VMR and the exact integer
    // overdispersion predicate
    "q_dispersion" ->
      s"""WITH d AS ($dailyCountsSql),
         |a AS (
         |  SELECT event_type, count(*)::BIGINT AS n_days,
         |    sum(y)::BIGINT AS s, sum(y*y)::BIGINT AS q
         |  FROM d GROUP BY 1)
         |SELECT event_type, n_days, s AS total,
         |  (n_days*q - s*s)::DOUBLE / ((n_days - 1) * s)::DOUBLE AS vmr,
         |  (CASE WHEN n_days*q - s*s > (n_days - 1) * s
         |    THEN 1 ELSE 0 END)::BIGINT AS overdispersed
         |FROM a WHERE n_days >= 2 AND s > 0
         |ORDER BY event_type""".stripMargin,
    // B64 twin: same exact block-max moments, same literal √6/π and
    // Euler γ coefficients, same IEEE tail and rounding
    "q_gumbel" ->
      s"""WITH d AS ($dailyCountsSql),
         |b AS (
         |  SELECT event_type, strftime(day, '%Y-%m') AS blk,
         |    max(y)::BIGINT AS x
         |  FROM d GROUP BY 1, 2),
         |a AS (
         |  SELECT event_type, count(*)::BIGINT AS n_blocks,
         |    sum(x)::BIGINT AS s, sum(x*x)::BIGINT AS q
         |  FROM b GROUP BY 1),
         |f AS (
         |  SELECT event_type, n_blocks,
         |    CASE WHEN n_blocks >= 3 AND n_blocks*q - s*s > 0 THEN
         |      sqrt((n_blocks*q - s*s)::DOUBLE
         |        / (n_blocks * (n_blocks - 1))::DOUBLE)
         |        * 0.7796968012336761 END AS beta,
         |    s::DOUBLE / n_blocks::DOUBLE AS xbar
         |  FROM a),
         |g AS (
         |  SELECT event_type, n_blocks, beta,
         |    xbar - 0.5772156649015329 * beta AS mu
         |  FROM f)
         |SELECT event_type, n_blocks,
         |  round(beta, 4) AS gumbel_beta, round(mu, 4) AS gumbel_mu,
         |  round(mu - beta * ln(-ln(0.9166666666666666)), 4)
         |    AS ret_level_12
         |FROM g ORDER BY event_type""".stripMargin,
    // B65 twin: exact integer sign comparisons over the identical
    // day-pair frame, one sqrt+divide tail
    "q_kendall_tau" ->
      s"""WITH d AS ($dailyCountsSql),
         |xy AS (
         |  SELECT x.day, x.y AS x, v.y AS yv
         |  FROM (SELECT day, y FROM d WHERE event_type = 'click') x
         |  JOIN (SELECT day, y FROM d WHERE event_type = 'view') v
         |    USING (day)),
         |p AS (
         |  SELECT (a.x - b.x)::BIGINT AS dx, (a.yv - b.yv)::BIGINT AS dy
         |  FROM xy a JOIN xy b ON a.day < b.day),
         |a2 AS (
         |  SELECT count(*)::BIGINT AS n_pairs,
         |    sum(CASE WHEN dx*dy > 0 THEN 1 ELSE 0 END)::BIGINT
         |      AS concordant,
         |    sum(CASE WHEN dx*dy < 0 THEN 1 ELSE 0 END)::BIGINT
         |      AS discordant,
         |    sum(CASE WHEN dx = 0 AND dy <> 0 THEN 1 ELSE 0 END)::BIGINT
         |      AS tied_x,
         |    sum(CASE WHEN dy = 0 AND dx <> 0 THEN 1 ELSE 0 END)::BIGINT
         |      AS tied_y,
         |    sum(CASE WHEN dx = 0 AND dy = 0 THEN 1 ELSE 0 END)::BIGINT
         |      AS tied_xy
         |  FROM p)
         |SELECT n_pairs, concordant, discordant,
         |  CASE WHEN n_pairs - tied_x - tied_xy > 0
         |    AND n_pairs - tied_y - tied_xy > 0 THEN
         |    round((concordant - discordant)::DOUBLE /
         |      sqrt(((n_pairs - tied_x - tied_xy)
         |        * (n_pairs - tied_y - tied_xy))::DOUBLE), 6)
         |  END AS tau_b
         |FROM a2""".stripMargin,
    // B85 twin: same month-local pairs, integer S and variance
    // numerator, the same continuity-shifted z
    "q_seasonal_mk" ->
      s"""WITH d AS ($dailyCountsSql),
         |dm AS (
         |  SELECT event_type, day, month(day)::BIGINT AS mo, y
         |  FROM d),
         |p AS (
         |  SELECT a.event_type,
         |    sum(CASE WHEN b.y > a.y THEN 1
         |      WHEN b.y < a.y THEN -1 ELSE 0 END)::BIGINT AS s
         |  FROM dm a JOIN dm b ON a.event_type = b.event_type
         |    AND a.mo = b.mo AND a.day < b.day
         |  GROUP BY 1),
         |nm AS (
         |  SELECT event_type,
         |    sum(n * (n - 1) * (2 * n + 5))::BIGINT AS vn_raw
         |  FROM (SELECT event_type, mo, count(*)::BIGINT AS n
         |        FROM dm GROUP BY 1, 2) g
         |  GROUP BY 1),
         |ties AS (
         |  SELECT event_type,
         |    sum(t * (t - 1) * (2 * t + 5))::BIGINT AS tie_term
         |  FROM (SELECT event_type, mo, y, count(*)::BIGINT AS t
         |        FROM dm GROUP BY 1, 2, 3) g
         |  WHERE t > 1 GROUP BY 1)
         |SELECT p.event_type, p.s,
         |  (nm.vn_raw - coalesce(ties.tie_term, 0))::BIGINT AS var18,
         |  round((CASE WHEN p.s > 0 THEN (p.s - 1)::DOUBLE
         |    WHEN p.s < 0 THEN (p.s + 1)::DOUBLE ELSE 0.0 END)
         |    / sqrt((nm.vn_raw - coalesce(ties.tie_term, 0))::DOUBLE
         |      / 18.0), 6) AS z
         |FROM p JOIN nm USING (event_type)
         |LEFT JOIN ties USING (event_type)
         |ORDER BY p.event_type""".stripMargin,
    // B84 twin: the same LCG sign bits, integer flipped sums, one
    // division
    "q_perm_test" ->
      s"""WITH d AS ($dailyCountsSql),
         |xy AS (
         |  SELECT (x.y - v.y)::BIGINT AS diff,
         |    datediff('day', DATE '1990-01-01', x.day)::BIGINT AS i
         |  FROM (SELECT day, y FROM d WHERE event_type = 'click') x
         |  JOIN (SELECT day, y FROM d WHERE event_type = 'view') v
         |    USING (day)),
         |obs AS (
         |  SELECT sum(diff)::BIGINT AS t_obs, count(*)::BIGINT AS n_days
         |  FROM xy),
         |perms AS (SELECT unnest(range(1, 201))::BIGINT AS k),
         |fl AS (
         |  SELECT p.k,
         |    sum(CASE WHEN (p.k * 2654435761 + xy.i * 40503)
         |        % 2147483648 % 2 = 0
         |      THEN xy.diff ELSE -xy.diff END)::BIGINT AS tk
         |  FROM xy CROSS JOIN perms p GROUP BY p.k)
         |SELECT o.n_days, o.t_obs, count(*)::BIGINT AS n_perms,
         |  sum(CASE WHEN abs(fl.tk) >= abs(o.t_obs) THEN 1 ELSE 0
         |    END)::BIGINT AS n_extreme,
         |  round(sum(CASE WHEN abs(fl.tk) >= abs(o.t_obs) THEN 1
         |      ELSE 0 END)::DOUBLE / count(*)::DOUBLE, 6) AS p_value
         |FROM fl CROSS JOIN obs o
         |GROUP BY o.n_days, o.t_obs""".stripMargin,
    // B82 twin: same value-domain pooled median, same 2×k table,
    // per-type IEEE contributions, event_type-ordered list fold
    "q_mood_median" ->
      s"""WITH d AS ($dailyCountsSql),
         |f AS (SELECT y, count(*)::BIGINT AS t FROM d GROUP BY 1),
         |np AS (SELECT count(*)::BIGINT AS npool FROM d),
         |med AS (
         |  SELECT min(y) AS m FROM (
         |    SELECT y, sum(t) OVER (ORDER BY y
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS cum
         |    FROM f) c, np
         |  WHERE cum * 2 >= np.npool),
         |g AS (
         |  SELECT event_type, count(*)::BIGINT AS ni,
         |    sum(CASE WHEN y > (SELECT m FROM med) THEN 1 ELSE 0
         |      END)::BIGINT AS above
         |  FROM d GROUP BY 1),
         |marg AS (
         |  SELECT sum(ni)::BIGINT AS nn, sum(above)::BIGINT AS aa,
         |    count(*)::BIGINT AS k
         |  FROM g),
         |contrib AS (
         |  SELECT g.event_type, g.ni, g.above, m.k,
         |    pow(g.above::DOUBLE
         |        - m.aa::DOUBLE * g.ni::DOUBLE / m.nn::DOUBLE, 2.0)
         |      / (m.aa::DOUBLE * g.ni::DOUBLE / m.nn::DOUBLE)
         |    + pow((g.ni - g.above)::DOUBLE
         |        - (m.nn - m.aa)::DOUBLE * g.ni::DOUBLE / m.nn::DOUBLE,
         |        2.0)
         |      / ((m.nn - m.aa)::DOUBLE * g.ni::DOUBLE / m.nn::DOUBLE)
         |      AS contrib
         |  FROM g, marg m),
         |tot AS (
         |  SELECT (max(k) - 1)::BIGINT AS df,
         |    round(list_reduce(list_transform(
         |      list(struct_pack(event_type := event_type,
         |          contrib := contrib) ORDER BY event_type),
         |      x -> x.contrib), (a, b) -> a + b), 6) AS chi2
         |  FROM contrib)
         |SELECT c.event_type, c.ni AS n_days, c.above,
         |  (c.ni - c.above)::BIGINT AS at_or_below,
         |  round(c.contrib, 6) AS chi2_term, t.chi2, t.df
         |FROM contrib c CROSS JOIN tot t
         |ORDER BY c.event_type""".stripMargin,
    // B83 twin: same pooled tie-broken ranks, same min(r, N+1−r)
    // scores, the same even/odd IEEE z branch
    "q_ansari_bradley" ->
      s"""WITH d AS ($dailyCountsSql),
         |p AS (
         |  SELECT event_type, day, y FROM d
         |  WHERE event_type IN ('click', 'view')),
         |rk AS (
         |  SELECT event_type,
         |    row_number() OVER (ORDER BY y, day, event_type)::BIGINT
         |      AS r
         |  FROM p),
         |nt AS (SELECT count(*)::BIGINT AS nn FROM rk),
         |sc AS (
         |  SELECT event_type, least(r, nt.nn + 1 - r)::BIGINT AS s,
         |    nt.nn
         |  FROM rk, nt),
         |agg AS (
         |  SELECT
         |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0
         |      END)::BIGINT AS n1,
         |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0
         |      END)::BIGINT AS n2,
         |    sum(CASE WHEN event_type = 'click' THEN s ELSE 0
         |      END)::BIGINT AS w_ab,
         |    max(nn)::BIGINT AS nn
         |  FROM sc)
         |SELECT n1, n2, w_ab,
         |  round(CASE WHEN nn % 2 = 0 THEN
         |    (w_ab::DOUBLE - (n1 * (nn + 2))::DOUBLE / 4.0)
         |    / sqrt((n1 * n2 * (nn + 2) * (nn - 2))::DOUBLE
         |        / (48.0 * (nn - 1)::DOUBLE))
         |  ELSE
         |    (w_ab::DOUBLE - (n1 * (nn + 1) * (nn + 1))::DOUBLE
         |      / (4.0 * nn::DOUBLE))
         |    / sqrt((n1 * n2 * (nn + 1) * (3 + nn * nn))::DOUBLE
         |        / (48.0 * (nn * nn)::DOUBLE))
         |  END, 6) AS z
         |FROM agg""".stripMargin,
    // B81 twin: same integer argmax deviation, same exact moments,
    // the same two IEEE export ops
    "q_grubbs" ->
      s"""WITH d AS ($dailyCountsSql),
         |st AS (
         |  SELECT event_type, count(*)::BIGINT AS n,
         |    sum(y)::BIGINT AS s, sum(y::HUGEINT * y) AS q
         |  FROM d GROUP BY 1),
         |dev AS (
         |  SELECT d.event_type, d.day, st.n, st.s, st.q,
         |    abs(st.n * d.y - st.s)::BIGINT AS dev
         |  FROM d JOIN st USING (event_type)),
         |mx AS (
         |  SELECT event_type, n, s, q, dev, day, row_number() OVER (
         |    PARTITION BY event_type ORDER BY dev DESC, day DESC)
         |    AS rk
         |  FROM dev)
         |SELECT event_type, n, dev AS max_dev_n,
         |  day::VARCHAR AS at_day,
         |  round(dev::DOUBLE / (n::DOUBLE
         |    * sqrt((n * q - s::HUGEINT * s)::DOUBLE
         |        / (n * (n - 1))::DOUBLE)), 6) AS g
         |FROM mx WHERE rk = 1 ORDER BY event_type""".stripMargin,
    // B80 twin: same zero-drop, same |d|/day permutation ranks,
    // integer W+/W-, one IEEE z sequence
    "q_wilcoxon_sr" ->
      s"""WITH d AS ($dailyCountsSql),
         |xy AS (
         |  SELECT x.day, (x.y - v.y)::BIGINT AS d
         |  FROM (SELECT day, y FROM d WHERE event_type = 'click') x
         |  JOIN (SELECT day, y FROM d WHERE event_type = 'view') v
         |    USING (day)
         |  WHERE x.y <> v.y),
         |rk AS (
         |  SELECT d,
         |    row_number() OVER (ORDER BY abs(d), day)::BIGINT AS r
         |  FROM xy),
         |agg AS (
         |  SELECT count(*)::BIGINT AS n_nonzero,
         |    sum(CASE WHEN d > 0 THEN r ELSE 0 END)::BIGINT AS w_plus,
         |    sum(CASE WHEN d < 0 THEN r ELSE 0 END)::BIGINT AS w_minus
         |  FROM rk)
         |SELECT n_nonzero, w_plus, w_minus,
         |  round((w_plus::DOUBLE
         |      - (n_nonzero * (n_nonzero + 1))::DOUBLE / 4.0)
         |    / sqrt((n_nonzero * (n_nonzero + 1)
         |      * (2 * n_nonzero + 1))::DOUBLE / 24.0), 6) AS z
         |FROM agg""".stripMargin,
    // B79 twin: same tie-broken permutation ranks, same dominance
    // self-join, HUGEINT sums, one exact-integer double division
    "q_hoeffding_d" ->
      s"""WITH d AS ($dailyCountsSql),
         |xy AS (
         |  SELECT x.day, x.y AS x, v.y AS yv
         |  FROM (SELECT day, y FROM d WHERE event_type = 'click') x
         |  JOIN (SELECT day, y FROM d WHERE event_type = 'view') v
         |    USING (day)),
         |rk AS (
         |  SELECT day,
         |    row_number() OVER (ORDER BY x, day)::BIGINT AS r,
         |    row_number() OVER (ORDER BY yv, day)::BIGINT AS s
         |  FROM xy),
         |q AS (
         |  SELECT a.r, a.s, (count(*) - 1)::BIGINT AS c
         |  FROM rk a JOIN rk b ON b.r <= a.r AND b.s <= a.s
         |  GROUP BY a.r, a.s),
         |agg AS (
         |  SELECT count(*)::BIGINT AS n,
         |    sum(c::HUGEINT * (c - 1)) AS d1x,
         |    sum((r - 1)::HUGEINT * (r - 2) * (s - 1) * (s - 2)) AS d2x,
         |    sum((r - 2)::HUGEINT * (s - 2) * c) AS d3x
         |  FROM q)
         |SELECT n, d1x::BIGINT AS d1, d2x::BIGINT AS d2,
         |  d3x::BIGINT AS d3,
         |  round(30.0 * ((n - 2)::HUGEINT * (n - 3) * d1x + d2x
         |      - 2 * (n - 2)::HUGEINT * d3x)::DOUBLE
         |    / (n::HUGEINT * (n - 1) * (n - 2) * (n - 3)
         |       * (n - 4))::DOUBLE, 6) AS hoeffding_d
         |FROM agg""".stripMargin,
    // B59 twin: same strict-extremum integer predicate, same
    // closed-form moments in the same IEEE op order
    "q_turning_points" ->
      s"""WITH d AS ($dailyCountsSql),
         |l AS (
         |  SELECT event_type, y,
         |    lag(y) OVER (PARTITION BY event_type ORDER BY day) AS p,
         |    lead(y) OVER (PARTITION BY event_type ORDER BY day) AS f
         |  FROM d),
         |t AS (
         |  SELECT event_type, count(*)::BIGINT AS n_days,
         |    sum(CASE WHEN p IS NOT NULL AND f IS NOT NULL
         |      AND ((p < y AND y > f) OR (p > y AND y < f))
         |      THEN 1 ELSE 0 END)::BIGINT AS n_turning
         |  FROM l GROUP BY 1)
         |SELECT event_type, n_days, n_turning,
         |  CASE WHEN n_days >= 3 THEN round(
         |    (n_turning::DOUBLE - 2.0 * (n_days::DOUBLE - 2.0) / 3.0)
         |    / sqrt((16.0 * n_days::DOUBLE - 29.0) / 90.0), 4) END AS z
         |FROM t ORDER BY event_type""".stripMargin,
    // B58 twin: B33's CTE chain with the product fold swapped for the
    // d/n sum fold, same order, same rounds
    "q_nelson_aalen" ->
      """WITH users AS (
        |  SELECT user_id,
        |    (max(epoch_us(ts)) - min(epoch_us(ts))) // 3600000000
        |      AS t_hours,
        |    max(epoch_us(ts)) AS last_us
        |  FROM events GROUP BY 1),
        |c AS (
        |  SELECT user_id, t_hours,
        |    ((SELECT max(last_us) FROM users) - last_us)
        |      > 6 * 3600000000 AS churned
        |  FROM users),
        |hist AS (
        |  SELECT t_hours, count(*)::BIGINT AS n_at,
        |    sum(CASE WHEN churned THEN 1 ELSE 0 END)::BIGINT AS d_events
        |  FROM c GROUP BY 1),
        |risk AS (
        |  SELECT t_hours, d_events,
        |    (sum(n_at) OVER (ORDER BY t_hours DESC))::BIGINT AS n_risk
        |  FROM hist),
        |r AS (
        |  SELECT t_hours, n_risk, d_events FROM risk WHERE d_events > 0),
        |evs AS (
        |  SELECT list(struct_pack(td := t_hours, nr := n_risk,
        |    de := d_events) ORDER BY t_hours) AS l FROM r)
        |SELECT t_hours, n_risk, d_events,
        |  round(list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(list_filter(l, e -> e.td <= t_hours),
        |      e -> e.de::DOUBLE / e.nr::DOUBLE)),
        |    (a, b) -> a + b), 6) AS h_na
        |FROM r, evs ORDER BY t_hours""".stripMargin,
    // B57 twin: the same four exact-cent cells, the identical IEEE
    // mean/variance/δ/SE/z sequence in the same op order
    "q_did" ->
      """WITH cells AS (
        |  SELECT (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS treated,
        |    (o_orderdate >= DATE '1995-01-01') AS post,
        |    count(*)::BIGINT AS n,
        |    sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS s,
        |    sum(round(o_totalprice * 100)::HUGEINT
        |      * round(o_totalprice * 100)::BIGINT) AS ss
        |  FROM orders GROUP BY 1, 2),
        |w AS (SELECT
        |  max(CASE WHEN treated AND NOT post THEN n END) AS n_t0,
        |  max(CASE WHEN treated AND NOT post THEN s END) AS s_t0,
        |  max(CASE WHEN treated AND NOT post THEN ss END) AS ss_t0,
        |  max(CASE WHEN treated AND post THEN n END) AS n_t1,
        |  max(CASE WHEN treated AND post THEN s END) AS s_t1,
        |  max(CASE WHEN treated AND post THEN ss END) AS ss_t1,
        |  max(CASE WHEN NOT treated AND NOT post THEN n END) AS n_c0,
        |  max(CASE WHEN NOT treated AND NOT post THEN s END) AS s_c0,
        |  max(CASE WHEN NOT treated AND NOT post THEN ss END) AS ss_c0,
        |  max(CASE WHEN NOT treated AND post THEN n END) AS n_c1,
        |  max(CASE WHEN NOT treated AND post THEN s END) AS s_c1,
        |  max(CASE WHEN NOT treated AND post THEN ss END) AS ss_c1
        |  FROM cells),
        |m AS (SELECT *,
        |  (s_t1::DOUBLE / n_t1::DOUBLE - s_t0::DOUBLE / n_t0::DOUBLE)
        |    AS d_t,
        |  (s_c1::DOUBLE / n_c1::DOUBLE - s_c0::DOUBLE / n_c0::DOUBLE)
        |    AS d_c,
        |  CASE WHEN n_t1 > 1 THEN (n_t1::HUGEINT * ss_t1
        |    - s_t1::HUGEINT * s_t1)::DOUBLE
        |    / (n_t1::DOUBLE * (n_t1::DOUBLE - 1.0)) END AS v_t1,
        |  CASE WHEN n_t0 > 1 THEN (n_t0::HUGEINT * ss_t0
        |    - s_t0::HUGEINT * s_t0)::DOUBLE
        |    / (n_t0::DOUBLE * (n_t0::DOUBLE - 1.0)) END AS v_t0,
        |  CASE WHEN n_c1 > 1 THEN (n_c1::HUGEINT * ss_c1
        |    - s_c1::HUGEINT * s_c1)::DOUBLE
        |    / (n_c1::DOUBLE * (n_c1::DOUBLE - 1.0)) END AS v_c1,
        |  CASE WHEN n_c0 > 1 THEN (n_c0::HUGEINT * ss_c0
        |    - s_c0::HUGEINT * s_c0)::DOUBLE
        |    / (n_c0::DOUBLE * (n_c0::DOUBLE - 1.0)) END AS v_c0
        |  FROM w),
        |f AS (SELECT *,
        |  (d_t - d_c) AS did,
        |  sqrt(v_t1 / n_t1::DOUBLE + v_t0 / n_t0::DOUBLE
        |    + v_c1 / n_c1::DOUBLE + v_c0 / n_c0::DOUBLE) AS se
        |  FROM m)
        |SELECT n_t0, n_t1, n_c0, n_c1,
        |  round(d_t, 4) AS delta_treated,
        |  round(d_c, 4) AS delta_control,
        |  round(did, 4) AS did_cents,
        |  round(did / se, 4) AS z,
        |  CASE WHEN se IS NOT NULL AND se > 0 THEN
        |    (CASE WHEN abs(did / se) > 1.96 THEN 1 ELSE 0 END)::BIGINT
        |  END AS significant
        |FROM f""".stripMargin,
    // B56 twin: the B44 CTE chain verbatim through the round-4 power
    // export, then the identical k-ordered entropy folds over those
    // shared doubles; same zero-term convention, guards, rounds
    "q_spectral_entropy" ->
      s"""WITH dc AS ($dailyCountsSql),
         |base AS (
         |  SELECT event_type, day, y,
         |    (row_number() OVER (PARTITION BY event_type ORDER BY day))::BIGINT
         |      AS t
         |  FROM dc),
         |g AS (
         |  SELECT event_type,
         |    list(struct_pack(t := t, y := y) ORDER BY t) AS pts,
         |    count(*)::BIGINT AS n, sum(y)::BIGINT AS s
         |  FROM base GROUP BY 1),
         |kk AS (
         |  SELECT event_type, pts, n, s,
         |    unnest(range(1, least(10, (n - 1) // 2) + 1)) AS k
         |  FROM g),
         |f AS (
         |  SELECT event_type, k, n,
         |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(pts,
         |      x -> ((n * x.y - s)::DOUBLE)
         |        * cos(2.0 * pi() * k::DOUBLE * x.t::DOUBLE / n::DOUBLE))),
         |      (p, q) -> p + q) AS a,
         |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(pts,
         |      x -> ((n * x.y - s)::DOUBLE)
         |        * sin(2.0 * pi() * k::DOUBLE * x.t::DOUBLE / n::DOUBLE))),
         |      (p, q) -> p + q) AS b
         |  FROM kk),
         |p AS (
         |  SELECT event_type, k, n,
         |    round((a * a + b * b)
         |      / (n::DOUBLE * n::DOUBLE * n::DOUBLE), 4) AS power
         |  FROM f),
         |ranked AS (
         |  SELECT *, (row_number() OVER (PARTITION BY event_type
         |     ORDER BY power DESC, k))::BIGINT AS rank
         |  FROM p),
         |g2 AS (
         |  SELECT event_type, count(*)::BIGINT AS kmax,
         |    max(n)::BIGINT AS n_days,
         |    list(struct_pack(k := k, power := power) ORDER BY k) AS ps,
         |    min(CASE WHEN rank = 1 THEN k END)::BIGINT AS peak_k
         |  FROM ranked GROUP BY 1),
         |t2 AS (
         |  SELECT *, list_reduce(list_prepend(0.0::DOUBLE,
         |    list_transform(ps, x -> x.power)), (a, b) -> a + b) AS tp
         |  FROM g2)
         |SELECT event_type, n_days, kmax, peak_k,
         |  round(tp, 4) AS total_power,
         |  round(CASE WHEN tp > 0 AND kmax > 1 THEN
         |    -list_reduce(list_prepend(0.0::DOUBLE, list_transform(ps,
         |       x -> CASE WHEN x.power > 0
         |         THEN (x.power / tp) * ln(x.power / tp)
         |         ELSE 0.0 END)), (a, b) -> a + b)
         |      / ln(kmax::DOUBLE) END, 6) AS spec_entropy
         |FROM t2 ORDER BY event_type""".stripMargin,
    // B52 twin: identical pair means (one IEEE division of integer
    // prefix sums), identical suffix-min / per-k max — min/max of
    // bit-equal doubles carry no fold order
    "q_isotonic" ->
      s"""WITH d AS ($dailyCountsSql),
         |idx AS (
         |  SELECT event_type, day, y,
         |    row_number() OVER (PARTITION BY event_type ORDER BY day)
         |      ::BIGINT AS i,
         |    sum(y) OVER (PARTITION BY event_type ORDER BY day)
         |      ::BIGINT AS s
         |  FROM d),
         |pairs AS (
         |  SELECT a.event_type, a.i AS j, b.i AS k,
         |    (b.s - a.s + a.y)::DOUBLE / (b.i - a.i + 1)::DOUBLE AS m
         |  FROM idx a JOIN idx b
         |  ON a.event_type = b.event_type AND a.i <= b.i),
         |sm AS (
         |  SELECT event_type, j, k,
         |    min(m) OVER (PARTITION BY event_type, j ORDER BY k DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS smin
         |  FROM pairs),
         |fitc AS (
         |  SELECT event_type, k, max(smin) AS f FROM sm GROUP BY 1, 2)
         |SELECT i.event_type, strftime(i.day, '%Y-%m-%d') AS day,
         |  i.y, round(fitc.f, 6) AS fit
         |FROM idx i JOIN fitc
         |ON i.event_type = fitc.event_type AND i.i = fitc.k
         |ORDER BY i.event_type, day""".stripMargin,
    // B53 twin: exact HUGEINT OLS moments, the identical residual
    // expression per row, the same three day-ordered double folds
    // over consecutive-day lag terms, same guards and rounds
    "q_cointegration" ->
      """WITH d AS (
        |  SELECT ts::DATE AS day,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      ::BIGINT AS x,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      ::BIGINT AS y
        |  FROM events WHERE event_type IN ('click', 'view')
        |  GROUP BY 1),
        |m AS (
        |  SELECT count(*)::BIGINT AS n,
        |    sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
        |    sum(x::HUGEINT * x) AS sxx, sum(x::HUGEINT * y) AS sxy
        |  FROM d),
        |ab AS (
        |  SELECT n,
        |    CASE WHEN (n::HUGEINT * sxx - sx * sx) <> 0 THEN
        |      (n::HUGEINT * sxy - sx * sy)::DOUBLE
        |        / (n::HUGEINT * sxx - sx * sx)::DOUBLE END AS beta,
        |    CASE WHEN (n::HUGEINT * sxx - sx * sx) <> 0 THEN
        |      (sy::DOUBLE - ((n::HUGEINT * sxy - sx * sy)::DOUBLE
        |        / (n::HUGEINT * sxx - sx * sx)::DOUBLE) * sx::DOUBLE)
        |        / n::DOUBLE END AS alpha
        |  FROM m),
        |r AS (
        |  SELECT day,
        |    y::DOUBLE - ab.alpha - ab.beta * x::DOUBLE AS e,
        |    lag(day) OVER (ORDER BY day) AS pd,
        |    lag(y::DOUBLE - ab.alpha - ab.beta * x::DOUBLE)
        |      OVER (ORDER BY day) AS el
        |  FROM d, ab),
        |t AS (
        |  SELECT day,
        |    CASE WHEN pd IS NOT NULL AND day - pd = 1
        |      THEN el * el END AS t_den,
        |    CASE WHEN pd IS NOT NULL AND day - pd = 1
        |      THEN el * (e - el) END AS t_num,
        |    CASE WHEN pd IS NOT NULL AND day - pd = 1
        |      THEN (e - el) * (e - el) END AS t_dd
        |  FROM r),
        |s AS (
        |  SELECT count(t_den)::BIGINT AS np,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list(t_den ORDER BY day) FILTER (t_den IS NOT NULL)),
        |      (a, x) -> a + x) AS sden,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list(t_num ORDER BY day) FILTER (t_num IS NOT NULL)),
        |      (a, x) -> a + x) AS snum,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list(t_dd ORDER BY day) FILTER (t_dd IS NOT NULL)),
        |      (a, x) -> a + x) AS sdd
        |  FROM t),
        |f AS (
        |  SELECT np,
        |    CASE WHEN sden > 0 THEN snum / sden END AS rho,
        |    CASE WHEN sden > 0
        |      THEN sdd - snum * snum / sden END AS sse, sden
        |  FROM s),
        |g AS (
        |  SELECT np, rho, sden,
        |    CASE WHEN np > 1 THEN sse / (np::DOUBLE - 1.0) END AS s2
        |  FROM f)
        |SELECT ab.n AS n_days, g.np AS n_pairs,
        |  round(ab.alpha, 4) AS alpha, round(ab.beta, 6) AS beta,
        |  round(g.rho, 6) AS rho,
        |  round(CASE WHEN g.s2 > 0
        |    THEN g.rho / sqrt(g.s2 / g.sden) END, 4) AS tstat,
        |  CASE WHEN g.s2 > 0 AND g.rho IS NOT NULL THEN
        |    (CASE WHEN g.rho / sqrt(g.s2 / g.sden) < -3.34
        |     THEN 1 ELSE 0 END)::BIGINT END AS cointegrated
        |FROM ab, g""".stripMargin,
    // B54 twin: B33's exact lifetime/censor construction split by
    // user_id parity, the same suffix at-risk sums, the identical
    // IEEE e1/v terms folded in the same t_hours order
    "q_logrank" ->
      """WITH l AS (
        |  SELECT user_id,
        |    (max(epoch_us(ts)) - min(epoch_us(ts))) // 3600000000
        |      AS t_hours,
        |    max(epoch_us(ts)) AS last_us
        |  FROM events GROUP BY 1),
        |u AS (
        |  SELECT user_id % 2 AS grp, t_hours,
        |    ((SELECT max(last_us) FROM l) - last_us)
        |      > 6 * 3600000000 AS churned
        |  FROM l),
        |hist AS (
        |  SELECT t_hours, count(*)::BIGINT AS n_at,
        |    sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END)::BIGINT AS n1_at,
        |    sum(CASE WHEN churned THEN 1 ELSE 0 END)::BIGINT
        |      AS d_events,
        |    sum(CASE WHEN churned AND grp = 1 THEN 1 ELSE 0 END)
        |      ::BIGINT AS d1_events
        |  FROM u GROUP BY 1),
        |risk AS (
        |  SELECT t_hours, d_events, d1_events,
        |    (sum(n_at) OVER (ORDER BY t_hours DESC))::BIGINT AS n_risk,
        |    (sum(n1_at) OVER (ORDER BY t_hours DESC))::BIGINT
        |      AS n1_risk
        |  FROM hist),
        |r AS (
        |  SELECT * FROM risk WHERE d_events > 0 AND n_risk > 1),
        |folded AS (
        |  SELECT count(*)::BIGINT AS n_times,
        |    sum(d1_events)::BIGINT AS o1,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list(d_events::DOUBLE * n1_risk / n_risk
        |        ORDER BY t_hours)), (a, x) -> a + x) AS e1,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list(d_events::DOUBLE * (n1_risk::DOUBLE / n_risk)
        |          * (1.0 - n1_risk::DOUBLE / n_risk)
        |          * (n_risk - d_events)::DOUBLE
        |          / (n_risk - 1)::DOUBLE
        |        ORDER BY t_hours)), (a, x) -> a + x) AS v
        |  FROM r),
        |counts AS (
        |  SELECT sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END)::BIGINT
        |      AS n_grp0,
        |    sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END)::BIGINT AS n_grp1
        |  FROM u)
        |SELECT n_grp0, n_grp1, n_times, o1, round(e1, 4) AS e1,
        |  round(CASE WHEN v > 0 THEN (o1::DOUBLE - e1) * (o1::DOUBLE - e1)
        |    / v END, 4) AS chi2,
        |  CASE WHEN v > 0 THEN
        |    (CASE WHEN (o1::DOUBLE - e1) * (o1::DOUBLE - e1) / v > 3.841
        |     THEN 1 ELSE 0 END)::BIGINT END AS significant
        |FROM folded, counts""".stripMargin,
    // B55 twin: B34's exact integer S/Var core, the same literal
    // Abramowitz-Stegun tail, the same ascending-(p, type) rank and
    // suffix-min step-up
    // B88 twin: the B55 chain + the pinned ascending harmonic fold
    "q_fdr_by" ->
      s"""WITH pts AS (
         |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS cnt
         |  FROM events GROUP BY 1, 2),
         |prs AS (
         |  SELECT a.event_type,
         |    sum(CASE WHEN b.cnt > a.cnt THEN 1
         |        WHEN b.cnt < a.cnt THEN -1 ELSE 0 END)::BIGINT AS s_stat
         |  FROM pts a JOIN pts b
         |  ON a.event_type = b.event_type AND a.day < b.day
         |  GROUP BY 1),
         |ties AS (
         |  SELECT event_type, sum(t)::BIGINT AS n,
         |    sum(t * (t - 1) * (2 * t + 5))::BIGINT AS tsum
         |  FROM (SELECT event_type, cnt, count(*)::BIGINT AS t
         |        FROM pts GROUP BY 1, 2) GROUP BY 1),
         |z AS (
         |  SELECT p.event_type, p.s_stat,
         |    CASE WHEN p.s_stat > 0 THEN (p.s_stat - 1)::DOUBLE
         |        / sqrt((t.n * (t.n - 1) * (2 * t.n + 5) - t.tsum)
         |          ::DOUBLE / 18.0)
         |      WHEN p.s_stat < 0 THEN (p.s_stat + 1)::DOUBLE
         |        / sqrt((t.n * (t.n - 1) * (2 * t.n + 5) - t.tsum)
         |          ::DOUBLE / 18.0)
         |      ELSE 0.0 END AS z_unr
         |  FROM prs p JOIN ties t USING (event_type)),
         |zt AS (
         |  SELECT event_type, s_stat, z_unr,
         |    1.0 / (1.0 + 0.2316419 * abs(z_unr)) AS t
         |  FROM z),
         |p AS (
         |  SELECT event_type, s_stat, z_unr,
         |    least(1.0, 2.0 * (exp(abs(z_unr) * abs(z_unr) * -0.5)
         |      * 0.3989422804014327
         |      * (0.319381530 * t
         |        + -0.356563782 * t * t
         |        + 1.781477937 * t * t * t
         |        + -1.821255978 * t * t * t * t
         |        + 1.330274429 * t * t * t * t * t))) AS p_two
         |  FROM zt),
         |rk AS (
         |  SELECT *,
         |    row_number() OVER (ORDER BY p_two, event_type)::BIGINT
         |      AS rk,
         |    count(*) OVER ()::BIGINT AS m
         |  FROM p),
         |cm AS (
         |  SELECT *, list_reduce(list_transform(range(1, m + 1),
         |    i -> 1.0 / i), (a, b) -> a + b) AS cmv
         |  FROM rk),
         |adj AS (
         |  SELECT *,
         |    least(1.0, min(p_two * m::DOUBLE * cmv / rk::DOUBLE)
         |      OVER (ORDER BY rk DESC)) AS p_adj
         |  FROM cm)
         |SELECT event_type, s_stat,
         |  round(p_two, 6) AS p_two, rk, round(cmv, 6) AS c_m,
         |  round(p_adj, 6) AS p_adj,
         |  (CASE WHEN p_adj < 0.05 THEN 1 ELSE 0 END)::BIGINT AS reject
         |FROM adj ORDER BY rk""".stripMargin,
    "q_fdr_bh" ->
      s"""WITH pts AS (
         |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS cnt
         |  FROM events GROUP BY 1, 2),
         |prs AS (
         |  SELECT a.event_type,
         |    sum(CASE WHEN b.cnt > a.cnt THEN 1
         |        WHEN b.cnt < a.cnt THEN -1 ELSE 0 END)::BIGINT AS s_stat
         |  FROM pts a JOIN pts b
         |  ON a.event_type = b.event_type AND a.day < b.day
         |  GROUP BY 1),
         |ties AS (
         |  SELECT event_type, sum(t)::BIGINT AS n,
         |    sum(t * (t - 1) * (2 * t + 5))::BIGINT AS tsum
         |  FROM (SELECT event_type, cnt, count(*)::BIGINT AS t
         |        FROM pts GROUP BY 1, 2) GROUP BY 1),
         |z AS (
         |  SELECT p.event_type, p.s_stat,
         |    CASE WHEN p.s_stat > 0 THEN (p.s_stat - 1)::DOUBLE
         |        / sqrt((t.n * (t.n - 1) * (2 * t.n + 5) - t.tsum)
         |          ::DOUBLE / 18.0)
         |      WHEN p.s_stat < 0 THEN (p.s_stat + 1)::DOUBLE
         |        / sqrt((t.n * (t.n - 1) * (2 * t.n + 5) - t.tsum)
         |          ::DOUBLE / 18.0)
         |      ELSE 0.0 END AS z_unr
         |  FROM prs p JOIN ties t USING (event_type)),
         |zt AS (
         |  SELECT event_type, s_stat, z_unr,
         |    1.0 / (1.0 + 0.2316419 * abs(z_unr)) AS t
         |  FROM z),
         |p AS (
         |  SELECT event_type, s_stat, z_unr,
         |    least(1.0, 2.0 * (exp(abs(z_unr) * abs(z_unr) * -0.5)
         |      * 0.3989422804014327
         |      * (0.319381530 * t
         |        + -0.356563782 * t * t
         |        + 1.781477937 * t * t * t
         |        + -1.821255978 * t * t * t * t
         |        + 1.330274429 * t * t * t * t * t))) AS p_two
         |  FROM zt),
         |rk AS (
         |  SELECT *,
         |    row_number() OVER (ORDER BY p_two, event_type)::BIGINT
         |      AS rk,
         |    count(*) OVER ()::BIGINT AS m
         |  FROM p),
         |adj AS (
         |  SELECT *,
         |    least(1.0, min(p_two * m::DOUBLE / rk::DOUBLE)
         |      OVER (ORDER BY rk DESC)) AS p_adj
         |  FROM rk)
         |SELECT event_type, s_stat, round(z_unr, 6) AS z_score,
         |  round(p_two, 6) AS p_two, rk, round(p_adj, 6) AS p_adj,
         |  (CASE WHEN p_adj < 0.05 THEN 1 ELSE 0 END)::BIGINT AS reject
         |FROM adj ORDER BY rk""".stripMargin,
    // B42 twin: same monthly cents, same straddling 12-sums, same
    // integer basis-point division and cross-year integer mean
    "q_seasonality" ->
      """WITH pts AS (
        |  SELECT o_orderpriority AS priority,
        |    year(o_orderdate)::BIGINT AS yr, month(o_orderdate)::BIGINT AS m,
        |    sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM orders GROUP BY 1, 2, 3),
        |w AS (
        |  SELECT priority, yr, m, cents,
        |    count(*) OVER wa AS na, count(*) OVER wb AS nb,
        |    ((sum(cents) OVER wa) + (sum(cents) OVER wb))::BIGINT AS t
        |  FROM pts
        |  WINDOW wa AS (PARTITION BY priority ORDER BY yr, m
        |    ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING),
        |  wb AS (PARTITION BY priority ORDER BY yr, m
        |    ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING)),
        |idx AS (
        |  SELECT priority, m, cents * 240000 // t AS idx_bp
        |  FROM w WHERE na = 12 AND nb = 12)
        |SELECT priority, m, count(*)::BIGINT AS n_years,
        |  (sum(idx_bp)::BIGINT // count(*))::BIGINT AS seas_bp
        |FROM idx GROUP BY 1, 2 ORDER BY priority, m""".stripMargin,
    "q_dtw" -> dtwSql,
    // B38 twin: same cents band, same integer ppm divisions, same
    // 3-of-3 smoothing rule — no float anywhere
    "q_stochastic" ->
      """WITH v AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    round(value * 100)::BIGINT AS vc
        |  FROM events),
        |w AS (
        |  SELECT user_id, event_id, ts_us, vc,
        |    count(*) OVER win AS n_win,
        |    min(vc) OVER win AS lo,
        |    max(vc) OVER win AS hi
        |  FROM v
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
        |k AS (
        |  SELECT user_id, event_id, ts_us,
        |    CASE WHEN n_win = 14 AND hi > lo
        |      THEN (vc - lo) * 1000000 // (hi - lo) END AS k_ppm
        |  FROM w)
        |SELECT user_id, event_id, ts_us, k_ppm,
        |  CASE WHEN count(k_ppm) OVER wd = 3
        |    THEN (sum(k_ppm) OVER wd)::BIGINT // 3 END AS d_ppm
        |FROM k
        |WINDOW wd AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,
    // B39 twin: identical truncated folds over the identical 2-dp
    // inputs with the identical interpolated coefficients — raw
    // doubles, exact compare (the B16 precedent)
    "q_macd" ->
      s"""WITH v AS (
         |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         |    round(value * 100) / 100.0 AS v
         |  FROM events),
         |w AS (
         |  SELECT user_id, event_id, ts_us,
         |    list(v) OVER win AS xs
         |  FROM v
         |  WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, event_id
         |    ROWS BETWEEN 39 PRECEDING AND CURRENT ROW)),
         |m AS (
         |  SELECT user_id, event_id, ts_us,
         |    list_reduce(xs, (acc, x) ->
         |        acc * ${dlit(1 - MacdAF)} + ${dlit(MacdAF)} * x)
         |      - list_reduce(xs, (acc, x) ->
         |          acc * ${dlit(1 - MacdAS)} + ${dlit(MacdAS)} * x) AS macd
         |  FROM w),
         |m2 AS (
         |  SELECT user_id, event_id, ts_us, macd,
         |    list(macd) OVER win AS ms
         |  FROM m
         |  WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, event_id
         |    ROWS BETWEEN 39 PRECEDING AND CURRENT ROW)),
         |sg AS (
         |  SELECT user_id, event_id, ts_us, macd,
         |    list_reduce(ms, (acc, x) ->
         |      acc * ${dlit(1 - MacdASig)} + ${dlit(MacdASig)} * x) AS sig
         |  FROM m2)
         |SELECT user_id, event_id, ts_us, macd, sig, macd - sig AS hist
         |FROM sg ORDER BY user_id, event_id""".stripMargin,
    // B40 twin: same cumulative histogram, same integer ceil rank,
    // same exact tail assembly, one division at export
    "q_var_es" ->
      """WITH pts AS (
        |  SELECT event_type, round(value * 100)::BIGINT AS cents
        |  FROM events),
        |counts AS (
        |  SELECT event_type, cents, count(*) AS c FROM pts GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type, cents, c,
        |    (sum(c) OVER (PARTITION BY event_type ORDER BY cents))::BIGINT
        |      AS cum,
        |    (sum(c) OVER (PARTITION BY event_type))::BIGINT AS n
        |  FROM counts),
        |kk AS (SELECT *, (n * 5 + 99) // 100 AS k FROM cum),
        |a AS (
        |  SELECT event_type, max(n) AS n, max(k) AS k,
        |    min(CASE WHEN cum >= k THEN cents END) AS var_c,
        |    sum(CASE WHEN cum < k THEN cents * c END)::BIGINT AS below_sum,
        |    max(CASE WHEN cum < k THEN cum END) AS below_cnt
        |  FROM kk GROUP BY 1)
        |SELECT event_type, n,
        |  var_c::DOUBLE / 100.0 AS var_dollars,
        |  (coalesce(below_sum, 0)
        |    + var_c * (k - coalesce(below_cnt, 0)))::DOUBLE
        |    / (k::DOUBLE * 100.0) AS es_dollars
        |FROM a ORDER BY event_type""".stripMargin,
    // B49 twin: recursive CTE running the textually identical coupled
    // update (sse reads the pre-update l), same (sse, α) struct-min
    "q_ses_fit" ->
      """WITH RECURSIVE pts AS (
        |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS y
        |  FROM events GROUP BY 1, 2),
        |lists AS (
        |  SELECT event_type, list(y::DOUBLE ORDER BY day) AS ys,
        |    count(*)::BIGINT AS n
        |  FROM pts GROUP BY 1 HAVING count(*) >= 2),
        |al AS (SELECT unnest([0.1, 0.2, 0.3, 0.4, 0.5,
        |  0.6, 0.7, 0.8, 0.9]) AS alpha),
        |st AS (
        |  SELECT event_type, n, ys, alpha, 1::BIGINT AS k,
        |    ys[1] AS l, 0.0::DOUBLE AS sse
        |  FROM lists, al
        |  UNION ALL
        |  SELECT event_type, n, ys, alpha, k + 1,
        |    l + alpha * (ys[(k + 1)::INT] - l),
        |    sse + (ys[(k + 1)::INT] - l) * (ys[(k + 1)::INT] - l)
        |  FROM st WHERE k < n),
        |fin AS (
        |  SELECT event_type, n, alpha, l, sse FROM st WHERE k = n)
        |SELECT event_type, max(n)::BIGINT AS n_days,
        |  (min(struct_pack(sse := sse, alpha := alpha, l := l))).alpha
        |    AS best_alpha,
        |  round((min(struct_pack(sse := sse, alpha := alpha, l := l))).sse,
        |    4) AS sse,
        |  round((min(struct_pack(sse := sse, alpha := alpha, l := l))).l,
        |    4) AS forecast
        |FROM fin GROUP BY event_type ORDER BY event_type""".stripMargin,
    // B47 twin: same exact HUGEINT moments over the same consecutive-
    // day pairs, the identical closed-form scalar tail per direction
    "q_adf" ->
      """WITH pts AS (
        |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS y
        |  FROM events GROUP BY 1, 2),
        |lagged AS (
        |  SELECT * FROM (
        |    SELECT event_type, day, y,
        |      lag(y) OVER w AS xl, lag(day) OVER w AS pd
        |    FROM pts WINDOW w AS (PARTITION BY event_type ORDER BY day))
        |  WHERE pd IS NOT NULL AND day - pd = 1),
        |m AS (
        |  SELECT event_type, count(*)::HUGEINT AS n,
        |    sum(xl::HUGEINT)::HUGEINT AS sx,
        |    sum((y - xl)::HUGEINT)::HUGEINT AS sd,
        |    sum(xl::HUGEINT * xl)::HUGEINT AS sxx,
        |    sum((y - xl)::HUGEINT * (y - xl))::HUGEINT AS sdd,
        |    sum(xl::HUGEINT * (y - xl))::HUGEINT AS sxd
        |  FROM lagged GROUP BY 1),
        |d AS (
        |  SELECT event_type, n::BIGINT AS n_pairs,
        |    (n * sxx - sx * sx)::DOUBLE AS cxx,
        |    (n * sxd - sx * sd)::DOUBLE AS cxd,
        |    (n * sdd - sd * sd)::DOUBLE AS cdd
        |  FROM m),
        |f AS (
        |  SELECT event_type, n_pairs, cxx,
        |    CASE WHEN cxx > 0 THEN cxd / cxx END AS rho,
        |    CASE WHEN cxx > 0
        |      THEN (cdd - cxd * cxd / cxx) / n_pairs::DOUBLE END AS sse
        |  FROM d),
        |g AS (
        |  SELECT event_type, n_pairs, cxx, rho,
        |    CASE WHEN n_pairs > 2
        |      THEN sse / (n_pairs::DOUBLE - 2.0) END AS s2
        |  FROM f),
        |h AS (
        |  SELECT event_type, n_pairs, cxx, rho, s2,
        |    CASE WHEN cxx > 0 AND s2 > 0
        |      THEN rho / sqrt(s2 * n_pairs::DOUBLE / cxx) END AS tstat,
        |    (n_pairs >= 4 AND cxx > 0 AND s2 > 0) AS ok
        |  FROM g)
        |SELECT event_type, n_pairs,
        |  CASE WHEN cxx > 0 THEN round(rho, 6) END AS rho,
        |  CASE WHEN ok THEN round(tstat, 4) END AS adf_t,
        |  CASE WHEN ok THEN (tstat < -2.86)::INT END AS stationary
        |FROM h ORDER BY event_type""".stripMargin,
    // B91 twin: same n-scaled integer deviations/cumsums (HUGEINT),
    // same literal Bartlett weights folded left-to-right, same
    // cancelled-scale division, round-then-compare
    "q_kpss" ->
      """WITH pts AS (
        |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS y
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, count(*)::BIGINT AS n,
        |    sum(y)::BIGINT AS s FROM pts GROUP BY 1),
        |led AS (
        |  SELECT p.event_type, st.n,
        |    (st.n * p.y - st.s)::BIGINT AS e,
        |    sum(st.n * p.y - st.s) OVER w2::BIGINT AS cs,
        |    lead(st.n * p.y - st.s, 1) OVER w AS e1,
        |    lead(st.n * p.y - st.s, 2) OVER w AS e2,
        |    lead(st.n * p.y - st.s, 3) OVER w AS e3,
        |    lead(st.n * p.y - st.s, 4) OVER w AS e4
        |  FROM pts p JOIN st USING (event_type)
        |  WINDOW w AS (PARTITION BY p.event_type ORDER BY p.day),
        |    w2 AS (PARTITION BY p.event_type ORDER BY p.day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |agg AS (
        |  SELECT event_type, max(n)::BIGINT AS nd,
        |    sum(cs::HUGEINT * cs)::HUGEINT AS a,
        |    sum(e::HUGEINT * e)::HUGEINT AS b0,
        |    sum(e::HUGEINT * e1)::HUGEINT AS b1,
        |    sum(e::HUGEINT * e2)::HUGEINT AS b2,
        |    sum(e::HUGEINT * e3)::HUGEINT AS b3,
        |    sum(e::HUGEINT * e4)::HUGEINT AS b4
        |  FROM led GROUP BY 1),
        |o AS (
        |  SELECT event_type, nd,
        |    CASE WHEN (b0::DOUBLE + 1.6e0 * b1::DOUBLE
        |        + 1.2e0 * b2::DOUBLE + 0.8e0 * b3::DOUBLE
        |        + 0.4e0 * b4::DOUBLE) > 0 THEN
        |      round(a::DOUBLE / (nd::DOUBLE * (b0::DOUBLE
        |        + 1.6e0 * b1::DOUBLE + 1.2e0 * b2::DOUBLE
        |        + 0.8e0 * b3::DOUBLE + 0.4e0 * b4::DOUBLE)), 6)
        |    END AS kpss_stat
        |  FROM agg)
        |SELECT event_type, nd AS n_days, kpss_stat,
        |  CASE WHEN kpss_stat IS NOT NULL
        |    THEN (kpss_stat < 0.463e0)::INT END AS level_stationary
        |FROM o ORDER BY event_type""".stripMargin,
    // B92 twin: same exact first-stage sums, one division each for
    // slope/intercept, the identical per-row residual sequence, the
    // same three day-ordered folds, cleared-denominator R²
    "q_breusch_pagan" ->
      """WITH pts AS (
        |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS y
        |  FROM events GROUP BY 1, 2),
        |rws AS (
        |  SELECT event_type, day, y, row_number() OVER w::BIGINT AS t
        |  FROM pts WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |m AS (
        |  SELECT event_type, count(*)::BIGINT AS n,
        |    sum(t)::BIGINT AS stt, sum(y)::BIGINT AS sy,
        |    sum(t * t)::BIGINT AS st2, sum(t * y)::BIGINT AS sty
        |  FROM rws GROUP BY 1),
        |mb AS (
        |  SELECT *, (n * st2 - stt * stt)::BIGINT AS dden,
        |    (n * sty - stt * sy)::DOUBLE
        |      / (n * st2 - stt * stt)::DOUBLE AS b
        |  FROM m),
        |mc AS (SELECT *,
        |    (sy::DOUBLE - b * stt::DOUBLE) / n::DOUBLE AS aa FROM mb),
        |res AS (
        |  SELECT r.event_type, r.t,
        |    (r.y::DOUBLE - mc.aa - mc.b * r.t::DOUBLE)
        |      * (r.y::DOUBLE - mc.aa - mc.b * r.t::DOUBLE) AS u
        |  FROM rws r JOIN mc USING (event_type)),
        |folds AS (
        |  SELECT event_type,
        |    list_reduce(list_prepend(0.0::DOUBLE, list(u ORDER BY t)),
        |      (a, v) -> a + v) AS su,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list(t::DOUBLE * u ORDER BY t)), (a, v) -> a + v) AS stu,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list(u * u ORDER BY t)), (a, v) -> a + v) AS suu
        |  FROM res GROUP BY 1),
        |j AS (
        |  SELECT m.event_type, m.n, mb.dden, f.su, f.stu, f.suu
        |  FROM folds f JOIN m USING (event_type)
        |  JOIN mb USING (event_type)),
        |o AS (
        |  SELECT event_type, n,
        |    CASE WHEN dden > 0 AND (n::DOUBLE * suu - su * su) > 0 THEN
        |      round(n::DOUBLE
        |        * ((n::DOUBLE * stu - (n * (n + 1) // 2)::DOUBLE * su)
        |          * (n::DOUBLE * stu - (n * (n + 1) // 2)::DOUBLE * su))
        |        / (dden::DOUBLE * (n::DOUBLE * suu - su * su)), 4)
        |    END AS bp_lm
        |  FROM j)
        |SELECT event_type, n AS n_days, bp_lm,
        |  CASE WHEN bp_lm IS NOT NULL
        |    THEN (bp_lm > 3.841e0)::INT END AS heteroskedastic
        |FROM o ORDER BY event_type""".stripMargin,
    // B93 twin: same exact integer group sums, one division per
    // group variance, the same three type-ordered folds, the same
    // Box-correction scalar tail
    "q_bartlett" ->
      """WITH pts AS (
        |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS y
        |  FROM events GROUP BY 1, 2),
        |g AS (
        |  SELECT event_type, count(*)::BIGINT AS n,
        |    sum(y::HUGEINT)::HUGEINT AS s,
        |    sum(y::HUGEINT * y)::HUGEINT AS ss
        |  FROM pts GROUP BY 1 HAVING count(*) >= 2),
        |gv AS (
        |  SELECT event_type, n,
        |    (n * ss - s * s)::DOUBLE
        |      / (n::DOUBLE * (n::DOUBLE - 1.0e0)) AS v,
        |    (n * ss - s * s)::DOUBLE / n::DOUBLE AS wsum
        |  FROM g),
        |gf AS (SELECT * FROM gv WHERE v > 0),
        |f AS (
        |  SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS nt,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list(wsum ORDER BY event_type)), (a, v) -> a + v) AS sw,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list((n::DOUBLE - 1.0e0) * ln(v) ORDER BY event_type)),
        |      (a, v) -> a + v) AS sl,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list(1.0e0 / (n::DOUBLE - 1.0e0) ORDER BY event_type)),
        |      (a, v) -> a + v) AS sinv
        |  FROM gf),
        |o AS (
        |  SELECT k, nt,
        |    CASE WHEN k >= 2 AND sw > 0 THEN
        |      round(((nt - k)::DOUBLE * ln(sw / (nt - k)::DOUBLE) - sl)
        |        / (1.0e0 + (sinv - 1.0e0 / (nt - k)::DOUBLE)
        |          / (3.0e0 * (k::DOUBLE - 1.0e0))), 4)
        |    END AS bartlett_t
        |  FROM f)
        |SELECT k AS n_groups, nt AS n_days, bartlett_t,
        |  CASE WHEN bartlett_t IS NOT NULL
        |    THEN (bartlett_t > 9.488e0)::INT END AS significant
        |FROM o""".stripMargin,
    // B94 twin: exact cent sums (HUGEINT), the same one-division +
    // one-sqrt scalar chain, literal spec limits
    "q_cpk" ->
      """WITH g AS (
        |  SELECT event_type, count(*)::BIGINT AS n,
        |    sum(round(value * 100)::BIGINT::HUGEINT)::HUGEINT AS s,
        |    sum(round(value * 100)::BIGINT::HUGEINT
        |      * round(value * 100)::BIGINT)::HUGEINT AS ss
        |  FROM events GROUP BY 1 HAVING count(*) >= 2),
        |o AS (
        |  SELECT event_type, n,
        |    s::DOUBLE / n::DOUBLE AS mu,
        |    sqrt((n * ss - s * s)::DOUBLE
        |      / (n::DOUBLE * (n::DOUBLE - 1.0e0))) AS sig
        |  FROM g),
        |o2 AS (
        |  SELECT event_type, n, mu, sig,
        |    CASE WHEN sig > 0
        |      THEN round(20000.0e0 / (6.0e0 * sig), 4) END AS cp,
        |    CASE WHEN sig > 0 THEN
        |      round(least(20000.0e0 - mu, mu - 0.0e0) / (3.0e0 * sig), 4)
        |    END AS cpk
        |  FROM o)
        |SELECT event_type, n AS n_events,
        |  round(mu / 100.0e0, 4) AS mean_value,
        |  round(sig / 100.0e0, 4) AS std_value, cp, cpk,
        |  CASE WHEN cpk IS NOT NULL
        |    THEN (cpk >= 1.33e0)::INT END AS capable
        |FROM o2 ORDER BY event_type""".stripMargin,
    "q_backtest" ->
      """WITH pts AS (
        |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS y
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, day, y,
        |    row_number() OVER w AS t,
        |    lag(y, 1) OVER w AS l1,
        |    lag(y, 7) OVER w AS l7,
        |    sum(y) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS s1
        |  FROM pts WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |e AS (
        |  SELECT event_type, day,
        |    (y - l1)::BIGINT AS en, (y - l7)::BIGINT AS es,
        |    y::DOUBLE - s1::DOUBLE / (t - 1)::DOUBLE AS em
        |  FROM r WHERE t >= 8),
        |a AS (
        |  SELECT event_type, count(*)::BIGINT AS n_eval,
        |    sum(abs(en))::BIGINT AS saen, sum(en * en)::BIGINT AS ssen,
        |    sum(abs(es))::BIGINT AS saes, sum(es * es)::BIGINT AS sses,
        |    list_reduce(
        |      list_prepend(0.0::DOUBLE, list(abs(em) ORDER BY day)),
        |      (acc, x) -> acc + x) AS saem,
        |    list_reduce(
        |      list_prepend(0.0::DOUBLE, list(em * em ORDER BY day)),
        |      (acc, x) -> acc + x) AS ssem
        |  FROM e GROUP BY 1)
        |SELECT event_type, n_eval,
        |  round(saen::DOUBLE / n_eval::DOUBLE, 4) AS mae_naive,
        |  round(sqrt(ssen::DOUBLE / n_eval::DOUBLE), 4) AS rmse_naive,
        |  round(saes::DOUBLE / n_eval::DOUBLE, 4) AS mae_snaive,
        |  round(sqrt(sses::DOUBLE / n_eval::DOUBLE), 4) AS rmse_snaive,
        |  round(saem / n_eval::DOUBLE, 4) AS mae_mean,
        |  round(sqrt(ssem / n_eval::DOUBLE), 4) AS rmse_mean,
        |  CASE WHEN saen > 0
        |    THEN round(saes::DOUBLE / saen::DOUBLE, 4) END AS mase_snaive,
        |  CASE WHEN saen > 0
        |    THEN round(saem / saen::DOUBLE, 4) END AS mase_mean
        |FROM a ORDER BY event_type""".stripMargin,
    "q_granger" ->
      """WITH pts AS (
        |  SELECT ts::DATE AS day,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT
        |      AS x,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT
        |      AS y
        |  FROM events WHERE event_type IN ('click', 'view')
        |  GROUP BY 1),
        |lagged AS (
        |  SELECT * FROM (
        |    SELECT day, x, y,
        |      lag(x) OVER w AS xl, lag(y) OVER w AS yl,
        |      lag(day) OVER w AS pd
        |    FROM pts WINDOW w AS (ORDER BY day))
        |  WHERE pd IS NOT NULL AND day - pd = 1),
        |m AS (
        |  SELECT count(*)::HUGEINT AS n,
        |    sum(x::HUGEINT)::HUGEINT AS sx, sum(y::HUGEINT)::HUGEINT AS sy,
        |    sum(xl::HUGEINT)::HUGEINT AS sxl,
        |    sum(yl::HUGEINT)::HUGEINT AS syl,
        |    sum(x::HUGEINT * x)::HUGEINT AS sxx,
        |    sum(y::HUGEINT * y)::HUGEINT AS syy,
        |    sum(xl::HUGEINT * xl)::HUGEINT AS sxlxl,
        |    sum(yl::HUGEINT * yl)::HUGEINT AS sylyl,
        |    sum(xl::HUGEINT * yl)::HUGEINT AS sxlyl,
        |    sum(yl::HUGEINT * y)::HUGEINT AS syly,
        |    sum(xl::HUGEINT * y)::HUGEINT AS sxly,
        |    sum(yl::HUGEINT * x)::HUGEINT AS sylx,
        |    sum(xl::HUGEINT * x)::HUGEINT AS sxlx
        |  FROM lagged),
        |d AS (
        |  SELECT n::BIGINT AS n_pairs,
        |    (n * sylyl - syl * syl)::DOUBLE AS coo_xy,
        |    (n * sxlxl - sxl * sxl)::DOUBLE AS ccc_xy,
        |    (n * sxlyl - syl * sxl)::DOUBLE AS coc_xy,
        |    (n * syly - syl * sy)::DOUBLE AS cot_xy,
        |    (n * sxly - sxl * sy)::DOUBLE AS cct_xy,
        |    (n * syy - sy * sy)::DOUBLE AS ctt_xy,
        |    (n * sxlxl - sxl * sxl)::DOUBLE AS coo_yx,
        |    (n * sylyl - syl * syl)::DOUBLE AS ccc_yx,
        |    (n * sxlyl - sxl * syl)::DOUBLE AS coc_yx,
        |    (n * sxlx - sxl * sx)::DOUBLE AS cot_yx,
        |    (n * sylx - syl * sx)::DOUBLE AS cct_yx,
        |    (n * sxx - sx * sx)::DOUBLE AS ctt_yx
        |  FROM m),
        |f AS (
        |  SELECT n_pairs,
        |    coo_xy * ccc_xy - coc_xy * coc_xy AS det_xy,
        |    coo_yx * ccc_yx - coc_yx * coc_yx AS det_yx,
        |    (cot_xy * ccc_xy - cct_xy * coc_xy) / det_xy AS b_xy,
        |    (cct_xy * coo_xy - cot_xy * coc_xy) / det_xy AS c_xy,
        |    (cot_yx * ccc_yx - cct_yx * coc_yx) / det_yx AS b_yx,
        |    (cct_yx * coo_yx - cot_yx * coc_yx) / det_yx AS c_yx,
        |    coo_xy, ccc_xy, coc_xy, cot_xy, cct_xy, ctt_xy,
        |    coo_yx, ccc_yx, coc_yx, cot_yx, cct_yx, ctt_yx
        |  FROM d),
        |g AS (
        |  SELECT n_pairs, det_xy, det_yx, c_xy, c_yx, coo_xy, coo_yx,
        |    ctt_xy - b_xy * cot_xy - c_xy * cct_xy AS sseu_xy,
        |    ctt_xy - (cot_xy / coo_xy) * cot_xy AS sser_xy,
        |    ctt_yx - b_yx * cot_yx - c_yx * cct_yx AS sseu_yx,
        |    ctt_yx - (cot_yx / coo_yx) * cot_yx AS sser_yx
        |  FROM f)
        |SELECT n_pairs,
        |  CASE WHEN det_xy <> 0 AND coo_xy <> 0 THEN round(
        |    (sser_xy - sseu_xy) / (sseu_xy / (n_pairs::DOUBLE - 3.0)), 4)
        |  END AS f_xy,
        |  CASE WHEN det_xy <> 0 THEN round(c_xy, 6) END
        |    AS beta_cross_xy,
        |  CASE WHEN det_yx <> 0 AND coo_yx <> 0 THEN round(
        |    (sser_yx - sseu_yx) / (sseu_yx / (n_pairs::DOUBLE - 3.0)), 4)
        |  END AS f_yx,
        |  CASE WHEN det_yx <> 0 THEN round(c_yx, 6) END
        |    AS beta_cross_yx
        |FROM g""".stripMargin,
    // B46 twin: same integer ordinal-pattern CASE (earlier-wins tie
    // rule), same pattern-ordered −Σ p ln p fold, same ln 6 norm
    "q_perm_entropy" ->
      """WITH pts AS (
        |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS y
        |  FROM events GROUP BY 1, 2),
        |tri AS (
        |  SELECT event_type, y,
        |    lead(y, 1) OVER w AS y1, lead(y, 2) OVER w AS y2
        |  FROM pts
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |pat AS (
        |  SELECT event_type,
        |    CASE WHEN y <= y1 AND y1 <= y2 THEN 0
        |      WHEN y <= y2 AND y2 < y1 THEN 1
        |      WHEN y1 < y AND y <= y2 THEN 2
        |      WHEN y2 < y AND y <= y1 THEN 3
        |      WHEN y1 <= y2 AND y2 < y THEN 4
        |      ELSE 5 END::BIGINT AS pat
        |  FROM tri WHERE y2 IS NOT NULL),
        |hist AS (
        |  SELECT event_type, pat, count(*)::BIGINT AS c
        |  FROM pat GROUP BY 1, 2),
        |tot AS (
        |  SELECT event_type, sum(c)::BIGINT AS n_tri,
        |    count(*)::BIGINT AS n_patterns
        |  FROM hist GROUP BY 1),
        |g AS (
        |  SELECT h.event_type, t.n_tri, t.n_patterns,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list((h.c::DOUBLE / t.n_tri::DOUBLE)
        |        * ln(h.c::DOUBLE / t.n_tri::DOUBLE) ORDER BY h.pat)),
        |      (a, b) -> a + b) AS hsum
        |  FROM hist h JOIN tot t USING (event_type)
        |  GROUP BY h.event_type, t.n_tri, t.n_patterns)
        |SELECT event_type, n_tri, n_patterns,
        |  round(-hsum / ln(6.0), 6) AS pe_norm
        |FROM g ORDER BY event_type""".stripMargin,
    // B45 twin: same exact ACF ratios, the Durbin-Levinson recursion
    // as a recursive CTE carrying the φ row as DOUBLE[] (the B18/B21
    // list-state precedent — list_reduce struct accumulators alias),
    // every inner sum folded in j order
    "q_pacf" -> {
      val lags = 1 to 7
      val leads = lags.map(k => s"lead(y, $k) OVER w AS y$k")
        .mkString(",\n        |    ")
      val nums = lags.map(k =>
        s"sum((n*y - s)*(n*y$k - s))::BIGINT AS num$k")
        .mkString(",\n        |    ")
      val rhoList = lags.map(k => s"num$k::DOUBLE / den").mkString("[", ", ", "]")
      val phikk =
        """(rr.rho[d.k + 1] - list_reduce(list_prepend(0.0::DOUBLE,
          |        list_transform(range(1, d.k + 1),
          |          j -> d.phis[j] * rr.rho[d.k + 1 - j])), (a, b) -> a + b))
          |      / (1.0 - list_reduce(list_prepend(0.0::DOUBLE,
          |        list_transform(range(1, d.k + 1),
          |          j -> d.phis[j] * rr.rho[j])), (a, b) -> a + b))""".stripMargin
      val pacfCols = lags.map(k =>
        s"round(pacfs[$k], 6) AS pacf_$k").mkString(",\n        |  ")
      s"""WITH RECURSIVE pts AS (
        |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS y
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT event_type, count(*)::BIGINT AS n, sum(y)::BIGINT AS s
        |  FROM pts GROUP BY 1),
        |led AS (
        |  SELECT p.event_type, n, s, y,
        |    $leads
        |  FROM pts p JOIN st USING (event_type)
        |  WINDOW w AS (PARTITION BY p.event_type ORDER BY day)),
        |agg AS (
        |  SELECT event_type, sum((n*y - s)*(n*y - s))::BIGINT AS den,
        |    $nums
        |  FROM led GROUP BY 1),
        |rr AS (
        |  SELECT event_type, $rhoList AS rho FROM agg),
        |dl AS (
        |  SELECT event_type, 1 AS k, [rho[1]] AS phis, [rho[1]] AS pacfs
        |  FROM rr
        |  UNION ALL
        |  SELECT d.event_type, d.k + 1,
        |    list_transform(range(1, d.k + 2), j -> CASE WHEN j = d.k + 1
        |      THEN $phikk
        |      ELSE d.phis[j] - ($phikk) * d.phis[d.k + 1 - j] END),
        |    list_append(d.pacfs, $phikk)
        |  FROM dl d JOIN rr USING (event_type) WHERE d.k < 7)
        |SELECT event_type,
        |  $pacfCols
        |FROM dl WHERE k = 7 ORDER BY event_type""".stripMargin
    },
    // B44 twin: same exact D_j/varn integers, same shared breakpoint
    // literals, same complete-segment filter and seg-ordered word
    "q_sax" ->
      """WITH pts AS (
        |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS y
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT *, (row_number() OVER
        |    (PARTITION BY event_type ORDER BY day))::BIGINT AS i
        |  FROM pts),
        |st AS (
        |  SELECT event_type, count(*)::BIGINT AS n, sum(y)::BIGINT AS s,
        |    sum(y * y)::BIGINT AS sq
        |  FROM pts GROUP BY 1),
        |segs AS (
        |  SELECT i.event_type, (i.i - 1) // 5 AS seg,
        |    count(*)::BIGINT AS cnt,
        |    sum(st.n * i.y - st.s)::BIGINT AS d,
        |    max(st.n * st.sq - st.s * st.s)::BIGINT AS varn,
        |    max(st.n)::BIGINT AS n
        |  FROM idx i JOIN st USING (event_type)
        |  GROUP BY 1, 2),
        |z AS (
        |  SELECT event_type, seg, n,
        |    CASE WHEN varn > 0
        |      THEN d::DOUBLE / (5.0 * sqrt(varn::DOUBLE)) END AS z
        |  FROM segs WHERE cnt = 5),
        |sym AS (
        |  SELECT *, CASE WHEN z IS NULL THEN '?'
        |    WHEN z < -0.6745 THEN 'a'
        |    WHEN z < 0.0 THEN 'b'
        |    WHEN z < 0.6745 THEN 'c'
        |    ELSE 'd' END AS sym
        |  FROM z)
        |SELECT event_type, max(n)::BIGINT AS n_days,
        |  count(*)::BIGINT AS n_segs,
        |  CASE WHEN max(CASE WHEN z IS NULL THEN 1 ELSE 0 END) = 0
        |    THEN string_agg(sym, '' ORDER BY seg) END AS sax_word,
        |  max(CASE WHEN seg = 0 THEN round(z, 4) END) AS z0,
        |  max(CASE WHEN seg = 1 THEN round(z, 4) END) AS z1,
        |  max(CASE WHEN seg = 2 THEN round(z, 4) END) AS z2,
        |  max(CASE WHEN seg = 3 THEN round(z, 4) END) AS z3,
        |  max(CASE WHEN seg = 4 THEN round(z, 4) END) AS z4,
        |  max(CASE WHEN seg = 5 THEN round(z, 4) END) AS z5
        |FROM sym GROUP BY event_type ORDER BY event_type""".stripMargin,
    // B43 twin: same integer scaled prefix deviations, same varn > 0
    // block filter, same block/size-ordered folds and OLS tail
    "q_hurst" ->
      """WITH pts AS (
        |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS y
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT *, (row_number() OVER
        |    (PARTITION BY event_type ORDER BY day))::BIGINT AS i
        |  FROM pts),
        |ex AS (
        |  SELECT event_type, y, i, m::BIGINT AS m, (i - 1) // m AS b
        |  FROM idx, (SELECT unnest([5, 10, 15]) AS m)),
        |wnd AS (
        |  SELECT event_type, m, b,
        |    count(*) OVER wb AS cnt,
        |    sum(y) OVER wb AS s,
        |    sum(y * y) OVER wb AS sq,
        |    (row_number() OVER wbo)::BIGINT AS r,
        |    sum(y) OVER wrun AS p
        |  FROM ex
        |  WINDOW wb AS (PARTITION BY event_type, m, b),
        |    wbo AS (PARTITION BY event_type, m, b ORDER BY i),
        |    wrun AS (PARTITION BY event_type, m, b ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |pp AS (
        |  SELECT event_type, m, b, cnt, s, sq, m * p - r * s AS pp
        |  FROM wnd),
        |blocks AS (
        |  SELECT event_type, m, b,
        |    (max(pp) - min(pp))::BIGINT AS rsc,
        |    max(m * sq - s * s)::BIGINT AS varn,
        |    max(cnt)::BIGINT AS cnt
        |  FROM pp GROUP BY 1, 2, 3),
        |good AS (
        |  SELECT event_type, m, b,
        |    rsc::DOUBLE / sqrt(varn::DOUBLE) AS rs
        |  FROM blocks WHERE cnt = m AND varn > 0),
        |per AS (
        |  SELECT event_type, m, count(*)::BIGINT AS n_b,
        |    list_reduce(list_prepend(0.0::DOUBLE, list(rs ORDER BY b)),
        |      (a, x) -> a + x) AS srs
        |  FROM good GROUP BY 1, 2),
        |mz AS (
        |  SELECT event_type, m, srs / n_b AS mean_rs FROM per),
        |fit AS (
        |  SELECT event_type, count(*)::BIGINT AS n_sizes,
        |    max(CASE WHEN m = 5 THEN round(mean_rs, 6) END) AS rs5,
        |    max(CASE WHEN m = 10 THEN round(mean_rs, 6) END) AS rs10,
        |    max(CASE WHEN m = 15 THEN round(mean_rs, 6) END) AS rs15,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list(ln(m::DOUBLE) ORDER BY m)), (a, x) -> a + x) AS sx,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list(ln(mean_rs) ORDER BY m)), (a, x) -> a + x) AS sy,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list(ln(m::DOUBLE) * ln(mean_rs) ORDER BY m)),
        |      (a, x) -> a + x) AS sxy,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list(ln(m::DOUBLE) * ln(m::DOUBLE) ORDER BY m)),
        |      (a, x) -> a + x) AS sxx
        |  FROM mz GROUP BY 1),
        |nd AS (
        |  SELECT event_type, count(*)::BIGINT AS n_days
        |  FROM pts GROUP BY 1)
        |SELECT f.event_type, n_days, n_sizes, rs5, rs10, rs15,
        |  CASE WHEN n_sizes >= 2 THEN round(
        |    (n_sizes * sxy - sx * sy) / (n_sizes * sxx - sx * sx), 4)
        |  END AS hurst
        |FROM fit f JOIN nd USING (event_type)
        |ORDER BY event_type""".stripMargin,
    // B35 twin: same integer numerators (denominators cleared), same
    // per-lag division, same left-to-right Ljung-Box fold
    "q_acf" -> {
      val lags = 1 to 7
      val leads = lags.map(k => s"lead(y, $k) OVER w AS y$k").mkString(",\n        |    ")
      val nums = lags.map(k =>
        s"sum((n*y - s)*(n*y$k - s))::BIGINT AS num$k").mkString(",\n        |    ")
      val acfs = lags.map(k =>
        s"round(num$k::DOUBLE / den, 6) AS acf_$k").mkString(",\n        |  ")
      val terms = lags.map(k =>
        s"(num$k::DOUBLE/den)*(num$k::DOUBLE/den)/(n - $k)").mkString("\n        |    + ")
      s"""WITH pts AS (
        |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS y
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT event_type, count(*)::BIGINT AS n, sum(y)::BIGINT AS s
        |  FROM pts GROUP BY 1),
        |led AS (
        |  SELECT p.event_type, n, s, y,
        |    $leads
        |  FROM pts p JOIN st USING (event_type)
        |  WINDOW w AS (PARTITION BY p.event_type ORDER BY day)),
        |agg AS (
        |  SELECT event_type, max(n)::BIGINT AS n,
        |    sum((n*y - s)*(n*y - s))::BIGINT AS den,
        |    $nums
        |  FROM led GROUP BY 1)
        |SELECT event_type, n AS n_days,
        |  $acfs,
        |  round((n*(n+2))::DOUBLE * (
        |    $terms), 4) AS q_lb
        |FROM agg ORDER BY event_type""".stripMargin
    },
    // B36 twin: same integer prefix sums, same two-division score,
    // same (gain DESC, i ASC) argmax
    "q_changepoint" ->
      """WITH pts AS (
        |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS y
        |  FROM events GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type, day, y,
        |    row_number() OVER w AS i,
        |    sum(y) OVER w AS p
        |  FROM pts
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |st AS (
        |  SELECT event_type, count(*)::BIGINT AS n, sum(y)::BIGINT AS s
        |  FROM pts GROUP BY 1),
        |scored AS (
        |  SELECT c.event_type, c.i, c.day, n, s, p,
        |    (p*p)::DOUBLE / i + ((s-p)*(s-p))::DOUBLE / (n-i) AS gain
        |  FROM cum c JOIN st USING (event_type)
        |  WHERE c.i < n),
        |best AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY gain DESC, i ASC) AS rk
        |  FROM scored)
        |SELECT event_type, i AS tau_idx,
        |  strftime(day, '%Y-%m-%d') AS tau_day,
        |  round(gain - (s*s)::DOUBLE / n, 4) AS delta_sse,
        |  round(p::DOUBLE / i, 4) AS mean_left,
        |  round((s-p)::DOUBLE / (n-i), 4) AS mean_right
        |FROM best WHERE rk = 1 ORDER BY event_type""".stripMargin,
    // B90 twin: same both-forecast day filter, two exact sums, one
    // division
    "q_mase" ->
      """WITH pts AS (
        |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS y
        |  FROM events GROUP BY 1, 2),
        |lg AS (
        |  SELECT event_type, y,
        |    lag(y, 7) OVER (PARTITION BY event_type ORDER BY day) AS f7,
        |    lag(y, 1) OVER (PARTITION BY event_type ORDER BY day) AS f1
        |  FROM pts)
        |SELECT event_type, count(*)::BIGINT AS n_scored,
        |  sum(abs(y - f7))::BIGINT AS abs_err_7,
        |  sum(abs(y - f1))::BIGINT AS abs_err_1,
        |  CASE WHEN sum(abs(y - f1)) > 0 THEN
        |    round(sum(abs(y - f7))::DOUBLE / sum(abs(y - f1))::DOUBLE, 6)
        |  END AS mase
        |FROM lg WHERE f7 IS NOT NULL AND f1 IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // B89 twin: same lag-7 residuals, same exact E/A cumsums, one
    // division per day, same struct-max final-row pick
    "q_tracking_signal" ->
      """WITH pts AS (
        |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS y
        |  FROM events GROUP BY 1, 2),
        |lg AS (
        |  SELECT event_type, day, y,
        |    lag(y, 7) OVER (PARTITION BY event_type ORDER BY day) AS f
        |  FROM pts),
        |sc AS (SELECT event_type, day, (y - f)::BIGINT AS d
        |       FROM lg WHERE f IS NOT NULL),
        |cum AS (
        |  SELECT event_type,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day)
        |      ::BIGINT AS i,
        |    sum(d) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      ::BIGINT AS e,
        |    sum(abs(d)) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      ::BIGINT AS a
        |  FROM sc),
        |ts AS (
        |  SELECT *, CASE WHEN a > 0
        |    THEN (i * e)::DOUBLE / a::DOUBLE END AS tsv
        |  FROM cum),
        |fin AS (
        |  SELECT event_type, max(i)::BIGINT AS n_scored,
        |    round(max(abs(tsv)), 4) AS ts_max_abs,
        |    min(CASE WHEN abs(tsv) > 4.0 THEN i END)::BIGINT
        |      AS first_flag_day
        |  FROM ts GROUP BY 1)
        |SELECT f.event_type, f.n_scored, c.e AS cum_err,
        |  c.a AS cum_abs_err, round(c.tsv, 4) AS ts_final,
        |  f.ts_max_abs, f.first_flag_day
        |FROM fin f JOIN ts c
        |  ON c.event_type = f.event_type AND c.i = f.n_scored
        |ORDER BY f.event_type""".stripMargin,
    // B87 twin: same lag-7 day-grid forecast, same integer tenths
    // loss, divisions only at export
    "q_pinball" ->
      """WITH pts AS (
        |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS y
        |  FROM events GROUP BY 1, 2),
        |lg AS (
        |  SELECT event_type, y,
        |    lag(y, 7) OVER (PARTITION BY event_type ORDER BY day) AS f
        |  FROM pts),
        |sc AS (
        |  SELECT event_type, t.tau10, (y - f)::BIGINT AS d
        |  FROM lg CROSS JOIN (SELECT unnest([1, 5, 9])::BIGINT AS tau10) t
        |  WHERE f IS NOT NULL)
        |SELECT event_type, tau10::DOUBLE / 10.0 AS tau,
        |  count(*)::BIGINT AS n_scored,
        |  round(sum(CASE WHEN d >= 0 THEN tau10 * d
        |    ELSE (tau10 - 10) * d END)::DOUBLE / 10.0, 4) AS total_loss,
        |  round(sum(CASE WHEN d >= 0 THEN tau10 * d
        |    ELSE (tau10 - 10) * d END)::DOUBLE
        |    / (10.0 * count(*)::DOUBLE), 6) AS mean_loss
        |FROM sc GROUP BY 1, 2 ORDER BY event_type, tau""".stripMargin,
    // B86 twin: same integer Walsh sums over the i <= j pair frame,
    // same positional median (tied values are identical, so tie
    // order cannot change the selected value), same final division
    "q_hodges_lehmann" ->
      """WITH pts AS (
        |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS y
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT event_type, y,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day)
        |      ::BIGINT AS i
        |  FROM pts),
        |pairs AS (
        |  SELECT a.event_type, (a.y + b.y)::BIGINT AS ws
        |  FROM idx a JOIN idx b
        |    ON a.event_type = b.event_type AND a.i <= b.i),
        |ranked AS (
        |  SELECT event_type, ws,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ws)
        |      ::BIGINT AS rn,
        |    count(*) OVER (PARTITION BY event_type)::BIGINT AS m
        |  FROM pairs)
        |SELECT event_type, max(m) AS n_pairs,
        |  round(sum(ws)::DOUBLE / (count(*) * 2)::DOUBLE, 4) AS hl
        |FROM ranked
        |WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // B34 twin: same daily series, same exact S and tie sum, same
    // continuity-corrected scalar sequence
    "q_mann_kendall" ->
      """WITH pts AS (
        |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT a.event_type, sum(sign(b.cnt - a.cnt))::BIGINT AS s_stat
        |  FROM pts a JOIN pts b
        |    ON a.event_type = b.event_type AND a.day < b.day
        |  GROUP BY 1),
        |ties AS (
        |  SELECT event_type, sum(t)::BIGINT AS n,
        |    sum(t * (t - 1) * (2 * t + 5))::BIGINT AS tsum
        |  FROM (SELECT event_type, cnt, count(*)::BIGINT AS t
        |        FROM pts GROUP BY 1, 2)
        |  GROUP BY 1),
        |j AS (
        |  SELECT s.event_type, n, s_stat,
        |    (n * (n - 1) * (2 * n + 5) - tsum)::DOUBLE / 18.0 AS var_s
        |  FROM s JOIN ties ON s.event_type = ties.event_type)
        |SELECT event_type, n AS n_days, s_stat,
        |  CASE WHEN s_stat > 0
        |       THEN round((s_stat - 1)::DOUBLE / sqrt(var_s), 6)
        |       WHEN s_stat < 0
        |       THEN round((s_stat + 1)::DOUBLE / sqrt(var_s), 6)
        |       ELSE 0.0 END AS z_score
        |FROM j ORDER BY event_type""".stripMargin,
    // B33 twin: same integer lifetimes/censor rule, same suffix-sum
    // risk sets, same time-ordered product fold
    "q_kaplan_meier" ->
      """WITH users AS (
        |  SELECT user_id,
        |    (max(epoch_us(ts)) - min(epoch_us(ts))) // 3600000000
        |      AS t_hours,
        |    max(epoch_us(ts)) AS last_us
        |  FROM events GROUP BY 1),
        |c AS (
        |  SELECT user_id, t_hours,
        |    ((SELECT max(last_us) FROM users) - last_us)
        |      > 6 * 3600000000 AS churned
        |  FROM users),
        |hist AS (
        |  SELECT t_hours, count(*)::BIGINT AS n_at,
        |    sum(CASE WHEN churned THEN 1 ELSE 0 END)::BIGINT AS d_events
        |  FROM c GROUP BY 1),
        |risk AS (
        |  SELECT t_hours, d_events,
        |    (sum(n_at) OVER (ORDER BY t_hours DESC))::BIGINT AS n_risk
        |  FROM hist),
        |r AS (
        |  SELECT t_hours, n_risk, d_events FROM risk WHERE d_events > 0),
        |evs AS (
        |  SELECT list(struct_pack(td := t_hours, nr := n_risk,
        |    de := d_events) ORDER BY t_hours) AS l FROM r)
        |SELECT t_hours, n_risk, d_events,
        |  round(list_reduce(list_prepend(1.0::DOUBLE,
        |    list_transform(list_filter(l, e -> e.td <= t_hours),
        |      e -> 1.0 - e.de::DOUBLE / e.nr::DOUBLE)),
        |    (a, b) -> a * b), 6) AS s_km
        |FROM r, evs ORDER BY t_hours""".stripMargin,
    // B31 twin: identical integer breach predicate, identical IEEE
    // band expressions over the same BIGINTs
    "q_bollinger" ->
      """WITH v AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    round(value * 100)::BIGINT AS vc
        |  FROM events),
        |w AS (
        |  SELECT user_id, event_id, ts_us, vc,
        |    count(*) OVER win::BIGINT AS n_win,
        |    sum(vc) OVER win::BIGINT AS sx,
        |    sum(vc * vc) OVER win::BIGINT AS sxx
        |  FROM v
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
        |d AS (
        |  SELECT user_id, event_id, ts_us, n_win, sx,
        |    n_win * vc - sx AS dev_n,
        |    n_win * sxx - sx * sx AS var_nn
        |  FROM w WHERE n_win = 20)
        |SELECT user_id, event_id, ts_us,
        |  round(sx::DOUBLE / (n_win::DOUBLE * 100.0), 4) AS mid,
        |  round(sx::DOUBLE / (n_win::DOUBLE * 100.0)
        |    - 2.0 * (sqrt(var_nn::DOUBLE) / (n_win::DOUBLE * 100.0)), 4)
        |    AS lower,
        |  round(sx::DOUBLE / (n_win::DOUBLE * 100.0)
        |    + 2.0 * (sqrt(var_nn::DOUBLE) / (n_win::DOUBLE * 100.0)), 4)
        |    AS upper,
        |  CASE WHEN dev_n * dev_n > 4 * var_nn
        |       THEN CASE WHEN dev_n > 0 THEN 1 ELSE -1 END
        |       ELSE 0 END::BIGINT AS breach
        |FROM d ORDER BY user_id, event_id""".stripMargin,
    // B32 twin: all-integer Cutler RSI, ppm export
    "q_rsi" ->
      """WITH v AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    round(value * 100)::BIGINT AS vc
        |  FROM events),
        |d AS (
        |  SELECT user_id, event_id, ts_us,
        |    vc - lag(vc) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) AS delta
        |  FROM v),
        |g AS (
        |  SELECT user_id, event_id, ts_us,
        |    count(delta) OVER win::BIGINT AS n_d,
        |    sum(CASE WHEN delta > 0 THEN delta ELSE 0 END) OVER win::BIGINT
        |      AS sg,
        |    sum(CASE WHEN delta < 0 THEN -delta ELSE 0 END) OVER win::BIGINT
        |      AS sl
        |  FROM d
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id, ts_us,
        |  CASE WHEN n_d = 14 AND sg + sl > 0
        |       THEN sg * 1000000 // (sg + sl) END AS rsi_ppm
        |FROM g ORDER BY user_id, event_id""".stripMargin,
    "q_ewma" ->
      """WITH v AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    round(value * 100) / 100.0 AS v
        |  FROM events),
        |w AS (
        |  SELECT user_id, event_id, ts_us,
        |    list(v) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS xs
        |  FROM v)
        |SELECT user_id, event_id, ts_us,
        |  list_reduce(xs, (acc, x) -> acc * 0.7 + 0.3 * x) AS ewma
        |FROM w ORDER BY user_id, event_id""".stripMargin,
    "q_rolling_stats" ->
      """WITH v AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    round(value * 100)::BIGINT AS vc
        |  FROM events),
        |w AS (
        |  SELECT user_id, event_id, ts_us,
        |    count(*) OVER win AS n_win,
        |    min(vc) OVER win AS min_c,
        |    max(vc) OVER win AS max_c,
        |    sum(vc) OVER win AS sx,
        |    sum(vc * vc) OVER win AS sxx
        |  FROM v
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id, ts_us, n_win, min_c, max_c,
        |  sx::DOUBLE / (n_win::DOUBLE * 100.0) AS mean_val,
        |  CASE WHEN n_win > 1 THEN sqrt(
        |    ((n_win * sxx - sx * sx)::DOUBLE /
        |      (n_win * (n_win - 1))::DOUBLE) / 10000.0)
        |  END AS std_val
        |FROM w ORDER BY user_id, event_id""".stripMargin,
    "q_ffill_gaps" ->
      """WITH daily AS (
        |  SELECT user_id, ts::DATE AS day, round(sum(value), 2) AS day_value
        |  FROM events GROUP BY 1, 2),
        |bounds AS (
        |  SELECT user_id, min(day) AS mn, max(day) AS mx
        |  FROM daily GROUP BY 1),
        |grid AS (
        |  SELECT user_id,
        |    unnest(generate_series(mn::TIMESTAMP, mx::TIMESTAMP,
        |      INTERVAL 1 DAY))::DATE AS day
        |  FROM bounds),
        |j AS (
        |  SELECT g.user_id, g.day, d.day_value
        |  FROM grid g LEFT JOIN daily d
        |    ON g.user_id = d.user_id AND g.day = d.day)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
        |  last_value(day_value IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
        |  (day_value IS NOT NULL)::BIGINT AS is_observed
        |FROM j ORDER BY user_id, day""".stripMargin,
    "q_interp_linear" ->
      """WITH daily AS (
        |  SELECT user_id, ts::DATE AS day, round(sum(value), 2) AS day_value
        |  FROM events GROUP BY 1, 2),
        |bounds AS (
        |  SELECT user_id, min(day) AS mn, max(day) AS mx
        |  FROM daily GROUP BY 1),
        |grid AS (
        |  SELECT user_id,
        |    unnest(generate_series(mn::TIMESTAMP, mx::TIMESTAMP,
        |      INTERVAL 1 DAY))::DATE AS day
        |  FROM bounds),
        |j AS (
        |  SELECT g.user_id, g.day, d.day_value
        |  FROM grid g LEFT JOIN daily d
        |    ON g.user_id = d.user_id AND g.day = d.day),
        |w AS (
        |  SELECT user_id, day, day_value,
        |    last_value(day_value IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    last_value(CASE WHEN day_value IS NOT NULL THEN day END
        |      IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
        |    first_value(day_value IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN day_value IS NOT NULL THEN day END
        |      IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
        |  FROM j)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
        |  round(CASE
        |    WHEN day_value IS NOT NULL THEN day_value
        |    WHEN pv IS NULL THEN nv
        |    WHEN nv IS NULL THEN pv
        |    ELSE pv + (nv - pv) *
        |      ((day - pd)::DOUBLE / (nd - pd)::DOUBLE)
        |  END, 4) AS interp_value,
        |  (day_value IS NOT NULL)::BIGINT AS is_observed
        |FROM w ORDER BY user_id, day""".stripMargin,
    "q_worst_drawdown" ->
      s"""WITH rev AS ($yearlyRevSql),
         |dd AS (
         |  SELECT n_name,
         |    round((sum(CASE WHEN yr = 1999 THEN rev END)
         |          - sum(CASE WHEN yr = 1998 THEN rev END))
         |          / sum(CASE WHEN yr = 1998 THEN rev END), 6) AS drawdown
         |  FROM rev GROUP BY n_name)
         |SELECT n_name, drawdown FROM dd WHERE drawdown IS NOT NULL
         |ORDER BY drawdown ASC, n_name LIMIT 10""".stripMargin,
    "q_fastest_recovery" ->
      s"""WITH rev AS ($yearlyRevSql),
         |base AS (SELECT n_name, rev AS v0 FROM rev WHERE yr = 1998),
         |rec AS (
         |  SELECT r.n_name, min(r.yr - 1998) AS recovered_years
         |  FROM rev r JOIN base b ON r.n_name = b.n_name
         |  WHERE r.yr > 1998 AND r.rev >= b.v0
         |  GROUP BY r.n_name)
         |SELECT b.n_name, rec.recovered_years
         |FROM base b JOIN rec ON b.n_name = rec.n_name
         |ORDER BY recovered_years ASC, b.n_name LIMIT 10""".stripMargin,
    "q_drawdown" ->
      s"""WITH rev AS ($yearlyRevSql)
         |SELECT n_name,
         |  round((sum(CASE WHEN yr = 1999 THEN rev END)
         |        - sum(CASE WHEN yr = 1998 THEN rev END))
         |        / sum(CASE WHEN yr = 1998 THEN rev END), 6) AS drawdown
         |FROM rev GROUP BY n_name ORDER BY n_name""".stripMargin,
    // B25 twin: same n-scaled integer deviations and the same
    // prefix-sum/running-extremum closed form — all BIGINT, exact
    // B26 twin: same BIGINT window sums over the pair rows, same
    // single sqrt+divide at the end
    "q_rolling_corr" ->
      """WITH pts AS (
        |  SELECT user_id, event_id, ts,
        |    round(value * 100)::BIGINT AS x
        |  FROM events),
        |lagged AS (
        |  SELECT user_id, event_id, ts, x,
        |    lag(x) OVER wo AS y
        |  FROM pts
        |  WINDOW wo AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sums AS (
        |  SELECT user_id, event_id, ts,
        |    (count(y) OVER wf)::BIGINT AS n,
        |    (sum(CASE WHEN y IS NOT NULL THEN x END) OVER wf)::BIGINT AS sx,
        |    (sum(y) OVER wf)::BIGINT AS sy,
        |    (sum(x * y) OVER wf)::BIGINT AS sxy,
        |    (sum(CASE WHEN y IS NOT NULL THEN x * x END) OVER wf)::BIGINT AS sxx,
        |    (sum(y * y) OVER wf)::BIGINT AS syy
        |  FROM lagged
        |  WINDOW wf AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  CASE WHEN n >= 2 AND n * sxx - sx * sx > 0
        |        AND n * syy - sy * sy > 0
        |    THEN round((n * sxy - sx * sy) /
        |      sqrt((n * sxx - sx * sx)::DOUBLE * (n * syy - sy * sy)::DOUBLE), 6)
        |    END AS autocorr
        |FROM sums ORDER BY user_id, event_id""".stripMargin,
    // B78 twin: the same RANGE-framed tie rank and lag fold — all
    // BIGINT, one division at export
    "q_xicor" ->
      """WITH pts AS (
        |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS y
        |  FROM events GROUP BY 1, 2),
        |ranked AS (
        |  SELECT event_type, day, y,
        |    (count(*) OVER (PARTITION BY event_type ORDER BY y
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |      AS r
        |  FROM pts),
        |lagged AS (
        |  SELECT event_type, r,
        |    lead(r) OVER (PARTITION BY event_type ORDER BY day) AS rn
        |  FROM ranked),
        |agg AS (
        |  SELECT event_type, count(*)::BIGINT AS n_days,
        |    sum(abs(rn - r))::BIGINT AS s_abs
        |  FROM lagged GROUP BY 1)
        |SELECT event_type, n_days, s_abs,
        |  round((n_days * n_days - 1 - 3 * s_abs)::DOUBLE
        |    / (n_days * n_days - 1)::DOUBLE, 6) AS xi
        |FROM agg WHERE n_days >= 2 ORDER BY event_type""".stripMargin,
    // B77 twin: the identical fixed-design resampling — exact cents,
    // 1-based list indexing (ss[5] == Spark's ss[4])
    "q_bootstrap_ci" ->
      """WITH y AS (
        |  SELECT n_name, year(o_orderdate)::BIGINT AS yr,
        |    sum(round(o_totalprice * 100)::BIGINT) AS cents
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |idx AS (
        |  SELECT n_name, cents,
        |    row_number() OVER (PARTITION BY n_name ORDER BY yr) - 1
        |      AS yi,
        |    count(*) OVER (PARTITION BY n_name) AS n
        |  FROM y),
        |bs AS (SELECT unnest(range(0, 200)) AS b),
        |picks AS (
        |  SELECT i.n_name, bs.b, (bs.b * 31 + i.yi * 17) % i.n AS pick
        |  FROM idx i CROSS JOIN bs),
        |sums AS (
        |  SELECT p.n_name, p.b, sum(i2.cents)::BIGINT AS s
        |  FROM picks p JOIN idx i2
        |    ON p.n_name = i2.n_name AND p.pick = i2.yi
        |  GROUP BY 1, 2),
        |stats AS (
        |  SELECT n_name, list_sort(list(s)) AS ss FROM sums GROUP BY 1),
        |base AS (
        |  SELECT n_name, max(n)::BIGINT AS n_years,
        |    sum(cents)::BIGINT AS tot
        |  FROM idx GROUP BY 1)
        |SELECT b.n_name, b.n_years,
        |  (b.tot // b.n_years)::BIGINT AS mean_cents,
        |  (st.ss[5] // b.n_years)::BIGINT AS boot_lo_cents,
        |  (st.ss[196] // b.n_years)::BIGINT AS boot_hi_cents
        |FROM base b JOIN stats st USING (n_name)
        |ORDER BY n_name""".stripMargin,
    // B76 twin: the cusum machinery plus the tolerance term and the
    // first-crossing localization — all BIGINT, threshold compared
    // in the same N-cleared units
    "q_page_hinkley" ->
      """WITH pts AS (
        |  SELECT user_id, event_id, ts,
        |    round(value * 100)::BIGINT AS cents
        |  FROM events),
        |scored AS (
        |  SELECT user_id, event_id, ts,
        |    (count(*) OVER w0)::BIGINT AS n,
        |    (count(*) OVER w0)::BIGINT * cents
        |      - (sum(cents) OVER w0)::BIGINT
        |      - 5 * (count(*) OVER w0)::BIGINT AS d
        |  FROM pts
        |  WINDOW w0 AS (PARTITION BY user_id)),
        |p1 AS (
        |  SELECT user_id, event_id, ts, n,
        |    (sum(d) OVER wo)::BIGINT AS m,
        |    row_number() OVER wo AS idx
        |  FROM scored
        |  WINDOW wo AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |p2 AS (
        |  SELECT user_id, n, idx,
        |    m - least((min(m) OVER wo)::BIGINT, 0) AS ph
        |  FROM p1
        |  WINDOW wo AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |agg AS (
        |  SELECT user_id, max(n) AS n_events, max(ph) AS ph_max,
        |    min(CASE WHEN ph > 1000 * n THEN idx END)::BIGINT
        |      AS alarm_idx
        |  FROM p2 GROUP BY user_id)
        |SELECT user_id, n_events, ph_max,
        |  (CASE WHEN alarm_idx IS NOT NULL THEN 1 ELSE 0
        |   END)::BIGINT AS alarmed, alarm_idx
        |FROM agg ORDER BY user_id""".stripMargin,
    "q_cusum" ->
      """WITH pts AS (
        |  SELECT user_id, event_id, ts,
        |    round(value * 100)::BIGINT AS cents
        |  FROM events),
        |scored AS (
        |  SELECT user_id, event_id, ts,
        |    (count(*) OVER w0)::BIGINT AS n,
        |    (count(*) OVER w0)::BIGINT * cents
        |      - (sum(cents) OVER w0)::BIGINT AS d
        |  FROM pts
        |  WINDOW w0 AS (PARTITION BY user_id)),
        |p1 AS (
        |  SELECT user_id, event_id, ts, n,
        |    (sum(d) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS p
        |  FROM scored),
        |p2 AS (
        |  SELECT user_id, n, p,
        |    least((min(p) OVER wo)::BIGINT, 0) AS runmin,
        |    greatest((max(p) OVER wo)::BIGINT, 0) AS runmax
        |  FROM p1
        |  WINDOW wo AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT user_id, max(n) AS n_events,
        |  max(p - runmin) AS drift_up,
        |  max(runmax - p) AS drift_down
        |FROM p2 GROUP BY user_id ORDER BY user_id""".stripMargin,
    // arg_min = Spark's min_by: both resolve duplicate (group, period)
    // rows to the first by o_orderkey, the .values[0] replay semantic
    "q_resilience_replay" ->
      """WITH f AS (
        |  SELECT o_orderpriority, year(o_orderdate)::BIGINT AS p,
        |    arg_min(o_totalprice, o_orderkey) AS v
        |  FROM orders GROUP BY 1, 2),
        |base AS (SELECT o_orderpriority, v AS v0 FROM f WHERE p = 1995),
        |shock AS (SELECT o_orderpriority, v AS v1 FROM f WHERE p = 1996),
        |dd AS (
        |  SELECT b.o_orderpriority, round((s.v1 - b.v0) / b.v0, 6) AS drawdown
        |  FROM base b JOIN shock s USING (o_orderpriority)),
        |rec AS (
        |  SELECT f.o_orderpriority,
        |    min(f.p - 1995)::BIGINT AS recovered_periods
        |  FROM f JOIN base b USING (o_orderpriority)
        |  WHERE f.p > 1995 AND f.p <= 1999 AND f.v >= b.v0
        |  GROUP BY 1)
        |SELECT b.o_orderpriority, d.drawdown, r.recovered_periods
        |FROM base b
        |LEFT JOIN dd d USING (o_orderpriority)
        |LEFT JOIN rec r USING (o_orderpriority)
        |ORDER BY b.o_orderpriority""".stripMargin,
    "q_recovery" ->
      s"""WITH rev AS ($yearlyRevSql),
         |base AS (SELECT n_name, rev AS v0 FROM rev WHERE yr = 1998),
         |rec AS (
         |  SELECT r.n_name, min(r.yr - 1998) AS recovered_years
         |  FROM rev r JOIN base b ON r.n_name = b.n_name
         |  WHERE r.yr > 1998 AND r.rev >= b.v0
         |  GROUP BY r.n_name)
         |SELECT b.n_name, rec.recovered_years
         |FROM base b LEFT JOIN rec ON b.n_name = rec.n_name
         |ORDER BY b.n_name""".stripMargin,
    "q_resilience_join" ->
      s"""WITH rev AS ($yearlyRevSql),
         |dd AS (
         |  SELECT n_name,
         |    round((sum(CASE WHEN yr = 1999 THEN rev END)
         |          - sum(CASE WHEN yr = 1998 THEN rev END))
         |          / sum(CASE WHEN yr = 1998 THEN rev END), 6) AS drawdown
         |  FROM rev GROUP BY n_name),
         |base AS (SELECT n_name, rev AS v0 FROM rev WHERE yr = 1998),
         |rec AS (
         |  SELECT r.n_name, min(r.yr - 1998) AS recovered_years
         |  FROM rev r JOIN base b ON r.n_name = b.n_name
         |  WHERE r.yr > 1998 AND r.rev >= b.v0
         |  GROUP BY r.n_name),
         |recov AS (
         |  SELECT b.n_name, rec.recovered_years
         |  FROM base b LEFT JOIN rec ON b.n_name = rec.n_name)
         |SELECT n_name, drawdown, recovered_years
         |FROM dd FULL OUTER JOIN recov USING (n_name)
         |ORDER BY n_name""".stripMargin,
    "q_trend" ->
      s"""WITH rev AS ($yearlyRevSql),
         |pts AS (
         |  SELECT n_name, (yr - 1998) AS x,
         |    round(rev * 100)::BIGINT AS yc
         |  FROM rev),
         |agg AS (
         |  SELECT n_name, count(*) AS n, sum(x)::BIGINT AS sx,
         |    sum(x * x)::BIGINT AS sxx, sum(yc)::BIGINT AS sy,
         |    sum(x * yc)::BIGINT AS sxy
         |  FROM pts GROUP BY n_name),
         |fit AS (
         |  SELECT n_name, n, sx, sy,
         |    (n * sxy - sx * sy) AS a, (n * sxx - sx * sx) AS b
         |  FROM agg)
         |SELECT n_name,
         |  a::DOUBLE / (b::DOUBLE * 1.0e8) AS slope_m,
         |  (sy * b - a * sx)::DOUBLE / ((n * b)::DOUBLE * 1.0e8)
         |    AS intercept_m,
         |  n AS n_years
         |FROM fit ORDER BY n_name""".stripMargin,
    "q_shock_sim" ->
      s"""WITH rev AS ($yearlyRevSql),
         |pts AS (
         |  SELECT n_name, (yr - 1998) AS x,
         |    round(rev * 100)::BIGINT AS yc
         |  FROM rev),
         |agg AS (
         |  SELECT n_name, count(*) AS n, sum(x)::BIGINT AS sx,
         |    sum(x * x)::BIGINT AS sxx, sum(yc)::BIGINT AS sy,
         |    sum(x * yc)::BIGINT AS sxy
         |  FROM pts GROUP BY n_name),
         |fit AS (
         |  SELECT n_name, n, sx, sy,
         |    (n * sxy - sx * sy) AS a, (n * sxx - sx * sx) AS b
         |  FROM agg),
         |fd AS (
         |  SELECT n_name,
         |    a::DOUBLE / (b::DOUBLE * 1.0e8) AS slope_m,
         |    (sy * b - a * sx)::DOUBLE / ((n * b)::DOUBLE * 1.0e8) AS icept_m
         |  FROM fit),
         |proj AS (
         |  SELECT n_name, slope_m, icept_m + slope_m * 4 AS projected_m
         |  FROM fd)
         |SELECT n_name, projected_m,
         |  projected_m * 0.7 AS shocked_m,
         |  CASE WHEN slope_m > 0
         |    THEN ceil(projected_m * 0.3 / slope_m)::BIGINT END
         |    AS years_to_recover
         |FROM proj ORDER BY n_name""".stripMargin,
    // recursive CTE, NOT list_reduce: DuckDB's list_reduce writes the
    // struct accumulator in place field-by-field, so a later field's
    // expression reads the EARLIER field's already-updated value —
    // the coupled (level, trend) update silently diverges. The
    // recursion evaluates functionally and mirrors the Spark fold's
    // exact IEEE op sequence.
    // B102 twin: the B18 recursion with the phi-damped updates and
    // the literal phi-sum horizon factors, textually identical
    "q_holt_damped" ->
      s"""WITH RECURSIVE rev AS ($yearlyRevSql),
         |pts AS (
         |  SELECT n_name, round(rev)::BIGINT::DOUBLE AS y,
         |    row_number() OVER (PARTITION BY n_name ORDER BY yr) AS t
         |  FROM rev),
         |n AS (SELECT n_name, max(t) AS n_periods FROM pts GROUP BY 1),
         |hw AS (
         |  SELECT a.n_name, 1 AS t, a.y AS l, b.y - a.y AS b
         |  FROM pts a JOIN pts b
         |    ON a.n_name = b.n_name AND a.t = 1 AND b.t = 2
         |  UNION ALL
         |  SELECT h.n_name, h.t + 1,
         |    0.5 * p.y + 0.5 * (h.l + 0.9 * h.b),
         |    0.3 * (0.5 * p.y + 0.5 * (h.l + 0.9 * h.b) - h.l)
         |      + 0.7 * 0.9 * h.b
         |  FROM hw h JOIN pts p ON p.n_name = h.n_name AND p.t = h.t + 1)
         |SELECT hw.n_name, n.n_periods, hw.l AS level, hw.b AS trend,
         |  hw.l + 0.9 * hw.b AS fc1,
         |  hw.l + (0.9 + 0.81) * hw.b AS fc2,
         |  hw.l + (0.9 + 0.81 + 0.729) * hw.b AS fc3
         |FROM hw JOIN n ON hw.n_name = n.n_name AND hw.t = n.n_periods
         |WHERE n.n_periods >= 2
         |ORDER BY hw.n_name""".stripMargin,
    "q_holt_forecast" ->
      s"""WITH RECURSIVE rev AS ($yearlyRevSql),
         |pts AS (
         |  SELECT n_name, round(rev)::BIGINT::DOUBLE AS y,
         |    row_number() OVER (PARTITION BY n_name ORDER BY yr) AS t
         |  FROM rev),
         |n AS (SELECT n_name, max(t) AS n_periods FROM pts GROUP BY 1),
         |hw AS (
         |  SELECT a.n_name, 1 AS t, a.y AS l, b.y - a.y AS b
         |  FROM pts a JOIN pts b
         |    ON a.n_name = b.n_name AND a.t = 1 AND b.t = 2
         |  UNION ALL
         |  SELECT h.n_name, h.t + 1,
         |    0.5 * p.y + 0.5 * (h.l + h.b),
         |    0.3 * (0.5 * p.y + 0.5 * (h.l + h.b) - h.l) + 0.7 * h.b
         |  FROM hw h JOIN pts p ON p.n_name = h.n_name AND p.t = h.t + 1)
         |SELECT hw.n_name, n.n_periods, hw.l AS level, hw.b AS trend,
         |  hw.l + 1.0 * hw.b AS fc1,
         |  hw.l + 2.0 * hw.b AS fc2,
         |  hw.l + 3.0 * hw.b AS fc3
         |FROM hw JOIN n ON hw.n_name = n.n_name AND hw.t = n.n_periods
         |WHERE n.n_periods >= 2
         |ORDER BY hw.n_name""".stripMargin,
    // B29 twin: exact BIGINT sufficient statistics per lag over the
    // shifted-grid inner join; sqrt·sqrt·divide is the only float
    "q_crosscorr" ->
      s"""WITH d AS ($dailyCountsSql),
         |x AS (SELECT day, y AS x, unnest([0, 1, 2, 3]) AS lag
         |      FROM d WHERE event_type = 'click'),
         |yy AS (SELECT day AS yday, y FROM d WHERE event_type = 'view'),
         |j AS (SELECT x.lag, x.x, yy.y
         |      FROM x JOIN yy ON x.day + x.lag = yy.yday),
         |a AS (
         |  SELECT lag::BIGINT AS lag, count(*)::BIGINT AS n,
         |    sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
         |    sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx,
         |    sum(y * y)::BIGINT AS syy
         |  FROM j GROUP BY 1)
         |SELECT lag, n, n * sxy - sx * sy AS num,
         |  n * sxx - sx * sx AS dxn, n * syy - sy * sy AS dyn,
         |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
         |    (n * sxy - sx * sy)::DOUBLE /
         |      (sqrt((n * sxx - sx * sx)::DOUBLE) *
         |       sqrt((n * syy - sy * sy)::DOUBLE)) END AS ccf
         |FROM a ORDER BY lag""".stripMargin,
    // pairwise-slope twin: each slope/residual is the identical
    // one-division / one-multiply-subtract IEEE op on exact BIGINTs;
    // the type-1 lower median INDEXES the sorted list, so both
    // engines select the same bit-identical double
    "q_theilsen" ->
      s"""WITH rev AS ($yearlyRevSql),
         |pts AS (
         |  SELECT n_name, yr::BIGINT AS t, round(rev)::BIGINT AS yw FROM rev),
         |pairs AS (
         |  SELECT a.n_name, (b.yw - a.yw)::DOUBLE / (b.t - a.t)::DOUBLE AS slope
         |  FROM pts a JOIN pts b ON a.n_name = b.n_name AND a.t < b.t),
         |sl AS (
         |  SELECT n_name, count(*)::BIGINT AS n_pairs,
         |    list_sort(list(slope))[((count(*) + 1) // 2)] AS sen_slope
         |  FROM pairs GROUP BY 1),
         |res AS (
         |  SELECT p.n_name, s.n_pairs, s.sen_slope,
         |    p.yw::DOUBLE - s.sen_slope * p.t AS resid
         |  FROM pts p JOIN sl s USING (n_name))
         |SELECT n_name, count(*)::BIGINT AS n_periods,
         |  max(n_pairs) AS n_pairs, max(sen_slope) AS sen_slope,
         |  list_sort(list(resid))[((count(*) + 1) // 2)] AS sen_intercept
         |FROM res GROUP BY 1 ORDER BY 1""".stripMargin,
    // recursive CTE twin of the Kalman fold (B18 struct-accumulator
    // precedent): P⁻ and K expanded in place, textually the Spark
    // update expressions — identical IEEE sequence, exact compare.
    "q_kalman" ->
      s"""WITH RECURSIVE rev AS ($yearlyRevSql),
         |pts AS (
         |  SELECT n_name, round(rev)::BIGINT::DOUBLE AS y,
         |    row_number() OVER (PARTITION BY n_name ORDER BY yr) AS t
         |  FROM rev),
         |n AS (SELECT n_name, max(t) AS n_periods FROM pts GROUP BY 1),
         |kf AS (
         |  SELECT n_name, 1 AS t, y AS l, 100.0::DOUBLE AS p,
         |    CAST(NULL AS DOUBLE) AS k
         |  FROM pts WHERE t = 1
         |  UNION ALL
         |  SELECT h.n_name, h.t + 1,
         |    h.l + ((h.p + 25.0) / ((h.p + 25.0) + 100.0)) * (p2.y - h.l),
         |    (1.0 - ((h.p + 25.0) / ((h.p + 25.0) + 100.0))) * (h.p + 25.0),
         |    ((h.p + 25.0) / ((h.p + 25.0) + 100.0))
         |  FROM kf h JOIN pts p2 ON p2.n_name = h.n_name AND p2.t = h.t + 1)
         |SELECT kf.n_name, n.n_periods, kf.l AS level, kf.p AS pvar,
         |  kf.k AS gain,
         |  kf.p + 25.0 + 100.0 AS fvar1,
         |  kf.p + 50.0 + 100.0 AS fvar2,
         |  kf.p + 75.0 + 100.0 AS fvar3
         |FROM kf JOIN n ON kf.n_name = n.n_name AND kf.t = n.n_periods
         |WHERE n.n_periods >= 2
         |ORDER BY kf.n_name""".stripMargin,
    // trend = centered-window integer sum / 7; positional seasonal
    // B30 twin: same exact-integer centering (n·y − S), same sorted-t
    // left fold of the cos/sin terms, same rounded-power ranking with
    // the k tie-break
    "q_periodogram" ->
      s"""WITH dc AS ($dailyCountsSql),
         |base AS (
         |  SELECT event_type, day, y,
         |    (row_number() OVER (PARTITION BY event_type ORDER BY day))::BIGINT
         |      AS t
         |  FROM dc),
         |g AS (
         |  SELECT event_type,
         |    list(struct_pack(t := t, y := y) ORDER BY t) AS pts,
         |    count(*)::BIGINT AS n, sum(y)::BIGINT AS s
         |  FROM base GROUP BY 1),
         |kk AS (
         |  SELECT event_type, pts, n, s,
         |    unnest(range(1, least(10, (n - 1) // 2) + 1)) AS k
         |  FROM g),
         |f AS (
         |  SELECT event_type, k, n,
         |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(pts,
         |      x -> ((n * x.y - s)::DOUBLE)
         |        * cos(2.0 * pi() * k::DOUBLE * x.t::DOUBLE / n::DOUBLE))),
         |      (p, q) -> p + q) AS a,
         |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(pts,
         |      x -> ((n * x.y - s)::DOUBLE)
         |        * sin(2.0 * pi() * k::DOUBLE * x.t::DOUBLE / n::DOUBLE))),
         |      (p, q) -> p + q) AS b
         |  FROM kk),
         |p AS (
         |  SELECT event_type, k, n,
         |    round(n::DOUBLE / k::DOUBLE, 2) AS period_days,
         |    round((a * a + b * b)
         |      / (n::DOUBLE * n::DOUBLE * n::DOUBLE), 4) AS power
         |  FROM f)
         |SELECT event_type, k, n, period_days, power,
         |  (row_number() OVER (PARTITION BY event_type
         |     ORDER BY power DESC, k))::BIGINT AS rank
         |FROM p ORDER BY event_type, k""".stripMargin,
    // positional means over exact integer numerators; the re-centering
    // mean is an explicit left-associated 7-term chain — the identical
    // IEEE sequence as the Spark fold.
    "q_seasonal_decompose" ->
      s"""WITH $seasonalDecomposeCtesSql
         |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, y, trend,
         |  seasonal, y - trend - seasonal AS resid
         |FROM sj ORDER BY event_type, day""".stripMargin,
    // B48 twin: the B20 CTE chain, then day-ordered folds of the
    // identical variance sums and the same clamp/round tail
    "q_stl_strength" ->
      s"""WITH $seasonalDecomposeCtesSql,
         |dec AS (
         |  SELECT event_type, day, y::DOUBLE AS yd, trend, seasonal,
         |    y - trend - seasonal AS r,
         |    y - seasonal AS tr, y - trend AS sr
         |  FROM sj WHERE trend IS NOT NULL AND seasonal IS NOT NULL),
         |f AS (
         |  SELECT event_type, count(*)::BIGINT AS n_obs,
         |    list_reduce(list_prepend(0.0::DOUBLE, list(r ORDER BY day)),
         |      (a, b) -> a + b) AS sr1,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list(r * r ORDER BY day)), (a, b) -> a + b) AS sr2,
         |    list_reduce(list_prepend(0.0::DOUBLE, list(tr ORDER BY day)),
         |      (a, b) -> a + b) AS st1,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list(tr * tr ORDER BY day)), (a, b) -> a + b) AS st2,
         |    list_reduce(list_prepend(0.0::DOUBLE, list(sr ORDER BY day)),
         |      (a, b) -> a + b) AS ss1,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list(sr * sr ORDER BY day)), (a, b) -> a + b) AS ss2
         |  FROM dec GROUP BY 1),
         |v AS (
         |  SELECT event_type, n_obs,
         |    n_obs * sr2 - sr1 * sr1 AS vr,
         |    n_obs * st2 - st1 * st1 AS vt,
         |    n_obs * ss2 - ss1 * ss1 AS vs
         |  FROM f)
         |SELECT event_type, n_obs,
         |  CASE WHEN vt > 0 THEN round(greatest(0.0, 1.0 - vr / vt), 6)
         |  END AS f_trend,
         |  CASE WHEN vs > 0 THEN round(greatest(0.0, 1.0 - vr / vs), 6)
         |  END AS f_seasonal
         |FROM v ORDER BY event_type""".stripMargin,

    // recursive CTE carrying the seasonal queue as a DOUBLE[] list —
    // the B18 (struct-accumulator aliasing) precedent extended; every
    // update expression is textually the Spark fold's.
    "q_hw_forecast" ->
      s"""WITH RECURSIVE d AS ($dailyCountsSql),
         |pts AS (
         |  SELECT event_type, y,
         |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS t
         |  FROM d),
         |lists AS (
         |  SELECT event_type, list(y ORDER BY t) AS ys, count(*) AS n
         |  FROM pts GROUP BY 1),
         |init AS (
         |  SELECT event_type, ys, n,
         |    list_sum(ys[1:7])::DOUBLE AS sm1,
         |    list_sum(ys[8:14])::DOUBLE AS sm2
         |  FROM lists WHERE n >= 14),
         |rec AS (
         |  SELECT event_type, 7 AS t,
         |    sm1 / 7.0 AS l,
         |    (sm2 - sm1) / 49.0 AS b,
         |    list_transform(ys[1:7], x -> x - sm1 / 7.0) AS s
         |  FROM init
         |  UNION ALL
         |  SELECT r.event_type, r.t + 1,
         |    0.5 * (p.y - r.s[1]) + 0.5 * (r.l + r.b),
         |    0.3 * (0.5 * (p.y - r.s[1]) + 0.5 * (r.l + r.b) - r.l)
         |      + 0.7 * r.b,
         |    r.s[2:7] || [0.2 * (p.y
         |      - (0.5 * (p.y - r.s[1]) + 0.5 * (r.l + r.b)))
         |      + 0.8 * r.s[1]]
         |  FROM rec r JOIN pts p
         |    ON p.event_type = r.event_type AND p.t = r.t + 1)
         |SELECT r.event_type, i.n AS n_obs, r.l AS level, r.b AS trend,
         |  r.l + 1.0 * r.b + r.s[1] AS fc1,
         |  r.l + 2.0 * r.b + r.s[2] AS fc2,
         |  r.l + 3.0 * r.b + r.s[3] AS fc3,
         |  r.l + 4.0 * r.b + r.s[4] AS fc4,
         |  r.l + 5.0 * r.b + r.s[5] AS fc5,
         |  r.l + 6.0 * r.b + r.s[6] AS fc6,
         |  r.l + 7.0 * r.b + r.s[7] AS fc7
         |FROM rec r JOIN init i
         |  ON r.event_type = i.event_type AND r.t = i.n
         |ORDER BY r.event_type""".stripMargin,
    // the anomaly flag is the exact integer predicate dev² > Z²·varn;
    // win_mean/z_score are one identical IEEE expression each
    "q_anomaly" ->
      """WITH v AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    round(value * 100)::BIGINT AS vc
        |  FROM events),
        |w AS (
        |  SELECT *, count(*) OVER win AS n,
        |    (sum(vc) OVER win)::BIGINT AS sx,
        |    (sum(vc * vc) OVER win)::BIGINT AS sxx
        |  FROM v
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
        |f AS (
        |  SELECT *, n * vc - sx AS dev, n * sxx - sx * sx AS varn
        |  FROM w WHERE n = 7)
        |SELECT user_id, event_id, ts_us, vc,
        |  sx::DOUBLE / (n::DOUBLE * 100.0) AS win_mean,
        |  CASE WHEN varn > 0
        |    THEN dev::DOUBLE / sqrt(varn::DOUBLE) END AS z_score
        |FROM f
        |WHERE dev * dev > 9 * varn
        |ORDER BY user_id, event_id""".stripMargin,
    "q_range_window" ->
      """SELECT user_id, event_id, epoch_us(ts) AS us,
        |  count(*) OVER win AS n_7d,
        |  (sum(round(value * 100)::BIGINT) OVER win)::BIGINT
        |    AS sum_cents_7d
        |FROM events
        |WINDOW win AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,
    "q_ar1_forecast" ->
      s"""WITH rev AS ($yearlyRevSql),
         |pts AS (
         |  SELECT n_name, yr, round(rev)::BIGINT AS y,
         |    lag(round(rev)::BIGINT) OVER (
         |      PARTITION BY n_name ORDER BY yr) AS py,
         |    lag(yr) OVER (PARTITION BY n_name ORDER BY yr) AS pp
         |  FROM rev),
         |prs AS (SELECT * FROM pts WHERE yr = pp + 1),
         |agg AS (
         |  SELECT n_name, count(*) AS m, sum(py)::BIGINT AS sp,
         |    sum(y)::BIGINT AS sc, sum(py * py)::BIGINT AS spp,
         |    sum(py * y)::BIGINT AS spc
         |  FROM prs GROUP BY n_name),
         |lastv AS (
         |  SELECT n_name, arg_max(round(rev)::BIGINT, yr) AS ylast
         |  FROM rev GROUP BY n_name),
         |fit AS (
         |  SELECT a.n_name, m, sp, sc, ylast,
         |    (m * spc - sp * sc)::DOUBLE / (m * spp - sp * sp)::DOUBLE AS phi
         |  FROM agg a JOIN lastv l USING (n_name)
         |  WHERE m >= 2 AND (m * spp - sp * sp) <> 0),
         |fit2 AS (
         |  SELECT n_name, m, ylast, phi,
         |    (sc::DOUBLE - phi * sp::DOUBLE) / m::DOUBLE AS c
         |  FROM fit),
         |f1 AS (SELECT *, c + phi * ylast::DOUBLE AS fc1 FROM fit2),
         |f2 AS (SELECT *, c + phi * fc1 AS fc2 FROM f1),
         |f3 AS (SELECT *, c + phi * fc2 AS fc3 FROM f2)
         |SELECT n_name, m AS n_pairs, phi AS ar1_phi, c AS ar1_c,
         |  ylast::DOUBLE AS last_val, fc1, fc2, fc3
         |FROM f3 ORDER BY n_name""".stripMargin,
    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS order_us,
        |  round(o_totalprice, 2) AS totalprice
        |FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders)
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    "q_running_sum" ->
      """SELECT user_id, event_id,
        |  round(sum(value) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
        |    AS running_value
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "q_moving_avg" ->
      """SELECT user_id, event_id,
        |  round(avg(value) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS moving_avg
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "q_lag_delta" ->
      """SELECT user_id, event_id,
        |  round(value - lag(value, 1) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id), 2) AS delta
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "q_yoy_growth" ->
      s"""WITH rev AS ($yearlyRevSql)
         |SELECT n_name, yr,
         |  round((rev - lag(rev, 1) OVER (PARTITION BY n_name ORDER BY yr))
         |        / lag(rev, 1) OVER (PARTITION BY n_name ORDER BY yr), 6)
         |    AS yoy_growth
         |FROM rev ORDER BY n_name, yr""".stripMargin)
}
