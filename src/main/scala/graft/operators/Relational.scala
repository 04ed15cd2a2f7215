package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Reference-surface relational operators (SURVEY.md §2.A).
  *
  * Re-expresses the reference's pandas cleaning pipeline
  * (reference: CDCPROJECT_(code_for_cleaning_data_set).ipynb cells 1-6,
  * app/streamlit_app.py:18-26) as declarative Spark plans. Every
  * operator is a pure `DataFrame` transformation — Catalyst handles
  * pushdown/pruning; joins against dimension tables are broadcast so
  * the fact-table scan never shuffles for them at cluster scale.
  *
  * Cross-engine determinism rules (SURVEY.md §6): floating aggregates
  * `round(_, k)` on both sides; derived integers cast to BIGINT;
  * every result ends with a total-order `ORDER BY`.
  */
object Relational {

  /** A62 count-min hash-lane literals — shared with the C56 streaming
    * maintainer so the batch sketch, its oracle, and the streaming
    * state are the SAME 4×256 counter table. */
  private[graft] val CmsP = 2147483647L
  private[graft] val CmsA = Seq(1299721L, 15485863L, 179424673L, 982451653L)
  private[graft] val CmsB = Seq(7L, 131071L, 524287L, 98765431L)
  private[graft] val CmsW = 256

  /** Σ price·(1−disc) in exact integer cent·percent units: inputs are
    * 2-decimal, so round(×100) is an exact integer and the whole sum
    * is BIGINT-exact; the single final division by 10⁴ is one IEEE op
    * on identical values in both engines — no rounding, no decimal
    * ties. (At >10¹⁰-row scale switch the sum to decimal(38,0).) */
  private val revenueCp = expr(
    "sum(cast(round(l_extendedprice * 100) as bigint) * " +
      "(100 - cast(round(l_discount * 100) as bigint)))")
  private def revenueExact = (revenueCp.cast("double") / 10000.0)

  /** decimal(38,0) twin of [[revenueExact]] for beyond-int64 scale:
    * per-row terms stay ≤1e9·100 but a >10¹⁰-row group's SUM can
    * overflow long; summing in decimal(38,0) is exact to 10³⁸.
    * Equality with the long path is spec-checked (ExactDecimalSpec). */
  def revenueExactBig: org.apache.spark.sql.Column = expr(
    "sum(cast(cast(round(l_extendedprice * 100) as bigint) * " +
      "(100 - cast(round(l_discount * 100) as bigint)) as decimal(38,0)))")
    .cast("double") / 10000.0

  /** A1 melt/unpivot wide→long — ipynb cells 1-2 (`table2.melt(...)`). */
  def melt(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity",
        $"l_extendedprice", $"l_discount")
      .unpivot(
        ids = Array($"l_orderkey", $"l_linenumber"),
        values = Array($"l_quantity", $"l_extendedprice", $"l_discount"),
        variableColumnName = "measure",
        valueColumnName = "value")
      .orderBy($"l_orderkey", $"l_linenumber", $"measure")
  }

  /** A2 pivot long→wide with aggregation — ipynb cell 4
    * (`df.pivot_table(index=..., columns=..., values=...)`).
    * Explicit pivot values keep the schema static (no extra pass). */
  def pivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy($"user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(round(sum($"value"), 2))
      .orderBy($"user_id")
  }

  /** A11 pivot with mean aggregation — pandas `pivot_table`'s DEFAULT
    * aggfunc is mean (reference ipynb cell 4 relies on it). */
  def pivotMean(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // mean as (exact cent sum) / (100·n): one IEEE division of
    // identical integers in both engines — no rounding ties
    Tables.events(s, dir)
      .withColumn("vc", round($"value" * 100).cast("long"))
      .groupBy($"user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(sum($"vc").cast("double") / (count(lit(1)).cast("double") * 100.0))
      .orderBy($"user_id")
  }

  /** A12 grouped stats incl. exact interpolated percentiles —
    * `describe`-style profiling of a measure column. */
  def stats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        round(min($"l_quantity"), 2).as("min_qty"),
        round(max($"l_quantity"), 2).as("max_qty"),
        round(avg($"l_quantity"), 6).as("avg_qty"),
        round(percentile($"l_quantity", lit(0.5)), 6).as("p50_qty"),
        round(percentile($"l_quantity", lit(0.9)), 6).as("p90_qty"))
      .orderBy($"l_returnflag")
  }

  /** Each order's priority and total price in whole cents: the
    * per-priority value A29, A40 and their kin work on. */
  private def priorityCents(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .select($"o_orderpriority".as("priority"),
        round($"o_totalprice" * 100).cast("long").as("cents"))
  }

  /** A29's value histogram of `pts` (priority, cents): the count `c`
    * of each distinct (priority, cents). */
  private def valueCounts(pts: DataFrame): DataFrame = {
    import pts.sparkSession.implicits._
    pts.groupBy($"priority", $"cents").agg(count(lit(1)).as("c"))
  }

  /** A29's cumulative histogram over [[valueCounts]]: per row, the
    * running count `cum` in cents order and the priority's total `n`.
    * Both windows are partitioned by priority. */
  private def cumHist(counts: DataFrame): DataFrame = {
    import counts.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val wCum = Window.partitionBy($"priority").orderBy($"cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts
      .withColumn("cum", sum($"c").over(wCum))
      .withColumn("n", sum($"c").over(Window.partitionBy($"priority")))
  }

  /** A29 exact distributed quantiles — the scale path past A12's
    * `percentile` aggregate (which buffers a value→count map per
    * group): inverse-CDF (type-1) quantiles from a cumulative
    * histogram. The corpus reduces to a (group, value) count table
    * (one shuffle), a per-group cumulative window runs over DISTINCT
    * values only, and each quantile is `min(value | cum ≥ ⌈p·n⌉)` —
    * exact integers end to end, no per-group collect, no value map.
    * Scale shape: window cost is O(distinct values) in one task per
    * group — integer cents bound it at ~10⁷ for money-like columns;
    * for unbounded-cardinality doubles, pre-quantize or split the
    * cumsum with the F14 bucket-offset decomposition. */
  def quantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cum = cumHist(valueCounts(priorityCents(s, dir)))
    val qCols = Seq("p25" -> 0.25, "p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99)
      .map { case (nm, p) =>
        min(when($"cum" >= ceil(lit(p) * $"n"), $"cents")).as(nm) }
    cum.groupBy($"priority")
      .agg(max($"n").as("n"), qCols: _*)
      .orderBy($"priority")
  }

  /** A67 TUKEY-FENCE outlier audit per order priority (the box-plot
    * 1.5×IQR rule — the robust outlier count an anomaly report
    * leads with where a 3σ rule is itself dragged by the outliers
    * it hunts): q1/q3 as A29 type-1 order statistics from the
    * cumulative value histogram, then the fences applied WITHOUT
    * ever forming 1.5·IQR as a float — low ⟺ 2v < 5q1 − 3q3,
    * high ⟺ 2v > 5q3 − 3q1 (the ×2-cleared EXACT integer
    * predicates; the B22/B63 no-float-decision posture). Outlier
    * counts aggregate the HISTOGRAM rows, so the whole operator is
    * one corpus shuffle + distinct-value-frame math. */
  def tukeyFences(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cum = cumHist(valueCounts(priorityCents(s, dir)))
      .localCheckpoint()
    val qs = cum.groupBy($"priority")
      .agg(max($"n").as("n"),
        min(when($"cum" >= ceil(lit(0.25) * $"n"), $"cents")).as("q1"),
        min(when($"cum" >= ceil(lit(0.75) * $"n"), $"cents")).as("q3"))
    cum.drop("n")
      .join(qs.select($"priority", $"n", $"q1", $"q3"), "priority")
      .groupBy($"priority")
      .agg(max($"n").as("n_orders"), max($"q1").as("q1_cents"),
        max($"q3").as("q3_cents"),
        sum(when($"cents" * 2 < $"q1" * 5 - $"q3" * 3, $"c")
          .otherwise(0L)).as("n_low"),
        sum(when($"cents" * 2 > $"q3" * 5 - $"q1" * 3, $"c")
          .otherwise(0L)).as("n_high"))
      .withColumn("outlier_ppm",
        expr("(n_low + n_high) * 1000000 div n_orders"))
      .orderBy($"priority")
  }

  /** A68 TRIMMED MEAN per order priority (scipy `trim_mean(x, 0.1)`
    * twin — the robust center between the mean A5 reports and the
    * median A29 selects: cut g = ⌊n/10⌋ order statistics from EACH
    * tail, average the rest): computed ENTIRELY from the A29
    * cumulative value histogram — each distinct value's rank
    * interval [cum−c+1, cum] intersects the kept band [g+1, n−g]
    * and contributes cents·overlap, all exact BIGINT (never a
    * corpus-row sort, never a float until the ONE export division).
    * The trimmed-vs-raw gap is the skew signal. */
  def trimmedMean(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    cumHist(valueCounts(priorityCents(s, dir)))
      .withColumn("g", expr("n div 10"))
      .withColumn("overlap", greatest(lit(0L),
        least($"cum", $"n" - $"g") -
          greatest($"cum" - $"c" + 1L, $"g" + 1L) + 1L))
      .groupBy($"priority")
      .agg(max($"n").as("n_orders"), max($"g").as("n_cut_each"),
        sum($"overlap").as("n_kept"),
        sum($"cents" * $"overlap").as("kept_cents"),
        sum($"cents" * $"c").as("all_cents"))
      .select($"priority", $"n_orders", $"n_cut_each", $"n_kept",
        ($"kept_cents".cast("double") / $"n_kept".cast("double"))
          .as("trimmed_mean_cents"),
        ($"all_cents".cast("double") / $"n_orders".cast("double"))
          .as("mean_cents"))
      .orderBy($"priority")
  }

  /** A59 QCUT — pandas `qcut(x, 4)`'s semantic twin: VALUE-based
    * quartile binning. A18's `ntile` splits equal values across
    * buckets by arbitrary row order; qcut assigns by VALUE, so ties
    * stay together and bucket populations skew exactly where the
    * data does — the honest histogram a feature-binning step wants.
    * Bins are right-closed on the A29 type-1 edges:
    * bucket = 1 + [v > q25] + [v > q50] + [v > q75].
    *
    * Scale shape: the A29 cumulative histogram (one corpus shuffle)
    * yields the edges, which join back onto the HISTOGRAM — never a
    * second corpus scan — and the bucket stats aggregate
    * distinct-value rows. All exact integers; shares floor-div ppm. */
  def qcut(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = valueCounts(priorityCents(s, dir))
    val cum = cumHist(counts)
    val edges = cum.groupBy($"priority")
      .agg(max($"n").as("n"),
        min(when($"cum" >= ceil(lit(0.25) * $"n"), $"cents")).as("q1"),
        min(when($"cum" >= ceil(lit(0.5) * $"n"), $"cents")).as("q2"),
        min(when($"cum" >= ceil(lit(0.75) * $"n"), $"cents")).as("q3"))
    counts.join(broadcast(edges), "priority")
      .withColumn("bucket", lit(1L) +
        ($"cents" > $"q1").cast("long") +
        ($"cents" > $"q2").cast("long") +
        ($"cents" > $"q3").cast("long"))
      .groupBy($"priority", $"bucket")
      .agg(sum($"c").as("n_rows"), min($"cents").as("min_cents"),
        max($"cents").as("max_cents"), max($"n").as("n"))
      .select($"priority", $"bucket", $"n_rows", $"min_cents",
        $"max_cents", expr("n_rows * 1000000 div n").as("share_ppm"))
      .orderBy($"priority", $"bucket")
  }

  /** A32 INTERPOLATED quantiles — the type-7 definition (pandas
    * `quantile` / numpy `percentile` DEFAULT, vs A29's type-1): rank
    * h = (n−1)·p, result = v_⌊h⌋₊₁ + (h−⌊h⌋)·(v_⌊h⌋₊₂ − v_⌊h⌋₊₁)
    * over the 1-based order statistics. Same cumulative-histogram
    * machinery as A29 — the value at rank r is min(cents | cum ≥ r),
    * a conditional min inside the one grouped aggregate, so both
    * order statistics of every quantile come from the SAME pass (no
    * sort of the group, no per-group collect). Interpolation is
    * INTEGER-exact: h is carried as the scaled integer (n−1)·p·100,
    * so rank = h div 100 + 1 and the fractional term is
    * (h mod 100)·(v_hi − v_lo) — an exact BIGINT product — over one
    * final division by 100. A float h (the naive form) loses a ulp in
    * the 0.9·(n−1) product and breaks the cross-engine hash; measured,
    * not hypothetical. */
  def quantilesInterp(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cum = cumHist(valueCounts(priorityCents(s, dir)))
    val ps = Seq("p25" -> 25L, "p50" -> 50L, "p90" -> 90L, "p99" -> 99L)
    val ranksAgg = ps.flatMap { case (nm, pc) =>
      // scaled integer rank in units of 1/100 — `div` is integer
      val hdiv = expr(s"((n - 1) * $pc) div 100")
      Seq(
        min(when($"cum" >= hdiv + 1, $"cents")).as(s"${nm}_lo"),
        min(when($"cum" >= least(hdiv + 2, $"n"), $"cents"))
          .as(s"${nm}_hi"))
    }
    val agged = cum.groupBy($"priority")
      .agg(max($"n").as("n"), ranksAgg: _*)
    val qCols = ps.map { case (nm, pc) =>
      val rem = (($"n" - 1) * lit(pc)) % 100
      (col(s"${nm}_lo") +
        (rem * (col(s"${nm}_hi") - col(s"${nm}_lo"))).cast("double") / 100.0)
        .as(nm)
    }
    agged.select($"priority" +: $"n" +: qCols: _*)
      .orderBy($"priority")
  }

  /** A31 winsorization — outlier clipping to the group's [p05, p95]
    * type-1 quantiles, the robust-scaling prep step before any
    * distance/regression consumer chokes on heavy tails. Thresholds
    * come from the A29 cumulative-histogram machinery (exact integer
    * quantiles, no per-group collect) and join back as a
    * groups-sized broadcast; the clamp is `least(greatest(v, lo),
    * hi)` over exact BIGINT cents — bit-deterministic, no epsilon.
    * Scale shape: A29's cost + one broadcast join over the corpus. */
  def winsorize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pts = Tables.orders(s, dir)
      .select($"o_orderkey", $"o_orderpriority".as("priority"),
        round($"o_totalprice" * 100).cast("long").as("cents"))
    val cum = cumHist(valueCounts(pts))
    val bounds = cum.groupBy($"priority").agg(
      min(when($"cum" >= ceil(lit(0.05) * $"n"), $"cents")).as("lo"),
      min(when($"cum" >= ceil(lit(0.95) * $"n"), $"cents")).as("hi"))
    pts.join(broadcast(bounds), "priority")
      .withColumn("cents_w", least(greatest($"cents", $"lo"), $"hi"))
      .select($"o_orderkey", $"priority", $"cents", $"cents_w",
        ($"cents" =!= $"cents_w").cast("long").as("clipped"))
      .orderBy($"o_orderkey")
  }

  /** A3 flagship clean: merge two long tables on (group, year), dropna,
    * derived real value, range filter — ipynb cell 3
    * (`pd.merge(table2_long, table3_long, on=["Industry","Year"])` +
    * `Real_Value = Nominal * 100 / Price_Index`).
    * Industry→nation, Nominal→order revenue, PriceIndex→discount index.
    * `nation` is broadcast; the two fact aggregates shuffle once each
    * on their group keys. */
  def cleanReal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nation = broadcast(Tables.nation(s, dir))
    // customer/supplier scale with SF (TPC-H 150k/10k rows × SF): no
    // broadcast hint — the size threshold / AQE picks BHJ at test scale
    // and degrades to a keyed shuffle join at 100 TB instead of failing
    // on the 8 GB broadcast limit. Only fixed-cardinality dims (nation,
    // region) keep hard hints.
    val nominal = Tables.orders(s, dir)
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .join(nation, $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name", year($"o_orderdate").cast("long").as("yr"))
      .agg(round(sum($"o_totalprice"), 2).as("nominal_value"))
    val index = Tables.lineitem(s, dir)
      .join(Tables.supplier(s, dir), $"l_suppkey" === $"s_suppkey")
      .join(nation, $"s_nationkey" === $"n_nationkey")
      .groupBy($"n_name", year($"l_shipdate").cast("long").as("yr"))
      .agg((expr("sum(100 - cast(round(l_discount * 100) as bigint))")
        .cast("double") / expr("count(1)").cast("double")).as("price_index"))
    nominal.join(index, Seq("n_name", "yr"))
      .na.drop(Seq("nominal_value", "price_index"))
      .filter($"yr" >= 1995 && $"yr" <= 2000)
      .withColumn("real_value",
        $"nominal_value" * lit(100.0) / $"price_index")
      .orderBy($"n_name", $"yr")
  }

  /** A4 permissive numeric coercion — ipynb cell 3
    * (`pd.to_numeric(errors="coerce")`): regexp extract + cast, null on
    * failure; also JSON-ish field pull from `events.props`. */
  def coerce(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select(
        $"event_id",
        nullif(regexp_extract($"props", "\"k\": (\\d+)", 1), lit(""))
          .cast("long").as("k"),
        floor($"value").cast("long").as("value_int"),
        nullif(regexp_extract($"event_type", "^(\\d+)", 1), lit(""))
          .cast("long").as("never_numeric"))
      .orderBy($"event_id")
  }

  /** A5 grouped aggregation — resilience.py:30 (`df.groupby("Industry")`)
    * generalized to the TPC-H Q1 shape (map-side partial agg). */
  def agg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        round(sum($"l_quantity"), 2).as("sum_qty"),
        revenueExact.as("revenue"),
        (expr("sum(cast(round(l_discount * 100) as bigint))").cast("double")
          / (expr("count(1)") * 100).cast("double")).as("avg_disc"),
        count(lit(1)).as("n_rows"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** A6 multi-table join + aggregate + top-k — ipynb cell 3 merge shape
    * at TPC-H Q3 scale. The filtered `customer` side is left unhinted:
    * below the broadcast threshold AQE plans BHJ, beyond it (customer
    * scales with SF) it falls back to a keyed shuffle join rather than
    * failing on the broadcast limit. orders⋈lineitem shuffles on the
    * order key only. */
  def joinAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, dir).filter($"c_mktsegment" === "BUILDING")
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .join(cust, $"o_custkey" === $"c_custkey")
      .groupBy($"o_orderkey")
      .agg(revenueExact.as("revenue"))
      .orderBy($"revenue".desc, $"o_orderkey")
      .limit(10)
  }

  /** A7 top-k with deterministic ties — streamlit_app.py:18
    * (`df.sort_values("Drawdown_2020").head(10)`). Spark plans this as
    * TakeOrderedAndProject — no global sort materialization. */
  def topk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .select($"c_custkey", $"c_name", $"c_acctbal")
      .orderBy($"c_acctbal".desc, $"c_custkey")
      .limit(10)
  }

  /** A8 dropna/fillna cleaning — ipynb cell 3 (`df.dropna(subset=...)`),
    * streamlit_app.py:23 (`df.dropna(subset=["Recovered_Years"])`). */
  def dropnaFill(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .withColumn("bal_bucket",
        when($"c_acctbal" >= 0, floor($"c_acctbal" / 1000).cast("long")))
      .na.fill(Map("bal_bucket" -> -1L))
      .na.drop(Seq("c_name"))
      .select($"c_custkey", $"c_mktsegment", $"bal_bucket")
      .orderBy($"c_custkey")
  }

  /** A9 outer merge with null preservation — resilience.py:76
    * (`pd.merge(..., how="outer")`). */
  def outerMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nation = broadcast(Tables.nation(s, dir))
    val rev = Tables.orders(s, dir)
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .join(nation, $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(round(sum($"o_totalprice"), 2).as("revenue"))
    val supp = Tables.supplier(s, dir)
      .join(nation, $"s_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(round(sum($"s_acctbal"), 2).as("supp_bal"))
    rev.join(supp, Seq("n_name"), "full_outer")
      .orderBy($"n_name")
  }

  /** A10 distinct projection — implied by the reference's cleaning. */
  def distinctProj(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .select($"l_returnflag", $"l_linestatus")
      .distinct()
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** A17 native JSON parsing of the props column (from_json with an
    * explicit schema — prunable, codegen'd, vs. string regexps). */
  def jsonParse(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k", LongType)))
    Tables.events(s, dir)
      .select($"event_id",
        from_json($"props", schema).getField("k").as("k_json"),
        $"event_type")
      .orderBy($"event_id")
  }

  /** A30 VARIANT semi-structured analytics — the schema-LESS twin of
    * A17's `from_json`: `parse_json` ingests arbitrary JSON into
    * Spark 4's binary VARIANT encoding at write/scan time (no schema
    * declared, unlike A17's StructType contract), and `variant_get`
    * extracts typed paths lazily per query — the modern lakehouse
    * pattern for event property bags whose shape drifts faster than a
    * schema migration cycle. At 100 TB the VARIANT binary encoding
    * scans ~2-8× faster than re-parsing JSON strings per query and is
    * the shape you'd persist the props column in. Filter + aggregate
    * on the extracted field stay integer-exact. */
  def variantExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select($"event_type", expr("parse_json(props)").as("v"))
      .withColumn("k", expr("variant_get(v, '$.k', 'long')"))
      .filter($"k" >= 50)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_hi"), sum($"k").as("sum_k"),
        max($"k").as("max_k"))
      .orderBy($"event_type")
  }

  /** A18 ntile / percent_rank analytics within a keyed partition
    * (quartiles of customers per market segment). percent_rank is
    * (rank-1)/(n-1): a division of identical integers in both
    * engines — exported unrounded. */
  def ntileRank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"c_mktsegment")
      .orderBy($"c_acctbal".desc, $"c_custkey")
    Tables.customer(s, dir)
      .select($"c_mktsegment", $"c_custkey",
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pr"))
      .orderBy($"c_mktsegment", $"c_custkey")
  }

  /** A19 correlated scalar subquery through the SQL surface —
    * customers above their own nation's average balance (Catalyst
    * decorrelates this into an aggregate + join). */
  def aboveAvg(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("customer_v")
    s.sql(
      """SELECT c_custkey, c_name, round(c_acctbal, 2) AS bal
        |FROM customer_v c
        |WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer_v c2
        |                   WHERE c2.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin)
  }

  /** A20 six-table join (TPC-H Q5 shape): revenue by nation where the
    * supplier and customer share a nation — the classic join-order +
    * broadcast planning stress. nation/region (fixed 25/5 rows) are
    * hint-broadcast; customer/supplier scale with SF so they rely on
    * the threshold/AQE (BHJ at test scale, shuffle join at 100 TB).
    * The single guaranteed shuffle pair is lineitem⋈orders. */
  def localSupplierVolume(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nation = broadcast(Tables.nation(s, dir))
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .join(Tables.supplier(s, dir), $"l_suppkey" === $"s_suppkey")
      .filter($"c_nationkey" === $"s_nationkey")
      .join(nation, $"s_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, dir)), $"n_regionkey" === $"r_regionkey")
      .filter(year($"o_orderdate") === 1997)
      .groupBy($"r_name", $"n_name")
      .agg(revenueExact.as("revenue"))
      .orderBy($"r_name", $"n_name")
  }

  /** A28 shipping-priority report (TPC-H Q3 shape): top-10 open
    * orders by revenue for one market segment at a cutoff date. Both
    * date filters and the segment filter reach the scans; lineitem ⋈
    * orders is the one keyed shuffle pair, customer joins broadcast
    * at test scale (at TPC-H-100 TB customer exceeds the threshold
    * and AQE falls back to a shuffle join — the plan degrades
    * gracefully). Revenue is the integer-cent exact sum; top-10 is
    * TakeOrderedAndProject. */
  def shipPriority(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cutoff = lit("1998-06-01").cast("timestamp_ntz")
    Tables.lineitem(s, dir).filter($"l_shipdate" > cutoff)
      .join(Tables.orders(s, dir).filter($"o_orderdate" < cutoff),
        $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(s, dir).filter($"c_mktsegment" === "BUILDING"),
        $"o_custkey" === $"c_custkey")
      .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(revenueExact.as("revenue"))
      .select($"l_orderkey",
        datediff(to_date($"o_orderdate"), lit("1970-01-01")).cast("long")
          .as("o_orderdate_days"),
        $"o_orderpriority", $"revenue")
      .orderBy($"revenue".desc, $"o_orderdate_days", $"l_orderkey")
      .limit(10)
  }

  /** A21 returned-items report (TPC-H Q10 shape): top-20 customers by
    * revenue lost to returns in a quarter. */
  def returnedItems(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_returnflag" === "R")
      .join(Tables.orders(s, dir)
        .filter(year($"o_orderdate") === 1998), $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .groupBy($"c_custkey", $"c_name", $"n_name")
      .agg(revenueExact.as("lost_revenue"))
      .orderBy($"lost_revenue".desc, $"c_custkey")
      .limit(20)
  }

  /** A13 semi join (EXISTS): customers that placed urgent orders —
    * left_semi keeps the probe side only, no row multiplication. */
  def semiJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val urgent = Tables.orders(s, dir)
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_custkey")
    Tables.customer(s, dir)
      .join(urgent, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  /** A14 anti join (NOT EXISTS): customers with no urgent orders. */
  def antiJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val urgent = Tables.orders(s, dir)
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_custkey")
    Tables.customer(s, dir)
      .join(urgent, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")
  }

  /** A15 rollup with grouping markers — subtotal hierarchies in one
    * pass (partial-aggregated like any hash agg). */
  def rollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(round(sum($"l_quantity"), 2).as("sum_qty"),
        count(lit(1)).as("n"),
        grouping_id($"l_returnflag", $"l_linestatus").cast("long").as("lvl"))
      // coalesce subtotal labels: engines order NULLs differently, and
      // label-free output keeps the compare order-proof
      .select(coalesce($"l_returnflag", lit("(all)")).as("returnflag"),
        coalesce($"l_linestatus", lit("(all)")).as("linestatus"),
        $"sum_qty", $"n", $"lvl")
      .orderBy($"lvl", $"returnflag", $"linestatus")
  }

  /** A22 cube: all grouping-set combinations with markers (the rollup
    * generalized to every subset). */
  def cube2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(round(sum($"o_totalprice"), 2).as("total"),
        count(lit(1)).as("n"),
        grouping_id($"o_orderstatus", $"o_orderpriority").cast("long").as("lvl"))
      .select(coalesce($"o_orderstatus", lit("(all)")).as("status"),
        coalesce($"o_orderpriority", lit("(all)")).as("priority"),
        $"total", $"n", $"lvl")
      .orderBy($"lvl", $"status", $"priority")
  }

  /** A64 GROUPING SETS — the general form A15's rollup and A22's cube
    * are special cases of, in the shape neither produces: the
    * per-dimension MARGINALS report ({status}, {priority}, {}) with
    * no cross cells — what a dashboard's summary strip wants without
    * paying for (and then discarding) the full cube. One pass, one
    * shuffle: Spark expands the sets map-side exactly as
    * rollup/cube do (Expand → one hash aggregate). */
  def groupingSetsMarginals(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .groupingSets(
        Seq(Seq($"o_orderstatus"), Seq($"o_orderpriority"), Seq()),
        $"o_orderstatus", $"o_orderpriority")
      .agg(round(sum($"o_totalprice"), 2).as("total"),
        count(lit(1)).as("n"),
        grouping_id($"o_orderstatus", $"o_orderpriority").cast("long")
          .as("lvl"))
      .select(coalesce($"o_orderstatus", lit("(all)")).as("status"),
        coalesce($"o_orderpriority", lit("(all)")).as("priority"),
        $"total", $"n", $"lvl")
      .orderBy($"lvl", $"status", $"priority")
  }

  /** A23 approximate sketches: HyperLogLog distinct counts and
    * approximate percentiles — constant-memory profiling at any scale
    * (rows-only: sketch internals are engine-specific; the spec bounds
    * error vs exact). */
  def sketches(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(
        approx_count_distinct($"l_partkey", rsd = 0.02).as("approx_parts"),
        countDistinct($"l_partkey").as("exact_parts"),
        percentile_approx($"l_extendedprice", lit(0.5), lit(1000))
          .as("approx_p50_price"))
      .orderBy($"l_returnflag")
  }

  /** A26 value histogram: fixed-width integer bucketing (exact in
    * both engines — floor division of cents). */
  def histogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .groupBy(expr("cast(round(o_totalprice * 100) as bigint) div 5000000")
        .as("bucket_50k"))
      .agg(count(lit(1)).as("n"),
        round(sum($"o_totalprice"), 2).as("total"))
      .orderBy($"bucket_50k")
  }

  /** A27 Pearson correlation from integer-exact sums (engine corr()
    * implementations differ numerically; the closed form over cent/bp
    * integers is bit-deterministic — same pattern as the OLS fit). */
  def corrExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .select($"l_returnflag",
        expr("cast(round(l_quantity * 100) as bigint)").as("x"),
        expr("cast(round(l_discount * 100) as bigint)").as("y"))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"),
        sum($"y" * $"y").as("syy"))
      .select($"l_returnflag", $"n",
        (($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
          sqrt(($"n" * $"sxx" - $"sx" * $"sx").cast("double") *
            ($"n" * $"syy" - $"sy" * $"sy").cast("double")))
          .as("corr_qty_disc"))
      .orderBy($"l_returnflag")
  }

  /** A16 set operations: EXCEPT/INTERSECT with distinct semantics. */
  def setOps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val buyers = Tables.orders(s, dir).select($"o_custkey".as("custkey")).distinct()
    val bigBal = Tables.customer(s, dir).filter($"c_acctbal" > 5000)
      .select($"c_custkey".as("custkey")).distinct()
    val both = buyers.intersect(bigBal).withColumn("tag", lit("both"))
    val onlyBuyers = buyers.except(bigBal).withColumn("tag", lit("buyer_only"))
    both.unionByName(onlyBuyers).orderBy($"tag", $"custkey")
  }

  /** A29 arg-aggregates (pandas idxmax/idxmin twin): per nation, the
    * customer holding the max and min account balance. NOT `max_by` —
    * its tie-break is engine-/partition-nondeterministic; a struct
    * extremum with the key as the second field gives a total order,
    * so ties resolve to the highest (max) / lowest (min) custkey
    * identically everywhere. Cents-exact compare; single keyed
    * aggregate, map-side combined. */
  def argExtremes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cents = expr("cast(round(c_acctbal * 100) as bigint)")
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        $"c_nationkey" === $"n_nationkey")
      .select($"n_name", cents.as("bal_c"), $"c_custkey")
      .groupBy($"n_name")
      .agg(max(struct($"bal_c", $"c_custkey")).as("mx"),
        min(struct($"bal_c", $"c_custkey")).as("mn"))
      .select($"n_name",
        $"mx.c_custkey".as("richest_custkey"), $"mx.bal_c".as("max_bal_c"),
        $"mn.c_custkey".as("poorest_custkey"), $"mn.bal_c".as("min_bal_c"))
      .orderBy($"n_name")
  }

  /** A33 per-group MODE (pandas `.mode()` head): most frequent
    * l_quantity per (returnflag, linestatus); ties break to the
    * SMALLEST value (pandas mode sorts). Two hash aggregates — value
    * histogram, then a struct-max argmax over (count, −value) — the
    * A28 pattern, no window, no sort of the group. */
  def modePerGroup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .select($"l_returnflag", $"l_linestatus",
        $"l_quantity".cast("long").as("qty"))
      .groupBy($"l_returnflag", $"l_linestatus", $"qty")
      .agg(count(lit(1)).as("c"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(max(struct($"c", (-$"qty").as("nq"))).as("m"),
        sum($"c").as("n_rows"))
      .select($"l_returnflag", $"l_linestatus",
        (-$"m.nq").as("mode_qty"), $"m.c".as("mode_count"), $"n_rows")
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** A34 per-cohort GINI IMPURITY over the event-type distribution —
    * the class-balance diagnostic a corpus-mixture monitor watches
    * (sklearn's split criterion; 0 = one event type, →1 = uniform
    * spread): gini = 1 − Σ(cᵢ/n)² per cohort. Emitted through its
    * EXACT integer numerator n² − Σcᵢ² (BIGINT — the B15/q_corr
    * closed-form precedent), so the only double is one final
    * division — no per-class quotient summation whose order could
    * differ across engines. Two hash aggregates (type histogram,
    * cohort reduce), both map-side combined; no window, no sort. */
  def giniImpurity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select(pmod($"user_id", lit(100L)).as("cohort"), $"event_type")
      .groupBy($"cohort", $"event_type").agg(count(lit(1)).as("c"))
      .groupBy($"cohort")
      .agg(sum($"c").as("n_events"), count(lit(1)).as("n_types"),
        sum($"c" * $"c").as("sum_sq"))
      .select($"cohort", $"n_events", $"n_types",
        ($"n_events" * $"n_events" - $"sum_sq").as("gini_num"),
        (($"n_events" * $"n_events" - $"sum_sq").cast("double") /
          ($"n_events" * $"n_events").cast("double")).as("gini"))
      .orderBy($"cohort")
  }

  /** A35 WEIGHTED median per group (numpy `weighted quantile` /
    * wquantiles twin — "the price at which half the shipped QUANTITY
    * sits below"): type-1 lower weighted median = the smallest value
    * whose cumulative weight reaches half the total, selected by the
    * INTEGER predicate 2·cumw ≥ W — no division, no interpolation,
    * no engine tie ambiguity. Shape: one hash aggregate collapses
    * duplicate values (corpus-sized → distinct-value-sized), then a
    * keyed cumulative window over values and a min — the A29
    * cumulative-histogram pattern with weights. */
  def weightedMedian(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy($"l_returnflag").orderBy($"cents")
    val tot = org.apache.spark.sql.expressions.Window
      .partitionBy($"l_returnflag")
    Tables.lineitem(s, dir)
      .select($"l_returnflag",
        round($"l_extendedprice" * 100).cast("long").as("cents"),
        $"l_quantity".cast("long").as("w"))
      .groupBy($"l_returnflag", $"cents").agg(sum($"w").as("w"))
      .withColumn("cumw", sum($"w").over(win))
      .withColumn("wtot", sum($"w").over(tot))
      .filter($"cumw" * 2 >= $"wtot")
      .groupBy($"l_returnflag")
      .agg(max($"wtot").as("total_weight"),
        min($"cents").as("wmedian_cents"))
      .orderBy($"l_returnflag")
  }

  /** A36 chi-square test of independence over the priority × status
    * contingency table (scipy `chi2_contingency` twin — the
    * label-vs-split drift check a corpus monitor runs): observed cell
    * counts, marginals and N are exact BIGINT; expected = rt·ct/N is
    * ONE integer product + ONE divide, and each cell's (O−E)²/E is
    * the identical IEEE sequence in both engines. The statistic sums
    * the 15-ish cell contributions through an ORDERED fold
    * (sort_array → `aggregate` HOF, the B18 forecast precedent) so
    * the float accumulation order is pinned, not left to the hash
    * aggregate. Shape: one cell aggregate (corpus → cells), three
    * windows over the CELL frame (cells ≈ |priority|·|status| rows,
    * never the corpus), one single-row fold broadcast back. */
  def chiSquare(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val cells0 = Tables.orders(s, dir)
      .groupBy($"o_orderpriority".as("priority"),
        $"o_orderstatus".as("status"))
      .agg(count(lit(1)).as("obs"))
    // densify zero cells (A52 rationale): an unobserved combination
    // still contributes (0−E)²/E to the statistic
    val cells = cells0.select($"priority").distinct()
      .crossJoin(cells0.select($"status").distinct())
      .join(cells0, Seq("priority", "status"), "left")
      .na.fill(0L, Seq("obs"))
    val t = cells
      .withColumn("row_total", sum($"obs").over(Window.partitionBy($"priority")))
      .withColumn("col_total", sum($"obs").over(Window.partitionBy($"status")))
      .withColumn("n", sum($"obs").over(Window.partitionBy()))
    val e = ($"row_total" * $"col_total").cast("double") / $"n".cast("double")
    val c2 = t.select($"priority", $"status", $"obs", $"row_total",
      $"col_total", e.as("expected"),
      (($"obs".cast("double") - e) * ($"obs".cast("double") - e) / e)
        .as("chi_cell"))
    val tot = c2.agg(
      aggregate(sort_array(collect_list(struct($"priority", $"status",
          $"chi_cell"))), lit(0.0), (acc, x) => acc + x("chi_cell")).as("chi2"),
      ((countDistinct($"priority") - 1) * (countDistinct($"status") - 1))
        .as("dof"))
    c2.crossJoin(tot).orderBy($"priority", $"status")
  }

  /** A37 median absolute deviation per group (pandas/statsmodels
    * `mad` with interpolated medians — the robust spread estimate
    * quality-pruning thresholds come from): BOTH medians run the A32
    * cumulative-histogram interpolation, but entirely in INTEGERS by
    * carrying doubled units — an interpolated median of BIGINTs is
    * (lo + hi·[rem≠0])/2, so med2 = 2·median stays BIGINT, the
    * deviation |2·cents − med2| stays BIGINT, and 2·median(dev) stays
    * BIGINT; the only doubles are the two final dyadic divisions
    * (exact in IEEE). No approx_percentile, no engine interpolation
    * rule in play anywhere. Shape: two cumulative-histogram passes
    * (distinct-value-sized windows) + one broadcast-back join of the
    * per-group median. */
  def madPerGroup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // doubled interpolated median of an integer column, per group:
    // returns (group, n, m2 = 2·median) — rem ∈ {0, 50} only
    def med2Of(pts: DataFrame, group: String, v: String): DataFrame = {
      val counts = pts.groupBy(col(group), col(v)).agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy(col(group)).orderBy(col(v))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = counts
        .withColumn("cum", sum($"c").over(wCum))
        .withColumn("n", sum($"c").over(Window.partitionBy(col(group))))
      cum.groupBy(col(group))
        .agg(max($"n").as("n"),
          min(when($"cum" >= expr("((n - 1) * 50) div 100") + 1, col(v)))
            .as("lo"),
          min(when($"cum" >= least(expr("((n - 1) * 50) div 100") + 2, $"n"),
            col(v))).as("hi"))
        .select(col(group), $"n",
          ($"lo" + when(expr("((n - 1) * 50) % 100") === 0, $"lo")
            .otherwise($"hi")).as("m2"))
    }
    val pts = priorityCents(s, dir)
    val med = med2Of(pts, "priority", "cents")
      .select($"priority", $"n", $"m2".as("med2"))
    val dev = pts.join(broadcast(med), Seq("priority"))
      .select($"priority", abs($"cents" * 2 - $"med2").as("dev2"))
    val mad = med2Of(dev, "priority", "dev2")
      .select($"priority", $"m2".as("mad4"))
    med.join(mad, Seq("priority"))
      .select($"priority", $"n",
        ($"med2".cast("double") / 2.0).as("median_c"),
        ($"mad4".cast("double") / 4.0).as("mad_c"))
      .orderBy($"priority")
  }

  /** A38 Benford first-digit profile (the fraud/synthetic-data smell
    * test an ingest monitor runs on money columns): leading digit via
    * STRING head of the exact BIGINT cents — no log10-of-value
    * boundary risk at powers of ten — against the Benford expectation
    * log₁₀(1+1/d). Observed frequency is integer ppm (n·10⁶ div N);
    * the expectation is the one rounded double, far from every .5
    * boundary for d ∈ 1..9. One corpus aggregate to 9 rows, then
    * column math. */
  def benford(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val h = Tables.lineitem(s, dir)
      .select(round($"l_extendedprice" * 100).cast("long").as("cents"))
      .filter($"cents" > 0)
      .select(substring($"cents".cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy($"digit").agg(count(lit(1)).as("n"))
      .withColumn("total", sum($"n").over(Window.partitionBy()))
    h.select($"digit", $"n",
        expr("n * 1000000 div total").as("freq_ppm"),
        round(log10(lit(1.0) + lit(1.0) / $"digit".cast("double")) * 1e6)
          .cast("long").as("benford_ppm"))
      .withColumn("dev_ppm", $"freq_ppm" - $"benford_ppm")
      .orderBy($"digit")
  }

  /** The returned ('R') vs delivered-clean ('N') line-item price
    * histogram of the two-sample tests: per distinct price in whole
    * cents, the R count `cr` and the N count `cn`. */
  private def returnedCleanCents(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_returnflag".isin("R", "N"))
      .select($"l_returnflag".as("flag"),
        round($"l_extendedprice" * 100).cast("long").as("cents"))
      .groupBy($"cents")
      .agg(sum(when($"flag" === "R", 1L).otherwise(0L)).as("cr"),
        sum(when($"flag" === "N", 1L).otherwise(0L)).as("cn"))
  }

  /** Both ECDFs over a [[returnedCleanCents]] histogram `vc`: the
    * running counts `cumr`/`cumn` in cents order and the totals
    * `nr`/`nn`. The windows are unpartitioned; their input is the
    * value-domain histogram, one row per distinct price in cents,
    * never the line items. */
  private def ecdfs(vc: DataFrame): DataFrame = {
    import vc.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val wCum = Window.orderBy($"cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vc
      .withColumn("cumr", sum($"cr").over(wCum))
      .withColumn("cumn", sum($"cn").over(wCum))
      .withColumn("nr", sum($"cr").over(Window.partitionBy()))
      .withColumn("nn", sum($"cn").over(Window.partitionBy()))
  }

  /** A39 two-sample Kolmogorov-Smirnov test (scipy `ks_2samp` twin —
    * the distribution-drift gate a corpus monitor runs between two
    * slices): D = max |F̂_R(x) − F̂_N(x)| between returned and
    * delivered line-item prices. ENTIRELY integer-exact: the corpus
    * collapses to a distinct-value histogram (one hash aggregate),
    * cumulative counts are BIGINT, and the ECDF gap is compared
    * cross-multiplied — |cumR·nN − cumN·nR| in decimal(38,0), exact
    * past the 3·10⁹-sample point where the BIGINT product would
    * overflow (the C18 precedent) — so the argmax row and its
    * smallest-value tie-break carry no float anywhere; the single
    * division happens once, at export. Shape: one aggregate + windows
    * over the VALUE-DOMAIN-sized histogram (never the corpus); an
    * unbounded value domain would bucket the cumsum exactly like F14.
    */
  def ksTest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val cum = ecdfs(returnedCleanCents(s, dir))
      .withColumn("diff", abs($"cumr".cast("decimal(38,0)") * $"nn" -
        $"cumn".cast("decimal(38,0)") * $"nr"))
    cum.withColumn("mx", max($"diff").over(Window.partitionBy()))
      .filter($"diff" === $"mx")
      .groupBy()
      .agg(max($"nr").as("n_r"), max($"nn").as("n_n"),
        min($"cents").as("at_cents"), max($"diff").as("dnum"))
      .select($"n_r", $"n_n", $"at_cents",
        round($"dnum".cast("double") /
          ($"n_r".cast("double") * $"n_n".cast("double")), 6).as("ks_d"))
  }

  /** A72 two-sample Cramér–von Mises criterion between the returned
    * ('R') and delivered-clean ('N') price distributions (Anderson
    * 1962; the whole-shape companion to [[ksTest]]'s max-gap — KS
    * sees the worst point, CvM integrates EVERY ECDF gap, so a
    * distribution that drifts a little everywhere is caught here
    * first). T = U / (m·n·N²) with U = Σ over pooled observations of
    * (F_m − G_n)² scaled integer-exactly: per distinct cents value,
    * (cr+cn)·(cumr·n − cumn·m)² in decimal(38,0) (HUGEINT twin) —
    * cross-multiplied ECDFs, the ks_test posture, exact at any SF
    * within 10³⁸. Ties need no special-casing: the ECDF formulation
    * is well-defined on tied pooled values (each distinct value
    * contributes once with its multiplicity). Shape: ONE groupBy to
    * the distinct-value frame, one cumulative window over it, one
    * global aggregate — identical cost to q_ks_test. */
  def cvmTest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cum = ecdfs(returnedCleanCents(s, dir))
      .withColumn("gap", $"cumr".cast("decimal(38,0)") * $"nn" -
        $"cumn".cast("decimal(38,0)") * $"nr")
    cum.groupBy()
      .agg(max($"nr").as("n_r"), max($"nn").as("n_n"),
        sum(($"cr" + $"cn").cast("decimal(38,0)") * $"gap" * $"gap")
          .as("u"))
      .select($"n_r", $"n_n",
        round($"u".cast("double") /
          ($"n_r".cast("double") * $"n_n".cast("double") *
            ($"n_r" + $"n_n").cast("double") *
            ($"n_r" + $"n_n").cast("double")), 6).as("t_cvm"))
  }

  /** A73 DISTANCE CORRELATION per order year (Székely, Rizzo &
    * Bakirov 2007 — dCor = 0 iff INDEPENDENT, the property Pearson
    * famously lacks; where B79's Hoeffding D tests dependence on
    * ranks, dCor measures it on the raw scales): between the daily
    * order count x and daily revenue y within each year. Using the
    * double-centered identity, n⁴·dCov²(x,y) = n²·Σᵢⱼaᵢⱼbᵢⱼ +
    * (Σa)(Σb) − 2n·Σᵢ(Σⱼaᵢⱼ)(Σⱼbᵢⱼ) with aᵢⱼ = |xᵢ−xⱼ|,
    * bᵢⱼ = |yᵢ−yⱼ| — every term an EXACT integer (sums in
    * decimal(38,0): (Σa)(Σb) clears int64 at year scale), and
    * dCor² = V_xy/√(V_x·V_y) cancels the n⁴. ONE cast-to-double
    * division + sqrt at export, identical IEEE both engines.
    * Shape: one corpus aggregate to the (year, day) frame, ONE
    * year-keyed self-join of that frame (365² pairs per year —
    * calendar-bounded, never order rows), one grouped pass to
    * per-day row sums, one year aggregate. */
  def distanceCorr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.orders(s, dir)
      .select(year($"o_orderdate").cast("long").as("yr"),
        $"o_orderdate".as("day"),
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .groupBy($"yr", $"day")
      .agg(count(lit(1)).as("x"), sum($"cents").as("y"))
      .localCheckpoint() // both sides of the pair join
    val pairs = d.as("p").join(broadcast(d.as("q")),
        col("p.yr") === col("q.yr"))
      .select(col("p.yr").as("yr"), col("p.day").as("day"),
        abs(col("p.x") - col("q.x")).as("a"),
        abs(col("p.y") - col("q.y")).as("b"))
    val rows = pairs.groupBy($"yr", $"day")
      .agg(sum($"a").as("ra"), sum($"b").as("rb"),
        // cast BEFORE multiplying: b² alone clears int64 (b ~ 10⁹
        // cents-gap already at sf0.01)
        sum($"a".cast("decimal(38,0)") * $"b").as("sab"),
        sum($"a".cast("decimal(38,0)") * $"a").as("saa"),
        sum($"b".cast("decimal(38,0)") * $"b").as("sbb"))
    val agg = rows.groupBy($"yr")
      .agg(count(lit(1)).as("n"),
        sum($"ra".cast("decimal(38,0)")).as("sa"),
        sum($"rb".cast("decimal(38,0)")).as("sb"),
        sum($"sab").as("tab"), sum($"saa").as("taa"),
        sum($"sbb").as("tbb"),
        sum($"ra".cast("decimal(38,0)") * $"rb").as("crab"),
        sum($"ra".cast("decimal(38,0)") * $"ra").as("cra2"),
        sum($"rb".cast("decimal(38,0)") * $"rb").as("crb2"))
    agg.select($"yr", $"n",
        ($"n" * $"n" * $"tab" + $"sa" * $"sb" -
          lit(2L) * $"n" * $"crab").as("vxy"),
        ($"n" * $"n" * $"taa" + $"sa" * $"sa" -
          lit(2L) * $"n" * $"cra2").as("vx"),
        ($"n" * $"n" * $"tbb" + $"sb" * $"sb" -
          lit(2L) * $"n" * $"crb2").as("vy"))
      .select($"yr", $"n",
        when($"vx" > 0 && $"vy" > 0,
          round($"vxy".cast("double") /
            sqrt($"vx".cast("double") * $"vy".cast("double")), 6))
          .as("dcor2"))
      .orderBy($"yr")
  }

  /** A74 PAGE'S L trend test (Page 1963 — the ORDERED-alternative
    * companion of the Friedman test: Friedman asks "do the k years
    * differ at all", Page asks "do they trend in THIS order", which
    * is the sharper question a growth audit actually has): blocks =
    * customer nations, treatments = order years in chronological
    * order; within each complete block rank the yearly revenues
    * (ties broken by year — permutation ranks, the house jitter
    * convention), L = Σ_blocks Σ_j j·R_bj. Incomplete blocks
    * (nations missing a year) are EXCLUDED — Page's statistic
    * assumes a complete design, and silently ranking a short row
    * would shift L (the decision is a visible n_blocks, not a wrong
    * number). L and the μ/σ² building blocks A = n·k·(k+1)²,
    * B = n·k²·(k+1)·(k²−1) stay exact integers; the export is
    * z = (L − A/4)/√(B/144), one identical IEEE sequence both
    * engines. Shape: one corpus aggregate to the (nation, year)
    * frame, two bounded windows, one global aggregate. */
  def pageTrend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val g = Tables.orders(s, dir)
      .select($"o_custkey",
        year($"o_orderdate").cast("long").as("yr"),
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .join(Tables.customer(s, dir)
        .select($"c_custkey", $"c_nationkey".as("nation")),
        $"o_custkey" === $"c_custkey")
      .groupBy($"nation", $"yr").agg(sum($"cents").as("cents"))
      .localCheckpoint() // k, completeness, and ranks all read it
    val k = g.select(countDistinct($"yr")).collect()(0).getLong(0)
    val complete = g.groupBy($"nation")
      .agg(count(lit(1)).as("ny")).filter($"ny" === k)
      .select($"nation")
    val ranked = g.join(complete, "nation")
      .select($"nation", $"yr", $"cents",
        row_number().over(Window.partitionBy($"nation")
          .orderBy($"cents", $"yr")).cast("long").as("r"),
        dense_rank().over(Window.partitionBy($"nation")
          .orderBy($"yr")).cast("long").as("j"))
    ranked.agg(
        (count(lit(1)) / k).cast("long").as("n_blocks"),
        lit(k).as("k"),
        sum($"r" * $"j").as("l"))
      .select($"n_blocks", $"k", $"l",
        round(($"l".cast("double") -
          ($"n_blocks" * $"k" * ($"k" + 1L) * ($"k" + 1L))
            .cast("double") / 4.0) /
          sqrt(($"n_blocks" * $"k" * $"k" * ($"k" + 1L) *
            ($"k" * $"k" - 1L)).cast("double") / 144.0), 6).as("z"))
  }

  /** A76 DETERMINISTIC RANSAC line fit per order year (Fischler &
    * Bolles 1981 made engine-exact: the random hypothesis sampling
    * is replaced by EXHAUSTIVE fixed-offset pairs — every (day i,
    * day i+30) line is a hypothesis — so the consensus search is
    * deterministic and the twin replays it; the estimator the B-track
    * OLS family lacks: a 10-day outage drags least squares, RANSAC's
    * consensus count ignores it): inlier ⇔ |dy·(t−t₁) − dx·(y−y₁)| ≤
    * dx·T, a pure INTEGER cross-multiplication with the tolerance
    * T = Σy div (n·20) (5% of the mean daily revenue — data-derived,
    * no SF-tuned constant); winner = (max inliers, min i). No float
    * anywhere. Shape: one corpus aggregate to the (year, day) frame,
    * one offset-30 self-join for hypotheses (≈ n per year), one
    * year-keyed hypothesis×point join (n² per year, calendar-
    * bounded), one grouped count, one argmax. */
  def ransacTrend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val d = Tables.orders(s, dir)
      .select(year($"o_orderdate").cast("long").as("yr"),
        $"o_orderdate".as("day"),
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .groupBy($"yr", $"day").agg(sum($"cents").as("y"))
      .select($"yr", $"y",
        row_number().over(Window.partitionBy($"yr")
          .orderBy($"day")).cast("long").as("t"))
      .localCheckpoint() // hypotheses, points and T all read it
    val tol = d.groupBy($"yr")
      .agg(expr("sum(y) div (count(1) * 20)").as("tt"),
        count(lit(1)).as("n"))
    val hyp = d.as("p").join(d.as("q"),
        col("p.yr") === col("q.yr") &&
          col("q.t") === col("p.t") + 30L)
      .select(col("p.yr").as("yr"), col("p.t").as("i"),
        col("p.y").as("y1"), (col("q.y") - col("p.y")).as("dy"))
    val scored = hyp.join(d.withColumnRenamed("yr", "yr2"),
        $"yr" === $"yr2")
      .join(broadcast(tol.withColumnRenamed("yr", "yr3")),
        $"yr" === $"yr3")
      .filter(abs($"dy" * ($"t" - $"i") - lit(30L) * ($"y" - $"y1"))
        <= lit(30L) * $"tt")
      .groupBy($"yr", $"i", $"y1", $"dy")
      .agg(count(lit(1)).as("inliers"))
    scored.groupBy($"yr")
      .agg(max(struct($"inliers", (-$"i").as("ni"), $"y1", $"dy"))
        .as("b"))
      .join(broadcast(tol), "yr")
      .select($"yr", $"n".as("n_days"), (-$"b.ni").as("best_i"),
        $"b.inliers".as("n_inliers"), $"b.y1".as("anchor_y"),
        $"b.dy".as("slope30"), $"tt".as("tol_cents"))
      .orderBy($"yr")
  }

  /** The per-language document count, chars and content signature
    * of a round-tripped documents frame: what H25-H30 compare. */
  private def langSignature(back: DataFrame): DataFrame = {
    import back.sparkSession.implicits._
    back.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("chars"),
        sum($"doc_id" * length($"text")).as("sig"))
      .orderBy($"lang")
  }

  /** Roundtrip scaffolding for the `src_*` graded loops: a
    * driver-local temp dir — valid ONLY in local mode (the graded
    * harness); on a multi-node cluster each executor would write its
    * task files to its OWN local disk and the re-read would miss
    * them, so a cluster deployment passes a shared-FS/object path
    * instead (the Lake warehouse is the in-repo shape) — whose
    * small final aggregate is MATERIALIZED (|groups| rows) before
    * the dir is recursively deleted: the caller gets a local
    * relation, never a plan still reading the temp files, and no
    * corpus copy is left behind per invocation. */
  private def localRoundtrip(s: SparkSession, prefix: String)
      (body: String => DataFrame): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory(prefix)
    try {
      val agg = body(root.toString)
      val rows = agg.collect().toSeq
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), agg.schema)
    } finally {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      if (Files.exists(root)) {
        val walk = Files.walk(root)
        try walk.sorted(Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
        finally walk.close()
      }
    }
  }

  /** H25 graded entry (`src_gz_jsonl`): GZIP-compressed JSONL export
    * → re-ingest → aggregate, in one self-contained query — grading
    * the whole codec loop (to_json escaping, the gzip codec Spark
    * applies per file, the H15 permissive Jsonl reader) against an
    * oracle that never saw the files: the per-lang counts, char
    * sums, and a content-sensitive signature Σ doc_id·len(text) must
    * survive the trip exactly. Gzip'd text is NOT splittable — one
    * file per input partition is the scale posture (each file a
    * task), which the partitioned write here preserves; byte-exact
    * text equality is additionally spec-pinned in SourcesSpec. */
  def gzJsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    localRoundtrip(s, "graft_gz") { root =>
      val tmp = root + "/docs"
      docs.select(to_json(struct($"doc_id", $"text", $"lang",
          $"source", $"n_chars")).as("value"))
        .write.mode("overwrite").option("compression", "gzip").text(tmp)
      langSignature(graft.sources.Jsonl.clean(
        graft.sources.Jsonl.read(s, tmp, docs.schema)))
    }.orderBy($"lang")
  }

  /** H28 graded entry (`src_bz2_jsonl`): the H25 loop under BZIP2 —
    * the one compressed-TEXT codec Hadoop can SPLIT (gzip streams are
    * monolithic: one 10 GB .gz = one task; bzip2's block structure
    * lets the reader start at any block boundary, so the same 10 GB
    * fans out across the cluster). Same oracle contract: the oracle
    * never sees the files, parity proves the loop lossless. */
  def bz2JsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    localRoundtrip(s, "graft_bz2") { root =>
      val tmp = root + "/docs"
      docs.select(to_json(struct($"doc_id", $"text", $"lang",
          $"source", $"n_chars")).as("value"))
        .write.mode("overwrite").option("compression", "bzip2").text(tmp)
      langSignature(graft.sources.Jsonl.clean(
        graft.sources.Jsonl.read(s, tmp, docs.schema)))
    }.orderBy($"lang")
  }

  /** H30 graded entry (`src_zst_jsonl`): ZSTANDARD JSONL INGEST —
    * the codec modern producers actually land text in (3-5× faster
    * decompress than gzip at comparable ratios). The graded surface
    * is the READ: Spark's text line reader decompresses .zst through
    * the bundled zstd-jni, so graft ingests zstd drops as-is. The
    * export half of the loop re-encodes the partitioned uncompressed
    * text FILE-AT-A-TIME through ZstdOutputStream (file-count-bounded
    * driver IO, never a per-row loop) because this sandbox's
    * libhadoop lacks native zstd COMPRESSION — on a real cluster the
    * writer side is `option("compression", "zstd")` with native
    * hadoop, same file-per-partition parallelism as H25. Oracle
    * never sees the files; parity proves the loop lossless. */
  def zstJsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    localRoundtrip(s, "graft_zst") { root =>
      val tmp = root + "/docs"
      docs.select(to_json(struct($"doc_id", $"text", $"lang",
          $"source", $"n_chars")).as("value"))
        .write.mode("overwrite").text(tmp)
      // file-level zstd re-encode (see Scaladoc): one stream per part
      // file, stale FS checksums dropped alongside
      val d = new java.io.File(tmp)
      for (f <- d.listFiles) {
        if (f.getName.startsWith("part-")) {
          val bytes = java.nio.file.Files.readAllBytes(f.toPath)
          val out = new java.io.FileOutputStream(f.getPath + ".zst")
          val z = new com.github.luben.zstd.ZstdOutputStream(out)
          try z.write(bytes) finally z.close()
          f.delete()
        } else if (f.getName.endsWith(".crc")) f.delete()
      }
      langSignature(graft.sources.Jsonl.clean(
        graft.sources.Jsonl.read(s, tmp, docs.schema)))
    }.orderBy($"lang")
  }

  /** H29 graded entry (`src_csv_multiline`): CSV with EMBEDDED
    * NEWLINES AND QUOTES round-tripped — the CSV edge every naive
    * line-splitter corrupts (a quoted field may span lines, so
    * "split on \n" breaks records apart; RFC 4180 quoting doubles
    * embedded quotes): the documents' real multi-line text exports
    * through Spark's quoting writer and re-ingests with
    * multiLine=true, and the content signature must survive exactly.
    * NOTE the scale cost is REAL and stated: multiLine CSV is not
    * splittable (a record boundary cannot be found mid-file), one
    * file per task — the H28 bzip2-JSONL loop is the splittable
    * landing shape; this one grades the parser edge. */
  def csvMultilineRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    localRoundtrip(s, "graft_csvml") { root =>
      val tmp = root + "/docs"
      docs.select($"doc_id", $"lang", $"n_chars", $"text")
        .write.mode("overwrite").option("header", "true")
        .option("quoteAll", "true")
        // RFC 4180 on the WRITE side too: Spark's default escape is
        // '\' (embedded quotes serialize as \"), but the reader below
        // is configured for doubled quotes — a quote-bearing document
        // would corrupt the round-trip without this.
        .option("escape", "\"")
        .csv(tmp)
      val back = s.read
        .option("header", "true").option("multiLine", "true")
        .option("escape", "\"")
        .schema("doc_id LONG, lang STRING, n_chars LONG, text STRING")
        .csv(tmp)
      back.groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_chars").as("chars"),
          sum($"doc_id" * length(coalesce($"text", lit("")))).as("sig"))
        .orderBy($"lang")
    }.orderBy($"lang")
  }

  /** H26 graded entry (`src_orc`): ORC export → re-ingest →
    * aggregate, one self-contained query grading the WHOLE columnar
    * interchange loop (Sink.orc's hive-partitioned layout, Spark's
    * ORC writer/reader pair, partition-column reattachment on read)
    * against an oracle that never saw the files — DuckDB has no ORC
    * reader at all, so parity proves the loop byte-lossless for
    * every value that feeds the signature Σ doc_id·len(text). The
    * lang partition column exercises directory-derived values (a
    * column TYPED differently on the way back — partition values
    * parse as strings — would hash-mismatch immediately). */
  def orcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    localRoundtrip(s, "graft_orc") { root =>
      val tmp = root + "/docs"
      graft.sources.Sink.orc(docs.select($"doc_id", $"text", $"lang",
        $"source", $"n_chars"), tmp, Seq("lang"))
      langSignature(s.read.orc(tmp))
    }.orderBy($"lang")
  }

  /** H27 graded entry (`src_fixed_width`): FIXED-WIDTH export →
    * re-ingest → aggregate — the mainframe/enterprise interchange
    * format (COBOL copybook extracts, bank/telco feeds) where fields
    * live at BYTE COLUMNS, no delimiter anywhere. The export
    * sanitizes text to printable ASCII (fixed-width is a byte-column
    * format — a multibyte char or embedded newline breaks every
    * column to its right), truncates to the 40-byte field and pads;
    * the re-ingest inverts by substring + rtrim. The oracle replays
    * sanitize/truncate/rtrim on the source table directly — parity
    * proves the byte-column map round-trips. */
  def fixedWidthRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val sanitized = docs.select($"doc_id", $"lang", $"n_chars",
      regexp_replace($"text", "[^ -~]", "").as("txt"))
    localRoundtrip(s, "graft_fw") { root =>
      val tmp = root + "/docs"
      // layout: doc_id[12 zero-padded] lang[8 space-padded]
      //         n_chars[10 zero-padded] text[40 space-padded]
      sanitized.select(concat(
          lpad($"doc_id".cast("string"), 12, "0"),
          rpad($"lang", 8, " "),
          lpad($"n_chars".cast("string"), 10, "0"),
          rpad(substring($"txt", 1, 40), 40, " ")).as("value"))
        .write.mode("overwrite").text(tmp)
      val back = s.read.text(tmp).select(
        substring($"value", 1, 12).cast("long").as("doc_id"),
        rtrim(substring($"value", 13, 8)).as("lang"),
        substring($"value", 21, 10).cast("long").as("n_chars"),
        rtrim(substring($"value", 31, 40)).as("txt"))
      back.groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_chars").as("chars"),
          sum($"doc_id" * length($"txt")).as("sig"))
        .orderBy($"lang")
    }.orderBy($"lang")
  }

  /** Per priority, the order count `n` and the exact decimal sums of
    * cents `s1` and of squared cents `s2`: A40's and A58's moments. */
  private def priorityMoments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    priorityCents(s, dir)
      .groupBy($"priority")
      .agg(count(lit(1)).as("n"),
        sum($"cents".cast("decimal(38,0)")).as("s1"),
        sum(($"cents" * $"cents").cast("decimal(38,0)")).as("s2"))
  }

  /** A40 Welch's unequal-variance t-test for every priority pair
    * (scipy `ttest_ind(equal_var=False)` twin — "did this slice's
    * money distribution move?"): per-group n/Σx/Σx² are EXACT
    * decimal(38,0) sums (Σcents² clears int64 at ~10⁶ rows already;
    * decimal is exact to 10³⁸ — the C18 posture), every later op is
    * the identical IEEE scalar sequence on identical doubles in both
    * engines (÷, ×, √ are all correctly-rounded), so t and the
    * Welch–Satterthwaite dof are bit-identical before the export
    * round. Shape: ONE corpus aggregate to |groups| rows, then a
    * |groups|²/2 self-join of a 5-row frame. */
  def welchTTest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val g = priorityMoments(s, dir)
      .select($"priority", $"n", $"n".cast("double").as("nd"),
        $"s1".cast("double").as("s1d"), $"s2".cast("double").as("s2d"))
      .withColumn("m", $"s1d" / $"nd")
      .withColumn("v",
        ($"s2d" - $"s1d" * $"s1d" / $"nd") / ($"nd" - lit(1.0)))
    val a = g.select($"priority".as("pa"), $"n".as("n_a"),
      $"nd".as("nda"), $"m".as("ma"), $"v".as("va"))
    val b = g.select($"priority".as("pb"), $"n".as("n_b"),
      $"nd".as("ndb"), $"m".as("mb"), $"v".as("vb"))
    val se2 = $"va" / $"nda" + $"vb" / $"ndb"
    a.join(b, $"pa" < $"pb")
      .select($"pa", $"pb", $"n_a", $"n_b",
        round(($"ma" - $"mb") / lit(100.0), 4).as("mean_diff"),
        round(($"ma" - $"mb") / sqrt(se2), 6).as("t_stat"),
        round(se2 * se2 /
          (($"va" / $"nda") * ($"va" / $"nda") / ($"nda" - lit(1.0)) +
           ($"vb" / $"ndb") * ($"vb" / $"ndb") / ($"ndb" - lit(1.0))), 4)
          .as("welch_dof"))
      .orderBy($"pa", $"pb")
  }

  /** A79 FISHER EXACT TEST per region (scipy `fisher_exact` twin —
    * the small-sample 2×2 independence test the A36 chi-square
    * approximation breaks on; here: is the BUILDING market segment
    * independent of positive account balance?): hypergeometric pmf
    * computed ITERATIVELY in log space — logU(k) accumulates
    * ln((r−k+1)(c−k+1)/(k(n−r−c+k))) from kmin by a per-region
    * ordered window cumsum (no factorials, no lgamma — Spark SQL has
    * none), normalized by Z = Σ exp(logU − max) and summed under the
    * two-sided rule pmf(k) ≤ pmf(a)·(1+10⁻⁷) (the scipy tie
    * tolerance). Determinism: every float fold is an ORDERED window
    * cumsum over the k frame (≤ min(r,c) rows per region — frame-
    * bounded), so both engines run the identical IEEE sequence; ln
    * is libm, the export round absorbs the last ulp. One corpus
    * aggregate to 5 region rows, then a ≤10³-row generated frame. */
  def fisherExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, dir)
    val nat = Tables.nation(s, dir)
    val t = cust.join(broadcast(nat),
        cust("c_nationkey") === nat("n_nationkey"))
      .select($"n_regionkey".cast("long").as("region"),
        ($"c_mktsegment" === "BUILDING").cast("long").as("ir"),
        ($"c_acctbal" > 0).cast("long").as("ic"))
      .groupBy($"region").agg(count(lit(1)).as("n"),
        sum($"ir").as("r"), sum($"ic").as("c"),
        sum($"ir" * $"ic").as("a"))
    val kf = t
      .withColumn("kmin", greatest(lit(0L), $"c" - ($"n" - $"r")))
      .withColumn("kmax", least($"r", $"c"))
      .withColumn("k", explode(sequence($"kmin", $"kmax")))
    val lr = when($"k" === $"kmin", lit(0.0)).otherwise(
      log(($"r" - $"k" + 1).cast("double")) +
        log(($"c" - $"k" + 1).cast("double")) -
        log($"k".cast("double")) -
        log(($"n" - $"r" - $"c" + $"k").cast("double")))
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy($"region").orderBy($"k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy($"region")
    val u = kf
      .withColumn("logu", sum(lr).over(wOrd))
      .withColumn("mx", max($"logu").over(wAll))
      .withColumn("term", exp($"logu" - $"mx"))
      .withColumn("zcum", sum($"term").over(wOrd))
      // positive terms: the ordered cumsum is nondecreasing, so max
      // IS the final total — one deterministic fold, no re-sort
      .withColumn("z", max($"zcum").over(wAll))
      .withColumn("ta", max(when($"k" === $"a", $"term")).over(wAll))
      .withColumn("p2cum", sum(when(
        $"term" <= $"ta" * lit(1.0 + 1e-7), $"term").otherwise(lit(0.0)))
        .over(wOrd))
      .withColumn("lcum_a", max(when($"k" === $"a", $"zcum")).over(wAll))
    u.groupBy($"region").agg(
        max($"n").as("n"), max($"r").as("n_building"),
        max($"c").as("n_positive"), max($"a").as("n_both"),
        round(max($"p2cum") / max($"z"), 6).as("p_two_sided"),
        round(max($"lcum_a") / max($"z"), 6).as("p_left"),
        round((max($"z") - max($"lcum_a") + max($"ta")) / max($"z"), 6)
          .as("p_right"))
      .orderBy($"region")
  }

  /** A82 ATKINSON INEQUALITY INDEX (ε = 1) per market segment
    * (Atkinson 1970 — the welfare-grounded cousin of A34's Gini:
    * A₁ = 1 − geomean(y)/mean(y), the share of total income society
    * could forgo under a log utility and keep welfare constant):
    * per-customer revenue in cents, then ONE aggregate per segment.
    * Determinism without an ordered fold: Σ ln(y) is summed as the
    * FIXED-POINT integers round(ln(y)·10⁹) — a BIGINT sum is
    * order-free and exact, a 1-ulp libm disagreement flips at most
    * a handful of last-digit units (≪ the round-6 export), so the
    * float-fold problem never arises (the integer-ppm convention). */
  def atkinson(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perCust = Tables.orders(s, dir)
      .join(Tables.customer(s, dir),
        $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment".as("segment"), $"o_custkey")
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("y"))
    perCust
      .groupBy($"segment")
      .agg(count(lit(1)).as("n_customers"),
        sum($"y".cast("decimal(38,0)")).as("s"),
        sum(round(log($"y".cast("double")) * lit(1e9)).cast("long"))
          .as("lsum"))
      .select($"segment", $"n_customers",
        round($"s".cast("double") /
          ($"n_customers".cast("double") * 100.0), 2).as("mean_rev"),
        round(lit(1.0) -
          exp($"lsum".cast("double") /
            ($"n_customers".cast("double") * lit(1e9))) /
          ($"s".cast("double") / $"n_customers".cast("double")), 6)
          .as("atkinson_1"))
      .orderBy($"segment")
  }

  /** A83 CAPTURE-RECAPTURE population estimate (Chapman's
    * bias-corrected Lincoln-Petersen — ecology's tool, and exactly
    * how corpus people estimate "how many unique users/documents
    * exist beyond what two crawls both saw"): users seen in the
    * first half of the window vs the second, overlap m, estimate
    * n̂ = (n₁+1)(n₂+1)/(m+1) − 1, compared against the TRUE distinct
    * count the estimator never saw. All integers + one division. */
  def captureRecapture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir)
      .select($"event_type", $"user_id",
        datediff(to_date($"ts"), lit("1970-01-01")).as("di"))
    val bounds = e.agg(min($"di").as("lo"), max($"di").as("hi"))
    val marked = e.crossJoin(broadcast(bounds))
      .withColumn("half",
        when($"di" < expr("(lo + hi + 1) div 2"), 0L).otherwise(1L))
      .groupBy($"event_type", $"user_id")
      .agg(max(when($"half" === 0L, 1L).otherwise(0L)).as("in1"),
        max(when($"half" === 1L, 1L).otherwise(0L)).as("in2"))
    marked.groupBy($"event_type")
      .agg(sum($"in1").as("n1"), sum($"in2").as("n2"),
        sum($"in1" * $"in2").as("m"),
        count(lit(1)).as("true_n"))
      .select($"event_type", $"n1", $"n2", $"m", $"true_n",
        round(($"n1" + 1).cast("double") * ($"n2" + 1).cast("double") /
          ($"m" + 1).cast("double") - lit(1.0), 2).as("n_hat"))
      .orderBy($"event_type")
  }

  /** A86 WILSON SCORE INTERVAL for the returned-line rate per
    * priority (Wilson 1927 — the proportion CI that, unlike the Wald
    * interval every spreadsheet computes, never leaves [0,1], never
    * collapses to zero width at p̂ ∈ {0,1}, and holds coverage at
    * small n; the standard for rate dashboards): p̂ = returns/n,
    * center (p̂ + z²/2n)/(1 + z²/n), half-width
    * z·√(p̂(1−p̂)/n + z²/4n²)/(1 + z²/n), z = 1.96. Counts are exact
    * integers from one scan; the interval is a pinned scalar chain
    * on identical doubles — bit parity before the export round. */
  def wilsonCi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val z = 1.96
    val g = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority".as("priority"))
      .agg(count(lit(1)).as("n"),
        sum(($"l_returnflag" === "R").cast("long")).as("r"))
    val nd = $"n".cast("double")
    val p = $"r".cast("double") / nd
    val z2n = lit(z * z) / nd
    val center = (p + z2n / lit(2.0)) / (lit(1.0) + z2n)
    val half = lit(z) * sqrt(p * (lit(1.0) - p) / nd +
      lit(z * z) / (lit(4.0) * nd * nd)) / (lit(1.0) + z2n)
    g.select($"priority", $"n", $"r",
        round(p, 6).as("p_hat"),
        round(center - half, 6).as("wilson_lo"),
        round(center + half, 6).as("wilson_hi"))
      .orderBy($"priority")
  }

  /** A87 COCHRAN'S Q (Cochran 1950 — the k-treatment generalization
    * of McNemar that C66 cannot answer: "do these THREE engagement
    * behaviors differ in prevalence across the SAME users?" — the
    * within-subject design; a between-subject χ² would confound user
    * mix): blocks = users, treatments = {click, purchase, view},
    * x_bj = 1 iff the user has ≥1 such event. Q = (k−1)·[k·ΣC_j² −
    * N²] / (k·N − ΣR_b²) — numerator and denominator are EXACT
    * BIGINTs off one conditional aggregate (one events scan,
    * map-side combined; the block frame is user-bounded), one double
    * division at export. Q ~ χ²_{k−1}; 5% critical 5.991 at k=3. */
  def cochranQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 3L
    val flags = Tables.events(s, dir)
      .filter($"event_type".isin("click", "purchase", "view"))
      .groupBy($"user_id")
      .agg(max(($"event_type" === "click").cast("long")).as("x1"),
        max(($"event_type" === "purchase").cast("long")).as("x2"),
        max(($"event_type" === "view").cast("long")).as("x3"))
    val m = flags
      .select($"x1", $"x2", $"x3",
        ($"x1" + $"x2" + $"x3").as("r"))
      .agg(count(lit(1)).as("n_blocks"),
        sum($"x1").as("c1"), sum($"x2").as("c2"), sum($"x3").as("c3"),
        sum($"r").as("nn"), sum($"r" * $"r").as("sr2"))
    m.select($"n_blocks", $"c1".as("n_click"), $"c2".as("n_purchase"),
        $"c3".as("n_view"),
        when(lit(k) * $"nn" - $"sr2" =!= 0,
          round(lit((k - 1).toDouble) *
            (lit(k) * ($"c1" * $"c1" + $"c2" * $"c2" + $"c3" * $"c3") -
              $"nn" * $"nn").cast("double") /
            (lit(k) * $"nn" - $"sr2").cast("double"), 4)).as("q_stat"))
      .withColumn("significant",
        when($"q_stat".isNotNull, ($"q_stat" > 5.991).cast("int")))
  }

  /** A88 UNCERTAINTY COEFFICIENT (Theil's U for categoricals — the
    * NORMALIZED, asymmetric reading of A61's mutual information:
    * U(X|Y) = I(X;Y)/H(X) is "what fraction of the uncertainty in
    * the event mix does knowing the weekday remove", a number a
    * drift monitor can threshold where raw nats cannot be compared
    * across feature pairs): same observed-cell frame as A61, the
    * margins' entropies H = Σ (n/N)·ln(N/n) folded in sorted order
    * (the A36/F16 0-init left-fold precedent), two divisions at
    * export. */
  def uncertaintyCoef(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cells = Tables.events(s, dir)
      .groupBy($"event_type".as("x"),
        expr("(((dayofweek(ts) + 5) % 7) + 1)").cast("long").as("y"))
      .agg(count(lit(1)).as("n_xy"))
      .localCheckpoint()
    val rx = cells.groupBy($"x").agg(sum($"n_xy").as("n_x"))
    val cy = cells.groupBy($"y").agg(sum($"n_xy").as("n_y"))
    val n = cells.agg(sum($"n_xy")).collect()(0).getLong(0)
    val nd = lit(n.toDouble)
    val mi = cells.join(rx, "x").join(cy, "y")
      .withColumn("contrib",
        ($"n_xy".cast("double") / nd) *
          log(nd * $"n_xy".cast("double") /
            ($"n_x".cast("double") * $"n_y".cast("double"))))
      .agg(aggregate(sort_array(collect_list(
          struct($"x", $"y", $"contrib"))),
        lit(0.0), (acc, e) => acc + e("contrib")).as("mi"))
    val hx = rx
      .withColumn("t", ($"n_x".cast("double") / nd) *
        log(nd / $"n_x".cast("double")))
      .agg(aggregate(sort_array(collect_list(struct($"x", $"t"))),
        lit(0.0), (acc, e) => acc + e("t")).as("hx"))
    val hy = cy
      .withColumn("t", ($"n_y".cast("double") / nd) *
        log(nd / $"n_y".cast("double")))
      .agg(aggregate(sort_array(collect_list(struct($"y", $"t"))),
        lit(0.0), (acc, e) => acc + e("t")).as("hy"))
    mi.crossJoin(hx).crossJoin(hy)
      .select(lit(n).as("n"), round($"mi", 6).as("mi_nats"),
        round($"hx", 6).as("h_x"), round($"hy", 6).as("h_y"),
        when($"hx" > 0, round($"mi" / $"hx", 6)).as("u_x_given_y"),
        when($"hy" > 0, round($"mi" / $"hy", 6)).as("u_y_given_x"))
  }

  /** The priority digit × price band contingency (`i`, `j`, count
    * `nij`; 5 × 6 cells, checkpointed) of A89 and A90. */
  private def priorityBandCells(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cells = Tables.orders(s, dir)
      .select(substring($"o_orderpriority", 1, 1).cast("long").as("i"),
        least(floor($"o_totalprice" / 50000).cast("long"), lit(5L))
          .as("j"))
      .groupBy($"i", $"j").agg(count(lit(1)).as("nij"))
      .localCheckpoint()
    cells
  }

  /** A89 GOODMAN-KRUSKAL GAMMA (1954 — the ORDINAL association the
    * categorical family misses: A52's Cramér's V treats order
    * priority as unordered labels, but "1-URGENT < … < 5-LOW" and
    * price bands ARE ordered, and the question is monotone
    * association): γ = (C − D)/(C + D) over concordant/discordant
    * pairs, computed from the CONTINGENCY CELLS (5 priorities ×
    * 6 fixed price bands → a 30-row frame; the cell×cell pair walk
    * is 900 rows, never an order-pair join): C = Σ n_ij·n_i'j' over
    * i<i', j<j'; D over i<i', j>j'. Exact decimal(38,0) products,
    * one division. */
  def gkGamma(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val cells = priorityBandCells(s, dir)
    val nOrders = cells.agg(sum($"nij")).collect()(0).getLong(0)
    val p = cells.select($"i".as("pi"), $"j".as("pj"), $"nij".as("pn"))
    val q = cells.select($"i".as("qi"), $"j".as("qj"), $"nij".as("qn"))
    p.crossJoin(q)
      .agg(sum(when($"pi" < $"qi" && $"pj" < $"qj", dec($"pn") * $"qn")
          .otherwise(lit(0).cast("decimal(38,0)"))).as("c"),
        sum(when($"pi" < $"qi" && $"pj" > $"qj", dec($"pn") * $"qn")
          .otherwise(lit(0).cast("decimal(38,0)"))).as("d"))
      .select(lit(nOrders).as("n_orders"),
        $"c".cast("long").as("concordant"),
        $"d".cast("long").as("discordant"),
        when($"c" + $"d" =!= 0,
          round(($"c" - $"d").cast("double") /
            ($"c" + $"d").cast("double"), 6)).as("gamma"))
  }

  /** A90 SOMERS' D + KENDALL'S TAU-B (Somers 1962 / Kendall 1945 —
    * the TIES completion of A89: gamma DROPS tied pairs, so heavy
    * ties inflate it toward ±1; Somers' d penalizes ties on the
    * dependent variable (and is ASYMMETRIC — d(Y|X) ≠ d(X|Y), which
    * is the point: "does priority predict price band" is a different
    * question from its converse), and tau-b symmetrizes by the
    * geometric mean): same 30-cell contingency as A89 with two more
    * exact tie sums — T_X = pairs tied on X only, T_Y = tied on Y
    * only; d_yx = (C−D)/(C+D+T_Y), d_xy = (C−D)/(C+D+T_X), tau_b =
    * (C−D)/√((C+D+T_X)(C+D+T_Y)). Exact decimal products, three
    * divisions and one sqrt at export. */
  def somersD(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val zero = lit(0).cast("decimal(38,0)")
    val cells = priorityBandCells(s, dir)
    val p = cells.select($"i".as("pi"), $"j".as("pj"), $"nij".as("pn"))
    val q = cells.select($"i".as("qi"), $"j".as("qj"), $"nij".as("qn"))
    val m = p.crossJoin(q)
      .agg(
        sum(when($"pi" < $"qi" && $"pj" < $"qj", dec($"pn") * $"qn")
          .otherwise(zero)).as("c"),
        sum(when($"pi" < $"qi" && $"pj" > $"qj", dec($"pn") * $"qn")
          .otherwise(zero)).as("d"),
        sum(when($"pi" === $"qi" && $"pj" < $"qj", dec($"pn") * $"qn")
          .otherwise(zero)).as("tx"),
        sum(when($"pj" === $"qj" && $"pi" < $"qi", dec($"pn") * $"qn")
          .otherwise(zero)).as("ty"))
    val cd = ($"c" - $"d").cast("double")
    m.select($"c".cast("long").as("concordant"),
        $"d".cast("long").as("discordant"),
        $"tx".cast("long").as("t_x"), $"ty".cast("long").as("t_y"),
        when($"c" + $"d" + $"ty" =!= 0,
          round(cd / ($"c" + $"d" + $"ty").cast("double"), 6))
          .as("d_yx"),
        when($"c" + $"d" + $"tx" =!= 0,
          round(cd / ($"c" + $"d" + $"tx").cast("double"), 6))
          .as("d_xy"),
        when(($"c" + $"d" + $"tx") * ($"c" + $"d" + $"ty") =!= 0,
          round(cd / sqrt((($"c" + $"d" + $"tx") *
            ($"c" + $"d" + $"ty")).cast("double")), 6)).as("tau_b"))
  }

  /** A85 THEIL DECOMPOSITION across market segments (the property
    * that makes Theil THE inequality index for grouped data — A55
    * reports one number; this splits it EXACTLY: T = T_within +
    * T_between, "how much revenue inequality lives inside segments
    * vs between their means" — Gini cannot do this): per-customer
    * revenue shares s_i = y_i/Y, T = Σ s_i ln(n·s_i) computed per
    * segment and for the segment MEANS. Every ln folds as the A82
    * fixed-point integers weighted by exact cents (Σ y_i·round(ln·10⁹)
    * is a decimal(38,0) sum — order-free), divisions at export. */
  def theilDecomposition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pc = Tables.orders(s, dir)
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment".as("segment"), $"o_custkey")
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("y"))
      .localCheckpoint()
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val seg = pc.groupBy($"segment")
      .agg(count(lit(1)).as("ng"), sum(dec($"y")).as("yg"),
        // Σ y·ln(y) in cents·nano-nats, exact
        sum(dec($"y") * dec(round(log($"y".cast("double")) * lit(1e9))
          .cast("long"))).as("ylny"))
    val tot = seg.agg(sum($"ng").as("n"), sum($"yg").as("yy"),
      sum($"ylny").as("sylny"))
    // T_g (within segment g) = Σ_g (y_i/Y_g)·ln(n_g·y_i/Y_g)
    //                        = [Σ y·ln y]/Y_g − ln(Y_g/n_g)
    val within = seg.crossJoin(broadcast(tot))
      .withColumn("t_g",
        $"ylny".cast("double") / 1e9 / $"yg".cast("double") -
          log($"yg".cast("double") / $"ng".cast("double")))
      .withColumn("share", $"yg".cast("double") / $"yy".cast("double"))
      .withColumn("between_term",
        $"share" * log($"share" * $"n".cast("double") /
          $"ng".cast("double")))
    val totals = within.agg(
      sum(round($"share" * $"t_g" * lit(1e9)).cast("long")).as("tw_fp"),
      sum(round($"between_term" * lit(1e9)).cast("long")).as("tb_fp"))
    within.crossJoin(broadcast(totals))
      .select($"segment", $"ng".as("n_customers"),
        round($"share", 6).as("rev_share"),
        round($"t_g", 6).as("theil_within_seg"),
        round($"tw_fp".cast("double") / 1e9, 6).as("t_within"),
        round($"tb_fp".cast("double") / 1e9, 6).as("t_between"),
        round(($"tw_fp" + $"tb_fp").cast("double") / 1e9, 6)
          .as("t_total"))
      .orderBy($"segment")
  }

  /** A84 HILL TAIL-INDEX of customer revenue (Hill 1975 — the
    * order-statistics MLE for the Pareto exponent: I8/q_powerlaw
    * asks the scale-free question of DEGREES; this asks it of MONEY,
    * which decides whether revenue concentration has finite variance
    * at all: α̂ = k / Σᵢ ln(y₍ᵢ₎/y₍ₖ₊₁₎) over the top-k order
    * stats): top-(k+1) per-customer revenues via orderBy().limit()
    * — TakeOrderedAndProject, the countMinOn lesson, never a global
    * sort — then the k ln-ratios fold as FIXED-POINT integers (the
    * A82 order-free convention). k = 100. */
  def hillTail(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 100
    val perCust = Tables.orders(s, dir)
      .groupBy($"o_custkey")
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("y"))
    val top = perCust.orderBy(desc("y"), $"o_custkey").limit(k + 1)
      .localCheckpoint()
    val thresh = top.orderBy($"y".asc, $"o_custkey".desc).limit(1)
      .select($"y".as("yk1"))
    // strictly above the threshold order stat: boundary ties drop on
    // BOTH sides (k_used < k then — deterministic either way)
    top.crossJoin(broadcast(thresh))
      .filter($"y" > $"yk1")
      // grouped (not a grand agg) so the all-ties degenerate frame
      // emits ZERO rows, matching the twin's GROUP BY yk1 shape —
      // a global agg would emit one (k_used=0, null) row here.
      .groupBy($"yk1")
      .agg(count(lit(1)).as("k_used"),
        sum(round(log($"y".cast("double") / $"yk1".cast("double")) *
          lit(1e9)).cast("long")).as("lsum"))
      .select($"k_used",
        round($"yk1".cast("double") / 100.0, 2).as("threshold_rev"),
        when($"lsum" > 0,
          round($"k_used".cast("double") /
            ($"lsum".cast("double") / 1e9), 4)).as("alpha_hill"))
  }

  /** A80 TOST EQUIVALENCE test for every priority pair (the
    * two-one-sided-tests twin of A40 — the question A40 CANNOT
    * answer: "are these two slices the SAME to within a margin?"
    * Non-rejection of a difference test is not equivalence; TOST is
    * the regulatory-standard answer): margin δ = 2% of the pooled
    * mean, t⁻ = (Δ+δ)/se and t⁺ = (Δ−δ)/se on the A40 Welch se,
    * equivalent ⇔ t⁻ > z AND t⁺ < −z at z = 1.6449 (normal critical
    * — the Welch dof is ≥10⁴ here, where t ≡ z to 4 decimals). Same
    * exact decimal(38,0) moment sums, same one-IEEE-op-per-step
    * scalar tail as A40 — bit parity before the export round. */
  def tost(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val g = priorityMoments(s, dir)
      .select($"priority", $"n".cast("double").as("nd"),
        $"s1".cast("double").as("s1d"), $"s2".cast("double").as("s2d"))
      .withColumn("m", $"s1d" / $"nd")
      .withColumn("v",
        ($"s2d" - $"s1d" * $"s1d" / $"nd") / ($"nd" - lit(1.0)))
    val a = g.select($"priority".as("pa"), $"nd".as("nda"),
      $"m".as("ma"), $"v".as("va"))
    val b = g.select($"priority".as("pb"), $"nd".as("ndb"),
      $"m".as("mb"), $"v".as("vb"))
    val se = sqrt($"va" / $"nda" + $"vb" / $"ndb")
    val diff = $"ma" - $"mb"
    val margin = ($"ma" * $"nda" + $"mb" * $"ndb") /
      ($"nda" + $"ndb") * lit(0.02)
    val tl = (diff + margin) / se
    val tu = (diff - margin) / se
    a.join(b, $"pa" < $"pb")
      .select($"pa", $"pb",
        round(diff / lit(100.0), 4).as("mean_diff"),
        round(margin / lit(100.0), 4).as("margin"),
        round(tl, 6).as("t_lower"), round(tu, 6).as("t_upper"),
        (tl > lit(1.6449) && tu < lit(-1.6449)).cast("long")
          .as("equivalent"))
      .orderBy($"pa", $"pb")
  }

  /** A81 MATTHEWS CORRELATION of the A79 region 2×2 (the balanced-
    * classes-immune association coefficient — chi-square's signed,
    * bounded cousin: MCC = (TP·TN − FP·FN)/√(r·c·(n−r)·(n−c))):
    * numerator exact BIGINT, the four marginal factors cross-multiply
    * in decimal(38,0) (the C18 posture — (n/4)⁴ clears int64 at
    * n ≈ 10⁵ already), ONE sqrt + ONE division at the end. */
  def mcc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        $"c_nationkey" === $"n_nationkey")
      .select($"n_regionkey".cast("long").as("region"),
        ($"c_mktsegment" === "BUILDING").cast("long").as("ir"),
        ($"c_acctbal" > 0).cast("long").as("ic"))
      .groupBy($"region").agg(count(lit(1)).as("n"),
        sum($"ir").as("r"), sum($"ic").as("c"),
        sum($"ir" * $"ic").as("tp"))
    def dec(x: org.apache.spark.sql.Column) = x.cast("decimal(38,0)")
    val fn = $"r" - $"tp"            // BUILDING & non-positive
    val fp = $"c" - $"tp"            // positive & non-BUILDING
    val tn = $"n" - $"r" - $"c" + $"tp"
    val num = dec($"tp") * dec(tn) - dec(fp) * dec(fn)
    val den = dec($"r") * dec($"c") * dec($"n" - $"r") * dec($"n" - $"c")
    t.select($"region", $"n", $"tp", fp.as("fp"), fn.as("fn"),
        tn.as("tn"),
        when(den > 0,
          round(num.cast("double") / sqrt(den.cast("double")), 6))
          .as("mcc"))
      .orderBy($"region")
  }

  /** A41 one-way ANOVA across the 7 line numbers (scipy `f_oneway`
    * twin — the k-group generalization of A40; "does position within
    * an order shift the money distribution?"): per-group n/Σx/Σx²
    * exact in decimal(38,0), grand totals exact sums of the 7-row
    * group frame, SSB = Σnᵢ(mᵢ−m̄)² and SSW = Σ(Σx²ᵢ − Σxᵢ²/nᵢ)
    * folded in SORTED GROUP ORDER (the A36/B18 ordered-fold
    * precedent) so the float accumulation is pinned;
    * F = (SSB/(k−1))/(SSW/(N−k)). The corpus cost is exactly one
    * map-side-combined aggregate. */
  def anovaF(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val g = Tables.lineitem(s, dir)
      .select($"l_linenumber".cast("long").as("lineno"),
        round($"l_extendedprice" * 100).cast("long").as("cents"))
      .groupBy($"lineno")
      .agg(count(lit(1)).as("n"),
        sum($"cents".cast("decimal(38,0)")).as("s1"),
        sum(($"cents" * $"cents").cast("decimal(38,0)")).as("s2"))
      .withColumn("nall", sum($"n").over(Window.partitionBy()))
      .withColumn("s1all", sum($"s1").over(Window.partitionBy()))
      .withColumn("k", count(lit(1)).over(Window.partitionBy()))
      .withColumn("gm", $"s1all".cast("double") / $"nall".cast("double"))
      .withColumn("m", $"s1".cast("double") / $"n".cast("double"))
      .withColumn("ssb_t",
        $"n".cast("double") * ($"m" - $"gm") * ($"m" - $"gm"))
      .withColumn("ssw_t", $"s2".cast("double") -
        $"s1".cast("double") * $"s1".cast("double") / $"n".cast("double"))
    val tot = g.groupBy()
      .agg(max($"k").as("k"), max($"nall").as("n"),
        aggregate(sort_array(collect_list(struct($"lineno", $"ssb_t"))),
          lit(0.0), (acc, x) => acc + x("ssb_t")).as("ssb"),
        aggregate(sort_array(collect_list(struct($"lineno", $"ssw_t"))),
          lit(0.0), (acc, x) => acc + x("ssw_t")).as("ssw"))
      .select($"k", $"n", $"ssb", $"ssw",
        round(($"ssb" / ($"k" - lit(1)).cast("double")) /
          ($"ssw" / ($"n" - $"k").cast("double")), 6).as("f_stat"))
    g.select($"lineno", $"n".as("n_g"), round($"m" / lit(100.0), 4).as("mean_d"))
      .crossJoin(tot.select(
        $"k", $"n", round($"ssb" / lit(1e4), 2).as("ssb_d2"),
        round($"ssw" / lit(1e4), 2).as("ssw_d2"), $"f_stat"))
      .orderBy($"lineno")
  }

  /** A42 Mann-Whitney U rank-sum test (scipy `mannwhitneyu` twin —
    * the nonparametric sibling of A40: "did the slice's distribution
    * move?" without the normality assumption): R-vs-N line-item
    * prices through the A39 value-domain histogram. Average tie
    * ranks carried DOUBLED so they stay integers — a tied block of
    * size c after B predecessors has doubled rank 2B+c+1 — and the
    * doubled R rank sum Σ cr·(2B+c+1) is an exact decimal(38,0)
    * product-sum, so 2U = Σ2ranks − nR(nR+1) is integer-exact. The
    * tie-correction Σ(c³−c) is likewise exact; z's numerator and the
    * tie-corrected variance are evaluated as ONE pinned single-row
    * IEEE sequence on identical exact inputs. Shape: one corpus
    * aggregate to the value histogram, windows over the histogram
    * (never the corpus), one single-row export. */
  def mannWhitney(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val vc = returnedCleanCents(s, dir)
      .withColumn("c", $"cr" + $"cn")
    val wCum = Window.orderBy($"cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val h = vc
      .withColumn("b", sum($"c").over(wCum) - $"c") // block predecessors
      .withColumn("r2", $"b" * 2 + $"c" + 1)        // doubled avg rank
    val tot = h.groupBy().agg(
      sum($"cr").as("nr"), sum($"cn").as("nn"),
      sum($"cr".cast("decimal(38,0)") * $"r2").as("sr2"),
      sum($"c".cast("decimal(38,0)") * $"c" * $"c" - $"c").as("ties"))
    tot.select($"nr", $"nn",
        ($"sr2" - ($"nr".cast("decimal(38,0)") * ($"nr" + 1))).as("u2"),
        $"ties",
        ($"nr" + $"nn").as("n"))
      .select($"nr".as("n_r"), $"nn".as("n_n"),
        ($"u2".cast("double") / 2.0).as("u_stat"),
        round(
          ($"u2".cast("double") -
            $"nr".cast("double") * $"nn".cast("double")) /
          (lit(2.0) * sqrt(
            $"nr".cast("double") * $"nn".cast("double") / 12.0 *
              (($"n" + 1).cast("double") -
                $"ties".cast("double") /
                  ($"n".cast("double") * ($"n" - 1).cast("double"))))),
          6).as("z_score"))
  }

  /** A77 CLIFF'S DELTA between the returned/clean price
    * distributions (Cliff 1993 — the ordinal EFFECT SIZE the A41
    * Mann-Whitney z deliberately isn't: z says "significant at this
    * n", δ = P(x>y) − P(x<y) says "how big", n-free — the number a
    * report should lead with): computed on the same distinct-value
    * frame as A41 — #(x>y) = Σ_v cr_v·(cn strictly below v) via one
    * cumulative window, all counts exact decimal(38,0), ONE double
    * division at export. |δ| ≥ 0.474 is Romano's "large" — emitted
    * as a flag so the threshold is part of the contract. */
  def cliffsDelta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val wCum = Window.orderBy($"cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val h = returnedCleanCents(s, dir)
      .withColumn("belowN", sum($"cn").over(wCum) - $"cn")
      .withColumn("belowR", sum($"cr").over(wCum) - $"cr")
    h.groupBy()
      .agg(sum($"cr").as("n_r"), sum($"cn").as("n_n"),
        sum($"cr".cast("decimal(38,0)") * $"belowN").as("gt"),
        sum($"cn".cast("decimal(38,0)") * $"belowR").as("lt"))
      .select($"n_r", $"n_n",
        round(($"gt" - $"lt").cast("double") /
          ($"n_r".cast("double") * $"n_n".cast("double")), 6)
          .as("delta"),
        (abs(($"gt" - $"lt").cast("double") /
          ($"n_r".cast("double") * $"n_n".cast("double"))) >= 0.474)
          .as("large"))
  }

  /** A78 COHEN'S D between the same two samples (Cohen 1988 — the
    * interval-scale effect size beside A77's ordinal δ: standardized
    * mean difference over the pooled SD; the power-analysis number):
    * per-flag moments are exact (Σx in BIGINT, Σx² in
    * decimal(38,0) — the A40 posture), every later op is the
    * identical IEEE sequence in both engines, export rounds 6. */
  def cohensD(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val g = Tables.lineitem(s, dir)
      .filter($"l_returnflag".isin("R", "N"))
      .select($"l_returnflag".as("flag"),
        round($"l_extendedprice" * 100).cast("long").as("cents"))
      .groupBy($"flag")
      .agg(count(lit(1)).as("n"),
        sum($"cents").as("s"),
        sum($"cents".cast("decimal(38,0)") * $"cents").as("q"))
      .select($"flag", $"n", $"n".cast("double").as("nd"),
        $"s".cast("double").as("sd"), $"q".cast("double").as("qd"))
      .withColumn("m", $"sd" / $"nd")
      .withColumn("v", ($"qd" - $"sd" * $"sd" / $"nd") /
        ($"nd" - lit(1.0)))
    val r = g.filter($"flag" === "R")
      .select($"n".as("n_r"), $"nd".as("ndr"), $"m".as("mr"),
        $"v".as("vr"))
    val n = g.filter($"flag" === "N")
      .select($"n".as("n_n"), $"nd".as("ndn"), $"m".as("mn"),
        $"v".as("vn"))
    r.crossJoin(n)
      .select($"n_r", $"n_n",
        round(($"mr" - $"mn") /
          sqrt((($"ndr" - 1.0) * $"vr" + ($"ndn" - 1.0) * $"vn") /
            ($"ndr" + $"ndn" - 2.0)), 6).as("cohens_d"))
  }

  /** A58 data-quality EXPECTATIONS audit (the Great-Expectations /
    * dbt-test contract checker as one engine pass — the gate a 100 TB
    * ingest runs before anything downstream trusts the batch): seven
    * declarative rules — positive totals, bounded discounts, date
    * range, key uniqueness, referential integrity both directions,
    * cross-table order consistency — each emitting (rule,
    * rows_checked, violations, pass). All counts exact BIGINTs; each
    * rule is ONE map-side-combined aggregate or ONE keyed anti-join
    * count, unioned into the report; nothing scans a table twice for
    * the same rule family (the two orders rules share one aggregate,
    * the two lineitem rules another — H16's observed-write pattern
    * applied to a standing audit). */
  def dqChecks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val orders = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir)
    val cust = Tables.customer(s, dir)
    def row(rule: String, checked: org.apache.spark.sql.Column,
        viol: org.apache.spark.sql.Column) =
      Seq(lit(rule).as("rule"), checked.as("rows_checked"),
        viol.as("violations"))
    val oAgg = orders.agg(
      count(lit(1)).as("n"),
      sum(when($"o_totalprice" <= 0, 1L).otherwise(0L)).as("bad_price"),
      sum(when($"o_orderdate" < to_date(lit("1992-01-01")) ||
        $"o_orderdate" > to_date(lit("1998-12-31")), 1L).otherwise(0L))
        .as("bad_date"),
      (count(lit(1)) - countDistinct($"o_orderkey")).as("dup_keys"))
    val liAgg = li.agg(
      count(lit(1)).as("n"),
      sum(when($"l_discount" < 0 || $"l_discount" > 1, 1L).otherwise(0L))
        .as("bad_disc"),
      sum(when($"l_quantity" <= 0, 1L).otherwise(0L)).as("bad_qty"))
    val orphanLi = li.select($"l_orderkey")
      .join(orders.select($"o_orderkey"),
        $"l_orderkey" === $"o_orderkey", "left_anti")
      .agg(count(lit(1)).as("orphans"))
    val orphanOrd = orders.select($"o_custkey")
      .join(cust.select($"c_custkey"),
        $"o_custkey" === $"c_custkey", "left_anti")
      .agg(count(lit(1)).as("orphans"))
    val liN = li.agg(count(lit(1)).as("n"))
    val oN = orders.agg(count(lit(1)).as("n"))
    val shipBefore = li.join(orders, $"l_orderkey" === $"o_orderkey")
      .agg(count(lit(1)).as("n"),
        sum(when($"l_shipdate" < $"o_orderdate", 1L).otherwise(0L))
          .as("bad_ship"))
    val rows = Seq(
      oAgg.select(row("orders_totalprice_positive", $"n", $"bad_price"): _*),
      oAgg.select(row("orders_orderdate_in_range", $"n", $"bad_date"): _*),
      oAgg.select(row("orders_orderkey_unique", $"n", $"dup_keys"): _*),
      liAgg.select(row("lineitem_discount_bounded", $"n", $"bad_disc"): _*),
      liAgg.select(row("lineitem_quantity_positive", $"n", $"bad_qty"): _*),
      liN.crossJoin(orphanLi)
        .select(row("lineitem_orderkey_exists", $"n", $"orphans"): _*),
      oN.crossJoin(orphanOrd)
        .select(row("orders_custkey_exists", $"n", $"orphans"): _*),
      shipBefore.select(row("lineitem_ship_after_order", $"n", $"bad_ship"): _*))
    rows.reduce(_.unionByName(_))
      .withColumn("pass", $"violations" === 0L)
      .orderBy($"rule")
  }

  /** A56 ROC AUC per ship mode (sklearn `roc_auc_score` twin — the
    * classifier-evaluation statistic every quality/filter model
    * report leads with; here scoring how well raw price separates
    * returned from kept lines): AUC = P(score_pos > score_neg) +
    * ½P(tie), computed EXACTLY by the rank-sum identity
    * AUC = (R_pos − nP(nP+1)/2) / (nP·nN) with average tie ranks —
    * the A42 doubled-rank machinery re-aimed at evaluation: doubled
    * ranks 2B + c + 1 keep every rank an integer, Σ over positives
    * stays a decimal(38,0) product-sum over the VALUE-DOMAIN
    * histogram (never the corpus), and the single division is the
    * export. Degenerate groups (no positives or no negatives) null
    * explicitly. Groups = the 7 line numbers (the A41 cohort). One
    * corpus aggregate → histogram window → per-group fold; the
    * window partitions by group over distinct values only. */
  def aucScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val vc = Tables.lineitem(s, dir)
      .select($"l_linenumber".cast("long").as("lineno"),
        round($"l_extendedprice" * 100).cast("long").as("cents"),
        when($"l_returnflag" === "R", 1L).otherwise(0L).as("pos"))
      .groupBy($"lineno", $"cents")
      .agg(sum($"pos").as("cp"), sum(lit(1L) - $"pos").as("cg"))
      .withColumn("c", $"cp" + $"cg")
    val w = Window.partitionBy($"lineno").orderBy($"cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val h = vc
      .withColumn("b", sum($"c").over(w) - $"c")
      .withColumn("r2", $"b" * 2 + $"c" + 1)
    h.groupBy($"lineno")
      .agg(sum($"cp").as("n_pos"), sum($"cg").as("n_neg"),
        sum($"cp".cast("decimal(38,0)") * $"r2").as("sr2"))
      .withColumn("two_u",
        $"sr2" - $"n_pos".cast("decimal(38,0)") * ($"n_pos" + 1))
      .select($"lineno", $"n_pos", $"n_neg",
        when($"n_pos" > 0 && $"n_neg" > 0,
          round($"two_u".cast("double") /
            (lit(2.0) * $"n_pos".cast("double") * $"n_neg".cast("double")),
            6)).as("auc"))
      .orderBy($"lineno")
  }

  /** A60 ODDS RATIO with Wald CI per market segment (the
    * epidemiologist's 2×2 next to A48's two-proportion z-test — the
    * z-test says WHETHER return rates differ, the OR + CI says BY
    * WHAT FACTOR and how precisely): per segment the cells are
    * (returned, kept) inside vs outside the segment,
    * OR = ad/bc, CI = exp-free ln OR ± 1.96·√(1/a+1/b+1/c+1/d),
    * significant iff the CI excludes 0.
    *
    * Cells are exact BIGINTs off ONE keyed aggregate + a broadcast
    * totals row; the ad/bc cross products ride decimal(38,0) into one
    * double division each, and the ln/√ tail is a single pinned libm
    * sequence (F6 precedent) rounded at export. Any empty cell nulls
    * the estimate explicitly (ln(0)/÷0 must not reach either
    * engine). */
  def oddsRatio(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Tables.lineitem(s, dir)
      .select($"l_orderkey",
        when($"l_returnflag" === "R", 1L).otherwise(0L).as("pos"))
      .join(Tables.orders(s, dir).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(s, dir)
        .select($"c_custkey", $"c_mktsegment"),
        $"o_custkey" === $"c_custkey")
    val seg = rows.groupBy($"c_mktsegment".as("segment"))
      .agg(sum($"pos").as("a"), sum(lit(1L) - $"pos").as("b"))
    val tot = seg.agg(sum($"a").as("ta"), sum($"b").as("tb"))
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val cells = seg.crossJoin(broadcast(tot))
      .withColumn("c", $"ta" - $"a")
      .withColumn("d", $"tb" - $"b")
      .withColumn("ok", $"a" > 0 && $"b" > 0 && $"c" > 0 && $"d" > 0)
      .withColumn("or_", when($"ok",
        (dec($"a") * $"d").cast("double") /
          (dec($"b") * $"c").cast("double")))
      .withColumn("lnor", when($"ok", log($"or_")))
      .withColumn("se", when($"ok", sqrt(
        lit(1.0) / $"a".cast("double") + lit(1.0) / $"b".cast("double")
          + lit(1.0) / $"c".cast("double")
          + lit(1.0) / $"d".cast("double"))))
    cells.select($"segment", $"a", $"b", $"c", $"d",
        when($"ok", round($"or_", 6)).as("odds_ratio"),
        when($"ok", round($"lnor" - lit(1.96) * $"se", 4)).as("ci_lo"),
        when($"ok", round($"lnor" + lit(1.96) * $"se", 4)).as("ci_hi"),
        when($"ok", $"lnor" - lit(1.96) * $"se" > 0 ||
          $"lnor" + lit(1.96) * $"se" < 0).as("significant"))
      .orderBy($"segment")
  }

  /** A57 decile GAINS/LIFT table (the sklearn-adjacent
    * `cumulative_gain`/lift report — A56's AUC compressed to one
    * number, this is the table a campaign/filter OPERATOR actually
    * reads: "the top score decile captures 2.3× its share of
    * positives"): rows ranked by score descending into 10 equal
    * deciles, per decile the response rate, cumulative capture of
    * all positives, and cumulative lift vs the base rate.
    *
    * Scale-shaped ranking (the C46 pattern): rank = rows strictly
    * above my score (from the distinct-value histogram) + row_number
    * WITHIN my score value ordered by the unique line id — no global
    * row_number over the corpus ever exists; the only unpartitioned
    * window runs over distinct cent values. Decile =
    * (rank−1)·10 div N with N an in-plan broadcast scalar. Every
    * rate is integer ppm; lift is cross-multiplied in decimal(38,0)
    * before its one floor division — float-free. */
  def decileLift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val base = Tables.lineitem(s, dir)
      .select(($"l_orderkey" * 8 + $"l_linenumber").as("rid"),
        round($"l_extendedprice" * 100).cast("long").as("cents"),
        when($"l_returnflag" === "R", 1L).otherwise(0L).as("pos"))
    val hist = base.groupBy($"cents").agg(count(lit(1)).as("c"))
    val wAbove = Window.orderBy($"cents".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val above = hist
      .withColumn("above", sum($"c").over(wAbove) - $"c")
      .select($"cents", $"above")
    val tot = base.agg(count(lit(1)).as("nn"), sum($"pos").as("np"))
    val ranked = base.join(above, "cents")
      .withColumn("rk", $"above" + row_number().over(
        Window.partitionBy($"cents").orderBy($"rid")))
      .crossJoin(broadcast(tot))
      .withColumn("decile", expr("(rk - 1) * 10 div nn + 1"))
    val per = ranked.groupBy($"decile")
      .agg(count(lit(1)).as("n_rows"), sum($"pos").as("n_pos"),
        max($"nn").as("nn"), max($"np").as("np"))
      .withColumn("resp_ppm", expr("n_pos * 1000000 div n_rows"))
    val wCum = Window.orderBy($"decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    per
      .withColumn("cum_rows", sum($"n_rows").over(wCum))
      .withColumn("cum_pos", sum($"n_pos").over(wCum))
      .withColumn("capture_ppm", expr("cum_pos * 1000000 div np"))
      .withColumn("lift_ppm", expr(
        "(cast(cum_pos as decimal(38,0)) * nn * 1000000) div (cast(cum_rows as decimal(38,0)) * np)")
        .cast("long"))
      .select($"decile".cast("long").as("decile"), $"n_rows", $"n_pos",
        $"resp_ppm", $"cum_pos", $"capture_ppm", $"lift_ppm")
      .orderBy($"decile")
  }

  /** A43 Spearman rank correlation per return flag (scipy `spearmanr`
    * twin — the monotone-association gate: quantity vs price): both
    * variables ranked through per-group value-domain histograms with
    * DOUBLED average tie ranks (the A42 integer trick), rows joined
    * back to their two rank lookups, then Pearson on the doubled
    * ranks via exact decimal(38,0) product-sums — n·Σxy − Σx·Σy and
    * both variance numerators are computed EXACTLY in decimal and
    * only then cast to double for the one division + sqrt (identical
    * IEEE sequence both engines; doubling cancels in the ratio).
    * Shape: two histogram passes + two histogram-sized joins (the
    * quantity lookup is ~50 rows/group — broadcast; the price lookup
    * shuffles on (flag, cents) once) + one final aggregate. */
  def spearman(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val rows = Tables.lineitem(s, dir)
      .select($"l_returnflag".as("flag"),
        $"l_quantity".cast("long").as("x"),
        round($"l_extendedprice" * 100).cast("long").as("y"))
    def rank2(v: String): DataFrame = {
      val wCum = Window.partitionBy($"flag").orderBy(col(v))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rows.groupBy($"flag", col(v)).agg(count(lit(1)).as("c"))
        .withColumn("b", sum($"c").over(wCum) - $"c")
        .select($"flag", col(v), ($"b" * 2 + $"c" + 1).as(s"r_$v"))
    }
    val ranked = rows
      .join(broadcast(rank2("x")), Seq("flag", "x"))
      .join(rank2("y"), Seq("flag", "y"))
    ranked.groupBy($"flag")
      .agg(count(lit(1)).as("n"),
        sum($"r_x".cast("decimal(38,0)")).as("sx"),
        sum($"r_y".cast("decimal(38,0)")).as("sy"),
        sum($"r_x".cast("decimal(38,0)") * $"r_x").as("sxx"),
        sum($"r_y".cast("decimal(38,0)") * $"r_y").as("syy"),
        sum($"r_x".cast("decimal(38,0)") * $"r_y").as("sxy"))
      .select($"flag", $"n",
        round(
          ($"n".cast("decimal(38,0)") * $"sxy" - $"sx" * $"sy")
            .cast("double") /
          (sqrt(($"n".cast("decimal(38,0)") * $"sxx" - $"sx" * $"sx")
              .cast("double")) *
           sqrt(($"n".cast("decimal(38,0)") * $"syy" - $"sy" * $"sy")
              .cast("double"))), 6).as("rho"))
      .orderBy($"flag")
  }

  /** A44 Wald-Wolfowitz runs test per event type (the
    * randomness-of-sequence gate a telemetry monitor runs: "are the
    * highs and lows clumping?"): sign of each event's value against
    * its type's DOUBLED interpolated median (the A37 integer trick —
    * 2·cents vs med2 compares exactly; exact ties are dropped, the
    * standard rule), runs counted over the (ts, event_id)-ordered
    * survivor sequence via one lag window — R, n⁺, n⁻ all
    * integer-exact. z uses the normal approximation
    * μ = 1 + 2n₁n₂/n, σ² = 2n₁n₂(2n₁n₂−n)/(n²(n−1)) as one pinned
    * single-row IEEE sequence. Shape: one histogram median pass, a
    * 6-row broadcast back, one lag window partitioned by type, one
    * aggregate. */
  def runsTest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val pts = Tables.events(s, dir)
      .select($"event_type", $"event_id", $"ts",
        round($"value" * 100).cast("long").as("cents"))
    // doubled interpolated median per type (A37 med2 form)
    val counts = pts.groupBy($"event_type", $"cents").agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy($"event_type").orderBy($"cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = counts
      .withColumn("cum", sum($"c").over(wCum))
      .withColumn("n", sum($"c").over(Window.partitionBy($"event_type")))
      .groupBy($"event_type")
      .agg(max($"n").as("n"),
        min(when($"cum" >= expr("((n - 1) * 50) div 100") + 1, $"cents"))
          .as("lo"),
        min(when($"cum" >= least(expr("((n - 1) * 50) div 100") + 2, $"n"),
          $"cents")).as("hi"))
      .select($"event_type",
        ($"lo" + when(expr("((n - 1) * 50) % 100") === 0, $"lo")
          .otherwise($"hi")).as("med2"))
    val signed = pts.join(broadcast(med), Seq("event_type"))
      .withColumn("sgn", when($"cents" * 2 > $"med2", 1L)
        .when($"cents" * 2 < $"med2", -1L))
      .filter($"sgn".isNotNull)
    val wSeq = Window.partitionBy($"event_type").orderBy($"ts", $"event_id")
    val runs = signed
      .withColumn("brk",
        when(lag($"sgn", 1).over(wSeq).isNull ||
          lag($"sgn", 1).over(wSeq) =!= $"sgn", 1L).otherwise(0L))
      .groupBy($"event_type")
      .agg(sum(when($"sgn" === 1L, 1L).otherwise(0L)).as("n_pos"),
        sum(when($"sgn" === -1L, 1L).otherwise(0L)).as("n_neg"),
        sum($"brk").as("runs"))
    val n1 = $"n_pos".cast("double"); val n2 = $"n_neg".cast("double")
    val nn = n1 + n2
    val mu = lit(1.0) + lit(2.0) * n1 * n2 / nn
    val sig2 = (lit(2.0) * n1 * n2 * (lit(2.0) * n1 * n2 - nn)) /
      (nn * nn * (nn - lit(1.0)))
    runs.select($"event_type", $"n_pos", $"n_neg", $"runs",
        round(($"runs".cast("double") - mu) / sqrt(sig2), 6).as("z_score"))
      .orderBy($"event_type")
  }

  /** A45 2-D skyline / Pareto frontier ("cheapest AND smallest" —
    * the dominance query behind best-offer pickers and
    * multi-objective pruning): minimize (price, quantity) over the
    * distinct value pairs. NOT the naive quadratic dominance
    * self-join: on distinct points, q is dominated iff
    * min y over {x' < x} ≤ y  OR  min y over {x' = x} < y,
    * so the skyline is TWO window functions over the distinct-pair
    * frame after one dedup aggregate. The prefix min is decomposed
    * two-level (in-bucket range window + exclusive running min over
    * the BUCKET-count frame broadcast back — the F14 cumsum shape
    * with min) so no single-task global window exists at 100 TB.
    * All integer cents/units — dominance has no epsilon. */
  def skyline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val pts = Tables.lineitem(s, dir)
      .select(round($"l_extendedprice" * 100).cast("long").as("price_c"),
        $"l_quantity".cast("long").as("qty"))
      .distinct()
      .withColumn("bkt", expr("price_c div 100000"))
    // in-bucket strict-prefix min of qty (range window on price)
    val wIn = Window.partitionBy($"bkt").orderBy($"price_c")
      .rangeBetween(Window.unboundedPreceding, -1)
    // exclusive prior-bucket running min over the bucket-sized frame
    val wBkt = Window.orderBy($"bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bktMin = pts.groupBy($"bkt").agg(min($"qty").as("bmin"))
      .withColumn("prior_min", min($"bmin").over(wBkt))
      .select($"bkt", $"prior_min")
    val wSame = Window.partitionBy($"price_c")
    pts
      .join(broadcast(bktMin), Seq("bkt"))
      .withColumn("in_min", min($"qty").over(wIn))
      .withColumn("prev_min", least(
        coalesce($"in_min", lit(Long.MaxValue)),
        coalesce($"prior_min", lit(Long.MaxValue))))
      .withColumn("same_min", min($"qty").over(wSame))
      .filter($"prev_min" > $"qty" && $"same_min" === $"qty")
      .select($"price_c", $"qty")
      .orderBy($"price_c")
  }

  /** A46's customer spend frame: per customer, the total `cents`, its
    * range bucket `bkt` and its 1-based rank `i` in (cents, custkey)
    * order, plus the customer count `n_all`. The rank is a
    * bucket-partitioned row_number plus the bucket's broadcast
    * offset, so no single task ranks every customer. */
  private def rankedSpend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // the customer-aggregate frame feeds four branches (bucket
    // counts, offsets, rank join, totals); AQE exchange reuse shares
    // the one orders scan+agg across them (measured: a localCheckpoint
    // here was slower — it serializes an extra materialization job)
    val spend = Tables.orders(s, dir)
      .groupBy($"o_custkey")
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("cents"))
      .withColumn("bkt", expr("cents div 1000000"))
    val bktCnt = spend.groupBy($"bkt").agg(count(lit(1)).as("bc"))
    val offs = bktCnt.as("x")
      .join(bktCnt.as("y"), col("y.bkt") < col("x.bkt"), "left")
      .groupBy(col("x.bkt").as("bkt"))
      .agg(coalesce(sum(col("y.bc")), lit(0L)).as("off"))
    val nAll = bktCnt.agg(sum($"bc").as("n_all"))
    val wIn = Window.partitionBy($"bkt").orderBy($"cents", $"o_custkey")
    val ranked = spend
      .join(broadcast(offs), Seq("bkt"))
      .crossJoin(broadcast(nAll))
      .withColumn("i", ($"off" + row_number().over(wIn)).cast("long"))
    ranked
  }

  /** A46 Lorenz curve + Gini COEFFICIENT of revenue concentration
    * (the "what share of spend do the top customers carry"
    * statistic — and, for a corpus, the domain-concentration audit
    * F21 caps against): per-customer spend in exact cents, ranked
    * ascending, G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) with both
    * numerator terms exact decimal(38,0) product-sums (rank ties
    * carry equal x, so Σi·xᵢ is tie-order invariant — the statistic
    * is deterministic even though row_number is not). Deciles via
    * the ntile bucket formula over the same (spend, custkey) total
    * order; cumulative share exported as integer ppm.
    *
    * Scale shape: the global rank is DECOMPOSED two-level (the
    * A45/F14 pattern) — range-bucket on cents (ties share a bucket,
    * so bucket order extends the (cents, custkey) total order),
    * row_number INSIDE each bucket, cross-bucket offsets from the
    * bucket-count frame via a broadcast non-equi self-join — so no
    * single-task WindowExec ever touches the customer-cardinality
    * frame, and ntile is replaced by its closed-form bucket formula
    * over (i, n). The decile cumsum is a ≤10-row self-join. */
  def lorenzGini(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ranked = rankedSpend(s, dir)
      // Spark's ntile(10) in closed form: the first n%10 tiles carry
      // ceil(n/10) rows, the rest floor(n/10); CASE short-circuits so
      // the floor-division branch never runs when n < 10
      .withColumn("decile", expr(
        "cast(case when i <= (n_all % 10) * (n_all div 10 + 1) " +
          "then (i - 1) div (n_all div 10 + 1) + 1 " +
          "else (n_all % 10) + " +
          "(i - (n_all % 10) * (n_all div 10 + 1) - 1) div (n_all div 10)" +
          " + 1 end as bigint)"))
    val tot = ranked.groupBy().agg(
      count(lit(1)).as("n"),
      sum($"cents".cast("decimal(38,0)")).as("sx"),
      sum(($"i".cast("decimal(38,0)") * $"cents")).as("six"))
      .select($"n", $"sx",
        round((lit(2).cast("decimal(38,0)") * $"six" -
            ($"n" + 1).cast("decimal(38,0)") * $"sx").cast("double") /
          ($"n".cast("double") * $"sx".cast("double")), 6).as("gini"))
    val deciles = ranked.groupBy($"decile")
      .agg(count(lit(1)).as("n_cust"),
        sum($"cents".cast("decimal(38,0)")).as("dec_cents"))
    // cumulative spend over the ≤10-row decile frame: a broadcast
    // non-equi self-join, not an unpartitioned running-sum window
    deciles.as("x")
      .join(broadcast(deciles.as("y")),
        col("y.decile") <= col("x.decile"))
      .groupBy(col("x.decile").as("decile"),
        col("x.n_cust").as("n_cust"),
        col("x.dec_cents").as("dec_cents"))
      .agg(sum(col("y.dec_cents")).as("cum_cents"))
      .crossJoin(tot)
      .select($"decile", $"n_cust",
        $"dec_cents".cast("double").as("dec_dollars_x100"),
        expr("cum_cents * 1000000 div sx").as("cum_ppm"),
        $"gini")
      .orderBy($"decile")
  }

  /** A65 ABC / PARETO classification (the inventory-analytics
    * 80/15/5 rule next to A52's Lorenz curve — Lorenz MEASURES the
    * concentration, ABC ACTS on it: A-parts get tight management,
    * C-parts get bulk policies): parts ranked by exact cent·percent
    * revenue desc, class A while the cumulative share ≤ 80%, B to
    * 95%, else C; per-class summary row. ALL integer: the class
    * predicate cross-multiplies (cum·100 vs thresh·total), so no
    * float ever decides a boundary. Scale note: the cumulative sum
    * runs over the distinct-part frame (never the lineitem corpus)
    * and is two-level bucket-decomposed in the body below; the
    * summary output is 3 rows. */
  def abcPareto(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val rev = Tables.lineitem(s, dir)
      .groupBy($"l_partkey")
      .agg(expr("sum(cast(round(l_extendedprice * 100) as bigint) * " +
        "(100 - cast(round(l_discount * 100) as bigint)))").as("cp"))
      .withColumn("bkt", expr("cp div 100000000"))
      // the part-aggregate frame feeds three branches (total collect,
      // bucket sums, the classed join) — one lineitem scan, not three
      .localCheckpoint()
    val tot = rev.agg(sum($"cp".cast("decimal(38,0)"))).collect()(0)
      .getDecimal(0).toBigInteger.longValueExact()
    // cumulative revenue DECOMPOSED two-level (the A45/F14 pattern):
    // range-bucket on cp (equal cp shares a bucket, so descending
    // bucket order extends the (cp desc, partkey) total order),
    // in-bucket running sum, cross-bucket offsets from the
    // bucket-total frame via a broadcast non-equi self-join — no
    // single-task WindowExec touches the part-cardinality frame
    val bktSum = rev.groupBy($"bkt")
      .agg(sum($"cp".cast("decimal(38,0)")).as("bs"))
    val offs = bktSum.as("x")
      .join(bktSum.as("y"), col("y.bkt") > col("x.bkt"), "left")
      .groupBy(col("x.bkt").as("bkt"))
      .agg(coalesce(sum(col("y.bs")),
        lit(0).cast("decimal(38,0)")).as("prior"))
    val wIn = Window.partitionBy($"bkt")
      .orderBy($"cp".desc, $"l_partkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val classed = rev
      .join(broadcast(offs), Seq("bkt"))
      .withColumn("cum",
        $"prior" + sum($"cp".cast("decimal(38,0)")).over(wIn))
      .withColumn("abc",
        // cross-multiply in decimal(38,0): cum·100 wraps int64 past
        // total cent-percent revenue ~9.2e16 (≈ sf40) — same overflow
        // share_ppm already dodges; the DuckDB twin is HUGEINT
        when($"cum".cast("decimal(38,0)") * 100 <=
            lit(tot).cast("decimal(38,0)") * 80, "A")
          .when($"cum".cast("decimal(38,0)") * 100 <=
            lit(tot).cast("decimal(38,0)") * 95, "B")
          .otherwise("C"))
    classed.groupBy($"abc")
      .agg(count(lit(1)).as("n_parts"),
        sum($"cp".cast("decimal(38,0)")).cast("long").as("rev_cp"))
      // ×10⁶ overflows int64 on the A class — divide in decimal
      .withColumn("share_ppm", expr(
        s"cast((cast(rev_cp as decimal(38,0)) * 1000000) div ${tot}L" +
          " as bigint)"))
      .orderBy($"abc")
  }

  /** A66 PRICE INDEX pair — Laspeyres / Paasche / Fisher (the CPI
    * construction, ILO CPI manual ch. 15; squarely the reference
    * project's economics register: its value-added price series IS a
    * published index like this one): over parts traded in BOTH 1996
    * and 1997, base-quantity-weighted L = Σp₁q₀/Σp₀q₀,
    * current-weighted P = Σp₁q₁/Σp₀q₁, and their geometric-mean
    * Fisher ideal.
    *
    * Exactness: per-(part, year) unit prices quantize to integer
    * MICRO-CENTS per unit (cents·10⁶ div qty — floor-div, the
    * documented quantization), so all four Σp·q weights are EXACT
    * order-free BIGINT aggregates and each index is ONE IEEE
    * division; Fisher is one sqrt of their product. No corpus-sized
    * float fold anywhere (the F39 argument). Σp·q ≈ 10¹⁷ at sf0.1 —
    * switch the weight sums to decimal(38,0) past ~100× that. */
  def priceIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val py = Tables.lineitem(s, dir)
      .filter(year($"l_shipdate").isin(1996, 1997))
      .groupBy($"l_partkey", year($"l_shipdate").as("yr"))
      .agg(sum(round($"l_extendedprice" * 100).cast("long")).as("cents"),
        sum(round($"l_quantity").cast("long")).as("qty"))
      .filter($"qty" > 0)
      .withColumn("price_u", expr("cents * 1000000 div qty"))
    val matched = py.filter($"yr" === 1996)
      .select($"l_partkey", $"price_u".as("p0"), $"qty".as("q0"))
      .join(py.filter($"yr" === 1997)
        .select($"l_partkey", $"price_u".as("p1"), $"qty".as("q1")),
        "l_partkey")
    matched.agg(count(lit(1)).as("n_parts"),
        sum($"p1" * $"q0").as("l_num"), sum($"p0" * $"q0").as("l_den"),
        sum($"p1" * $"q1").as("p_num"), sum($"p0" * $"q1").as("p_den"))
      .select($"n_parts",
        round($"l_num".cast("double") / $"l_den".cast("double"), 6)
          .as("laspeyres"),
        round($"p_num".cast("double") / $"p_den".cast("double"), 6)
          .as("paasche"),
        round(sqrt(($"l_num".cast("double") / $"l_den".cast("double")) *
          ($"p_num".cast("double") / $"p_den".cast("double"))), 6)
          .as("fisher"))
  }

  /** A47 two-proportion z-test over an A/B assignment (the
    * experimentation readout: "did the B cohort convert more?"):
    * cohort = user_id parity (the deterministic stand-in for an
    * assignment column), conversion = ≥1 purchase event. Counts are
    * one exact distinct-user aggregate; rates export as integer ppm
    * (floor-div); z = (p̂₁−p̂₂)/√(p̂(1−p̂)(1/n₁+1/n₂)) with the pooled
    * p̂ — ONE pinned single-row IEEE sequence over exact integers,
    * the A40/A42 posture. Corpus cost: one aggregate to two rows. */
  def abTest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perUser = Tables.events(s, dir)
      .groupBy($"user_id")
      .agg(max(when($"event_type" === "purchase", 1L).otherwise(0L))
        .as("converted"))
      .select(($"user_id" % 2).as("cohort"), $"converted")
    val g = perUser.groupBy($"cohort")
      .agg(count(lit(1)).as("n"), sum($"converted").as("conv"))
    val a = g.filter($"cohort" === 0)
      .select($"n".as("n_a"), $"conv".as("conv_a"))
    val b = g.filter($"cohort" === 1)
      .select($"n".as("n_b"), $"conv".as("conv_b"))
    val na = $"n_a".cast("double"); val nb = $"n_b".cast("double")
    val pa = $"conv_a".cast("double") / na
    val pb = $"conv_b".cast("double") / nb
    val pp = ($"conv_a" + $"conv_b").cast("double") / (na + nb)
    a.crossJoin(b)
      .select($"n_a", $"conv_a", $"n_b", $"conv_b",
        expr("conv_a * 1000000 div n_a").as("rate_a_ppm"),
        expr("conv_b * 1000000 div n_b").as("rate_b_ppm"),
        // degenerate experiment (everyone or no one converted):
        // pooled variance 0, z undefined → null, both engines
        when($"conv_a" + $"conv_b" > 0 &&
            $"conv_a" + $"conv_b" < $"n_a" + $"n_b",
          round((pa - pb) /
            sqrt(pp * (lit(1.0) - pp) *
              (lit(1.0) / na + lit(1.0) / nb)), 6)).as("z_score"))
  }

  /** A69 SAMPLE-SIZE / power analysis for the A47 experiment (the
    * planning twin every A/B readout needs BEFORE the test runs —
    * "how many users per arm to detect a 10% lift at α=.05,
    * power .80": the two-proportion formula n = (z_{α/2}·√(2p̄(1−p̄))
    * + z_β·√(p₁(1−p₁)+p₂(1−p₂)))²/δ² at relative lifts 5/10/20%
    * off the corpus's OWN observed conversion rate): z constants as
    * shared 17-digit literals (the B55 contract), the quadratic
    * written as q·q — pow() is not ulp-identical to repeated
    * multiplication (the B55 finding, dodged again) — and ONE pinned
    * IEEE sequence into a ceil. Degenerate baselines (p₁ = 0 or
    * p₂ ≥ 1) null. */
  def powerAnalysis(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.events(s, dir)
      .groupBy($"user_id")
      .agg(max(when($"event_type" === "purchase", 1L).otherwise(0L))
        .as("converted"))
      .agg(count(lit(1)).as("n_users"), sum($"converted").as("n_conv"))
    val za = lit(1.9599639845400545)
    val zb = lit(0.8416212335729143)
    base
      .select($"n_users", $"n_conv",
        explode(array(lit(5L), lit(10L), lit(20L))).as("lift_pct"))
      .withColumn("p1", $"n_conv".cast("double") / $"n_users".cast("double"))
      .withColumn("p2",
        $"p1" * (lit(1.0) + $"lift_pct".cast("double") / lit(100.0)))
      .withColumn("pbar", ($"p1" + $"p2") / lit(2.0))
      // q guarded INSIDE the expression: past-1 targets would feed
      // sqrt a negative — NaN in Spark but an ERROR in the twin
      .withColumn("q",
        when($"n_conv" > 0L && $"p2" < 1.0,
          za * sqrt(lit(2.0) * $"pbar" * (lit(1.0) - $"pbar")) +
            zb * sqrt($"p1" * (lit(1.0) - $"p1") +
              $"p2" * (lit(1.0) - $"p2"))))
      .select($"lift_pct", $"n_users", $"n_conv",
        round($"p1", 6).as("p_base"),
        ceil(($"q" * $"q") / (($"p2" - $"p1") * ($"p2" - $"p1")))
          .cast("long").as("n_per_group"))
      .orderBy($"lift_pct")
  }

  /** A48 market-basket association (support/confidence/lift for
    * co-ordered part pairs — the "customers who bought A also
    * bought B" readout): pairs from the same per-order self-join
    * the triangle counter uses (a < b canonical, DISTINCT per
    * order so a duplicated line doesn't double-count a basket),
    * item and pair counts exact BIGINT, and every ratio exported as
    * an INTEGER ppm floor-div — support n_ab/N, confidence
    * n_ab/n_a, lift n_ab·N/(n_a·n_b) (cross-multiplied in
    * decimal(38,0) before the one div) — so ranking by lift has no
    * float anywhere. Min-support 3 keeps the tail honest; top-20 by
    * (lift desc, a, b). Σ basket² pair cost, the D2 bound. */
  def basketLift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_partkey").distinct()
    val nOrders = Tables.orders(s, dir).groupBy()
      .agg(count(lit(1)).as("n_orders"))
    basketLiftOn(li, nOrders)
  }

  /** [[basketLift]] core on an arbitrary (basket, item) frame —
    * exposed so scale stresses can drive it with synthesized
    * baskets; `nOrders` is a 1-row (n_orders) frame so the universe
    * size can exceed the distinct baskets present. */
  def basketLiftOn(li: DataFrame, nOrders: DataFrame): DataFrame = {
    val s = li.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val item = li.groupBy($"l_partkey".as("part"))
      .agg(count(lit(1)).as("n_part"))
    val pairs = li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
      .groupBy(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter($"n_ab" >= 3)
    val scored = pairs
      .join(item.select($"part".as("a"), $"n_part".as("n_a")), "a")
      .join(item.select($"part".as("b"), $"n_part".as("n_b")), "b")
      .crossJoin(nOrders)
      .select($"a", $"b", $"n_ab", $"n_a", $"n_b",
        expr("n_ab * 1000000 div n_orders").as("supp_ppm"),
        expr("n_ab * 1000000 div n_a").as("conf_ppm"),
        expr("cast(cast(n_ab as decimal(38,0)) * n_orders * 1000000 " +
          "div (cast(n_a as decimal(38,0)) * n_b) as bigint)")
          .as("lift_ppm"))
    // top-20 via orderBy+limit (TakeOrderedAndProject — the
    // countMinOn/cdc_paths pattern: never an unpartitioned window
    // over the superlinear Σ basket² pair frame); the rank window
    // then runs on the 20-row result only
    scored.orderBy($"lift_ppm".desc, $"a", $"b").limit(20)
      .withColumn("rk", row_number().over(
        Window.orderBy($"lift_ppm".desc, $"a", $"b")).cast("long"))
      .orderBy($"rk")
  }

  /** A49 two-feature RIDGE regression per return flag (sklearn
    * `Ridge(fit_intercept=False)` twin — the shrunk linear probe a
    * feature-quality audit fits): β = (XᵀX + λI)⁻¹Xᵀy solved in
    * CLOSED FORM by Cramer's rule on the 2×2 normal equations, with
    * every Gram/moment entry an EXACT decimal(38,0) integer sum
    * (quantity, line number, cents), λ = 1000 an integer, so det
    * and both β numerators are exact decimals and the ONLY doubles
    * are the two final divisions (identical IEEE both engines). No
    * iterative solver, no matrix library, one map-side-combined
    * corpus aggregate to 3 rows. */
  def ridge2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lam = 1000L
    val g = Tables.lineitem(s, dir)
      .select($"l_returnflag".as("flag"),
        $"l_quantity".cast("long").as("x1"),
        $"l_linenumber".cast("long").as("x2"),
        round($"l_extendedprice" * 100).cast("long").as("y"))
      .groupBy($"flag")
      .agg(count(lit(1)).as("n"),
        sum($"x1".cast("decimal(38,0)") * $"x1").as("s11"),
        sum($"x1".cast("decimal(38,0)") * $"x2").as("s12"),
        sum($"x2".cast("decimal(38,0)") * $"x2").as("s22"),
        sum($"x1".cast("decimal(38,0)") * $"y").as("b1"),
        sum($"x2".cast("decimal(38,0)") * $"y").as("b2"))
    val det = ($"s11" + lam) * ($"s22" + lam) - $"s12" * $"s12"
    g.select($"flag", $"n",
        round(((($"s22" + lam) * $"b1" - $"s12" * $"b2").cast("double")) /
          det.cast("double"), 6).as("beta_qty"),
        round(((($"s11" + lam) * $"b2" - $"s12" * $"b1").cast("double")) /
          det.cast("double"), 6).as("beta_line"))
      .orderBy($"flag")
  }

  /** A50 1-D Wasserstein-1 (earth mover's) distance between the
    * returned and delivered price distributions (scipy
    * `wasserstein_distance` twin — the INTEGRATED distribution-shift
    * metric where A39's KS takes the max; small persistent drift
    * that never spikes the ECDF gap still moves mass): over the
    * shared value-domain histogram,
    * W₁ = Σ_v |F_R(v) − F_N(v)|·Δv, computed ENTIRELY in integers —
    * the ECDF difference cross-multiplied (|cumR·nN − cumN·nR| in
    * decimal(38,0), the A39 posture), times the BIGINT gap to the
    * next distinct value, summed exactly; the ONE division by
    * nR·nN·100 happens at export. Same single-aggregate +
    * histogram-window shape as A39 — the corpus shuffles once. */
  def wasserstein(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val wLead = Window.orderBy($"cents")
    val cum = ecdfs(returnedCleanCents(s, dir))
      .withColumn("gap", lead($"cents", 1).over(wLead) - $"cents")
      .filter($"gap".isNotNull)
      .withColumn("term",
        abs($"cumr".cast("decimal(38,0)") * $"nn" -
          $"cumn".cast("decimal(38,0)") * $"nr") * $"gap")
    cum.groupBy()
      .agg(max($"nr").as("n_r"), max($"nn").as("n_n"),
        sum($"term").as("wnum"))
      .select($"n_r", $"n_n",
        round($"wnum".cast("double") /
          ($"n_r".cast("double") * $"n_n".cast("double") * 100.0), 6)
          .as("w1_dollars"))
  }

  /** A51 Herfindahl-Hirschman concentration index per market
    * (antitrust's market-power statistic — and the per-nation twin
    * of A46's global Gini): market = supplier nation, shares =
    * supplier revenue within the nation. HHI = Σ shareᵢ² in the
    * conventional 0..10000 points scale, computed EXACTLY:
    * Σcᵢ²·10⁴ div (Σc)² with the numerator an exact decimal(38,0)
    * product-sum — no per-supplier float share anywhere, so the
    * concentration ranking is bit-deterministic. One revenue
    * aggregate + one nation aggregate; nation dim broadcast. */
  def hhi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rev = Tables.lineitem(s, dir)
      .join(Tables.supplier(s, dir).select($"s_suppkey", $"s_nationkey"),
        $"l_suppkey" === $"s_suppkey")
      .groupBy($"s_nationkey", $"s_suppkey")
      .agg(sum(round($"l_extendedprice" * 100).cast("long")).as("cents"))
    rev.groupBy($"s_nationkey".cast("long").as("nation"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum($"cents".cast("decimal(38,0)")).as("tot"),
        sum(($"cents".cast("decimal(38,0)") * $"cents")).as("sq"))
      .select($"nation", $"n_suppliers",
        expr("cast(sq * 10000 div (tot * tot) as bigint)")
          .as("hhi_points"))
      .orderBy($"nation")
  }

  /** A52 Cramér's V (the normalized χ²-association measure — the
    * number an analyst actually compares across tables, since χ²
    * grows with n): contingency over lineitem's returnflag × linestatus,
    * cells/margins exact BIGINT, per-cell χ² terms summed in a
    * PINNED (flag, mode) order via the A36 sorted-struct fold, then
    * V = √(χ²/(n·min(r−1, c−1))) — one division and one sqrt over
    * the fold result, the identical IEEE tail in both engines.
    * Shape: one cell aggregate + margin windows over the CELL table
    * (r·c rows, never the fact table) + one global fold. */
  def cramersV(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val cells0 = Tables.lineitem(s, dir)
      .groupBy($"l_returnflag".as("flag"), $"l_linestatus".as("mode"))
      .agg(count(lit(1)).as("obs"))
    // densify: a (flag, mode) combination with NO rows still
    // contributes (0−E)²/E — dropping zero cells understates χ²
    // (V of a perfectly-associated diagonal would come out 1/√2)
    val cells = cells0.select($"flag").distinct()
      .crossJoin(cells0.select($"mode").distinct())
      .join(cells0, Seq("flag", "mode"), "left")
      .na.fill(0L, Seq("obs"))
    val t = cells
      .withColumn("row_total", sum($"obs").over(Window.partitionBy($"flag")))
      .withColumn("col_total", sum($"obs").over(Window.partitionBy($"mode")))
      .withColumn("n", sum($"obs").over(Window.partitionBy()))
    val e = ($"row_total" * $"col_total").cast("double") / $"n".cast("double")
    val c2 = t.select($"flag", $"mode", $"n",
      (($"obs".cast("double") - e) * ($"obs".cast("double") - e) / e)
        .as("chi_cell"))
    c2.agg(
        max($"n").as("n"),
        aggregate(sort_array(collect_list(struct($"flag", $"mode",
          $"chi_cell"))), lit(0.0), (acc, x) => acc + x("chi_cell"))
          .as("chi2"),
        countDistinct($"flag").as("r"),
        countDistinct($"mode").as("c"))
      .select($"n", $"r", $"c", $"chi2",
        sqrt($"chi2" / ($"n".cast("double") *
          least($"r" - 1, $"c" - 1).cast("double"))).as("v"))
  }

  /** A53 two-feature PCA per group (closed-form 2×2 eigen — the
    * variance-structure probe a feature pipeline runs before deciding
    * whether two signals are redundant): Gram entries for
    * (quantity, price-cents) are EXACT decimal sums; the n-scaled
    * covariance entries a = n·Σx²−(Σx)², b = n·Σxy−ΣxΣy,
    * c = n·Σy²−(Σy)² leave integer land in ONE decimal→double cast
    * each (correctly rounded in both engines), and the eigenvalues
    * are the quadratic closed form λ± = (tr ± √((a−c)²+4b²))/2
    * normalized by n² — population-covariance eigenvalues — with
    * evr = λ₁/(λ₁+λ₂) the explained-variance ratio. Every post-cast
    * op is the same IEEE sequence; no iteration, no library call.
    * Shape: one map-side-combined aggregate, group-count output. */
  def pca2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val g = Tables.lineitem(s, dir)
      .select($"l_returnflag".as("flag"),
        $"l_quantity".cast("long").as("x"),
        round($"l_extendedprice" * 100).cast("long").as("y"))
      .groupBy($"flag")
      .agg(count(lit(1)).as("n"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x".cast("decimal(38,0)") * $"x").as("sxx"),
        sum($"x".cast("decimal(38,0)") * $"y").as("sxy"),
        sum($"y".cast("decimal(38,0)") * $"y").as("syy"))
    g.select($"flag", $"n",
        ($"n" * $"sxx" - $"sx".cast("decimal(38,0)") * $"sx")
          .cast("double").as("a"),
        ($"n" * $"sxy" - $"sx".cast("decimal(38,0)") * $"sy")
          .cast("double").as("b"),
        ($"n" * $"syy" - $"sy".cast("decimal(38,0)") * $"sy")
          .cast("double").as("c"))
      .select($"flag", $"n", ($"a" + $"c").as("tr"),
        sqrt(($"a" - $"c") * ($"a" - $"c") + lit(4.0) * $"b" * $"b")
          .as("disc"),
        ($"n" * $"n").cast("double").as("nn"))
      .select($"flag", $"n",
        (($"tr" + $"disc") / 2.0 / $"nn").as("lam1"),
        (($"tr" - $"disc") / 2.0 / $"nn").as("lam2"))
      .select($"flag", $"n", $"lam1", $"lam2",
        ($"lam1" / ($"lam1" + $"lam2")).as("evr"))
      .orderBy($"flag")
  }

  /** A54 price elasticity per brand (the ln-ln demand slope an
    * economist fits first): per (brand, year, month) the exact
    * aggregates Q = Σqty and R = Σcents; each month contributes the
    * point (x, y) = (ln(R/Q), ln Q) — one identical double division,
    * then libm ln — and the per-brand OLS slope is the elasticity.
    * Sums fold in PINNED (yr, m) order (the F26 sorted-struct
    * pattern); export rounds to 4 dp, absorbing last-ulp libm skew.
    * Brands with <3 months are excluded (a 2-point fit is noise).
    * One aggregate + one bounded fold per brand. */
  def elasticity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pts = Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir).select($"p_partkey", $"p_brand")),
        $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand".as("brand"),
        year($"l_shipdate").as("yr"), month($"l_shipdate").as("m"))
      .agg(sum($"l_quantity".cast("long")).as("q"),
        sum(round($"l_extendedprice" * 100).cast("long")).as("r"))
      .filter($"q" > 0)
      .select($"brand", $"yr", $"m",
        expr("ln(cast(r as double) / cast(q as double))").as("x"),
        expr("ln(cast(q as double))").as("y"))
    pts.groupBy($"brand")
      .agg(count(lit(1)).as("n_months"),
        sort_array(collect_list(struct($"yr", $"m", $"x", $"y"))).as("ps"))
      .filter($"n_months" >= 3)
      .select($"brand", $"n_months",
        expr("aggregate(ps, 0D, (a, p) -> a + p.x)").as("sx"),
        expr("aggregate(ps, 0D, (a, p) -> a + p.y)").as("sy"),
        expr("aggregate(ps, 0D, (a, p) -> a + p.x * p.y)").as("sxy"),
        expr("aggregate(ps, 0D, (a, p) -> a + p.x * p.x)").as("sxx"))
      .select($"brand", $"n_months",
        round(($"n_months" * $"sxy" - $"sx" * $"sy") /
          ($"n_months" * $"sxx" - $"sx" * $"sx"), 4).as("elasticity"))
      .orderBy($"brand")
  }

  /** A55 Theil T inequality index per nation over supplier revenue —
    * the decomposable complement of A34's Gini (Theil splits into
    * within/between-group terms, which is why inequality audits
    * carry both): T = Σᵢ (xᵢ/X)·ln(n·xᵢ/X) over each nation's
    * supplier revenue cents. Terms fold in PINNED supplier order;
    * the share and its log run the same IEEE/libm sequence in both
    * engines; round-4 export. Zero-revenue suppliers are excluded
    * (ln 0; the standard convention treats their contribution as 0).
    * Shape: one supplier aggregate + one per-nation fold. */
  def theilIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val rev = Tables.lineitem(s, dir)
      .join(Tables.supplier(s, dir).select($"s_suppkey", $"s_nationkey"),
        $"l_suppkey" === $"s_suppkey")
      .groupBy($"s_nationkey".cast("long").as("nation"), $"s_suppkey")
      .agg(sum(round($"l_extendedprice" * 100).cast("long")).as("cents"))
      .filter($"cents" > 0)
    rev
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"nation")))
      .withColumn("tot",
        sum($"cents".cast("decimal(38,0)")).over(Window.partitionBy($"nation")))
      .groupBy($"nation")
      .agg(max($"n").as("n_suppliers"),
        sort_array(collect_list(struct($"s_suppkey",
          ($"cents".cast("double") / $"tot".cast("double")).as("share"),
          (($"n".cast("double") * $"cents".cast("double")) /
            $"tot".cast("double")).as("ratio")))).as("ps"))
      .select($"nation", $"n_suppliers",
        round(expr("aggregate(ps, 0D, (a, p) -> a + p.share * ln(p.ratio))"),
          4).as("theil_t"))
      .orderBy($"nation")
  }

  /** The contingency cells of `x` × `y` over `df` (`x`, `y`, count
    * `n_xy`, checkpointed) joined to their row and column margins
    * `n_x`, `n_y`, and the total count: the frame of A61's mutual
    * information and A91's G-test. */
  private def crossCells(df: DataFrame, x: Column,
      y: Column): (DataFrame, Long) = {
    import df.sparkSession.implicits._
    val cells = df
      .groupBy(x.as("x"), y.as("y"))
      .agg(count(lit(1)).as("n_xy"))
      .localCheckpoint()
    val rx = cells.groupBy($"x").agg(sum($"n_xy").as("n_x"))
    val cy = cells.groupBy($"y").agg(sum($"n_xy").as("n_y"))
    val n = cells.agg(sum($"n_xy")).collect()(0).getLong(0)
    (cells.join(rx, "x").join(cy, "y"), n)
  }

  /** A61 mutual information between event type and ISO day-of-week
    * (Cover/Thomas §2.3 — the dependence screen a feature-selection
    * or drift monitor runs where A36's χ² tests significance: MI
    * measures the SIZE of the association in nats):
    * I(X;Y) = Σ_xy (n_xy/N)·ln(N·n_xy/(n_x·n_y)) over OBSERVED cells
    * (an empty cell's 0·ln0 term is 0 by the standard convention, so
    * no densification). All counts integer; each cell's contribution
    * is one identical IEEE sequence in both engines and the total
    * folds in SORTED (event_type, iso_dow) order with a 0-init left
    * fold (the A36/F16 precedent); the export rounds to 6. Shape:
    * one map-side-combined cell aggregate (|X|·|Y| rows), margins by
    * re-aggregating the CELLS (never a second corpus scan), one
    * ordered fold over the tiny cell frame. */
  def mutualInfoOn(df: DataFrame, x: Column, y: Column): DataFrame = {
    import df.sparkSession.implicits._
    val (cells, n) = crossCells(df, x, y)
    cells
      .withColumn("contrib",
        ($"n_xy".cast("double") / lit(n.toDouble)) *
          log(lit(n.toDouble) * $"n_xy".cast("double") /
            ($"n_x".cast("double") * $"n_y".cast("double"))))
      .agg(lit(n).as("n"), count(lit(1)).as("n_cells"),
        round(aggregate(sort_array(collect_list(
            struct($"x", $"y", $"contrib"))),
          lit(0.0), (acc, x) => acc + x("contrib")), 6).as("mi_nats"))
  }

  /** q_mutual_info driver entry: event type × ISO day-of-week. */
  def mutualInfo(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mutualInfoOn(Tables.events(s, dir), $"event_type",
      expr("(((dayofweek(ts) + 5) % 7) + 1)").cast("long"))
  }

  /** A62 count-min sketch (Cormack/Muthukrishnan 2005 — THE bounded-
    * memory frequency sketch a 100 TB stream summarizes into kilobytes)
    * with its one-sided error EXACTLY replayed: d = 4 rows × w = 256
    * counters, pairwise-independent rows hᵢ(u) = ((aᵢ·u + bᵢ) mod p)
    * mod w with p = 2³¹−1 and literal aᵢ/bᵢ, estimate = minᵢ
    * counter[i][hᵢ(u)]. The sketch build is ONE map-side-combined
    * aggregate over per-user counts (4·256 = 1 024 counter rows of
    * driver-free state); the report joins the top-10 true heavy users
    * (count desc, user_id asc — F? Misra-Gries' deterministic tie
    * rule) against their 4 cells and takes the integer min, exposing
    * est ≥ true and the exact overcount. Every operation is int64
    * (u mod p first keeps aᵢ·u under 2.2·10¹⁸), so the oracle
    * reproduces the sketch bit-for-bit — an exactly-graded sketch
    * where A23's HLL can only be error-bounded. */
  def countMinOn(df: DataFrame, key: Column, topN: Int = 10): DataFrame = {
    import df.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val P = CmsP
    val A = CmsA
    val B = CmsB
    val users = df.select(key.as("user_id"))
      .groupBy($"user_id").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val hashes = (0 until 4).map { i =>
      struct(lit(i.toLong).as("row"),
        expr(s"((${A(i)} * (user_id % $P) + ${B(i)}) % $P) % $CmsW")
          .as("cell"))
    }
    val cells = users
      .select($"user_id", $"cnt", explode(array(hashes: _*)).as("h"))
      .select($"user_id", $"cnt", $"h.row".as("row"), $"h.cell".as("cell"))
    val sketch = cells.groupBy($"row", $"cell").agg(sum($"cnt").as("counter"))
    // top-10 via orderBy+limit (TakeOrderedAndProject — the text_jsd
    // lesson: never an unpartitioned window over the full frame);
    // the rank window then runs on the 10-row result only
    val top = users.orderBy($"cnt".desc, $"user_id").limit(topN)
      .withColumn("rk", row_number().over(
        Window.orderBy($"cnt".desc, $"user_id")).cast("long"))
    top.join(cells.drop("cnt"), Seq("user_id"))
      .join(sketch, Seq("row", "cell"))
      .groupBy($"user_id", $"cnt", $"rk")
      .agg(min($"counter").as("est"))
      .select($"rk", $"user_id", $"cnt".as("true_cnt"), $"est".as("est_cnt"),
        ($"est" - $"cnt").as("overcount"))
      .orderBy($"rk")
  }

  /** q_cms driver entry: heavy users of the event stream. */
  def countMin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    countMinOn(Tables.events(s, dir), $"user_id")
  }

  /** A63 K-ANONYMITY / L-DIVERSITY audit (Sweeney 2002 / Machanavajjhala
    * 2007 — the release gate run BEFORE publishing event data or
    * derived training sets: every quasi-identifier equivalence class
    * must hide each member among ≥ k rows, and the sensitive
    * attribute must take ≥ l values per class or the class leaks by
    * homogeneity; pairs with F13's PII scrub — scrubbing removes
    * direct identifiers, this audits the QUASI-identifiers scrubbing
    * cannot touch): classes over (event_type, ISO dow, 6-hour
    * bucket), sensitive attribute = user_id. ALL integer — counts,
    * exact distinct, two integer flag predicates. One
    * map-side-combined aggregate; the class frame is
    * QID-cardinality-sized (|types|·7·4), never corpus-sized. */
  def kAnonymity(df: DataFrame, k: Long = 50L, l: Long = 20L): DataFrame = {
    import df.sparkSession.implicits._
    df.groupBy($"event_type",
        expr("(((dayofweek(ts) + 5) % 7) + 1)").cast("long").as("iso_dow"),
        expr("hour(ts) div 6").cast("long").as("hod_bucket"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct($"user_id").as("n_users"))
      .select($"event_type", $"iso_dow", $"hod_bucket", $"n_rows",
        $"n_users",
        ($"n_rows" >= k).cast("long").as("k_anonymous"),
        ($"n_users" >= l).cast("long").as("l_diverse"))
      .orderBy($"event_type", $"iso_dow", $"hod_bucket")
  }

  /** q_k_anonymity driver entry. */
  def kAnonymityEvents(s: SparkSession, dir: String): DataFrame =
    kAnonymity(Tables.events(s, dir))

  /** A70 SIMPSON'S-PARADOX stratification audit (Simpson 1951 /
    * Bickel et al. 1975 — the Berkeley-admissions trap as an
    * operator: a pooled association that REVERSES inside every
    * stratum is a confounded readout, and nobody eyeballs 25
    * nation-level 2×2 tables; exposure = urgent order priority,
    * outcome = fulfilled status, strata = customer nation): per
    * stratum the 2×2 direction sign(a·d − b·c), pooled the same,
    * and the verdict counts agreeing vs flipped strata.
    *
    * Exactness: every direction is an INTEGER cross-product
    * comparison (decimal(38,0) == HUGEINT, never an OR division);
    * the pooled odds ratio exports as the only double. Strata with
    * a zero cell or a tied table are counted neither way
    * (n_undecided). */
  def simpson(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Tables.orders(s, dir)
      .select($"o_custkey",
        ($"o_orderpriority" === "1-URGENT").cast("long").as("x"),
        ($"o_orderstatus" === "F").cast("long").as("yy"))
      .join(Tables.customer(s, dir)
        .select($"c_custkey", $"c_nationkey"), $"o_custkey" === $"c_custkey")
    val cells = rows.groupBy($"c_nationkey".as("stratum"))
      .agg(sum($"x" * $"yy").as("a"),
        sum($"x" * (lit(1L) - $"yy")).as("b"),
        sum((lit(1L) - $"x") * $"yy").as("c"),
        sum((lit(1L) - $"x") * (lit(1L) - $"yy")).as("d"))
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val dirs = cells
      .withColumn("cross", dec($"a") * $"d" - dec($"b") * $"c")
      .withColumn("sgn", when($"cross" > 0, 1L)
        .when($"cross" < 0, -1L).otherwise(0L))
    val pooled = cells.agg(sum($"a").as("pa"), sum($"b").as("pb"),
      sum($"c").as("pc"), sum($"d").as("pd"))
      .withColumn("pcross", dec($"pa") * $"pd" - dec($"pb") * $"pc")
      .withColumn("psgn", when($"pcross" > 0, 1L)
        .when($"pcross" < 0, -1L).otherwise(0L))
      .withColumn("pooled_or",
        when($"pb" > 0 && $"pc" > 0,
          round((dec($"pa") * $"pd").cast("double") /
            (dec($"pb") * $"pc").cast("double"), 6)))
    dirs.crossJoin(broadcast(pooled))
      .groupBy($"psgn", $"pooled_or")
      .agg(count(lit(1)).as("n_strata"),
        sum(when($"sgn" =!= 0L && $"sgn" === $"psgn", 1L)
          .otherwise(0L)).as("n_agree"),
        sum(when($"sgn" =!= 0L && $"sgn" === -$"psgn", 1L)
          .otherwise(0L)).as("n_flipped"),
        sum(when($"sgn" === 0L, 1L).otherwise(0L)).as("n_undecided"))
      .select($"n_strata", $"pooled_or", $"psgn".as("pooled_sign"),
        $"n_agree", $"n_flipped", $"n_undecided",
        ($"n_flipped" > $"n_agree").cast("long").as("simpson_flag"))
  }

  /** A71 LAST-DIGIT uniformity test (the forensic-accounting
    * companion of A38's Benford first-digit law: first digits obey
    * Benford, LAST digits of organic amounts are UNIFORM — human
    * round-number invention fails each test in the opposite
    * direction): χ² over the 10 cent-digit cells of the order
    * totals vs χ²(9) = 16.919.
    *
    * Exactness: χ² against the rational expectation n/10 clears
    * denominators — χ² = Σ(10·oᵢ − n)²/(10n) — so the numerator is
    * ONE exact decimal(38,0) sum over the 10-cell frame and the
    * statistic is a single division; the flag compares the ROUNDED
    * χ² (the C66 lesson). */
  def lastDigit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val digits = Tables.orders(s, dir)
      .select((expr("cast(round(o_totalprice * 100) as bigint)") % 10L)
        .as("digit"))
      .groupBy($"digit").agg(count(lit(1)).as("o"))
    // a MISSING digit still deviates by the full expectation — the
    // 0..9 ladder keeps absent cells in the sum (the A38 trap)
    val full = s.range(0, 10).select($"id".as("digit"))
      .join(digits, Seq("digit"), "left")
      .withColumn("o", coalesce($"o", lit(0L)))
    val tot = full.agg(sum($"o").as("n"),
      sum(($"o" > 0L).cast("long")).as("n_nonzero"))
    full.crossJoin(broadcast(tot))
      .withColumn("dev", ($"o" * 10L - $"n").cast("decimal(38,0)"))
      .groupBy($"n", $"n_nonzero")
      .agg(sum($"dev" * $"dev").as("ssq"))
      .filter($"n" > 0L)
      .withColumn("chi2", round($"ssq".cast("double") /
        ($"n" * 10L).cast("double"), 6))
      .select($"n".as("n_orders"), $"n_nonzero", $"chi2",
        ($"chi2" > 16.919).cast("long").as("suspect_flag"))
  }

  /** A91 G-TEST of independence (Sokal/Rohlf — the likelihood-ratio
    * twin of A36's Pearson χ²: G = 2·Σ n·ln(n·N/(n_x·n_y)) is additive
    * across partitions of the table, which is why log-linear modeling
    * and every genomics pipeline prefer it; χ² and G agree
    * asymptotically but diverge exactly where small expected cells
    * make the choice matter): return flag × line status cells, exact
    * integer counts, margins re-aggregated from the CELLS; per-cell
    * contributions are one identical IEEE sequence folded in SORTED
    * (x, y) order with a 0-init left fold (the A61 precedent), df =
    * (r−1)(c−1) from exact distinct counts, round-4 export. */
  def gTest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (cells, n) = crossCells(Tables.lineitem(s, dir), $"l_returnflag",
      $"l_linestatus")
    cells
      .withColumn("contrib",
        lit(2.0) * $"n_xy".cast("double") *
          log(lit(n.toDouble) * $"n_xy".cast("double") /
            ($"n_x".cast("double") * $"n_y".cast("double"))))
      .agg(lit(n).as("n"),
        ((countDistinct($"x") - 1) * (countDistinct($"y") - 1))
          .cast("long").as("df"),
        round(aggregate(sort_array(collect_list(
            struct($"x", $"y", $"contrib"))),
          lit(0.0), (acc, c) => acc + c("contrib")), 4).as("g_stat"))
  }

  /** A92 COCHRAN-ARMITAGE TREND test (Cochran 1954 / Armitage 1955 —
    * the dose-response test A36's χ² cannot do: χ² asks "do the five
    * priority bands differ in failure rate AT ALL", this asks "does
    * the rate rise MONOTONICALLY with priority", one df instead of
    * four, which is the whole power gain): doses t_i = priority digit
    * 1..5, cases = F-status orders. T = Σ tᵢ(N·rᵢ − nᵢ·R) is an exact
    * BIGINT (the n-cleared form of Σ tᵢ(rᵢ − nᵢR/N)); Var·N =
    * R(N−R)·(N·Σtᵢ²nᵢ − (Σtᵢnᵢ)²) is exact decimal(38,0); Z =
    * T/√(Var(T)·N⁻¹·N²) folds into ONE division of one sqrt. */
  def cochranArmitage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def dec(c: Column) = c.cast("decimal(38,0)")
    val g = Tables.orders(s, dir)
      .select(substring($"o_orderpriority", 1, 1).cast("long").as("t"),
        when($"o_orderstatus" === "F", 1L).otherwise(0L).as("case"))
      .groupBy($"t")
      .agg(count(lit(1)).as("ni"), sum($"case").as("ri"))
      .localCheckpoint()
    val m = g.agg(sum($"ni").as("n"), sum($"ri").as("r"),
      sum(dec($"t") * $"ni").as("stn"),
      sum(dec($"t") * $"t" * $"ni").as("sttn"))
    g.crossJoin(broadcast(m))
      .groupBy($"n", $"r", $"stn", $"sttn")
      .agg(sum(dec($"t") * (dec($"n") * $"ri" - dec($"ni") * $"r"))
        .as("t_num"))
      .select($"n".as("n_orders"), $"r".as("n_cases"),
        $"t_num".cast("long").as("t_stat"),
        when(dec($"r") * (dec($"n") - $"r") *
            (dec($"n") * $"sttn" - $"stn" * $"stn") > 0,
          round($"t_num".cast("double") /
            sqrt((dec($"r") * (dec($"n") - $"r") *
              (dec($"n") * $"sttn" - $"stn" * $"stn")).cast("double") /
              $"n".cast("double")), 4)).as("z_trend"))
  }

  /** A93 YULE'S Q / YULE'S Y / PHI on one 2×2 (Yule 1900/1912 — the
    * three classical 2×2 association coefficients in one readout,
    * each with a different invariance: φ is the Pearson r of two 0/1
    * columns (margin-sensitive), Q = (ad−bc)/(ad+bc) is invariant to
    * row/column scaling (the epidemiologist's OR rescaled to [−1,1]),
    * Y = (√ad−√bc)/(√ad+√bc) halves Q's attenuation bias): exposure =
    * discount > 5%, outcome = returned; cells exact BIGINT, cross
    * products decimal(38,0), three scalar formulas, round-6. */
  def yuleQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def dec(c: Column) = c.cast("decimal(38,0)")
    Tables.lineitem(s, dir)
      .select(($"l_discount" > 0.05).as("e"),
        ($"l_returnflag" === "R").as("o"))
      .agg(sum(when($"e" && $"o", 1L).otherwise(0L)).as("a"),
        sum(when($"e" && !$"o", 1L).otherwise(0L)).as("b"),
        sum(when(!$"e" && $"o", 1L).otherwise(0L)).as("c"),
        sum(when(!$"e" && !$"o", 1L).otherwise(0L)).as("d"))
      .select($"a", $"b", $"c", $"d",
        when(dec($"a") * $"d" + dec($"b") * $"c" =!= 0,
          round((dec($"a") * $"d" - dec($"b") * $"c").cast("double") /
            (dec($"a") * $"d" + dec($"b") * $"c").cast("double"), 6))
          .as("yule_q"),
        when(dec($"a") * $"d" + dec($"b") * $"c" =!= 0,
          round((sqrt((dec($"a") * $"d").cast("double")) -
            sqrt((dec($"b") * $"c").cast("double"))) /
            (sqrt((dec($"a") * $"d").cast("double")) +
              sqrt((dec($"b") * $"c").cast("double"))), 6)).as("yule_y"),
        when(($"a" + $"b") * ($"c" + $"d") * ($"a" + $"c") *
            ($"b" + $"d") =!= 0,
          round((dec($"a") * $"d" - dec($"b") * $"c").cast("double") /
            sqrt((dec($"a" + $"b") * ($"c" + $"d") * ($"a" + $"c") *
              ($"b" + $"d")).cast("double")), 6)).as("phi"))
  }

  /** A94 FLEISS' KAPPA (Fleiss 1971 — the multi-rater agreement
    * coefficient text_kappa's two-rater Cohen cannot give: when n
    * raters each classify N items into k categories, are they
    * agreeing beyond chance? The standard gate on label-quality
    * before training on crowd labels): items = orders with EXACTLY
    * four lineitems (Fleiss requires constant raters per item),
    * raters = the four lineitems, categories = return flags.
    * P̄ = (Σᵢⱼ nᵢⱼ² − N·n)/(N·n(n−1)) and P̄ₑ = Σⱼ Cⱼ²/(N·n)² are exact
    * integer ratios; κ = (P̄−P̄ₑ)/(1−P̄ₑ) divides once at export. */
  def fleissKappa(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def dec(c: Column) = c.cast("decimal(38,0)")
    val li = Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_returnflag")
    val four = li.groupBy($"l_orderkey")
      .agg(count(lit(1)).as("nr")).filter($"nr" === 4)
      .select($"l_orderkey")
    val cells = li.join(four, "l_orderkey")
      .groupBy($"l_orderkey", $"l_returnflag")
      .agg(count(lit(1)).as("nij"))
      .localCheckpoint()
    val nItems = cells.select($"l_orderkey").distinct().count()
    val catTot = cells.groupBy($"l_returnflag")
      .agg(sum($"nij").as("cj"))
    val ssum = cells.agg(sum($"nij" * $"nij")).collect()(0).getLong(0)
    catTot
      .agg(sum(dec($"cj") * $"cj").as("scj2"))
      .select(lit(nItems).as("n_items"), lit(4L).as("n_raters"),
        lit(ssum).as("sum_nij_sq"),
        round(lit((ssum - 4L * nItems).toDouble / (12L * nItems)
          .toDouble), 6).as("p_bar"),
        round($"scj2".cast("double") /
          lit((4L * nItems).toDouble * (4L * nItems).toDouble), 6)
          .as("p_e"),
        round((lit((ssum - 4L * nItems).toDouble / (12L * nItems)
            .toDouble) -
          $"scj2".cast("double") / lit((4L * nItems).toDouble *
            (4L * nItems).toDouble)) /
          (lit(1.0) - $"scj2".cast("double") /
            lit((4L * nItems).toDouble * (4L * nItems).toDouble)), 6)
          .as("kappa"))
  }

  /** A95 HOOVER INDEX per market segment (the "Robin Hood" index —
    * the share of total revenue that would have to MOVE between
    * customers to equalize them: the most interpretable inequality
    * number next to A34's Gini and A82's Atkinson, and the only one
    * that is literally a fraction of dollars): H = Σ|yᵢ − ȳ|/(2·Σyᵢ)
    * computed in the n-cleared exact form Σ|n·yᵢ − S|/(2·n·S) — the
    * numerator is an exact decimal(38,0) sum of BIGINT cents, ONE
    * division at export. Window-free: one per-customer aggregate, one
    * broadcast totals join, one re-aggregate. */
  def hooverIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def dec(c: Column) = c.cast("decimal(38,0)")
    val pc = Tables.orders(s, dir)
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment".as("segment"), $"o_custkey")
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("y"))
    val st = pc.groupBy($"segment")
      .agg(count(lit(1)).as("n"), sum(dec($"y")).as("s"))
    pc.join(broadcast(st), "segment")
      .groupBy($"segment")
      .agg(max($"n").as("n_customers"),
        max($"s").cast("decimal(38,0)").as("total_cents"),
        sum(abs(dec($"n") * $"y" - $"s")).as("num"))
      .select($"segment", $"n_customers",
        $"total_cents".cast("long").as("total_cents"),
        round($"num".cast("double") /
          (lit(2.0) * $"n_customers".cast("double") *
            $"total_cents".cast("double")), 6).as("hoover"))
      .orderBy($"segment")
  }

  /** A96 D'AGOSTINO K² omnibus normality test (D'Agostino 1970 /
    * Anscombe-Glynn 1983 / D'Agostino-Pearson 1973 — the moments-based
    * normality screen that, unlike A70's Shapiro-class tests, runs as
    * THREE exact corpus sums however large the corpus: skewness and
    * kurtosis each transform to an approximate standard normal, K² =
    * Z₁² + Z₂² ~ χ²(2)): per market segment on order totals binned to
    * integer kilodollars (keeps the 4th-power sums inside
    * decimal(38,0) to ~10⁹ rows per segment; re-bin coarser past
    * that). Central moments come from the n-cleared forms (m₂ⁿ =
    * n·S₂−S₁² …), in which g₁ = m₃ⁿ/(m₂ⁿ)^{3/2} and b₂ = m₄ⁿ/(m₂ⁿ)²
    * are n-free; the Z transforms are one pinned libm scalar chain
    * per segment (5 sqrt, 2 ln, 1 cbrt), round-4 export. */
  def dagostinoK2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def dec(c: Column) = c.cast("decimal(38,0)")
    val m = Tables.orders(s, dir)
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .select($"c_mktsegment".as("segment"),
        round($"o_totalprice" / 1000).cast("long").as("y"))
      .groupBy($"segment")
      .agg(count(lit(1)).as("n"), sum(dec($"y")).as("s1"),
        sum(dec($"y") * $"y").as("s2"),
        sum(dec($"y") * $"y" * $"y").as("s3"),
        sum(dec($"y") * $"y" * $"y" * $"y").as("s4"))
    val nn = dec($"n")
    val m2n = (nn * $"s2" - $"s1" * $"s1").cast("double")
    val m3n = (nn * nn * $"s3" - lit(3) * nn * $"s2" * $"s1" +
      lit(2) * $"s1" * $"s1" * $"s1").cast("double")
    val m4n = (nn * nn * nn * $"s4" -
      lit(4) * nn * nn * $"s3" * $"s1" +
      lit(6) * nn * $"s2" * $"s1" * $"s1" -
      lit(3) * $"s1" * $"s1" * $"s1" * $"s1").cast("double")
    val nd = $"n".cast("double")
    val g1 = m3n / pow(m2n, 1.5)
    val b2 = m4n / (m2n * m2n)
    // D'Agostino skewness transform
    val yv = g1 * sqrt((nd + 1) * (nd + 3) / (lit(6.0) * (nd - 2)))
    val beta2 = lit(3.0) * (nd * nd + lit(27.0) * nd - 70) * (nd + 1) *
      (nd + 3) / ((nd - 2) * (nd + 5) * (nd + 7) * (nd + 9))
    val w2 = sqrt(lit(2.0) * (beta2 - 1)) - 1
    val dl = lit(1.0) / sqrt(log(sqrt(w2)))
    val al = sqrt(lit(2.0) / (w2 - 1))
    val z1 = dl * log(yv / al + sqrt((yv / al) * (yv / al) + 1))
    // Anscombe-Glynn kurtosis transform
    val eb2 = lit(3.0) * (nd - 1) / (nd + 1)
    val vb2 = lit(24.0) * nd * (nd - 2) * (nd - 3) /
      ((nd + 1) * (nd + 1) * (nd + 3) * (nd + 5))
    val xk = (b2 - eb2) / sqrt(vb2)
    val bet = lit(6.0) * (nd * nd - lit(5.0) * nd + 2) /
      ((nd + 7) * (nd + 9)) *
      sqrt(lit(6.0) * (nd + 3) * (nd + 5) / (nd * (nd - 2) * (nd - 3)))
    val aa = lit(6.0) + lit(8.0) / bet *
      (lit(2.0) / bet + sqrt(lit(1.0) + lit(4.0) / (bet * bet)))
    val z2 = ((lit(1.0) - lit(2.0) / (lit(9.0) * aa)) -
      cbrt((lit(1.0) - lit(2.0) / aa) /
        (lit(1.0) + xk * sqrt(lit(2.0) / (aa - 4))))) /
      sqrt(lit(2.0) / (lit(9.0) * aa))
    m.select($"segment", $"n".as("n_orders"),
        round(g1, 6).as("skew_g1"), round(b2, 6).as("kurt_b2"),
        round(z1, 4).as("z_skew"), round(z2, 4).as("z_kurt"),
        round(z1 * z1 + z2 * z2, 4).as("k2"))
      .orderBy($"segment")
  }

  /** A97 JONCKHEERE-TERPSTRA trend test (Jonckheere 1954 — the
    * NONPARAMETRIC twin of A92's Cochran-Armitage for a CONTINUOUS
    * response: does order value shift monotonically across the five
    * ordered priorities? A41's ANOVA spends 4 df asking "any
    * difference"; JT spends one asking "ordered difference" —
    * distribution-free where A92 needs a binary outcome): JT =
    * Σ_{g<g'} U_{gg'} over between-group Mann-Whitney counts,
    * computed from the (priority, kilodollar-bin) CONTINGENCY CELLS
    * (the A89 cell-walk shape — ~5·600 cells, never an order-pair
    * join); ties at ½ per the standard convention, carried as the
    * exact integer 2·JT. E and Var from the group sizes (untied
    * normal approximation, noted); z one sqrt division. */
  def jonckheereTerpstra(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def dec(c: Column) = c.cast("decimal(38,0)")
    val cells = Tables.orders(s, dir)
      .select(substring($"o_orderpriority", 1, 1).cast("long").as("t"),
        round($"o_totalprice" / 1000).cast("long").as("v"))
      .groupBy($"t", $"v").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val sizes = cells.groupBy($"t").agg(sum($"c").as("ng"))
    val m = sizes.agg(sum($"ng").as("n"),
      sum(dec($"ng") * $"ng").as("sn2"),
      sum(dec($"ng") * $"ng" * (lit(2) * $"ng" + 3)).as("sn3"))
    val p = cells.select($"t".as("t1"), $"v".as("v1"), $"c".as("c1"))
    val q = cells.select($"t".as("t2"), $"v".as("v2"), $"c".as("c2"))
    val jt2 = p.join(q, $"t1" < $"t2")
      .agg(sum(when($"v1" < $"v2", lit(2).cast("decimal(38,0)") *
          $"c1" * $"c2")
        .when($"v1" === $"v2", dec($"c1") * $"c2")
        .otherwise(lit(0).cast("decimal(38,0)"))).as("jt_x2"))
    jt2.crossJoin(broadcast(m))
      .select($"n".as("n_orders"), $"jt_x2".cast("long").as("jt_x2"),
        round(($"jt_x2".cast("double") / 2.0 -
          ((dec($"n") * $"n" - $"sn2").cast("double") / 4.0)) /
          sqrt(((dec($"n") * $"n" * (lit(2) * $"n" + 3) - $"sn3")
            .cast("double")) / 72.0), 4).as("z_jt"))
  }

  /** A98 LIN'S CONCORDANCE CORRELATION (Lin 1989 — the AGREEMENT
    * coefficient A26's Pearson r is routinely misused for: r is
    * blind to scale and location bias, CCC = r·C_b discounts both,
    * which is why method-comparison studies (two sensors, two
    * pipelines producing "the same" number) report CCC): between
    * each order's header total and its gross lineitem sum, in exact
    * cents. n-cleared identity: CCC = 2(nS_xy−S_xS_y) /
    * ((nS_xx−S_x²)+(nS_yy−S_y²)+(S_x−S_y)²) — every term an exact
    * decimal(38,0), ONE division; r and the bias factor C_b = CCC/r
    * ride the same sums. */
  def linCcc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def dec(c: Column) = c.cast("decimal(38,0)")
    val li = Tables.lineitem(s, dir)
      .groupBy($"l_orderkey")
      .agg(sum(round($"l_extendedprice" * 100).cast("long")).as("y"))
    val pairs = Tables.orders(s, dir)
      .select($"o_orderkey",
        round($"o_totalprice" * 100).cast("long").as("x"))
      .join(li, $"o_orderkey" === $"l_orderkey")
    val msum = pairs.agg(count(lit(1)).as("n"),
      sum(dec($"x")).as("sx"), sum(dec($"y")).as("sy"),
      sum(dec($"x") * $"x").as("sxx"), sum(dec($"y") * $"y").as("syy"),
      sum(dec($"x") * $"y").as("sxy"))
    val cxy = (dec($"n") * $"sxy" - $"sx" * $"sy").cast("double")
    val cxx = (dec($"n") * $"sxx" - $"sx" * $"sx").cast("double")
    val cyy = (dec($"n") * $"syy" - $"sy" * $"sy").cast("double")
    val bias = (($"sx" - $"sy") * ($"sx" - $"sy")).cast("double")
    msum.select($"n".as("n_orders"),
      round(lit(2.0) * cxy / (cxx + cyy + bias), 6).as("ccc"),
      round(cxy / sqrt(cxx * cyy), 6).as("pearson_r"),
      round((lit(2.0) * cxy / (cxx + cyy + bias)) /
        (cxy / sqrt(cxx * cyy)), 6).as("c_b"))
  }

  /** A105 PALMA RATIO of revenue concentration (Palma 2011 — the
    * inequality number policy analysis actually quotes where A46's
    * Gini is the academic one: top-10% share over bottom-40% share;
    * for a corpus it reads "how many sources carry the tail"): over
    * the (cents, custkey)-ranked customer spend frame — the A46
    * two-level rank decomposition verbatim (range-bucket + in-bucket
    * row_number + broadcast offsets, so no single-task window ever
    * sees the customer-cardinality frame) — with top = largest
    * n div 10 customers, bottom = smallest (4n) div 10 (floor
    * counts, pinned); both shares exact decimal sums, ONE division
    * each plus the ratio. */
  def palmaRatio(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def dec(c: Column) = c.cast("decimal(38,0)")
    rankedSpend(s, dir)
      .groupBy($"n_all")
      .agg(sum(dec($"cents")).as("tot"),
        sum(when($"i" > $"n_all" - expr("n_all div 10"), dec($"cents"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("top_cents"),
        sum(when($"i" <= expr("(4 * n_all) div 10"), dec($"cents"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("bot_cents"))
      .select($"n_all".as("n_customers"),
        expr("n_all div 10").as("n_top"),
        expr("(4 * n_all) div 10").as("n_bottom"),
        round($"top_cents".cast("double") / $"tot".cast("double"), 6)
          .as("top10_share"),
        round($"bot_cents".cast("double") / $"tot".cast("double"), 6)
          .as("bot40_share"),
        when($"bot_cents" > 0,
          round($"top_cents".cast("double") / $"bot_cents".cast("double"),
            6)).as("palma"))
  }

  /** A106 FIXED-EFFECT META-ANALYSIS with heterogeneity (the
    * inverse-variance pooling + Cochran's Q + Higgins' I² triad —
    * how evidence across strata is actually combined: A60 reports
    * five per-segment odds ratios; the decision-maker needs ONE
    * pooled effect and a verdict on whether the strata even agree):
    * per market segment the 2×2 of (discounted, returned) lineitems,
    * effect = ln OR, var = Σ 1/cell (Woolf), weights w = 1/var;
    * pooled = Σw·e/Σw, Q = Σw·e² − (Σw·e)²/Σw (the one-pass form),
    * I² = max(0, (Q−(k−1))/Q). Cells exact BIGINT off ONE corpus
    * aggregate; the per-segment scalar chain is pinned libm; the
    * three pooled sums fold in SORTED segment order (A61). */
  def metaAnalysis(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cells = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment".as("segment"))
      .agg(
        sum(when($"l_discount" > 0.05 && $"l_returnflag" === "R", 1L)
          .otherwise(0L)).as("a"),
        sum(when($"l_discount" > 0.05 && $"l_returnflag" =!= "R", 1L)
          .otherwise(0L)).as("b"),
        sum(when($"l_discount" <= 0.05 && $"l_returnflag" === "R", 1L)
          .otherwise(0L)).as("c"),
        sum(when($"l_discount" <= 0.05 && $"l_returnflag" =!= "R", 1L)
          .otherwise(0L)).as("d"))
      .filter($"a" > 0 && $"b" > 0 && $"c" > 0 && $"d" > 0)
    val scored = cells
      .withColumn("e", log(($"a".cast("double") * $"d".cast("double")) /
        ($"b".cast("double") * $"c".cast("double"))))
      .withColumn("v", lit(1.0) / $"a".cast("double") +
        lit(1.0) / $"b".cast("double") + lit(1.0) / $"c".cast("double") +
        lit(1.0) / $"d".cast("double"))
      .withColumn("w", lit(1.0) / $"v")
    val pooled = scored.groupBy()
      .agg(count(lit(1)).as("k"),
        aggregate(sort_array(collect_list(struct($"segment", $"w"))),
          lit(0.0), (acc, x) => acc + x("w")).as("sw"),
        aggregate(sort_array(collect_list(struct($"segment",
            ($"w" * $"e").as("we")))),
          lit(0.0), (acc, x) => acc + x("we")).as("swe"),
        aggregate(sort_array(collect_list(struct($"segment",
            ($"w" * $"e" * $"e").as("wee")))),
          lit(0.0), (acc, x) => acc + x("wee")).as("swee"))
      .withColumn("q", $"swee" - $"swe" * $"swe" / $"sw")
    pooled.select($"k".as("n_strata"),
      round($"swe" / $"sw", 6).as("pooled_lnor"),
      round(exp($"swe" / $"sw"), 6).as("pooled_or"),
      round(lit(1.96) / sqrt($"sw"), 6).as("ci_halfwidth"),
      round($"q", 4).as("q_het"),
      round(greatest(lit(0.0),
        ($"q" - ($"k" - 1).cast("double")) / $"q"), 6).as("i2"))
  }

  /** A107 BRIER SCORE + MURPHY DECOMPOSITION (Brier 1950 / Murphy
    * 1973 — THE proper scoring rule for probability forecasts and
    * its reliability/resolution/uncertainty split: A56's AUC ranks,
    * Brier scores CALIBRATION, and the decomposition says whether a
    * bad score means miscalibrated bins or just an unpredictable
    * base rate): forecast = each priority class's own F-rate (the
    * perfectly-calibrated in-sample forecaster, so REL = 0 exactly —
    * the pinned identity the spec-by-oracle grades), outcome = F.
    * With integer cells (nᵢ, rᵢ) and totals (N, R): BS·N²·... — all
    * three Murphy terms are rational in the cells; BS = UNC − RES +
    * REL with REL ≡ 0 here, so BS·N = Σ nᵢ·pᵢ(1−pᵢ) computed as
    * exact-integer numerators over one division per class, folded in
    * sorted class order (A61). */
  def brierScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def dec(c: Column) = c.cast("decimal(38,0)")
    val g = Tables.orders(s, dir)
      .select(substring($"o_orderpriority", 1, 1).cast("long").as("cls"),
        when($"o_orderstatus" === "F", 1L).otherwise(0L).as("o"))
      .groupBy($"cls")
      .agg(count(lit(1)).as("ni"), sum($"o").as("ri"))
      .localCheckpoint()
    val tot = g.agg(sum($"ni").as("n"), sum($"ri").as("r"))
    val terms = g.crossJoin(broadcast(tot))
      .withColumn("res_num",
        // nᵢ·(pᵢ − p̄)² · N² = (N·rᵢ − nᵢ·R)²/nᵢ — keep the exact
        // integer numerator, one division per class
        (dec($"n") * $"ri" - dec($"ni") * $"r") *
          (dec($"n") * $"ri" - dec($"ni") * $"r"))
      .withColumn("bs_i",
        // nᵢ·pᵢ(1−pᵢ) = rᵢ(nᵢ−rᵢ)/nᵢ
        (dec($"ri") * ($"ni" - $"ri")).cast("double") /
          $"ni".cast("double"))
      .withColumn("res_i",
        $"res_num".cast("double") /
          ($"ni".cast("double") * $"n".cast("double") *
            $"n".cast("double")))
    terms.groupBy($"n", $"r")
      .agg(aggregate(sort_array(collect_list(struct($"cls", $"bs_i"))),
          lit(0.0), (acc, x) => acc + x("bs_i")).as("bs_sum"),
        aggregate(sort_array(collect_list(struct($"cls", $"res_i"))),
          lit(0.0), (acc, x) => acc + x("res_i")).as("res_sum"))
      .select($"n".as("n_orders"), $"r".as("n_events"),
        round($"bs_sum" / $"n".cast("double"), 6).as("brier"),
        round($"res_sum" / $"n".cast("double"), 6).as("resolution"),
        round((dec($"r") * ($"n" - $"r")).cast("double") /
          ($"n".cast("double") * $"n".cast("double")), 6)
          .as("uncertainty"),
        lit(0.0).as("reliability"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_brier" -> brierScore,
    "q_meta_analysis" -> metaAnalysis,
    "q_jonckheere" -> jonckheereTerpstra,
    "q_lin_ccc" -> linCcc,
    "q_palma" -> palmaRatio,
    "q_gtest" -> gTest,
    "q_cochran_armitage" -> cochranArmitage,
    "q_yule_q" -> yuleQ,
    "q_fleiss_kappa" -> fleissKappa,
    "q_hoover" -> hooverIndex,
    "q_dagostino_k2" -> dagostinoK2,
    "q_simpson" -> simpson,
    "q_last_digit" -> lastDigit,
    "q_k_anonymity" -> kAnonymityEvents,
    "q_grouping_sets" -> groupingSetsMarginals,
    "q_abc" -> abcPareto,
    "q_price_index" -> priceIndex,
    "q_mutual_info" -> mutualInfo,
    "q_cms" -> countMin,
    "q_elasticity" -> elasticity,
    "q_theil" -> theilIndex,
    "q_cramers_v" -> cramersV,
    "q_pca2" -> pca2,
    "q_hhi" -> hhi,
    "q_wasserstein" -> wasserstein,
    "q_ridge" -> ridge2,
    "q_basket_lift" -> basketLift,
    "q_ab_test" -> abTest,
    "q_power" -> powerAnalysis,
    "q_lorenz" -> lorenzGini,
    "q_skyline" -> skyline,
    "q_auc" -> aucScore,
    "q_odds_ratio" -> oddsRatio,
    "q_decile_lift" -> decileLift,
    "q_dq_checks" -> dqChecks,
    "q_mannwhitney" -> mannWhitney,
    "q_spearman" -> spearman,
    "q_runs_test" -> runsTest,
    "q_ks_test" -> ksTest,
    "q_cvm" -> cvmTest,
    "q_dcorr" -> distanceCorr,
    "q_page_trend" -> pageTrend,
    "q_ransac" -> ransacTrend,
    "src_gz_jsonl" -> gzJsonlRoundtrip,
    "src_orc" -> orcRoundtrip,
    "src_fixed_width" -> fixedWidthRoundtrip,
    "src_bz2_jsonl" -> bz2JsonlRoundtrip,
    "src_zst_jsonl" -> zstJsonlRoundtrip,
    "src_csv_multiline" -> csvMultilineRoundtrip,
    "q_cliffs_delta" -> cliffsDelta,
    "q_cohens_d" -> cohensD,
    "q_welch_ttest" -> welchTTest,
    "q_fisher_exact" -> fisherExact,
    "q_tost" -> tost,
    "q_mcc" -> mcc,
    "q_atkinson" -> atkinson,
    "q_capture_recapture" -> captureRecapture,
    "q_hill" -> hillTail,
    "q_theil_decomp" -> theilDecomposition,
    "q_wilson_ci" -> wilsonCi,
    "q_cochran_q" -> cochranQ,
    "q_uncertainty" -> uncertaintyCoef,
    "q_gk_gamma" -> gkGamma,
    "q_somers_d" -> somersD,
    "q_anova" -> anovaF,
    "q_chisq" -> chiSquare,
    "q_mad" -> madPerGroup,
    "q_benford" -> benford,
    "q_gini" -> giniImpurity,
    "q_weighted_median" -> weightedMedian,
    "q_mode" -> modePerGroup,
    "q_argmax" -> argExtremes,
    "q_quantiles" -> quantiles,
    "q_tukey_fences" -> tukeyFences,
    "q_trimmed_mean" -> trimmedMean,
    "q_qcut" -> qcut,
    "q_quantiles_interp" -> quantilesInterp,
    "q_winsorize" -> winsorize,
    "q_melt" -> melt,
    "q_pivot" -> pivot,
    "q_pivot_mean" -> pivotMean,
    "q_stats" -> stats,
    "q_semi_join" -> semiJoin,
    "q_anti_join" -> antiJoin,
    "q_rollup" -> rollup,
    "q_setops" -> setOps,
    "q_json_parse" -> jsonParse,
    "q_variant" -> variantExtract,
    "q_ntile_rank" -> ntileRank,
    "q_above_avg" -> aboveAvg,
    "q_local_supplier" -> localSupplierVolume,
    "q_returned_items" -> returnedItems,
    "q_ship_priority" -> shipPriority,
    "q_cube" -> cube2,
    "q_sketches" -> sketches,
    "q_histogram" -> histogram,
    "q_corr" -> corrExact,
    "q_clean_real" -> cleanReal,
    "q_coerce" -> coerce,
    "q_agg" -> agg,
    "q_join_agg" -> joinAgg,
    "q_topk" -> topk,
    "q_dropna_fill" -> dropnaFill,
    "q_outer_merge" -> outerMerge,
    "q_distinct" -> distinctProj)

  val oracles: Map[String, String] = Map(
    // A107 twin: same exact cells, same per-class one-division terms
    // folded in sorted class order, REL pinned 0 by construction
    "q_brier" ->
      """WITH g AS (
        |  SELECT substr(o_orderpriority, 1, 1)::BIGINT AS cls,
        |    count(*)::BIGINT AS ni,
        |    sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT
        |      AS ri
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT sum(ni)::BIGINT AS n, sum(ri)::BIGINT AS r FROM g),
        |terms AS (
        |  SELECT g.cls, tot.n, tot.r,
        |    (g.ri::HUGEINT * (g.ni - g.ri))::DOUBLE / g.ni::DOUBLE
        |      AS bs_i,
        |    ((tot.n::HUGEINT * g.ri - g.ni::HUGEINT * tot.r) *
        |     (tot.n::HUGEINT * g.ri - g.ni::HUGEINT * tot.r))::DOUBLE /
        |      (g.ni::DOUBLE * tot.n::DOUBLE * tot.n::DOUBLE) AS res_i
        |  FROM g, tot),
        |f AS (
        |  SELECT n, r,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list(bs_i ORDER BY cls)), (a, b) -> a + b) AS bs_sum,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list(res_i ORDER BY cls)), (a, b) -> a + b) AS res_sum
        |  FROM terms GROUP BY 1, 2)
        |SELECT n AS n_orders, r AS n_events,
        |  round(bs_sum / n::DOUBLE, 6) AS brier,
        |  round(res_sum / n::DOUBLE, 6) AS resolution,
        |  round((r::HUGEINT * (n - r))::DOUBLE /
        |    (n::DOUBLE * n::DOUBLE), 6) AS uncertainty,
        |  0.0 AS reliability
        |FROM f""".stripMargin,
    // A106 twin: same exact per-segment 2x2 cells, identical libm
    // effect/variance chain, same segment-ordered pooled folds
    "q_meta_analysis" ->
      """WITH cells AS (
        |  SELECT c_mktsegment AS segment,
        |    sum(CASE WHEN l_discount > 0.05 AND l_returnflag = 'R'
        |      THEN 1 ELSE 0 END)::BIGINT AS a,
        |    sum(CASE WHEN l_discount > 0.05 AND l_returnflag <> 'R'
        |      THEN 1 ELSE 0 END)::BIGINT AS b,
        |    sum(CASE WHEN l_discount <= 0.05 AND l_returnflag = 'R'
        |      THEN 1 ELSE 0 END)::BIGINT AS c,
        |    sum(CASE WHEN l_discount <= 0.05 AND l_returnflag <> 'R'
        |      THEN 1 ELSE 0 END)::BIGINT AS d
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1
        |  HAVING min(CASE WHEN l_discount > 0.05 AND l_returnflag = 'R'
        |    THEN 1 ELSE 0 END) >= 0),
        |ok AS (SELECT * FROM cells WHERE a > 0 AND b > 0 AND c > 0
        |  AND d > 0),
        |scored AS (
        |  SELECT segment,
        |    ln((a::DOUBLE * d::DOUBLE) / (b::DOUBLE * c::DOUBLE)) AS e,
        |    1.0 / a::DOUBLE + 1.0 / b::DOUBLE + 1.0 / c::DOUBLE +
        |      1.0 / d::DOUBLE AS v
        |  FROM ok),
        |w AS (SELECT segment, e, 1.0 / v AS w FROM scored),
        |f AS (
        |  SELECT count(*)::BIGINT AS k,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list(w ORDER BY segment)), (x, y) -> x + y) AS sw,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list(w * e ORDER BY segment)), (x, y) -> x + y) AS swe,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list(w * e * e ORDER BY segment)), (x, y) -> x + y) AS swee
        |  FROM w),
        |g AS (SELECT *, swee - swe * swe / sw AS q FROM f)
        |SELECT k AS n_strata,
        |  round(swe / sw, 6) AS pooled_lnor,
        |  round(exp(swe / sw), 6) AS pooled_or,
        |  round(1.96 / sqrt(sw), 6) AS ci_halfwidth,
        |  round(q, 4) AS q_het,
        |  round(greatest(0.0, (q - (k - 1)::DOUBLE) / q), 6) AS i2
        |FROM g""".stripMargin,
    // A97 twin: same kilodollar cells, same exact 2·JT walk, the
    // identical normal-approximation scalar tail
    "q_jonckheere" ->
      """WITH cells AS (
        |  SELECT substr(o_orderpriority, 1, 1)::BIGINT AS t,
        |    round(o_totalprice / 1000)::BIGINT AS v,
        |    count(*)::BIGINT AS c
        |  FROM orders GROUP BY 1, 2),
        |sizes AS (SELECT t, sum(c)::BIGINT AS ng FROM cells GROUP BY 1),
        |m AS (
        |  SELECT sum(ng)::BIGINT AS n,
        |    sum(ng::HUGEINT * ng)::HUGEINT AS sn2,
        |    sum(ng::HUGEINT * ng * (2 * ng + 3))::HUGEINT AS sn3
        |  FROM sizes),
        |jt AS (
        |  SELECT sum(CASE WHEN p.v < q.v THEN 2::HUGEINT * p.c * q.c
        |    WHEN p.v = q.v THEN p.c::HUGEINT * q.c
        |    ELSE 0 END)::HUGEINT AS jt_x2
        |  FROM cells p JOIN cells q ON p.t < q.t)
        |SELECT n AS n_orders, jt_x2::BIGINT AS jt_x2,
        |  round((jt_x2::DOUBLE / 2.0 -
        |    ((n::HUGEINT * n - sn2)::DOUBLE / 4.0)) /
        |    sqrt((n::HUGEINT * n * (2 * n + 3) - sn3)::DOUBLE / 72.0), 4)
        |    AS z_jt
        |FROM jt, m""".stripMargin,
    // A98 twin: same exact cent sums, same n-cleared one-division
    // identity, r and C_b off the same terms
    "q_lin_ccc" ->
      """WITH li AS (
        |  SELECT l_orderkey,
        |    sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS y
        |  FROM lineitem GROUP BY 1),
        |pairs AS (
        |  SELECT round(o_totalprice * 100)::BIGINT AS x, li.y
        |  FROM orders JOIN li ON o_orderkey = l_orderkey),
        |m AS (
        |  SELECT count(*)::BIGINT AS n,
        |    sum(x::HUGEINT)::HUGEINT AS sx, sum(y::HUGEINT)::HUGEINT AS sy,
        |    sum(x::HUGEINT * x)::HUGEINT AS sxx,
        |    sum(y::HUGEINT * y)::HUGEINT AS syy,
        |    sum(x::HUGEINT * y)::HUGEINT AS sxy
        |  FROM pairs),
        |c AS (
        |  SELECT n, (n::HUGEINT * sxy - sx * sy)::DOUBLE AS cxy,
        |    (n::HUGEINT * sxx - sx * sx)::DOUBLE AS cxx,
        |    (n::HUGEINT * syy - sy * sy)::DOUBLE AS cyy,
        |    ((sx - sy) * (sx - sy))::DOUBLE AS bias
        |  FROM m)
        |SELECT n AS n_orders,
        |  round(2.0 * cxy / (cxx + cyy + bias), 6) AS ccc,
        |  round(cxy / sqrt(cxx * cyy), 6) AS pearson_r,
        |  round((2.0 * cxy / (cxx + cyy + bias)) /
        |    (cxy / sqrt(cxx * cyy)), 6) AS c_b
        |FROM c""".stripMargin,
    // A105 twin: direct global rank (the oracle needn't scale), same
    // floor counts and exact share sums
    "q_palma" ->
      """WITH spend AS (
        |  SELECT o_custkey,
        |    sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM orders GROUP BY 1),
        |ranked AS (
        |  SELECT cents,
        |    row_number() OVER (ORDER BY cents, o_custkey)::BIGINT AS i,
        |    count(*) OVER ()::BIGINT AS n_all
        |  FROM spend),
        |agg AS (
        |  SELECT max(n_all)::BIGINT AS n_all,
        |    sum(cents::HUGEINT)::HUGEINT AS tot,
        |    sum(CASE WHEN i > max_n - (max_n // 10) THEN cents::HUGEINT
        |      ELSE 0 END)::HUGEINT AS top_cents,
        |    sum(CASE WHEN i <= (4 * max_n) // 10 THEN cents::HUGEINT
        |      ELSE 0 END)::HUGEINT AS bot_cents
        |  FROM (SELECT *, max(n_all) OVER () AS max_n FROM ranked))
        |SELECT n_all AS n_customers,
        |  (n_all // 10)::BIGINT AS n_top,
        |  ((4 * n_all) // 10)::BIGINT AS n_bottom,
        |  round(top_cents::DOUBLE / tot::DOUBLE, 6) AS top10_share,
        |  round(bot_cents::DOUBLE / tot::DOUBLE, 6) AS bot40_share,
        |  CASE WHEN bot_cents > 0 THEN
        |    round(top_cents::DOUBLE / bot_cents::DOUBLE, 6)
        |  END AS palma
        |FROM agg""".stripMargin,
    // A91 twin: same exact cells/margins, same sorted-cell 0-init
    // left fold of the identical per-cell IEEE contribution
    "q_gtest" ->
      """WITH cells AS (
        |  SELECT l_returnflag AS x, l_linestatus AS y,
        |    count(*)::BIGINT AS n_xy
        |  FROM lineitem GROUP BY 1, 2),
        |rx AS (SELECT x, sum(n_xy)::BIGINT AS n_x FROM cells GROUP BY 1),
        |cy AS (SELECT y, sum(n_xy)::BIGINT AS n_y FROM cells GROUP BY 1),
        |tot AS (SELECT sum(n_xy)::BIGINT AS n FROM cells),
        |c AS (
        |  SELECT cells.x, cells.y, tot.n,
        |    2.0 * n_xy::DOUBLE *
        |      ln(tot.n::DOUBLE * n_xy::DOUBLE /
        |        (n_x::DOUBLE * n_y::DOUBLE)) AS contrib
        |  FROM cells JOIN rx USING (x) JOIN cy USING (y), tot),
        |f AS (
        |  SELECT max(n)::BIGINT AS n,
        |    ((count(DISTINCT x) - 1) * (count(DISTINCT y) - 1))::BIGINT
        |      AS df,
        |    list(contrib ORDER BY x, y) AS cs
        |  FROM c)
        |SELECT n, df,
        |  round(list_reduce(list_prepend(0.0::DOUBLE, cs),
        |    (a, b) -> a + b), 4) AS g_stat
        |FROM f""".stripMargin,
    // A92 twin: identical integer T and HUGEINT variance product,
    // one division of one sqrt
    "q_cochran_armitage" ->
      """WITH g AS (
        |  SELECT substr(o_orderpriority, 1, 1)::BIGINT AS t,
        |    count(*)::BIGINT AS ni,
        |    sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT
        |      AS ri
        |  FROM orders GROUP BY 1),
        |m AS (
        |  SELECT sum(ni)::BIGINT AS n, sum(ri)::BIGINT AS r,
        |    sum(t::HUGEINT * ni)::HUGEINT AS stn,
        |    sum(t::HUGEINT * t * ni)::HUGEINT AS sttn
        |  FROM g),
        |f AS (
        |  SELECT m.n, m.r, m.stn, m.sttn,
        |    sum(t::HUGEINT * (m.n::HUGEINT * ri - ni::HUGEINT * m.r))
        |      ::HUGEINT AS t_num
        |  FROM g, m GROUP BY 1, 2, 3, 4)
        |SELECT n AS n_orders, r AS n_cases, t_num::BIGINT AS t_stat,
        |  CASE WHEN r::HUGEINT * (n - r) * (n::HUGEINT * sttn - stn * stn)
        |      > 0 THEN
        |    round(t_num::DOUBLE /
        |      sqrt((r::HUGEINT * (n - r) *
        |        (n::HUGEINT * sttn - stn * stn))::DOUBLE / n::DOUBLE), 4)
        |  END AS z_trend
        |FROM f""".stripMargin,
    // A93 twin: same exact 2x2 cells and HUGEINT cross products,
    // three scalar formulas
    "q_yule_q" ->
      """WITH m AS (
        |  SELECT
        |    sum(CASE WHEN l_discount > 0.05 AND l_returnflag = 'R'
        |      THEN 1 ELSE 0 END)::BIGINT AS a,
        |    sum(CASE WHEN l_discount > 0.05 AND l_returnflag <> 'R'
        |      THEN 1 ELSE 0 END)::BIGINT AS b,
        |    sum(CASE WHEN l_discount <= 0.05 AND l_returnflag = 'R'
        |      THEN 1 ELSE 0 END)::BIGINT AS c,
        |    sum(CASE WHEN l_discount <= 0.05 AND l_returnflag <> 'R'
        |      THEN 1 ELSE 0 END)::BIGINT AS d
        |  FROM lineitem)
        |SELECT a, b, c, d,
        |  CASE WHEN a::HUGEINT * d + b::HUGEINT * c <> 0 THEN
        |    round((a::HUGEINT * d - b::HUGEINT * c)::DOUBLE /
        |      (a::HUGEINT * d + b::HUGEINT * c)::DOUBLE, 6)
        |  END AS yule_q,
        |  CASE WHEN a::HUGEINT * d + b::HUGEINT * c <> 0 THEN
        |    round((sqrt((a::HUGEINT * d)::DOUBLE) -
        |      sqrt((b::HUGEINT * c)::DOUBLE)) /
        |      (sqrt((a::HUGEINT * d)::DOUBLE) +
        |        sqrt((b::HUGEINT * c)::DOUBLE)), 6)
        |  END AS yule_y,
        |  CASE WHEN (a + b) * (c + d) * (a + c) * (b + d) <> 0 THEN
        |    round((a::HUGEINT * d - b::HUGEINT * c)::DOUBLE /
        |      sqrt(((a + b)::HUGEINT * (c + d) * (a + c) * (b + d))
        |        ::DOUBLE), 6)
        |  END AS phi
        |FROM m""".stripMargin,
    // A94 twin: same exactly-4-lineitem item set, same integer
    // P-bar / P-e ratios, one kappa division
    "q_fleiss_kappa" ->
      """WITH four AS (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY 1 HAVING count(*) = 4),
        |cells AS (
        |  SELECT l.l_orderkey, l.l_returnflag, count(*)::BIGINT AS nij
        |  FROM lineitem l JOIN four USING (l_orderkey)
        |  GROUP BY 1, 2),
        |st AS (
        |  SELECT count(DISTINCT l_orderkey)::BIGINT AS n_items,
        |    sum(nij * nij)::BIGINT AS s
        |  FROM cells),
        |cj AS (
        |  SELECT sum(c2.cj::HUGEINT * c2.cj)::HUGEINT AS scj2 FROM (
        |    SELECT l_returnflag, sum(nij)::BIGINT AS cj
        |    FROM cells GROUP BY 1) c2)
        |SELECT n_items, 4::BIGINT AS n_raters, s AS sum_nij_sq,
        |  round((s - 4 * n_items)::DOUBLE / (12 * n_items)::DOUBLE, 6)
        |    AS p_bar,
        |  round(scj2::DOUBLE /
        |    ((4 * n_items)::DOUBLE * (4 * n_items)::DOUBLE), 6) AS p_e,
        |  round(((s - 4 * n_items)::DOUBLE / (12 * n_items)::DOUBLE -
        |    scj2::DOUBLE / ((4 * n_items)::DOUBLE * (4 * n_items)
        |      ::DOUBLE)) /
        |    (1.0 - scj2::DOUBLE / ((4 * n_items)::DOUBLE *
        |      (4 * n_items)::DOUBLE)), 6) AS kappa
        |FROM st, cj""".stripMargin,
    // A95 twin: same exact HUGEINT |n·y − S| sum, one division
    "q_hoover" ->
      """WITH pc AS (
        |  SELECT c_mktsegment AS segment, o_custkey,
        |    sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS y
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |st AS (
        |  SELECT segment, count(*)::BIGINT AS n,
        |    sum(y::HUGEINT)::HUGEINT AS s
        |  FROM pc GROUP BY 1)
        |SELECT pc.segment, max(st.n)::BIGINT AS n_customers,
        |  max(st.s)::BIGINT AS total_cents,
        |  round(sum(abs(st.n::HUGEINT * pc.y - st.s))::DOUBLE /
        |    (2.0 * max(st.n)::DOUBLE * max(st.s)::DOUBLE), 6) AS hoover
        |FROM pc JOIN st USING (segment)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // A96 twin: same exact HUGEINT moment sums and n-cleared central
    // forms, the identical libm scalar chain per segment
    "q_dagostino_k2" ->
      """WITH m AS (
        |  SELECT c_mktsegment AS segment, count(*)::BIGINT AS n,
        |    sum(round(o_totalprice / 1000)::BIGINT::HUGEINT)::HUGEINT
        |      AS s1,
        |    sum(round(o_totalprice / 1000)::BIGINT::HUGEINT *
        |      round(o_totalprice / 1000)::BIGINT)::HUGEINT AS s2,
        |    sum(round(o_totalprice / 1000)::BIGINT::HUGEINT *
        |      round(o_totalprice / 1000)::BIGINT *
        |      round(o_totalprice / 1000)::BIGINT)::HUGEINT AS s3,
        |    sum(round(o_totalprice / 1000)::BIGINT::HUGEINT *
        |      round(o_totalprice / 1000)::BIGINT *
        |      round(o_totalprice / 1000)::BIGINT *
        |      round(o_totalprice / 1000)::BIGINT)::HUGEINT AS s4
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1),
        |c AS (
        |  SELECT segment, n, n::DOUBLE AS nd,
        |    (n::HUGEINT * s2 - s1 * s1)::DOUBLE AS m2n,
        |    (n::HUGEINT * n * s3 - 3 * n::HUGEINT * s2 * s1 +
        |      2 * s1 * s1 * s1)::DOUBLE AS m3n,
        |    (n::HUGEINT * n * n * s4 - 4 * n::HUGEINT * n * s3 * s1 +
        |      6 * n::HUGEINT * s2 * s1 * s1 -
        |      3 * s1 * s1 * s1 * s1)::DOUBLE AS m4n
        |  FROM m),
        |t AS (
        |  SELECT segment, n, nd,
        |    m3n / pow(m2n, 1.5) AS g1, m4n / (m2n * m2n) AS b2
        |  FROM c),
        |z1c AS (
        |  SELECT *,
        |    g1 * sqrt((nd + 1) * (nd + 3) / (6.0 * (nd - 2))) AS yv,
        |    sqrt(2.0 * (3.0 * (nd * nd + 27.0 * nd - 70) * (nd + 1) *
        |      (nd + 3) / ((nd - 2) * (nd + 5) * (nd + 7) * (nd + 9))
        |      - 1)) - 1 AS w2
        |  FROM t),
        |z1f AS (
        |  SELECT *,
        |    (1.0 / sqrt(ln(sqrt(w2)))) *
        |      ln(yv / sqrt(2.0 / (w2 - 1)) +
        |        sqrt((yv / sqrt(2.0 / (w2 - 1))) *
        |          (yv / sqrt(2.0 / (w2 - 1))) + 1)) AS z1
        |  FROM z1c),
        |z2c AS (
        |  SELECT *,
        |    (b2 - 3.0 * (nd - 1) / (nd + 1)) /
        |      sqrt(24.0 * nd * (nd - 2) * (nd - 3) /
        |        ((nd + 1) * (nd + 1) * (nd + 3) * (nd + 5))) AS xk,
        |    6.0 + 8.0 / (6.0 * (nd * nd - 5.0 * nd + 2) /
        |        ((nd + 7) * (nd + 9)) *
        |        sqrt(6.0 * (nd + 3) * (nd + 5) /
        |          (nd * (nd - 2) * (nd - 3)))) *
        |      (2.0 / (6.0 * (nd * nd - 5.0 * nd + 2) /
        |        ((nd + 7) * (nd + 9)) *
        |        sqrt(6.0 * (nd + 3) * (nd + 5) /
        |          (nd * (nd - 2) * (nd - 3)))) +
        |       sqrt(1.0 + 4.0 / ((6.0 * (nd * nd - 5.0 * nd + 2) /
        |        ((nd + 7) * (nd + 9)) *
        |        sqrt(6.0 * (nd + 3) * (nd + 5) /
        |          (nd * (nd - 2) * (nd - 3)))) *
        |        (6.0 * (nd * nd - 5.0 * nd + 2) /
        |        ((nd + 7) * (nd + 9)) *
        |        sqrt(6.0 * (nd + 3) * (nd + 5) /
        |          (nd * (nd - 2) * (nd - 3))))))) AS aa
        |  FROM z1f),
        |z2f AS (
        |  SELECT *,
        |    ((1.0 - 2.0 / (9.0 * aa)) -
        |      cbrt((1.0 - 2.0 / aa) /
        |        (1.0 + xk * sqrt(2.0 / (aa - 4))))) /
        |      sqrt(2.0 / (9.0 * aa)) AS z2
        |  FROM z2c)
        |SELECT segment, n AS n_orders,
        |  round(g1, 6) AS skew_g1, round(b2, 6) AS kurt_b2,
        |  round(z1, 4) AS z_skew, round(z2, 4) AS z_kurt,
        |  round(z1 * z1 + z2 * z2, 4) AS k2
        |FROM z2f ORDER BY segment""".stripMargin,
    // A70 twin: same integer cross-product directions (HUGEINT ==
    // decimal(38,0)), same pooled OR as the only double
    "q_simpson" ->
      """WITH r AS (
        |  SELECT c.c_nationkey AS stratum,
        |    CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0
        |      END AS x,
        |    CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS yy
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |cells AS (
        |  SELECT stratum, sum(x * yy)::BIGINT AS a,
        |    sum(x * (1 - yy))::BIGINT AS b,
        |    sum((1 - x) * yy)::BIGINT AS c,
        |    sum((1 - x) * (1 - yy))::BIGINT AS d
        |  FROM r GROUP BY 1),
        |dirs AS (
        |  SELECT stratum,
        |    CASE WHEN a::HUGEINT * d - b::HUGEINT * c > 0 THEN 1
        |      WHEN a::HUGEINT * d - b::HUGEINT * c < 0 THEN -1
        |      ELSE 0 END AS sgn
        |  FROM cells),
        |p AS (
        |  SELECT sum(a)::BIGINT AS pa, sum(b)::BIGINT AS pb,
        |    sum(c)::BIGINT AS pc, sum(d)::BIGINT AS pd
        |  FROM cells),
        |ps AS (
        |  SELECT
        |    CASE WHEN pa::HUGEINT * pd - pb::HUGEINT * pc > 0 THEN 1
        |      WHEN pa::HUGEINT * pd - pb::HUGEINT * pc < 0 THEN -1
        |      ELSE 0 END AS psgn,
        |    CASE WHEN pb > 0 AND pc > 0 THEN
        |      round((pa::HUGEINT * pd)::DOUBLE
        |        / (pb::HUGEINT * pc)::DOUBLE, 6) END AS pooled_or
        |  FROM p)
        |SELECT count(*)::BIGINT AS n_strata, ps.pooled_or,
        |  ps.psgn::BIGINT AS pooled_sign,
        |  sum(CASE WHEN sgn <> 0 AND sgn = psgn THEN 1 ELSE 0 END)
        |    ::BIGINT AS n_agree,
        |  sum(CASE WHEN sgn <> 0 AND sgn = -psgn THEN 1 ELSE 0 END)
        |    ::BIGINT AS n_flipped,
        |  sum(CASE WHEN sgn = 0 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_undecided,
        |  (sum(CASE WHEN sgn <> 0 AND sgn = -psgn THEN 1 ELSE 0 END)
        |    > sum(CASE WHEN sgn <> 0 AND sgn = psgn THEN 1 ELSE 0
        |      END))::BIGINT AS simpson_flag
        |FROM dirs, ps GROUP BY ps.psgn, ps.pooled_or""".stripMargin,
    // A71 twin: same cleared-denominator chi-square, one division,
    // rounded flag
    "q_last_digit" ->
      """WITH d AS (
        |  SELECT cast(round(o_totalprice * 100) AS BIGINT) % 10
        |    AS digit
        |  FROM orders),
        |c0 AS (SELECT digit, count(*)::BIGINT AS o FROM d GROUP BY 1),
        |c AS (
        |  SELECT l.digit, coalesce(c0.o, 0)::BIGINT AS o
        |  FROM (SELECT unnest(range(0, 10))::BIGINT AS digit) l
        |  LEFT JOIN c0 USING (digit)),
        |t AS (
        |  SELECT sum(o)::BIGINT AS n,
        |    sum(CASE WHEN o > 0 THEN 1 ELSE 0 END)::BIGINT
        |      AS n_nonzero
        |  FROM c),
        |s AS (
        |  SELECT t.n, t.n_nonzero,
        |    sum((c.o::HUGEINT * 10 - t.n) * (c.o::HUGEINT * 10 - t.n))
        |      AS ssq
        |  FROM c, t GROUP BY 1, 2)
        |SELECT n AS n_orders, n_nonzero,
        |  round(ssq::DOUBLE / (n * 10)::DOUBLE, 6) AS chi2,
        |  (round(ssq::DOUBLE / (n * 10)::DOUBLE, 6) > 16.919)::BIGINT
        |    AS suspect_flag
        |FROM s WHERE n > 0""".stripMargin,
    // A66 twin: same integer micro-cent unit prices (floor-div),
    // same exact weight sums, same three divisions
    "q_price_index" ->
      """WITH py AS (
        |  SELECT l_partkey, year(l_shipdate)::BIGINT AS yr,
        |    sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS cents,
        |    sum(round(l_quantity)::BIGINT)::BIGINT AS qty
        |  FROM lineitem WHERE year(l_shipdate) IN (1996, 1997)
        |  GROUP BY 1, 2 HAVING sum(round(l_quantity)::BIGINT) > 0),
        |pu AS (SELECT l_partkey, yr, qty,
        |         cents * 1000000 // qty AS price_u FROM py),
        |m AS (
        |  SELECT a.l_partkey, a.price_u AS p0, a.qty AS q0,
        |    b.price_u AS p1, b.qty AS q1
        |  FROM pu a JOIN pu b ON a.l_partkey = b.l_partkey
        |  WHERE a.yr = 1996 AND b.yr = 1997),
        |agg AS (
        |  SELECT count(*)::BIGINT AS n_parts,
        |    sum(p1 * q0)::BIGINT AS l_num, sum(p0 * q0)::BIGINT AS l_den,
        |    sum(p1 * q1)::BIGINT AS p_num, sum(p0 * q1)::BIGINT AS p_den
        |  FROM m)
        |SELECT n_parts,
        |  round(l_num::DOUBLE / l_den::DOUBLE, 6) AS laspeyres,
        |  round(p_num::DOUBLE / p_den::DOUBLE, 6) AS paasche,
        |  round(sqrt((l_num::DOUBLE / l_den::DOUBLE)
        |    * (p_num::DOUBLE / p_den::DOUBLE)), 6) AS fisher
        |FROM agg""".stripMargin,
    // A65 twin: same exact cent·percent revenue, same desc rank
    // cumsum, same cross-multiplied integer class boundaries
    "q_abc" ->
      """WITH rev AS (
        |  SELECT l_partkey,
        |    sum(round(l_extendedprice * 100)::BIGINT
        |      * (100 - round(l_discount * 100)::BIGINT))::BIGINT AS cp
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT sum(cp)::HUGEINT AS tot FROM rev),
        |c AS (
        |  SELECT cp,
        |    (sum(cp) OVER (ORDER BY cp DESC, l_partkey))::BIGINT AS cum
        |  FROM rev),
        |cl AS (
        |  SELECT cp,
        |    CASE WHEN cum::HUGEINT * 100 <= t.tot * 80 THEN 'A'
        |      WHEN cum::HUGEINT * 100 <= t.tot * 95 THEN 'B'
        |      ELSE 'C' END AS abc
        |  FROM c, t)
        |SELECT abc, count(*)::BIGINT AS n_parts,
        |  sum(cp)::BIGINT AS rev_cp,
        |  (sum(cp)::HUGEINT * 1000000 // (SELECT tot FROM t))::BIGINT
        |    AS share_ppm
        |FROM cl GROUP BY 1 ORDER BY 1""".stripMargin,
    // A64 twin: the same three explicit sets, same lvl encoding
    "q_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, '(all)') AS status,
        |  coalesce(o_orderpriority, '(all)') AS priority,
        |  round(sum(o_totalprice), 2) AS total, count(*) AS n,
        |  (CASE WHEN GROUPING(o_orderstatus) = 1 THEN 2 ELSE 0 END
        |   + CASE WHEN GROUPING(o_orderpriority) = 1 THEN 1 ELSE 0 END)
        |    ::BIGINT AS lvl
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY lvl, status, priority""".stripMargin,
    // A63 twin: same QID classes, exact counts/distincts, same
    // integer flag thresholds
    "q_k_anonymity" ->
      """SELECT event_type, isodow(ts)::BIGINT AS iso_dow,
        |  (hour(ts) // 6)::BIGINT AS hod_bucket,
        |  count(*)::BIGINT AS n_rows,
        |  count(DISTINCT user_id)::BIGINT AS n_users,
        |  (count(*) >= 50)::BIGINT AS k_anonymous,
        |  (count(DISTINCT user_id) >= 20)::BIGINT AS l_diverse
        |FROM events GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // A61 twin: same observed cells, margins re-aggregated from the
    // cells, the identical per-cell IEEE sequence folded in the SAME
    // sorted (event_type, iso_dow) order, round-6 export
    "q_mutual_info" ->
      """WITH cells AS (
        |  SELECT event_type, isodow(ts)::BIGINT AS iso_dow,
        |    count(*)::BIGINT AS n_xy
        |  FROM events GROUP BY 1, 2),
        |rx AS (SELECT event_type, sum(n_xy)::BIGINT AS n_x
        |       FROM cells GROUP BY 1),
        |cy AS (SELECT iso_dow, sum(n_xy)::BIGINT AS n_y
        |       FROM cells GROUP BY 1),
        |t AS (SELECT (SELECT sum(n_xy) FROM cells)::BIGINT AS n),
        |parts AS (
        |  SELECT c.event_type, c.iso_dow,
        |    (c.n_xy::DOUBLE / t.n::DOUBLE)
        |      * ln(t.n::DOUBLE * c.n_xy::DOUBLE
        |        / (rx.n_x::DOUBLE * cy.n_y::DOUBLE)) AS contrib
        |  FROM cells c JOIN rx USING (event_type)
        |  JOIN cy USING (iso_dow), t)
        |SELECT (SELECT n FROM t) AS n, count(*)::BIGINT AS n_cells,
        |  round(list_reduce(list_prepend(0.0::DOUBLE,
        |    list(contrib ORDER BY event_type, iso_dow)),
        |    (acc, x) -> acc + x), 6) AS mi_nats
        |FROM parts""".stripMargin,
    // A62 twin: the identical integer hash lanes, counter sums, and
    // per-user min over the same 4 cells; top-10 by the same
    // (cnt DESC, user_id) rule
    "q_cms" ->
      """WITH users AS (
        |  SELECT user_id, count(*)::BIGINT AS cnt FROM events GROUP BY 1),
        |lanes AS (
        |  SELECT user_id, cnt, unnest([0, 1, 2, 3]) AS ri FROM users),
        |cells AS (
        |  SELECT user_id, cnt, ri,
        |    (((CASE ri WHEN 0 THEN 1299721 WHEN 1 THEN 15485863
        |       WHEN 2 THEN 179424673 ELSE 982451653 END
        |      * (user_id % 2147483647)
        |      + CASE ri WHEN 0 THEN 7 WHEN 1 THEN 131071
        |        WHEN 2 THEN 524287 ELSE 98765431 END)
        |      % 2147483647) % 256)::BIGINT AS cell
        |  FROM lanes),
        |sketch AS (
        |  SELECT ri, cell, sum(cnt)::BIGINT AS counter
        |  FROM cells GROUP BY 1, 2),
        |top AS (
        |  SELECT user_id, cnt,
        |    row_number() OVER (ORDER BY cnt DESC, user_id) AS rk
        |  FROM users ORDER BY cnt DESC, user_id LIMIT 10)
        |SELECT t.rk::BIGINT AS rk, t.user_id, t.cnt AS true_cnt,
        |  min(s.counter)::BIGINT AS est_cnt,
        |  (min(s.counter) - t.cnt)::BIGINT AS overcount
        |FROM top t JOIN cells c USING (user_id)
        |JOIN sketch s ON c.ri = s.ri AND c.cell = s.cell
        |GROUP BY 1, 2, 3 ORDER BY rk""".stripMargin,
    // A54 twin: same monthly aggregates, same division-then-ln, same
    // (yr, m)-ordered folds, round-4 export
    "q_elasticity" ->
      """WITH pts AS (
        |  SELECT p_brand AS brand, year(l_shipdate)::BIGINT AS yr,
        |    month(l_shipdate)::BIGINT AS m,
        |    sum(l_quantity::BIGINT)::BIGINT AS q,
        |    sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS r
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2, 3),
        |xy AS (
        |  SELECT brand, yr, m,
        |    ln(r::DOUBLE / q::DOUBLE) AS x, ln(q::DOUBLE) AS y
        |  FROM pts WHERE q > 0),
        |s AS (
        |  SELECT brand, count(*)::BIGINT AS n_months,
        |    list_reduce(list_prepend(0.0::DOUBLE, list(x ORDER BY yr, m)),
        |      (a, b) -> a + b) AS sx,
        |    list_reduce(list_prepend(0.0::DOUBLE, list(y ORDER BY yr, m)),
        |      (a, b) -> a + b) AS sy,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list(x * y ORDER BY yr, m)), (a, b) -> a + b) AS sxy,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list(x * x ORDER BY yr, m)), (a, b) -> a + b) AS sxx
        |  FROM xy GROUP BY 1)
        |SELECT brand, n_months,
        |  round((n_months * sxy - sx * sy)
        |    / (n_months * sxx - sx * sx), 4) AS elasticity
        |FROM s WHERE n_months >= 3 ORDER BY brand""".stripMargin,
    // A55 twin: same exact shares, same supplier-ordered fold of
    // share·ln(ratio), round-4 export
    "q_theil" ->
      """WITH rev AS (
        |  SELECT s_nationkey::BIGINT AS nation, s_suppkey,
        |    sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2
        |  HAVING sum(round(l_extendedprice * 100)::BIGINT) > 0),
        |t AS (
        |  SELECT nation, s_suppkey, cents,
        |    (count(*) OVER (PARTITION BY nation))::BIGINT AS n,
        |    (sum(cents::HUGEINT) OVER (PARTITION BY nation)) AS tot
        |  FROM rev),
        |terms AS (
        |  SELECT nation, s_suppkey, n,
        |    cents::DOUBLE / tot::DOUBLE AS share,
        |    (n::DOUBLE * cents::DOUBLE) / tot::DOUBLE AS ratio
        |  FROM t)
        |SELECT nation, max(n)::BIGINT AS n_suppliers,
        |  round(list_reduce(list_prepend(0.0::DOUBLE,
        |    list(share * ln(ratio) ORDER BY s_suppkey)),
        |    (a, b) -> a + b), 4) AS theil_t
        |FROM terms GROUP BY nation ORDER BY nation""".stripMargin,
    // A52 twin: same integer cells/margins, same pinned-order fold,
    // same one-division-one-sqrt tail
    "q_cramers_v" ->
      """WITH cells0 AS (
        |  SELECT l_returnflag AS flag, l_linestatus AS mode,
        |    count(*)::BIGINT AS obs
        |  FROM lineitem GROUP BY 1, 2),
        |cells AS (
        |  SELECT f.flag, m.mode, coalesce(c.obs, 0)::BIGINT AS obs
        |  FROM (SELECT DISTINCT flag FROM cells0) f
        |  CROSS JOIN (SELECT DISTINCT mode FROM cells0) m
        |  LEFT JOIN cells0 c ON c.flag = f.flag AND c.mode = m.mode),
        |t AS (
        |  SELECT flag, mode, obs,
        |    (sum(obs) OVER (PARTITION BY flag))::BIGINT AS row_total,
        |    (sum(obs) OVER (PARTITION BY mode))::BIGINT AS col_total,
        |    (sum(obs) OVER ())::BIGINT AS n
        |  FROM cells),
        |c2 AS (
        |  SELECT flag, mode, n,
        |    (obs::DOUBLE - (row_total * col_total)::DOUBLE / n::DOUBLE)
        |      * (obs::DOUBLE - (row_total * col_total)::DOUBLE / n::DOUBLE)
        |      / ((row_total * col_total)::DOUBLE / n::DOUBLE) AS chi_cell
        |  FROM t),
        |tot AS (
        |  SELECT max(n)::BIGINT AS n,
        |    list_reduce(
        |      list_prepend(0.0::DOUBLE, list(chi_cell ORDER BY flag, mode)),
        |      (a, b) -> a + b) AS chi2,
        |    count(DISTINCT flag)::BIGINT AS r,
        |    count(DISTINCT mode)::BIGINT AS c
        |  FROM c2)
        |SELECT n, r, c, chi2,
        |  sqrt(chi2 / (n::DOUBLE * least(r - 1, c - 1)::DOUBLE)) AS v
        |FROM tot""".stripMargin,
    // A53 twin: same exact HUGEINT Gram combinations, one cast each,
    // then the identical quadratic-formula IEEE sequence
    "q_pca2" ->
      """WITH g AS (
        |  SELECT l_returnflag AS flag, count(*)::BIGINT AS n,
        |    sum(l_quantity::BIGINT)::HUGEINT AS sx,
        |    sum(round(l_extendedprice * 100)::BIGINT)::HUGEINT AS sy,
        |    sum(l_quantity::HUGEINT * l_quantity::BIGINT) AS sxx,
        |    sum(l_quantity::HUGEINT
        |      * round(l_extendedprice * 100)::BIGINT) AS sxy,
        |    sum(round(l_extendedprice * 100)::HUGEINT
        |      * round(l_extendedprice * 100)::BIGINT) AS syy
        |  FROM lineitem GROUP BY 1),
        |m AS (
        |  SELECT flag, n,
        |    (n * sxx - sx * sx)::DOUBLE AS a,
        |    (n * sxy - sx * sy)::DOUBLE AS b,
        |    (n * syy - sy * sy)::DOUBLE AS c
        |  FROM g),
        |e AS (
        |  SELECT flag, n, a + c AS tr,
        |    sqrt((a - c) * (a - c) + 4.0 * b * b) AS disc,
        |    (n * n)::DOUBLE AS nn
        |  FROM m),
        |l AS (
        |  SELECT flag, n, (tr + disc) / 2.0 / nn AS lam1,
        |    (tr - disc) / 2.0 / nn AS lam2
        |  FROM e)
        |SELECT flag, n, lam1, lam2, lam1 / (lam1 + lam2) AS evr
        |FROM l ORDER BY flag""".stripMargin,
    // A51 twin: same exact decimal square-sum, same HUGEINT floor-div
    "q_hhi" ->
      """WITH rev AS (
        |  SELECT s_nationkey, l_suppkey,
        |    sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2)
        |SELECT s_nationkey::BIGINT AS nation,
        |  count(*)::BIGINT AS n_suppliers,
        |  (sum(cents::HUGEINT * cents) * 10000
        |    // (sum(cents::HUGEINT) * sum(cents::HUGEINT)))::BIGINT
        |    AS hhi_points
        |FROM rev GROUP BY 1 ORDER BY nation""".stripMargin,
    // A50 twin: same histogram, same cross-multiplied ECDF gaps ×
    // BIGINT value gaps summed exactly, one division at export
    "q_wasserstein" ->
      """WITH vc AS (
        |  SELECT round(l_extendedprice * 100)::BIGINT AS cents,
        |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS cr,
        |    sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)::BIGINT AS cn
        |  FROM lineitem WHERE l_returnflag IN ('R', 'N') GROUP BY 1),
        |cum AS (
        |  SELECT cents,
        |    (sum(cr) OVER w)::BIGINT AS cumr,
        |    (sum(cn) OVER w)::BIGINT AS cumn,
        |    (sum(cr) OVER ())::BIGINT AS nr,
        |    (sum(cn) OVER ())::BIGINT AS nn,
        |    lead(cents) OVER (ORDER BY cents) - cents AS gap
        |  FROM vc
        |  WINDOW w AS (ORDER BY cents
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |t AS (
        |  SELECT nr, nn,
        |    abs(cumr::DECIMAL(38,0) * nn - cumn::DECIMAL(38,0) * nr)
        |      * gap AS term
        |  FROM cum WHERE gap IS NOT NULL)
        |SELECT max(nr)::BIGINT AS n_r, max(nn)::BIGINT AS n_n,
        |  round(sum(term)::DOUBLE /
        |    (max(nr)::DOUBLE * max(nn)::DOUBLE * 100.0), 6) AS w1_dollars
        |FROM t""".stripMargin,
    // A49 twin: same exact decimal Gram entries, same Cramer
    // numerators, two double divisions at export
    "q_ridge" ->
      """WITH g AS (
        |  SELECT l_returnflag AS flag, count(*)::BIGINT AS n,
        |    sum(l_quantity::DECIMAL(38,0) * l_quantity::BIGINT)
        |      AS s11,
        |    sum(l_quantity::DECIMAL(38,0) * l_linenumber::BIGINT)
        |      AS s12,
        |    sum(l_linenumber::DECIMAL(38,0) * l_linenumber::BIGINT)
        |      AS s22,
        |    sum(l_quantity::DECIMAL(38,0)
        |      * round(l_extendedprice * 100)::BIGINT) AS b1,
        |    sum(l_linenumber::DECIMAL(38,0)
        |      * round(l_extendedprice * 100)::BIGINT) AS b2
        |  FROM lineitem GROUP BY 1)
        |SELECT flag, n,
        |  round((((s22 + 1000) * b1 - s12 * b2))::DOUBLE /
        |    (((s11 + 1000) * (s22 + 1000) - s12 * s12))::DOUBLE, 6)
        |    AS beta_qty,
        |  round((((s11 + 1000) * b2 - s12 * b1))::DOUBLE /
        |    (((s11 + 1000) * (s22 + 1000) - s12 * s12))::DOUBLE, 6)
        |    AS beta_line
        |FROM g ORDER BY flag""".stripMargin,
    // A48 twin: same distinct baskets, integer ppm ratios, lift
    // cross-multiplied in HUGEINT before the one floor-div
    "q_basket_lift" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |no AS (SELECT count(*)::BIGINT AS n_orders FROM orders),
        |item AS (
        |  SELECT l_partkey AS part, count(*)::BIGINT AS n_part
        |  FROM li GROUP BY 1),
        |pairs AS (
        |  SELECT x.l_partkey AS a, y.l_partkey AS b,
        |    count(*)::BIGINT AS n_ab
        |  FROM li x JOIN li y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |j AS (
        |  SELECT a, b, n_ab, ia.n_part AS n_a, ib.n_part AS n_b,
        |    n_ab * 1000000 // n_orders AS supp_ppm,
        |    n_ab * 1000000 // ia.n_part AS conf_ppm,
        |    (n_ab::HUGEINT * n_orders * 1000000
        |      // (ia.n_part::HUGEINT * ib.n_part))::BIGINT AS lift_ppm
        |  FROM pairs
        |  JOIN item ia ON ia.part = a
        |  JOIN item ib ON ib.part = b, no),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    ORDER BY lift_ppm DESC, a, b)::BIGINT AS rk FROM j)
        |SELECT a, b, n_ab, n_a, n_b, supp_ppm, conf_ppm, lift_ppm, rk
        |FROM r WHERE rk <= 20 ORDER BY rk""".stripMargin,
    // A47 twin: same exact counts, same pooled-p̂ scalar sequence
    // A69 twin: the same z literals, the same q·q quadratic (never
    // pow — the B55 finding), one pinned IEEE sequence into ceil
    "q_power" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS converted
        |  FROM events GROUP BY 1),
        |b AS (
        |  SELECT count(*)::BIGINT AS n_users,
        |    sum(converted)::BIGINT AS n_conv
        |  FROM pu),
        |l AS (
        |  SELECT n_users, n_conv, unnest([5, 10, 20])::BIGINT AS lift_pct
        |  FROM b),
        |c AS (
        |  SELECT *, n_conv::DOUBLE / n_users::DOUBLE AS p1,
        |    (n_conv::DOUBLE / n_users::DOUBLE)
        |      * (1.0 + lift_pct::DOUBLE / 100.0) AS p2
        |  FROM l),
        |d AS (
        |  SELECT *, (p1 + p2) / 2.0 AS pbar FROM c),
        |e AS (
        |  SELECT *,
        |    CASE WHEN n_conv > 0 AND p2 < 1.0 THEN
        |      1.9599639845400545 * sqrt(2.0 * pbar * (1.0 - pbar))
        |      + 0.8416212335729143 * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2))
        |    END AS q
        |  FROM d)
        |SELECT lift_pct, n_users, n_conv, round(p1, 6) AS p_base,
        |  ceil((q * q) / ((p2 - p1) * (p2 - p1)))::BIGINT AS n_per_group
        |FROM e ORDER BY lift_pct""".stripMargin,
    "q_ab_test" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |      END)::BIGINT AS converted
        |  FROM events GROUP BY 1),
        |g AS (
        |  SELECT user_id % 2 AS cohort, count(*)::BIGINT AS n,
        |    sum(converted)::BIGINT AS conv
        |  FROM pu GROUP BY 1),
        |a AS (SELECT n AS n_a, conv AS conv_a FROM g WHERE cohort = 0),
        |b AS (SELECT n AS n_b, conv AS conv_b FROM g WHERE cohort = 1)
        |SELECT n_a, conv_a, n_b, conv_b,
        |  conv_a * 1000000 // n_a AS rate_a_ppm,
        |  conv_b * 1000000 // n_b AS rate_b_ppm,
        |  CASE WHEN conv_a + conv_b > 0 AND conv_a + conv_b < n_a + n_b
        |  THEN round((conv_a::DOUBLE / n_a::DOUBLE
        |      - conv_b::DOUBLE / n_b::DOUBLE) /
        |    sqrt((conv_a + conv_b)::DOUBLE / (n_a::DOUBLE + n_b::DOUBLE)
        |      * (1.0 - (conv_a + conv_b)::DOUBLE
        |          / (n_a::DOUBLE + n_b::DOUBLE))
        |      * (1.0 / n_a::DOUBLE + 1.0 / n_b::DOUBLE)), 6) END AS z_score
        |FROM a, b""".stripMargin,
    // A46 twin: same (cents, custkey) total order, exact decimal
    // product-sums, same ppm floor-div and 6dp gini round
    "q_lorenz" ->
      """WITH spend AS (
        |  SELECT o_custkey,
        |    sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM orders GROUP BY 1),
        |ranked AS (
        |  SELECT o_custkey, cents,
        |    row_number() OVER w::BIGINT AS i,
        |    ntile(10) OVER w::BIGINT AS decile
        |  FROM spend
        |  WINDOW w AS (ORDER BY cents, o_custkey)),
        |tot AS (
        |  SELECT count(*)::BIGINT AS n,
        |    sum(cents::DECIMAL(38,0)) AS sx,
        |    sum(i::DECIMAL(38,0) * cents) AS six
        |  FROM ranked),
        |g AS (
        |  SELECT n, sx,
        |    round((2::DECIMAL(38,0) * six
        |        - (n + 1)::DECIMAL(38,0) * sx)::DOUBLE
        |      / (n::DOUBLE * sx::DOUBLE), 6) AS gini
        |  FROM tot),
        |dec AS (
        |  SELECT decile, count(*)::BIGINT AS n_cust,
        |    sum(cents::DECIMAL(38,0)) AS dec_cents
        |  FROM ranked GROUP BY 1),
        |cum AS (
        |  SELECT decile, n_cust, dec_cents,
        |    sum(dec_cents) OVER (ORDER BY decile) AS cum_cents
        |  FROM dec)
        |SELECT decile, n_cust, dec_cents::DOUBLE AS dec_dollars_x100,
        |  (cum_cents::HUGEINT * 1000000 // sx::HUGEINT)::BIGINT AS cum_ppm,
        |  gini
        |FROM cum, g ORDER BY decile""".stripMargin,
    // A45 twin: the one-window form of the same prefix-min test —
    // the Spark side's bucketed decomposition computes the identical
    // integer mins
    "q_skyline" ->
      """WITH pts AS (
        |  SELECT DISTINCT round(l_extendedprice * 100)::BIGINT AS price_c,
        |    l_quantity::BIGINT AS qty
        |  FROM lineitem),
        |w AS (
        |  SELECT price_c, qty,
        |    min(qty) OVER (ORDER BY price_c
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prev_min,
        |    min(qty) OVER (PARTITION BY price_c) AS same_min
        |  FROM pts)
        |SELECT price_c, qty FROM w
        |WHERE (prev_min IS NULL OR prev_min > qty) AND same_min = qty
        |ORDER BY price_c""".stripMargin,
    // A42 twin: identical doubled-rank histogram; 2U and the tie sum
    // are exact decimals, z is the same pinned scalar sequence
    // A58 twin: the same seven declarative rules as plain aggregates
    // and anti-join counts, unioned
    "q_dq_checks" ->
      """WITH o AS (
        |  SELECT count(*)::BIGINT AS n,
        |    sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)::BIGINT
        |      AS bad_price,
        |    sum(CASE WHEN o_orderdate < DATE '1992-01-01'
        |          OR o_orderdate > DATE '1998-12-31'
        |        THEN 1 ELSE 0 END)::BIGINT AS bad_date,
        |    (count(*) - count(DISTINCT o_orderkey))::BIGINT AS dup_keys
        |  FROM orders),
        |l AS (
        |  SELECT count(*)::BIGINT AS n,
        |    sum(CASE WHEN l_discount < 0 OR l_discount > 1
        |        THEN 1 ELSE 0 END)::BIGINT AS bad_disc,
        |    sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)::BIGINT
        |      AS bad_qty
        |  FROM lineitem),
        |orph_l AS (
        |  SELECT count(*)::BIGINT AS orphans FROM lineitem
        |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
        |orph_o AS (
        |  SELECT count(*)::BIGINT AS orphans FROM orders
        |  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)),
        |sb AS (
        |  SELECT count(*)::BIGINT AS n,
        |    sum(CASE WHEN l_shipdate < o_orderdate
        |        THEN 1 ELSE 0 END)::BIGINT AS bad_ship
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |r AS (
        |  SELECT 'orders_totalprice_positive' AS rule, n AS rows_checked,
        |    bad_price AS violations FROM o
        |  UNION ALL SELECT 'orders_orderdate_in_range', n, bad_date FROM o
        |  UNION ALL SELECT 'orders_orderkey_unique', n, dup_keys FROM o
        |  UNION ALL SELECT 'lineitem_discount_bounded', n, bad_disc FROM l
        |  UNION ALL SELECT 'lineitem_quantity_positive', n, bad_qty FROM l
        |  UNION ALL SELECT 'lineitem_orderkey_exists', l.n, orphans
        |    FROM l, orph_l
        |  UNION ALL SELECT 'orders_custkey_exists', o.n, orphans
        |    FROM o, orph_o
        |  UNION ALL SELECT 'lineitem_ship_after_order', n, bad_ship FROM sb)
        |SELECT rule, rows_checked, violations,
        |  violations = 0 AS pass
        |FROM r ORDER BY rule""".stripMargin,
    // A57 twin: same histogram-plus-in-value rank, same integer
    // decile cut, same ppm/cross-multiplied-lift arithmetic
    "q_decile_lift" ->
      """WITH base AS (
        |  SELECT (l_orderkey * 8 + l_linenumber)::BIGINT AS rid,
        |    round(l_extendedprice * 100)::BIGINT AS cents,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END::BIGINT AS pos
        |  FROM lineitem),
        |hist AS (SELECT cents, count(*)::BIGINT AS c
        |         FROM base GROUP BY 1),
        |above AS (
        |  SELECT cents,
        |    (sum(c) OVER (ORDER BY cents DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) - c
        |      AS above
        |  FROM hist),
        |tot AS (SELECT count(*)::BIGINT AS nn, sum(pos)::BIGINT AS np
        |        FROM base),
        |ranked AS (
        |  SELECT b.pos, t.nn, t.np,
        |    (a.above + row_number() OVER (
        |      PARTITION BY b.cents ORDER BY b.rid) - 1) * 10 // t.nn + 1
        |      AS decile
        |  FROM base b JOIN above a USING (cents) CROSS JOIN tot t),
        |per AS (
        |  SELECT decile, count(*)::BIGINT AS n_rows,
        |    sum(pos)::BIGINT AS n_pos,
        |    max(nn)::BIGINT AS nn, max(np)::BIGINT AS np
        |  FROM ranked GROUP BY 1),
        |cum AS (
        |  SELECT decile, n_rows, n_pos, nn, np,
        |    n_pos * 1000000 // n_rows AS resp_ppm,
        |    (sum(n_rows) OVER w)::BIGINT AS cum_rows,
        |    (sum(n_pos) OVER w)::BIGINT AS cum_pos
        |  FROM per
        |  WINDOW w AS (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT decile::BIGINT AS decile, n_rows, n_pos, resp_ppm,
        |  cum_pos,
        |  cum_pos * 1000000 // np AS capture_ppm,
        |  ((cum_pos::HUGEINT * nn * 1000000)
        |    // (cum_rows::HUGEINT * np))::BIGINT AS lift_ppm
        |FROM cum ORDER BY decile""".stripMargin,
    // A56 twin: same value-domain histogram, same doubled tie ranks,
    // same decimal product-sum and single-division export
    // A60 twin: same cells, decimal cross products, one libm sequence
    "q_odds_ratio" ->
      """WITH rows_ AS (
        |  SELECT c_mktsegment AS segment,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey),
        |seg AS (
        |  SELECT segment, sum(pos)::BIGINT AS a,
        |    sum(1 - pos)::BIGINT AS b
        |  FROM rows_ GROUP BY 1),
        |tot AS (
        |  SELECT sum(a)::BIGINT AS ta, sum(b)::BIGINT AS tb FROM seg),
        |cells AS (
        |  SELECT segment, a, b, (ta - a)::BIGINT AS c,
        |    (tb - b)::BIGINT AS d,
        |    (a > 0 AND b > 0 AND ta - a > 0 AND tb - b > 0) AS ok
        |  FROM seg, tot),
        |est AS (
        |  SELECT *,
        |    CASE WHEN ok THEN
        |      (a::HUGEINT * d)::DOUBLE / (b::HUGEINT * c)::DOUBLE
        |    END AS or_
        |  FROM cells),
        |fin AS (
        |  SELECT *,
        |    CASE WHEN ok THEN ln(or_) END AS lnor,
        |    CASE WHEN ok THEN sqrt(
        |      1.0::DOUBLE / a::DOUBLE + 1.0::DOUBLE / b::DOUBLE
        |        + 1.0::DOUBLE / c::DOUBLE + 1.0::DOUBLE / d::DOUBLE)
        |    END AS se
        |  FROM est)
        |SELECT segment, a, b, c, d,
        |  CASE WHEN ok THEN round(or_, 6) END AS odds_ratio,
        |  CASE WHEN ok THEN round(lnor - 1.96 * se, 4) END AS ci_lo,
        |  CASE WHEN ok THEN round(lnor + 1.96 * se, 4) END AS ci_hi,
        |  CASE WHEN ok THEN
        |    (lnor - 1.96 * se > 0 OR lnor + 1.96 * se < 0)
        |  END AS significant
        |FROM fin ORDER BY segment""".stripMargin,
    "q_auc" ->
      """WITH vc AS (
        |  SELECT l_linenumber::BIGINT AS lineno,
        |    round(l_extendedprice * 100)::BIGINT AS cents,
        |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT
        |      AS cp,
        |    sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END)::BIGINT
        |      AS cg
        |  FROM lineitem GROUP BY 1, 2),
        |h AS (
        |  SELECT lineno, cp, cg, cp + cg AS c,
        |    (sum(cp + cg) OVER (PARTITION BY lineno ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |      - (cp + cg) AS b
        |  FROM vc),
        |tot AS (
        |  SELECT lineno, sum(cp)::BIGINT AS n_pos,
        |    sum(cg)::BIGINT AS n_neg,
        |    sum(cp::HUGEINT * (b * 2 + c + 1))::HUGEINT AS sr2
        |  FROM h GROUP BY 1)
        |SELECT lineno, n_pos, n_neg,
        |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |    round((sr2 - n_pos::HUGEINT * (n_pos + 1))::DOUBLE
        |      / (2.0 * n_pos::DOUBLE * n_neg::DOUBLE), 6)
        |  END AS auc
        |FROM tot ORDER BY lineno""".stripMargin,
    "q_mannwhitney" ->
      """WITH vc AS (
        |  SELECT round(l_extendedprice * 100)::BIGINT AS cents,
        |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS cr,
        |    sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)::BIGINT AS cn
        |  FROM lineitem WHERE l_returnflag IN ('R', 'N') GROUP BY 1),
        |h AS (
        |  SELECT cents, cr, cn, cr + cn AS c,
        |    (sum(cr + cn) OVER (ORDER BY cents))::BIGINT - (cr + cn) AS b
        |  FROM vc),
        |tot AS (
        |  SELECT sum(cr)::BIGINT AS nr, sum(cn)::BIGINT AS nn,
        |    sum(cr::DECIMAL(38,0) * (b * 2 + c + 1)) AS sr2,
        |    sum(c::DECIMAL(38,0) * c * c - c) AS ties
        |  FROM h)
        |SELECT nr AS n_r, nn AS n_n,
        |  (sr2 - nr::DECIMAL(38,0) * (nr + 1))::DOUBLE / 2.0 AS u_stat,
        |  round(
        |    ((sr2 - nr::DECIMAL(38,0) * (nr + 1))::DOUBLE
        |       - nr::DOUBLE * nn::DOUBLE) /
        |    (2.0 * sqrt(nr::DOUBLE * nn::DOUBLE / 12.0 *
        |      ((nr + nn + 1)::DOUBLE
        |        - ties::DOUBLE / ((nr + nn)::DOUBLE * (nr + nn - 1)::DOUBLE)))),
        |    6) AS z_score
        |FROM tot""".stripMargin,
    // A43 twin: same two doubled-rank lookups joined back, Pearson
    // numerators exact in DECIMAL before the one double divide
    "q_spearman" ->
      """WITH rows_ AS (
        |  SELECT l_returnflag AS flag, l_quantity::BIGINT AS x,
        |    round(l_extendedprice * 100)::BIGINT AS y
        |  FROM lineitem),
        |rx AS (
        |  SELECT flag, x,
        |    ((sum(c) OVER (PARTITION BY flag ORDER BY x)) - c) * 2 + c + 1
        |      AS r_x
        |  FROM (SELECT flag, x, count(*)::BIGINT AS c FROM rows_
        |        GROUP BY 1, 2)),
        |ry AS (
        |  SELECT flag, y,
        |    ((sum(c) OVER (PARTITION BY flag ORDER BY y)) - c) * 2 + c + 1
        |      AS r_y
        |  FROM (SELECT flag, y, count(*)::BIGINT AS c FROM rows_
        |        GROUP BY 1, 2)),
        |j AS (
        |  SELECT rows_.flag, r_x, r_y FROM rows_
        |  JOIN rx ON rows_.flag = rx.flag AND rows_.x = rx.x
        |  JOIN ry ON rows_.flag = ry.flag AND rows_.y = ry.y),
        |g AS (
        |  SELECT flag, count(*)::BIGINT AS n,
        |    sum(r_x::DECIMAL(38,0)) AS sx, sum(r_y::DECIMAL(38,0)) AS sy,
        |    sum(r_x::DECIMAL(38,0) * r_x) AS sxx,
        |    sum(r_y::DECIMAL(38,0) * r_y) AS syy,
        |    sum(r_x::DECIMAL(38,0) * r_y) AS sxy
        |  FROM j GROUP BY 1)
        |SELECT flag, n,
        |  round((n::DECIMAL(38,0) * sxy - sx * sy)::DOUBLE /
        |    (sqrt((n::DECIMAL(38,0) * sxx - sx * sx)::DOUBLE) *
        |     sqrt((n::DECIMAL(38,0) * syy - sy * sy)::DOUBLE)), 6) AS rho
        |FROM g ORDER BY flag""".stripMargin,
    // A44 twin: doubled-median signs, lag over the same (ts,
    // event_id) order, identical z scalar sequence
    "q_runs_test" ->
      """WITH pts AS (
        |  SELECT event_type, event_id, ts,
        |    round(value * 100)::BIGINT AS cents
        |  FROM events),
        |c1 AS (
        |  SELECT event_type, cents, count(*)::BIGINT AS c
        |  FROM pts GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type, cents,
        |    (sum(c) OVER (PARTITION BY event_type ORDER BY cents))::BIGINT
        |      AS cum,
        |    (sum(c) OVER (PARTITION BY event_type))::BIGINT AS n
        |  FROM c1),
        |med AS (
        |  SELECT event_type,
        |    min(CASE WHEN cum >= ((n - 1) * 50) // 100 + 1 THEN cents END)
        |      AS lo,
        |    min(CASE WHEN cum >= least(((n - 1) * 50) // 100 + 2, n)
        |      THEN cents END) AS hi,
        |    CASE WHEN max(((n - 1) * 50) % 100) = 0 THEN 1 ELSE 0 END
        |      AS exact_
        |  FROM cum GROUP BY 1),
        |m2 AS (
        |  SELECT event_type,
        |    lo + (CASE WHEN exact_ = 1 THEN lo ELSE hi END) AS med2
        |  FROM med),
        |signed AS (
        |  SELECT pts.event_type, ts, event_id,
        |    CASE WHEN cents * 2 > med2 THEN 1
        |         WHEN cents * 2 < med2 THEN -1 END AS sgn
        |  FROM pts JOIN m2 ON pts.event_type = m2.event_type
        |  WHERE cents * 2 <> med2),
        |runs_ AS (
        |  SELECT event_type,
        |    sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_pos,
        |    sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END)::BIGINT AS n_neg,
        |    sum(CASE WHEN prev IS NULL OR prev <> sgn THEN 1 ELSE 0
        |      END)::BIGINT AS runs
        |  FROM (
        |    SELECT event_type, sgn,
        |      lag(sgn) OVER (PARTITION BY event_type
        |        ORDER BY ts, event_id) AS prev
        |    FROM signed)
        |  GROUP BY 1)
        |SELECT event_type, n_pos, n_neg, runs,
        |  round((runs::DOUBLE
        |      - (1.0 + 2.0 * n_pos::DOUBLE * n_neg::DOUBLE
        |         / (n_pos::DOUBLE + n_neg::DOUBLE))) /
        |    sqrt((2.0 * n_pos::DOUBLE * n_neg::DOUBLE
        |        * (2.0 * n_pos::DOUBLE * n_neg::DOUBLE
        |           - (n_pos::DOUBLE + n_neg::DOUBLE))) /
        |      ((n_pos::DOUBLE + n_neg::DOUBLE)
        |        * (n_pos::DOUBLE + n_neg::DOUBLE)
        |        * (n_pos::DOUBLE + n_neg::DOUBLE - 1.0))), 6) AS z_score
        |FROM runs_ ORDER BY event_type""".stripMargin,
    // struct-extremum twin: (bal, custkey) tuple order == Spark's
    // struct field order, so ties break identically
    // type-1 inverse-CDF over exact integer cents; ⌈p·n⌉ is the same
    // one double product + ceil in both engines
    // A33 twin: struct-max on (count, -qty) = max count, smallest
    // value — the same tie rule Spark's max(struct(c, -qty)) applies
    // A36 twin: same BIGINT marginals, same per-cell IEEE sequence,
    // same ordered fold (0-seeded list_reduce == 0-seeded aggregate
    // HOF — 0.0 + x is exact for the non-negative contributions)
    // A39 twin: same distinct-value histogram, same BIGINT cumulative
    // counts, same decimal(38,0) cross-multiplied gap, same smallest-
    // value tie; the one division happens once at export in both
    "q_ks_test" ->
      """WITH vc AS (
        |  SELECT round(l_extendedprice * 100)::BIGINT AS cents,
        |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS cr,
        |    sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)::BIGINT AS cn
        |  FROM lineitem WHERE l_returnflag IN ('R', 'N')
        |  GROUP BY 1),
        |cum AS (
        |  SELECT cents,
        |    (sum(cr) OVER (ORDER BY cents
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |       AS cumr,
        |    (sum(cn) OVER (ORDER BY cents
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |       AS cumn,
        |    (sum(cr) OVER ())::BIGINT AS nr,
        |    (sum(cn) OVER ())::BIGINT AS nn
        |  FROM vc),
        |d AS (
        |  -- HUGEINT (int128) carries the exact cross product here; the
        |  -- Spark side uses decimal(38,0) — same exact integers, and
        |  -- only n_r/n_n/at_cents/ks_d are exported
        |  SELECT cents, nr, nn,
        |    abs(cumr::HUGEINT * nn - cumn::HUGEINT * nr) AS diff
        |  FROM cum),
        |m AS (SELECT cents, nr, nn, diff,
        |        max(diff) OVER () AS mx FROM d)
        |SELECT max(nr) AS n_r, max(nn) AS n_n, min(cents) AS at_cents,
        |  round(max(diff)::DOUBLE / (max(nr)::DOUBLE * max(nn)::DOUBLE), 6)
        |    AS ks_d
        |FROM m WHERE diff = mx""".stripMargin,
    // A77 twin: same distinct-value frame, HUGEINT dominance sums,
    // one double division + the Romano flag
    "q_cliffs_delta" ->
      """WITH vc AS (
        |  SELECT round(l_extendedprice * 100)::BIGINT AS cents,
        |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS cr,
        |    sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)::BIGINT AS cn
        |  FROM lineitem WHERE l_returnflag IN ('R', 'N')
        |  GROUP BY 1),
        |h AS (
        |  SELECT cr, cn,
        |    sum(cn) OVER (ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cn
        |      AS belowN,
        |    sum(cr) OVER (ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cr
        |      AS belowR
        |  FROM vc),
        |agg AS (
        |  SELECT sum(cr)::BIGINT AS n_r, sum(cn)::BIGINT AS n_n,
        |    sum(cr::HUGEINT * belowN) AS gt,
        |    sum(cn::HUGEINT * belowR) AS lt
        |  FROM h)
        |SELECT n_r, n_n,
        |  round((gt - lt)::DOUBLE / (n_r::DOUBLE * n_n::DOUBLE), 6)
        |    AS delta,
        |  (abs((gt - lt)::DOUBLE / (n_r::DOUBLE * n_n::DOUBLE))
        |    >= 0.474) AS large
        |FROM agg""".stripMargin,
    // A78 twin: the A40 exact-moment posture, identical IEEE order
    "q_cohens_d" ->
      """WITH g AS (
        |  SELECT l_returnflag AS flag, count(*)::BIGINT AS n,
        |    count(*)::DOUBLE AS nd,
        |    sum(round(l_extendedprice * 100)::BIGINT)::DOUBLE AS sd,
        |    sum((round(l_extendedprice * 100)::BIGINT)::HUGEINT
        |      * round(l_extendedprice * 100)::BIGINT)::DOUBLE AS qd
        |  FROM lineitem WHERE l_returnflag IN ('R', 'N')
        |  GROUP BY 1),
        |m AS (
        |  SELECT flag, n, nd, sd / nd AS m,
        |    (qd - sd * sd / nd) / (nd - 1.0) AS v
        |  FROM g)
        |SELECT r.n AS n_r, n.n AS n_n,
        |  round((r.m - n.m)
        |    / sqrt(((r.nd - 1.0) * r.v + (n.nd - 1.0) * n.v)
        |        / (r.nd + n.nd - 2.0)), 6) AS cohens_d
        |FROM (SELECT * FROM m WHERE flag = 'R') r
        |CROSS JOIN (SELECT * FROM m WHERE flag = 'N') n""".stripMargin,
    // A72 twin: same distinct-value ECDF frame as q_ks_test; U is an
    // exact HUGEINT sum of (cr+cn)·gap², the export the one division
    "q_cvm" ->
      """WITH vc AS (
        |  SELECT round(l_extendedprice * 100)::BIGINT AS cents,
        |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS cr,
        |    sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)::BIGINT AS cn
        |  FROM lineitem WHERE l_returnflag IN ('R', 'N')
        |  GROUP BY 1),
        |cum AS (
        |  SELECT cents, cr, cn,
        |    (sum(cr) OVER (ORDER BY cents
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |       AS cumr,
        |    (sum(cn) OVER (ORDER BY cents
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |       AS cumn,
        |    (sum(cr) OVER ())::BIGINT AS nr,
        |    (sum(cn) OVER ())::BIGINT AS nn
        |  FROM vc),
        |g AS (
        |  SELECT nr, nn,
        |    (cr + cn)::HUGEINT
        |      * (cumr::HUGEINT * nn - cumn::HUGEINT * nr)
        |      * (cumr::HUGEINT * nn - cumn::HUGEINT * nr) AS term
        |  FROM cum)
        |SELECT max(nr) AS n_r, max(nn) AS n_n,
        |  round(sum(term)::DOUBLE
        |    / (max(nr)::DOUBLE * max(nn)::DOUBLE
        |       * (max(nr) + max(nn))::DOUBLE
        |       * (max(nr) + max(nn))::DOUBLE), 6) AS t_cvm
        |FROM g""".stripMargin,
    // H25 twin: the oracle never sees the gz files — parity proves
    // the export/re-ingest loop was lossless
    "src_gz_jsonl" ->
      """SELECT lang, count(*)::BIGINT AS n_docs,
        |  sum(n_chars)::BIGINT AS chars,
        |  sum(doc_id * length(text))::BIGINT AS sig
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // H29 twin: the oracle never sees the CSV — parity proves the
    // quote/newline round-trip lossless (empty-string text lands as
    // NULL through CSV; the signature coalesces identically)
    "src_csv_multiline" ->
      """SELECT lang, count(*)::BIGINT AS n_docs,
        |  sum(n_chars)::BIGINT AS chars,
        |  sum(doc_id * length(text))::BIGINT AS sig
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // H30 twin: same as H25 — the oracle never sees the zst files
    "src_zst_jsonl" ->
      """SELECT lang, count(*)::BIGINT AS n_docs,
        |  sum(n_chars)::BIGINT AS chars,
        |  sum(doc_id * length(text))::BIGINT AS sig
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // H28 twin: same as H25 — the oracle never sees the bz2 files
    "src_bz2_jsonl" ->
      """SELECT lang, count(*)::BIGINT AS n_docs,
        |  sum(n_chars)::BIGINT AS chars,
        |  sum(doc_id * length(text))::BIGINT AS sig
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // H26 twin: DuckDB has NO ORC reader — the oracle aggregates the
    // source table directly, so parity proves the ORC loop lossless
    "src_orc" ->
      """SELECT lang, count(*)::BIGINT AS n_docs,
        |  sum(n_chars)::BIGINT AS chars,
        |  sum(doc_id * length(text))::BIGINT AS sig
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // H27 twin: the byte-column sanitize/truncate/rtrim replayed on
    // the source table — the oracle never sees the fixed-width files
    "src_fixed_width" ->
      """SELECT lang, count(*)::BIGINT AS n_docs,
        |  sum(n_chars)::BIGINT AS chars,
        |  sum(doc_id * length(rtrim(substr(
        |    regexp_replace(text, '[^ -~]', '', 'g'), 1, 40))))::BIGINT
        |    AS sig
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // A76 twin: same exhaustive offset-30 hypotheses, same integer
    // inlier cross-multiplication, same (inliers, min i) winner
    "q_ransac" ->
      """WITH d0 AS (
        |  SELECT year(o_orderdate)::BIGINT AS yr, o_orderdate AS day,
        |    sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS y
        |  FROM orders GROUP BY 1, 2),
        |d AS MATERIALIZED (
        |  SELECT yr, y,
        |    row_number() OVER (PARTITION BY yr ORDER BY day)::BIGINT
        |      AS t
        |  FROM d0),
        |tol AS (
        |  SELECT yr, (sum(y) // (count(*) * 20))::BIGINT AS tt,
        |    count(*)::BIGINT AS n
        |  FROM d GROUP BY 1),
        |hyp AS (
        |  SELECT p.yr, p.t AS i, p.y AS y1, (q.y - p.y)::BIGINT AS dy
        |  FROM d p JOIN d q ON p.yr = q.yr AND q.t = p.t + 30),
        |scored AS (
        |  SELECT h.yr, h.i, h.y1, h.dy, count(*)::BIGINT AS inliers
        |  FROM hyp h
        |  JOIN d x ON x.yr = h.yr
        |  JOIN tol tl ON tl.yr = h.yr
        |  WHERE abs(h.dy * (x.t - h.i) - 30 * (x.y - h.y1))
        |    <= 30 * tl.tt
        |  GROUP BY 1, 2, 3, 4),
        |best AS (
        |  SELECT yr, i, y1, dy, inliers, row_number() OVER (
        |    PARTITION BY yr ORDER BY inliers DESC, i) AS rk
        |  FROM scored)
        |SELECT b.yr, tl.n AS n_days, b.i AS best_i,
        |  b.inliers AS n_inliers, b.y1 AS anchor_y, b.dy AS slope30,
        |  tl.tt AS tol_cents
        |FROM best b JOIN tol tl ON tl.yr = b.yr
        |WHERE b.rk = 1 ORDER BY b.yr""".stripMargin,
    // A74 twin: same complete-block gate, same permutation ranks,
    // integer L/A/B, one identical IEEE z sequence
    "q_page_trend" ->
      """WITH g AS (
        |  SELECT c_nationkey AS nation,
        |    year(o_orderdate)::BIGINT AS yr,
        |    sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |kk AS (SELECT count(DISTINCT yr)::BIGINT AS k FROM g),
        |complete AS (
        |  SELECT nation FROM g GROUP BY nation
        |  HAVING count(*) = (SELECT k FROM kk)),
        |ranked AS (
        |  SELECT g.nation, g.yr,
        |    row_number() OVER (PARTITION BY g.nation
        |      ORDER BY g.cents, g.yr)::BIGINT AS r,
        |    dense_rank() OVER (PARTITION BY g.nation
        |      ORDER BY g.yr)::BIGINT AS j
        |  FROM g SEMI JOIN complete USING (nation)),
        |agg AS (
        |  SELECT (count(*) / (SELECT k FROM kk))::BIGINT AS n_blocks,
        |    (SELECT k FROM kk) AS k,
        |    sum(r * j)::BIGINT AS l
        |  FROM ranked)
        |SELECT n_blocks, k, l,
        |  round((l::DOUBLE
        |      - (n_blocks * k * (k + 1) * (k + 1))::DOUBLE / 4.0)
        |    / sqrt((n_blocks * k * k * (k + 1)
        |      * (k * k - 1))::DOUBLE / 144.0), 6) AS z
        |FROM agg""".stripMargin,
    // A73 twin: identical pair expansion, HUGEINT row/year sums, the
    // same n⁴-scaled double-centered identity, one double div+sqrt
    "q_dcorr" ->
      """WITH d AS (
        |  SELECT year(o_orderdate)::BIGINT AS yr, o_orderdate AS day,
        |    count(*)::BIGINT AS x,
        |    sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS y
        |  FROM orders GROUP BY 1, 2),
        |pairs AS (
        |  SELECT p.yr, p.day,
        |    abs(p.x - q.x)::BIGINT AS a, abs(p.y - q.y)::BIGINT AS b
        |  FROM d p JOIN d q ON p.yr = q.yr),
        |rows_ AS (
        |  SELECT yr, day, sum(a)::BIGINT AS ra, sum(b)::BIGINT AS rb,
        |    sum(a::HUGEINT * b) AS sab, sum(a::HUGEINT * a) AS saa,
        |    sum(b::HUGEINT * b) AS sbb
        |  FROM pairs GROUP BY 1, 2),
        |agg AS (
        |  SELECT yr, count(*)::BIGINT AS n,
        |    sum(ra::HUGEINT) AS sa, sum(rb::HUGEINT) AS sb,
        |    sum(sab) AS tab, sum(saa) AS taa, sum(sbb) AS tbb,
        |    sum(ra::HUGEINT * rb) AS crab,
        |    sum(ra::HUGEINT * ra) AS cra2,
        |    sum(rb::HUGEINT * rb) AS crb2
        |  FROM rows_ GROUP BY 1),
        |v AS (
        |  SELECT yr, n,
        |    n * n * tab + sa * sb - 2 * n * crab AS vxy,
        |    n * n * taa + sa * sa - 2 * n * cra2 AS vx,
        |    n * n * tbb + sb * sb - 2 * n * crb2 AS vy
        |  FROM agg)
        |SELECT yr, n,
        |  CASE WHEN vx > 0 AND vy > 0 THEN
        |    round(vxy::DOUBLE / sqrt(vx::DOUBLE * vy::DOUBLE), 6)
        |  END AS dcor2
        |FROM v ORDER BY yr""".stripMargin,
    // A86 twin: same exact counts, same pinned scalar interval chain
    "q_wilson_ci" ->
      """WITH g AS (
        |  SELECT o_orderpriority AS priority, count(*)::BIGINT AS n,
        |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      ::BIGINT AS r
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1)
        |SELECT priority, n, r,
        |  round(r::DOUBLE / n::DOUBLE, 6) AS p_hat,
        |  round((r::DOUBLE / n::DOUBLE + (1.96 * 1.96) / n::DOUBLE / 2.0)
        |      / (1.0 + (1.96 * 1.96) / n::DOUBLE)
        |    - 1.96 * sqrt((r::DOUBLE / n::DOUBLE)
        |        * (1.0 - r::DOUBLE / n::DOUBLE) / n::DOUBLE
        |        + (1.96 * 1.96) / (4.0 * n::DOUBLE * n::DOUBLE))
        |      / (1.0 + (1.96 * 1.96) / n::DOUBLE), 6) AS wilson_lo,
        |  round((r::DOUBLE / n::DOUBLE + (1.96 * 1.96) / n::DOUBLE / 2.0)
        |      / (1.0 + (1.96 * 1.96) / n::DOUBLE)
        |    + 1.96 * sqrt((r::DOUBLE / n::DOUBLE)
        |        * (1.0 - r::DOUBLE / n::DOUBLE) / n::DOUBLE
        |        + (1.96 * 1.96) / (4.0 * n::DOUBLE * n::DOUBLE))
        |      / (1.0 + (1.96 * 1.96) / n::DOUBLE), 6) AS wilson_hi
        |FROM g ORDER BY priority""".stripMargin,
    // A87 twin: same conditional block aggregate, same exact integer
    // numerator/denominator, one division, round-then-compare
    "q_cochran_q" ->
      """WITH f AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      ::BIGINT AS x1,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      ::BIGINT AS x2,
        |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      ::BIGINT AS x3
        |  FROM events WHERE event_type IN ('click', 'purchase', 'view')
        |  GROUP BY 1),
        |m AS (
        |  SELECT count(*)::BIGINT AS n_blocks, sum(x1)::BIGINT AS c1,
        |    sum(x2)::BIGINT AS c2, sum(x3)::BIGINT AS c3,
        |    sum(x1 + x2 + x3)::BIGINT AS nn,
        |    sum((x1 + x2 + x3) * (x1 + x2 + x3))::BIGINT AS sr2
        |  FROM f),
        |o AS (
        |  SELECT n_blocks, c1, c2, c3,
        |    CASE WHEN 3 * nn - sr2 <> 0 THEN
        |      round(2.0e0 * (3 * (c1*c1 + c2*c2 + c3*c3) - nn*nn)::DOUBLE
        |        / (3 * nn - sr2)::DOUBLE, 4) END AS q_stat
        |  FROM m)
        |SELECT n_blocks, c1 AS n_click, c2 AS n_purchase, c3 AS n_view,
        |  q_stat,
        |  CASE WHEN q_stat IS NOT NULL
        |    THEN (q_stat > 5.991e0)::INT END AS significant
        |FROM o""".stripMargin,
    // A88 twin: the A61 cell/margin frames, the same per-term IEEE
    // sequences folded in the same sorted orders, unrounded ratios
    "q_uncertainty" ->
      """WITH cells AS (
        |  SELECT event_type AS x, isodow(ts)::BIGINT AS y,
        |    count(*)::BIGINT AS n_xy
        |  FROM events GROUP BY 1, 2),
        |rx AS (SELECT x, sum(n_xy)::BIGINT AS n_x FROM cells GROUP BY 1),
        |cy AS (SELECT y, sum(n_xy)::BIGINT AS n_y FROM cells GROUP BY 1),
        |t AS (SELECT (SELECT sum(n_xy) FROM cells)::BIGINT AS n),
        |parts AS (
        |  SELECT c.x, c.y, (c.n_xy::DOUBLE / t.n::DOUBLE)
        |    * ln(t.n::DOUBLE * c.n_xy::DOUBLE
        |      / (rx.n_x::DOUBLE * cy.n_y::DOUBLE)) AS contrib
        |  FROM cells c JOIN rx USING (x) JOIN cy USING (y), t),
        |mi AS (
        |  SELECT list_reduce(list_prepend(0.0::DOUBLE,
        |    list(contrib ORDER BY x, y)), (a, v) -> a + v) AS mi
        |  FROM parts),
        |hx AS (
        |  SELECT list_reduce(list_prepend(0.0::DOUBLE,
        |    list((n_x::DOUBLE / t.n::DOUBLE)
        |      * ln(t.n::DOUBLE / n_x::DOUBLE) ORDER BY x)),
        |    (a, v) -> a + v) AS hx
        |  FROM rx, t),
        |hy AS (
        |  SELECT list_reduce(list_prepend(0.0::DOUBLE,
        |    list((n_y::DOUBLE / t.n::DOUBLE)
        |      * ln(t.n::DOUBLE / n_y::DOUBLE) ORDER BY y)),
        |    (a, v) -> a + v) AS hy
        |  FROM cy, t)
        |SELECT (SELECT n FROM t) AS n, round(mi, 6) AS mi_nats,
        |  round(hx, 6) AS h_x, round(hy, 6) AS h_y,
        |  CASE WHEN hx > 0 THEN round(mi / hx, 6) END AS u_x_given_y,
        |  CASE WHEN hy > 0 THEN round(mi / hy, 6) END AS u_y_given_x
        |FROM mi, hx, hy""".stripMargin,
    // A89 twin: same 30-cell contingency, same HUGEINT pair products
    // over the 900-row cell walk, one division
    "q_gk_gamma" ->
      """WITH cells AS (
        |  SELECT substr(o_orderpriority, 1, 1)::BIGINT AS i,
        |    least(floor(o_totalprice / 50000)::BIGINT, 5) AS j,
        |    count(*)::BIGINT AS nij
        |  FROM orders GROUP BY 1, 2),
        |m AS (
        |  SELECT
        |    sum(CASE WHEN p.i < q.i AND p.j < q.j
        |      THEN p.nij::HUGEINT * q.nij ELSE 0 END)::HUGEINT AS c,
        |    sum(CASE WHEN p.i < q.i AND p.j > q.j
        |      THEN p.nij::HUGEINT * q.nij ELSE 0 END)::HUGEINT AS d
        |  FROM cells p, cells q),
        |t AS (SELECT sum(nij)::BIGINT AS n_orders FROM cells)
        |SELECT (SELECT n_orders FROM t) AS n_orders,
        |  c::BIGINT AS concordant, d::BIGINT AS discordant,
        |  CASE WHEN c + d <> 0 THEN
        |    round((c - d)::DOUBLE / (c + d)::DOUBLE, 6) END AS gamma
        |FROM m""".stripMargin,
    // A90 twin: the A89 cell walk with the two tie sums, three
    // divisions and one sqrt on identical integers
    "q_somers_d" ->
      """WITH cells AS (
        |  SELECT substr(o_orderpriority, 1, 1)::BIGINT AS i,
        |    least(floor(o_totalprice / 50000)::BIGINT, 5) AS j,
        |    count(*)::BIGINT AS nij
        |  FROM orders GROUP BY 1, 2),
        |m AS (
        |  SELECT
        |    sum(CASE WHEN p.i < q.i AND p.j < q.j
        |      THEN p.nij::HUGEINT * q.nij ELSE 0 END)::HUGEINT AS c,
        |    sum(CASE WHEN p.i < q.i AND p.j > q.j
        |      THEN p.nij::HUGEINT * q.nij ELSE 0 END)::HUGEINT AS d,
        |    sum(CASE WHEN p.i = q.i AND p.j < q.j
        |      THEN p.nij::HUGEINT * q.nij ELSE 0 END)::HUGEINT AS tx,
        |    sum(CASE WHEN p.j = q.j AND p.i < q.i
        |      THEN p.nij::HUGEINT * q.nij ELSE 0 END)::HUGEINT AS ty
        |  FROM cells p, cells q)
        |SELECT c::BIGINT AS concordant, d::BIGINT AS discordant,
        |  tx::BIGINT AS t_x, ty::BIGINT AS t_y,
        |  CASE WHEN c + d + ty <> 0 THEN
        |    round((c - d)::DOUBLE / (c + d + ty)::DOUBLE, 6)
        |  END AS d_yx,
        |  CASE WHEN c + d + tx <> 0 THEN
        |    round((c - d)::DOUBLE / (c + d + tx)::DOUBLE, 6)
        |  END AS d_xy,
        |  CASE WHEN (c + d + tx) * (c + d + ty) <> 0 THEN
        |    round((c - d)::DOUBLE
        |      / sqrt(((c + d + tx) * (c + d + ty))::DOUBLE), 6)
        |  END AS tau_b
        |FROM m""".stripMargin,
    // A85 twin: same exact cents-weighted fixed-point ln sums
    // (HUGEINT), same per-segment scalar tail, same fp-summed totals
    "q_theil_decomp" ->
      """WITH pc AS (
        |  SELECT c_mktsegment AS segment, o_custkey,
        |    sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS y
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |seg AS (
        |  SELECT segment, count(*)::BIGINT AS ng,
        |    sum(y::HUGEINT)::HUGEINT AS yg,
        |    sum(y::HUGEINT * round(ln(y::DOUBLE) * 1e9)::BIGINT::HUGEINT)
        |      ::HUGEINT AS ylny
        |  FROM pc GROUP BY 1),
        |tot AS (
        |  SELECT sum(ng)::BIGINT AS n, sum(yg)::HUGEINT AS yy FROM seg),
        |w AS (
        |  SELECT segment, ng, yg, ylny, n, yy,
        |    ylny::DOUBLE / 1e9 / yg::DOUBLE
        |      - ln(yg::DOUBLE / ng::DOUBLE) AS t_g,
        |    yg::DOUBLE / yy::DOUBLE AS share
        |  FROM seg, tot),
        |w2 AS (
        |  SELECT *,
        |    share * ln(share * n::DOUBLE / ng::DOUBLE) AS bt
        |  FROM w),
        |t AS (
        |  SELECT sum(round(share * t_g * 1e9)::BIGINT)::BIGINT AS tw_fp,
        |    sum(round(bt * 1e9)::BIGINT)::BIGINT AS tb_fp
        |  FROM w2)
        |SELECT segment, ng AS n_customers, round(share, 6) AS rev_share,
        |  round(t_g, 6) AS theil_within_seg,
        |  round(tw_fp::DOUBLE / 1e9, 6) AS t_within,
        |  round(tb_fp::DOUBLE / 1e9, 6) AS t_between,
        |  round((tw_fp + tb_fp)::DOUBLE / 1e9, 6) AS t_total
        |FROM w2, t ORDER BY segment""".stripMargin,
    // A84 twin: same deterministic top-(k+1) multiset, same strict
    // threshold rule, same fixed-point ln-ratio sum
    "q_hill" ->
      """WITH pc AS (
        |  SELECT o_custkey,
        |    sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS y
        |  FROM orders GROUP BY 1),
        |top AS (
        |  SELECT y FROM pc ORDER BY y DESC, o_custkey LIMIT 101),
        |th AS (SELECT min(y)::BIGINT AS yk1 FROM top)
        |SELECT count(*)::BIGINT AS k_used,
        |  round(yk1::DOUBLE / 100.0, 2) AS threshold_rev,
        |  CASE WHEN sum(round(ln(y::DOUBLE / yk1::DOUBLE) * 1e9)::BIGINT)
        |      > 0 THEN
        |    round(count(*)::DOUBLE /
        |      (sum(round(ln(y::DOUBLE / yk1::DOUBLE) * 1e9)::BIGINT)
        |        ::DOUBLE / 1e9), 4)
        |  END AS alpha_hill
        |FROM top, th WHERE y > yk1 GROUP BY yk1""".stripMargin,
    // A82 twin: same fixed-point integer ln sum (order-free), same
    // single-division tail
    "q_atkinson" ->
      """WITH pc AS (
        |  SELECT c_mktsegment AS segment, o_custkey,
        |    sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS y
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2)
        |SELECT segment, count(*)::BIGINT AS n_customers,
        |  round(sum(y::DECIMAL(38,0))::DOUBLE
        |    / (count(*)::DOUBLE * 100.0), 2) AS mean_rev,
        |  round(1.0 - exp(sum(round(ln(y::DOUBLE) * 1e9)::BIGINT)::DOUBLE
        |      / (count(*)::DOUBLE * 1e9))
        |    / (sum(y::DECIMAL(38,0))::DOUBLE / count(*)::DOUBLE), 6)
        |    AS atkinson_1
        |FROM pc GROUP BY 1 ORDER BY 1""".stripMargin,
    // A83 twin: same half-window marking, same integer overlap, one
    // division
    "q_capture_recapture" ->
      """WITH e AS (
        |  SELECT event_type, user_id,
        |    datediff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS di
        |  FROM events),
        |b AS (SELECT min(di)::BIGINT AS lo, max(di)::BIGINT AS hi FROM e),
        |mk AS (
        |  SELECT event_type, user_id,
        |    max(CASE WHEN di < (b.lo + b.hi + 1) // 2 THEN 1 ELSE 0 END)
        |      ::BIGINT AS in1,
        |    max(CASE WHEN di >= (b.lo + b.hi + 1) // 2 THEN 1 ELSE 0 END)
        |      ::BIGINT AS in2
        |  FROM e, b GROUP BY 1, 2)
        |SELECT event_type, sum(in1)::BIGINT AS n1, sum(in2)::BIGINT AS n2,
        |  sum(in1 * in2)::BIGINT AS m, count(*)::BIGINT AS true_n,
        |  round((sum(in1) + 1)::DOUBLE * (sum(in2) + 1)::DOUBLE
        |    / (sum(in1 * in2) + 1)::DOUBLE - 1.0, 2) AS n_hat
        |FROM mk GROUP BY 1 ORDER BY 1""".stripMargin,
    // A80 twin: the A40 exact moment sums + the same scalar TOST tail
    "q_tost" ->
      """WITH g AS (
        |  SELECT o_orderpriority AS priority, count(*)::DOUBLE AS nd,
        |    sum((round(o_totalprice * 100)::BIGINT)::DECIMAL(38,0))::DOUBLE
        |      AS s1d,
        |    sum(((round(o_totalprice * 100)::BIGINT)
        |      * (round(o_totalprice * 100)::BIGINT))::DECIMAL(38,0))::DOUBLE
        |      AS s2d
        |  FROM orders GROUP BY 1),
        |gm AS (
        |  SELECT priority, nd, s1d / nd AS m,
        |    (s2d - s1d * s1d / nd) / (nd - 1.0) AS v
        |  FROM g),
        |p AS (
        |  SELECT a.priority AS pa, b.priority AS pb,
        |    a.m - b.m AS diff,
        |    (a.m * a.nd + b.m * b.nd) / (a.nd + b.nd) * 0.02 AS margin,
        |    sqrt(a.v / a.nd + b.v / b.nd) AS se
        |  FROM gm a JOIN gm b ON a.priority < b.priority)
        |SELECT pa, pb, round(diff / 100.0, 4) AS mean_diff,
        |  round(margin / 100.0, 4) AS margin,
        |  round((diff + margin) / se, 6) AS t_lower,
        |  round((diff - margin) / se, 6) AS t_upper,
        |  (CASE WHEN (diff + margin) / se > 1.6449
        |    AND (diff - margin) / se < -1.6449 THEN 1 ELSE 0 END)::BIGINT
        |    AS equivalent
        |FROM p ORDER BY pa, pb""".stripMargin,
    // A81 twin: exact integer numerator, HUGEINT marginal product,
    // one sqrt + one division
    "q_mcc" ->
      """WITH t AS (
        |  SELECT n_regionkey::BIGINT AS region, count(*)::BIGINT AS n,
        |    sum(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END)
        |      ::BIGINT AS r,
        |    sum(CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END)::BIGINT AS c,
        |    sum(CASE WHEN c_mktsegment = 'BUILDING' AND c_acctbal > 0
        |      THEN 1 ELSE 0 END)::BIGINT AS tp
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1)
        |SELECT region, n, tp, (c - tp)::BIGINT AS fp,
        |  (r - tp)::BIGINT AS fn, (n - r - c + tp)::BIGINT AS tn,
        |  CASE WHEN r::HUGEINT * c * (n - r) * (n - c) > 0 THEN
        |    round((tp::HUGEINT * (n - r - c + tp)::HUGEINT
        |      - (c - tp)::HUGEINT * (r - tp)::HUGEINT)::DOUBLE
        |      / sqrt((r::HUGEINT * c::HUGEINT * (n - r)::HUGEINT
        |        * (n - c)::HUGEINT)::DOUBLE), 6)
        |  END AS mcc
        |FROM t ORDER BY region""".stripMargin,
    // A79 twin: the same log-space hypergeometric recurrence, the
    // same ordered window cumsums (k order), the same two-sided rule
    "q_fisher_exact" ->
      """WITH t AS (
        |  SELECT n_regionkey::BIGINT AS region, count(*)::BIGINT AS n,
        |    sum(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END)
        |      ::BIGINT AS r,
        |    sum(CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END)::BIGINT AS c,
        |    sum(CASE WHEN c_mktsegment = 'BUILDING' AND c_acctbal > 0
        |      THEN 1 ELSE 0 END)::BIGINT AS a
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1),
        |kf AS (
        |  SELECT region, n, r, c, a,
        |    greatest(0, c - (n - r)) AS kmin, least(r, c) AS kmax,
        |    unnest(range(greatest(0, c - (n - r)), least(r, c) + 1))
        |      ::BIGINT AS k
        |  FROM t),
        |lu AS (
        |  SELECT *,
        |    sum(CASE WHEN k = kmin THEN 0.0
        |      ELSE ln((r - k + 1)::DOUBLE) + ln((c - k + 1)::DOUBLE)
        |        - ln(k::DOUBLE) - ln((n - r - c + k)::DOUBLE) END)
        |      OVER (PARTITION BY region ORDER BY k
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS logu
        |  FROM kf),
        |tm AS (
        |  SELECT *, exp(logu - max(logu) OVER (PARTITION BY region))
        |    AS term
        |  FROM lu),
        |zc AS (
        |  SELECT *,
        |    sum(term) OVER (PARTITION BY region ORDER BY k
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS zcum,
        |    max(CASE WHEN k = a THEN term END)
        |      OVER (PARTITION BY region) AS ta
        |  FROM tm),
        |pc AS (
        |  SELECT *,
        |    max(zcum) OVER (PARTITION BY region) AS z,
        |    sum(CASE WHEN term <= ta * (1.0 + 1e-7) THEN term
        |      ELSE 0.0 END)
        |      OVER (PARTITION BY region ORDER BY k
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS p2cum,
        |    max(CASE WHEN k = a THEN zcum END)
        |      OVER (PARTITION BY region) AS lcum_a
        |  FROM zc)
        |SELECT region, max(n) AS n, max(r) AS n_building,
        |  max(c) AS n_positive, max(a) AS n_both,
        |  round(max(p2cum) / max(z), 6) AS p_two_sided,
        |  round(max(lcum_a) / max(z), 6) AS p_left,
        |  round((max(z) - max(lcum_a) + max(ta)) / max(z), 6) AS p_right
        |FROM pc GROUP BY region ORDER BY region""".stripMargin,
    // A40 twin: identical exact decimal sums, identical IEEE scalar
    // sequence (÷ × √ are correctly rounded in both engines), so
    // t and dof are bit-identical before the export round
    "q_welch_ttest" ->
      """WITH g AS (
        |  SELECT o_orderpriority AS priority, count(*)::BIGINT AS n,
        |    count(*)::DOUBLE AS nd,
        |    sum((round(o_totalprice * 100)::BIGINT)::DECIMAL(38,0))::DOUBLE
        |      AS s1d,
        |    sum(((round(o_totalprice * 100)::BIGINT)
        |      * (round(o_totalprice * 100)::BIGINT))::DECIMAL(38,0))::DOUBLE
        |      AS s2d
        |  FROM orders GROUP BY 1),
        |gm AS (
        |  SELECT priority, n, nd, s1d / nd AS m,
        |    (s2d - s1d * s1d / nd) / (nd - 1.0) AS v
        |  FROM g)
        |SELECT a.priority AS pa, b.priority AS pb,
        |  a.n AS n_a, b.n AS n_b,
        |  round((a.m - b.m) / 100.0, 4) AS mean_diff,
        |  round((a.m - b.m) / sqrt(a.v / a.nd + b.v / b.nd), 6) AS t_stat,
        |  round((a.v / a.nd + b.v / b.nd) * (a.v / a.nd + b.v / b.nd)
        |    / ((a.v / a.nd) * (a.v / a.nd) / (a.nd - 1.0)
        |      + (b.v / b.nd) * (b.v / b.nd) / (b.nd - 1.0)), 4)
        |    AS welch_dof
        |FROM gm a JOIN gm b ON a.priority < b.priority
        |ORDER BY pa, pb""".stripMargin,
    // A41 twin: exact decimal group sums, SSB/SSW folded in the same
    // sorted group order via list(... ORDER BY) + list_reduce
    "q_anova" ->
      """WITH g AS (
        |  SELECT l_linenumber::BIGINT AS lineno, count(*)::BIGINT AS n,
        |    sum((round(l_extendedprice * 100)::BIGINT)::DECIMAL(38,0)) AS s1,
        |    sum(((round(l_extendedprice * 100)::BIGINT)
        |      * (round(l_extendedprice * 100)::BIGINT))::DECIMAL(38,0)) AS s2
        |  FROM lineitem GROUP BY 1),
        |t AS (
        |  SELECT lineno, n, s1, s2,
        |    (sum(n) OVER ())::BIGINT AS nall,
        |    sum(s1) OVER () AS s1all,
        |    (count(*) OVER ())::BIGINT AS k
        |  FROM g),
        |c AS (
        |  SELECT lineno, n, nall, k,
        |    s1::DOUBLE / n::DOUBLE AS m,
        |    n::DOUBLE * (s1::DOUBLE / n::DOUBLE - s1all::DOUBLE / nall::DOUBLE)
        |      * (s1::DOUBLE / n::DOUBLE - s1all::DOUBLE / nall::DOUBLE)
        |      AS ssb_t,
        |    s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / n::DOUBLE AS ssw_t
        |  FROM t),
        |tot AS (
        |  SELECT max(k)::BIGINT AS k, max(nall)::BIGINT AS n,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list(ssb_t ORDER BY lineno)), (a, b) -> a + b) AS ssb,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list(ssw_t ORDER BY lineno)), (a, b) -> a + b) AS ssw
        |  FROM c)
        |SELECT c.lineno, c.n AS n_g, round(c.m / 100.0, 4) AS mean_d,
        |  tot.k, tot.n, round(tot.ssb / 10000.0, 2) AS ssb_d2,
        |  round(tot.ssw / 10000.0, 2) AS ssw_d2,
        |  round((tot.ssb / (tot.k - 1)::DOUBLE)
        |    / (tot.ssw / (tot.n - tot.k)::DOUBLE), 6) AS f_stat
        |FROM c, tot ORDER BY c.lineno""".stripMargin,
    "q_chisq" ->
      """WITH cells0 AS (
        |  SELECT o_orderpriority AS priority, o_orderstatus AS status,
        |    count(*)::BIGINT AS obs
        |  FROM orders GROUP BY 1, 2),
        |cells AS (
        |  SELECT f.priority, m.status, coalesce(c.obs, 0)::BIGINT AS obs
        |  FROM (SELECT DISTINCT priority FROM cells0) f
        |  CROSS JOIN (SELECT DISTINCT status FROM cells0) m
        |  LEFT JOIN cells0 c
        |    ON c.priority = f.priority AND c.status = m.status),
        |t AS (
        |  SELECT priority, status, obs,
        |    (sum(obs) OVER (PARTITION BY priority))::BIGINT AS row_total,
        |    (sum(obs) OVER (PARTITION BY status))::BIGINT AS col_total,
        |    (sum(obs) OVER ())::BIGINT AS n
        |  FROM cells),
        |c2 AS (
        |  SELECT priority, status, obs, row_total, col_total,
        |    (row_total * col_total)::DOUBLE / n::DOUBLE AS expected,
        |    (obs::DOUBLE - (row_total * col_total)::DOUBLE / n::DOUBLE)
        |      * (obs::DOUBLE - (row_total * col_total)::DOUBLE / n::DOUBLE)
        |      / ((row_total * col_total)::DOUBLE / n::DOUBLE) AS chi_cell
        |  FROM t),
        |tot AS (
        |  SELECT list_reduce(
        |      list_prepend(0.0::DOUBLE, list(chi_cell ORDER BY priority, status)),
        |      (a, b) -> a + b) AS chi2,
        |    ((count(DISTINCT priority) - 1)
        |      * (count(DISTINCT status) - 1))::BIGINT AS dof
        |  FROM c2)
        |SELECT priority, status, obs, row_total, col_total, expected,
        |  chi_cell, chi2, dof
        |FROM c2, tot ORDER BY priority, status""".stripMargin,
    // A37 twin: both medians through the same doubled-integer
    // cumulative-histogram interpolation; only the final dyadic
    // divisions are doubles
    "q_mad" ->
      """WITH pts AS (
        |  SELECT o_orderpriority AS priority,
        |    round(o_totalprice * 100)::BIGINT AS cents
        |  FROM orders),
        |c1 AS (
        |  SELECT priority, cents, count(*) AS c FROM pts GROUP BY 1, 2),
        |cum1 AS (
        |  SELECT priority, cents,
        |    (sum(c) OVER (PARTITION BY priority ORDER BY cents))::BIGINT AS cum,
        |    (sum(c) OVER (PARTITION BY priority))::BIGINT AS n
        |  FROM c1),
        |medA AS (
        |  SELECT priority, max(n) AS n,
        |    min(CASE WHEN cum >= ((n-1) * 50) // 100 + 1 THEN cents END) AS lo,
        |    min(CASE WHEN cum >= least(((n-1) * 50) // 100 + 2, n)
        |        THEN cents END) AS hi
        |  FROM cum1 GROUP BY priority),
        |med AS (
        |  SELECT priority, n,
        |    lo + (CASE WHEN ((n-1) * 50) % 100 = 0 THEN lo ELSE hi END) AS med2
        |  FROM medA),
        |dev AS (
        |  SELECT p.priority, abs(p.cents * 2 - m.med2) AS dev2
        |  FROM pts p JOIN med m ON p.priority = m.priority),
        |c2 AS (
        |  SELECT priority, dev2, count(*) AS c FROM dev GROUP BY 1, 2),
        |cum2 AS (
        |  SELECT priority, dev2,
        |    (sum(c) OVER (PARTITION BY priority ORDER BY dev2))::BIGINT AS cum,
        |    (sum(c) OVER (PARTITION BY priority))::BIGINT AS n
        |  FROM c2),
        |madA AS (
        |  SELECT priority, max(n) AS n,
        |    min(CASE WHEN cum >= ((n-1) * 50) // 100 + 1 THEN dev2 END) AS lo,
        |    min(CASE WHEN cum >= least(((n-1) * 50) // 100 + 2, n)
        |        THEN dev2 END) AS hi
        |  FROM cum2 GROUP BY priority),
        |mad AS (
        |  SELECT priority,
        |    lo + (CASE WHEN ((n-1) * 50) % 100 = 0 THEN lo ELSE hi END) AS mad4
        |  FROM madA)
        |SELECT m.priority, m.n, m.med2::DOUBLE / 2.0 AS median_c,
        |  d.mad4::DOUBLE / 4.0 AS mad_c
        |FROM med m JOIN mad d ON m.priority = d.priority
        |ORDER BY m.priority""".stripMargin,
    // A38 twin: leading digit via the BIGINT's string head, integer
    // ppm frequencies, one rounded log10 far from every .5 boundary
    "q_benford" ->
      """WITH h AS (
        |  SELECT substring(round(l_extendedprice * 100)::BIGINT::VARCHAR,
        |      1, 1)::BIGINT AS digit, count(*)::BIGINT AS n
        |  FROM lineitem WHERE round(l_extendedprice * 100)::BIGINT > 0
        |  GROUP BY 1)
        |SELECT digit, n,
        |  n * 1000000 // (sum(n) OVER ())::BIGINT AS freq_ppm,
        |  round(log10(1.0 + 1.0 / digit::DOUBLE) * 1000000)::BIGINT
        |    AS benford_ppm,
        |  n * 1000000 // (sum(n) OVER ())::BIGINT
        |    - round(log10(1.0 + 1.0 / digit::DOUBLE) * 1000000)::BIGINT
        |    AS dev_ppm
        |FROM h ORDER BY digit""".stripMargin,
    // A35 twin: same cumulative-weight histogram, same integer
    // 2·cumw ≥ W selector
    "q_weighted_median" ->
      """WITH pts AS (
        |  SELECT l_returnflag,
        |    round(l_extendedprice * 100)::BIGINT AS cents,
        |    sum(l_quantity::BIGINT)::BIGINT AS w
        |  FROM lineitem GROUP BY 1, 2),
        |cum AS (
        |  SELECT l_returnflag, cents,
        |    (sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents))::BIGINT
        |      AS cumw,
        |    (sum(w) OVER (PARTITION BY l_returnflag))::BIGINT AS wtot
        |  FROM pts)
        |SELECT l_returnflag, max(wtot) AS total_weight,
        |  min(cents) AS wmedian_cents
        |FROM cum WHERE cumw * 2 >= wtot
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // A34 twin: exact BIGINT numerator n² − Σc², one final division
    "q_gini" ->
      """WITH h AS (
        |  SELECT user_id % 100 AS cohort, event_type, count(*)::BIGINT AS c
        |  FROM events GROUP BY 1, 2),
        |g AS (
        |  SELECT cohort, sum(c)::BIGINT AS n_events,
        |    count(*)::BIGINT AS n_types, sum(c * c)::BIGINT AS sum_sq
        |  FROM h GROUP BY 1)
        |SELECT cohort, n_events, n_types,
        |  n_events * n_events - sum_sq AS gini_num,
        |  (n_events * n_events - sum_sq)::DOUBLE
        |    / (n_events * n_events)::DOUBLE AS gini
        |FROM g ORDER BY cohort""".stripMargin,
    "q_mode" ->
      """WITH h AS (
        |  SELECT l_returnflag, l_linestatus, l_quantity::BIGINT AS qty,
        |    count(*)::BIGINT AS c
        |  FROM lineitem GROUP BY 1, 2, 3)
        |SELECT l_returnflag, l_linestatus,
        |  -(max(struct_pack(c := c, nq := -qty)).nq) AS mode_qty,
        |  max(struct_pack(c := c, nq := -qty)).c AS mode_count,
        |  sum(c)::BIGINT AS n_rows
        |FROM h GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // A59 twin: the A29 histogram + the same right-closed bucket
    // predicate over the edge join — all integers
    "q_qcut" ->
      """WITH pts AS (
        |  SELECT o_orderpriority AS priority,
        |    round(o_totalprice * 100)::BIGINT AS cents
        |  FROM orders),
        |counts AS (
        |  SELECT priority, cents, count(*)::BIGINT AS c
        |  FROM pts GROUP BY 1, 2),
        |cum AS (
        |  SELECT priority, cents, c,
        |    (sum(c) OVER (PARTITION BY priority ORDER BY cents))::BIGINT
        |      AS cum,
        |    (sum(c) OVER (PARTITION BY priority))::BIGINT AS n
        |  FROM counts),
        |edges AS (
        |  SELECT priority, max(n) AS n,
        |    min(CASE WHEN cum >= ceil(0.25 * n) THEN cents END) AS q1,
        |    min(CASE WHEN cum >= ceil(0.5 * n) THEN cents END) AS q2,
        |    min(CASE WHEN cum >= ceil(0.75 * n) THEN cents END) AS q3
        |  FROM cum GROUP BY priority),
        |b AS (
        |  SELECT counts.priority, cents, c, n,
        |    1 + (cents > q1)::BIGINT + (cents > q2)::BIGINT
        |      + (cents > q3)::BIGINT AS bucket
        |  FROM counts JOIN edges ON counts.priority = edges.priority)
        |SELECT priority, bucket, sum(c)::BIGINT AS n_rows,
        |  min(cents) AS min_cents, max(cents) AS max_cents,
        |  (sum(c) * 1000000 // max(n))::BIGINT AS share_ppm
        |FROM b GROUP BY 1, 2 ORDER BY priority, bucket""".stripMargin,
    // A68 twin: same histogram, same integer rank-interval overlap,
    // one division each at export
    "q_trimmed_mean" ->
      """WITH pts AS (
        |  SELECT o_orderpriority AS priority,
        |    round(o_totalprice * 100)::BIGINT AS cents
        |  FROM orders),
        |counts AS (
        |  SELECT priority, cents, count(*)::BIGINT AS c
        |  FROM pts GROUP BY 1, 2),
        |cum AS (
        |  SELECT priority, cents, c,
        |    (sum(c) OVER (PARTITION BY priority ORDER BY cents))::BIGINT
        |      AS cum,
        |    (sum(c) OVER (PARTITION BY priority))::BIGINT AS n
        |  FROM counts),
        |ov AS (
        |  SELECT priority, cents, c, cum, n, n // 10 AS g,
        |    greatest(0, least(cum, n - n // 10)
        |      - greatest(cum - c + 1, n // 10 + 1) + 1) AS overlap
        |  FROM cum)
        |SELECT priority, max(n) AS n_orders, max(g) AS n_cut_each,
        |  sum(overlap)::BIGINT AS n_kept,
        |  sum(cents * overlap)::DOUBLE / sum(overlap)::DOUBLE
        |    AS trimmed_mean_cents,
        |  sum(cents * c)::DOUBLE / max(n)::DOUBLE AS mean_cents
        |FROM ov GROUP BY priority ORDER BY priority""".stripMargin,
    // A67 twin: same type-1 quartiles off the same histogram, same
    // x2-cleared integer fence predicates, counts off histogram rows
    "q_tukey_fences" ->
      """WITH pts AS (
        |  SELECT o_orderpriority AS priority,
        |    round(o_totalprice * 100)::BIGINT AS cents
        |  FROM orders),
        |counts AS (
        |  SELECT priority, cents, count(*)::BIGINT AS c
        |  FROM pts GROUP BY 1, 2),
        |cum AS (
        |  SELECT priority, cents, c,
        |    (sum(c) OVER (PARTITION BY priority ORDER BY cents))::BIGINT
        |      AS cum,
        |    (sum(c) OVER (PARTITION BY priority))::BIGINT AS n
        |  FROM counts),
        |qs AS (
        |  SELECT priority, max(n) AS n,
        |    min(CASE WHEN cum >= ceil(0.25 * n) THEN cents END) AS q1,
        |    min(CASE WHEN cum >= ceil(0.75 * n) THEN cents END) AS q3
        |  FROM cum GROUP BY 1),
        |f AS (
        |  SELECT c.priority, q.n AS n_orders, q.q1 AS q1_cents,
        |    q.q3 AS q3_cents,
        |    sum(CASE WHEN c.cents * 2 < q.q1 * 5 - q.q3 * 3
        |      THEN c.c ELSE 0 END)::BIGINT AS n_low,
        |    sum(CASE WHEN c.cents * 2 > q.q3 * 5 - q.q1 * 3
        |      THEN c.c ELSE 0 END)::BIGINT AS n_high
        |  FROM cum c JOIN qs q ON c.priority = q.priority
        |  GROUP BY 1, 2, 3, 4)
        |SELECT priority, n_orders, q1_cents, q3_cents, n_low, n_high,
        |  ((n_low + n_high) * 1000000 // n_orders)::BIGINT AS outlier_ppm
        |FROM f ORDER BY priority""".stripMargin,
    "q_quantiles" ->
      """WITH pts AS (
        |  SELECT o_orderpriority AS priority,
        |    round(o_totalprice * 100)::BIGINT AS cents
        |  FROM orders),
        |counts AS (
        |  SELECT priority, cents, count(*) AS c FROM pts GROUP BY 1, 2),
        |cum AS (
        |  SELECT priority, cents,
        |    (sum(c) OVER (PARTITION BY priority ORDER BY cents))::BIGINT AS cum,
        |    (sum(c) OVER (PARTITION BY priority))::BIGINT AS n
        |  FROM counts)
        |SELECT priority, max(n) AS n,
        |  min(CASE WHEN cum >= ceil(0.25 * n) THEN cents END) AS p25,
        |  min(CASE WHEN cum >= ceil(0.5 * n) THEN cents END) AS p50,
        |  min(CASE WHEN cum >= ceil(0.9 * n) THEN cents END) AS p90,
        |  min(CASE WHEN cum >= ceil(0.99 * n) THEN cents END) AS p99
        |FROM cum GROUP BY priority ORDER BY priority""".stripMargin,
    // A32 twin: same rank selectors from the same cumulative
    // histogram; the interpolation is one double product over exact
    // BIGINT order statistics — identical op sequence, exact compare
    "q_quantiles_interp" ->
      """WITH pts AS (
        |  SELECT o_orderpriority AS priority,
        |    round(o_totalprice * 100)::BIGINT AS cents
        |  FROM orders),
        |counts AS (
        |  SELECT priority, cents, count(*) AS c FROM pts GROUP BY 1, 2),
        |cum AS (
        |  SELECT priority, cents,
        |    (sum(c) OVER (PARTITION BY priority ORDER BY cents))::BIGINT AS cum,
        |    (sum(c) OVER (PARTITION BY priority))::BIGINT AS n
        |  FROM counts),
        |a AS (
        |  SELECT priority, max(n) AS n,
        |    min(CASE WHEN cum >= ((n-1) * 25) // 100 + 1 THEN cents END) AS p25_lo,
        |    min(CASE WHEN cum >= least(((n-1) * 25) // 100 + 2, n) THEN cents END) AS p25_hi,
        |    min(CASE WHEN cum >= ((n-1) * 50) // 100 + 1 THEN cents END) AS p50_lo,
        |    min(CASE WHEN cum >= least(((n-1) * 50) // 100 + 2, n) THEN cents END) AS p50_hi,
        |    min(CASE WHEN cum >= ((n-1) * 90) // 100 + 1 THEN cents END) AS p90_lo,
        |    min(CASE WHEN cum >= least(((n-1) * 90) // 100 + 2, n) THEN cents END) AS p90_hi,
        |    min(CASE WHEN cum >= ((n-1) * 99) // 100 + 1 THEN cents END) AS p99_lo,
        |    min(CASE WHEN cum >= least(((n-1) * 99) // 100 + 2, n) THEN cents END) AS p99_hi
        |  FROM cum GROUP BY priority)
        |SELECT priority, n,
        |  p25_lo + (((n-1) * 25) % 100 * (p25_hi - p25_lo))::DOUBLE / 100.0 AS p25,
        |  p50_lo + (((n-1) * 50) % 100 * (p50_hi - p50_lo))::DOUBLE / 100.0 AS p50,
        |  p90_lo + (((n-1) * 90) % 100 * (p90_hi - p90_lo))::DOUBLE / 100.0 AS p90,
        |  p99_lo + (((n-1) * 99) % 100 * (p99_hi - p99_lo))::DOUBLE / 100.0 AS p99
        |FROM a ORDER BY priority""".stripMargin,
    "q_argmax" ->
      """WITH c AS (
        |  SELECT n_name, round(c_acctbal * 100)::BIGINT AS bal_c,
        |    c_custkey
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey)
        |SELECT n_name,
        |  (max(struct_pack(bal_c := bal_c, c_custkey := c_custkey)))
        |    .c_custkey AS richest_custkey,
        |  (max(struct_pack(bal_c := bal_c, c_custkey := c_custkey)))
        |    .bal_c AS max_bal_c,
        |  (min(struct_pack(bal_c := bal_c, c_custkey := c_custkey)))
        |    .c_custkey AS poorest_custkey,
        |  (min(struct_pack(bal_c := bal_c, c_custkey := c_custkey)))
        |    .bal_c AS min_bal_c
        |FROM c GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_histogram" ->
      """SELECT round(o_totalprice * 100)::BIGINT // 5000000 AS bucket_50k,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY 1 ORDER BY bucket_50k""".stripMargin,
    "q_corr" ->
      """WITH t AS (
        |  SELECT l_returnflag,
        |    round(l_quantity * 100)::BIGINT AS x,
        |    round(l_discount * 100)::BIGINT AS y
        |  FROM lineitem),
        |a AS (
        |  SELECT l_returnflag, count(*) AS n, sum(x)::BIGINT AS sx,
        |    sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy,
        |    sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy
        |  FROM t GROUP BY 1)
        |SELECT l_returnflag, n,
        |  (n * sxy - sx * sy)::DOUBLE /
        |    sqrt((n * sxx - sx * sx)::DOUBLE * (n * syy - sy * sy)::DOUBLE)
        |    AS corr_qty_disc
        |FROM a ORDER BY l_returnflag""".stripMargin,
    "q_cube" ->
      """SELECT coalesce(o_orderstatus, '(all)') AS status,
        |  coalesce(o_orderpriority, '(all)') AS priority,
        |  round(sum(o_totalprice), 2) AS total, count(*) AS n,
        |  (CASE WHEN GROUPING(o_orderstatus) = 1 THEN 2 ELSE 0 END
        |   + CASE WHEN GROUPING(o_orderpriority) = 1 THEN 1 ELSE 0 END)::BIGINT
        |    AS lvl
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY lvl, status, priority""".stripMargin,
    "q_local_supplier" ->
      """SELECT r_name, n_name,
        |  sum(round(l_extendedprice * 100)::BIGINT * (100 - round(l_discount * 100)::BIGINT))::BIGINT::DOUBLE / 10000.0 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE c_nationkey = s_nationkey AND year(o_orderdate) = 1997
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q_ship_priority" ->
      """SELECT l_orderkey,
        |  (o_orderdate::DATE - DATE '1970-01-01')::BIGINT AS o_orderdate_days,
        |  o_orderpriority,
        |  sum(round(l_extendedprice * 100)::BIGINT * (100 - round(l_discount * 100)::BIGINT))::BIGINT::DOUBLE / 10000.0 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_shipdate > TIMESTAMP '1998-06-01'
        |  AND o_orderdate < TIMESTAMP '1998-06-01'
        |  AND c_mktsegment = 'BUILDING'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, o_orderdate_days, l_orderkey
        |LIMIT 10""".stripMargin,
    "q_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        |  sum(round(l_extendedprice * 100)::BIGINT * (100 - round(l_discount * 100)::BIGINT))::BIGINT::DOUBLE / 10000.0 AS lost_revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R' AND year(o_orderdate) = 1998
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY lost_revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q_winsorize" ->
      """WITH pts AS (
        |  SELECT o_orderkey, o_orderpriority AS priority,
        |    round(o_totalprice * 100)::BIGINT AS cents
        |  FROM orders),
        |counts AS (
        |  SELECT priority, cents, count(*) AS c FROM pts GROUP BY 1, 2),
        |cum AS (
        |  SELECT priority, cents,
        |    (sum(c) OVER (PARTITION BY priority ORDER BY cents))::BIGINT AS cum,
        |    (sum(c) OVER (PARTITION BY priority))::BIGINT AS n
        |  FROM counts),
        |bounds AS (
        |  SELECT priority,
        |    min(CASE WHEN cum >= ceil(0.05 * n) THEN cents END) AS lo,
        |    min(CASE WHEN cum >= ceil(0.95 * n) THEN cents END) AS hi
        |  FROM cum GROUP BY priority)
        |SELECT o_orderkey, p.priority, cents,
        |  least(greatest(cents, lo), hi) AS cents_w,
        |  (cents <> least(greatest(cents, lo), hi))::BIGINT AS clipped
        |FROM pts p JOIN bounds b ON p.priority = b.priority
        |ORDER BY o_orderkey""".stripMargin,
    "q_variant" ->
      """SELECT event_type, count(*) AS n_hi,
        |  sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k,
        |  max(json_extract(props, '$.k')::BIGINT) AS max_k
        |FROM events
        |WHERE json_extract(props, '$.k')::BIGINT >= 50
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_json_parse" ->
      """SELECT event_id,
        |  nullif(regexp_extract(props, '"k": (\d+)', 1), '')::BIGINT AS k_json,
        |  event_type
        |FROM events ORDER BY event_id""".stripMargin,
    "q_ntile_rank" ->
      """SELECT c_mktsegment, c_custkey,
        |  ntile(4) OVER (PARTITION BY c_mktsegment
        |    ORDER BY c_acctbal DESC, c_custkey) AS quartile,
        |  percent_rank() OVER (PARTITION BY c_mktsegment
        |    ORDER BY c_acctbal DESC, c_custkey) AS pr
        |FROM customer ORDER BY c_mktsegment, c_custkey""".stripMargin,
    "q_above_avg" ->
      """SELECT c_custkey, c_name, round(c_acctbal, 2) AS bal
        |FROM customer c
        |WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
        |                   WHERE c2.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "q_rollup" ->
      """SELECT coalesce(l_returnflag, '(all)') AS returnflag,
        |  coalesce(l_linestatus, '(all)') AS linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n,
        |  (CASE WHEN GROUPING(l_returnflag) = 1 THEN 2 ELSE 0 END
        |   + CASE WHEN GROUPING(l_linestatus) = 1 THEN 1 ELSE 0 END)::BIGINT
        |    AS lvl
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY lvl, returnflag, linestatus""".stripMargin,
    "q_setops" ->
      """WITH buyers AS (SELECT DISTINCT o_custkey AS custkey FROM orders),
        |big AS (SELECT DISTINCT c_custkey AS custkey FROM customer
        |        WHERE c_acctbal > 5000)
        |SELECT custkey, 'both' AS tag FROM (
        |  SELECT custkey FROM buyers INTERSECT SELECT custkey FROM big)
        |UNION ALL
        |SELECT custkey, 'buyer_only' AS tag FROM (
        |  SELECT custkey FROM buyers EXCEPT SELECT custkey FROM big)
        |ORDER BY tag, custkey""".stripMargin,
    "q_pivot_mean" ->
      """WITH t AS (
        |  SELECT user_id, event_type, round(value * 100)::BIGINT AS vc
        |  FROM events)
        |SELECT user_id,
        |  sum(CASE WHEN event_type = 'click' THEN vc END)::DOUBLE
        |    / (count(CASE WHEN event_type = 'click' THEN 1 END)::DOUBLE * 100.0) AS click,
        |  sum(CASE WHEN event_type = 'error' THEN vc END)::DOUBLE
        |    / (count(CASE WHEN event_type = 'error' THEN 1 END)::DOUBLE * 100.0) AS error,
        |  sum(CASE WHEN event_type = 'purchase' THEN vc END)::DOUBLE
        |    / (count(CASE WHEN event_type = 'purchase' THEN 1 END)::DOUBLE * 100.0) AS purchase,
        |  sum(CASE WHEN event_type = 'signup' THEN vc END)::DOUBLE
        |    / (count(CASE WHEN event_type = 'signup' THEN 1 END)::DOUBLE * 100.0) AS signup,
        |  sum(CASE WHEN event_type = 'view' THEN vc END)::DOUBLE
        |    / (count(CASE WHEN event_type = 'view' THEN 1 END)::DOUBLE * 100.0) AS view
        |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_stats" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(min(l_quantity), 2) AS min_qty,
        |  round(max(l_quantity), 2) AS max_qty,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
        |  round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_melt" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin,
    "q_pivot" ->
      """SELECT user_id,
        |  round(sum(CASE WHEN event_type = 'click' THEN value END), 2) AS click,
        |  round(sum(CASE WHEN event_type = 'error' THEN value END), 2) AS error,
        |  round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2) AS purchase,
        |  round(sum(CASE WHEN event_type = 'signup' THEN value END), 2) AS signup,
        |  round(sum(CASE WHEN event_type = 'view' THEN value END), 2) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_clean_real" ->
      """WITH nominal AS (
        |  SELECT n_name, year(o_orderdate)::BIGINT AS yr,
        |         round(sum(o_totalprice), 2) AS nominal_value
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |idx AS (
        |  SELECT n_name, year(l_shipdate)::BIGINT AS yr,
        |         sum(100 - round(l_discount * 100)::BIGINT)::BIGINT::DOUBLE
        |           / count(*)::DOUBLE AS price_index
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  GROUP BY 1, 2)
        |SELECT n.n_name, n.yr, n.nominal_value, i.price_index,
        |       n.nominal_value * 100.0 / i.price_index AS real_value
        |FROM nominal n JOIN idx i ON n.n_name = i.n_name AND n.yr = i.yr
        |WHERE n.nominal_value IS NOT NULL AND i.price_index IS NOT NULL
        |  AND n.yr BETWEEN 1995 AND 2000
        |ORDER BY n.n_name, n.yr""".stripMargin,
    "q_coerce" ->
      """SELECT event_id,
        |  nullif(regexp_extract(props, '"k": (\d+)', 1), '')::BIGINT AS k,
        |  floor(value)::BIGINT AS value_int,
        |  nullif(regexp_extract(event_type, '^(\d+)', 1), '')::BIGINT AS never_numeric
        |FROM events ORDER BY event_id""".stripMargin,
    "q_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  sum(round(l_extendedprice * 100)::BIGINT * (100 - round(l_discount * 100)::BIGINT))::BIGINT::DOUBLE / 10000.0 AS revenue,
        |  sum(round(l_discount * 100)::BIGINT)::BIGINT::DOUBLE
        |    / (count(*) * 100)::DOUBLE AS avg_disc,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_join_agg" ->
      """SELECT o_orderkey,
        |  sum(round(l_extendedprice * 100)::BIGINT * (100 - round(l_discount * 100)::BIGINT))::BIGINT::DOUBLE / 10000.0 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q_topk" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |ORDER BY c_acctbal DESC, c_custkey LIMIT 10""".stripMargin,
    "q_dropna_fill" ->
      """SELECT c_custkey, c_mktsegment,
        |  coalesce(CASE WHEN c_acctbal >= 0 THEN floor(c_acctbal / 1000)::BIGINT END, -1) AS bal_bucket
        |FROM customer WHERE c_name IS NOT NULL ORDER BY c_custkey""".stripMargin,
    "q_outer_merge" ->
      """WITH rev AS (
        |  SELECT n_name, round(sum(o_totalprice), 2) AS revenue
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1),
        |supp AS (
        |  SELECT n_name, round(sum(s_acctbal), 2) AS supp_bal
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  GROUP BY 1)
        |SELECT n_name, revenue, supp_bal
        |FROM rev FULL OUTER JOIN supp USING (n_name)
        |ORDER BY n_name""".stripMargin,
    "q_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
}
