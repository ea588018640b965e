package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** PromQL range-vector functions — reference `engine/prom_functions.go:30-51`
  * + `engine/executor/prom_range_vector_transform.go`.
  *
  * A range vector at eval step t covers (t−range, t]; evaluation every
  * `step`. Spark-first: `window(ts, range, step)` replicates each point
  * into the range windows it belongs to *before* the partial aggregate —
  * one shuffle, fan-out bounded by range/step, exactly the sliding-window
  * plan. Eval timestamp = window.end.
  *
  * Aggregate set here: count/sum/avg/min/max/last/first _over_time, and
  * the counter/gauge family delta, increase (gauge form), rate (per
  * second over the observed span). changes/resets need in-window ordering
  * → sorted-array fold, kept separate in [[changesResets]].
  */
object PromRange {

  /** "2 hours" / "90 seconds" / "1 day" → seconds. */
  private[graft] def durationSeconds(d: String): Long = {
    val m = """(\d+)\s*(\w+)""".r.findFirstMatchIn(d.trim)
      .getOrElse(sys.error(s"bad duration: $d"))
    val n = m.group(1).toLong
    m.group(2).toLowerCase.stripSuffix("s") match {
      case "millisecond" => n / 1000
      case "second" => n
      case "minute" => n * 60
      case "hour" => n * 3600
      case "day" => n * 86400
      case u => sys.error(s"bad duration unit: $u")
    }
  }

  /** "500 milliseconds" / "2 hours" → milliseconds. */
  private[graft] def durationMillis(d: String): Long = {
    val m = """(\d+)\s*(\w+)""".r.findFirstMatchIn(d.trim)
      .getOrElse(sys.error(s"bad duration: $d"))
    val n = m.group(1).toLong
    m.group(2).toLowerCase.stripSuffix("s") match {
      case "millisecond" => n
      case "second" => n * 1000
      case "minute" => n * 60000
      case "hour" => n * 3600000
      case "day" => n * 86400000
      case u => sys.error(s"bad duration unit: $u")
    }
  }

  /** Adds a `window` struct column (start, end) assigning each sample to
    * its range windows, all of which END on step multiples.
    *
    * Spark's `window()` grid is start-aligned to slide multiples, so when
    * range isn't a multiple of step the default grid has no window ENDING
    * on a step boundary — `startTime` is shifted so every window is
    * [k·step − range, k·step). `window()` also requires slide ≤ duration;
    * for sampling grids (step > range, e.g. a 5m lookback evaluated every
    * hour) the same assignment is built explicitly: floor-div the sample
    * time to its eval-step interval [kmin, kmax] and explode — fan-out is
    * ⌈range/step⌉+1 ≤ 2 there, so the replication stays bounded either
    * way. With `inclusiveEnd` the sample timestamps are nudged −1ms for
    * assignment only, turning membership into Prometheus's (t−range, t]
    * without touching the values used for extrapolation math. */
  private[graft] def withRangeWindow(df: DataFrame, time: String,
                                     range: String, step: String,
                                     inclusiveEnd: Boolean): DataFrame = {
    val rs = durationMillis(range); val ss = durationMillis(step)
    val tcol =
      if (inclusiveEnd) timestamp_micros(unix_micros(col(time)) - 1000L)
      else col(time)
    // One arithmetic path for every range/step ratio: a sample at t
    // belongs to windows [k·ss − rs, k·ss) for k in
    // [⌊t/ss⌋+1, ⌊(t+rs)/ss⌋] — fan-out ≤ ⌈rs/ss⌉+1 rows. ms-floor
    // assignment is exact because the window boundaries are whole ms.
    // (`window(t, range, step, off)` computes the same membership but
    // expands a per-row window-STRUCT expression per projection — the
    // hottest expression in every PromQL range plan; here the expanded
    // column is one LONG k and the struct is built once after.)
    val tms = unix_millis(tcol)
    // floor-div on ms via pmod (exact for negative times too)
    def floorDiv(c: Column): Column =
      ((c - pmod(c, lit(ss))) / lit(ss)).cast("long")
    val kmin = floorDiv(tms) + 1
    val kmax = floorDiv(tms + lit(rs))
    val ks = when(kmax >= kmin, sequence(kmin, kmax))
      .otherwise(array().cast("array<bigint>"))
    df.withColumn("_k", explode(ks))
      .withColumn("window", struct(
        timestamp_millis(col("_k") * ss - rs).as("start"),
        timestamp_millis(col("_k") * ss).as("end")))
      .drop("_k")
  }

  def overTime(df: DataFrame, time: String, value: String,
               labels: Seq[String], range: String, step: String,
               inclusiveEnd: Boolean = false): DataFrame = {
    val tus = unix_micros(col(time))
    val groups = col("window") +: labels.map(col)
    withRangeWindow(df, time, range, step, inclusiveEnd).groupBy(groups: _*)
      .agg(
        count(col(value)).as("count_ot"),
        sum(col(value).cast("decimal(18,4)")).cast("double").as("sum_ot"),
        min(col(value)).as("min_ot"),
        max(col(value)).as("max_ot"),
        min_by(col(value), tus).as("first_v"),
        max_by(col(value), tus).as("last_v"),
        min(tus).as("first_t_us"),
        max(tus).as("last_t_us"))
      .withColumn("avg_ot",
        col("sum_ot") / col("count_ot"))
      .withColumn("delta", col("last_v") - col("first_v"))
      .withColumn("rate",
        when(col("last_t_us") =!= col("first_t_us"),
          (col("last_v") - col("first_v")) /
            ((col("last_t_us") - col("first_t_us")) / lit(1000000.0))))
      .withColumn("eval_ms", unix_millis(col("window.end")))
      .drop("window")
  }

  /** stddev/stdvar/quantile/mad `_over_time` — window statistics that
    * need the materialized sample multiset. Per (series, window): sort
    * the values, then pure column folds — variance as the two-pass
    * sum((x−mean)²)/n over the materialized array (algebraically the
    * population variance Prometheus's streaming aggregation computes),
    * quantile as Prometheus's linear interpolation at rank φ·(n−1)
    * (promql quantile; φ outside [0,1] → ±Inf), and MAD as the median
    * of |x − median|. Window cardinality is bounded by the range, so
    * the per-group array is small; everything stays in codegen. */
  def statsOverTime(df: DataFrame, time: String, value: String,
                    labels: Seq[String], range: String, step: String,
                    phi: Option[Double] = None,
                    inclusiveEnd: Boolean = false): DataFrame = {
    val groups = col("window") +: labels.map(col)
    def quantileOf(arr: Column, p: Double): Column =
      if (p < 0) lit(Double.NegativeInfinity)
      else if (p > 1) lit(Double.PositiveInfinity)
      else {
        val n = size(arr)
        val rank = lit(p) * (n.cast("double") - 1)
        val lo = floor(rank).cast("int")
        val lov = element_at(arr, lo + 1)
        val hiv = element_at(arr, least(lo + 2, n))
        lov + (rank - lo.cast("double")) * (hiv - lov)
      }
    val base = withRangeWindow(df, time, range, step, inclusiveEnd)
      .groupBy(groups: _*)
      .agg(sort_array(collect_list(col(value).cast("double"))).as("_vs"))
    val n = size(col("_vs")).cast("double")
    val mean = aggregate(col("_vs"), lit(0.0), (a, x) => a + x) / n
    val med = quantileOf(col("_vs"), 0.5)
    val dev = sort_array(transform(col("_vs"), x => abs(x - med)))
    val varp = aggregate(col("_vs"), lit(0.0),
      (a, x) => a + (x - mean) * (x - mean)) / n
    base
      .withColumn("stdvar_ot", varp)
      .withColumn("stddev_ot", sqrt(varp))
      .withColumn("mad_ot", quantileOf(dev, 0.5))
      .withColumn("quantile_ot",
        phi.map(p => quantileOf(col("_vs"), p)).getOrElse(lit(null)
          .cast("double")))
      .withColumn("eval_ms", unix_millis(col("window.end")))
      .drop("window", "_vs")
  }

  /** holt_winters(v[d], sf, tf) — Prometheus's double exponential
    * smoothing (promql functions.go funcHoltWinters): s₀=x₀, b₀=x₁−x₀,
    * sᵢ = sf·xᵢ + (1−sf)·(sᵢ₋₁+bᵢ₋₁), bᵢ = tf·(sᵢ−sᵢ₋₁) + (1−tf)·bᵢ₋₁,
    * returning the final level; windows with <2 samples yield nothing.
    * One fold over the time-sorted window array — same shape as
    * changes/resets, stays in codegen. */
  def holtWinters(df: DataFrame, time: String, value: String,
                  labels: Seq[String], range: String, step: String,
                  sf: Double, tf: Double,
                  inclusiveEnd: Boolean = false): DataFrame = {
    val tus = unix_micros(col(time))
    val groups = col("window") +: labels.map(col)
    val sorted = sort_array(collect_list(struct(tus.as("t"),
      col(value).cast("double").as("v"))))
    withRangeWindow(df, time, range, step, inclusiveEnd)
      .groupBy(groups: _*)
      .agg(sorted.as("_samples"))
      .filter(size(col("_samples")) >= 2)
      .withColumn("holt_winters", {
        val x0 = col("_samples").getItem(0).getField("v")
        val x1 = col("_samples").getItem(1).getField("v")
        // seed with the first sample, then fold the rest
        val init = struct(x0.as("s"), (x1 - x0).as("b"))
        val folded = aggregate(
          slice(col("_samples"), lit(2), size(col("_samples"))),
          init,
          (acc, p) => {
            val x = p.getField("v")
            val sPrev = acc.getField("s")
            val bPrev = acc.getField("b")
            val s = lit(sf) * x + (lit(1.0) - lit(sf)) * (sPrev + bPrev)
            struct(s.as("s"),
              (lit(tf) * (s - sPrev) + (lit(1.0) - lit(tf)) * bPrev)
                .as("b"))
          })
        folded.getField("s")
      })
      .withColumn("eval_ms", unix_millis(col("window.end")))
      .drop("window", "_samples")
  }

  /** changes() and resets() — need the in-window time order, computed as a
    * deterministic fold over the sorted sample array. */
  def changesResets(df: DataFrame, time: String, value: String,
                    labels: Seq[String], range: String, step: String,
                    inclusiveEnd: Boolean = false): DataFrame = {
    val tus = unix_micros(col(time))
    val groups = col("window") +: labels.map(col)
    val sorted = sort_array(collect_list(struct(tus.as("t"),
      col(value).as("v"))))
    withRangeWindow(df, time, range, step, inclusiveEnd).groupBy(groups: _*)
      .agg(sorted.as("_samples"))
      .withColumn("changes", aggregate(col("_samples"),
        struct(lit(null).cast("double").as("prev"), lit(0L).as("c")),
        (acc, x) => struct(x.getField("v").as("prev"),
          (acc.getField("c") + when(acc.getField("prev").isNotNull &&
            x.getField("v") =!= acc.getField("prev"), 1L).otherwise(0L)).as("c")),
        acc => acc.getField("c")))
      .withColumn("resets", aggregate(col("_samples"),
        struct(lit(null).cast("double").as("prev"), lit(0L).as("c")),
        (acc, x) => struct(x.getField("v").as("prev"),
          (acc.getField("c") + when(acc.getField("prev").isNotNull &&
            x.getField("v") < acc.getField("prev"), 1L).otherwise(0L)).as("c")),
        acc => acc.getField("c")))
      .withColumn("eval_ms", unix_millis(col("window.end")))
      .drop("window", "_samples")
  }

  /** deriv() / predict_linear() — simple least-squares over the range
    * window (reference `engine/prom_functions.go` derivOp /
    * predictLinearOp; Prometheus linearRegression).
    *
    * deriv = slope per second; predict_linear(t) = regression value at
    * eval-time + t. Determinism: x is measured in SECONDS from the window
    * start — µs offsets /1e6 are EXACTLY representable in DECIMAL(28,6),
    * so the Σx, Σy, Σxy, Σx² accumulation is order-independent with NO
    * quantization of x (an earlier hours-based x rounded at the 6th
    * decimal, biasing predict_linear by ~1e-4 on 5m-spaced data), and the
    * window-relative origin keeps the sums small — no epoch-magnitude
    * cancellation, the instability Prometheus's own linearRegression
    * centers timestamps to avoid. Mirrorable in the SQL oracle; closing
    * arithmetic is plain IEEE with a fixed shape. Windows with <2 samples
    * or zero span emit nothing. */
  def linearRegression(df: DataFrame, time: String, value: String,
                       labels: Seq[String], range: String, step: String,
                       predictSeconds: Double = 0.0,
                       inclusiveEnd: Boolean = false): DataFrame = {
    val tus = unix_micros(col(time))
    def dsum6(c: Column): Column =
      sum(c.cast("decimal(28,6)")).cast("double")
    val xs = (tus - unix_micros(col("window.start"))) / lit(1000000.0)
    val y = col(value).cast("double")
    val agg = withRangeWindow(df, time, range, step, inclusiveEnd)
      .groupBy(col("window") +: labels.map(col): _*)
      .agg(count(lit(1)).as("n"),
        dsum6(xs).as("_sx"), dsum6(y).as("_sy"),
        dsum6(xs * y).as("_sxy"), dsum6(xs * xs).as("_sxx"),
        min(tus).as("_t0"), max(tus).as("_t1"))
    val slope = (col("n") * col("_sxy") - col("_sx") * col("_sy")) /
      (col("n") * col("_sxx") - col("_sx") * col("_sx"))
    val endS = (unix_micros(col("window.end")) -
      unix_micros(col("window.start"))) / lit(1000000.0)
    agg.filter(col("n") > 1 && col("_t1") =!= col("_t0"))
      .withColumn("deriv", slope)
      .withColumn("predict",
        (col("_sy") / col("n") - slope * (col("_sx") / col("n"))) +
          slope * (endS + lit(predictSeconds)))
      .withColumn("eval_ms", unix_millis(col("window.end")))
      .select(labels.map(col) :+ col("eval_ms") :+ col("n") :+
        col("deriv") :+ col("predict"): _*)
  }

  /** Prometheus-exact rate()/increase()/delta() — counter-reset
    * accumulation plus range-boundary extrapolation, per reference
    * `engine/prom_functions.go:115-162` (floatPromRateMerge) and
    * `engine/executor/agg_func_prom.go:218` (CalcReduceResult):
    *
    *  - raw increase = (last − first) + Σ prev at every reset
    *    (a sample lower than its predecessor);
    *  - the observed span is extrapolated to the range boundaries, but by
    *    at most half the average sample spacing on each side, and for
    *    counters never past the point where the series would have been
    *    zero;
    *  - rate = extrapolated increase / range seconds; delta is the same
    *    extrapolation without reset handling (gauges); windows with <2
    *    samples produce nothing.
    *
    * Scale/determinism shape: reset detection is a `lag` over a
    * (window, labels)-PARTITIONED window (never a global sort), and the
    * reset sum goes through DECIMAL so partial-aggregation order cannot
    * change the float result — the whole thing is one shuffle on
    * (window, labels), partial-aggregated map-side. Window membership
    * follows Spark's `window()` convention ([start, end), eval at end),
    * like [[overTime]]. */
  def counterRate(df: DataFrame, time: String, value: String,
                  labels: Seq[String], range: String, step: String,
                  tieBreak: Seq[String] = Nil,
                  inclusiveEnd: Boolean = false): DataFrame = {
    val tus = unix_micros(col(time))
    // one lag pass per (range-window, series): previous sample value/time
    val lagW = Window.partitionBy(col("window") +: labels.map(col): _*)
      .orderBy(col("_tus"), col("_tie"))
    val lagged = withRangeWindow(df, time, range, step, inclusiveEnd)
      .select(col("window") +:
        labels.map(col) :+ tus.as("_tus") :+
        col(value).cast("double").as("_v") :+
        tieBreak.map(col).reduceOption((a, b) =>
          struct(a, b)).getOrElse(lit(0)).as("_tie"): _*)
      .withColumn("_pv", lag(col("_v"), 1).over(lagW))
      .withColumn("_pt", lag(col("_tus"), 1).over(lagW))
    val firstKey = struct(col("_tus"), col("_tie"))
    val agg = lagged.groupBy(col("window") +: labels.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        min(col("_tus")).as("_first_t"),
        max(col("_tus")).as("_last_t"),
        min_by(col("_v"), firstKey).as("_first_v"),
        max_by(col("_v"), firstKey).as("_last_v"),
        sum(when(col("_v") < col("_pv"), col("_pv"))
          .otherwise(lit(0.0)).cast("decimal(18,6)"))
          .cast("double").as("_reset_adj"),
        // last two samples for irate/idelta (reset-aware per Prometheus)
        max_by(struct(col("_v").as("_v"), col("_pv").as("_pv"),
          col("_tus").as("_tus"), col("_pt").as("_pt")), firstKey)
          .as("_lastrow"))
    val rangeS = (unix_micros(col("window.end")) -
      unix_micros(col("window.start"))) / lit(1000000.0)
    val sampledS = (col("_last_t") - col("_first_t")) / lit(1000000.0)
    val avgDur = sampledS / (col("n") - 1)
    val thresh = avgDur * lit(1.1)
    val rawInc = (col("_last_v") - col("_first_v")) + col("_reset_adj")
    val rawDelta = col("_last_v") - col("_first_v")
    val durStart0 = (col("_first_t") -
      unix_micros(col("window.start"))) / lit(1000000.0)
    val durEnd = (unix_micros(col("window.end")) -
      col("_last_t")) / lit(1000000.0)
    // counters can't extrapolate past zero (durationToZero cap)
    val durZero = sampledS * (col("_first_v") / rawInc)
    val durStartC = when(rawInc > 0 && col("_first_v") >= 0 &&
      durZero < durStart0, durZero).otherwise(durStart0)
    def extrap(durStart: Column): Column =
      sampledS +
        when(durStart >= thresh, avgDur / 2).otherwise(durStart) +
        when(durEnd >= thresh, avgDur / 2).otherwise(durEnd)
    // <2 samples, or a zero observed span, produces no point (reference
    // floatPromRateMerge: pointCount<=1 / lastTime==firstTime -> drop)
    agg.filter(col("n") > 1 && col("_last_t") =!= col("_first_t"))
      .withColumn("increase", rawInc * (extrap(durStartC) / sampledS))
      .withColumn("rate", col("increase") / rangeS)
      .withColumn("delta", rawDelta * (extrap(durStart0) / sampledS))
      .withColumn("idelta", col("_lastrow._v") - col("_lastrow._pv"))
      .withColumn("irate",
        when(col("_lastrow._v") < col("_lastrow._pv"), col("_lastrow._v"))
          .otherwise(col("_lastrow._v") - col("_lastrow._pv")) /
          ((col("_lastrow._tus") - col("_lastrow._pt")) / lit(1000000.0)))
      .withColumn("eval_ms", unix_millis(col("window.end")))
      .select(labels.map(col) :+ col("eval_ms") :+ col("n") :+
        col("rate") :+ col("increase") :+ col("delta") :+
        col("irate") :+ col("idelta"): _*)
  }
}
