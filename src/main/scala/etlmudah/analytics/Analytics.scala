package etlmudah.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational analytics operators — SURVEY.md §2.5/§2.6/§2.7.
  *
  * Each re-expresses a pandas idiom from the reference dashboard
  * (`streamlit/app.py`, the `streamlit/pages/` modules) as a declarative Spark plan
  * so Catalyst plans partial (map-side) aggregation, and AQE sizes the
  * shuffle. Nothing here collects to the driver; every operator is a
  * DataFrame→DataFrame transform that scales with partition count.
  */
object Analytics {

  /** Headline scalar metrics (app.py:84-92): one-row global aggregate.
    * Exact `median` (not approx) for oracle parity — at 100 TB swap for
    * `percentile_approx` behind the same API if exactness can be relaxed.
    */
  def headlineMetrics(df: DataFrame, valueCol: String): DataFrame =
    df.agg(
      count(lit(1)).as("n"),
      round(avg(col(valueCol)), 2).as("avg_value"),
      median(col(valueCol)).as("median_value"),
      round(min(col(valueCol)), 2).as("min_value"),
      round(max(col(valueCol)), 2).as("max_value"))

  /** Top-K groups by frequency (market_overview.py:34) — plans as partial
    * hash agg + TakeOrderedAndProject: only K rows cross the final exchange.
    */
  def topKByCount(df: DataFrame, key: String, k: Int): DataFrame =
    df.groupBy(col(key)).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col(key).asc)
      .limit(k)

  /** The 100 TB dial for `topKByCount`: sketch-based heavy hitters via
    * `approx_top_k` — one mergeable sketch instead of a full
    * per-key aggregate, so driver/executor state is O(maxItemsTracked)
    * regardless of key cardinality. Counts are EXACT while the distinct
    * key count stays within `maxItemsTracked` (the sketch only
    * approximates past that), which AnalyticsSpec pins against the exact
    * form. Output re-sorted (cnt desc, key asc) so ties are
    * deterministic. */
  def topKByCountApprox(df: DataFrame, key: String, k: Int,
                        maxItemsTracked: Int = 10000): DataFrame =
    df.select(expr(s"approx_top_k($key, $k, $maxItemsTracked)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as(key), col("e.count").as("cnt"))
      .orderBy(col("cnt").desc, col(key).asc)

  /** Mergeable cardinality sketches (Apache DataSketches HLL): per-group
    * distinct-count estimates whose sketches union to ANY rollup level
    * without rescanning base data — the incremental pattern at 100 TB
    * (sketch per day/partition at ingest, merge at query time).
    * Returns (group, n_distinct_est) plus one __total__ row from the
    * union of the per-group sketches — distinct counts are NOT additive
    * across groups, sketches are. Estimates are exact while a group's
    * cardinality stays in the sketch's sparse regime; AnalyticsSpec pins
    * the 5% envelope and union-vs-direct agreement. */
  def cardinalityRollup(df: DataFrame, groupCol: String, valueCol: String,
                        totalLabel: String = "__total__"): DataFrame = {
    val perGroup = df.groupBy(col(groupCol))
      .agg(hll_sketch_agg(col(valueCol)).as("sk"))
    val total = perGroup.agg(hll_union_agg(col("sk")).as("sk"))
      .select(lit(totalLabel).as(groupCol), col("sk"))
    perGroup.unionByName(total)
      .select(col(groupCol),
        hll_sketch_estimate(col("sk")).as("n_distinct_est"))
      .orderBy(col(groupCol))
  }

  /** Full frequency table (value_counts, market_overview.py:68).
    * Ordered count-desc like pandas value_counts, key asc as tie-breaker
    * so hash-compared output is deterministic. */
  def freqTable(df: DataFrame, key: String): DataFrame =
    df.groupBy(col(key)).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col(key).asc)

  /** Per-group stats suite (regional_analysis.py:48-53):
    * count / mean / median / stddev (sample, matching pandas default).
    */
  def statsBy(df: DataFrame, key: Column, keyName: String, value: Column,
              extraAggs: Seq[Column] = Nil): DataFrame = {
    val base = Seq(
      count(lit(1)).as("n"),
      round(avg(value), 2).as("avg_value"),
      median(value).as("median_value"),
      round(stddev_samp(value), 2).as("stddev_value"))
    val aggs = base ++ extraAggs
    df.groupBy(key.as(keyName)).agg(aggs.head, aggs.tail: _*)
      .orderBy(col(keyName))
  }

  /** The 100 TB dial for `statsBy`: `percentile_approx` (t-digest-style
    * sketch, mergeable, map-side combined, O(accuracy) state per group)
    * replaces the exact sort-based median. `accuracy` trades memory for
    * error; 10000 keeps the median within a fraction of a percent on
    * unimodal data (AnalyticsSpec pins the closeness against the exact
    * form). Use the exact variant when oracle parity matters. */
  def statsByApprox(df: DataFrame, key: Column, keyName: String, value: Column,
                    extraAggs: Seq[Column] = Nil,
                    accuracy: Int = 10000): DataFrame = {
    val base = Seq(
      count(lit(1)).as("n"),
      round(avg(value), 2).as("avg_value"),
      percentile_approx(value, lit(0.5), lit(accuracy)).as("median_value"),
      round(stddev_samp(value), 2).as("stddev_value"))
    val aggs = base ++ extraAggs
    df.groupBy(key.as(keyName)).agg(aggs.head, aggs.tail: _*)
      .orderBy(col(keyName))
  }

  /** Fixed-width binning / histogram (pd.cut, price_analysis.py:139-148).
    * One hash aggregate over a derived bin key — no per-bucket rescans.
    *
    * Default bins are half-open [lo, hi) via floor. Pass
    * `rightClosed = true` for pandas pd.cut parity — (lo, hi] bins where
    * exact multiples of binWidth belong to the LOWER bin (so a value
    * clipped to the cap lands in the last real bin, not a spurious
    * overflow bin).
    */
  def histogram(df: DataFrame, value: Column, binWidth: Double,
                rightClosed: Boolean = false): DataFrame = {
    val bin =
      if (rightClosed)
        greatest(ceil(value / binWidth) - 1, lit(0)).cast("long")
      else floor(value / binWidth).cast("long")
    df.groupBy(bin.as("bin"))
      .agg(
        count(lit(1)).as("cnt"),
        round(min(value), 2).as("bin_min"),
        round(max(value), 2).as("bin_max"))
      .withColumn("bin_lo", round(col("bin") * binWidth, 2))
      .orderBy(col("bin"))
  }

  /** Percent-of-total by group (A9/A16): group agg + empty-frame window.
    * The window `sum() over ()` is a single-partition exchange of the
    * already-aggregated (small) result — never of the base data.
    */
  def shareOfTotal(df: DataFrame, key: String): DataFrame = {
    val counts = df.groupBy(col(key)).agg(count(lit(1)).as("cnt"))
    counts
      .withColumn("share_pct",
        round(col("cnt") * 100.0 / sum(col("cnt")).over(Window.partitionBy()), 4))
      .orderBy(col(key))
  }

  /** Per-group quartiles (px.box, price_analysis.py:296-301). Exact
    * interpolating percentile == DuckDB quantile_cont. */
  def quartilesBy(df: DataFrame, key: String, value: Column): DataFrame =
    df.groupBy(col(key)).agg(
      percentile(value, lit(0.25)).as("q1"),
      percentile(value, lit(0.5)).as("q2"),
      percentile(value, lit(0.75)).as("q3"))
      .orderBy(col(key))

  /** Quantile-bucket distribution table — the SCALE tier of the decile
    * report: bucket boundaries are exact interpolating percentiles
    * (== DuckDB quantile_cont), computed by ONE two-stage aggregate to a
    * single row, broadcast back, and each row range-buckets against the
    * expanded boundary scalars. No partition-less window anywhere —
    * `ntile` over a global sort moves the whole table to one partition,
    * which is the plan this replaces. Buckets are half-open
    * [b_{i-1}, b_i), so counts are near-equal rather than exactly equal
    * (ties and interpolation land where the data does) — the trade that
    * buys a shuffle-free, any-scale plan. Returns per bucket (1-based):
    * n, lo, hi, avg rounded to 2dp.
    *
    * `exact = true` uses Spark's interpolating `percentile`, which
    * BUFFERS the column's values on the final reducer — oracle-exact
    * and fine into the ~10^8-row range, a memory hazard beyond. At
    * 100 TB flip to `exact = false`: `approx_percentile` (t-digest) is
    * mergeable with bounded memory at any cardinality; boundaries move
    * by at most 1/`accuracy` of rank, and the bucketing itself stays
    * exact either way (a fixed comparison against broadcast scalars). */
  def quantileBuckets(df: DataFrame, value: Column, buckets: Int = 10,
                      exact: Boolean = true, accuracy: Int = 10000): DataFrame = {
    require(buckets >= 2, "need at least 2 buckets")
    val v = value.cast("double")
    val qs = (1 until buckets).map(_.toDouble / buckets)
    val boundAgg =
      if (exact) percentile(v, typedlit(qs))
      else approx_percentile(v, typedlit(qs), lit(accuracy))
    val bounds = df.agg(boundAgg.as("__bs"))
      .select((1 until buckets).map(i =>
        element_at(col("__bs"), i).as(s"__b$i")): _*)
    val bucket = (1 until buckets)
      .map(i => when(v >= col(s"__b$i"), 1).otherwise(0))
      .reduce(_ + _) + lit(1)
    df.join(broadcast(bounds))
      .select(v.as("__v"), bucket.cast("long").as("bucket"))
      .groupBy(col("bucket")).agg(
        count(lit(1)).as("n"),
        round(min(col("__v")), 2).as("lo"),
        round(max(col("__v")), 2).as("hi"),
        round(avg(col("__v")), 2).as("avg_value"))
      .orderBy(col("bucket"))
  }

  /** Quantile-dial calibration report — how far the mergeable t-digest
    * boundaries (the 100 TB tier of [[quantileBuckets]]) sit from the
    * exact percentiles, per quantile: the evidence one needs before
    * flipping `exact = false` at scale (the same trust-the-dial
    * discipline as the ANN recall report). Relative error is against
    * the exact boundary; both boundary vectors come from single 1-row
    * aggregates. */
  def quantileCalibration(df: DataFrame, value: Column, buckets: Int = 10,
                          accuracy: Int = 10000): DataFrame = {
    val v = value.cast("double")
    val qs = (1 until buckets).map(_.toDouble / buckets)
    val both = df.agg(
      percentile(v, typedlit(qs)).as("__ex"),
      approx_percentile(v, typedlit(qs), lit(accuracy)).as("__ap"))
    both.select(posexplode(arrays_zip(col("__ex"), col("__ap")))
        .as(Seq("__i", "__pair")))
      .select((col("__i") + 1).as("q_idx"),
        round((col("__i") + 1).cast("double") / buckets, 4).as("q"),
        round(col("__pair.__ex"), 4).as("exact_boundary"),
        round(col("__pair.__ap"), 4).as("approx_boundary"),
        round(abs(col("__pair.__ap") - col("__pair.__ex")) /
          abs(col("__pair.__ex")), 6).as("rel_err"))
      .orderBy(col("q_idx"))
  }

  /** Per-key inter-event gap statistics: the arrival-cadence profile
    * (median and p90 seconds between a user's consecutive events, per
    * event type) that sizes session-gap and watermark parameters from
    * the data instead of folklore. Gaps are computed once per event
    * over the user-ordered log (ties broken by event id — the gap
    * definition must be total for cross-engine determinism), in
    * integer microseconds scaled to seconds by one fixed division.
    *
    * Scale: one keyed window over (user, time) — the q09 shape; the
    * percentile is the exact tier (sort per event-type group), with
    * the same `approx_percentile` dial note as q08/q02. */
  def interEventGaps(events: DataFrame, tsCol: String, userCol: String,
                     keyCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(idCol))
    val us = unix_micros(col(tsCol))
    val gap = ((us - lag(us, 1).over(w)) / 1e6).as("__gap")
    events.select(col(keyCol).as("key"), gap)
      .filter(col("__gap").isNotNull)
      .groupBy(col("key")).agg(
        count(lit(1)).as("n_gaps"),
        round(avg(col("__gap")), 4).as("avg_gap_s"),
        round(percentile(col("__gap"), lit(0.5)), 4).as("median_gap_s"),
        round(percentile(col("__gap"), lit(0.9)), 4).as("p90_gap_s"))
      .orderBy(col("key"))
  }

  /** Deterministic "DISTINCT ON (key) ... pick latest" dedup (D2): the
    * reference's nondeterministic first-wins set-dedup (dag.py:97-105) made
    * reproducible with an explicit ordering. Single shuffle on the key.
    */
  def latestPerKey(df: DataFrame, key: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(key.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Top-N rows per group by an ordering (rank window, §2.6). */
  def topNPerGroup(df: DataFrame, key: Seq[String], order: Seq[Column], n: Int): DataFrame = {
    val w = Window.partitionBy(key.map(col): _*).orderBy(order: _*)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= n)
  }

  /** [[topNPerGroup]]'s 100 TB dial: ranked top-N per group through the
    * `graft_topk` bounded-heap aggregate instead of a window. The
    * window shape shuffles EVERY row to its group and sorts it; this
    * one partial-aggregates, so the exchange carries at most n rows
    * per (group x map partition) — the fact table never moves. Order
    * is (score DESC, tag ASC); zero-pad the tag for numeric order.
    * Output: key cols + rank (1-based BIGINT) + score + tag. */
  def topNPerGroupAgg(df: DataFrame, key: Seq[String], score: Column,
                      tag: Column, n: Int): DataFrame =
    df.select(key.map(col) :+ score.cast("double").as("__s") :+
        tag.as("__t"): _*)
      .groupBy(key.map(col): _*)
      .agg(expr(s"graft_topk(__s, __t, $n)").as("__top"))
      .select(key.map(col) :+ posexplode(col("__top")): _*)
      .select(key.map(col) :+ (col("pos") + 1).cast("long").as("rank") :+
        col("col.score").as("score") :+ col("col.tag").as("tag"): _*)

  /** Half-life-bucketed time-decayed popularity — recency-weighted
    * counts on an EXACT integer lattice: each row contributes
    * `scale >> min(age div halfLife, 62)` (a halving per elapsed
    * half-life, quantized to whole half-lives), so the trending score
    * is a BIGINT sum — associative, partition-invariant, and exactly
    * replayable — where the textbook `exp(-λ·age)` weight is a float
    * no two engines fold identically. The shift clamp at 62 keeps the
    * shift in defined range (Java/SQL shifts wrap at 64) — rows older
    * than 62 half-lives weigh 0 (scale is below 2⁶²).
    *
    * Rows with `ts` after `asOfUs` are EXCLUDED (a future event has no
    * age; admitting it would need a negative shift). One map-side-
    * combined aggregate: the weight is a per-row projection, volume
    * collapses in the combiner, |keys| rows move. */
  def decayedCounts(df: DataFrame, key: String, ts: Column,
                    asOfUs: Long, halfLifeUs: Long,
                    scale: Long = 1L << 40): DataFrame = {
    require(halfLifeUs > 0, s"halfLifeUs must be > 0, got $halfLifeUs")
    require(scale > 0 && scale < (1L << 62),
      s"scale must be in (0, 2^62), got $scale")
    df.filter(unix_micros(ts) <= asOfUs)
      .withColumn("__age", lit(asOfUs) - unix_micros(ts))
      .withColumn("__b",
        least(expr(s"__age div ${halfLifeUs}L"), lit(62L)).cast("int"))
      .groupBy(col(key))
      .agg(count(lit(1)).as("n"),
        sum(expr(s"shiftright(${scale}L, __b)")).as("decayed"))
      .orderBy(col("decayed").desc, col(key).asc)
  }

  /** Spearman rank correlation per group on the EXACT integer lattice
    * — the monotone-association readout (Spearman 1904), robust to the
    * outliers and nonlinearity that bend q12's Pearson: rho =
    * 1 − 6·Σd² / (n(n²−1)) where d is the rank difference per row.
    * Ranks are `row_number` with the deterministic tie CONVENTION
    * (distinct consecutive ranks, not averaged ranks — averaged-rank
    * fractional arithmetic would put a float sum in the hot path and
    * an alignment seam between engines), and both ranks derive from
    * ONE canonical ordering: rx ranks (x, y, id) and ry ranks (y, rx).
    * Sharing rx as ry's tie-break is what keeps Σd² well-defined even
    * when rows DUPLICATE on every attribute (independent tie-breaks
    * would let the two engines pair the duplicates' ranks differently
    * — measured on lineitem, whose (orderkey, linenumber) is not
    * unique). Σd² and n fold as BIGINTs — associative, partition-
    * invariant — and rho is ONE closing double division, so the only
    * float op happens once per group on exact integer inputs.
    *
    * Movement: two rank windows on the SAME group key (one exchange —
    * the second window reuses the partitioning, sort only) + one
    * map-side-combined aggregate. Null rows in either measure drop
    * first (a null has no rank). Groups with n < 2 report null rho.
    * Overflow bound: Σd² < n³ and the denominator is n³−n, so BIGINT
    * holds up to n ≈ 2×10⁶ rows PER GROUP — beyond that, sample
    * within the group first (rank statistics converge fast; the
    * Theil–Sen cap discipline applies). */
  def spearmanBy(df: DataFrame, key: String, x: Column, y: Column,
                 id: Column): DataFrame = {
    val base = df.filter(x.isNotNull && y.isNotNull)
      .select(col(key), x.as("__x"), y.as("__y"), id.as("__id"))
    val wx = Window.partitionBy(col(key))
      .orderBy(col("__x").asc, col("__y").asc, col("__id").asc)
    val ranked = base
      .withColumn("__rx", row_number().over(wx).cast("long"))
    val wy = Window.partitionBy(col(key))
      .orderBy(col("__y").asc, col("__rx").asc)
    ranked
      .withColumn("__ry", row_number().over(wy).cast("long"))
      .withColumn("__d2",
        (col("__rx") - col("__ry")) * (col("__rx") - col("__ry")))
      .groupBy(col(key))
      .agg(count(lit(1)).as("n"), sum(col("__d2")).as("sum_d2"))
      .withColumn("rho", when(col("n") < 2, lit(null).cast("double"))
        .otherwise(round(lit(1.0) -
          (lit(6.0) * col("sum_d2").cast("double")) /
            (col("n") * (col("n") * col("n") - 1)).cast("double"), 6)))
      .orderBy(col(key))
  }

  /** TRIMMED mean per group — the robust location estimate between
    * q02's plain mean (outlier-dragged) and q103's median/MAD fence
    * (outlier-blind): drop everything outside the exact [loQ, hiQ]
    * percentile band, average what remains. The standard "whale-proof
    * average" for revenue/latency dashboards.
    *
    * Exact percentiles (Spark `percentile` ↔ DuckDB `quantile_cont`,
    * the established parity); the fence frame is |groups|-sized and
    * broadcasts back, so the frame is scanned twice and shuffled
    * never (the q103 movement). At 100 TB swap the exact percentile
    * for `percentile_approx` — same shape, the documented dial. */
  def trimmedMeanBy(df: DataFrame, key: String, value: Column,
                    loQ: Double = 0.05, hiQ: Double = 0.95): DataFrame = {
    require(0 <= loQ && loQ < hiQ && hiQ <= 1, s"bad band [$loQ, $hiQ]")
    val b = df.select(col(key), value.as("__v"))
      .filter(col("__v").isNotNull)
    val fences = b.groupBy(col(key)).agg(
      percentile(col("__v"), lit(loQ)).as("__lo"),
      percentile(col("__v"), lit(hiQ)).as("__hi"))
    b.join(broadcast(fences), Seq(key))
      .groupBy(col(key))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__v").between(col("__lo"), col("__hi")), 1L)
          .otherwise(0L)).as("n_kept"),
        round(avg(col("__v")), 4).as("mean"),
        round(avg(when(col("__v").between(col("__lo"), col("__hi")),
          col("__v"))), 4).as("trimmed_mean"),
        round(min(col("__lo")), 4).as("lo"),
        round(min(col("__hi")), 4).as("hi"))
      .orderBy(col(key))
  }

  /** Deterministic ORDERED string aggregation (SQL `string_agg(v, sep
    * ORDER BY ...)`, Spark's missing built-in): `collect_list` alone
    * is ARRIVAL-ordered — a shuffle or AQE re-plan reorders it run to
    * run — so the list collects (orderKey, value) structs and sorts
    * INSIDE the row before joining. The order columns must totally
    * order each group's rows (`value` itself is the usual final
    * tie-break) or the result is still ambiguous.
    *
    * One map-side-combined aggregate; the per-group sort is in-row
    * over that group's own elements. Groups must fit a row (strings
    * cap at JVM array limits) — cap with topNPerGroupAgg first when a
    * group can run hot. */
  def orderedConcat(value: Column, order: Seq[Column],
                    sep: String): Column = {
    val sorted = array_sort(collect_list(struct(
      order.zipWithIndex.map { case (c, i) => c.as(s"__o$i") } :+
        value.cast("string").as("__v"): _*)))
    array_join(transform(sorted, x => x.getField("__v")), sep)
  }

  /** Exact MODE per group (most frequent value, ties to the SMALLEST
    * value — a total order, so the answer is partition-invariant):
    * two stacked aggregates — (key, value) counts, then a struct-max
    * argmax per key. Never a window: the value-count frame is the
    * group's distinct values, map-side combined, and the argmax is
    * one more combine — the whole thing is two exchanges of
    * aggregate-grain rows. */
  def modeBy(df: DataFrame, key: String, value: Column): DataFrame =
    df.filter(value.isNotNull)
      .groupBy(col(key), value.as("__v"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(key))
      .agg(max(struct(col("__c"), (-col("__v")).as("__nv")))
        .getField("__c").as("n_mode"),
        (-max(struct(col("__c"), (-col("__v")).as("__nv")))
          .getField("__nv")).as("mode"))
      .select(col(key), col("mode"), col("n_mode"))
      .orderBy(col(key))

  /** Smoothed TARGET ENCODING per category (the feature-engineering
    * standard for high-cardinality categoricals — micro track: Micci-
    * Barreca, SIGKDD Expl. 2001): enc = (sum_cat + m·globalMean) /
    * (n_cat + m), shrinking small categories toward the global mean.
    * Sums fold on the DECIMAL lattice (order-independent); the global
    * mean and each encoding are single closing double divisions from
    * exact inputs, so both engines compute identical doubles. One
    * category-keyed aggregate + a single-row global broadcast. */
  def targetEncodeBy(df: DataFrame, key: String, target: Column,
                     m: Double = 10.0): DataFrame = {
    val t = target.cast("decimal(18,2)")
    val cat = df.filter(t.isNotNull)
      .groupBy(col(key))
      .agg(count(lit(1)).as("n"), sum(t).as("__s"))
    val g = cat.agg(sum(col("n")).as("__gn"), sum(col("__s")).as("__gs"))
    cat.crossJoin(broadcast(g))
      .select(col(key), col("n"),
        round((col("__s").cast("double") +
          lit(m) * (col("__gs").cast("double") /
            col("__gn").cast("double"))) /
          (col("n").cast("double") + lit(m)), 6).as("encoding"))
      .orderBy(col(key))
  }

  /** Sorted distinct domain (D3/O3: pickers, app.py:53-59). */
  def distinctDomain(df: DataFrame, key: String): DataFrame =
    df.select(col(key)).distinct().orderBy(col(key))

  /** Hierarchical subtotals (ROLLUP): per (a,b), per a, grand total —
    * one pass, Expand + hash aggregate; NULL marks the rolled-up level. */
  def rollupCounts(df: DataFrame, a: String, b: String, measure: Column): DataFrame =
    df.rollup(col(a), col(b)).agg(
        count(lit(1)).as("n"), round(sum(measure), 2).as("total"))
      .orderBy(col(a).asc_nulls_first, col(b).asc_nulls_first)

  /** Pivot with an EXPLICIT value list (dynamic pivots scan twice and
    * produce nondeterministic column sets — never at scale). */
  def pivotAvg(df: DataFrame, rowKey: String, pivotKey: String,
               values: Seq[String], measure: Column): DataFrame =
    df.groupBy(col(rowKey))
      .pivot(pivotKey, values)
      .agg(round(avg(measure), 2))
      .orderBy(col(rowKey))

  /** All-subtotals CUBE over (a,b): per (a,b), per a, per b, grand total
    * — one Expand + one hash aggregate, same single-pass shape as
    * `rollupCounts`. Emits explicit `grouping(...)` indicators so a NULL
    * data value is never confused with a rolled-up level (the classic
    * CUBE pitfall; indicators are part of the sort key for determinism).
    */
  def cubeCounts(df: DataFrame, a: String, b: String, measure: Column): DataFrame =
    df.cube(col(a), col(b)).agg(
        // grouping() is only resolvable inside the cube's own aggregate
        grouping(col(a)).cast("long").as("grp_a"),
        grouping(col(b)).cast("long").as("grp_b"),
        count(lit(1)).as("n"), round(sum(measure), 2).as("total"))
      .select(col(a), col(b), col("grp_a"), col("grp_b"), col("n"), col("total"))
      .orderBy(col("grp_a").asc, col("grp_b").asc,
        col(a).asc_nulls_first, col(b).asc_nulls_first)

  /** Robust (median/MAD) outlier report per group — the screen that
    * survives the skewed heavy-tailed value distributions where
    * mean/stddev z-scores drown (one whale order inflates sigma until
    * nothing is an outlier). Flags |x - median| > k * 1.4826 * MAD
    * (1.4826 scales MAD to sigma under normality; k=3 is the
    * conventional fence).
    *
    * Two grouped aggregate passes (median, then MAD of residuals) and
    * one flagging pass, joined back on the group key — the two joins
    * reuse the same hash partitioning, and exact `percentile` matches
    * DuckDB's `quantile_cont` bit-for-bit (q08's precedent). At 100 TB
    * swap the exact medians for `approx_percentile` — same plan, no
    * sort-based aggregate — the q52/q79 dial convention.
    *
    * `fence` is the FULL multiplier on MAD (k * 1.4826 for a k-sigma
    * fence, e.g. 4.4478 ~= 3 sigma) passed as ONE literal so external
    * engines replaying the rule parse the identical double — a k *
    * 1.4826 product would fold in decimal arithmetic in DuckDB but
    * binary doubles here, and a 1-ulp fence difference flips
    * borderline rows. */
  def robustOutliers(df: DataFrame, key: String, value: Column,
                     fence: Double = 4.4478): DataFrame = {
    val v = value.cast("double")
    // med/mad are one row per key (categorical screens) — broadcast
    // outright instead of waiting for AQE to discover they're tiny
    val med = df.groupBy(col(key)).agg(percentile(v, lit(0.5)).as("med"))
    val mad = df.join(broadcast(med), Seq(key))
      .groupBy(col(key)).agg(
        percentile(abs(v - col("med")), lit(0.5)).as("mad"))
    df.join(broadcast(med), Seq(key)).join(broadcast(mad), Seq(key))
      .groupBy(col(key)).agg(
        count(lit(1)).as("n"),
        round(first(col("med")), 4).as("med"),
        round(first(col("mad")), 4).as("mad"),
        sum(when(abs(v - col("med")) > lit(fence) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .withColumn("outlier_pct",
        round(col("n_outliers") * 100.0 / col("n"), 4))
      .orderBy(col(key))
  }

  /** Chi-square test of independence over a two-column contingency
    * table: observed cell counts vs the expected n_a*n_b/N under
    * independence, the per-cell contribution, and the total statistic
    * with degrees of freedom — the drift/association screen run between
    * categorical columns before trusting a mixture change.
    *
    * One hash aggregate to the contingency cells (|A|x|B| rows — small
    * by definition for categoricals), then window sums over that
    * aggregated frame only (never over the raw table; same discipline
    * as W2's percent-of-total). */
  def chiSquare(df: DataFrame, a: String, b: String): DataFrame = {
    val cells = df.groupBy(col(a), col(b)).agg(count(lit(1)).as("obs"))
    val wa = Window.partitionBy(col(a))
    val wb = Window.partitionBy(col(b))
    val wAll = Window.partitionBy()
    cells
      .withColumn("__na", sum(col("obs")).over(wa))
      .withColumn("__nb", sum(col("obs")).over(wb))
      .withColumn("__n", sum(col("obs")).over(wAll))
      .withColumn("expected",
        col("__na").cast("double") * col("__nb") / col("__n"))
      .withColumn("contrib",
        pow(col("obs") - col("expected"), 2) / col("expected"))
      .select(col(a), col(b), col("obs"),
        round(col("expected"), 4).as("expected"),
        round(col("contrib"), 6).as("contrib"))
      .orderBy(col(a), col(b))
  }

  /** Per-group proportion with a Wilson score interval — the error bar
    * every eval/quality dashboard should carry instead of a bare rate
    * (at small n a 90% pass rate and its 62%..98% interval are very
    * different findings). z defaults to 1.96 (95%); the interval is
    * the standard Wilson form, one fixed double expression from the
    * exact integer (successes, n) pair, so any engine evaluating the
    * same formula reproduces it bit-for-bit.
    *
    * Scale: one map-side-combined aggregate to |groups| rows; all the
    * interval math happens on the aggregated frame. */
  def proportionCI(df: DataFrame, key: String, success: Column,
                   z: Double = 1.96): DataFrame = {
    val agg = df.groupBy(col(key)).agg(
      count(lit(1)).as("n"),
      sum(when(success, 1L).otherwise(0L)).as("successes"))
    val n = col("n").cast("double")
    val p = col("successes") / n
    val z2 = lit(z * z)
    val denom = lit(1.0) + z2 / n
    val center = p + z2 / (n * 2)
    val spread = lit(z) * sqrt(p * (lit(1.0) - p) / n + z2 / (n * n * 4))
    agg
      .withColumn("rate_pct", round(p * 100.0, 4))
      .withColumn("ci_lo_pct",
        round((center - spread) / denom * 100.0, 4))
      .withColumn("ci_hi_pct",
        round((center + spread) / denom * 100.0, 4))
      .orderBy(col(key))
  }

  /** Trailing-window anomaly screen over a keyed time series: bucket
    * events to the hour, DENSIFY the hour axis per key (zero-event
    * hours become real zero-count buckets), and score each (key,
    * hour)'s count against the mean/stddev of the previous `lookback`
    * buckets for that key — the volume-spike / outage monitor every
    * ingestion pipeline runs. Densification is what makes it an OUTAGE
    * monitor at all: without it, a silent hour produces no row — so it
    * is never scored and the "trailing 24 buckets" silently stretch
    * over more wall-clock time. Only rows with a FULL trailing window
    * are scored (a partial baseline early in the series would
    * manufacture anomalies).
    *
    * Determinism note: the built-in stddev over a window is a
    * Welford-style incremental whose fp op order is engine-specific —
    * so the baseline is built from exact INTEGER window sums (sum x,
    * sum x^2) and the sample variance derives from them in one fixed
    * double expression, bit-reproducible in any engine that evaluates
    * the same formula (4dp rounding is display-only).
    *
    * Scale: one hash aggregate corpus-wide (events -> |keys|x|hours|
    * buckets), densify + window both over the AGGREGATED frame (the
    * dense axis is bounded by |keys| x wall-clock hours, never event
    * volume) — window state per key is O(lookback). Hot keys are hot
    * only in bucket count (bounded by the time range). */
  def anomalyZ(events: DataFrame, tsCol: String, keyCol: String,
               lookback: Int = 24): DataFrame =
    scoreHourly(events
      .groupBy(col(keyCol), date_trunc("hour", col(tsCol)).as("__hour"))
      .agg(count(lit(1)).as("cnt")), keyCol, lookback)

  /** Scoring half of [[anomalyZ]], shared with the streaming anomaly
    * sink (which maintains the hourly frame as per-batch partials):
    * takes an aggregated (key, __hour, cnt) frame, zero-fills the hour
    * axis per key between that key's first and last observed hour, and
    * applies the exact-integer-sum z-score window. */
  private[etlmudah] def scoreHourly(hourly: DataFrame, keyCol: String,
                                    lookback: Int): DataFrame = {
    val dense = hourly.groupBy(col(keyCol))
      .agg(min(col("__hour")).as("__h0"), max(col("__hour")).as("__h1"))
      .select(col(keyCol), explode(expr(
        "sequence(__h0, __h1, interval 1 hour)")).as("__hour"))
      .join(hourly, Seq(keyCol, "__hour"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__hour"))
      .rowsBetween(-lookback, -1)
    val n = lit(lookback.toDouble)
    val mean = col("__s1") / n
    val variance = (col("__s2") - col("__s1") * col("__s1") / n) / (n - 1)
    dense
      .withColumn("__nw", count(lit(1)).over(w))
      .withColumn("__s1", sum(col("cnt")).over(w).cast("double"))
      .withColumn("__s2", sum(col("cnt") * col("cnt")).over(w).cast("double"))
      .filter(col("__nw") === lookback && variance > 0)
      .select(col(keyCol),
        unix_micros(col("__hour")).as("hour_us"), col("cnt"),
        round(mean, 4).as("baseline_mean"),
        round((col("cnt") - mean) / sqrt(variance), 4).as("z"))
      .orderBy(col(keyCol), col("hour_us"))
  }

  /** Classifier CALIBRATION table: score-ordered ntile buckets with
    * the observed positive rate per bucket — the reliability diagram's
    * data (a well-calibrated probability model shows pos_rate tracking
    * the score; a ranking-only model shows monotone lift). Ordering is
    * (score, id) so ties split deterministically and the table
    * replays engine-exactly (the q189 ntile discipline); the only
    * float op is the one pos-rate division.
    *
    * Scale: ntile is a global window — at corpus scale use the
    * percentile-boundary bucketing tier (`quantileBuckets`, the
    * q73/q79 split) on the score column instead; this exact tier is
    * the eval-report grain (one row per bucket). */
  def calibrationTable(df: DataFrame, scoreCol: String, labelCol: String,
                       idCol: String, bins: Int = 10): DataFrame = {
    val w = Window.orderBy(col(scoreCol).asc, col(idCol).asc)
    // BIGINT bin: Spark's ntile emits int32, external engines int64 —
    // the wider type keeps the report schema engine-identical
    df.withColumn("bin", ntile(bins).over(w).cast("long"))
      .groupBy(col("bin")).agg(
        count(lit(1)).as("n_docs"),
        sum(col(labelCol).cast("long")).as("n_pos"),
        min(col(scoreCol)).as("lo_score"),
        max(col(scoreCol)).as("hi_score"))
      .select(col("bin"), col("n_docs"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n_docs"), 6).as("pos_rate"),
        col("lo_score"), col("hi_score"))
      .orderBy(col("bin"))
  }

  /** EXACT ROC AUC for a binary classifier — the Mann–Whitney U form
    * with average-rank tie handling, computed entirely in integer
    * arithmetic until ONE final division:
    *
    *   AUC = (S − n₁(n₁+1)) / (2·n₁·n₀),
    *   S   = Σ_s n₁(s) · (2·cum_below(s) + n(s) + 1)
    *
    * over the per-DISTINCT-SCORE aggregated frame (n(s) docs, n₁(s)
    * positives, cum_below(s) docs with strictly smaller score). S is
    * a BIGINT sum, so the metric is order-independent and replays
    * bit-for-bit in any engine — the eval-metric twin of the
    * engine's portable-training discipline.
    *
    * The ranking window is partition-less but runs over the DISTINCT
    * SCORE frame, which for the engine's 6dp-rounded scores is
    * value-bounded (≤ 2·10⁶+1 rows for scores in [−1,1]) regardless
    * of corpus size — the q06 aggregate-then-window pattern, never a
    * corpus-sized global sort. Degenerate single-class input yields a
    * null AUC (0/0), not a crash. Returns one row
    * (n_pos, n_neg, auc). */
  def binaryAuc(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val perScore = df
      .groupBy(col(scoreCol).as("s"))
      .agg(count(lit(1)).as("n"),
        sum(col(labelCol).cast("long")).as("n1"))
    val w = Window.orderBy(col("s")).rowsBetween(Window.unboundedPreceding, -1)
    val ranked = perScore
      .withColumn("cum_below", coalesce(sum(col("n")).over(w), lit(0L)))
    ranked.agg(
        sum(col("n1")).as("n_pos"),
        (sum(col("n")) - sum(col("n1"))).as("n_neg"),
        sum(col("n1") * (lit(2) * col("cum_below") + col("n") + lit(1)))
          .as("s_sum"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round((col("s_sum") - col("n_pos") * (col("n_pos") + lit(1)))
            .cast("double") /
            (lit(2.0) * (col("n_pos") * col("n_neg")).cast("double")), 6))
          .as("auc"))
  }

  /** EXACT distributed simple linear regression (closed-form OLS) —
    * the trend-line readout every dashboard fits, computed the lattice
    * way: x and y quantize to integer-cent lattices, the five moment
    * sums (n, Sx, Sy, Sxx, Sxy, Syy) fold as DECIMAL(38,0) — exact
    * and order-independent at ANY corpus size (38 digits hold
    * n*max|xy| past 10^20, where BIGINT would already have wrapped) —
    * and the slope/intercept/r2 come out of the standard closed forms
    *
    *   slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)
    *   intercept = (Sy*Sxx - Sx*Sxy) / (n*Sxx - Sx^2)   [y-lattice]
    *   r2 = (n*Sxy - Sx*Sy)^2 / ((n*Sxx - Sx^2)(n*Syy - Sy^2))
    *
    * with every numerator/denominator an exact decimal, so the final
    * double divisions (identical operand order on both engines) are
    * hash-comparable. ONE map-side-combined aggregate; nothing else
    * moves. Null x or y rows are excluded (SQL regression semantics). */
  /** DELETE-ONE-GROUP JACKKNIFE standard error for the mean — the
    * uncertainty method of the sharded world next to the Poisson
    * bootstrap ([[etlmudah.scale.Sampling]].bootstrapMeanCi): with
    * data arriving in G natural groups (sources, shards, days), the
    * leave-one-group-out means theta_g = (S - s_g) / (N - n_g) need
    * only the PER-GROUP sums — one map-side-combined aggregate to |G|
    * rows, no resampling pass at all — and
    * se^2 = (G-1)/G * sum (theta_g - mean theta)^2.
    *
    * Exactness discipline: values fold as integer cents; theta_g is
    * one deterministic double division, immediately re-quantized to an
    * integer micro-lattice t_g = round(theta_g * thetaScale) so the
    * variance uses the EXACT integer identity
    * G*sum(t^2) - (sum t)^2 on DECIMAL(38,0) — no order-dependent
    * float accumulation anywhere; the one sqrt runs on an exact
    * integer operand (IEEE sqrt is correctly rounded, so both engines
    * agree bit for bit). */
  def jackknifeMeanByGroup(df: DataFrame, valueCol: String,
                           groupCol: String,
                           thetaScale: Int = 10000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val cents = round(col(valueCol).cast("double") * 100).cast("long")
    val g = df.select(col(groupCol).as("grp"), cents.as("__c"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_g"), sum(col("__c")).as("s_g"))
    val w = Window.partitionBy() // |G| frame
    val t = g
      .withColumn("bigN", sum(col("n_g")).over(w))
      .withColumn("bigS", sum(col("s_g")).over(w))
      .withColumn("nGroups", count(lit(1)).over(w))
      // a single-group frame has no leave-one-out complement: theta
      // degenerates (and (G-1) zeroes the se anyway) — guard the ANSI
      // Infinity->long cast rather than crash
      .withColumn("theta_g",
        when(col("bigN") > col("n_g"),
          (col("bigS") - col("s_g")).cast("double") /
            (lit(100.0) * (col("bigN") - col("n_g")).cast("double")))
          .otherwise(lit(0.0)))
      .withColumn("t_g", round(col("theta_g") * thetaScale).cast("long"))
    t.agg(
        max(col("bigN")).as("n"),
        max(col("nGroups")).as("n_groups"),
        max(col("bigS")).as("bigS"),
        sum(col("t_g").cast(d38)).as("st"),
        // cast BEFORE multiplying: t^2 on the long lane could wrap for
        // large thetaScale; decimal(38) holds it at any dial
        sum(col("t_g").cast(d38) * col("t_g").cast(d38)).as("stt"))
      .select(
        col("n"), col("n_groups"),
        round(col("bigS").cast("double") /
          (lit(100.0) * col("n").cast("double")), 6).as("point_est"),
        round(sqrt((col("n_groups").cast(d38) * col("stt") -
            col("st") * col("st")).cast("double") *
            (col("n_groups") - 1).cast("double")) /
          col("n_groups").cast("double") / thetaScale.toDouble, 6)
          .as("jk_se"))
  }

  def linearFit(df: DataFrame, xCol: String, yCol: String,
                xScale: Int = 100, yScale: Int = 100): DataFrame =
    linearFitBy(df, xCol, yCol, Nil, xScale, yScale)

  /** [[linearFit]] PER GROUP — one trend line per `groupCols` key
    * (trend-per-source, trend-per-segment): the same exact decimal
    * moment fold, now map-side combined per group; still one pass,
    * one exchange of |groups| moment rows. Empty `groupCols` is the
    * global fit. */
  def linearFitBy(df: DataFrame, xCol: String, yCol: String,
                  groupCols: Seq[String],
                  xScale: Int = 100, yScale: Int = 100): DataFrame = {
    val d38 = "decimal(38,0)"
    val x = round(col(xCol).cast("double") * xScale).cast("long")
    val y = round(col(yCol).cast("double") * yScale).cast("long")
    val m = df
      .where(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(groupCols.map(col) ++ Seq(x.as("__x"), y.as("__y")): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).cast(d38).as("n"),
        sum(col("__x").cast(d38)).as("sx"),
        sum(col("__y").cast(d38)).as("sy"),
        sum((col("__x") * col("__x")).cast(d38)).as("sxx"),
        sum((col("__x") * col("__y")).cast(d38)).as("sxy"),
        sum((col("__y") * col("__y")).cast(d38)).as("syy"))
    // exact decimal numerators/denominators, then ONE double division
    // each — operand order mirrored verbatim in the oracle
    val out = m.select(
        groupCols.map(col) ++ Seq(
          col("n").cast("bigint").as("n"),
          (col("n") * col("sxy") - col("sx") * col("sy")).as("cov_n"),
          (col("n") * col("sxx") - col("sx") * col("sx")).as("var_x"),
          (col("sy") * col("sxx") - col("sx") * col("sxy")).as("int_n"),
          (col("n") * col("syy") - col("sy") * col("sy")).as("var_y")): _*)
      .select(
        groupCols.map(col) ++ Seq(
          col("n"),
          // slope in y-units per x-unit: the lattice ratio re-scales by
          // xScale/yScale, folded into the double step. Degenerate
          // groups (constant x -> var_x = 0, or constant y for r2)
          // report NULL — Spark 4 ANSI throws on ANY zero divisor,
          // doubles included, so the guard is correctness, not polish
          when(col("var_x") =!= 0,
            round(col("cov_n").cast("double") / col("var_x").cast("double") *
              (xScale.toDouble / yScale.toDouble), 6)).as("slope"),
          when(col("var_x") =!= 0,
            round(col("int_n").cast("double") / col("var_x").cast("double") /
              yScale.toDouble, 6)).as("intercept"),
          when(col("var_x") =!= 0 && col("var_y") =!= 0,
            round(col("cov_n").cast("double") * col("cov_n").cast("double") /
              (col("var_x").cast("double") * col("var_y").cast("double")),
              6)).as("r2")): _*)
    if (groupCols.isEmpty) out
    else out.orderBy(groupCols.map(col): _*)
  }

  /** BENFORD first-digit audit — the classic fabricated-data screen:
    * the observed first-significant-digit distribution of a naturally
    * spread positive measure follows log10(1 + 1/d); gross deviation
    * flags synthetic, truncated, or unit-mixed data. The digit is
    * EXACT integer/string work (first char of the integral part of
    * |v| — no log, no float classification); expected shares are
    * fixed 6dp literals (log10(1 + 1/d) precomputed — no log function
    * crosses an engine boundary); the chi-square statistic runs on the
    * 9-row aggregated frame. One map-side-combined groupBy; nothing
    * else moves. */
  val benfordShares: Seq[Double] = Seq(0.301030, 0.176091, 0.124939,
    0.096910, 0.079181, 0.066947, 0.057992, 0.051153, 0.045757)

  def benfordReport(df: DataFrame, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = col(valueCol).cast("double")
    // floor(double) is already a LONG in Spark; the string's first
    // char is the exact first significant digit of any value >= 1
    val digit = substring(floor(abs(v)).cast("string"), 1, 1).cast("int")
    val counts = df
      .where(v.isNotNull && abs(v) >= 1.0)
      .select(digit.as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy() // 9-row frame
    counts
      .withColumn("total", sum(col("n")).over(w))
      .withColumn("share",
        round(col("n").cast("double") / col("total").cast("double"), 6))
      .withColumn("benford",
        element_at(array(benfordShares.map(lit): _*), col("digit")))
      .withColumn("chi_term", round(
        (col("n").cast("double") - col("total").cast("double") *
          col("benford")) *
          (col("n").cast("double") - col("total").cast("double") *
            col("benford")) /
          (col("total").cast("double") * col("benford")), 6))
      .select(col("digit"), col("n"), col("share"), col("benford"),
        col("chi_term"))
      .orderBy(col("digit"))
  }

  /** EXACT 2-D skyline (Pareto frontier): the rows no other row beats
    * on BOTH axes — maximize `maxCol`, minimize `minCol`, domination
    * strict in at least one (exact (max,min) duplicates therefore all
    * survive). The price-performance frontier readout
    * (`market_overview.py`'s best-value scatter, reduced to the
    * undominated set).
    *
    * Scale shape — the distributed sort-sweep, never the quadratic
    * NOT-EXISTS self-join the SQL definition suggests:
    *  1. one bounded driver read (2 values: min/max of `maxCol`) sizes
    *     a fixed-width `width_bucket` grid, so every row gets an
    *     ORDERED bucket id as a pure function of its value (equal
    *     values can never straddle a bucket, and every value in a
    *     higher bucket is strictly greater than every value below it —
    *     the half-open grid intervals are disjoint);
    *  2. per bucket, ONE hash exchange + one sort carries both sweep
    *     windows: min(`minCol`) over same-bucket rows with strictly
    *     larger `maxCol` (desc RANGE frame to -1 — `maxCol` must be
    *     integral for the strict range bound) and over exact peers
    *     (RANGE frame 0..0);
    *  3. cross-bucket domination collapses to a |buckets|-row summary
    *     (per-bucket min of `minCol`, cumulative-from-the-top) that
    *     BROADCASTS back — the global coupling moves ≤ `buckets` rows,
    *     never data.
    * Skewed value distributions concentrate rows in few buckets; the
    * dial is the same as the Z-order note — swap the linear grid for
    * quantile boundaries, identical expression shape. */
  def skyline2d(df: DataFrame, maxCol: String, minCol: String,
                buckets: Int = 64): DataFrame = {
    val rows = df.where(col(maxCol).isNotNull && col(minCol).isNotNull)
    val ext = rows.agg(min(col(maxCol)).cast("double"),
      max(col(maxCol)).cast("double")).head()
    if (ext.isNullAt(0)) return rows
    val (lo, hi) = (ext.getDouble(0), ext.getDouble(1))
    val bucketed = rows.withColumn("__bucket",
      width_bucket(col(maxCol).cast("double"), lit(lo), lit(hi + 1.0),
        lit(buckets)))
    val wSweep = Window.partitionBy(col("__bucket")).orderBy(col(maxCol).desc)
    val swept = bucketed
      .withColumn("__min_larger", min(col(minCol)).over(
        wSweep.rangeBetween(Window.unboundedPreceding, -1)))
      .withColumn("__min_peer", min(col(minCol)).over(
        wSweep.rangeBetween(Window.currentRow, Window.currentRow)))
    val higher = bucketed.groupBy(col("__bucket"))
      .agg(min(col(minCol)).as("__bmin"))
      .withColumn("__min_higher", min(col("__bmin")).over(
        Window.orderBy(col("__bucket").desc)
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("__bucket"), col("__min_higher"))
    swept.join(broadcast(higher), "__bucket")
      .where((col("__min_larger").isNull ||
          col("__min_larger") > col(minCol)) &&
        !(col("__min_peer") < col(minCol)) &&
        (col("__min_higher").isNull || col("__min_higher") > col(minCol)))
      .select(rows.columns.map(col): _*)
  }

  /** Gaps-and-islands over a per-key monthly activity calendar: each
    * key's distinct active months collapse into maximal runs of
    * consecutive months (the row_number-difference construction — a
    * run of consecutive month indexes has constant m − row_number), and
    * the report is the ISLAND-LENGTH distribution (n islands and n
    * distinct keys at each streak length) — the engagement-continuity
    * readout behind retention dashboards, at a deterministic
    * fixed-grain output.
    *
    * Scale: distinct (key, month) is one map-side-combined exchange
    * (the month grain collapses event volume before anything else
    * moves), the run window rides a key-keyed sort, and the
    * distribution is a second tiny aggregate — per-key state never
    * exceeds that key's distinct months. */
  def activityIslands(df: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val monthIdx = (year(col(tsCol)) * 12 + month(col(tsCol)) - 1).cast("long")
    val months = df.where(col(tsCol).isNotNull && col(keyCol).isNotNull)
      .select(col(keyCol).as("k"), monthIdx.as("m")).distinct()
    val w = Window.partitionBy(col("k")).orderBy(col("m"))
    months
      .withColumn("__grp", col("m") - row_number().over(w))
      .groupBy(col("k"), col("__grp"))
      .agg(count(lit(1)).as("island_len"))
      .groupBy(col("island_len"))
      .agg(count(lit(1)).as("n_islands"),
        countDistinct(col("k")).as("n_keys"))
      .orderBy(col("island_len"))
  }

  /** Theil–Sen robust trend + Mann–Kendall monotonicity per group: the
    * median of all pairwise slopes (Sen 1968 — up to 29% contamination
    * tolerated where OLS breaks on one outlier) and the MK S statistic
    * (Σ sign(y_j − y_i) over time-ordered pairs) — the robust twin of
    * [[linearFitBy]] for series with spikes.
    *
    * The estimator is inherently pairwise (O(n²) in series length), so
    * the operator makes the bound EXPLICIT: per group, a deterministic
    * md5-ranked subsample of at most `maxN` points feeds the pair
    * generation (the q89 source-cap discipline — on a subsample
    * Theil–Sen is the standard remedy, Wilcox 2012). Callers feeding an
    * aggregated series (e.g. monthly sums) never hit the cap; callers
    * feeding raw rows get an estimator over a uniform deterministic
    * subsample, not a detonation. Inputs are integral-lattice (x, y) so
    * every slope is one exact-int division; the median and S replay
    * engine-exactly.
    *
    * Scale: one keyed window (the cap), then the ≤ maxN²-per-group pair
    * fan-out is generated IN-STAGE from each group's collected point
    * list (one group-keyed collect_list + double explode — the
    * cooccurrenceEdges discipline, optimization guide §2.4) instead of
    * a group-keyed self-join: the join formulation planned the whole
    * scan→aggregate→cap subtree once per join side plus once more for
    * the n_points readout (3 scans, 7 exchanges measured), where this
    * shape pays the subtree once and reuses the cap window's
    * group-keyed exchange for both the list aggregate and the closing
    * group aggregate (1 scan, 2 exchanges). The collected list is
    * bounded at `maxN` structs per group BY CONSTRUCTION (the row_number
    * cap runs upstream of it), so the non-spilling aggregation buffer
    * holds ≤ maxN small structs regardless of input skew. The pair
    * multiset is identical to the self-join's: the double explode
    * enumerates every ordered row pair within the group and the same
    * __x1 < __x2 predicate keeps exactly the pairs the join's filter
    * kept. n_points rides the group row as size(list) — the count the
    * separate join-back used to recompute — and groups with no
    * qualifying pair (singletons, all-equal x) vanish with the empty
    * explode exactly as they vanished from the inner join. */
  def theilSenBy(df: DataFrame, xCol: String, yCol: String,
                 groupCols: Seq[String], maxN: Int = 1000): DataFrame = {
    val g = groupCols.map(col)
    val pts = df
      .where(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(g ++ Seq(col(xCol).cast("long").as("__x"),
        col(yCol).cast("long").as("__y")): _*)
    val wCap = Window.partitionBy(g: _*)
      .orderBy(md5(concat_ws("|", col("__x"), col("__y"))), col("__x"))
    val capped = pts
      .withColumn("__r", row_number().over(wCap))
      .where(col("__r") <= maxN).drop("__r")
    val pairs = capped
      .groupBy(g: _*)
      .agg(collect_list(struct(col("__x"), col("__y"))).as("__pts"))
      .withColumn("n_points", size(col("__pts")).cast("long"))
      .select(g ++ Seq(col("n_points"), explode(col("__pts")).as("__p1"),
        col("__pts")): _*)
      .select(g ++ Seq(col("n_points"), col("__p1"),
        explode(col("__pts")).as("__p2")): _*)
      .where(col("__p1.__x") < col("__p2.__x"))
      .withColumn("__slope",
        (col("__p2.__y") - col("__p1.__y")).cast("double") /
          (col("__p2.__x") - col("__p1.__x")).cast("double"))
      .withColumn("__sgn",
        signum((col("__p2.__y") - col("__p1.__y")).cast("double"))
          .cast("long"))
    pairs.groupBy(g :+ col("n_points"): _*)
      .agg(count(lit(1)).as("n_pairs"), sum(col("__sgn")).as("mk_s"),
        round(median(col("__slope")), 6).as("slope_med"))
      .select(g ++ Seq(col("n_points"), col("n_pairs"), col("mk_s"),
        col("slope_med")): _*)
      .orderBy(g: _*)
  }

  /** EXACT two-sample Kolmogorov–Smirnov statistic: D = max over the
    * value lattice of |ECDF_a − ECDF_b| — the distribution-drift test
    * with zero distributional assumptions (the q142 PSI's
    * nonparametric sibling). Integer-exact throughout: values quantize
    * to a lattice at `latticeScale`, and D's numerator folds as
    * max |cum_a·n_b − cum_b·n_a| over BIGINTs, so the ONE closing
    * division is deterministic cross-engine. Also reports the lattice
    * value where the max is attained (smallest such value on ties).
    *
    * Scale: one value-keyed aggregate collapses both corpora to the
    * DISTINCT-LATTICE frame before the partition-less cumulative
    * window runs — the binaryAuc discipline: the window's frame is
    * value-bounded by the lattice (coarsen `latticeScale` to shrink
    * it), never corpus-sized. */
  def ksTest(dfA: DataFrame, dfB: DataFrame, valueCol: String,
             latticeScale: Int = 1): DataFrame = {
    def side(df: DataFrame, tag: String) = df
      .where(col(valueCol).isNotNull)
      .select(round(col(valueCol).cast("double") * latticeScale)
        .cast("long").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as(s"n_$tag"))
    val merged = side(dfA, "a").join(side(dfB, "b"), Seq("v"), "full_outer")
      .select(col("v"), coalesce(col("n_a"), lit(0L)).as("na"),
        coalesce(col("n_b"), lit(0L)).as("nb"))
    val wOrd = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    merged
      .withColumn("__ca", sum(col("na")).over(wOrd))
      .withColumn("__cb", sum(col("nb")).over(wOrd))
      .withColumn("__ta", sum(col("na")).over(wAll))
      .withColumn("__tb", sum(col("nb")).over(wAll))
      .withColumn("__dev",
        abs(col("__ca") * col("__tb") - col("__cb") * col("__ta")))
      .agg(max(col("__ta")).as("n_a"), max(col("__tb")).as("n_b"),
        max(col("__dev")).as("__dn"),
        max(struct(col("__dev"), (-col("v")).as("__nv"), col("v")))
          .as("__at"))
      .select(col("n_a"), col("n_b"),
        when(col("n_a") > 0 && col("n_b") > 0,
          round(col("__dn").cast("double") /
            (col("n_a") * col("n_b")).cast("double"), 6)).as("d_stat"),
        col("__at.v").as("d_at"))
  }

  /** Pearson chi-square TEST verdict over an r×c contingency table —
    * the statistic-level companion of [[chiSquare]] (q104): that
    * operator is the per-cell diagnostic (which cells deviate, over
    * OBSERVED cells), this one answers the test question (is the
    * association significant at all?) and closes the observed-cell
    * blind spot — an UNOBSERVED cell still contributes its full
    * expected mass rt·ct/N to the statistic, so the grid is completed
    * before any term folds (summing q104's contribs understates χ²
    * whenever a zero cell exists). Also the table-level companion of
    * the per-term ranking
    * ([[etlmudah.text.TextStats.chiSquareTerms]]). Each cell's term is
    * the exact-rational form (o·N − rt·ct)²/(N·rt·ct) computed from
    * DECIMAL(38,0) counts; the statistic is the sum of the 6dp-ROUNDED
    * cell terms folded as DECIMAL — exact, order-independent addition,
    * so the cross-cell sum cannot drift between engines the way a
    * float Σ would. One row out: n, r, c, dof, chi2, Cramér's V.
    *
    * Scale: one map-side-combined groupBy to the ≤ r·c cell frame;
    * margins ride three windows over that bounded frame; nothing else
    * moves. */
  def chiSquareIndependence(df: DataFrame, aCol: String,
                            bCol: String): DataFrame = {
    val observed = df
      .where(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__o"))
    // COMPLETE the r×c grid: an unobserved cell still contributes its
    // expected-count term (o=0 → term = rt·ct/N); both dimension
    // frames are category-bounded, so the cross join is a broadcast
    // over ≤ r·c rows (the q133 pair-matrix shape)
    val cells = observed.select(col("__a")).distinct()
      .crossJoin(broadcast(observed.select(col("__b")).distinct()))
      .join(observed, Seq("__a", "__b"), "left")
      .withColumn("__o", coalesce(col("__o"), lit(0L)))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val t = cells
      .withColumn("__rt", sum(col("__o")).over(Window.partitionBy(col("__a"))))
      .withColumn("__ct", sum(col("__o")).over(Window.partitionBy(col("__b"))))
      .withColumn("__n", sum(col("__o")).over(Window.partitionBy()))
    val num = dec(col("__o")) * dec(col("__n")) -
      dec(col("__rt")) * dec(col("__ct"))
    val term = (num * num).cast("double") /
      (dec(col("__n")) * dec(col("__rt")) * dec(col("__ct"))).cast("double")
    t.agg(max(col("__n")).as("n"),
        countDistinct(col("__a")).as("r"),
        countDistinct(col("__b")).as("c"),
        sum(round(term, 6).cast("decimal(20,6)")).as("__chi"))
      .select(col("n"), col("r"), col("c"),
        ((col("r") - 1) * (col("c") - 1)).as("dof"),
        col("__chi").cast("double").as("chi2"),
        when(col("n") > 0 && least(col("r"), col("c")) > 1,
          round(sqrt(col("__chi").cast("double") /
            (col("n") * (least(col("r"), col("c")) - 1)).cast("double")),
            6)).as("cramers_v"))
  }

  /** EXACT WEIGHTED quantiles per group — the token-weighted
    * percentile a training-data pipeline actually wants (an unweighted
    * doc-length median answers "the typical document"; the
    * token-weighted one answers "the document the typical TOKEN lives
    * in" — at heavy-tailed doc lengths the two diverge wildly). Lower
    * weighted quantile: the smallest value whose cumulative weight
    * reaches q·W. Values and weights are integral lattices, the
    * cumulative fold is BIGINT, and the only float op is the q·W
    * threshold product of exact operands — engine-replayable with no
    * interpolation convention to align.
    *
    * Scale: one map-side-combined (group, value) aggregate collapses
    * row volume to the distinct-value grain FIRST, one group-keyed
    * window carries the cumulative and total weight (same exchange,
    * two frames), and all requested quantiles fold in ONE final
    * aggregate pass (each q is two more agg columns, the ValidateSuite
    * argument). */
  def weightedQuantilesBy(df: DataFrame, valueCol: String,
                          weightCol: String, groupCols: Seq[String],
                          qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1))
    val g = groupCols.map(col)
    val vw = df
      .where(col(valueCol).isNotNull && col(weightCol).isNotNull &&
        col(weightCol) > 0)
      .groupBy(g :+ col(valueCol).cast("long").as("__v"): _*)
      .agg(sum(col(weightCol).cast("long")).as("__w"))
    val wOrd = Window.partitionBy(g: _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(g: _*)
    val cum = vw
      .withColumn("__cw", sum(col("__w")).over(wOrd))
      .withColumn("__tw", sum(col("__w")).over(wAll))
    val qCols = qs.map(q =>
      min(when(col("__cw").cast("double") >=
        lit(q) * col("__tw").cast("double"), col("__v")))
        .as(s"wq_${math.round(q * 100)}"))
    cum.groupBy(g: _*)
      .agg(max(col("__tw")).as("total_w"), qCols: _*)
      .orderBy(g: _*)
  }

  /** CUSUM changepoint screen per group: where does a time series'
    * level shift? For the time-ordered series (t, y) the statistic is
    * max_i |S_i/T − i/n| — the maximum deviation of the cumulative
    * VALUE share from the uniform time share (the CUSUM/Pettitt
    * family's share form) — attained at the screen's changepoint
    * candidate t*. Integer-exact: y arrives on a caller-chosen lattice
    * and the deviation folds as |S_i·n − T·i| over BIGINTs; ONE
    * closing division. Ties pick the smallest t (max over a
    * lexicographic struct, deterministic). Groups with T = 0 report a
    * null d_stat.
    *
    * Scale: one group-keyed window carries the cumulative sum, the
    * row index, AND both per-group totals (same exchange, two frame
    * specs); the argmax is a map-side-combinable struct-max. */
  def cusumChangepoint(df: DataFrame, tCol: String, yCol: String,
                       groupCols: Seq[String]): DataFrame = {
    val g = groupCols.map(col)
    val pts = df.where(col(tCol).isNotNull && col(yCol).isNotNull)
      .select(g ++ Seq(col(tCol).cast("long").as("__t"),
        col(yCol).cast("long").as("__y")): _*)
    val wOrd = Window.partitionBy(g: _*).orderBy(col("__t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(g: _*)
    val scored = pts
      .withColumn("__s", sum(col("__y")).over(wOrd))
      .withColumn("__i", row_number().over(
        Window.partitionBy(g: _*).orderBy(col("__t"))))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__tot", sum(col("__y")).over(wAll))
      .withColumn("__dev",
        abs(col("__s") * col("__n") - col("__tot") * col("__i")))
    scored.groupBy(g: _*)
      .agg(max(col("__n")).as("n_points"), max(col("__tot")).as("y_total"),
        max(col("__dev")).as("__dn"),
        max(struct(col("__dev"), (-col("__t")).as("__nt"), col("__t")))
          .as("__at"))
      .select(g ++ Seq(col("n_points"), col("y_total"),
        when(col("y_total") =!= 0,
          round(col("__dn").cast("double") /
            (col("n_points").cast("double") *
              abs(col("y_total")).cast("double")), 6)).as("d_stat"),
        col("__at.__t").as("t_star")): _*)
      .orderBy(g: _*)
  }

  /** Welch two-sample t-test (unequal variances) between two groups of
    * `groupCol` — the A/B readout: does the mean of `valueCol` differ?
    * Returns one row: counts, 6dp means, the t statistic, and the
    * Welch–Satterthwaite degrees of freedom.
    *
    * Exactness discipline (the [[linearFit]] lattice): values quantize
    * to an integer lattice at `scale` and the per-group moment sums
    * (n, Σx, Σx²) fold as DECIMAL(38,0) — order-independent at any
    * size — so the float closed forms at the end consume exact inputs
    * and the statistic replays bit-for-bit in any engine. ONE
    * conditionally-aggregated corpus pass, map-side combined to a
    * single row; nothing else moves. Degenerate inputs (a group with
    * n < 2, or zero pooled standard error) yield null t/df, not a
    * crash. */
  def welchTTest(df: DataFrame, valueCol: String, groupCol: String,
                 groupA: String, groupB: String,
                 scale: Int = 100): DataFrame = {
    val x = round(col(valueCol).cast("double") * scale)
      .cast("decimal(38,0)")
    def side(g: String, tag: String) = Seq(
      sum(when(col(groupCol) === g, lit(1L)).otherwise(lit(0L)))
        .as(s"n_$tag"),
      sum(when(col(groupCol) === g, x).otherwise(lit(null)))
        .as(s"sx_$tag"),
      sum(when(col(groupCol) === g, x * x).otherwise(lit(null)))
        .as(s"sxx_$tag"))
    val m = df.where(col(valueCol).isNotNull)
      .agg((side(groupA, "a") ++ side(groupB, "b")).head,
        (side(groupA, "a") ++ side(groupB, "b")).tail: _*)
    def meanOf(t: String) =
      col(s"sx_$t").cast("double") / col(s"n_$t").cast("double") /
        scale.toDouble
    // sample variance on the original scale: (n·Σx² − (Σx)²)/(n(n−1))/s²
    def varOf(t: String) =
      (col(s"n_$t").cast("decimal(38,0)") * col(s"sxx_$t") -
        col(s"sx_$t") * col(s"sx_$t")).cast("double") /
        (col(s"n_$t") * (col(s"n_$t") - 1)).cast("double") /
        (scale.toDouble * scale.toDouble)
    val se2 = varOf("a") / col("n_a").cast("double") +
      varOf("b") / col("n_b").cast("double")
    val dfW = se2 * se2 /
      (varOf("a") * varOf("a") /
        (col("n_a") * col("n_a") * (col("n_a") - 1)).cast("double") +
        varOf("b") * varOf("b") /
          (col("n_b") * (col("n_b")) * (col("n_b") - 1)).cast("double"))
    val ok = col("n_a") >= 2 && col("n_b") >= 2 && se2 > 0
    m.select(col("n_a"), col("n_b"),
      round(meanOf("a"), 6).as("mean_a"),
      round(meanOf("b"), 6).as("mean_b"),
      when(ok, round((meanOf("a") - meanOf("b")) / sqrt(se2), 6))
        .as("t_stat"),
      when(ok, round(dfW, 6)).as("df_welch"))
  }


  /** GINI COEFFICIENT of a per-entity value frame — the revenue/token
    * concentration readout (G = 0 perfect equality, -> 1 one entity
    * holds everything): G = (2·Σ i·x_i − (n+1)·Σ x_i) / (n·Σ x_i)
    * with ranks i = 1..n ascending by (value, id) — the id tie-break
    * makes the rank (and hence G under ties) deterministic.
    *
    * Exactness: values ride a DECIMAL(18,2) lattice, rank products
    * accumulate as DECIMAL (rank ≤ n fits the 38-digit headroom at
    * any realistic entity count), ONE closing double division.
    *
    * Scale: the input is already the per-entity AGGREGATE (grain
    * |entities|, not the fact table); the single rank window runs
    * over that bounded frame — the q284 frame-grain discipline. */
  def giniCoefficient(df: DataFrame, idCol: String,
                      value: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = df.select(col(idCol).as("__id"),
      value.cast("decimal(18,2)").as("__x"))
    v.withColumn("__i", row_number().over(
        Window.orderBy(col("__x").asc, col("__id").asc)))
      .agg(count(lit(1)).as("n"),
        sum(col("__x")).as("__sx"),
        sum(col("__x") * col("__i").cast("decimal(19,0)")).as("__six"))
      .select(col("n"),
        round(col("__sx"), 2).cast("double").as("total"),
        round((lit(2).cast("decimal(19,0)") * col("__six") -
          (col("n") + 1).cast("decimal(19,0)") * col("__sx"))
          .cast("double") /
          (col("n").cast("double") * col("__sx").cast("double")), 6)
          .as("gini"))
  }

  /** [[giniCoefficient]]'s 100 TB tier — the SAME number (bit for
    * bit) without the single-reducer global rank window. The q79
    * bucketing dial applied to the rank itself: entities bucket by
    * exact percentile boundaries (one aggregate, broadcast scalars),
    * the rank window runs PARTITIONED per bucket, and the global rank
    * is the bucket's cumulative offset plus the local rank — a
    * distributed prefix sum.
    *
    * Why this is EXACT and not an approximation: bucket is a function
    * of the value alone, so a tie group (equal values) never spans
    * buckets, and every value in bucket k is strictly below every
    * value in bucket k+1 (x in k fails x ≥ b_k; y in k+1 passes) —
    * so offset+local reproduces the global (value, id) ranking up to
    * a permutation WITHIN tie groups, and Σ i·x_i is invariant under
    * within-tie permutations (constant x across the group, same rank
    * positions). Same DECIMAL lattice and closing chain as the exact
    * tier. Partition sizes are |entities|/buckets — size `buckets`
    * so each fits a reducer; boundaries flip to `approx_percentile`
    * at extreme cardinality exactly as [[quantileBuckets]] documents
    * (bucketing stays exact either way; only balance shifts). */
  def giniCoefficientBucketed(df: DataFrame, idCol: String,
                              value: Column,
                              buckets: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets >= 2, "need at least 2 buckets")
    val v = df.select(col(idCol).as("__id"),
      value.cast("decimal(18,2)").as("__x"))
    val vd = col("__x").cast("double")
    val qs = (1 until buckets).map(_.toDouble / buckets)
    val bounds = v.agg(percentile(vd, typedlit(qs)).as("__bs"))
      .select((1 until buckets).map(i =>
        element_at(col("__bs"), i).as(s"__b$i")): _*)
    val bucket = (1 until buckets)
      .map(i => when(vd >= col(s"__b$i"), 1).otherwise(0))
      .reduce(_ + _) + lit(1)
    val bucketed = v.join(broadcast(bounds))
      .select(col("__id"), col("__x"), bucket.cast("int").as("__bk"))
    // per-bucket offsets: a window over the <= `buckets`-row summary
    val offs = bucketed.groupBy(col("__bk"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__off", coalesce(sum(col("__c")).over(
        Window.orderBy(col("__bk").asc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__bk"), col("__off"))
    val ranked = bucketed
      .join(broadcast(offs), Seq("__bk"))
      .withColumn("__i", (col("__off") + row_number().over(
        Window.partitionBy(col("__bk"))
          .orderBy(col("__x").asc, col("__id").asc)))
        .cast("decimal(19,0)"))
    ranked.agg(count(lit(1)).as("n"),
        sum(col("__x")).as("__sx"),
        sum(col("__x") * col("__i")).as("__six"))
      .select(col("n"),
        round(col("__sx"), 2).cast("double").as("total"),
        round((lit(2).cast("decimal(19,0)") * col("__six") -
          (col("n") + 1).cast("decimal(19,0)") * col("__sx"))
          .cast("double") /
          (col("n").cast("double") * col("__sx").cast("double")), 6)
          .as("gini"))
  }

  /** Value-bucketed Lorenz ladder — the 100 TB twin of the ntile
    * decile ladder (q322): buckets come from exact percentile
    * BOUNDARIES (one aggregate, broadcast scalars, no global window),
    * so tie groups stay together (ntile splits them to equalize
    * counts — the two tiers legitimately differ exactly there, which
    * is why this twin reports boundary-bucketed shares rather than
    * claiming ntile equality). Cumulative share runs over the
    * ≤`buckets`-row summary only. Buckets ascend by value; share is
    * reported cumulative FROM THE TOP (the "top X% carry Y%"
    * readout). */
  def lorenzBinned(df: DataFrame, idCol: String, value: Column,
                   buckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets >= 2, "need at least 2 buckets")
    val v = df.select(col(idCol).as("__id"),
      value.cast("decimal(18,2)").as("__x"))
    val vd = col("__x").cast("double")
    val qs = (1 until buckets).map(_.toDouble / buckets)
    val bounds = v.agg(percentile(vd, typedlit(qs)).as("__bs"))
      .select((1 until buckets).map(i =>
        element_at(col("__bs"), i).as(s"__b$i")): _*)
    val bucket = (1 until buckets)
      .map(i => when(vd >= col(s"__b$i"), 1).otherwise(0))
      .reduce(_ + _) + lit(1)
    val byB = v.join(broadcast(bounds))
      .select(bucket.cast("long").as("bucket"), col("__x"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_cust"), sum(col("__x")).as("__brev"))
    val tot = byB.agg(sum(col("__brev")).as("__trev"))
    byB.crossJoin(broadcast(tot))
      .withColumn("__cumTop", sum(col("__brev")).over(
        Window.orderBy(col("bucket").desc)
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("bucket"), col("n_cust"),
        round(col("__brev"), 2).cast("double").as("bucket_revenue"),
        round(col("__cumTop").cast("double") /
          col("__trev").cast("double"), 6).as("cum_share_from_top"))
      .orderBy(col("bucket"))
  }

  /** MUTUAL INFORMATION between two categorical columns — the
    * feature-selection / dependence screen: per (x, y) cell the
    * pointwise MI ln(c_xy·N / (c_x·c_y)) and its contribution
    * c_xy/N · pmi to the total. Each cell's log quantizes to a
    * nano-nat BIGINT (floor(ln·1e9), the q313 lattice) and is
    * weighted by the EXACT cell count, so the MI total is integer
    * arithmetic with one closing division — never an
    * accumulation-order float fold.
    *
    * Scale: one (x, y) aggregate collapses the table; margins and the
    * total broadcast; the cell frame is |domain(x)|·|domain(y)| rows
    * (categorical domains — tiny by assumption; guard upstream if a
    * column is really a key). */
  def mutualInformation(df: DataFrame, xCol: String,
                        yCol: String): DataFrame = {
    val cell = df.groupBy(col(xCol), col(yCol))
      .agg(count(lit(1)).as("n_xy"))
    val mx = df.groupBy(col(xCol)).agg(count(lit(1)).as("__nx"))
    val my = df.groupBy(col(yCol)).agg(count(lit(1)).as("__ny"))
    val tot = df.agg(count(lit(1)).as("__n"))
    cell.join(broadcast(mx), Seq(xCol))
      .join(broadcast(my), Seq(yCol))
      .crossJoin(broadcast(tot))
      .withColumn("__pmi_q",
        floor(log(col("n_xy").cast("double") * col("__n") /
          (col("__nx").cast("double") * col("__ny"))) * 1e9)
          .cast("long"))
      .select(col(xCol), col(yCol), col("n_xy"),
        round(col("__pmi_q").cast("double") / 1e9, 6).as("pmi_nats"),
        (col("n_xy") * col("__pmi_q")).as("contrib_q"),
        col("__n"))
      .select(col(xCol), col(yCol), col("n_xy"), col("pmi_nats"),
        round(col("contrib_q").cast("double") /
          (col("__n").cast("double") * 1e9), 9).as("mi_contrib_nats"))
      .orderBy(col(xCol), col(yCol))
  }

  /** KAPLAN–MEIER product-limit survival estimate over (duration,
    * event) rows — event = 1 an observed event at that duration,
    * 0 right-censored there (still at risk through it, the standard
    * deaths-before-censorings tie convention). One row per distinct
    * OBSERVED-EVENT duration t: at-risk n_t (durations ≥ t), events
    * d_t, and S(t) = Π_{u ≤ t} (1 − d_u/n_u).
    *
    * Determinism: each factor's log quantizes to a nano-nat BIGINT
    * (floor(ln((n−d)/n)·1e9)) and the running product is the EXACT
    * integer cumulative sum of those, exponentiated once per output
    * row — the accumulation order can't smear anything. n_t == d_t
    * (everyone remaining dies at t) emits S(t) = 0 exactly.
    *
    * Scale: one duration-grain aggregate collapses the cohort; both
    * windows (reverse cumulative at-risk, forward cumulative log)
    * run over the |distinct durations| frame only. */
  def kaplanMeier(df: DataFrame, durationCol: String,
                  eventCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = df.groupBy(col(durationCol).cast("long").as("t"))
      .agg(sum(when(col(eventCol) === 1, 1L).otherwise(0L)).as("d"),
        count(lit(1)).as("__all"))
    val wDesc = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAsc = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    g.withColumn("n_risk", sum(col("__all")).over(wDesc))
      .withColumn("__lnq",
        when(col("n_risk") === col("d"), lit(null).cast("long"))
          .otherwise(floor(log((col("n_risk") - col("d"))
            .cast("double") / col("n_risk")) * 1e9).cast("long")))
      .withColumn("__zero",
        max((col("n_risk") === col("d") && col("d") > 0).cast("int"))
          .over(wAsc))
      .withColumn("__cum", sum(col("__lnq")).over(wAsc))
      .filter(col("d") > 0)
      .select(col("t"), col("n_risk"), col("d").as("n_events"),
        when(col("__zero") === 1, lit(0.0))
          .otherwise(round(exp(col("__cum").cast("double") / 1e9), 6))
          .as("survival"))
      .orderBy(col("t"))
  }
}
