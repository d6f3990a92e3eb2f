package graft.operators

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.functions._

/** Tumbling-window rollup + retention-tier cascade.
  *
  * Semantics source: thunder's within-record aggregation family —
  * `thunder/series/series.py :: Series.downsample` (mean over
  * non-overlapping bins), `:: Series.series_stats` (count/mean/std/
  * min/max in one pass, population std ddof=0) and
  * `:: Series.stat_by_index` (grouped aggregation by index label).
  * Re-expressed Spark-first: the "index label" is the tumbling time
  * bucket `date_trunc(unit, ts)`, the per-record fold becomes a
  * `groupBy(key, bucket)` hash aggregate with map-side partial
  * aggregation (one shuffle on `(key, bucket)`).
  *
  * == Exactness & scale design ==
  * Internal stats are *mergeable and order-independent*:
  *   - `cnt` (long), `min_v`, `max_v` — trivially associative.
  *   - `sum_d = sum(d)`, d = cast(v as decimal(18,6)) — exact decimal sum.
  *   - `sumsq_d = sum(d * d)` — exact decimal product, exact sum.
  *   - optional `kll` — a KLL quantile sketch (k = [[KllK]]), merged by
  *     Spark's `kll_merge_agg_double`; exact while a group holds ≤ k
  *     items, approximate (rank-error bounded) above.
  * Decimal sums are associative, so the result is bit-identical no
  * matter how AQE splits/coalesces partitions or in what order
  * partials merge — the property that makes `rollup1h(rollup1m(raw))
  * === rollup1h(raw)` EXACT (FIXTURES.md §B.4) and keeps a
  * 1000-executor run reproducible. Presentation stats (mean, stddev
  * ddof=0) are derived by scalar IEEE ops on the exact sums, so they
  * are deterministic too.
  *
  * At 100 TB the plan is: parquet scan (ts/key pruned) → partial agg
  * (map-side, no data explosion) → single hash-partition exchange on
  * (key, bucket) → final agg. Tier N+1 reads tier N output (orders of
  * magnitude smaller than raw), never the raw table.
  *
  * This object is the only definition of the stat set: the partial
  * step [[partial]], the merge step [[merge]] and the presentation
  * [[presentStats]]. TierTable.merge, Skew, StreamingRollup and
  * SeriesOps compose them (LMFAO's layered aggregates:
  * one partial, one merge, any grouping).
  */
object Rollup {

  /** Supported retention tiers: truncation unit for `date_trunc`. */
  val tiers: Seq[String] = Seq("minute", "hour", "day")

  /** KLL sketch size of the optional `kll` column. Sketches are exact
    * (every item retained) while a group holds at most k items. */
  val KllK: Int = 200

  /** Quantiles read from `kll` by [[presentSketched]], as p50/p90/p99. */
  val Quantiles: Seq[Double] = Seq(0.5, 0.9, 0.99)

  def bucket(ts: Column, unit: String): Column = date_trunc(unit, ts)

  /** Partial step: the mergeable stat set `(cnt, sum_d, sumsq_d,
    * min_v, max_v[, kll])` of each group of raw points `(…, v)`, under
    * any grouping. The signal is quantized to decimal(18,6) FIRST and
    * all sums run in exact decimal arithmetic: d and d*d are exact, so
    * every engine (and every shuffle order) produces bit-identical
    * sums. Casting v*v (a non-decimal-representable double) directly
    * would make the last decimal digit engine-dependent. */
  def partial(points: RelationalGroupedDataset, sketched: Boolean = false): DataFrame = {
    val vd = col("v").cast("decimal(18,6)")
    val aggs = Seq(
      count(lit(1)).as("cnt"),
      sum(vd).as("sum_d"),
      sum(vd * vd).as("sumsq_d"),
      min(col("v")).as("min_v"),
      max(col("v")).as("max_v")) ++
      (if (sketched) Seq(kllSketch(col("v")).as("kll")) else Nil)
    points.agg(aggs.head, aggs.tail: _*)
  }

  /** Merge step: groups rows carrying the stat set by `keys` and
    * re-merges them; a `kll` column is merged when `rows` has one.
    * Only associative decimal/long/min/max/sketch merges — exact. */
  def merge(rows: DataFrame, keys: Column*): DataFrame = {
    val aggs = Seq(
      sum(col("cnt")).as("cnt"),
      sum(col("sum_d")).as("sum_d"),
      sum(col("sumsq_d")).as("sumsq_d"),
      min(col("min_v")).as("min_v"),
      max(col("max_v")).as("max_v")) ++
      (if (rows.columns.contains("kll")) Seq(kllMerge(col("kll")).as("kll")) else Nil)
    rows.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** KLL sketch of a double column, and the merge of such sketches. */
  def kllSketch(v: Column): Column = kll_sketch_agg_double(v, KllK)
  def kllMerge(sketch: Column): Column = kll_merge_agg_double(sketch, KllK)

  /** Sketch reads: items seen (`kll_n`) and each of [[Quantiles]]. */
  def kllReads(sketch: Column): Seq[Column] =
    kll_sketch_get_n_double(sketch).as("kll_n") +: Quantiles.map(q =>
      kll_sketch_get_quantile_double(sketch, lit(q)).as(s"p${(q * 100).toInt}"))

  /** Raw points `(key, ts, v)` → internal mergeable rollup rows
    * `(key, bucket, cnt, sum_d, sumsq_d, min_v, max_v)`, plus a KLL
    * sketch column `kll` when `sketched`. */
  def rollupRaw(points: DataFrame, unit: String, sketched: Boolean = false): DataFrame =
    partial(points
      .where(col("v").isNotNull)
      .groupBy(col("key"), bucket(col("ts"), unit).as("bucket")), sketched)

  /** Tier cascade: merge finer-tier rollup rows into a coarser bucket
    * (a `kll` column, when present, cascades with the stats). */
  def cascade(finer: DataFrame, unit: String): DataFrame =
    merge(finer, col("key"), bucket(col("bucket"), unit).as("bucket"))

  /** Presentation stats `(sum_v, mean_v, min_v, max_v, std_v)` of rows
    * carrying the stat set. All scalar IEEE ops — deterministic.
    * sumsq_d is rescaled from its accumulated scale 12 to the true
    * scale 6 BEFORE the double cast: a scale-12 unscaled value crosses
    * 2^53 long before the scale-6 sums do, and wide-decimal→double
    * casts are not correctly rounded in every engine past that point
    * (the DuckDB oracle mirrors this rescale — see
    * RollupQueries.presentSql). */
  def presentStats: Seq[Column] = {
    val mean = col("sum_d").cast("double") / col("cnt")
    val ex2 = col("sumsq_d").cast("decimal(38,6)").cast("double") / col("cnt")
    Seq(
      col("sum_d").cast("double").as("sum_v"),
      mean.as("mean_v"),
      col("min_v"),
      col("max_v"),
      sqrt(greatest(ex2 - mean * mean, lit(0.0))).as("std_v"))
  }

  /** Presentation rows `(key, bucket, cnt, sum_v, mean_v, min_v, max_v,
    * std_v)`; a `kll` column in the input is ignored. */
  def present(rollup: DataFrame): DataFrame =
    rollup.select(Seq(col("key"), col("bucket"), col("cnt")) ++ presentStats: _*)

  /** [[present]] plus the sketch reads of a sketched rollup:
    * `kll_n, p50, p90, p99` — one projection over the rows. */
  def presentSketched(rollup: DataFrame): DataFrame =
    rollup.select(Seq(col("key"), col("bucket"), col("cnt")) ++ presentStats ++
      kllReads(col("kll")): _*)

  /** Convenience: full cascade raw → 1m → 1h → 1d, returned per tier
    * (each tier computed from the previous, not from raw). */
  def cascadeAll(points: DataFrame): Map[String, DataFrame] = {
    val m = rollupRaw(points, "minute")
    val h = cascade(m, "hour")
    val d = cascade(h, "day")
    Map("1m" -> m, "1h" -> h, "1d" -> d)
  }
}
