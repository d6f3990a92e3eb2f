package graft.tables

import java.time.{LocalDate, YearMonth}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.Rollup

/** The retention-cascade materialization job: raw points → 1m → 1h →
  * 1d tier tables as incremental day-batched MERGEs (north_rule:
  * "retention cascades materialized as incremental Iceberg MERGE
  * jobs … resumable from per-partition checkpoints").
  *
  * One batch = one day of input. Per batch the raw table is scanned
  * EXACTLY ONCE: the 1m partials are persisted before the tier-1m
  * MERGE materializes them, so the 1h and 1d cascades read the cached
  * partials instead of re-executing the raw scan + rollup (lazy
  * DataFrames made the previous version scan raw three times per
  * batch — at 10^12 turns that is 3 × n_days full scans). Partials are
  * tiny relative to raw (one row per (key, minute)), so MEMORY_AND_DISK
  * is cheap insurance.
  *
  * Batch ENUMERATION is metadata-driven (r2 verdict: the previous
  * `distinct(date_format(ts))` + collect was one complete extra pass
  * over raw just to list days): [[batchLabels]] reads only min(ts) /
  * max(ts) — a column-pruned, shuffle-free aggregate that parquet DSv2
  * answers from footer statistics when
  * `spark.sql.parquet.aggregatePushdown` is on and the frame is
  * scan-adjacent — and enumerates the calendar labels in between.
  * Labels with no data cost one footer-pruned scan in their batch and
  * publish nothing (TierTable.merge skips empty commits).
  *
  * Batch predicates are RANGE predicates on ts ([day, day+1) bounds),
  * not date_format string equality: a range on the raw column pushes
  * into the parquet scan (row-group min/max pruning, partition pruning
  * on a ts-partitioned ingest layout), while a function of ts defeats
  * every pruning path. Each merge commits a snapshot whose partition
  * entries carry lineage runId/day + row/byte metrics, so a crashed
  * run re-executed with the same runId skips every (partition, batch)
  * already committed — the recomputed partials are deterministic, so
  * resume is idempotent.
  */
final class RollupJob(spark: SparkSession, root: String, nBuckets: Int = 16) {

  val tier1m = new TierTable(spark, s"$root/tier_1m", nBuckets)
  val tier1h = new TierTable(spark, s"$root/tier_1h", nBuckets)
  val tier1d = new TierTable(spark, s"$root/tier_1d", nBuckets)

  /** Batch label pattern per granularity. Day batches suit real
    * transcript tables (bounded conversation lifetimes + partition
    * pruning); coarser granularities keep batch counts sane for
    * synthetic corpora whose power-law head conversations span years. */
  private def pattern(unit: String): String = unit match {
    case "day" => "yyyy-MM-dd"
    case "month" => "yyyy-MM"
    case "year" => "yyyy"
    case u => throw new IllegalArgumentException(s"batchUnit $u")
  }

  /** [lo, hi) wall-clock bounds of one batch label. */
  private def bounds(label: String, unit: String): (String, String) = unit match {
    case "day" =>
      (s"$label 00:00:00", s"${LocalDate.parse(label).plusDays(1)} 00:00:00")
    case "month" =>
      (s"$label-01 00:00:00", s"${YearMonth.parse(label).plusMonths(1)}-01 00:00:00")
    case "year" =>
      (s"$label-01-01 00:00:00", s"${label.toInt + 1}-01-01 00:00:00")
    case u => throw new IllegalArgumentException(s"batchUnit $u")
  }

  /** Calendar labels from `lo` to `hi` inclusive. */
  private def enumerate(lo: String, hi: String, unit: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    unit match {
      case "day" =>
        var d = LocalDate.parse(lo)
        val end = LocalDate.parse(hi)
        while (!d.isAfter(end)) { out += d.toString; d = d.plusDays(1) }
      case "month" =>
        var m = YearMonth.parse(lo)
        val end = YearMonth.parse(hi)
        while (!m.isAfter(end)) { out += m.toString; m = m.plusMonths(1) }
      case "year" =>
        (lo.toInt to hi.toInt).foreach(y => out += y.toString)
      case u => throw new IllegalArgumentException(s"batchUnit $u")
    }
    val labels = out.result()
    require(labels.size <= 100000,
      s"${labels.size} $unit batches between $lo and $hi — use a coarser batchUnit")
    labels
  }

  /** Metadata-driven batch enumeration: ONE min/max(ts) aggregate
    * (column-pruned, no shuffle, footer-served under parquet aggregate
    * pushdown) instead of a full distinct scan of raw.
    *
    * Outlier guard: calendar enumeration between min and max is blind
    * to gaps — ONE corrupt row at 1970 (or 2100) would stretch the
    * calendar to tens of thousands of labels, and every empty label
    * still pays a pruned scan plus merge bookkeeping. When the
    * calendar span exceeds `maxCalendarBatches`, fall back to the
    * exact distinct enumeration: one extra column-pruned pass over
    * raw is far cheaper than thousands of no-op batch jobs, and the
    * fallback only triggers on pathological spans. */
  def batchLabels(points: DataFrame, batchUnit: String = "day",
      maxCalendarBatches: Int = 500): Seq[String] = {
    val p = pattern(batchUnit)
    val r = points.agg(
      date_format(min(col("ts")), p).as("lo"),
      date_format(max(col("ts")), p).as("hi")).head()
    if (r.isNullAt(0)) Nil
    else {
      val (lo, hi) = (r.getString(0), r.getString(1))
      val span: Long = batchUnit match {
        case "day" => java.time.temporal.ChronoUnit.DAYS.between(
          LocalDate.parse(lo), LocalDate.parse(hi)) + 1
        case "month" => java.time.temporal.ChronoUnit.MONTHS.between(
          YearMonth.parse(lo).atDay(1), YearMonth.parse(hi).atDay(1)) + 1
        case _ => hi.toInt - lo.toInt + 1
      }
      if (span <= maxCalendarBatches) enumerate(lo, hi, batchUnit)
      else distinctDays(points, batchUnit)
    }
  }

  /** Exact distinct batch labels — a full scan + shuffle; kept for
    * diagnostics and sparse inputs where calendar enumeration would be
    * mostly empty labels. The job itself uses [[batchLabels]]. */
  def distinctDays(points: DataFrame, batchUnit: String = "day"): Seq[String] =
    points.select(date_format(col("ts"), pattern(batchUnit)).as("d"))
      .distinct().orderBy("d").collect().map(_.getString(0)).toSeq

  /** Pushdown-friendly batch slice: ts ∈ [lo, hi) as a range predicate
    * on the raw column (cast to the column's own timestamp flavor). */
  private def batchSlice(points: DataFrame, label: String, unit: String): DataFrame = {
    val (lo, hi) = bounds(label, unit)
    val tsType = points.schema("ts").dataType
    points.where(col("ts") >= lit(lo).cast(tsType) && col("ts") < lit(hi).cast(tsType))
  }

  /** Run (or resume) the cascade over `points` for all its batches.
    * `sketched = true` carries a KLL percentile-sketch column through
    * every tier alongside the exact stats. */
  def run(points: DataFrame, runId: String, sketched: Boolean = false,
      batchUnit: String = "day"): Unit =
    runBatches(points, runId, batchLabels(points, batchUnit), batchUnit, sketched)

  /** Run only the first `maxBatches` batches (crash-simulation /
    * incremental arrival). */
  def runPartial(points: DataFrame, runId: String, maxBatches: Int,
      batchUnit: String = "day"): Unit =
    runBatches(points, runId, batchLabels(points, batchUnit).take(maxBatches),
      batchUnit, sketched = false)

  /** Per-tier retention policy, finest-keeps-least: drop 1m
    * partitions older than `keep1mDays`, 1h older than `keep1hDays`;
    * the 1d tier is kept forever (pass a cutoff of your own via
    * `tier1d.dropPartitionsBefore` if needed). `asOfDay` is the
    * policy's "today" (yyyy-MM-dd). Metadata-only; compose with
    * [[expireAll]] to reclaim the dropped files. Returns dropped
    * partition counts per tier. */
  def applyRetention(asOfDay: String, keep1mDays: Int, keep1hDays: Int): (Int, Int) = {
    val asOf = LocalDate.parse(asOfDay)
    (tier1m.dropPartitionsBefore(asOf.minusDays(keep1mDays).toString),
      tier1h.dropPartitionsBefore(asOf.minusDays(keep1hDays).toString))
  }

  /** Expire superseded snapshots on every tier (storage maintenance —
    * run periodically, not per batch). */
  def expireAll(keepLast: Int = 2): Unit =
    Seq(tier1m, tier1h, tier1d).foreach(_.expireSnapshots(keepLast))

  private def runBatches(points: DataFrame, runId: String, labels: Seq[String],
      batchUnit: String, sketched: Boolean): Unit =
    labels.foreach { label =>
      mergeBatch(batchSlice(points, label, batchUnit), s"$runId/$label", sketched)
    }

  /** MERGE one batch of raw points into all three tiers under
    * `lineage`: the 1m partials are persisted before the 1m merge
    * materializes them, and the 1h partials before the 1h merge, so the
    * batch is read once and each coarser tier cascades from the cached
    * finer one. */
  def mergeBatch(points: DataFrame, lineage: String, sketched: Boolean = false): Unit = {
    val m1 = Rollup.rollupRaw(points, "minute", sketched)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      tier1m.merge(m1, lineage) // materializes m1 (one raw scan)
      val h1 = Rollup.cascade(m1, "hour").persist(StorageLevel.MEMORY_AND_DISK)
      try {
        tier1h.merge(h1, lineage)
        tier1d.merge(Rollup.cascade(h1, "day"), lineage)
      } finally h1.unpersist(false)
    } finally m1.unpersist(false)
  }
}
