package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.{Oracle, Tables}

/** Fluent user surface — the thunder `Series` method-chaining API
  * (thunder/series/series.py) re-expressed over the tall Spark form.
  * A thunder user writes
  * `series.center().detrend().downsample(4).toarray()`;
  * here the same chain is
  * `Series(points).center().detrend().downsample(4).df`.
  * Every method delegates to the operator modules (lazy, Catalyst-
  * visible); nothing executes until an action on `.df`.
  */
final case class Series(df: DataFrame) {

  private def wrap(f: DataFrame => DataFrame): Series = Series(f(df))

  // selection / element-wise (§2.2)
  def between(lo: String, hi: String): Series = wrap(SeriesOps.between(_, lo, hi))
  def select(pred: Column): Series = wrap(_.where(pred))
  def filter(pred: Column): Series = select(pred)
  def clip(lo: Double, hi: Double): Series = wrap(SeriesOps.clip(_, lo, hi))
  def squelch(threshold: Double): Series = wrap(SeriesOps.squelch(_, threshold))
  def subsample(k: Int): Series = wrap(SeriesOps.subsample(_, k))
  def sample(fraction: Double, seed: Long = 42L): Series =
    wrap(SeriesAlgebra.sample(_, fraction, seed))
  def sampleDeterministic(num: Int, den: Int = 16): Series =
    wrap(SeriesAlgebra.sampleDeterministic(_, num, den))
  def astype(to: String): Series = wrap(SeriesAlgebra.astype(_, to))
  def map(f: Column => Column): Series = wrap(_.withColumn("v", f(col("v"))))

  // binary element-wise (§2.6 / element_wise)
  def plus(other: Series): Series = Series(SeriesAlgebra.plus(df, other.df))
  def minus(other: Series): Series = Series(SeriesAlgebra.minus(df, other.df))
  def dottimes(other: Series): Series = Series(SeriesAlgebra.dottimes(df, other.df))
  def dotdivide(other: Series): Series = Series(SeriesAlgebra.dotdivide(df, other.df))

  // per-key transforms (§2.4)
  def center(): Series = wrap(SeriesOps.center)
  def standardize(): Series = wrap(SeriesOps.standardize)
  def zscore(): Series = wrap(SeriesOps.zscore)
  def detrend(): Series = wrap(SeriesOps.detrendLinear(_).select("key", "ts", "v"))
  /** thunder detrend(method='nonlinear', order): 1 = linear, 2 = quadratic. */
  def detrend(order: Int): Series = order match {
    case 1 => detrend()
    case 2 => wrap(SeriesOps.detrendPoly2(_).select("key", "ts", "v"))
    case o => throw new IllegalArgumentException(s"detrend order $o (1 or 2)")
  }
  def normalize(perc: Double = 20, offset: Double = 0.1): Series =
    wrap(SeriesOps.normalizePercentile(_, perc, offset))
  /** thunder normalize(method='window'/'window-exact'). */
  def normalizeWindow(half: Int, perc: Double = 20, offset: Double = 0.1): Series =
    wrap(SeriesOps.normalizeWindow(_, half, perc, offset))
  def downsample(k: Int): Series = Series(SeriesOps.downsample(df, k))
  def meanByPanel(length: Int): Series = Series(SeriesOps.meanByPanel(df, length))
  def convolve(kernel: Seq[Double]): Series = wrap(SeriesOps.convolveSame(_, kernel))
  def rolling(half: Int): DataFrame = SeriesOps.rollingStats(df, half)

  // aggregations (§2.3)
  def seriesStats(unit: String = "minute"): DataFrame =
    Rollup.present(Rollup.rollupRaw(df, unit))
  def seriesPercentile(q: Double): DataFrame = SeriesOps.seriesPercentile(df, q)
  def fourier(k: Int): DataFrame = SeriesOps.dftBin(df, k)
  def fourierBins(kMax: Int): DataFrame = SeriesOps.dftBins(df, kMax)
  def correlateWithTime(baseEpochSec: Long): DataFrame =
    SeriesOps.correlateWithTime(df, baseEpochSec)
  def crosscorr(maxLag: Int): DataFrame = SeriesOps.crosscorr(df, maxLag)
  /** thunder's general crosscorr(signal, lag); lag 0 row = correlate(signal). */
  def crosscorr(signal: DataFrame, maxLag: Int): DataFrame =
    SeriesOps.crosscorrSignal(df, signal, maxLag)
  def autocorr(lag: Int): DataFrame = SeriesOps.autocorr(df, lag)
  def statsAcross(unit: String): DataFrame = SeriesOps.statsAcrossKeys(df, unit)
  def distinctKeys(unit: String): DataFrame = SeriesOps.distinctKeys(df, unit)
  def approxDistinctKeys(unit: String, rsd: Double = 0.02): DataFrame =
    SeriesOps.approxDistinctKeys(df, unit, rsd)
  def meanByWindow(centers: DataFrame, half: Int): DataFrame =
    SeriesOps.meanByWindow(df, centers, half)
  def meanByIndex(unit: String): DataFrame = SeriesOps.meanAcrossKeys(df, unit)
  def aggregateByIndex(label: Column, agg: Column): DataFrame =
    SeriesAlgebra.aggregateByIndex(df, label, agg)

  // gap-fill / retention (the engine's additions)
  def locf(unit: String, step: String): DataFrame = GapFill.locf(df, unit, step)
  def interpolate(unit: String, step: String): DataFrame =
    GapFill.interpolate(df, unit, step)
  def rollup(unit: String): DataFrame = Rollup.rollupRaw(df, unit)
  def rollupSketched(unit: String): DataFrame = Rollup.rollupRaw(df, unit, sketched = true)
  def toSegments(unit: String = "day"): DataFrame = Segments.toSegments(df, unit)
  def ewma(k: Int, alpha: Double = 0.5): DataFrame =
    SeriesOps.ewma(df, k, alpha)
  def sessionize(gapSeconds: Long): DataFrame = SeriesOps.sessionize(df, gapSeconds)
  def sessions(gapSeconds: Long): DataFrame = SeriesOps.sessions(df, gapSeconds)
  def asof(right: DataFrame, rightVals: Seq[String],
      direction: String = "backward", strict: Boolean = false,
      toleranceUs: Option[Long] = None): DataFrame =
    SeriesAlgebra.asofJoin(df, right, rightVals, direction, strict, toleranceUs)
  def asofNearest(right: DataFrame, rightVals: Seq[String],
      toleranceUs: Option[Long] = None): DataFrame =
    SeriesAlgebra.asofNearest(df, right, rightVals, toleranceUs)

  // actions (thunder Data surface)
  def count(): Long = df.count()
  def first(): org.apache.spark.sql.Row = df.head()
  def cache(): Series = { df.cache(); this }
  def repartition(n: Int): Series = Series(df.repartition(n, col("key")))
  def toarray(): Array[(String, java.sql.Timestamp, Double)] = {
    import df.sparkSession.implicits._
    df.select("key", "ts", "v").as[(String, java.sql.Timestamp, Double)].collect()
  }
}

object Series {
  /** thunder series.fromlist/fromarray: local values → Series. */
  def fromSeq(spark: SparkSession, rows: Seq[(String, java.sql.Timestamp, Double)]): Series = {
    import spark.implicits._
    Series(rows.toDF("key", "ts", "v"))
  }

  /** thunder series.frombinary analogue: compressed segments → Series. */
  def fromSegments(segments: DataFrame): Series =
    Series(Segments.fromSegments(segments))

  /** events table → Series keyed by user. */
  def fromEvents(spark: SparkSession, sfDir: String): Series =
    Series(Signals.fromEvents(Tables.events(spark, sfDir)))

  /** transcripts → per-turn latency Series (the engine's headline). */
  def fromTranscripts(transcripts: DataFrame): Series =
    Series(Signals.latencyPoints(transcripts))

  /** thunder series.fromrandom: seeded synthetic Series. */
  def fromRandom(spark: SparkSession, nTurns: Long, nConvs: Long, seed: Int = 42): Series =
    fromTranscripts(graft.synth.TranscriptGen.turns(spark, nTurns, nConvs, seed = seed))
}
