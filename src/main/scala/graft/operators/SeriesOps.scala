package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Thunder Series-parity operators over the canonical tall form
  * `(key, ts, v)` (SURVEY.md §2.2–§2.4). Each cites its reference
  * semantics source; all are expression-only (whole-stage codegen,
  * no UDFs), and every aggregate that feeds a cross-engine comparison
  * is built from exact decimal sums so the result is independent of
  * shuffle/merge order (see Rollup scaladoc for the technique).
  *
  * Positional ops (`pos`) index each key's observations 0..n−1 in
  * `ts` order — thunder's implicit dense index
  * (thunder/series/series.py :: Series.index).
  */
object SeriesOps {

  private def wKey = Window.partitionBy(col("key"))
  private def wKeyOrd = Window.partitionBy(col("key")).orderBy(col("ts"))

  /** Attach the 0-based positional index (deterministic: `ts` is
    * unique per key in our sources; callers with ties must pre-add a
    * tiebreaker column to the sort). */
  def withPos(points: DataFrame): DataFrame =
    points.withColumn("pos", (row_number().over(wKeyOrd) - 1).cast("long"))

  // ---- §2.2 element-wise / selection --------------------------------

  /** Series.between (thunder/series/series.py :: Series.between):
    * inclusive ts-range restriction — predicate pushes to the scan. */
  def between(points: DataFrame, lo: String, hi: String): DataFrame =
    points.where(col("ts") >= lit(lo).cast("timestamp") &&
      col("ts") <= lit(hi).cast("timestamp"))

  /** Data.clip (thunder/base.py :: Data.clip). */
  def clip(points: DataFrame, lo: Double, hi: Double): DataFrame =
    points.withColumn("v", greatest(least(col("v"), lit(hi)), lit(lo)))

  /** Series.squelch (thunder/series/series.py :: Series.squelch):
    * zero every value of a key whose max < threshold. One window max,
    * no extra shuffle beyond the key partition. */
  def squelch(points: DataFrame, threshold: Double): DataFrame =
    points.withColumn("v",
      when(max(col("v")).over(wKey) < threshold, lit(0.0)).otherwise(col("v")))

  /** Series.subsample (:: Series.subsample): every k-th observation. */
  def subsample(points: DataFrame, k: Int): DataFrame =
    withPos(points).where(col("pos") % k === 0)

  // ---- §2.4 per-key transforms --------------------------------------

  /** Series.center / standardize / zscore (ddof=0). `mean` and `std`
    * come from the key's exact decimal sums so every engine agrees. */
  private def keyStats(points: DataFrame): DataFrame = {
    val mean = col("sum_d").cast("double") / col("cnt")
    // min_v/max_v are pruned by the optimizer: nothing reads them
    Rollup.partial(points.groupBy(col("key")))
      .select(col("key"), col("cnt").as("n"),
        mean.as("k_mean"),
        sqrt(greatest(col("sumsq_d").cast("double") / col("cnt") - mean * mean,
          lit(0.0))).as("k_std"))
  }

  def center(points: DataFrame): DataFrame =
    points.join(keyStats(points).select("key", "k_mean"), Seq("key"))
      .withColumn("v", col("v") - col("k_mean")).drop("k_mean")

  def standardize(points: DataFrame): DataFrame =
    points.join(keyStats(points).select("key", "k_std"), Seq("key"))
      .withColumn("v", col("v") / col("k_std")).drop("k_std")

  def zscore(points: DataFrame): DataFrame =
    points.join(keyStats(points).select("key", "k_mean", "k_std"), Seq("key"))
      .withColumn("v", (col("v") - col("k_mean")) / col("k_std"))
      .drop("k_mean", "k_std")

  /** Series.downsample(k) (:: Series.downsample): mean over
    * non-overlapping positional bins of k. Bins with fewer than k
    * points (the ragged tail) are kept — the caller can filter
    * `bin_n < k` for thunder's strict divisibility behavior. */
  def downsample(points: DataFrame, k: Int): DataFrame = {
    val vd = col("v").cast("decimal(18,6)")
    withPos(points)
      .groupBy(col("key"), floor(col("pos") / k).as("bin"))
      .agg(count(lit(1)).as("bin_n"),
        (sum(vd).cast("double") / count(lit(1))).as("v"))
  }

  /** Series.mean_by_panel(length) (:: Series.mean_by_panel): cyclic
    * average — group positions by pos % length. */
  def meanByPanel(points: DataFrame, length: Int): DataFrame = {
    val vd = col("v").cast("decimal(18,6)")
    withPos(points)
      .groupBy(col("key"), (col("pos") % length).as("phase"))
      .agg(count(lit(1)).as("n"),
        (sum(vd).cast("double") / count(lit(1))).as("v"))
  }

  /** Series.detrend('linear') (:: Series.detrend): OLS fit of v on
    * position, subtract fit, add back the mean. Closed form from
    * exact sums (Σv, Σiv, Σi, Σi² are all exactly-represented), so
    * the residuals are bit-deterministic. */
  def detrendLinear(points: DataFrame): DataFrame = {
    val p = withPos(points)
    val vd = col("v").cast("decimal(18,6)")
    val iv = (col("pos") * col("v")) // pos small, v 6-frac → exact double
    val agg = p.groupBy(col("key")).agg(
      count(lit(1)).cast("double").as("n"),
      sum(vd).cast("double").as("sv"),
      sum(iv.cast("decimal(27,6)")).cast("double").as("siv"),
      sum(col("pos")).cast("double").as("si"),
      sum(col("pos") * col("pos")).cast("double").as("sii"))
    val b = (col("siv") - col("si") * col("sv") / col("n")) /
      (col("sii") - col("si") * col("si") / col("n"))
    val a = col("sv") / col("n") - b * (col("si") / col("n"))
    p.join(agg, Seq("key"))
      .withColumn("v",
        col("v") - (a + b * col("pos")) + col("sv") / col("n"))
      .select("key", "ts", "pos", "v")
  }

  /** Series.normalize('percentile', perc, offset)
    * (:: Series.normalize): baseline b = per-key percentile,
    * result (x − b) / (b + offset). Exact percentile (numpy linear
    * interpolation — Spark's `percentile`). */
  def normalizePercentile(points: DataFrame, perc: Double = 20,
      offset: Double = 0.1): DataFrame =
    points
      .withColumn("base", expr(s"percentile(v, ${perc / 100.0})").over(wKey))
      .withColumn("v", (col("v") - col("base")) / (col("base") + lit(offset)))
      .drop("base")

  /** Exact per-key percentile (Series.series_percentile). */
  def seriesPercentile(points: DataFrame, q: Double): DataFrame =
    points.groupBy(col("key"))
      .agg(expr(s"percentile(v, $q)").as("pct"))

  /** Series.normalize('window'/'window-exact', window, perc, offset)
    * (:: Series.normalize): baseline b = percentile over a CENTERED
    * sliding window of 2·half+1 observations, result (x − b)/(b +
    * offset) — the df/f workhorse with a drifting baseline. Thunder
    * distinguishes a fast approximate 'window' mode from
    * 'window-exact'; here the exact percentile is a single window
    * aggregate, so both modes land on the exact form. One window pass
    * per key — no extra shuffle beyond the key partition. */
  def normalizeWindow(points: DataFrame, half: Int, perc: Double = 20,
      offset: Double = 0.1): DataFrame =
    points
      .withColumn("base",
        expr(s"percentile(v, ${perc / 100.0})")
          .over(wKeyOrd.rowsBetween(-half, half)))
      .withColumn("v", (col("v") - col("base")) / (col("base") + lit(offset)))
      .drop("base")

  /** Series.detrend(method='nonlinear', order=2) (:: Series.detrend):
    * quadratic OLS fit v ~ a + b·i + c·i², residuals plus the mean.
    * Closed form by Cramer's rule on the 3×3 normal equations, built
    * from exact sums; the solve is then fixed-order scalar IEEE →
    * bit-deterministic.
    *
    * Overflow discipline (r2 advice): every positional moment is
    * accumulated in DECIMAL, never LongType — a Long Σi⁴ silently
    * wraps (non-ANSI) once a per-key series passes ~9k points. The
    * per-element products stay exact: i² fits a long through i ≈ 3e9
    * and is cast to decimal(19,0) before any further multiply; i·v
    * and i²·v quantize v to decimal(18,6) FIRST and multiply in
    * decimal (exact), instead of a double multiply whose re-
    * quantization is engine-dependent past ~2e9. Exact-decimal range:
    * per-key length up to ~10^7 (Σi⁴ < 10^38); past 2^53 the final
    * decimal→double presentation may differ from other engines by an
    * ulp (per-key n ≲ 8k for bit-exact cross-engine moments — always
    * true of the oracle corpora). Beyond the decimal range the sums
    * overflow LOUDLY (null/error), never a silent wrap. */
  def detrendPoly2(points: DataFrame): DataFrame = {
    val p = withPos(points)
    val vd = col("v").cast("decimal(18,6)")
    val i = col("pos")
    val i1d = i.cast("decimal(10,0)")
    val i2d = (i * i).cast("decimal(19,0)") // exact: i² ≤ 9.2e18 for i ≤ 3e9
    val agg = p.groupBy(col("key")).agg(
      count(lit(1)).cast("double").as("n"),
      sum(i1d).cast("double").as("s1"),
      sum(i2d).cast("double").as("s2"),
      sum(i2d * i1d).cast("double").as("s3"),
      sum(i2d * i2d).cast("double").as("s4"),
      sum(vd).cast("double").as("t0"),
      sum(i.cast("decimal(19,0)") * vd).cast("double").as("t1"),
      sum(i2d * vd).cast("double").as("t2"))
    val det = col("n") * (col("s2") * col("s4") - col("s3") * col("s3")) -
      col("s1") * (col("s1") * col("s4") - col("s3") * col("s2")) +
      col("s2") * (col("s1") * col("s3") - col("s2") * col("s2"))
    val da = col("t0") * (col("s2") * col("s4") - col("s3") * col("s3")) -
      col("t1") * (col("s1") * col("s4") - col("s2") * col("s3")) +
      col("t2") * (col("s1") * col("s3") - col("s2") * col("s2"))
    val db = -col("t0") * (col("s1") * col("s4") - col("s3") * col("s2")) +
      col("t1") * (col("n") * col("s4") - col("s2") * col("s2")) -
      col("t2") * (col("n") * col("s3") - col("s2") * col("s1"))
    val dc = col("t0") * (col("s1") * col("s3") - col("s2") * col("s2")) -
      col("t1") * (col("n") * col("s3") - col("s1") * col("s2")) +
      col("t2") * (col("n") * col("s2") - col("s1") * col("s1"))
    val (a, b, c) = (da / det, db / det, dc / det)
    p.join(agg, Seq("key"))
      .withColumn("v",
        col("v") - (a + b * col("pos") + c * (col("pos") * col("pos"))) +
          col("t0") / col("n"))
      .select("key", "ts", "pos", "v")
  }

  /** Series.correlate(signal) (:: Series.correlate): Pearson r of
    * each key's series against a common reference signal supplied as
    * a column expression of (ts, pos). Closed form from exact sums —
    * here specialized to the elapsed-time signal t' = kiloseconds
    * since `base`, whose products with 6-frac values stay exactly
    * representable (bit-deterministic across engines). */
  def correlateWithTime(points: DataFrame, baseEpochSec: Long): DataFrame = {
    // elapsed kiloseconds at second resolution: a 3-frac-decimal
    // quantity, so v·t products keep ≤5 fractional digits and their
    // sums stay exactly double-representable (engine-portable)
    val baseUs = baseEpochSec * 1000000L
    val tks = expr(s"(unix_micros(cast(ts as timestamp)) - ${baseUs}L) div 1000000")
      .cast("double") / 1000.0
    val vd = col("v").cast("decimal(18,6)")
    val td = tks.cast("decimal(18,6)")
    points
      .withColumn("t", tks)
      .groupBy(col("key"))
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(vd).cast("double").as("sv"),
        sum(td).cast("double").as("st"),
        sum(vd * td).cast("decimal(38,6)").cast("double").as("svt"),
        sum(vd * vd).cast("decimal(38,6)").cast("double").as("svv"),
        sum(td * td).cast("decimal(38,6)").cast("double").as("stt"))
      .select(col("key"),
        ((col("svt") - col("sv") * col("st") / col("n")) /
          (sqrt(col("svv") - col("sv") * col("sv") / col("n")) *
            sqrt(col("stt") - col("st") * col("st") / col("n")))).as("r"))
  }

  /** Series.crosscorr(lag) (:: Series.crosscorr): Pearson r between
    * the series and itself shifted by `lagN` positions (autocorr form;
    * thunder's general form correlates against a broadcast signal —
    * same machinery with a join). */
  def autocorr(points: DataFrame, lagN: Int): DataFrame = {
    val p = withPos(points)
    val shifted = lead(col("v"), lagN).over(wKeyOrd)
    val pairs = p.withColumn("v2", shifted).where(col("v2").isNotNull)
    val a = col("v").cast("decimal(18,6)")
    val b = col("v2").cast("decimal(18,6)")
    pairs.groupBy(col("key")).agg(
        count(lit(1)).cast("double").as("n"),
        sum(a).cast("double").as("sa"),
        sum(b).cast("double").as("sb"),
        // product sums rescale to scale 6 before the double cast,
        // mirroring the oracle SQL exactly (2^53 wide-decimal hazard)
        sum(a * b).cast("decimal(38,6)").cast("double").as("sab"),
        sum(a * a).cast("decimal(38,6)").cast("double").as("saa"),
        sum(b * b).cast("decimal(38,6)").cast("double").as("sbb"))
      .select(col("key"),
        ((col("sab") - col("sa") * col("sb") / col("n")) /
          (sqrt(col("saa") - col("sa") * col("sa") / col("n")) *
            sqrt(col("sbb") - col("sb") * col("sb") / col("n")))).as("r"))
  }

  /** Series.convolve(signal) (:: Series.convolve), 'same' mode with a
    * small symmetric kernel: fixed-order weighted sum over a row
    * window — deterministic (no reduction reorder possible). */
  def convolveSame(points: DataFrame, kernel: Seq[Double]): DataFrame = {
    require(kernel.length % 2 == 1, "odd kernel for 'same' mode")
    val h = kernel.length / 2
    val terms = kernel.zipWithIndex.map { case (wgt, i) =>
      val off = i - h
      val c =
        if (off < 0) lag(col("v"), -off).over(wKeyOrd)
        else if (off > 0) lead(col("v"), off).over(wKeyOrd)
        else col("v")
      coalesce(c, lit(0.0)) * lit(wgt) // zero-padded boundary
    }
    points.withColumn("v", terms.reduceLeft(_ + _))
  }

  /** Series.fourier(freq) (:: Series.fourier): single-bin DFT via two
    * closed-form dot products with cos/sin — cheap and exact enough;
    * returns (re, im, coherence-normalizing amplitude terms are left
    * to the caller). Results rounded to 6 digits when used in the
    * cross-engine oracle (libm cos/sin may differ by 1 ulp). */
  def dftBin(points: DataFrame, k: Int): DataFrame = {
    val p = withPos(points)
    val n = count(lit(1)).over(wKey)
    val ang = lit(-2.0) * lit(math.Pi) * lit(k) * col("pos") / n
    p.withColumn("re_t", col("v") * cos(ang))
      .withColumn("im_t", col("v") * sin(ang))
      .groupBy(col("key"))
      .agg(sum(col("re_t")).as("re"), sum(col("im_t")).as("im"))
  }

  /** Multi-bin DFT (Series.fourier across a frequency range): bins
    * k = 1..kMax in ONE pass — the k dimension is an explode over the
    * same positional projection, one aggregate for every (key, k).
    * An O(n·K) closed form, not an FFT: thunder's fourier evaluates
    * one frequency per call, and for the low-frequency spectra these
    * pipelines inspect (K ≪ n) the explode shape beats shipping each
    * key's full series into a local FFT (which would force a
    * collect-per-key corner turn). Outputs rounded when oracle-checked
    * (libm cos/sin + float-sum order differ at the last ulp). */
  def dftBins(points: DataFrame, kMax: Int): DataFrame = {
    val p = withPos(points).withColumn("n", count(lit(1)).over(wKey))
    val ang = lit(-2.0) * lit(math.Pi) * col("k") * col("pos") / col("n")
    p.select(col("key"), col("v"), col("pos"), col("n"),
        explode(sequence(lit(1), lit(kMax))).as("k"))
      .withColumn("re_t", col("v") * cos(ang))
      .withColumn("im_t", col("v") * sin(ang))
      .groupBy(col("key"), col("k"))
      .agg(sum(col("re_t")).as("re"), sum(col("im_t")).as("im"))
  }

  /** Series.fourier, full spectrum (:: Series.fourier generalized
    * from one bin to all k = 0..n−1): per-key O(n log n) FFT over the
    * wide form. The series corner-turns into one array per key
    * (collect_list + sort — the Blocks wide-form shape, one shuffle
    * on key), then [[graft.functions.FftExpressions.fft_coeffs]] runs
    * once per key and the spectrum explodes back to tall (key, k, re,
    * im) rows. Complements [[dftBins]]: dftBins wins when K ≪ n (no
    * corner-turn, one scan); the FFT wins when the full spectrum is
    * wanted (K ~ n), where the explode shape would cost O(n·K) = O(n²)
    * work per key. Spectrum values carry FFT-vs-naive rounding at the
    * eps·log n level → oracle comparisons use round(…, 6) on a
    * zscored (O(1)-magnitude, bit-portable) input, the same libm
    * discipline as dftBin. */
  def fftSpectrum(points: DataFrame): DataFrame = {
    val wide = withPos(points)
      .groupBy(col("key"))
      .agg(array_sort(collect_list(struct(col("pos"), col("v")))).as("sv"))
      .select(col("key"), expr("transform(sv, s -> s.v)").as("vs"))
    wide
      .select(col("key"),
        posexplode(graft.functions.FftExpressions.fft_coeffs(col("vs"))))
      .select(col("key"), col("pos").cast("int").as("k"),
        col("col.re").as("re"), col("col.im").as("im"))
  }

  /** Sliding-window statistics over time order — the 1-D analogues of
    * thunder's uniform_filter / median_filter
    * (thunder/images/images.py :: Images.uniform_filter,
    * :: Images.median_filter — SURVEY.md §2.5 "windowed statistics").
    * Rolling mean uses an exact decimal window sum (order-independent
    * → engine-portable); rolling median is numpy-style interpolated
    * percentile over the row frame. */
  def rollingStats(points: DataFrame, half: Int): DataFrame = {
    val w = wKeyOrd.rowsBetween(-half, half)
    val vd = col("v").cast("decimal(18,6)")
    points
      .withColumn("roll_n", count(lit(1)).over(w))
      .withColumn("roll_mean",
        sum(vd).over(w).cast("double") / col("roll_n"))
      .withColumn("roll_median", expr("percentile(v, 0.5)").over(w))
      .withColumn("roll_min", min(col("v")).over(w))
      .withColumn("roll_max", max(col("v")).over(w))
  }

  /** Gap-based sessionization: a new session starts whenever the gap
    * to the key's previous observation exceeds `gapSeconds` (or at the
    * key's first row). `session_seq` is the 0-based per-key session
    * index — the cumulative count of session starts, all inside the
    * same (key, ts) window sort the other series ops share (one
    * shuffle; zero over the bucketed layout). µs-precision gap math
    * (the ms-truncation trap does not apply: unix_micros is exact). */
  def sessionize(points: DataFrame, gapSeconds: Long): DataFrame = {
    val us = unix_micros(col("ts").cast("timestamp"))
    val prevUs = lag(us, 1).over(wKeyOrd)
    points
      .withColumn("__start",
        when(prevUs.isNull || us - prevUs > gapSeconds * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_seq",
        sum(col("__start")).over(
          wKeyOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1)
      .drop("__start")
  }

  /** Per-session summary over [[sessionize]]: row count, bounds and
    * exact-decimal value sum per (key, session). */
  def sessions(points: DataFrame, gapSeconds: Long): DataFrame =
    sessionize(points, gapSeconds)
      .groupBy(col("key"), col("session_seq"))
      .agg(count(lit(1)).as("n_points"),
        min(col("ts")).as("t_start"), max(col("ts")).as("t_end"),
        sum(col("v").cast("decimal(18,6)")).cast("double").as("sum_v"))

  /** Truncated exponentially-weighted moving average over each key's
    * time order: ewma_t = Σ_{i<k} αⁱ·v_{t−i} / Σ_{i<k, t−i exists} αⁱ
    * (the standard adjusted-EWMA numerator/denominator, truncated to a
    * k-row history so the recursion becomes a fixed window expression).
    * All k `lag(v, i)` terms share ONE window spec — one sort, one
    * pass, zero shuffle over the bucketed ingest layout (same shape as
    * the latency window). α defaults to 0.5 so every weight αⁱ is an
    * exact binary fraction: the term products and the left-to-right
    * sums are then plain IEEE double ops an external engine replays
    * bit-for-bit (the oracle embeds the same literals, same order). */
  def ewma(points: DataFrame, k: Int, alpha: Double = 0.5): DataFrame = {
    require(k >= 1, "ewma needs at least one term")
    val vd = col("v").cast("double")
    val terms = (0 until k).map { i =>
      coalesce(lag(vd, i).over(wKeyOrd) * lit(math.pow(alpha, i)), lit(0.0))
    }
    val weights = (0 until k).map { i =>
      coalesce(when(lag(vd, i).over(wKeyOrd).isNotNull,
        lit(math.pow(alpha, i))), lit(0.0))
    }
    points.select(col("key"), col("ts"),
      (terms.reduce(_ + _) / weights.reduce(_ + _)).as("ewma"))
  }

  /** Series.crosscorr(signal, lag) (:: Series.crosscorr) in
    * autocorrelation form for every shift 1..maxLag: Pearson r between
    * the series and itself shifted by `lag` positions, closed-form
    * from exact sums. Output (key, lag, r).
    *
    * Single-pass: all `lead(v, l)` shifts share ONE window spec (one
    * sort, one pass), the lag dimension is an explode, and one
    * aggregate produces every per-(key, lag) sum — the previous
    * union-of-aggregates shape rescanned the input maxLag times,
    * which at 100× scale is maxLag wasted full scans. */
  def crosscorr(points: DataFrame, maxLag: Int): DataFrame = {
    // stage 1: every lead in ONE window projection (same spec → one
    // sort, one pass); stage 2: explode the lag dimension (window
    // expressions can't live inside a generator's input)
    val withLeads = points.select(
      col("key") +: col("v") +: (1 to maxLag).map(l =>
        lead(col("v"), l).over(wKeyOrd).as(s"v2_$l")): _*)
    val lagCols = array((1 to maxLag).map(l =>
      struct(lit(l).as("lag"), col(s"v2_$l").as("v2"))): _*)
    val a = col("v").cast("decimal(18,6)")
    val b = col("v2").cast("decimal(18,6)")
    withLeads
      .select(col("key"), col("v"), explode(lagCols).as("lv"))
      .select(col("key"), col("lv.lag").as("lag"), col("v"), col("lv.v2").as("v2"))
      .where(col("v2").isNotNull)
      .groupBy(col("key"), col("lag"))
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(a).cast("double").as("sa"),
        sum(b).cast("double").as("sb"),
        sum(a * b).cast("decimal(38,6)").cast("double").as("sab"),
        sum(a * a).cast("decimal(38,6)").cast("double").as("saa"),
        sum(b * b).cast("decimal(38,6)").cast("double").as("sbb"))
      .select(col("key"), col("lag"),
        ((col("sab") - col("sa") * col("sb") / col("n")) /
          (sqrt(col("saa") - col("sa") * col("sa") / col("n")) *
            sqrt(col("sbb") - col("sb") * col("sb") / col("n")))).as("r"))
  }

  /** Series.correlate(signal) / Series.crosscorr(signal, lag) —
    * thunder's GENERAL form: Pearson r between each key's series and
    * an external common signal indexed by position, at every shift in
    * [−maxLag, maxLag] (r at lag l pairs v[pos] with sig[pos+l]).
    * The signal arrives as a (small) DataFrame(pos, sig), is exploded
    * per lag and broadcast — the big side joins on pos without
    * shuffling. Closed form from exact decimal sums; product sums are
    * rescaled to scale 6 before the double cast on BOTH engines (the
    * 2^53 wide-decimal hazard), so r is bit-deterministic. Signal
    * values must be 6-frac-decimal representable (true for any column
    * read from the quantized sources). */
  def crosscorrSignal(points: DataFrame, signal: DataFrame, maxLag: Int): DataFrame = {
    val p = withPos(points)
    val lagList = array((-maxLag to maxLag).map(lit): _*)
    val sigL = signal
      .select(explode(lagList).as("lag"), col("pos"), col("sig"))
      .select(col("lag"), (col("pos") - col("lag")).as("pos"), col("sig"))
    val a = col("v").cast("decimal(18,6)")
    val s = col("sig").cast("decimal(18,6)")
    def wide(c: Column) = sum(c).cast("decimal(38,6)").cast("double")
    p.join(broadcast(sigL), Seq("pos"))
      .groupBy(col("key"), col("lag"))
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(a).cast("double").as("sa"),
        sum(s).cast("double").as("sb"),
        wide(a * s).as("sab"),
        wide(a * a).as("saa"),
        wide(s * s).as("sbb"))
      .select(col("key"), col("lag"),
        ((col("sab") - col("sa") * col("sb") / col("n")) /
          (sqrt(col("saa") - col("sa") * col("sa") / col("n")) *
            sqrt(col("sbb") - col("sb") * col("sb") / col("n")))).as("r"))
  }

  /** Series.mean_by_window(indices, window)
    * (:: Series.mean_by_window): for each given center position,
    * average the values at center+offset for offset ∈ [−half, half]
    * across all centers → event-triggered average. Centers arrive as
    * a (small) DataFrame with one `center` column and are broadcast —
    * the range join never shuffles the big side. */
  def meanByWindow(points: DataFrame, centers: DataFrame, half: Int): DataFrame = {
    val p = withPos(points)
    val vd = col("v").cast("decimal(18,6)")
    p.join(broadcast(centers),
        col("pos") >= col("center") - half && col("pos") <= col("center") + half)
      .groupBy(col("key"), (col("pos") - col("center")).as("offset"))
      .agg(count(lit(1)).as("n"),
        (sum(vd).cast("double") / count(lit(1))).as("v"))
  }

  /** Series.mean_by_window with PER-RECORD indices — thunder's actual
    * form (`indices` belong to each record): centers arrive as a
    * (key, center) DataFrame, the join is an equi-join on key plus
    * the positional range predicate, and offsets aggregate per key.
    * The center table is small (a handful of event positions per
    * key) so AQE broadcasts it; the big side joins on its existing
    * key partitioning — no embedding-style payload ever moves. */
  def meanByWindowPerKey(points: DataFrame, centers: DataFrame, half: Int): DataFrame = {
    val p = withPos(points)
    p.join(centers, Seq("key"))
      .where(col("pos") >= col("center") - half && col("pos") <= col("center") + half)
      .groupBy(col("key"), (col("pos") - col("center")).as("offset"))
      .agg(count(lit(1)).as("n"),
        (sum(col("v").cast("decimal(18,6)")).cast("double") / count(lit(1))).as("v"))
  }

  /** Per-key event centers for [[meanByWindowPerKey]]: the position of
    * each key's maximum value (earliest on ties) — the "average the
    * neighborhood around each series' peak" trigger, deterministic and
    * SQL-replayable. */
  def peakCenters(points: DataFrame): DataFrame = {
    val p = withPos(points)
    p.withColumn("mx", max(col("v")).over(wKey))
      .where(col("v") === col("mx"))
      .groupBy(col("key")).agg(min(col("pos")).as("center"))
  }

  // ---- §2.3 across-record aggregation --------------------------------

  /** Data.mean across records (thunder/base.py :: Data.mean): the
    * element-wise mean series over all keys — per time bucket. */
  def meanAcrossKeys(points: DataFrame, unit: String): DataFrame = {
    val vd = col("v").cast("decimal(18,6)")
    points.groupBy(Rollup.bucket(col("ts"), unit).as("bucket"))
      .agg(count(lit(1)).as("n"),
        (sum(vd).cast("double") / count(lit(1))).as("v"))
  }

  /** Data.sum/mean/min/max/std across records (thunder/base.py ::
    * Data.sum, Data.max, Data.min, Data.std): the element-wise stats
    * series over all keys, per time bucket — one hash aggregate with
    * map-side partials, exact decimal sums, std via the same rescaled
    * presentation as Rollup.present. */
  def statsAcrossKeys(points: DataFrame, unit: String): DataFrame = {
    Rollup.partial(points.groupBy(Rollup.bucket(col("ts"), unit).as("bucket")))
      .select(Seq(col("bucket"), col("cnt").as("n")) ++ Rollup.presentStats: _*)
  }

  /** Distinct-count surface (SURVEY §2.3): exact per-bucket distinct
    * keys (oracle-checkable) plus the HLL++ approximate counterpart
    * for the 10^12-key regime where exact distinct is a full shuffle
    * of the key set (approx_count_distinct is a fixed-size mergeable
    * sketch — error bound pinned by SeriesOpsSpec). */
  def distinctKeys(points: DataFrame, unit: String): DataFrame =
    points.groupBy(Rollup.bucket(col("ts"), unit).as("bucket"))
      .agg(count_distinct(col("key")).as("n_keys"))

  def approxDistinctKeys(points: DataFrame, unit: String,
      rsd: Double = 0.02): DataFrame =
    points.groupBy(Rollup.bucket(col("ts"), unit).as("bucket"))
      .agg(approx_count_distinct(col("key"), rsd).as("n_keys_approx"))

  /** stat_by_index with a multi-level index (:: Series.stat_by_index):
    * grouped aggregation by derived index labels — here (hour-of-day)
    * as the label, the diurnal-profile query. */
  def meanByHourOfDay(points: DataFrame): DataFrame = {
    val vd = col("v").cast("decimal(18,6)")
    points.groupBy(col("key"), hour(col("ts")).as("hod"))
      .agg(count(lit(1)).as("n"),
        (sum(vd).cast("double") / count(lit(1))).as("v"))
  }
}
