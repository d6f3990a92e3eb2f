package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Ingest, Rollup, Segments, Signals}
import graft.synth.TranscriptGen

/** `cascade`: one batch job with a single caller — the headline
  * raw→1m→1h→1d tier cascade over power-law transcripts staged in the
  * bucketed ingest layout, then segment compression of the raw points.
  * Signals, Rollup, the codecs and the scan do the work; the layout
  * makes the tier stages shuffle-free and the commit layer is idle. */
final class Cascade(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  val turns = 120000L
  val convs: Long = turns / 200
  val buckets = 8
  val readsPerPass = 3

  private var table = ""
  private var tableDir = ""
  private val ingestS = ArrayBuffer[Double]()
  private var ingestBytes = 0L
  private var pass = 0
  private var last: Option[Tiers] = None
  private val signalsS = ArrayBuffer[Double]()

  private case class Tiers(n: Int) {
    val dir: String = ctx.dir(s"cascade/pass_$n")
    val m1 = s"m1_$n"
    val h1 = s"h1_$n"
    val d1 = s"d1_$n"
    val seg = s"$dir/seg"
    def tables: Seq[String] = Seq(m1, h1, d1)
  }

  def setup(rep: Int): Unit = {
    dropPasses()
    if (table.nonEmpty) { spark.sql(s"DROP TABLE IF EXISTS $table"); Fs.deleteTree(tableDir) }
    val gen = ctx.dir(s"cascade/generated_$rep")
    TranscriptGen.turns(spark, turns, convs, seed = ctx.seed, partitions = ctx.cores)
      .write.mode("overwrite").parquet(gen)
    table = s"turns_$rep"
    tableDir = ctx.dir(s"cascade/turns_$rep")
    val t0 = System.nanoTime()
    Ingest.writeBucketed(spark.read.parquet(gen), table, tableDir, buckets)
    ingestS += (System.nanoTime() - t0) / 1e9
    ingestBytes = Fs.bytes(tableDir)
    Fs.deleteTree(gen)
  }

  def warmup(): Unit = runPass()

  override def setupLayer: Map[String, Double] = Map(
    "ingest.write_s" -> Stats.median(ingestS.toSeq),
    "ingest.rows_per_s" -> turns / Stats.median(ingestS.toSeq),
    "ingest.bytes_written" -> ingestBytes.toDouble)

  private def writeTier(df: DataFrame, name: String, dir: String): Unit =
    df.write.mode("overwrite").bucketBy(buckets, "key").option("path", dir).saveAsTable(name)

  /** The dashboard read: the first week of the hottest conversations
    * (power-law assignment makes c0..c19 the hottest). */
  private def dashboard(h1: DataFrame): DataFrame = {
    val week = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-08T00:00:00Z"))
    Dashboard(h1.where(col("bucket") < lit(week)), Points.hot("c"))
  }

  private def dropPasses(): Unit = last.foreach { t =>
    t.tables.foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    Fs.deleteTree(t.dir)
    last = None
  }

  /** One pass; returns (tier seconds, seconds of each dashboard read). */
  private def runPass(): (Double, Seq[Double]) = {
    ctx.span("bench", "cleanup")(dropPasses())
    pass += 1
    val t = Tiers(pass)
    val src = spark.table(table)
    // Probes that run in traced passes only: the timed cascade fuses
    // Signals into raw→1m, and decoding is not part of the batch job.
    if (ctx.tracer.enabled) ctx.span("signals", "") {
      val t0 = System.nanoTime()
      ctx.force(Signals.latencyPoints(src))
      signalsS += (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    ctx.span("rollup", "raw_1m") {
      writeTier(Rollup.rollupRaw(Signals.latencyPoints(src), "minute"), t.m1, s"${t.dir}/m1")
    }
    ctx.span("rollup", "1m_1h") {
      writeTier(Rollup.cascade(spark.table(t.m1), "hour"), t.h1, s"${t.dir}/h1")
    }
    ctx.span("rollup", "1h_1d") {
      writeTier(Rollup.cascade(spark.table(t.h1), "day"), t.d1, s"${t.dir}/d1")
    }
    val tierS = (System.nanoTime() - t0) / 1e9
    ctx.span("segments", "encode") {
      Segments.toSegments(Signals.latencyPoints(src), "day").write.mode("overwrite").parquet(t.seg)
    }
    if (ctx.tracer.enabled) ctx.span("segments", "decode") {
      ctx.force(Segments.fromSegments(spark.read.parquet(t.seg)))
    }
    last = Some(t)
    val readS = (1 to readsPerPass).map { _ =>
      val r0 = System.nanoTime()
      ctx.span("gapfill", "read")(ctx.force(dashboard(spark.table(t.h1))))
      (System.nanoTime() - r0) / 1e9
    }
    (tierS, readS)
  }

  def measure(seconds: Double): Phase = {
    val work = ArrayBuffer[Work]()
    val lat, reads = ArrayBuffer[Sample]()
    ctx.repeat(seconds) {
      val traced = ctx.tracer.enabled
      val t0 = System.nanoTime()
      ctx.span("loop", "pass")(ctx.op("cascade pass")(runPass())).foreach { case (tierS, readS) =>
        work += Work(traced, turns.toDouble, tierS)
        lat += Sample(traced, (System.nanoTime() - t0) / 1e9)
        reads ++= readS.map(Sample(traced, _))
      }
      true
    }
    val t = last.get
    val tierRows = t.tables.map(spark.table(_).count()).sum
    val points = spark.read.parquet(t.seg).agg(sum("n")).head().getLong(0)
    val layer = Map(
      "rollup.out_rows" -> tierRows.toDouble,
      "segments.bytes_per_point" -> Fs.bytes(t.seg).toDouble / points,
      "signals.points_per_s" ->
        (if (signalsS.isEmpty) 0.0 else points / Stats.median(signalsS.toSeq)))
    Phase(work.toSeq, lat.toSeq, reads.toSeq,
      Fs.bytes(Seq("m1", "h1", "d1").map(x => s"${t.dir}/$x"): _*).toDouble / tierRows, layer)
  }

  def check(): Unit = {
    val t = last.get
    def perDay(name: String) = spark.table(name)
      .groupBy(col("key"), date_trunc("day", col("bucket")).as("day"))
      .agg(sum("cnt").as("cnt"), sum("sum_d").cast("decimal(38,6)").as("s"),
        sum("sumsq_d").cast("decimal(38,12)").as("ss"), min("min_v").as("lo"),
        max("max_v").as("hi"))
    ctx.check("cascade conserves cnt/sum_d/sumsq_d and min/max across tiers") {
      t.tables.map(n => Checks.fingerprint(perDay(n))).distinct.size == 1
    }
    val points = Signals.latencyPoints(spark.table(table))
    ctx.check("cascade 1d tier equals a direct raw→1d rollup") {
      Checks.same(Checks.exact(spark.table(t.d1)), Checks.exact(Rollup.rollupRaw(points, "day")))
    }
    ctx.check("cascade segments decode to the raw points") {
      val raw = points.where(col("v").isNotNull)
        .select(col("key"), col("ts").cast("timestamp").as("ts"), col("v"))
      val dec = Segments.fromSegments(spark.read.parquet(t.seg))
        .select(col("key"), col("ts").cast("timestamp").as("ts"), col("v"))
      Checks.same(raw, dec)
    }
  }
}

object Checks {
  /** Row count and two order-independent sums of row hashes: equal
    * fingerprints mean equal multisets of rows, barring a collision of
    * both 64- and 32-bit hash sums. One aggregate per side, no join. */
  def fingerprint(df: DataFrame): Seq[Any] = {
    val cols = df.columns.toSeq.map(col)
    df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)")),
      sum(hash(cols: _*).cast("long"))).head().toSeq
  }

  /** Multiset equality of two frames with the same columns. */
  def same(a: DataFrame, b: DataFrame): Boolean = fingerprint(a) == fingerprint(b)

  /** Multiset equality of every named pair, in one aggregate per side:
    * each side is the union of its frames tagged with the pair's name. */
  def sameEach(pairs: Seq[(String, DataFrame, DataFrame)]): Boolean = {
    def side(pick: ((DataFrame, DataFrame)) => DataFrame) = pairs
      .map { case (name, a, b) => pick((a, b)).withColumn("pair", lit(name)) }
      .reduce(_ unionByName _)
    same(side(_._1), side(_._2))
  }

  /** The exact rollup columns at one common type. */
  def exact(df: DataFrame): DataFrame = df.select(
    col("key"), col("bucket").cast("timestamp").as("bucket"), col("cnt").cast("long").as("cnt"),
    col("sum_d").cast("decimal(38,6)").as("sum_d"),
    col("sumsq_d").cast("decimal(38,12)").as("sumsq_d"), col("min_v"), col("max_v"))
}
