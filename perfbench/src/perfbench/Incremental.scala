package perfbench

import java.time.LocalDate
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{GapFill, Rollup}
import graft.tables.{RollupJob, TierTable}

/** Seeded tall points `(key, ts, v)`: power-law keys (k0 hottest),
  * latency-like values. Every column derives from xxhash64 of the row
  * id and the seed, so a seed regenerates the same rows. */
object Points {
  val Base: LocalDate = LocalDate.parse("2024-01-01")
  val BaseUs = 1704067200000000L
  val DayUs = 86400000000L

  def u01(c: Column, seed: Int): Column =
    pmod(xxhash64(c, lit(seed)), lit(1L << 40)).cast("double") / (1L << 40).toDouble

  def key(id: Column, seed: Int, keys: Int): Column =
    concat(lit("k"), floor(pow(u01(id, seed), lit(3.0)) * keys).cast("long").cast("string"))

  def value(id: Column, seed: Int): Column = round(exp(lit(2.0) + u01(id, seed) * 4.0), 3)

  /** `perDay` points on each of `days` days, with the day in column d. */
  def daily(spark: SparkSession, seed: Int, days: Int, perDay: Long, keys: Int,
      partitions: Int): DataFrame = {
    val id = col("id")
    spark.range(0, days * perDay, 1, partitions).select(
      (id / perDay).cast("int").as("d"),
      key(id, seed, keys).as("key"),
      timestamp_micros(lit(BaseUs) + (id / perDay).cast("long") * DayUs +
        (u01(id, seed + 1) * DayUs).cast("long")).as("ts"),
      value(id, seed + 2).as("v"))
  }

  def label(day: Int): String = Base.plusDays(day.toLong).toString

  /** The hottest keys of the power-law assignment. */
  def hot(prefix: String): Seq[String] = (0 until 20).map(i => s"$prefix$i")
}

/** The dashboard read every workload times: the given keys of a 1h tier,
  * presented and gap-filled hourly. */
object Dashboard {
  def apply(h1: DataFrame, keys: Seq[String]): DataFrame =
    GapFill.interpolate(
      Rollup.present(h1.where(col("key").isin(keys: _*)))
        .select(col("key"), col("bucket").as("ts"), col("mean_v").as("v")),
      "hour", "interval 1 hour")
}

/** `incremental`: a closed loop with one caller. Each in-order daily
  * arrival goes through `RollupJob.run(…, sketched = true)` and is
  * followed by three dashboard reads; every few arrivals the loop applies
  * retention, expires snapshots and vacuums. Narrow, day-sliced merges
  * put the commit layer, the KLL merge, reads and retention under load
  * while the rollup compute stays small. */
final class Incremental(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  val perDay = 5000L
  val keys = 1000
  val buckets = 4
  val every = 4
  val keep1m = 2
  val keep1h = 8
  val days = 16
  val warmArrivals = 1

  private var staged = ""
  private var root = ""
  private var job: RollupJob = _
  private var day = 0
  private var cut1m = ""
  private var cut1h = ""
  private val deletedFiles = ArrayBuffer[Long]()
  private val reclaimed = ArrayBuffer[Long]()
  private var inputBytes = 0L

  private def tiers: Seq[TierTable] = Seq(job.tier1m, job.tier1h, job.tier1d)

  def setup(rep: Int): Unit = {
    Fs.deleteTree(ctx.dir("incremental"))
    staged = ctx.dir(s"incremental/points_$rep")
    Points.daily(spark, ctx.seed, days, perDay, keys, ctx.cores)
      .write.partitionBy("d").parquet(staged)
    root = ctx.dir(s"incremental/tiers_$rep")
    job = new RollupJob(spark, root, buckets)
    day = 0
    cut1m = ""
    cut1h = ""
  }

  def warmup(): Unit = {
    (0 until warmArrivals).foreach { _ => arrive(); read() }
    maintain()
  }

  private def arrive(): Unit = {
    require(day < days, "out of staged days")
    val dir = s"$staged/d=$day"
    if (ctx.tracer.enabled) inputBytes += Fs.bytes(dir)
    val pts = spark.read.parquet(dir)
    ctx.span("rollupjob", "run")(job.run(pts, s"arrival-$day", sketched = true))
    day += 1
  }

  private def read(): Unit = {
    val h = ctx.span("tiertable", "read") {
      job.tier1h.read(Points.label(math.max(0, day - 7)), Points.label(day - 1))
    }
    ctx.span("gapfill", "")(ctx.force(Dashboard(h, Points.hot("k"))))
  }

  private def maintain(): Unit = {
    val (files0, bytes0) = (Fs.count(root), Fs.bytes(root))
    val asOf = LocalDate.parse(Points.label(day - 1))
    ctx.span("retention", "") {
      job.applyRetention(asOf.toString, keep1m, keep1h)
      job.expireAll(2)
      tiers.foreach(_.vacuum())
    }
    cut1m = asOf.minusDays(keep1m.toLong).toString
    cut1h = asOf.minusDays(keep1h.toLong).toString
    deletedFiles += files0 - Fs.count(root)
    reclaimed += bytes0 - Fs.bytes(root)
  }

  def measure(seconds: Double): Phase = {
    val work = ArrayBuffer[Work]()
    val lat, reads = ArrayBuffer[Sample]()
    inputBytes = 0L
    deletedFiles.clear()
    reclaimed.clear()
    ctx.repeat(seconds) {
      val traced = ctx.tracer.enabled
      ctx.span("loop", "arrival") {
        ctx.timed(s"arrival $day")(arrive()).foreach { s =>
          work += Work(traced, perDay.toDouble, s)
          lat += Sample(traced, s)
        }
        (1 to 3).foreach { r =>
          ctx.timed(s"read $day.$r")(read()).foreach(s => reads += Sample(traced, s))
        }
        if (day % every == 0) ctx.op(s"maintenance $day")(maintain())
      }
      day < days
    }
    ctx.op("final maintenance")(maintain())
    // The newest day is written by exactly one arrival in every tier, so
    // its bytes per row do not depend on how many arrivals fit the run.
    val newest = Points.label(day - 1)
    val live = Seq("tier_1m" -> job.tier1m, "tier_1h" -> job.tier1h, "tier_1d" -> job.tier1d)
      .flatMap { case (name, t) =>
        t.resolvedEntries.filter(e => e.pb >= 0 && e.pd == newest).map(e => (s"$root/$name/${e.dir}", e.rows))
      }
    val layer = Map(
      "input_bytes" -> inputBytes.toDouble,
      "retention.files_deleted" -> deletedFiles.sum.toDouble,
      "retention.bytes_reclaimed" -> reclaimed.sum.toDouble,
      "tiertable.live_files" -> Fs.count(s"$root/tier_1m/data", s"$root/tier_1h/data",
        s"$root/tier_1d/data").toDouble)
    Phase(work.toSeq, lat.toSeq, reads.toSeq,
      Fs.bytes(live.map(_._1): _*).toDouble / live.map(_._2).sum, layer)
  }

  def check(): Unit = {
    val arrived = spark.read.parquet(staged).where(col("d") < day).select("key", "ts", "v")
    val oneShot = Rollup.cascadeAll(arrived)
    ctx.check("incremental tiers equal the one-shot cascade on the days retention keeps") {
      Checks.sameEach(Seq(("1m", job.tier1m, cut1m), ("1h", job.tier1h, cut1h), ("1d", job.tier1d, ""))
        .map { case (name, table, cut) =>
          val want = Checks.exact(oneShot(name))
          (name, Checks.exact(table.read()),
            if (cut.isEmpty) want else want.where(to_date(col("bucket")) >= lit(cut).cast("date")))
        })
    }
  }
}
