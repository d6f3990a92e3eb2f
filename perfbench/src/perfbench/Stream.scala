package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._
import graft.operators.Rollup
import graft.streaming.StreamingRollup
import graft.tables.TierTable

/** `stream`: an open loop. The caller thread drops points files at a
  * fixed rate while Spark's stream thread runs the query; a share of
  * every file's rows is late, spread over the prior days, so every
  * micro-batch of `StreamingRollup.cascadeWriter` is a wide merge across
  * the (bucket, day) partitions of several days. Each file's latency
  * runs from its scheduled drop time to the commit of the micro-batch
  * that contains it. */
final class Stream(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  val filesPerS = 4.0
  val rowsPerFile = 15L
  val lateShare = 0.3
  val lateDays = 3
  val keys = 2000
  val buckets = 4
  val warmFiles = 1
  val triggerMs = 250L
  val timedReads = 9

  private val schema = StructType(Seq(StructField("key", StringType),
    StructField("ts", TimestampType), StructField("v", DoubleType)))
  private var staged = ""
  private var next = 0
  private val runs = ArrayBuffer[(String, String)]() // (root, input dir) per phase

  private val progress = mutable.Map[java.util.UUID, ArrayBuffer[StreamingQueryProgress]]()
  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized {
        progress.getOrElseUpdate(e.progress.id, ArrayBuffer()) += e.progress
      }
  })

  private def perPhase: Int = math.ceil(filesPerS * ctx.args.seconds).toInt
  private val today = lateDays

  def setup(rep: Int): Unit = {
    Fs.deleteTree(ctx.dir("stream"))
    runs.clear()
    staged = ctx.dir(s"stream/staged_$rep")
    val phases = if (ctx.args.trace) 2 else 1
    val nFiles = warmFiles + phases * perPhase
    val id = col("id")
    val f = (id / rowsPerFile).cast("long")
    val late = Points.u01(id, ctx.seed + 3) < lateShare
    val dayOf = when(late, lit(today - 1) - floor(Points.u01(id, ctx.seed + 4) * lateDays))
      .otherwise(lit(today)).cast("long")
    spark.range(0, nFiles * rowsPerFile, 1, ctx.cores)
      .select(f.as("f"), Points.key(id, ctx.seed, keys).as("key"),
        timestamp_micros(lit(Points.BaseUs) + dayOf * Points.DayUs +
          (Points.u01(id, ctx.seed + 1) * Points.DayUs).cast("long")).as("ts"),
        Points.value(id, ctx.seed + 2).as("v"))
      .repartition(col("f")).write.partitionBy("f").parquet(staged)
    next = 0
  }

  def warmup(): Unit = {
    val warm = ctx.dir("stream/warm")
    val input = s"$warm/input"
    (0 until warmFiles).foreach(i => drop(i, input))
    StreamingRollup.cascadeWriter(spark.readStream.schema(schema).parquet(input),
        s"$warm/tiers", "warm", buckets)
      .option("checkpointLocation", s"$warm/checkpoint").start().awaitTermination()
    ctx.force(dashboard(s"$warm/tiers"))
    next = warmFiles
  }

  private def dashboard(root: String) = Dashboard(
    new TierTable(spark, s"$root/tier_1h", buckets).read(Points.label(today - 6), Points.label(today)),
    Points.hot("k"))

  /** Moves staged file `i` into `input` atomically, stamped now. */
  private def drop(i: Int, input: String): Unit = {
    Files.createDirectories(Paths.get(input))
    val src = Fs.list(s"$staged/f=$i").find(_.toString.endsWith(".parquet")).get
    Files.setLastModifiedTime(src, FileTime.fromMillis(System.currentTimeMillis()))
    Files.move(src, Paths.get(s"$input/$i.parquet"), StandardCopyOption.ATOMIC_MOVE)
  }

  private val fileEntry = """"path":"[^"]*/(\d+)\.parquet".*?"batchId":(\d+)""".r

  /** File index → batch id, from the file source's own log. */
  private def batchOf(ckpt: String): Map[Int, Long] = {
    Fs.list(s"$ckpt/sources/0").filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala)
      .flatMap(l => fileEntry.findFirstMatchIn(l).map(m => m.group(1).toInt -> m.group(2).toLong))
      .toMap
  }

  /** A traced run streams twice, untraced and then traced: a running
    * query cannot attach the tracer to every other operation. */
  def measure(seconds: Double): Phase =
    if (!ctx.args.trace) runStream()
    else {
      val plain = runStream()
      ctx.tracer.attach()
      val traced = try runStream() finally ctx.tracer.detach()
      Phase(plain.work ++ traced.work, plain.latencies ++ traced.latencies,
        plain.reads ++ traced.reads, plain.storedBytesPerRow, traced.layer)
    }

  private def runStream(): Phase = {
    val traced = ctx.tracer.enabled
    val phase = runs.size
    val dir = ctx.dir(s"stream/phase_$phase")
    val (root, input, ckpt) = (s"$dir/tiers", s"$dir/input", s"$dir/checkpoint")
    Files.createDirectories(Paths.get(input))
    runs += ((root, input))
    val first = next
    val n = perPhase
    next += n
    val scheduled = new Array[Long](n)
    val dropped = new Array[Long](n)

    val q = ctx.span("loop", "stream") {
      val q = ctx.span("stream", "start") {
        StreamingRollup.cascadeWriter(spark.readStream.schema(schema).parquet(input),
            root, s"stream-$phase", buckets)
          .trigger(Trigger.ProcessingTime(triggerMs))
          .option("checkpointLocation", ckpt).start()
      }
      ctx.span("stream", "run") {
        val t0 = Clock.now() + 100000000L
        (0 until n).foreach { i =>
          scheduled(i) = t0 + (i / filesPerS * 1e9).toLong
          val wait = scheduled(i) - Clock.now()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          ctx.op(s"drop file ${first + i}")(drop(first + i, input))
          dropped(i) = Clock.now()
        }
        q.processAllAvailable()
      }
      ctx.span("stream", "stop")(q.stop())
      q
    }
    org.apache.spark.sql.perfbench.Internals.drain(spark.sparkContext)

    val ps = progress.synchronized(progress.getOrElse(q.id, ArrayBuffer()).toSeq)
      .filter(_.numInputRows > 0)
    def ms(p: StreamingQueryProgress, k: String): Long =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val startNs = ps.map(p => p.batchId ->
      Clock.fromMs(java.time.Instant.parse(p.timestamp).toEpochMilli)).toMap
    val commitNs = ps.map(p => p.batchId -> (startNs(p.batchId) + ms(p, "triggerExecution") * 1000000L)).toMap
    val batch = batchOf(ckpt)
    val lat = ArrayBuffer[Sample]()
    (0 until n).foreach { i =>
      ctx.op(s"commit of file ${first + i}") {
        val b = batch(first + i)
        lat += Sample(traced, (commitNs(b) - scheduled(i)) / 1e9)
      }
    }
    val busyS = ps.map(ms(_, "triggerExecution")).sum / 1e3
    val rows = ps.map(_.numInputRows).sum
    val backlog = ps.map { p =>
      val t = startNs(p.batchId)
      (0 until n).count(i => dropped(i) <= t && batch.get(first + i).forall(_ >= p.batchId))
    }

    val tiers = Seq("tier_1m", "tier_1h", "tier_1d").map(t => new TierTable(spark, s"$root/$t", buckets))
    ctx.op("stream maintenance") { tiers.foreach { t => t.expireSnapshots(2); t.vacuum() } }
    // Reads after maintenance see the same table whatever the micro-batch
    // count; the first read of the new tiers is untimed, and the median
    // is taken over `timedReads`.
    ctx.op(s"stream warm read $phase")(ctx.force(dashboard(root)))
    val reads = (0 until timedReads).flatMap(r =>
      ctx.timed(s"stream read $phase.$r")(ctx.force(dashboard(root))))
    // Bytes of the files the head snapshots reference: older snapshots
    // that expiry keeps depend on how the files fell into micro-batches.
    val names = Seq("tier_1m", "tier_1h", "tier_1d")
    val live = names.zip(tiers).flatMap { case (name, t) =>
      t.resolvedEntries.filter(e => e.pb >= 0 && e.dir.nonEmpty)
        .map(e => (s"$root/$name/${e.dir}", e.rows))
    }
    val layer = Map(
      "input_bytes" -> Fs.bytes(input).toDouble,
      "stream.add_batch_s" -> ps.map(ms(_, "addBatch")).sum / 1e3,
      "stream.machinery_s" -> ps.map(p => ms(p, "triggerExecution") - ms(p, "addBatch")).sum / 1e3,
      "stream.batches" -> ps.size.toDouble,
      "stream.files_per_batch" -> n.toDouble / math.max(1, ps.size),
      "stream.backlog_files_max" -> (if (backlog.isEmpty) 0.0 else backlog.max.toDouble),
      "stream.generator_lag_s" -> (0 until n).map(i => dropped(i) - scheduled(i)).max / 1e9,
      "tiertable.live_files" -> Fs.count(names.map(t => s"$root/$t/data"): _*).toDouble)
    Phase(Seq(Work(traced, rows.toDouble, busyS)), lat.toSeq, reads.map(Sample(traced, _)),
      Fs.bytes(live.map(_._1): _*).toDouble / live.map(_._2).sum, layer)
  }

  def check(): Unit = runs.foreach { case (root, input) =>
    val all = Rollup.cascadeAll(spark.read.schema(schema).parquet(input))
    ctx.check("stream tiers equal the batch cascade over every generated point") {
      Checks.sameEach(Seq("1m", "1h", "1d").map(name => (name,
        Checks.exact(new TierTable(spark, s"$root/tier_$name", buckets).read()),
        Checks.exact(all(name)))))
    }
  }
}
