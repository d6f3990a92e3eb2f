package perfbench

/** Turns a measured phase into the end-to-end metrics, and a traced
  * phase into the per-layer metrics. */
object Report {

  def endToEnd(setupS: Double, setups: Seq[Double], sessionS: Double, warmS: Double,
      p: Phase): Seq[Metric] = {
    val lat = p.latency(traced = false)
    val (tail, tailLabel) = Stats.tail(lat)
    Seq(
      Metric("setup_s", "s", setupS, setups.size, Stats.iqr(setups),
        f"session start $sessionS%.2f s + median of set-ups " +
          setups.map(x => f"$x%.2f").mkString("[", ", ", "]") + f" + warm-up $warmS%.2f s"),
      Metric("rows_per_s", "1/s", p.rate(traced = false), p.rates(traced = false).size,
        Stats.iqr(p.rates(traced = false)), "rows ÷ summed busy seconds; IQR over operations"),
      Metric.of("latency_p50_s", "s", lat),
      Metric("latency_tail_s", "s", tail, lat.size, 0.0, tailLabel),
      Metric.of("read_p50_s", "s", p.read(traced = false)),
      Metric("stored_bytes_per_row", "B/row", p.storedBytesPerRow))
  }

  /** Layers whose self-time share is reported on every workload. */
  val layerNames = Seq("signals", "rollup", "segments", "tiertable", "gapfill",
    "retention", "rollupjob", "stream", "curation", "dedup", "bench")

  def unitOf(name: String): String =
    if (name.endsWith("_per_s")) "1/s"
    else if (name.endsWith("_s")) "s"
    else if (name.contains("bytes_per_")) "B/" + name.split("bytes_per_").last
    else if (name.contains("bytes")) "B"
    else if (name.endsWith("ratio") || name.endsWith("_eff")) "ratio"
    else "count"

  def layers(ctx: Ctx, wl: Workload, p: Phase): Seq[Metric] = {
    val t = ctx.tracer
    val roots = t.spans.toSeq.filter(_.parent == 0)
    val inner = t.spans.toSeq.filter(_.parent != 0)
    val wallNs = roots.map(_.dur).sum
    val unattributedNs = roots.map(t.selfNs).sum
    val selfNs = inner.groupBy(_.layer).map { case (l, ss) => l -> ss.map(t.selfNs).sum }
    val all = roots.flatMap(r => t.subtree(r.id)).toSet
    val js = t.jobsIn(all)
    val st = t.stagesOf(js)
    val execs = t.execsIn(all)
    def idsOf(layer: String) = t.spansOf(layer).flatMap(s => t.subtree(s.id)).toSet
    def sec(ns: Long) = ns / 1e9
    val cores = ctx.cores

    val widest = if (st.isEmpty) None else Some(st.maxBy(s => (s.tasks, s.runMs)))
    val skew = widest.filter(_.taskMs.nonEmpty).map { s =>
      s.taskMs.max / math.max(1.0, Stats.median(s.taskMs.map(_.toDouble).toSeq))
    }.getOrElse(0.0)

    val tierWrites = execs.flatMap(_.writes).filter(_.path.contains("/tier_"))
    val readIds = idsOf("tiertable") ++ idsOf("gapfill")
    val jobSpans = t.spansOf("rollupjob")
    val inputBytes = p.layer.getOrElse("input_bytes", 0.0)

    val engine = Seq(
      Metric("trace.wall_s", "s", sec(wallNs), roots.size),
      Metric("trace.unattributed_s", "s", sec(unattributedNs)),
      Metric("trace.overhead_share", "share", p.rate(false) / p.rate(true) - 1.0,
        note = f"untraced ${p.rate(false)}%.1f vs traced ${p.rate(true)}%.1f rows/s"),
      Metric("catalyst.plan_s", "s", sec(execs.map(_.planNs).sum), execs.size),
      Metric("spark.jobs", "count", js.size),
      Metric("spark.stages", "count", st.size),
      Metric("spark.tasks", "count", st.map(_.tasks).sum),
      Metric("spark.task_cpu_s", "s", st.map(_.cpuNs).sum / 1e9),
      Metric("spark.core_busy_ratio", "ratio",
        st.map(_.runMs).sum / 1e3 / math.max(1e-9, sec(wallNs) * cores)),
      Metric("spark.gc_s", "s", st.map(_.gcMs).sum / 1e3),
      Metric("spark.shuffle_bytes", "B", st.map(_.shuffleWriteBytes).sum.toDouble),
      Metric("spark.shuffle_fetch_wait_s", "s", st.map(_.fetchWaitMs).sum / 1e3),
      Metric("spark.spill_bytes", "B", st.map(_.spillBytes).sum.toDouble),
      Metric("spark.task_skew", "ratio", skew,
        note = widest.map(s => s"stage ${s.id} with ${s.tasks} tasks").getOrElse("")),
      Metric("spark.failed_tasks", "count", st.map(_.failedTasks).sum))

    val shares = layerNames.map { l =>
      Metric(s"self_share.$l", "share", selfNs.getOrElse(l, 0L).toDouble / math.max(1L, wallNs))
    }

    val commit = Seq(
      Metric("rollup.tier_shuffle_bytes", "B",
        t.stagesOf(t.jobsIn(idsOf("rollup"))).map(_.shuffleWriteBytes).sum.toDouble),
      Metric("tiertable.files_written", "count", tierWrites.map(_.files).sum.toDouble),
      Metric("tiertable.partitions_touched", "count", tierWrites.map(_.parts).sum.toDouble),
      Metric("tiertable.bytes_written_per_input_byte", "ratio",
        if (inputBytes > 0) tierWrites.map(_.bytes).sum / inputBytes else 0.0),
      Metric("tiertable.files_scanned", "count", t.execsIn(readIds).map(_.filesScanned).sum.toDouble),
      Metric("tiertable.write_s", "s", sec(execs.filter(_.writes.exists(_.path.contains("/tier_")))
        .map(_.durNs).sum)),
      Metric("tiertable.driver_s", "s", sec(jobSpans.map(t.noJobNs).sum),
        note = "time in RollupJob.run with no Spark job running"),
      Metric("rollupjob.batches", "count", jobSpans.size),
      Metric("rollupjob.jobs_per_arrival", "count",
        if (jobSpans.isEmpty) 0.0 else t.jobsIn(idsOf("rollupjob")).size.toDouble / jobSpans.size),
      Metric("dedup.jobs", "count", {
        val ds = t.spansOf("dedup").filter(_.name == "near_dups")
        if (ds.isEmpty) 0.0 else t.jobsIn(ds.flatMap(s => t.subtree(s.id)).toSet).size.toDouble / ds.size
      }))

    // Seconds per layer call, named <layer>.<call>_s after the spans.
    val calls = inner.groupBy(s => (s.layer, s.name)).toSeq.sortBy(_._1).map {
      case ((l, n), ss) =>
        Metric(if (n.isEmpty) s"$l.s" else s"$l.${n}_s", "s", sec(ss.map(_.dur).sum), ss.size)
    }
    val selfs = selfNs.toSeq.sortBy(_._1).map { case (l, ns) => Metric(s"self_s.$l", "s", sec(ns)) }
    val fromWorkload = (wl.setupLayer ++ p.layer - "input_bytes").toSeq.sortBy(_._1)
      .map { case (k, v) => Metric(k, unitOf(k), v) }

    engine ++ shares ++ commit ++ fromWorkload ++ calls ++ selfs
  }
}
