package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.model.Point
import graft.operators._
import graft.tables.{RollupJob, TierTable}
import graft.tables.TierTable.Manifest

/** TierTable MERGE semantics: snapshot isolation, exact incremental
  * merge, idempotent resume, manifest lineage + metrics. */
class TierTableSpec extends SparkSpecBase {
  import spark.implicits._

  def tmp(): String = Files.createTempDirectory("graft_tier").toString

  def mkPts(keyN: Int, n: Int, startSec: Long = 0): Seq[Point] =
    (0 until n).map { i =>
      Point(s"k${i % keyN}", t(startSec + i * 157), ((i * 7919) % 1000) / 8.0)
    }

  test("merge twice over disjoint batches == single rollup of the union") {
    val root = tmp()
    val tt = new TierTable(spark, root, nBuckets = 4)
    val a = mkPts(3, 400)
    val b = mkPts(3, 400, startSec = 400 * 157)
    tt.merge(Rollup.rollupRaw(a.toDF(), "minute"), "runA")
    tt.merge(Rollup.rollupRaw(b.toDF(), "minute"), "runB")
    val got = Rollup.present(tt.read()).select("key", "bucket", "cnt", "sum_v", "mean_v", "min_v", "max_v", "std_v")
    val want = Rollup.present(Rollup.rollupRaw((a ++ b).toDF(), "minute"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    assert(tt.currentVersion == 1)
  }

  test("overlapping-bucket merge combines stats exactly") {
    val root = tmp()
    val tt = new TierTable(spark, root, nBuckets = 4)
    val a = mkPts(2, 300)
    // same time range again (same buckets) — e.g. a late-arriving shard
    val b = mkPts(2, 300).map(p => p.copy(v = p.v + 1.0))
    tt.merge(Rollup.rollupRaw(a.toDF(), "minute"), "r1")
    tt.merge(Rollup.rollupRaw(b.toDF(), "minute"), "r2")
    val got = Rollup.present(tt.read())
    val want = Rollup.present(Rollup.rollupRaw((a ++ b).toDF(), "minute"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("resume with same runId is idempotent (no double counting)") {
    val root = tmp()
    val tt = new TierTable(spark, root, nBuckets = 4)
    val a = mkPts(3, 500)
    val partials = Rollup.rollupRaw(a.toDF(), "minute")
    tt.merge(partials, "run1")
    val v1 = Rollup.present(tt.read()).collect().toSet
    tt.merge(partials, "run1") // crash-retry of the same batch
    val v2 = Rollup.present(tt.read()).collect().toSet
    assert(v1 == v2)
    // but a NEW runId with the same data does merge (doubling counts)
    tt.merge(partials, "run2")
    val cnt1 = v1.toSeq.map(_.getAs[Long]("cnt")).sum
    val cnt3 = Rollup.present(tt.read()).collect().map(_.getAs[Long]("cnt")).sum
    assert(cnt3 == 2 * cnt1)
  }

  test("readChangesSince returns exactly the partitions later merges rewrote") {
    val root = tmp()
    val tt = new TierTable(spark, root, nBuckets = 4)
    // a spans ~35 h (2-3 days); b starts ~30.5 h in and runs to ~48 h:
    // whatever the wall-clock base, a's first day is NEVER touched by b
    // (carried forward), while a's last day is REWRITTEN (merged) and
    // b creates at least one new day
    val a = mkPts(3, 800)
    val b = mkPts(3, 400, startSec = 700 * 157)
    tt.merge(Rollup.rollupRaw(a.toDF(), "minute"), "rA")
    val v0 = tt.currentVersion
    tt.merge(Rollup.rollupRaw(b.toDF(), "minute"), "rB")

    // replicate the documented hidden-partitioning transform to derive
    // the touched set independently of the implementation
    def partCols(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("pb", pmod(xxhash64(col("key")), lit(4L)).cast("int"))
      .withColumn("pd", date_format(col("bucket"), "yyyy-MM-dd"))
    val touched = partCols(Rollup.rollupRaw(b.toDF(), "minute"))
      .select("pb", "pd").distinct()
    val expected = partCols(tt.read()).join(touched, Seq("pb", "pd"), "left_semi")
      .drop("pb", "pd")
    val changes = tt.readChangesSince(v0)
    assert(changes.exceptAll(expected).count() == 0 &&
      expected.exceptAll(changes).count() == 0)
    // rewritten partitions carry MERGED content (a's rows included),
    // and carried-forward partitions are excluded
    assert(changes.count() < tt.read().count())
    assert(changes.count() > Rollup.rollupRaw(b.toDF(), "minute").count())
    // sinceVersion = -1 reads everything
    val all = tt.readChangesSince(-1)
    assert(all.exceptAll(tt.read()).count() == 0 &&
      tt.read().exceptAll(all).count() == 0)
    // a metadata-only commit (retention drop carries surviving dirs
    // forward verbatim) produces NO changes
    val v1 = tt.currentVersion
    val firstDay = partCols(tt.read()).agg(min(col("pd"))).head().getString(0)
    val dropped = tt.dropPartitionsBefore(
      java.time.LocalDate.parse(firstDay).plusDays(1).toString)
    assert(dropped > 0 && tt.currentVersion > v1)
    assert(tt.readChangesSince(v1).count() == 0)
    // uncommitted/expired base versions are rejected loudly
    intercept[IllegalArgumentException](tt.readChangesSince(99))
  }

  test("manifest carries lineage and row/byte metrics per partition") {
    val root = tmp()
    val tt = new TierTable(spark, root, nBuckets = 4)
    tt.merge(Rollup.rollupRaw(mkPts(3, 300).toDF(), "minute"), "runX")
    val es = tt.resolvedEntries
    assert(es.nonEmpty)
    assert(es.forall(_.runIds == Seq("runX")))
    assert(es.forall(e => e.rows > 0 && e.bytes > 0))
    val totalRows = es.map(_.rows).sum
    assert(totalRows == tt.read().count())
  }

  test("partitionMetrics == recount at nBuckets=4; metadata-only (no table scan, zero jobs for countRows)") {
    val root = tmp()
    val tt = new TierTable(spark, root, nBuckets = 4)
    // a = day 0 + most of day 1; b = rest of day 1 + days 2–3, so the
    // run sets per day are rA / both / rB — all three lineage shapes
    val a = mkPts(3, 1000)
    val b = mkPts(3, 1000, startSec = 1000L * 157)
    tt.merge(Rollup.rollupRaw(a.toDF(), "minute"), "rA")
    tt.merge(Rollup.rollupRaw(b.toDF(), "minute"), "rB")
    // recorded metrics equal an independent recount per (pb, pd)
    val got = tt.partitionMetrics
      .select("pb", "pd", "n_rows").as[(Int, String, Long)].collect().toSet
    val want = tt.read()
      .groupBy(
        pmod(xxhash64(col("key")), lit(4L)).cast("int").as("pb"),
        date_format(col("bucket"), "yyyy-MM-dd").as("pd"))
      .agg(count(lit(1)).as("n_rows"))
      .as[(Int, String, Long)].collect().toSet
    assert(got == want)
    // lineage depth: partitions rewritten by both runs carry both ids
    val byRuns = tt.partitionMetrics
      .select("n_runs", "run_ids").as[(Int, Seq[String])].collect()
    assert(byRuns.forall { case (n, ids) => n == ids.size })
    assert(byRuns.exists(_._2 == Seq("rA", "rB")) &&
      byRuns.exists(_._2 == Seq("rA")) && byRuns.exists(_._2 == Seq("rB")))
    // metadata-only: the metrics plan opens no data file...
    val plan = tt.partitionMetrics.queryExecution.executedPlan.toString
    assert(!plan.contains("Scan parquet"), plan)
    // ...and countRows runs ZERO Spark jobs yet equals the scan count
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    val n = try { val n0 = tt.countRows; Thread.sleep(800); n0 }
      finally spark.sparkContext.removeSparkListener(l)
    assert(jobs.get == 0, s"countRows ran ${jobs.get} Spark jobs")
    assert(n == tt.read().count())
  }

  test("deleteKeys: pruned copy-on-write delete; markers for emptied partitions; physical forgetting after expiry") {
    val root = tmp()
    // compactEvery = 1 → every commit is a full snapshot, so
    // expireSnapshots can anchor right behind HEAD for the physical-
    // forgetting assertion at the end
    val tt = new TierTable(spark, root, nBuckets = 4, compactEvery = 1)
    val a = mkPts(4, 1200) // k0..k3, ~2 days, every key every day
    tt.merge(Rollup.rollupRaw(a.toDF(), "minute"), "r1")
    val vPre = tt.currentVersion
    val dirsPre = tt.resolvedEntries.map(e => (e.pb, e.pd) -> e.dir).toMap
    tt.deleteKeys(Seq("k1"), "del1")
    // content: exactly k1's rows gone, everything else byte-identical
    val got = Rollup.present(tt.read())
    val want = Rollup.present(
      Rollup.rollupRaw(a.filter(_.key != "k1").toDF(), "minute"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    // pruning: only partitions in k1's hash bucket were rewritten
    val pbK1 = Seq("k1").toDF("key")
      .select(pmod(xxhash64(col("key")), lit(4L)).cast("int"))
      .as[Int].collect().head
    tt.resolvedEntries.foreach { e =>
      if (e.pb == pbK1) {
        assert(e.dir != dirsPre((e.pb, e.pd)), s"bucket $pbK1 not rewritten")
        assert(e.runIds.last == "del1")
      } else assert(e.dir == dirsPre((e.pb, e.pd)), s"bucket ${e.pb} rewritten")
    }
    // metadata metrics follow the delete
    assert(tt.countRows == tt.read().count())
    // idempotent retry + absent-key delete publish nothing
    val vNow = tt.currentVersion
    tt.deleteKeys(Seq("k1"), "del1")
    tt.deleteKeys(Seq("nope"), "del2")
    assert(tt.currentVersion == vNow)
    // copy-on-write: the pre-delete snapshot still serves k1
    assert(Rollup.present(tt.readAt(vPre))
      .where(col("key") === "k1").count() > 0)
    // deleting every remaining key empties all partitions → markers
    tt.deleteKeys(Seq("k0", "k2", "k3"), "del3")
    assert(tt.read().count() == 0)
    assert(tt.countRows == 0L)
    assert(tt.partitionMetrics.where(col("n_rows") > 0).count() == 0)
    // physical forgetting: expire old snapshots, vacuum their dirs —
    // no parquet file anywhere under the table holds a deleted key
    tt.expireSnapshots(keepLast = 1)
    tt.vacuum()
    val left = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      .iterator()
    val parquets = scala.jdk.CollectionConverters.IteratorHasAsScala(left)
      .asScala.filter(_.toString.endsWith(".parquet")).toSeq
    assert(parquets.isEmpty, s"deleted rows physically remain: $parquets")
  }

  test("deleteWhere: predicate delete — partial range for one key; NULL pred keeps; replay no-ops") {
    val root = tmp()
    val tt = new TierTable(spark, root, nBuckets = 4)
    val a = mkPts(3, 1200) // k0..k2 over ~2 days
    tt.merge(Rollup.rollupRaw(a.toDF(), "minute"), "r1")
    val cut = t(86400) // minute-aligned day boundary
    val pred = col("key") === "k1" && col("bucket") < lit(cut)
    tt.deleteWhere(pred, "dw1")
    // k1's day-0 rows gone, its day-1 rows and every other key intact
    val got = Rollup.present(tt.read())
    val want = Rollup.present(Rollup.rollupRaw(
      a.filterNot(p => p.key == "k1" && p.ts.getTime < cut.getTime).toDF(),
      "minute"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    assert(got.where(col("key") === "k1").count() > 0)
    assert(tt.countRows == tt.read().count())
    // NULL predicate deletes nothing (SQL DELETE semantics) and a
    // replay of the applied predicate publishes nothing
    val v = tt.currentVersion
    tt.deleteWhere(lit(null).cast("boolean"), "dwn")
    tt.deleteWhere(pred, "dw1")
    assert(tt.currentVersion == v)
  }

  test("commit guard: a manifest whose parent pointer would skip a READABLE version conflicts; corrupt versions still bypass") {
    val root = tmp()
    class Open(r: String) extends TierTable(spark, r, nBuckets = 2) {
      def commitRaw(version: Int, parent: Int): Unit =
        commit(Manifest(version, parent, full = false, Nil))
    }
    val tt = new Open(root)
    tt.merge(Rollup.rollupRaw(mkPts(2, 100).toDF(), "minute"), "r0") // v0
    tt.merge(Rollup.rollupRaw(mkPts(2, 100, 7000).toDF(), "minute"), "r1") // v1
    // a writer that resolved at v0 and then tried to publish v2 would
    // silently drop v1's entries from the chain — must conflict
    intercept[TierTable.CommitConflictException] {
      tt.commitRaw(2, 0)
    }
    assert(tt.currentVersion == 1) // nothing published
    // corrupt intermediate: truncate v1 in place → the guard treats it
    // as the documented crash-bypass case and lets v2 publish past it
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_meta", "v1.json"),
      "{\"version\":1,\"parent\":0,\"full\":false,\"entries\":[{\"pb\":0,"
        .getBytes("UTF-8"))
    tt.commitRaw(2, 0)
    assert(tt.currentVersion == 2)
  }

  test("applyTombstones clears ONLY what it applied — a forget-request racing the apply survives pending") {
    val root = tmp()
    val other = new TierTable(spark, root, nBuckets = 2)
    var inject = false
    // seam: land a concurrent deleteKeysLazy in the window between the
    // apply's rewrite commit and its marker commit (the exact window
    // where an unapplied tombstone is visible to the marker's resolve)
    val tt = new TierTable(spark, root, nBuckets = 2) {
      override def deleteKeys(keys: Seq[String], runId: String): Manifest = {
        val m = super.deleteKeys(keys, runId)
        if (inject) { inject = false; other.deleteKeysLazy(Seq("k0"), "td2") }
        m
      }
      // applyTombstones now feeds the tombstone parquet to the
      // DataFrame overload (bulk join path) — hook the same seam there
      override def deleteKeys(keysDf: org.apache.spark.sql.DataFrame,
          runId: String): Manifest = {
        val m = super.deleteKeys(keysDf, runId)
        if (inject) { inject = false; other.deleteKeysLazy(Seq("k0"), "td2") }
        m
      }
    }
    tt.merge(Rollup.rollupRaw(mkPts(3, 600).toDF(), "minute"), "r1")
    tt.deleteKeysLazy(Seq("k1"), "td1")
    inject = true
    tt.applyTombstones("ap1")
    // td1 applied + cleared; the racing td2 is still PENDING (k0 rows
    // still in the data, masked by the tombstone)
    assert(tt.pendingTombstones.map(_.pd) == Seq("ts:td2"))
    assert(tt.read().where(col("key") === "k0").count() == 0)
    assert(tt.readAt(tt.currentVersion - 1) != null) // chain intact
    // the next apply picks it up
    tt.applyTombstones("ap2")
    assert(tt.pendingTombstones.isEmpty)
    val got = Rollup.present(tt.read())
    val want = Rollup.present(
      Rollup.rollupRaw(mkPts(3, 600).filter(_.key == "k2").toDF(), "minute"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("bulk deleteKeys (10^5 keys) routes through the DataFrame join path, result equals the Seq path") {
    import spark.implicits._
    val rootA = tmp(); val rootB = tmp()
    val pts = mkPts(6, 600)
    val ta = new TierTable(spark, rootA, nBuckets = 4)
    val tb = new TierTable(spark, rootB, nBuckets = 4)
    ta.merge(Rollup.rollupRaw(pts.toDF(), "minute"), "r1")
    tb.merge(Rollup.rollupRaw(pts.toDF(), "minute"), "r1")
    // 100k-key forget batch, mostly absent keys + the live k1/k3
    val bulk = (1 to 100000).map(i => s"absent$i") ++ Seq("k1", "k3")
    ta.deleteKeys(bulk, "bigdel") // > 1000 → DataFrame path
    tb.deleteKeys(Seq("k1", "k3"), "bigdel")
    val a = Rollup.present(ta.read()).orderBy("key", "bucket").collect().toSeq
    val b = Rollup.present(tb.read()).orderBy("key", "bucket").collect().toSeq
    assert(a == b && a.nonEmpty)
    assert(Rollup.present(ta.read()).where(col("key").isin("k1", "k3")).count() == 0)
    // replay is a lineage no-op on the join path too
    val v = ta.currentVersion
    ta.deleteKeys(bulk, "bigdel")
    assert(ta.currentVersion == v)
  }

  test("applyTombstones feeds tombstone parquet to the join path (no driver key collect), masks equal") {
    import spark.implicits._
    val root = tmp()
    val tt = new TierTable(spark, root, nBuckets = 4)
    val pts = mkPts(6, 600)
    tt.merge(Rollup.rollupRaw(pts.toDF(), "minute"), "r1")
    tt.deleteKeysLazy((1 to 20000).map(i => s"nok$i") :+ "k2", "td1")
    tt.deleteKeysLazy(Seq("k4"), "td2")
    tt.applyTombstones("apply1")
    assert(tt.pendingTombstones.isEmpty)
    val want = Rollup.present(
      Rollup.rollupRaw(pts.filterNot(p => p.key == "k2" || p.key == "k4").toDF(),
        "minute"))
    val got = Rollup.present(tt.read())
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("deleteKeysLazy: unsafe runId (quote/backslash → strict-parse-poisoned pd) is rejected loudly") {
    val root = tmp()
    val tt = new TierTable(spark, root, nBuckets = 4)
    tt.merge(Rollup.rollupRaw(mkPts(2, 60).toDF(), "minute"), "r1")
    val vPre = tt.currentVersion
    Seq("bad\"quote", "bad\\slash", "bad space", "").foreach { rid =>
      intercept[IllegalArgumentException](tt.deleteKeysLazy(Seq("k0"), rid))
    }
    // nothing committed, table still fully readable
    assert(tt.currentVersion == vPre && tt.pendingTombstones.isEmpty)
    assert(tt.read().count() > 0)
  }

  test("deleteKeysLazy: O(1)-commit tombstone masks reads; applyTombstones compacts; caveats pinned") {
    val root = tmp()
    val tt = new TierTable(spark, root, nBuckets = 4)
    val a = mkPts(4, 1200)
    tt.merge(Rollup.rollupRaw(a.toDF(), "minute"), "r1")
    val dirsPre = tt.resolvedEntries.map(_.dir).toSet
    val vPre = tt.currentVersion
    // O(1) commit: no data partition touched, one tombstone entry
    tt.deleteKeysLazy(Seq("k1"), "td1")
    assert(tt.resolvedEntries.filter(_.pb >= 0).map(_.dir).toSet == dirsPre)
    assert(tt.pendingTombstones.size == 1)
    // reads are masked NOW (current and time-pruned), old snapshot not
    val want = Rollup.present(
      Rollup.rollupRaw(a.filter(_.key != "k1").toDF(), "minute"))
    val got = Rollup.present(tt.read())
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    assert(Rollup.present(tt.readAt(vPre))
      .where(col("key") === "k1").count() > 0)
    assert(tt.read("1970-01-01", "2100-01-01")
      .where(col("key") === "k1").count() == 0)
    // pinned caveat: countRows is an upper bound while pending
    assert(tt.countRows > tt.read().count())
    // pinned semantics: a key re-merged AFTER the tombstone stays
    // masked until the tombstone is applied (forget means forget)
    tt.merge(Rollup.rollupRaw(
      Seq(model.Point("k1", t(999999), 1.0)).toDF(), "minute"), "r2")
    assert(tt.read().where(col("key") === "k1").count() == 0)
    // incremental scans apply pending tombstones too — even ones
    // committed BEFORE the snapshot the changes are relative to
    val vMid = tt.currentVersion
    tt.merge(Rollup.rollupRaw(
      Seq(model.Point("k1", t(1200000), 2.0),
        model.Point("k3", t(1200000), 3.0)).toDF(), "minute"), "r3")
    val chg = tt.readChangesSince(vMid)
    assert(chg.where(col("key") === "k1").count() == 0)
    assert(chg.where(col("key") === "k3").count() == 1)
    // a second request batches in; idempotent replay publishes nothing
    tt.deleteKeysLazy(Seq("k2"), "td2")
    val vNow = tt.currentVersion
    tt.deleteKeysLazy(Seq("k2"), "td2")
    assert(tt.currentVersion == vNow)
    // apply: ONE physical rewrite for both requests, tombstones
    // cleared to markers (lineage kept), countRows exact again
    tt.applyTombstones("apply1")
    assert(tt.pendingTombstones.isEmpty)
    assert(tt.resolvedEntries.exists(e =>
      e.pb < 0 && e.dir.isEmpty && e.runIds == Seq("td1", "apply1")))
    val want2 = Rollup.present(
      Rollup.rollupRaw((a.filter(p => p.key != "k1" && p.key != "k2") :+
        model.Point("k3", t(1200000), 3.0)).toDF(), "minute"))
    val got2 = Rollup.present(tt.read())
    assert(got2.exceptAll(want2).count() == 0 && want2.exceptAll(got2).count() == 0)
    assert(tt.countRows == tt.read().count())
    // replaying the apply runId is a no-op
    val vEnd = tt.currentVersion
    tt.applyTombstones("apply1")
    assert(tt.currentVersion == vEnd)
  }

  test("delta manifests: commit I/O is O(touched partitions); compaction resolves identically") {
    val root = tmp()
    val tt = new TierTable(spark, root, nBuckets = 4, compactEvery = 4)
    // 6 sequential day batches touching disjoint pd partitions
    val batches = (0 until 6).map(d => mkPts(2, 80, startSec = d * 86400L))
    batches.zipWithIndex.foreach { case (b, i) =>
      tt.merge(Rollup.rollupRaw(b.toDF(), "minute"), s"r$i")
    }
    // non-compaction commits carry only the touched partitions
    val m5 = tt.currentManifest.get
    val touched5 = m5.entries.map(e => (e.pb, e.pd)).toSet
    assert(!m5.full && m5.entries.size < tt.resolvedEntries.size,
      s"delta=${m5.entries.size} vs live=${tt.resolvedEntries.size}")
    // the resolved view equals a single rollup of everything
    val want = Rollup.present(Rollup.rollupRaw(batches.flatten.toDF(), "minute"))
    val got = Rollup.present(tt.read())
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    // version 4 was a full snapshot (compactEvery = 4)
    assert(touched5.nonEmpty && tt.currentVersion == 5)
  }

  test("commit CAS: a racing writer gets a conflict AND the winner's snapshot is untouched") {
    val root = tmp()
    // the loser: its beforeCommit seam injects a winner claiming the
    // same version at the exact CAS window — AFTER the loser has
    // written its data + temp manifest, BEFORE the atomic link
    var raced = false
    val winnerJson = new java.util.concurrent.atomic.AtomicReference[String]()
    val tt = new TierTable(spark, root, nBuckets = 4) {
      override protected def beforeCommit(version: Int): Unit =
        if (version == 1 && !raced) {
          raced = true
          // the "winner" commits v1 referencing ITS OWN data files
          val winner = new TierTable(spark, root, nBuckets = 4)
          winner.merge(Rollup.rollupRaw(mkPts(2, 150, startSec = 50000).toDF(), "minute"), "winner")
          winnerJson.set(java.nio.file.Files.readString(
            java.nio.file.Paths.get(root, "_meta", "v1.json")))
        }
    }
    tt.merge(Rollup.rollupRaw(mkPts(2, 100).toDF(), "minute"), "r1") // v0
    val ex = intercept[IllegalStateException] {
      tt.merge(Rollup.rollupRaw(mkPts(2, 100, startSec = 99999).toDF(), "minute"), "r2")
    }
    assert(ex.getMessage.contains("conflict"))
    // the winner's manifest is byte-identical (the loser never touched it)…
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(root, "_meta", "v1.json")) == winnerJson.get())
    // …and every data file it references still exists and reads clean:
    // the loser wrote only into its own nonce'd dir (the old shared
    // data/v1 + Overwrite layout let the loser delete these files)
    val tt2 = new TierTable(spark, root, nBuckets = 4)
    assert(tt2.currentVersion == 1)
    val want = Rollup.present(Rollup.rollupRaw(
      (mkPts(2, 100) ++ mkPts(2, 150, startSec = 50000)).toDF(), "minute"))
    val got = Rollup.present(tt2.read())
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    // the loser's orphan data dir is reclaimable, never auto-deleted
    assert(tt2.vacuum() >= 1)
    val after = Rollup.present(tt2.read())
    assert(after.exceptAll(want).count() == 0 && want.exceptAll(after).count() == 0)
  }

  test("mergeRetrying wins after losing a race: both writers' rows land exactly once") {
    val root = tmp()
    var raced = false
    val tt = new TierTable(spark, root, nBuckets = 4) {
      override protected def beforeCommit(version: Int): Unit =
        if (version == 0 && !raced) {
          raced = true // a concurrent writer claims v0 first
          new TierTable(spark, root, nBuckets = 4)
            .merge(Rollup.rollupRaw(mkPts(2, 150, startSec = 50000).toDF(), "minute"), "winner")
        }
    }
    // first attempt loses the CAS, the retry re-resolves the new
    // snapshot and commits v1
    tt.mergeRetrying(Rollup.rollupRaw(mkPts(2, 100).toDF(), "minute"), "retrier")
    val tt2 = new TierTable(spark, root, nBuckets = 4)
    assert(tt2.currentVersion == 1)
    val want = Rollup.present(Rollup.rollupRaw(
      (mkPts(2, 100) ++ mkPts(2, 150, startSec = 50000)).toDF(), "minute"))
    val got = Rollup.present(tt2.read())
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    assert(tt2.resolvedEntries.exists(_.runIds.contains("retrier")))
  }

  test("a writer crashing before the atomic link does not wedge the table") {
    val root = tmp()
    var crash = true
    val tt = new TierTable(spark, root, nBuckets = 4) {
      override protected def beforeCommit(version: Int): Unit =
        if (version == 1 && crash) { crash = false; throw new RuntimeException("boom") }
    }
    tt.merge(Rollup.rollupRaw(mkPts(2, 100).toDF(), "minute"), "r1") // v0
    intercept[RuntimeException] {
      tt.merge(Rollup.rollupRaw(mkPts(2, 100, startSec = 99999).toDF(), "minute"), "r2")
    }
    // HEAD derives from committed versions only — still v0, not wedged:
    // the same merge retried (fresh attempt) succeeds at version 1
    // (the old CREATE_NEW-manifest + HEAD-move scheme left v1.json
    // behind and every retry conflicted forever)
    assert(tt.currentVersion == 0)
    tt.merge(Rollup.rollupRaw(mkPts(2, 100, startSec = 99999).toDF(), "minute"), "r2")
    assert(tt.currentVersion == 1)
    val want = Rollup.present(Rollup.rollupRaw(
      (mkPts(2, 100) ++ mkPts(2, 100, startSec = 99999)).toDF(), "minute"))
    val got = Rollup.present(tt.read())
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    assert(tt.vacuum() >= 1) // the crashed attempt's data dir + tmp manifest
  }

  test("vacuum age-gates temp manifests: fresh tmp survives (in-flight writer), stale tmp is swept") {
    val root = tmp()
    val tt = new TierTable(spark, root, nBuckets = 4)
    tt.merge(Rollup.rollupRaw(mkPts(2, 100).toDF(), "minute"), "r1")
    val meta = java.nio.file.Paths.get(root, "_meta")
    val fresh = meta.resolve("tmp-fresh1.json")
    val stale = meta.resolve("tmp-stale1.json")
    Files.write(fresh, "{}".getBytes)
    Files.write(stale, "{}".getBytes)
    Files.setLastModifiedTime(stale, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - TierTable.tmpGraceMs - 60000))
    tt.vacuum()
    // ADVICE r3: an unconditional sweep here killed in-flight commits
    // (NoSuchFileException instead of a retryable conflict)
    assert(Files.exists(fresh), "fresh temp manifest must survive the grace window")
    assert(!Files.exists(stale), "stale temp manifest must be reclaimed")
  }

  test("crash-truncated HEAD manifest: reads fall back to the previous version; next merge heals past it") {
    val root = tmp()
    val tt = new TierTable(spark, root, nBuckets = 4)
    val a = mkPts(2, 200)
    val b = mkPts(2, 200, startSec = 99999)
    tt.merge(Rollup.rollupRaw(a.toDF(), "minute"), "r1") // v0
    tt.merge(Rollup.rollupRaw(b.toDF(), "minute"), "r2") // v1
    val atV1 = Rollup.present(tt.read()).collect().toSet
    // simulate the power-crash artifact the fsync defends against: a
    // committed v2.json whose data pages never hit disk (truncated
    // mid-entries — the strict parser must reject it)
    Files.write(java.nio.file.Paths.get(root, "_meta", "v2.json"),
      """{"version":2,"parent":1,"full":false,"entries":[{"pb":0,""".getBytes)
    assert(tt.currentVersion == 2 && tt.readableHead == 1)
    // reads are NOT refused — they fall back to v1 (loudly, on stderr)
    assert(Rollup.present(tt.read()).collect().toSet == atV1)
    // and the table is not wedged: the next merge numbers past the
    // corrupt file with its parent pointer bypassing it
    val c = mkPts(2, 200, startSec = 222222)
    val m = tt.merge(Rollup.rollupRaw(c.toDF(), "minute"), "r3")
    assert(m.version == 3 && m.parent == 1)
    val want = Rollup.present(Rollup.rollupRaw((a ++ b ++ c).toDF(), "minute"))
    val got = Rollup.present(tt.read())
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    // vacuum with the unreadable manifest in the chain is safe: it
    // skips v2 and must not delete anything v3's chain references
    tt.vacuum()
    val after = Rollup.present(tt.read())
    assert(after.exceptAll(want).count() == 0 && want.exceptAll(after).count() == 0)
  }

  test("strict manifest parse: corrupt heads fall back and vacuum skips them; the earlier hand-written format still reads") {
    val root = tmp()
    val tt = new TierTable(spark, root, nBuckets = 2)
    tt.merge(Rollup.rollupRaw(mkPts(2, 200).toDF(), "minute"), "r0") // v0
    tt.merge(Rollup.rollupRaw(mkPts(2, 200, startSec = 99999).toDF(), "minute"), "r1") // v1
    val atV1 = Rollup.present(tt.read()).collect().toSet
    val meta = java.nio.file.Paths.get(root, "_meta")
    // the format of the earlier hand-written codec, ']' escape included
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case ']' => "\\u005d"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    def json(m: Manifest): String = {
      val es = m.entries.map { e =>
        val ids = e.runIds.map(r => "\"" + esc(r) + "\"").mkString("[", ",", "]")
        s"""{"pb":${e.pb},"pd":"${esc(e.pd)}","dir":"${esc(e.dir)}","rows":${e.rows},"bytes":${e.bytes},"runIds":$ids}"""
      }.mkString("[", ",", "]")
      s"""{"version":${m.version},"parent":${m.parent},"full":${m.full},"entries":$es}"""
    }
    // same field names and order as that format
    assert(Files.readString(meta.resolve("v1.json")) == json(tt.currentManifest.get))

    // each corrupt v2 references an orphan dir: a reader must fall back
    // to v1, and vacuum must treat the manifest as referencing nothing
    val orphan = java.nio.file.Paths.get(root, "data", "v2-orphan")
    val entry = """{"pb":0,"pd":"2024-01-01","dir":"data/v2-orphan/pb=0","rows":5,"bytes":9,"runIds":["x"]}"""
    val head = """{"version":2,"parent":1,"full":false,"entries":["""
    Seq(
      "missing field" -> (head + entry.replace(""","bytes":9""", "") + "]}"),
      "string-typed rows" -> (head + entry.replace(""""rows":5""", """"rows":"5"""") + "]}"),
      "float-typed rows" -> (head + entry.replace(""""rows":5""", """"rows":5.0""") + "]}"),
      "null runId" -> (head + entry.replace("""["x"]""", "[null]") + "]}"),
      "trailing token" -> (head + entry + "]}{}")
    ).foreach { case (what, s) =>
      Files.createDirectories(orphan.resolve("pb=0"))
      Files.write(meta.resolve("v2.json"), s.getBytes("UTF-8"))
      assert(tt.currentVersion == 2 && tt.readableHead == 1, what)
      assert(Rollup.present(tt.read()).collect().toSet == atV1, what)
      tt.vacuum()
      assert(!Files.exists(orphan), s"$what: vacuum kept the corrupt manifest's dir")
      assert(Rollup.present(tt.read()).collect().toSet == atV1, what)
    }

    // a v2 in the earlier format, with an id needing every escape, reads
    val nasty = "a]\"b\\c\n\u0001ü,[x]"
    val old = Manifest(2, 1, full = true,
      tt.resolvedEntries.map(_.copy(runIds = Seq(nasty))))
    Files.write(meta.resolve("v2.json"), json(old).getBytes("UTF-8"))
    assert(tt.readableHead == 2)
    assert(tt.resolvedEntries.forall(_.runIds == Seq(nasty)))
    assert(Rollup.present(tt.read()).collect().toSet == atV1)
  }

  test("runIds survive any character (JSON-array lineage, not comma-joined)") {
    val root = tmp()
    val tt = new TierTable(spark, root, nBuckets = 4)
    val weird = """job,A/"q"\x,[y]2"""
    val partials = Rollup.rollupRaw(mkPts(2, 100).toDF(), "minute")
    tt.merge(partials, weird)
    assert(tt.resolvedEntries.forall(_.runIds == Seq(weird)))
    val v1 = Rollup.present(tt.read()).collect().toSet
    tt.merge(partials, weird) // resume must still match the exact id
    assert(Rollup.present(tt.read()).collect().toSet == v1)
  }

  test("time travel: readAt reproduces each committed snapshot; expired versions refuse loudly") {
    val root = tmp()
    val tt = new TierTable(spark, root, nBuckets = 4, compactEvery = 3)
    val a = mkPts(2, 200)
    val b = mkPts(2, 200, startSec = 200 * 157)
    tt.merge(Rollup.rollupRaw(a.toDF(), "minute"), "r0") // v0
    val v0 = Rollup.present(tt.read()).collect().toSet
    tt.merge(Rollup.rollupRaw(b.toDF(), "minute"), "r1") // v1
    val v1 = Rollup.present(tt.read()).collect().toSet
    assert(v0 != v1)
    // historical views are byte-stable after later commits
    assert(Rollup.present(tt.readAt(0)).collect().toSet == v0)
    assert(Rollup.present(tt.readAt(1)).collect().toSet == v1)
    // after expiration, travel below the anchor refuses instead of
    // returning a partial view
    (2 until 8).foreach(i =>
      tt.merge(Rollup.rollupRaw(mkPts(2, 50, startSec = i * 40000L).toDF(), "minute"), s"r$i"))
    tt.expireSnapshots(keepLast = 2) // anchor = v6 (full, compactEvery=3)
    intercept[IllegalArgumentException](tt.readAt(0))
    assert(Rollup.present(tt.readAt(tt.currentVersion)).collect().toSet ==
      Rollup.present(tt.read()).collect().toSet)
  }

  test("manifest JSON round-trips randomized adversarial runIds (strict parser)") {
    // the parser now REFUSES partial reads, so any escaping gap would
    // fail loudly here: ids drawn from the full hazard alphabet
    // (quotes, backslashes, brackets, braces, commas, colons, control
    // chars, non-ASCII) must all survive commit → strict parse →
    // lineage resolution
    val root = tmp()
    val tt = new TierTable(spark, root, nBuckets = 2)
    val rng = new scala.util.Random(7)
    val nasty = "\"\\]}{[,:\n\t\r\u0000\u001f\u00fc\u4e2d x"
    val ids = (0 until 12).map(i =>
      (0 until 8).map(_ => nasty(rng.nextInt(nasty.length))).mkString + s"#$i")
    val partials = Rollup.rollupRaw(mkPts(1, 40).toDF(), "minute")
    ids.foreach(id => tt.merge(partials, id))
    val lineage = tt.resolvedEntries.flatMap(_.runIds)
    ids.foreach(id => assert(lineage.contains(id),
      s"lost runId ${id.map(_.toInt.toHexString).mkString(" ")}"))
  }

  test("empty merge publishes no new version") {
    val root = tmp()
    val tt = new TierTable(spark, root, nBuckets = 4)
    tt.merge(Rollup.rollupRaw(mkPts(2, 100).toDF(), "minute"), "r1")
    val v = tt.currentVersion
    tt.merge(Rollup.rollupRaw(mkPts(2, 100).toDF().where("v < -1"), "minute"), "r2")
    tt.merge(Rollup.rollupRaw(mkPts(2, 100).toDF(), "minute"), "r1") // fully resumed
    assert(tt.currentVersion == v)
  }

  test("runId lineage survives interleaved runs (retry does not double-merge)") {
    val root = tmp()
    val tt = new TierTable(spark, root, nBuckets = 4)
    val a = Rollup.rollupRaw(mkPts(2, 200).toDF(), "minute")
    val b = Rollup.rollupRaw(mkPts(2, 200).toDF().withColumn("v", col("v") + 1.0), "minute")
    tt.merge(a, "run1")
    tt.merge(b, "run2") // same partitions, different run
    val before = Rollup.present(tt.read()).collect().toSet
    tt.merge(a, "run1") // crash-retry of run1 AFTER run2 touched the partitions
    val after = Rollup.present(tt.read()).collect().toSet
    assert(before == after, "retried runId must be skipped even after later runs")
    assert(tt.resolvedEntries.forall(e => e.runIds.count(_ == "run1") == 1))
  }

  test("RollupJob full cascade == direct rollups; partial run + resume converges") {
    val pts = (0 until 3000).map { i =>
      Point(s"k${i % 5}", t(i * 311), ((i * 131) % 700) / 4.0)
    }
    val df = pts.toDF()

    val rootA = tmp()
    val jobA = new RollupJob(spark, rootA, nBuckets = 4)
    jobA.run(df, "jobA")
    for ((tier, unit) <- Seq((jobA.tier1m, "minute"), (jobA.tier1h, "hour"), (jobA.tier1d, "day"))) {
      val got = Rollup.present(tier.read())
      val want = Rollup.present(Rollup.rollupRaw(df, unit))
      assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0, s"tier $unit")
    }

    // crash after some batches, then resume with the same runId
    val rootB = tmp()
    val jobB = new RollupJob(spark, rootB, nBuckets = 4)
    jobB.runPartial(df, "jobB", maxBatches = 4)
    jobB.run(df, "jobB") // resume
    val got1d = Rollup.present(jobB.tier1d.read())
    val want1d = Rollup.present(Rollup.rollupRaw(df, "day"))
    assert(got1d.exceptAll(want1d).count() == 0 && want1d.exceptAll(got1d).count() == 0)
  }

  test("RollupJob scans the raw input exactly once per batch — and ZERO extra full passes") {
    // a test-only accumulator UDF below the rollup counts per-row
    // evaluations of the raw frame: rows served from the persisted 1m
    // partials are never re-evaluated, so total evaluations ==
    // n_batches × n_rows iff raw is scanned once per batch and batch
    // enumeration is metadata-driven. The old lazy-cascade shape
    // re-executed the raw scan for the 1h and 1d merges too (3× per
    // batch), and the old distinct(date_format) enumeration added one
    // more complete pass; batchLabels' min/max(ts) aggregate prunes
    // the instrumented v column entirely (r2 verdict: derive batch
    // labels from metadata, not a full scan).
    // (observe()-metric counting is unusable: CollectMetrics nodes
    // break cache-plan matching, defeating the very persist under test.
    // And the raw frame must be parquet-backed: ConvertToLocalRelation
    // evaluates projections over in-memory relations eagerly per
    // query, which would charge every batch a full-table evaluation
    // regardless of pushdown.)
    val acc = spark.sparkContext.longAccumulator("rawRowEvals")
    val tick = udf { (v: Double) => acc.add(1L); v }
    val pqDir = tmp()
    (0 until 2000).map { i =>
      Point(s"k${i % 4}", t(i * 311), ((i * 131) % 700) / 4.0)
    }.toDF().write.mode("overwrite").parquet(pqDir)
    val pq = spark.read.parquet(pqDir)
    val raw = pq.withColumn("v", tick(col("v")))
    val job = new RollupJob(spark, tmp(), nBuckets = 4)
    val nBatches = job.batchLabels(pq).size // uninstrumented frame
    assert(nBatches > 3) // multi-batch input, or the test proves nothing
    job.run(raw, "scanCount")
    // == n_rows exactly: each batch's pruned scan evaluates only its
    // own day's rows (ts-range filter pushes below the projection),
    // batchLabels' min/max(ts) prunes the v column entirely (zero
    // evaluations), and the persisted 1m partials serve the 1h/1d
    // cascades — so across the WHOLE job every raw row is read once.
    assert(acc.value == 2000,
      s"raw row evaluations ${acc.value}, want 2000 " +
        s"(= every raw row exactly once across $nBatches batches)")
  }

  test("expireSnapshots reclaims superseded copy-on-write dirs; reads + resume unaffected") {
    val root = tmp()
    val tt = new TierTable(spark, root, nBuckets = 4, compactEvery = 3)
    // 8 merges over the SAME partitions: copy-on-write leaves 8 data
    // dirs on disk while only the newest is live
    val batches = (0 until 8).map(i => mkPts(2, 120, startSec = i * 60L))
    batches.zipWithIndex.foreach { case (b, i) =>
      tt.merge(Rollup.rollupRaw(b.toDF(), "minute"), s"r$i")
    }
    val dataDirs = java.nio.file.Files.list(java.nio.file.Paths.get(root, "data"))
    val nDirsBefore = try dataDirs.count() finally dataDirs.close()
    assert(nDirsBefore == 8L)
    val before = Rollup.present(tt.read()).collect().toSet
    val headBefore = tt.currentVersion

    val (manifests, dirs) = tt.expireSnapshots(keepLast = 2)
    // anchor = newest full snapshot (v6, compactEvery=3) with >= 2
    // versions at/above it → manifests v0..v5 expired, and every data
    // dir referenced only by them deleted
    assert(manifests == 6, s"expired $manifests manifests")
    assert(dirs >= 5, s"deleted $dirs data dirs")
    // reads are bit-identical, HEAD unchanged, time travel to
    // surviving versions still resolves
    assert(tt.currentVersion == headBefore)
    assert(Rollup.present(tt.read()).collect().toSet == before)
    // resume lineage survives expiration (it lives in the entries,
    // which carry forward): a retried old runId is still skipped
    tt.merge(Rollup.rollupRaw(batches(3).toDF(), "minute"), "r3")
    assert(Rollup.present(tt.read()).collect().toSet == before)
    // and an idle table expires to nothing further
    assert(tt.expireSnapshots(keepLast = 2) == ((0, 0)))
  }

  test("retention drop is metadata-only; expiration then reclaims the dropped partitions' files") {
    val root = tmp()
    val tt = new TierTable(spark, root, nBuckets = 4, compactEvery = 100)
    // 6 disjoint day batches (one partitioned day each)
    val batches = (0 until 6).map(d => mkPts(2, 100, startSec = d * 86400L))
    batches.zipWithIndex.foreach { case (b, i) =>
      tt.merge(Rollup.rollupRaw(b.toDF(), "minute"), s"r$i")
    }
    val allDays = tt.resolvedEntries.map(_.pd).distinct.sorted
    assert(allDays.size == 6)
    val cutoff = allDays(3)
    val before = Rollup.present(tt.read()).collect().toSet

    val dropped = tt.dropPartitionsBefore(cutoff)
    assert(dropped > 0)
    // live view = rollup of only the retained days, and the drop did
    // NOT touch any data file (metadata-only): dir count unchanged
    val want = Rollup.present(Rollup.rollupRaw(
      batches.drop(3).flatten.toDF(), "minute")).collect().toSet
    assert(Rollup.present(tt.read()).collect().toSet == want)
    val nd = { val s = java.nio.file.Files.list(java.nio.file.Paths.get(root, "data"))
      try s.count() finally s.close() }
    assert(nd == 6L)
    // every live partition is at or after the cutoff
    assert(tt.resolvedEntries.forall(_.pd >= cutoff))

    // expiration anchored at the retention FULL manifest reclaims the
    // dropped days' files; the live view is untouched
    val (_, dirsReclaimed) = tt.expireSnapshots(keepLast = 1)
    assert(dirsReclaimed == 3, s"reclaimed $dirsReclaimed dirs")
    assert(Rollup.present(tt.read()).collect().toSet == want)
    assert(before != want) // the drop really removed data from the live view
  }

  test("batchLabels falls back to exact enumeration when an outlier stretches the calendar") {
    val job = new RollupJob(spark, tmp(), nBuckets = 4)
    val normal = (0 until 500).map(i => Point(s"k${i % 2}", t(i * 311), i.toDouble))
    // well-behaved span: calendar enumeration, contiguous labels
    val cal = job.batchLabels(normal.toDF())
    assert(cal.size >= 2 && cal == cal.sorted)
    // one corrupt 1970 row would stretch the calendar to ~19k day
    // labels; the guard must switch to exact distinct enumeration —
    // the real days plus the outlier's own day, nothing in between
    val poisoned = normal :+ Point("k0", new java.sql.Timestamp(0L), 1.0)
    val got = job.batchLabels(poisoned.toDF())
    assert(got.size == cal.size + 1, s"got ${got.size} labels, want ${cal.size + 1}")
    assert(got.head == "1970-01-01" && got.tail == cal)
  }

  test("job-level retention: fine tiers age out, the 1d tier keeps everything") {
    val pts = (0 until 2500).map { i =>
      Point(s"k${i % 3}", t(i * 311), ((i * 131) % 700) / 4.0)
    }.toDF()
    val job = new RollupJob(spark, tmp(), nBuckets = 4)
    job.run(pts, "jobR")
    val days = job.tier1m.resolvedEntries.map(_.pd).distinct.sorted
    assert(days.size >= 5)
    // "today" = the last day; keep 1m for 2 days, 1h for 4
    val (d1m, d1h) = job.applyRetention(days.last, keep1mDays = 2, keep1hDays = 4)
    assert(d1m > 0 && d1h > 0 && d1m >= d1h)
    assert(job.tier1m.resolvedEntries.map(_.pd).distinct.size < days.size)
    // the 1d tier still reproduces the FULL day rollup
    val got = Rollup.present(job.tier1d.read())
    val want = Rollup.present(Rollup.rollupRaw(pts, "day"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    // retained windows of the 1m tier still match the direct rollup
    val keptDays = job.tier1m.resolvedEntries.map(_.pd).distinct.sorted
    val got1m = Rollup.present(job.tier1m.read(keptDays.head, keptDays.last))
    val want1m = Rollup.present(Rollup.rollupRaw(pts, "minute"))
      .where(date_format(col("bucket"), "yyyy-MM-dd") >= keptDays.head)
    assert(got1m.exceptAll(want1m).count() == 0 && want1m.exceptAll(got1m).count() == 0)
    job.expireAll(keepLast = 1) // maintenance composes without error
    assert(Rollup.present(job.tier1d.read()).exceptAll(want).count() == 0)
  }

  test("expireSnapshots with no old-enough full snapshot is a safe no-op") {
    val root = tmp()
    val tt = new TierTable(spark, root, nBuckets = 4, compactEvery = 100)
    (0 until 3).foreach(i =>
      tt.merge(Rollup.rollupRaw(mkPts(2, 80, startSec = i * 60L).toDF(), "minute"), s"r$i"))
    val before = Rollup.present(tt.read()).collect().toSet
    // versions 1..3 are all deltas over full v0... v0 IS full? v0 % 100 == 0 → full.
    // keepLast=2 → cutoff v2, anchor = v0 (newest full ≤ 2): expires nothing below v0.
    assert(tt.expireSnapshots(keepLast = 2) == ((0, 0)))
    assert(Rollup.present(tt.read()).collect().toSet == before)
  }

  test("I/O failure on an existing committed manifest SURFACES: no silent fallback, vacuum aborts") {
    // a transient read error on a VALID manifest must never be treated
    // like crash-truncation: falling back would let the next merge
    // commit past the real HEAD (dropping its updates from the chain)
    // and vacuum would sweep that version's live dirs as orphans
    val root = tmp()
    val tt = new TierTable(spark, root, nBuckets = 2)
    tt.merge(Rollup.rollupRaw(mkPts(2, 200).toDF(), "minute"), "runA")
    tt.merge(Rollup.rollupRaw(mkPts(2, 200, 200 * 157).toDF(), "minute"), "runB")
    val v = tt.currentVersion
    val p = java.nio.file.Paths.get(root, "_meta", s"v$v.json")
    val bytes = Files.readAllBytes(p)
    // simulate EIO-class failure: a directory where the file was —
    // Files.readAllBytes throws FileSystemException (an IOException
    // that is NOT NoSuchFile and NOT a parse failure)
    Files.delete(p); Files.createDirectory(p)
    intercept[java.io.IOException] { tt.readableHead }
    intercept[java.io.IOException] { tt.vacuum() }
    // restore → everything reads again, nothing was lost or swept
    Files.delete(p); Files.write(p, bytes)
    assert(tt.readableHead == v && tt.read().count() > 0)
  }

  test("empty AppendIndexTable batch: no orphan dir, runId still committed (crash-resume terminates)") {
    val root = tmp()
    val idx = new graft.tables.AppendIndexTable(spark, root, nBuckets = 2)
    val rows = Seq((1L, 0, "b0")).toDF("doc_id", "band", "bucket")
    assert(idx.append(rows, "r0", "bucket"))
    val dirsBefore = java.nio.file.Paths.get(root, "data").toFile.list().toSet
    // empty batch: committed() must turn true WITHOUT writing any dir
    assert(idx.append(rows.where(lit(false)), "rEmpty", "bucket"))
    assert(idx.committed("rEmpty"))
    assert(java.nio.file.Paths.get(root, "data").toFile.list().toSet == dirsBefore)
    // replay of the empty batch is a lineage no-op, and reads skip the marker
    val vBefore = idx.currentVersion
    assert(!idx.append(rows.where(lit(false)), "rEmpty", "bucket"))
    assert(idx.currentVersion == vBefore)
    assert(idx.read().count() == 1)
  }

  test("AppendIndexTable.compact: one dir per bucket, row set + lineage + resume unchanged") {
    val root = tmp()
    val idx = new graft.tables.AppendIndexTable(spark, root, nBuckets = 2)
    def mk(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, (i % 3).toInt, s"b${i % 5}"))
        .toDF("doc_id", "band", "bucket")
    assert(idx.append(mk(0, 40), "r0", "bucket"))
    assert(idx.append(mk(40, 80), "r1", "bucket"))
    assert(idx.append(mk(0, 1).where(lit(false)), "rE", "bucket")) // marker
    assert(idx.append(mk(80, 120), "r2", "bucket"))
    val key = (r: org.apache.spark.sql.Row) => r.mkString("|")
    val before = idx.read().select("doc_id", "band", "bucket")
      .collect().map(key).sorted
    val vPre = idx.currentVersion
    val dataDirsBefore = idx.resolvedEntries.count(_.dir.nonEmpty)
    assert(dataDirsBefore > 2)
    assert(idx.compact())
    // row SET identical, physically ≤ nBuckets consolidated dirs
    assert(idx.read().select("doc_id", "band", "bucket")
      .collect().map(key).sorted.sameElements(before))
    val dataDirsAfter = idx.resolvedEntries.count(_.dir.nonEmpty)
    assert(dataDirsAfter <= 2 && dataDirsAfter < dataDirsBefore)
    // lineage survives on the marker entry — every batch (incl. the
    // empty one) still reads committed, so crash-resume replays stay
    // no-ops (the one-shot-equivalence contract)
    Seq("r0", "r1", "rE", "r2").foreach(r => assert(idx.committed(r), r))
    val vPost = idx.currentVersion
    assert(!idx.append(mk(40, 80), "r1", "bucket"))
    assert(idx.currentVersion == vPost)
    // second compact of a single consolidated generation is a no-op
    assert(!idx.compact())
    // time travel to the pre-compact snapshot is intact
    assert(idx.readAt(vPre).count() == before.length)
    // append after compact, compact again: lineage keeps accumulating
    assert(idx.append(mk(120, 160), "r3", "bucket"))
    assert(idx.compact())
    Seq("r0", "r1", "rE", "r2", "r3").foreach(r => assert(idx.committed(r), r))
    // expiry anchored on the compact FULL manifest + vacuum reclaim
    // the superseded per-batch dirs; the live read is unaffected
    val (expired, deleted) = idx.expireSnapshots(keepLast = 1)
    assert(expired > 0 && deleted > 0)
    assert(idx.read().count() == before.length + 40)
  }

  test("compact leaves every query-time derivation bit-identical (DedupIndex pairs)") {
    val root = tmp()
    val docs = (0L until 60L).map { i =>
      val base = s"alpha beta gamma delta epsilon zeta eta theta iota kappa doc$i"
      // planted duplicates so candidatePairs is non-trivial
      (i, if (i % 7 == 0) "alpha beta gamma delta epsilon zeta eta theta iota kappa shared"
          else base)
    }.toDF("doc_id", "text")
    val idx = new DedupIndex(spark, root, k = 16, bands = 4, portable = true)
    (0 until 3).foreach { b =>
      idx.addBatch(docs.where(pmod(col("doc_id"), lit(3)) === b), s"cb$b")
    }
    val key = (r: org.apache.spark.sql.Row) => r.mkString("|")
    val before = idx.candidatePairs().collect().map(key).sorted
    assert(before.nonEmpty)
    assert(idx.table.compact())
    val after = idx.candidatePairs().collect().map(key).sorted
    assert(after.sameElements(before))
  }

  test("time-pruned read scans only in-range day partitions") {
    val root = tmp()
    val tt = new TierTable(spark, root, nBuckets = 4)
    // two batches two weeks apart
    tt.merge(Rollup.rollupRaw(mkPts(2, 200).toDF(), "minute"), "r1")
    tt.merge(Rollup.rollupRaw(mkPts(2, 200, startSec = 14L * 86400).toDF(), "minute"), "r2")
    val all = tt.read().count()
    val firstWeek = tt.read("2024-01-01", "2024-01-07").count()
    val secondHalf = tt.read("2024-01-10", "2024-02-28").count()
    assert(firstWeek > 0 && secondHalf > 0)
    assert(firstWeek + secondHalf == all)
    assert(tt.read("2030-01-01", "2030-12-31").count() == 0)
  }
}
