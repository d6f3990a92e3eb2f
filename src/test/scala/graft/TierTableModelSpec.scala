package graft

import java.nio.file.{Files, Paths}
import java.time.ZoneOffset
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.model.Point
import graft.operators.Rollup
import graft.tables.TierTable

/** Model-based state-machine spec for TierTable: seeded random
  * sequences of every writer and maintenance op run against the table
  * and against an in-memory model of the raw points. After each op the
  * table's reads, time travel, row count and partition metrics must
  * equal what the model predicts. `compactEvery` is small so delta
  * chains, full snapshots and expiry anchors all occur. */
class TierTableModelSpec extends SparkSpecBase {
  import spark.implicits._

  private val keys = (0 until 5).map(i => s"k$i")
  private val nBuckets = 2
  private val compactEvery = 3

  private lazy val pbOf: Map[String, Int] = keys.toDF("key")
    .select(col("key"), pmod(xxhash64(col("key")), lit(nBuckets.toLong)).cast("int"))
    .as[(String, Int)].collect().toMap

  private def day(p: Point): String =
    p.ts.toInstant.atZone(ZoneOffset.UTC).toLocalDate.toString
  private def part(p: Point): (Int, String) = (pbOf(p.key), day(p))
  private def dayLabel(d: Int): String = day(Point("", t(d * 86400L), 0.0))

  private def present(pts: Seq[Point]): Set[Row] =
    Rollup.present(Rollup.rollupRaw(pts.toDF(), "minute")).collect().toSet
  private def present(df: DataFrame): Set[Row] =
    if (df.columns.isEmpty) Set.empty else Rollup.present(df).collect().toSet

  /** The table's contents as the model sees them. `raw` holds the
    * points physically in data files; `mask` the keys of pending
    * tombstones, hidden from reads until applied; `lineage` the runIds
    * recorded per live data partition (emptied partitions included). */
  private final class Model {
    var raw = Vector.empty[Point]
    var mask = Set.empty[String]
    var lineage = Map.empty[(Int, String), Vector[String]]
    var lazyIds = Set.empty[String]
    var committed = false

    def visible: Seq[Point] = raw.filterNot(p => mask(p.key))

    /** Copy-on-write delete: each partition holding a hit row and not
      * yet carrying `runId` loses its hit rows and records `runId`. */
    def delete(runId: String, hit: Point => Boolean): Unit = {
      val touched = raw.filter(hit).map(part).toSet
        .filterNot(pt => lineage(pt).contains(runId))
      raw = raw.filterNot(p => hit(p) && touched(part(p)))
      touched.foreach(pt => lineage += pt -> (lineage(pt) :+ runId))
    }

    /** Rollup rows (distinct key × minute) per data partition. */
    def rowsPerPartition: Map[(Int, String), Long] =
      raw.map(p => (part(p), p.key, p.ts.getTime / 60000)).distinct
        .groupBy(_._1).map { case (pt, rs) => pt -> rs.size.toLong }
  }

  private def runSequence(seed: Int, nOps: Int): Unit = withTempDir("graft_tier_model") { root =>
    val rng = new scala.util.Random(seed)
    val tt = new TierTable(spark, root, nBuckets, compactEvery)
    val m = new Model
    var batches = Vector.empty[(Seq[Point], String)]
    val history = scala.collection.mutable.Map[Int, Set[Row]]()
    var head = -1

    def genBatch(): Seq[Point] = {
      val start = rng.nextInt(4) * 86400L
      (0 until 20 + rng.nextInt(30)).map { _ =>
        Point(keys(rng.nextInt(keys.size)), t(start + rng.nextInt(129600)),
          rng.nextInt(1000) / 8.0)
      }
    }
    def someKeys(): Seq[String] = rng.shuffle(keys).take(1 + rng.nextInt(2))

    (0 until nOps).foreach { i =>
      val op = rng.nextInt(100) match {
        case r if r < 35 =>
          val (batch, runId) =
            if (r < 12 && batches.nonEmpty) batches(rng.nextInt(batches.size))
            else { val b = (genBatch(), s"m$i"); batches :+= b; b }
          tt.merge(Rollup.rollupRaw(batch.toDF(), "minute"), runId)
          batch.groupBy(part).foreach { case (pt, ps) =>
            val ids = m.lineage.getOrElse(pt, Vector.empty)
            if (!ids.contains(runId)) {
              m.raw ++= ps
              m.lineage += pt -> (ids :+ runId)
            }
          }
          m.committed = true
          s"merge($runId, ${batch.size} points)"
        case r if r < 45 =>
          val ks = someKeys()
          if (r < 40) tt.deleteKeys(ks, s"d$i") else tt.deleteKeys(ks.toDF("key"), s"d$i")
          m.delete(s"d$i", p => ks.contains(p.key))
          s"deleteKeys(${ks.mkString(",")}, d$i)"
        case r if r < 55 =>
          val (k, d) = (keys(rng.nextInt(keys.size)), 1 + rng.nextInt(3))
          tt.deleteWhere(col("key") === k && col("bucket") < lit(t(d * 86400L)), s"w$i")
          m.delete(s"w$i", p => p.key == k && p.ts.before(t(d * 86400L)))
          s"deleteWhere($k before day $d, w$i)"
        case r if r < 65 =>
          val ks = someKeys()
          val runId = if (r < 58 && m.lazyIds.nonEmpty) m.lazyIds.head else s"z$i"
          tt.deleteKeysLazy(ks, runId)
          if (m.committed && !m.lazyIds(runId)) { m.mask ++= ks; m.lazyIds += runId }
          s"deleteKeysLazy(${ks.mkString(",")}, $runId)"
        case r if r < 73 =>
          tt.applyTombstones(s"a$i")
          if (m.mask.nonEmpty) {
            val ks = m.mask
            m.delete(s"a$i", p => ks(p.key))
            m.mask = Set.empty
          }
          s"applyTombstones(a$i)"
        case r if r < 81 =>
          val cutoff = dayLabel(1 + rng.nextInt(2))
          val dropped = tt.dropPartitionsBefore(cutoff)
          val want = m.lineage.keys.count(_._2 < cutoff)
          assert(dropped == want, s"seed $seed op $i: dropped $dropped partitions, model $want")
          m.raw = m.raw.filterNot(p => day(p) < cutoff)
          m.lineage = m.lineage.filter(_._1._2 >= cutoff)
          s"dropPartitionsBefore($cutoff)"
        case r if r < 91 =>
          val keep = 1 + rng.nextInt(2)
          tt.expireSnapshots(keep)
          s"expireSnapshots($keep)"
        case _ =>
          tt.vacuum()
          "vacuum"
      }
      val ctx = s"seed $seed op $i $op"

      val want = present(m.visible)
      val v = tt.currentVersion
      (head + 1 to v).foreach(history(_) = want)
      head = v
      assert(present(tt.read()) == want, s"$ctx: read() diverged from the model")
      val perPart = m.rowsPerPartition
      assert(tt.countRows == perPart.values.sum, s"$ctx: countRows")
      val metrics = tt.partitionMetrics.where(col("pb") >= 0 && col("n_rows") > 0)
        .select("pb", "pd", "n_rows").as[(Int, String, Long)].collect()
        .map { case (pb, pd, n) => (pb, pd) -> n }.toMap
      assert(metrics == perPart, s"$ctx: partitionMetrics")
      // time travel to the newest surviving versions
      val surviving = history.keys.toSeq.sorted
        .filter(v => Files.exists(Paths.get(root, "_meta", s"v$v.json")))
      if (v >= 0) assert(surviving.contains(v), s"$ctx: HEAD v$v missing")
      surviving.takeRight(3).foreach { sv =>
        assert(present(tt.readAt(sv)) == history(sv), s"$ctx: readAt($sv)")
      }
    }
  }

  test("random op sequences keep reads, time travel, countRows and metrics equal to the model") {
    Seq(11, 23, 37).foreach(seed => runSequence(seed, nOps = 16))
  }
}
