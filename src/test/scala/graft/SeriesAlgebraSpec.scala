package graft

import org.apache.spark.sql.functions._
import graft.model.Point
import graft.operators._

class SeriesAlgebraSpec extends SparkSpecBase {
  import spark.implicits._

  val xs = Seq(1.0, 2.0, 4.0, 7.0, 11.0, 16.0)
  def pts(k: String, vs: Seq[Double]) =
    vs.zipWithIndex.map { case (v, i) => Point(k, t(i * 60), v) }.toDF()

  test("element-wise plus/minus/dottimes/dotdivide on aligned series") {
    val a = pts("a", xs)
    val b = pts("a", xs.map(_ * 2))
    def vals(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("ts").select("v").as[Double].collect().toSeq
    assert(vals(SeriesAlgebra.plus(a, b)) == xs.map(_ * 3))
    assert(vals(SeriesAlgebra.minus(b, a)) == xs)
    assert(vals(SeriesAlgebra.dottimes(a, a)) == xs.map(x => x * x))
    assert(vals(SeriesAlgebra.dotdivide(b, a)) == xs.map(_ => 2.0))
  }

  test("dotdivide by zero yields null, not an ANSI error") {
    val a = pts("a", Seq(6.0))
    val z = pts("a", Seq(0.0))
    val got = SeriesAlgebra.dotdivide(a, z).select("v").as[Option[Double]].collect()
    assert(got.toSeq == Seq(None))
  }

  test("sketched rollup cascade: kll_n tracks cnt exactly through tiers") {
    val p = (0 until 2000).map { i =>
      Point(s"k${i % 3}", t(i * 97), ((i * 31) % 500) / 4.0)
    }.toDF()
    val m1 = Rollup.rollupRaw(p, "minute", sketched = true)
    val d1 = Rollup.cascade(Rollup.cascade(m1, "hour"), "day")
    val pres = Rollup.presentSketched(d1).collect()
    assert(pres.nonEmpty)
    pres.foreach { r =>
      assert(r.getAs[Long]("kll_n") == r.getAs[Long]("cnt"))
      val p50 = r.getAs[Double]("p50")
      assert(p50 >= r.getAs[Double]("min_v") && p50 <= r.getAs[Double]("max_v"))
    }
    // quantile sanity vs exact percentile on a single bucket
    val one = (0 until 150).map(i => Point("z", t(i.toLong), i.toDouble)).toDF()
    val pr = Rollup.presentSketched(Rollup.rollupRaw(one, "day", sketched = true)).collect().head
    assert(math.abs(pr.getAs[Double]("p50") - 74.5) <= 1.5)
  }

  test("aggregateByIndex generic grouped aggregation") {
    val got = SeriesAlgebra.aggregateByIndex(pts("a", xs),
        (col("ts").cast("long") % 120 === 0).cast("int"), sum(col("v")))
      .orderBy("label").select("v").as[Double].collect().toSeq
    // even minutes: 1+4+11=16? positions 0,2,4 → label 1; 1,3,5 → label 0
    assert(got == Seq(2.0 + 7.0 + 16.0, 1.0 + 4.0 + 11.0))
  }

  test("statByIndexMulti: one grouping-sets pass yields consistent stats at every level") {
    // 2 keys × 2 hours × values spread over minutes
    val p = (0 until 240).map { i =>
      Point(s"k${i % 2}", t(i * 60), (i % 7).toDouble)
    }.toDF()
    val got = SeriesAlgebra.statByIndexMulti(p, hour(col("ts")), minute(col("ts")))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3)) ->
        (r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7))).toMap
    // level counts: fine rows roll up exactly to their parents
    val fine = got.filter(_._1._2 == 0)
    val perL1 = got.filter(_._1._2 == 1)
    val perKey = got.filter(_._1._2 == 3)
    val total = got.filter(_._1._2 == 7)
    assert(total.size == 1 && total.head._1 == ("<all>", 7, -1, -1))
    assert(total.head._2._1 == 240L)
    assert(fine.values.map(_._1).sum == 240L && perL1.values.map(_._1).sum == 240L)
    perKey.foreach { case ((k, _, _, _), (n, mean, mn, mx)) =>
      val children = perL1.filter(_._1._1 == k)
      assert(children.values.map(_._1).sum == n)
      assert(mn == children.values.map(_._3).min && mx == children.values.map(_._4).max)
      assertClose(mean, children.values.map(c => c._2 * c._1).sum / n)
    }
    // grouped-out labels surface as -1, never NULL (dtype-strict gate)
    assert(got.keys.forall { case (_, gid, l1, l2) =>
      (gid != 1 || l2 == -1) && (gid != 3 || (l1 == -1 && l2 == -1)) })
  }

  test("asofJoin plans exactly one exchange (union + one shared window sort)") {
    val probes = pts("a", xs)
    val refs = Seq(("a", t(60), 10.0), ("a", t(180), 30.0)).toDF("key", "ts", "rv")
    val plan = SeriesAlgebra.asofJoin(probes, refs, Seq("rv"))
      .queryExecution.executedPlan.toString
    val ex = plan.sliding("Exchange".length).count(_ == "Exchange") -
      plan.sliding("BroadcastExchange".length).count(_ == "BroadcastExchange")
    assert(ex == 1, s"expected one exchange:\n$plan")
  }

  test("rangeJoin: bucket-explode rewrite equals naive BETWEEN semantics") {
    // points at minutes 0..5 for key a
    val p = pts("a", xs)
    val iv = Seq(
      ("a", 1, t(60), t(180)),   // exact bucket-boundary ends: points 60..180 inclusive
      ("a", 2, t(30), t(250)),   // spans buckets 0..4 at 60 s buckets
      ("a", 3, t(500), t(600)),  // no points in range
      ("b", 4, t(0), t(300))     // other key: never matches a's points
    ).toDF("key", "iid", "t0", "t1")
    def matched(bucketSecs: Long) =
      SeriesAlgebra.rangeJoin(p, iv, "t0", "t1", bucketSecs)
        .select("iid", "ts").as[(Int, java.sql.Timestamp)].collect().toSeq
        .map { case (i, ts) => (i, (ts.getTime - t(0).getTime) / 1000) }.sorted
    val expect = Seq(1 -> 60L, 1 -> 120L, 1 -> 180L,
      2 -> 60L, 2 -> 120L, 2 -> 180L, 2 -> 240L)
    // identical answers (and no duplicates) whether intervals fit one
    // bucket or explode across five
    assert(matched(60L) == expect)
    assert(matched(3600L) == expect)
  }

  test("rangeJoin rejects sides sharing non-key columns (ambiguous output)") {
    val p = pts("a", xs)
    val iv = Seq(("a", t(0), t(60), 9.9)).toDF("key", "t0", "t1", "v")
    val e = intercept[IllegalArgumentException] {
      SeriesAlgebra.rangeJoin(p, iv, "t0", "t1", 60L)
    }
    assert(e.getMessage.contains("share only the join key"))
  }

  test("asofJoin: latest ref at-or-before each probe, inclusive ties, null before first ref") {
    // probes at 0..5 min; refs at 1 min (rv=10) and 3 min (rv=30)
    val probes = pts("a", xs)
    val refs = Seq((t(60), 10.0), (t(180), 30.0))
      .map { case (ts, rv) => ("a", ts, rv) }.toDF("key", "ts", "rv")
    val got = SeriesAlgebra.asofJoin(probes, refs, Seq("rv"))
      .orderBy("ts").select("rv").as[Option[Double]].collect().toSeq
    assert(got == Seq(None, Some(10.0), Some(10.0), Some(30.0), Some(30.0), Some(30.0)))
    // key isolation: a ref under another key never leaks
    val refsB = Seq(("b", t(0), 99.0)).toDF("key", "ts", "rv")
    val gotB = SeriesAlgebra.asofJoin(probes, refs.unionByName(refsB), Seq("rv"))
      .orderBy("ts").select("rv").as[Option[Double]].collect().toSeq
    assert(gotB == got)
  }

  test("asofJoin direction/strict: the four ASOF comparisons at exact-tie boundaries") {
    // probes at 0..5 min; refs AT probe instants 1 min (10) and 3 min
    // (30) — every variant differs precisely at the tie rows
    val probes = pts("a", xs)
    val refs = Seq(("a", t(60), 10.0), ("a", t(180), 30.0)).toDF("key", "ts", "rv")
    def run(direction: String, strict: Boolean) =
      SeriesAlgebra.asofJoin(probes, refs, Seq("rv"), direction, strict)
        .orderBy("ts").select("rv").as[Option[Double]].collect().toSeq
    // backward inclusive (>=): tie row sees its own-instant ref
    assert(run("backward", strict = false) ==
      Seq(None, Some(10.0), Some(10.0), Some(30.0), Some(30.0), Some(30.0)))
    // backward strict (>): tie rows fall back to the previous ref
    assert(run("backward", strict = true) ==
      Seq(None, None, Some(10.0), Some(10.0), Some(30.0), Some(30.0)))
    // forward inclusive (<=): earliest ref at-or-after; tail is NULL
    assert(run("forward", strict = false) ==
      Seq(Some(10.0), Some(10.0), Some(30.0), Some(30.0), None, None))
    // forward strict (<): tie rows skip ahead to the NEXT ref
    assert(run("forward", strict = true) ==
      Seq(Some(10.0), Some(30.0), Some(30.0), None, None, None))
    // nearest (ties → backward): probe 120 is equidistant (60 µs-min
    // each way) → backward ref wins; one-sided rows take that side
    val nearest = SeriesAlgebra.asofNearest(probes, refs, Seq("rv"))
      .orderBy("ts").select("rv").as[Option[Double]].collect().toSeq
    assert(nearest ==
      Seq(Some(10.0), Some(10.0), Some(10.0), Some(30.0), Some(30.0), Some(30.0)))
  }

  test("asof tolerance (pandas merge_asof): inclusive boundary, per-direction and nearest") {
    // probes at 0..5 min; refs at 1 min (10) and 3 min (30)
    val probes = pts("a", xs)
    val refs = Seq(("a", t(60), 10.0), ("a", t(180), 30.0)).toDF("key", "ts", "rv")
    def run(tolSec: Long) =
      SeriesAlgebra.asofJoin(probes, refs, Seq("rv"),
          toleranceUs = Some(tolSec * 1000000L))
        .orderBy("ts").select("rv").as[Option[Double]].collect().toSeq
    // tol = 60 s, INCLUSIVE: probes exactly 60 s past a ref keep it
    assert(run(60) ==
      Seq(None, Some(10.0), Some(10.0), Some(30.0), Some(30.0), None))
    // tol = 59 s: the 60 s-distant probes drop (strictly-beyond test)
    assert(run(59) ==
      Seq(None, Some(10.0), None, Some(30.0), None, None))
    // tol = 0: only exact-instant matches survive
    assert(run(0) ==
      Seq(None, Some(10.0), None, Some(30.0), None, None))
    // nearest with tolerance: the equidistant probe at 2 min (60 s to
    // both refs) keeps the backward pick at tol 60, drops at tol 59;
    // a probe whose ONLY in-tolerance candidate is forward takes it
    def near(tolSec: Long) =
      SeriesAlgebra.asofNearest(probes, refs, Seq("rv"),
          toleranceUs = Some(tolSec * 1000000L))
        .orderBy("ts").select("rv").as[Option[Double]].collect().toSeq
    assert(near(60) ==
      Seq(Some(10.0), Some(10.0), Some(10.0), Some(30.0), Some(30.0), None))
    assert(near(59) ==
      Seq(None, Some(10.0), None, Some(30.0), None, None))
  }

  test("asofJoin attaches the MATCHED row's values verbatim — a NULL right value stays NULL") {
    // ref at 1 min carries (10.0, x); ref at 3 min carries (NULL, y):
    // probes at/after 3 min must see rv = NULL (the matched ROW's
    // value, DuckDB native-ASOF semantics) — per-column carry would
    // bleed 10.0 forward from the older ref and mix rows
    val probes = pts("a", xs)
    val refs = Seq(
      ("a", t(60), Option(10.0), "x"),
      ("a", t(180), Option.empty[Double], "y")
    ).toDF("key", "ts", "rv", "tag")
    val got = SeriesAlgebra.asofJoin(probes, refs, Seq("rv", "tag"))
      .orderBy("ts").select("rv", "tag")
      .as[(Option[Double], Option[String])].collect().toSeq
    assert(got == Seq(
      (None, None), (Some(10.0), Some("x")), (Some(10.0), Some("x")),
      (None, Some("y")), (None, Some("y")), (None, Some("y"))))
    // same discipline on the fused nearest pass: probe at 4 min is
    // nearer the NULL-valued ref than the non-null one
    val near = SeriesAlgebra.asofNearest(probes, refs, Seq("rv", "tag"))
      .orderBy("ts").select("rv", "tag")
      .as[(Option[Double], Option[String])].collect().toSeq
    assert(near == Seq(
      (Some(10.0), Some("x")), (Some(10.0), Some("x")), (Some(10.0), Some("x")),
      (None, Some("y")), (None, Some("y")), (None, Some("y"))))
  }

  test("asofNearest plans exactly one exchange (backward+forward frames share one sort)") {
    val probes = pts("a", xs)
    val refs = Seq(("a", t(60), 10.0), ("a", t(180), 30.0)).toDF("key", "ts", "rv")
    val plan = SeriesAlgebra.asofNearest(probes, refs, Seq("rv"))
      .queryExecution.executedPlan.toString
    val ex = plan.sliding("Exchange".length).count(_ == "Exchange") -
      plan.sliding("BroadcastExchange".length).count(_ == "BroadcastExchange")
    assert(ex == 1, s"expected one exchange:\n$plan")
  }
}
