package graft

import org.apache.spark.sql.functions._
import graft.model.Point
import graft.operators._
import graft.functions.FreqAgg
import graft.local.LocalOracle

/** Segment encode/decode round trip through the Spark plan, and KLL
  * sketch behavior (exact below compaction threshold, merge law). */
class SegmentsSpec extends SparkSpecBase {
  import spark.implicits._

  test("segments round-trip points bit-exactly through encode/decode") {
    val pts = (0 until 500).map { i =>
      Point(s"k${i % 3}", t(i * 137), ((i * 7919) % 10000) / 16.0)
    }.toDF()
    val back = Segments.fromSegments(Segments.toSegments(pts, "day"))
    assert(back.exceptAll(pts.select("key", "ts", "v")).count() == 0)
    assert(pts.select("key", "ts", "v").exceptAll(back).count() == 0)
  }

  test("segment stats match rollup of raw points") {
    val pts = (0 until 200).map { i =>
      Point("a", t(i * 61), (i % 13) * 1.5)
    }.toDF()
    val seg = Segments.toSegments(pts, "day")
      .select(col("key"), col("bucket"), col("n").cast("long").as("cnt"),
        col("sum_d"), col("min_v"), col("max_v"))
    val roll = Rollup.rollupRaw(pts, "day")
      .select(col("key"), col("bucket"), col("cnt"), col("sum_d"),
        col("min_v"), col("max_v"))
    assert(seg.exceptAll(roll).count() == 0 && roll.exceptAll(seg).count() == 0)
  }

  test("KLL sketch: exact quantiles below compaction, close above") {
    val xs = (1 to 150).map(_.toDouble)
    val df = xs.map(v => Point("a", t(v.toLong), v)).toDF()
    val sk = df.agg(Rollup.kllSketch(col("v")).as("sk"))
      .select(kll_sketch_get_quantile_double(col("sk"), lit(0.5)).as("med"),
        kll_sketch_get_n_double(col("sk")).as("n"))
      .collect().head
    assert(sk.getAs[Long]("n") == 150L)
    assert(math.abs(sk.getAs[Double]("med") - 75.0) <= 1.0)
    // large n: rank error within KLL k=200 bound (~1.65%)
    val big = (1 to 50000).map(i => Point("b", t(i.toLong), i.toDouble)).toDF()
    val q = big.agg(Rollup.kllSketch(col("v")).as("sk"))
      .select(kll_sketch_get_quantile_double(col("sk"), lit(0.9)).as("p90"))
      .collect().head.getDouble(0)
    assert(math.abs(q - 45000.0) / 50000.0 < 0.02, s"p90=$q")
  }

  test("KLL format pin: exact-regime sketch bytes are datasketches' KllDoublesSketch(k = 200)") {
    // Stored tiers stay mergeable only while the sketch column keeps
    // this serialized form. One partition: the partial sketch is the
    // values updated in arrival order, and the final aggregate merges
    // it into an empty sketch (KLL's merge replays level 0 newest
    // first, so this equals a direct update in reverse order).
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    def mergedIntoEmpty(sk: KllDoublesSketch): KllDoublesSketch = {
      val m = KllDoublesSketch.newHeapInstance(200)
      m.merge(sk)
      m
    }
    val xs = (0 until 150).map(i => ((i * 37) % 150) / 8.0)
    val got = xs.toDF("v").coalesce(1).agg(Rollup.kllSketch(col("v")))
      .head().getAs[Array[Byte]](0)
    val partial = KllDoublesSketch.newHeapInstance(200)
    xs.foreach(partial.update)
    assert(got.sameElements(mergedIntoEmpty(partial).toByteArray))
    // a stored sketch re-merged by the tier path (partial merge, then
    // final merge) keeps the same form
    val remerged = Seq(Tuple1(got)).toDF("sk").agg(Rollup.kllMerge(col("sk")))
      .head().getAs[Array[Byte]](0)
    val want = mergedIntoEmpty(mergedIntoEmpty(KllDoublesSketch.heapify(Memory.wrap(got))))
    assert(remerged.sameElements(want.toByteArray))
  }

  test("frequent-items sketch: exact below purge threshold, bounded error above, cascade merge") {
    // EXACT regime: 40 distinct items <= 0.75 * 64 → every estimate is
    // the true count with lb == ub (the oracle-certifiable regime)
    val pts = (0 until 4000).map(i => (s"item${i % 40}", i % 7)).toDF("item", "g")
    val exact = pts.groupBy("item").count().as[(String, Long)].collect().toMap
    val got = pts.agg(FreqAgg.freq_sketch(col("item"), 64).as("sk"))
      .select(explode(FreqAgg.freq_items(col("sk"))).as("fi"))
      .select(col("fi.item"), col("fi.est"), col("fi.lb"), col("fi.ub"))
      .collect()
    assert(got.length == 40)
    got.foreach { r =>
      assert(r.getAs[Long]("est") == exact(r.getAs[String]("item")))
      assert(r.getAs[Long]("lb") == r.getAs[Long]("ub"))
    }
    // APPROX regime: 4000 distinct in a 64-slot sketch — a planted
    // heavy hitter survives with error <= the published a-priori bound
    val skewed = ((0 until 2000).map(i => s"rare$i") ++ Seq.fill(500)("HOT"))
    val sk2 = skewed.toDF("item").agg(FreqAgg.freq_sketch(col("item"), 64).as("sk"))
    val hot = sk2.select(FreqAgg.freq_estimate(col("sk"), lit("HOT")).as("e"))
      .head().getAs[Long]("e")
    assert(hot >= 500 && hot <= 500 + (2500 * 3.5 / 64).toLong, s"HOT=$hot")
    // CASCADE: per-group sketches merged via freq_merge == direct (exact regime)
    val merged = pts.groupBy("g").agg(FreqAgg.freq_sketch(col("item"), 64).as("sk"))
      .agg(FreqAgg.freq_merge(col("sk"), 64).as("sk"))
      .select(explode(FreqAgg.freq_items(col("sk"))).as("fi"))
      .select(col("fi.item"), col("fi.est")).as[(String, Long)].collect().toMap
    assert(merged == exact)
  }

  test("freq sketch stores EXTERNAL item form via the Column API (date/timestamp probes match)") {
    // ADVICE r3: without the Cast in the Column wrapper, update() saw
    // internal Catalyst values (day numbers / epoch micros) and the
    // external-form probe silently estimated 0
    val pts = (0 until 90).map(i => Point(s"k", t(i.toLong * 86400), 1.0)).toDF()
    val byDay = pts.agg(FreqAgg.freq_sketch(to_date(col("ts")), 256).as("sk"))
    assert(byDay.select(FreqAgg.freq_estimate(col("sk"), lit("2024-01-03")).as("e"))
      .head().getLong(0) == 1L)
    val byTs = pts.agg(FreqAgg.freq_sketch(col("ts"), 256).as("sk"))
    assert(byTs.select(
        FreqAgg.freq_estimate(col("sk"), lit("2024-01-03 00:00:00")).as("e"))
      .head().getLong(0) == 1L)
    // and the items list carries external strings, not epoch micros
    val items = byDay.select(explode(FreqAgg.freq_items(col("sk"))).as("fi"))
      .select(col("fi.item")).as[String].collect()
    assert(items.contains("2024-01-05") && items.forall(_.startsWith("2024-")))
  }

  test("KLL merge law: sketch(a++b) ≈ merge(sketch(a), sketch(b)); cascade via kll_merge") {
    val pts = (0 until 2000).map { i =>
      Point(s"k${i % 4}", t(i * 97), ((i * 31) % 500) / 3.0)
    }.toDF()
    // per-minute sketches merged up to one per key == direct per-key sketch (same n)
    val perMin = pts.groupBy(col("key"), date_trunc("hour", col("ts")).as("b"))
      .agg(Rollup.kllSketch(col("v")).as("sk"))
    val merged = perMin.groupBy(col("key"))
      .agg(Rollup.kllMerge(col("sk")).as("sk"))
      .select(col("key"), kll_sketch_get_n_double(col("sk")).as("n"),
        kll_sketch_get_quantile_double(col("sk"), lit(0.5)).as("med"))
    val direct = pts.groupBy(col("key"))
      .agg(Rollup.kllSketch(col("v")).as("sk"))
      .select(col("key"), kll_sketch_get_n_double(col("sk")).as("n"),
        kll_sketch_get_quantile_double(col("sk"), lit(0.5)).as("dmed"))
    val j = merged.join(direct, "key").collect()
    assert(j.nonEmpty)
    j.foreach { r =>
      assert(r.getAs[Long]("n") == 500L)
      // both sketches see all 500 values exactly? n=500 > k=200 so
      // compaction: medians agree within rank tolerance
      assert(math.abs(r.getAs[Double]("med") - r.getAs[Double]("dmed")) /
        math.max(1.0, r.getAs[Double]("dmed")) < 0.1)
    }
  }
}
