package graft

import org.apache.spark.sql.functions._
import graft.api.Series
import graft.local.LocalOracle
import graft.tables.RollupJob

/** Fluent API chains (thunder-style method chaining) + sketched tier
  * cascade through TierTable MERGE. */
class SeriesApiSpec extends SparkSpecBase {
  import spark.implicits._

  val xs = Seq(1.0, 2.0, 4.0, 7.0, 11.0, 16.0)

  def series(k: String, vs: Seq[Double]): Series =
    Series.fromSeq(spark, vs.zipWithIndex.map { case (v, i) => (k, t(i * 60), v) })

  test("thunder-style chain: center → clip → downsample") {
    val got = series("a", xs).center().clip(-3.0, 3.0).downsample(2)
      .df.orderBy("bin").select("v").as[Double].collect().toSeq
    val want = LocalOracle
      .downsample(LocalOracle.clip(LocalOracle.center(xs), -3.0, 3.0), 2)
    // engine contract quantizes signals to decimal(18,6) at the
    // aggregation boundary → agreement bound is 5e-7, not ulp
    got.zip(want).foreach { case (g, w) => assertClose(g, w, 1e-6) }
  }

  test("binary chain: s.plus(s).dotdivide(s) == 2 everywhere") {
    val s = series("a", xs)
    val got = s.plus(s).dotdivide(s).df.select("v").as[Double].collect()
    assert(got.forall(_ == 2.0))
  }

  test("zscore chain matches oracle; toarray round trip") {
    val s = series("a", xs).zscore()
    val arr = s.toarray().sortBy(_._2.getTime).map(_._3).toSeq
    arr.zip(LocalOracle.zscore(xs)).foreach { case (g, w) => assertClose(g, w, 1e-8) }
  }

  test("fromRandom → rollup → fromSegments round trip through the API") {
    val s = Series.fromRandom(spark, 5000, 40)
    val nonNull = Series(s.df.where(col("v").isNotNull))
    val segs = nonNull.toSegments("day")
    val back = Series.fromSegments(segs)
    assert(back.count() == nonNull.count())
    val a = nonNull.seriesStats("hour")
    val b = back.seriesStats("hour")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("window/join family rides the fluent API: ewma, sessions, asof with tolerance") {
    val s = series("a", xs)
    // delegates are byte-identical to the operator calls
    val viaApi = s.ewma(2).orderBy("ts")
      .select("ewma").as[Double].collect().toSeq
    val direct = graft.operators.SeriesOps.ewma(s.df, 2).orderBy("ts")
      .select("ewma").as[Double].collect().toSeq
    assert(viaApi == direct && viaApi.nonEmpty)
    assert(s.sessions(120).columns.contains("n_points"))
    val refs = Seq(("a", t(60), 10.0)).toDF("key", "ts", "rv")
    val got = s.asof(refs, Seq("rv"), toleranceUs = Some(60000000L))
      .orderBy("ts").select("rv").as[Option[Double]].collect().toSeq
    assert(got == Seq(None, Some(10.0), Some(10.0), None, None, None))
    assert(s.asofNearest(refs, Seq("rv"), toleranceUs = Some(0L))
      .where(col("rv").isNotNull).count() == 1)
  }

  test("sketched cascade via RollupJob: tier tables carry mergeable kll") {
    withTempDir("graft_skt") { root =>
      val pts = (0 until 2000).map { i =>
        model.Point(s"k${i % 3}", t(i * 311), ((i * 131) % 700) / 4.0)
      }.toDF()
      val job = new RollupJob(spark, root, nBuckets = 4)
      job.run(pts, "skt", sketched = true)
      // a second arrival into the same (key, bucket)s: every tier's
      // MERGE re-merges the stored sketches with the new ones
      val late = (0 until 300).map { i =>
        model.Point(s"k${i % 3}", t(i * 311 + 7), ((i * 17) % 300) / 4.0)
      }.toDF()
      job.run(late, "skt-late", sketched = true)
      Seq(job.tier1m, job.tier1h, job.tier1d).foreach { tier =>
        val d = tier.read()
        assert(d.columns.contains("kll"))
        val rows = d.select(col("cnt"), kll_sketch_get_n_double(col("kll")).as("n"),
          kll_sketch_get_quantile_double(col("kll"), lit(0.5)).as("p50"),
          col("min_v"), col("max_v")).collect()
        assert(rows.map(_.getAs[Long]("cnt")).sum == 2300L)
        rows.foreach { r =>
          assert(r.getAs[Long]("cnt") == r.getAs[Long]("n")) // sketch saw every point
          val p50 = r.getAs[Double]("p50")
          assert(p50 >= r.getAs[Double]("min_v") && p50 <= r.getAs[Double]("max_v"))
        }
      }
      // the late points landed in minutes the first arrival already held
      val m = job.tier1m.read()
      assert(m.where(col("cnt") > 1).count() > 0)
    }
  }
}
