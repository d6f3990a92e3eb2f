package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators._
import graft.queries.Q

/** Physical-plan quality gates: predicate pushdown, column pruning,
  * shuffle counts, broadcast joins, codegen coverage. These encode
  * the 100 TB design review — a plan regression (extra Exchange, lost
  * pushdown) fails the suite even while results stay correct. */
class PlanSpec extends SparkSpecBase {

  def planOf(df: DataFrame): String = df.queryExecution.executedPlan.toString()

  def countOccurrences(s: String, needle: String): Int =
    s.sliding(needle.length).count(_ == needle)

  /** Shuffle exchanges only (BroadcastExchange is not a shuffle). */
  def shuffles(plan: String): Int =
    countOccurrences(plan, "Exchange") - countOccurrences(plan, "BroadcastExchange")

  /** executedPlan.toString marks whole-stage-codegen stages "*(n)". */
  def hasCodegen(plan: String): Boolean = plan.contains("*(")

  test("ts-range filter pushes down to the parquet scan") {
    val df = SeriesOps.between(Q.eventPoints(spark, sf("sf0.001")),
      "2024-01-10 00:00:00", "2024-01-20 00:00:00")
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts"),
      s"no pushdown in:\n$plan")
  }

  test("rollup reads only the three needed columns from events") {
    val df = Rollup.rollupRaw(Q.eventPoints(spark, sf("sf0.001")), "minute")
    val plan = planOf(df)
    assert(plan.contains("ReadSchema: struct<ts:timestamp_ntz,user_id:bigint,value:double>"),
      s"column pruning lost:\n$plan")
  }

  test("rollup is a single exchange (map-side partial agg present)") {
    val df = Rollup.rollupRaw(Q.eventPoints(spark, sf("sf0.001")), "minute")
    val plan = planOf(df)
    assert(shuffles(plan) == 1, s"expected 1 shuffle Exchange:\n$plan")
    assert(countOccurrences(plan, "HashAggregate") == 2, // partial + final
      s"expected partial+final HashAggregate:\n$plan")
  }

  test("tier cascade adds exactly one exchange per tier") {
    val m1 = Rollup.rollupRaw(Q.eventPoints(spark, sf("sf0.001")), "minute")
    val plan = planOf(Rollup.cascade(m1, "hour"))
    assert(shuffles(plan) == 2, s"plan:\n$plan")
  }

  test("salted rollup costs exactly one extra exchange") {
    val df = Skew.saltedRollup(Q.eventPoints(spark, sf("sf0.001")), "minute", 8, None)
    val plan = planOf(df)
    assert(shuffles(plan) == 2, s"plan:\n$plan")
  }

  test("mean_by_window broadcasts the centers side") {
    import spark.implicits._
    val centers = Seq(1L, 21L).toDF("center")
    val df = SeriesOps.meanByWindow(Q.eventPoints(spark, sf("sf0.001")), centers, 2)
    val plan = planOf(df)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"centers not broadcast:\n$plan")
  }

  test("text analysis is a pure scan→project pipeline (no exchange)") {
    val df = TextAnalysis.qualityScore(Tables.documents(spark, sf("sf0.001")))
    val plan = planOf(df)
    assert(shuffles(plan) == 0, s"unexpected shuffle:\n$plan")
    assert(hasCodegen(plan), s"no codegen:\n$plan")
  }

  test("simhash is a pure projection (no exchange) on core-parallel input") {
    // the scale claim: over an input whose scan is at least
    // core-parallel (the normal 100 TB case) the signature pass adds
    // NO exchange. (On a below-parallelism scan — one small file —
    // Dedup.parallelized round-robins first, by design: guide §2.5.)
    val docs = Tables.documents(spark, sf("sf0.001"))
      .repartition(spark.sparkContext.defaultParallelism)
      .localCheckpoint(true)
    val df = Dedup.simhash(docs)
    val plan = planOf(df)
    assert(shuffles(plan) == 0, s"unexpected shuffle:\n$plan")
    // and the small-scan adaptation really fires on a 1-split file
    val one = Dedup.simhash(Tables.documents(spark, sf("sf0.001")))
    assert(shuffles(planOf(one)) == 1, s"expected the §2.5 repartition:\n${planOf(one)}")
  }

  test("brute-force knn broadcasts queries; corpus side never shuffles before scoring") {
    val e = Tables.embeddings(spark, sf("sf0.001"))
    val df = Similarity.bruteForceTopK(e, e.where(col("vec_id") < 3), 5)
    val plan = planOf(df)
    assert(plan.contains("BroadcastNestedLoopJoin"), s"plan:\n$plan")
    // the only exchange is the final per-query top-k window
    assert(shuffles(plan) <= 1, s"plan:\n$plan")
  }

  test("single-pass crosscorr scans the input once (one window, lag explode)") {
    val df = SeriesOps.crosscorr(Q.eventPoints(spark, sf("sf0.001")), 3)
    val plan = planOf(df)
    assert(countOccurrences(plan, "Scan parquet") == 1,
      s"expected ONE scan regardless of maxLag:\n$plan")
    assert(countOccurrences(plan, "Window") == 1, s"one window pass:\n$plan")
  }

  test("minhash-LSH bucket cap shows as a windowed occupancy filter before the join") {
    val df = Dedup.minhashLsh(Tables.documents(spark, sf("sf0.001")), maxBucket = 100)
    val plan = planOf(df)
    assert(plan.contains("Window") && plan.contains("100"),
      s"occupancy cap missing from plan:\n$plan")
  }

  test("LSH ANN: candidate dedup exchange carries ids only, vectors re-attach by broadcast") {
    val e = Tables.embeddings(spark, sf("sf0.001"))
    val df = Similarity.lshTopK(e, e.where(col("vec_id") < 3), 5, bits = 6, tables = 2)
    val plan = planOf(df)
    // the distinct over candidate pairs must not carry the embedding arrays
    val distinctExchange = plan.linesIterator
      .dropWhile(l => !l.contains("HashAggregate(keys=[q_id"))
      .take(1).mkString
    assert(distinctExchange.nonEmpty && !distinctExchange.contains("emb"),
      s"embedding column rides the dedup exchange:\n$plan")
    assert(countOccurrences(plan, "BroadcastExchange") >= 2,
      s"vector re-attach should be broadcast joins:\n$plan")
  }

  test("RollupJob batch slice pushes a ts range into the scan") {
    withTempDir("plan_batch") { dir =>
      Q.eventPoints(spark, sf("sf0.001")).write.mode("overwrite").parquet(dir)
      val pts = spark.read.parquet(dir)
      // mirror RollupJob.batchSlice on one day label
      val tsType = pts.schema("ts").dataType
      val sliced = pts.where(col("ts") >= lit("2024-01-05 00:00:00").cast(tsType) &&
        col("ts") < lit("2024-01-06 00:00:00").cast(tsType))
      val plan = planOf(Rollup.rollupRaw(sliced, "minute"))
      assert(plan.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts"),
        s"batch range not pushed:\n$plan")
    }
  }

  test("stratifiedSample: derived stratum evaluated once, not inlined into the Filter (r6 barrier)") {
    import spark.implicits._
    // expensive derived stratum: the language-ID class — a lambda
    // token filter. Filter pushdown has no cost guard and would
    // inline it once per reference into the scan Filter (measured 8
    // copies / 3.5× row cost on q_stratified_sample before the fix).
    withTempDir("plan_strat") { dir =>
      (0 until 400).map(i =>
        (i.toLong, if (i % 2 == 0) "the and of to is" else "el la que y en"))
        .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
      val docs = spark.read.parquet(dir)
      val stratum = when(
        size(filter(split(lower(col("text")), "\\s+"),
          t => t.isInCollection(Seq("the", "and", "of")))) >= 2, "en")
        .otherwise("und")
      val staged = docs.select(col("doc_id"), stratum.as("s"))
      val rates = Map("en" -> 4, "und" -> 9)
      val df = TextAnalysis.stratifiedSample(staged, col("s"), col("doc_id"), rates)
      // plan gate: no Filter condition carries the lambda, and exactly
      // one copy of the stratum expression survives in the whole plan
      val filters = df.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition.toString
      }
      assert(filters.nonEmpty && filters.forall(!_.contains("lambdafunction")),
        s"stratum expression inlined into a Filter:\n${filters.mkString("\n")}")
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(countOccurrences(optimized, "lambdafunction") == 1,
        s"stratum expression duplicated:\n$optimized")
      assert(optimized.contains("opt_barrier"), s"barrier optimized away:\n$optimized")
      // result gate: identical row set to the pre-barrier formulation
      // (the naive where over the raw stratum expression)
      val hexChars = "0123456789abcdefg"
      val nib = substring(md5(concat(stratum, lit(":"), col("doc_id").cast("string"))), 1, 1)
      val naiveKeep = rates.toSeq.sortBy(_._1).foldRight(lit(true)) {
        case ((sv, r), els) =>
          when(stratum === sv, nib < lit(hexChars.charAt(r).toString)).otherwise(els)
      }
      val expected = docs.where(naiveKeep).select(col("doc_id"), stratum.as("s"))
        .as[(Long, String)].collect().toSeq.sorted
      val got = df.as[(Long, String)].collect().toSeq.sorted
      assert(got == expected, s"row set diverged: got ${got.size}, expected ${expected.size}")
    }
  }

  test("whole-stage codegen covers the rollup aggregate") {
    val df = Rollup.present(Rollup.rollupRaw(Q.eventPoints(spark, sf("sf0.001")), "minute"))
    // AQE: drive THIS queryExecution so its adaptive plan finalizes
    df.queryExecution.executedPlan.executeCollect()
    val plan = planOf(df)
    assert(plan.contains("isFinalPlan=true") && hasCodegen(plan), s"plan:\n$plan")
  }
}
