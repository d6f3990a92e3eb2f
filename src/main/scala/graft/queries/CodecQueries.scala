package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators._
import graft.functions.FreqAgg
import Q._

/** Codec + sketch queries. q_segment_roundtrip proves the Gorilla/DoD
  * encode→decode path is the identity through a full Spark plan by
  * rolling up DECODED segments and comparing against the DuckDB
  * rollup of the RAW table. Sketch queries (KLL quantiles,
  * frequent-items) are certified in their EXACT regimes — order
  * statistics while n ≤ k, true counts while distinct ≤ 0.75·map —
  * with approximate-regime error bounds pinned in ScalaTest. */
object CodecQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_segment_roundtrip" -> ((s, dir) => {
      val decoded = Segments.fromSegments(Segments.toSegments(eventPoints(s, dir), "day"))
        .select(col("key"), col("ts").cast("timestamp_ntz").as("ts"), col("v"))
      ordered(Rollup.present(Rollup.rollupRaw(decoded, "hour")))
    }),
    "q_segment_stats" -> ((s, dir) =>
      // segment-metadata-only answer (no decode): per-day count/sum/min/max
      ordered(Segments.toSegments(eventPoints(s, dir), "day")
        .select(col("key"), col("bucket"), col("n").cast("long").as("cnt"),
          col("sum_d").cast("double").as("sum_v"), col("min_v"), col("max_v")))),
    "q_kll_quantiles" -> ((s, dir) =>
      eventPoints(s, dir)
        .groupBy(col("key"))
        .agg(Rollup.kllSketch(col("v")).as("sk"))
        .select(col("key") +: Rollup.kllReads(col("sk")): _*)
        .withColumnRenamed("kll_n", "n")
        .orderBy("key")),
    "q_kll_cascade" -> ((s, dir) =>
      // sketch per (key, day), merged up to key — the tier path
      eventPoints(s, dir)
        .groupBy(col("key"), date_trunc("day", col("ts")).as("bucket"))
        .agg(Rollup.kllSketch(col("v")).as("sk"))
        .groupBy(col("key"))
        .agg(Rollup.kllMerge(col("sk")).as("sk"))
        .select(col("key") +: Rollup.kllReads(col("sk")): _*)
        .select(col("key"), col("kll_n").as("n"), col("p50"))
        .orderBy("key")),
    // Frequent-items (heavy-hitter) sketch, certified in its EXACT
    // regime: 1500 distinct conv_ids per role ≤ 0.75·4096, so the
    // Misra–Gries map never purges and every estimate IS the true
    // count — a plain GROUP BY count oracle replays the whole
    // pipeline. Approx-regime bounds stay in SegmentsSpec.
    "q_freq_topk" -> ((s, dir) => {
      val t = graft.Tables.transcripts(s, dir)
      val sk = t.groupBy(col("role"))
        .agg(FreqAgg.freq_sketch(col("conv_id"), 4096).as("sk"))
      val items = sk.select(col("role"), explode(FreqAgg.freq_items(col("sk"))).as("fi"))
        .select(col("role"), col("fi.item").as("conv_id"), col("fi.est").as("turns"))
      val w = Window.partitionBy(col("role")).orderBy(col("turns").desc, col("conv_id"))
      items.withColumn("rank", row_number().over(w).cast("int"))
        .where(col("rank") <= 5)
        .select(col("role"), col("rank"), col("conv_id"), col("turns"))
        .orderBy("role", "rank")
    }),
    "q_freq_cascade" -> ((s, dir) => {
      // sketch per (role, day), merged up to role — the tier path;
      // merges of unpurged sketches stay exact, so the same count
      // oracle certifies freq_merge end-to-end
      val t = graft.Tables.transcripts(s, dir)
      val sk = t.groupBy(col("role"), date_trunc("day", col("ts")).as("d"))
        .agg(FreqAgg.freq_sketch(col("conv_id"), 4096).as("sk"))
        .groupBy(col("role"))
        .agg(FreqAgg.freq_merge(col("sk"), 4096).as("sk"))
      val items = sk.select(col("role"), explode(FreqAgg.freq_items(col("sk"))).as("fi"))
        .select(col("role"), col("fi.item").as("conv_id"), col("fi.est").as("turns"))
      val w = Window.partitionBy(col("role")).orderBy(col("turns").desc, col("conv_id"))
      items.withColumn("rank", row_number().over(w).cast("int"))
        .where(col("rank") <= 5)
        .select(col("role"), col("rank"), col("conv_id"), col("turns"))
        .orderBy("role", "rank")
    }),
  )

  private val hourlyRollupSql: String =
    """WITH r1h AS (
      |  SELECT CAST(user_id AS VARCHAR) AS key,
      |         date_trunc('hour', ts) AS bucket,
      |         COUNT(*) AS cnt,
      |         SUM(CAST(value AS DECIMAL(18,6))) AS sum_d,
      |         SUM(CAST(value AS DECIMAL(19,6)) * CAST(value AS DECIMAL(18,6))) AS sumsq_d,
      |         MIN(value) AS min_v, MAX(value) AS max_v
      |  FROM events GROUP BY 1, 2
      |)
      |SELECT key, bucket, cnt,
      |       CAST(sum_d AS DOUBLE) AS sum_v,
      |       CAST(sum_d AS DOUBLE) / cnt AS mean_v,
      |       min_v, max_v,
      |       sqrt(greatest(CAST(CAST(sumsq_d AS DECIMAL(38,6)) AS DOUBLE) / cnt -
      |            (CAST(sum_d AS DOUBLE) / cnt) * (CAST(sum_d AS DOUBLE) / cnt), 0.0)) AS std_v
      |FROM r1h ORDER BY key, bucket""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_segment_roundtrip" -> hourlyRollupSql,
    "q_segment_stats" ->
      """SELECT CAST(user_id AS VARCHAR) AS key,
        |       date_trunc('day', ts) AS bucket,
        |       COUNT(*) AS cnt,
        |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v,
        |       MIN(value) AS min_v, MAX(value) AS max_v
        |FROM events GROUP BY 1, 2
        |ORDER BY key, bucket, cnt, sum_v, min_v, max_v""".stripMargin,
    // KLL sketches retain every item while n per group ≤ k = 200 (no
    // compaction — true for the sf0.01 gate corpus: ~67 events/key),
    // and datasketches' INCLUSIVE getQuantile(q) is then exactly the
    // order statistic at 1-based rank ceil(q·n). These oracles certify
    // the sketch build AND the merge cascade end-to-end in the exact
    // regime; approximate-regime error bounds stay in SeriesAlgebraSpec.
    "q_kll_quantiles" ->
      s"""${Q.ptsCte}, o AS (
         |  SELECT key, v,
         |         row_number() OVER (PARTITION BY key ORDER BY v) AS rn,
         |         COUNT(*) OVER (PARTITION BY key) AS nn
         |  FROM pts)
         |SELECT key, MAX(nn) AS n,
         |       MAX(CASE WHEN rn = CAST(ceil(0.5 * nn) AS BIGINT) THEN v END) AS p50,
         |       MAX(CASE WHEN rn = CAST(ceil(0.9 * nn) AS BIGINT) THEN v END) AS p90,
         |       MAX(CASE WHEN rn = CAST(ceil(0.99 * nn) AS BIGINT) THEN v END) AS p99
         |FROM o GROUP BY key ORDER BY key""".stripMargin,
    // the day→key merge sees the same per-key item multiset, so the
    // merged sketch is the same exact order statistic
    "q_kll_cascade" ->
      s"""${Q.ptsCte}, o AS (
         |  SELECT key, v,
         |         row_number() OVER (PARTITION BY key ORDER BY v) AS rn,
         |         COUNT(*) OVER (PARTITION BY key) AS nn
         |  FROM pts)
         |SELECT key, MAX(nn) AS n,
         |       MAX(CASE WHEN rn = CAST(ceil(0.5 * nn) AS BIGINT) THEN v END) AS p50
         |FROM o GROUP BY key ORDER BY key""".stripMargin,
    "q_freq_topk" -> freqTopkSql,
    "q_freq_cascade" -> freqTopkSql,
  )

  // exact-regime frequent-items oracle: per role, top-5 conv_ids by
  // true turn count, ties broken by conv_id (deterministic in both
  // engines); count(*) is BIGINT in DuckDB (no HUGEINT cast needed)
  private lazy val freqTopkSql: String =
    s"""${graft.Oracle.transcriptsCte},
       |c AS (SELECT role, conv_id, count(*) AS turns FROM transcripts GROUP BY 1, 2),
       |r AS (SELECT role, conv_id, turns,
       |        row_number() OVER (PARTITION BY role ORDER BY turns DESC, conv_id) AS rank
       |      FROM c)
       |SELECT role, CAST(rank AS INT) AS rank, conv_id, CAST(turns AS BIGINT) AS turns
       |FROM r WHERE rank <= 5 ORDER BY role, rank""".stripMargin
}
