package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hot-key (hot-conversation) skew handling for the rollup path
  * (north_rule: "salted repartitioning for hot-conversation skew").
  *
  * Because rollup stats are mergeable AND decimal-exact (see Rollup),
  * salting is a pure physical rewrite: phase 1 aggregates on
  * (key, bucket, salt) — splitting a hot key's rows across `salt`
  * reducers — phase 2 merges the partials on (key, bucket). The
  * result is bit-identical to the unsalted aggregate, proven by the
  * q_salted_rollup oracle sharing q_rollup_1m's SQL.
  *
  * Spark's own map-side partial aggregation already handles moderate
  * skew; explicit salting matters when one conversation's single
  * (key, bucket) group exceeds what one reducer should hold — at
  * 10^12 turns a head conversation can be billions of rows. The salt
  * column keeps phase-1 groups bounded at rows/salt.
  *
  * `detectHot` is the sampling pass that picks which keys need
  * salting (threshold on approximate per-key counts), so the
  * fast path (99.9% of keys) never pays the extra exchange.
  */
object Skew {

  /** Approximate heavy hitters: keys holding more than `minShare` of
    * a sampled row count. One cheap job over a sample. */
  def detectHot(points: DataFrame, sampleFraction: Double = 0.01,
      minShare: Double = 0.001): Seq[String] = {
    val sampled = points.sample(withReplacement = false, sampleFraction, seed = 7)
    val total = sampled.count().max(1L)
    sampled.groupBy(col("key")).count()
      .where(col("count") > lit(total * minShare))
      .select("key").collect().map(_.getString(0)).toSeq
  }

  /** Two-phase salted rollup, exact. `saltFor` keys get `salt`-way
    * splitting; all other keys keep salt=0 (no extra fan-out). Pass
    * `saltFor = None` to salt every key (uniform). */
  def saltedRollup(points: DataFrame, unit: String, salt: Int,
      saltFor: Option[Seq[String]] = None): DataFrame = {
    val saltCol: Column = saltFor match {
      case Some(hot) if hot.isEmpty => lit(0L)
      case Some(hot) =>
        when(col("key").isin(hot: _*),
          pmod(xxhash64(col("ts")), lit(salt.toLong))).otherwise(lit(0L))
      case None => pmod(xxhash64(col("ts")), lit(salt.toLong))
    }
    val phase1 = Rollup.partial(points
      .where(col("v").isNotNull)
      .groupBy(col("key"), Rollup.bucket(col("ts"), unit).as("bucket"),
        saltCol.as("salt")))
    Rollup.merge(phase1, col("key"), col("bucket"))
  }
}
