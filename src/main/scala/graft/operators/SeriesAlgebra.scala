package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Binary element-wise Series algebra + misc Data-surface parity ops
  * (thunder/base.py :: Data.element_wise / plus / minus / dottimes /
  * dotdivide, ~L340–L420; Data.sample ~L430; Data.astype ~L230).
  *
  * Thunder's element_wise zips two identically-shaped arrays; in tall
  * form that is an equi-join on the series coordinate (key, ts). When
  * both sides share the ingest layout (partitioned by key) the join
  * is co-located; otherwise it is one sort-merge exchange per side —
  * and a broadcast when one operand is a small reference series.
  */
object SeriesAlgebra {

  private def binop(a: DataFrame, b: DataFrame, f: (Column, Column) => Column): DataFrame =
    a.join(b.withColumnRenamed("v", "v2"), Seq("key", "ts"))
      .select(col("key"), col("ts"), f(col("v"), col("v2")).as("v"))

  def plus(a: DataFrame, b: DataFrame): DataFrame = binop(a, b, _ + _)
  def minus(a: DataFrame, b: DataFrame): DataFrame = binop(a, b, _ - _)
  def dottimes(a: DataFrame, b: DataFrame): DataFrame = binop(a, b, _ * _)
  def dotdivide(a: DataFrame, b: DataFrame): DataFrame =
    binop(a, b, (x, y) => x / nullif(y, lit(0.0)))

  /** Data.sample: seeded Bernoulli record sample. */
  def sample(points: DataFrame, fraction: Double, seed: Long): DataFrame =
    points.sample(withReplacement = false, fraction, seed)

  /** Deterministic hash sample: keep rows whose md5(key ':' epoch_us)
    * falls in the first `num` of `den` hex-prefix classes — the
    * reproducible sampling you actually want at 100 TB (same rows on
    * every run/engine/partitioning, no RNG state). Engine-portable:
    * a SQL oracle replays the predicate exactly. Scan-local filter,
    * pushes inside the scan's codegen stage. */
  def sampleDeterministic(points: DataFrame, num: Int, den: Int = 16): DataFrame = {
    require(num >= 1 && den == 16, "prefix classes are single hex digits")
    val cls = conv(substring(
      md5(concat(col("key"), lit(":"),
        unix_micros(col("ts").cast("timestamp")).cast("string"))), 1, 1), 16, 10)
      .cast("int")
    points.where(cls < num)
  }

  /** Data.astype: cast the signal. */
  def astype(points: DataFrame, to: String): DataFrame =
    points.withColumn("v", col("v").cast(to))

  /** Backward as-of join: attach to every left row the right-side
    * values at the greatest right.ts ≤ left.ts within the same key
    * (inclusive at equal ts — the same semantics as an ANSI
    * `ASOF LEFT JOIN … ON l.key = r.key AND l.ts >= r.ts`, which the
    * oracle uses verbatim). Spark has no native as-of join; the naive
    * range-join + per-row max explodes candidates quadratically in
    * bucket density. This is the scalable shape: UNION the tagged
    * sides, ONE window sort per key (ref rows sort before probe rows
    * at equal ts), and `last(_, ignoreNulls)` carries each right
    * value forward — every right column shares the same window spec,
    * so the whole join costs ONE shuffle+sort regardless of how many
    * probes land between reference points or how many right columns
    * ride along (plan-gated: exactly one Exchange. Union forgets its
    * children's partitioning, so the one exchange is paid even over
    * pre-partitioned inputs — still strictly better than the
    * range-join's quadratic candidate set).
    *
    * `right` must be unique per (key, ts) — with duplicates there is
    * no deterministic "latest" row in any engine. Left rows before
    * their key's first reference row keep NULL right values (left
    * semantics).
    *
    * `direction`/`strict` complete the ASOF comparison surface the
    * same way DuckDB's `ASOF LEFT JOIN ON l.ts {>=,>,<=,<} r.ts`
    * spells it: backward+inclusive (≥, the default), backward+strict
    * (>), forward+inclusive (≤), forward+strict (<). The forward
    * directions sort time DESCENDING in the same single shared
    * window; strictness only flips whether a ref at exactly probe.ts
    * sorts before or after the probe — everything else (one
    * exchange, one sort, any number of right columns) is unchanged.
    *
    * `toleranceUs` (pandas merge_asof `tolerance`): when set, a match
    * farther than this many microseconds from the probe is discarded
    * (its right values go NULL — left semantics preserved). INCLUSIVE
    * at the exact boundary, like pandas; the comparison is exact
    * integer µs, post-window, so the plan shape is unchanged (the
    * matched ref's own ts already rides inside the carried struct). */
  def asofJoin(left: DataFrame, right: DataFrame,
      rightVals: Seq[String], direction: String = "backward",
      strict: Boolean = false, toleranceUs: Option[Long] = None): DataFrame = {
    require(toleranceUs.forall(_ >= 0), "tolerance must be non-negative")
    require(Set("backward", "forward")(direction),
      s"direction must be backward or forward, got: $direction")
    val leftVals = left.columns.filterNot(Set("key", "ts")).toSeq
    require(leftVals.intersect(rightVals).isEmpty,
      s"overlapping value columns: ${leftVals.intersect(rightVals)}")
    val r = right.select((Seq("key", "ts") ++ rightVals).map(col): _*)
    def nullOf(df: DataFrame, n: String) =
      lit(null).cast(df.schema(n).dataType).as(n)
    // ONE struct carries every right value: the struct is non-null on
    // every ref row even when individual values are NULL, so the match
    // attaches the MATCHED ROW's values verbatim — a ref row with a
    // NULL value stays NULL (DuckDB native ASOF semantics). Carrying
    // columns independently via per-column last(ignoreNulls) let a
    // probe mix values from different ref rows whenever one was NULL.
    val rvType = org.apache.spark.sql.types.StructType(
      rightVals.map(n => r.schema(n)) :+
        org.apache.spark.sql.types.StructField("__rts", r.schema("ts").dataType))
    val probes = left.select(
      Seq(col("key"), col("ts")) ++ leftVals.map(col) :+
        lit(null).cast(rvType).as("__rv") :+ lit(0).as("__ref"): _*)
    val refs = r.select(
      Seq(col("key"), col("ts")) ++ leftVals.map(nullOf(left, _)) :+
        struct(rightVals.map(col) :+ col("ts").as("__rts"): _*).as("__rv") :+
        lit(1).as("__ref"): _*)
    val time = if (direction == "backward") col("ts").asc else col("ts").desc
    // inclusive: a ref at the probe's exact ts must already be in the
    // frame → refs sort first at equal ts; strict: refs sort after
    val tie = if (strict) col("__ref").asc else col("__ref").desc
    val w = Window.partitionBy(col("key"))
      .orderBy(time, tie)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dist = abs(unix_micros(col("ts").cast("timestamp")) -
      unix_micros(col("__rv").getField("__rts").cast("timestamp")))
    // an out-of-tolerance match nulls the whole struct (null dist on
    // an unmatched probe takes the otherwise branch — unchanged)
    val rvOut = toleranceUs match {
      case Some(t) => when(dist <= t, col("__rv")).otherwise(lit(null).cast(rvType))
      case None => col("__rv")
    }
    probes.unionByName(refs)
      .withColumn("__rv", last(col("__rv"), ignoreNulls = true).over(w))
      .where(col("__ref") === 0)
      .withColumn("__rv", rvOut)
      .select(Seq(col("key"), col("ts")) ++ leftVals.map(col) ++
        rightVals.map(n => col("__rv").getField(n).as(n)): _*)
  }

  /** Nearest as-of: attach the right-side values whose ts is CLOSEST
    * to each left row's ts within the key, in either direction
    * (pandas merge_asof direction='nearest'; exact ties go backward,
    * the pandas convention).
    *
    * ONE union + ONE ascending (key, ts, __ref) window sort serves
    * BOTH directions (plan-gated: exactly one Exchange, same as a
    * single directional pass — the previous chained-passes form paid
    * the shuffle twice): the backward candidate is
    * `last(__rv, ignoreNulls)` over `unboundedPreceding..currentRow`,
    * the forward candidate `first(__rv, ignoreNulls)` over
    * `currentRow..unboundedFollowing` — same partitioning AND
    * ordering, so both frames share one sort. Refs sort before probes
    * at equal ts, which makes the equal-ts tie free: an exact-ts ref
    * lands in the backward frame at integer distance 0 and
    * ties-go-backward picks it regardless of which frame saw it. Each
    * ref's own timestamp rides inside the struct, and the final
    * projection compares exact integer µs distances (no float
    * arithmetic can misorder a tie); a row with refs on only one side
    * takes that side. */
  def asofNearest(left: DataFrame, right: DataFrame,
      rightVals: Seq[String], toleranceUs: Option[Long] = None): DataFrame = {
    require(toleranceUs.forall(_ >= 0), "tolerance must be non-negative")
    val leftVals = left.columns.filterNot(Set("key", "ts")).toSeq
    require(leftVals.intersect(rightVals).isEmpty,
      s"overlapping value columns: ${leftVals.intersect(rightVals)}")
    val r = right.select((Seq("key", "ts") ++ rightVals).map(col): _*)
    def nullOf(df: DataFrame, n: String) =
      lit(null).cast(df.schema(n).dataType).as(n)
    val rvType = org.apache.spark.sql.types.StructType(
      rightVals.map(n => r.schema(n)) :+
        org.apache.spark.sql.types.StructField("__rts", r.schema("ts").dataType))
    val probes = left.select(
      Seq(col("key"), col("ts")) ++ leftVals.map(col) :+
        lit(null).cast(rvType).as("__rv") :+ lit(0).as("__ref"): _*)
    val refs = r.select(
      Seq(col("key"), col("ts")) ++ leftVals.map(nullOf(left, _)) :+
        struct(rightVals.map(col) :+ col("ts").as("__rts"): _*).as("__rv") :+
        lit(1).as("__ref"): _*)
    val ordKeys = Seq(col("ts").asc, col("__ref").desc)
    val wB = Window.partitionBy(col("key")).orderBy(ordKeys: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy(col("key")).orderBy(ordKeys: _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val us = unix_micros(col("ts").cast("timestamp"))
    def dist(c: Column) =
      abs(us - unix_micros(c.getField("__rts").cast("timestamp")))
    // tolerance (pandas, inclusive): disqualify a candidate beyond it
    // BEFORE the nearest pick — a null candidate's dist is null, so
    // the when() nulls it unchanged
    def qual(c: Column) = toleranceUs match {
      case Some(t) => when(dist(c) <= t, c)
      case None => c
    }
    val useB = col("__f").isNull ||
      (col("__b").isNotNull && dist(col("__b")) <= dist(col("__f")))
    val pick = when(useB, col("__b")).otherwise(col("__f"))
    probes.unionByName(refs)
      .withColumn("__b", last(col("__rv"), ignoreNulls = true).over(wB))
      .withColumn("__f", first(col("__rv"), ignoreNulls = true).over(wF))
      .where(col("__ref") === 0)
      .withColumn("__b", qual(col("__b")))
      .withColumn("__f", qual(col("__f")))
      .select(Seq(col("key"), col("ts")) ++ leftVals.map(col) ++
        rightVals.map(n => pick.getField(n).as(n)): _*)
  }

  /** Bucketized interval (range) join: every point row joined to every
    * interval row of the same key with `ts ∈ [startCol, endCol]`
    * (inclusive both ends — ANSI `BETWEEN`, which the oracle uses
    * verbatim). Spark plans a key-equality + range predicate as a
    * sort-merge join on key alone with the range as a post-join
    * filter — per-key candidates are |points_k|·|intervals_k|, which
    * goes quadratic exactly on the hot keys. The scalable shape:
    * explode each interval into the time buckets it covers and
    * equi-join on (key, bucket) — candidates become proportional to
    * LOCAL density (points near an interval), not per-key totals, and
    * the join stays a plain hash/sort-merge equi-join AQE can size.
    * No post-dedup is needed: a point matches an interval only via the
    * point's own bucket row.
    *
    * Pick `bucketSeconds` at or above the typical interval length —
    * the explode factor is ceil(len/bucket)+1 per interval (a
    * pathological interval ≫ bucket pays proportionally; cap upstream
    * if intervals are unbounded). Bucket indices use exact integer
    * `div` on epoch-µs (never double division — a quotient within one
    * ulp of an integer would flip the bucket).
    *
    * Output: all point columns + the interval's non-join columns. */
  def rangeJoin(points: DataFrame, intervals: DataFrame,
      startCol: String, endCol: String, bucketSeconds: Long): DataFrame = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    val clash = (points.columns ++ intervals.columns)
      .filter(_.startsWith("__"))
    require(clash.isEmpty, s"reserved column names: ${clash.toSeq}")
    val overlap = intervals.columns.intersect(points.columns).toSeq
    require(overlap == Seq("key"),
      s"sides may share only the join key, got: $overlap")
    val bUs = bucketSeconds * 1000000L
    def bucket(c: String) =
      expr(s"unix_micros(cast(`$c` as timestamp)) div ${bUs}L")
    val p = points.withColumn("__b", bucket("ts"))
    val iv = intervals
      .withColumn("__b", explode(sequence(bucket(startCol), bucket(endCol))))
    p.join(iv, Seq("key", "__b"))
      .where(col("ts") >= col(startCol) && col("ts") <= col(endCol))
      .drop("__b")
  }

  /** Series.aggregate_by_index with an arbitrary aggregate column
    * (thunder/series/series.py :: Series.aggregate_by_index): group
    * each key's observations by a derived index label and apply any
    * Spark aggregate expression. */
  def aggregateByIndex(points: DataFrame, label: Column, agg: Column): DataFrame =
    points.groupBy(col("key"), label.as("label")).agg(agg.as("v"))

  /** Multi-level stat_by_index (thunder's MultiIndex `level=` form,
    * thunder/series/series.py :: Series.stat_by_index / _makeMasks):
    * stats at EVERY prefix level of a two-level index hierarchy in a
    * single pass — ROLLUP(key, l1, l2) grouping sets, so the scan and
    * the shuffle are paid once for all levels instead of once per
    * level (thunder re-aggregates per level; at 100 TB the one-pass
    * grouping-sets plan is the difference between 1 and L scans).
    *
    * `gid` disambiguates levels (Spark grouping_id over (key,l1,l2)):
    * 0 = per (key,l1,l2), 1 = per (key,l1), 3 = per key,
    * 7 = grand total. Grouped-out labels surface as -1 / '<all>' so
    * every output column keeps a non-nullable primitive type (a NULL
    * int label would round-trip as float64 through pandas and trip
    * the driver's dtype-strict compare). */
  def statByIndexMulti(points: DataFrame, l1: Column, l2: Column): DataFrame = {
    val vd = col("v").cast("decimal(18,6)")
    points
      .rollup(col("key"), l1.as("l1"), l2.as("l2"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        sum(vd).as("sum_d"), min(col("v")).as("min_v"), max(col("v")).as("max_v"))
      .select(
        coalesce(col("key"), lit("<all>")).as("key"),
        col("gid").cast("int").as("gid"),
        coalesce(col("l1"), lit(-1)).cast("int").as("l1"),
        coalesce(col("l2"), lit(-1)).cast("int").as("l2"),
        col("n"),
        (col("sum_d").cast("double") / col("n")).as("mean_v"),
        col("min_v"), col("max_v"))
  }
}
