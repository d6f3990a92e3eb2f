package graft.tables

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import TierTable.PartEntry

/** Append-only batch table over the TierTable commit machinery:
  * atomic single-link commits, delta manifests with periodic FULL
  * compaction, runId lineage, vacuum/expiry — but batches ACCUMULATE
  * instead of merging (each commit's partitions get a batch-unique
  * pd label, so the resolver's first-seen-wins never supersedes an
  * older batch).
  *
  * This is the storage shape for incrementally-maintained derived
  * indexes (the MinHash band-bucket index, an IVF assignment table):
  * a batch's rows are a pure function of that batch's source rows, so
  * maintenance is append + lineage, never rewrite. Resume contract is
  * whole-batch: a runId that already committed is skipped entirely
  * (the batch's write is atomic — either its manifest link landed or
  * its nonce'd data dir is an invisible orphan). */
class AppendIndexTable(spark: SparkSession, root: String, nBuckets: Int = 16)
  extends TierTable(spark, root, nBuckets) {

  /** True if `runId` already committed (crash-resume: skip). */
  def committed(runId: String): Boolean =
    resolvedEntries.exists(_.runIds.contains(runId))

  /** Append one batch atomically; rows are hash-distributed on
    * `hashCol` into `nBuckets` pb partitions (co-locating downstream
    * joins on that column). Returns false when the runId had already
    * committed (resumed no-op). Per-pb row counts come from the
    * written parquet footers, so the batch is computed once. An EMPTY
    * batch deletes its empty attempt dir and commits a zero-row marker
    * entry recording the runId, so no orphan data dir is left and
    * `committed(runId)` turns true (a crash-resume driver that retries
    * until committed() would otherwise loop forever). */
  def append(rows: DataFrame, runId: String, hashCol: String): Boolean = {
    val a = new Attempt
    if (a.live.exists(_.runIds.contains(runId))) return false
    rows.withColumn("pb", pmod(xxhash64(col(hashCol)), lit(nBuckets.toLong)).cast("int"))
      .repartition(col("pb")).write
      .partitionBy("pb")
      .mode(SaveMode.Overwrite)
      .parquet(s"$root/${a.outDir}")
    // pd is the batch label (unique per commit), so entries from
    // different batches never collide in the resolver's (pb, pd) map
    val pd = s"batch-v${a.version}"
    val written = writtenBuckets(a)
    val entries =
      if (written.isEmpty) Seq(PartEntry(0, pd, "", 0L, 0L, Seq(runId)))
      else parallelMap(written)(pb => writtenEntry(pb, pd, s"${a.outDir}/pb=$pb", Seq(runId)))
    dropEmptyAttempt(a, entries)
    publish(a, entries)
    true
  }

  /** The pb buckets an attempt's write produced, ascending. */
  private def writtenBuckets(a: Attempt): Seq[Int] =
    listDir(java.nio.file.Paths.get(root).resolve(a.outDir))
      .map(_.getFileName.toString)
      .collect { case s"pb=$pb" => pb.toInt }
      .sorted

  /** Data-file compaction — the Iceberg `rewriteDataFiles` analog for
    * this table shape. Every append (and every streaming micro-batch
    * riding foreachBatch) leaves one small data dir per touched pb
    * bucket, so after B batches a query unions O(B × nBuckets) tiny
    * parquet dirs; at streaming cadence that is the classic
    * small-file read-amplification wall. `compact()` rewrites the
    * accumulated rows into ONE consolidated dir per pb bucket and
    * publishes a FULL manifest in a single atomic commit:
    *
    *   - the row SET is unchanged by construction (a pure
    *     re-partitioned copy), so every query-time derivation
    *     (candidate pairs, drop sets, probe lists — all pure
    *     functions of the row set) is bit-identical before and after;
    *   - lineage survives: the consolidated manifest carries the
    *     UNION of all replaced entries' runIds on a zero-row marker
    *     entry, so `committed(runId)` stays true for every batch ever
    *     appended and crash-resume drivers keep their contract;
    *   - per-pb row counts come from the written parquet footers —
    *     compaction runs ZERO count jobs;
    *   - concurrency rides the commit guard: an append that commits
    *     after this compaction resolved its entry set makes the
    *     compaction lose with [[TierTable.CommitConflictException]]
    *     (retry later — never a silently dropped batch);
    *   - superseded per-batch dirs stay referenced by older manifests
    *     (time travel intact) until [[expireSnapshots]] +
    *     [[vacuum]] reclaim them — the standard maintenance trio.
    *
    * Returns false (no commit) when the live entry set is already a
    * single consolidated generation or holds no data rows. */
  def compact(): Boolean = {
    val a = new Attempt
    val dataEntries = a.live.filter(_.dir.nonEmpty)
    // one pd generation = nothing to consolidate (markers alone too)
    if (dataEntries.isEmpty || dataEntries.map(_.pd).distinct.size <= 1)
      return false
    val pd = s"compact-v${a.version}"
    // group the replaced dirs by pb and rebuild the pb column from the
    // manifest (leaf `pb=N` dirs don't self-describe their partition
    // value): one union-read + one partitioned write, no shuffle
    // beyond the repartition on pb
    val byPb = dataEntries.groupBy(_.pb).toSeq.sortBy(_._1)
    byPb.map { case (pb, es) =>
      spark.read.parquet(es.map(e => s"$root/${e.dir}"): _*)
        .withColumn("pb", lit(pb).cast("int"))
    }.reduce(_.unionByName(_))
      .repartition(col("pb")).write
      .partitionBy("pb")
      .mode(SaveMode.Overwrite)
      .parquet(s"$root/${a.outDir}")
    val consolidated = parallelMap(byPb.map(_._1))(pb =>
      writtenEntry(pb, pd, s"${a.outDir}/pb=$pb", Seq(pd)))
    // zero-row lineage marker carrying EVERY replaced runId, uncapped:
    // a dropped id would turn committed(runId) false and let an old
    // batch append twice (distinct pd so it never collides with a data
    // entry in the resolver)
    val lineage = PartEntry(0, s"$pd-lineage", "", 0L, 0L,
      a.live.flatMap(_.runIds).distinct)
    publish(a, consolidated :+ lineage, dropped = _ => true)
    true
  }
}
