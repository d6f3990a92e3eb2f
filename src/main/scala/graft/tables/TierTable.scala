package graft.tables

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.{DeserializationFeature, MapperFeature}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Rollup
import TierTable.{Manifest, PartEntry}

/** Iceberg-semantics tier table: parquet data files + JSON snapshot
  * manifests with atomic commit, hidden partitioning, incremental
  * MERGE, and per-partition checkpoint lineage.
  *
  * WHY NOT REAL ICEBERG: no iceberg-spark-runtime jar exists in this
  * offline environment (checked /opt/spark/jars + coursier cache —
  * SURVEY.md §7.1), so the north_rule's "Iceberg tables / incremental
  * MERGE" lands as this thin layer implementing the same *semantics*:
  *
  *   - snapshot isolation: readers resolve the committed manifest
  *     chain → explicit file list; writers never mutate committed
  *     files;
  *   - SINGLE-STEP atomic commit (the crash/race-safety core): each
  *     merge attempt writes its data under a UNIQUE directory
  *     `data/v{N}-{nonce}` and its manifest under a unique temp name,
  *     then publishes with ONE atomic hard-link to `v{N}.json`. That
  *     link creation is the entire commit — there is no second step
  *     to crash between. HEAD is *derived* (max committed version on
  *     disk), never a separately-moved file:
  *       · racing writers that both computed version N: exactly one
  *         link succeeds; the loser gets a conflict error AND its data
  *         directory is its own (nonce'd), so it cannot have touched
  *         any file the winner's manifest references — no silent data
  *         loss (the failure mode of the previous shared data/v{N} +
  *         SaveMode.Overwrite layout);
  *       · a writer crashing pre-link leaves only an unreferenced
  *         tmp manifest + orphan data dir — invisible to readers and
  *         to the next writer (no wedged table, unlike the previous
  *         CREATE_NEW-then-move-HEAD scheme where a crash between the
  *         two steps made every later commit conflict forever);
  *       · orphans are reclaimed by [[vacuum]], never implicitly.
  *   - DELTA manifests (manifest-of-manifests, like Iceberg's
  *     snapshot → manifest-list indirection): each commit writes only
  *     the partitions it touched plus a parent pointer; readers walk
  *     the chain to the nearest FULL snapshot, first-seen-wins. Commit
  *     I/O is O(touched partitions), not O(table partitions). Every
  *     `compactEvery`-th commit writes a full snapshot so chains stay
  *     short;
  *   - hidden partitioning: data laid out by (pb = bucket(key),
  *     pd = day(bucket)) — the Iceberg transform pair
  *     bucket(N, conv_id) × days(ts) from SURVEY.md §4.2;
  *   - MERGE INTO ≡ copy-on-write of affected partitions only:
  *     incoming partial rollups are combined with existing rows of
  *     the touched partitions via the exact mergeable-stat merge
  *     (sum of decimal sums — associative, so re-merging is
  *     idempotent), untouched partitions carry forward by reference;
  *   - resume: every committed partition records its runId lineage
  *     (a real JSON array — ids survive any character) — a re-run of
  *     a runId skips partitions that already include it, even if
  *     OTHER runs committed to the same partition in between. A
  *     writer appending a runId keeps only the most recent
  *     [[TierTable.MaxLineage]] (so lineage cannot grow without
  *     bound); the documented contract is therefore: resume is
  *     idempotent for any runId within the last 256 runs that touched
  *     the partition.
  *   - empty merges (no rows, or fully-resumed batch) publish
  *     nothing: no version churn from calendar-enumerated empty
  *     batches or replayed micro-batches.
  *
  * Every writer commits through one step, [[publish]]: it states the
  * partitions it adds, replaces or drops, and `publish` writes the
  * delta or full manifest and commits it.
  *
  * The interface is format-agnostic so a real Iceberg catalog can be
  * swapped in where one exists.
  */
class TierTable(spark: SparkSession, root: String, nBuckets: Int = 16,
    compactEvery: Int = 8) {

  private val rootPath = Paths.get(root)
  private val dataDir = rootPath.resolve("data")
  private val metaDir = rootPath.resolve("_meta")

  Files.createDirectories(dataDir)
  Files.createDirectories(metaDir)

  private val versionFile = """v(\d+)\.json""".r

  protected def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** HEAD is DERIVED: the highest committed (= atomically linked)
    * version file. A crashed writer's tmp manifest never matches the
    * pattern, so it can neither be read nor block future commits. */
  def currentVersion: Int =
    listDir(metaDir).flatMap { p =>
      p.getFileName.toString match {
        case versionFile(n) => Some(n.toInt)
        case _ => None
      }
    }.foldLeft(-1)(math.max)

  private def manifestAt(v: Int): Manifest =
    TierTable.decode(Files.readAllBytes(metaDir.resolve(s"v$v.json")))

  /** Highest version whose manifest actually parses. Normally ==
    * [[currentVersion]]; differs only if a power/OS crash persisted
    * the v{N}.json link but not all of its (fsync'd) data pages — in
    * that case readers fall back LOUDLY to the previous committed
    * version instead of refusing every read, and the next commit
    * numbers past the corrupt file (its parent pointer bypasses it),
    * so the table heals instead of wedging. Parsing stays strict:
    * this skips only CORRUPT heads (strict-parse failures on content
    * the OS handed back), never partial entries — and never I/O
    * failures: a transient read error on a validly committed manifest
    * MUST surface, not fall back, or the next merge would silently
    * resolve from an older snapshot, commit past the real HEAD, and
    * vacuum would then sweep the bypassed version's live data dirs
    * (permanent data loss from one flaky read). An expired/missing
    * file below HEAD is skipped (expireSnapshots leaves gaps). */
  def readableHead: Int = {
    var v = currentVersion
    while (v >= 0) {
      try { manifestAt(v); return v }
      catch {
        case _: java.nio.file.NoSuchFileException => v -= 1 // expired gap
        case e: java.io.IOException => throw e // transient: never fall back
        case e: Exception =>
          System.err.println(s"graft.TierTable: manifest v$v of $root is " +
            s"corrupt (${e.getMessage}) — falling back to v${v - 1}")
          v -= 1
      }
    }
    -1
  }

  def currentManifest: Option[Manifest] = {
    val v = readableHead
    if (v < 0) None else Some(manifestAt(v))
  }

  /** Resolve the live partition set at HEAD: walk the delta chain down
    * to the nearest full snapshot, newest entry wins per partition.
    * O(chain length) manifest reads — bounded by `compactEvery`. */
  def resolvedEntries: Seq[PartEntry] = resolvedAt(readableHead)

  private def resolvedAt(head: Int): Seq[PartEntry] = {
    val seen = scala.collection.mutable.LinkedHashMap[(Int, String), PartEntry]()
    var v = head
    var done = v < 0
    while (!done) {
      val m = manifestAt(v)
      m.entries.foreach { e =>
        if (!seen.contains((e.pb, e.pd))) seen((e.pb, e.pd)) = e
      }
      if (m.full || m.parent < 0) done = true else v = m.parent
    }
    seen.values.toSeq
  }

  // ---- the one commit path ------------------------------------------

  /** One writer's commit attempt: the last READABLE snapshot it
    * resolves from (`parent`), that snapshot's live entries, and the
    * version it will publish — numbered past the highest committed
    * file, so a crash-corrupted head (readableHead < currentVersion) is
    * bypassed by the parent pointer and never blocks future commits.
    * `outDir` is the attempt-unique data dir: a CAS loser or crashed
    * writer can never have written into a directory a committed
    * manifest references. */
  protected final class Attempt {
    val parent: Int = readableHead
    val live: Seq[PartEntry] = resolvedAt(parent)
    val version: Int = currentVersion + 1
    val outDir: String = s"data/v$version-${nonce()}"
    lazy val byPart: Map[(Int, String), PartEntry] =
      live.map(e => (e.pb, e.pd) -> e).toMap

    /** Partitions whose lineage already records `runId` (resume skips them). */
    def doneFor(runId: String): Set[(Int, String)] =
      byPart.keySet.filter(byPart(_).runIds.contains(runId))
  }

  /** The commit rule every writer shares. `changed` holds the entries
    * the attempt adds or replaces (keyed by (pb, pd)); `dropped`
    * selects live entries to remove. The manifest is a DELTA of
    * `changed` over the attempt's parent, or a FULL snapshot carrying
    * every untouched live entry forward — every `compactEvery`-th
    * version, and whenever an entry is dropped, because a delta can
    * only add or replace. An attempt that changes nothing publishes
    * nothing and returns its parent's manifest. */
  protected def publish(a: Attempt, changed: Seq[PartEntry],
      dropped: PartEntry => Boolean = _ => false): Manifest = {
    val drops = a.live.exists(dropped)
    if (changed.isEmpty && !drops)
      return if (a.parent < 0) Manifest(-1, -1, full = true, Nil) else manifestAt(a.parent)
    val full = drops || a.version % compactEvery == 0
    val touched = changed.map(e => (e.pb, e.pd)).toSet
    val entries =
      if (full) a.live.filterNot(e => dropped(e) || touched((e.pb, e.pd))) ++ changed
      else changed
    val m = Manifest(a.version, a.parent, full, entries)
    commit(m)
    m
  }

  /** Entry for a partition an attempt wrote at `dir`: row count from
    * the written parquet footers, or a zero-row marker (dir = "") when
    * the write left the partition empty. */
  protected def writtenEntry(pb: Int, pd: String, dir: String,
      runIds: Seq[String]): PartEntry = {
    val p = rootPath.resolve(dir)
    if (Files.isDirectory(p)) PartEntry(pb, pd, dir, dirRowCount(p), dirSize(p), runIds)
    else PartEntry(pb, pd, "", 0L, 0L, runIds)
  }

  /** A write that left every partition empty leaves only _SUCCESS:
    * remove the attempt dir before commit, so marker entries carry no
    * data dir at all (nothing references it yet). */
  protected def dropEmptyAttempt(a: Attempt, entries: Seq[PartEntry]): Unit =
    if (entries.forall(_.dir.isEmpty)) deleteRecursively(rootPath.resolve(a.outDir))

  /** Test seam: runs just before the atomic publish (after data +
    * temp manifest are written). Lets a spec inject a racing winner
    * at the exact CAS window. */
  protected def beforeCommit(version: Int): Unit = ()

  /** Single-step atomic commit: hard-link the already-written temp
    * manifest to its version name. Link creation is atomic on POSIX;
    * a concurrent writer that claimed the same version makes it throw
    * FileAlreadyExistsException → surfaced as a commit conflict. The
    * loser has written only to its own nonce'd data dir and its own
    * temp manifest, so the winner's snapshot is untouched. */
  protected def commit(m: Manifest): Unit = {
    // Silent-skip guard: every version strictly between this
    // manifest's parent and its own number must be UNREADABLE (a
    // crash-corrupt head being deliberately bypassed — the documented
    // heal path). A READABLE one is a valid commit that landed between
    // the writer's readableHead resolve and its currentVersion read:
    // publishing would walk the parent pointer PAST it and silently
    // drop its entries from every future resolution. The version-
    // collision CAS below cannot catch this (the numbers differ), so
    // conflict here — same retry contract, and the retry re-resolves
    // with the concurrent commit included. Expired gaps cannot appear
    // in this range (expiry only removes below the current anchor).
    if (m.version >= 0) ((m.parent + 1) until m.version).foreach { v =>
      if (Files.exists(metaDir.resolve(s"v$v.json"))) {
        val readable =
          try { manifestAt(v); true }
          catch {
            case e: java.io.IOException => throw e // never guess on EIO
            case _: Exception => false // corrupt: the intended bypass
          }
        if (readable) throw new TierTable.CommitConflictException(
          s"commit conflict: version $v of $root committed concurrently " +
            s"between resolve and publish of v${m.version} — re-read the " +
            "snapshot and retry (publishing would silently drop v" + v +
            "'s entries from the chain)")
      }
    }
    val tmp = metaDir.resolve(s"tmp-${nonce()}.json")
    Files.write(tmp, TierTable.encode(m))
    // Durability before visibility: force the manifest's data pages to
    // disk BEFORE the atomic publish. Without this, a power/OS crash
    // can persist the v{N}.json directory entry but not its contents —
    // a committed-but-truncated manifest that the strict parser then
    // rejects forever. (readableHead is the belt-and-braces recovery.)
    val ch = java.nio.channels.FileChannel.open(tmp,
      java.nio.file.StandardOpenOption.WRITE)
    try ch.force(true) finally ch.close()
    beforeCommit(m.version)
    try Files.createLink(metaDir.resolve(s"v${m.version}.json"), tmp)
    catch {
      case _: FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        throw new TierTable.CommitConflictException(
          s"commit conflict: version ${m.version} of $root already exists " +
            "(concurrent writer) — re-read the snapshot and retry the merge " +
            "(this writer's data dir is orphaned, reclaimable via vacuum())")
      case _: java.nio.file.NoSuchFileException =>
        // a concurrent vacuum() swept our temp manifest between write
        // and link (only possible past the grace window) — retryable,
        // same contract as losing the CAS
        throw new TierTable.CommitConflictException(
          s"commit conflict: temp manifest for version ${m.version} of $root " +
            "vanished before publish (concurrent vacuum) — retry the merge")
    }
    // persist the directory entry for the link itself
    fsyncDir(metaDir)
    Files.deleteIfExists(tmp)
  }

  private def fsyncDir(dir: Path): Unit =
    try {
      val ch = java.nio.channels.FileChannel.open(dir,
        java.nio.file.StandardOpenOption.READ)
      try ch.force(true) finally ch.close()
    } catch { case _: Exception => () } // not supported on all platforms

  protected def nonce(): String =
    java.util.UUID.randomUUID().toString.take(8)

  // ---- read ---------------------------------------------------------

  private def readEntries(es0: Seq[PartEntry]): DataFrame = {
    // pb = -1 entries are equality-delete tombstones (deleteKeysLazy):
    // key sets masked out of every read until applyTombstones rewrites
    // them physically — the Iceberg v2 merge-on-read delete analog
    val (tomb0, data0) = es0.partition(_.pb < 0)
    // dir = "" is a zero-row marker entry (empty AppendIndexTable
    // batch / cleared tombstone recording its runId lineage) — nothing
    // to scan
    val es = data0.filter(_.dir.nonEmpty)
    val tombs = tomb0.filter(_.dir.nonEmpty)
    if (es.isEmpty) spark.emptyDataFrame
    else {
      val base = spark.read.parquet(es.map(e => s"$root/${e.dir}"): _*)
      if (tombs.isEmpty) base
      else base.join(
        spark.read.parquet(tombs.map(e => s"$root/${e.dir}"): _*)
          .select(col("key")).distinct(),
        Seq("key"), "left_anti") // tombstone sets are small → AQE broadcasts
    }
  }

  /** Snapshot read: the file list comes from the resolved manifest
    * chain, never from directory listing — concurrent/crashed writers
    * are invisible. */
  def read(): DataFrame = readEntries(resolvedEntries)

  /** Time-pruned read: only partitions whose pd (day) falls in
    * [lo, hi] are scanned — manifest-level partition pruning.
    * Tombstones (pb < 0) always ride along: a pending delete masks
    * every read regardless of the day window. */
  def read(loDay: String, hiDay: String): DataFrame =
    readEntries(resolvedEntries.filter(e =>
      e.pb < 0 || (e.pd >= loDay && e.pd <= hiDay)))

  /** Time travel: snapshot read AS OF a committed version. Works for
    * any version whose manifest chain survives (i.e. not below the
    * last [[expireSnapshots]] anchor) — committed files are immutable,
    * so the historical view is byte-stable. */
  def readAt(version: Int): DataFrame = {
    require(version >= 0 && Files.exists(metaDir.resolve(s"v$version.json")),
      s"version $version of $root does not exist (expired or never committed)")
    readEntries(resolvedAt(version))
  }

  /** Incremental read (the Iceberg incremental-scan analog): the
    * CURRENT contents of every partition created or rewritten after
    * `sinceVersion`. Copy-on-write gives every rewrite a fresh
    * attempt-unique data dir while carried-forward entries keep their
    * dir string verbatim, so dir identity IS change identity — no
    * timestamps, no extra metadata. This is what lets a downstream
    * consumer (export job, secondary index, cache) re-process only the
    * partitions a day's merges touched instead of re-scanning the
    * table: at 100 TB the scan is O(changed partitions), not O(table).
    * Partitions REMOVED since `sinceVersion` (retention drops)
    * contribute no rows — an additions/updates scan, not a row-level
    * CDC diff. `sinceVersion = -1` means "everything" (empty base). */
  def readChangesSince(sinceVersion: Int): DataFrame = {
    require(sinceVersion == -1 ||
      (sinceVersion >= 0 && Files.exists(metaDir.resolve(s"v$sinceVersion.json"))),
      s"version $sinceVersion of $root does not exist (expired or never committed)")
    val base = resolvedAt(sinceVersion).map(e => (e.pb, e.pd) -> e.dir).toMap
    // pending tombstones ALWAYS ride along (changed or not): the mask
    // applies to every read of current contents, incremental included
    readEntries(resolvedEntries.filter(e =>
      e.pb < 0 || !base.get((e.pb, e.pd)).contains(e.dir)))
  }

  /** Per-partition lineage + metrics as a DataFrame — the Iceberg
    * `table.partitions` / `table.files` metadata-table analog: one row
    * per live partition at HEAD with the row-count and byte metrics
    * RECORDED AT COMMIT TIME and the runId lineage depth. Built
    * entirely from the resolved manifest chain: no data file is
    * opened, no Spark job scans the table — O(live partitions) driver
    * work, the same order the planner already holds for a merge. At
    * 100 TB this is what makes funnel/audit questions ("how many rows
    * landed per day? which runs touched this partition?") metadata
    * lookups instead of table scans. Zero-row marker entries
    * (dir = "") are included — they exist precisely to carry lineage —
    * and so are pending equality-delete tombstones (pb = -1), the same
    * way Iceberg's metadata tables list delete files. */
  def partitionMetrics: DataFrame = {
    import spark.implicits._
    resolvedEntries
      .map(e => (e.pb, e.pd, e.rows, e.bytes, e.runIds.size, e.runIds))
      .toDF("pb", "pd", "n_rows", "n_bytes", "n_runs", "run_ids")
  }

  /** Metadata-only row count — the Iceberg `SELECT count(*)` manifest
    * shortcut: the sum of committed per-partition row counts, exact by
    * the merge invariant (every commit records the written partition's
    * count), with zero data I/O. With PENDING tombstones
    * ([[deleteKeysLazy]]) this is an upper bound — masked rows are
    * still in the data files, exactly Iceberg's count(*) caveat under
    * equality deletes; run [[applyTombstones]] to restore exactness
    * (spec-pinned). */
  def countRows: Long = resolvedEntries.filter(_.pb >= 0).map(_.rows).sum

  /** Pending equality-delete tombstone entries at HEAD. */
  def pendingTombstones: Seq[PartEntry] = pending(resolvedEntries)

  private def pending(es: Seq[PartEntry]): Seq[PartEntry] =
    es.filter(e => e.pb < 0 && e.dir.nonEmpty)

  // ---- merge --------------------------------------------------------

  private def withPartCols(rollup: DataFrame): DataFrame =
    rollup
      .withColumn("pb", pmod(xxhash64(col("key")), lit(nBuckets.toLong)).cast("int"))
      .withColumn("pd", date_format(col("bucket"), "yyyy-MM-dd"))

  /** Incremental MERGE of partial rollup rows (key, bucket and the
    * stat set of [[Rollup]], optionally sketched) into the tier.
    *
    * Steps: 1) affected partitions = distinct (pb, pd) of the update;
    * 2) combined = (existing rows of affected ∪ updates) re-merged on
    * (key, bucket) — exact; 3) write each affected partition under
    * the attempt-unique data/v{N}-{nonce}/pb=…/pd=…; 4) publish a
    * DELTA manifest carrying only the rewritten partitions (a full
    * snapshot every `compactEvery` commits) with the single-link
    * atomic commit.
    *
    * Resume: a partition whose lineage already contains `runId` is
    * skipped (entry carries forward by reference), so re-running a
    * partially failed job converges without double-merging — even if
    * other runs have since committed to the same partitions. A merge
    * with nothing to write (empty update, or every partition already
    * resumed) publishes NO new version.
    *
    * Driver memory: the collected state is O(live partitions) for the
    * resolve plus O(touched partitions) for counts/bytes — the same
    * order a real Iceberg driver holds for planning; commit I/O is
    * O(touched) only.
    */
  def merge(updates: DataFrame, runId: String): Manifest = {
    import spark.implicits._
    val a = new Attempt
    val upd = withPartCols(updates).cache()
    try {
      val affected = upd.select("pb", "pd").distinct().collect()
        .map(r => (r.getInt(0), r.getString(1))).toSet
      val done = a.doneFor(runId)
      val todo = affected -- done
      if (todo.isEmpty) return publish(a, Nil) // empty batch or fully resumed

      val existingAffected: Option[DataFrame] = {
        // a zero-row marker (dir = "") has nothing to carry into the merge
        val dirs = todo.toSeq.flatMap(a.byPart.get).filter(_.dir.nonEmpty)
          .map(e => s"$root/${e.dir}")
        // leaf-dir reads drop the hive-style partition columns;
        // recompute them — pb/pd are pure functions of (key, bucket)
        if (dirs.isEmpty) None else Some(withPartCols(spark.read.parquet(dirs: _*)))
      }

      // when nothing resumed, todo == affected and the semi-join
      // selects every row — skip the join outright
      val updTodo =
        if (done.isEmpty) upd
        else upd.join(todo.toSeq.toDF("pb", "pd"), Seq("pb", "pd"), "left_semi")
      val combined = existingAffected match {
        case Some(ex) => ex.unionByName(updTodo)
        case None => updTodo
      }
      val merged = Rollup.merge(combined, col("pb"), col("pd"), col("key"), col("bucket"))
      writePartitioned(merged, a)
      publish(a, rewrittenEntries(a, todo, runId))
    } finally upd.unpersist()
  }

  /** Write rows carrying pb/pd under the attempt's dir, one dir per
    * (pb, pd). Hash-distribute by the partition columns before
    * partitionBy: otherwise every shuffle partition writes its own file
    * into every dir it touches (up to parallelism× small files per
    * partition dir — measured 32 files/dir at local[32]). One task per
    * (pb, pd) group → exactly one file per partition dir, the same
    * write distribution real Iceberg uses (distribution-mode = hash). */
  private def writePartitioned(rows: DataFrame, a: Attempt): Unit =
    rows.repartition(col("pb"), col("pd")).write
      .partitionBy("pb", "pd")
      .mode(SaveMode.Overwrite)
      .parquet(s"$root/${a.outDir}")

  /** Entries of the partitions `todo` an attempt rewrote, `runId`
    * appended to each one's lineage. Row counts come from the written
    * parquet footers (exact — the writer's own counts, no
    * retry/accumulator hazard), so the written rows are computed once:
    * no cache, no second groupBy-count job. Footer reads and dir walks
    * run in parallel — a wide merge (hundreds of (pb, day) dirs) would
    * otherwise serialize hundreds of millisecond-class file opens on
    * the driver. */
  private def rewrittenEntries(a: Attempt, todo: Set[(Int, String)],
      runId: String): Seq[PartEntry] =
    parallelMap(todo.toSeq.sorted) { case (pb, pd) =>
      writtenEntry(pb, pd, s"${a.outDir}/pb=$pb/pd=$pd",
        TierTable.lineage(a.byPart.get((pb, pd)), runId))
    }

  /** Key-level DELETE — the Iceberg copy-on-write DELETE analog and
    * the transcript engine's right-to-be-forgotten op: remove every
    * row of `keys` (conv_ids / user keys) from the tier by rewriting
    * ONLY the partitions that actually hold them.
    *
    * Partition pruning is two-stage: (1) manifest-level — only the
    * hash buckets the keys map to are candidates (pure metadata, the
    * same engine-side hash as the write path so there is no replica
    * drift); (2) ONE pruned scan over those buckets' dirs finds the
    * partitions that truly contain a target key (parquet column
    * min/max + dictionary pushdown on `key` make this a metadata-heavy
    * read), so forgetting one conversation at 100 TB rewrites O(days
    * that conversation was active), not O(bucket) and never O(table).
    * Untouched partitions carry forward by reference.
    *
    * A partition whose every row is deleted commits a zero-row marker
    * entry (dir = "") — readers skip it, [[partitionMetrics]] reports
    * 0 rows with the delete run in its lineage. Resume is
    * lineage-idempotent per runId exactly like [[merge]] (a retry
    * skips partitions whose lineage already records the delete).
    *
    * COPY-ON-WRITE CAVEAT (GDPR): earlier snapshots still serve the
    * deleted rows — readAt(preDelete) is unchanged by design. Physical
    * forgetting completes with [[expireSnapshots]] + [[vacuum]]
    * (spec-pinned). `keys` runs through the DataFrame overload below,
    * so a bulk forget list never becomes a giant literal In expression.
    *
    * Publishes nothing (returns the current manifest) when no
    * partition contains the keys or the runId already applied. */
  def deleteKeys(keys: Seq[String], runId: String): Manifest = {
    require(keys.nonEmpty, "need at least one key to delete")
    import spark.implicits._
    deleteKeys(keys.toDF("key"), runId)
  }

  /** Copy-on-write key delete of a one-column `key` DataFrame (e.g.
    * the union of pending tombstone files) — discovery via semi-join,
    * rewrite via left-anti join, manifest-level pb-bucket pruning from
    * the key set's hash buckets (a ≤ nBuckets collect, never the keys
    * themselves), so a 10⁵-key forget backlog never builds a
    * 10⁵-literal In expression (driver memory, plan size, Janino
    * pressure — the documented wide-literal class). */
  def deleteKeys(keysDf: DataFrame, runId: String): Manifest = {
    import spark.implicits._
    val a = new Attempt
    val keys = keysDf.select(col("key")).where(col("key").isNotNull)
      .distinct().localCheckpoint(true)
    val pbs = keys
      .select(pmod(xxhash64(col("key")), lit(nBuckets.toLong)).cast("int"))
      .distinct().as[Int].collect().toSet
    rewriteWithout(a, a.live.filter(e => e.dir.nonEmpty && pbs(e.pb)), runId,
      hit = _.join(keys, Seq("key"), "left_semi"),
      keep = _.join(keys, Seq("key"), "left_anti"))
  }

  /** Predicate DELETE — the general Iceberg `DELETE WHERE` analog:
    * remove every row matching `pred` (an expression over the tier's
    * DATA columns: key, bucket and the rollup stats) by rewriting only the
    * partitions that actually hold a matching row. Without a key list
    * there is no manifest-level bucket pruning, but the discovery scan
    * still pushes `pred` into parquet (column min/max prune row
    * groups) and only file-hit partitions rewrite — a partial forget
    * like `key = 'c42' AND bucket < '2024-02-01'` touches exactly that
    * conversation's early days. NULL predicate rows are KEPT (SQL
    * DELETE semantics: only pred = TRUE deletes). Same lineage
    * idempotency, marker, and copy-on-write/expiry story as
    * [[deleteKeys]]. */
  def deleteWhere(pred: Column, runId: String): Manifest = {
    val a = new Attempt
    rewriteWithout(a, a.live.filter(e => e.dir.nonEmpty && e.pb >= 0), runId,
      hit = _.where(pred),
      // keep rows where pred is FALSE or NULL (SQL DELETE deletes only TRUE)
      keep = _.where(!(pred <=> lit(true))))
  }

  /** Shared copy-on-write delete: find the partitions among `cand`
    * holding a row `hit` selects (one pushdown-pruned scan naming the
    * files → nonce-unique dirs → partitions), rewrite them with the
    * rows `keep` selects, and publish them with `runId` lineage. A
    * partition whose every row was deleted has no written dir and
    * becomes a marker entry (dir = ""). */
  private def rewriteWithout(a: Attempt, cand: Seq[PartEntry], runId: String,
      hit: DataFrame => DataFrame, keep: DataFrame => DataFrame): Manifest = {
    if (cand.isEmpty) return publish(a, Nil)
    val hitFiles = {
      import spark.implicits._
      hit(spark.read.parquet(cand.map(e => s"$root/${e.dir}"): _*))
        .select(input_file_name()).distinct().as[String].collect()
    }
    val touched = cand
      .filter(e => hitFiles.exists(_.contains(s"/${e.dir}/")))
      .map(e => (e.pb, e.pd)).toSet
    val todo = touched -- a.doneFor(runId)
    if (todo.isEmpty) return publish(a, Nil)
    // leaf-dir reads drop the hive partition columns; pb/pd are pure
    // functions of (key, bucket) — same recompute as merge
    val todoDirs = todo.toSeq.map(a.byPart).map(e => s"$root/${e.dir}")
    writePartitioned(keep(withPartCols(spark.read.parquet(todoDirs: _*))), a)
    val entries = rewrittenEntries(a, todo, runId)
    dropEmptyAttempt(a, entries)
    publish(a, entries)
  }

  /** Lazy key-level DELETE — the Iceberg v2 EQUALITY-DELETE
    * (merge-on-read) analog and [[deleteKeys]]'s constant-time
    * complement: commit the key set as a tombstone file and mask it
    * out of every read ([[read]]/[[readAt]]/[[read(lo,hi)]] all apply
    * pending tombstones via one broadcast anti-join) without touching
    * a single data partition. At 100 TB this is what a forget-request
    * queue needs: O(1) commit per request, physical rewrite deferred
    * and BATCHED into one [[applyTombstones]] maintenance pass instead
    * of one copy-on-write rewrite per request.
    *
    * Trade-offs, same as Iceberg's: [[countRows]] becomes an upper
    * bound and [[readChangesSince]] does not surface masked-but-not-
    * rewritten partitions as changes until the tombstone is applied
    * (both spec-pinned). Physical forgetting still requires
    * applyTombstones + expireSnapshots + vacuum.
    *
    * The tombstone rides the ordinary manifest as a PartEntry with
    * pb = -1, pd = "ts:<runId>" (outside the day namespace; exempt
    * from retention drops), so snapshot isolation, time travel, full-
    * snapshot carry-forward, expiry and vacuum all handle it with no
    * special cases. Replaying a runId is a no-op.
    *
    * Ordering semantics (simpler than Iceberg's sequence-number rule,
    * deliberately): a pending tombstone masks its keys in EVERY read —
    * including rows merged AFTER the tombstone was committed — until
    * [[applyTombstones]] clears it. For the forget-request use case
    * that is the right default (forget means forget, even against a
    * racing late merge); spec-pinned. */
  def deleteKeysLazy(keys: Seq[String], runId: String): Manifest = {
    require(keys.nonEmpty, "need at least one key to delete")
    // input validation: runId becomes the tombstone's partition label
    // (pd = "ts:<runId>"), shown by partitionMetrics and in logs — keep
    // it a plain identifier
    require(runId.matches("[A-Za-z0-9._/:-]+"),
      s"deleteKeysLazy runId must match [A-Za-z0-9._/:-]+ (it is embedded " +
        s"in the manifest pd field); got: $runId")
    import spark.implicits._
    val a = new Attempt
    // nothing committed yet to mask, or a lineage-idempotent replay
    if (a.parent < 0 || a.live.exists(e => e.pb < 0 && e.runIds.contains(runId)))
      return publish(a, Nil)
    val dir = s"${a.outDir}/tombstone"
    val ks = keys.distinct
    ks.toDF("key").coalesce(1).write.parquet(s"$root/$dir")
    publish(a, Seq(PartEntry(-1, s"ts:$runId", dir, ks.size.toLong,
      dirSize(rootPath.resolve(dir)), Seq(runId))))
  }

  /** Apply (compact) all pending tombstones: one [[deleteKeys]]
    * copy-on-write rewrite over the UNION of pending key sets, then a
    * second commit clearing the tombstone entries (zero-row markers
    * keep their runId lineage visible). Crash-safe by idempotency:
    * a re-run after a crash between the two commits finds the keys
    * already gone (rewrite no-ops) and clears the markers; replaying
    * `runId` entirely is a no-op. The batched shape is the point —
    * N forget-requests cost ONE rewrite of the partitions that
    * actually hold any of their keys. */
  def applyTombstones(runId: String): Manifest = {
    val before = new Attempt
    val tombs = pending(before.live)
    if (tombs.isEmpty) return publish(before, Nil)
    // the batched-apply path IS the bulk case: feed the tombstone
    // parquet directly to the DataFrame delete (semi/anti joins) —
    // never collect the key union to the driver or build a literal
    // In list from it
    deleteKeys(spark.read.parquet(tombs.map(e => s"$root/${e.dir}"): _*)
      .select(col("key")), runId) // no-op if already applied
    // clear: replace each tombstone entry with a zero-row marker —
    // ONLY the tombstones whose keys this pass actually applied. A
    // forget-request committed concurrently (after `tombs` was read)
    // must survive to the next apply, never be cleared unapplied.
    val applied = tombs.map(e => (e.pb, e.pd)).toSet
    val a = new Attempt
    publish(a, pending(a.live)
      .filter(e => applied((e.pb, e.pd)) && !e.runIds.contains(runId))
      .map(e => e.copy(dir = "", rows = 0L, bytes = 0L,
        runIds = TierTable.lineage(Some(e), runId))))
  }

  /** Reclaim orphan data directories: attempt-unique dirs written by
    * crashed or CAS-losing writers that no committed manifest (at any
    * version — older snapshots stay readable) references. Never
    * touches a referenced file; safe to run concurrently with
    * readers, but not with an in-flight writer (its pre-commit data
    * dir looks like an orphan — same rule as Iceberg's
    * remove-orphan-files maintenance). Returns deleted dir count. */
  def vacuum(): Int = {
    val referenced: Set[String] =
      (0 to currentVersion).flatMap { v =>
        val p = metaDir.resolve(s"v$v.json")
        // an unreadable (crash-truncated) manifest references nothing a
        // reader can reach: its own nonce'd data dirs ARE orphans, and
        // carried-forward dirs stay referenced by the manifests that
        // created them
        if (Files.exists(p))
          try manifestAt(v).entries.map(_.dir.split('/').take(2).mkString("/"))
          catch {
            // an I/O failure reading an EXISTING committed manifest
            // means the referenced set cannot be proven — ABORT the
            // sweep rather than treat its live dirs as orphans
            case e: java.io.IOException => throw e
            case _: Exception =>
              // strict-parse failure = crash-truncated content: its
              // own nonce'd dirs are genuinely unreachable orphans
              System.err.println(s"graft.TierTable: vacuum skipping corrupt manifest v$v")
              Nil
          }
        else Nil
      }.toSet
    val victims = listDir(dataDir)
      .filter(p => !referenced.contains(s"data/${p.getFileName}"))
    victims.foreach(deleteRecursively)
    // stray temp manifests from crashed writers — AGE-GATED: an
    // in-flight writer sits between Files.write(tmp) and createLink
    // for milliseconds, so only temp files older than the grace
    // window can be orphans (deleting a live one would fail that
    // writer's commit — it surfaces as a retryable conflict, but
    // there's no reason to cause it)
    val cutoff = System.currentTimeMillis() - TierTable.tmpGraceMs
    listDir(metaDir)
      .filter(p => p.getFileName.toString.startsWith("tmp-") &&
        Files.getLastModifiedTime(p).toMillis < cutoff)
      .foreach(Files.deleteIfExists(_))
    victims.size
  }

  /** [[merge]] with optimistic-concurrency retry: on a commit
    * conflict (another writer claimed the version first), re-run the
    * merge against the NEW snapshot — merge() re-resolves HEAD on
    * every call, and the loser's attempt only ever wrote to its own
    * nonce'd dir, so a retry is simply calling merge again (the
    * orphaned attempt is reclaimable via [[vacuum]]). Lineage makes
    * the retry exact: partitions the conflicting winner already
    * committed for THIS runId are skipped. */
  def mergeRetrying(updates: DataFrame, runId: String, maxAttempts: Int = 5): Manifest = {
    var attempt = 0
    while (true) {
      attempt += 1
      try return merge(updates, runId)
      catch {
        case e: TierTable.CommitConflictException => if (attempt >= maxAttempts) throw e
      }
    }
    sys.error("unreachable")
  }

  /** Retention enforcement: drop every partition with pd < cutoffDay
    * from the live set — the "keep 1m for 30 days, 1h for a year"
    * policy a retention-tier engine exists for. METADATA-ONLY: one
    * FULL manifest of the retained entries (carried forward by
    * reference, no data rewriting); the dropped partitions' files
    * stay on disk, still readable via time travel to older versions,
    * until [[expireSnapshots]] reclaims them — exactly Iceberg's
    * drop-partition + expire composition. Commit I/O is O(live
    * partitions), the same as any full-snapshot commit.
    *
    * Note: dropping a partition drops its runId lineage with it — a
    * crashed old batch replayed AFTER retention passed its days will
    * re-insert them (the same contract as a replayed write after an
    * Iceberg DELETE). Returns the dropped partition count. */
  def dropPartitionsBefore(cutoffDay: String): Int = {
    val a = new Attempt
    // pb < 0 = tombstone entries: never retention-dropped (their pd is
    // "ts:<runId>", not a day — and a pending delete must outlive the
    // data it masks)
    val dropped = (e: PartEntry) => e.pb >= 0 && e.pd < cutoffDay
    publish(a, Nil, dropped)
    a.live.count(dropped)
  }

  /** Snapshot expiration (Iceberg `expire_snapshots` semantics) — the
    * maintenance op copy-on-write REQUIRES at scale: every MERGE
    * rewrites its touched partitions into a new dir and the superseded
    * files stay on disk, referenced only by older snapshots, so
    * without expiration storage grows with every commit forever
    * ([[vacuum]] reclaims only never-committed orphans).
    *
    * Expiration point: the newest FULL-snapshot version `f` such that
    * at least `keepLast` versions remain at or above it. Manifests
    * below `f` are deleted, then data dirs referenced by NO surviving
    * manifest are deleted. Anchoring on a full snapshot means no
    * surviving delta chain can walk below `f` (resolution stops at the
    * first full manifest), so NO metadata is ever rewritten — and the
    * `compactEvery` cadence bounds the lag between the requested and
    * actual expiration point. Readers of surviving versions are
    * unaffected; time travel to expired versions is gone (same
    * contract as Iceberg). Like [[vacuum]], not safe concurrent with
    * an in-flight writer (its pre-commit nonce'd dir is unreferenced).
    * Runs in O(versions + data dirs) driver-side metadata work, no
    * Spark job.
    *
    * Returns (expired manifest count, deleted data dir count). */
  def expireSnapshots(keepLast: Int = 2): (Int, Int) = {
    val head = currentVersion
    val cutoff = head - math.max(keepLast, 1) + 1
    val f = (math.min(cutoff, head) to 0 by -1).find { v =>
      val p = metaDir.resolve(s"v$v.json")
      Files.exists(p) && manifestAt(v).full
    }
    f match {
      case None => (0, 0) // nothing old enough behind a full snapshot
      case Some(anchor) =>
        val keepDirs = (anchor to head).flatMap { v =>
          val p = metaDir.resolve(s"v$v.json")
          if (Files.exists(p))
            manifestAt(v).entries.map(_.dir.split('/').take(2).mkString("/"))
          else Nil
        }.toSet
        val expired = (0 until anchor)
          .map(v => metaDir.resolve(s"v$v.json")).filter(Files.exists(_))
        expired.foreach(Files.delete(_))
        val victims = listDir(dataDir)
          .filter(p => !keepDirs.contains(s"data/${p.getFileName}"))
        victims.foreach(deleteRecursively)
        (expired.size, victims.size)
    }
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  private def dirSize(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum

  // one Hadoop conf per table instance — newHadoopConf() parses the
  // full XML default set, far too heavy to rebuild per footer read
  @transient private lazy val footerConf = spark.sessionState.newHadoopConf()

  /** Driver-side parallel map for per-entry metadata I/O (footer
    * reads, dir walks) — order-preserving, propagates the first
    * failure. Bounded by the default global pool. */
  protected def parallelMap[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.sequence(xs.map(x => Future(f(x)))), 30.minutes)
  }

  /** Exact row count of the parquet files under `p` from their
    * footers (the writer's own record counts — no Spark job). One
    * footer read per file; the hash-distributed write leaves one file
    * per partition dir, so this is O(1) I/O per entry. */
  private def dirRowCount(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val conf = footerConf
      Files.walk(p).iterator().asScala
        .filter(f => Files.isRegularFile(f) &&
          f.getFileName.toString.endsWith(".parquet"))
        .map { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toUri), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getRecordCount finally r.close()
        }.sum
    }
}

object TierTable {
  /** One committed partition: relative dir, runId lineage + metrics.
    * `runIds` lists every run that has been merged into this
    * partition's current contents, ordered by commit. */
  final case class PartEntry(pb: Int, pd: String, dir: String, rows: Long,
      bytes: Long, runIds: Seq[String])

  /** `full = true` → entries are the complete live-partition set;
    * otherwise a delta over `parent`. */
  final case class Manifest(version: Int, parent: Int, full: Boolean,
      entries: Seq[PartEntry])

  /** Lineage kept per partition: a writer appending a runId drops the
    * oldest beyond this many. */
  val MaxLineage = 256

  /** `prior`'s lineage (none for a new partition) plus `runId`, capped
    * at [[MaxLineage]]. */
  private def lineage(prior: Option[PartEntry], runId: String): Seq[String] =
    (prior.map(_.runIds).getOrElse(Nil) :+ runId).takeRight(MaxLineage)

  /** Manifest codec. Parsing is STRICT: a missing or null field, a
    * string or float where a number belongs, or trailing content fails
    * the whole manifest. A best-effort read would make a corrupt
    * manifest read as partial — read() shrinks, the next merge commits
    * over the "missing" partitions, and vacuum() deletes their files
    * as unreferenced. */
  private val mapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .enable(DeserializationFeature.FAIL_ON_MISSING_CREATOR_PROPERTIES,
      DeserializationFeature.FAIL_ON_NULL_CREATOR_PROPERTIES,
      DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .disable(DeserializationFeature.ACCEPT_FLOAT_AS_INT)
    .disable(MapperFeature.ALLOW_COERCION_OF_SCALARS)
    .build()

  private def encode(m: Manifest): Array[Byte] = mapper.writeValueAsBytes(m)

  /** Jackson's parse errors extend IOException, which every caller
    * reserves for transient read failures that must surface; a corrupt
    * manifest is rethrown as an IllegalStateException so readableHead
    * and vacuum treat it as corrupt and skip it. */
  private def decode(bytes: Array[Byte]): Manifest = {
    val m =
      try mapper.readValue(bytes, classOf[Manifest])
      catch {
        case e: JsonProcessingException =>
          throw new IllegalStateException(s"corrupt manifest: ${e.getOriginalMessage}", e)
      }
    require(m.entries.forall(e => e != null && !e.runIds.contains(null)),
      "corrupt manifest: null entry or runId")
    m
  }

  /** Typed commit-conflict signal: a concurrent writer claimed the
    * version first. Subclasses IllegalStateException so existing
    * catch sites keep working; [[TierTable.mergeRetrying]] keys its
    * retry decision on the TYPE, never on the message text. */
  class CommitConflictException(msg: String) extends IllegalStateException(msg)

  /** Grace window before [[TierTable.vacuum]] may sweep a tmp-*.json:
    * an in-flight writer holds its temp manifest for milliseconds
    * (write → fsync → link), so an hour-old one is certainly a crash
    * orphan. Var (not config) so the race spec can shrink it. */
  @volatile var tmpGraceMs: Long = 60L * 60 * 1000
}
