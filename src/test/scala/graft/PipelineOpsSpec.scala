package graft

import org.apache.spark.sql.functions._
import graft.model.Point
import graft.operators._
import graft.synth.TranscriptGen

/** Skew, ingest-layout, synth-generator, dedup, similarity, text
  * analysis, multimodal plumbing. */
class PipelineOpsSpec extends SparkSpecBase {
  import spark.implicits._

  // ---- skew -----------------------------------------------------------

  test("salted rollup == unsalted rollup exactly (uniform and hot-only salting)") {
    val pts = (0 until 4000).map { i =>
      // heavy head: key h gets 70% of rows
      val k = if (i % 10 < 7) "h" else s"k${i % 10}"
      Point(k, t(i * 13), ((i * 31) % 400) / 8.0)
    }.toDF()
    val want = Rollup.present(Rollup.rollupRaw(pts, "minute"))
    val saltedAll = Rollup.present(Skew.saltedRollup(pts, "minute", 8, None))
    assert(saltedAll.exceptAll(want).count() == 0 && want.exceptAll(saltedAll).count() == 0)
    val hot = Skew.detectHot(pts, sampleFraction = 0.5, minShare = 0.2)
    assert(hot.contains("h"))
    val saltedHot = Rollup.present(Skew.saltedRollup(pts, "minute", 8, Some(hot)))
    assert(saltedHot.exceptAll(want).count() == 0 && want.exceptAll(saltedHot).count() == 0)
  }

  // ---- ingest layout + synth -------------------------------------------

  test("ingest layout preserves per-conversation text digests (B.6)") {
    val tr = TranscriptGen.turns(spark, nTurns = 5000, nConvs = 50, partitions = 8)
    val before = Ingest.digests(tr)
    val after = Ingest.digests(Ingest.layout(tr, nBuckets = 8, nPartitions = 16)
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts"))
    assert(before.exceptAll(after).count() == 0 && after.exceptAll(before).count() == 0)
  }

  test("synth generator: deterministic, skewed, dense turn_idx, non-decreasing ts") {
    val a = TranscriptGen.turns(spark, 2000, 40).collect()
    val b = TranscriptGen.turns(spark, 2000, 40).collect()
    assert(a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted)) // bitwise deterministic
    val df = TranscriptGen.turns(spark, 2000, 40)
    val sizes = df.groupBy("conv_id").count().orderBy(desc("count"))
      .select("count").as[Long].collect()
    assert(sizes.head > 10 * sizes.last, s"expected skew, got head=${sizes.head} tail=${sizes.last}")
    // dense turn_idx per conv and non-decreasing ts along turn_idx
    val bad = df.withColumn("prev",
        lag(col("ts"), 1).over(org.apache.spark.sql.expressions.Window
          .partitionBy("conv_id").orderBy("turn_idx")))
      .where(col("prev") > col("ts")).count()
    assert(bad == 0)
    val idxOk = df.groupBy("conv_id")
      .agg(max("turn_idx").as("mx"), count(lit(1)).as("n"))
      .where(col("mx") =!= col("n") - 1).count()
    assert(idxOk == 0)
  }

  // ---- dedup ------------------------------------------------------------

  val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"),      // exact dup of 0
    (2L, "the quick brown fox leaps over the lazy dog"),      // near dup
    (3L, "completely different content about spark engines"),
    (4L, "the quick brown fox jumps over the lazy dog"),      // exact dup of 0
    (5L, "el rapido zorro marron salta sobre el perro")).toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps min id") {
    val d = Dedup.exact(docs).collect()
    assert(d.map(_.getLong(0)).toSet == Set(0L, 1L, 4L))
    assert(d.forall(_.getLong(1) == 0L))
    assert(d.forall(_.getLong(2) == 3L))
  }

  test("minhash LSH finds exact+near dups, not unrelated docs") {
    val pairs = Dedup.minhashLsh(docs, k = 32, bands = 16, shingleN = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((0L, 4L)))
    assert(pairs.contains((0L, 2L))) // near dup shares most shingles
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("incremental dedup index: batch appends + crash resume ≡ one-shot minhashLsh") {
    // corpus with cross-batch duplicates (i and i+40 share text), so
    // incremental candidates REQUIRE joining new batches against the
    // persisted index, not just within-batch pairs
    val corpus = (0 until 60).map { i =>
      (i.toLong, s"shared template sentence number ${i % 40} with some padding words")
    }.toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_dedup_idx").toString
    val idx = new DedupIndex(spark, root, k = 32, bands = 16, shingleN = 2)
    // incoming batch 2 against index of batches 0-1: only pairs
    // touching batch-2 docs (every 40+i doc pairs with doc i)
    (0 until 2).foreach { b =>
      idx.addBatch(corpus.where(col("doc_id") % 3 === b), s"b$b")
    }
    val batch2 = corpus.where(col("doc_id") % 3 === 2)
    val b2Ids = batch2.select("doc_id").as[Long].collect().toSet
    val fresh = idx.newCandidates(batch2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fresh.nonEmpty && fresh.forall(p => b2Ids(p._1) || b2Ids(p._2)))
    idx.addBatch(batch2, "b2")
    // crash-resume: replaying a committed batch is a lineage no-op
    val vBefore = idx.table.currentVersion
    assert(!idx.addBatch(corpus.where(col("doc_id") % 3 === 1), "b1"))
    assert(idx.table.currentVersion == vBefore)
    // the accumulated index's pairs == the one-shot pipeline's, exactly
    val inc = idx.candidatePairs().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val oneShot = Dedup.minhashLsh(corpus, k = 32, bands = 16, shingleN = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(inc == oneShot && inc.nonEmpty)
    // cross-batch dup pairs really are present (i, i+40 for i in batch≠batch)
    assert(inc.exists { case (a, b, _) => b - a == 40 })
  }

  test("incremental line-dedup index: batch appends + resume ≡ one-shot lineDedup") {
    // boilerplate whose document frequency only crosses the cap
    // ACROSS batches: 'common footer' appears once per batch (df=1
    // per batch, 3 total) — the drop decision REQUIRES summing the
    // persisted partials, not any single batch's count
    val corpus = (0 until 12).map { i =>
      (i.toLong,
        if (i % 4 == 0) s"body $i only\ncommon footer" // docs 0,4,8 → one per batch
        else s"body $i only")
    }.toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_line_idx").toString
    val idx = new LineDedupIndex(spark, root)
    (0 until 3).foreach { b =>
      idx.addBatch(corpus.where(col("doc_id") % 3 === b), s"b$b")
    }
    // resume: replaying a committed batch is a lineage no-op
    val vBefore = idx.table.currentVersion
    assert(!idx.addBatch(corpus.where(col("doc_id") % 3 === 1), "b1"))
    assert(idx.table.currentVersion == vBefore)
    // cumulative df('common footer') = 1+1+1 = 3 > 2 → dropped, even
    // though NO single batch saw it more than twice
    val inc = idx.dedup(corpus, maxDocFreq = 2)
      .as[(Long, String)].collect().toMap
    assert(inc(0L) == "body 0 only" && inc(3L) == "body 3 only")
    assert(inc.values.forall(!_.contains("common footer")))
    // ≡ one-shot lineDedup over the same corpus, exactly
    val oneShot = Dedup.lineDedup(corpus, maxDocFreq = 2)
      .as[(Long, String)].collect().toMap
    assert(inc == oneShot)
    // incremental question: clean a NEW batch against the index
    // without re-reading old text
    val fresh = Seq((100L, "new body\ncommon footer")).toDF("doc_id", "text")
    assert(idx.dedup(fresh, maxDocFreq = 2)
      .as[(Long, String)].collect().toMap.apply(100L) == "new body")
  }

  test("incremental substring index: batch appends + resume ≡ one-shot substringDups") {
    // a 9-word passage shared across batches: candidates REQUIRE
    // cross-batch fingerprint collisions from the persisted index
    val passage = "one two three four five six seven eight nine"
    val corpus = (0 until 9).map { i =>
      (i.toLong,
        if (i % 2 == 0) s"doc $i starts here $passage and ends differently $i"
        else s"unrelated filler text for document number $i with nothing shared")
    }.toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_ss_idx").toString
    val idx = new SubstringDedupIndex(spark, root, k = 4, window = 4)
    (0 until 3).foreach { b =>
      idx.addBatch(corpus.where(col("doc_id") % 3 === b), s"b$b")
    }
    val vBefore = idx.table.currentVersion
    assert(!idx.addBatch(corpus.where(col("doc_id") % 3 === 0), "b0"))
    assert(idx.table.currentVersion == vBefore)
    val inc = idx.dups(corpus, minWords = 9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val oneShot = Dedup.substringDups(corpus, k = 4, window = 4, minWords = 9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(inc == oneShot && inc.nonEmpty)
    // every even-doc pair shares exactly the 14-word run "starts here
    // <9-word passage> and ends differently" (the doc-id tokens break
    // the run at both ends), and the pairs CROSS batches
    assert(inc.forall { case (a, b, lcs) => a % 2 == 0 && b % 2 == 0 && lcs == 14 })
    assert(inc.exists { case (a, b, _) => a % 3 != b % 3 })
  }

  test("dedup candidate volume stays sub-quadratic at 50k docs with total planted-dup recall") {
    // the r3 gap: every dedup number came from ~5k docs. DocGen plants
    // 5k exact dups, 5k near dups and a boilerplate class in a 50k
    // corpus (the PipelineBench generator at 10⁶ is this, scaled).
    val n = 50000L
    val docs = graft.synth.DocGen.documents(spark, n, partitions = 8).cache()
    val pairs = Dedup.minhashLsh(docs, k = 32, bands = 8, maxBucket = 1000).cache()
    val nCand = pairs.count()
    val allPairs = n.toDouble * (n - 1) / 2
    // sub-quadratic: candidates are ~1.6e-5 of all pairs (measured);
    // 1e-4 leaves 6× headroom before the gate trips
    assert(nCand / allPairs < 1e-4, s"candidate ratio ${nCand / allPairs}")
    // total recall on planted exact dups (identical signatures can
    // only be separated by a capped bucket; boilerplate ids excluded)
    val u = n * 8 / 10; val d = n * 9 / 10
    val planted = spark.range(u, d)
      .select((col("id") - u).as("doc_a"), col("id").as("doc_b"))
      .where(col("doc_a") % 500 =!= 0)
    val found = pairs.join(planted, Seq("doc_a", "doc_b"), "left_semi").count()
    assert(found == planted.count(), s"planted exact-dup recall $found/${planted.count()}")
    pairs.unpersist(); docs.unpersist()
  }

  test("jaccard: 1.0 for exact dups, high for near dup, used to verify LSH candidates") {
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("doc_a", "doc_b")
    val j = Dedup.jaccard(pairs, docs, shingleN = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((0L, 1L)) == 1.0)
    assert(j((0L, 2L)) > 0.4 && j((0L, 2L)) < 1.0)
    assert(j((0L, 3L)) == 0.0)
  }

  test("simhash: identical texts share fingerprints; near dups within small hamming") {
    val nd = Dedup.simhashNearDups(docs, maxDist = 12).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(nd((0L, 1L)) == 0 && nd((0L, 4L)) == 0)
    assert(!nd.contains((0L, 3L)))
    // raw fingerprints: near dup (one word changed) is much closer
    // than the unrelated doc (chunk-pigeonhole candidates only
    // GUARANTEE recall at hamming ≤ 3, so compare distances directly)
    val sh = Dedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(sh(a) ^ sh(b))
    assert(ham(0L, 2L) < ham(0L, 3L))
    assert(ham(0L, 2L) <= 24)
  }

  // ---- similarity ---------------------------------------------------------

  def embRow(id: Long, base: Array[Float], noise: Float): (Long, Array[Float]) =
    (id, base.zipWithIndex.map { case (v, i) => v + noise * ((i * 2654435761L + id) % 7 - 3) / 100f })

  test("brute-force cosine top-k: self-similar vectors rank first") {
    val base = Array.tabulate(16)(i => math.sin(i + 1).toFloat)
    val other = Array.tabulate(16)(i => math.cos(3 * i + 2).toFloat)
    val rows = Seq(
      embRow(0, base, 0f), embRow(1, base, 0.01f), embRow(2, base, 0.05f),
      embRow(3, other, 0f), embRow(4, other, 0.01f))
      .toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(rows, rows.where(col("vec_id") === 0), 2)
      .orderBy("rank").collect()
    assert(top.map(_.getLong(2)).toSeq == Seq(1L, 2L))
    assert(top.head.getDouble(3) > 0.99)
  }

  test("LSH ANN recall: finds the true top neighbor for most queries") {
    val rng = new scala.util.Random(1)
    val clusters = Array.fill(5)(Array.fill(16)(rng.nextFloat() * 2 - 1))
    val rows = (0 until 200).map { i =>
      val c = clusters(i % 5)
      (i.toLong, c.map(v => v + (rng.nextFloat() - 0.5f) * 0.1f))
    }.toDF("vec_id", "embedding")
    val queries = rows.where(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(rows, queries, 1)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toMap
    val ann = Similarity.lshTopK(rows, queries, 1, bits = 8, tables = 6)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toMap
    val recall = exact.count { case (q, v) => ann.get(q).contains(v) }.toDouble / exact.size
    assert(recall >= 0.8, s"recall=$recall")
  }

  test("IVF ANN: probing a few inverted lists finds the true top neighbor on clustered data") {
    val rng = new scala.util.Random(3)
    val clusters = Array.fill(5)(Array.fill(16)(rng.nextFloat() * 2 - 1))
    val rows = (0 until 320).map { i =>
      val c = clusters(i % 5)
      (i.toLong, c.map(v => v + (rng.nextFloat() - 0.5f) * 0.1f))
    }.toDF("vec_id", "embedding")
    val queries = rows.where(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(rows, queries, 1)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toMap
    // pivot step 20 → 16 pivots over 5 clusters; 4 probes
    val ivf = Similarity.ivfTopK(rows, queries, 1, centroidStep = 20, nProbe = 4)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toMap
    val recall = exact.count { case (q, v) => ivf.get(q).contains(v) }.toDouble / exact.size
    assert(recall >= 0.8, s"recall=$recall")
    // and the candidate set is genuinely pruned: with 16 pivots and 4
    // probes each query scores ≤ ~1/2 of the corpus, not all of it
    val cand = Similarity.ivfTopK(rows, queries, 1000, centroidStep = 20, nProbe = 4)
      .groupBy("q_id").count().select(max("count")).head().getLong(0)
    assert(cand < 320 * 3 / 4, s"worst-case candidates $cand of 320")
    // adaptive sizing (centroidStep <= 0): step ≈ √n keeps the pivot
    // broadcast O(√n) while recall holds on the same clustered corpus
    assert(Similarity.autoStep(320) == 18)
    assert(Similarity.autoStep(1000000000L) == 31623) // 10⁹ → √n pivots
    val auto = Similarity.ivfTopK(rows, queries, 1, centroidStep = 0, nProbe = 4)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toMap
    val autoRecall = exact.count { case (q, v) => auto.get(q).contains(v) }.toDouble / exact.size
    assert(autoRecall >= 0.8, s"auto-step recall=$autoRecall")
    // hot-list cap degrades GRACEFULLY: one pivot holds the whole
    // corpus, maxList=3 → each query still sees the list's first 3
    // members (bounded, non-empty candidates), never a zeroed index
    val capped = Similarity.ivfTopK(rows, queries, 10,
        centroidStep = 320, nProbe = 1, maxList = 3)
      .groupBy("q_id").count().as[(Long, Long)].collect().toMap
    assert(capped.nonEmpty && capped.values.forall(n => n >= 2 && n <= 3),
      s"capped candidate counts: $capped")
  }

  test("k-means IVF quantizer beats pivot quantizer on clustered data at equal probe budget") {
    // 40 well-separated clusters, 800 vectors: 16 pivot seeds cannot
    // cover every cluster, so at nProbe=1 some queries probe a list
    // whose members were assigned elsewhere; Lloyd's iterations move
    // the same 16 seeds onto real cluster centers
    val rng = new scala.util.Random(7)
    val nClusters = 40
    val clusters = Array.fill(nClusters)(Array.fill(16)(rng.nextFloat() * 2 - 1))
    val rows = (0 until 800).map { i =>
      val c = clusters(i % nClusters)
      (i.toLong, c.map(v => v + (rng.nextFloat() - 0.5f) * 0.15f))
    }.toDF("vec_id", "embedding").cache()
    val queries = rows.where(col("vec_id") < 40)
    val exact = Similarity.bruteForceTopK(rows, queries, 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("q_id", "vec_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      exact.map { case (q, want) =>
        want.intersect(got.getOrElse(q, Set.empty)).size.toDouble / want.size
      }.sum / exact.size
    }
    val p = recall(Similarity.ivfTopK(rows, queries, 5, centroidStep = 50, nProbe = 1))
    val km = recall(Similarity.ivfTopKKmeans(rows, queries, 5, centroidStep = 50, nProbe = 1))
    // measured: pivot 0.91, k-means 1.00 (deterministic seeded corpus)
    assert(km > p, s"kmeans=$km pivot=$p")
    assert(km >= 0.99, s"kmeans recall=$km")
    assert(p >= 0.85, s"pivot recall=$p (corpus drifted?)")
    // the learned centroid set never exceeds its seed count
    val nCents = Similarity.kmeansCentroids(rows, centroidStep = 50).count()
    assert(nCents <= 16 && nCents >= 8, s"centroids=$nCents")
  }

  test("transitive dedup clusters: chained pairs collapse to one min-id cluster") {
    // a~b, b~c, c~d chain (a never directly paired with d) + a
    // disjoint pair — per-pair least() would mislabel c and d
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.clusters(pairs).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    // a longer chain than the default still converges (maxIter bound)
    val chain = (0L until 15L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val c2 = Dedup.clusters(chain).as[(Long, Long)].collect().toMap
    assert(c2.values.toSet == Set(0L) && c2.size == 16)
    // hitting maxIter without convergence fails loudly — a silent
    // stop would return split components
    intercept[IllegalStateException](Dedup.clusters(chain, maxIter = 3))
  }

  test("cosine self-join near-dups") {
    val base = Array.tabulate(16)(i => math.sin(i + 1).toFloat)
    val rows = Seq(embRow(0, base, 0f), embRow(1, base, 0.005f),
      embRow(2, Array.tabulate(16)(i => math.cos(2 * i).toFloat), 0f))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.cosineSelfJoin(rows, 0.995, bits = 6, tables = 8).collect()
    assert(pairs.exists(r => r.getLong(0) == 0L && r.getLong(1) == 1L))
    assert(!pairs.exists(r => r.getLong(1) == 2L || r.getLong(0) == 2L))
  }

  test("cosineSelfJoin/lshTopK survive a candidate set that cannot broadcast (r2 verdict #2)") {
    // with auto-broadcast disabled, the un-hinted joins must plan as
    // shuffle joins and still return the identical pair set — proving
    // the pipeline no longer depends on an unbounded forced broadcast
    val base = Array.tabulate(16)(i => math.sin(i + 1).toFloat)
    val rows = (0 until 300).map { i =>
      if (i % 3 == 0) embRow(i, base, 0.004f)
      else embRow(i, Array.tabulate(16)(j => math.cos((i % 7 + 2) * j).toFloat), 0.004f)
    }.toDF("vec_id", "embedding")
    val withHints = Similarity.cosineSelfJoin(rows, 0.995, bits = 6, tables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val df = Similarity.cosineSelfJoin(rows, 0.995, bits = 6, tables = 8)
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == withHints && got.nonEmpty)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"),
        "candidate joins must not require a broadcast when broadcasts are unavailable")
      // ANN path: same property (query-side broadcast hints are on the
      // bounded-by-contract side only; with thresholds off they also
      // plan without requiring runtime-unbounded broadcasts)
      val ann = Similarity.lshTopK(rows, rows.where(col("vec_id") < 3), 2,
        bits = 6, tables = 4)
      assert(ann.collect().nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      prevAqe match {
        case Some(v) => spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("adaptive LSH sizing: planted-pair recall stays total as the corpus grows (sf0.1)") {
    // the r2-certified planted-pair protocol, now with bits derived
    // from log2(corpus): 20 planted near-dups at cos ≥ 0.997 over the
    // sf0.1 embeddings (2000 vectors) must ALL surface, with bucket
    // occupancy bounded by the adaptive width.
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.1")
      .select("vec_id", "embedding")
    val planted = e.where(col("vec_id") < 20).select(
      (col("vec_id") + 10000).as("vec_id"),
      concat(
        array(element_at(col("embedding"), 1) * lit(1.25f)),
        slice(col("embedding"), 2, 1000000)).as("embedding"))
    val corpus = e.unionByName(planted)
    val n = corpus.count()
    val bits = Similarity.autoBits(n)
    assert(bits >= 6, s"adaptive bits=$bits for n=$n should exceed the small-corpus floor")
    val pairs = Similarity.cosineSelfJoin(corpus, 0.9, bits = 0, tables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 20).foreach { i =>
      assert(pairs.contains((i.toLong, i + 10000L)), s"planted pair $i missing")
    }
  }

  test("vec_dot preserves HOF null semantics: a null element nulls the product") {
    val rows = Seq(
      (0L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0, 4.0)),
      (1L, Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](3.0, 4.0)),
      (2L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](null, 4.0))
    ).toDF("id", "a", "b")
    val got = rows.select(col("id"),
      graft.functions.VecExpressions.vec_dot(col("a"), col("b")).as("d"))
      .orderBy("id").collect()
    assert(got(0).getDouble(1) == 11.0)
    assert(got(1).isNullAt(1) && got(2).isNullAt(1))
  }

  test("vec_dot codegen kernel is bit-identical to the HOF fold") {
    val rng = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      (i.toLong, Array.fill(64)(rng.nextFloat() * 2 - 1),
        Array.fill(64)(rng.nextDouble() * 2 - 1))
    }.toDF("id", "fa", "da")
    val hofDot = aggregate(zip_with(col("fa"), col("da"),
      (x, y) => x.cast("double") * y.cast("double")), lit(0.0d), (acc, x) => acc + x)
    val got = rows.select(
      graft.functions.VecExpressions.vec_dot(col("fa"), col("da")).as("k"),
      hofDot.as("h"),
      graft.functions.VecExpressions.vec_dot(col("fa"), col("fa")).as("kff"))
      .collect()
    got.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1)) // bit-exact, same fold order
      assert(r.getDouble(2) >= 0.0)
    }
  }

  test("lsh_buckets kernel is bit-identical to the literal-hyperplane composition") {
    import graft.functions.VecExpressions
    val rng = new scala.util.Random(11)
    val rows = (0 until 300).map { i =>
      (i.toLong, Array.fill(64)(rng.nextFloat() * 2 - 1))
    }.toDF("id", "emb")
    val tables = 8; val bits = 17; val dim = 64
    // the exact composition the kernel replaced (and the form the
    // DuckDB oracles replay with literal hyperplane lists)
    def literalBucket(t: Int): org.apache.spark.sql.Column =
      (0 until bits).map { b =>
        val proj = VecExpressions.vec_dot(col("emb"), lit(Similarity.plane(t, b, dim)))
        when(proj >= 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
    val got = rows.select(
      VecExpressions.lsh_buckets(col("emb"), tables, bits, dim).as("k"),
      array((0 until tables).map(literalBucket): _*).as("lit")).collect()
    got.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
    // double-element input agrees with itself across eval paths:
    // interpreted (nullSafeEval) vs wholestage codegen
    val dRows = (0 until 50).map { i =>
      (i.toLong, Array.fill(32)(rng.nextDouble() * 2 - 1))
    }.toDF("id", "emb")
    val expr = VecExpressions.LshBuckets(
      org.apache.spark.sql.graft.bridge.expression(col("emb")), 4, 9, 32)
    val viaDf = dRows.select(org.apache.spark.sql.graft.bridge.column(expr).as("k"))
      .collect().map(_.getSeq[Long](0))
    val interp = dRows.collect().map { r =>
      val emb = r.getSeq[Double](1).toArray
      (0 until 4).map { t =>
        (0 until 9).foldLeft(0L) { (acc, b) =>
          val p = Similarity.plane(t, b, 32)
          val dot = emb.indices.foldLeft(0.0)((s, i) => s + emb(i) * p(i))
          if (dot >= 0.0) acc | (1L << b) else acc
        }
      }
    }
    viaDf.zip(interp).foreach { case (a, b) => assert(a == b) }
    // null-element semantics match the composition: all-zero buckets
    val nRows = Seq((0L, Seq[java.lang.Double](1.0, null, 0.5))).toDF("id", "emb")
    val nGot = nRows.select(VecExpressions.lsh_buckets(col("emb"), 3, 5, 3).as("k"))
      .head().getSeq[Long](0)
    assert(nGot == Seq(0L, 0L, 0L))
  }

  test("cent_topk kernel is bit-identical to the broadcast-join + window composition") {
    import graft.functions.VecExpressions
    import org.apache.spark.sql.expressions.Window
    val rng = new scala.util.Random(23)
    val dim = 32
    // NOTE: no zero vector here — the COMPOSED form's division raises
    // ANSI DIVIDE_BY_ZERO on a zero norm, while the kernel keeps plain
    // IEEE semantics (NaN cosines, ranked NaN-greatest like Spark's
    // double order); the degenerate rows are pinned against the hand
    // reference below instead
    val side = (0 until 200).map { i =>
      (i.toLong, Array.fill(dim)(rng.nextFloat() * 2 - 1).toSeq.map(java.lang.Float.valueOf))
    }.toDF("id", "emb")
    val degenerate = Seq(
      (900L, Seq.fill(dim)(java.lang.Float.valueOf(0f))),
      (901L, java.lang.Float.valueOf(1f) +: Seq.fill(dim - 1)(
        null.asInstanceOf[java.lang.Float])))
      .toDF("id", "emb")
    // centroid ids 3,7,11,…; ids 3 and 7 share ONE embedding so every
    // row ties on them and the cent_id tie-break is exercised
    val shared = Array.fill(dim)(rng.nextFloat() * 2 - 1)
    val centRows = (0 until 25).map { c =>
      ((c * 4 + 3).toLong, if (c < 2) shared else Array.fill(dim)(rng.nextFloat() * 2 - 1))
    }
    val cents = centRows.toDF("cent_id", "cent_emb")
      .withColumn("cent_nrm", Similarity.l2norm(col("cent_emb")))
    val centCollected = cents.collect().sortBy(_.getLong(0))
    val ids = centCollected.map(_.getLong(0))
    val nrms = centCollected.map(_.getDouble(2))
    val embs = centCollected.flatMap(_.getSeq[Float](1).map(_.toDouble))
    for (keep <- Seq(1, 4)) {
      // the exact composition the kernel replaced
      val scored = side.join(broadcast(cents))
        .select(col("id"), col("cent_id"),
          (VecExpressions.vec_dot(col("emb"), col("cent_emb")) /
            (Similarity.l2norm(col("emb")) * col("cent_nrm"))).as("cs"))
      val w = Window.partitionBy(col("id")).orderBy(col("cs").desc, col("cent_id"))
      val composed = scored.withColumn("rn", row_number().over(w))
        .where(col("rn") <= keep)
        .select(col("id"), col("rn"), col("cent_id"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val viaKernel = side.select(col("id"),
          posexplode(VecExpressions.cent_topk(col("emb"), ids, embs, nrms, dim, keep)))
        .select(col("id"), (col("pos") + 1).as("rn"), col("col").as("cent_id"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(viaKernel == composed, s"keep=$keep")
      // independent hand-computed reference (full sort, not the
      // kernel's insertion loop) pins rank ORDER within each row,
      // including the degenerate zero-norm / null-element rows
      val handSide = side.union(degenerate)
      val handRef = handSide.collect().map { r =>
        val id = r.getLong(0)
        val embSeq = r.getSeq[java.lang.Float](1)
        if (embSeq.exists(_ == null)) (id, ids.take(keep).toSeq)
        else {
          val e = embSeq.map(_.toDouble).toArray
          var sq = 0.0
          e.foreach(v => sq += v * v)
          val nrm = math.sqrt(sq)
          val n = math.min(e.length, dim)
          val scoredRow = ids.indices.map { c =>
            var dot = 0.0
            var i = 0
            while (i < n) { dot += e(i) * embs(c * dim + i); i += 1 }
            (dot / (nrm * nrms(c)), ids(c))
          }
          val ord = new Ordering[(Double, Long)] {
            def compare(a: (Double, Long), b: (Double, Long)): Int = {
              val c1 = if (a._1 == b._1) 0 else -java.lang.Double.compare(a._1, b._1)
              if (c1 != 0) c1 else java.lang.Long.compare(a._2, b._2)
            }
          }
          (id, scoredRow.sorted(ord).take(keep).map(_._2))
        }
      }.sortBy(_._1)
      val viaDf = handSide.select(col("id"),
          VecExpressions.cent_topk(col("emb"), ids, embs, nrms, dim, keep).as("k"))
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1)
      viaDf.zip(handRef).foreach { case (a, b) => assert(a == b, s"keep=$keep") }
    }
  }

  // ---- text analysis ------------------------------------------------------

  test("token counts") {
    val d = Seq((0L, "one two  three"), (1L, ""), (2L, "  "), (3L, "word")).toDF("doc_id", "text")
    val got = d.select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n"))
      .orderBy("doc_id").select("n").as[Int].collect().toSeq
    assert(got == Seq(3, 0, 0, 1))
  }

  test("langId picks marker language; quality scores bounded") {
    val d = Seq(
      (0L, "the cat and the dog went to the park with a ball"),
      (1L, "el perro y el gato en la casa de la playa"),
      (2L, "der hund und die katze ist nicht mit dem ball"),
      (3L, "xyzzy qwerty asdf")).toDF("doc_id", "text")
    val langs = TextAnalysis.langId(d).orderBy("doc_id")
      .select("lang_pred").as[String].collect().toSeq
    assert(langs == Seq("en", "es", "de", "und"))
    val q = TextAnalysis.qualityScore(d).select("quality").as[Double].collect()
    assert(q.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("fingerprint is edit-robust: near dup shares most min-hashes") {
    val fp = TextAnalysis.fingerprint(docs, k = 2, keep = 6)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(fp(0L) == fp(1L))
    assert(fp(0L).intersect(fp(2L)).size >= 3)
    assert(fp(0L).intersect(fp(3L)).isEmpty)
  }

  test("minhash LSH band-bucket occupancy cap bounds a degenerate bucket") {
    // 200 boilerplate clones (one hot bucket in EVERY band) + 2 real
    // near-dups: uncapped this is ~200²/2 × 8 bands of candidate rows;
    // capped, the boilerplate bucket is dropped entirely and only the
    // genuine pair survives.
    val boiler = (10L until 210L).map(i => (i, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"))
    val real = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight again"),
      (1L, "the quick brown fox jumps over the lazy dog tonight still"))
    val corpus = (boiler ++ real).toDF("doc_id", "text")
    val capped = Dedup.minhashLsh(corpus, k = 32, bands = 8, maxBucket = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((0L, 1L)), s"got $capped")
    val uncapped = Dedup.minhashLsh(corpus, k = 32, bands = 8, maxBucket = 1000000)
    assert(uncapped.count() == 200L * 199 / 2 + 1) // quadratic without the guard
  }

  test("portable (md5) minhash LSH finds the same dup structure as xxhash64") {
    val fast = Dedup.minhashLsh(docs, k = 32, bands = 16, shingleN = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val port = Dedup.minhashLsh(docs, k = 32, bands = 16, shingleN = 2, portable = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (p <- Seq((0L, 1L), (0L, 4L), (1L, 4L)))
      assert(fast.contains(p) && port.contains(p)) // exact dups always collide
    assert(!port.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("deterministic hash sample: stable, engine-portable fraction") {
    val pts = (0 until 4000).map(i => Point(s"k${i % 7}", t(i * 13), i / 8.0)).toDF()
    val s1 = SeriesAlgebra.sampleDeterministic(pts, 2).collect().map(_.toString).sorted
    val s2 = SeriesAlgebra.sampleDeterministic(pts, 2).collect().map(_.toString).sorted
    assert(s1.sameElements(s2))
    assert(math.abs(s1.length / 4000.0 - 2.0 / 16) < 0.03, s"got ${s1.length}")
    // num=4 sample is a superset of num=2 (prefix classes nest)
    val s4 = SeriesAlgebra.sampleDeterministic(pts, 4).collect().map(_.toString).toSet
    assert(s1.forall(s4.contains))
  }

  // ---- multimodal -----------------------------------------------------------

  test("multimodal plumbing: decode stub deterministic, schema+batching real") {
    val media = Multimodal.synthMedia(spark, 100)
    val f1 = Multimodal.decodeAndFeaturize(media).collect().sortBy(_.media_id)
    val f2 = Multimodal.decodeAndFeaturize(media).collect().sortBy(_.media_id)
    assert(f1.map(_.feature.toSeq).toSeq == f2.map(_.feature.toSeq).toSeq)
    assert(f1.forall(_.decoded_ok))
    assert(f1.forall(_.feature.length == 8))
    assert(f1.filter(_.kind == "video").forall(_.n_sampled_frames >= 1))
    val means = Multimodal.featureMeans(Multimodal.decodeAndFeaturize(media))
    assert(means.count() == 3 * 8) // 3 kinds × 8 feature dims
  }

  // ---- representative selection / stratified sampling ------------------

  test("selectRepresentatives: best quality wins, ties break to min id, keep flags exact") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "cluster_id")
    val quality = Seq((1L, 0.2), (2L, 0.9), (3L, 0.9), (10L, 0.5), (11L, 0.5))
      .toDF("doc_id", "quality")
    val got = Dedup.selectRepresentatives(clusters, quality)
      .orderBy("doc_id")
      .select("doc_id", "representative_id", "keep")
      .as[(Long, Long, Int)].collect().toSeq
    // cluster 1: docs 2 and 3 tie at 0.9 → min id 2 wins over doc 1's 0.2
    // cluster 10: 10 and 11 tie at 0.5 → 10 wins
    assert(got == Seq((1L, 2L, 0), (2L, 2L, 1), (3L, 2L, 0),
      (10L, 10L, 1), (11L, 10L, 0)))
  }

  test("stratifiedSample: deterministic, per-stratum rates honored, unknown strata kept") {
    val docs = (0 until 1600).map(i =>
      (i.toLong, Seq("en", "es", "de", "und")(i % 4))).toDF("doc_id", "stratum")
    val rates = Map("en" -> 4, "es" -> 8, "de" -> 0)
    def run() = TextAnalysis.stratifiedSample(docs, col("stratum"), col("doc_id"), rates)
    val a = run().orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(a == run().orderBy("doc_id").as[(Long, String)].collect().toSeq) // deterministic
    val by = a.groupBy(_._2).view.mapValues(_.size).toMap
    assert(!by.contains("de"))                 // rate 0 drops the stratum
    assert(by("und") == 400)                   // absent stratum kept in full
    // md5 nibbles are uniform: 400 docs/stratum at rate r/16 ≈ 25r ± sampling noise
    assert(math.abs(by("en") - 100) < 50, s"en=${by("en")}")
    assert(math.abs(by("es") - 200) < 60, s"es=${by("es")}")
    // rate honors the exact md5-class definition per row
    val enKept = a.filter(_._2 == "en").map(_._1).toSet
    (0 until 1600 by 4).foreach { i =>
      val nib = java.security.MessageDigest.getInstance("MD5")
        .digest(s"en:$i".getBytes("UTF-8")).take(1).map("%02x".format(_)).mkString.take(1)
      assert(enKept.contains(i.toLong) == (nib < "4"), s"doc $i nib $nib")
    }
  }

  test("stratifiedSample rejects an input column named __stratum instead of clobbering it") {
    val docs = Seq((1L, "en", "mine")).toDF("doc_id", "stratum", "__stratum")
    val e = intercept[IllegalArgumentException](
      TextAnalysis.stratifiedSample(docs, col("stratum"), col("doc_id"), Map("en" -> 8)))
    assert(e.getMessage.contains("__stratum"))
  }

  test("tokenBudgetMix: integer rates from weights + budget, cap at 16, unmapped dropped") {
    // 3 sources × 400 docs × 10 tokens each → 4000 tokens available per source
    val docs = (0 until 1200).map(i =>
      (i.toLong, Seq("a", "b", "c")(i % 3), "w " * 9 + "w")).toDF("doc_id", "source", "text")
    val toks = TextAnalysis.tokenCount(col("text"))
    // weights a:1 b:3 (W=4), budget 8000: target a = 2000 of 4000 →
    // rate16 = floor(16·1·8000/(4·4000)) = 8; b = 6000 of 4000 → capped 16;
    // c unmapped → 0
    val got = TextAnalysis.tokenBudgetMix(docs, Map("a" -> 1, "b" -> 3), 8000L, toks)
    val rates = got.select("source", "rate16").distinct()
      .as[(String, Int)].collect().toMap
    assert(rates == Map("a" -> 8, "b" -> 16, "c" -> 0))
    val kept = got.where(col("keep") === 1).groupBy("source").count()
      .as[(String, Long)].collect().toMap
    assert(kept.getOrElse("c", 0L) == 0L)      // rate 0 keeps nothing
    assert(kept("b") == 400L)                  // rate 16 keeps everything
    assert(math.abs(kept("a") - 200L) < 60, s"a=${kept("a")}") // ≈ 8/16 of 400
    // decision is the md5-nibble class per (source, doc_id) — partition-invariant
    val k1 = got.where(col("keep") === 1).select("doc_id").as[Long].collect().toSet
    val k2 = TextAnalysis.tokenBudgetMix(docs.repartition(7), Map("a" -> 1, "b" -> 3),
        8000L, toks)
      .where(col("keep") === 1).select("doc_id").as[Long].collect().toSet
    assert(k1 == k2)
    // zero-token source never divides by zero, rates stay defined
    val withEmpty = docs.union(Seq((9999L, "d", "")).toDF("doc_id", "source", "text"))
    val r2 = TextAnalysis.tokenBudgetMix(withEmpty,
        Map("a" -> 1, "b" -> 3, "d" -> 5), 8000L, toks)
      .select("source", "rate16").distinct().as[(String, Int)].collect().toMap
    assert(r2("d") == 0)
  }

  test("lmScore: Laplace-smoothed quantized log-probs, OOV bucket, exact decimal sums") {
    // reference (src0): "a a b" → c(a)=2, c(b)=1, T=3, V=2, denom=6
    //   lp(a) = round(ln(3/6),4) = -0.6931   lp(b) = round(ln(2/6),4) = -1.0986
    //   unk   = round(ln(1/6),4) = -1.7918
    val docs = Seq(
      (1L, "src0", "a a b"),
      (2L, "web", "a b c"),        // n=3 oov=1 sum=-3.5835
      (3L, "web", "   "),          // zero tokens
      (4L, "web", "A  a\n a")      // case/whitespace fold → a×3
    ).toDF("doc_id", "source", "text")
    val got = TextAnalysis.lmScore(docs, docs.where(col("source") === "src0"))
      .orderBy("doc_id")
      .as[(Long, Long, Long, BigDecimal, Double)].collect().toSeq
    def bd(s: String) = BigDecimal(s)
    assert(got(0) == ((1L, 3L, 0L, bd("-2.4848"), (2.4848: Double) / 3)))
    assert(got(1) == ((2L, 3L, 1L, bd("-3.5835"), (3.5835: Double) / 3)))
    assert(got(2) == ((3L, 0L, 0L, bd("0.0000"), 0.0)))
    assert(got(3) == ((4L, 3L, 0L, bd("-2.0793"), (2.0793: Double) / 3)))
    // totals hint: identical output, no plan-time scalar job needed
    val hinted = TextAnalysis.lmScore(docs.repartition(5),
        docs.where(col("source") === "src0"), totals = Some((3L, 2L)))
      .orderBy("doc_id")
      .as[(Long, Long, Long, BigDecimal, Double)].collect().toSeq
    assert(hinted == got) // and partition-invariant
  }

  test("shardCorpus: unbiased power-of-two bucketing, dense shard-local positions, seeded") {
    val docs = (0L until 4096L).toDF("doc_id")
    val got = TextAnalysis.shardCorpus(docs, "doc_id", nShards = 4, seed = "s1")
      .as[(Long, Int, Long)].collect().toSeq
    assert(got.size == 4096 && got.map(_._1).toSet.size == 4096) // a permutation
    val byShard = got.groupBy(_._2)
    assert(byShard.keySet.subsetOf((0 until 4).toSet))
    // positions are a dense 0..n-1 enumeration per shard
    byShard.foreach { case (sh, rows) =>
      assert(rows.map(_._3).sorted == (0L until rows.size).toList, s"shard $sh")
      // md5 is uniform: 1024 ± noise per shard
      assert(math.abs(rows.size - 1024) < 200, s"shard $sh size ${rows.size}")
    }
    // shard and pos replay the md5 definition per id
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    got.take(64).foreach { case (id, sh, _) =>
      val v = java.lang.Long.parseLong(md5hex(s"s1:$id").take(4), 16)
      assert(sh == (v * 4) / 65536, s"id $id")
    }
    val expectPos = byShard.view.mapValues(_.sortBy(r => (md5hex(s"s1:${r._1}"), r._1))
      .map(_._1).zipWithIndex.toMap).toMap
    got.foreach { case (id, sh, pos) => assert(pos == expectPos(sh)(id).toLong) }
    // deterministic + partition-invariant; a new seed is a fresh shuffle
    val again = TextAnalysis.shardCorpus(docs.repartition(7), "doc_id", 4, "s1")
      .as[(Long, Int, Long)].collect().toSeq.sortBy(_._1)
    assert(again == got.sortBy(_._1))
    val other = TextAnalysis.shardCorpus(docs, "doc_id", 4, "s2")
      .as[(Long, Int, Long)].collect().toSeq.sortBy(_._1)
    assert(other != got.sortBy(_._1))
    intercept[IllegalArgumentException] {
      TextAnalysis.shardCorpus(docs, "doc_id", nShards = 3)
    }
  }

  test("packSequences: greedy per-shard bins, oversize doc isolated, shards independent") {
    // token counts by id: 300, 300, 600, 100, 200, 50 at budget 512
    val docs = Seq((1L, 300L), (2L, 300L), (3L, 600L), (4L, 100L),
      (5L, 200L), (6L, 50L)).toDF("doc_id", "nt")
    // single shard, greedy by id: 300 | 300 | 600 (oversize, alone) | 100+200+50
    val one = TextAnalysis.packSequences(docs, "doc_id", col("nt"), 512L, lit(0))
      .orderBy("doc_id").select("bin_seq").as[Long].collect().toSeq
    assert(one == Seq(0L, 1L, 2L, 3L, 3L, 3L))
    // two shards pack independently of each other's fill state:
    // odd ids (300, 600, 200) → 3 bins; even ids (300+100+50=450) → 1 bin
    val m = TextAnalysis.packSequences(docs, "doc_id", col("nt"), 512L,
        pmod(col("doc_id"), lit(2)).cast("int"))
      .select("doc_id", "bin_seq").as[(Long, Long)].collect().toMap
    assert(m == Map(1L -> 0L, 3L -> 1L, 5L -> 2L, 2L -> 0L, 4L -> 0L, 6L -> 0L))
  }

  test("substringDups: winnowing candidates + exact LCS verification on planted passages") {
    val shared = "one two three four five six seven eight nine ten" // 10 words
    val docs = Seq(
      (1L, s"alpha bravo charlie $shared delta echo"),
      (2L, s"foxtrot golf $shared hotel india juliet"),
      (3L, "kilo lima mike november oscar papa quebec romeo sierra tango uniform victor"),
      (4L, s"whiskey xray $shared yankee")
    ).toDF("doc_id", "text")
    // minWords 8 ≤ guarantee bound window+k−1 = 7? no: 8 ≥ 7, and the
    // 10-word passage ≥ 7 so recall is GUARANTEED by winnowing
    val got = Dedup.substringDups(docs, k = 4, window = 4, minWords = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.keySet == Set((1L, 2L), (1L, 4L), (2L, 4L)))
    // LCS is EXACT: 10 shared words = 7 consecutive shared 4-grams + 3
    assert(got.values.forall(_ == 10L))
    // raising the floor above the true LCS empties the result
    assert(Dedup.substringDups(docs, k = 4, window = 4, minWords = 11).count() == 0)
    // sub-gram matches are rejected loudly
    val e = intercept[IllegalArgumentException] {
      Dedup.substringDups(docs, k = 4, minWords = 3)
    }
    assert(e.getMessage.contains("sub-gram"))
  }

  test("ANN size hints: adaptive sizing runs ZERO jobs when corpusSize/dim are provided") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val e = (0 until 64).map(i =>
      (i.toLong, Array.fill(8)((i % 7).toFloat + 0.1f))).toDF("vec_id", "embedding")
    val q = e.where(col("vec_id") < 2)
    def jobsDuring(f: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger
      val l = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
      }
      spark.sparkContext.addSparkListener(l)
      try { f; Thread.sleep(800) } finally spark.sparkContext.removeSparkListener(l)
      n.get
    }
    // hinted adaptive lsh/cosine: building the plan triggers no job at all
    assert(jobsDuring {
      Similarity.lshTopK(e, q, 5, bits = -1, tables = 2,
        corpusSize = Some(64L), dim0 = Some(8))
      Similarity.cosineSelfJoin(e, 0.9, bits = -1, tables = 2,
        corpusSize = Some(64L), dim0 = Some(8))
      ()
    } == 0)
    // hinted adaptive ivf pays at most the inherent centroid collect
    // (zero jobs on a local relation); the unhinted form adds the
    // corpus count() on top
    val hinted = jobsDuring {
      Similarity.ivfTopK(e, q, 5, centroidStep = -1, corpusSize = Some(64L)); ()
    }
    val unhinted = jobsDuring {
      Similarity.ivfTopK(e, q, 5, centroidStep = -1); ()
    }
    assert(hinted < unhinted, s"hinted=$hinted unhinted=$unhinted")
    // hints change sizing inputs only, never results
    val a = Similarity.lshTopK(e, q, 5, bits = -1, tables = 2)
      .collect().map(_.toSeq).toSet
    val b = Similarity.lshTopK(e, q, 5, bits = -1, tables = 2,
        corpusSize = Some(64L), dim0 = Some(8))
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  test("incremental ANN index: batch appends + crash resume ≡ one-shot ivfTopK") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding").cache()
    val root = java.nio.file.Files.createTempDirectory("graft_ann_idx").toString
    val idx = new AnnIndex(spark, root, Similarity.pivotCentroids(e, 16))
    (0 until 3).foreach { b =>
      idx.addBatch(e.where(pmod(col("vec_id"), lit(3)) === b), s"b$b")
    }
    // crash-resume: replaying a committed batch is a lineage no-op
    val vBefore = idx.table.currentVersion
    assert(!idx.addBatch(e.where(pmod(col("vec_id"), lit(3)) === 1), "b1"))
    assert(idx.table.currentVersion == vBefore)
    // accumulated assignments == one-shot assignment of the union
    val nVecs = e.count()
    assert(idx.assignments.count() == nVecs)
    // probe over the cumulative index == one-shot ivfTopK, row for row
    val queries = e.where(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "rank", "vec_id", "cos")
        .as[(Long, Int, Long, Double)].collect().toSeq.sorted
    val inc = rows(idx.topK(e, queries, 10))
    val one = rows(Similarity.ivfTopK(e, queries, 10, centroidStep = 16))
    assert(inc == one && inc.nonEmpty)
    // a LATER batch is visible without touching earlier ones: add
    // shifted near-dup copies of the queries, re-probe sees them
    val planted = queries.select((col("vec_id") + 10000).as("vec_id"),
      col("embedding"))
    idx.addBatch(planted, "b3")
    val withNew = rows(idx.topK(e.unionByName(planted), queries, 10))
    assert((0 until 5).forall { q =>
      withNew.exists { case (qid, rank, vid, _) =>
        qid == q && rank == 1 && vid == q + 10000 }
    })
  }

  test("piiStats: planted PII at exact match boundaries — counts and redaction") {
    val docs = Seq(
      // every class once, mixed boundaries (start, punctuation, end)
      (1L, "mail a.b+c%d@sub.example.co now 10.0.44.25, 555-123-4567 end 123-45-6789"),
      // decoys that must NOT match: 4-digit runs break \b and {1,3},
      // 3-2-4 vs 3-3-4 digit groups separate phone from id
      (2L, "1234.5.6.7890 and 1234-56-7890 and user@nodot and 12-345-6789"),
      (3L, "two phones 555.987.6543 555-111-2222 and ip at end 8.8.8.8")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.piiStats(docs).orderBy("doc_id")
      .select("n_email", "n_ip", "n_phone", "n_id", "redacted")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(got(0) == ((1L, 1L, 1L, 1L,
      "mail <EMAIL> now <IP>, <PHONE> end <ID>")))
    assert(got(1)._1 == 0 && got(1)._2 == 0 && got(1)._3 == 0 && got(1)._4 == 0)
    assert(got(1)._5 == "1234.5.6.7890 and 1234-56-7890 and user@nodot and 12-345-6789")
    assert(got(2) == ((0L, 1L, 2L, 0L,
      "two phones <PHONE> <PHONE> and ip at end <IP>")))
    // redactPii preserves the other columns and the schema
    val red = TextAnalysis.redactPii(docs).orderBy("doc_id")
      .select("text").as[String].collect()
    assert(red(0) == "mail <EMAIL> now <IP>, <PHONE> end <ID>")
  }

  test("lineDedup: boilerplate lines above the doc-frequency cap drop; order and empty docs survive") {
    val docs = Seq(
      (1L, "HDR\nbody one\nFOOT"),
      (2L, "HDR\nbody two\nFOOT"),
      (3L, "HDR\nbody three\nFOOT"),
      (4L, "HDR\nHDR\nsolo line"), // within-doc repeat counts ONCE toward df
      (5L, "HDR")                  // all lines dropped → empty text kept
    ).toDF("doc_id", "text")
    // HDR df=5, FOOT df=3 → dropped at maxDocFreq=2; bodies df=1 kept
    val got = Dedup.lineDedup(docs, maxDocFreq = 2).orderBy("doc_id")
      .select("text").as[String].collect().toSeq
    assert(got == Seq("body one", "body two", "body three", "solo line", ""))
    // at maxDocFreq=3 FOOT survives in original position, HDR (df=5,
    // both copies of doc 4) still drops
    val loose = Dedup.lineDedup(docs, maxDocFreq = 3).orderBy("doc_id")
      .select("text").as[String].collect().toSeq
    assert(loose == Seq("body one\nFOOT", "body two\nFOOT",
      "body three\nFOOT", "solo line", ""))
  }

  test("lineDedup paragraph mode: blank-line blocks dedup as units, not lines") {
    // line 'alpha' repeats in 3 docs but always inside a DIFFERENT
    // paragraph; the footer PARAGRAPH repeats verbatim in all 3
    val docs = Seq(
      (1L, "alpha\nbeta1\n\nSHARED FOOTER\nfine print"),
      (2L, "alpha\nbeta2\n\nSHARED FOOTER\nfine print"),
      (3L, "alpha\nbeta3\n\nSHARED FOOTER\nfine print")
    ).toDF("doc_id", "text")
    val para = Dedup.lineDedup(docs, maxDocFreq = 2, sep = "\n\n+", joinSep = "\n\n")
      .orderBy("doc_id").select("text").as[String].collect().toSeq
    // paragraph granularity: footer block drops as a unit; the alpha
    // paragraphs differ doc-to-doc (df=1) so they survive INTACT
    assert(para == Seq("alpha\nbeta1", "alpha\nbeta2", "alpha\nbeta3"))
    // line granularity over the same corpus drops alpha, the blank
    // separator line and both footer lines individually — the two
    // modes answer different questions
    val line = Dedup.lineDedup(docs, maxDocFreq = 2)
      .orderBy("doc_id").select("text").as[String].collect().toSeq
    assert(line == Seq("beta1", "beta2", "beta3"))
  }

  test("packSequences: a genuine Int.MinValue shard opens a fresh bin (no sentinel aliasing)") {
    // an oversized first document in shard Int.MinValue must take
    // bin 0 alone — the old sentinel-shard state made the first row
    // look like a continuation and gave it bin 1
    val docs = Seq((1L, 600L), (2L, 100L)).toDF("doc_id", "nt")
    val got = TextAnalysis.packSequences(docs, "doc_id", col("nt"), 512L,
        lit(Int.MinValue))
      .orderBy("doc_id").select("bin_seq").as[Long].collect().toSeq
    assert(got == Seq(0L, 1L))
  }

  test("packSequences rejects non-integral id columns (string id would cast to null)") {
    val docs = Seq(("d1", 300L)).toDF("doc_id", "nt")
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.packSequences(docs, "doc_id", col("nt"), 512L, lit(0))
    }
    assert(e.getMessage.contains("integral"))
  }

  test("repetitionStats: run-length top-gram, dup fraction, degenerate docs") {
    val docs = Seq(
      (1L, "a b a b a"), // grams: a b, b a, a b, b a
      (2L, "x y z"),     // grams: x y, y z — all unique
      (3L, "solo"),      // no 2-grams at all
      (4L, "A a A")      // lowercased: a a, a a
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(docs)
      .select("doc_id", "n_words", "n_grams", "uniq_grams", "top_gram_n",
        "dup_gram_frac", "top_gram_frac")
      .as[(Long, Long, Long, Long, Long, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 5L, 4L, 2L, 2L, 0.5, 0.5)))
    assert(got(2L) == ((2L, 3L, 2L, 2L, 1L, 0.0, 0.5)))
    assert(got(3L) == ((3L, 1L, 0L, 0L, 0L, 0.0, 0.0)))
    assert(got(4L) == ((4L, 3L, 2L, 1L, 2L, 0.5, 1.0)))
  }

  test("corpusMix: per-(source, lang) stats with rollup margins, '<all>' labels") {
    val docs = Seq(
      (1L, "a b", "en", "web", 3L), (2L, "c", "en", "web", 1L),
      (3L, "d e f", "de", "book", 5L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextAnalysis.corpusMix(docs)
      .select("source", "lang", "gid", "n_docs", "n_chars", "n_tokens", "mean_tokens")
      .as[(String, String, Int, Long, Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    assert(got(("web", "en")) == (("web", "en", 0, 2L, 4L, 3L, 1.5)))
    assert(got(("book", "de")) == (("book", "de", 0, 1L, 5L, 3L, 3.0)))
    assert(got(("web", "<all>")) == (("web", "<all>", 1, 2L, 4L, 3L, 1.5)))
    assert(got(("<all>", "<all>")) == (("<all>", "<all>", 3, 3L, 9L, 6L, 2.0)))
  }

  test("repetitionStats: randomized docs match a brute-force reference count") {
    // 300 seeded-random docs over a tiny vocabulary (forces heavy
    // duplication) + adversarial shapes: empty-ish, single token,
    // all-identical, alternating. The engine's sorted-array run-length
    // fold must equal a Map-based brute force on every doc.
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "c", "ab", "ba")
    val texts =
      (0 until 300).map(_ => Seq.fill(rnd.nextInt(12) + 1)(
        vocab(rnd.nextInt(vocab.size))).mkString(" ")) ++
        Seq("x", "x x", "x x x x x x x x", "a b a b a b a b a")
    val docs = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(docs)
      .select("doc_id", "n_grams", "uniq_grams", "top_gram_n")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val toks = t.toLowerCase.split("\\s+").toSeq
      val grams = toks.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
      val counts = grams.groupBy(identity).view.mapValues(_.size)
      val (n, u, top) =
        (grams.size.toLong, counts.size.toLong,
          if (counts.isEmpty) 0L else counts.values.max.toLong)
      assert(got(i.toLong) == ((i.toLong, n, u, top)), s"doc $i: '$t'")
    }
  }

  test("corpusMix: NULL group values label '<null>', never collide with margins") {
    val docs = Seq(
      (1L, "a b", Some("en"), "web", 3L),
      (2L, "c", None, "web", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextAnalysis.corpusMix(docs)
      .select("source", "lang", "gid", "n_docs")
      .as[(String, String, Int, Long)].collect().toSet
    // the NULL-lang doc is its own gid=0 group, distinct from the
    // gid=1 per-source margin
    assert(got.contains(("web", "<null>", 0, 1L)))
    assert(got.contains(("web", "en", 0, 1L)))
    assert(got.contains(("web", "<all>", 1, 2L)))
    assert(got.contains(("<all>", "<all>", 3, 2L)))
  }

  test("gramsOf rejects n < 1 (empty pseudo-grams would wreck the fractions)") {
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.gramsOf(col("toks"), 0)
    }
    assert(e.getMessage.contains("at least 1"))
  }

  test("distinctiveTerms: tf/df rational scoring, per-doc top-k, term tiebreak") {
    val docs = Seq((1L, "x x y"), (2L, "y z")).toDF("doc_id", "text")
    val got = TextAnalysis.distinctiveTerms(docs, k = 2)
      .select("doc_id", "rank", "term", "tf", "df", "score")
      .as[(Long, Int, String, Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    assert(got((1L, 1)) == ((1L, 1, "x", 2L, 1L, 2.0)))
    assert(got((1L, 2)) == ((1L, 2, "y", 1L, 2L, 0.5)))
    assert(got((2L, 1)) == ((2L, 1, "z", 1L, 1L, 1.0)))
    assert(got((2L, 2)) == ((2L, 2, "y", 1L, 2L, 0.5)))
  }

  test("contamination: bench-gram hits per doc, zero-gram docs kept") {
    val docs = Seq(
      (10L, "p q r s t u"),  // both 5-grams hit
      (11L, "p q r s t x"),  // one of two hits
      (12L, "m n o p q r"),  // zero hits
      (13L, "one two")       // no 5-grams
    ).toDF("doc_id", "text")
    val bench = Seq((99L, "p q r s t u")).toDF("doc_id", "text")
    val got = TextAnalysis.contamination(docs, bench, n = 5)
      .select("doc_id", "n_grams", "hit_grams", "contam_frac")
      .as[(Long, Long, Long, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(got(10L) == ((10L, 2L, 2L, 1.0)))
    assert(got(11L) == ((11L, 2L, 1L, 0.5)))
    assert(got(12L) == ((12L, 2L, 0L, 0.0)))
    assert(got(13L) == ((13L, 0L, 0L, 0.0)))
  }

  test("c4Filter: line and document rules at exact boundaries") {
    val docs = Seq(
      // every line rule at its boundary: terminal punct (./!/?/"),
      // exactly-3-words kept, 2-words dropped, no-punct dropped,
      // javascript dropped (case-insensitive), trailing spaces trimmed
      (1L, Seq(
        "First sentence lands here.", "Shout it out loud!", "Is this kept?",
        "\"Quoted line stays.\"", "Only two words. extra pad." /* 5 words, kept */,
        "Two words.", "no terminal punctuation here",
        "Enable JavaScript to proceed.", "Padded punct line.   ").mkString("\n")),
      // five sentences on ONE kept line → keep at minSentences boundary
      (2L, "One two three. Four five six. Seven eight nine. Ten eleven twelve. Final sentence here."),
      // four sentences → below minSentences, dropped
      (3L, "One two three. Four five six. Seven eight nine. Ten eleven twelve words."),
      // lorem ipsum / curly brace kill regardless of sentence count
      (4L, "Lorem ipsum dolor sits. Two three four. Three four five. Four five six. Five six seven."),
      (5L, "Brace { sample code. Two three four. Three four five. Four five six. Five six seven.")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.c4Filter(docs)
      .select("doc_id", "n_lines_kept", "n_lines_dropped", "n_sentences", "keep", "clean_text")
      .as[(Long, Int, Int, Int, Int, String)]
      .collect().map(r => r._1 -> r).toMap
    // doc 1: kept = the 4 punct lines + 5-word line + padded line = 6;
    // dropped = 2-words, no-punct, javascript = 3
    assert(got(1L)._2 == 6 && got(1L)._3 == 3)
    assert(got(1L)._6.startsWith("First sentence lands here.\nShout it out loud!"))
    assert(!got(1L)._6.toLowerCase.contains("javascript"))
    // sentence count: . ! ? over the CLEANED text (quoted line's '.'
    // counts; the dropped lines' punctuation does not)
    assert(got(1L)._4 == 7 && got(1L)._5 == 1)
    assert(got(2L) == ((2L, 1, 0, 5, 1,
      "One two three. Four five six. Seven eight nine. Ten eleven twelve. Final sentence here.")))
    assert(got(3L)._4 == 4 && got(3L)._5 == 0)
    assert(got(4L)._4 == 5 && got(4L)._5 == 0) // lorem ipsum kill
    assert(got(5L)._4 == 5 && got(5L)._5 == 0) // curly-brace kill
  }

  test("gopherFilter: every rule at its exact integer boundary") {
    def words(n: Int, fill: String = "word") = Seq.fill(n)(fill)
    // 50 words, mean 3.94, 2 stops, all alpha → passes every rule
    val base50 = ("the" +: "have" +: words(48)).mkString(" ")
    val bullet = "- filler words here."
    val docs = Seq(
      (1L, base50),                                                    // keep
      (2L, ("the" +: "have" +: words(47)).mkString(" ")),              // 49 words
      (3L, (Seq("the", "and") ++ words(48, "foo")).mkString(" ")),     // 150 chars = 3·50
      (4L, (Seq("be", "and") ++ words(48, "foo")).mkString(" ")),      // 149 < 3·50
      (5L, (Seq("the", "have") ++ words(44) ++ words(4, "#")).mkString(" ")),  // 4 symbols
      (6L, (Seq("the", "have") ++ words(43) ++ words(5, "#")).mkString(" ")),  // 5 symbols
      (7L, (Seq("the", "have") ++ words(38) ++ words(10, "77")).mkString(" ")), // 40/50 alpha
      (8L, (Seq("the", "have") ++ words(37) ++ words(11, "77")).mkString(" ")), // 39/50 alpha
      (9L, ("the" +: words(49, "the")).mkString(" ")),                 // 1 distinct stop
      (10L, (base50 +: words(9, bullet)).mkString("\n")),              // 9/10 bullet lines
      (11L, (base50 +: words(8, bullet) :+ "extra good line").mkString("\n")), // 8/10
      (12L, ((base50 +: words(3, "it trails off...")) ++ words(6, "a plain line")).mkString("\n")), // 3/10 ellipsis ends
      (13L, ((base50 +: words(2, "it trails off...")) ++ words(7, "a plain line")).mkString("\n"))  // 2/10
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherFilter(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    def keep(id: Long) = got(id).getAs[Int]("keep")
    assert(keep(1L) == 1 && keep(2L) == 0 && got(2L).getAs[Int]("n_words") == 49)
    assert(keep(3L) == 1 && got(3L).getAs[Int]("n_word_chars") == 150)
    assert(keep(4L) == 0 && got(4L).getAs[Int]("n_word_chars") == 149)
    assert(keep(5L) == 1 && got(5L).getAs[Int]("n_symbols") == 4)
    assert(keep(6L) == 0 && got(6L).getAs[Int]("n_symbols") == 5)
    assert(keep(7L) == 1 && got(7L).getAs[Int]("n_alpha_words") == 40)
    assert(keep(8L) == 0 && got(8L).getAs[Int]("n_alpha_words") == 39)
    assert(keep(9L) == 0 && got(9L).getAs[Int]("n_req_stops") == 1)
    assert(keep(10L) == 0 && got(10L).getAs[Int]("n_bullet_lines") == 9
      && got(10L).getAs[Int]("n_lines") == 10)
    assert(keep(11L) == 1 && got(11L).getAs[Int]("n_bullet_lines") == 8)
    assert(keep(12L) == 0 && got(12L).getAs[Int]("n_ellipsis_lines") == 3)
    assert(keep(13L) == 1 && got(13L).getAs[Int]("n_ellipsis_lines") == 2)
  }

  test("urlFilter: extraction, case, subdomain suffix, dedup and decoys") {
    val docs = Seq(
      (1L, "plain text no urls"),
      (2L, "x https://spam.example.com/a and https://spam.example.com/b y"),
      (3L, "sub HTTP://Deep.Spam.Example.COM/z"),
      (4L, "ok http://docs.example.org/guide"),
      // suffix precision: '…comx' merely CONTAINS the blocked string —
      // neither equal nor a dot-subdomain; scheme-only decoy no match
      (5L, "notspam https://notspam.example.comx/ and http:// gap"),
      (6L, "https://a.tracker.net/p and https://nettracker.netx/")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.urlFilter(docs,
        blocklist = Seq("spam.example.com", "tracker.net"))
      .as[(Long, Int, String, Int, Int)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 0, "", 0, 1)))
    assert(got(2L) == ((2L, 2, "spam.example.com", 1, 0)))
    assert(got(3L) == ((3L, 1, "deep.spam.example.com", 1, 0)))
    assert(got(4L) == ((4L, 1, "docs.example.org", 0, 1)))
    assert(got(5L) == ((5L, 1, "notspam.example.comx", 0, 1)))
    assert(got(6L) == ((6L, 2, "a.tracker.net,nettracker.netx", 1, 0)))
    // empty blocklist keeps everything
    assert(TextAnalysis.urlFilter(docs).where(col("keep") === 0).count() == 0)
  }
}
