package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication family for large-scale training-data pipelines over
  * a `documents(doc_id, text, …)` table. All expression-based; the
  * candidate-pair joins are self-joins on compact signatures, never
  * on raw text.
  *
  * Scale shapes:
  *   - exact: one hash-aggregate on sha256(text) — the canonical
  *     "hash-groupBy" dedup; keep-min-id winner.
  *   - MinHash/LSH: shingles → k independent min-hashes (all inside
  *     one projection via transform/aggregate higher-order functions,
  *     no UDF) → band buckets → join docs sharing a band bucket.
  *     Shuffle is on (band, bucket-hash) — bounded fan-out, no n²
  *     pair explosion outside buckets.
  *   - SimHash: 64-bit weighted-bit fingerprint; near-dup = small
  *     Hamming distance, candidates via 4×16-bit chunk equality
  *     (Hamming ≤ 3 pigeonhole) — same bucket-join shape.
  *   - n-gram Jaccard: verification metric on candidate pairs only.
  */
object Dedup {

  /** Word shingles (n-gram sets) as an array column over a BOUND
    * token-array column. IMPORTANT: pass a column reference (staged
    * via [[withShingles]]), not an inline `split(...)` — expressions
    * referenced inside higher-order-function lambdas are re-evaluated
    * per array element, so an inline split turns shingling O(n²)
    * (measured 11× slower at 5k docs). */
  def shinglesOf(toks: Column, n: Int): Column =
    array_distinct(TextAnalysis.gramsOf(toks, n))

  /** Scale-adaptive scan parallelism for expensive per-row text
    * projections (guide §2.5 "input skew"): when the upstream plan has
    * fewer partitions than the session's parallelism — the
    * one-small-file / one-gzip-member case, where the WHOLE signature
    * pass would run on one core — round-robin repartition to
    * defaultParallelism first. A no-op (no exchange) whenever the
    * input is already at least core-parallel, which is the normal
    * 100 TB case; derived from the actual plan, never a constant. */
  private[operators] def parallelized(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Stage tokenization + shingling as bound columns so each step
    * evaluates once per row. `toks` is multi-referenced, which also
    * blocks CollapseProject from re-inlining it. */
  def withShingles(docs: DataFrame, n: Int, out: String = "sh"): DataFrame =
    parallelized(docs)
      .withColumn("__toks", split(lower(col("text")), "\\s+"))
      .withColumn(out, shinglesOf(col("__toks"), n))
      .drop("__toks")

  /** Exact dedup: winner (min doc_id) per identical text. Returns
    * (doc_id, canonical_id, n_dups) for every doc in a dup group. */
  def exact(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("h"))
    docs
      .select(col("doc_id"), sha2(col("text"), 256).as("h"))
      .withColumn("canonical_id", min(col("doc_id")).over(w))
      .withColumn("n_dups", count(lit(1)).over(w))
      .where(col("n_dups") > 1)
      .select(col("doc_id"), col("canonical_id"), col("n_dups"))
  }

  /** C4-style cross-document line-level dedup (Raffel et al. 2020's
    * boilerplate-removal pass): drop every line whose corpus-wide
    * DOCUMENT frequency exceeds `maxDocFreq` (repeated headers/
    * footers/nav text), keep everything else, and reassemble each
    * document's surviving lines in original order. A repeated line
    * WITHIN one document counts once toward its frequency (the filter
    * targets cross-document boilerplate; within-doc repetition is
    * [[TextAnalysis.repetitionStats]]' job) but every surviving copy
    * is kept in place.
    *
    * Scale shape — raw text crosses exactly ONE exchange: the
    * doc-frequency aggregate runs on md5 LINE HASHES (a compact
    * (hash, doc_id) shuffle, never the text), and only the lines
    * ABOVE the cap — the boilerplate set, small BY DEFINITION (a line
    * must repeat across `maxDocFreq`+ documents to enter it, so its
    * distinct count is ≪ the corpus's distinct lines) — feed a
    * LEFT ANTI join that AQE broadcasts; the text rows then shuffle
    * once, on doc_id, for the ordered reassembly. (An md5 collision
    * could drop an innocent line — at 2⁻¹²⁸ that is the standard
    * content-hash assumption the exact-dedup pass already makes.)
    * Documents whose every line dropped come back with empty text
    * (left join), so the output is total over the input corpus.
    *
    * `sep` sets the dedup granularity (a regex): "\n" (default) is
    * the published C4 line pass; "\n\n+" dedups PARAGRAPHS (blank-line
    * separated blocks — the unit template-generated boilerplate
    * usually repeats at); reassembly joins with `joinSep`. Same plan
    * at any granularity. */
  def lineDedup(docs: DataFrame, maxDocFreq: Int = 2,
      sep: String = "\n", joinSep: String = "\n"): DataFrame = {
    require(maxDocFreq >= 1, "maxDocFreq must be at least 1")
    val drop = lineFreqs(docs, sep)
      .where(col("doc_freq") > maxDocFreq)
      .select(col("lh"))
    lineDedupAgainst(docs, drop, sep, joinSep)
  }

  /** Per-line-hash DOCUMENT frequency over `docs` — the aggregate
    * [[lineDedup]] thresholds, exposed so an incremental index
    * ([[LineDedupIndex]]) can persist per-batch partials (batches
    * carry disjoint doc_id sets, so partial doc_freqs SUM to the
    * corpus-wide value exactly). Compact (lh, doc_freq) rows only. */
  def lineFreqs(docs: DataFrame, sep: String = "\n"): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), sep)).as("line"))
      .select(md5(col("line")).as("lh"), col("doc_id"))
      .groupBy(col("lh"))
      .agg(countDistinct(col("doc_id")).as("doc_freq"))

  /** Reassembly half of [[lineDedup]]: drop every line whose md5 is
    * in `drop` (one column `lh`), rebuild documents in original line
    * order, keep all-dropped docs with empty text. The drop set is
    * the boilerplate set — small by definition — so the anti join is
    * AQE-broadcast; raw text crosses only the doc_id exchange. */
  def lineDedupAgainst(docs: DataFrame, drop: DataFrame,
      sep: String = "\n", joinSep: String = "\n"): DataFrame = {
    val lines = docs
      .select(col("doc_id"), posexplode(split(col("text"), sep)))
      .select(col("doc_id"), col("pos").as("line_idx"), col("col").as("line"))
    val kept = lines.join(drop, md5(col("line")) === col("lh"), "left_anti")
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("line_idx"), col("line")))),
          x => x.getField("line")), joinSep).as("text"))
    docs.select(col("doc_id"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
  }

  /** Staged signature computation: tokens → shingle array → k
    * min-hashes, each stage once per row. The k×|sh| xxhash64/min
    * fold runs through the compiled
    * [[graft.functions.TextHashExpressions.minhash_xx64]] kernel
    * (bit-identical to the HOF composition — pinned in
    * TextHashKernelSpec), which also hashes each shingle's bytes ONCE
    * and mixes k cheap hashInt steps instead of k full string hashes.
    * The `size(sh) >= 0` guard double-references `sh`, which stops
    * CollapseProject from re-inlining the (expensive) shingle
    * expression (measured 183 s → ~2 s over 5k docs before the
    * barrier existed). Pure projection: zero shuffle regardless of
    * corpus size. */
  def minhashSignatures(docs: DataFrame, k: Int, shingleN: Int): DataFrame =
    withShingles(docs, shingleN)
      .select(col("doc_id"),
        when(size(col("sh")) >= 0,
          graft.functions.TextHashExpressions.minhash_xx64(col("sh"), k))
          .as("sig"))

  /** Engine-portable signature variant: the hash family is
    * md5(seed ':' shingle) hex strings with string-MIN per seed —
    * reproducible in any engine with md5 (the DuckDB oracle replays it
    * verbatim), unlike xxhash64. Same staged zero-shuffle shape.
    * The k×|sh| md5/min fold runs through the compiled
    * [[graft.functions.TextHashExpressions.minhash_md5]] kernel
    * (bit-identical to the HOF composition it replaced — pinned in
    * TextHashKernelSpec; the DuckDB oracle rows stay green): digests
    * compare as raw bytes, only the k winners hex-encode, no per-hash
    * concat/lambda allocation. The `when(size >= 0)` guard keeps the
    * double-reference barrier on `sh` so CollapseProject cannot
    * re-inline the shingle expression (the documented HOF trap). */
  def minhashSignaturesPortable(docs: DataFrame, k: Int, shingleN: Int): DataFrame =
    withShingles(docs, shingleN)
      .select(col("doc_id"),
        when(size(col("sh")) >= 0,
          graft.functions.TextHashExpressions.minhash_md5(col("sh"), k))
          .as("sig"))

  /** MinHash-LSH candidate pairs: signatures split into `bands` bands
    * of `rowsPerBand`; docs sharing any band bucket are candidates.
    * Returns (doc_a, doc_b, n_shared_bands) with doc_a < doc_b.
    *
    * `maxBucket` caps band-bucket occupancy (same production guard as
    * [[simhashNearDups]]): one boilerplate bucket — empty docs,
    * templated text, guaranteed in real training corpora — otherwise
    * contributes O(bucket²) candidate pairs and makes the self-join
    * quadratic. Buckets above the cap are dropped before the join
    * (bounded recall loss on degenerate content, bounded worst case).
    *
    * `portable = true` switches to the md5 hash family and md5-string
    * band buckets so a SQL oracle can replay the exact pair set. */
  def minhashLsh(docs: DataFrame, k: Int = 32, bands: Int = 8,
      shingleN: Int = 3, maxBucket: Int = 1000,
      portable: Boolean = false): DataFrame =
    candidatesFromBanded(
      bandedSignatures(docs, k, bands, shingleN, portable), maxBucket)

  /** Banded signature rows (doc_id, band, bucket) — the persistable
    * LSH index form: one row per doc per band, computed as a pure
    * projection over the text scan. [[DedupIndex]] appends exactly
    * these rows per batch so old documents are never re-shingled. */
  def bandedSignatures(docs: DataFrame, k: Int, bands: Int,
      shingleN: Int, portable: Boolean): DataFrame = {
    val rowsPerBand = k / bands
    val sig =
      if (portable) minhashSignaturesPortable(docs, k, shingleN)
      else minhashSignatures(docs, k, shingleN)
    val bandCols = array((0 until bands).map { b =>
      val rows = slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)
      if (portable) md5(concat_ws("|", rows)) else hash(rows, lit(b)).cast("string")
    }: _*)
    sig.select(col("doc_id"), posexplode(bandCols))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bucket"))
  }

  /** Candidate pairs from banded index rows: occupancy-cap the band
    * buckets, self-join on (band, bucket). Pure function of the index
    * row SET — so pairs over an incrementally-maintained index are
    * identical to the one-shot pipeline's by construction. */
  def candidatesFromBanded(banded0: DataFrame, maxBucket: Int = 1000): DataFrame = {
    val wBucket = Window.partitionBy(col("band"), col("bucket"))
    val banded = banded0
      .withColumn("occ", count(lit(1)).over(wBucket))
      .where(col("occ") <= maxBucket)
      .drop("occ")
    val a = banded.as("a"); val b = banded.as("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** Substring-level exact dedup (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"): document pairs
    * sharing a common word-substring of at least `minWords` words,
    * with the exact longest-common-word-substring length.
    *
    * Two-stage, never O(n²):
    *   1. CANDIDATES — [[TextAnalysis.winnowing]] fingerprints
    *      (k-gram md5 window minima): pairs sharing any selected
    *      fingerprint, occupancy-capped per fingerprint bucket (the
    *      [[candidatesFromBanded]] guard) and self-joined on compact
    *      (doc_id, fp) rows only. The winnowing guarantee makes this
    *      recall-safe for matches ≥ window + k − 1 words.
    *   2. VERIFICATION — candidates only: join the two sides' k-gram
    *      POSITION rows on gram hash, find the longest diagonal run
    *      (consecutive positions with constant pa − pb, the classic
    *      islands step), and a run of R matching k-grams is exactly a
    *      common substring of R + k − 1 words. All exact integer
    *      arithmetic — the whole pipeline replays verbatim in SQL.
    *
    * Set `minWords ≥ window + k − 1` for guaranteed recall; shorter
    * matches may still surface when their fingerprints happen to be
    * selected. Shuffles: fingerprint self-join on fp, verification
    * joins on (doc, gram-hash) — both bounded by candidate volume,
    * never corpus². Output: (doc_a, doc_b, lcs_words). */
  def substringDups(docs: DataFrame, k: Int = 4, window: Int = 4,
      minWords: Int = 7, maxBucket: Int = 1000): DataFrame = {
    require(minWords >= k,
      s"minWords=$minWords below gram size $k — sub-gram matches are invisible")
    verifySubstrings(
      substringCandidates(TextAnalysis.winnowing(docs, k, window), maxBucket),
      docs, k, minWords)
  }

  /** Candidate half of [[substringDups]]: occupancy-capped fingerprint
    * self-join over (doc_id, fp) rows. A pure function of the
    * fingerprint ROW SET — so an incrementally-maintained fingerprint
    * index ([[SubstringDedupIndex]]) yields identical candidates to a
    * one-shot winnowing pass over the union, by construction. */
  def substringCandidates(fps: DataFrame, maxBucket: Int = 1000): DataFrame = {
    val wFp = Window.partitionBy(col("fp"))
    val capped = fps
      .withColumn("occ", count(lit(1)).over(wFp))
      .where(col("occ") <= maxBucket)
      .drop("occ")
    capped.as("a").join(capped.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Verification half of [[substringDups]]: exact
    * longest-common-word-substring on candidate pairs only (diagonal
    * islands over gram-position rows; a run of R matching k-grams is
    * exactly a common substring of R + k − 1 words). Touches the text
    * of candidate docs only. */
  def verifySubstrings(cand: DataFrame, docs: DataFrame, k: Int,
      minWords: Int): DataFrame = {
    // materialize the (small) candidate set ONCE — referenced three
    // times below, and the caller's generator (a fingerprint
    // self-join) would otherwise re-execute per reference.
    val candC = cand.localCheckpoint(true)
    // prune BEFORE gram-hashing: the per-side joins keep candidate
    // docs only, but the md5-per-gram projection would still run over
    // the whole corpus — semi-join on the candidate id set first
    // (small, AQE broadcasts), so verification touches candidate text
    // only, as the two-stage contract promises (guide §3.2).
    val candIds = candC.select(col("doc_a").as("doc_id"))
      .unionByName(candC.select(col("doc_b").as("doc_id"))).distinct()
    // gram-position rows (doc_id, pos, g) — multiplicity + order kept.
    // NOTE: this frame is joined below under two different attribute
    // namings (doc_a vs doc_b sides), so ReuseExchange cannot match
    // the subtrees and the scan→semi-join→explode→md5 pipeline plans
    // twice. Measured (r6): staging it once (persist or eager
    // localCheckpoint) is SLOWER — the duplicate subtrees execute as
    // independent parallel stages on idle cores, while staging
    // serializes an extra job and barriers the broadcast builds
    // behind it. Left duplicated on purpose; cost is candidate-
    // bounded on both executions.
    val grams = parallelized(docs.join(candIds, Seq("doc_id"), "left_semi"))
      .withColumn("__toks", split(lower(col("text")), "\\s+"))
      .withColumn("__g", TextAnalysis.gramsOf(col("__toks"), k))
      .select(col("doc_id"), posexplode_outer(col("__g")))
      .where(col("col").isNotNull)
      .select(col("doc_id"), col("pos"), md5(col("col")).as("g"))
    val matches = candC
      .join(grams.select(col("doc_id").as("doc_a"), col("pos").as("pa"), col("g")), Seq("doc_a"))
      .join(grams.select(col("doc_id").as("doc_b"), col("pos").as("pb"), col("g")), Seq("doc_b", "g"))
    val wRun = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pa"))
    matches
      .withColumn("diag", col("pa") - col("pb"))
      .withColumn("isl", col("pa") - row_number().over(wRun))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("isl"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg((max(col("run")) + lit(k - 1)).cast("long").as("lcs_words"))
      .where(col("lcs_words") >= minWords)
  }

  /** Exact n-gram Jaccard similarity for given pairs (verification
    * stage after LSH candidates). `pairs` has (doc_a, doc_b). */
  def jaccard(pairs: DataFrame, docs: DataFrame, shingleN: Int = 3): DataFrame = {
    // materialize the (small) pair set ONCE: it is referenced three
    // times below (id set + both joins), and the caller's candidate
    // generator (an LSH self-join) would otherwise re-execute per
    // reference — eager localCheckpoint is the repo's established
    // staging barrier for exactly this.
    val p = pairs.localCheckpoint(true)
    // prune BEFORE shingling: the joins below keep only candidate
    // docs, but a join cannot push below the shingle projection — an
    // explicit semi-join on the candidate id set (small, AQE
    // broadcasts) keeps the O(text) shingle work off every
    // non-candidate document (guide §3.2; at 100 TB the candidate set
    // is ≪ corpus, so verification touches candidate text only).
    val candIds = p.select(col("doc_a").as("doc_id"))
      .unionByName(p.select(col("doc_b").as("doc_id"))).distinct()
    // NOTE: joined below under two different namings (sh_a / sh_b
    // sides), which ReuseExchange can never match — the shingle
    // projection over candidate text plans twice. Measured (r6):
    // staging it once (persist or eager localCheckpoint) is neutral
    // at best — the duplicate subtrees run as independent parallel
    // stages, while staging serializes an extra job. Left duplicated;
    // cost is candidate-bounded on both executions.
    val sh = withShingles(docs.join(candIds, Seq("doc_id"), "left_semi"), shingleN)
      .select(col("doc_id"), col("sh"))
    p
      .join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
      .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
  }

  /** 64-bit SimHash from word tokens, term-frequency weighted
    * (Charikar's published scheme: bit j = sign of Σ tf(t)·(±1 for
    * token-hash bit j) — keeping duplicate tokens in the hash array
    * IS the tf weighting). Computed as one pure projection per
    * document (token hashes once, then a 64-step fold) — zero
    * shuffle: at 100 TB this runs entirely inside the scan's
    * WholeStageCodegen stage, unlike an explode-per-bit shape that
    * would multiply rows 64×. */
  def simhash(docs: DataFrame): DataFrame =
    parallelized(docs)
      // 64 bit-majorities over per-token xxhash64 in ONE compiled pass
      // (simhash_xx64 kernel — bit-identical to the aggregate/filter
      // fold it replaced, pinned in TextHashKernelSpec). The guard
      // double-references the token array (the HOF-recompute trap).
      .withColumn("__toks", split(lower(col("text")), "\\s+"))
      .withColumn("simhash",
        when(size(col("__toks")) >= 0,
          graft.functions.TextHashExpressions.simhash_xx64(col("__toks"))))
      .select(col("doc_id"), col("simhash"))

  /** Engine-portable SimHash: the per-token hash is the first 16 hex
    * chars of md5 (64 bits, nibble-major bit order), so a SQL oracle
    * can replay every bit-majority verbatim (strpos over the hex
    * alphabet = the portable nibble decode). Same tf-weighted Charikar
    * scheme and pure-projection shape as [[simhash]]; the `size(th)
    * >= 0` guard double-references the token-hash array so
    * CollapseProject can't re-inline the md5 transform into the
    * 64-step fold (the documented HOF-recompute trap). */
  def simhashPortable(docs: DataFrame): DataFrame =
    parallelized(docs)
      // the 64 bit-majorities over per-token md5 nibbles run in ONE
      // compiled pass (simhash_md5 kernel — bit-identical to the
      // nibble-decode HOF fold it replaced, pinned in
      // TextHashKernelSpec; the oracle replay is unchanged). The
      // `when(size >= 0)` guard double-references the token array so
      // CollapseProject cannot re-inline the split (the HOF trap).
      .withColumn("__toks", split(lower(col("text")), "\\s+"))
      .withColumn("simhash",
        when(size(col("__toks")) >= 0,
          graft.functions.TextHashExpressions.simhash_md5(col("__toks"))))
      .select(col("doc_id"), col("simhash"))

  /** SimHash near-dup candidates: Hamming(a,b) ≤ maxDist via 4×16-bit
    * chunk pigeonhole + exact popcount verification.
    *
    * `maxBucket` caps candidate-bucket occupancy (standard production
    * LSH guard): a (chunk, value) bucket holding more than `maxBucket`
    * docs contributes O(bucket²) candidate pairs and almost always
    * marks boilerplate/degenerate content; such buckets are skipped
    * (bounded recall loss, bounded worst-case cost — without the cap
    * one hot bucket makes the self-join quadratic).
    *
    * `portable = true` switches the fingerprint to the md5 hash family
    * so the DuckDB oracle can replay the full pipeline. */
  def simhashNearDups(docs: DataFrame, maxDist: Int = 3,
      maxBucket: Int = 1000, portable: Boolean = false): DataFrame = {
    val sh = if (portable) simhashPortable(docs) else simhash(docs)
    val chunkCols = array((0 until 4).map(c =>
      shiftright(col("simhash"), c * 16).bitwiseAND(0xFFFFL)): _*)
    val wBucket = Window.partitionBy(col("chunk"), col("cval"))
    val chunks = sh.select(col("doc_id"), col("simhash"), posexplode(chunkCols))
      .select(col("doc_id"), col("simhash"), col("pos").as("chunk"), col("col").as("cval"))
      .withColumn("occ", count(lit(1)).over(wBucket))
      .where(col("occ") <= maxBucket)
      .drop("occ")
    val a = chunks.as("a"); val b = chunks.as("b")
    a.join(b,
        col("a.chunk") === col("b.chunk") && col("a.cval") === col("b.cval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      // filter BEFORE deduplicating multi-chunk matches: bit_count is
      // cheap per candidate row, distinct is a shuffle — keep it on
      // the (small) surviving pair set
      .where(col("hamming") <= maxDist)
      .distinct()
  }

  /** End-to-end near-duplicate pipeline: MinHash-LSH candidate pairs
    * → exact n-gram Jaccard verification → pairs ≥ threshold with the
    * canonical (min-id) representative. The standard two-stage shape:
    * the O(n²) metric is only ever computed on bucket-collision
    * candidates.
    *
    * Default bands=16 (2 rows/band) put the LSH S-curve threshold at
    * (1/16)^(1/2) ≈ 0.25 — well below the verification threshold, so
    * recall at jaccardMin=0.5 has margin (p_miss(j=0.5) = (1−0.25)^16
    * ≈ 1%, ≈1e−11 at j=0.9 where real near-dups live); the exact
    * Jaccard stage removes every false positive the looser bands
    * admit. */
  def nearDuplicates(docs: DataFrame, jaccardMin: Double = 0.5,
      k: Int = 32, bands: Int = 16, shingleN: Int = 3,
      maxBucket: Int = 1000): DataFrame = {
    val cand = minhashLsh(docs, k, bands, shingleN, maxBucket).select("doc_a", "doc_b")
    jaccard(cand, docs, shingleN)
      .where(col("jaccard") >= jaccardMin)
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        least(col("doc_a"), col("doc_b")).as("canonical_id"))
  }

  /** Quality-aware representative selection: the keep/drop decision
    * that turns dedup clusters into a filtered corpus. Winner per
    * cluster = highest quality score, ties broken by min doc_id —
    * "keep the best copy", not the arbitrary min-id copy (boilerplate
    * clusters usually contain one clean original and many truncated
    * or mangled variants). Quality is quantized to 6 decimals BEFORE
    * ranking so the order is engine-portable.
    *
    * `clusters` = (doc_id, cluster_id) from [[clusters]]; `quality` =
    * (doc_id, <qualityCol>). One shuffle on doc_id for the join, one
    * on cluster_id for the window — clusters are tiny groups (near-dup
    * sets), so the window partition never skews. Returns every
    * clustered doc with its representative and a keep flag. */
  def selectRepresentatives(clusters: DataFrame, quality: DataFrame,
      qualityCol: String = "quality"): DataFrame = {
    val q = quality.select(col("doc_id"),
      round(col(qualityCol), 6).as("q"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("q").desc, col("doc_id").asc)
    clusters.join(q, "doc_id")
      .withColumn("representative_id",
        first(col("doc_id")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("doc_id"), col("cluster_id"), col("q").as("quality"),
        col("representative_id"),
        when(col("doc_id") === col("representative_id"), 1)
          .otherwise(0).as("keep"))
  }

  /** Transitive dedup clusters: connected components over the
    * near-dup pair graph, labeling every member with the MINIMUM
    * doc_id reachable — the step that turns pairwise matches into
    * keep-one-per-cluster decisions (per-pair `least(a, b)` is wrong
    * whenever a~b and b~c but a is not directly paired with c).
    *
    * Iterative min-label propagation (Pregel-style in plain
    * DataFrames): each round every vertex takes the min of its own
    * label and its neighbors'; converges in O(cluster diameter)
    * rounds — near-dup clusters have tiny diameters, and `maxIter`
    * bounds the degenerate chain. Per round: one join + one
    * hash-agg, both on (id, label) pairs only; the driver sees a
    * single converged-count per round. Returns (doc_id, cluster_id)
    * for every doc that appears in some pair. */
  def clusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // localCheckpoint (eager) per round: iterative self-referencing
    // DataFrames otherwise grow their LOGICAL plan every iteration
    // (lineage chain of joins-on-previous) until analysis itself
    // blows the heap — truncating lineage keeps each round's plan
    // constant-size. (On a real cluster prefer reliable checkpoint
    // to survive executor loss across rounds.)
    // both edge directions in ONE pass over `pairs` (explode of the
    // two orientations) — the union-of-two-selects shape evaluated the
    // caller's pair pipeline twice inside this one materialization
    val edges = pairs
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id"))
      .localCheckpoint(true)
    // convergence via the monotone label-sum invariant: every round
    // takes per-vertex MIN over self ∪ neighbors, so labels never
    // increase and the vertex set is fixed — the exact decimal sum of
    // labels is unchanged iff NO label changed. One tiny aggregate on
    // the already-checkpointed frame per round, replacing the old
    // old-vs-new join + count (a second join job per round).
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val s = df.agg(sum(col("cluster_id").cast("decimal(38,0)"))).head().getDecimal(0)
      if (s == null) java.math.BigDecimal.ZERO else s // empty graph
    }
    var prevSum = labelSum(labels)
    var i = 0
    var converged = false
    while (!converged && i < maxIter) {
      val prop = edges.join(labels,
          edges("dst") === labels("doc_id"))
        .select(edges("src").as("doc_id"), col("cluster_id"))
      val next = labels.unionByName(prop)
        .groupBy("doc_id").agg(min("cluster_id").as("cluster_id"))
        .localCheckpoint(true)
      val nextSum = labelSum(next)
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      i += 1
    }
    // a silent stop at maxIter would return SPLIT components (labels
    // only partially propagated) — fail loudly instead; real near-dup
    // clusters converge in a handful of rounds, so hitting the bound
    // means a pathological chain the caller should know about
    if (!converged) throw new IllegalStateException(
      s"clusters() did not converge within maxIter=$maxIter rounds — " +
        "pathological cluster diameter; raise maxIter")
    labels
  }
}
