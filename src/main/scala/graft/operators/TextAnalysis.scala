package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines over `documents`:
  * language ID (marker-word heuristic), quality scoring, token
  * counting, and rolling-hash fingerprints. All pure column
  * expressions — they run inside whole-stage codegen on the scan,
  * with no shuffle at all (verify: plan shows a single
  * WholeStageCodegen(Scan→Project) span).
  */
object TextAnalysis {

  // ---- token counting ------------------------------------------------

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    size(split(trim(text), "\\s+")) +
      when(length(trim(text)) === 0, -1).otherwise(0) // empty → 0

  // ---- quality scoring -----------------------------------------------

  private val stopwords = Seq("the", "a", "an", "and", "or", "of", "to",
    "in", "is", "on", "that", "it", "for", "with", "as", "at", "by")

  /** Ratio of alphabetic chars, punctuation density, stopword ratio,
    * mean word length, and a composite quality score in [0,1]. */
  def qualityScore(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    val toks = split(lower(trim(text)), "\\s+")
    val nTok = size(toks).cast("double")
    val alpha = (length(regexp_replace(text, "[^A-Za-z]", "")).cast("double") /
      greatest(length(text), lit(1))).as("alpha_ratio")
    val punct = (length(regexp_replace(text, "[^.,;:!?'\"()]", "")).cast("double") /
      greatest(length(text), lit(1))).as("punct_ratio")
    val stop = (size(filter(toks, t => t.isInCollection(stopwords))).cast("double") /
      greatest(nTok, lit(1.0))).as("stopword_ratio")
    val meanWord = (length(regexp_replace(text, "\\s+", "")).cast("double") /
      greatest(nTok, lit(1.0))).as("mean_word_len")
    docs.select(col("doc_id"), alpha, punct, stop, meanWord)
      .withColumn("quality",
        // plausible-text bands: alphabetic-heavy, some stopwords,
        // word lengths 3–10 → each factor in [0,1]
        least(col("alpha_ratio") / 0.7, lit(1.0)) *
          least(col("stopword_ratio") / 0.2, lit(1.0)) *
          when(col("mean_word_len").between(3.0, 10.0), 1.0).otherwise(0.5))
  }

  // ---- language ID ----------------------------------------------------

  /** Marker sets per language (function words + script ranges). */
  private val markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "with", "for"),
    "es" -> Seq("el", "la", "los", "las", "de", "que", "y", "en", "una"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr" -> Seq("le", "la", "les", "des", "et", "est", "une", "dans", "que"))

  /** n-gram/marker-word language ID: score per language = hit count
    * of its marker words; zh detected by CJK codepoint share; winner
    * takes the label ('und' when nothing scores). */
  def langId(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = split(lower(col(textCol)), "\\s+")
    val scores = markers.toSeq.sortBy(_._1).map { case (lang, ws) =>
      struct(size(filter(toks, t => t.isInCollection(ws))).cast("double").as("score"),
        lit(lang).as("lang"))
    }
    val cjkShare = (length(regexp_replace(col(textCol), "[^\\x{4E00}-\\x{9FFF}]", ""))
      .cast("double") / greatest(length(col(textCol)), lit(1)))
    val zh = struct((cjkShare * lit(1000.0)).as("score"), lit("zh").as("lang"))
    val best = array_max(array(scores :+ zh: _*))
    docs.select(col("doc_id"),
      when(best.getField("score") > 0, best.getField("lang"))
        .otherwise("und").as("lang_pred"),
      best.getField("score").as("lang_score"))
  }

  // ---- stratified sampling ---------------------------------------------

  /** Deterministic stratified sampling: per-stratum keep rates in
    * sixteenths, decided by the first md5 nibble of (stratum ':' id) —
    * the portable hash-class scheme the catalog's other deterministic
    * samplers use (any engine with md5 replays the exact row set; no
    * seed state, so the sample is stable under re-runs, retries and
    * incremental appends). The canonical training-data use: downsample
    * dominant languages/quality bands to a target mix. Strata absent
    * from `ratesSixteenths` are kept in full. Pure scan-local filter —
    * zero shuffle, runs inside the scan's codegen stage at any scale. */
  def stratifiedSample(docs: DataFrame, strata: Column, idCol: Column,
      ratesSixteenths: Map[String, Int]): DataFrame = {
    require(ratesSixteenths.values.forall(r => r >= 0 && r <= 16),
      "per-stratum rates are sixteenths in [0, 16]")
    require(!docs.columns.contains("__stratum"),
      "stratifiedSample stages the stratum in a column named __stratum; rename the input's")
    // Stage the stratum value ONCE per row behind an optimizer fence:
    // the keep condition below references it ~2× per stratum, and
    // filter pushdown would otherwise inline the caller's whole
    // stratum expression (e.g. the language-ID score CASE) once per
    // reference into the scan Filter — measured 8 inlined copies and
    // a 3.5× row cost on q_stratified_sample (guide §4.4 class).
    val staged = docs.withColumn("__stratum",
      graft.functions.Barrier.barrier(strata))
    val st = col("__stratum")
    // nibble < the rate-th hex char keeps rate/16 of the stratum
    // (lowercase hex orders lexicographically; 'g' > 'f' keeps all)
    val hexChars = "0123456789abcdefg"
    val nib = substring(md5(concat(st, lit(":"), idCol.cast("string"))), 1, 1)
    val keep = ratesSixteenths.toSeq.sortBy(_._1).foldRight(lit(true)) {
      case ((sv, r), els) =>
        when(st === sv, nib < lit(hexChars.charAt(r).toString)).otherwise(els)
    }
    staged.where(keep).drop("__stratum")
  }

  /** Token-budget corpus mixing: realize target source proportions as
    * deterministic per-source sampling rates — the "data mixing" step
    * every pretraining corpus runs (The Pile, Gao et al. 2020 §1;
    * Dolma, Soldaini et al. 2024 §4: sources are weighted, then
    * down-sampled to hit the weighted token budget).
    *
    * Given integer `weights` per source (parts of their sum W) and a
    * total token `budget` T, each source's target is wₛ·T/W tokens;
    * with Aₛ tokens available its keep-rate is min(1, wₛ·T/(W·Aₛ)),
    * quantized DOWN to sixteenths and decided per document by the
    * [[stratifiedSample]] md5-nibble class — so the sample is exact,
    * engine-independent, and stable under retries, appends and
    * partitioning. All arithmetic is integer (16·wₛ·T must fit a
    * long: fine through w ≤ 10³, T ≤ 10¹⁴ — a 100-trillion-token
    * budget); unmapped sources get rate 0.
    *
    * Output: one AUDIT row per document (doc_id, source, n_tokens,
    * avail_tokens, rate16, keep) — the mix report is one groupBy away
    * and the mixed corpus is `where(keep = 1)`, the [[c4Filter]]
    * flags-not-drops discipline.
    *
    * 100 TB shape: ONE partial-agg exchange builds the per-source
    * token totals (output rows = |sources|, bounded small); the
    * rate table joins back by source under AQE (broadcast at any
    * real cardinality); the keep decision is a scan-local md5 class.
    * No driver collect, no global sort, no second corpus pass. */
  def tokenBudgetMix(docs: DataFrame, weights: Map[String, Int],
      budget: Long, tokens: Column): DataFrame = {
    require(weights.nonEmpty, "need at least one source weight")
    require(weights.values.forall(_ >= 0), "weights are non-negative")
    require(budget >= 0, "budget is a token count")
    val w = weights.values.map(_.toLong).sum
    require(w > 0, "total weight must be positive")
    val wCol = weights.toSeq.sortBy(_._1).foldRight(lit(0L)) {
      case ((sv, wv), els) => when(col("source") === sv, lit(wv.toLong)).otherwise(els)
    }
    val toks = docs.select(col("doc_id"), col("source"),
      tokens.cast("long").as("n_tokens"))
    val rates = toks.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("avail_tokens"))
      .withColumn("__w", wCol)
      .withColumn("rate16",
        when(col("__w") === 0 || col("avail_tokens") <= 0, lit(0))
          .otherwise(least(lit(16L), expr(
            s"(16L * __w * ${budget}L) div (${w}L * avail_tokens)")))
          .cast("int"))
      .select(col("source"), col("avail_tokens"), col("rate16"))
    // md5 nibble value ∈ [0,16): < rate16 keeps rate16/16 of the
    // source, deterministically per (source, doc_id) — rate16 = 16
    // keeps everything
    val nibVal = conv(substring(
      md5(concat(col("source"), lit(":"), col("doc_id").cast("string"))),
      1, 1), 16, 10).cast("int")
    toks.join(rates, Seq("source"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("avail_tokens"), col("rate16"),
        (nibVal < col("rate16")).cast("int").as("keep"))
  }

  // ---- sequence packing ------------------------------------------------

  /** Greedy sequential sequence packing: assign documents to
    * fixed-token-budget context windows ("bins"), the standard
    * pretraining batch-shaping step. Documents land in a shard by the
    * deterministic `shard` expression, are ordered by id within the
    * shard, and a bin closes when the next document would overflow
    * `budget` (a document larger than the budget gets a bin of its
    * own). Greedy packing is inherently sequential per shard — no
    * window/prefix-sum form exists because each decision depends on
    * every prior one — so this is the documented mapPartitions case:
    * ONLY (shard, id, n_tokens) metadata is shuffled (never text or
    * payloads), each shard streams through O(1) state, and shard
    * count × balance is caller-controlled, so at 100 TB the packing
    * pass moves ~16 bytes/doc. Output: (shard, idCol, n_tokens,
    * bin_seq) — join back to payloads by id downstream. */
  def packSequences(docs: DataFrame, idCol: String, tokens: Column,
      budget: Long, shard: Column): DataFrame = {
    require(budget > 0, "budget must be positive")
    require({
      import org.apache.spark.sql.types._
      Seq(ByteType, ShortType, IntegerType, LongType)
        .contains(docs.schema(idCol).dataType)
    }, s"$idCol must be integral (a string id would cast to null and " +
      "silently collapse documents)")
    val s = docs.sparkSession
    import s.implicits._
    docs.select(shard.cast("int").as("shard"),
        col(idCol).cast("long").as("id"), tokens.cast("long").as("nt"))
      .as[(Int, Long, Long)]
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("id"))
      .mapPartitions { it =>
        // explicit first-row flag, never a sentinel shard value: the
        // shard expression is caller-supplied, so a genuine
        // Int.MinValue shard must open a fresh bin like any other
        var seen = false; var cur = 0; var bin = 0L; var fill = 0L
        it.map { case (sh, id, nt) =>
          if (!seen || sh != cur) { seen = true; cur = sh; bin = 0L; fill = nt }
          else if (fill + nt > budget) { bin += 1; fill = nt }
          else fill += nt
          (sh, id, nt, bin)
        }
      }
      .toDF("shard", idCol, "n_tokens", "bin_seq")
  }

  /** Deterministic corpus shuffle + shard assignment: the
    * training-shard writer's layout step — every document lands in
    * exactly one of `nShards` shards, pseudo-randomly by a seeded md5
    * class, and gets a pseudo-random position within its shard — so
    * shard files can be written out as globally-shuffled training
    * input without any global sort.
    *
    * shard = ⌊v·nShards/2¹⁶⌋ where v is the first 16 bits of
    * md5(seed:id) — unbiased for the required power-of-two `nShards`
    * (each shard owns exactly 2¹⁶/nShards of the key space); position
    * = rank of the full md5 key within the shard (ties impossible up
    * to md5 collision; id tie-breaks anyway). Deterministic per
    * (seed, id): stable under retries, partitioning and append order,
    * and a different `seed` is a fresh independent shuffle (epoch
    * reshuffling).
    *
    * 100 TB shape: the window carries ONLY (id, 32-byte key) — text
    * never moves; one exchange on shard, shard-local sort of
    * corpus/nShards metadata rows (nShards is the caller's
    * shard-size dial), join payloads back by id at write time (the
    * [[packSequences]] ~48 bytes/doc discipline). Output:
    * (idCol, shard, pos). */
  def shardCorpus(docs: DataFrame, idCol: String, nShards: Int,
      seed: String = ""): DataFrame = {
    require(nShards > 0 && nShards <= 65536 && (nShards & (nShards - 1)) == 0,
      "nShards must be a power of two in [1, 65536] (unbiased 16-bit bucketing)")
    val key = md5(concat(lit(seed), lit(":"), col(idCol).cast("string")))
    val val4 = conv(substring(col("__key"), 1, 4), 16, 10).cast("long")
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__key"), col(idCol))
    docs.select(col(idCol), key.as("__key"))
      .withColumn("__v", val4)
      // div, not / — Spark `/` on longs is IEEE double division
      .withColumn("shard", expr(s"cast((__v * $nShards) div 65536 as int)"))
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .select(col(idCol), col("shard"), col("pos"))
  }

  // ---- LM quality scoring (perplexity filtering) -----------------------

  /** Unigram-LM cross-entropy scoring — the CCNet-style "perplexity
    * filtering" step (Wenzek et al. 2020 §3.3: score every crawl
    * document under a language model trained on a trusted target
    * domain, then keep/bucket by perplexity). The LM here is an
    * add-one-smoothed unigram model over whitespace tokens, which
    * keeps every probability an exact rational of corpus counts:
    * p(w) = (c_w + 1) / (T + V + 1), with one shared OOV mass
    * 1 / (T + V + 1) (T = reference token count, V = reference
    * vocabulary size; the +1 is the OOV bucket).
    *
    * Exactness discipline: each term's log-probability is quantized
    * ONCE to decimal(18,4) (ln is the only libm call — round(…,4) on
    * a per-term scalar, never on a sum), per-document sums are exact
    * decimal arithmetic (tf × lp, order-independent), and the
    * presentation cross-entropy −sum_lp/n is one scalar IEEE divide
    * of byte-identical operands. Perplexity, if wanted, is
    * exp(xent) — presentation-only, derive downstream.
    *
    * Output: one row per input document —
    * (doc_id, n_tokens, oov_tokens, sum_lp decimal(18,4), xent);
    * zero-token docs kept with (0, 0, 0.0000, 0.0). Low xent = close
    * to the reference domain.
    *
    * 100 TB shape: the lexicon is ONE vocabulary-bounded aggregate
    * over the reference (the train step); the score side condenses
    * tokens to per-doc tf rows BEFORE the lexicon join (the
    * [[distinctiveTerms]] discipline — partial agg collapses repeated
    * words map-side), and the join strategy is left to AQE: broadcast
    * when the measured lexicon is small, shuffle join when a
    * web-scale vocabulary is not (never force-broadcast a side whose
    * size the data controls). `totals` = (T, V) skips the one
    * plan-time scalar job (the ANN corpusSize-hint discipline);
    * defaults compute them. */
  def lmScore(docs: DataFrame, reference: DataFrame,
      textCol: String = "text",
      totals: Option[(Long, Long)] = None): DataFrame = {
    def toks(t: Column) =
      filter(split(lower(trim(t)), "\\s+"), w => length(w) > 0)
    val lexCounts = reference
      .select(explode(toks(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    val (t, v) = totals.getOrElse {
      val r = lexCounts.agg(
        coalesce(sum(col("c")), lit(0L)), count(lit(1))).head()
      (r.getLong(0), r.getLong(1)) // two longs — bounded metadata
    }
    val denom = (t + v + 1).toDouble
    val lex = lexCounts.select(col("term"),
      round(log((col("c") + lit(1)).cast("double") / lit(denom)), 4)
        .cast("decimal(18,4)").as("lp"))
    // the OOV bucket's quantized log-probability, same rounding rule
    // as the engine round(_, 4) (HALF_UP on the shortest repr)
    val lpUnk = BigDecimal.decimal(math.log(1.0 / denom))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP)
    val tf = docs
      .select(col("doc_id"), explode_outer(toks(col(textCol))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val isTok = col("term").isNotNull
    tf.join(lex, Seq("term"), "left")
      .groupBy(col("doc_id"))
      .agg(
        sum(when(isTok, col("tf")).otherwise(0L)).as("n_tokens"),
        sum(when(isTok && col("lp").isNull, col("tf")).otherwise(0L))
          .as("oov_tokens"),
        sum(when(isTok,
          col("tf") * coalesce(col("lp"), lit(lpUnk).cast("decimal(18,4)"))))
          .as("__s"))
      .select(col("doc_id"), col("n_tokens"), col("oov_tokens"),
        coalesce(col("__s"), lit(0).cast("decimal(18,4)"))
          .cast("decimal(18,4)").as("sum_lp"))
      .withColumn("xent",
        when(col("n_tokens") > 0,
          -col("sum_lp").cast("double") / col("n_tokens").cast("double"))
          .otherwise(lit(0.0)))
  }

  // ---- PII detection / redaction ---------------------------------------

  /** PII classes as (name, regex, replacement token). The patterns are
    * the public C4/CCNet-style corpus-filter classes (emails, dotted/
    * dashed phone numbers, IPv4 addresses, SSN-shaped id numbers),
    * written in the portable regex subset shared by Java regex (Spark)
    * and RE2 (DuckDB): character classes, bounded repetition and `\b`
    * only — no lookaround, no backreferences, ASCII `\d` in both
    * engines. The classes are mutually non-overlapping by construction
    * (3-3-4 phone vs 3-2-4 id digit groups; IPv4 needs three dots with
    * ≤3-digit runs), so per-class counts and sequential redaction
    * commute. */
  val piiClasses: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("phone", "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b", "<PHONE>"),
    ("id", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "<ID>"))

  /** PII detection + redaction — the filter pass every production
    * corpus pipeline runs before training: per-document match counts
    * per class (on the ORIGINAL text) plus the redacted text with
    * each match replaced by its class token, applied in fixed class
    * order (tokens contain no digits or '@', so a replacement can
    * never create a later-class match). Pure scan-local projection —
    * zero shuffle, runs inside the scan's codegen stage at any scale.
    *
    * Output: (doc_id, n_email, n_ip, n_phone, n_id, redacted). */
  def piiStats(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    val counts = piiClasses.map { case (name, pat, _) =>
      regexp_count(text, lit(pat)).cast("long").as(s"n_$name")
    }
    val redacted = piiClasses.foldLeft(text) { case (c, (_, pat, tok)) =>
      regexp_replace(c, pat, tok)
    }.as("redacted")
    docs.select(Seq(col("doc_id")) ++ counts :+ redacted: _*)
  }

  /** Redaction-only form for pipeline composition: same rows/columns
    * as the input with `textCol` replaced by its redacted version. */
  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn(textCol,
      piiClasses.foldLeft(col(textCol)) { case (c, (_, pat, tok)) =>
        regexp_replace(c, pat, tok)
      })

  // ---- fingerprinting --------------------------------------------------

  /** Rolling-hash document fingerprint: md5 over each k-word window,
    * keep the minimum `keep` hex digests (a winnowing-style min-k
    * sketch) — robust to local edits, array<string> output. The hash
    * family is md5 hex (not xxhash64) so the sketch is engine-portable:
    * the DuckDB oracle reproduces it verbatim, and min-k over
    * lowercase-hex strings orders identically everywhere. Still a pure
    * scan-local projection. */
  def fingerprint(docs: DataFrame, k: Int = 5, keep: Int = 8,
      textCol: String = "text"): DataFrame =
    Dedup.withShingles(docs.withColumnRenamed(textCol, "text"), k)
      .select(col("doc_id"),
        slice(array_sort(transform(col("sh"), s => md5(s))), 1, keep)
          .as("fingerprint"))

  /** TRUE winnowing fingerprint selection (Schleimer, Wilkerson,
    * Aiken 2003 — the MOSS scheme), distinct from the min-k sketch
    * above: per document, hash every k-word gram (md5, the portable
    * family) and select the MINIMUM hash of each sliding window of
    * `window` consecutive gram hashes. The published guarantee: any
    * two documents sharing a substring of at least `window + k − 1`
    * words share at least one selected fingerprint — which is what
    * makes it a RECALL-SAFE candidate generator for substring-level
    * dedup, where the doc-level min-k sketch has no such bound (a
    * shared passage's hashes need not be among a long document's
    * global minima). Output: (doc_id, fp) distinct rows, ~n/window
    * per doc; still a pure scan-local projection. Documents shorter
    * than `window + k − 1` words emit nothing (nothing is guaranteed
    * discoverable for them). */
  def winnowing(docs: DataFrame, k: Int = 4, window: Int = 4,
      textCol: String = "text"): DataFrame = {
    require(k >= 1 && window >= 1, "k and window must be positive")
    Dedup.parallelized(docs)
      .withColumn("__toks", split(lower(col(textCol)), "\\s+"))
      .withColumn("__g", gramsOf(col("__toks"), k))
      // one compiled pass for md5-per-gram + sliding-window minima +
      // first-occurrence distinct (winnow_md5 kernel — bit-identical
      // to the staged HOF composition it replaced, pinned in
      // TextHashKernelSpec; the oracle replay is unchanged). The
      // when(size >= 0) guard double-references __g so CollapseProject
      // can't re-inline the gram expression (the HOF-recompute trap).
      .withColumn("__fp", when(size(col("__g")) >= 0,
        graft.functions.TextHashExpressions.winnow_md5(col("__g"), window)))
      .select(col("doc_id"), explode_outer(col("__fp")).as("fp"))
      .where(col("fp").isNotNull)
  }

  // ---- repetition filtering (Gopher §A1.1 / C4-style) ------------------

  /** Raw word n-grams WITH multiplicity (Dedup.shinglesOf minus the
    * distinct — repetition metrics need the duplicate occurrences the
    * dedup signatures deliberately discard). Same staging rule: pass a
    * bound token column, never an inline split. */
  def gramsOf(toks: Column, n: Int): Column = {
    require(n >= 1, "gram size must be at least 1 (n = 0 would make " +
      "every empty-string pseudo-gram equal and wreck the fractions)")
    filter(
      transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => when(i + n <= size(toks),
          concat_ws(" ", slice(toks, i + 1, lit(n))))),
      x => x.isNotNull)
  }

  /** Per-document repetition metrics — the public Gopher repetition
    * filters (Rae et al. 2021 §A1.1 "repetitious text"; C4, Raffel et
    * al. 2020) re-expressed over word n-grams: duplicate-n-gram
    * fraction and most-frequent-n-gram fraction, plus the raw counts.
    * Everything is scan-local: the most-frequent count is a run-length
    * maximum over the SORTED gram array (an `aggregate` lambda with a
    * (prev, run, best) accumulator), so no per-doc explode+groupBy
    * shuffle ever happens — at 100 TB this is a projection, not a
    * join. Equal grams are adjacent under ANY sort order, so the
    * run-length count is engine-portable even though collations are
    * not; the fractions are single int→double divisions (one
    * correctly-rounded IEEE op — byte-exact cross-engine, no round()
    * needed).
    *
    * Output: (doc_id, n_words, n_grams, uniq_grams, top_gram_n,
    * dup_gram_frac, top_gram_frac). */
  def repetitionStats(docs: DataFrame, n: Int = 2,
      textCol: String = "text"): DataFrame = {
    val init = struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best"))
    def step(acc: Column, x: Column) = {
      val run = when(x === acc("prev"), acc("run") + 1).otherwise(lit(1L))
      struct(x.as("prev"), run.as("run"),
        greatest(acc("best"), run).as("best"))
    }
    docs
      .withColumn("__toks", split(lower(col(textCol)), "\\s+"))
      .withColumn("__g", gramsOf(col("__toks"), n))
      // double-reference barrier: keeps CollapseProject from
      // re-inlining the gram expression into the aggregate lambda
      .withColumn("__sg", when(size(col("__g")) >= 0, sort_array(col("__g"))))
      .select(
        col("doc_id"),
        size(col("__toks")).cast("long").as("n_words"),
        size(col("__g")).cast("long").as("n_grams"),
        size(array_distinct(col("__g"))).cast("long").as("uniq_grams"),
        aggregate(col("__sg"), init, step, _("best")).as("top_gram_n"))
      .select(
        col("doc_id"), col("n_words"), col("n_grams"), col("uniq_grams"),
        col("top_gram_n"),
        when(col("n_grams") > 0,
          (col("n_grams") - col("uniq_grams")).cast("double") / col("n_grams"))
          .otherwise(lit(0.0)).as("dup_gram_frac"),
        when(col("n_grams") > 0,
          col("top_gram_n").cast("double") / col("n_grams"))
          .otherwise(lit(0.0)).as("top_gram_frac"))
  }

  // ---- corpus mix report -----------------------------------------------

  /** Training-data mix report: document/char/token totals per
    * (source, lang) with all rollup margins in ONE grouping-sets pass
    * (the data-mix table every pretraining run is steered by). Same
    * one-scan-one-shuffle shape and label discipline as
    * `SeriesAlgebra.statByIndexMulti`: grouped-out labels surface as
    * '<all>' (never NULL — a NULL label would flip the column
    * nullable and trip dtype-strict gates), `gid` disambiguates
    * levels (0 = per (source, lang), 1 = per source, 3 = grand
    * total). A genuinely-NULL source/lang VALUE surfaces as '<null>',
    * decided by grouping() — not by coalesce, which would collapse a
    * real NULL group at gid=0 into the same label as the rollup
    * margin. mean_tokens is a single int→double division — byte-exact
    * cross-engine. */
  def corpusMix(docs: DataFrame): DataFrame = {
    // grouped-out? is read from the gid BITS (bit 1 = source, bit 0 =
    // lang under ROLLUP(source, lang)) — grouping() itself is only
    // legal inside the aggregate, and a plain coalesce would collapse
    // a real NULL group into the margin label
    def label(c: Column, bit: Int) =
      when(col("gid").bitwiseAND(bit) =!= 0, "<all>")
        .otherwise(coalesce(c, lit("<null>")))
    docs
      .rollup(col("source"), col("lang"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        sum(tokenCount(col("text")).cast("long")).as("n_tokens"))
      .select(
        label(col("source"), 2).as("source"),
        label(col("lang"), 1).as("lang"),
        col("gid").cast("int").as("gid"),
        col("n_docs"), col("n_chars"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("n_docs")).as("mean_tokens"))
  }

  // ---- distinctive-term extraction -------------------------------------

  /** Per-document top-k distinctive terms: score = tf / df — term
    * frequency in the doc over document frequency in the corpus (the
    * TF-IDF shape with a rational idf surrogate: rank-equivalent to
    * tf·(N/df), and EXACT — one int→int division per score, so the
    * ranking replays byte-for-byte in any engine, where an ln-based
    * idf would hang rank boundaries on libm ulp differences; swap the
    * scorer for tf·ln(N/df) if absolute TF-IDF values are wanted over
    * certifiable ranks).
    *
    * Shape at scale: tokens explode to (doc_id, term) and aggregate
    * to tf (partial agg condenses in-partition duplicates before the
    * one exchange); df is a SECOND aggregate over the same rows
    * (vocabulary-bounded output) that broadcast-joins back; the
    * per-doc top-k window carries only (doc_id, term, counts) and
    * WindowGroupLimit trims it map-side. The df side is NOT force-
    * broadcast: a web-scale vocabulary (URLs, typos) is unbounded, so
    * the join strategy is left to AQE — broadcast when the measured
    * vocab is small, shuffle join when it is not (the r2 lesson:
    * never force-broadcast a side whose size the data controls).
    * Docs with no tokens have no terms — no rows, by definition of a
    * top-k. Ties rank by term (exact-equality comparison of exact
    * scores — deterministic). */
  def distinctiveTerms(docs: DataFrame, k: Int = 5): DataFrame = {
    require(k >= 1, "k must be at least 1")
    val toks = docs.select(col("doc_id"),
      explode_outer(split(lower(trim(col("text"))), "\\s+")).as("term"))
      .where(length(col("term")) > 0)
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(df, Seq("term"))
      .withColumn("score", col("tf").cast("double") / col("df"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"),
        col("tf"), col("df"), col("score"))
  }

  // ---- benchmark decontamination ---------------------------------------

  /** Benchmark decontamination: per-document count of distinct word
    * n-grams that also occur in `bench` (the eval-set table) — the
    * standard n-gram-overlap contamination check run before training.
    *
    * `bench` is an evaluation benchmark: small BY CONTRACT (eval sets
    * are MBs while the corpus is TBs), so its distinct-gram set is
    * broadcast and the probe is a map-side semi-probe on the document
    * scan — document grams are never shuffled; the only exchange
    * carries one partial (doc_id, counts) row per doc per partition
    * (map-side combine collapses the per-gram rows first). A corpus-
    * sized right side does not belong here — that is a dedup problem,
    * use [[Dedup]].
    *
    * Output: (doc_id, n_grams, hit_grams, contam_frac) for EVERY doc
    * (zero-gram docs kept with zeros). */
  def contamination(docs: DataFrame, bench: DataFrame, n: Int = 5): DataFrame =
    Dedup.withShingles(docs, n)
      // explode_OUTER, deliberately: a plain explode makes Catalyst
      // infer a `size(sh) > 0` filter and push it below the staging
      // projections, re-inlining the whole shingle pipeline into a
      // per-row Filter (the staged-HOF O(n·m) class — and it costs a
      // second evaluation of every signature). outer explode infers
      // nothing, and it keeps zero-gram docs as a null-gram row, so
      // no second docs scan + join-back is needed either.
      .select(col("doc_id"), explode_outer(col("sh")).as("gram"))
      .join(broadcast(Dedup.withShingles(bench, n)
        .select(explode(col("sh")).as("gram")).distinct()
        .withColumn("__hit", lit(1))), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("gram")).as("n_grams"), count(col("__hit")).as("hit_grams"))
      .select(
        col("doc_id"), col("n_grams"), col("hit_grams"),
        when(col("n_grams") > 0,
          col("hit_grams").cast("double") / col("n_grams"))
          .otherwise(lit(0.0)).as("contam_frac"))

  // ---- C4 rule filter --------------------------------------------------

  /** The published C4 cleaning heuristics (Raffel et al. 2020 §2.2)
    * as ONE scan-local projection.
    *
    * Line level — a line survives iff it ends in a terminal
    * punctuation mark, has at least `minLineWords` whitespace words,
    * and does not mention "javascript". Document level — a document
    * is flagged keep=1 iff its CLEANED text has at least
    * `minSentences` sentences (terminal-punctuation count) and
    * contains neither "lorem ipsum" nor a curly brace.
    *
    * Everything is array/regexp expressions over the scan: line
    * filtering happens INSIDE the row via `filter(split(text, \n))`,
    * so there is no explode, no join and no shuffle — at 100 TB this
    * is a single WholeStageCodegen Scan→Project pass, the same shape
    * as [[qualityScore]]. Dropped docs are flagged, not removed: the
    * caller chooses `where(keep = 1)` (rule composition and audit
    * counts both need the flags).
    *
    * Output: doc_id, n_lines_kept, n_lines_dropped, n_sentences,
    * keep (0/1 int — portable across engines), clean_text. */
  def c4Filter(docs: DataFrame, textCol: String = "text",
      minLineWords: Int = 3, minSentences: Int = 5): DataFrame = {
    val lines = split(col(textCol), "\n")
    val kept = c4KeptLines(col(textCol), minLineWords)
    val clean = array_join(kept, "\n")
    val nSent = length(regexp_replace(clean, "[^.!?]", ""))
    docs.select(col("doc_id"),
      size(kept).as("n_lines_kept"),
      (size(lines) - size(kept)).as("n_lines_dropped"),
      nSent.as("n_sentences"),
      c4DocKeep(clean, minSentences).as("keep"),
      clean.as("clean_text"))
  }

  /** [[c4Filter]]'s line rule as a bare expression (array of surviving
    * lines) — shared with [[Curation.curate]] so the pipeline and the
    * standalone filter can never drift. */
  private[graft] def c4KeptLines(text: Column, minLineWords: Int): Column =
    filter(split(text, "\n"), ln =>
      trim(ln).rlike("[.!?\"]$") &&
        size(split(trim(ln), "\\s+")) >= minLineWords &&
        !lower(ln).contains("javascript"))

  /** [[c4Filter]]'s document rule over the CLEANED text, as a bare
    * 0/1-int expression. */
  private[graft] def c4DocKeep(clean: Column, minSentences: Int): Column =
    (length(regexp_replace(clean, "[^.!?]", "")) >= minSentences &&
      !lower(clean).contains("lorem ipsum") &&
      !clean.contains("{")).cast("int")

  // ---- Gopher rule filter ------------------------------------------------

  /** The eight stop words of the Gopher "stop word" rule (Rae et al.
    * 2021, appendix A1.1.2): a document must contain at least two. */
  private val gopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The published Gopher quality rules (Rae et al. 2021, appendix
    * A1.1.2) as ONE scan-local projection — the document-statistics
    * complement to [[c4Filter]]'s line rules:
    *
    *   1. word count in [minWords, maxWords]
    *   2. mean word length in [3, 10]
    *   3. symbol-to-word ratio < 0.1 (symbols: '#' and ASCII "...")
    *   4. < 90% of lines start with a bullet ("- " / "* ")
    *   5. < 30% of lines end with an ellipsis ("...")
    *   6. ≥ 80% of words contain an alphabetic character
    *   7. ≥ 2 of the eight Gopher stop words present
    *
    * Every rule is INTEGER arithmetic (cross-multiplied thresholds:
    * `10*symbols < words` instead of a float ratio), so the output —
    * per-rule counts, per-rule flags and the composite keep — is
    * bit-portable across engines with no IEEE considerations at all.
    * Pure column expressions over the scan: zero shuffle, one
    * WholeStageCodegen Scan→Project pass at any corpus size. Flags,
    * not drops, same audit discipline as [[c4Filter]]. */
  def gopherFilter(docs: DataFrame, textCol: String = "text",
      minWords: Int = 50, maxWords: Int = 100000): DataFrame =
    docs.select(col("doc_id") +:
        gopherStats(col(textCol)).map { case (n, e) => e.as(n) }: _*)
      .withColumn("keep", gopherRule(col, minWords, maxWords))

  /** [[gopherFilter]]'s eight document statistics as named bare
    * expressions — shared with [[Curation.curate]]. */
  private[graft] def gopherStats(text: Column): Seq[(String, Column)] = {
    val toks = filter(split(text, "\\s+"), t => length(t) > 0)
    val lines = split(text, "\n")
    val lowToks = transform(toks, t => lower(t))
    Seq(
      "n_words" -> size(toks),
      // mean-word-length numerator: total non-whitespace chars
      "n_word_chars" -> length(regexp_replace(text, "\\s+", "")),
      // '#' chars plus non-overlapping ASCII "..." runs (exact multiple
      // of 3 by construction, so the int cast is exact in any engine)
      "n_symbols" -> (length(regexp_replace(text, "[^#]", "")) +
        ((length(text) - length(replace(text, lit("...")))) / 3).cast("int")),
      "n_lines" -> size(lines),
      "n_bullet_lines" -> size(filter(lines, ln => ln.rlike("^\\s*[-*] "))),
      "n_ellipsis_lines" -> size(filter(lines, ln => ln.rlike("\\.\\.\\.\\s*$"))),
      "n_alpha_words" -> size(filter(toks, t => t.rlike("[A-Za-z]"))),
      "n_req_stops" -> gopherStops.map(w =>
        array_contains(lowToks, w).cast("int")).reduce(_ + _))
  }

  /** [[gopherFilter]]'s composite keep rule over the eight statistics,
    * written ONCE against a name→column lookup so the standalone filter
    * (column refs) and the pipeline (prefixed staged columns) apply the
    * identical integer arithmetic. */
  private[graft] def gopherRule(c: String => Column,
      minWords: Int, maxWords: Int): Column =
    (c("n_words").between(minWords, maxWords) &&
      c("n_word_chars") >= lit(3) * c("n_words") &&
      c("n_word_chars") <= lit(10) * c("n_words") &&
      c("n_symbols") * 10 < c("n_words") &&
      c("n_bullet_lines") * 10 < c("n_lines") * 9 &&
      c("n_ellipsis_lines") * 10 < c("n_lines") * 3 &&
      c("n_alpha_words") * 10 >= c("n_words") * 8 &&
      c("n_req_stops") >= 2).cast("int")

  // ---- URL / domain filtering ---------------------------------------------

  /** URL extraction + domain-blocklist filtering — the C4/CCNet-style
    * URL hygiene pass (C4 dropped pages whose source URL matched a
    * blocklist; CCNet groups and filters by registrable domain).
    * The corpus tables carry no source-URL column, so this operates on
    * in-text URLs: extract `http(s)://host` occurrences ((?i), host =
    * `[a-z0-9.-]+` — the portable Java∩RE2 subset, same discipline as
    * the PII patterns), lowercase + dedup the hosts, and flag
    * documents mentioning a blocklisted domain or any subdomain of
    * one. Domains are returned as a sorted comma-joined string (ASCII
    * after lowering, so the sort is engine-independent). Scan-local
    * projection — zero shuffle at any corpus size; the blocklist is a
    * compile-time literal fold, the standard shape for the small
    * curated lists these passes use (a large list would become a
    * broadcast semi-join on the exploded hosts instead). */
  def urlFilter(docs: DataFrame, textCol: String = "text",
      blocklist: Seq[String] = Nil): DataFrame = {
    val urls = regexp_extract_all(col(textCol), lit(urlPattern), lit(0))
    val hosts = urlHostsOf(urls)
    val nBlocked = blockedCount(hosts, blocklist)
    docs.select(col("doc_id"),
      size(urls).as("n_urls"),
      array_join(array_sort(hosts), ",").as("domains"),
      nBlocked.as("n_blocked"),
      (nBlocked === 0).cast("int").as("keep"))
  }

  /** [[urlFilter]]'s building blocks as bare expressions — shared with
    * [[Curation.curate]]. */
  private[graft] val urlPattern = "(?i)https?://[a-z0-9.-]+"

  private[graft] def urlHostsOf(urls: Column): Column =
    array_distinct(transform(urls,
      u => lower(regexp_replace(u, "(?i)^https?://", ""))))

  private[graft] def blockedCount(hosts: Column,
      blocklist: Seq[String]): Column = {
    val blocked = (h: Column) => blocklist.map(b =>
      h === lit(b) || h.endsWith(lit("." + b)))
      .foldLeft(lit(false))(_ || _)
    size(filter(hosts, blocked))
  }
}
