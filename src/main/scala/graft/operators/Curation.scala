package graft.operators

import graft.functions.ShingleFunctions._
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Training-data curation operators over the `documents` table — the
 * corpus-management layer an LLM data pipeline needs around dedup
 * (Dedup) and similarity (Similarity): reproducible sampling,
 * benchmark decontamination, and per-document term relevance. The cores
 * are DataFrame→DataFrame (planted-fixture tested in CurationSpec and
 * reusable with a real external benchmark corpus); the wired queries
 * bind them to the driver testdata, each with a full value-level DuckDB
 * oracle.
 */
object Curation {

  private val logger = org.apache.logging.log4j.LogManager.getLogger(getClass)

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** Reshard a CPU-bound scan when it arrives under-partitioned (the
   * testdata is one row group); guarded so a well-partitioned 100 TB
   * scan is never gratuitously shuffled (same rationale as
   * Dedup.spread). */
  private def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  // ------------------------------------------------------------ sampling

  /** Pre-reduction modulus < √(2⁶³): keeps `(id % PreMod) * KnuthA`
   * inside a signed 64-bit long for ANY id, so the hash is identical in
   * Spark (wrapping long) and DuckDB (overflow-checked BIGINT). Ids that
   * collide mod PreMod (3 billion apart) share a sample decision —
   * harmless for sampling. */
  private val PreMod = 3037000493L

  /** Knuth's multiplicative constant ⌊2³²/φ⌋ (golden-ratio hashing). */
  private val KnuthA = 2654435761L

  /** Deterministic 32-bit mix of an id column. NOT a cryptographic or
   * even avalanche-quality hash — it is a seedable, engine-portable
   * spreader: multiplicative hashing scrambles the low bits thoroughly
   * (Knuth TAOCP §6.4), which is what `% rate` and rank-ordering
   * consume. The final reduction is `pmod`, not `%`: a negative key's
   * sign-preserving remainder would be negative, and every downstream
   * `h % 100 < pct` test would silently class such rows as kept/'train'.
   * With pmod the result is in [0, 2³²) for ANY key, and the DuckDB
   * oracle ([[Mix32Sql]]) applies the same positive-mod fold. */
  private[operators] def mix32(c: Column): Column =
    pmod((c % PreMod) * KnuthA, lit(4294967296L))

  /** Reproducible Bernoulli sample: keep a row iff
   * `mix32(key) % 100 < pct`. Unlike `df.sample()`, the decision is a
   * pure function of the KEY — the same rows survive across runs,
   * engines, and repartitions, which is what makes training-data
   * ablations comparable. A narrow codegen'd filter on the scan: no
   * shuffle, no state, at any scale. */
  def bernoulli(df: DataFrame, key: Column, pct: Int): DataFrame =
    df.filter(mix32(key) % 100 < pct)

  /** Stratified fixed-size sample: exactly `k` rows per stratum, chosen
   * by hash order (mix32 asc, key tie-break) — deterministic, and
   * per-stratum counts are exact where Bernoulli only hits the rate in
   * expectation. The rank ≤ k window filter is recognized by Spark's
   * InferWindowGroupLimit, which pushes a partial top-k into each map
   * task — at 100 TB the shuffle carries ≤ k rows per stratum per task,
   * not the corpus. Adds a `sample_rank` column. */
  def stratified(df: DataFrame, stratum: Column, key: Column, k: Int): DataFrame = {
    val w = Window.partitionBy(stratum).orderBy(mix32(key), key)
    df.withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= k)
  }

  /** Corpus mixing: per-stratum Bernoulli rates (the data-mixing knob
   * of pretraining — upsample books, downsample crawl). Same pure
   * key-hash decision as [[bernoulli]], with the rate resolved per row
   * from the stratum column — still a single codegen'd scan filter,
   * zero exchanges at any scale. Strata absent from `rates` use
   * `defaultPct`. */
  def weightedBernoulli(df: DataFrame, key: Column, stratum: Column,
      rates: Map[String, Int], defaultPct: Int): DataFrame = {
    val rate = rates.foldLeft(lit(defaultPct)) { case (acc, (s, p)) =>
      when(stratum === s, lit(p)).otherwise(acc)
    }
    df.filter(mix32(key) % 100 < rate)
  }

  /**
   * Fractional-EPOCH upsampling — the mixing knob [[weightedBernoulli]]
   * cannot express: a pretraining recipe repeats high-quality sources
   * MORE than once per pass ("2.5 epochs of wiki, 0.8 of crawl").
   * Epochs are given in percent (250 = 2.5 epochs): every row yields
   * `pct / 100` full copies plus one more iff the SAME pure key-hash
   * decision as [[bernoulli]] admits it at the fractional rate
   * (`mix32(key) % 100 < pct % 100`) — deterministic across runs,
   * engines, and repartitions, and appended rows never change old
   * rows' copy counts. `copy_idx` (0-based) distinguishes the copies
   * for downstream interleaving. Row-local `explode(sequence)` — zero
   * exchanges; the output volume is the recipe's token multiplier, the
   * cost upsampling inherently pays. */
  def epochUpsample(df: DataFrame, key: Column, stratum: Column,
      epochsPct: Map[String, Int], defaultPct: Int): DataFrame = {
    val pct = epochsPct.foldLeft(lit(defaultPct)) { case (acc, (s, p)) =>
      when(stratum === s, lit(p)).otherwise(acc)
    }
    // Column `/` is floating division — cast back to int for the full-
    // copy count (and the _n > 0 filter below also guards sequence():
    // a 0-to--1 span would silently generate a DESCENDING sequence)
    val nKeep = (pct / 100).cast("int") +
      when(mix32(key) % 100 < pct % 100, 1).otherwise(0)
    df.withColumn("_n", nKeep)
      .filter(col("_n") > 0)
      .withColumn("copy_idx",
        explode(sequence(lit(0L), col("_n").cast("long") - 1L)))
      .drop("_n")
  }

  /** Wired recipe: 2.5 epochs of src0, 1.2 of src1, 0.8 of src2,
   * 1 epoch elsewhere. */
  def sampleEpochs(spark: SparkSession, dir: String): DataFrame =
    epochUpsample(docs(spark, dir), col("doc_id"), col("source"),
      Map("src0" -> 250, "src1" -> 120, "src2" -> 80), defaultPct = 100)
      .select(col("doc_id"), col("source"), col("copy_idx"))

  /**
   * Token-budget mixing — the other half of the data-mixing knob:
   * [[weightedBernoulli]] hits a RATE per source in expectation, but a
   * training recipe is specified in TOKENS per source ("300B crawl,
   * 30B books, 15B code"). Each source's documents are ranked in the
   * deterministic hash order (mix32 asc, key tie-break — the same
   * priority every sampler here uses, so re-runs and engine ports pick
   * identical documents) and kept while the running token total stays
   * within the source's budget (strict: the first overflowing document
   * is dropped, not truncated — document-level mixing; intra-document
   * packing to a length budget is [[graft.operators.SeqPack]]'s job).
   *
   * Scale shape: ONE hash-partition exchange on the source key feeds a
   * running-sum window per source — no global sort, no driver state,
   * and the window's ROWS frame is a streaming accumulation within
   * each partition. Per-source data volume is the only skew concern;
   * a pathological single-source corpus degrades to the SeqPack
   * two-pass prefix-sum shape, which this deliberately does not need
   * at realistic source counts (pretraining mixes have 10s-100s of
   * sources, each a manageable fraction of the corpus).
   */
  def tokenBudget(df: DataFrame, key: Column, source: Column,
      nTokens: Column, budgets: Map[String, Long],
      defaultBudget: Long): DataFrame = {
    val budget = budgets.foldLeft(lit(defaultBudget)) { case (acc, (s, b)) =>
      when(source === s, lit(b)).otherwise(acc)
    }
    val w = Window.partitionBy(source).orderBy(mix32(key), key)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("n_tokens", nTokens)
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .filter(col("cum_tokens") <= budget)
  }

  /** Wired token-budget query: 800 tokens of src0, 400 of src1, 200 of
   * src2, 100 of every other source (each source carries ~1.3k tokens
   * at sf0.01, so every budget BINDS — partial selection everywhere). */
  def sampleTokenBudget(spark: SparkSession, dir: String): DataFrame =
    tokenBudget(docs(spark, dir), col("doc_id"), col("source"),
      size(tokens(col("text"))).cast("bigint"),
      Map("src0" -> 800L, "src1" -> 400L, "src2" -> 200L),
      defaultBudget = 100L)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))

  /** The token-budget mixing re-based on SUBWORD counts (r14 verdict
   * #5: of all the token-counting operators this is the most
   * token-definition-sensitive — a training recipe's "300B of crawl"
   * means model tokens, not whitespace words; a whitespace-budgeted mix
   * over-admits exactly the sources whose text fragments into the most
   * pieces). Same [[tokenBudget]] core and hash order; the only change
   * is `nTokens` = the `subword_encode` piece count — one codegen'd
   * kernel in the scan, zero extra exchanges. Budgets are scaled to
   * the subword inflation (~2.5 pieces/word occurrence) so every
   * source's budget still BINDS at sf0.01 (sources carry ~2.7-3.8k
   * subword tokens each). Oracle: the recursive subword CTEs replay
   * fit + greedy walk, then the identical window arithmetic. */
  def sampleTokenBudgetSubword(spark: SparkSession, dir: String): DataFrame = {
    val model = TextAnalysis.subwordModel(spark, dir)
    val d = docs(spark, dir)
      // materialize the token array before the kernel (shingles caveat)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("t0"))
      .select(col("doc_id"), col("source"),
        size(graft.functions.SubwordFunctions.subword_encode(col("t0"), model))
          .cast("bigint").as("n_sw"))
    tokenBudget(d, col("doc_id"), col("source"), col("n_sw"),
      Map("src0" -> 2000L, "src1" -> 1000L, "src2" -> 500L),
      defaultBudget = 250L)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
  }

  /** Wired mixing query: keep all of src0, half of src1, a quarter of
   * src2, 10% of everything else. */
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame =
    weightedBernoulli(docs(spark, dir), col("doc_id"), col("source"),
      Map("src0" -> 100, "src1" -> 50, "src2" -> 25), defaultPct = 10)
      .select(col("doc_id"), col("source"), col("lang"))

  /** 10% reproducible Bernoulli sample of the documents table. */
  def sampleBernoulli(spark: SparkSession, dir: String): DataFrame =
    bernoulli(docs(spark, dir), col("doc_id"), 10)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))

  /**
   * Deterministic train/val/test split — the assignment every training
   * run needs before anything else: each row lands in exactly one split
   * as a pure function of its KEY (the same multiplicative-hash
   * decision as [[bernoulli]]), so the split is reproducible across
   * runs, engines, and repartitions, rows never migrate between splits
   * when the corpus is appended to (a new doc's assignment does not
   * depend on the old docs), and NO shuffle or global count is involved
   * — a scan-local codegen'd CASE at any scale. The parameters are
   * split WIDTHS, not cumulative bounds: (trainPct=90, valPct=5) →
   * 90% train, 5% val, and the remaining 5% test. */
  def splitAssign(df: DataFrame, key: Column,
      trainPct: Int, valPct: Int): DataFrame = {
    require(trainPct > 0 && valPct > 0 && trainPct + valPct < 100,
      s"train/val percentages must leave room for test: $trainPct/$valPct")
    val h = mix32(key) % 100
    df.withColumn("split",
      when(h < trainPct, "train")
        .when(h < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** Wired 90/5/5 split of the documents table. */
  def sampleSplit(spark: SparkSession, dir: String): DataFrame =
    splitAssign(docs(spark, dir), col("doc_id"), 90, 5)
      .select(col("doc_id"), col("source"), col("split"))

  /** Exactly 20 documents per language stratum. */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame =
    stratified(docs(spark, dir), col("lang"), col("doc_id"), 20)
      .select(col("doc_id"), col("lang"),
        col("sample_rank").cast("bigint").as("sample_rank"))

  // --------------------------------------------------------- chunking

  val ChunkSize = 32
  val ChunkStride = 24

  /**
   * Fixed-window token chunking — the context-window prep step between
   * curation and packing: each document's token sequence splits into
   * windows of [[ChunkSize]] tokens starting every [[ChunkStride]]
   * (overlap = size − stride, here 8 tokens, the standard recipe so no
   * boundary context is lost to truncation). A window starts at every
   * stride offset `< n_tokens`; the final windows run short rather than
   * padding. Generic core: any (id, text) frame.
   *
   * Scale shape: tokenize once, one scan-local explode — zero
   * exchanges, zero joins; output order is (doc_id, chunk_id) within
   * the scan, so downstream packing (SeqPack) can consume it without a
   * sort. The token array is materialized as an attribute BEFORE the
   * lambda (TextFunctions.shingles caveat: an inlined tokenizer
   * re-evaluates per output element).
   */
  def chunk(df: DataFrame, id: Column, text: Column,
      size0: Int = ChunkSize, stride: Int = ChunkStride): DataFrame =
    chunkTokens(df, id, graft.functions.TextFunctions.tokens(text),
      size0, stride)

  /** Same windowing over an ALREADY-TOKENIZED array column — the
   * subword twin chunks `subword_encode` output instead of whitespace
   * tokens (r13 verdict #1: context windows are sized in subword
   * tokens); pieces contain no whitespace, so `chunk_text` still
   * round-trips through a single-space join. */
  def chunkTokens(df: DataFrame, id: Column, toksCol: Column,
      size0: Int = ChunkSize, stride: Int = ChunkStride): DataFrame = {
    require(size0 >= stride && stride > 0,
      s"chunk windows must tile with non-negative overlap: $size0/$stride")
    df.select(id.as("doc_id"), toksCol.as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0),
          floor((size(col("toks")) - 1) / lit(stride)).cast("int")))
          .as("chunk_id"))
      .select(col("doc_id"), col("chunk_id").cast("bigint").as("chunk_id"),
        slice(col("toks"), col("chunk_id") * stride + 1, lit(size0)).as("ctoks"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("ctoks")).cast("bigint").as("n_tokens"),
        array_join(col("ctoks"), " ").as("chunk_text"))
  }

  /** Wired 32/24 chunking of the documents table. */
  def chunkDocuments(spark: SparkSession, dir: String): DataFrame =
    chunk(docs(spark, dir), col("doc_id"), col("text"))

  /** The chunking re-based on SUBWORD token counts: windows cut over
   * the `subword_encode` piece sequence (vocab fitted + persisted via
   * ModelCache, encode row-local — the added cost over the whitespace
   * twin is one codegen'd kernel in the same scan, still zero
   * exchanges). The oracle replays fit + greedy walk + windowing
   * end-to-end in DuckDB. */
  def chunkDocumentsSubword(spark: SparkSession, dir: String): DataFrame = {
    val model = TextAnalysis.subwordModel(spark, dir)
    // materialize the whitespace-token array as an attribute before the
    // kernel (the shingles caveat — an inlined tokenizer would re-split
    // per consumer of the encode output)
    chunkTokens(
      docs(spark, dir)
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokens(col("text")).as("t0"))
        .select(col("doc_id"),
          graft.functions.SubwordFunctions.subword_encode(col("t0"), model)
            .as("swtoks")),
      col("doc_id"), col("swtoks"))
  }

  // --------------------------------------------------- decontamination

  /** Persisted `(doc_id, n_shingles, s)` shingle-hash table — the
   * benchmark-decontamination core (for each candidate document, how
   * many of its distinct word-3-shingles also occur anywhere in the
   * benchmark corpus) and the decon analogue of
   * [[TextAnalysis.gramCounts]]: one exploded row per
   * distinct word-3-shingle hash per document, with the per-doc
   * distinct count carried alongside (the kernel's output is already
   * distinct, so `n_shingles` is also the doc's row count). Shingling
   * the corpus is the dominant cost of every n-gram-overlap consumer
   * (`decon_ngram_overlap` and the decon stage of `pipeline_curate`
   * hashed the corpus once EACH); fitted once per corpus snapshot via
   * the shared ModelCache, partitioned write (corpus-derived — same
   * argument as gramCounts). Deterministic kernel → hit and miss are
   * bit-identical; the DuckDB oracles re-derive from raw text. */
  def shingleHashTable(spark: SparkSession, dir: String): DataFrame =
    graft.sources.ModelCache.loadOrFit(spark, s"$dir/documents.parquet",
      "shinglehashes-v1",
      sys.env.getOrElse("GRAFT_GRAMS_CACHE", "/tmp/graft-grams-cache"),
      "graft-shingles", singleFile = false) {
      // a complex generator child (array_distinct, an identity here)
      // and no size guard: over a bare attribute InferFiltersFromGenerate
      // pushes a size(e)>0 filter that re-evaluates shingle_hashes below
      // the spread (r07 plan audit, SPARK-36715)
      spread(docs(spark, dir).select("doc_id", "text"))
        .select(col("doc_id"), shingle_hashes(col("text"), 3).as("sh"))
        .select(col("doc_id"),
          size(col("sh")).cast("bigint").as("n_shingles"),
          explode(array_distinct(col("sh"))).as("s"))
    }

  /** The overlap aggregation over slices of the persisted
   * [[shingleHashTable]] — the benchmark side distinct-aggregated and
   * broadcast (eval suites are MBs, corpora TBs: the corpus never
   * shuffles), the candidate side counted per doc into
   * `(doc_id, n_shingles, n_contaminated, contamination)` for every
   * candidate sharing ≥ 1 shingle. */
  private def contaminationFromTable(t: DataFrame, benchSide: Column,
      candidateSide: Column): DataFrame = {
    val bench = t.filter(benchSide).select(col("s")).distinct()
    t.filter(candidateSide)
      .join(broadcast(bench), Seq("s"))
      .groupBy("doc_id", "n_shingles")
      .agg(count(lit(1)).as("n_contaminated"))
      .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
        round(col("n_contaminated").cast("double") / col("n_shingles"), 6)
          .as("contamination"))
  }

  /** Wired decontamination query: `doc_id % 50 == 0` stands in for the
   * eval suite. r11: both sides are slices of the persisted
   * [[shingleHashTable]] — the corpus is shingled once per snapshot
   * (zero on cache hit), not once per decon consumer. */
  def deconNgramOverlap(spark: SparkSession, dir: String): DataFrame =
    contaminationFromTable(shingleHashTable(spark, dir),
      col("doc_id") % 50 === 0, col("doc_id") % 50 =!= 0)

  /**
   * Exact-substring decontamination — the verbatim-overlap check that
   * complements [[deconNgramOverlap]]'s fuzzy shingle overlap (the
   * GPT-3 appendix-C / Pile recipe: flag a training doc when a
   * benchmark document's distinctive snippet occurs in it EXACTLY).
   *
   * The snippet dictionary (one fixed window per benchmark doc) is
   * eval-suite-sized: it is aggregated to DISTINCT snippet strings with
   * per-string (occurrences, min bench id) stats, collected to the
   * driver like the IVF centroid model, and compiled ONCE into an
   * Aho–Corasick automaton ([[graft.functions.AhoCorasick]]) that ships
   * to executors as a single broadcast per JVM. Each document is then
   * scanned in ONE amortized-linear pass that finds every occurring
   * snippet regardless of the dictionary size — the r9 form joined on
   * `text.contains(sn)`, a broadcast nested loop scanning each document
   * once PER snippet (O(text · patterns) per row; ~10⁴× the character
   * comparisons at a 10⁴-snippet eval suite). The aggregation carries
   * only (doc_id, pattern-index) pairs; a tiny broadcast stats join maps
   * pattern indices back to hit counts and bench ids, so `n_hits` still
   * counts every (doc, bench-doc) pair even when two benchmark docs
   * share a snippet string.
   */
  def exactContamination(candidates: DataFrame, benchmark: DataFrame,
      snippetLen: Int = 16,
      maxAutomatonBytes: Long = MaxAutomatonBytes,
      maxDictBytes: Long = MaxDictBytes,
      dictCacheKey: Option[String] = None): DataFrame =
    matchSnippets(candidates,
      benchmark
        .filter(length(col("text")) >= snippetLen * 2)
        .select(substring(col("text"), 1, snippetLen).as("sn"),
          col("doc_id").as("bench_id")),
      maxAutomatonBytes, maxDictBytes, dictCacheKey)

  /**
   * [[exactContamination]] at FULL GPT-3 fidelity: instead of one
   * distinctive snippet per benchmark doc, EVERY `snippetLen`-char tile
   * of every benchmark doc is a pattern (positions 1, 1+L, 1+2L, … —
   * full windows only), so a verbatim copy of ANY benchmark passage is
   * flagged, not just one that includes the doc's opening line. The
   * pattern count grows ~|benchmark chars|/L — the regime the
   * Aho–Corasick matcher exists for: the corpus-side cost is STILL one
   * amortized-linear pass per document (measured flat under 10×
   * snippet growth, BASELINE.md r10), where the r9 contains-join form
   * would have multiplied corpus scans by the window count.
   */
  def exactContaminationTiled(candidates: DataFrame, benchmark: DataFrame,
      snippetLen: Int = 16,
      maxAutomatonBytes: Long = MaxAutomatonBytes,
      maxDictBytes: Long = MaxDictBytes,
      dictCacheKey: Option[String] = None): DataFrame =
    matchSnippets(candidates,
      benchmark
        .filter(length(col("text")) >= snippetLen * 2)
        .select(explode(expr(
          s"transform(sequence(1, length(text) - ${snippetLen - 1}, $snippetLen)," +
            s" s -> substring(text, s, $snippetLen))")).as("sn"),
          col("doc_id").as("bench_id")),
      maxAutomatonBytes, maxDictBytes, dictCacheKey)

  /** UTF-8 pattern-byte budget per compiled automaton. The flat-array
   * automaton costs ~30–50 bytes per pattern byte worst case (states ≤
   * pattern bytes; 3 int arrays + the open-addressing goto table), so
   * 8 MB of patterns bounds the per-task object near a few hundred MB
   * even with zero prefix sharing. Dictionaries above this compile as
   * ceil(total / budget) automata over hash-sharded patterns — one
   * corpus scan each, O(K·len) total, still ≪ the contains-join's
   * O(len·patterns). */
  val MaxAutomatonBytes: Long = 8L << 20

  /** Hard cap on the TOTAL snippet dictionary (UTF-8 pattern bytes).
   * Sharding bounds each automaton, but every shard is still one full
   * corpus scan and every pattern still streams through the driver;
   * past ~256 MB (≈ 1.6×10⁷ 16-char tiles → 32 corpus scans) a
   * driver-compiled automaton is the wrong tool — that regime needs a
   * distributed matcher (shuffle join on tile hashes), so fail loudly
   * instead of grinding. */
  val MaxDictBytes: Long = 256L << 20

  /** Shared matcher core: dedupe the `(sn, bench_id)` snippet instances
   * to distinct strings with (occurrences, min bench id) stats, collect
   * them to the driver like the IVF centroid model, compile an
   * Aho–Corasick automaton, scan the corpus once, and map matched
   * pattern ids back through a tiny broadcast stats join — `n_hits`
   * counts every (doc, snippet-instance) pair, exactly like the r9
   * contains join did.
   *
   * Dictionary sizing is measured BEFORE anything is collected (one
   * tiny aggregate over the distinct-snippet relation): above
   * `maxDictBytes` the call fails loudly; above `maxAutomatonBytes` the
   * patterns hash-shard into K automata compiled and scanned one at a
   * time (each shard's per-doc partial is checkpointed so only one
   * automaton is ever alive), and the K doc-sized partials re-aggregate
   * exactly — every (doc, snippet) match lands in exactly one shard, so
   * sum/min over shards equals the single-automaton answer. */
  /** In-JVM compiled-dictionary memo for the WIRED decon queries (the
   * loadOrFitCentroids / vocab / FixtureCache precedent applied to the
   * snippet dictionary): the benchmark-side derivation + sizing +
   * per-shard collect cost three driver-visible jobs PER PASS (~0.9 s
   * of decon_exact_substring's 1.30 s at sf0.1 — the corpus scan alone
   * is 0.39 s), while in production the dictionary compiles once per
   * eval suite and amortizes over the whole corpus. Keyed on a content
   * stamp of the source corpus + the recipe, so a regenerated fixture
   * re-derives instead of reusing stale bytes; the derivation is
   * deterministic (sorted patterns), so HIT and MISS are bit-identical.
   * Bounded: dictionaries above [[DictMemoMaxBytes]] are never stored
   * (the memo must not pin a near-cap dictionary in driver memory). */
  private val dictMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, IndexedSeq[Array[(String, Long, Long)]])]()
  private[operators] val DictMemoMaxBytes: Long = 32L << 20

  /** Broadcast-automaton memo for the SINGLE-SHARD cached path: the
   * compiled automaton is immutable and the broadcast survives the
   * session, so later passes reuse one executor-resident copy instead
   * of rebuilding + re-broadcasting per pass. Keyed per application —
   * a restarted context rebuilds. The SHARDED path never lands here:
   * it destroys each broadcast after its scan by design (one automaton
   * alive at a time). */
  private val acMemo = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.broadcast.Broadcast[graft.functions.AhoCorasick]]()

  /** Cold-cost instrumentation (r22, VERDICT #4): drop the collected
   * dictionaries and destroy the memoized automaton broadcasts so the
   * next decon pass re-derives, re-collects, re-compiles and
   * re-broadcasts — `QueryTime --cold` calls this before each timed
   * run to keep the amortized decon numbers honest. */
  def clearDictMemo(): Unit = {
    dictMemo.clear()
    acMemo.values().forEach(b =>
      try b.destroy() catch { case _: Throwable => () })
    acMemo.clear()
  }

  private def matchSnippets(candidates: DataFrame, snippets: DataFrame,
      maxAutomatonBytes: Long, maxDictBytes: Long,
      dictCacheKey: Option[String] = None): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    val cached = dictCacheKey.flatMap(k => Option(dictMemo.get(k)))
    cached.orElse(dictCacheKey.map(_ => ())).foreach { _ =>
      logger.info(s"[graft-acdict] dictionary memo " +
        s"${if (cached.isDefined) "HIT" else "MISS"} ${dictCacheKey.get}")
    }
    val (totalBytes, allShardStats): (Long, IndexedSeq[Array[(String, Long, Long)]]) =
      cached.getOrElse {
    // materialized once: the sizing aggregate and every shard collect
    // re-read this relation, and common subtrees are not deduped — each
    // consumer would otherwise re-run the benchmark-side snippet
    // explode from source. Dictionary-sized (distinct snippets), the
    // same data the driver collects anyway.
    val snStats = snippets
      .groupBy("sn")
      .agg(count(lit(1)).as("cnt"), min("bench_id").as("min_bench_id"))
      .localCheckpoint()
    val sizing = snStats.agg(
      coalesce(sum(octet_length(col("sn"))), lit(0L)).as("bytes"),
      count(lit(1)).as("n")).head()
    val (totalBytes, nPatterns) = (sizing.getLong(0), sizing.getLong(1))
    require(totalBytes <= maxDictBytes,
      s"exact-substring snippet dictionary is $totalBytes pattern bytes " +
        s"($nPatterns distinct snippets), above the driver-compiled " +
        s"bound of $maxDictBytes bytes: a benchmark suite at this scale " +
        "needs a distributed matcher, not a collected automaton")
    val numShards =
      math.max(1, math.ceil(totalBytes.toDouble / maxAutomatonBytes).toInt)
    val collected: IndexedSeq[Array[(String, Long, Long)]] =
      (0 until numShards).map { shard =>
        // sorted for a deterministic shard-local pattern numbering
        // (driver-sized by the same argument as the shingle set)
        (if (numShards == 1) snStats
          else snStats.filter(
            pmod(xxhash64(col("sn")), lit(numShards.toLong)) === shard))
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .sortBy(_._1)
      }
    dictCacheKey.foreach { k =>
      if (totalBytes <= DictMemoMaxBytes)
        dictMemo.put(k, (totalBytes, collected)): Unit
    }
    (totalBytes, collected)
      }
    totalBytes: Unit // sizing retained in the memo for cap re-checks
    val partials = allShardStats.flatMap { shardStats =>
      if (shardStats.isEmpty) None else Some {
        // broadcast, not a task-binary reference object: one automaton
        // copy per executor JVM (see AcFindAll scaladoc)
        def buildAc() = spark.sparkContext.broadcast(graft.functions.AhoCorasick.build(
          shardStats.map(_._1.getBytes(java.nio.charset.StandardCharsets.UTF_8))))
        val ac = dictCacheKey match {
          case Some(k) if allShardStats.size == 1 &&
              totalBytes <= DictMemoMaxBytes =>
            acMemo.computeIfAbsent(
              s"${spark.sparkContext.applicationId}-$k", _ => buildAc())
          case _ => buildAc()
        }
        val stats = shardStats.zipWithIndex
          .map { case ((_, cnt, minId), pid) => (pid, cnt, minId) }.toSeq
          .toDF("pid", "cnt", "min_bench_id")
        val matched = spread(candidates).select(col("doc_id"),
            explode(graft.functions.AcFunctions.ac_find_all(col("text"), ac)).as("pid"))
          .join(broadcast(stats), Seq("pid"))
          .groupBy("doc_id")
          .agg(sum("cnt").as("n_hits"), min("min_bench_id").as("first_bench_id"))
        // sharded: run each scan eagerly and destroy its broadcast so at
        // most ONE automaton is alive at a time (the checkpointed
        // partial is per-doc-sized, text-free); single-shard keeps the
        // lazy one-plan shape it always had
        if (allShardStats.size == 1) matched
        else {
          val partial = matched.localCheckpoint()
          ac.destroy()
          partial
        }
      }
    }
    if (partials.sizeIs <= 1) partials.headOption.getOrElse {
      // zero patterns: empty dictionary matches nothing, with the schema
      // the aggregation would have produced
      spark.emptyDataset[(Long, Long, Long)]
        .toDF("doc_id", "n_hits", "first_bench_id")
    }
    else partials.reduce(_ unionByName _)
      .groupBy("doc_id")
      .agg(sum("n_hits").as("n_hits"), min("first_bench_id").as("first_bench_id"))
  }

  /** Wired exact-decon query: same benchmark split as
   * [[deconNgramOverlap]] (`doc_id % 50 == 0` stands in for the eval
   * suite); candidates exclude the benchmark so a doc never matches
   * its own snippet. */
  def deconExactSubstring(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select("doc_id", "text")
    exactContamination(
      d.filter(col("doc_id") % 50 =!= 0),
      d.filter(col("doc_id") % 50 === 0),
      dictCacheKey = Some(deconDictKey(dir, "exactsub-L16")))
  }

  /** Wired tiled-window exact decon: same benchmark split, every 16-char
   * tile of every benchmark doc in the dictionary. */
  def deconExactTiled(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select("doc_id", "text")
    exactContaminationTiled(
      d.filter(col("doc_id") % 50 =!= 0),
      d.filter(col("doc_id") % 50 === 0),
      dictCacheKey = Some(deconDictKey(dir, "exacttiled-L16")))
  }

  /** Memo key for the wired decon dictionaries: content stamp of the
   * source corpus (path+size+mtime digest — a regenerated fixture
   * changes the key) + the snippet recipe. */
  private def deconDictKey(dir: String, recipe: String): String =
    s"${FixtureCache.dirStamp(s"$dir/documents.parquet")}-$recipe"

  // ------------------------------------------------------- semantic decon

  /** Demo threshold: the synthetic corpus plants no cross-split
   * semantic dups, so 0.3 flags the label-cluster structure (48 rows
   * at sf0.01, max cross-split cosine ≈ 0.45) — the mechanism, not a
   * production calibration (deployments run ~0.8 against genuinely
   * contaminated corpora). */
  val SemDeconTau = 0.3

  /**
   * Semantic decontamination — the embedding-space complement of the
   * n-gram/substring decon ops: flag corpus documents whose embedding
   * is close to ANY benchmark document's (paraphrased or translated
   * benchmark leakage that no lexical overlap catches). Statistic =
   * max cosine over the benchmark set; output = flagged docs with
   * their nearest benchmark id.
   *
   * Scale shape: the benchmark embedding matrix is a driver MODEL
   * (benchmarks are small by definition — the decon dictionary
   * argument), riding into codegen as ONE reference-object slot via
   * the [[graft.functions.VectorExpressions.CentroidAssign]] kernel —
   * the corpus scan computes its nearest benchmark row-locally
   * (O(B·dim) per row, no join, no candidate materialization), and
   * only FLAGGED rows reach the one broadcast join that re-attaches
   * the winning benchmark vector for the exact cosine emit. The
   * corpus never shuffles; a benchmark too large for one matrix takes
   * the decon automaton's hash-shard recipe.
   */
  def semanticDecon(corpus: DataFrame, bench: DataFrame, tau: Double): DataFrame = {
    import graft.functions.VectorFunctions._
    val benchRows = bench.select(col("vec_id"), col("embedding"))
      .collect().sortBy(_.getLong(0))
    require(benchRows.nonEmpty, "semantic decon needs a non-empty benchmark")
    val cids = benchRows.map { r =>
      val id = r.getLong(0)
      require(id >= 0 && id <= Int.MaxValue, s"bench id $id overflows the kernel's int cid")
      id.toInt
    }
    val matrix = benchRows.map(_.getSeq[Float](1).toArray)
    val benchSlim = bench.select(col("vec_id").as("bench_id"),
      col("embedding").as("bench_emb"))
    corpus
      .withColumn("bench_id",
        centroid_assign(col("embedding"), matrix, cids).cast("bigint"))
      .join(broadcast(benchSlim), Seq("bench_id"))
      .withColumn("cos", cosine_sim(col("embedding"), col("bench_emb")))
      .filter(col("cos") >= tau)
      .select(col("vec_id"), col("bench_id"), round(col("cos"), 6).as("cos"))
  }

  /** Wired semantic decon: benchmark = the `vec_id % 50 = 0` slice of
   * the embeddings table (the text decon ops' split convention). */
  def deconSemantic(spark: SparkSession, dir: String): DataFrame = {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    semanticDecon(
      e.filter(col("vec_id") % 50 =!= 0),
      e.filter(col("vec_id") % 50 === 0),
      SemDeconTau)
  }

  // --------------------------------------------------------------- tf-idf

  /**
   * TF-IDF top terms: the `k` most characteristic whitespace tokens per
   * document, scored `tf · ln(N / df)` with ties broken by term. The
   * document-frequency table is vocabulary-sized — broadcast — so the
   * only corpus-sized shuffle is the (doc, term) partial-aggregated
   * count; the final per-doc top-k is again a window the optimizer
   * executes as a group-limit (partial top-k per task). N is computed
   * once as a scalar aggregate and inlined as a literal (an 8-byte
   * driver value, same pattern as the IVF centroids).
   *
   * `tf` feeds BOTH the document-frequency aggregate and the join probe
   * — without materialization the whole explode+count subtree (a full
   * corpus tokenize) executes twice, since Spark does not dedupe common
   * subtrees. It is localCheckpointed (the q15 VIEW pattern): the
   * materialized relation is (doc, term, tf) — vocabulary-of-docs
   * sized, text already dropped — so one corpus pass serves both
   * consumers.
   */
  def tfidfTopK(d: DataFrame, k: Int): DataFrame = {
    val tf = spread(d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    tfidfFromTf(tf, d.count(), k)
  }

  /** The scoring core over an already-built `(doc_id, term, tf)`
   * relation — shared by [[tfidfTopK]] (ad-hoc corpus, checkpointed tf)
   * and [[textTfidfTopk]] (persisted gram-counts table). */
  private def tfidfFromTf(tf: DataFrame, n: Long, k: Int): DataFrame = {
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val score = col("tf") * log(lit(n.toDouble) / col("df"))
    val w = Window.partitionBy("doc_id").orderBy(score.desc, col("term"))
    tf.join(broadcast(df_), Seq("term"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tf"),
        round(score, 6).as("tfidf"), col("rank").cast("bigint").as("rank"))
  }

  /** Top-3 TF-IDF terms per document of the testdata corpus. r11: the
   * `(doc, term, tf)` input is the k = 1 slice of the persisted
   * [[TextAnalysis.gramCounts]] corpus-statistics table, so this query
   * and text_repetition share ONE tokenize pass per corpus snapshot
   * (zero on cache hit) instead of one each — same rows, since the
   * table is built by the identical tokens kernel and aggregate. */
  def textTfidfTopk(spark: SparkSession, dir: String): DataFrame =
    tfidfFromTf(
      TextAnalysis.gramCounts(spark, dir).filter(col("k") === 1)
        .select(col("doc_id"), col("g").as("term"), col("cnt").as("tf")),
      docs(spark, dir).count(), 3)

  // ----------------------------------------------------------------- dsir

  /** Hashed-feature space for DSIR: 16 buckets vs the testdata's ~31
   * distinct tokens FORCES collisions (pigeonhole — the CMS-geometry
   * argument), so the hashed-n-gram reduction is genuinely exercised;
   * a deployment uses 10⁴-10⁵ buckets, and the model stays
   * `buckets × 8` bytes either way. Power of two, so the bucket index
   * is the hash's low bits — identical under signed (Spark `& 15`) and
   * unsigned (DuckDB `% 16`) views of the same 64-bit value. */
  val DsirBuckets = 16

  /**
   * Data Selection via Importance Resampling (DSIR; Xie et al. 2023,
   * arXiv:2302.03169) in its exactly-reproducible hashed-unigram form:
   * fit bag-of-hashed-feature unigram models on a TARGET corpus (the
   * distribution you want more of — a curated source, a domain) and on
   * the RAW pool, and score every document by its importance log-weight
   * `Σ_tokens [ln p_target(bucket) − ln p_raw(bucket)]` (Laplace
   * +1-smoothed). High scores read "target-like"; resampling
   * proportionally to the weight is then [[weightedBernoulli]] /
   * [[stratifiedBySource]] on the scored output.
   *
   * `tf` is a per-document term-count relation `(doc_id, term, cnt)`;
   * `target` maps `doc_id -> is_target` (the target corpus is a subset
   * of the pool here, as in within-corpus selection; an external
   * target corpus just unions in with `is_target = true`).
   *
   * Scale shape: terms collapse to `buckets` cells per document BEFORE
   * anything joins or aggregates globally — the per-doc bucket relation
   * is ≤ `buckets` rows per document — and the fitted model is
   * `buckets` longs collected to the driver (the IVF-quantizer
   * pattern), re-attached as a literal array indexed row-locally. The
   * only exchanges are one join with the slim `(doc_id, is_target)`
   * relation keyed by doc_id and two id-keyed aggregates; text never
   * moves (the wired query's tf comes from the persisted gram-counts
   * table, so the corpus is tokenized ZERO times on a snapshot hit).
   */
  def dsirScore(tf: DataFrame, target: DataFrame, buckets: Int): DataFrame = {
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two: $buckets")
    // both the model fit (collect) and the scoring pass consume `db`,
    // and common subtrees are not deduped — unmaterialized, the tf
    // relation would be re-read and re-aggregated twice (r21: measured
    // ~35% of the wired query). ≤ `buckets` rows per document, so the
    // checkpoint is slim by construction.
    val db = tf
      .withColumn("bucket", graft.functions.CmsFunctions.hash64(col("term"))
        .bitwiseAND(lit(buckets - 1L)))
      .groupBy("doc_id", "bucket").agg(sum("cnt").as("cnt"))
      .localCheckpoint(eager = false)
    val fit = db.join(target, Seq("doc_id"))
      .groupBy("bucket").agg(
        sum("cnt").as("raw"),
        sum(when(col("is_target"), col("cnt")).otherwise(0L)).as("tgt"))
      .collect()
    val raw = new Array[Long](buckets)
    val tgt = new Array[Long](buckets)
    fit.foreach { r =>
      val b = r.getLong(0).toInt; raw(b) = r.getLong(1); tgt(b) = r.getLong(2)
    }
    val rawTot = raw.sum.toDouble
    val tgtTot = tgt.sum.toDouble
    val lam = (0 until buckets).map { b =>
      math.log((tgt(b) + 1.0) / (tgtTot + buckets)) -
        math.log((raw(b) + 1.0) / (rawTot + buckets))
    }
    db.withColumn("lam",
        element_at(typedLit(lam), col("bucket").cast("int") + 1))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_tokens"), sum(col("cnt") * col("lam")).as("s"))
      .select(col("doc_id"), col("n_tokens").cast("bigint").as("n_tokens"),
        round(col("s"), 6).as("dsir_logw"),
        (col("s") > 0).as("target_like"))
  }

  /** Wired DSIR: target = the `src0` slice of the corpus (the "I want
   * more like this source" selection run), tf = the k = 1 slice of the
   * persisted [[TextAnalysis.gramCounts]] table (third consumer of the
   * one-tokenize-pass-per-snapshot statistics table, after
   * text_repetition and text_tfidf_topk). */
  def curateDsir(spark: SparkSession, dir: String): DataFrame =
    dsirScore(
      TextAnalysis.gramCounts(spark, dir).filter(col("k") === 1)
        .select(col("doc_id"), col("g").as("term"), col("cnt")),
      docs(spark, dir)
        .select(col("doc_id"), (col("source") === "src0").as("is_target")),
      DsirBuckets)

  // ------------------------------------------------------ composed pipeline

  /**
   * The composed curation chain a real pretraining-data run executes,
   * end-to-end in ONE declarative plan: quality gate → exact dedup
   * (keep-first) → benchmark decontamination → weighted mixing sample.
   * Every stage is the already-oracle-proven operator (text_quality's
   * predicate, dedup_exact_keep_first's digest window,
   * decon_ngram_overlap's shingle overlap at a ≥50% threshold —
   * compared cross-multiplied in integers — and sample_weighted's
   * source rates), so the oracle is their SQL composition and any
   * stage regression turns this row red.
   *
   * Scale shape: one spread scan evaluates the tokenizer/punct kernels
   * once and immediately DROPS `text` — the dedup window shuffles
   * (digest, id, 3 metadata cols), never document bodies. The
   * decontamination branch re-scans only for shingling (its own spread,
   * kernel-hashed, benchmark side broadcast) and joins back as a
   * doc_id ANTI join; the mixing sample is a codegen'd pure-hash
   * filter. Nothing corpus-sized is ever broadcast, collected, or
   * shuffled with its payload.
   */
  def pipelineCurate(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val nChars = length(col("text"))
    val nToks = size(tokens(col("text")))
    val punct = nChars - length(regexp_replace(col("text"), "[.,!?;:]", ""))
    // quality gate AT THE SCAN (Catalyst would push it below the spread
    // anyway — and pre-shuffle filtering is exactly what you want at
    // 100 TB; written in plan order so the code matches the audit),
    // then drop the body — downstream stages ride on the digest and
    // metadata only. Codegen CSE collapses between()'s two tokenizer
    // copies inside the filter stage.
    curateChain(spark, dir, spread(
      d.filter(nToks.between(20, 100000) && punct.cast("double") / nChars < 0.1)))
  }

  /**
   * [[pipelineCurate]] with the heuristic gate swapped for the TRAINED
   * classifier (r15 verdict #5): the chain's first stage is now
   * `quality_score(tokens(text), fittedWeights) > 0` — the same cached
   * model `text_quality_model` verifies, its weights riding into the
   * scan as one reference object, the dot+sigmoid a codegen'd kernel
   * predicate evaluated BEFORE the body is dropped. Same plan shape as
   * the heuristic chain (gate at the scan, digest-only shuffles), so
   * scoring-vs-heuristics is purely a per-row flop difference — the
   * production claim that upgrading the gate to a learned model is
   * free at 100 TB. Oracle: the staged chain SQL with the gate CTE
   * swapped for the NB block's `sv > 0`.
   */
  def pipelineCurateModel(spark: SparkSession, dir: String): DataFrame = {
    val model = TextAnalysis.qualityModel(spark, dir)
    val d = docs(spark, dir)
    curateChain(spark, dir, spread(
      d.filter(graft.functions.QualityScoreFunctions
        .quality_score(tokens(col("text")), model) > 0)))
  }

  /** The shared post-gate chain: exact dedup (keep-first digest
   * window) → benchmark decontamination (persisted shingle table,
   * doc_id ANTI join) → weighted mixing sample. `q` is the gated
   * corpus WITH text (digested here, then dropped — downstream stages
   * ride on digest + metadata only). */
  private def curateChain(spark: SparkSession, dir: String,
      gated: DataFrame): DataFrame = {
    val q = gated.select(col("doc_id"), md5(col("text")).as("fp"),
      col("lang"), col("source"), col("n_chars"))
    val w = Window.partitionBy("fp")
    val deduped = q.withColumn("keep_id", min("doc_id").over(w))
      .filter(col("doc_id") === col("keep_id"))
    // decon branch reads the persisted shingle table (r11) — the chain
    // no longer re-hashes the corpus the quality/dedup stages just
    // scanned; same flagged set, the kernel is deterministic
    val contaminated = contaminationFromTable(shingleHashTable(spark, dir),
        col("doc_id") % 50 === 0, col("doc_id") % 50 =!= 0)
      .filter(col("n_contaminated") * 2 >= col("n_shingles"))
      .select("doc_id")
    val clean = deduped
      .filter(col("doc_id") % 50 =!= 0) // the benchmark itself never trains
      .join(contaminated, Seq("doc_id"), "left_anti")
    weightedBernoulli(clean, col("doc_id"), col("source"),
      Map("src0" -> 100, "src1" -> 50, "src2" -> 25), defaultPct = 10)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  /** [[pipelineCurate]] closed through the WRITE path (the r10
   * verdict's layout loop): the curated output is Z-order-clustered on
   * (doc_id, n_chars) — [[Layout.clusterByZOrder]], the columns later
   * point/range probes filter on — written to parquet, and read BACK
   * with the Morton layout key attached per surviving doc. The oracle
   * re-derives the whole curation chain AND the bit interleave in
   * DuckDB, so a row lost, duplicated, or mutated anywhere in the
   * clustered write round-trip turns the hash red. File-level pruning
   * on this exact written layout is recorded in BASELINE.md regime
   * `curation` (curated-output probe). The write is tmpfs IO, so the query is
   * benchExcluded like the CSV round-trip. */
  def pipelineCurateLayout(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-curated-z").toString
    Layout.clusterByZOrder(pipelineCurate(spark, dir), 8,
      col("doc_id"), col("n_chars"))
      .write.mode("overwrite").parquet(tmp)
    // eager checkpoint so the round-trip files can be deleted before
    // the caller consumes the result (the recon_classify_csv pattern)
    val out = spark.read.parquet(tmp)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        graft.functions.LayoutFunctions.morton2(col("doc_id"), col("n_chars"))
          .as("zvalue"))
      .localCheckpoint()
    deleteRecursively(new java.io.File(tmp))
    out
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sample_bernoulli" -> sampleBernoulli,
    "sample_stratified" -> sampleStratified,
    "sample_weighted" -> sampleWeighted,
    "sample_epochs" -> sampleEpochs,
    "sample_token_budget" -> sampleTokenBudget,
    "sample_token_budget_subword" -> sampleTokenBudgetSubword,
    "sample_split" -> sampleSplit,
    "chunk_documents" -> chunkDocuments,
    "chunk_documents_subword" -> chunkDocumentsSubword,
    "decon_ngram_overlap" -> deconNgramOverlap,
    "decon_exact_substring" -> deconExactSubstring,
    "decon_exact_tiled" -> deconExactTiled,
    "decon_semantic" -> deconSemantic,
    "text_tfidf_topk" -> textTfidfTopk,
    "curate_dsir" -> curateDsir,
    "pipeline_curate" -> pipelineCurate,
    "pipeline_curate_model" -> pipelineCurateModel,
    "pipeline_curate_layout" -> pipelineCurateLayout)

  // positive-mod fold matching mix32's pmod (DuckDB % is sign-preserving)
  private[operators] val Mix32Sql =
    s"((((doc_id % $PreMod) * $KnuthA) % 4294967296) + 4294967296) % 4294967296"

  val oracleSql: Map[String, String] = Map(
    "sample_bernoulli" ->
      s"""SELECT doc_id, lang, source, n_chars FROM documents
          WHERE ($Mix32Sql) % 100 < 10""",
    "sample_stratified" ->
      s"""SELECT doc_id, lang, CAST(rk AS BIGINT) AS sample_rank FROM (
            SELECT doc_id, lang, row_number() OVER (
              PARTITION BY lang ORDER BY $Mix32Sql, doc_id) AS rk
            FROM documents)
          WHERE rk <= 20""",
    "sample_weighted" ->
      s"""SELECT doc_id, source, lang FROM documents
          WHERE ($Mix32Sql) % 100 <
            CASE source WHEN 'src0' THEN 100 WHEN 'src1' THEN 50
                        WHEN 'src2' THEN 25 ELSE 10 END""",
    "sample_split" ->
      s"""SELECT doc_id, source,
            CASE WHEN ($Mix32Sql) % 100 < 90 THEN 'train'
                 WHEN ($Mix32Sql) % 100 < 95 THEN 'val'
                 ELSE 'test' END AS split
          FROM documents""",
    // fractional-epoch upsampling: full copies + the hash-admitted
    // fractional copy, copy indices exact
    "sample_epochs" ->
      s"""WITH d AS (SELECT doc_id, source,
            CASE source WHEN 'src0' THEN 250 WHEN 'src1' THEN 120
                        WHEN 'src2' THEN 80 ELSE 100 END AS pct
          FROM documents),
          k AS (SELECT doc_id, source,
            pct // 100 + CASE WHEN ($Mix32Sql) % 100 < pct % 100
                              THEN 1 ELSE 0 END AS n
          FROM d)
          SELECT doc_id, source, unnest(range(0, n)) AS copy_idx
          FROM k WHERE n > 0""",
    "sample_token_budget" ->
      s"""WITH d AS (SELECT doc_id, source,
            CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
              t -> len(t) > 0)) AS BIGINT) AS n_tokens,
            ($Mix32Sql) AS mk FROM documents),
          c AS (SELECT doc_id, source, n_tokens,
            sum(n_tokens) OVER (PARTITION BY source ORDER BY mk, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS cum_tokens FROM d)
          SELECT doc_id, source, n_tokens,
            CAST(cum_tokens AS BIGINT) AS cum_tokens FROM c
          WHERE cum_tokens <=
            CASE source WHEN 'src0' THEN 800 WHEN 'src1' THEN 400
                        WHEN 'src2' THEN 200 ELSE 100 END""",
    "sample_token_budget_subword" ->
      s"""WITH RECURSIVE ${TextAnalysis.subwordCtes()},
          dd AS (SELECT doc_id, source, ($Mix32Sql) AS mk FROM documents),
          d AS (SELECT dd.doc_id, dd.source,
            s.n_subword_tokens AS n_tokens, dd.mk
            FROM sw s JOIN dd ON dd.doc_id = s.doc_id),
          c AS (SELECT doc_id, source, n_tokens,
            sum(n_tokens) OVER (PARTITION BY source ORDER BY mk, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS cum_tokens FROM d)
          SELECT doc_id, source, n_tokens,
            CAST(cum_tokens AS BIGINT) AS cum_tokens FROM c
          WHERE cum_tokens <=
            CASE source WHEN 'src0' THEN 2000 WHEN 'src1' THEN 1000
                        WHEN 'src2' THEN 500 ELSE 250 END""",
    "chunk_documents" ->
      """WITH t AS (SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\s+'), t -> len(t) > 0)
             AS toks FROM documents),
         s AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
         c AS (SELECT doc_id, n, toks,
           unnest(range(0, ((n - 1) // 24) + 1)) AS chunk_id FROM s)
         SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(len(toks[chunk_id*24 + 1 : least(chunk_id*24 + 32, n)])
             AS BIGINT) AS n_tokens,
           array_to_string(toks[chunk_id*24 + 1 : least(chunk_id*24 + 32, n)],
             ' ') AS chunk_text
         FROM c""",
    "chunk_documents_subword" ->
      s"""WITH RECURSIVE ${TextAnalysis.subwordCtes()},
         ct AS (SELECT doc_id, string_split(subword_text, ' ') AS toks
                FROM sw WHERE len(subword_text) > 0),
         cs AS (SELECT doc_id, toks, len(toks) AS n FROM ct),
         cc AS (SELECT doc_id, n, toks,
                  unnest(range(0, ((n - 1) // 24) + 1)) AS chunk_id FROM cs)
         SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(len(toks[chunk_id*24 + 1 : least(chunk_id*24 + 32, n)])
             AS BIGINT) AS n_tokens,
           array_to_string(toks[chunk_id*24 + 1 : least(chunk_id*24 + 32, n)],
             ' ') AS chunk_text
         FROM cc""",
    "curate_dsir" -> HashOracleSql.dsirScore(DsirBuckets),
    "decon_ngram_overlap" -> HashOracleSql.deconOverlap,
    "decon_exact_substring" ->
      """WITH snip AS (
           SELECT doc_id AS bench_id, substr(text, 1, 16) AS sn
           FROM documents WHERE doc_id % 50 = 0 AND len(text) >= 32)
         SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_hits,
           min(s.bench_id) AS first_bench_id
         FROM documents c JOIN snip s ON position(s.sn IN c.text) > 0
         WHERE c.doc_id % 50 <> 0
         GROUP BY c.doc_id""",
    "decon_exact_tiled" ->
      """WITH snip AS (
           SELECT doc_id AS bench_id,
             unnest(list_transform(range(1, len(text) - 14, 16),
               s -> substr(text, CAST(s AS INTEGER), 16))) AS sn
           FROM documents WHERE doc_id % 50 = 0 AND len(text) >= 32)
         SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_hits,
           min(s.bench_id) AS first_bench_id
         FROM documents c JOIN snip s ON position(s.sn IN c.text) > 0
         WHERE c.doc_id % 50 <> 0
         GROUP BY c.doc_id""",
    // float→double casts are exact and both engines fold the dot
    // product in dimension order, so the cosine doubles agree before
    // rounding (the dedup_embedding precedent); argmax ties break to
    // the lowest bench id in both (kernel cid order / ORDER BY bench_id)
    "decon_semantic" ->
      s"""WITH b AS (SELECT vec_id AS bench_id,
            CAST(embedding AS DOUBLE[]) AS be
          FROM embeddings WHERE vec_id % 50 = 0),
          c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
          FROM embeddings WHERE vec_id % 50 <> 0),
          s AS (SELECT vec_id, bench_id,
            list_cosine_similarity(ce, be) AS cos,
            row_number() OVER (PARTITION BY vec_id
              ORDER BY list_cosine_similarity(ce, be) DESC, bench_id) AS rk
          FROM c, b)
          SELECT vec_id, bench_id, round(cos, 6) AS cos
          FROM s WHERE rk = 1 AND cos >= $SemDeconTau""",
    "pipeline_curate" -> HashOracleSql.pipelineCurate(Mix32Sql),
    "pipeline_curate_model" -> HashOracleSql.pipelineCurateModel(Mix32Sql,
      TextAnalysis.QualityBuckets),
    // the curated rows again, surviving the Z-order write round-trip,
    // each with its Morton layout key (the q_zorder_values bit fold;
    // same <2^31 input assumption as documented at Layout.oracleSql —
    // the i=31 odd term's <<63 goes through HUGEINT in DuckDB but wraps
    // into the sign bit in Scala, identical only below 2^31)
    "pipeline_curate_layout" ->
      s"""WITH _cur AS (${HashOracleSql.pipelineCurate(Mix32Sql)})
          SELECT doc_id, lang, source, n_chars,
            CAST(list_sum(list_transform(range(0, 32),
              i -> (((doc_id >> i) & 1) << (2 * i))
                 + (((n_chars >> i) & 1) << (2 * i + 1)))) AS BIGINT)
              AS zvalue
          FROM _cur""",
    "text_tfidf_topk" ->
      """WITH tk AS (
           SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(text, '\s+'),
                                t -> len(t) > 0)) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
         df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n FROM documents),
         s AS (SELECT doc_id, term, tf,
                 tf * ln(n.n / CAST(df.df AS DOUBLE)) AS score,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY tf * ln(n.n / CAST(df.df AS DOUBLE)) DESC, term) AS rk
               FROM tf JOIN df USING (term), n)
         SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
           round(score, 6) AS tfidf, CAST(rk AS BIGINT) AS rank
         FROM s WHERE rk <= 3""")
}
