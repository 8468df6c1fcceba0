package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Behavior tests for the curation operators on planted fixtures (the
 * oracle layer separately checks the wired queries against DuckDB). */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  private val words =
    "the quick brown fox jumps over a lazy dog near the river bank and beyond".split(" ")
  private def doc(seed: Int, n: Int = 60): String = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map(_ => words(rnd.nextInt(words.length))).mkString(" ")
  }

  test("bernoulli sampling is a pure function of the key (partitioning-invariant)") {
    val d = spark.range(0, 5000).toDF("doc_id")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      Curation.bernoulli(df, col("doc_id"), 10)
        .collect().map(_.getLong(0)).toSet
    val a = ids(d)
    val b = ids(d.repartition(7))
    assert(a == b)
    // the rate is approximate but the mix spreads it near 10%
    assert(a.size > 350 && a.size < 650, s"got ${a.size} of 5000")
  }

  test("train/val/test split is key-pure, covering, and append-stable") {
    val d = spark.range(0, 4000).toDF("doc_id")
    def splits(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      Curation.splitAssign(df, col("doc_id"), 90, 5)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val a = splits(d)
    // every row in exactly one split; proportions near 90/5/5
    assert(a.size === 4000)
    val byLabel = a.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(byLabel.keySet === Set("train", "val", "test"))
    assert(byLabel("train") > 3400 && byLabel("val") > 100 && byLabel("test") > 100)
    // partitioning-invariant
    assert(splits(d.repartition(7)) === a)
    // append-stable: the original rows keep their assignment when the
    // corpus grows (no dependence on global state)
    val grown = splits(spark.range(0, 8000).toDF("doc_id"))
    assert(a.forall { case (k, v) => grown(k) == v })
    // degenerate percentages rejected
    intercept[IllegalArgumentException] {
      Curation.splitAssign(d, col("doc_id"), 95, 5)
    }
  }

  test("token budget keeps the greedy hash-order prefix per source, strictly") {
    val d = (0L until 200L).map(i => (i, s"src${i % 3}", 10L + i % 7))
      .toDF("doc_id", "source", "nt")
    val out = Curation.tokenBudget(d, col("doc_id"), col("source"), col("nt"),
      Map("src0" -> 120L, "src1" -> 60L), defaultBudget = 35L)
      .select("doc_id", "source", "cum_tokens")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // strict: no source exceeds its budget
    val maxCum = out.groupBy(_._2).view.mapValues(_.map(_._3).max).toMap
    assert(maxCum("src0") <= 120L && maxCum("src1") <= 60L && maxCum("src2") <= 35L)
    // greedy prefix: recompute the expected pick in plain Scala — the
    // window keeps accumulating past a dropped doc (cum includes it),
    // so expected membership = rows whose RUNNING total (incl. all
    // prior in hash order) fits
    def mix32(id: Long) = Math.floorMod((id % 3037000493L) * 2654435761L, 4294967296L)
    val expect2 = (0L until 200L).map(i => (i, s"src${i % 3}", 10L + i % 7))
      .groupBy(_._2).flatMap { case (src, rows) =>
        val budget = Map("src0" -> 120L, "src1" -> 60L).getOrElse(src, 35L)
        var cum = 0L
        rows.sortBy(r => (mix32(r._1), r._1)).map { r =>
          cum += r._3; (r._1, src, cum)
        }.filter(_._3 <= budget)
      }.toSet
    assert(out.toSet == expect2, s"got ${out.toSet}\nexpected $expect2")
    // determinism across partitionings
    val out7 = Curation.tokenBudget(d.repartition(7), col("doc_id"),
      col("source"), col("nt"), Map("src0" -> 120L, "src1" -> 60L), 35L)
      .select("doc_id", "source", "cum_tokens")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(out7 == out.toSet)
  }

  test("weighted sampling applies per-stratum rates; rate 100 keeps all") {
    val d = spark.range(0, 3000).toDF("doc_id")
      .withColumn("src", concat(lit("s"), (col("doc_id") % 3).cast("string")))
    val kept = Curation.weightedBernoulli(d, col("doc_id"), col("src"),
        Map("s0" -> 100, "s1" -> 50), defaultPct = 0)
      .groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("s0") == 1000L)           // rate 100: every row survives
    assert(kept("s1") > 350 && kept("s1") < 650) // ~50%
    assert(!kept.contains("s2"))          // default 0: none survive
  }

  test("stratified sampling returns exactly k per stratum, deterministically") {
    val d = spark.range(0, 300).toDF("doc_id")
      .withColumn("stratum", (col("doc_id") % 3).cast("string"))
    def sample(df: org.apache.spark.sql.DataFrame): Seq[(String, Long)] =
      Curation.stratified(df, col("stratum"), col("doc_id"), 7)
        .select("stratum", "doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    val a = sample(d)
    val b = sample(d.repartition(5))
    assert(a == b)
    assert(a.groupBy(_._1).view.mapValues(_.size).toMap ==
      Map("0" -> 7, "1" -> 7, "2" -> 7))
  }

  test("chunking covers every token: stride-heads reconstruct the document") {
    // docs sized to hit all window regimes: shorter than one window (n=5),
    // exact multiple of stride (n=48), mid-window tail (n=60, 70)
    val df = Seq(5, 48, 60, 70).zipWithIndex
      .map { case (n, i) => (i.toLong, doc(100 + i, n)) }.toDF("doc_id", "text")
    val out = Curation.chunk(df, col("doc_id"), col("text")).collect()
      .groupBy(_.getLong(0))
    df.collect().foreach { r =>
      val toks = r.getString(1).split("\\s+").filter(_.nonEmpty).toSeq
      val chunks = out(r.getLong(0)).sortBy(_.getLong(1))
      // every stride offset < n starts a chunk; none beyond
      assert(chunks.length == (toks.length - 1) / Curation.ChunkStride + 1)
      // taking each chunk's first `stride` tokens (all of the last chunk)
      // reconstructs the document exactly — nothing lost, nothing invented
      val rebuilt = chunks.init.flatMap(
        _.getString(3).split(" ").take(Curation.ChunkStride)) ++
        chunks.last.getString(3).split(" ")
      assert(rebuilt.toSeq == toks, s"doc ${r.getLong(0)} reconstruction mismatch")
      // overlap: each non-final chunk carries size tokens unless the doc
      // ends first
      chunks.init.foreach(c => assert(
        c.getLong(2) == math.min(Curation.ChunkSize,
          toks.length - c.getLong(1) * Curation.ChunkStride)))
    }
  }

  test("contamination flags a planted benchmark copy, not unrelated docs") {
    // the `decon_ngram_overlap` path: doc_id % 50 == 0 is the benchmark
    // side (doc 100), every other doc a candidate
    val benchText = doc(1)
    // candidate 1: exact copy of the benchmark doc; candidate 2: copy
    // with one word changed (still heavily contaminated); candidate 3:
    // from a different vocabulary — zero shingle overlap
    val near = benchText.split(" ").updated(3, "XX").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft-decon").toString
    // the shingle table is cached by the corpus's content: resolve its
    // path after the corpus is written
    lazy val table = graft.sources.ModelCache.cachePath(s"$dir/documents.parquet",
      "shinglehashes-v1",
      sys.env.getOrElse("GRAFT_GRAMS_CACHE", "/tmp/graft-grams-cache"))
    def rm(x: java.io.File): Unit = {
      Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(): Unit
    }
    try {
      Seq((100L, benchText), (1L, benchText), (2L, near),
        (3L, Seq.fill(40)("zzz qqq vvv").mkString(" ")))
        .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
      val out = Curation.deconNgramOverlap(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
      assert(out(1L) == 1.0)
      assert(out(2L) > 0.8 && out(2L) < 1.0)
      assert(!out.contains(3L) && !out.contains(100L))
    } finally {
      rm(new java.io.File(table)); rm(new java.io.File(dir))
    }
  }

  test("exact-substring decon flags only verbatim snippet carriers") {
    val benchText = "The quick brown fox jumps over the lazy dog repeatedly."
    val bench = Seq((100L, benchText), (200L, "short")).toDF("doc_id", "text")
    val candidates = Seq(
      (0L, s"prefix noise $benchText and a suffix"), // contains the full text
      (1L, "The quick brown " + "unrelated continuation"), // 16-char prefix verbatim
      (2L, "the QUICK brown fox etc"), // case differs — exact match must miss
      (3L, "completely different content with no overlap at all")
    ).toDF("doc_id", "text")
    val out = Curation.exactContamination(candidates, bench)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(0L) == ((1L, 100L)) && out(1L) == ((1L, 100L)))
    assert(!out.contains(2L) && !out.contains(3L))
    // the under-length benchmark doc (200) contributes no snippet
    assert(out.values.forall(_._2 == 100L))
  }

  test("tiled exact decon flags a mid-document verbatim passage the prefix form misses") {
    // 64-char benchmark doc → 4 DISTINCT tiles of 16
    val benchText =
      "aaaabbbbccccdddd" + "eeeeffffgggghhhh" + "iiiijjjjkkkkllll" + "mmmmnnnnooooqqqq"
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")
    val midPassage = benchText.substring(16, 32) // the SECOND tile, verbatim
    val candidates = Seq(
      (0L, s"noise $midPassage trailing"), // carries a mid-doc tile only
      (1L, "nothing in common with the benchmark")).toDF("doc_id", "text")
    // prefix form: only the opening tile is a pattern → doc 0 missed
    val prefixOut = Curation.exactContamination(candidates, bench)
      .collect().map(_.getLong(0)).toSet
    assert(prefixOut === Set.empty[Long])
    // tiled form: every tile is a pattern → doc 0 flagged on one tile
    val tiled = Curation.exactContaminationTiled(candidates, bench)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(tiled === Map(0L -> ((1L, 100L))))
  }

  test("dictionary memo HIT reproduces the uncached decon result exactly") {
    // the r21 memo path: first call with a cache key derives + stores,
    // second call serves the memoized dictionary and shared broadcast
    // automaton; both must equal the key-less (always-derive) result.
    val dir = "/root/testdata/sf0.001"
    def d = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val uncached = rows(Curation.exactContamination(
      d.filter(col("doc_id") % 50 =!= 0), d.filter(col("doc_id") % 50 === 0)))
    val miss = rows(Curation.deconExactSubstring(spark, dir)) // fills the memo
    val hit = rows(Curation.deconExactSubstring(spark, dir))  // serves it
    assert(miss === uncached)
    assert(hit === uncached)
    val tiledUncached = rows(Curation.exactContaminationTiled(
      d.filter(col("doc_id") % 50 =!= 0), d.filter(col("doc_id") % 50 === 0)))
    assert(rows(Curation.deconExactTiled(spark, dir)) === tiledUncached)
    assert(rows(Curation.deconExactTiled(spark, dir)) === tiledUncached)
  }

  test("sharded automata reproduce the single-automaton decon result exactly") {
    // a benchmark big enough for several distinct tiles, candidates
    // carrying tiles from DIFFERENT shards of the dictionary
    // each bench doc = 4 exactly-16-char pieces, so the tiling yields
    // the pieces themselves as patterns
    val bench = (0 until 8).map { i =>
      (100L + i, (0 until 4).map(t => f"b$i%02dt$t%02d-payload00").mkString)
    }.toDF("doc_id", "text")
    val candidates = Seq(
      (0L, "xx b00t01-payload00 yy b05t02-payload00 zz"), // tiles of two bench docs
      (1L, "b07t03-payload00b07t03-payload00"),           // same tile twice
      (2L, "no benchmark content here at all")).toDF("doc_id", "text")
    def result(maxAutomatonBytes: Long) =
      Curation.exactContaminationTiled(candidates, bench,
          maxAutomatonBytes = maxAutomatonBytes)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val single = result(Long.MaxValue)
    // 32 distinct 16-byte tiles = 512 pattern bytes → 64-byte budget
    // forces 8 hash-sharded automata (8 corpus scans, re-aggregated)
    val sharded = result(64L)
    assert(single === sharded)
    assert(single.map(_._1) === Set(0L, 1L))
  }

  test("a dictionary above the hard byte cap fails loudly, not slowly") {
    val bench = Seq((100L, "aaaabbbbccccddddeeeeffffgggghhhh")).toDF("doc_id", "text")
    val candidates = Seq((0L, "whatever")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Curation.exactContaminationTiled(candidates, bench, maxDictBytes = 16L)
    }
    assert(e.getMessage.contains("above the driver-compiled bound"))
    assert(e.getMessage.contains("needs a distributed matcher"))
  }

  test("tf-idf ranks a document's distinctive term first; ubiquitous terms score 0") {
    // 'common' appears in every doc → idf = ln(1) = 0; each doc's unique
    // repeated term must outrank it
    val d = Seq(
      (0L, "apple apple apple common"),
      (1L, "banana banana common"),
      (2L, "cherry common")).toDF("doc_id", "text")
    val out = Curation.tfidfTopK(d, 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(4), r.getDouble(3)))
    val top = out.filter(_._3 == 1).map(t => t._1 -> t._2).toMap
    assert(top == Map(0L -> "apple", 1L -> "banana", 2L -> "cherry"))
    // every 'common' row scores exactly 0 (df = N)
    assert(out.filter(_._2 == "common").forall(_._4 == 0.0))
  }
}
