package graft.tools

import graft.MvSyncDemo
import graft.config.Settings
import graft.operators.SaltedJoin
import graft.reconcile.MvReconciler
import graft.report.StatsCollector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Scale smoke (builder-side tool): replicate the sf0.1 orders-derived
 * base/MV pair `factor`× with shifted keys (distinct key space, same
 * damage distribution) and run the full classify pipeline — evidence
 * that the single-shuffle reconcile plan holds when the key count grows
 * 40×, not just at the bench SF.
 *
 * With the `skew` flag, two additional experiments run:
 *
 *  1. Skewed-damage reconcile: one third of all keys collapse onto a
 *     single hot o_custkey. The reconcile join keys on the FULL MV PK
 *     (o_custkey, o_orderkey) — pairs stay unique — so hash
 *     partitioning spreads the hot customer across reducers and the
 *     classify time must stay flat vs the uniform run.
 *  2. Hot-key equi-join on o_custkey ALONE (the shape that genuinely
 *     skews: one reducer receives the hot customer's entire slice),
 *     three ways: plain shuffle join with AQE skew-split disabled
 *     (the pathological baseline), plain with AQE enabled (runtime
 *     re-plan splits the oversized partition), and [[SaltedJoin]]
 *     (the non-AQE escape hatch). Broadcast is disabled so the small
 *     side can't hide the skew.
 *
 * Usage: sbt "runMain graft.tools.ScaleSmoke [factor] [skew]"
 */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    // factor is optional AND positional-flexible: `ScaleSmoke skew` must
    // not NumberFormatException on the flag word
    val factor = args.find(a => a.nonEmpty && a.forall(_.isDigit))
      .map(_.toInt).getOrElse(40)
    val runSkew = args.contains("skew")
    val dir = "/root/testdata/sf0.1"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.warehouse.dir", "/tmp/graft-smoke-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def replicate(df: DataFrame): DataFrame =
      df.crossJoin(spark.range(factor).select(col("id").as("_rep")))
        .withColumn("o_orderkey",
          col("o_orderkey") + col("_rep") * 10000000L)
        .drop("_rep")
        .repartition(64)

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    def classify(b: DataFrame, m: DataFrame) =
      StatsCollector.collect(MvReconciler.reconcile(
        b, m, MvSyncDemo.baseSchema, MvSyncDemo.mvSchema, Settings()))

    val base = replicate(MvSyncDemo.baseDf(spark, dir))
    val mv = replicate(MvSyncDemo.mvDf(spark, dir))
    val (stats, secs) = timed(classify(base, mv))
    val keys = stats.totRecords
    println(f"[scale-smoke] factor=$factor keys=$keys classify+count=${secs}%.1fs " +
      f"(${keys / secs / 1e6}%.2fM keys/s)")
    println(s"[scale-smoke] $stats")

    if (args.contains("dedup")) {
      // LLM-dedup scale smoke: the documents corpus replicated `factor`×
      // with half the replicas byte-identical (exact-dup regime) and half
      // tail-perturbed (near-dup regime) — drives the wired MinHash-LSH
      // candidate path and the label-propagation clustering at a corpus
      // size the bench never reaches. Evidence that candidate generation
      // stays band/bucket-bounded (no quadratic blowup) as the corpus
      // scales.
      import graft.operators.Dedup
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val rep = docs
        .crossJoin(spark.range(factor).select(col("id").as("_r")))
        .withColumn("doc_id", col("doc_id") * factor + col("_r"))
        .withColumn("text",
          when(col("_r") % 2 === 1,
            concat(col("text"), lit(" replica "), col("_r")))
            .otherwise(col("text")))
        .drop("_r").repartition(64)
        .localCheckpoint() // don't re-replicate inside both timed runs
      val nDocs = rep.count()
      // materialized signature tables ("hash once") vs kernel recompute,
      // measured FAIRLY: the first post-JIT run of either variant reads
      // ~2× slower than steady state (run order dominated the first r11
      // attempt at this comparison), so warm both plans once untimed,
      // then report each variant's best of 2 timed runs. r11 verdict:
      // tie at 10×, materialization 2.2× ahead at 40×. r22 re-check:
      // the kernels got ~2× faster since, and five 40× runs read a tie
      // within host variance — but both smoke regimes sit in page
      // cache, so the default STAYS materialized on first-principles
      // source-I/O math (see minhashLshPairs' scaladoc).
      Dedup.minhashLshPairs(rep, materialize = true).count()
      Dedup.minhashLshPairs(rep, materialize = false).count()
      def bestOf2(mat: Boolean): (Long, Double) = {
        val runs = (1 to 2).map(_ =>
          timed(Dedup.minhashLshPairs(rep, materialize = mat).count()))
        (runs.head._1, runs.map(_._2).min)
      }
      val (nPairs, pairSecs) = bestOf2(mat = true)
      val (nPairs2, pairSecs2) = bestOf2(mat = false)
      assert(nPairs2 == nPairs, s"materialized/raw pair mismatch: $nPairs vs $nPairs2")
      println(f"[scale-smoke] DEDUP docs=$nDocs lsh-pairs=$nPairs " +
        f"pairs+rerank=${pairSecs}%.1fs materialized " +
        f"vs ${pairSecs2}%.1fs recompute (best of 2 each, warmed)")
      val (nClusters, ccSecs) = timed(
        Dedup.connectedComponents(
          Dedup.minhashLshPairs(rep).select(col("id_a"), col("id_b")))
          .select("cluster_id").distinct().count())
      println(f"[scale-smoke] DEDUP clusters=$nClusters " +
        f"cluster-propagation=${ccSecs}%.1fs (includes pair regeneration)")
    }

    if (args.contains("substrself")) {
      // Repeated-substring self-dedup growth curve: replicate the corpus
      // f× with BYTE-IDENTICAL replicas — the worst-case repetition
      // regime, every tile becomes f-times repeated — and time the span
      // extraction at f = 1, 2, 4. The digest-groupBy design's cost is
      // O(chars) scan + O(tiles) shuffle + O(spans) output, all ~f; a
      // pairwise (corpus × corpus) design would grow 1:4:16. The 4×/1×
      // wall ratio must stay well under the quadratic envelope even
      // though the 4× corpus is ALSO maximally repetitive — i.e. cost
      // tracks corpus size and true repetition, never corpus².
      import graft.operators.Dedup
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text")
      val curve = Seq(1, 2, 4).map { f =>
        val rep = docs
          .crossJoin(spark.range(f).select(col("id").as("_r")))
          .withColumn("doc_id", col("doc_id") + col("_r") * 10000000L)
          .drop("_r").repartition(64)
          .localCheckpoint() // replication cost stays outside the timing
        val n = rep.count()
        Dedup.substrSelfSpans(rep).count() // warm (post-JIT, see above)
        val runs = (1 to 2).map(_ => timed(Dedup.substrSelfSpans(rep).count()))
        val (spans, secs) = (runs.head._1, runs.map(_._2).min)
        assert(spans > 0, "substr-self produced ZERO spans — smoke measured nothing")
        println(f"[scale-smoke] SUBSTRSELF factor=$f docs=$n spans=$spans " +
          f"time=${secs}%.1fs (best of 2, warmed)")
        (f, secs)
      }
      val growth = curve.last._2 / curve.head._2
      println(f"[scale-smoke] SUBSTRSELF 4x/1x wall ratio=${growth}%.1f " +
        "(linear=4, quadratic=16)")
      assert(growth < 10.0,
        f"substr-self grew ${growth}%.1f× at 4× corpus — not the linear-ish design")
    }

    if (args.contains("pq")) {
      // PQ ANN at a replicated corpus in the PRODUCTION shape (m=4
      // subspaces, k=64 codewords → 24-bit codes; the oracle row runs
      // the value-level-verifiable m=2/k=8 demo size). Replicas beyond
      // _r=0 are deterministically perturbed (cos ≈ 0.999 to their
      // original), so each query's true top-10 is its own replica set —
      // recall@10 vs the brute-force ground truth measures whether
      // near-duplicates co-encode. The comparison to time is code-table
      // scoring (2–3 B/vec touched) vs the full-vector crossJoin
      // (256 B/vec + a 64-dim cosine per pair).
      import graft.operators.Similarity
      val e0 = spark.read.parquet(s"$dir/embeddings.parquet")
      val rep = e0.crossJoin(spark.range(factor).select(col("id").as("_r")))
        .withColumn("vec_id", col("vec_id") + col("_r") * 10000000L)
        .withColumn("embedding",
          when(col("_r") === 0, col("embedding")).otherwise(
            transform(col("embedding"), (x, i) =>
              (x + sin(col("_r") * lit(7.0) + i.cast("double") * lit(0.37))
                * lit(0.02)).cast("float"))))
        .drop("_r").repartition(64)
      val tmp = java.nio.file.Files.createTempDirectory("graft-pq-smoke").toString
      rep.write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      val n = spark.read.parquet(s"$tmp/embeddings.parquet").count()
      // rerank budget 200: each query has factor-1 ≈ 63 same-code
      // replicas, so the candidate cut must be wider than the replica
      // set or the id-tie-break inside the shared top cell excludes
      // true neighbors — nCand is PQ's standard recall/cost knob
      def pq() = Similarity.simAnnPqWith(spark, tmp, m = 4, k = 64, nCand = 200)
      def brute() = Similarity.simTopkBruteforce(spark, tmp)
      // warm: JIT + codebook fit + the one-time encode (the code table
      // is the persisted PQ index — timed runs hit its cache and scan
      // codes only, which is the steady-state query path)
      val (_, buildSecs) = timed(pq().count())
      brute().count()
      def bestOf2(f: () => Long): (Long, Double) = {
        val runs = (1 to 2).map(_ => timed(f()))
        (runs.head._1, runs.map(_._2).min)
      }
      val (nPq, pqSecs) = bestOf2(() => pq().count())
      val (nBr, brSecs) = bestOf2(() => brute().count())
      assert(nPq == 50 && nBr == 50, s"unexpected top-k sizes: $nPq/$nBr")
      val gt = brute().select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val got = pq().select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = gt.count(got.contains).toDouble / gt.length
      // the scale claim is BYTES SCANNED PER QUERY, so measure the two
      // artifacts: the persisted code table vs the raw vector parquet.
      // (At this n both fit in page cache and the brute crossJoin is one
      // fused scan while the PQ path pays 4 broadcast joins + a window —
      // wall-clock crossover is IO-bound and beyond a local smoke; what
      // must hold here is recall and the compression ratio.)
      def du(f: java.io.File): Long =
        if (f.isFile) f.length
        else Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
      val cacheRoot = new java.io.File(
        sys.env.getOrElse("GRAFT_IVF_CACHE", "/tmp/graft-ivf-cache"))
      val codesBytes = Option(cacheRoot.listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(
          // interpolated from the same key expression simAnnPqWith uses,
          // so a LloydIters change cannot silently break the lookup
          // (r13 advice)
          s"-pqcodes-m4-k64-i${graft.operators.Similarity.LloydIters}-s3"))
        .sortBy(_.lastModified).lastOption.map(du).getOrElse(-1L)
      val vecBytes = du(new java.io.File(s"$tmp/embeddings.parquet"))
      val pqLine = f"[scale-smoke] PQ n=$n m=4 k=64 cand=200 " +
        f"fit+encode=${buildSecs}%.2fs pq-top10=${pqSecs}%.2fs " +
        f"brute-top10=${brSecs}%.2fs recall@10=$recall%.3f " +
        f"codes=${codesBytes / 1024}%dKiB vectors=${vecBytes / 1024}%dKiB " +
        f"(scan ratio ${vecBytes.toDouble / codesBytes}%.0fx)"
      println(pqLine)
      // trend file (r14 verdict #4): every pq run appends its recall +
      // bytes-scanned line, so a codebook-fit or kernel change surfaces
      // as a recall/ratio REGRESSION against the recorded history
      // instead of a silent change. Tracked in git next to BASELINE.md;
      // path relative to the working directory (sbt runs tools from the
      // repo root) so the tool is not pinned to one checkout (r15
      // review).
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("PQ_TREND.log"),
        java.time.Instant.now().toString + " " + pqLine + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND): Unit
      assert(recall >= 0.9, f"PQ recall@10 $recall%.3f below 0.9 — " +
        "near-duplicates failed to co-encode")
      assert(codesBytes > 0 && codesBytes * 10 < vecBytes,
        "code table is not substantially smaller than the vector table")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(new java.io.File(tmp))
    }

    if (args.contains("ivfpq")) {
      // The COMPOSED IVF-ADC chain at the production shape (C=64 cells,
      // nprobe=8, m=4/k=64 codes, rerank budget 200) on the same
      // perturbed-replica corpus as the pq smoke. Two claims measured:
      // candidate FRACTION (the IVF restriction: ~nprobe/C of the
      // corpus enters PQ scoring at all — the knob that makes the code
      // scan sub-linear) and recall@10 vs brute force (the replicas'
      // true neighbors must survive both the cell cut and the code
      // cut).
      import graft.operators.Similarity
      val e0 = spark.read.parquet(s"$dir/embeddings.parquet")
      val rep = e0.crossJoin(spark.range(factor).select(col("id").as("_r")))
        .withColumn("vec_id", col("vec_id") + col("_r") * 10000000L)
        .withColumn("embedding",
          when(col("_r") === 0, col("embedding")).otherwise(
            transform(col("embedding"), (x, i) =>
              (x + sin(col("_r") * lit(7.0) + i.cast("double") * lit(0.37))
                * lit(0.02)).cast("float"))))
        .drop("_r").repartition(64)
      val tmp = java.nio.file.Files.createTempDirectory("graft-ivfpq-smoke").toString
      try {
        rep.write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
        val e = spark.read.parquet(s"$tmp/embeddings.parquet")
        val n = e.count()
        def ivfpq() = Similarity.simAnnIvfPqWith(spark, tmp,
          m = 4, k = 64, nCand = 200, c = 64, nprobe = 8)
        def brute() = Similarity.simTopkBruteforce(spark, tmp)
        val (_, buildSecs) = timed(ivfpq().count())
        brute().count()
        def bestOf2(f: () => Long): (Long, Double) = {
          val runs = (1 to 2).map(_ => timed(f()))
          (runs.head._1, runs.map(_._2).min)
        }
        val (nIp, ipSecs) = bestOf2(() => ivfpq().count())
        val (nBr, brSecs) = bestOf2(() => brute().count())
        assert(nIp == 50 && nBr == 50, s"unexpected top-k sizes: $nIp/$nBr")
        val nCandTouched = Similarity.ivfPqCandidates(spark, tmp, e,
          c = 64, nprobe = 8).count()
        val candFraction = nCandTouched.toDouble / (5L * (n - 1))
        val gt = brute().select("query_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        val got = ivfpq().select("query_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val recall = gt.count(got.contains).toDouble / gt.length
        println(f"[scale-smoke] IVFPQ n=$n C=64 nprobe=8 m=4 k=64 cand=200 " +
          f"fit+encode=${buildSecs}%.2fs ivfpq-top10=${ipSecs}%.2fs " +
          f"brute-top10=${brSecs}%.2fs candidates=$nCandTouched " +
          f"(${candFraction * 100}%.1f%% of corpus/query) recall@10=$recall%.3f")
        assert(recall >= 0.9, f"IVFPQ recall@10 $recall%.3f below 0.9")
        assert(candFraction < 0.35,
          f"IVF restriction ineffective: $candFraction%.2f of corpus scored")
      } finally {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(new java.io.File(tmp))
      }
    }

    if (args.contains("quality")) {
      // Trained-classifier cost curve: corpus replicated f× and written
      // (fresh identity → every cache MISSES, so "fit" is the honest
      // full cost: gram-counts tokenize + bucket aggregate + weight
      // solve), then the SCORING pass timed separately — the claim that
      // makes quality filtering the first gate of a 100 TB pipeline is
      // that scoring is scan-bound: a zero-exchange kernel projection
      // whose wall tracks the heuristic text_quality scan (same corpus
      // bytes, a few hundred extra flops per row), growing ~linearly.
      import graft.operators.TextAnalysis
      def execute(df: DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val qDir0 = "/tmp/graft-smoke-quality"
      // the 1+2+4x replicas are multi-MB at larger SFs — clean up even
      // when an assertion fails (the streamjoin rmTmp treatment)
      try {
        val curve = Seq(1, 2, 4).map { f =>
          val qDir = s"$qDir0-$f"
          spark.read.parquet(s"$dir/documents.parquet")
            .crossJoin(spark.range(f).select(col("id").as("_r")))
            .withColumn("doc_id", col("doc_id") + col("_r") * 10000000L)
            .drop("_r").repartition(64)
            .write.mode("overwrite").parquet(s"$qDir/documents.parquet")
          val n = spark.read.parquet(s"$qDir/documents.parquet").count()
          val (_, fitS) = timed(TextAnalysis.qualityModelTable(spark, qDir).count())
          execute(TextAnalysis.textQualityModel(spark, qDir)) // warm (JIT)
          val runs = (1 to 2).map(_ =>
            timed(execute(TextAnalysis.textQualityModel(spark, qDir))))
          val scoreS = runs.map(_._2).min
          execute(TextAnalysis.textQuality(spark, qDir)) // warm
          val heurS = (1 to 2).map(_ =>
            timed(execute(TextAnalysis.textQuality(spark, qDir)))._2).min
          println(f"[scale-smoke] QUALITY factor=$f docs=$n fit=${fitS}%.1fs " +
            f"score=${scoreS}%.1fs heuristic-scan=${heurS}%.1fs " +
            "(best of 2 warmed; model-cache MISS in fit)")
          (f, scoreS)
        }
        val growth = curve.last._2 / curve.head._2
        println(f"[scale-smoke] QUALITY 4x/1x score wall ratio=${growth}%.1f " +
          "(scan-bound linear=4)")
        assert(growth < 10.0,
          f"classifier scoring grew ${growth}%.1f× at 4× corpus — not scan-bound")
      } finally {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
        }
        Seq(1, 2, 4).foreach(f => rm(new java.io.File(s"$qDir0-$f")))
      }
    }

    if (args.contains("bpe")) {
      // BPE fit driver-state bound, MEASURED (r15 verdict #1): the fit's
      // only driver-side state is the thresholded + capped train dict;
      // replicate the corpus 1/2/4× (occurrences grow, the distinct-word
      // vocabulary saturates — exactly a web corpus's Zipf shape) and
      // measure the bytes the guarded collect would pay. The claim that
      // makes the fit 100 TB-safe is that this curve is FLAT: driver
      // cost tracks the vocabulary ceiling min(minFreq-survivors,
      // maxWords), never the corpus.
      import graft.operators.TextAnalysis
      val bDir0 = "/tmp/graft-smoke-bpe"
      try {
        val curve = Seq(1, 2, 4).map { f =>
          val bDir = s"$bDir0-$f"
          spark.read.parquet(s"$dir/documents.parquet")
            .crossJoin(spark.range(f).select(col("id").as("_r")))
            .withColumn("doc_id", col("doc_id") + col("_r") * 10000000L)
            .drop("_r").repartition(64)
            .write.mode("overwrite").parquet(s"$bDir/documents.parquet")
          val docs = spark.read.parquet(s"$bDir/documents.parquet")
          val dict = TextAnalysis.bpeTrainDict(docs,
            TextAnalysis.BpeMinWordFreq, TextAnalysis.BpeMaxDictWords)
          val words = dict.count()
          val bytes = TextAnalysis.dictBytes(dict)
          val (_, fitS) = timed(
            TextAnalysis.fitBpeMergesFrom(docs, TextAnalysis.BpeMinWordFreq,
              TextAnalysis.BpeMaxDictWords, TextAnalysis.NumBpeMerges).count())
          println(s"[scale-smoke] BPE factor=$f docs=${docs.count()} " +
            s"dict_words=$words dict_bytes=$bytes " +
            f"fit=${fitS}%.1fs (model-cache bypassed)")
          (words, bytes)
        }
        assert(curve.distinct.size == 1,
          s"BPE train dict grew with corpus replication: $curve — driver " +
            "state must track the vocabulary ceiling, not the corpus")
      } finally {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
        }
        Seq(1, 2, 4).foreach(f => rm(new java.io.File(s"$bDir0-$f")))
      }
    }

    if (args.contains("streamjoin")) {
      // Stream-stream interval join state bound, MEASURED: replicate the
      // events table factor× into disjoint user universes (per-user
      // density constant, key count grows), replay through the real
      // engine in 8 event-time-ordered micro-batches, and read
      // numRowsTotal from the join's state-operator progress. The claim
      // that makes the operator 100 TB-runnable is that buffered state
      // tracks the watermark+interval HORIZON (≈ the trailing 7h of
      // each batch), never the stream length — and the settled output
      // must still equal the batch range join exactly (each replica
      // universe is independent, so expected = factor × batch count).
      import graft.streaming.EventPipeline
      import org.apache.spark.sql.expressions.Window
      val ev = graft.operators.EventTs.canonical(
        spark.read.parquet(s"$dir/events.parquet"))
      val rep = ev.crossJoin(spark.range(factor).select(col("id").as("_r")))
        .withColumn("user_id", col("user_id") + col("_r") * 1000000L)
        .withColumn("event_id", col("event_id") + col("_r") * 100000000L)
        .drop("_r")
      val nIn = rep.count()
      val tmp = java.nio.file.Files.createTempDirectory("graft-sj-smoke").toString
      // the replay feed is multi-GB at factor 40 — clean up even when
      // an assertion below fails (r15 review: the restructure had moved
      // the delete behind the asserts)
      def rmTmp(): Unit = {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(new java.io.File(tmp))
      }
      try {
      val sliced = rep.withColumn("_slice",
        ntile(8).over(Window.orderBy("ts", "event_id")))
      val stamped = scala.collection.mutable.Set[String]()
      val tBase = System.currentTimeMillis()
      (1 to 8).foreach { s =>
        sliced.filter(col("_slice") === s).drop("_slice")
          .coalesce(1).write.mode("append").parquet(tmp)
        new java.io.File(tmp).listFiles()
          .filter(f => f.isFile && f.getName.endsWith(".parquet") && !stamped(f.getName))
          .foreach { f =>
            f.setLastModified(tBase + s * 1000L): Unit
            stamped += f.getName
          }
      }
      def stream() = spark.readStream.schema(EventPipeline.eventSchema)
        .option("maxFilesPerTrigger", "1").parquet(tmp)
        .withColumn("ets", timestamp_micros(expr("ts DIV 1000")))
      // run one streaming query over the feed, return (sink rows after
      // `post`, max numRowsTotal across all state operators/batches)
      def runMeasured(agg: DataFrame, name: String, mode: String)(
          post: DataFrame => DataFrame): (Long, Long) = {
        val q = agg.writeStream.outputMode(mode)
          .format("memory").queryName(name).start()
        try {
          q.processAllAvailable()
          val maxState = q.recentProgress
            .flatMap(p => Option(p.stateOperators).toSeq.flatten)
            .map(_.numRowsTotal) match { case a if a.nonEmpty => a.max; case _ => -1L }
          (post(spark.table(name)).count(), maxState)
        } finally {
          q.stop(); spark.catalog.dropTempView(name): Unit
        }
      }
      val (out, maxState) = runMeasured(
        EventPipeline.intervalJoin(stream()), "sj_smoke", "append")(identity)
      val expected = graft.operators.RelationalQueries
        .queries("q_range_join")(spark, dir).count() * factor
      println(f"[scale-smoke] STREAMJOIN inner factor=$factor events=$nIn " +
        f"joined=$out (expected $expected) max-state-rows=$maxState " +
        f"(${maxState * 100.0 / nIn}%.1f%% of stream)")
      assert(out == expected,
        s"stream-stream join diverged from batch: $out vs $expected")
      assert(maxState > 0 && maxState * 10 < nIn,
        s"join state $maxState not an order below stream size $nIn")

      // LEFT-OUTER variant (r14 verdict #3): unmatched errors are held
      // in state until the watermark PROVES no in-horizon click can
      // arrive, so its bound sits above the inner join's by the
      // unmatched-error horizon — measured here, not assumed. Sentinel
      // flush batches (the qEventsStreamJoinLeft mechanism) drive the
      // final horizon closed so the settled output equals the batch
      // LEFT JOIN exactly.
      locally {
        import spark.implicits._
        val maxTs = rep.agg(max("ts")).head().getLong(0)
        val h8 = 8L * 3600 * 1000000000L
        (1 to 3).foreach { k =>
          Seq((-1L, maxTs + k * h8, -1L, "error", 0.0, null.asInstanceOf[String]),
            (-2L, maxTs + k * h8, -2L, "click", 0.0, null.asInstanceOf[String]))
            .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
            .coalesce(1).write.mode("append").parquet(tmp)
          new java.io.File(tmp).listFiles()
            .filter(f => f.isFile && f.getName.endsWith(".parquet") && !stamped(f.getName))
            .foreach { f =>
              f.setLastModified(tBase + (8 + k) * 1000L): Unit
              stamped += f.getName
            }
        }
        val (outL, stateL) = runMeasured(
          EventPipeline.intervalJoinWith(stream(), "left_outer"),
          "sjl_smoke", "append")(_.filter(col("user_id") >= 0))
        val ev2 = rep.withColumn("emic", expr("ts DIV 1000"))
        val e = ev2.filter(col("event_type") === "error")
          .select(col("user_id").as("u"), col("event_id").as("eid"),
            col("emic").as("et"))
        val c = ev2.filter(col("event_type") === "click")
          .select(col("user_id").as("cu"), col("emic").as("ct"))
        val expectedL = e.join(c,
          expr("u = cu AND ct >= et AND ct <= et + 21600000000"), "left_outer")
          .count()
        println(f"[scale-smoke] STREAMJOIN left-outer factor=$factor " +
          f"events=$nIn joined=$outL (expected $expectedL) " +
          f"max-state-rows=$stateL (${stateL * 100.0 / nIn}%.1f%% of stream)")
        assert(outL == expectedL,
          s"left-outer stream join diverged from batch: $outL vs $expectedL")
        assert(stateL > 0 && stateL * 10 < nIn,
          s"left-outer state $stateL not an order below stream size $nIn")
      }

      // SLIDING-WINDOW state bound (r14 verdict #3): each event enters
      // 4 overlapping 2h/30min windows, so naive state would be 4×
      // window-count; with the 1h watermark only OPEN windows stay
      // resident (closed ones evict on emit in update mode). The bound
      // that matters at 100 TB is windows-in-horizon × event-types —
      // constant in stream length — measured here via the state
      // operator's numRowsTotal. (Settle-correctness is the
      // q_events_sliding_stream oracle row; this measures state only,
      // so update mode — the production emission mode — is used. The
      // sentinel events ride along harmlessly: 2 rows per flush batch.)
      locally {
        val (_, stateW) = runMeasured(
          EventPipeline.slidingAgg(stream()), "slw_smoke", "update")(identity)
        val nWindows = graft.operators.RelationalQueries
          .queries("q_events_sliding")(spark, dir).count()
        println(f"[scale-smoke] SLIDING factor=$factor events=$nIn " +
          f"total-windows=$nWindows max-state-rows=$stateW " +
          f"(${stateW * 100.0 / nIn}%.3f%% of stream)")
        assert(stateW > 0 && stateW * 100 < nIn,
          s"sliding state $stateW not two orders below stream size $nIn")
      }
      } finally rmTmp()
    }

    if (args.contains("percentiles")) {
      // Sketch-guided exact percentiles vs the buffering percentile()
      // at a grown corpus: replicate lineitem f× (values perturbed per
      // replica so the quantiles genuinely move) and run both paths.
      // The numbers must MATCH EXACTLY (the sketch certifies a window,
      // the answer is exact selection); the sketch path's state stays
      // O(k log n) per group where percentile() buffers the whole
      // group — the difference that decides 100 TB feasibility, here
      // evidenced by both paths staying wall-clock-comparable while
      // the exactness assertion pins equality.
      import graft.operators.RelationalQueries
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_returnflag"), col("l_extendedprice"))
      val rep = li
        .crossJoin(spark.range(factor).select(col("id").as("_r")))
        .withColumn("l_extendedprice",
          col("l_extendedprice") + col("_r").cast("double") / 7.0)
        .drop("_r").repartition(64)
        .localCheckpoint()
      val n = rep.count()
      def exact() = rep.groupBy("l_returnflag")
        .agg(expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75))").as("pct"))
        .select(col("l_returnflag"),
          round(col("pct").getItem(0), 4).as("p25"),
          round(col("pct").getItem(1), 4).as("p50"),
          round(col("pct").getItem(2), 4).as("p75"))
      def sketch() = RelationalQueries
        .sketchPercentiles(rep, "l_returnflag", "l_extendedprice",
          Seq(0.25, 0.5, 0.75))
        .groupBy("l_returnflag")
        .agg(round(min(when(col("q") === 0.25, col("v"))), 4).as("p25"),
          round(min(when(col("q") === 0.5, col("v"))), 4).as("p50"),
          round(min(when(col("q") === 0.75, col("v"))), 4).as("p75"))
      // warm both paths untimed (run-order JIT bias, see dedup above)
      exact().collect(); sketch().collect()
      def bestOf2(f: () => Array[org.apache.spark.sql.Row]) = {
        val runs = (1 to 2).map(_ => timed(f().sortBy(_.getString(0)).toSeq))
        (runs.head._1, runs.map(_._2).min)
      }
      val (e, eSecs) = bestOf2(() => exact().collect())
      val (s, sSecs) = bestOf2(() => sketch().collect())
      assert(e == s, s"sketch path diverged from exact percentile():\n$e\n$s")
      println(f"[scale-smoke] PERCENTILES factor=$factor rows=$n " +
        f"exact-buffering=${eSecs}%.1fs sketch-guided=${sSecs}%.1fs " +
        "(best of 2 warmed; results asserted EQUAL)")
    }

    if (args.contains("curation")) {
      // Decontamination scale smoke: the CANDIDATE corpus grows factor×
      // while the benchmark set stays fixed (the realistic regime — eval
      // suites are MBs, corpora are TBs). The benchmark shingle set
      // broadcasts, so decon time must grow ~linearly with the corpus
      // (hash + explode + broadcast-probe per doc), never quadratically.
      import graft.operators.Curation
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val bench = docs.filter(col("doc_id") % 50 === 0).select("doc_id", "text")
      val rep = docs.select("doc_id", "text")
        .crossJoin(spark.range(factor).select(col("id").as("_r")))
        .withColumn("doc_id", col("doc_id") * factor + col("_r"))
        .drop("_r").repartition(64)
        .localCheckpoint() // replication cost stays outside the timing
      val nDocs = rep.count()
      val (flagged, deconSecs) = timed(
        Curation.ngramContamination(rep, bench).count())
      println(f"[scale-smoke] CURATION candidates=$nDocs (benchmark fixed) " +
        f"flagged=$flagged decon=${deconSecs}%.1fs " +
        f"(${nDocs / deconSecs / 1000}%.0fk docs/s)")

      // Exact-substring decon: corpus FIXED, snippet dictionary grown
      // 10× (2% → 20% of docs contribute snippets). With the
      // Aho–Corasick kernel each document is one amortized-linear pass
      // regardless of the pattern count, so wall time must stay ~flat —
      // the r9 broadcast-contains join scaled linearly in snippets.
      Seq(50, 5).foreach { mod =>
        val snips = docs.filter(col("doc_id") % mod === 0).select("doc_id", "text")
        val nSnips = snips.count()
        val (hits, s) = timed(Curation.exactContamination(rep, snips).count())
        println(f"[scale-smoke] CURATION exact-decon snippets=$nSnips " +
          f"docs=$nDocs hits=$hits time=${s}%.1fs")
      }
      // TILED dictionary — every 16-char tile of every benchmark doc:
      // the 10⁴–10⁵-pattern regime the automaton exists for (the r9
      // contains join did |patterns| scans per doc here). Wall time
      // must stay in the same band as the 100-pattern runs above.
      Seq(50, 5).foreach { mod =>
        val snips = docs.filter(col("doc_id") % mod === 0).select("doc_id", "text")
        // mirror exactContaminationTiled's length >= 2L gate so the
        // printed count matches the dictionary the timed query compiles
        // (and `sequence` never sees an illegal descending bound)
        val nPats = snips.filter(length(col("text")) >= 32).select(explode(expr(
          "transform(sequence(1, length(text) - 15, 16), s -> substring(text, s, 16))"))
            .as("sn")).distinct().count()
        val (hits, s) = timed(Curation.exactContaminationTiled(rep, snips).count())
        println(f"[scale-smoke] CURATION exact-decon-tiled patterns=$nPats " +
          f"docs=$nDocs hits=$hits time=${s}%.1fs")
      }
      // SHARDED regime — a synthetic ~10⁶-tile benchmark "suite": every
      // doc replicated 12×, each replica carrying the ORIGINAL text
      // (so candidate-side match density stays realistic) plus ~16
      // guaranteed-distinct tiles of appended md5 hex keyed by
      // (doc, replica) — the dictionary grows to ~10⁶ distinct tiles,
      // past the single-automaton budget. exactContaminationTiled
      // auto-shards (8 MB pattern bytes per automaton → one corpus scan
      // per shard); the wall time must be ~numShards × one scan at the
      // same match density, never patterns ×.
      locally {
        val bigBench = docs.select("doc_id", "text")
          .crossJoin(spark.range(12).select(col("id").as("_r")))
          .withColumn("text", concat(col("text"), lit(" "), expr(
            "concat_ws('', transform(sequence(1, 8), i -> " +
              "md5(concat(doc_id, '-', _r, '-', i))))")))
          .withColumn("doc_id", col("doc_id") * 12 + col("_r"))
          .drop("_r")
        val nPats = bigBench.filter(length(col("text")) >= 32).select(explode(expr(
          "transform(sequence(1, length(text) - 15, 16), s -> substring(text, s, 16))"))
            .as("sn")).distinct().count()
        val shards = math.ceil(nPats * 16.0 / Curation.MaxAutomatonBytes).toInt
        val (hits, s) = timed(
          Curation.exactContaminationTiled(rep, bigBench).count())
        println(f"[scale-smoke] CURATION exact-decon-tiled-sharded " +
          f"patterns=$nPats shards~=$shards docs=$nDocs hits=$hits " +
          f"time=${s}%.1fs (${s / math.max(1, shards)}%.1fs/shard)")
        // same dictionary through ONE automaton (budget lifted): the
        // apples-to-apples cost of sharding — expect the sharded run at
        // ~K× the single scan, the price of bounding per-executor
        // automaton memory, never patterns ×
        val (hits1, s1) = timed(
          Curation.exactContaminationTiled(rep, bigBench,
            maxAutomatonBytes = Curation.MaxDictBytes).count())
        assert(hits1 == hits, s"sharded/single hit mismatch: $hits vs $hits1")
        println(f"[scale-smoke] CURATION exact-decon-tiled-single " +
          f"patterns=$nPats shards=1 docs=$nDocs hits=$hits1 time=${s1}%.1fs")
      }

      // Composed-pipeline smoke: the full quality→dedup→decon→mix chain
      // on the replicated corpus (written out so the wired (spark, dir)
      // query runs unmodified). The replicas are distinct doc_ids with
      // identical text, so the dedup stage does real work at scale.
      // key shift preserves doc_id % 50 (10M % 50 == 0), so the chain's
      // benchmark split stays the 2% slice it is on the real corpus —
      // the old doc_id*factor+r remap promoted 20% of TEXTS into the
      // benchmark and the decon stage flagged the entire corpus: the
      // timed chain was producing ZERO curated rows (caught by the r11
      // layout probe's min/max read)
      val curDir = "/tmp/graft-smoke-cur"
      spark.read.parquet(s"$dir/documents.parquet")
        .crossJoin(spark.range(factor).select(col("id").as("_r")))
        .withColumn("doc_id", col("doc_id") + col("_r") * 10000000L)
        .drop("_r").repartition(64)
        .write.mode("overwrite").parquet(s"$curDir/documents.parquet")
      def execute(df: DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      execute(Curation.pipelineCurate(spark, curDir)) // warmup
      val (_, pipeSecs) = timed(execute(Curation.pipelineCurate(spark, curDir)))
      println(f"[scale-smoke] CURATION pipeline_curate docs=$nDocs " +
        f"time=${pipeSecs}%.1fs (${nDocs / pipeSecs / 1000}%.0fk docs/s)")

      // Model-gated chain (r16): the same chain with the trained
      // classifier as the first gate — the kernel predicate scores at
      // the scan, so the wall must stay in the heuristic chain's band
      // (a per-row flop difference, not a plan difference). Fit cost is
      // excluded: qualityModelTable is warmed first (the production
      // regime — the model is fitted once per corpus snapshot).
      graft.operators.TextAnalysis.qualityModelTable(spark, curDir).count()
      execute(Curation.pipelineCurateModel(spark, curDir)) // warmup
      val (_, modelSecs) = timed(
        execute(Curation.pipelineCurateModel(spark, curDir)))
      println(f"[scale-smoke] CURATION pipeline_curate_model docs=$nDocs " +
        f"time=${modelSecs}%.1fs (heuristic-gate chain ${pipeSecs}%.1fs)")
      assert(modelSecs < pipeSecs * 3 + 2,
        f"model-gated chain ${modelSecs}%.1fs is far outside the heuristic " +
          f"chain's band ${pipeSecs}%.1fs — scoring is not scan-bound")

      // Curated-output layout probe (r11): the chain's output written
      // TWO ways — ingest-order and Z-order-clustered on
      // (doc_id, n_chars), the write a 100 TB curation job ends with —
      // probed with ~2% range filters on each key column. "Files" =
      // outputs whose parquet footer min/max overlap the probe (what
      // row-group pruning reads); the Z copy must collapse both probes,
      // the flat copy neither.
      locally {
        import graft.operators.Layout
        val curated = Curation.pipelineCurate(spark, curDir).localCheckpoint()
        val nCur = curated.count()
        assert(nCur > 0, "curated output is EMPTY — the timed chain above measured nothing")
        println(s"[scale-smoke] CURATION curated-rows=$nCur")
        val flatDir = "/tmp/graft-smoke-cur-flat"
        val zDir = "/tmp/graft-smoke-cur-z"
        curated.repartition(32).write.mode("overwrite").parquet(flatDir)
        Layout.clusterByZOrder(curated, 32, col("doc_id"), col("n_chars"))
          .write.mode("overwrite").parquet(zDir)
        val b = curated.agg(min("doc_id"), max("doc_id"),
          min("n_chars"), max("n_chars")).head()
        val idCut = (b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 50,
          b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 25)
        val ncCut = (b.getLong(2) + (b.getLong(3) - b.getLong(2)) / 50,
          b.getLong(2) + (b.getLong(3) - b.getLong(2)) / 25)
        def candidates(path: String, c: String, cut: (Long, Long)): Int =
          new java.io.File(path).listFiles()
            .filter(_.getName.endsWith(".parquet")).count { f =>
              val r = spark.read.parquet(f.getPath)
                .agg(min(col(c)), max(col(c))).head()
              r.getLong(0) <= cut._2 && r.getLong(1) >= cut._1
            }
        def both(c: String, cut: (Long, Long)): String =
          s"flat=${candidates(flatDir, c, cut)}/32 " +
            s"zorder=${candidates(zDir, c, cut)}/32"
        println(s"[scale-smoke] CURATION layout doc_id-probe:  ${both("doc_id", idCut)}")
        println(s"[scale-smoke] CURATION layout n_chars-probe: ${both("n_chars", ncCut)}")
      }
    }

    if (args.contains("text")) {
      // Shared corpus-statistics smoke (r11): the corpus replicated
      // factor× and written once; `TextAnalysis.gramCounts` tokenizes
      // it ONCE into the persisted statistics table (timed as "fit" —
      // a cache MISS, since the written corpus has a fresh identity),
      // then text_repetition AND text_tfidf_topk aggregate that table —
      // each query line must be tokenize-free (well under the fit
      // line), which is the r11 claim: one tokenize pass per corpus
      // snapshot serves every statistics consumer.
      import graft.operators.{Curation, TextAnalysis}
      val tDir = "/tmp/graft-smoke-text"
      spark.read.parquet(s"$dir/documents.parquet")
        .crossJoin(spark.range(factor).select(col("id").as("_r")))
        .withColumn("doc_id", col("doc_id") + col("_r") * 10000000L)
        .drop("_r").repartition(64)
        .write.mode("overwrite").parquet(s"$tDir/documents.parquet")
      val n = spark.read.parquet(s"$tDir/documents.parquet").count()
      val (_, fitS) = timed(TextAnalysis.gramCounts(spark, tDir).count())
      val (nr, repS) = timed(TextAnalysis.textRepetition(spark, tDir).count())
      val (nt, tfS) = timed(Curation.textTfidfTopk(spark, tDir).count())
      println(f"[scale-smoke] TEXT docs=$n gramcounts-fit=${fitS}%.1fs " +
        f"repetition=${repS}%.1fs ($nr rows) tfidf=${tfS}%.1fs ($nt rows)")
    }

    if (args.contains("relational")) {
      // Relational scale smoke: facts (lineitem, orders) replicated
      // factor× with shifted order keys, dims fixed (the realistic
      // regime — dimensions don't grow with the fact table). Written to
      // a temp dataset dir so the wired (spark, dir) queries run
      // unmodified. Targets the queries whose decorrelations must
      // stay linear in the fact table: q21 (per-order min/max
      // multiplicity tests since r10, count_distinct pair in r9 — the
      // r8 literal semi/anti plan broadcast the whole fact projection
      // and would NOT survive this), q2 (checkpointed supply relation),
      // q9 (five-table rollup).
      import graft.operators.RelationalQueries
      val relDir = "/tmp/graft-smoke-rel"
      def shift(df: DataFrame, key: String): DataFrame = df
        .crossJoin(spark.range(factor).select(col("id").as("_r")))
        .withColumn(key, col(key) + col("_r") * 1000000000L)
        .drop("_r").repartition(64)
      shift(spark.read.parquet(s"$dir/lineitem.parquet"), "l_orderkey")
        .write.mode("overwrite").parquet(s"$relDir/lineitem.parquet")
      shift(spark.read.parquet(s"$dir/orders.parquet"), "o_orderkey")
        .write.mode("overwrite").parquet(s"$relDir/orders.parquet")
      Seq("supplier", "nation", "region", "part", "customer").foreach { n =>
        spark.read.parquet(s"$dir/$n.parquet")
          .write.mode("overwrite").parquet(s"$relDir/$n.parquet")
      }
      val nLi = spark.read.parquet(s"$relDir/lineitem.parquet").count()
      def execute(df: DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      Seq[(String, (SparkSession, String) => DataFrame)](
        "q21_wait_suppliers" -> RelationalQueries.q21WaitSuppliers,
        "q2_min_cost_supplier" -> RelationalQueries.q2MinCostSupplier,
        "q9_product_profit" -> RelationalQueries.q9ProductProfit
      ).foreach { case (name, q) =>
        execute(q(spark, relDir)) // warmup: codegen/JIT outside timing
        val (_, s) = timed(execute(q(spark, relDir)))
        // rows printed and asserted non-empty: a degenerate replication
        // that filtered everything out would otherwise read as a FAST
        // run (the r11 curation-smoke lesson)
        val rows = q(spark, relDir).count()
        assert(rows > 0, s"$name produced no rows on the replicated corpus")
        println(f"[scale-smoke] RELATIONAL $name lineitem=$nLi " +
          f"time=${s}%.1fs (${nLi / s / 1e6}%.2fM rows/s, $rows rows)")
      }
    }

    if (args.contains("semantic")) {
      // Semantic-dedup scale smoke: the embeddings table replicated
      // factor× — even replicas byte-identical (exact-dup regime), odd
      // replicas slightly perturbed (near-dup, cos ≈ 0.999) — with the
      // centroid count grown IN PROPORTION (C = 16·factor), which is
      // the operator's documented contract: cells stay ~constant size,
      // so within-cell pairing stays Σ_cell(size²) ≈ N·cellSize — linear
      // in the corpus. The argmax assign is the CentroidAssign kernel:
      // the matrix rides as one reference object, so generated-code size
      // is O(1) in C and `factor=64` (C=1024) runs without a codegen
      // wall — the r9 literal form could not. Recall is MEASURED, not
      // assumed: a keeper row only counts if it names a keeper from the
      // dup's own source group (vec_id / factor), so a cross-group false
      // pair can't mask a missed true pair.
      import graft.operators.{Dedup, Similarity}
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val rep = e.crossJoin(spark.range(factor).select(col("id").as("_r")))
        .withColumn("vec_id", col("vec_id") * factor + col("_r"))
        .withColumn("embedding",
          when(col("_r") % 2 === 1, transform(col("embedding"),
            (x, i) => (x + when(i % 7 === pmod(col("_r"), lit(7)), lit(0.02f))
              .otherwise(lit(0f))).cast("float")))
            .otherwise(col("embedding")))
        .drop("_r").repartition(64)
        .localCheckpoint()
      val nVecs = rep.count()
      val c = 16 * factor
      val (cents, fitSecs) = timed(
        Similarity.fitCentroids(rep.filter(col("vec_id") % 3 === 0), c))
      // eager checkpoint inside the timing: one pairing pass, measured,
      // feeding both counts below
      val (keepers, pairSecs) = timed(
        Dedup.semanticKeepers(rep, cents, threshold = 0.9).localCheckpoint())
      val nDups = keepers.count()
      // same-group keepers: vec_id = source_id·factor + r, so the source
      // group is vec_id / factor (integer division)
      val nSameGroup = keepers
        .filter(floor(col("dup_id") / factor) === floor(col("keeper_id") / factor))
        .count()
      // every replica except each group's lowest id can name a same-group
      // keeper (all group members sit at cos ≈ 0.999+)
      val expected = nVecs - nVecs / factor
      println(f"[scale-smoke] SEMANTIC vecs=$nVecs cells=$c dups=$nDups " +
        f"same-group=$nSameGroup recall=${nSameGroup.toDouble / expected}%.3f " +
        f"fit=${fitSecs}%.1fs keepers=${pairSecs}%.1fs " +
        f"(${nVecs / pairSecs / 1000}%.0fk vecs/s)")
    }

    if (args.contains("ivfindex")) {
      // Bucket-pruned quantizer assignment (CentroidIndex): the C ≳ 10⁴
      // path where even the flat O(C·dim)-per-row kernel walls. Same
      // replicated corpus and corpus-proportional C as the `semantic`
      // smoke; measures (a) assign wall time, flat vs indexed, (b) the
      // fraction of vectors whose pruned assignment AGREES with exact,
      // and (c) end-to-end same-group keeper recall through the pruned
      // quantizer — the number that actually matters for SemDeDup.
      import graft.operators.{Dedup, Similarity}
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val rep = e.crossJoin(spark.range(factor).select(col("id").as("_r")))
        .withColumn("vec_id", col("vec_id") * factor + col("_r"))
        .withColumn("embedding",
          when(col("_r") % 2 === 1, transform(col("embedding"),
            (x, i) => (x + when(i % 7 === pmod(col("_r"), lit(7)), lit(0.02f))
              .otherwise(lit(0f))).cast("float")))
            .otherwise(col("embedding")))
        .drop("_r").repartition(64)
        .localCheckpoint()
      val nVecs = rep.count()
      val c = 16 * factor
      val log2c = math.max(1, (math.log(c.toDouble) / math.log(2.0)).round.toInt)
      val cents = Similarity.fitCentroids(rep.filter(col("vec_id") % 3 === 0), c)
      def execute(df: DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      def best(f: => Unit): Double = Seq(timed(f)._2, timed(f)._2).min
      val flatSecs = best(execute(Similarity.ivfAssign(rep, cents).select("vec_id", "cid")))
      val expected = nVecs - nVecs / factor
      // P is the pruning knob: candidates ≈ C·(P+1)/2^P. Sweep from a
      // wide probe (quarter of log₂C) to the tightest (log₂C) to show
      // the cost/agreement/recall trade the deployment picks on.
      Seq(log2c / 4, log2c / 2, log2c).distinct.filter(_ >= 1).foreach { planes =>
        val idxSecs = best(execute(
          Similarity.ivfAssignPruned(rep, cents, planes).select("vec_id", "cid")))
        val agree = Similarity.ivfAssign(rep, cents).select(col("vec_id"), col("cid").as("c1"))
          .join(Similarity.ivfAssignPruned(rep, cents, planes)
            .select(col("vec_id"), col("cid").as("c2")), "vec_id")
          .filter(col("c1") === col("c2")).count()
        val keepers = Dedup.semanticKeepers(rep, cents, threshold = 0.9,
            indexPlanes = Some(planes))
          .filter(floor(col("dup_id") / factor) === floor(col("keeper_id") / factor))
          .count()
        println(f"[scale-smoke] IVFINDEX vecs=$nVecs cells=$c planes=$planes " +
          f"assign flat=${flatSecs}%.1fs indexed=${idxSecs}%.1fs " +
          f"agreement=${agree.toDouble / nVecs}%.3f " +
          f"keeper-recall=${keepers.toDouble / expected}%.3f")
      }
    }

    if (runSkew) {
      // 1. Hot-customer damage: 1/3 of every table on one o_custkey.
      def hot(df: DataFrame): DataFrame = df.withColumn("o_custkey",
        when(col("o_orderkey") % 3 === 0, lit(7L)).otherwise(col("o_custkey")))
      val (skStats, skSecs) = timed(classify(hot(base), hot(mv)))
      println(f"[scale-smoke] SKEWED keys=${skStats.totRecords} " +
        f"classify+count=${skSecs}%.1fs (flat vs uniform = full-PK join " +
        "keys stay unique under customer skew)")

      // 2. Custkey-only join: hot key lands on one reducer unless split.
      val facts = hot(base).select("o_custkey", "o_orderkey", "o_totalprice")
      val dim = facts.select("o_custkey").distinct()
        .withColumn("segment", pmod(col("o_custkey"), lit(5)))
      def execute(df: DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      // each variant timed twice (min reported): the shared replicate
      // lineage recomputes per run, and the second pass removes one-time
      // codegen/JIT noise from the comparison
      def best(f: => Unit): Double = Seq(timed(f)._2, timed(f)._2).min
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plainOff = best(execute(facts.join(dim, Seq("o_custkey"))))
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      val plainAqe = best(execute(facts.join(dim, Seq("o_custkey"))))
      // salted variant measured under the SAME config as the pathological
      // baseline (AQE off) so it isolates salting from AQE skew-split —
      // it's the escape hatch for engines/stages where AQE can't help
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val salted = best(execute(SaltedJoin.join(facts, dim, Seq("o_custkey"), 32)))
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      println(f"[scale-smoke] hot-key join on o_custkey: plain(no AQE)=" +
        f"$plainOff%.1fs  plain(AQE skew-split)=$plainAqe%.1fs  salted(32)=$salted%.1fs")
    }

    if (args.contains("bucketed")) {
      // Bucketed-reconcile smoke: the measured form of BucketedJoinSpec's
      // zero-exchange proof. Both sides written once as plain parquet and
      // once bucketBy(MV PK)+sortBy, then the identical classify runs
      // from each. The bucketed run skips both sort-exchanges AND both
      // sorts of the full-outer SMJ — the recurring cost of a periodic
      // 100 TB recon drops to a co-located merge per bucket.
      // one writer task → exactly one file per bucket, so the scan
      // reports per-bucket sort order and the SMJ needs neither
      // exchange NOR sort (64 writer tasks would leave 64 files per
      // bucket, forcing a per-bucket re-sort at read — measured 2.3s
      // vs 1.4s). Setup cost only; the write is outside the timing.
      def save(df: DataFrame, name: String): Unit = {
        spark.sql(s"DROP TABLE IF EXISTS $name")
        // a fresh session gets a fresh in-memory catalog but the
        // warehouse dir persists — clear the stale location too
        val loc = new org.apache.hadoop.fs.Path(s"/tmp/graft-smoke-warehouse/$name")
        loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(loc, true)
        df.coalesce(1).write.bucketBy(64, "o_custkey", "o_orderkey")
          .sortBy("o_custkey", "o_orderkey").mode("overwrite").saveAsTable(name)
      }
      save(base, "smoke_base_b"); save(mv, "smoke_mv_b")
      base.write.mode("overwrite").parquet("/tmp/graft-smoke-plain-base")
      mv.write.mode("overwrite").parquet("/tmp/graft-smoke-plain-mv")
      def best(b: DataFrame, m: DataFrame): Double =
        Seq(timed(classify(b, m))._2, timed(classify(b, m))._2).min
      val plainSecs = best(
        spark.read.parquet("/tmp/graft-smoke-plain-base"),
        spark.read.parquet("/tmp/graft-smoke-plain-mv"))
      val bucketedSecs = best(
        spark.table("smoke_base_b"), spark.table("smoke_mv_b"))
      println(f"[scale-smoke] BUCKETED recon keys=$keys: plain-parquet=" +
        f"$plainSecs%.1fs  bucketed(64)=$bucketedSecs%.1fs (exchange-free)")
    }

    if (args.contains("layout")) {
      // Layout pruning smoke: the same lineitem bytes written three
      // ways — ingest-order (hash), range-clustered on l_orderkey, and
      // Z-order-clustered on (l_orderkey, l_partkey) — then probed with
      // selective single-column filters. Parquet row-group min/max
      // stats can only prune when the layout clusters the filter
      // column: the orderkey probe should collapse on the range copy,
      // the partkey probe only on the Z-order copy. This is the
      // measured form of the 100 TB argument for Layout.
      import graft.operators.Layout
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val flatDir = "/tmp/graft-smoke-layout-flat"
      val rangeDir = "/tmp/graft-smoke-layout-range"
      val zDir = "/tmp/graft-smoke-layout-z"
      li.repartition(32).write.mode("overwrite").parquet(flatDir)
      Layout.clusterByRange(li, 32, col("l_orderkey"))
        .write.mode("overwrite").parquet(rangeDir)
      Layout.clusterByZOrder(li, 32, col("l_orderkey"), col("l_partkey"))
        .write.mode("overwrite").parquet(zDir)
      val b = li.agg(min("l_orderkey"), max("l_orderkey"),
        min("l_partkey"), max("l_partkey")).head()
      val (okLo, okHi) = (b.getLong(0), b.getLong(1))
      val (pkLo, pkHi) = (b.getLong(2), b.getLong(3))
      // ~2% slices of each key space
      val okCut = (okLo + (okHi - okLo) / 50, okLo + (okHi - okLo) / 25)
      val pkCut = (pkLo + (pkHi - pkLo) / 50, pkLo + (pkHi - pkLo) / 25)
      // deterministic pruning measure: files whose [min,max] footer
      // stats overlap the cut (what row-group pruning gets to skip)
      def candidates(path: String, c: String, cut: (Long, Long)): Int =
        new java.io.File(path).listFiles()
          .filter(_.getName.endsWith(".parquet")).count { f =>
            val r = spark.read.parquet(f.getPath)
              .agg(min(col(c)), max(col(c))).head()
            r.getLong(0) <= cut._2 && r.getLong(1) >= cut._1
          }
      def probe(path: String, c: String, cut: (Long, Long)): String = {
        def once = timed(spark.read.parquet(path)
          .filter(col(c).between(cut._1, cut._2))
          .agg(sum("l_extendedprice")).collect())._2
        once // warm
        f"${candidates(path, c, cut)}%d/32 files, ${Seq(once, once).min}%.2fs"
      }
      println(s"[scale-smoke] LAYOUT orderkey-probe: " +
        s"flat=${probe(flatDir, "l_orderkey", okCut)}  " +
        s"range=${probe(rangeDir, "l_orderkey", okCut)}  " +
        s"zorder=${probe(zDir, "l_orderkey", okCut)}")
      println(s"[scale-smoke] LAYOUT partkey-probe:  " +
        s"flat=${probe(flatDir, "l_partkey", pkCut)}  " +
        s"range=${probe(rangeDir, "l_partkey", pkCut)}  " +
        s"zorder=${probe(zDir, "l_partkey", pkCut)}")
    }
    if (args.contains("containment")) {
      // Bounded-posting containment growth curve: byte-identical f×
      // replicas multiply every shingle's df by f — the maximal
      // true-duplication regime. The inverted-index design's pair
      // expansion is bounded by cap·postings (postings grow f×, the cap
      // is fixed), so WALL must track that linear-with-constant bound,
      // never the 1:4:16 of a pairwise design. Measured: the pair COUNT
      // actually shrinks as f grows (7708 → 1858 at 2×) — replication
      // pushes formerly-informative shingles over the fixed cap, which
      // is the cap doing exactly its job (a deployment re-tunes cap to
      // its corpus's duplication level); wall stays flat. The shingling
      // scan is checkpointed outside the timing: the smoke measures the
      // JOIN design, not the shared tokenize kernel.
      import graft.functions.ShingleFunctions._
      import graft.operators.Dedup
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text")
      val curve = Seq(1, 2, 4).map { f =>
        val postings = docs
          .crossJoin(spark.range(f).select(col("id").as("_r")))
          .withColumn("doc_id", col("doc_id") + col("_r") * 10000000L)
          .drop("_r").repartition(64)
          .select(col("doc_id"),
            explode(array_distinct(shingle_hashes(col("text"), 3))).as("s"))
          .localCheckpoint()
        val n = postings.count()
        Dedup.containmentPairs(postings, Dedup.ContainmentDfCap).count() // warm
        val runs = (1 to 2).map(_ =>
          timed(Dedup.containmentPairs(postings, Dedup.ContainmentDfCap).count()))
        val (pairs, secs) = (runs.head._1, runs.map(_._2).min)
        assert(pairs > 0, "containment produced ZERO pairs — smoke measured nothing")
        println(f"[scale-smoke] CONTAINMENT factor=$f postings=$n pairs=$pairs " +
          f"time=${secs}%.1fs (best of 2, warmed)")
        (f, secs)
      }
      val growth = curve.last._2 / curve.head._2
      println(f"[scale-smoke] CONTAINMENT 4x/1x wall ratio=${growth}%.1f " +
        "(cap-bounded linear envelope ~4-8, quadratic=16)")
      assert(growth < 12.0,
        f"containment grew ${growth}%.1f× at 4× postings — the cap is not bounding")
    }

    if (args.contains("dsir")) {
      // DSIR cost curve: the fitted model is `buckets` longs at ANY
      // corpus size, and per-doc work collapses to ≤ buckets cells
      // before anything aggregates globally — so fit+score wall must
      // grow ~linearly in docs. tf is checkpointed outside the timing
      // (the wired query reads the persisted gram-counts table; the
      // smoke isolates the DSIR aggregates themselves).
      import graft.functions.TextFunctions._
      import graft.operators.Curation
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text", "source")
      val curve = Seq(1, 2, 4).map { f =>
        val rep = docs
          .crossJoin(spark.range(f).select(col("id").as("_r")))
          .withColumn("doc_id", col("doc_id") + col("_r") * 10000000L)
          .drop("_r").repartition(64)
          .localCheckpoint()
        val tf = rep
          .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("cnt"))
          .localCheckpoint()
        val target = rep.select(col("doc_id"),
          (col("source") === "src0").as("is_target")).localCheckpoint()
        val n = rep.count()
        Curation.dsirScore(tf, target, Curation.DsirBuckets).count() // warm
        val runs = (1 to 2).map(_ =>
          timed(Curation.dsirScore(tf, target, Curation.DsirBuckets).count()))
        val (scored, secs) = (runs.head._1, runs.map(_._2).min)
        assert(scored == n, s"DSIR scored $scored of $n docs")
        println(f"[scale-smoke] DSIR factor=$f docs=$n " +
          f"time=${secs}%.1fs (best of 2, warmed)")
        (f, secs)
      }
      val growth = curve.last._2 / curve.head._2
      println(f"[scale-smoke] DSIR 4x/1x wall ratio=${growth}%.1f (linear=4)")
      assert(growth < 10.0,
        f"DSIR grew ${growth}%.1f× at 4× corpus — fit/score is not linear")
    }

    if (args.contains("dpp")) {
      // Runtime-filtering smoke: fact = orders replicated f×, written
      // range-partitioned on o_orderkey so each of the 64 row groups
      // covers a disjoint key band; dim = a selective slice of the
      // first band. With dynamic pruning ON the DSv2 scan must drop
      // row groups from footer stats at the join-time re-plan; the
      // same join with pruning OFF reads everything — the measured gap
      // is what SupportsRuntimeFiltering buys a 100 TB fact scan.
      import graft.sources.{Dsv2RuntimeProbe, GraftParquetProvider}
      val dDir = "/tmp/graft-smoke-dpp"
      val dppConfs = Seq(
        "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly" -> "false",
        "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false")
      val saved = (dppConfs.map(_._1) :+
        "spark.sql.optimizer.dynamicPartitionPruning.enabled")
        .map(k => k -> spark.conf.getOption(k))
      try {
        replicate(spark.read.parquet(s"$dir/orders.parquet")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            // the testdata orders table has no comment column —
            // synthesize a wide payload so the probe side carries
            // realistic per-row bytes
            rpad(concat_ws(",", col("o_orderkey"), col("o_custkey"),
              col("o_totalprice")), 64, "x").as("payload")))
          .repartitionByRange(64, col("o_orderkey"))
          .write.mode("overwrite").parquet(s"$dDir/fact")
        val nf = spark.read.parquet(s"$dDir/fact").count()
        dppConfs.foreach { case (k, v) => spark.conf.set(k, v) }
        val fmt = classOf[GraftParquetProvider].getName
        val dim = spark.range(6000).select((col("id") + 1).as("k"))
          .filter(col("k") % 4 === 0) // selective build side
        // aggregate over the wide column so the probe side must READ
        // real bytes — a count() alone column-prunes to the join key
        // and hides the IO that pruning saves
        def joinCount(): Long =
          spark.read.format(fmt).load(s"$dDir/fact")
            .join(broadcast(dim), col("o_orderkey") === col("k"))
            .agg(count(lit(1)), sum(length(col("payload"))))
            .collect().head.getLong(0)
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
        Dsv2RuntimeProbe.forPath(s"$dDir/fact").reset()
        joinCount() // warm
        val (onRows, onS) = timed(joinCount())
        val (planned, kept) =
          (Dsv2RuntimeProbe.forPath(s"$dDir/fact").lastPlanned.get(),
            Dsv2RuntimeProbe.forPath(s"$dDir/fact").lastKept.get())
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
        joinCount() // warm
        val (offRows, offS) = timed(joinCount())
        assert(onRows == offRows, s"DPP changed the answer: $onRows vs $offRows")
        assert(kept < planned && kept > 0,
          s"runtime filter kept $kept of $planned row groups")
        println(f"[scale-smoke] DPP factor=$factor fact=$nf dimKeys=1500 " +
          f"rowGroups kept=$kept/$planned wall on=${onS}%.2fs off=${offS}%.2fs " +
          f"(${offS / onS}%.1fx)")
      } finally {
        saved.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(new java.io.File(dDir))
      }
    }

    if (args.contains("dsv2write")) {
      // Write-path smoke: the DSv2 writer's only serial section is the
      // driver-side job commit (staging verify + optional truncate +
      // one rename per task file). Write the SAME bytes as 16 / 64 /
      // 256 files: total wall should track data volume (flat across
      // file counts), while the measured commit wall grows only with
      // the file count and stays milliseconds-scale — the evidence
      // that a 1000-task write is bottlenecked by data, not commit.
      import graft.sources.{Dsv2WriteProbe, GraftParquetProvider}
      val fmt = classOf[GraftParquetProvider].getName
      val wDir = "/tmp/graft-smoke-dsv2write"
      try {
        val src = replicate(spark.read.parquet(s"$dir/orders.parquet")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderstatus"))).localCheckpoint()
        val n = src.count()
        Seq(16, 64, 256).foreach { files =>
          val p = s"$wDir/f$files"
          val (_, wall) = timed {
            src.repartition(files).write.format(fmt)
              .option("graft.schema", src.schema.toDDL)
              .mode("append").save(p)
          }
          val commitMs = Dsv2WriteProbe.forPath(p).lastCommitMillis.get()
          require(Dsv2WriteProbe.forPath(p).lastCommittedFiles.get() == files,
            s"expected $files committed files")
          require(spark.read.format(fmt).load(p).count() == n,
            "write round-trip row count")
          // overwrite: retire `files` old in the manifest + rename `files` new
          val (_, owWall) = timed {
            src.repartition(files).write.format(fmt)
              .mode("overwrite").save(p)
          }
          val owCommitMs = Dsv2WriteProbe.forPath(p).lastCommitMillis.get()
          require(Dsv2WriteProbe.forPath(p).lastTruncated.get() == files,
            s"expected $files truncated files")
          println(f"[scale-smoke] dsv2write rows=$n files=$files " +
            f"wall=${wall}%.2fs commit=${commitMs}ms " +
            f"overwrite=${owWall}%.2fs owCommit=${owCommitMs}ms")
        }
        // vs the builtin writer on the same bytes (r18: the direct
        // InternalRow→RecordConsumer write support — no per-row Group
        // materialization)
        def medW(f: => Unit): Double = {
          f
          Seq(1, 2, 3).map { _ =>
            val (_, w) = timed(f); w
          }.sorted.apply(1)
        }
        val b = medW(src.repartition(64).write.mode("overwrite")
          .parquet(s"$wDir/builtin"))
        val g = medW(src.repartition(64).write.format(fmt)
          .option("graft.schema", src.schema.toDDL)
          .mode("overwrite").save(s"$wDir/graft"))
        println(f"[scale-smoke] dsv2write-cmp rows=$n files=64 " +
          f"builtin=${b}%.2fs graft=${g}%.2fs (graft_vs_builtin=${g / b}%.2fx)")
      } finally {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(new java.io.File(wDir))
      }
    }

    if (args.contains("spj")) {
      // Storage-partitioned join win, measured THROUGH the connector
      // (r17): the same two clustered+sorted catalog tables full-outer
      // joined twice — once with v2 bucketing enabled (SPJ: zero
      // exchanges, zero sorts) and once disabled (the classic
      // exchange+sort SMJ). Same bytes, same join, same result; the
      // delta is exactly the network+sort cost the declared layout
      // eliminates — the r07 bucketed-catalog 2.2× restated through
      // the DSv2 seam.
      import graft.sources.GraftCatalog
      val sRoot = "/tmp/graft-smoke-spj"
      val cat = "gspjs"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", sRoot)
      val savedB = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
      val savedT = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val base = replicate(spark.read.parquet(s"$dir/orders.parquet")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")))
        def wr(df: DataFrame, t: String): Unit =
          df.writeTo(s"$cat.db.$t")
            .option("graft.clusterBy", "o_orderkey")
            .option("graft.numPartitions", "32")
            .option("graft.sortWithin", "o_orderkey")
            .create()
        wr(base.filter(col("o_orderkey") % 97 =!= 0), "sl")
        wr(base.filter(col("o_orderkey") % 89 =!= 0)
          .withColumn("o_totalprice", when(col("o_orderkey") % 13 === 0,
            col("o_totalprice") + 1.0d).otherwise(col("o_totalprice"))), "sr")
        def classify(): DataFrame =
          spark.table(s"$cat.db.sl").as("b")
            .join(spark.table(s"$cat.db.sr").as("m"),
              Seq("o_orderkey"), "full_outer")
            .select(when(col("b.o_custkey").isNull, "MISSING_IN_BASE")
              .when(col("m.o_custkey").isNull, "MISSING_IN_MV")
              .when(!(col("b.o_totalprice") <=> col("m.o_totalprice")),
                "INCONSISTENT").otherwise("CONSISTENT").as("problem"))
            .groupBy("problem").count()
        def med(tag: String): Double = {
          def run(): Double = {
            val (_, w) = timed(classify().write.format("noop")
              .mode("overwrite").save())
            w
          }
          run(); val m = Seq(run(), run(), run()).sorted.apply(1)
          println(f"[scale-smoke] spj $tag wall=${m}%.2fs")
          m
        }
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
        val off = med("bucketing=off (exchange+sort SMJ)")
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        val on = med("bucketing=on  (zero-exchange zero-sort)")
        println(f"[scale-smoke] spj speedup=${off / on}%.2fx")
        // the two configurations must agree exactly
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
        val a = classify().collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        val b = classify().collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
        require(a.sameElements(b), s"SPJ changed the answer: ${a.toSeq} vs ${b.toSeq}")
      } finally {
        savedB.fold(spark.conf.unset("spark.sql.sources.v2.bucketing.enabled"))(
          spark.conf.set("spark.sql.sources.v2.bucketing.enabled", _))
        savedT.fold(spark.conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
        spark.conf.unset(s"spark.sql.catalog.$cat")
        spark.conf.unset(s"spark.sql.catalog.$cat.root")
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(new java.io.File(sRoot))
      }
    }

    if (args.contains("merge")) {
      // Damage-proportional copy-on-write (r17): a catalog table laid
      // out as 32 disjoint-keyrange files (the ordered-write layout),
      // then a MERGE whose matches are confined to 1 / 8 / 32 files.
      // Runtime group filtering must rewrite ONLY the touched files —
      // the claim: replaced-file count == touched count exactly, and
      // wall tracks the touched fraction, not the table size. This is
      // the property that makes SQL-served repair viable at 100 TB:
      // repair cost follows damage, like the native RepairApplier.
      import graft.sources.{Dsv2WriteProbe, GraftCatalog}
      val mRoot = "/tmp/graft-smoke-merge"
      val cat = "gsmk"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", mRoot)
      try {
        val src = replicate(spark.read.parquet(s"$dir/orders.parquet")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")))
          .localCheckpoint()
        Seq(1, 8, 32).foreach { touch =>
          val t = s"m$touch"
          src.writeTo(s"$cat.db.$t")
            .option("graft.orderBy", "o_orderkey")
            .option("graft.numPartitions", "32")
            .create()
          // keys confined to the first `touch` files of the range
          // layout, straight from the written files' own extents
          val extents = spark.table(s"$cat.db.$t")
            .select(col("o_orderkey"), col("_file").as("f"))
            .groupBy("f").agg(min("o_orderkey").as("lo"),
              max("o_orderkey").as("hi"))
            .orderBy("lo").collect()
          val hi = extents(touch - 1).getLong(2)
          // source derives from the INPUT frame, not the target table
          // (a self-referencing merge source is not plannable), and is
          // broadcast-hinted: Spark's runtime group filter prunes via
          // a dynamic subquery that REUSES the merge join's broadcast
          // (reuseBroadcastOnly) — a damage-proportional repair source
          // is exactly the broadcastable side at 100 TB
          broadcast(src.filter(col("o_orderkey") <= hi)
            .withColumn("o_totalprice", col("o_totalprice") + 1.0d))
            .createOrReplaceTempView("smoke_merge_src")
          val (_, wall) = timed {
            spark.sql(
              s"""MERGE INTO $cat.db.$t t USING smoke_merge_src s
                 |ON t.o_orderkey = s.o_orderkey
                 |WHEN MATCHED THEN UPDATE SET
                 |  t.o_totalprice = s.o_totalprice""".stripMargin)
          }
          val replaced = Dsv2WriteProbe.forPath(s"$mRoot/db/$t")
            .lastTruncated.get()
          require(replaced == touch,
            s"expected exactly $touch files replaced, got $replaced")
          println(f"[scale-smoke] merge files=32 touched=$touch " +
            f"replaced=$replaced wall=${wall}%.2fs")
          spark.catalog.dropTempView("smoke_merge_src")
        }
        // SMJ variant (r17 verdict #2): the same 8-file-damage MERGE
        // with broadcasting DISABLED, so the command join plans as a
        // SortMergeJoin and no broadcast exists for the group-filter
        // subquery to reuse. Spark plans the matching-rows subquery
        // with onlyInBroadcast=false, so it executes STANDALONE — the
        // claim: damage-proportionality survives ANY source size, not
        // just broadcastable repair sources.
        locally {
          val touch = 8
          val t = "msmj"
          src.writeTo(s"$cat.db.$t")
            .option("graft.orderBy", "o_orderkey")
            .option("graft.numPartitions", "32")
            .create()
          val extents = spark.table(s"$cat.db.$t")
            .select(col("o_orderkey"), col("_file").as("f"))
            .groupBy("f").agg(min("o_orderkey").as("lo"),
              max("o_orderkey").as("hi"))
            .orderBy("lo").collect()
          val hi = extents(touch - 1).getLong(2)
          src.filter(col("o_orderkey") <= hi)
            .withColumn("o_totalprice", col("o_totalprice") + 1.0d)
            .createOrReplaceTempView("smoke_merge_src_smj")
          val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          val (_, wall) = try timed {
            spark.sql(
              s"""MERGE INTO $cat.db.$t t USING smoke_merge_src_smj s
                 |ON t.o_orderkey = s.o_orderkey
                 |WHEN MATCHED THEN UPDATE SET
                 |  t.o_totalprice = s.o_totalprice""".stripMargin)
          } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
          val replaced = Dsv2WriteProbe.forPath(s"$mRoot/db/$t")
            .lastTruncated.get()
          require(replaced == touch,
            s"SMJ merge: expected exactly $touch files replaced, got $replaced")
          println(f"[scale-smoke] merge-smj files=32 touched=$touch " +
            f"replaced=$replaced wall=${wall}%.2fs (no broadcast anywhere)")
          spark.catalog.dropTempView("smoke_merge_src_smj")
        }
        // MERGE-ON-READ variant (r17 verdict #7): PER-MILLE damage —
        // 1000 rows inside ONE file of 32. Copy-on-write's floor is
        // the whole touched file; merge-on-read writes a deletion
        // vector + a 1000-row insert file. The write bytes are the
        // claim: repair cost proportional to damaged ROWS.
        locally {
          val t = "mmor"
          spark.sql(
            s"""CREATE TABLE $cat.db.$t (${src.schema.toDDL})
               |TBLPROPERTIES ('graft.merge.mode'='merge-on-read')"""
              .stripMargin)
          src.writeTo(s"$cat.db.$t")
            .option("graft.orderBy", "o_orderkey")
            .option("graft.numPartitions", "32")
            .append()
          val dirF = new java.io.File(s"$mRoot/db/$t")
          def listing(): Map[String, Long] =
            Option(dirF.listFiles()).getOrElse(Array.empty)
              .map(f => f.getName -> f.length).toMap
          val before = listing()
          val extents = spark.table(s"$cat.db.$t")
            .select(col("o_orderkey"), col("_file").as("f"))
            .groupBy("f").agg(min("o_orderkey").as("lo"))
            .orderBy("lo").collect()
          val lo = extents(0).getLong(1)
          val cowFileBytes = new java.io.File(
            new java.net.URI(extents(0).getString(0)).getPath).length
          broadcast(src.filter(col("o_orderkey") >= lo &&
              col("o_orderkey") < lo + 1000L)
            .withColumn("o_totalprice", col("o_totalprice") + 1.0d))
            .createOrReplaceTempView("smoke_merge_src_mor")
          val (_, wall) = timed {
            spark.sql(
              s"""MERGE INTO $cat.db.$t t USING smoke_merge_src_mor s
                 |ON t.o_orderkey = s.o_orderkey
                 |WHEN MATCHED THEN UPDATE SET
                 |  t.o_totalprice = s.o_totalprice""".stripMargin)
          }
          val probe = Dsv2WriteProbe.forPath(s"$mRoot/db/$t")
          require(probe.lastTruncated.get() == 0 &&
            probe.lastDvPositions.get() == 1000L,
            s"expected 1000 position deletes and no rewrite, got " +
              s"dv=${probe.lastDvPositions.get()} " +
              s"truncated=${probe.lastTruncated.get()}")
          val newBytes = listing().filterNot { case (n, _) =>
            before.contains(n)
          }.values.sum
          require(newBytes * 10 < cowFileBytes,
            s"merge-on-read wrote $newBytes bytes, not << $cowFileBytes")
          println(f"[scale-smoke] merge-mor files=32 touchedRows=1000 " +
            f"morBytes=$newBytes cowFloorBytes=$cowFileBytes " +
            f"(${cowFileBytes.toDouble / newBytes}%.0fx less write) " +
            f"wall=${wall}%.2fs")
          // READ TAX of the deletion vectors (r18: none — the columnar
          // decoders skip deleted runs; the claim is a full scan of the
          // DV-carrying table within noise of a clean-table scan)
          def scanWall(): Double = {
            val (_, w) = timed(spark.table(s"$cat.db.$t")
              .write.format("noop").mode("overwrite").save())
            w
          }
          scanWall()
          val dvScan = Seq(scanWall(), scanWall(), scanWall()).sorted.apply(1)
          val clean = {
            def w(): Double = {
              val (_, x) = timed(spark.table(s"$cat.db.m8")
                .write.format("noop").mode("overwrite").save())
              x
            }
            w(); Seq(w(), w(), w()).sorted.apply(1)
          }
          println(f"[scale-smoke] merge-mor-scan dv=${dvScan}%.2fs " +
            f"clean=${clean}%.2fs (tax=${dvScan / clean}%.2fx)")
          spark.catalog.dropTempView("smoke_merge_src_mor")
        }
      } finally {
        spark.conf.unset(s"spark.sql.catalog.$cat")
        spark.conf.unset(s"spark.sql.catalog.$cat.root")
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(new java.io.File(mRoot))
      }
    }

    if (args.contains("pageindex")) {
      // Column-index skipping at scale (r17 verdict #4): a sorted
      // multi-million-row table whose row groups are ~70 pages each; a
      // narrow band predicate must decode only the candidate PAGES of
      // the one kept row group — the next 10× after row-group pruning
      // for selective scans at 100 TB. rowsAdmitted is counted by the
      // columnar readers from parquet's filtered row groups.
      import graft.sources.{Dsv2RuntimeProbe, GraftParquetProvider}
      val fmt = classOf[GraftParquetProvider].getName
      val pDir = "/tmp/graft-smoke-pageindex"
      try {
        replicate(spark.read.parquet(s"$dir/orders.parquet")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")))
          .orderBy("o_orderkey").coalesce(2)
          .write.mode("overwrite").parquet(pDir)
        val n = spark.read.parquet(pDir).count()
        val ext = spark.read.parquet(pDir)
          .agg(min("o_orderkey"), max("o_orderkey")).head()
        val lo = ext.getLong(0) + (ext.getLong(1) - ext.getLong(0)) / 3
        val hi = lo + 1000L
        val probe = Dsv2RuntimeProbe.forPath(pDir)
        probe.reset()
        val (cnt, wall) = timed(spark.read.format(fmt).load(pDir)
          .filter(col("o_orderkey") >= lo && col("o_orderkey") <= hi)
          .count())
        val admitted = probe.rowsAdmitted.get()
        println(f"[scale-smoke] pageindex rows=$n " +
          f"kept_groups=${probe.lastKept.get()}/${probe.lastPlanned.get()} " +
          f"admitted=$admitted matched=$cnt wall=${wall}%.2fs " +
          f"(admitted/total=${admitted.toDouble / n}%.5f)")
        require(cnt > 0L, "band matched no rows")
        require(admitted > 0L && admitted < n / 10,
          s"page index admitted $admitted of $n rows")
      } finally {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(new java.io.File(pDir))
      }
    }

    if (args.contains("pageindex-dv")) {
      // Page-index skipping on a DELETION-VECTOR-carrying table (r18
      // verdict #1, the one remaining "plan you wouldn't want at
      // 100×"): a selective band on a merge-on-read table used to
      // decode every live row, because DV application forced the
      // unfiltered sequential read. Now the filtered read's
      // retained-row-index stream merges against the sorted DV, so
      // admitted rows stay proportional to the band — not the table.
      import graft.sources.{Dsv2Parquet, Dsv2RuntimeProbe, GraftParquetProvider}
      val fmt = classOf[GraftParquetProvider].getName
      val pDir = "/tmp/graft-smoke-pageindex-dv"
      try {
        replicate(spark.read.parquet(s"$dir/orders.parquet")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")))
          .orderBy("o_orderkey").coalesce(2)
          .write.mode("overwrite")
          // 2k-row pages: the probe file then carries ~150 pages —
          // the page-to-file ratio a production-sized (128MB+) file
          // has at the DEFAULT 20k-row page limit, so the skipping
          // fraction below reflects a 100TB table, not the
          // granularity floor of a small file with a handful of pages
          .option("parquet.page.row.count.limit", "2000")
          .parquet(pDir)
        val n = spark.read.parquet(pDir).count()
        // delete ~1% of each file: every 100th position
        val fs = new org.apache.hadoop.fs.Path(pDir)
          .getFileSystem(Dsv2Parquet.readConf)
        var dvRows = 0L
        Dsv2Parquet.dataFiles(pDir, Dsv2Parquet.readConf).foreach { f =>
          val rows = Dsv2Parquet.fileFooter(f, Dsv2Parquet.readConf)
            ._2.map(_.getRowCount).sum
          val dels = (0L until rows by 100L).toArray
          dvRows += dels.length
          Dsv2Parquet.writeDvSidecar(f.getPath.getParent,
            f.getPath.getName, dels, Dsv2Parquet.readConf)
        }
        val live = n - dvRows
        val ext = spark.read.parquet(pDir)
          .agg(min("o_orderkey"), max("o_orderkey")).head()
        val lo = ext.getLong(0) + (ext.getLong(1) - ext.getLong(0)) / 3
        val hi = lo + 1000L
        val probe = Dsv2RuntimeProbe.forPath(pDir)
        probe.reset()
        val (cnt, wall) = timed(spark.read.format(fmt).load(pDir)
          .filter(col("o_orderkey") >= lo && col("o_orderkey") <= hi)
          .count())
        val admitted = probe.rowsAdmitted.get()
        // cross-check the DV semantics: matched = band minus deletions
        val expect = spark.read.parquet(pDir)
          .filter(col("o_orderkey") >= lo && col("o_orderkey") <= hi)
          .count() * 99L / 100L
        println(f"[scale-smoke] pageindex-dv rows=$n live=$live " +
          f"kept_groups=${probe.lastKept.get()}/${probe.lastPlanned.get()} " +
          f"admitted=$admitted matched=$cnt wall=${wall}%.2fs " +
          f"(admitted/live=${admitted.toDouble / live}%.5f)")
        require(cnt > 0L && math.abs(cnt - expect) <= expect / 10 + 20,
          s"band matched $cnt, expected ≈$expect")
        require(admitted > 0L && admitted < live / 10,
          s"DV'd selective scan admitted $admitted of $live live rows " +
            "— page-index skipping disengaged")
      } finally {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(new java.io.File(pDir))
      }
    }

    if (args.contains("eqdelete")) {
      // EQUALITY-DELETE scale shape: the write side must be
      // damage-proportional (sidecar of keys + one CAS — never a scan
      // or rewrite), the read side pays a bounded bloom-gated probe
      // tax ONLY while sidecars are live, and compact_table returns
      // the table to the vectorized zero-probe path. The tax window is
      // repair-to-next-maintenance; this smoke measures all three
      // phases on the same table.
      import graft.sources.{CommitLog, Dsv2Parquet, EqualityRepair, GraftMaintenance, GraftParquetProvider}
      val fmt = classOf[GraftParquetProvider].getName
      val pDir = "/tmp/graft-smoke-eqdelete"
      try {
        replicate(spark.read.parquet(s"$dir/orders.parquet")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")))
          .withColumn("rid", monotonically_increasing_id())
          .coalesce(4)
          .write.mode("overwrite").parquet(pDir)
        CommitLog.enable(pDir, Dsv2Parquet.readConf)
        val n = spark.read.format(fmt).load(pDir).count()
        val (cleanCnt, cleanWall) = timed(spark.read.format(fmt).load(pDir)
          .agg(sum("o_totalprice")).head())
        // repair 0.1% of keys: delete + re-insert (the upsert shape)
        val victims = spark.read.format(fmt).load(pDir)
          .filter(col("rid") % 1000 === 7).localCheckpoint()
        val nVictims = victims.count()
        val (_, commitWall) = timed(EqualityRepair.commit(spark, pDir,
          Seq("rid"), victims.select("rid"), victims))
        val snap = CommitLog.latest(pDir, Dsv2Parquet.readConf).get
        require(snap.eqFiles.nonEmpty, "eq commit published no sidecars")
        val (probedN, probedWall) = timed(
          spark.read.format(fmt).load(pDir).count())
        require(probedN == n,
          s"upsert must preserve the row count: $probedN vs $n")
        val (_, foldWall) = timed(
          GraftMaintenance.compactDeletionVectors(spark, pDir))
        require(CommitLog.latest(pDir, Dsv2Parquet.readConf)
          .get.eqFiles.isEmpty, "fold left sidecars live")
        val (foldedN, foldedWall) = timed(
          spark.read.format(fmt).load(pDir).count())
        require(foldedN == n, s"fold changed the row count: $foldedN vs $n")
        println(f"[scale-smoke] eqdelete rows=$n keys=$nVictims " +
          f"commit=${commitWall}%.2fs clean=${cleanWall}%.2fs " +
          f"probed=${probedWall}%.2fs (tax=${probedWall / cleanWall}%.2fx) " +
          f"fold=${foldWall}%.2fs folded=${foldedWall}%.2fs " +
          f"cleanAgg=${cleanCnt.getDouble(0)}%.1f")
      } finally {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(new java.io.File(pDir))
      }
    }

    if (args.contains("logcontention")) {
      // COMMIT-LOG CONTENTION: the CAS retry loop's throughput when
      // many writers race one table — the worst case for an optimistic
      // protocol (every loser re-reads + re-publishes). Measures
      // commits/sec at 16-way contention and proves zero lost commits
      // (version count == commit count) and exact final state.
      import graft.sources.{CommitLog, Dsv2Parquet}
      val pDir = "/tmp/graft-smoke-logcontention"
      new java.io.File(pDir).mkdirs()
      try {
        val conf2 = Dsv2Parquet.readConf
        require(CommitLog.tryCommit(pDir,
          CommitLog.Snapshot(1L, Set.empty, Set.empty), conf2))
        val threads = 16
        val perThread = 25
        val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
        val barrier = new java.util.concurrent.CyclicBarrier(threads)
        val t0 = System.nanoTime()
        val futs = (0 until threads).map { t =>
          pool.submit(new Runnable {
            def run(): Unit = {
              barrier.await()
              (0 until perThread).foreach { i =>
                CommitLog.commitUpdate(pDir, conf2, operation = "bench")(
                  cur => Some(cur.copy(
                    dataFiles = cur.dataFiles + s"f-$t-$i.parquet"))): Unit
              }
            }
          })
        }
        futs.foreach(_.get())
        pool.shutdown()
        val wall = (System.nanoTime() - t0) / 1e9
        val total = threads * perThread
        val latest = CommitLog.latest(pDir, conf2).get
        require(latest.version == 1L + total,
          s"lost commits: version ${latest.version} != ${1 + total}")
        require(latest.dataFiles.size == total,
          s"lost updates: ${latest.dataFiles.size} != $total")
        println(f"[scale-smoke] logcontention threads=$threads " +
          f"commits=$total wall=${wall}%.2fs " +
          f"(${total / wall}%.0f commits/s under full contention, " +
          "zero lost)")
      } finally {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(new java.io.File(pDir))
      }
    }

    if (args.contains("streammaint")) {
      // STREAMING × MAINTENANCE: a continuous reader on a commit-logged
      // table must deliver each row exactly once while compaction
      // cycles run underneath — at fleet scale compaction is constant,
      // and a changefeed that re-streams the table per cycle multiplies
      // its output by the cycle count. Measures delivered-row growth
      // across repeated DV + compact cycles (must be zero) and that
      // fresh appends still stream.
      import graft.sources.{CommitLog, Dsv2Parquet, GraftMaintenance, GraftParquetProvider}
      val fmt = classOf[GraftParquetProvider].getName
      val pDir = "/tmp/graft-smoke-streammaint"
      val ckpt = "/tmp/graft-smoke-streammaint-ckpt"
      val sink = "smoke_streammaint"
      try {
        spark.read.parquet(s"$dir/orders.parquet")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .withColumn("rid", monotonically_increasing_id())
          .coalesce(4)
          .write.format(fmt)
          .option(Dsv2Parquet.SchemaOption,
            "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice " +
              "DOUBLE, rid BIGINT")
          .mode("append").save(pDir)
        CommitLog.enable(pDir, Dsv2Parquet.readConf)
        val n = spark.read.format(fmt).load(pDir).count()
        val q = spark.readStream.format(fmt).load(pDir)
          .writeStream.outputMode("append").format("memory").queryName(sink)
          .option("checkpointLocation", ckpt).start()
        try {
          q.processAllAvailable()
          require(spark.table(sink).count() == n, "initial drain short")
          val cycles = 10
          val (_, maintWall) = timed {
            (0 until cycles).foreach { c =>
              val fn = Dsv2Parquet.dataFiles(pDir, Dsv2Parquet.readConf)
                .head.getPath.getName
              val dv = Dsv2Parquet.writeDvSidecar(
                new org.apache.hadoop.fs.Path(pDir), fn,
                Array(c.toLong), Dsv2Parquet.readConf)
              CommitLog.commitUpdate(pDir, Dsv2Parquet.readConf,
                operation = "delta")(cur =>
                Some(cur.copy(dvFiles = cur.dvFiles + dv))): Unit
              require(GraftMaintenance.compactDeletionVectors(spark, pDir)
                >= 1, s"cycle $c compacted nothing")
              q.processAllAvailable()
            }
          }
          val afterMaint = spark.table(sink).count()
          require(afterMaint == n,
            s"maintenance re-delivered rows: $afterMaint vs $n " +
              s"(pre-fix this grows ~25%% of the table per cycle)")
          val fresh = 100000L
          spark.range(fresh).select((col("id") + 900000000L).as("o_orderkey"),
            col("id").as("o_custkey"),
            lit(1.0).as("o_totalprice"),
            (col("id") + 900000000L).as("rid"))
            .coalesce(1).write.format(fmt).mode("append").save(pDir)
          q.processAllAvailable()
          val afterAppend = spark.table(sink).count()
          require(afterAppend == n + fresh,
            s"fresh append mis-delivered: $afterAppend vs ${n + fresh}")
          println(f"[scale-smoke] streammaint rows=$n cycles=$cycles " +
            f"redelivered=0 maint+drain=${maintWall}%.2fs " +
            f"freshAppend=$fresh delivered=${afterAppend - n}")
        } finally {
          q.stop()
          spark.catalog.dropTempView(sink): Unit
        }
      } finally {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(new java.io.File(pDir)); rm(new java.io.File(ckpt))
      }
    }

    if (args.contains("binpack")) {
      // Small-file compaction: many tiny files are a per-scan task
      // tax (open + footer + schedule per file) that binpack folds
      // into ~target-sized files. Measures the same count before and
      // after the pack on a commit-logged table.
      import graft.sources.{CommitLog, Dsv2Parquet, GraftMaintenance, GraftParquetProvider}
      val fmt = classOf[GraftParquetProvider].getName
      val pDir = "/tmp/graft-smoke-binpack"
      try {
        replicate(spark.read.parquet(s"$dir/orders.parquet")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")))
          .repartition(256)
          .write.mode("overwrite").parquet(pDir)
        CommitLog.enable(pDir, Dsv2Parquet.readConf)
        val files0 = Dsv2Parquet.dataFiles(pDir, Dsv2Parquet.readConf).length
        val (n0, smallWall) = timed(spark.read.format(fmt).load(pDir)
          .agg(sum("o_totalprice")).head().getDouble(0))
        val (packed, packWall) = timed(GraftMaintenance.compactSmallFiles(
          spark, pDir, 128L * 1024 * 1024))
        val files1 = Dsv2Parquet.dataFiles(pDir, Dsv2Parquet.readConf).length
        val (n1, packedWall) = timed(spark.read.format(fmt).load(pDir)
          .agg(sum("o_totalprice")).head().getDouble(0))
        require(packed == files0 && files1 < files0 / 8,
          s"binpack left $files1 of $files0 files")
        require(math.abs(n0 - n1) < math.abs(n0) * 1e-9,
          s"binpack changed the aggregate: $n0 vs $n1")
        println(f"[scale-smoke] binpack files=$files0->$files1 " +
          f"pack=${packWall}%.2fs scan_small=${smallWall}%.2fs " +
          f"scan_packed=${packedWall}%.2fs " +
          f"(speedup=${smallWall / packedWall}%.2fx)")
      } finally {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(new java.io.File(pDir))
      }
    }

    if (args.contains("loghistory")) {
      // COMMIT-LOG history depth vs planning cost: reads take ONE
      // directory listing + ONE (cached-immutable) manifest read
      // regardless of how many versions exist — history depth must
      // not tax the scan. The listing does grow by one small entry
      // per retained version; expire_snapshots is the bound. This
      // smoke publishes 300 no-op versions between two identical
      // reads and then expires them.
      import graft.sources.{CommitLog, Dsv2Parquet, GraftMaintenance, GraftParquetProvider}
      val fmt = classOf[GraftParquetProvider].getName
      val pDir = "/tmp/graft-smoke-loghistory"
      try {
        replicate(spark.read.parquet(s"$dir/orders.parquet")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")))
          .coalesce(4)
          .write.mode("overwrite").parquet(pDir)
        val conf = Dsv2Parquet.readConf
        CommitLog.enable(pDir, conf)
        def read() = spark.read.format(fmt).load(pDir)
          .agg(sum("o_totalprice")).head().getDouble(0)
        val (a0, shallowWall) = timed(read())
        val (_, publishWall) = timed((1 to 300).foreach { _ =>
          CommitLog.commitUpdate(pDir, conf, "noop")(Some(_)): Unit
        })
        val depth = CommitLog.versions(
          new org.apache.hadoop.fs.Path(pDir), conf).length
        val (a1, deepWall) = timed(read())
        require(math.abs(a0 - a1) < math.abs(a0) * 1e-9,
          s"history depth changed the answer: $a0 vs $a1")
        val (expired, expireWall) = timed(
          GraftMaintenance.expireSnapshots(pDir, 1))
        val (a2, postWall) = timed(read())
        require(math.abs(a0 - a2) < math.abs(a0) * 1e-9,
          s"expire changed the answer: $a0 vs $a2")
        println(f"[scale-smoke] loghistory versions=$depth " +
          f"publish300=${publishWall}%.2fs scan_1v=${shallowWall}%.2fs " +
          f"scan_${depth}v=${deepWall}%.2fs " +
          f"(depth tax=${deepWall / shallowWall}%.2fx) " +
          f"expire=$expired files ${expireWall}%.2fs " +
          f"scan_post=${postWall}%.2fs")
      } finally {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(new java.io.File(pDir))
      }
    }

    if (args.contains("bloom")) {
      // Bloom-filter point lookup at scale: 6M rows, 32 UNSORTED files,
      // a high-cardinality string key (dictionary overflows to plain,
      // footer min/max spans everything) — the shape where stats,
      // dictionary, and page index all fail to prune. The bloom is the
      // only rung left: with it, parquet's open-time row-group filter
      // drops every group that provably lacks the key.
      import graft.sources.{Dsv2RuntimeProbe, GraftParquetProvider}
      val fmt = classOf[GraftParquetProvider].getName
      val bDir = "/tmp/graft-smoke-bloom"
      try {
        val src = replicate(spark.read.parquet(s"$dir/orders.parquet")
          .select(col("o_orderkey")))
          .select(col("o_orderkey").as("k"),
            concat(lit("u-"), col("o_orderkey")).as("s"))
        Seq(("with", true), ("without", false)).foreach { case (tag, on) =>
          val p = s"$bDir/$tag"
          val w = src.repartition(32).write.format(fmt)
            .option("graft.schema", "k BIGINT, s STRING")
            .mode("overwrite")
          (if (on) w.option("graft.bloomFor", "s")
            .option("graft.bloomNdv", "200000") else w).save(p)
          val probe = Dsv2RuntimeProbe.forPath(p)
          probe.reset()
          val (cnt, wall) = timed(spark.read.format(fmt).load(p)
            .filter(col("s") === "u-4242").count())
          require(cnt == 1L, s"bloom smoke ($tag): expected 1 row, got $cnt")
          println(f"[scale-smoke] bloom-$tag rows=6000000 files=32 " +
            f"admitted=${probe.rowsAdmitted.get()} wall=${wall}%.2fs")
        }
      } finally {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(new java.io.File(bDir))
      }
    }

    if (args.contains("dsv2scan")) {
      // Read-path smoke (r17): decode throughput of the three scan
      // implementations over the SAME bytes at 1× and factor× volume —
      // builtin (Spark's vectorized parquet source), the provider's
      // row reader (graft.vectorized=false, the r16 shape), and the
      // provider's ColumnarBatch reader. The claims: vec throughput
      // ≥ row throughput (the decode tax the vectorization removes),
      // and each reader's rows/s holds roughly FLAT as volume grows
      // (decode is scan-bound and embarrassingly parallel — the
      // property that makes the per-core tax the ONLY thing that
      // matters at 1000 executors).
      import graft.sources.GraftParquetProvider
      val fmt = classOf[GraftParquetProvider].getName
      val sDir = "/tmp/graft-smoke-dsv2scan"
      try {
        def med(f: () => DataFrame): Double = {
          def run(): Double = {
            val (_, w) = timed(f().write.format("noop")
              .mode("overwrite").save())
            w
          }
          run()
          Seq(run(), run(), run()).sorted.apply(1)
        }
        Seq(1, factor).foreach { fx =>
          val p = s"$sDir/x$fx"
          val src = spark.read.parquet(s"$dir/orders.parquet")
          (if (fx == 1) src else replicate(src))
            .write.mode("overwrite").parquet(p)
          val n = spark.read.parquet(p).count()
          val builtin = med(() => spark.read.parquet(p))
          val rowT = med(() => spark.read.format(fmt)
            .option("graft.vectorized", "false").load(p))
          val vecT = med(() => spark.read.format(fmt).load(p))
          require(spark.read.format(fmt).load(p).count() == n,
            "provider scan row count")
          println(f"[scale-smoke] dsv2scan rows=$n " +
            f"builtin=${builtin}%.2fs (${n / builtin / 1e6}%.1fM rows/s) " +
            f"row=${rowT}%.2fs (${n / rowT / 1e6}%.1fM rows/s) " +
            f"vec=${vecT}%.2fs (${n / vecT / 1e6}%.1fM rows/s) " +
            f"vec_vs_row=${rowT / vecT}%.2fx vec_vs_builtin=${vecT / builtin}%.2fx")
          // LOW-CARDINALITY STRING projection (r17 verdict #3): the
          // shape where the id-mode dictionary decode either holds the
          // line against the builtin reader or doesn't. All three
          // string columns here are dictionary-encoded by the writer.
          val strCols = Seq("o_orderstatus", "o_orderpriority")
          val builtinS = med(() => spark.read.parquet(p)
            .select(strCols.map(col): _*))
          val vecS = med(() => spark.read.format(fmt).load(p)
            .select(strCols.map(col): _*))
          val probe = graft.sources.Dsv2RuntimeProbe.forPath(p)
          probe.reset()
          spark.read.format(fmt).load(p).select(strCols.map(col): _*)
            .write.format("noop").mode("overwrite").save()
          println(f"[scale-smoke] dsv2scan-str rows=$n " +
            f"builtin=${builtinS}%.2fs vec=${vecS}%.2fs " +
            f"vec_vs_builtin=${vecS / builtinS}%.2fx " +
            f"dictChunks=${probe.dictChunks.get()}")
        }
      } finally {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(new java.io.File(sDir))
      }
    }

    if (args.contains("r21ab")) {
      // r22 (VERDICT #1): the r21 structural rewrites re-measured at
      // replication scale with the OLD forms kept callable — plan
      // evidence converted into wall + shuffle-bytes evidence. Each
      // pair asserts result equality first, then reports best-of-2
      // warmed walls and the shuffle bytes written per run (task-metric
      // sum — the §2.3 "shuffle fewer bytes" claim measured directly).
      import graft.operators.{Dedup, RelationalQueries}
      val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            if (te.taskMetrics != null)
              shuffleBytes.addAndGet(
                te.taskMetrics.shuffleWriteMetrics.bytesWritten): Unit
        })
      def execute(df: DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      def measured(f: => Unit): (Double, Long) = {
        Thread.sleep(200) // drain pending task-end events
        shuffleBytes.set(0)
        val t0 = System.nanoTime()
        f
        val s = (System.nanoTime() - t0) / 1e9
        Thread.sleep(200)
        (s, shuffleBytes.get)
      }
      def ab(name: String, oldDf: () => DataFrame, newDf: () => DataFrame,
          sortCols: Seq[String]): Unit = {
        val o = oldDf().orderBy(sortCols.map(col): _*).collect().toSeq
        val nw = newDf().orderBy(sortCols.map(col): _*).collect().toSeq
        assert(o == nw, s"$name: old/new results differ (${o.size} vs ${nw.size})")
        execute(oldDf()); execute(newDf()) // warm untimed
        def best2(f: () => DataFrame): (Double, Long) = {
          val rs = (1 to 2).map(_ => measured(execute(f())))
          rs.minBy(_._1)
        }
        val (os, ob) = best2(oldDf)
        val (ns, nb) = best2(newDf)
        println(f"[scale-smoke] R21AB $name factor=$factor " +
          f"old=${os}%.2fs/${ob / 1024 / 1024}%dMiB-shuffled " +
          f"new=${ns}%.2fs/${nb / 1024 / 1024}%dMiB-shuffled " +
          f"(wall ${os / ns}%.2fx, bytes ${ob.toDouble / math.max(1, nb)}%.2fx)")
      }

      // -- q2: min-over-window (wired) vs aggregate + self-join (r20) --
      // replicated facts, fixed dims (the `relational` smoke's regime)
      val abDir = "/tmp/graft-smoke-r21ab"
      def shift(df: DataFrame, key: String): DataFrame = df
        .crossJoin(spark.range(factor).select(col("id").as("_r")))
        .withColumn(key, col(key) + col("_r") * 1000000000L)
        .drop("_r").repartition(64)
      shift(spark.read.parquet(s"$dir/lineitem.parquet"), "l_orderkey")
        .write.mode("overwrite").parquet(s"$abDir/lineitem.parquet")
      Seq("supplier", "nation", "region", "part").foreach { n =>
        spark.read.parquet(s"$dir/$n.parquet")
          .write.mode("overwrite").parquet(s"$abDir/$n.parquet")
      }
      def t(n: String) = spark.read.parquet(s"$abDir/$n.parquet")
      def q2Old(): DataFrame = {
        val supEu = t("supplier")
          .join(t("nation"), col("s_nationkey") === col("n_nationkey"))
          .join(t("region").filter(col("r_name") === "EUROPE"),
            col("n_regionkey") === col("r_regionkey"))
          .select("s_suppkey", "s_name", "s_acctbal", "n_name")
        val rsupply = t("lineitem")
          .select("l_partkey", "l_suppkey", "l_extendedprice")
          .join(broadcast(supEu.select("s_suppkey")),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy("l_partkey", "l_suppkey")
          .agg(min(col("l_extendedprice")).as("cost"))
          .localCheckpoint()
        val minc = rsupply.groupBy(col("l_partkey").as("m_partkey"))
          .agg(min(col("cost")).as("m_cost"))
        rsupply
          .join(minc, col("l_partkey") === col("m_partkey") &&
            col("cost") === col("m_cost"))
          .join(broadcast(t("part").filter(col("p_size") === 15)
            .select("p_partkey")), col("l_partkey") === col("p_partkey"))
          .join(broadcast(supEu), col("l_suppkey") === col("s_suppkey"))
          .select(col("s_acctbal"), col("s_name"), col("n_name"),
            col("p_partkey"), col("cost"))
      }
      ab("q2_min_cost_supplier",
        q2Old _, () => RelationalQueries.q2MinCostSupplier(spark, abDir),
        Seq("p_partkey", "s_name"))

      // -- kmv: pair-dedup before the sketch (wired) vs mixed
      //    kmv+count_distinct aggregate (r20) — partkeys shifted per
      //    replica so the distinct space grows with the corpus
      val liRep = spark.read.parquet(s"$dir/lineitem.parquet")
        .select("l_returnflag", "l_partkey")
        .crossJoin(spark.range(factor).select(col("id").as("_r")))
        .withColumn("l_partkey", col("l_partkey") + col("_r") * 10000000L)
        .drop("_r").repartition(64).localCheckpoint()
      val kmv = udaf(new graft.functions.KmvDistinct(256),
        org.apache.spark.sql.Encoders.scalaLong)
      def kmvOld(): DataFrame = liRep
        .filter(col("l_partkey").isNotNull)
        .groupBy("l_returnflag")
        .agg(kmv(col("l_partkey")).as("kmv_distinct"),
          count_distinct(col("l_partkey")).as("exact_distinct"))
      def kmvNew(): DataFrame = liRep
        .filter(col("l_partkey").isNotNull)
        .dropDuplicates("l_returnflag", "l_partkey")
        .groupBy("l_returnflag")
        .agg(kmv(col("l_partkey")).as("kmv_distinct"),
          count(col("l_partkey")).as("exact_distinct"))
      ab("q_kmv_distinct", kmvOld _, kmvNew _, Seq("l_returnflag"))

      // -- substr-self keeper: stacked hash aggregates (wired, inside
      //    Dedup.substrSelfSpans) vs min(struct) whose non-mutable
      //    buffer forces SortAggregate (r20) — byte-identical replicas,
      //    the worst-case repetition regime of the substrself smoke
      val docsRep = spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text")
        .crossJoin(spark.range(factor).select(col("id").as("_r")))
        .withColumn("doc_id", col("doc_id") + col("_r") * 10000000L)
        .drop("_r").repartition(64).localCheckpoint()
      // docsRep is already 64-way partitioned — no spread needed
      val tiles = docsRep.filter(length(col("text")) >= 16)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, length(text) - 15, 16)," +
            " s -> struct(CAST(s AS BIGINT) AS pos," +
            " md5(substring(text, s, 16)) AS h))")).as("t"))
        .select(col("doc_id"), col("t.pos").as("pos"), col("t.h").as("h"))
        .localCheckpoint()
      def substrOld(): DataFrame = {
        val repeated = tiles.groupBy("h")
          .agg(count(lit(1)).as("n_occ"),
            min(struct(col("doc_id"), col("pos"))).as("keep"))
          .filter(col("n_occ") >= 2)
        tiles.join(repeated, Seq("h"))
          .filter(!(col("doc_id") === col("keep.doc_id") &&
            col("pos") === col("keep.pos")))
          .select(col("doc_id"), col("pos"),
            col("keep.doc_id").as("keep_doc_id"),
            col("keep.pos").as("keep_pos"), col("n_occ"))
      }
      def substrNew(): DataFrame = Dedup.spansFromTiles(tiles)
      ab("dedup_substr_self", substrOld _, substrNew _,
        Seq("doc_id", "pos"))

      // same pair at a LOW-repetition regime (each replica's tiles
      // alignment-shifted by _r mod 16 chars, so only ~factor/16
      // replicas share any tile — the realistic corpus shape, where
      // tiles are mostly unique): the stacked-HashAgg form's extra
      // (h, doc_id) partial rows vanish and what remains is the
      // SortAggregate's per-task digest sort vs none
      val docsShift = spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text")
        .crossJoin(spark.range(factor).select(col("id").as("_r")))
        .withColumn("text",
          concat(expr("repeat(' ', CAST(pmod(_r, 16) AS INT))"), col("text")))
        .withColumn("doc_id", col("doc_id") + col("_r") * 10000000L)
        .drop("_r").repartition(64).localCheckpoint()
      val tilesShift = docsShift.filter(length(col("text")) >= 16)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, length(text) - 15, 16)," +
            " s -> struct(CAST(s AS BIGINT) AS pos," +
            " md5(substring(text, s, 16)) AS h))")).as("t"))
        .select(col("doc_id"), col("t.pos").as("pos"), col("t.h").as("h"))
        .localCheckpoint()
      def substrOldShift(): DataFrame = {
        val repeated = tilesShift.groupBy("h")
          .agg(count(lit(1)).as("n_occ"),
            min(struct(col("doc_id"), col("pos"))).as("keep"))
          .filter(col("n_occ") >= 2)
        tilesShift.join(repeated, Seq("h"))
          .filter(!(col("doc_id") === col("keep.doc_id") &&
            col("pos") === col("keep.pos")))
          .select(col("doc_id"), col("pos"),
            col("keep.doc_id").as("keep_doc_id"),
            col("keep.pos").as("keep_pos"), col("n_occ"))
      }
      ab("dedup_substr_self_lowrep", substrOldShift _,
        () => Dedup.spansFromTiles(tilesShift), Seq("doc_id", "pos"))

      // variant C: ONE exchange — repartition the raw tiles by h
      // (HashPartitioning(h) satisfies the (h, doc_id) clustering, and
      // the second aggregate reuses it), then the same stacked codegen
      // HashAggregates. No digest sort anywhere, no second shuffle.
      def substrC(ts: DataFrame)(): DataFrame = {
        val perDoc = ts.repartition(col("h")).groupBy("h", "doc_id")
          .agg(count(lit(1)).as("c"), min(col("pos")).as("mpos"))
        val repeated = perDoc.groupBy("h")
          .agg(sum(col("c")).as("n_occ"),
            min(col("doc_id")).as("keep_doc_id"),
            min_by(col("mpos"), col("doc_id")).as("keep_pos"))
          .filter(col("n_occ") >= 2)
        ts.join(repeated, Seq("h"))
          .filter(!(col("doc_id") === col("keep_doc_id") &&
            col("pos") === col("keep_pos")))
          .select(col("doc_id"), col("pos"),
            col("keep_doc_id"), col("keep_pos"), col("n_occ"))
      }
      ab("dedup_substr_self_C", substrOld _, substrC(tiles) _,
        Seq("doc_id", "pos"))
      ab("dedup_substr_self_C_lowrep", substrOldShift _, substrC(tilesShift) _,
        Seq("doc_id", "pos"))
      locally {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(new java.io.File(abDir))
      }
    }

    spark.stop()
  }
}
