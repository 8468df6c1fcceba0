package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over the `embeddings` table (`Array[Float]`, 64-dim):
 * brute-force cosine top-k as the exactness baseline, and two 100 TB
 * scale paths — random-hyperplane LSH bucketing and an IVF index with a
 * persisted coarse quantizer.
 *
 * All cosine arithmetic runs in native codegen'd kernels
 * ([[graft.functions.CosineSim]] / [[graft.functions.CentroidAssign]])
 * that reproduce the sequential double-precision left fold DuckDB's
 * `list_cosine_similarity` uses, so the oracle matches to the last bit.
 */
object Similarity {

  private def emb(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** Cosine similarity over `array<float>` — a native codegen'd kernel
   * (graft.functions.CosineSim) reproducing the sequential left-fold
   * double-precision order of `aggregate(zip_with(...))` and of DuckDB's
   * `list_cosine_similarity`, so the oracle matches to the last bit while
   * the hot loop stays inside WholeStageCodegen (the composable HOF form
   * evaluates interpreted and allocates a zipped array per pair). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosine_sim(a, b)

  /**
   * Brute-force cosine top-k: every query vector (vec_id < 5) against
   * the whole table. The query side is tiny → broadcast; the big side
   * streams through in one scan-local pass, then a per-query top-k
   * (window + filter ≡ TakeOrdered per group). Ranking tie-break is
   * (cos desc, neighbor id) so output is total-ordered.
   */
  def simTopkBruteforce(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    e.select(col("vec_id").as("neighbor_id"), col("embedding").as("v"))
      .crossJoin(broadcast(queries))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("q"), col("v")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("bigint").as("rank"), round(col("cos"), 6).as("cos"))
  }

  val NumPlanes = 6

  /** Random-hyperplane LSH bucket signature: bit p = sign(v · h_p), with
   * hash-derived deterministic plane components (reproducible across
   * runs/engines). Native codegen'd kernel — one pass over the vector for
   * all planes. Row-local; at 100 TB the table is written bucketed by
   * this key so probes touch one partition per bucket. */
  def lshBucket(v: Column): Column =
    graft.functions.VectorFunctions.hyperplane_bucket(v, NumPlanes)

  /**
   * ANN top-k, LSH-bucketed scale path: candidates = vectors sharing the
   * query's bucket or any 1-bit-flipped neighbor bucket (multi-probe),
   * exact cosine rerank inside the candidate set. Cost drops from O(N·Q)
   * to O(candidates·Q). Recall is probabilistic and angle-dependent:
   * high for true near-duplicates (cos ≳ 0.9 — the dedup use case,
   * tested on planted pairs in SimilaritySpec), intentionally low for
   * weakly-similar vectors (the driver embeddings table's max off-diag
   * cosine is 0.51, so its recall@10 vs brute force is ~0.26 — pruning
   * non-neighbors is the point of the bucketing).
   */
  def simAnnLsh(spark: SparkSession, dir: String): DataFrame = {
    // coalesce → non-nullable kernel input: the bucket equi-join's
    // null-rejecting constraint would otherwise be inferred as
    // isnotnull(hyperplane_bucket(embedding)) ON THE SCAN, evaluating
    // the kernel twice per row (r07 plan audit; same pathology as the
    // simhash filter clone). A null embedding hashes like a zero vector.
    // `e` feeds four consumers but is deliberately NOT checkpointed
    // (unlike the minhash signature table): the bucket kernel is one
    // 64-float pass — cheaper to recompute than to materialize the
    // vector payload alongside the parquet it already lives in.
    val e = emb(spark, dir).withColumn("bucket",
      lshBucket(coalesce(col("embedding"), typedlit(Array.empty[Float]))))
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"),
        explode(array(
          col("bucket") +: (0 until NumPlanes).map(p =>
            col("bucket").bitwiseXOR(lit(1L << p))): _*)).as("bucket"))
    // Multi-probe hits are deduped as BARE id pairs — the embedding
    // arrays never ride the candidate exchange (same discipline as
    // dedupMinhashLsh); the few survivors re-attach their vectors below.
    // At 100 TB the candidate set is broadcast-able relative to the
    // table, so the v re-attach stays shuffle-free under AQE.
    val candidates = e.select(col("vec_id").as("neighbor_id"), col("bucket"))
      .join(broadcast(probes), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id").distinct()
    val queryVecs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    candidates
      .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("v")),
        Seq("neighbor_id"))
      .join(broadcast(queryVecs), Seq("query_id"))
      .withColumn("cos", cosine(col("q"), col("v")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("bigint").as("rank"), round(col("cos"), 6).as("cos"))
  }

  // ------------------------------------------------------------------ IVF

  val NumCentroids = 16
  val NumProbes = 3
  val LloydIters = 2

  private def asFloatArray(c: Column): Column =
    transform(c, x => x.cast("float"))

  /** The coarse quantizer is a small model (C × dim floats), collected
   * to the driver by design — it ships into every task once, as a
   * task-binary reference object, without a join. */
  type Centroids = Seq[(Int, Array[Float])]

  /** Kernel model parameters: the centroid matrix and its parallel cid
   * array, sorted by cid so the kernels' lowest-POSITION tie-break is
   * the oracle's lowest-CID tie-break. */
  private def model(cents: Centroids): (Array[Array[Float]], Array[Int]) = {
    val sorted = cents.sortBy(_._1)
    (sorted.map(_._2).toArray, sorted.map(_._1).toArray)
  }

  /** Argmax assignment as a narrow, codegen'd map — no join, no shuffle.
   * The centroid matrix rides as ONE reference object into the native
   * [[graft.functions.CentroidAssign]] kernel, so generated-code size is
   * O(1) in C and the per-row cost is a single O(C·dim) loop — the
   * previous form expanded C array literals into one expression tree,
   * which hit a codegen-size wall near C ≈ 10³ (r9 verdict). Semantics
   * unchanged: highest cosine, tie → lowest cid (the oracle's
   * `ORDER BY cos DESC, cid`), bit-identical arithmetic. */
  private def assignCid(v: Column, cents: Centroids): Column = {
    val (m, ids) = model(cents)
    graft.functions.VectorFunctions.centroid_assign(v, m, ids)
  }

  /** Top-k probe list — the k highest-cosine centroid ids per query,
   * ordered (cos desc, cid asc); same reference-object kernel. */
  private def probeTopK(v: Column, cents: Centroids, k: Int): Column = {
    val (m, ids) = model(cents)
    graft.functions.VectorFunctions.centroid_topk(v, m, ids, k)
  }

  /**
   * Coarse quantizer fit — Lloyd's k-means with kernel-argmax
   * assignment: seed centroids = the C lowest-id vectors
   * (deterministic), then `iters` rounds of (narrow argmax assign →
   * per-dimension average). Per round: zero joins, one small
   * (cid, pos, v) aggregation shuffle; the sample is checkpointed once
   * so iterations never rescan the source.
   */
  def fitCentroids(e: DataFrame, c: Int = NumCentroids,
      iters: Int = LloydIters): Centroids = {
    val sample = e.select("vec_id", "embedding").localCheckpoint()
    var cents: Centroids = sample.orderBy("vec_id").limit(c)
      .select("embedding").collect()
      .zipWithIndex.map { case (r, i) => (i + 1, r.getSeq[Float](0).toArray) }
      .toSeq
    require(cents.nonEmpty,
      "fitCentroids: empty fit sample — the quantizer cannot be trained " +
        "on an empty embeddings input")
    for (_ <- 1 to iters) {
      cents = sample
        .withColumn("cid", assignCid(col("embedding"), cents))
        .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("cid", "pos").agg(avg("v").as("m"))
        .groupBy("cid").agg(
          asFloatArray(transform(
            array_sort(collect_list(struct(col("pos"), col("m")))),
            s => s.getField("m"))).as("cvec"))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1).toSeq
    }
    cents
  }

  /** [[ivfAssign]] with the bucket-pruned quantizer
   * ([[graft.functions.CentroidIndex]]) — the C ≳ 10⁴ regime where the
   * flat kernel's O(C·dim) per row becomes the wall. APPROXIMATE for
   * `numPlanes >= 2`: a vector whose nearest centroid hashes outside
   * every probed bucket lands in its nearest probed cell instead
   * (IVF's own nprobe trade, applied to the quantizer); agreement and
   * end-to-end keeper recall are measured in BASELINE.md ("Bucket-pruned
   * quantizer assignment", regime `ivfindex`).
   * EXACT at `numPlanes = 1` (the probe set covers both buckets) —
   * driver-verified against the exact-Lloyd oracle via
   * [[simAnnIvfPruned]]. */
  def ivfAssignPruned(e: DataFrame, cents: Centroids, numPlanes: Int): DataFrame = {
    val (m, ids) = model(cents)
    val index = graft.functions.CentroidIndex.build(m, ids, numPlanes)
    e.withColumn("cid", coalesce(
      graft.functions.CentroidIndexFunctions.centroid_assign_indexed(col("embedding"), index),
      lit(-1)))
  }

  /** Vector → inverted-list id (the IVF index build): a scan-local
   * projection — at 100 TB the table is written partitioned by cid
   * with no shuffle of the embedding payloads at all. */
  def ivfAssign(e: DataFrame, cents: Centroids): DataFrame =
    // coalesce → non-nullable: otherwise the probe equi-join's inferred
    // isnotnull(cid) constraint clones the ENTIRE argmax kernel (C
    // cosines) into the scan filter (r07 plan audit). The argmax over a
    // non-empty centroid set is null only for a null embedding; -1 is
    // unreachable after the coalesce in that case too.
    e.withColumn("cid",
      coalesce(assignCid(col("embedding"), cents), lit(-1)))

  /** Load the fitted quantizer if present, else fit (deterministic
   * Lloyd, [[fitCentroids]]) and persist — via the shared
   * [[graft.sources.ModelCache]] (dataset-identity key + fit
   * hyperparameters, atomic publish, HIT/MISS log line under the
   * `graft-ivf` tag). Real IVF indexes fit the coarse quantizer once
   * and store it next to the inverted lists, they don't re-run Lloyd
   * per query. Because the fit is fully deterministic, a cache hit
   * returns bit-identical centroids — query results (and the oracle
   * hash) cannot depend on cache state; only the fit cost is amortized
   * away (it was ~half of sim_ann_ivf's bench line). */
  def loadOrFitCentroids(spark: SparkSession, dir: String, e: DataFrame,
      c: Int = NumCentroids): Centroids = {
    import spark.implicits._
    // loadOrFitModel (r21): the collected model object is memoized per
    // cache path, so repeat passes skip the artifact re-read + collect
    // job (a model loads once per process in a real pipeline)
    graft.sources.ModelCache.loadOrFitModel(spark, s"$dir/embeddings.parquet",
      s"c$c-i$LloydIters-s3",
      sys.env.getOrElse("GRAFT_IVF_CACHE", "/tmp/graft-ivf-cache"), "graft-ivf") {
      // fit on a deterministic ~1/3 sample (standard IVF practice —
      // centroid quality needs density, not every vector)
      fitCentroids(e.filter(col("vec_id") % 3 === 0), c = c)
        .map { case (cid, v) => (cid, v.toSeq) }.toDF("cid", "cvec")
    } { df => df.collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).toSeq }
  }

  /**
   * IVF ANN top-k: probe the nprobe highest-similarity centroid lists
   * per query, exact cosine rerank inside them. Cost O(Q·C + Q·N·
   * nprobe/C) vs brute force O(Q·N); recall governed by nprobe/C.
   */
  def simAnnIvf(spark: SparkSession, dir: String): DataFrame =
    simAnnIvfWith(spark, dir)(ivfAssign)

  /** [[simAnnIvf]] with inverted-list assignment routed through the
   * bucket-pruned [[graft.functions.CentroidIndex]] — the C ≳ 10⁴
   * regime's assignment path, driver-verified: at `numPlanes = 1` the
   * probe set (own bucket + the single flip) covers BOTH buckets, so
   * the indexed argmax scans every centroid and is provably exact —
   * this query must hash-match the SAME exact-Lloyd DuckDB oracle as
   * [[simAnnIvf]]. Sub-linear pruning at realistic plane counts is
   * measured separately in BASELINE.md, regime `ivfindex` (P-sweep
   * agreement + keeper recall). */
  def simAnnIvfPruned(spark: SparkSession, dir: String): DataFrame =
    simAnnIvfWith(spark, dir)(ivfAssignPruned(_, _, numPlanes = 1))

  /** [[simAnnIvf]] with the embeddings read through the DataSource V2
   * provider — LIST (array<float>) columns through the connector seam
   * (CQL collections, reference SURVEY §1.2). Shares the exact-Lloyd
   * oracle verbatim: the provider's 3-level-list Group decoding must
   * hand the quantizer, probe kernel, and cosine rerank bit-identical
   * vectors or the 50 ranked rows hash red. Reads the ORIGINAL
   * testdata file (pyarrow-written — its list child is positional,
   * not Spark's `element` naming), so the row also pins cross-writer
   * list-shape compatibility. */
  def simAnnIvfDsv2(spark: SparkSession, dir: String): DataFrame = {
    val e = spark.read
      .format(classOf[graft.sources.GraftParquetProvider].getName)
      .load(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    simAnnIvfFrom(spark, dir, e)(ivfAssign)
  }

  private def simAnnIvfWith(spark: SparkSession, dir: String)(
      assign: (DataFrame, Centroids) => DataFrame): DataFrame =
    simAnnIvfFrom(spark, dir, emb(spark, dir))(assign)

  private def simAnnIvfFrom(spark: SparkSession, dir: String, e: DataFrame)(
      assign: (DataFrame, Centroids) => DataFrame): DataFrame = {
    // quantizer loaded from the persisted index when present, fit+saved
    // otherwise ([[loadOrFitCentroids]] — deterministic either way; the
    // full table is still assigned below)
    val cents = loadOrFitCentroids(spark, dir, e)
    val lists = assign(e, cents)
    // top-nprobe centroids per query, row-locally via the top-k kernel —
    // no join, no window shuffle
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"),
        explode(probeTopK(col("embedding"), cents, NumProbes)).as("cid"))
    val wRank = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    lists.select(col("vec_id").as("neighbor_id"), col("embedding").as("v"), col("cid"))
      .join(broadcast(probes), Seq("cid"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("q"), col("v")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("bigint").as("rank"), round(col("cos"), 6).as("cos"))
  }

  // ------------------------------------------------------------------ PQ

  val PqM = 2          // subspaces
  val PqK = 8          // codewords per subspace
  val PqSubDim: Int = 64 / PqM  // dims per subspace
  val PqCand = 50      // PQ-scored candidates per query before exact rerank

  /** Subspace `i` (of [[PqM]]) of a 64-dim vector. */
  private def pqSub(i: Int)(v: Column): Column =
    slice(v, 1 + i * PqSubDim, PqSubDim)

  /** Per-subspace PQ codebooks — the same deterministic Lloyd fit as the
   * IVF quantizer, run on each [[PqSubDim]]-dim slice of the 1/3 fit sample,
   * and persisted as ONE (m, cid, cvec) model table via ModelCache (a PQ
   * index fits its codebooks once and stores them beside the codes). */
  def loadOrFitPqCodebooks(spark: SparkSession, dir: String,
      e: DataFrame): Map[Int, Centroids] = {
    import spark.implicits._
    graft.sources.ModelCache.loadOrFitModel(spark, s"$dir/embeddings.parquet",
      s"pq-m$PqM-k$PqK-i$LloydIters-s3",
      sys.env.getOrElse("GRAFT_IVF_CACHE", "/tmp/graft-ivf-cache"), "graft-pq") {
      (0 until PqM).flatMap { i =>
        fitCentroids(
          e.filter(col("vec_id") % 3 === 0)
            .select(col("vec_id"), pqSub(i)(col("embedding")).as("embedding")),
          c = PqK, iters = LloydIters)
          .map { case (cid, v) => (i, cid, v.toSeq) }
      }.toDF("m", "cid", "cvec")
    } { df => df.collect()
      .map(r => (r.getInt(0), (r.getInt(1), r.getSeq[Float](2).toArray)))
      .groupBy(_._1).map { case (i, rows) =>
        i -> rows.map(_._2).sortBy(_._1).toSeq
      } }
  }

  /**
   * ANN top-k via product quantization — the vector-COMPRESSION scale
   * path the LSH/IVF rows don't cover: each 64-dim float vector (256 B)
   * is encoded as M=2 codebook ids (2 B here; 8 B at production M=8/
   * K=256), and candidate scoring runs entirely on the code table via
   * per-query lookup tables — the 100 TB property is that the full
   * embedding payload is scanned ONCE at encode time and never again;
   * queries touch 256-B-compressed codes plus a LUT join.
   *
   * Spherical-PQ variant: codebooks are cosine-Lloyd fits per subspace
   * (the exact [[fitCentroids]] machinery on each half), the asymmetric
   * score of query q vs code (c0, c1) is cos(q_0, cvec_c0) +
   * cos(q_1, cvec_c1), and the top-[[PqCand]] PQ candidates get an
   * exact-cosine rerank (standard ADC + rerank). Every arithmetic step
   * runs in the bit-exact cosine kernel, so the DuckDB oracle
   * ([[HashOracleSql.annPq]]) reproduces fit, codes, LUT scores,
   * candidate cut, and rerank value-for-value.
   */
  def simAnnPq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val books = loadOrFitPqCodebooks(spark, dir, e)
    val codes = loadOrEncodePqCodes(spark, dir, e, books)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    // per-query LUT: Q×k rows per subspace, via the same kernel — tiny,
    // broadcast into the code-table scan
    def lut(i: Int): DataFrame = {
      val book = books(i).map { case (cid, v) => (cid, v.toSeq) }
        .toDF("cid", s"cvec$i")
      queries.crossJoin(broadcast(book))
        .select(col("query_id"), col("cid").as(s"c$i"),
          cosine(pqSub(i)(col("q")), col(s"cvec$i")).as(s"s$i"))
    }
    val wApprox = Window.partitionBy("query_id")
      .orderBy(col("approx").desc, col("neighbor_id"))
    val withLuts = (1 until PqM).foldLeft(
      codes.join(broadcast(lut(0)), Seq("c0"))) { (acc, i) =>
      acc.join(broadcast(lut(i)), Seq("query_id", s"c$i"))
    }
    // left-to-right `s0 + s1 + …` addition order is part of the
    // contract with the oracle
    val cand = withLuts
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("approx",
        (1 until PqM).foldLeft[Column](col("s0"))((a, i) => a + col(s"s$i")))
      .withColumn("crank", row_number().over(wApprox))
      .filter(col("crank") <= PqCand)
      .select("query_id", "neighbor_id", "approx")
    val wRank = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    cand
      .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("v")),
        Seq("neighbor_id"))
      .join(broadcast(queries), Seq("query_id"))
      .withColumn("cos", cosine(col("q"), col("v")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("bigint").as("rank"), round(col("cos"), 6).as("cos"),
        round(col("approx"), 6).as("approx_score"))
  }

  /** The persisted PQ CODE TABLE — one scan-local encode projection, m
   * kernel argmaxes per row: the only pass that touches the full
   * vectors (coalesce: plan hygiene, see ivfAssign). The code table IS
   * the PQ index: built once per corpus snapshot and persisted
   * (gramCounts pattern, partitioning kept — at scale this is an
   * index-build table), so repeat queries scan 2-3 B/vec codes, never
   * the 256 B/vec vectors. Deterministic encode ⇒ hit and miss are
   * byte-identical. Shared by [[simAnnPq]] and [[simAnnIvfPq]] — one
   * table, one cache key. */
  def loadOrEncodePqCodes(spark: SparkSession, dir: String, e: DataFrame,
      books: Map[Int, Centroids]): DataFrame =
    graft.sources.ModelCache.loadOrFit(spark,
      s"$dir/embeddings.parquet", s"pqcodes-m$PqM-k$PqK-i$LloydIters-s3",
      sys.env.getOrElse("GRAFT_IVF_CACHE", "/tmp/graft-ivf-cache"),
      "graft-pq", singleFile = false) {
      e.select(
        col("vec_id").as("neighbor_id") +:
          (0 until PqM).map(i => coalesce(
            assignCid(pqSub(i)(col("embedding")), books(i)), lit(-1)).as(s"c$i")): _*)
    }

  /**
   * The COMPOSED IVF-ADC ANN — the FAISS IVFADC shape, and the one a
   * 100 TB deployment actually runs: the IVF quantizer restricts
   * candidates to each query's nprobe cells (ids-only join: probed
   * (query_id, cid) broadcast into the inverted-list table projected
   * to (neighbor_id, cid) — no vector bytes move), PQ asymmetric-
   * distance scoring then runs entirely on the persisted 2-byte code
   * table + broadcast per-query LUTs, and only the top-[[PqCand]]
   * survivors per query touch real vectors again for the exact-cosine
   * rerank. Cost per query: O(C) probe + O(N·nprobe/C) code lookups +
   * O(cand) rerank — against sim_ann_pq's O(N) code scan and
   * sim_ann_ivf's O(N·nprobe/C) FULL-VECTOR scan. Every stage reuses
   * the exact building blocks of those two rows (same quantizer, same
   * codebooks, same persisted code table, same kernels), and the
   * DuckDB oracle composes the same shared CTEs — fit, assignment,
   * probes, codes, LUTs, cut, and rerank all value-level.
   */
  def simAnnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val books = loadOrFitPqCodebooks(spark, dir, e)
    val codes = loadOrEncodePqCodes(spark, dir, e, books)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    def lut(i: Int): DataFrame = {
      val book = books(i).map { case (cid, v) => (cid, v.toSeq) }
        .toDF("cid", s"cvec$i")
      queries.crossJoin(broadcast(book))
        .select(col("query_id"), col("cid").as(s"c$i"),
          cosine(pqSub(i)(col("q")), col(s"cvec$i")).as(s"s$i"))
    }
    // ids-only IVF candidates: every vector in a query's NumProbes
    // probed cells
    val cents = loadOrFitCentroids(spark, dir, e)
    val lists = ivfAssign(e, cents)
      .select(col("vec_id").as("neighbor_id"), col("cid"))
    val probes = queries.select(col("query_id"),
      explode(probeTopK(col("q"), cents, NumProbes)).as("cid"))
    val cand = lists.join(broadcast(probes), Seq("cid"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id")
    val withLuts = (0 until PqM).foldLeft(cand.join(codes, Seq("neighbor_id"))) {
      (acc, i) => acc.join(broadcast(lut(i)), Seq("query_id", s"c$i"))
    }
    val wApprox = Window.partitionBy("query_id")
      .orderBy(col("approx").desc, col("neighbor_id"))
    val cut = withLuts
      .withColumn("approx",
        (1 until PqM).foldLeft[Column](col("s0"))((a, i) => a + col(s"s$i")))
      .withColumn("crank", row_number().over(wApprox))
      .filter(col("crank") <= PqCand)
      .select("query_id", "neighbor_id", "approx")
    val wRank = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    cut
      .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("v")),
        Seq("neighbor_id"))
      .join(broadcast(queries), Seq("query_id"))
      .withColumn("cos", cosine(col("q"), col("v")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("bigint").as("rank"), round(col("cos"), 6).as("cos"),
        round(col("approx"), 6).as("approx_score"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_topk_bruteforce" -> simTopkBruteforce,
    "sim_ann_lsh" -> simAnnLsh,
    "sim_ann_ivf" -> simAnnIvf,
    "sim_ann_ivf_pruned" -> simAnnIvfPruned,
    "sim_ann_ivf_dsv2" -> simAnnIvfDsv2,
    "sim_ann_pq" -> simAnnPq,
    "sim_ann_ivfpq" -> simAnnIvfPq)

  val oracleSql: Map[String, String] = Map(
    "sim_topk_bruteforce" ->
      """WITH pairs AS (
           SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                    CAST(e.embedding AS DOUBLE[])) AS cos
           FROM embeddings q, embeddings e
           WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id),
         ranked AS (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY cos DESC, neighbor_id) AS rank
           FROM pairs)
         SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
           round(cos, 6) AS cos
         FROM ranked WHERE rank <= 10""",
    // full value-level oracles: hyperplane-LSH buckets (HUGEINT hash
    // CTEs) and the unrolled 2-round Lloyd IVF, both in pure DuckDB SQL
    "sim_ann_lsh" -> HashOracleSql.annLsh,
    "sim_ann_ivf" -> HashOracleSql.annIvf,
    // the pruned path at numPlanes=1 is exact (full bucket coverage),
    // so it must reproduce the identical exact-Lloyd result
    "sim_ann_ivf_pruned" -> HashOracleSql.annIvf,
    // same oracle again: the DSv2 LIST read must be value-invisible
    "sim_ann_ivf_dsv2" -> HashOracleSql.annIvf,
    // full value-level PQ oracle: per-subspace unrolled Lloyd, codes,
    // LUT scores, candidate cut, exact rerank
    "sim_ann_pq" -> HashOracleSql.annPq,
    // the composed IVF-ADC chain, from the same shared CTE blocks
    "sim_ann_ivfpq" -> HashOracleSql.annIvfPq)
}
