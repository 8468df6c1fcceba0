package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Persisted-model cache for small fitted artifacts (the IVF coarse
 * quantizer, the unigram LM vocabulary): real pipelines fit such models
 * once and store them next to the data, they don't re-fit per query.
 * The training data here is read-only, so the artifact parquet lives
 * under a writable cache root keyed by the dataset IDENTITY — full path
 * plus the sorted (name, length, mtime) listing of the data file(s),
 * single-file and directory layouts both — and a caller-supplied variant
 * string carrying the fit hyperparameters. Regenerated data at the same
 * path changes length/mtime and misses the cache, so a stale model can
 * never be served against new data (the DuckDB oracle always fits from
 * live data; a stale hit would turn the correctness row red).
 *
 * Publication is atomic: write to a private temp dir, then rename into
 * place — a reader observing `_SUCCESS` always sees a COMPLETE cache.
 * If a concurrent writer wins the rename, ours is discarded; all fits
 * are required to be deterministic, so both artifacts are bit-identical.
 *
 * One diagnosable HIT/MISS line per load, logged at INFO (the r8 bench
 * showed a fit-included cost with no way to tell whether the cache
 * missed or something regressed; the log line settles it).
 */
object ModelCache {

  private val logger = org.apache.logging.log4j.LogManager.getLogger(getClass)

  /** Cache directory for (data at `dataPath`) × (fit variant). */
  def cachePath(dataPath: String, variant: String, root: String): String = {
    val src = new java.io.File(dataPath)
    // Content identity must survive BOTH layouts a parquet dataset can
    // have: a single file, or a Spark-written DIRECTORY of part files
    // (where the directory's own length/mtime are meaningless — only the
    // parts carry content). Fold the sorted (name, length, mtime) listing
    // of the data files so adding/replacing/renaming any part file
    // misses the cache.
    val parts: Seq[java.io.File] =
      if (src.isDirectory)
        Option(src.listFiles()).getOrElse(Array.empty[java.io.File])
          .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
          .sortBy(_.getName).toSeq
      else Seq(src)
    val identity = (dataPath +: parts.map(f => s"${f.getName}|${f.length()}|${f.lastModified()}"))
      .mkString("||")
    val key = java.lang.Long.toHexString(
      identity.foldLeft(1125899906842597L)((h, c) => 31 * h + c))
    s"$root/$key-$variant"
  }

  /**
   * Load the fitted artifact for (`dataPath`, `variant`) if present,
   * else run `fit` (which MUST be deterministic) and persist its result.
   * Either way the returned frame reads from the published parquet, so
   * hit and miss return byte-identical artifacts.
   */
  def loadOrFit(spark: SparkSession, dataPath: String, variant: String,
      root: String, tag: String, singleFile: Boolean = true)(
      fit: => DataFrame): DataFrame = {
    val path = cachePath(dataPath, variant, root)
    if (new java.io.File(path, "_SUCCESS").exists()) {
      logger.info(s"[$tag] model cache HIT $path")
    } else {
      logger.info(s"[$tag] model cache MISS $path (fitting)")
      sweepStaleTmp(new java.io.File(path))
      val tmp = new java.io.File(
        path + s".tmp-${java.lang.ProcessHandle.current().pid()}-${System.nanoTime()}")
      // singleFile suits MB-scale models (vocab, quantizer); corpus-
      // DERIVED statistics tables (per-doc gram counts) keep their
      // partitioning — at scale those are index-build tables, and one
      // writer task would be the bottleneck
      (if (singleFile) fit.coalesce(1) else fit)
        .write.mode("overwrite").parquet(tmp.getPath)
      if (!tmp.renameTo(new java.io.File(path))) {
        // another writer won the race: discard ours, read the winner's
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(tmp)
      }
    }
    spark.read.parquet(path)
  }

  /** In-JVM memo for the COLLECTED driver-side model object derived
   * from a published cache path (r21): the collect sites
   * (`loadOrFit(...).collect().map(...)` — quantizer, codebooks,
   * vocab, merges, classifier weights, bloom words) re-read the
   * artifact parquet and rebuilt the model object on EVERY action —
   * one driver-visible job per pass per model, while a real pipeline
   * loads a model once per process. The cache path already IS the
   * model identity (source content stamp + fit variant), so it keys
   * the memo; `toModel` must be deterministic — the same contract
   * fits already carry — making HIT and MISS bit-identical. */
  private val modelMemo =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** The memo primitive: `load` must be deterministic and `key` must
   * carry the model's full identity — callers use either the cache
   * path (content stamp + fit variant) or a source content stamp + the
   * model function's name (hyperparameters are JVM constants, so a
   * changed constant implies a fresh JVM and an empty memo). */
  def memo[T <: AnyRef](key: String)(load: => T): T =
    modelMemo.computeIfAbsent(key, _ => load).asInstanceOf[T]

  /** Cold-cost instrumentation (r22, VERDICT #4): drop every memoized
   * driver-side model object so the next action pays the in-JVM
   * artifact re-read + rebuild — `QueryTime --cold` calls this before
   * each timed run to keep the amortized bench numbers honest. The
   * PERSISTED artifact caches are untouched (point the GRAFT_*_CACHE
   * roots at a fresh dir for fit-inclusive cold runs). */
  def clearMemo(): Unit = modelMemo.clear()

  /** [[loadOrFit]] composed with a memoized driver-side collect. */
  def loadOrFitModel[T <: AnyRef](spark: SparkSession, dataPath: String,
      variant: String, root: String, tag: String,
      singleFile: Boolean = true)(fit: => DataFrame)(
      toModel: DataFrame => T): T = {
    val path = cachePath(dataPath, variant, root)
    memo(path) {
      toModel(loadOrFit(spark, dataPath, variant, root, tag, singleFile)(fit))
    }
  }

  /** Delete orphaned `<target>.tmp-*` siblings left by a JVM that died
   * between writing its temp dir and the rename. Staleness is judged by
   * the NEWEST mtime anywhere under the tmp tree, not the top-level dir:
   * Spark writes under `_temporary/`, so the tmp dir's own mtime goes
   * stale minutes into a long fit while part files inside are still
   * being appended — a top-level check would let another process's MISS
   * sweep a live writer and fail its later rename. Any file written in
   * the last hour keeps the whole tree alive (the rename-race path
   * already handles same-instant writers). */
  private def sweepStaleTmp(target: java.io.File): Unit = {
    val prefix = target.getName + ".tmp-"
    val cutoff = System.currentTimeMillis() - 60L * 60 * 1000
    def newestMtime(f: java.io.File): Long =
      Option(f.listFiles()).map(_.foldLeft(f.lastModified())((m, c) =>
        math.max(m, newestMtime(c)))).getOrElse(f.lastModified())
    Option(target.getParentFile).flatMap(p => Option(p.listFiles()))
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.getName.startsWith(prefix) && newestMtime(f) < cutoff)
      .foreach { stale =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
        }
        logger.info(s"[model-cache] sweeping stale ${stale.getPath}")
        rm(stale)
      }
  }
}
