package graft.perfbench

import java.io.File

import graft.MvSyncDemo
import graft.reconcile.MvReconciler
import graft.report.JobStats
import graft.schema.TableSchema
import graft.sources.{CommitLog, Dsv2Parquet, GraftParquetProvider}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Damage classes the generator injects into an MV pair; each maps to
 * exactly one reconcile category. */
object Dmg {
  val Ok = "ok"                // in both, equal   → CONSISTENT
  val Missing = "missing"      // base only        → MISSING_IN_MV_TABLE
  val Orphan = "orphan"        // MV only          → MISSING_IN_BASE_TABLE
  val Perturbed = "perturbed"  // MV price + 1     → INCONSISTENT
  val Absent = "absent"        // in neither
  val All: Seq[String] = Seq(Ok, Missing, Orphan, Perturbed, Absent)
}

/** Ground truth of one MV pair, from the generator's own damage column.
 * Everything a job's outputs are checked against derives from these
 * per-class key counts. */
final case class MvTruth(counts: Map[String, Long]) {
  def n(c: String): Long = counts.getOrElse(c, 0L)
  def problems: Map[String, Long] = Map(
    MvReconciler.Consistent -> n(Dmg.Ok),
    MvReconciler.MissingInMv -> n(Dmg.Missing),
    MvReconciler.MissingInBase -> n(Dmg.Orphan),
    MvReconciler.Inconsistent -> n(Dmg.Perturbed))
  def keys: Long = problems.values.sum
  def baseKeys: Long = keys - n(Dmg.Orphan)
  /** RepairPlanner with every fix flag: one DELETE per orphan, one
   * UPSERT per MV regular column of a missing key, one per damaged
   * column (the price) of an inconsistent key. */
  def deletes: Long = n(Dmg.Orphan)
  def upserts: Long =
    Corpus.mvSchema.sortedRegular.size * n(Dmg.Missing) + n(Dmg.Perturbed)
  /** The equality-delete commit: keys removed, rows inserted. */
  def deleteKeys: Long = n(Dmg.Orphan) + n(Dmg.Perturbed)
  def insertRows: Long = n(Dmg.Missing) + n(Dmg.Perturbed)
  /** The reference stats line of a job with every fix flag set. */
  def stats: JobStats = {
    val (del, ups) = (n(Dmg.Orphan), n(Dmg.Missing) + n(Dmg.Perturbed))
    JobStats(totRecords = keys, consistentRecords = n(Dmg.Ok),
      inConsistentRecords = n(Dmg.Perturbed),
      missingBaseTableRecords = n(Dmg.Orphan), missingMvRecords = n(Dmg.Missing),
      repairRecords = del + ups, delAttemptedRecords = del,
      delSuccessRecords = del, upsertAttemptedRecords = ups,
      upsertSuccessRecords = ups)
  }
}

/** A generated base/MV pair: the base as plain parquet, the MV as a
 * commit-logged graft DSv2 table. */
final case class MvCorpus(basePath: String, mvPath: String, truth: MvTruth)

/** A generated document corpus and its exact-duplicate groups. */
final case class DocCorpus(path: String, docs: Long, exactGroups: Seq[Seq[Long]])

/**
 * Seeded corpus generator. The program sees only the files written
 * here; the same seed writes the same rows and the same ground truth.
 */
object Corpus {
  val Fmt: String = classOf[GraftParquetProvider].getName
  val baseSchema: TableSchema = MvSyncDemo.baseSchema
  val mvSchema: TableSchema = MvSyncDemo.mvSchema

  /** MvSyncDemo's damage rules on the order key: %89 missing from the
   * MV, %97 missing from the base, %13 price perturbed in the MV. */
  def damage: Column = {
    val k = col("o_orderkey")
    when(k % 97 === 0 && k % 89 === 0, Dmg.Absent)
      .when(k % 97 === 0, Dmg.Orphan).when(k % 89 === 0, Dmg.Missing)
      .when(k % 13 === 0, Dmg.Perturbed).otherwise(Dmg.Ok)
  }

  /** Uniform in [0, m) from (seed, salt, id). */
  def uniform(seed: Long, salt: Int, m: Long): Column =
    pmod(xxhash64(lit(seed), lit(salt), col("id")), lit(m))

  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")

  /** Files per table: enough scan splits for every core. */
  def slices(spark: SparkSession): Int =
    math.max(8, 2 * spark.sparkContext.defaultParallelism)

  /** `orders`-shaped rows with distinct seeded order keys, plus `id`
   * and the damage class `dmg` (so the seed moves which keys are hit). */
  def orders(spark: SparkSession, n: Long, seed: Long): DataFrame =
    spark.range(0, n, 1, slices(spark))
      .select(col("id"),
        (col("id") * 4 + uniform(seed, 1, 4)).as("o_orderkey"),
        (uniform(seed, 2, math.max(1L, n / 10)) + 1).as("o_custkey"),
        element_at(array(lit("O"), lit("F"), lit("P")),
          (uniform(seed, 3, 3) + 1).cast("int")).as("o_orderstatus"),
        (uniform(seed, 4, 50000000L) / 100.0 + 900.0).as("o_totalprice"),
        timestamp_seconds(lit(694224000L) + uniform(seed, 5, 2400) * 86400L)
          .as("o_orderdate"),
        element_at(array(Priorities.map(lit): _*),
          (uniform(seed, 6, 5) + 1).cast("int")).as("o_orderpriority"))
      .withColumn("dmg", damage)

  /** The wide layout a Cassandra scan yields: per regular column a
   * writetime (µs of the order date) and a TTL on every 7th key. */
  def widen(df: DataFrame, schema: TableSchema): DataFrame = {
    val wt = unix_timestamp(col("o_orderdate")) * 1000000L
    val ttl = when(col("o_orderkey") % 7 === 0,
      (lit(86400L) + col("o_orderkey") % 1000L).cast("int"))
    val cols = (schema.pk ++ schema.sortedRegular).distinct.map(col) ++
      schema.timestampedRegular.flatMap(c =>
        Seq(wt.as(schema.writetimeCol(c)), ttl.as(schema.ttlCol(c))))
    df.select(cols: _*)
  }

  def baseSide(rows: DataFrame): DataFrame =
    widen(rows.filter(!col("dmg").isin(Dmg.Orphan, Dmg.Absent)), baseSchema)

  def mvSide(rows: DataFrame): DataFrame = widen(
    rows.filter(!col("dmg").isin(Dmg.Missing, Dmg.Absent))
      .withColumn("o_totalprice", when(col("dmg") === Dmg.Perturbed,
        col("o_totalprice") + 1.0).otherwise(col("o_totalprice"))),
    mvSchema)

  def mvPair(spark: SparkSession, dir: String, n: Long, seed: Long): MvCorpus = {
    val rows = orders(spark, n, seed)
    val counts = rows.groupBy("dmg").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val corpus = MvCorpus(s"$dir/base", s"$dir/mv", MvTruth(counts))
    baseSide(rows).write.parquet(corpus.basePath)
    val mv = mvSide(rows)
    mv.write.format(Fmt).option(Dsv2Parquet.SchemaOption, mv.schema.toDDL)
      .mode("append").save(corpus.mvPath)
    CommitLog.enable(corpus.mvPath, Dsv2Parquet.readConf)
    corpus
  }

  /** Ground truth recounted from the written files alone, by a plain
   * key join that shares no code with the reconciler. */
  def recount(spark: SparkSession, c: MvCorpus): MvTruth = {
    val b = spark.read.parquet(c.basePath).select(col("o_custkey"),
      col("o_orderkey"), col("o_totalprice").as("bp"), lit(true).as("inb"))
    val m = spark.read.format(Fmt).load(c.mvPath).select(col("o_custkey"),
      col("o_orderkey"), col("o_totalprice").as("mp"), lit(true).as("inm"))
    val j = b.join(m, Seq("o_custkey", "o_orderkey"), "full_outer")
    val cls = when(col("inb").isNull, Dmg.Orphan)
      .when(col("inm").isNull, Dmg.Missing)
      .when(col("bp") =!= col("mp"), Dmg.Perturbed).otherwise(Dmg.Ok)
    MvTruth(j.groupBy(cls).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap)
  }

  // ------------------------------------------------------------ documents

  private def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i + 26
    while (x > 0) { sb.append(('a' + x % 26).toChar); x /= 26 }
    sb.toString
  }

  /** `groups` random documents of 100-159 words, each replicated
   * `copies` times: the first half of a group are exact copies, the rest
   * have their last word replaced, each copy by a word of its own. Doc
   * ids are a seeded permutation, except that within a group the exact
   * copies hold the lowest ids.
   *
   * The shape keeps the connected-components depth the same for every
   * seed: a replica this similar (3-shingle Jaccard >= 0.98) meets the
   * exact copies in some LSH band all but surely, and the exact copies
   * share their signature, so every replica is one step from its
   * group's lowest id. */
  def documents(spark: SparkSession, dir: String, groups: Int, copies: Int,
      seed: Long): DocCorpus = {
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(seed)
    val vocab = 4000
    val n = groups * copies
    val ids = (0 until n).map(_.toLong).toArray
    for (i <- n - 1 until 0 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val rows = new Array[(Long, String)](n)
    val exact = (0 until groups).map { g =>
      val words = Array.fill(100 + rnd.nextInt(60))(word(rnd.nextInt(vocab)))
      val groupIds = ids.slice(g * copies, (g + 1) * copies).sorted
      (0 until copies).flatMap { c =>
        val id = groupIds(c)
        if (c < (copies + 1) / 2) {
          rows(g * copies + c) = (id, words.mkString(" "))
          Some(id)
        } else {
          val w = words.clone()
          w(w.length - 1) = word((c + 1) * vocab + rnd.nextInt(vocab))
          rows(g * copies + c) = (id, w.mkString(" "))
          None
        }
      }
    }
    val path = s"$dir/documents"
    rows.toSeq.toDF("doc_id", "text").repartition(slices(spark) / 2)
      .write.parquet(path)
    DocCorpus(path, n, exact)
  }

  /** Exact-duplicate groups recounted from the written files. */
  def recountDocs(spark: SparkSession, c: DocCorpus): Seq[Seq[Long]] =
    spark.read.parquet(c.path).groupBy("text")
      .agg(sort_array(collect_list("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1).collect()
      .map(_.getSeq[Long](1).toSeq).sortBy(_.head).toSeq

  def dirBytes(path: String): Long = {
    def go(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(go).sum
      else f.length()
    go(new File(path))
  }

  def deleteTree(path: String): Unit = {
    def go(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(go))
      f.delete(): Unit
    }
    go(new File(path))
  }

  /** File copy of a table directory (untimed per-job reset). */
  def copyTree(from: String, to: String): Unit = {
    val src = new File(from).toPath
    val dst = new File(to).toPath
    java.nio.file.Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    }
  }
}
