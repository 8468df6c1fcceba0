package graft.functions

import graft.SparkSpec
import graft.functions.ShingleFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The rerank kernel `sorted_intersect_size` against
 * `size(array_intersect)`, through generated code and through the
 * interpreted path. */
class ShingleExpressionsSpec extends SparkSpec {
  import spark.implicits._

  // seeded sorted-distinct arrays drawn from one shared pool, so random
  // pairs overlap by anything from nothing to everything
  private val pairs: Seq[(Seq[Long], Seq[Long])] = {
    val rnd = new scala.util.Random(1201)
    val pool = (Seq.fill(300)(rnd.nextLong()) ++
      Seq(Long.MinValue, Long.MaxValue, -1L, 0L, 1L)).distinct.sorted
    def draw(p: Double): Seq[Long] = pool.filter(_ => rnd.nextDouble() < p)
    val a = draw(0.5)
    val neg = pool.filter(_ < 0)
    val edges = Seq(
      (Seq.empty[Long], Seq.empty[Long]),
      (Seq.empty[Long], a),
      (a, Seq.empty[Long]),
      (a, a),                               // identical
      (neg, pool.filter(_ >= 0)),           // disjoint
      (a.take(a.size / 2), a),              // prefix
      (a, a.drop(a.size / 2)),              // suffix
      (neg, neg.takeRight(5)),              // negative hashes only
      (Seq(Long.MinValue, Long.MaxValue), Seq(Long.MinValue)),
      (Seq(Long.MinValue), Seq(Long.MaxValue)),
      (Seq(Long.MaxValue), Seq(Long.MinValue, 0L, Long.MaxValue)))
    edges ++ Seq.fill(200)((draw(rnd.nextDouble()), draw(rnd.nextDouble())))
  }

  // an RDD-backed frame: the optimizer folds a projection over a local
  // Seq before execution, so it would never reach generated code
  private def frame(rows: Seq[(Seq[Long], Seq[Long])]): DataFrame =
    spark.sparkContext.parallelize(rows, 2).toDF("a", "b")

  private def withConfs[T](kv: Seq[(String, String)])(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val modes = Seq(
    "generated code" -> Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false"),
    "interpreted" -> Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false"))

  modes.foreach { case (mode, confs) =>
    test(s"sorted_intersect_size equals size(array_intersect) ($mode)") {
      withConfs(confs) {
        val got = frame(pairs).select(col("a"), col("b"),
          sorted_intersect_size(col("a"), col("b")),
          size(array_intersect(col("a"), col("b")))).collect()
        assert(got.length == pairs.length)
        got.foreach { r =>
          val expect = r.getSeq[Long](0).toSet.intersect(r.getSeq[Long](1).toSet).size
          assert(r.getInt(2) == r.getInt(3), s"${r.getSeq[Long](0)} ∩ ${r.getSeq[Long](1)}")
          assert(r.getInt(2) == expect)
        }
      }
    }

    test(s"sorted_intersect_size throws on an unsorted or duplicated input ($mode)") {
      val bad = Seq(
        Seq(3L, 1L, 2L) -> Seq(1L, 2L, 3L),    // unsorted
        Seq(1L, 2L, 2L, 5L) -> Seq(2L, 5L),    // duplicate
        Seq(1L, 5L) -> Seq(2L, 5L, 1L),        // unsorted tail past the merge
        Seq(7L) -> Seq(1L, 2L, 3L, 3L),        // duplicate tail past the merge
        Seq(-1L, Long.MinValue) -> Seq.empty[Long]) // signed order
      withConfs(confs) {
        bad.foreach { case (a, b) =>
          val e = intercept[Exception](frame(Seq(a -> b))
            .select(sorted_intersect_size(col("a"), col("b"))).collect())
          val msgs = Iterator.iterate[Throwable](e)(_.getCause)
            .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
          assert(msgs.exists(_.contains("not strictly ascending")), s"$a, $b: $e")
        }
      }
    }
  }

  test("sorted_intersect_size rejects arrays that may hold nulls") {
    val e = intercept[Exception](Seq((Seq(1L), Seq(1L))).toDF("a", "b")
      .select(sorted_intersect_size(col("a"),
        array(lit(1L), lit(null).cast("bigint")))))
    assert(e.getMessage.contains("sorted_intersect_size"))
  }
}
