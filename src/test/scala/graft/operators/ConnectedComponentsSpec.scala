package graft.operators

import graft.SparkSpec

/** The min-label-propagation component step behind near-dup clustering
 * (driver-verified via the recursive-CTE closure oracles; this spec pins
 * the unit-level edge cases those fixtures don't isolate). */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def clusters(edges: Seq[(Long, Long)], maxIter: Int = 50): Map[Long, Long] =
    Dedup.connectedComponents(edges.toDF("a", "b"), maxIter)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("chain, cycle and disjoint components all label to their minimum id") {
    val got = clusters(Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), // chain → 1
      (5L, 6L), (6L, 7L), (7L, 5L), // cycle → 5
      (10L, 11L)))                  // pair → 10
    assert(got === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 5L,
      10L -> 10L, 11L -> 10L))
  }

  test("edge direction does not matter (symmetrized internally)") {
    assert(clusters(Seq((9L, 3L), (3L, 7L))) ===
      Map(3L -> 3L, 7L -> 3L, 9L -> 3L))
  }

  test("a long chain converges under the default budget") {
    // diameter 30 > the old default maxIter of 20 — the case that used
    // to return a silently half-propagated labeling
    val chain = (0L until 30L).map(i => (i, i + 1))
    val got = clusters(chain)
    assert(got.values.toSet === Set(0L))
    assert(got.size === 31)
  }

  test("exceeding maxIter is an error, never a silent partial labeling") {
    val chain = (0L until 10L).map(i => (i, i + 1))
    val e = intercept[IllegalStateException](clusters(chain, maxIter = 3))
    assert(e.getMessage.contains("did not converge"))
  }

  test("a label sum that overflows decimal(38,0) is an error, not convergence") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DecimalType, StructField, StructType}
    val prevAnsi = spark.conf.get("spark.sql.ansi.enabled")
    // with ANSI off the overflowing sum is null, which must not read as
    // a stalled (converged) sum
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val big = new java.math.BigDecimal("9" + "0" * 37)
      val labels = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(big), Row(big))),
        StructType(Seq(StructField("label", DecimalType(38, 0)))))
      val e = intercept[ArithmeticException](Dedup.labelSum(labels))
      assert(e.getMessage.contains("overflowed"))
      assert(Dedup.labelSum(labels.limit(1)).compareTo(big) == 0)
      assert(Dedup.labelSum(labels.limit(0)).signum == 0)
    } finally spark.conf.set("spark.sql.ansi.enabled", prevAnsi)
  }
}
