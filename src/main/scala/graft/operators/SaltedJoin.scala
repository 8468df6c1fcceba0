package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Skew-resistant equi-join by key salting — the manual escape hatch for
 * hot keys when AQE's skew-join splitting isn't available (non-AQE
 * deployments, or skew concentrated in a single shuffle partition that
 * post-shuffle splitting can't cure because one KEY dominates).
 *
 * The big (skewed) side gets a random salt in [0, factor); the small
 * side is exploded `factor`× with every salt value. The join key becomes
 * (keys..., salt), spreading each hot key over `factor` reducers. Cost:
 * the small side is replicated `factor`× — use for dimension-sized right
 * sides only (the same regime where broadcast is almost right but the
 * dimension is just too big to broadcast).
 *
 * rand() is seeded per-partition deterministically by Spark, and the
 * salt NEVER affects the result set — any salt distribution yields the
 * same joined rows, only the reducer placement changes.
 *
 * When to reach for it (measured r06, BASELINE.md regime `skew`):
 * only when a single key's shuffle partition exceeds task memory/time
 * limits AND AQE skew-split is unavailable. At local scale (2M-row
 * hot key, fits one task) the ×factor dim replication costs MORE than
 * the skew it cures (5.0s vs 3.3s unsalted, AQE off in both) — prefer AQE
 * (result-neutral, on by default) and treat salting as the manual
 * escape hatch for the genuinely pathological regime.
 */
object SaltedJoin {

  def join(
      big: DataFrame,
      small: DataFrame,
      keys: Seq[String],
      factor: Int): DataFrame = {
    require(factor > 0)
    val salted = big.withColumn("_salt",
      (rand(seed = 42) * factor).cast("int"))
    val replicated = small.withColumn("_salt",
      explode(array((0 until factor).map(lit): _*)))
    salted.join(replicated, keys :+ "_salt").drop("_salt")
  }
}
