package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/**
 * Coarse index over the centroid set — the assignment path for the
 * C ≳ 10⁴ regime where even the flat [[CentroidAssign]] kernel's
 * O(C·dim) per row becomes the wall (SemDeDup's corpus-proportional C
 * contract guarantees that regime at 100 TB). Centroids are grouped by
 * their random-hyperplane bucket ([[VectorKernels.planeComponent]] —
 * the SAME deterministic planes the ANN-LSH path uses); assignment
 * probes the vector's own bucket plus every 1-bit-flip neighbor
 * (multi-probe, P+1 buckets) and runs the exact argmax INSIDE the
 * candidate set, falling back to the full scan when the probes come up
 * empty. Expected candidates ≈ C·(P+1)/2^P — sub-linear in C with P
 * grown as log₂C — at the price of APPROXIMATE assignment: a vector
 * whose true nearest centroid hashes outside every probed bucket gets
 * its nearest PROBED centroid instead. That is IVF's own nprobe trade,
 * applied to the quantizer; BASELINE.md regime `ivfindex` records both
 * the agreement rate against exact assignment and the end-to-end
 * keeper recall. The oracle-wired queries keep the
 * exact kernel — their DuckDB oracles replay exact Lloyd.
 *
 * Index layout: sorted bucket keys + member offsets into one positions
 * array (flat arrays, binary-searched per probe) — ships to executors
 * as a single reference object like the centroid matrix itself.
 */
final class CentroidIndex(
    matrix: Array[Array[Float]], cids: Array[Int], numPlanes: Int,
    bucketKeys: Array[Long], starts: Array[Int], members: Array[Int])
  extends Serializable {

  private def scoreOf(v: ArrayData, pos: Int): Double = {
    val ns = -VectorKernels.cosineAgainst(v, matrix(pos))
    if (java.lang.Double.isNaN(ns)) Double.PositiveInfinity else ns
  }

  /** Exact-within-candidates argmax: highest cosine, tie → lowest
   * POSITION (= lowest cid; the matrix is cid-sorted), identical
   * ordering to [[VectorKernels.centroidArgmax]]. */
  def assign(v: ArrayData): Int = {
    val b = VectorKernels.hyperplaneBucket(v, numPlanes)
    var best = Double.PositiveInfinity
    var bestPos = -1
    var probe = -1
    while (probe < numPlanes) {
      val key = if (probe < 0) b else b ^ (1L << probe)
      val slot = java.util.Arrays.binarySearch(bucketKeys, key)
      if (slot >= 0) {
        var i = starts(slot)
        val end = starts(slot + 1)
        while (i < end) {
          val pos = members(i)
          val s = scoreOf(v, pos)
          if (s < best || (s == best && pos < bestPos)) { best = s; bestPos = pos }
          i += 1
        }
      }
      probe += 1
    }
    if (bestPos < 0) return VectorKernels.centroidArgmax(v, matrix, cids)
    cids(bestPos)
  }
}

object CentroidIndex {
  /** Bucket of a plain float[] centroid — same arithmetic as the
   * ArrayData kernel ([[VectorKernels.hyperplaneBucket]]). */
  private def bucketOf(cent: Array[Float], numPlanes: Int): Long = {
    var bucket = 0L
    var p = 0
    while (p < numPlanes) {
      var proj = 0.0
      var i = 0
      while (i < cent.length) {
        proj += cent(i).toDouble * VectorKernels.planeComponent(p, i)
        i += 1
      }
      if (proj >= 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  /** Build on the driver from the cid-sorted centroid model (the same
   * parallel arrays the exact kernel takes). */
  def build(matrix: Array[Array[Float]], cids: Array[Int], numPlanes: Int): CentroidIndex = {
    require(matrix.nonEmpty && matrix.length == cids.length,
      "CentroidIndex needs a non-empty centroid model")
    // the Long bucket and the probe loop's `b ^ (1L << probe)` are only
    // well-defined up to 63 planes — a larger value would silently wrap
    // the shift and probe wrong/duplicate buckets
    require(numPlanes >= 0 && numPlanes <= 63,
      s"numPlanes must be in [0, 63], got $numPlanes")
    val byBucket = matrix.indices.groupBy(pos => bucketOf(matrix(pos), numPlanes))
    val keys = byBucket.keys.toArray.sorted
    val starts = new Array[Int](keys.length + 1)
    val members = new Array[Int](matrix.length)
    var off = 0
    keys.zipWithIndex.foreach { case (k, slot) =>
      starts(slot) = off
      byBucket(k).sorted.foreach { pos => members(off) = pos; off += 1 }
    }
    starts(keys.length) = off
    new CentroidIndex(matrix, cids, numPlanes, keys, starts, members)
  }
}

/** `centroid_assign_indexed(v)`: the bucket-pruned assignment as a
 * native expression; the index is one reference object, like
 * [[CentroidAssign]]'s matrix. */
case class CentroidAssignIndexed(child: Expression, index: CentroidIndex)
  extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "centroid_assign_indexed"

  override protected def nullSafeEval(input: Any): Any =
    index.assign(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idx = ctx.addReferenceObj("centroidIndex", index,
      classOf[CentroidIndex].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $idx.assign($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): CentroidAssignIndexed =
    copy(child = newChild)
}

object CentroidIndexFunctions {
  def centroid_assign_indexed(v: Column, index: CentroidIndex): Column =
    GraftSqlBridge.column(CentroidAssignIndexed(GraftSqlBridge.expression(v), index))
}
