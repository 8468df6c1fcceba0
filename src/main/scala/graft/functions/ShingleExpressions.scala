package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * The kernels of the MinHash dedup path, each called from generated code
 * so its stage stays inside WholeStageCodegen like a built-in:
 *
 *  - `shingle_hashes`: the scan-side kernel. The composable form (`split`
 *    → `transform`/`slice`/`concat_ws` → `array_distinct` → 16 ×
 *    `transform`+`array_min`) evaluates interpreted (higher-order
 *    functions have no codegen) and allocates one string per shingle per
 *    pass — measured ~1 ms/doc single-threaded at sf0.1. This does the
 *    whole thing in one UTF-8 scan with no intermediate strings.
 *  - `minhash_bands`: the band buckets of one shingle-hash set.
 *  - `sorted_intersect_size`: the rerank kernel, |a ∩ b| of two
 *    shingle-hash sets in one linear merge. `size(array_intersect)` builds
 *    a hash set and a result array per evaluation, and the planner
 *    evaluates it several times per candidate pair; the merge allocates
 *    nothing, because `shingle_hashes` already emits sorted distinct
 *    arrays.
 */
object ShingleHash extends Serializable {

  /** FNV-1a over a byte range, widened through an xxHash64-style
   * avalanche (public-domain finalizer constants) — same construction as
   * [[SimHash64.hash64]]. */
  def hashRange(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) {
      h = (h ^ (bytes(i) & 0xffL)) * 0x100000001b3L
      i += 1
    }
    avalanche(h)
  }

  def avalanche(x: Long): Long = {
    var h = x
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  /** Mix two 64-bit values order-dependently (shingles are ordered
   * n-grams: "a b c" ≠ "c b a"). */
  def mix(a: Long, b: Long): Long = avalanche(a * 0x9e3779b97f4a7c15L + b)

  private def isSpace(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f' || b == 0x0b

  /**
   * Distinct hashes of the word n-gram shingles of `text`, sorted
   * ascending. Token boundaries = runs of ASCII whitespace (the `\s+`
   * tokenizer of graft.functions.TextFunctions.tokens on ASCII corpora).
   * One pass, no token/shingle materialization: a ring buffer of the last
   * n token hashes feeds an order-dependent mix per shingle.
   */
  def shingleHashes(text: UTF8String, n: Int): GenericArrayData = {
    val bytes = text.getBytes
    val ring = new Array[Long](n)
    var nTokens = 0
    val out = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    val len = bytes.length
    while (i < len) {
      while (i < len && isSpace(bytes(i))) i += 1
      if (i < len) {
        val start = i
        while (i < len && !isSpace(bytes(i))) i += 1
        ring(nTokens % n) = hashRange(bytes, start, i)
        nTokens += 1
        if (nTokens >= n) {
          // shingle = tokens [nTokens-n, nTokens): fold in ring order
          var h = 0x9e3779b97f4a7c15L
          var k = 0
          while (k < n) {
            h = mix(h, ring((nTokens - n + k) % n))
            k += 1
          }
          out.add(h)
        }
      }
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var j = 0
    while (it.hasNext) { arr(j) = it.next().longValue(); j += 1 }
    new GenericArrayData(arr)
  }

  /**
   * LSH band buckets from a shingle-hash set: minhash signature of
   * `bands*rows` seed-parameterized permutations (h_i(s) = avalanche of
   * seed-mixed s — an independent permutation family over 64 bits), then
   * one bucket hash per band folding its `rows` minima. Returns
   * `long[bands]`; pairing on (band index, bucket) reproduces classic
   * banding: P(candidate) = 1-(1-j^rows)^bands.
   */
  def minhashBands(sh: ArrayData, bands: Int, rows: Int): GenericArrayData = {
    val numHashes = bands * rows
    val minima = new Array[Long](numHashes)
    java.util.Arrays.fill(minima, Long.MaxValue)
    var i = 0
    val n = sh.numElements()
    while (i < n) {
      val s = sh.getLong(i)
      var k = 0
      while (k < numHashes) {
        val h = avalanche(s + (k + 1) * 0x9e3779b97f4a7c15L)
        if (h < minima(k)) minima(k) = h
        k += 1
      }
      i += 1
    }
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      var h = 0xcbf29ce484222325L
      var r = 0
      while (r < rows) {
        h = mix(h, minima(b * rows + r))
        r += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  /**
   * |a ∩ b| of two strictly ascending `long` arrays (signed order — what
   * [[shingleHashes]] emits) in one merge pass, allocating nothing. The
   * contract is checked, one compare per element of each array, the
   * unmerged tails included (an out-of-order tail can hide a common
   * element): an input that is not strictly ascending throws, so a
   * count is never wrong.
   */
  def sortedIntersectSize(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var n = 0
    var x = if (na > 0) a.getLong(0) else 0L
    var y = if (nb > 0) b.getLong(0) else 0L
    while (i < na && j < nb) {
      if (x < y) {
        i += 1
        if (i < na) x = ascending(a, i, x)
      } else if (x > y) {
        j += 1
        if (j < nb) y = ascending(b, j, y)
      } else {
        n += 1
        i += 1
        if (i < na) x = ascending(a, i, x)
        j += 1
        if (j < nb) y = ascending(b, j, y)
      }
    }
    i += 1
    while (i < na) { x = ascending(a, i, x); i += 1 }
    j += 1
    while (j < nb) { y = ascending(b, j, y); j += 1 }
    n
  }

  /** Element `k` of `arr`, which must exceed its predecessor `prev`. */
  private def ascending(arr: ArrayData, k: Int, prev: Long): Long = {
    val v = arr.getLong(k)
    if (v <= prev) throw new IllegalArgumentException(
      s"sorted_intersect_size: input not strictly ascending at index $k " +
        s"($prev then $v)")
    v
  }
}

/** `shingle_hashes(text, n)`: sorted distinct 64-bit hashes of the word
 * n-gram shingles — one codegen'd UTF-8 pass (see [[ShingleHash]]). */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override protected def nullSafeEval(input: Any): Any =
    ShingleHash.shingleHashes(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = ShingleHash.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $cls.shingleHashes($c, $n);")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** `minhash_bands(shingle_hashes, bands, rows)`: LSH band bucket hashes
 * from a shingle-hash array (see [[ShingleHash.minhashBands]]). */
case class MinHashBands(child: Expression, bands: Int, rows: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_bands"

  override protected def nullSafeEval(input: Any): Any =
    ShingleHash.minhashBands(input.asInstanceOf[ArrayData], bands, rows)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = ShingleHash.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $cls.minhashBands($c, $bands, $rows);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)
}

/** `sorted_intersect_size(a, b)`: |a ∩ b| of two strictly ascending
 * `array<bigint>` by one merge (see [[ShingleHash.sortedIntersectSize]]);
 * throws on an input that is not strictly ascending. */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_size"

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType == ArrayType(LongType, containsNull = false)))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "sorted_intersect_size takes two array<bigint> without null elements, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ShingleHash.sortedIntersectSize(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = ShingleHash.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $cls.sortedIntersectSize($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)
}

object ShingleFunctions {
  def shingle_hashes(c: Column, n: Int): Column =
    GraftSqlBridge.column(ShingleHashes(GraftSqlBridge.expression(c), n))
  def minhash_bands(c: Column, bands: Int, rows: Int): Column =
    GraftSqlBridge.column(MinHashBands(GraftSqlBridge.expression(c), bands, rows))
  def sorted_intersect_size(a: Column, b: Column): Column =
    GraftSqlBridge.column(SortedIntersectSize(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}
