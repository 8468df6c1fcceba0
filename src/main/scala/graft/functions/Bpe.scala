package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Byte-pair-encoding tokenization with ITERATIVE merge training
 * (Sennrich et al. 2016) — the real BPE recipe, closing the one
 * honesty note the subword family carried: `SubwordVocab` fits a
 * single-pass frequency top-V (WordPiece-style inference over it),
 * where actual BPE training repeatedly merges the currently most
 * frequent adjacent symbol pair and re-counts. Here the merge loop is
 * genuine: V' iterations, each picking the global argmax pair under a
 * total order (count DESC, pair lexicographic) and rewriting every
 * word's segmentation.
 *
 * The representation is what makes the fit and the DuckDB oracle
 * bit-equal: a word's segmentation is its symbols each wrapped in
 * single spaces and concatenated — "abc" → " a  b  c " — so applying
 * merge (a,b) is ONE literal `replace(" a  b ", " ab ")`. Every symbol
 * carries its own delimiters, so adjacent merge sites never share a
 * boundary character: left-to-right non-overlapping replacement (the
 * shared semantics of Java `String.replace` and DuckDB `replace`)
 * IS canonical BPE merging — runs like "aaaa" merge to [aa, aa], not
 * [aa, a, a]. The oracle unrolls the same loop as generated CTE levels
 * and replays encode as the final segmentation join.
 *
 * Scale shape (the SentencePiece/HF-tokenizers precedent): the corpus
 * pass is the distinct-word frequency aggregate — the only thing that
 * sees the data; the merge loop runs driver-side over the
 * VOCABULARY-sized word-frequency dict (collect documented, the
 * quantizer pattern) and is O(V' · Σ|word|). The fitted merge list is
 * persisted via ModelCache and ships into the scan as ONE reference
 * object; encode is a zero-exchange scan projection.
 */
final class BpeMerges(val pairs: Array[(String, String)]) extends Serializable {
  /** Precompiled literal (pattern, replacement) per merge, rank order. */
  private val pats: Array[(String, String)] =
    pairs.map { case (a, b) => (s" $a  $b ", s" $a$b ") }

  /** Word → encoded pieces memo (what production tokenizers do — HF
   * tokenizers cache exactly this): natural text is Zipfian, so the
   * V'-replace chain runs once per DISTINCT word per executor instead
   * of once per occurrence. Model-scoped (lives in the reference
   * object, so two models in one JVM never cross), thread-safe,
   * size-capped so an adversarial vocabulary cannot grow it past
   * ~64k entries; @transient — the task binary ships the merges,
   * each executor warms its own memo. Entries are immutable
   * UTF8String arrays, safe to share across rows and threads.
   * Measured r15 (BASELINE.md, sf0.1): encode 0.72s → 0.49s, parity with the
   * subword hash-probe kernel. */
  @transient private lazy val memo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[UTF8String]]()
  private val MaxMemoEntries = 1 << 16

  /** Canonical space-wrapped segmentation of a raw word. Initial
   * symbols are CODE POINTS, not UTF-16 units (the Subword.encodeWord
   * precedent, r15 review): a supplementary-plane character must enter
   * as one symbol or the fit diverges from the DuckDB oracle's
   * code-point indexing — and a lone surrogate would not even survive
   * UTF8String encoding. */
  def wrap(w: String): String = {
    val sb = new java.lang.StringBuilder(w.length * 3)
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      sb.append(' ').appendCodePoint(cp).append(' '): Unit
      i += Character.charCount(cp)
    }
    sb.toString
  }

  /** Symbols of a segmentation string (inverse of [[wrap]]+merges). */
  def symbols(seg: String): Array[String] = seg.trim.split("  ")

  /** Apply every merge in rank order; returns the final segmentation. */
  def segment(w: String): String = {
    var s = wrap(w)
    var i = 0
    while (i < pats.length) {
      s = s.replace(pats(i)._1, pats(i)._2)
      i += 1
    }
    s
  }

  def encodeWord(w: String, out: java.util.ArrayList[UTF8String]): Unit = {
    var syms = memo.get(w)
    if (syms == null) {
      syms = symbols(segment(w)).map(UTF8String.fromString)
      if (memo.size < MaxMemoEntries) memo.put(w, syms): Unit
    }
    var i = 0
    while (i < syms.length) { out.add(syms(i)): Unit; i += 1 }
  }
}

object BpeKernels extends Serializable {
  def encode(toks: ArrayData, m: BpeMerges): ArrayData = {
    val out = new java.util.ArrayList[UTF8String]()
    var i = 0
    while (i < toks.numElements()) {
      m.encodeWord(toks.getUTF8String(i).toString, out)
      i += 1
    }
    new GenericArrayData(out.toArray(new Array[UTF8String](out.size())))
  }

  /** The training loop — shared by the operator fit and the specs so a
   * hand-checked case pins exactly the production code path. `wf` MUST
   * be sorted by word for a deterministic iteration order (counts and
   * argmax are order-independent; sorting makes that visible). */
  def train(wf: Seq[(String, Long)], numMerges: Int): Seq[(String, String)] = {
    val m0 = new BpeMerges(Array.empty)
    var segs: Seq[(String, Long)] =
      wf.sortBy(_._1).map { case (w, f) => (m0.wrap(w), f) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    while (merges.length < numMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
       segs.foreach { case (seg, f) =>
        val syms = m0.symbols(seg)
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        // tie-break in UTF-8 BYTE order (UTF8String.compareTo), not
        // Scala String order: java.lang.String compares UTF-16 code
        // units, which diverges from DuckDB's binary collation for
        // supplementary-plane symbols vs U+E000..U+FFFF — a tied
        // argmax on a non-BMP corpus would pick different merges in
        // the two engines (the subword vocab's collation discipline)
        implicit val u8: Ordering[UTF8String] =
          (x: UTF8String, y: UTF8String) => x.compareTo(y)
        val ((a, b), _) = counts.minBy { case ((a, b), c) =>
          (-c, UTF8String.fromString(a), UTF8String.fromString(b))
        }
        merges += ((a, b))
        val (pat, rep) = (s" $a  $b ", s" $a$b ")
        segs = segs.map { case (s, f) => (s.replace(pat, rep), f) }
      }
    }
    merges.toSeq
  }
}

/** `bpe_encode(toks)`: BPE segmentation of a whitespace-token array
 * under the fitted merge list (reference-object model, the
 * subword_encode pattern). */
case class BpeEncode(child: Expression, model: BpeMerges)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_encode"

  override protected def nullSafeEval(input: Any): Any =
    BpeKernels.encode(input.asInstanceOf[ArrayData], model)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = BpeKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val m = ctx.addReferenceObj("bpeMerges", model, classOf[BpeMerges].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $cls.encode($c, $m);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncode =
    copy(child = newChild)
}

object BpeFunctions {
  def bpe_encode(toks: Column, model: BpeMerges): Column =
    GraftSqlBridge.column(BpeEncode(GraftSqlBridge.expression(toks), model))
}
