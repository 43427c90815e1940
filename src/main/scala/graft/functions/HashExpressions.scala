package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the text-hash hot path.
  *
  * The interpreted alternative — `aggregate(transform(split(s,''),
  * ascii), ...)` — evaluates a lambda per character and allocates a
  * UTF8String per character; profiled at ~10µs per 20-char string,
  * it dominated MinHash/fingerprint runtime (SURVEY §4.3 anticipated
  * exactly this custom-Expression escape hatch). These expressions
  * do the same arithmetic in a tight codepoint loop with full
  * whole-stage-codegen participation (doGenCode emits a static call),
  * ~100× less per-row cost. Semantics stay oracle-replicable: the
  * fold is `acc = (acc*base + codepoint) % mod`, identical to the
  * DuckDB `list_reduce` the oracle runs.
  */
case class PolyHashExpr(child: Expression, base: Long, mod: Long)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_poly_hash"

  protected override def nullSafeEval(input: Any): Any =
    PolyHashExpr.hash(input.asInstanceOf[UTF8String], base, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.PolyHashExpr.hash($c, ${base}L, ${mod}L)")

  override protected def withNewChildInternal(newChild: Expression): PolyHashExpr =
    copy(child = newChild)
}

object PolyHashExpr {
  /** acc = floorMod(acc*base + codepoint, mod) over the string's code
    * points — matches ascii()-per-split-char folds in both engines.
    */
  def hash(s: UTF8String, base: Long, mod: Long): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = java.lang.Math.floorMod(acc * base + cp, mod)
      i += Character.charCount(cp)
    }
    acc
  }
}

/** All k-gram hashes of a string in one call: element i (0-based) is
  * the plain (no-mod) base-31 polynomial of code points i..i+k-1 —
  * one native rolling pass per document instead of k substring
  * expressions per gram position.
  */
case class GramHashesExpr(child: Expression, k: Int, base: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_gram_hashes"

  protected override def nullSafeEval(input: Any): Any =
    GramHashesExpr.compute(input.asInstanceOf[UTF8String], k, base)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.GramHashesExpr.compute($c, $k, ${base}L)")

  override protected def withNewChildInternal(newChild: Expression): GramHashesExpr =
    copy(child = newChild)
}

object GramHashesExpr {
  def compute(s: UTF8String, k: Int, base: Long): ArrayData = {
    val cps = s.toString.codePoints().toArray
    val n = cps.length - k + 1
    if (n <= 0) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      var acc = 0L
      var j = 0
      while (j < k) { acc = acc * base + cps(i + j); j += 1 }
      out(i) = acc
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** All n-token shingle hashes of a document in one native pass:
  * lowercase, split on \s+ runs, per-token polynomial hash mod `mod`,
  * then combine each run of n consecutive token hashes with the same
  * left-assoc fold, e.g. n=3: ((h1*b + h2) % mod * b + h3) % mod.
  *
  * Exists because the compositional form —
  * `transform(seq, i -> f(element_at(th, i+j)...))` over a computed
  * array `th` — re-evaluates the whole token-hash subtree per tap in
  * interpreted HOF evaluation: O(tokens²) per document (profiled at
  * 14s for 5k docs). One native pass is O(chars · n).
  */
case class ShingleHashesExpr(child: Expression, n: Int, base: Long, mod: Long)
    extends UnaryExpression {
  require(n >= 1)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"

  protected override def nullSafeEval(input: Any): Any =
    ShingleHashesExpr.compute(input.asInstanceOf[UTF8String], n, base, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ShingleHashesExpr.compute($c, $n, ${base}L, ${mod}L)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashesExpr =
    copy(child = newChild)
}

object ShingleHashesExpr {
  // java-regex \s membership, the same class Spark's split uses
  def isWsChar(c: Char): Boolean = isWs(c)
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  def compute(s: UTF8String, n: Int, base: Long, mod: Long): ArrayData = {
    val str = s.toString.toLowerCase(java.util.Locale.ROOT)
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    // ring of the previous n-1 token hashes, oldest first
    val ring = new Array[Long](math.max(n - 1, 1))
    var filled = 0
    var i = 0
    val len = str.length
    while (i < len) {
      while (i < len && isWs(str.charAt(i))) i += 1
      if (i < len) {
        var acc = 0L
        while (i < len && !isWs(str.charAt(i))) {
          val cp = str.codePointAt(i)
          acc = java.lang.Math.floorMod(acc * base + cp, mod)
          i += Character.charCount(cp)
        }
        if (n == 1) out += acc
        else if (filled == n - 1) {
          // left-assoc fold over the window — the same arithmetic as
          // the oracle's unrolled ((th[i]*b + th[i+1]) % m ...) chain
          var comb = ring(0)
          var j = 1
          while (j < n - 1) {
            comb = java.lang.Math.floorMod(comb * base + ring(j), mod)
            j += 1
          }
          out += java.lang.Math.floorMod(comb * base + acc, mod)
          if (n > 2) System.arraycopy(ring, 1, ring, 0, n - 2)
          ring(n - 2) = acc
        } else { ring(filled) = acc; filled += 1 }
      }
    }
    new GenericArrayData(out.toArray)
  }
}

/** All n-word shingles of a document in one native pass — lowercase,
  * split on \s+ runs, join each n consecutive tokens with single
  * spaces: exactly `wordShingles(tokens(text), n)`'s contract, minus
  * the per-shingle transform/element_at/concat_ws expression chain
  * (one substring copy per shingle here; the HOF form re-walks the
  * token array and allocates per element). q53's explode feeds from
  * this.
  */
case class WordShinglesExpr(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1)

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "graft_word_shingles"

  protected override def nullSafeEval(input: Any): Any =
    WordShinglesExpr.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WordShinglesExpr.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordShinglesExpr =
    copy(child = newChild)
}

object WordShinglesExpr {
  def compute(s: UTF8String, n: Int): ArrayData = {
    val str = s.toString.toLowerCase(java.util.Locale.ROOT)
    // token boundaries as (start, end) offsets — no per-token strings
    val starts = scala.collection.mutable.ArrayBuffer.empty[Int]
    val ends = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    val len = str.length
    while (i < len) {
      while (i < len && ShingleHashesExpr.isWsChar(str.charAt(i))) i += 1
      if (i < len) {
        starts += i
        while (i < len && !ShingleHashesExpr.isWsChar(str.charAt(i))) i += 1
        ends += i
      }
    }
    val t = starts.length
    if (t < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](t - n + 1)
    val sb = new java.lang.StringBuilder
    var k = 0
    while (k <= t - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(str, starts(k + j), ends(k + j))
        j += 1
      }
      out(k) = UTF8String.fromString(sb.toString)
      k += 1
    }
    new GenericArrayData(out)
  }
}

/** Per-bigram hash pairs for the q57 bigram LM — element i is
  * struct(bh = polyHash("w_i w_i+1"), wh = polyHash(w_i)) over the
  * lowercased \s+ tokens, computed WITHOUT materializing any bigram
  * string: each token's scan carries (hash, 31^len mod m), and the
  * joined-bigram hash composes as
  * ((h1*b + ' ') % m) * pow2 % m + h2 (mod m) — arithmetic identical
  * to folding the concatenated "w1 w2" characters, so the oracle's
  * string-fold replay is unchanged. Replaces explode(shingles) +
  * substring_index + two PolyHashExprs per occurrence.
  */
case class BigramHashPairsExpr(child: Expression, base: Long, mod: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("bh", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("wh", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_bigram_hash_pairs"

  protected override def nullSafeEval(input: Any): Any =
    BigramHashPairsExpr.compute(input.asInstanceOf[UTF8String], base, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.BigramHashPairsExpr.compute($c, ${base}L, ${mod}L)")

  override protected def withNewChildInternal(
      newChild: Expression): BigramHashPairsExpr =
    copy(child = newChild)
}

object BigramHashPairsExpr {
  def compute(s: UTF8String, base: Long, mod: Long): ArrayData = {
    val str = s.toString.toLowerCase(java.util.Locale.ROOT)
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var h1 = -1L // previous token's hash
    var i = 0
    val n = str.length
    while (i < n) {
      while (i < n && ShingleHashesExpr.isWsChar(str.charAt(i))) i += 1
      if (i < n) {
        var acc = 0L
        var pow = 1L
        while (i < n && !ShingleHashesExpr.isWsChar(str.charAt(i))) {
          val cp = str.codePointAt(i)
          acc = java.lang.Math.floorMod(acc * base + cp, mod)
          pow = java.lang.Math.floorMod(pow * base, mod)
          i += Character.charCount(cp)
        }
        if (h1 >= 0) {
          // fold of "w1 w2": prefix = (h1*b + ' ') % m, then shift by
          // w2's length and add its fold — all mod-exact in Long
          val pfx = java.lang.Math.floorMod(h1 * base + ' '.toLong, mod)
          val bh = java.lang.Math.floorMod(pfx * pow + acc, mod)
          out += org.apache.spark.sql.catalyst.InternalRow(bh, h1)
        }
        h1 = acc
      }
    }
    new GenericArrayData(out.toArray)
  }
}

/** DISTINCT sliding-window minima of an array<long> column — the
  * winnowing selection of the q20 fingerprint path, one native
  * monotonic-deque pass per document (O(n)) in place of the old
  * per-doc exchange + sort + WindowExec whose bounded
  * `[current, +w-1]` min frame re-aggregates the w-row buffer per row
  * (O(n·w)), plus a global (doc_id, fp) distinct exchange.
  *
  * Element set contract (exactly the old plan's row set per doc):
  * { min(a[i..min(i+w-1, n-1)]) : i in 0..n-1 } — every window START
  * gets a minimum, trailing windows truncate at the array end (the
  * row-frame semantics of `rowsBetween(0, w-1)` over the dense
  * position ordering), and the per-document distinct replaces the
  * global one (doc_id is unique, so the (doc_id, fp) distinct row set
  * is identical). Output sorted ascending: deterministic, and order
  * is irrelevant to consumers (exploded into a row SET).
  */
case class WinnowMinsExpr(child: Expression, w: Int)
    extends UnaryExpression {
  require(w >= 1)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow_mins"

  protected override def nullSafeEval(input: Any): Any =
    WinnowMinsExpr.compute(input.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WinnowMinsExpr.compute($c, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowMinsExpr =
    copy(child = newChild)
}

object WinnowMinsExpr {
  def compute(a: ArrayData, w: Int): ArrayData = {
    val xs = a.toLongArray()
    val n = xs.length
    if (n == 0) return new GenericArrayData(Array.empty[Long])
    // monotonic deque of indices with strictly increasing values:
    // front is the argmin of the current window [i, min(i+w-1, n-1)]
    val dq = new Array[Int](n)
    var head = 0
    var tail = 0 // exclusive
    val mins = new Array[Long](n)
    var j = 0 // next index to admit
    var i = 0
    while (i < n) {
      val r = math.min(i + w - 1, n - 1)
      while (j <= r) {
        while (tail > head && xs(dq(tail - 1)) >= xs(j)) tail -= 1
        dq(tail) = j
        tail += 1
        j += 1
      }
      while (dq(head) < i) head += 1
      mins(i) = xs(dq(head))
      i += 1
    }
    // per-document distinct, ascending
    java.util.Arrays.sort(mins)
    var cnt = 1
    i = 1
    while (i < n) { if (mins(i) != mins(i - 1)) cnt += 1; i += 1 }
    val out = new Array[Long](cnt)
    out(0) = mins(0)
    var o = 1
    i = 1
    while (i < n) {
      if (mins(i) != mins(i - 1)) { out(o) = mins(i); o += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Native dot product of two array<double> columns — the same
  * left-associative ascending fold from 0.0 as
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` (bitwise-identical
  * doubles, so the DuckDB oracle's unrolled sum still hash-matches),
  * without the per-element lambda interpretation that made the
  * brute-force cosine path the q16b hotspot.
  */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  protected override def nullSafeEval(a: Any, b: Any): Any =
    DotProductExpr.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.DotProductExpr.dot($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)
}

object DotProductExpr {
  def dot(a: ArrayData, b: ArrayData): Double = {
    val xs = a.toDoubleArray()
    val ys = b.toDoubleArray()
    val n = math.min(xs.length, ys.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += xs(i) * ys(i); i += 1 }
    acc
  }
}

/** Squared L2 distance of two array<double> columns, same pinned
  * left-assoc fold from 0.0 as DotProductExpr but over
  * (x-y)·(x-y) terms — the k-means assignment metric (q110).
  */
case class SqDistExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_sqdist"

  protected override def nullSafeEval(a: Any, b: Any): Any =
    SqDistExpr.sqDist(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.SqDistExpr.sqDist($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqDistExpr =
    copy(left = newLeft, right = newRight)
}

object SqDistExpr {
  def sqDist(a: ArrayData, b: ArrayData): Double = {
    val xs = a.toDoubleArray()
    val ys = b.toDoubleArray()
    val n = math.min(xs.length, ys.length)
    var acc = 0.0
    var i = 0
    while (i < n) { val d = xs(i) - ys(i); acc += d * d; i += 1 }
    acc
  }
}

/** Chunk-associative FIR dot product of the Savitzky-Golay kernels
  * (smoothing, envelopes, the streaming spine): coefficient taps folded
  * in chunks of `chunk` (each from 0.0, left-assoc), chunk sums added
  * left-assoc — bit-for-bit the association order of the generated
  * DuckDB oracle SQL (whose expression binder caps nesting at 128, hence
  * the chunking).
  */
object FirDotExpr {
  /** The fold over the taps xs(from), …, xs(from + coeffs.length − 1) in
    * place, so a sliding window needs no per-position array.
    */
  def dotChunkedAt(xs: Array[Double], from: Int, coeffs: Array[Double], chunk: Int): Double = {
    var total = 0.0
    var first = true
    var i = 0
    while (i < coeffs.length) {
      val end = math.min(i + chunk, coeffs.length)
      var acc = 0.0
      var j = i
      while (j < end) { acc += xs(from + j) * coeffs(j); j += 1 }
      total = if (first) acc else total + acc
      first = false
      i = end
    }
    total
  }
}
