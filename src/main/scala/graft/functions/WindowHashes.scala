package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the 64-bit polynomial ROLLING hash of
  * every length-`n` CHARACTER window of a string, as one array —
  * `window_hashes(text, n)[i] = H(substring(text, i+1, n))` for
  * 0-based i in [0, numChars−n], empty when the string is shorter
  * than n.
  *
  * Purpose (guide §1.2 "per-task work", §2.3 "shuffle keys, not
  * payloads"): the exact-substring dedup family (q339/q340/q354's
  * cut-occurrence substrate, q285's binary-search probes) keys every
  * character position by a hash of its L-char window. Computing that
  * as `hash(substring(text, p, L))` costs O(L) per position — one
  * UTF8String copy plus an L-byte hash, |text|·L work per document —
  * and materializes |text| short-lived strings per doc. The rolling
  * form pays O(1) per position after the first window (Rabin–Karp:
  * drop the leading code point's B^(L−1) term, multiply by B, add the
  * trailing code point — all mod 2^64, i.e. native long wraparound),
  * so the whole array is O(|text|) with zero string allocation.
  *
  * Correctness contract: equal windows ALWAYS hash equal (the value is
  * a pure function of the window's code-point sequence), which is the
  * only property the consumers rely on — every candidate group is
  * re-verified on the exact substring downstream, so a 64-bit
  * collision can add a candidate, never a false duplicate. The hash
  * VALUES are internal (never compared against the oracle, unlike
  * [[RollingHash]]'s document fingerprints, which ARE replayed by
  * DuckDB and must stay byte-stable).
  *
  * Windows are CODE-POINT windows — positions align exactly with
  * Spark's `substring(text, p, n)` (UTF8String.substringSQL counts
  * code points) for any input, not just ASCII; the ASCII-only fast
  * path below is an identity-preserving specialization (code point ==
  * byte there).
  */
case class WindowHashes(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"window_hashes: window length must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"window_hashes requires a string argument, got ${child.dataType.catalogString}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "window_hashes"

  override protected def nullSafeEval(input: Any): Any =
    WindowHashes.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WindowHashes.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): WindowHashes =
    copy(child = newChild)
}

object WindowHashes {
  // odd 64-bit multiplier (2^64 / golden ratio); mod-2^64 polynomial
  // hashing needs an odd base so the map stays a bijection per term
  private final val B = 0x9E3779B97F4A7C15L

  /** B^(k) mod 2^64 by square-and-multiply (driver/executor-side,
    * once per call — k = n−1 is a query literal). */
  private def powB(k: Int): Long = {
    var e = k; var base = B; var acc = 1L
    while (e > 0) {
      if ((e & 1) == 1) acc *= base
      base *= base; e >>= 1
    }
    acc
  }

  /** One pass over the string; returns the hash of every n-code-point
    * window. Called from both the interpreted eval and the generated
    * code (the loop is the work — a static call per ROW costs nothing
    * next to it, and keeps the two paths one implementation). */
  def compute(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    val nb = bytes.length
    val bl = powB(n - 1)
    // ASCII fast path: code point == byte, windows slide over bytes
    var ascii = true
    var i = 0
    while (ascii && i < nb) { if (bytes(i) < 0) ascii = false; i += 1 }
    if (ascii) {
      if (nb < n) return new GenericArrayData(Array.emptyLongArray)
      val out = new Array[Long](nb - n + 1)
      var h = 0L
      i = 0
      while (i < n) { h = h * B + (bytes(i) & 0xffL); i += 1 }
      out(0) = h
      while (i < nb) {
        h = (h - (bytes(i - n) & 0xffL) * bl) * B + (bytes(i) & 0xffL)
        out(i - n + 1) = h
        i += 1
      }
      new GenericArrayData(out)
    } else {
      // general path: decode UTF-8 once into code points, then roll
      val nc = s.numChars()
      if (nc < n) return new GenericArrayData(Array.emptyLongArray)
      val cps = new Array[Int](nc)
      // a string that ends mid-sequence (or holds invalid lead bytes)
      // must not read past either array: missing continuation bytes
      // decode as 0, and decoding stops at numChars code points
      def cont(k: Int): Int = if (k < nb) bytes(k) & 0x3f else 0
      var bi = 0; var ci = 0
      while (bi < nb && ci < nc) {
        val b0 = bytes(bi) & 0xff
        if (b0 < 0x80) { cps(ci) = b0; bi += 1 }
        else if (b0 < 0xe0) {
          cps(ci) = ((b0 & 0x1f) << 6) | cont(bi + 1); bi += 2
        } else if (b0 < 0xf0) {
          cps(ci) = ((b0 & 0x0f) << 12) | (cont(bi + 1) << 6) | cont(bi + 2); bi += 3
        } else {
          cps(ci) = ((b0 & 0x07) << 18) | (cont(bi + 1) << 12) |
            (cont(bi + 2) << 6) | cont(bi + 3); bi += 4
        }
        ci += 1
      }
      val out = new Array[Long](nc - n + 1)
      var h = 0L
      var j = 0
      while (j < n) { h = h * B + cps(j); j += 1 }
      out(0) = h
      while (j < nc) {
        h = (h - cps(j - n) * bl) * B + cps(j)
        out(j - n + 1) = h
        j += 1
      }
      new GenericArrayData(out)
    }
  }
}
