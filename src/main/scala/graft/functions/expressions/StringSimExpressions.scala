package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Jaro / Jaro-Winkler similarity, mirrored op-for-op against DuckDB's
  * implementation so record-linkage gates can hash-match SQL oracles:
  *
  *  - either side empty → 0.0 (both-empty included — DuckDB's convention,
  *    NOT rapidfuzz's 1.0);
  *  - match window = max(max(|a|,|b|)/2 − 1, 0) with INTEGER division,
  *    greedy left-to-right first-free matching;
  *  - transpositions are halved with INTEGER division (t = raw/2) — fuzzed
  *    20k random pairs against `jaro_similarity` to find this: the textbook
  *    t/2.0 fractional halving disagrees on ~8% of random pairs;
  *  - jaro = (m/|a| + m/|b| + (m−t)/m) / 3, left-associated;
  *  - Winkler boost ONLY when jaro > 0.7 (rapidfuzz's threshold, which
  *    DuckDB inherits): jw = j + ℓ·0.1·(1−j) with ℓ = common prefix ≤ 4.
  *    The exact operator order `j + (ℓ·0.1)·(1−j)` reproduces DuckDB to the
  *    last ulp on 30k fuzz pairs; `ℓ·(0.1·(1−j))` does not.
  *
  * Comparison is over Unicode code points (DuckDB compares codepoints;
  * Java chars would split surrogate pairs on non-BMP text).
  */
private[graft] object JaroUtil {
  def codePoints(s: UTF8String): Array[Int] = {
    val str = s.toString
    val out = new Array[Int](str.codePointCount(0, str.length))
    var i = 0
    var k = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      out(k) = cp
      k += 1
      i += Character.charCount(cp)
    }
    out
  }

  def jaro(a: Array[Int], b: Array[Int]): Double = {
    val n = a.length
    val m = b.length
    if (n == 0 || m == 0) return 0.0
    val window = math.max(math.max(n, m) / 2 - 1, 0)
    val aM = new Array[Boolean](n)
    val bM = new Array[Boolean](m)
    var matches = 0
    var i = 0
    while (i < n) {
      val lo = math.max(0, i - window)
      val hi = math.min(m - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!bM(j) && a(i) == b(j)) {
          aM(i) = true
          bM(j) = true
          matches += 1
          found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var k = 0
    var trans = 0
    i = 0
    while (i < n) {
      if (aM(i)) {
        while (!bM(k)) k += 1
        if (a(i) != b(k)) trans += 1
        k += 1
      }
      i += 1
    }
    val t = trans / 2 // integer halving — the DuckDB/rapidfuzz convention
    (matches.toDouble / n + matches.toDouble / m +
      (matches - t).toDouble / matches) / 3.0
  }

  def jaroWinkler(a: Array[Int], b: Array[Int]): Double = {
    val j = jaro(a, b)
    if (j > 0.7) {
      val cap = math.min(4, math.min(a.length, b.length))
      var l = 0
      while (l < cap && a(l) == b(l)) l += 1
      j + l * 0.1 * (1.0 - j)
    } else j
  }

  /** Winkler boost of a jaro value at prefix length `l`, matching
    * [[jaroWinkler]]'s exact operator order. Monotone in `j` (slope
    * 1 − 0.1·l > 0), so boosting an upper bound of jaro upper-bounds jw.
    */
  @inline def boost(j: Double, l: Int): Double =
    if (j > 0.7) j + l * 0.1 * (1.0 - j) else j

  /** jw(a, b) when it can reach `minSim`, else any value < minSim (0.0).
    *
    * Sound gates (never drop a pair whose true jw ≥ minSim):
    *  - matches m ≤ min(n, m'), so jaro ≤ (2 + min/max)/3; with the
    *    maximum Winkler boost (l = 4) that bounds jw by the LENGTH RATIO
    *    alone — checked before decoding any code point;
    *  - same bound re-checked with the ACTUAL common prefix l ≤ 4;
    *  - inside the match scan, after consuming i+1 of a's code points the
    *    final m is ≤ matches-so-far + (n − i − 1): when even that ceiling
    *    (boosted at the actual l) cannot reach minSim the scan bails.
    * Survivor pairs take the identical arithmetic path as [[jaroWinkler]],
    * so filtered results are bit-equal to the ungated operator.
    */
  def jaroWinklerGte(a: Array[Int], b: Array[Int], minSim: Double): Double = {
    val n = a.length
    val m = b.length
    if (n == 0 || m == 0) return 0.0
    val minL = math.min(n, m)
    val maxL = math.max(n, m)
    val ubJaro = (2.0 + minL.toDouble / maxL) / 3.0
    if (boost(ubJaro, 4) < minSim) return 0.0
    val cap = math.min(4, minL)
    var l = 0
    while (l < cap && a(l) == b(l)) l += 1
    if (boost(ubJaro, l) < minSim) return 0.0
    // jaro match scan (verbatim [[jaro]]) + periodic upper-bound bailout
    val window = math.max(maxL / 2 - 1, 0)
    val aM = new Array[Boolean](n)
    val bM = new Array[Boolean](m)
    var matches = 0
    var i = 0
    while (i < n) {
      val lo = math.max(0, i - window)
      val hi = math.min(m - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!bM(j) && a(i) == b(j)) {
          aM(i) = true
          bM(j) = true
          matches += 1
          found = true
        }
        j += 1
      }
      i += 1
      if ((i & 7) == 0 && i < n) {
        val mUb = math.min(minL, matches + n - i)
        if (mUb == 0) return 0.0
        val jUb = (mUb.toDouble / n + mUb.toDouble / m + 1.0) / 3.0
        if (boost(jUb, l) < minSim) return 0.0
      }
    }
    if (matches == 0) return 0.0
    var k = 0
    var trans = 0
    i = 0
    while (i < n) {
      if (aM(i)) {
        while (!bM(k)) k += 1
        if (a(i) != b(k)) trans += 1
        k += 1
      }
      i += 1
    }
    val t = trans / 2
    val j = (matches.toDouble / n + matches.toDouble / m +
      (matches - t).toDouble / matches) / 3.0
    boost(j, l)
  }
}

/** Codegen glue for binary string expressions: call the instance's
  * `compute` via a reference object (the [[ComputeCallCodegen]] pattern for
  * two arguments) so host operators stay inside whole-stage codegen.
  */
private[expressions] trait BinaryComputeCallCodegen { self: BinaryExpression =>
  def compute(a: UTF8String, b: UTF8String): Any

  protected def castCall(call: String): String

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftExpr", this,
      classOf[BinaryComputeCallCodegen].getName)
    nullSafeCodeGen(ctx, ev,
      (a, b) => s"${ev.value} = ${castCall(s"$ref.compute($a, $b)")};")
  }
}

/** `jaro_similarity(a, b)` — null-safe, doubles in [0, 1]. */
case class JaroSim(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes
    with BinaryComputeCallCodegen {
  override def inputTypes = Seq(StringType, StringType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override def compute(a: UTF8String, b: UTF8String): Any =
    java.lang.Double.valueOf(
      JaroUtil.jaro(JaroUtil.codePoints(a), JaroUtil.codePoints(b)))
  override protected def castCall(call: String): String =
    s"((java.lang.Double) $call).doubleValue()"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaroSim =
    copy(left = l, right = r)
}

/** `jaro_winkler_similarity(a, b)` — see [[JaroUtil]] for the exact
  * DuckDB-mirrored semantics.
  */
case class JaroWinklerSim(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes
    with BinaryComputeCallCodegen {
  override def inputTypes = Seq(StringType, StringType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override def compute(a: UTF8String, b: UTF8String): Any =
    java.lang.Double.valueOf(
      JaroUtil.jaroWinkler(JaroUtil.codePoints(a), JaroUtil.codePoints(b)))
  override protected def castCall(call: String): String =
    s"((java.lang.Double) $call).doubleValue()"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaroWinklerSim =
    copy(left = l, right = r)
}

/** `jaro_winkler_gte(a, b, minSim)` — exact [[JaroWinklerSim]] value for
  * any pair whose similarity can reach `minSim`, and an arbitrary value
  * below `minSim` (0.0) otherwise. ONLY for `≥ minSim` filters: cheap
  * sound length/prefix/ceiling gates skip the O(|a|·window) match scan for
  * provably-below pairs (the [[JaroUtil.jaroWinklerGte]] contract), so a
  * blocked-candidate verification pays the full scan only near the
  * threshold. Callers that round to d decimals before comparing must pass
  * `minSim = threshold − 1e-6` (d ≤ 6) so the gate clears the rounding
  * margin.
  */
private[graft] case class JaroWinklerGteSim(left: Expression,
                                            right: Expression, minSim: Double)
    extends BinaryExpression with ImplicitCastInputTypes
    with BinaryComputeCallCodegen {
  override def inputTypes = Seq(StringType, StringType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override def compute(a: UTF8String, b: UTF8String): Any =
    java.lang.Double.valueOf(JaroUtil.jaroWinklerGte(
      JaroUtil.codePoints(a), JaroUtil.codePoints(b), minSim))
  override protected def castCall(call: String): String =
    s"((java.lang.Double) $call).doubleValue()"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaroWinklerGteSim =
    copy(left = l, right = r)
}

/** Aho-Corasick automaton over UTF-16 chars: trie + BFS failure links +
  * output links, built once per expression instance. Matching a text of
  * length L against k patterns costs O(L + hits) regardless of k — the
  * scan-side alternative to k `contains` passes (a 10k-phrase PII or
  * contamination termlist would otherwise cost 10k scans of every
  * document). Valid UTF-16/UTF-8 substring matches agree with byte-level
  * `contains` on both engines (continuation units can't start a code
  * point), so the k-way `contains` JOIN formulation is an exact oracle.
  */
private[graft] final class AhoCorasick(terms: Seq[String]) extends Serializable {
  // nodes as growable parallel arrays; transitions in per-node hash maps
  private val children = scala.collection.mutable.ArrayBuffer(
    new java.util.HashMap[Character, Integer]())
  private val fail = scala.collection.mutable.ArrayBuffer(0)
  private val termAt = scala.collection.mutable.ArrayBuffer[Int](-1)
  private val outLink = scala.collection.mutable.ArrayBuffer(0) // 0 = none

  terms.zipWithIndex.foreach { case (t, idx) =>
    var node = 0
    var i = 0
    while (i < t.length) {
      val c = Character.valueOf(t.charAt(i))
      var next = children(node).get(c)
      if (next == null) {
        children += new java.util.HashMap[Character, Integer]()
        fail += 0
        termAt += -1
        outLink += 0
        next = children.size - 1
        children(node).put(c, next)
      }
      node = next
      i += 1
    }
    // duplicate terms keep the first index (callers dedupe; harmless)
    if (termAt(node) < 0) termAt(node) = idx
  }

  locally { // BFS failure + output links
    val queue = new java.util.ArrayDeque[Integer]()
    children(0).forEach((_, v) => { fail(v) = 0; queue.add(v) })
    while (!queue.isEmpty) {
      val u = queue.poll()
      outLink(u) = if (termAt(fail(u)) >= 0) fail(u) else outLink(fail(u))
      children(u).forEach { (c, v) =>
        var f = fail(u)
        while (f != 0 && !children(f).containsKey(c)) f = fail(f)
        val fc = children(f).get(c)
        // fc == v is impossible: v's unique trie parent is u, and the fail
        // chain of u never revisits u (fail strictly reduces depth)
        fail(v) = if (fc != null) fc.intValue else 0
        queue.add(v)
      }
    }
  }

  /** Sorted distinct indices of terms occurring in `text` as substrings. */
  def matchedTerms(text: String): Array[Int] = {
    val seen = new Array[Boolean](terms.size)
    var nSeen = 0
    var node = 0
    var i = 0
    while (i < text.length && nSeen < terms.size) {
      val c = Character.valueOf(text.charAt(i))
      while (node != 0 && !children(node).containsKey(c)) node = fail(node)
      val next = children(node).get(c)
      node = if (next != null) next else 0
      var o = if (termAt(node) >= 0) node else outLink(node)
      while (o != 0) {
        val t = termAt(o)
        if (!seen(t)) { seen(t) = true; nSeen += 1 }
        o = outLink(o)
      }
      i += 1
    }
    val out = new Array[Int](nSeen)
    var k = 0
    var t = 0
    while (t < seen.length) {
      if (seen(t)) { out(k) = t; k += 1 }
      t += 1
    }
    out
  }
}

/** `multi_contains(text)` against a fixed termlist: sorted distinct indices
  * (into `terms`) of the phrases present in the text. The automaton is a
  * transient lazy — built once per executor instance, serialized as the
  * term list only.
  */
case class MultiContainsMatches(child: Expression, terms: Seq[String])
    extends UnaryExpression with ImplicitCastInputTypes with ArrayDataResult {
  require(terms.nonEmpty && terms.forall(_.nonEmpty),
    "multi_contains needs a non-empty termlist of non-empty terms")
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  @transient private lazy val ac = new AhoCorasick(terms)
  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[UTF8String])
  override def compute(input: UTF8String): Any =
    new GenericArrayData(ac.matchedTerms(input.toString))
  override protected def withNewChildInternal(c: Expression): MultiContainsMatches =
    copy(child = c)
}

object StringSimExpressions {
  def jaro(a: Column, b: Column): Column =
    ColumnShim.column(JaroSim(ColumnShim.expression(a), ColumnShim.expression(b)))
  def jaroWinkler(a: Column, b: Column): Column =
    ColumnShim.column(JaroWinklerSim(ColumnShim.expression(a), ColumnShim.expression(b)))
  /** [[JaroWinklerGteSim]]: meaningful only under a `>= minSim` filter. */
  private[graft] def jaroWinklerGte(a: Column, b: Column, minSim: Double): Column =
    ColumnShim.column(JaroWinklerGteSim(
      ColumnShim.expression(a), ColumnShim.expression(b), minSim))
  def multiContains(text: Column, terms: Seq[String]): Column =
    ColumnShim.column(MultiContainsMatches(ColumnShim.expression(text), terms))
}
