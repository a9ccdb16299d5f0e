package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ExprBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expression: the reference's multi-strategy fuzzy
  * score (J-1 hot path) computed in ONE pass over primitive byte
  * arrays.
  *
  * Semantically identical to the declarative chain it replaces
  * (token-sort / token-set / plain levenshtein-ratio qualifying at
  * `floorScore`, keyword-Jaccard qualifying at `kwFloor`, max of the
  * qualifiers, 0 when none qualify — see graft.operators.MatchJoin and
  * the DuckDB oracle twins), but orders of magnitude cheaper per pair:
  *
  *  - every strategy is gated by a length-difference bound computed
  *    from `numBytes`/element counts BEFORE any byte copying — at an
  *    accept-path floor most pairs exit with zero allocations;
  *  - banded early-exit levenshtein (band = edits the floor allows);
  *  - token-set / Jaccard merges run directly over the columnar
  *    `ArrayData` (count-first; the three set-op strings are only
  *    materialized for pairs whose length gates pass);
  *  - strategies already beaten by the running best are re-gated at
  *    `best + 1` — returning -1 for scores <= best, which the max
  *    would discard anyway (adaptive floor).
  *
  * Byte-level processing is exact because every scorer input comes out
  * of the normalization chain, which strips to `[A-Za-z0-9 ]` — ASCII
  * only, where byte distance == codepoint distance and byte order ==
  * UTF8String binary order (the order array_sort produced).
  *
  * children: left_sorted, right_sorted, left_norm, right_norm,
  *           left_set, right_set (sorted distinct token arrays),
  *           left_kw, right_kw (sorted distinct keyword arrays)
  */
case class FuzzyBestScore(children: Seq[Expression], floorScore: Int, kwFloor: Int = 30)
    extends Expression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (children.length != 8)
      return org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_fuzzy_score takes 8 scoring inputs, got ${children.length}")
    val names = Seq("left_sorted", "right_sorted", "left_norm", "right_norm")
    val arrs = Seq("left_set", "right_set", "left_kw", "right_kw")
    TypeChecks.expect("graft_fuzzy_score",
      names.zip(children.take(4)).map { case (n, e) => TypeChecks.string(n, e.dataType) } ++
        arrs.zip(children.drop(4)).map { case (n, e) => TypeChecks.stringArray(n, e.dataType) })
  }

  @transient private lazy val c = children.toArray

  override def eval(input: InternalRow): Any = {
    val v0 = c(0).eval(input); val v1 = c(1).eval(input)
    val v2 = c(2).eval(input); val v3 = c(3).eval(input)
    val v4 = c(4).eval(input); val v5 = c(5).eval(input)
    val v6 = c(6).eval(input); val v7 = c(7).eval(input)
    if (v0 == null || v1 == null || v2 == null || v3 == null ||
      v4 == null || v5 == null || v6 == null || v7 == null) return 0
    KernelOps.fuzzyBest(
      v0.asInstanceOf[UTF8String], v1.asInstanceOf[UTF8String],
      v2.asInstanceOf[UTF8String], v3.asInstanceOf[UTF8String],
      v4.asInstanceOf[ArrayData], v5.asInstanceOf[ArrayData],
      v6.asInstanceOf[ArrayData], v7.asInstanceOf[ArrayData],
      floorScore, kwFloor, rows)
  }

  // DP scratch of the interpreted path; one per expression instance
  // (Spark deserializes a plan per task, so never shared across tasks)
  @transient private lazy val rows = new LevRows

  /** One static [[KernelOps]] call guarded by the children's null
    * flags (any null child → 0, matching `eval`); result is never
    * null, so downstream codegen sees a FalseLiteral null bit. The
    * levenshtein DP rows are a mutable field of the generated class. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val anyNull = evals.map(_.isNull.code.toString).mkString("(", ") || (", ")")
    val args = evals.map(_.value.code.toString).mkString(", ")
    val childCode = evals.map(_.code).reduce(_ + _)
    val levRows = classOf[LevRows].getName
    val scratch = ctx.addMutableState(levRows, "levRows", v => s"$v = new $levRows();")
    val resultCode =
      code"""
        |$childCode
        |int ${ev.value} = 0;
        |if (!($anyNull)) {
        |  ${ev.value} = graft.plans.KernelOps.fuzzyBest($args, $floorScore, $kwFloor, $scratch);
        |}
      """.stripMargin
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object FuzzyBestScore {

  def column(leftSorted: Column, rightSorted: Column, leftNorm: Column, rightNorm: Column,
             leftSet: Column, rightSet: Column, leftKw: Column, rightKw: Column,
             floorScore: Int, kwFloor: Int = 30): Column = {
    val exprs = Seq(leftSorted, rightSorted, leftNorm, rightNorm,
      leftSet, rightSet, leftKw, rightKw).map(ExprBridge.toExpression)
    ExprBridge.toColumn(FuzzyBestScore(exprs, floorScore, kwFloor))
  }

  /** floor(100*(1-maxD/ml)) feasibility gate: can ANY pair with lengths
    * (la, lb) reach `floorScore`? Edits >= |la-lb|, so the band bound
    * decides from lengths alone. */
  @inline private[plans] def lengthGate(la: Int, lb: Int, floorScore: Int): Boolean = {
    val ml = math.max(math.max(la, lb), 1)
    // Long product: ml * (100 - floor) overflows Int past ~21 MB of
    // text, flipping maxD negative — identical strings would then gate
    // to score 0 instead of 100
    math.abs(la - lb) <= (ml.toLong * (100 - floorScore) / 100).toInt
  }

  /** Zero-copy variant over UTF8String: gates on numBytes before
    * touching the payload (`getBytes` copies only an off-heap or
    * sliced string; a heap string spanning its whole array is
    * returned as is). */
  def ratioAtLeastU8(a: UTF8String, b: UTF8String, floorScore: Int, rows: LevRows): Int = {
    if (!lengthGate(a.numBytes, b.numBytes, floorScore)) return -1
    ratioAtLeast(a.getBytes, b.getBytes, floorScore, rows)
  }

  /** floor(100*(1 - lev/maxlen)) if >= floorScore else -1; banded DP with
    * early exit (band width = max edits allowed by the floor). */
  def ratioAtLeast(a: Array[Byte], b: Array[Byte], floorScore: Int, rows: LevRows): Int = {
    val la = a.length; val lb = b.length
    val ml = math.max(math.max(la, lb), 1)
    // Long product against the ~21 MB Int-overflow cliff (see lengthGate)
    val maxD = (ml.toLong * (100 - floorScore) / 100).toInt // floor of allowed edits
    if (math.abs(la - lb) > maxD) return -1
    val d = boundedLevenshtein(a, b, maxD, rows)
    if (d < 0) -1
    else math.floor(100.0 * (1.0 - d.toDouble / ml.toDouble)).toInt
  }

  def ratioAtLeast(a: String, b: String, floorScore: Int): Int =
    ratioAtLeast(a.getBytes("UTF-8"), b.getBytes("UTF-8"), floorScore, new LevRows)

  /** Levenshtein distance if <= maxD, else -1. Rolling-row DP restricted
    * to the |i-j| <= maxD band, in the two rows of `rows` (reused across
    * calls, grown on demand).
    *
    * Only band cells are ever written, so nothing is cleared between
    * rows or calls: row i computes columns [from, to] and writes two
    * sentinels, its left neighbour `from - 1` (column 0's boundary
    * value, or INF inside the matrix) and its right neighbour `to + 1`
    * (INF). Row i reads row i-1 at [from - 1, to] and itself at
    * [from - 1, to - 1]; both ranges lie inside what the previous row
    * and this one wrote, whatever a previous call left elsewhere. */
  def boundedLevenshtein(a: Array[Byte], b: Array[Byte], maxD: Int, rows: LevRows): Int = {
    val la = a.length; val lb = b.length
    if (la == 0) return if (lb <= maxD) lb else -1
    if (lb == 0) return if (la <= maxD) la else -1
    if (math.abs(la - lb) > maxD) return -1
    val INF = Int.MaxValue / 2
    rows.ensure(lb + 1)
    var prev = rows.a
    var curr = rows.b
    val top = math.min(lb, maxD)
    var j = 0
    while (j <= top) { prev(j) = j; j += 1 }
    if (top < lb) prev(top + 1) = INF
    var i = 1
    while (i <= la) {
      val from = math.max(1, i - maxD)
      val to = math.min(lb, i + maxD)
      val left = if (from == 1 && i <= maxD) i else INF
      curr(from - 1) = left
      if (to < lb) curr(to + 1) = INF
      var rowMin = left
      var jj = from
      while (jj <= to) {
        val cost = if (a(i - 1) == b(jj - 1)) 0 else 1
        var v = prev(jj - 1) + cost
        val del = prev(jj) + 1
        if (del < v) v = del
        val ins = curr(jj - 1) + 1
        if (ins < v) v = ins
        curr(jj) = v
        if (v < rowMin) rowMin = v
        jj += 1
      }
      if (rowMin > maxD) return -1
      val t = prev; prev = curr; curr = t
      i += 1
    }
    if (prev(lb) <= maxD) prev(lb) else -1
  }

  /** [[boundedLevenshtein]] in fresh rows, for one-off callers. */
  def boundedLevenshtein(a: Array[Byte], b: Array[Byte], maxD: Int): Int =
    boundedLevenshtein(a, b, maxD, new LevRows)

  @inline private def elem(a: ArrayData, i: Int): UTF8String = {
    val s = if (a.isNullAt(i)) null else a.getUTF8String(i)
    if (s == null) UTF8String.EMPTY_UTF8 else s
  }

  /** ByteBuf join-length simulator: appending a token of `tok` bytes to
    * a buffer currently `len` bytes long. */
  @inline private def appendLen(len: Int, tok: Int): Int =
    if (len > 0) len + 1 + tok else tok

  private def joinNonEmptyLen(a: Int, b: Int): Int =
    if (a == 0) b else if (b == 0) a else a + 1 + b

  /** token_set_ratio over pre-sorted distinct token arrays; -1 if below
    * floor. Pass 1 merge-counts the three set-op string lengths straight
    * off the ArrayData and length-gates all three component ratios; the
    * strings themselves are only built (pass 2) for surviving pairs. */
  def tokenSetRatioAtLeast(ta: ArrayData, tb: ArrayData, floorScore: Int, rows: LevRows): Int = {
    val na = ta.numElements(); val nb = tb.numElements()
    // pass 1: merge-count joined byte lengths
    var i = 0; var j = 0
    var lInter = 0; var lRestA = 0; var lRestB = 0
    while (i < na && j < nb) {
      val x = elem(ta, i); val y = elem(tb, j)
      val c = x.binaryCompare(y)
      if (c == 0) { lInter = appendLen(lInter, x.numBytes); i += 1; j += 1 }
      else if (c < 0) { lRestA = appendLen(lRestA, x.numBytes); i += 1 }
      else { lRestB = appendLen(lRestB, y.numBytes); j += 1 }
    }
    while (i < na) { lRestA = appendLen(lRestA, elem(ta, i).numBytes); i += 1 }
    while (j < nb) { lRestB = appendLen(lRestB, elem(tb, j).numBytes); j += 1 }
    val lt1 = joinNonEmptyLen(lInter, lRestA)
    val lt2 = joinNonEmptyLen(lInter, lRestB)
    val g01 = lengthGate(lInter, lt1, floorScore)
    val g02 = lengthGate(lInter, lt2, floorScore)
    val g12 = lengthGate(lt1, lt2, floorScore)
    if (!g01 && !g02 && !g12) return -1
    // pass 2: materialize the three strings for the surviving pair
    val inter = new ByteBuf(lInter)
    val restA = new ByteBuf(lRestA)
    val restB = new ByteBuf(lRestB)
    i = 0; j = 0
    while (i < na && j < nb) {
      val x = elem(ta, i); val y = elem(tb, j)
      val c = x.binaryCompare(y)
      if (c == 0) { inter.append(x); i += 1; j += 1 }
      else if (c < 0) { restA.append(x); i += 1 }
      else { restB.append(y); j += 1 }
    }
    while (i < na) { restA.append(elem(ta, i)); i += 1 }
    while (j < nb) { restB.append(elem(tb, j)); j += 1 }
    val s0 = inter.bytes
    val t1 = joinNonEmpty(s0, restA.bytes)
    val t2 = joinNonEmpty(s0, restB.bytes)
    var best = -1
    if (g01) { val x = ratioAtLeast(s0, t1, floorScore, rows); if (x > best) best = x }
    if (g02) { val x = ratioAtLeast(s0, t2, floorScore, rows); if (x > best) best = x }
    if (g12) { val x = ratioAtLeast(t1, t2, floorScore, rows); if (x > best) best = x }
    best
  }

  private final class ByteBuf(capacity: Int) {
    private val buf = new Array[Byte](capacity)
    private var len = 0
    def append(tok: UTF8String): Unit = {
      if (len > 0) { buf(len) = ' '; len += 1 }
      tok.writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + len)
      len += tok.numBytes
    }
    def bytes: Array[Byte] =
      if (len == buf.length) buf else java.util.Arrays.copyOf(buf, len)
  }

  private def joinNonEmpty(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    if (a.isEmpty) b
    else if (b.isEmpty) a
    else {
      val out = new Array[Byte](a.length + 1 + b.length)
      System.arraycopy(a, 0, out, 0, a.length)
      out(a.length) = ' '
      System.arraycopy(b, 0, out, a.length + 1, b.length)
      out
    }

  /** Jaccard*100 truncated over sorted distinct arrays; 0 if either
    * empty. Merge runs straight over the ArrayData — no materialization. */
  def jaccard100(ka: ArrayData, kb: ArrayData): Int = {
    val na = ka.numElements(); val nb = kb.numElements()
    if (na == 0 || nb == 0) return 0
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val c = elem(ka, i).binaryCompare(elem(kb, j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    val union = na + nb - inter
    (inter.toLong * 100 / union).toInt
  }
}

/** The two rolling levenshtein DP rows, owned by one caller (a
  * generated class, an expression instance or a [[MatchArgmax]] task
  * kernel) and reused across calls; never shared between threads. */
final class LevRows {
  var a: Array[Int] = Array.emptyIntArray
  var b: Array[Int] = Array.emptyIntArray

  def ensure(n: Int): Unit =
    if (a.length < n) {
      val size = math.max(n, a.length * 2)
      a = new Array[Int](size); b = new Array[Int](size)
    }
}
