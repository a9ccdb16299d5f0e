package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ExprBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expression: the J-1 per-left argmax over a whole
  * candidate table in one call — the best `(right_key, right_name,
  * score)` for one left row, or null when no candidate reaches
  * `cutoff`.
  *
  * children: left_sorted, left_norm, left_set, left_kw (one prepared
  * left row, as for [[FuzzyBestScore]]) and `candidates`, an
  * array<struct<right_key, right_name, right_sorted, right_norm,
  * right_set, right_kw>> in ascending struct order — `sort_array`
  * of the collected prepared right side (see
  * [[graft.operators.MatchJoin.broadcastJoin]]).
  *
  * Equal to scoring every pair with [[FuzzyBestScore]] at floor
  * `cutoff` (keyword floor max(30, cutoff)), keeping pairs scoring >=
  * cutoff and taking min(-score, right_key, right_name): the walk goes
  * in that ascending (right_key, right_name) order and keeps a
  * candidate only on a STRICTLY higher score, so among equal best
  * scores the first — lowest — key wins. Each candidate is scored at
  * the running floor max(cutoff, best + 1): a candidate scoring <= best
  * cannot win, and [[KernelOps.fuzzyBest]] at a floor f returns the
  * pair's exact score whenever that score is >= f (every strategy is
  * exact above its floor; a strategy refused in [cutoff, f) is below
  * the returned max) and something < f otherwise, which the walk
  * rejects. A 100 ends the walk. A null scoring input scores 0, as in
  * FuzzyBestScore.
  */
case class MatchArgmax(children: Seq[Expression], cutoff: Int) extends Expression {

  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (children.length != 5)
      return org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_match_argmax takes 5 inputs, got ${children.length}")
    TypeChecks.expect("graft_match_argmax", Seq(
      TypeChecks.string("left_sorted", children(0).dataType),
      TypeChecks.string("left_norm", children(1).dataType),
      TypeChecks.stringArray("left_set", children(2).dataType),
      TypeChecks.stringArray("left_kw", children(3).dataType),
      ("candidates", children(4).dataType, MatchArgmax.isCandidateTable _,
        "ARRAY<STRUCT<key, STRING, STRING, STRING, ARRAY<STRING>, ARRAY<STRING>>>")))
  }

  private def candidateFields: Array[StructField] =
    children(4).dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType].fields

  private def keyType: DataType = candidateFields(0).dataType

  /** struct<right_key, right_name, score>, key and name fields as the
    * candidate struct declares them. */
  override def dataType: DataType = StructType(Seq(candidateFields(0), candidateFields(1),
    StructField("score", IntegerType, nullable = false)))

  // decoded table of the interpreted path; one per expression instance
  // (Spark deserializes a plan per task, so never shared across tasks)
  @transient private lazy val kernel = new MatchArgmaxKernel(cutoff, keyType)

  @transient private lazy val c = children.toArray

  override def eval(input: InternalRow): Any = kernel.best(
    c(0).eval(input).asInstanceOf[UTF8String], c(1).eval(input).asInstanceOf[UTF8String],
    c(2).eval(input).asInstanceOf[ArrayData], c(3).eval(input).asInstanceOf[ArrayData],
    c(4).eval(input).asInstanceOf[ArrayData])

  /** One [[MatchArgmaxKernel]] call per row; the kernel (and with it the
    * decoded candidate table) is a mutable field of the generated
    * class, so it lives as long as the task's iterator. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val args = evals.map(e => s"(${e.isNull} ? null : ${e.value})").mkString(", ")
    val childCode = evals.map(_.code).reduce(_ + _)
    val kernelClass = classOf[MatchArgmaxKernel].getName
    val keyTypeRef = ctx.addReferenceObj("argmaxKeyType", keyType, classOf[DataType].getName)
    val k = ctx.addMutableState(kernelClass, "matchArgmax",
      v => s"$v = new $kernelClass($cutoff, $keyTypeRef);")
    val resultCode =
      code"""
        |$childCode
        |${CodeGenerator.javaType(dataType)} ${ev.value} = $k.best($args);
        |boolean ${ev.isNull} = ${ev.value} == null;
      """.stripMargin
    ev.copy(code = resultCode)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object MatchArgmax {

  private def isCandidateTable(dt: DataType): Boolean = dt match {
    case ArrayType(StructType(f), _) if f.length == 6 =>
      f.slice(1, 4).forall(_.dataType == StringType) &&
        f.drop(4).forall(x => TypeChecks.isStringArray(x.dataType))
    case _ => false
  }

  def column(leftSorted: Column, leftNorm: Column, leftSet: Column, leftKw: Column,
             candidates: Column, cutoff: Int): Column = {
    val exprs = Seq(leftSorted, leftNorm, leftSet, leftKw, candidates).map(ExprBridge.toExpression)
    ExprBridge.toColumn(MatchArgmax(exprs, cutoff))
  }
}

/** Per-task state of [[MatchArgmax]]: the candidate table decoded once
  * into heap strings (whose `getBytes` is the backing array itself, no
  * copy) and heap token arrays (element reads allocate nothing), the
  * left row decoded once per row, and the levenshtein DP rows reused
  * by every pair. The table is re-decoded only when the `candidates`
  * value differs from the private copy it was decoded from — by
  * content, so the cache can never serve a stale table, whatever
  * buffer reuse the producing operator does. */
final class MatchArgmaxKernel(cutoff: Int, keyType: DataType) {
  private val rows = new LevRows
  private var source: ArrayData = _
  private var keys: Array[Any] = _
  private var names: Array[UTF8String] = _
  private var sorted: Array[UTF8String] = _
  private var norm: Array[UTF8String] = _
  private var sets: Array[ArrayData] = _
  private var kws: Array[ArrayData] = _
  // false: a null scoring field, so the candidate scores 0
  private var scorable: Array[Boolean] = _
  private var scored = 0L

  /** Candidates scored so far: the walk's work, which the running
    * floor's early stop at 100 keeps below rows × candidates. */
  def pairsScored: Long = scored

  private def heap(s: UTF8String): UTF8String =
    if (s == null) null else UTF8String.fromBytes(s.getBytes)

  private def heap(a: ArrayData): ArrayData =
    if (a == null) null
    else {
      val out = new Array[Any](a.numElements())
      var i = 0
      while (i < out.length) {
        out(i) = if (a.isNullAt(i)) null else heap(a.getUTF8String(i))
        i += 1
      }
      new GenericArrayData(out)
    }

  private def load(cands: ArrayData): Unit = {
    if (source != null && source == cands) return
    val copy = cands.copy()
    val n = copy.numElements()
    keys = new Array[Any](n); names = new Array[UTF8String](n)
    sorted = new Array[UTF8String](n); norm = new Array[UTF8String](n)
    sets = new Array[ArrayData](n); kws = new Array[ArrayData](n)
    scorable = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      val r = copy.getStruct(i, 6)
      keys(i) = r.get(0, keyType)
      names(i) = r.getUTF8String(1)
      sorted(i) = heap(r.getUTF8String(2)); norm(i) = heap(r.getUTF8String(3))
      sets(i) = heap(r.getArray(4)); kws(i) = heap(r.getArray(5))
      scorable(i) = sorted(i) != null && norm(i) != null && sets(i) != null && kws(i) != null
      i += 1
    }
    source = copy
  }

  def best(lSorted: UTF8String, lNorm: UTF8String, lSet: ArrayData, lKw: ArrayData,
           cands: ArrayData): InternalRow = {
    if (cands == null) return null
    load(cands)
    val leftOk = lSorted != null && lNorm != null && lSet != null && lKw != null
    val ls = heap(lSorted); val ln = heap(lNorm)
    val lset = heap(lSet); val lkw = heap(lKw)
    // every floor <= 0 scores alike (all strategies pass), and no
    // score exceeds 100
    var floor = math.min(math.max(cutoff, 0), 101)
    var at = -1
    var best = 0
    var i = 0
    while (i < keys.length && floor <= 100) {
      val s =
        if (leftOk && scorable(i)) {
          scored += 1
          KernelOps.fuzzyBest(ls, sorted(i), ln, norm(i), lset, sets(i), lkw, kws(i),
            floor, math.max(30, floor), rows)
        } else 0
      if (s >= floor) { at = i; best = s; floor = s + 1 }
      i += 1
    }
    if (at < 0) null else new GenericInternalRow(Array[Any](keys(at), names(at), best))
  }
}
