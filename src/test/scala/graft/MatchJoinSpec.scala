package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{concat, lit}
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.types.UTF8String
import graft.operators.MatchJoin
import graft.plans.{KernelOps, LevRows, MatchArgmaxKernel}

/** Fixture bands per FIXTURES.md §A: auto-match per scorer, keyword-only
  * match, 60-79 reject band, <60, and candidate tie. */
class MatchJoinSpec extends SparkSpec {
  import spark.implicits._

  private val left = Seq(
    (1L, "Acme Widgets Pty Ltd"),    // exact-ish: token_set 100 vs cand 10
    (2L, "Bolt Fabrication"),        // vs "Fabrication Bolt Co" → token_sort 100
    (3L, "Quokka Mining"),           // no candidate anywhere near → no match
    (4L, "Delta Epsilon Gamma Pty"), // keyword overlap with cand 40
    (5L, "Zeta Partners")            // mid-band ~60-79 vs cand 50 → reject
  ).toDF("abn", "entity_name")

  private val right = Seq(
    (10L, "Acme Widgets (Australia) | Home"),
    (20L, "Fabrication Bolt Co - Contact"),
    (40L, "Gamma Epsilon Delta Services"),
    (50L, "Zeta Partnership Holdings XYZA"),
    (60L, "Totally Unrelated Plumbing")
  ).toDF("cc_id", "company_name")

  private lazy val result = MatchJoin.broadcastJoin(
    left, "abn", "entity_name", right, "cc_id", "company_name", 80)
    .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getInt(4))).toMap

  test("token-set / token-sort / keyword strategies each produce accepts") {
    assert(result(1L) == (10L, 100)) // ACME WIDGETS ⊂ ACME WIDGETS PROPRIETARY LIMITED
    assert(result(2L) == (20L, 100)) // sorted tokens equal after normalize
    assert(result(4L)._1 == 40L)     // keyword Jaccard (same 3 keywords)
    assert(result(4L)._2 >= 80)
  }

  test("sub-cutoff candidates rejected") {
    assert(!result.contains(3L))
    assert(!result.contains(5L))
  }

  test("argmax tie-break keeps lowest right key") {
    val l = Seq((9L, "Mirror Image")).toDF("abn", "entity_name")
    val r = Seq((101L, "Mirror Image"), (100L, "Mirror Image")).toDF("cc_id", "company_name")
    val m = MatchJoin.broadcastJoin(l, "abn", "entity_name", r, "cc_id", "company_name", 80)
      .collect()
    assert(m.length == 1 && m.head.getLong(2) == 100L)
  }

  private type Side = Seq[(Option[Long], String)]
  private type Out = (Option[Long], String, Option[Long], String, Int)

  private def run(left: Side, right: Side, cutoff: Int = 80): Set[Out] =
    MatchJoin.broadcastJoin(left.toDF("abn", "entity_name"), "abn", "entity_name",
        right.toDF("cc_id", "company_name"), "cc_id", "company_name", cutoff)
      .collect().map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]), r.getString(3), r.getInt(4))).toSet

  private final case class Prep(key: Option[Long], name: String, sorted: UTF8String,
                                norm: UTF8String, set: ArrayData, kw: ArrayData)

  /** One side prepared as the operator prepares it (normalized name of
    * at least `minNorm` chars, sorted tokens, token set, keywords of
    * the raw name). */
  private def prep(rows: Side, minNorm: Int): Seq[Prep] = rows.flatMap { case (k, n) =>
    val raw = UTF8String.fromString(n)
    val norm = KernelOps.normalizeName(raw)
    if (norm.numChars < minNorm) None
    else Some(Prep(k, n, KernelOps.tokenSortJoin(norm), norm, KernelOps.tokenSet(norm),
      KernelOps.keywordsArr(raw)))
  }

  /** The match defined pair by pair: every pair scored at floor
    * `cutoff`, pairs >= cutoff kept, per left key the min of
    * (-score, right_key, right_name, left_name), null keys first. */
  private def bruteForce(left: Side, right: Side, cutoff: Int = 80): Set[Out] = {
    val rows = new LevRows
    val accepted = for {
      l <- prep(left, 1); r <- prep(right, 3)
      s = KernelOps.fuzzyBest(l.sorted, r.sorted, l.norm, r.norm, l.set, r.set, l.kw, r.kw,
        cutoff, math.max(30, cutoff), rows)
      if s >= cutoff
    } yield (l, r, s)
    accepted.groupBy(_._1.key).values
      .map(_.minBy { case (l, r, s) => (-s, r.key, r.name, l.name) })
      .map { case (l, r, s) => (l.key, l.name, r.key, r.name, s) }.toSet
  }

  private def checked(left: Side, right: Side, cutoff: Int = 80): Set[Out] = {
    val got = run(left, right, cutoff)
    assert(got == bruteForce(left, right, cutoff))
    got
  }

  test("argmax: equal scores on different right keys listed in descending key order") {
    val left = Seq((Some(1L), "Mirror Image"))
    val right = Seq((Some(30L), "Mirror Imagx"), (Some(20L), "Mirror Imagy"),
      (Some(10L), "Unrelated Plumbing"))
    val got = checked(left, right)
    assert(got.size == 1 && got.head._3.contains(20L) && got.head._5 < 100, got)
  }

  test("argmax: the same right key with different names keeps the lowest name") {
    val left = Seq((Some(1L), "Mirror Image"))
    val right = Seq((Some(5L), "Mirror Imagx"), (Some(5L), "Mirror Image"),
      (Some(5L), "Image Mirror"))
    assert(checked(left, right) == Set((Some(1L), "Mirror Image", Some(5L), "Image Mirror", 100)))
  }

  test("argmax: duplicate left keys keep one row, the best over both") {
    val left = Seq((Some(1L), "Mirror Imagx"), (Some(1L), "Mirror Image"), (Some(2L), "Mirror Imagx"))
    val right = Seq((Some(8L), "Mirror Imagx"), (Some(7L), "Mirror Image"))
    assert(checked(left, right) == Set(
      (Some(1L), "Mirror Image", Some(7L), "Mirror Image", 100),
      (Some(2L), "Mirror Imagx", Some(8L), "Mirror Imagx", 100)))
  }

  test("argmax: a null right key sorts first among equal scores") {
    val left = Seq((Some(1L), "Mirror Image"), (None, "Mirror Image"))
    val right = Seq((Some(4L), "Mirror Image"), (None, "Mirror Image"))
    assert(checked(left, right) == Set(
      (Some(1L), "Mirror Image", None, "Mirror Image", 100),
      (None, "Mirror Image", None, "Mirror Image", 100)))
  }

  test("argmax: an empty candidate side matches nothing") {
    val left = Seq((Some(1L), "Mirror Image"))
    assert(checked(left, Seq.empty).isEmpty)
    // every candidate dropped by the >= 3-char normalization gate
    assert(checked(left, Seq((Some(2L), "A."), (Some(3L), "!!"))).isEmpty)
  }

  test("argmax: all candidates below cutoff match nothing") {
    val left = Seq((Some(1L), "Mirror Image"), (Some(2L), "Quokka Mining"))
    val right = Seq((Some(1L), "Totally Unrelated Plumbing"), (Some(2L), "Zeta Partners"))
    assert(checked(left, right).isEmpty)
    assert(checked(left, right, 101).isEmpty)
  }

  private def candidate(key: Long, name: String): InternalRow = {
    val raw = UTF8String.fromString(name)
    val norm = KernelOps.normalizeName(raw)
    new GenericInternalRow(Array[Any](key, raw, KernelOps.tokenSortJoin(norm), norm,
      KernelOps.tokenSet(norm), KernelOps.keywordsArr(raw)))
  }

  private def bestOf(k: MatchArgmaxKernel, name: String, table: Seq[InternalRow]): InternalRow = {
    val raw = UTF8String.fromString(name)
    val norm = KernelOps.normalizeName(raw)
    k.best(KernelOps.tokenSortJoin(norm), norm, KernelOps.tokenSet(norm),
      KernelOps.keywordsArr(raw), new GenericArrayData(table.toArray[Any]))
  }

  test("argmax: a 100 stops the walk") {
    val k = new MatchArgmaxKernel(80, LongType)
    val table = Seq(candidate(1L, "Mirror Imagx"), candidate(2L, "Image Mirror"),
      candidate(3L, "Mirror Image"), candidate(4L, "Mirror Image Holdings"))
    val b = bestOf(k, "Mirror Image", table)
    assert(b.getLong(0) == 2L && b.getUTF8String(1).toString == "Image Mirror" && b.getInt(2) == 100)
    assert(k.pairsScored == 2, s"scored ${k.pairsScored} candidates, the walk must stop at the 100")
    // the same first 100 through the operator
    assert(checked(Seq((Some(9L), "Mirror Image")),
      Seq((Some(4L), "Mirror Image"), (Some(3L), "Image Mirror"), (Some(5L), "Mirror Imagx")))
      == Set((Some(9L), "Mirror Image", Some(3L), "Image Mirror", 100)))
  }

  test("argmax: the kernel re-decodes a candidate table whose content changed") {
    val k = new MatchArgmaxKernel(80, LongType)
    assert(bestOf(k, "Mirror Image", Seq(candidate(1L, "Mirror Image"))).getLong(0) == 1L)
    assert(bestOf(k, "Mirror Image", Seq(candidate(2L, "Mirror Image"))).getLong(0) == 2L)
    assert(bestOf(k, "Mirror Image", Seq(candidate(3L, "Quokka Mining"))) == null)
  }

  test("argmax: broadcast join equals a brute-force pairwise argmax on random data") {
    val rnd = new scala.util.Random(Fuzz.seed)
    val vocab = Array("ACME", "BOLT", "WIDGETS", "MINING", "MINNING", "DELTA", "GAMMA",
      "PARTNERS", "HOLDING", "HOLDINGS", "CO", "PTY", "LTD", "AU", "7", "77")
    def name(): String = {
      val words = Seq.fill(1 + rnd.nextInt(4))(vocab(rnd.nextInt(vocab.length)))
      val n = words.mkString(" ")
      rnd.nextInt(6) match {
        case 0 => n.toLowerCase + " Pty Ltd"
        case 1 if n.length > 3 => n.patch(rnd.nextInt(n.length), "", 1) // a dropped char
        case 2 => s"The $n | Home"
        case _ => n
      }
    }
    def key(range: Int): Option[Long] =
      if (rnd.nextInt(12) == 0) None else Some(rnd.nextInt(range).toLong)
    for (round <- 1 to 3; cutoff <- Seq(60, 80)) {
      val left = Seq.fill(60)((key(40), name()))
      val right = Seq.fill(40)((key(25), name()))
      val got = run(left, right, cutoff)
      val want = bruteForce(left, right, cutoff)
      assert(got == want, s"seed ${Fuzz.seed} round $round cutoff $cutoff: " +
        s"only kernel ${(got -- want).take(5)}, only brute force ${(want -- got).take(5)}")
      assert(want.nonEmpty, s"seed ${Fuzz.seed}: a corpus with no match checks little")
    }
  }

  test("blocked join agrees with broadcast join on rare-token data") {
    val b = MatchJoin.blockedJoin(
      left, "abn", "entity_name", right, "cc_id", "company_name", 80, maxTokenFreq = 100L)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getInt(4))).toMap
    assert(b == result)
  }

  test("top-k candidates ranked by score then key") {
    val tk = MatchJoin.topKCandidates(
      left.filter($"abn" === 1L), "abn", "entity_name", right, "cc_id", "company_name", 3)
      .collect()
    assert(tk.length == 3)
    assert(tk.map(_.getInt(3)).toSeq == Seq(1, 2, 3))
    val scores = tk.map(_.getInt(2)).toSeq
    assert(scores == scores.sorted.reverse)
  }

  test("native exact ratio equals declarative ratio on a corpus") {
    val names = spark.read.parquet(s"$sf/customer.parquet").limit(1000)
      .select($"c_name".as("a"),
        concat(lit("The "), $"c_name", lit(" Pty | x")).as("b"))
      .select(graft.functions.Names.normalizeName($"a").as("na"),
        graft.functions.Names.normalizeName($"b").as("nb"))
    val bad = names.select(
        graft.plans.RatioScore.column($"na", $"nb").as("nat"),
        graft.functions.Similarity.ratio($"na", $"nb").as("dec"))
      .filter($"nat" =!= $"dec").count()
    assert(bad == 0, "native ratio diverges from declarative levenshtein ratio")
  }
}
