package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.forAll
import org.scalacheck.Test.{check, Parameters}
import graft.functions.{Names, Similarity}
import graft.plans.{FuzzyBestScore, LevRows}

/** The custom Catalyst scorer must be score-identical to the
  * declarative chain that the DuckDB oracle mirrors — checked on
  * generated inputs (ScalaCheck) and on a corpus pass through Spark. */
class FuzzyBestScoreSpec extends SparkSpec {
  import spark.implicits._

  private val word = Gen.choose(1, 8).flatMap(n =>
    Gen.stringOfN(n, Gen.frequency(9 -> Gen.alphaUpperChar, 1 -> Gen.numChar)))
  private val name = Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))

  private def runProp(p: Prop): Unit = {
    val r = check(Parameters.default.withMinSuccessfulTests(200), p)
    assert(r.passed, r.status.toString)
  }

  test("banded ratioAtLeast equals full ratio above floor, refuses below") {
    runProp(forAll(name, name) { (a, b) =>
      val full = {
        val la = a.length.max(b.length).max(1)
        val lev = levDp(a, b)
        math.floor(100.0 * (1.0 - lev.toDouble / la)).toInt
      }
      val banded = FuzzyBestScore.ratioAtLeast(a, b, 60)
      if (full >= 60) banded == full else banded == -1
    })
  }

  test("banded levenshtein in reused DP rows equals the full-matrix distance") {
    // one LevRows across every call, with lengths and bands changing
    // call to call: a cell left over from an earlier call must never be
    // read as part of the band
    val rnd = new scala.util.Random(Fuzz.seed)
    val rows = new LevRows
    val alphabet = "AB C".getBytes("US-ASCII")
    def gen(max: Int): Array[Byte] =
      Array.fill(rnd.nextInt(max + 1))(alphabet(rnd.nextInt(alphabet.length)))
    def mutate(a: Array[Byte]): Array[Byte] = {
      val b = scala.collection.mutable.ArrayBuffer(a.toSeq: _*)
      for (_ <- 0 until rnd.nextInt(6)) rnd.nextInt(3) match {
        case 0 => b.insert(rnd.nextInt(b.length + 1), alphabet(rnd.nextInt(alphabet.length)))
        case 1 if b.nonEmpty => b.remove(rnd.nextInt(b.length))
        case _ if b.nonEmpty => b(rnd.nextInt(b.length)) = alphabet(rnd.nextInt(alphabet.length))
        case _ =>
      }
      b.toArray
    }
    for (n <- 1 to 20000) {
      val a = gen(if (n % 100 == 0) 300 else 40)
      val b = if (rnd.nextInt(3) > 0) mutate(a) else gen(40)
      val (sa, sb) = (new String(a, "US-ASCII"), new String(b, "US-ASCII"))
      val full = levDp(sa, sb)
      val maxD = rnd.nextInt(a.length.max(b.length) + 4) - 2
      val got = FuzzyBestScore.boundedLevenshtein(a, b, maxD, rows)
      assert(got == (if (full <= maxD) full else -1),
        s"seed ${Fuzz.seed}: lev('$sa', '$sb') = $full, band $maxD gave $got")
      val ml = a.length.max(b.length).max(1)
      val ratio = math.floor(100.0 * (1.0 - full.toDouble / ml)).toInt
      for (floor <- Seq(60, 80, 89, 95)) {
        val r = FuzzyBestScore.ratioAtLeast(a, b, floor, rows)
        assert(r == (if (ratio >= floor) ratio else -1),
          s"seed ${Fuzz.seed}: ratio('$sa', '$sb') = $ratio, floor $floor gave $r")
      }
    }
  }

  private def levDp(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length) {
      val cost = if (a(i - 1) == b(j - 1)) 0 else 1
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1), d(i - 1)(j - 1) + cost)
    }
    d(a.length)(b.length)
  }

  test("native expression equals declarative chain on generated name pairs") {
    // raw names include multi-byte content: normalizeName strips it to
    // ASCII (its [^A-Za-z0-9 ] alphabet), which is exactly the invariant
    // that makes the byte-walking scorer exact — pin the composed path
    val rawName = Gen.frequency(8 -> name,
      1 -> name.map(n => s"Café $n Müller"),
      1 -> name.map(n => s"$n 中文 😀 ß"))
    val pairs = Fuzz.draw(Gen.listOfN(300, Gen.zip(rawName, rawName)))
    val df = pairs.toDF("ln", "rn")
      .withColumn("left_norm", Names.normalizeName(col("ln")))
      .withColumn("right_norm", Names.normalizeName(col("rn")))
      .withColumn("left_sorted", Similarity.tokenSortJoin(col("left_norm")))
      .withColumn("right_sorted", Similarity.tokenSortJoin(col("right_norm")))
      .withColumn("left_set", Similarity.tokenSet(col("left_norm")))
      .withColumn("right_set", Similarity.tokenSet(col("right_norm")))
      .withColumn("left_kw", Names.keywordsArr(col("ln")))
      .withColumn("right_kw", Names.keywordsArr(col("rn")))
    // floor 60 = the historical qualify floor; (80, 80) = the raised
    // accept-path floors the similarity join actually runs with
    for ((floor, kwFloor) <- Seq((60, 30), (80, 80))) {
      val native = FuzzyBestScore.column(
        col("left_sorted"), col("right_sorted"), col("left_norm"), col("right_norm"),
        col("left_set"), col("right_set"), col("left_kw"), col("right_kw"),
        floor, kwFloor)
      val declarative = {
        def q(s: org.apache.spark.sql.Column, f: Int) = when(s >= f, s)
        coalesce(greatest(
          q(Similarity.ratio(col("left_sorted"), col("right_sorted")), floor),
          q(Similarity.tokenSetRatioFromSets(col("left_set"), col("right_set")), floor),
          q(Similarity.ratio(col("left_norm"), col("right_norm")), floor),
          q(Similarity.keywordScoreFromArrays(col("left_kw"), col("right_kw")), kwFloor)), lit(0))
      }
      val diff = df.select(col("ln"), col("rn"), native.as("nat"), declarative.as("dec"))
        .filter(col("nat") =!= col("dec"))
      val bad = diff.collect()
      assert(bad.isEmpty,
        s"native != declarative at floor=$floor/kw=$kwFloor on: ${bad.take(5).mkString("; ")}")
    }
  }

  test("normalize is idempotent on generated strings") {
    val gen = Fuzz.draw(Gen.listOfN(200, Gen.frequency(
      5 -> name,
      2 -> name.map(n => s"The $n Pty Ltd (AU) | Home"),
      2 -> name.map(n => s"$n &amp; Co - Contact"),
      1 -> Gen.oneOf("", "  ", "&#123; [x] |", "a+b&c"))))
    val df = gen.toDF("x")
      .select(Names.normalizeName(col("x")).as("n1"))
      .select(col("n1"), Names.normalizeName(col("n1")).as("n2"))
    assert(df.filter(col("n1") =!= col("n2")).count() == 0)
  }
}
