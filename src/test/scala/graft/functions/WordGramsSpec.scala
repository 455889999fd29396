package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** [[WordGrams]] must be bit-identical to the higher-order composite it
  * replaces — `transform(sequence(1, greatest(size(toks) - (n-1), 1)),
  * i ⇒ concat_ws(" ", slice(toks, i, n)))` over
  * `toks = split(lower(text), " ")` — on adversarial inputs: empty
  * strings, consecutive/leading/trailing spaces (empty split segments
  * are real zero-length words), docs shorter than n words (ONE
  * whole-text gram), multi-byte UTF-8, and case folding that changes
  * byte lengths.
  */
class WordGramsSpec extends SparkSpec {

  private val nasty = Seq(
    "", " ", "  ", "a", "a ", " a", "a  b", "ab cd", "a b c",
    "the cat sat on the mat quite a few words here",
    "Mixed CASE Text", "punct, marks! here?", "tab\tinside one",
    "unicode é ü ß 中文 txt", "ÉÜSS DOC", "x " * 30)

  private def genDoc: Gen[String] =
    Gen.listOf(Gen.oneOf(
      Gen.oneOf("the", "cat", "É", "ß", "中文", ""),
      Gen.alphaNumStr.map(_.take(6))))
      .map(_.mkString(" "))

  private def sampled(seed: Long, m: Int): Seq[String] =
    (0 until m).flatMap(i =>
      genDoc.apply(Gen.Parameters.default, Seed(seed + i)).toSeq)

  private def hof(tx: org.apache.spark.sql.Column, n: Int) = {
    val toks = split(tx, " ")
    transform(sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(n))))
  }

  test("expression equals the slice/concat_ws composite, lowered") {
    import spark.implicits._
    val docs = (nasty ++ sampled(23L, 80)).toDF("text")
    for (n <- Seq(1, 2, 4, 8)) {
      val diff = docs.select(col("text"),
          WordGrams(col("text"), n).as("expr"),
          hof(lower(col("text")), n).as("hof"))
        .filter(not(col("expr") === col("hof")))
        .collect()
      assert(diff.isEmpty, s"n=$n mismatches: ${diff.take(3).mkString("; ")}")
    }
  }

  test("raw mode (lowered=false) + posexplode equals the positional composite") {
    import spark.implicits._
    val docs = (nasty ++ sampled(51L, 60)).toDF("text")
    for (n <- Seq(2, 5)) {
      val e = docs.select(col("text"),
        posexplode(WordGrams.raw(col("text"), n)))
      val h = docs.select(col("text"), posexplode(hof(col("text"), n)))
      assert(e.exceptAll(h).isEmpty && h.exceptAll(e).isEmpty,
        s"n=$n positional mismatch")
    }
  }

  /** The step = n (non-overlapping segmentation) composite of
    * [[graft.pipeline.Dedup.segmentDedup]]: ceil(w/n) segments, segment
    * i = words [i·n, i·n + n), last one possibly shorter.
    */
  private def segHof(tx: org.apache.spark.sql.Column, n: Int) = {
    val toks = split(tx, " ")
    val nSegs = ceil(size(toks).cast("double") / n).cast("long")
    transform(sequence(lit(0L), nSegs - 1),
      i => concat_ws(" ", slice(toks, (i * n + 1).cast("int"), lit(n))))
  }

  test("segments (step = n) equals the segmentDedup slice composite") {
    import spark.implicits._
    val docs = (nasty ++ sampled(87L, 80)).toDF("text")
    for (n <- Seq(1, 2, 3, 8)) {
      val diff = docs.select(col("text"),
          WordGrams.segments(col("text"), n).as("expr"),
          segHof(col("text"), n).as("hof"))
        .filter(not(col("expr") === col("hof")))
        .collect()
      assert(diff.isEmpty, s"n=$n mismatches: ${diff.take(3).mkString("; ")}")
    }
  }

  test("general step: starts advance by step, end clamps, >=1 gram always") {
    import spark.implicits._
    val docs = (nasty ++ sampled(99L, 40)).toDF("text")
    // step=2, n=3 over w words: grams at 0,2,4,... — mirror with a HOF.
    def stepHof(tx: org.apache.spark.sql.Column, n: Int, st: Int) = {
      val toks = split(tx, " ")
      val numG = greatest(
        floor((size(toks) - n + (st - 1)).cast("double") / st).cast("long") + 1L,
        lit(1L))
      transform(sequence(lit(0L), numG - 1),
        i => concat_ws(" ", slice(toks, (i * st + 1).cast("int"), lit(n))))
    }
    import org.apache.spark.sql.graftshim.Shim
    val stepped = Shim.column(
      WordGrams(Shim.expression(col("text")), 3, lowered = false, step = 2))
    val diff = docs.select(col("text"),
        stepped.as("expr"),
        stepHof(col("text"), 3, 2).as("hof"))
      .filter(not(col("expr") === col("hof")))
      .collect()
    assert(diff.isEmpty, s"mismatches: ${diff.take(3).mkString("; ")}")
  }

  test("step > n: starts stay inside the text, one gram per start") {
    import org.apache.spark.sql.graftshim.Shim
    import spark.implicits._
    def grams(text: String, n: Int, st: Int): Seq[String] =
      Seq(text).toDF("text")
        .select(Shim.column(WordGrams(Shim.expression(col("text")), n,
          step = st)))
        .head().getSeq[String](0)
    assert(grams("a b", 1, 3) == Seq("a"))
    assert(grams("a b c d", 1, 3) == Seq("a", "d"))
    GraftExtensions.register(spark)
    assert(spark.sql("SELECT word_grams('a b', 1, true, 3)")
      .head().getSeq[String](0) == Seq("a"))
  }

  test("NULL text yields NULL (CharGrams convention; zero rows under posexplode)") {
    import spark.implicits._
    val docs = Seq[Option[String]](None, Some("a b")).toDF("text")
    val got = docs.select(WordGrams(col("text"), 2).as("g")).collect()
    assert(got.exists(_.isNullAt(0)))
    assert(docs.select(posexplode(WordGrams(col("text"), 2))).count() == 1)
  }

  test("SQL surface word_grams(text, n[, lowered]) is registered") {
    GraftExtensions.register(spark)
    import spark.implicits._
    Seq("A b c").toDF("text").createOrReplaceTempView("wg_t")
    val rows = spark.sql(
      "SELECT word_grams(text, 2) AS g, word_grams(text, 2, false) AS r, " +
        "word_grams(text, 2, false, 2) AS s FROM wg_t")
      .collect()
    assert(rows.head.getSeq[String](0) == Seq("a b", "b c"))
    assert(rows.head.getSeq[String](1) == Seq("A b", "b c"))
    assert(rows.head.getSeq[String](2) == Seq("A b", "c"))
  }
}
