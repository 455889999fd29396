package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression computing the space-joined WORD `n`-grams
  * of a text column in one linear pass — the corpus-sized kernel of the
  * span family's positional postings ([[graft.pipeline.Dedup.dupSpans]],
  * [[graft.pipeline.Dedup.dupSpansCut]],
  * [[graft.pipeline.Curation.contaminationSpans]], and the token-grain
  * twins via a pre-joined id string). The word-grain sibling of
  * [[CharGrams]] (round-18's kernel pattern, extended per the round-19
  * span-family probe: the higher-order composite below was ~90% of the
  * posting build's wall at sf0.1 — 3.1 s/pass vs 0.17 s for the
  * tokenize+posexplode it feeds — while the md5 gram hash it carries is
  * noise, 3.3 s with vs 3.1 s without).
  *
  * Value-identical on non-null input (differential-tested in
  * WordGramsSpec) to the composite it replaces:
  *
  *   transform(sequence(1, greatest(size(toks) - (n-1), 1)),
  *             i ⇒ concat_ws(" ", slice(toks, i, n)))
  *   over toks = split(lower(text), " ")    (or split(text, " ")
  *                                           when `lowered = false`)
  *
  * including the composite's two boundary conventions: texts with fewer
  * than `n` words yield exactly ONE gram (the whole text), and empty
  * split segments (consecutive / leading / trailing spaces) are real
  * zero-length words, because splitting on single spaces and re-joining
  * with single spaces is the identity. That identity is the kernel's
  * whole trick: every word `n`-gram of the prepared text is a CONTIGUOUS
  * byte range of it, so one pass records the space positions and each
  * gram is a direct byte-range slice — no token array, no per-position
  * `slice`+`concat_ws` (O(n·len) per doc, and interpreted: HOF lambdas
  * never enter whole-stage codegen). Same NULL convention as
  * [[CharGrams]]: standard `UnaryExpression` null propagation (NULL in,
  * NULL out), zero rows under the `posexplode` call sites either way.
  *
  * `step` (round 20) generalizes the start positions to every `step`-th
  * word — `step = 1` (default) is the overlapping-gram family above;
  * `step = n` yields the NON-OVERLAPPING ceil(w/n) segmentation of
  * [[graft.pipeline.Dedup.segmentDedup]] (the last segment may be
  * shorter), value-identical to ITS composite
  *
  *   transform(sequence(0, ceil(w/n) - 1),
  *             i ⇒ concat_ws(" ", slice(toks, i*n + 1, n)))
  *
  * which was the same interpreted HOF cost the span family paid before
  * round 19.
  *
  * Space detection scans BYTES for 0x20, which is exact in UTF-8 (0x20
  * never occurs inside a multi-byte sequence), and lowering happens
  * inside the kernel before the scan (case mapping never adds or
  * removes U+0020), so positions equal the composite's.
  */
case class WordGrams(child: Expression, n: Int, lowered: Boolean = true,
    step: Int = 1)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(n >= 1, s"n must be >= 1, got $n")
  require(step >= 1, s"step must be >= 1, got $step")

  override def inputTypes: Seq[Shim.AbstractType] = Seq(StringType)
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_grams"

  override protected def nullSafeEval(input: Any): Any =
    WordGrams.compute(input.asInstanceOf[UTF8String], n, lowered, step)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WordGrams.compute($c, $n, $lowered, $step)")

  override protected def withNewChildInternal(newChild: Expression): WordGrams =
    copy(child = newChild)
}

object WordGrams {

  /** Runtime kernel — static so generated code can call it directly.
    * One pass to record space positions, one byte-range slice per gram.
    * Gram `g` covers words `[g·step, min(g·step + n, w))`; the gram
    * count `max(min(ceil((w - n) / step), (w - 1) / step) + 1, 1)`
    * reduces to `w - n + 1` for `step = 1` and to `ceil(w / n)` for
    * `step = n` — exactly the two composites in the class doc. The
    * `(w - 1) / step` bound keeps the last start word inside the text
    * when `step > n`.
    */
  def compute(text: UTF8String, n: Int, lowered: Boolean,
      step: Int): ArrayData = {
    val prepared = if (lowered) text.toLowerCase else text
    val bytes = prepared.getBytes
    var spaces = 0
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) == 0x20) spaces += 1
      i += 1
    }
    val w = spaces + 1 // split(" ") word count, empty segments included
    // starts(k) = byte offset of word k; sentinel start past the end
    // makes "end of word j" uniformly starts(j+1) - 1.
    val starts = new Array[Int](w + 1)
    starts(0) = 0
    var k = 1
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == 0x20) { starts(k) = i + 1; k += 1 }
      i += 1
    }
    starts(w) = bytes.length + 1
    val numGrams = math.max(
      math.min((w - n + step - 1) / step, (w - 1) / step) + 1, 1)
    val out = new Array[Any](numGrams)
    var g = 0
    while (g < numGrams) {
      val startWord = g * step
      val endWord = math.min(startWord + n, w) // exclusive; clamps short texts
      val from = starts(startWord)
      out(g) = UTF8String.fromBytes(bytes, from, starts(endWord) - 1 - from)
      g += 1
    }
    new GenericArrayData(out)
  }

  /** Column API: word `n`-grams of `lower(text)`, one gram per start
    * position (whole-text gram for texts shorter than `n` words).
    */
  def apply(text: org.apache.spark.sql.Column, n: Int)
      : org.apache.spark.sql.Column =
    Shim.column(WordGrams(Shim.expression(text), n))

  /** Column API, case-preserving (token-id strings, pre-lowered text). */
  def raw(text: org.apache.spark.sql.Column, n: Int)
      : org.apache.spark.sql.Column =
    Shim.column(WordGrams(Shim.expression(text), n, lowered = false))

  /** Column API: the non-overlapping `segWords`-word segmentation of
    * `text` (case-preserving; `n = step = segWords`) — the
    * [[graft.pipeline.Dedup.segmentDedup]] kernel.
    */
  def segments(text: org.apache.spark.sql.Column, segWords: Int)
      : org.apache.spark.sql.Column =
    Shim.column(WordGrams(Shim.expression(text), segWords,
      lowered = false, step = segWords))
}
