package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression computing the distinct hashed word
  * `n`-shingles of a text column in ONE pass:
  *
  *   lower → split(" ") → word n-grams → distinct → 60-bit hash
  *
  * Semantically identical (differential-tested in HashedShinglesSpec) to
  * the composite it replaces —
  * `transform(array_distinct(transform(sequence(...), i ⇒ concat_ws(" ",
  * slice(split(lower(text)," "), i, n)))), h60)` — but that composite is
  * a stack of higher-order functions, which Catalyst evaluates
  * INTERPRETED (HOF lambdas never enter whole-stage codegen), and it
  * materializes the token array, every sliced sub-array, every shingle
  * string, and the distinct array before hashing. The dedup family's
  * per-doc floor was measured to be exactly this overhead, not the
  * hashing (md5→xxh64 alone moved p02 only 2.46→1.96 s at sf0.1;
  * round-3 state in BASELINE.md "Measured engine baseline — round 2").
  *
  * This expression does the whole chain in a tight loop over the string:
  * one lowercase, one split, a reused StringBuilder per gram, a
  * LinkedHashSet for distinctness (first-occurrence order, matching
  * `array_distinct`), and a direct digest per distinct gram — and it
  * participates in whole-stage codegen via a single static call
  * ([[HashedShingles.compute]]), the same pattern Spark's own regexp
  * expressions use.
  *
  * Hash modes mirror [[graft.pipeline.Hashing]]: `fast = false` is the
  * md5-derived oracle hash (bit-equal to `Hashing.h60`); `fast = true`
  * is xxHash64 (seed 42, as Spark's `xxhash64`) >>> 4, bit-equal to
  * `Hashing.fast60`.
  */
case class HashedShingles(child: Expression, n: Int, fast: Boolean)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(n >= 1, s"n must be >= 1, got $n")

  override def inputTypes: Seq[Shim.AbstractType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hashed_shingles"

  override protected def nullSafeEval(input: Any): Any =
    HashedShingles.compute(input.asInstanceOf[UTF8String], n, fast)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashedShingles.compute($c, $n, $fast)")

  override protected def withNewChildInternal(newChild: Expression): HashedShingles =
    copy(child = newChild)
}

object HashedShingles {

  /** Runtime kernel — static so generated code can call it directly. */
  def compute(text: UTF8String, n: Int, fast: Boolean): ArrayData = {
    // Exact parity with split(lower(text), " "): UTF8String lowercasing,
    // then Java regex " " (a literal single space) with limit -1.
    val tokens = text.toLowerCase.toString.split(" ", -1)
    val count = math.max(tokens.length - (n - 1), 1)
    val seen = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < count) {
      sb.setLength(0)
      val end = math.min(i + n, tokens.length)
      var j = i
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(tokens(j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var k = 0
    if (fast) {
      while (it.hasNext) {
        out(k) = XXH64.hashUTF8String(
          UTF8String.fromString(it.next()), 42L) >>> 4
        k += 1
      }
    } else {
      val md = java.security.MessageDigest.getInstance("MD5")
      while (it.hasNext) {
        md.reset()
        val d = md.digest(it.next().getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // First 15 hex chars of the md5 digest = 60 bits (Hashing.h60).
        out(k) = ((d(0) & 0xffL) << 52) | ((d(1) & 0xffL) << 44) |
          ((d(2) & 0xffL) << 36) | ((d(3) & 0xffL) << 28) |
          ((d(4) & 0xffL) << 20) | ((d(5) & 0xffL) << 12) |
          ((d(6) & 0xffL) << 4) | ((d(7) & 0xffL) >>> 4)
        k += 1
      }
    }
    new GenericArrayData(out)
  }

  /** Column API: distinct hashed word `n`-shingles of `text`. */
  def apply(text: Column, n: Int, fast: Boolean): Column =
    Shim.column(HashedShingles(Shim.expression(text), n, fast))
}
