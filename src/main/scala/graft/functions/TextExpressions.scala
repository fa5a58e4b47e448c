package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for word shingling (SURVEY.md §7.3(a)): the
  * distinct word 5-grams of a token array, each joined by one space, in
  * first-occurrence order. Fewer than 5 tokens give an empty array; a NULL
  * array gives NULL; NULL tokens are skipped inside a gram, as `concat_ws`
  * skips them.
  *
  * Every gram belongs to one row, so the work is row-local: one compiled
  * loop per row ([[Shingles5.grams]], called from the generated code), with
  * no per-element lambda and no token shuffle. Dropping repeated grams here
  * is DuckDB's `list_distinct`, so downstream hashes match the oracle's.
  */
case class Shingles5(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"graft_shingles5 needs an array<string> argument, got $other")
  }

  override protected def nullSafeEval(toks: Any): Any = Shingles5.grams(toks.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, toks => s"${Shingles5.getClass.getName}.MODULE$$.grams($toks)")

  override protected def withNewChildInternal(newChild: Expression): Shingles5 =
    copy(child = newChild)
}

object Shingles5 {
  private val Sep = UTF8String.fromString(" ")

  def grams(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    val seen = new java.util.HashSet[UTF8String]()
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    while (i + 5 <= n) {
      val g = UTF8String.concatWs(Sep, toks.getUTF8String(i), toks.getUTF8String(i + 1),
        toks.getUTF8String(i + 2), toks.getUTF8String(i + 3), toks.getUTF8String(i + 4))
      if (seen.add(g)) out += g
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** Native Catalyst expression `graft_shingle_hashes`: the md5 hex of each
  * distinct word 5-gram of a token array — exactly
  * `transform(graft_shingles5(toks), g -> md5(g))`, in the same order, with
  * the same empty and NULL cases. One compiled loop per row: the grams are
  * built, digested and dropped inside the call, so only the fixed-width
  * hashes leave the kernel.
  */
case class ShingleHashes(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"graft_shingle_hashes needs an array<string> argument, got $other")
  }

  override protected def nullSafeEval(toks: Any): Any = ShingleHashes.hashes(toks.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, toks => s"${ShingleHashes.getClass.getName}.MODULE$$.hashes($toks)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {
  private val Hex = "0123456789abcdef".getBytes("US-ASCII")
  private val Md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  def hashes(toks: ArrayData): ArrayData = {
    val grams = Shingles5.grams(toks)
    val md = Md5.get
    val out = new Array[Any](grams.numElements())
    var i = 0
    while (i < out.length) {
      val d = md.digest(grams.getUTF8String(i).getBytes)
      val hex = new Array[Byte](32)
      var j = 0
      while (j < 16) {
        hex(2 * j) = Hex((d(j) >> 4) & 0xf)
        hex(2 * j + 1) = Hex(d(j) & 0xf)
        j += 1
      }
      out(i) = UTF8String.fromBytes(hex)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Native Catalyst expression `graft_minhash`: the 8 MinHash minima of an
  * array of md5 hex digests (each at least 16 hex digits, as
  * `graft_shingle_hashes` emits; anything else is rejected). Hash i of a digest is
  * `(A(i)·h1 + B(i)·h2 + c(i)) mod P` over the two 32-bit halves (h1, h2) of
  * its first 16 hex digits. 16-bit coefficients keep every product below
  * 2⁴⁸, exact in BIGINT, and P = 2³¹−1 keeps each minimum below 2³¹, so two
  * minima pack into one BIGINT (m·2³¹ + m').
  *
  * NULL elements are skipped, as `min` skips NULL rows; an empty array
  * gives 8 × `Long.MaxValue`, the identity of `min`. A caller that packs
  * minima must drop such rows first: `Long.MaxValue · 2³¹` overflows.
  */
case class MinHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"graft_minhash needs an array<string> argument, got $other")
  }

  override protected def nullSafeEval(hs: Any): Any = MinHash.minima(hs.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, hs => s"${MinHash.getClass.getName}.MODULE$$.minima($hs)")

  override protected def withNewChildInternal(newChild: Expression): MinHash =
    copy(child = newChild)
}

object MinHash {
  // The universal-hash family, shared with the DuckDB oracles' SQL.
  val P = 2147483647L
  val A: Array[Long] = Array(45007L, 50021L, 53003L, 57037L, 60013L, 63029L, 49999L, 54001L)
  val B: Array[Long] = Array(39041L, 42043L, 46049L, 48073L, 51061L, 55057L, 58067L, 61051L)
  def c(i: Int): Long = i * 7919L
  val NumHashes: Int = A.length

  private def hex8(b: Array[Byte], from: Int): Long = {
    var v = 0L
    var j = from
    while (j < from + 8) {
      val d = if (j < b.length) Character.digit(b(j), 16) else -1
      if (d < 0) throw new IllegalArgumentException(
        s"graft_minhash needs hex digests of at least 16 digits, got '${new String(b, "UTF-8")}'")
      v = (v << 4) | d
      j += 1
    }
    v
  }

  def minima(hs: ArrayData): ArrayData = {
    val m = Array.fill(NumHashes)(Long.MaxValue)
    var k = 0
    while (k < hs.numElements()) {
      if (!hs.isNullAt(k)) {
        val b = hs.getUTF8String(k).getBytes
        val h1 = hex8(b, 0)
        val h2 = hex8(b, 8)
        var i = 0
        while (i < NumHashes) {
          val v = (h1 * A(i) + h2 * B(i) + c(i)) % P
          if (v < m(i)) m(i) = v
          i += 1
        }
      }
      k += 1
    }
    new GenericArrayData(m)
  }
}

/** Native Catalyst expression `graft_punct_count`: the number of code points
  * of a string outside `[a-z0-9 ]` — exactly
  * `length(text) - length(regexp_replace(text, '[^a-z0-9 ]', ''))`, with
  * NULL for NULL. `length` counts code points, so the loop steps through
  * the UTF-8 bytes as `UTF8String.numChars` does: a multi-byte character
  * (accented letter, CJK, an emoji's whole surrogate pair) counts once.
  *
  * One byte-level loop per row, with no regex compile, no Java-string
  * decode and no result string: the regex builtin pays all three even when
  * nothing matches.
  */
case class PunctCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"graft_punct_count needs a string argument, got $other")
  }

  override protected def nullSafeEval(text: Any): Any = PunctCount.count(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, text => s"${PunctCount.getClass.getName}.MODULE$$.count($text)")

  override protected def withNewChildInternal(newChild: Expression): PunctCount =
    copy(child = newChild)
}

object PunctCount {
  def count(text: UTF8String): Int = {
    val n = text.numBytes()
    var punct = 0
    var i = 0
    while (i < n) {
      val b = text.getByte(i)
      if (!((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9') || b == ' ')) punct += 1
      i += UTF8String.numBytesForFirstByte(b)
    }
    punct
  }
}
