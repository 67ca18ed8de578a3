package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the BPE tokenizer's ENCODE step:
  * `bpe_encode(text)` = the token ids of every `[A-Za-z0-9]+` run of
  * `text` (`TextOps.TokenPattern`), in text order. A word found in
  * `words` contributes its subword ids; any other word falls back to
  * one id per character from `chars` (indexed by the ASCII code, −1
  * where the vocabulary lacks the character). A null or token-less text
  * gives an empty array, never null.
  *
  * Why a custom Expression (the [[CountInSet]] idiom): one loop over the
  * UTF-8 bytes inside whole-stage codegen with an O(1) hash probe per
  * word encodes a document where a relational plan needs an explode, a
  * join and a per-document regroup (shuffles, and generated classes of
  * their own). The vocabulary reaches the generated code through
  * `ctx.addReferenceObj`, never as literals, so every vocabulary shares
  * one generated class.
  */
case class BpeEncode(child: Expression,
                     words: java.util.HashMap[UTF8String, Array[Long]],
                     chars: Array[Long]) extends UnaryExpression {
  require(chars.length == 128, "chars is indexed by ASCII code")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bpe_encode needs a string column, got ${child.dataType.catalogString}")

  override def eval(input: InternalRow): Any =
    BpeEncode.encode(child.eval(input).asInstanceOf[UTF8String], words, chars)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wordsRef = ctx.addReferenceObj("bpeWords", words, "java.util.HashMap")
    val charsRef = ctx.addReferenceObj("bpeChars", chars, "long[]")
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = graft.functions.BpeEncode.encode(
        ${c.isNull} ? null : ${c.value}, $wordsRef, $charsRef);""", isNull = FalseLiteral)
  }

  // the vocabulary stays out of plan strings
  override def stringArgs: Iterator[Any] = Iterator(child, s"${words.size} words")

  override protected def withNewChildInternal(newChild: Expression): BpeEncode =
    copy(child = newChild)

  override def prettyName: String = "bpe_encode"
}

object BpeEncode {
  private def alnum(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9')

  /** One pass over the bytes. Bytes of a multi-byte UTF-8 character are
    * all ≥ 0x80, so they end a run exactly where the character class
    * `[A-Za-z0-9]` would; each word is probed in place (a view of the
    * input's bytes, no copy).
    */
  def encode(s: UTF8String, words: java.util.HashMap[UTF8String, Array[Long]],
             chars: Array[Long]): ArrayData = {
    var out = new Array[Long](if (s == null) 0 else 16)
    var k = 0
    def reserve(m: Int): Unit =
      if (k + m > out.length) out = java.util.Arrays.copyOf(out, math.max(out.length * 2, k + m))
    val n = if (s == null) 0 else s.numBytes()
    var i = 0
    while (i < n) {
      if (!alnum(s.getByte(i))) i += 1
      else {
        val start = i
        while (i < n && alnum(s.getByte(i))) i += 1
        val seg = words.get(UTF8String.fromAddress(s.getBaseObject, s.getBaseOffset + start, i - start))
        if (seg != null) {
          reserve(seg.length)
          System.arraycopy(seg, 0, out, k, seg.length)
          k += seg.length
        } else {
          reserve(i - start)
          var j = start
          while (j < i) { out(k) = chars(s.getByte(j)); k += 1; j += 1 }
        }
      }
    }
    UnsafeArrayData.fromPrimitiveArray(out, Platform.LONG_ARRAY_OFFSET, k, 8)
  }

  /** Column-API entry point (Spark 4 Column↔Expression bridge). */
  def bpe_encode(c: Column, words: java.util.HashMap[UTF8String, Array[Long]],
                 chars: Array[Long]): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(BpeEncode(GraftColumnBridge.expression(c), words, chars))
  }
}
