package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct token n-gram hashes of a NORMALIZED document in one pass —
  * the native form of [[graft.llmdata.TextOps.gramHashes]]' per-row
  * lambda (`array_distinct(transform(sequence(...), i ->
  * hash(array_join(slice(tokens, i, n), ' '))))`).
  *
  * The key observation: after [[NormalizeWs]] the separator is always a
  * single space, so the JOINED n-gram string is EXACTLY a byte range of
  * the normalized document — from token i's first byte to token
  * (i+n-1)'s last. The expression therefore scans the UTF-8 bytes once
  * for space positions and hashes byte ranges directly: no token array,
  * no per-gram string/array allocation, no regex. (0x20 never occurs
  * inside a UTF-8 multi-byte sequence, so byte-level space scanning is
  * exact.) Value-equal to the composed form (TokenGramSpec); documents with fewer than n tokens yield an empty
  * array, mirroring the `size(tokens) >= n` pre-filter + explode.
  *
  * @param n gram width (tokens), a plan-time literal
  */
case class TokenGramHash60(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(n >= 1, s"gram width must be >= 1, got $n")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "tokengramhash60"

  override protected def nullSafeEval(input: Any): Any =
    TokenGramHash60.hashes(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.TokenGramHash60.hashes($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): TokenGramHash60 =
    copy(child = newChild)
}

object TokenGramHash60 {

  def hashes(s: UTF8String, n: Int): GenericArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    // token start offsets (normalized text: single-space separators) —
    // primitive array sized len+1 (tokens <= bytes+1), no boxing
    val starts = new Array[Int](len + 2)
    starts(0) = 0 // "" is one empty token, exactly like split('', ' ')
    var tokens = 1
    var i = 0
    while (i < len) {
      if (bytes(i) == ' '.toByte) { starts(tokens) = i + 1; tokens += 1 }
      i += 1
    }
    if (tokens < n) return new GenericArrayData(new Array[Long](0))
    // end offset of token j = starts(j+1) - 1 (one separator), or len
    def gramEnd(j: Int): Int =
      if (j + 1 < tokens) starts(j + 1) - 1 else len
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var g = 0
    while (g + n <= tokens) {
      val from = starts(g)
      val until = gramEnd(g + n - 1)
      seen.add(Md5Prefix60.hashRange(bytes, from, until - from))
      g += 1
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }
}
