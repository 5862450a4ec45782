package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** POSITIONAL token n-gram hashes of a normalized document: element `i`
  * (0-based) is the hash of the window of `n` tokens starting at token
  * `i`, duplicates retained — `posexplode` recovers (start, hash).
  *
  * The sibling of [[TokenGramHash60]] (same byte-range scan over the
  * single-space-normalized text, same 60-bit md5 hash); that
  * expression deduplicates for set-membership work (decontamination),
  * this one keeps order and multiplicity for window-level substring
  * dedup, where a window's POSITION is the answer (duplicated-span
  * extents) and a window repeated within one document still counts as a
  * corpus duplicate. Documents with fewer than `n` tokens yield an empty
  * array.
  *
  * @param n window width (tokens), a plan-time literal
  */
case class TokenGramPos60(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(n >= 1, s"window width must be >= 1, got $n")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "tokengrampos60"

  override protected def nullSafeEval(input: Any): Any =
    TokenGramPos60.hashes(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.TokenGramPos60.hashes($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): TokenGramPos60 =
    copy(child = newChild)
}

object TokenGramPos60 {

  def hashes(s: UTF8String, n: Int): GenericArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    val starts = new Array[Int](len + 2)
    starts(0) = 0
    var tokens = 1
    var i = 0
    while (i < len) {
      if (bytes(i) == ' '.toByte) { starts(tokens) = i + 1; tokens += 1 }
      i += 1
    }
    if (tokens < n) return new GenericArrayData(new Array[Long](0))
    def gramEnd(j: Int): Int =
      if (j + 1 < tokens) starts(j + 1) - 1 else len
    val out = new Array[Long](tokens - n + 1)
    var g = 0
    while (g + n <= tokens) {
      val from = starts(g)
      val until = gramEnd(g + n - 1)
      out(g) = Md5Prefix60.hashRange(bytes, from, until - from)
      g += 1
    }
    new GenericArrayData(out)
  }
}
