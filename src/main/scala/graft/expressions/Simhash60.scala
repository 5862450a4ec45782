package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native 60-bit SimHash of a NORMALIZED document in one pass — the
  * shuffle-free formulation of [[graft.llmdata.Dedup.simhash]].
  *
  * Value-identical to the exploded pipeline it replaces (split on ' ',
  * hash each token, per-bit ±1 votes, bit set when the vote sum is ≥ 0
  * — `SimhashExprSpec` pins the equality on random corpora), but the
  * signature is computed inside the document's own row: the token
  * relation never exists, so the per-doc aggregation EXCHANGE disappears
  * and only band keys shuffle — the same scale shape as the MinHash
  * profile pass. Input must already be [[NormalizeWs]]-normalized
  * (single-space token separators); an empty string is one empty token,
  * exactly like `split('', ' ')`. Tokens hash with the md5-derived
  * [[Md5Prefix60]], so the signature is DuckDB-mirrored.
  */
case class Simhash60(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash60"

  override protected def nullSafeEval(input: Any): Any =
    Simhash60.signature(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.Simhash60.signature($c)")

  override protected def withNewChildInternal(newChild: Expression): Simhash60 =
    copy(child = newChild)
}

object Simhash60 {

  def signature(s: UTF8String): Long = {
    // tokens are byte ranges between 0x20 separators (0x20 never occurs
    // inside a UTF-8 multi-byte sequence) — no String decode, no
    // per-token substring/re-encode; empty string = one empty token,
    // exactly like split('', ' ')
    val bytes = s.getBytes
    val len = bytes.length
    val counts = new Array[Int](60)
    var start = 0
    var done = false
    while (!done) {
      var end = start
      while (end < len && bytes(end) != ' '.toByte) end += 1
      val h = Md5Prefix60.hashRange(bytes, start, end - start)
      var j = 0
      while (j < 60) {
        if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      if (end >= len) done = true else start = end + 1
    }
    var sig = 0L
    var j = 0
    while (j < 60) {
      if (counts(j) >= 0) sig |= 1L << j
      j += 1
    }
    sig
  }
}
