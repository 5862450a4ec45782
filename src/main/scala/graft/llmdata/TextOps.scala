package graft.llmdata

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * normalization, tokenization, quality scoring, language ID and document
  * fingerprinting. All pure Catalyst expressions (codegen-friendly, no
  * UDFs) and engine-portable (md5 + regex + higher-order functions only),
  * so every operator is DuckDB-oracle-checkable.
  */
object TextOps {

  /** lowercase + collapse `\s+` runs + trim, as ONE codegen'd pass
    * ([[graft.expressions.NormalizeWs]]) — value-identical to the
    * `trim(regexp_replace(lower(text), "\\s+", " "))` form the DuckDB
    * oracles mirror (NormalizeWsSpec pins the equality).
    */
  def normalized(text: Column): Column = call_function("normws", text)

  /** whitespace tokens of the normalized text. */
  def tokens(text: Column): Column = split(normalized(text), " ")

  /** BPE-ish token count: letter runs, digit runs, or single punctuation. */
  def bpeishCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))

  /** stable 60-bit non-negative hash of a string (15 hex chars of md5) —
    * identical in DuckDB via CAST('0x' || substr(md5(s),1,15) AS BIGINT).
    * Backed by the native codegen'd [[graft.expressions.Md5Prefix60]]
    * (hex-string-free digest path; requires the `graft.GraftExtensions`
    * session extension, which every library main and spec configures).
    */
  def hash60(s: Column): Column = call_function("md5prefix60", s)

  /** document fingerprint: md5 of the normalized text. */
  def fingerprint(text: Column): Column = md5(normalized(text))

  /** distinct token n-gram HASHES per document: (id, gh). Grams are
    * hashed to int64 inside the document's own row — strings never
    * shuffle. The workhorse of benchmark decontamination; grams hash
    * with [[hash60]], so the set is DuckDB-mirrored.
    */
  def gramHashes(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, n: Int): org.apache.spark.sql.DataFrame = {
    // native one-pass gram hashing (graft.expressions.TokenGramHash60):
    // after normalization every joined n-gram IS a byte range of the
    // document, so hashes come straight off the UTF-8 bytes — no token
    // array, no per-gram string. Short documents yield an empty array,
    // which explode drops (same rows as the old size>=n pre-filter).
    docs.select(col(idCol).as("id"),
        explode(call_function("tokengramhash60",
          normalized(col(textCol)), lit(n))).as("gh"))
  }

  /** The composed per-row-lambda formulation gramHashes() replaced —
    * kept as the independent reference the property spec pins the
    * native expression against.
    */
  private[graft] def gramHashesComposed(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, n: Int): org.apache.spark.sql.DataFrame =
    docs.select(col(idCol).as("id"), tokens(col(textCol)).as("t"))
      .filter(size(col("t")) >= n)
      .select(col("id"), explode(array_distinct(transform(
        sequence(lit(1), size(col("t")) - (n - 1)),
        i => hash60(array_join(slice(col("t"), i, lit(n)), " ")))))
        .as("gh"))

  /** per-language stopword hit counts → argmax language with deterministic
    * tie-break (first in list order). An n-gram-free heuristic language ID.
    */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "to", "and", "in", "is", "it"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "nicht", "zu"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "est"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es"))

  def stopwordHits(toks: Column, words: Seq[String]): Column = {
    val arr = array(words.map(lit): _*)
    size(filter(toks, t => array_contains(arr, t)))
  }

  def langId(toks: Column): Column = {
    val scores = stopwords.map { case (lang, ws) => lang -> stopwordHits(toks, ws) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val pick = scores.foldRight(lit("und")) { case ((lang, sc), acc) =>
      when(sc === best && best > 0, lang).otherwise(acc)
    }
    // foldRight so the FIRST language in list order wins ties
    pick
  }
}
