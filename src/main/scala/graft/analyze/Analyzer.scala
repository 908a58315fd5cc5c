package graft.analyze

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Tokenizer pipeline — the rebuild of the reference's per-field `Function`
  * chains (reference builder/index/.../plugin/Function directory, configured
  * as `tokenizer: {field: [f1, f2, ...]}`, docs/config.md:35-67).
  *
  * The reference composes `Set[String] => Set[String]` stages; here each
  * analyzer is one Scala function, [[Analyzer.tokens]]: typed Dataset
  * flatMaps call it directly and Column contexts call it through
  * [[Analyzer.tokensUdf]], so every path tokenizes with the same code.
  */
trait Analyzer extends Serializable {
  /** Token stream of one value (duplicates preserved; tf counted downstream). */
  def tokens(text: String): Seq[String]
  /** Column form: array<string> of [[tokens]] via a compiled UDF (null
    * text -> empty array, as tokens(null) is empty). */
  lazy val tokensUdf: org.apache.spark.sql.expressions.UserDefinedFunction = {
    val self = this
    org.apache.spark.sql.functions.udf((s: String) => self.tokens(s))
  }
  /** Stable config identity (rides into the index buildId so a field whose
    * analyzer changed is rebuilt, not resumed). */
  def spec: String = getClass.getSimpleName.stripSuffix("$")
}

/** Default text analyzer: lowercase, runs of [a-z0-9]+, keep length 2..40.
  *
  * Stands in for the reference's IK `text` function + quality predicate
  * (TextFunction.java:16-89, segmentNeedOutput TextFunction.java:40-61 —
  * the CJK/hex/digit length rules collapse to a single [min,max] length
  * band since transcripts are latin; SURVEY.md §2.3 F1/P6).
  *
  * The exact same semantics are expressible in ANSI/DuckDB SQL as
  * `regexp_extract_all(lower(text), '[a-z0-9]+')` + length filter, which is
  * what the DuckDB oracle uses — [[tokensCol]] is that expression in
  * Spark, kept as the test reference that mirrors the oracle SQL.
  */
object TextAnalyzer extends Analyzer {
  val MinLen = 2
  val MaxLen = 40
  private val Tok = "[a-z0-9]+".r

  override def tokens(text: String): Seq[String] = {
    if (text == null) return Seq.empty
    Tok.findAllIn(text.toLowerCase(java.util.Locale.ROOT))
      .filter(t => t.length >= MinLen && t.length <= MaxLen)
      .toVector
  }

  /** Declarative twin of [[tokens]]: the oracle SQL's regex + length band
    * as Spark Column functions. Specs check the Scala tokenizer against it,
    * and the per-doc `Dedup.minhash` mirrors the oracle with it. Hot paths
    * use [[tokensUdf]] instead, because Spark runs this form's `filter`
    * lambda interpreted, once per element. Null text gives an empty array,
    * not null, exactly like tokens(null). */
  def tokensCol(c: Column): Column =
    when(c.isNull, array().cast("array<string>")).otherwise(
      filter(
        regexp_extract_all(lower(c), lit("[a-z0-9]+"), lit(0)),
        t => length(t) >= MinLen && length(t) <= MaxLen))
}

/** Whole-value keyword analyzer: `trim.toLowerCase` as a single token
  * (reference KeywordFunction.java:7-8 + LowerCaseFunction.java:9-23).
  */
object KeywordAnalyzer extends Analyzer {
  override def tokens(text: String): Seq[String] = {
    if (text == null) return Seq.empty
    val t = text.trim.toLowerCase(java.util.Locale.ROOT)
    if (t.isEmpty) Seq.empty else Seq(t)
  }
}

/** Field → analyzer registry, the analog of the reference's per-business
  * tokenizer config (plugin/LogParserFactory.java:11-48). `text` is analyzed;
  * `role`/`tool` are exact-match keyword namespaces.
  */
object Analyzers {
  val byField: Map[String, Analyzer] = Map(
    "text" -> TextAnalyzer,
    "role" -> KeywordAnalyzer,
    "tool" -> KeywordAnalyzer)

  /** Query-side term normalization — reference lowercases + url-escapes query
    * tokens (inverted_index_gz_client.go:39-45); transcripts need only the
    * lowercase/trim part.
    */
  def normalizeQueryTerm(t: String): String = t.trim.toLowerCase(java.util.Locale.ROOT)
}
