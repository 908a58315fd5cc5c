package graft.analyze

/** Config-driven composable tokenizer chains — the rebuild of the
  * reference's whole per-field extension model: `tokenizer: {field:
  * [f1, f2, ...]}` chained left-to-right through a named-function registry
  * (builder/index/.../plugin/Function/TokenParser.java:27-58,123-135,
  * plugin/LogParserFactory.java:11-48, docs/config.md:35-67).
  *
  * A chain spec is `"stage|stage|..."`, each stage `name` or `name:param`
  * (e.g. `"urldecode|url"`, `"split:,|lowercase"`, `"base64decode|text"`).
  * Each stage transforms a token stream `Seq[String] => Seq[String]`; the
  * parsed chain IS an `Analyzer`, so any field of an index can be configured
  * with one (IndexBuilder takes a field->Analyzer map) — a user adds a `url`
  * field without touching library source.
  *
  * Divergence by design: the reference chains `Set[String]` (presence-only —
  * Poseidon scores nothing); this engine is tf-aware, so chains preserve
  * duplicates and tf is counted downstream. Variant-generating stages (url,
  * path) dedupe internally exactly like the reference's per-call Sets.
  */
object AnalyzerChains {

  type Stage = Seq[String] => Seq[String]

  /** Registry: name(+param) -> stage. Mirrors TokenParser.Add's dispatch. */
  def stage(name: String, param: String): Stage = name match {
    case "text" => _.flatMap(TextAnalyzer.tokens)
    case "keyword" => _.flatMap(KeywordAnalyzer.tokens)
    case "lowercase" => // LowerCaseFunction.java:9-23
      _.map(t => if (t == null) "" else t.trim.toLowerCase(java.util.Locale.ROOT))
        .filter(_.nonEmpty)
    case "split" => _.flatMap(TokenFunctions.split(param))
    case "url" => _.flatMap(TokenFunctions.urlVariants)
    case "path" => _.flatMap(TokenFunctions.pathVariants)
    case "pathWithUrlencode" => _.flatMap(TokenFunctions.pathUrlencodedVariants)
    case "ip" => _.flatMap(TokenFunctions.ipVariants)
    case "urldecode" => _.flatMap(TokenFunctions.urldecode)
    case "urlencode" => _.flatMap(TokenFunctions.urlencode)
    case "base64decode" => _.flatMap(TokenFunctions.base64decode)
    case "base64decodeInflate" => _.flatMap(TokenFunctions.base64decodeInflate)
    case "regexcheck" =>
      val keep = TokenFunctions.regexCheck(param)
      ts => ts.filter(keep)
    case "quality" =>
      // the reference's full P6 predicate (segmentNeedOutput) as a chain
      // stage — Chinese len>=2, digits len>=5, 0x-hex len>=6, other len in
      // [4,128] + GBK-readable (TokenFunctions.qualityKeep scaladoc)
      _.filter(TokenFunctions.qualityKeep)
    case "blacklist" | "tokenfilter" =>
      // the reference's canonical field chain ends in tokenfilter
      // (TokenParser.java:50-51, dispatch :123-135) with drop-only
      // `precision: 0` semantics (FilterFunction.java:11-31) — the common
      // production config. The STATEFUL 1-in-N sampling variant
      // (precision>0, one instance per mapper) stays available as
      // TokenFunctions.BlacklistFilter for mapPartitions use; a chain stage
      // must be a pure function (it is re-instantiated per task closure).
      // Param is the comma-separated blacklist; large lists belong in a
      // broadcast variable-backed Analyzer, not a config string.
      val bl = param.split(',').map(_.trim).filter(_.nonEmpty).toSet
      ts => ts.filterNot(bl.contains)
    case "cjk" => _.flatMap(CjkBigramAnalyzer.tokens)
    case "cjkdict" =>
      val a = CjkDictAnalyzer(param.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      ts => ts.flatMap(a.tokens)
    case other => throw new IllegalArgumentException(
      s"unknown tokenizer stage '$other' (registry: text keyword lowercase split url " +
        "path pathWithUrlencode ip urldecode urlencode base64decode base64decodeInflate " +
        "regexcheck quality blacklist/tokenfilter cjk cjkdict)")
  }

  /** Parse a chain spec; fails fast on unknown stages. */
  def parse(spec: String): ChainAnalyzer = {
    val a = ChainAnalyzer(spec)
    a.stagesForValidation // force
    a
  }
}

/** A parsed chain as an Analyzer. Carries only the SPEC string (cheap, fully
  * serializable); stages rebuild lazily per JVM — chains ride into executor
  * closures (IndexBuilder.termOccs) with no closure-capture hazards.
  */
final case class ChainAnalyzer(chainSpec: String) extends Analyzer {

  @transient private lazy val stages: Seq[AnalyzerChains.Stage] =
    chainSpec.split('|').toSeq.filter(_.nonEmpty).map { s =>
      val (name, param) = s.indexOf(':') match {
        case -1 => (s.trim, "")
        case i => (s.substring(0, i).trim, s.substring(i + 1))
      }
      AnalyzerChains.stage(name, param)
    }

  private[analyze] def stagesForValidation: Seq[AnalyzerChains.Stage] = stages

  override def spec: String = chainSpec

  override def tokens(text: String): Seq[String] = {
    if (text == null) return Seq.empty
    stages.foldLeft(Seq(text))((ts, st) => st(ts))
  }
}

/** Broadcast-payload analyzers — the Spark analog of the reference shipping
  * its production blacklist through DistributedCache
  * (builder/index/.../CommonLogParser.java:301-350): chain-stage params are
  * config-string-sized, while a production stopword list (10k+) or CJK
  * dictionary (100k+) should ride to executors as ONE broadcast copy per
  * executor, not a payload re-serialized into every task closure (and never
  * re-parsed per task: the delegate rebuilds lazily once per JVM).
  *
  * These occupy the same Analyzer slot as the chain stages — IndexBuilder's
  * field map and SearchQuery.of both take them unchanged — with `spec`
  * carrying a content fingerprint so an index built against a changed
  * payload rebuilds instead of resuming (same contract as ChainAnalyzer's
  * spec string).
  */
object BroadcastAnalyzers {

  /** Stable 64-bit content fingerprint of the payload for build identity. */
  private def fingerprint(terms: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    terms.toSeq.sorted.foreach { t => md.update(t.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  private final class BcastBlacklist(inner: Analyzer,
                                     bl: org.apache.spark.broadcast.Broadcast[Set[String]],
                                     n: Int, fp: String) extends Analyzer {
    override def tokens(text: String): Seq[String] =
      inner.tokens(text).filterNot(bl.value.contains)
    override def spec: String = s"${inner.spec}|bcast-blacklist:$n:$fp"
  }

  private final class BcastCjkDict(bd: org.apache.spark.broadcast.Broadcast[Set[String]],
                                   n: Int, fp: String) extends Analyzer {
    @transient private lazy val delegate = CjkDictAnalyzer(bd.value)
    override def tokens(text: String): Seq[String] = delegate.tokens(text)
    override def spec: String = s"bcast-cjkdict:$n:$fp"
  }

  /** `inner`'s tokens minus the broadcast blacklist (drop-only tokenfilter
    * semantics, FilterFunction.java:11-31 precision = 0). */
  def blacklist(spark: org.apache.spark.sql.SparkSession, inner: Analyzer,
                terms: Set[String]): Analyzer =
    new BcastBlacklist(inner, spark.sparkContext.broadcast(terms),
      terms.size, fingerprint(terms))

  /** CjkDictAnalyzer's forward-maximum-matching over a broadcast dictionary
    * (the IK slot at production dictionary sizes). */
  def cjkDict(spark: org.apache.spark.sql.SparkSession, dict: Set[String]): Analyzer =
    new BcastCjkDict(spark.sparkContext.broadcast(dict),
      dict.size, fingerprint(dict))
}

/** Dictionary-driven CJK segmenter — the reference's IK-analyzer slot
  * (plugin/Function/TextFunction.java:16-89 wraps IK smart segmentation)
  * filled with a real dictionary algorithm: FORWARD MAXIMUM MATCHING over
  * CJK ideograph runs (at each position take the longest dictionary word,
  * else emit the single character — the standard reproducible baseline; IK
  * adds probabilistic disambiguation on top of the same dictionary walk).
  * Latin runs tokenize under TextAnalyzer's rules like CjkBigramAnalyzer.
  *
  * Chain stage `cjkdict:w1,w2,...` covers config-sized dictionaries;
  * programmatic use passes any Set (the analyzer serializes its spec, so a
  * large dictionary should come from a broadcast-backed custom Analyzer —
  * same slot, bigger payload).
  */
final case class CjkDictAnalyzer(dict: Set[String]) extends Analyzer {

  @transient private lazy val maxWordLen: Int =
    if (dict.isEmpty) 1 else dict.iterator.map(_.length).max

  override def spec: String = "cjkdict:" + dict.toSeq.sorted.mkString(",")

  private def segmentRun(run: String, out: scala.collection.mutable.ArrayBuffer[String]): Unit = {
    var i = 0
    while (i < run.length) {
      var matched = 0
      var l = math.min(maxWordLen, run.length - i)
      while (matched == 0 && l >= 2) {
        if (dict.contains(run.substring(i, i + l))) matched = l
        l -= 1
      }
      if (matched > 0) { out += run.substring(i, i + matched); i += matched }
      else { // OOV: one CODE POINT (a supplementary-plane ideograph, e.g.
        // CJK Ext B, must not split into two lone-surrogate tokens)
        val w = Character.charCount(run.codePointAt(i))
        out += run.substring(i, i + w); i += w
      }
    }
  }

  override def tokens(text: String): Seq[String] = {
    if (text == null) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val n = text.length
    var i = 0
    while (i < n) {
      val cp = text.codePointAt(i)
      if (CjkBigramAnalyzer.isCjk(cp)) {
        var j = i
        while (j < n && CjkBigramAnalyzer.isCjk(text.codePointAt(j)))
          j += Character.charCount(text.codePointAt(j))
        segmentRun(text.substring(i, j), out)
        i = j
      } else {
        val start = i
        var j = i
        while (j < n && !CjkBigramAnalyzer.isCjk(text.codePointAt(j)))
          j += Character.charCount(text.codePointAt(j))
        out ++= TextAnalyzer.tokens(text.substring(start, j))
        i = j
      }
    }
    out.toSeq
  }
}

/** CJK-capable analyzer: latin runs tokenize under TextAnalyzer's rules; CJK
  * ideograph runs emit overlapping character BIGRAMS (a lone CJK char emits
  * itself) — the standard segmentation-free stand-in for the reference's IK
  * analyzer (plugin/Function/TextFunction.java:16-89; SURVEY §2.3 F1 notes
  * IK is replaced for latin transcripts). Registered as chain stage "cjk";
  * exists to prove the Analyzer slot takes a non-trivial segmenter.
  */
object CjkBigramAnalyzer extends Analyzer {

  private[analyze] def isCjk(cp: Int): Boolean =
    Character.isIdeographic(cp) ||
      (cp >= 0x3040 && cp <= 0x30ff) || // hiragana + katakana
      (cp >= 0xac00 && cp <= 0xd7af)    // hangul syllables

  override def spec: String = "cjk"

  override def tokens(text: String): Seq[String] = {
    if (text == null) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val n = text.length
    var i = 0
    while (i < n) {
      val cp = text.codePointAt(i)
      if (isCjk(cp)) {
        // collect the CJK run's code points
        val run = scala.collection.mutable.ArrayBuffer[Int]()
        var j = i
        while (j < n && isCjk(text.codePointAt(j))) {
          val c = text.codePointAt(j)
          run += c
          j += Character.charCount(c)
        }
        if (run.length == 1) out += new String(Character.toChars(run(0)))
        else {
          var r = 0
          while (r + 1 < run.length) {
            out += (new String(Character.toChars(run(r))) + new String(Character.toChars(run(r + 1))))
            r += 1
          }
        }
        i = j
      } else {
        // latin/other segment up to the next CJK char -> TextAnalyzer rules
        val start = i
        var j = i
        while (j < n && !isCjk(text.codePointAt(j))) j += Character.charCount(text.codePointAt(j))
        out ++= TextAnalyzer.tokens(text.substring(start, j))
        i = j
      }
    }
    out.toSeq
  }
}
