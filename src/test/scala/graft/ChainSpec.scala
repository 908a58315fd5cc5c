package graft

import org.apache.spark.sql.functions._
import graft.analyze._
import graft.build.{IndexBuilder, IndexConfig}
import graft.query.{QueryEngine, SearchQuery}

/** Config-driven tokenizer chains: registry parsing, per-stage semantics,
  * and the end-to-end proof that a USER can add a custom field (a url
  * namespace with a chain analyzer) to an index without touching library
  * source — the reference's `tokenizer: {field: [f1, f2]}` model
  * (TokenParser.java:27-58, docs/config.md:35-67). */
class ChainSpec extends SparkFunSuite {
  import spark.implicits._

  test("chain parse + left-to-right composition") {
    val c = AnalyzerChains.parse("split:,|lowercase")
    assert(c.tokens("A,b , C") == Seq("a", "b", "c"))
    val u = AnalyzerChains.parse("urldecode|url")
    assert(u.tokens("http%3A%2F%2Fwww.foo.com%2Fx%2Fy").contains("www.foo.com/x"))
    intercept[IllegalArgumentException] { AnalyzerChains.parse("nosuchstage") }
  }

  test("regexcheck + base64 stages mirror reference semantics") {
    val rc = AnalyzerChains.parse("split: |regexcheck:[0-9]+")
    assert(rc.tokens("a1 22 b 333") == Seq("22", "333"))
    val b64 = java.util.Base64.getEncoder.encodeToString("hello world".getBytes("UTF-8"))
    assert(AnalyzerChains.parse("base64decode|split: ").tokens(b64) == Seq("hello", "world"))
    // inflate variant round-trips deflate(utf8) and passes input through on failure
    val deflated = {
      val bos = new java.io.ByteArrayOutputStream()
      val d = new java.util.zip.DeflaterOutputStream(bos)
      d.write("chain data".getBytes("UTF-8")); d.close()
      java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
    }
    assert(TokenFunctions.base64decodeInflate(deflated) == Seq("chain data"))
    assert(TokenFunctions.base64decodeInflate("!!!notbase64") == Seq("!!!notbase64"))
  }

  test("url variants emit registrable-domain suffix combos (Util.java:259-273)") {
    val v = TokenFunctions.urlVariants("http://a.b.site.com.cn/p1/p2")
    assert(v.contains("a.b.site.com.cn"))
    assert(!v.contains("com.cn"), "2-label public-suffix combo must be skipped")
    assert(v.contains("site.com.cn"))
    assert(v.contains("b.site.com.cn"))
    assert(v.contains("a.b.site.com.cn/p1") && v.contains("p1/p2"))
    // port rides on every downstream combo like the reference's mutated host
    val p = TokenFunctions.urlVariants("http://www.example.com:8080/a/b/c")
    assert(p.contains("www.example.com") && p.contains("www.example.com:8080"))
    assert(p.contains("example.com:8080"))
    assert(p.contains("www.example.com:8080/a") && p.contains("a/b"))
    assert(p.contains("www.example.com:8080/a/b/c"))
  }

  test("cjk bigram analyzer segments mixed latin/CJK") {
    assert(CjkBigramAnalyzer.tokens("spark 中文分词 ok") ==
      Seq("spark", "中文", "文分", "分词", "ok"))
    assert(CjkBigramAnalyzer.tokens("只") == Seq("只"))
    assert(CjkBigramAnalyzer.tokens(null).isEmpty)
    // scala/Column parity (udf form)
    val viaCol = Seq("mix 中文 end").toDF("t")
      .select(CjkBigramAnalyzer.tokensUdf(col("t"))).collect()(0).getSeq[String](0)
    assert(viaCol == CjkBigramAnalyzer.tokens("mix 中文 end"))
  }

  test("blacklist/tokenfilter stage drops listed tokens (reference's standard [text, tokenfilter] chain)") {
    val c = AnalyzerChains.parse("text|blacklist:the,ok")
    assert(c.tokens("The deploy is OK the end") == Seq("deploy", "is", "end"))
    // tokenfilter is the reference's name for the same stage
    assert(AnalyzerChains.parse("text|tokenfilter:the,ok").tokens("The deploy is OK the end") ==
      Seq("deploy", "is", "end"))
    // index built with the chained field: blacklisted terms are absent
    val turns = Seq(
      ("c-0", 0, "the error is ok"),
      ("c-0", 1, "another error line")
    ).toDF("conv_id", "turn_idx", "text")
    val analyzers: Map[String, Analyzer] = Map("text" -> AnalyzerChains.parse("text|blacklist:the,ok"))
    val dir = SparkSpec.tmpDir("graft-chain-bl")
    IndexBuilder.build(spark, turns, dir, IndexConfig(buckets = 4, chunkDocs = 16), analyzers)
    val eng = new QueryEngine(spark, dir)
    assert(eng.topK(SearchQuery(Seq("text" -> "the"), 10)).collect().isEmpty)
    assert(eng.topK(SearchQuery(Seq("text" -> "error"), 10)).collect().length == 2)
  }

  test("cjkdict: forward-maximum-matching segmenter fills the IK slot") {
    val a = CjkDictAnalyzer(Set("中文", "分词", "中文分词", "引擎"))
    // longest match wins at each position
    assert(a.tokens("中文分词引擎") == Seq("中文分词", "引擎"))
    // without the 4-gram, FMM takes the two bigrams
    assert(CjkDictAnalyzer(Set("中文", "分词")).tokens("中文分词") == Seq("中文", "分词"))
    // OOV chars emit singly; latin segments keep TextAnalyzer rules
    assert(a.tokens("用中文分词 spark ok") == Seq("用", "中文分词", "spark", "ok"))
    assert(a.tokens(null).isEmpty)
    // OOV supplementary-plane ideograph (CJK Ext B, U+2000B) stays ONE
    // token — not two lone surrogates
    assert(a.tokens("𠀋") == Seq("𠀋"))
    assert(a.tokens("中文𠀋") == Seq("中文", "𠀋"))
    // chain-stage form + index end-to-end: the dictionary word is queryable
    val chain = AnalyzerChains.parse("cjkdict:中文,分词")
    assert(chain.tokens("中文分词") == Seq("中文", "分词"))
    val turns = Seq(("c-0", 0, "中文分词 engine")).toDF("conv_id", "turn_idx", "text")
    val analyzers: Map[String, Analyzer] = Map("text" -> chain)
    val dir = SparkSpec.tmpDir("graft-chain-cjkdict")
    IndexBuilder.build(spark, turns, dir, IndexConfig(buckets = 4, chunkDocs = 16), analyzers)
    val eng = new QueryEngine(spark, dir)
    assert(eng.topK(SearchQuery.of(Seq("text" -> Seq("分词")), 10, analyzers))
      .collect().length == 1)
  }

  test("broadcast-backed analyzers carry 10k+ payloads end-to-end (DistributedCache slot)") {
    import graft.analyze.BroadcastAnalyzers
    // 10k-entry stopword blacklist: the generated filler vocabulary w00000..
    // w09999 — the index must contain NONE of it, only the real words
    val stopwords = (0 until 10000).map(i => f"w$i%05d").toSet
    val bl = BroadcastAnalyzers.blacklist(spark, TextAnalyzer, stopwords)
    assert(bl.tokens("w00001 error w09999 timeout") == Seq("error", "timeout"))
    assert(bl.spec.startsWith("TextAnalyzer|bcast-blacklist:10000:"))
    val turns = Seq(
      ("c-0", 0, "w00001 error w00002 w00003 timeout"),
      ("c-0", 1, "w04567 warning w09999")).toDF("conv_id", "turn_idx", "text")
    val analyzers: Map[String, Analyzer] = Map("text" -> bl)
    val dir = SparkSpec.tmpDir("graft-bcast-bl")
    IndexBuilder.build(spark, turns, dir, IndexConfig(buckets = 4, chunkDocs = 16), analyzers)
    val eng = new QueryEngine(spark, dir)
    assert(eng.topK(SearchQuery.of(Seq("text" -> Seq("error")), 10, analyzers))
      .collect().length == 1)
    assert(eng.topK(SearchQuery.of(Seq("text" -> Seq("w00001")), 10, analyzers))
      .collect().isEmpty, "blacklisted filler term must not be indexed")
    // terms table holds only the 3 surviving words
    val terms = spark.read.parquet(s"$dir/termstats")
      .select("term").collect().map(_.getString(0)).toSet
    assert(terms == Set("error", "timeout", "warning"), s"got $terms")

    // 10k-entry broadcast CJK dictionary: FMM picks the longest entry; spec
    // fingerprint changes with content (build-identity contract)
    val bigDict = (0 until 10000).map(i => f"词$i%04d").toSet + "中文" + "分词" + "中文分词"
    val cd = BroadcastAnalyzers.cjkDict(spark, bigDict)
    assert(cd.tokens("中文分词引擎") == Seq("中文分词", "引", "擎"))
    val cd2 = BroadcastAnalyzers.cjkDict(spark, bigDict - "中文分词")
    assert(cd2.tokens("中文分词引擎") == Seq("中文", "分词", "引", "擎"))
    assert(cd.spec != cd2.spec)
  }

  test("END-TO-END: custom url field via chain analyzer, no library edits") {
    val analyzers: Map[String, Analyzer] = Map(
      "text" -> TextAnalyzer,
      "url" -> AnalyzerChains.parse("url"))
    val turns = Seq(
      ("c-0", 0, "fetch the page", "http://www.foo.com/download/setup.exe"),
      ("c-0", 1, "and another", "http://cdn.bar.net:8080/assets/img"),
      ("c-1", 0, "no url here", null)
    ).toDF("conv_id", "turn_idx", "text", "url")
    val dir = SparkSpec.tmpDir("graft-chain-idx")
    IndexBuilder.build(spark, turns, dir, IndexConfig(buckets = 4, chunkDocs = 16), analyzers)

    val eng = new QueryEngine(spark, dir)
    // host variant matches doc 0; chain expands the query the same way
    val hits = eng.topK(SearchQuery.of(Seq("url" -> Seq("www.foo.com")), 10, analyzers))
      .collect().map(_.getLong(0))
    assert(hits.length == 1)
    // registrable-domain suffix matches too — the port rides on the combo
    // (reference Util.java:248-258 mutates host before the suffix walk)
    val suffix = eng.topK(SearchQuery(Seq("url" -> "bar.net:8080"), 10)).collect().map(_.getLong(0))
    assert(suffix.length == 1 && suffix(0) != hits(0))
    // cross-field AND: text + url namespaces
    val and = eng.topK(SearchQuery(Seq("text" -> "fetch", "url" -> "www.foo.com/download"), 10))
      .collect()
    assert(and.length == 1)
    // analyzer-config change invalidates resume: same dims, different chain
    val analyzers2: Map[String, Analyzer] = Map(
      "text" -> TextAnalyzer,
      "url" -> AnalyzerChains.parse("keyword"))
    val m2 = IndexBuilder.build(spark, turns, dir, IndexConfig(buckets = 4, chunkDocs = 16), analyzers2)
    val eng2 = new QueryEngine(spark, dir)
    assert(eng2.topK(SearchQuery(Seq("url" -> "bar.net:8080"), 10)).collect().isEmpty,
      "suffix variant must be gone after rebuild with keyword chain")
    assert(m2.buildId != eng.manifest.buildId)
  }
}
