package graft

import org.apache.spark.sql.functions._
import graft.analyze.{TextAnalyzer, KeywordAnalyzer}
import graft.gen.TranscriptGen

class AnalyzerSpec extends SparkFunSuite {
  import spark.implicits._

  test("scala and Column tokenization agree exactly on generated + edge texts") {
    val texts = (0L until 500L).map(t => TranscriptGen.turnAt(t).text) ++ Seq(
      "", "   ", "a", "ab", "AB cd EF", "x1y2", "tab\tsep  multi   space",
      "punct,.;:!?-_()[]{}", "UPPER lower MiXeD", "0123456789 123 12345",
      "very" + "long" * 20 + "token endshere", "ünïcode émoji ☃ mixed ascii",
      "dash-joined under_scored dot.sep slash/sep", null)
    val df = texts.toDF("text")
    // STRICT parity: the Column form must never return null (null text ->
    // empty array), so no coalescing here — a null row fails the getSeq
    val viaCol = df.select(TextAnalyzer.tokensCol(col("text")).as("toks"))
      .collect().map { r =>
        assert(!r.isNullAt(0), "tokensCol returned NULL — must be empty array")
        r.getSeq[String](0).toList
      }
    texts.zip(viaCol).foreach { case (t, colToks) =>
      assert(TextAnalyzer.tokens(t).toList == colToks, s"text=<$t>")
    }
  }

  test("keyword analyzer scala/Column parity") {
    val vals = Seq("", "  ", "Grep", " READ_file ", "tool-7", null, "a")
    val df = vals.toDF("v")
    // null/blank values must give an empty array, never null: the build
    // sizes this column for the norms dl
    val viaCol = df.select(KeywordAnalyzer.tokensUdf(col("v")).as("toks"))
      .collect().map { r =>
        assert(!r.isNullAt(0), "tokensUdf returned NULL — must be empty array")
        r.getSeq[String](0).toList
      }
    vals.zip(viaCol).foreach { case (v, colToks) =>
      assert(KeywordAnalyzer.tokens(v).toList == colToks, s"v=<$v>")
    }
  }

  test("quality band: length 2..40 enforced") {
    assert(TextAnalyzer.tokens("a bc d e fg") == Seq("bc", "fg"))
    val long41 = "x" * 41
    val long40 = "y" * 40
    assert(TextAnalyzer.tokens(s"$long41 $long40") == Seq(long40))
  }

  test("full P6 quality predicate: reference truth table (segmentNeedOutput row-by-row)") {
    import graft.analyze.TokenFunctions.qualityKeep
    val table: Seq[(String, Boolean)] = Seq(
      // empty
      "" -> false,
      // Chinese branch (any non-ASCII; TextFunction.java:44-46): len >= 2
      "我" -> false, "我们" -> true, "中文分词" -> true,
      "a我" -> true,          // 2 units, non-ASCII -> Chinese branch, kept
      "é" -> false, "éé" -> true, // non-CJK non-ASCII takes the same branch
      "𠀋" -> true, // U+2000B: ONE ideograph = 2 UTF-16 units (ref counts units)
      // digit branch (:47-49): all Character.isDigit, len >= 5
      "1" -> false, "12" -> false, "1234" -> false, "12345" -> true,
      "00000" -> true, "123456789" -> true,
      // hex branch (:50-52, Util.IsHexadecimal ^0x[a-fA-F0-9]+): len >= 6
      "0x1" -> false, "0xabc" -> false, "0xabcd" -> true, "0xAbCd12" -> true,
      "0x" -> false,          // no hex digits -> other branch, len 2 < 4
      "0xzz" -> true,         // non-hex tail -> other branch, len 4 -> keep
      // other branch (:53-58): 4 <= len <= 128, GBK-encodable
      "abc" -> false, "abcd" -> true, "word" -> true,
      "ab1" -> false, "a1b2" -> true,
      ("x" * 128) -> true, ("x" * 129) -> false)
    table.foreach { case (tok, want) =>
      assert(qualityKeep(tok) == want, s"<$tok> want=$want")
    }
    // GBK-unreadable fidelity: the branch only fires for ASCII tokens (any
    // non-ASCII char routes to the Chinese branch first), so all ASCII in
    // [4,128] pass — assert the documented dead-branch behavior
    assert(qualityKeep("weoirus..&*^&*230  ??")) // Util.java:52 doc example -> readable
    // chain stage wiring: text -> quality drops short/digit tokens positionally
    val chain = graft.analyze.AnalyzerChains.parse("text|quality")
    assert(chain.tokens("ab abcd 123 12345 error the timeout") ==
      Seq("abcd", "12345", "error", "timeout"))
  }

  test("generator is deterministic and parallelism-invariant") {
    val a = TranscriptGen.turns(spark, 1000, 2).collect().sortBy(t => (t.conv_id, t.turn_idx))
    val b = TranscriptGen.turns(spark, 1000, 8).collect().sortBy(t => (t.conv_id, t.turn_idx))
    assert(a.toSeq == b.toSeq)
    // needles are present and unique
    val needles = a.flatMap(t => "needle-\\d+".r.findAllIn(t.text))
    assert(needles.length == needles.distinct.length && needles.nonEmpty)
  }
}
