package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines over `documents`:
  * token counting, quality scoring, language-ID heuristic, fingerprinting.
  * All codegen'd built-ins; every formula is mirrored 1:1 in the DuckDB
  * oracle SQL (SparkEntry).
  */
object TextOps {

  /** Token counting: whitespace tokens vs analyzer (BPE-ish regex) tokens +
    * char len. */
  def tokenCounts(documents: DataFrame): DataFrame =
    documents.select(
        col("doc_id"),
        size(split(trim(col("text")), "\\s+")).as("ws_tokens"),
        size(Dedup.toksC(col("text"))).as("re_tokens"),
        length(col("text")).as("n_chars_computed"),
        col("n_chars"))
      .orderBy("doc_id")

  // the 10 heuristic stopwords used for quality + langid signals
  val StopwordsSql = "('the','a','of','to','and','in','is','it','on','for')"

  /** Quality score: length / stopword-ratio / distinct-ratio mix, rounded.
    * Deterministic heuristic (reference has no scoring; this is the
    * training-data-pipeline extension). */
  def qualityScore(documents: DataFrame): DataFrame =
    documents
      .withColumn("toks", Dedup.toksC(col("text")))
      .withColumn("n", size(col("toks")).cast("double"))
      .withColumn("n_stop",
        size(filter(col("toks"), t => t.isin("the", "a", "of", "to", "and", "in", "is", "it", "on", "for"))).cast("double"))
      .withColumn("n_distinct", size(array_distinct(col("toks"))).cast("double"))
      .select(
        col("doc_id"),
        col("n").cast("long").as("n_tokens"),
        round(col("n_stop") / col("n"), 6).as("stop_ratio"),
        round(col("n_distinct") / col("n"), 6).as("distinct_ratio"),
        round(
          least(col("n") / 64.0, lit(1.0)) * 0.4 +
          (lit(1.0) - col("n_stop") / col("n")) * 0.3 +
          (col("n_distinct") / col("n")) * 0.3, 6).as("quality"))
      .orderBy("doc_id")

  /** Language-ID heuristic: score = stopword hit-rate per language list;
    * predict argmax (ties -> lexicographic lang). The testdata's text is
    * synthetic same-vocab so this is a plumbing/determinism exercise, like a
    * real n-gram classifier would slot in. */
  val LangStops: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "en" -> Seq("the", "and", "is", "of", "to"),
    "es" -> Seq("el", "la", "que", "de", "es"),
    "fr" -> Seq("le", "la", "et", "est", "les"))

  def langId(documents: DataFrame): DataFrame = {
    val withToks = documents.withColumn("toks", Dedup.toksC(col("text")))
    val scored = LangStops.foldLeft(withToks) { case (df, (lang, stops)) =>
      df.withColumn(s"s_$lang",
        size(filter(col("toks"), t => t.isin(stops: _*))).cast("double") /
          greatest(size(col("toks")).cast("double"), lit(1.0)))
    }
    // deterministic argmax: first lang (lexicographic) with s == max, max > 0
    val maxCol = LangStops.map(l => col(s"s_${l._1}")).reduce(greatest(_, _))
    val pred = LangStops.reverse.foldLeft(lit("und")) { case (acc, (lang, _)) =>
      when(col(s"s_$lang") === maxCol && maxCol > 0, lit(lang)).otherwise(acc)
    }
    scored.select(
        col("doc_id"), col("lang").as("lang_label"),
        pred.as("lang_pred"),
        round(maxCol, 6).as("lang_score"))
      .orderBy("doc_id")
  }

  /** Document fingerprint: winnowing-lite — min/max md5-derived hash over
    * 5-gram token shingles (rolling fingerprint of content, stable under
    * doc-id reshuffling).
    *
    * A doc's shingles all live in its own row, so min/max/count reduce IN
    * PLACE: one narrow mapPartitions, zero shuffle, zero explode (round 1
    * exploded ~50 shingle rows per doc through a hash-agg; at 100 TB that is
    * a full-corpus shuffle for a per-row reduction). Hash = first 7 hex
    * chars of md5(shingle) parsed base-16 — bit-identical to the oracle's
    * CAST('0x'||substr(md5(s),1,7) AS BIGINT) and to Dedup.h32. */
  def fingerprint(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val Shingle = 5
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def h32(s: String): Long = {
          md.reset()
          val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          // first 7 hex chars = 3.5 bytes, high nibble first
          var h = 0L
          var i = 0
          while (i < 7) {
            val b = d(i / 2) & 0xff
            h = h * 16 + (if (i % 2 == 0) b >> 4 else b & 0xf)
            i += 1
          }
          h
        }
        it.map { case (id, text) =>
          val toks = graft.analyze.TextAnalyzer.tokens(text)
          // same shingle set as sequence(0, greatest(n-5, 0)): short/empty
          // docs emit ONE (short) shingle, like the oracle's range form
          val nSh = math.max(toks.length - Shingle, 0) + 1
          var mn = Long.MaxValue; var mx = Long.MinValue
          val sb = new java.lang.StringBuilder(64)
          var i = 0
          while (i < nSh) {
            sb.setLength(0)
            var j = i
            val end = math.min(i + Shingle, toks.length)
            while (j < end) {
              if (j > i) sb.append(' ')
              sb.append(toks(j))
              j += 1
            }
            val h = h32(sb.toString)
            if (h < mn) mn = h
            if (h > mx) mx = h
            i += 1
          }
          (id, mn, mx, nSh.toLong)
        }
      }
      .toDF("doc_id", "fp_min", "fp_max", "n_shingles")
      .orderBy("doc_id")
  }

  /** Repetition signals — the repeated-content quality family popularized
    * by the Gopher data pipeline (Rae et al. 2021, "Scaling Language
    * Models", table A1 repetition filters): the share of token positions
    * claimed by the single most frequent token / bigram, and the share of
    * trigram positions whose trigram occurs more than once. High values
    * flag boilerplate, keyword stuffing and degenerate loops that the
    * length/stopword/distinct signals in [[qualityScore]] miss entirely
    * (a doc of "buy now buy now …" has a perfect length score).
    *
    *   top_token_frac   = max token tf / n              (0 when n < 1)
    *   top_bigram_frac  = max bigram tf / (n-1)         (0 when n < 2)
    *   dup_trigram_frac = Σ tf(t)·[tf(t)>1] / (n-2)     (0 when n < 3)
    *
    * Denominators are POSITION counts (n-k+1 k-gram slots), so every
    * fraction is in [0,1] with 1 = "one repeated k-gram covers the doc".
    * A doc's n-grams all live in its own row, so the frequency maps reduce
    * IN PLACE: one narrow mapPartitions, zero shuffle, zero explode — the
    * same 100 TB shape as [[fingerprint]] (an explode form would shuffle
    * ~3n rows per doc through three hash-aggs). Same analyzer tokens as
    * every other text member; formulas mirrored 1:1 in the oracle SQL,
    * with the rounding applied by Spark's round() like [[qualityScore]]. */
  def repetitionSignals(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        // per-doc tf maps; gram keys are exact joined strings (a hashed key
        // could alias two grams and over-count), doc-sized and short-lived
        def gramCounts(toks: Array[String], k: Int): scala.collection.mutable.HashMap[String, Long] = {
          val m = new scala.collection.mutable.HashMap[String, Long]
          val slots = toks.length - k + 1
          val sb = new java.lang.StringBuilder(48)
          var i = 0
          while (i < slots) {
            sb.setLength(0)
            var j = i
            while (j < i + k) {
              if (j > i) sb.append(' ')
              sb.append(toks(j))
              j += 1
            }
            val key = sb.toString
            m.update(key, m.getOrElse(key, 0L) + 1L)
            i += 1
          }
          m
        }
        it.map { case (id, text) =>
          val toks = graft.analyze.TextAnalyzer.tokens(text).toArray
          val n = toks.length
          val topTok = if (n >= 1) gramCounts(toks, 1).valuesIterator.max.toDouble / n else 0.0
          val topBi = if (n >= 2) gramCounts(toks, 2).valuesIterator.max.toDouble / (n - 1) else 0.0
          val dupTri = if (n >= 3) {
            val tf = gramCounts(toks, 3)
            tf.valuesIterator.filter(_ > 1L).sum.toDouble / (n - 2)
          } else 0.0
          (id, n, topTok, topBi, dupTri)
        }
      }
      .toDF("doc_id", "n_tokens", "t_raw", "b_raw", "d_raw")
      .select(col("doc_id"), col("n_tokens"),
        round(col("t_raw"), 6).as("top_token_frac"),
        round(col("b_raw"), 6).as("top_bigram_frac"),
        round(col("d_raw"), 6).as("dup_trigram_frac"))
      .orderBy("doc_id")
  }

  /** PII-style redaction patterns, applied IN ORDER (emails first so an
    * address-embedded IP or digit run is not double-counted; counts for
    * pattern i are taken AFTER replacing patterns < i). Chosen to be
    * RE2/Java-regex compatible so the DuckDB oracle applies the identical
    * expressions. */
  val RedactPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "<EMAIL>"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("num", "\\d{9,}", "<NUM>"))

  /** Redact PII-style spans from a text column: emails, IPv4s, long digit
    * runs (phone/ID-shaped) replaced with typed sentinels, with per-category
    * match counts — the standard pre-training scrub stage. Entirely
    * codegen'd regexp built-ins (one narrow pass, no shuffle). Input needs
    * (doc_id, text); output (doc_id, text_red, n_email, n_ip, n_num). */
  def redact(documents: DataFrame): DataFrame = {
    val start = documents.select(col("doc_id"), col("text").as("t"))
    val out = RedactPatterns.foldLeft(start) { case (df, (name, pat, repl)) =>
      df.withColumn(s"n_$name", size(regexp_extract_all(col("t"), lit(pat), lit(0))))
        .withColumn("t", regexp_replace(col("t"), pat, repl))
    }
    out.select(col("doc_id") +: col("t").as("text_red") +:
        RedactPatterns.map { case (name, _, _) => col(s"n_$name") }: _*)
      .orderBy("doc_id")
  }

  /** Duplicated-window coverage — the fixed-window form of exact substring
    * dedup (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better": repeated verbatim spans are the highest-value thing to
    * cut before training; their suffix-array ExactSubstr generalizes to
    * arbitrary span lengths, this member fixes the span at `window` tokens
    * — the standard windowed approximation). Every token position opens a
    * `window`-token sliding window; a window is DUPLICATED when its exact
    * token string occurs at ≥ 2 positions corpus-wide (any doc, including
    * within-doc repeats). Emits per-doc coverage (doc_id, n_windows,
    * n_dup_windows, dup_frac) — the "how much of this doc is verbatim
    * boilerplate" signal that token-SET dedup (jaccard/minhash members)
    * cannot see.
    *
    * Shape: windows from a compiled UDF (one narrow pass), occurrence
    * counts from ONE hash-agg on the window key, coverage from a
    * co-partitioned join back + a doc_id agg — no self-join, no candidate
    * blow-up; the heavy shuffle is windows ≈ tokens rows, the same volume
    * the index build's tokenize pass already moves. Windows are keyed by
    * their 64-bit xxhash64 FINGERPRINTS ([[Dedup.windowHashes]]), so the
    * heavy shuffle carries 8 bytes per window instead of a `window`-token
    * string.
    *
    * Collision bound: the output equals the window-string count unless two
    * distinct windows share a fingerprint. For W distinct windows
    * corpus-wide the expected number of colliding pairs is ≈ W²/2⁶⁵
    * (~3·10⁻⁸ at W = 10⁶); a collision can only mark a unique window as
    * duplicated (over-count n_dup_windows). The DuckDB oracle compares
    * window strings, and the gate matches it at sf0.01 and sf0.1. */
  def dupWindowCoverage(documents: DataFrame, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val g = documents.select(col("doc_id"),
      explode(Dedup.windowHashes(window)(Dedup.toksC(col("text")))).as("g"))
    val cnt = g.groupBy("g").agg(count(lit(1)).as("c"))
    val per = g.join(cnt, "g").groupBy("doc_id").agg(
      count(lit(1)).as("n_windows"),
      sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_windows"))
    // docs shorter than the window have no rows in g — they still report
    documents.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        round(when(coalesce(col("n_windows"), lit(0L)) >= 1,
          col("n_dup_windows").cast("double") / col("n_windows"))
          .otherwise(lit(0.0)), 6).as("dup_frac"))
      .orderBy("doc_id")
  }

  /** Reference-trained bigram language-model score — the CCNet-shaped
    * quality signal: how predictable is each document under a Stupid-Backoff
    * bigram LM estimated on a REFERENCE corpus (`train`)? CCNet/Gopher-style
    * pipelines use exactly this to rank web text against a trusted domain;
    * here the LM is count-based (no external model, fully deterministic):
    *
    *   P(cur | prev) = c2(prev,cur) / c1(prev)          bigram seen in train
    *                 = 0.4 · c1(cur) / T                 backoff (unseen bigram)
    *                 = 0                                 cur not in train vocab
    *
    * Per doc: `n_bigrams`, `hit_frac` (positions whose bigram the reference
    * knows), `oov_frac` (positions whose token the reference has never
    * seen), `lm_micro` (mean conditional probability in micro units —
    * higher = more reference-like; a perplexity in probability space, kept
    * log-free so the arithmetic stays exactly reproducible across engines).
    *
    * Determinism at any parallelism: each position's probability is
    * quantized to an integer micro-probability (round(1e6·p) — one exact
    * integer product, one IEEE division, one half-up round, identical in
    * Spark and DuckDB), so the per-doc reduction is a LONG sum —
    * associative, commutative, partition-order-free. Summing raw doubles
    * would make the gate hash depend on task scheduling. The mean itself
    * also stays in INTEGER micro units: sum_p/(n·10⁶) rounded to 6 decimals
    * is a 7-place terminating decimal by construction (e.g. 0.0327465),
    * exactly where Spark's decimal-string HALF_UP and DuckDB's
    * binary-value rounding disagree — measured at sf0.1 doc 672; integer
    * .5 edges are binary-exact, so round(sum_p/n) agrees everywhere.
    *
    * Shape at 100 TB: two hash-aggs over the reference tokens build c1/c2;
    * scoring is bigram-explode (compiled UDF, narrow) + equi-joins keyed on
    * the bigram / term (high-cardinality keys — sort-merge at scale, AQE
    * skew-split absorbs stopword-bigram heat) + one hash-agg by doc_id. The
    * corpus total T rides a single-row broadcast. No self-joins, no
    * driver-side state; shuffle volume ≈ token count, the same volume the
    * tokenize pass already moves. The bigram and term join keys are 64-bit
    * xxhash64 FINGERPRINTS, so the count tables and the scoring shuffle
    * carry 8-byte longs instead of token text.
    *
    * Collision bound: the output equals the string-keyed score unless two
    * distinct bigrams or two distinct terms share a fingerprint. For V
    * distinct keys the expected number of colliding pairs is ≈ V²/2⁶⁵
    * (~3·10⁻⁸ at V = 10⁶); a colliding key can only borrow the other key's
    * count, which perturbs p_micro/hit_frac/oov_frac but never n_bigrams.
    * The DuckDB oracle compares strings, and the gate matches it at sf0.01
    * and sf0.1. */
  def lmScore(train: DataFrame, documents: DataFrame): DataFrame = {
    val toks = Dedup.toksC(col("text"))
    val trainTerms = train.select(explode(toks).as("term"))
      .select(xxhash64(col("term")).as("term"))
    val c1 = trainTerms.groupBy("term").agg(count(lit(1)).as("c1"))
    val c2 = train.select(explode(Dedup.windowHashes(2)(toks)).as("big"))
      .groupBy("big").agg(count(lit(1)).as("c2"))
    val total = trainTerms.agg(count(lit(1)).as("t_total")) // 1 row
    val big = documents
      .select(col("doc_id"), explode(Dedup.bigramHashTriples(toks)).as("x"))
      .select(col("doc_id"), col("x._1").as("big"),
        col("x._2").as("prev"), col("x._3").as("cur"))
      .join(c2, Seq("big"), "left")
    // ONE pass over the bigram rows: both count tables left-join onto `big`
    // once and the three-way branch is a when() chain, so the heaviest
    // subtree — the documents scan, the bigram explode and the c2 join —
    // executes once. Without collisions a train bigram implies prev is in
    // the train vocab (`c2 != null ⇒ c1p != null`); a collision that breaks
    // this falls through to the BACKOFF branch instead of dropping the row,
    // so collisions never change n_bigrams.
    val per = big
      .join(c1.toDF("prev", "c1p"), Seq("prev"), "left")
      .join(c1.toDF("cur", "c1c"), Seq("cur"), "left")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        when(col("c2").isNotNull && col("c1p").isNotNull,
          round(lit(1000000.0) * col("c2") / col("c1p")).cast("long"))
          .when(col("c1c").isNotNull,
            round(lit(400000.0) * col("c1c") / col("t_total")).cast("long"))
          .otherwise(lit(0L)).as("p_micro"),
        when(col("c2").isNotNull && col("c1p").isNotNull, lit(1L))
          .otherwise(lit(0L)).as("hit"),
        when(col("c1c").isNull, lit(1L)).otherwise(lit(0L)).as("oov"))
      .groupBy("doc_id").agg(
      count(lit(1)).as("n_bigrams"),
      sum("hit").as("n_hit"),
      sum("oov").as("n_oov"),
      sum("p_micro").as("sum_p"))
    // docs with < 2 tokens have no bigram rows — they still report
    documents.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(when(col("n_bigrams") >= 1,
          col("n_hit").cast("double") / col("n_bigrams"))
          .otherwise(lit(0.0)), 6).as("hit_frac"),
        round(when(col("n_bigrams") >= 1,
          col("n_oov").cast("double") / col("n_bigrams"))
          .otherwise(lit(0.0)), 6).as("oov_frac"),
        round(when(col("n_bigrams") >= 1,
          col("sum_p").cast("double") / col("n_bigrams"))
          .otherwise(lit(0.0))).cast("long").as("lm_micro"))
      .orderBy("doc_id")
  }

  /** Contiguous sequence packing — the concatenate-and-chunk shape that
    * fills fixed-length LM training windows: documents in doc_id order form
    * one token stream; each doc's `start` is the exclusive prefix sum of
    * analyzer token counts and `pack_id = start div maxTokens` (a doc whose
    * tokens straddle a window boundary belongs to the pack it starts in).
    *
    * Distributed prefix sum in the DocIds two-pass shape (no global
    * single-task window): range-partition + sort by doc_id and PERSIST the
    * pinned intermediate (re-executing repartitionByRange reseeds its range
    * sampling, so unpinned passes could disagree on boundaries); pass 1
    * collects (first doc_id, token subtotal) per partition — P rows — and
    * prefix-sums to per-partition bases KEYED BY DATA (first doc_id, not
    * partition id: task ids shift under union consumption); pass 2 streams
    * each partition once adding base + running local sum. Result is
    * invariant under parallelism (PackSpec asserts at two partition
    * counts). */
  def packSequences(documents: DataFrame, maxTokens: Long,
                    numPartitions: Int = 0): DataFrame = {
    require(maxTokens >= 1, s"maxTokens must be >= 1, got $maxTokens")
    val spark = documents.sparkSession
    import spark.implicits._
    val p = if (numPartitions > 0) numPartitions
            else spark.sessionState.conf.numShufflePartitions
    val counts = documents
      .select(col("doc_id"),
        // null text counts 0 tokens (size(null) would be -1)
        when(col("text").isNull, lit(0L))
          .otherwise(size(Dedup.toksC(col("text"))).cast("long")).as("n_tokens"))
    // the pin is LOAD-BEARING: pass 2 executes when the caller does, and an
    // unpinned re-execution of repartitionByRange could re-sample different
    // range boundaries than pass 1 based its offsets on (see DocIds
    // scaladoc). An EAGER localCheckpoint (not persist) does the pinning:
    // the sorted rows are materialized once (two longs per doc), can never
    // re-sample, and — unlike cache-manager persists, which pin blocks
    // until an explicit unpersist — the blocks are freed by Spark's
    // ContextCleaner as soon as the returned frame becomes unreachable, so
    // repeated calls in a long-lived session cannot accumulate storage
    // (round-4 ADVICE). Trade-off: local checkpoints don't survive executor
    // loss; a cluster deployment that needs that uses reliable checkpoints.
    val sorted = counts
      .repartitionByRange(p, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .as[(Long, Long)]
      .localCheckpoint(false) // lazy: partInfo's collect below materializes it
    val partInfo = sorted.mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val (firstId, firstN) = it.next()
          var sum = firstN
          while (it.hasNext) { sum += it.next()._2 }
          Iterator.single((firstId, sum))
        }
      }.collect().sortBy(_._1)
      var acc = 0L
      val bases: Map[Long, Long] = partInfo.map { case (firstId, sum) =>
        val b = acc; acc += sum; firstId -> b
      }.toMap
      val basesB = spark.sparkContext.broadcast(bases)
      val max = maxTokens
      sorted.mapPartitions { it =>
        val buf = it.buffered
        if (!buf.hasNext) Iterator.empty
        else {
          val base = basesB.value.getOrElse(buf.head._1,
            throw new IllegalStateException(
              s"pack base missing for partition first doc_id ${buf.head._1}"))
          var cum = base
          buf.map { case (id, n) =>
            val start = cum
            cum += n
            (id, n, start, start / max)
          }
        }
      }.toDF("doc_id", "n_tokens", "tok_start", "pack_id")
        .orderBy("doc_id")
  }
}
