package graft

import org.apache.spark.sql.functions._
import graft.analyze.TextAnalyzer
import graft.ops.{Dedup, Multimodal, Similarity, TextOps, Transcripts}

/** Local assertions for the training-data ops (the driver gate additionally
  * value-checks each against DuckDB). */
class OpsSpec extends SparkFunSuite {
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"
  lazy val docs = spark.read.parquet(s"$sf/documents.parquet").cache()

  test("minhash LSH candidates ⊇ high-jaccard pairs (recall) and verify filters correctly") {
    val exact = Dedup.jaccardPairs(docs, 0.95).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(docs, 0.95).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // at J>=0.95 with 4x4 bands, collision probability ~1 - (1-j^4)^4 > 0.99
    val recall = if (exact.isEmpty) 1.0 else (exact intersect lsh).size.toDouble / exact.size
    assert(recall >= 0.95, s"LSH recall $recall")
    // LSH output is verified with exact jaccard, so no false positives
    assert(lsh.subsetOf(exact))
  }

  test("simhash: identical docs get identical signatures; signatures are 32-bit") {
    val sigs = Dedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs.size == docs.count())
    assert(sigs.values.forall(s => s >= 0 && s <= 0xffffffffL))
    // docs with jaccard 1.0 (identical token SETS) may differ in tf, so only
    // check: exact-duplicate token BAGS -> equal simhash
    val bags = docs.collect().map { r =>
      r.getLong(0) -> graft.analyze.TextAnalyzer.tokens(r.getString(1)).groupBy(identity).view.mapValues(_.size).toMap
    }
    val byBag = bags.groupBy(_._2).values.filter(_.length > 1)
    byBag.foreach { group =>
      val ss = group.map { case (id, _) => sigs(id) }.distinct
      assert(ss.length == 1)
    }
  }

  test("exact dedup keeps min doc_id per content hash") {
    val out = Dedup.exact(docs).collect()
    assert(out.length == docs.count())
    val byHash = out.groupBy(_.getString(1))
    byHash.values.foreach { g =>
      val keepers = g.filter(_.getBoolean(2))
      assert(keepers.length == 1)
      assert(keepers(0).getLong(0) == g.map(_.getLong(0)).min)
      assert(g.forall(_.getLong(3) == g.length))
    }
  }

  test("components == local union-find over the pair list; keepers contract") {
    val pairs = Dedup.minhashLsh(docs, 0.95).select("a", "b")
    val pairList = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    // reference: classic union-find with path compression
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairList.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val vertices = pairList.flatMap(p => Seq(p._1, p._2)).distinct
    val expected = vertices.map(v => v -> find(v)).toMap
    // both paths: driver union-find fast path (default) and the
    // distributed propagation loop (driverLimit = 0 forces it)
    val got = Dedup.components(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    val gotDist = Dedup.components(pairs, driverLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotDist == expected)

    // chain graph exercises the pointer-jump path (diameter = n-1)
    val chain = (0L until 40L).sliding(2).map(w => (w(0), w(1))).toSeq.toDF("a", "b")
    val chainComp = Dedup.components(chain, driverLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(chainComp.length == 40 && chainComp.forall(_._2 == 0L))
    assert(Dedup.lastComponentsIters > 0) // the loop actually ran

    // keepers: every doc assigned, keeper = component min, sizes consistent
    val keep = Dedup.keepers(docs, 0.95).collect()
    assert(keep.length == docs.count())
    val byKeeper = keep.groupBy(_.getLong(1))
    byKeeper.foreach { case (k, g) =>
      assert(g.map(_.getLong(0)).min == k)
      assert(g.count(_.getBoolean(2)) == 1)
      assert(g.forall(_.getLong(3) == g.length))
    }
    // pair endpoints always share a keeper
    val kmap = keep.map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairList.foreach { case (a, b) => assert(kmap(a) == kmap(b)) }
  }

  test("brute-force cosine top-k is ordered and self-consistent") {
    val top = Similarity.cosineTopK(spark, sf, 0, 10).collect()
    assert(top.length == 10)
    val cos = top.map(_.getDouble(2))
    assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    assert(cos.forall(c => c >= -1.0001 && c <= 1.0001))
    assert(!top.exists(_.getLong(0) == 0L)) // query vec excluded
  }

  test("lsh buckets partition all vectors") {
    val bk = Similarity.lshBuckets(spark, sf).collect()
    val total = bk.map(_.getLong(1)).sum
    assert(total == spark.read.parquet(s"$sf/embeddings.parquet").count())
    assert(bk.forall(r => r.getInt(0) >= 0 && r.getInt(0) < 256))
  }

  test("text ops: quality in [0,1], token counts consistent, langid deterministic") {
    val q = TextOps.qualityScore(docs).collect()
    assert(q.forall(r => r.getDouble(4) >= 0 && r.getDouble(4) <= 1.0))
    val tc = TextOps.tokenCounts(docs).collect()
    tc.foreach { r =>
      assert(r.getInt(3) == r.getLong(4).toInt) // n_chars_computed == n_chars column
    }
    val l1 = TextOps.langId(docs).collect().map(r => (r.getLong(0), r.getString(2)))
    val l2 = TextOps.langId(docs).collect().map(r => (r.getLong(0), r.getString(2)))
    assert(l1.toSeq == l2.toSeq)
  }

  test("multimodal: real decode is deterministic and batched per partition") {
    val m1 = Multimodal.extractMeta(spark, docs).collect()
    val m2 = Multimodal.extractMeta(spark, docs.repartition(7)).collect()
      .sortBy(_.getLong(0))
    assert(m1.map(_.toSeq).toSeq == m2.map(_.toSeq).toSeq) // partitioning-invariant
    m1.foreach { r =>
      assert(r.getString(1) == "png")
      assert(r.getInt(2) == Multimodal.gateWidth(r.getLong(0)))
      assert(r.getInt(3) == Multimodal.gateHeight(r.getLong(0)))
    }
  }

  test("pair kernels are block-count-invariant (per-task memory bound is a free knob)") {
    // B only partitions the work: results must be identical at any block
    // count — this is what makes pairBlocksFor(n) a pure memory/parallelism
    // dial (one block ≈ TargetRowsPerBlock rows buffered per task)
    def sig(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    assert(sig(Dedup.jaccardPairs(docs, 0.95, Some(2))) ==
           sig(Dedup.jaccardPairs(docs, 0.95, Some(16))))
    assert(sig(Similarity.embedDupPairs(spark, sf, 0.4, Some(3))) ==
           sig(Similarity.embedDupPairs(spark, sf, 0.4, Some(8))))
    assert(Dedup.pairBlocksFor(0L) == Dedup.DefaultPairBlocks)
    assert(Dedup.pairBlocksFor(100L * Dedup.TargetRowsPerBlock) == 100)
    // capped so pair-group id i*B+j can never overflow an Int
    assert(Dedup.pairBlocksFor(Long.MaxValue) == Dedup.MaxPairBlocks)
    assert(Dedup.MaxPairBlocks.toLong * Dedup.MaxPairBlocks <= Int.MaxValue)
    // an explicit out-of-range B fails loudly instead of overflowing the id
    intercept[IllegalArgumentException](
      Dedup.jaccardPairs(docs, 0.95, Some(Dedup.MaxPairBlocks + 1)).collect())
  }

  test("verify routing-B is candidate-derived and result-invariant (B is a pure dial)") {
    // routing-B now scales with the CANDIDATE count (not a fixed 16): assert
    // the derivation and that the verify cogroup's output is identical at
    // any routing block count — same invariance contract as the pair kernels
    import graft.ops.Dedup.{routingBlocksFor, DefaultPairBlocks, MaxPairBlocks, TargetRowsPerBlock}
    assert(routingBlocksFor(100L) == DefaultPairBlocks)
    // sqrt rule: B(B+1)/2 pair-groups hold ~TargetRowsPerBlock candidates
    assert(routingBlocksFor(100L * 100L * TargetRowsPerBlock / 2) == 100)
    assert(routingBlocksFor(Long.MaxValue) == MaxPairBlocks)
    val sets = docs.select(col("doc_id"), Dedup.tokenSetC(col("text")).as("ts"))
      .filter(size(col("ts")) > 0)
    val groups = sets.groupBy("ts")
      .agg(sort_array(collect_list(col("doc_id"))).as("members"))
      .withColumn("sid", element_at(col("members"), 1))
    // candidates: every adjacent sid pair (some true dups, many rejects)
    val sids = groups.select("sid").collect().map(_.getLong(0)).sorted
    val cand = sids.zip(sids.tail).map { case (a, b) => (a, b) }.toSeq.toDF("sa", "sb")
    def sig(b: Option[Int]) = Dedup.verifyCandidatePairs(groups, cand, 0.95, b)
      .orderBy("a", "b").collect().map(_.toSeq).toSeq
    val base = sig(Some(2))
    assert(base == sig(Some(16)))
    assert(base == sig(None)) // derived B produces the same result
  }

  test("shingleHashes UDF equals the declarative xxhash64 shingle column") {
    // include a null-text doc: both forms must yield an EMPTY array, not null
    val d = docs.limit(50).select(col("doc_id"), col("text"))
      .unionAll(Seq((100000L, Option.empty[String])).toDF("doc_id", "text"))
    def vals(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
    val compiled = d.select(col("doc_id"),
      Dedup.shingleHashes(3)(Dedup.toksC(col("text"))).as("ts"))
    val declarative = d.select(col("doc_id"),
      array_sort(array_distinct(transform(Dedup.shingles(TextAnalyzer.tokensCol(col("text")), 3),
        s => xxhash64(s)))).as("ts"))
    val got = vals(compiled)
    assert(got == vals(declarative))
    assert(got.last == (100000L, Seq.empty[Long])) // null text -> empty, both forms
  }

  test("jaccardOfLongs over fingerprints == jaccardOf over the strings") {
    val rnd = new scala.util.Random(7)
    def h(s: String) = {
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(u, 42L)
    }
    (1 to 100).foreach { _ =>
      val a = Array.fill(rnd.nextInt(30))(s"tok${rnd.nextInt(40)}").distinct.sorted
      val b = Array.fill(rnd.nextInt(30))(s"tok${rnd.nextInt(40)}").distinct.sorted
      assert(Dedup.jaccardOfLongs(a.map(h).sorted, b.map(h).sorted) ==
             Dedup.jaccardOf(a, b))
    }
  }

  test("ngram Jaccard is order-aware where token Jaccard is not") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "zeta epsilon delta gamma beta alpha"), // same bag, reversed
      (3L, "alpha beta gamma delta epsilon zeta")) // true duplicate of 1
      .toDF("doc_id", "text")
    // bag-of-tokens: all three pairs are J=1 (identical vocabularies)
    assert(Dedup.jaccardPairs(d, 0.95).count() == 3)
    // 3-gram shingles keep word order: only the true duplicate survives
    val ng = Dedup.ngramJaccardPairs(d, 3, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(ng.toSeq == Seq((1L, 3L, 1.0)))
    // the sub-quadratic shingle-LSH member finds the identical-set pair
    // (identical shingle sets -> identical signatures, trivially candidates)
    // and is equally order-aware
    val lsh = Dedup.ngramMinhashLsh(d, 3, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(lsh.toSeq == Seq((1L, 3L, 1.0)))
    // on the gate corpus: no false positives (every LSH pair is an exact
    // pair) and high recall of the exact output
    val exact = Dedup.ngramJaccardPairs(docs, 3, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshSf = Dedup.ngramMinhashLsh(docs, 3, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lshSf.subsetOf(exact))
    assert(exact.isEmpty || lshSf.size.toDouble / exact.size >= 0.8)
    // B-invariance holds for the shingle member too
    def sig(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    assert(sig(Dedup.ngramJaccardPairs(docs, 3, 0.8, Some(2))) ==
           sig(Dedup.ngramJaccardPairs(docs, 3, 0.8, Some(16))))
  }

  test("token-less docs are outside the similarity domain (no J=1 pairs among them)") {
    // two docs with zero analyzer tokens + two true duplicates
    val d = Seq(
      (1L, "!!! ???"), (2L, "., ..,"), // no [a-z0-9]{2,40} tokens
      (3L, "alpha beta gamma"), (4L, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val jp = Dedup.jaccardPairs(d, 0.95).collect().map(r => (r.getLong(0), r.getLong(1)))
    val lp = Dedup.minhashLsh(d, 0.95).collect().map(r => (r.getLong(0), r.getLong(1)))
    val pp = Dedup.jaccardPairsPrefix(d, 0.95).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(jp.toSeq == Seq((3L, 4L)), s"jaccard pairs: ${jp.toSeq}")
    assert(lp.toSeq == Seq((3L, 4L)), s"lsh pairs: ${lp.toSeq}")
    assert(pp.toSeq == Seq((3L, 4L)), s"prefix pairs: ${pp.toSeq}")
  }

  test("prefix-filter jaccard is EXACT: equals brute-force output, including boundary J") {
    def sig(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    assert(sig(Dedup.jaccardPairsPrefix(docs, 0.95)) == sig(Dedup.jaccardPairs(docs, 0.95)))
    // boundary case J == t exactly: 19 shared tokens, union 21, t = 19/21
    val xs = (1 to 19).map(i => f"tok$i%03d")
    val d = Seq(
      (1L, (xs :+ "only1").mkString(" ")),
      (2L, (xs :+ "only2").mkString(" "))).toDF("doc_id", "text")
    val p = Dedup.jaccardPairsPrefix(d, 19.0 / 21.0).collect()
    assert(p.length == 1 && p(0).getLong(0) == 1L && p(0).getLong(1) == 2L,
      s"boundary pair missed: ${p.toSeq}")
  }

  test("empty embeddings table: ann operators return schema-stable empty frames") {
    val dir = SparkSpec.tmpDir("empty-emb")
    spark.read.parquet(s"$sf/embeddings.parquet").limit(0)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val ann = Similarity.embedDupPairsAnn(spark, dir, 0.4)
    assert(ann.columns.toSeq == Seq("a", "b", "bucket", "cos") && ann.count() == 0)
    val bk = Similarity.lshBuckets(spark, dir)
    assert(bk.columns.toSeq == Seq("bucket", "n", "min_vec") && bk.count() == 0)
    graft.ops.AnnIndex.build(spark, spark.read.parquet(s"$dir/embeddings.parquet"), s"$dir/idx")
  }

  test("incremental LSH == full LSH scoped to pairs touching the fresh suffix") {
    def sig(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val maxId = docs.agg(max("doc_id")).collect()(0).getLong(0)
    val f = maxId / 2
    assert(sig(Dedup.minhashLshIncremental(docs, f, 0.95)) ==
           sig(Dedup.minhashLsh(docs, 0.95).filter(col("b") >= f)))
    // F beyond the corpus -> empty; F = 0 -> identical to the full operator
    assert(Dedup.minhashLshIncremental(docs, maxId + 1, 0.95).count() == 0)
    assert(sig(Dedup.minhashLshIncremental(docs, 0L, 0.95)) ==
           sig(Dedup.minhashLsh(docs, 0.95)))
  }

  test("hash split/sample: deterministic, partition-invariant, proportions sane") {
    import graft.ops.Sampling
    val s1 = Sampling.hashSplit(docs).collect().map(r => r.getLong(0) -> r.getString(1))
    val s2 = Sampling.hashSplit(docs.repartition(7)).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(s1.toSeq == s2.toSeq)
    assert(s1.length == docs.count())
    val byS = s1.groupBy(_._2).view.mapValues(_.length).toMap
    // 80/10/10 within loose tolerance at n=docs (hash uniformity)
    assert(byS("train") > s1.length * 0.6 && byS("train") < s1.length * 0.95, s"$byS")
    assert(byS.getOrElse("val", 0) + byS.getOrElse("test", 0) == s1.length - byS("train"))
    // different salt -> different assignment (decorrelated splits)
    val alt = Sampling.hashSplit(docs, salt = "other").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(alt.toSeq != s1.toSeq)
    val kept = Sampling.sampleOneInN(docs, 20).collect().map(_.getLong(0))
    assert(kept.length > 0 && kept.length < s1.length / 5) // ~1/20
    assert(kept.sameElements(kept.sorted))
    intercept[IllegalArgumentException](Sampling.hashSplit(docs, 90, 20).collect())
  }

  test("packSequences: distributed prefix sum is exact and parallelism-invariant") {
    val packed = TextOps.packSequences(docs, 256).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // oracle: driver-side sequential cumsum over doc_id order
    val counts = docs.collect()
      .map(r => r.getLong(0) -> graft.analyze.TextAnalyzer.tokens(r.getString(1)).length.toLong)
      .sortBy(_._1)
    var cum = 0L
    val expect = counts.map { case (id, n) =>
      val st = cum; cum += n; (id, n, st, st / 256)
    }
    assert(packed.toSeq == expect.toSeq)
    // invariant at a different partition count (different range boundaries)
    val p3 = TextOps.packSequences(docs, 256, numPartitions = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(p3.toSeq == expect.toSeq)
    // packs are contiguous and starts are monotone
    assert(packed.map(_._3).sameElements(packed.map(_._3).sorted))
  }

  test("decontaminate flags exactly the docs sharing an n-gram with the benchmark") {
    val bench = Seq((1000L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, "completely unrelated content about spark executors"),
      (2L, "he said the quick brown fox jumps high"), // shares 5-gram run
      (3L, "quick brown fox and nothing else"),       // only 3 shared words: no 5-gram
      (4L, Option.empty[String].orNull))              // null text: clean
      .toDF("doc_id", "text")
    val got = Dedup.decontaminate(train, bench, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.toSeq == Seq((1L, 0L, false), (2L, 1L, true), (3L, 0L, false), (4L, 0L, false)),
      s"got ${got.toSeq}")
  }

  test("rebalanceRates hits target proportions; sampleByStratum is monotone in rate") {
    import graft.ops.Sampling
    val rates = Sampling.rebalanceRates(docs, "lang", Map("en" -> 1.0, "de" -> 1.0))
    // binding stratum gets rate 1.0; expected kept counts are proportional
    val counts = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val binding = Seq("en", "de").minBy(counts)
    assert(math.abs(rates(binding) - 1.0) < 1e-12)
    assert(rates.values.forall(r => r > 0 && r <= 1.0))
    // expected kept per stratum ~ equal: c_s * r_s equal across strata
    val keptExp = Seq("en", "de").map(s => counts(s) * rates(s))
    assert(math.abs(keptExp(0) - keptExp(1)) < 1e-6)
    // monotone: raising a rate only adds docs
    val lo = Sampling.sampleByStratum(docs, "lang", Map("en" -> 0.2)).collect()
      .map(_.getLong(0)).toSet
    val hi = Sampling.sampleByStratum(docs, "lang", Map("en" -> 0.6)).collect()
      .map(_.getLong(0)).toSet
    assert(lo.subsetOf(hi) && lo.size < hi.size)
    // untargeted strata drop entirely
    assert(Sampling.sampleByStratum(docs, "lang", Map("en" -> 1.0))
      .select("stratum").distinct().collect().map(_.getString(0)).toSeq == Seq("en"))
  }

  test("curate funnel: one-pass counts chain correctly and match apply()") {
    import graft.ops.Curate
    val stages = Seq(
      "min_chars" -> (length(col("text")) >= 50),
      "lang" -> col("lang").isin("en", "de"),
      "min_tokens" -> (size(Dedup.toksC(col("text"))) >= 10))
    val f = Curate.funnel(docs, stages).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(f.map(_._2).toSeq == Seq("min_chars", "lang", "min_tokens"))
    assert(f(0)._3 == docs.count())
    // chaining: stage i's n_in == stage i-1's n_kept; counts non-increasing
    assert(f(1)._3 == f(0)._4 && f(2)._3 == f(1)._4)
    assert(f.forall { case (_, _, nIn, nKept) => nKept <= nIn })
    assert(Curate(docs, stages).count() == f(2)._4)
  }

  test("redact: typed sentinels, ordered counting, clean text untouched") {
    val d = Seq(
      (1L, "mail me at a.b+c@test-x.org thanks"),
      (2L, "server 192.168.1.254 then call 08001234567"),
      (3L, "email with host ip user@10.0.0.1 trailing"),
      (4L, "nothing sensitive here at all"),
      (5L, "short 12345678 is kept, 123456789 is not"))
      .toDF("doc_id", "text")
    val got = TextOps.redact(d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4)))
    assert(got(0) == ((1L, "mail me at <EMAIL> thanks", 1, 0, 0)))
    assert(got(1) == ((2L, "server <IP> then call <NUM>", 0, 1, 1)))
    // an @ with an IP host is NOT an email by the pattern (no alphabetic
    // TLD) — the IP inside it is what gets redacted
    assert(got(2) == ((3L, "email with host ip user@<IP> trailing", 0, 1, 0)))
    assert(got(3) == ((4L, "nothing sensitive here at all", 0, 0, 0)))
    assert(got(4) == ((5L, "short 12345678 is kept, <NUM> is not", 0, 0, 1)))
  }

  test("simhashPairs: exact vs brute-force Hamming; pigeonhole recall at the boundary") {
    // corpus parity: the pigeonhole block joins must reproduce the O(n^2)
    // bit_count filter row for row (the operator's contract is EXACT)
    val sigs = Dedup.simhash(docs).collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ida, sa) <- sigs; (idb, sb) <- sigs if ida < idb
      hd = java.lang.Long.bitCount(sa ^ sb) if hd <= 3
    } yield (ida, idb, hd)).toSet
    val got = Dedup.simhashPairs(docs, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == brute)

    // the 60-bit wide form holds the same exact contract over its own
    // signatures (and its blocks have no dead bits — see Dedup.h60)
    val wideSigs = Dedup.simhashWide(docs).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(wideSigs.forall { case (_, s) => s >= 0 && s < (1L << 60) })
    val wideBrute = (for {
      (ida, sa) <- wideSigs; (idb, sb) <- wideSigs if ida < idb
      hd = java.lang.Long.bitCount(sa ^ sb) if hd <= 3
    } yield (ida, idb, hd)).toSet
    val wideGot = Dedup.simhashPairsWide(docs, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(wideGot == wideBrute)
    // 3 bits of 60 is a sharper threshold than 3 of 28 live bits: the wide
    // pair set must not exceed the narrow one on the same corpus
    assert(wideGot.size <= got.size)

    // forced hot-group routing returns the identical pair set: tileRows=8
    // makes every group hot (cross- and same-tile paths both exercised),
    // tileRows=60 mixes hot and cold groups through the union
    for (tr <- Seq(8, 60)) {
      val tiledGot = Dedup.simhashPairsFromSigs(
          sigs.toSeq.toDF("doc_id", "simhash"), 3, tileRows = tr).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(tiledGot == brute, s"tileRows=$tr")
    }

    // constructed boundary: distances exactly 3 (kept) and 4 (dropped), with
    // the differing bits SPREAD so no two land in one block unless forced —
    // plus an hd-4 pair packed into one block (candidate emitted by that
    // block, must be verify-filtered)
    val base = 0x5a5a5a5aL
    val syn = Seq(
      (1L, base),
      (2L, base ^ ((1L << 0) | (1L << 9) | (1L << 18))),              // hd 3, spread over 3 blocks
      (3L, base ^ ((1L << 0) | (1L << 9) | (1L << 18) | (1L << 27))), // hd 4 from base, spread over all 4
      (4L, base ^ ((1L << 0) | (1L << 1) | (1L << 2) | (1L << 3)))    // hd 4 from base, one block
    ).toDF("doc_id", "simhash")
    val synGot = Dedup.simhashPairsFromSigs(syn, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val synBrute = (for {
      (ida, sa) <- Seq((1L, base), (2L, base ^ 0x40201L), (3L, base ^ 0x8040201L), (4L, base ^ 0xfL))
      (idb, sb) <- Seq((1L, base), (2L, base ^ 0x40201L), (3L, base ^ 0x8040201L), (4L, base ^ 0xfL))
      if ida < idb
      hd = java.lang.Long.bitCount(sa ^ sb) if hd <= 3
    } yield (ida, idb, hd)).toSet
    assert(synGot == synBrute)
    assert(synGot.contains((1L, 2L, 3)))            // boundary kept
    assert(!synGot.exists(p => p._1 == 1L && p._2 == 3L)) // hd 4 dropped
    assert(!synGot.exists(p => p._1 == 1L && p._2 == 4L)) // candidate from one block, verify drops
    assert(synGot.contains((2L, 3L, 1)))            // transitive neighbor kept
  }

  test("dupWindowCoverage: brute-force parity on corpus + planted spans") {
    val span = (1 to 12).map(i => f"planted$i%02d").mkString(" ") // 12 tokens
    val crafted = Seq(
      (9101L, s"unique aa1 bb2 $span tail cc3 dd4"),   // shares the span...
      (9102L, s"other ee5 $span ff6 gg7 hh8 ii9"),     // ...with this doc
      (9103L, ("loop once more " * 5).trim),           // within-doc repeats
      (9104L, "way too short"))                        // n < window: 0 windows
      .toDF("doc_id", "text")
    val d = docs.select("doc_id", "text").unionAll(crafted)
    val w = 10
    val got = BruteForce.dupWindowsOf(TextOps.dupWindowCoverage(d, w))
    val expected = BruteForce.dupWindows(BruteForce.rows(d), w)
    expected.foreach { case (id, exp) => assert(got(id) == exp, s"doc $id") }
    // the planted laws hold literally: the 12-token shared span yields 3
    // common 10-windows; each host doc also has windows straddling its own
    // prefix/suffix, which are unique
    assert(got(9101L)._2 == 3L && got(9102L)._2 == 3L)
    assert(got(9103L)._1 > 0 && got(9103L)._3 == 1.0) // pure loop: all dup
    assert(got(9104L) == ((0L, 0L, 0.0)))
  }

  test("repetitionSignals: brute-force parity on corpus + crafted edges") {
    // crafted edges: degenerate loop (all fracs 1.0), unique text (dup 0),
    // sub-k-gram docs (guarded denominators), filtered-away token (len 1)
    val crafted = Seq(
      (9001L, "spam spam spam spam spam"),            // 1 token repeated
      (9002L, "aa bb aa bb aa bb aa bb"),             // period-2 loop
      (9003L, "one two three four five six"),         // all unique
      (9004L, "xy"),                                  // n=1: bigram/tri 0
      (9005L, "xy zz"),                               // n=2: tri 0
      (9006L, "a a a a"),                             // len-1 tokens filter out: n=0
      (9007L, ""))                                    // empty
      .toDF("doc_id", "text")
    val d = docs.select("doc_id", "text").unionAll(crafted)
    val got = TextOps.repetitionSignals(d).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // brute force over the same analyzer tokens
    d.collect().foreach { row =>
      val id = row.getLong(0)
      val toks = graft.analyze.TextAnalyzer.tokens(row.getString(1)).toSeq
      val n = toks.length
      def grams(k: Int) = toks.sliding(k).filter(_.length == k).map(_.mkString(" ")).toSeq
      val expTok = if (n >= 1) r6(grams(1).groupBy(identity).values.map(_.size).max.toDouble / n) else 0.0
      val expBi = if (n >= 2) r6(grams(2).groupBy(identity).values.map(_.size).max.toDouble / (n - 1)) else 0.0
      val expTri = if (n >= 3) r6(grams(3).groupBy(identity).values.map(_.size).filter(_ > 1).sum.toDouble / (n - 2)) else 0.0
      assert(got(id) == ((n, expTok, expBi, expTri)), s"doc $id")
    }
    // the crafted laws hold literally
    assert(got(9001L) == ((5, 1.0, 1.0, 1.0)))
    assert(got(9002L)._3 == r6(4.0 / 7))              // "aa bb" in 4 of 7 slots
    assert(got(9003L) == ((6, r6(1.0 / 6), r6(1.0 / 5), 0.0)))
    assert(got(9004L) == ((1, 1.0, 0.0, 0.0)))
    assert(got(9005L) == ((2, 0.5, 1.0, 0.0)))
    assert(got(9006L) == ((0, 0.0, 0.0, 0.0)))
    assert(got(9007L) == ((0, 0.0, 0.0, 0.0)))
  }

  test("lmScore: brute-force parity vs a locally-trained backoff LM + crafted edges") {
    // train slice = doc_id % 10 < 3; craft ids on both sides of the split:
    // a doc IN the reference, a verbatim copy OUTSIDE it (all bigrams hit,
    // p=1), an all-OOV doc, and a 1-token doc (no bigrams)
    val crafted = Seq(
      (9202L, "zzqq1 zzqq2 zzqq3 zzqq4"), // %10=2: in the reference slice
      (9209L, "zzqq1 zzqq2 zzqq3 zzqq4"), // %10=9: scored copy of the above
      (9217L, "qqxx1 qqxx2 qqxx3"),       // tokens the reference never saw
      (9218L, "solo"))                    // 1 token: zero bigrams
      .toDF("doc_id", "text")
    val d = docs.select("doc_id", "text").unionAll(crafted)
    val train = d.where(col("doc_id") % 10 < 3)
    val got = BruteForce.lmScoresOf(TextOps.lmScore(train, d))
    // brute force: count-based Stupid-Backoff bigram LM over the same tokens
    val all = BruteForce.rows(d)
    val expected = BruteForce.lmScores(all.filter(_._1 % 10 < 3), all)
    expected.foreach { case (id, exp) => assert(got(id) == exp, s"doc $id") }
    // the crafted laws hold literally
    assert(got(9209L) == ((3L, 1.0, 0.0, 1000000L))) // reference knows every step
    assert(got(9217L) == ((2L, 0.0, 1.0, 0L))) // reference never saw any token
    assert(got(9218L) == ((0L, 0.0, 0.0, 0L)))
    // corpus sanity: the reference slice is 30% of same-generator docs, so
    // scored docs should mostly be predictable (some hits somewhere)
    assert(got.values.map(_._2).sum > 0)
  }

  test("documents->transcripts derivation: rank order == doc_id (docId invariant)") {
    val t = Transcripts.fromDocuments(spark, sf)
    val sorted = t.select("doc_id", "conv_id", "turn_idx").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val byKey = sorted.sortBy(x => (x._2, x._3)).map(_._1)
    assert(byKey.toSeq == byKey.toSeq.sorted)
  }

  // ---- round-6 compiled-kernel parity (each optimization that replaced a
  // declarative pipeline must produce bit-identical values) ----

  test("toksC / tokenSetC == the declarative token columns (corpus + edges)") {
    val edge = Seq(
      (9990L, null.asInstanceOf[String]), (9991L, ""), (9992L, "   \t\n "),
      (9993L, "A b CC d1 " + "x" * 41 + " ok 0x00 42 ZZZ___mix-9"),
      (9994L, "ONE one One оне 中文 one1")).toDF("doc_id", "text")
    val both = docs.select(col("doc_id"), col("text")).unionAll(edge)
    // the declarative column maps null text to an empty array; the compiled
    // UDFs keep null for null text and agree on every other row
    both.select(col("text").isNull.as("n"),
        TextAnalyzer.tokensCol(col("text")).as("a"), Dedup.toksC(col("text")).as("b"),
        array_sort(array_distinct(TextAnalyzer.tokensCol(col("text")))).as("c"),
        Dedup.tokenSetC(col("text")).as("d"))
      .collect().foreach { r =>
        assert(!r.isNullAt(1) && !r.isNullAt(3))
        if (r.getBoolean(0)) {
          assert(r.getSeq[String](1).isEmpty && r.isNullAt(2))
          assert(r.getSeq[String](3).isEmpty && r.isNullAt(4))
        } else {
          assert(r.getSeq[String](1) == r.getSeq[String](2))
          assert(r.getSeq[String](3) == r.getSeq[String](4))
        }
      }
  }

  test("simhashSigs compiled kernel == the declarative explode pipeline (32/60-bit)") {
    import org.apache.spark.sql.Column
    def declarative(bits: Int, h: Column => Column) = docs
      .select(col("doc_id"), explode(TextAnalyzer.tokensCol(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .withColumn("h", h(col("term")))
      .select(col("doc_id"), col("tf"), col("h"),
        explode(sequence(lit(0), lit(bits - 1))).as("b"))
      .withColumn("w", expr("CASE WHEN shiftright(h, b) & 1 = 1 THEN tf ELSE -tf END"))
      .groupBy("doc_id", "b").agg(sum("w").as("s"))
      .groupBy("doc_id")
      .agg(sum(expr(
        "CASE WHEN s > 0 THEN shiftleft(CAST(1 AS BIGINT), b) ELSE CAST(0 AS BIGINT) END"))
        .as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val narrow = Dedup.simhashSigs(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(narrow == declarative(32, Dedup.h32))
    val wide = Dedup.simhashSigs(docs, bits = 60, hexChars = 15).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wide == declarative(60, Dedup.h60))
  }

  test("minhash signature kernel == the declarative explode + 16-column min-agg") {
    // Dedup.minhash keeps the declarative per-doc pipeline; the LSH path now
    // computes the same signatures with the compiled kernel per token set
    val declarative = Dedup.minhash(docs).collect()
      .map(r => r.getLong(0) -> (0 until Dedup.NumHashes).map(j => r.getLong(1 + j))).toMap
    val viaKernel = docs
      .select(col("doc_id"), Dedup.tokenSetC(col("text")).as("ts"))
      .filter(size(col("ts")) > 0)
      .as[(Long, Array[String])]
      .map { case (id, ts) => (id, Dedup.minhashOfTerms(ts)) }
      .collect().map { case (id, mhs) => id -> mhs.toSeq }.toMap
    assert(viaKernel == declarative)
  }

  test("Hyperplanes.bucketUdf == the declarative bucketCol") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dim = emb.select(size(col("embedding"))).limit(1).collect()(0).getInt(0)
    emb.select(
        graft.ops.Hyperplanes.bucketCol(col("embedding"), Similarity.SigBits, dim).as("a"),
        graft.ops.Hyperplanes.bucketUdf(Similarity.SigBits, dim)(col("embedding")).as("b"))
      .collect().foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("cosineTopK compiled kernel matches the driver-side double fold exactly") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val q = emb(0L)
    def cosOf(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var d = 0
      while (d < a.length) {
        val x = a(d).toDouble; val y = b(d).toDouble
        dot += x * y; na += x * x; nb += y * y; d += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val got = Similarity.cosineTopK(spark, sf, 0L, 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    got.foreach { case (id, c) =>
      assert(c == BigDecimal(cosOf(emb(id), q)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        s"vec $id")
    }
  }
}
