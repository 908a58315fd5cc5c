package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Training-data deduplication operators over the `documents` table.
  *
  * Scale shapes (each reproducible in the DuckDB oracle):
  *  - exact dedup: one hash-aggregate shuffle on a 32-char key;
  *  - jaccard / minhash verify: documents are first collapsed to DISTINCT
  *    token sets (one hash-agg — identical sets are the overwhelming
  *    duplication mode in web corpora), pair work then runs over set groups
  *    and results expand back to doc pairs. Same-set pairs are emitted
  *    directly (J = 1 exactly);
  *  - exact all-pairs verification uses a cartesian-of-BLOCKS shuffle (each
  *    block ships to its B pair-groups; no broadcast, no driver collect) with
  *    a compiled merge-intersection kernel per pair. Exact all-pairs is
  *    inherently O(n^2/blocks) shuffle — the LSH band join below is the
  *    sub-quadratic candidate generator for corpora where that matters;
  *  - minhash/LSH: band-bucket self-join over set signatures — the classic
  *    sub-quadratic candidate path; its verify join is SHUFFLED (never a
  *    broadcast of the full token-set table).
  */
object Dedup {

  /** Token array of `text` as a compiled UDF over
    * [[graft.analyze.TextAnalyzer.tokens]] — the tokenizer every dedup and
    * text operator shares (OpsSpec checks it against the declarative
    * [[graft.analyze.TextAnalyzer.tokensCol]], the oracle SQL's form, on
    * the gate corpus). Null text → null. */
  val toksC: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { text: String =>
      if (text == null) null
      else graft.analyze.TextAnalyzer.tokens(text).toArray
    }

  /** Sorted DISTINCT token array as one compiled pass — the fused form of
    * `array_sort(array_distinct(toksC(text)))` (TreeSet iteration order =
    * String.compareTo = the sort order of array_sort on these ASCII
    * tokens, the same equivalence [[shingleStrings]] already relies on).
    * Null text → null like [[toksC]]. */
  val tokenSetC: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { text: String =>
      if (text == null) null
      else {
        val set = new java.util.TreeSet[String]()
        graft.analyze.TextAnalyzer.tokens(text).foreach(set.add)
        set.toArray(new Array[String](set.size))
      }
    }

  /** Exact dedup: md5 content hash; keeper = min doc_id per hash group. */
  def exact(documents: DataFrame): DataFrame = {
    val withHash = documents.select(col("doc_id"), md5(col("text")).as("h"))
    val keepers = withHash.groupBy("h")
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies"))
    withHash.join(keepers, "h")
      .select(col("doc_id"), col("h"), (col("doc_id") === col("keeper")).as("is_keeper"),
        col("n_copies"))
      .orderBy("doc_id")
  }

  /** doc_id -> sorted distinct token array (the unit of set similarity),
    * one compiled pass ([[tokenSetC]]). */
  private def tokenSets(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), tokenSetC(col("text")).as("ts"))

  /** Word n-gram (shingle) array from an ORDERED token array: position i
    * yields tokens [i, i+n) joined by a space — the unit of n-gram Jaccard,
    * which keeps local word ORDER that bag-of-tokens Jaccard discards. */
  def shingles(tokArr: Column, n: Int): Column =
    // null-safe like shingleHashes (the two are parity-tested): a null token
    // array (null text) yields an EMPTY shingle array, not null
    when(tokArr.isNull || size(tokArr) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(tokArr) - (n - 1)),
        i => array_join(slice(tokArr, i, lit(n)), " ")))

  /** Distinct-set groups: one row per distinct set, members = sorted
    * doc_ids sharing it, sid = min member (stable set key). At 100 TB this
    * grouping is ALSO the exact-set dedup: J=1 groups collapse before any
    * pair work. (A group whose member list is itself huge means quadratic
    * OUTPUT — real pipelines emit a group representative instead; these
    * operators keep the full pair expansion because the oracle demands it.)
    * Input: (doc_id, ts) rows from tokenSets/shingleSets. */
  private def setGroupsOf(sets: DataFrame): DataFrame =
    sets
      // set-less docs are OUT of the similarity domain (J = 0/0 undefined;
      // the oracle's tok CTE never produces them) — without this filter all
      // empty-set docs would collapse into one group and pair up at J=1.0
      .filter(size(col("ts")) > 0)
      .groupBy("ts")
      .agg(sort_array(collect_list(col("doc_id"))).as("members"))
      .withColumn("sid", element_at(col("members"), 1))

  private def setGroups(documents: DataFrame): DataFrame =
    setGroupsOf(tokenSets(documents))

  /** All within-group doc pairs (identical sets, J exactly 1.0). */
  private def sameSetPairs(groups: DataFrame): DataFrame = {
    val spark = groups.sparkSession
    import spark.implicits._
    groups.select(col("members")).as[Array[Long]]
      .filter(m => m.length > 1)
      .flatMap { m =>
        for { i <- m.indices.iterator; j <- (i + 1) until m.length }
          yield (m(i), m(j), 1.0)
      }
      .toDF("a", "b", "j")
  }

  /** Jaccard of two SORTED string arrays — merge intersection; integer
    * counts, double division, same value the oracle's
    * len(list_intersect)/len(list_distinct(list_concat)) produces. */
  def jaccardOf(a: Array[String], b: Array[String]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      val c = a(i).compareTo(b(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 1.0 else inter.toDouble / union.toDouble
  }

  /** Floor for the all-pairs block count (pair-groups = B*(B+1)/2). */
  private[graft] val DefaultPairBlocks = 16

  /** Per-task buffer budget for the pair kernels, in rows: each pair-group
    * task holds ONE block in memory (the other side streams), so the task
    * heap is bounded by TargetRowsPerBlock rows regardless of corpus size. */
  private[graft] val TargetRowsPerBlock = 1L << 14

  /** Pair-group ids are i*B+j in an Int, so B² must stay <= Int.MaxValue;
    * beyond this (≈7.6e8 rows) blocks silently exceed TargetRowsPerBlock —
    * and the exact all-pairs operators are far outside their documented
    * ~1e8-row domain anyway (use the sub-quadratic members). */
  private[graft] val MaxPairBlocks = 46340

  /** Blocks so that a block ≈ TargetRowsPerBlock rows: B = ceil(n/target),
    * floored at DefaultPairBlocks, capped at MaxPairBlocks (id overflow).
    * Shuffle volume is B×n (replication factor B) — the unavoidable
    * O(n²/target) cost of EXACT all-pairs, spread over B² independent
    * tasks; past ~10⁸ rows that is the signal to switch to the
    * sub-quadratic members (minhashLsh / embedDupPairsAnn). */
  private[graft] def pairBlocksFor(rows: Long, floor: Int = DefaultPairBlocks): Int =
    math.min(MaxPairBlocks,
      math.max(floor, math.ceil(rows.toDouble / TargetRowsPerBlock).toInt))

  /** Routing blocks for the candidate-driven verify: B such that the
    * B(B+1)/2 pair-groups hold ≈ TargetRowsPerBlock CANDIDATES each, i.e.
    * B ≈ sqrt(2·candidates/target). Square-root, NOT pairBlocksFor's linear
    * rule: candidates are assigned to ONE pair-group each (the work scales
    * with groups ≈ B²), while each SET replicates to every distinct group
    * holding one of its candidates — replication grows with B, so B must
    * grow as slowly as the parallelism target allows (measured: deriving B
    * linearly gave B=2419 on a 39.6M-candidate corpus and the routing join
    * shipped tens of millions of array copies — 6× the whole operator). */
  private[graft] def routingBlocksFor(candidates: Long): Int =
    math.min(MaxPairBlocks, math.max(DefaultPairBlocks,
      math.ceil(math.sqrt(2.0 * candidates / TargetRowsPerBlock)).toInt))

  /** Exact token-set Jaccard near-dup pairs — the brute-force member of the
    * family, kept exact but made distributed:
    *   1. collapse to distinct-set groups (hash-agg shuffle);
    *   2. all SET pairs via cartesian-of-blocks: every set row ships to its
    *      B pair-groups (one shuffle, volume B x data, NO broadcast), a
    *      merge-intersection kernel scores each pair;
    *   3. qualifying set pairs expand to member cross-products; same-set
    *      pairs append with J = 1.
    * Token-join candidate generation (prefix filter) is deliberately NOT used
    * here: it is sub-quadratic only when token df is small relative to n, and
    * the exact operator must hold its worst case. minhashLsh below is the
    * sub-quadratic approximate path.
    */
  def jaccardPairs(documents: DataFrame, threshold: Double,
                   blocks: Option[Int] = None): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    exactPairsOfSets[Array[String]](tokenSets(documents), threshold, blocks, jaccardOf,
      _.length)
  }

  /** Word-n-gram (shingle) Jaccard near-dup pairs — exact up to 64-bit
    * fingerprint collisions (J is computed over xxhash64 shingle
    * fingerprints, not the shingle strings; collision odds quantified
    * below — callers needing strict string-set exactness should verify the
    * qualifying pairs with shingleStrings + jaccardOf).
    *
    * The ORDER-AWARE member of the dedup family: two docs using the same
    * vocabulary in a different sequence score low where bag-of-tokens
    * Jaccard scores 1.0. Same
    * distributed shape as jaccardPairs (distinct-set collapse +
    * cartesian-of-blocks) — but shingles are FINGERPRINTED to 64-bit
    * (xxhash64) before the kernel: J over fingerprint sets equals J over
    * shingle sets absent a 64-bit collision (expected colliding shingle
    * pairs ≈ S²/2⁶⁵ for S distinct shingles corpus-wide — ~10⁻⁸ at 10⁶,
    * and a collision only shifts a J if both colliding shingles meet in one
    * compared pair), and the merge-intersection runs on primitive longs
    * instead of ~20-char strings (measured 19.2 s → ~4 s at sf0.1). */
  def ngramJaccardPairs(documents: DataFrame, n: Int, threshold: Double,
                        blocks: Option[Int] = None): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val sets = documents.select(col("doc_id"),
      shingleHashes(n)(toksC(col("text"))).as("ts"))
    exactPairsOfSets[Array[Long]](sets, threshold, blocks, jaccardOfLongs, _.length)
  }

  /** Sorted distinct 64-bit shingle fingerprints as a COMPILED UDF. Value-
    * identical to the declarative
    * `array_sort(array_distinct(transform(shingles(toks, n), xxhash64)))`
    * (OpsSpec asserts the parity; XXH64.hashUTF8String with seed 42 IS the
    * xxhash64 column function) — but Spark evaluates higher-order-function
    * lambdas INTERPRETED, which made shingle construction dominate the whole
    * operator (12.6 s of 19 s at sf0.1); the compiled loop is ~milliseconds. */
  private[graft] def shingleHashes(n: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { toks: Seq[String] =>
      val set = new java.util.TreeSet[java.lang.Long]()
      foreachShingle(toks, n) { s =>
        val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
        set.add(org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(u, 42L))
      }
      val out = new Array[Long](set.size)
      val it = set.iterator(); var j = 0
      while (it.hasNext) { out(j) = it.next(); j += 1 }
      out
    }

  /** Every sliding window as a 64-bit xxhash64 fingerprint, one per
    * position (NOT distinct, unlike [[shingleHashes]] — substring dedup
    * counts occurrences, so a within-doc repeat matters). Consumed by
    * [[TextOps.dupWindowCoverage]] and [[TextOps.lmScore]]. */
  private[graft] def windowHashes(n: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { toks: Seq[String] =>
      val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
      foreachShingle(toks, n) { s =>
        val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
        buf += org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(u, 42L)
      }
      buf.toArray
    }

  /** Every bigram position as the triple (xxh64(prev+" "+cur), xxh64(prev),
    * xxh64(cur)) — the aligned fingerprints [[TextOps.lmScore]] needs to
    * join the bigram AND both unigram count tables from one explode (a
    * fingerprint is not splittable, so the triple ships all three). Seed 42 = the
    * xxhash64 column function, so the keys match hashes of the train-side
    * strings; each token hashes once, not once per bigram. */
  private[graft] val bigramHashTriples
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { toks: Seq[String] =>
      import org.apache.spark.sql.catalyst.expressions.XXH64
      import org.apache.spark.unsafe.types.UTF8String
      if (toks == null || toks.length < 2) Array.empty[(Long, Long, Long)]
      else {
        val th = toks.map(t => XXH64.hashUTF8String(UTF8String.fromString(t), 42L)).toArray
        Array.tabulate(toks.length - 1) { i =>
          val b = UTF8String.fromString(toks(i) + " " + toks(i + 1))
          (XXH64.hashUTF8String(b, 42L), th(i), th(i + 1))
        }
      }
    }

  /** The one shingle-construction loop (null-safe sliding window, space
    * join) shared by the fingerprint and string UDFs — shingle semantics
    * must never diverge between the exact and LSH members. */
  private def foreachShingle(toksOrNull: Seq[String], n: Int)(f: String => Unit): Unit = {
    if (toksOrNull == null) return
    val toks = toksOrNull
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + n <= toks.length) {
      sb.setLength(0)
      var k = 0
      while (k < n) { if (k > 0) sb.append(' '); sb.append(toks(i + k)); k += 1 }
      f(sb.toString)
      i += 1
    }
  }

  /** Jaccard of two SORTED long arrays (fingerprinted shingles) — same
    * merge-intersection as jaccardOf, on primitives. */
  def jaccardOfLongs(a: Array[Long], b: Array[Long]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 1.0 else inter.toDouble / union.toDouble
  }

  private def exactPairsOfSets[S](setsDf: DataFrame, threshold: Double,
                                  blocks: Option[Int], jac: (S, S) => Double,
                                  lenOf: S => Int)(
      implicit tagEnc: org.apache.spark.sql.Encoder[(Int, Int, S, Array[Long])],
      setEnc: org.apache.spark.sql.Encoder[(S, Array[Long])]): DataFrame = {
    val spark = setsDf.sparkSession
    import spark.implicits._
    // B from input size (results are B-invariant — OpsSpec asserts it): one
    // cheap columnless count; at 100 TB this is parquet-footer arithmetic.
    // Explicit blocks must honor the same Int-id bound pairBlocksFor enforces
    val B = blocks.getOrElse(pairBlocksFor(setsDf.count()))
    require(B >= 1 && B <= MaxPairBlocks,
      s"pair blocks must be in [1, $MaxPairBlocks] (pair-group id i*B+j is an Int), got $B")
    val groups = setGroupsOf(setsDf)
    val sets: Dataset[(S, Array[Long])] =
      groups.select(col("ts"), col("members")).as[(S, Array[Long])]

    val tagged = sets.flatMap { case (ts, members) =>
      val blk = (members(0) % B).toInt
      (0 until B).iterator.map { o =>
        val i = math.min(blk, o); val j = math.max(blk, o)
        (i * B + j, blk, ts, members)
      }
    }
    val thr = threshold
    val crossPairs = tagged
      .groupByKey(_._1)
      // rows arrive sorted by block id: an off-diagonal pair-group BUFFERS
      // only block i (≈ TargetRowsPerBlock rows — the per-task memory bound)
      // and STREAMS block j against it; a diagonal group holds its one block
      .flatMapSortedGroups($"_2") { (pid: Int, it: Iterator[(Int, Int, S, Array[Long])]) =>
        val i = pid / B
        def pairsOf(x: (S, Array[Long]), y: (S, Array[Long])): Iterator[(Long, Long, Double)] = {
          // size bound (the AllPairs filter jaccardPairsPrefix applies
          // declaratively): J = |∩|/|∪| ≤ min(|x|,|y|)/max(|x|,|y|), so a
          // size-mismatched pair can never reach the threshold — an O(1)
          // reject that skips the O(len) merge for most of the cartesian.
          // 1e-9 slack guards the FP product like the prefix filter; any
          // false keep is re-filtered by the exact jv < thr check below.
          val lx = lenOf(x._1); val ly = lenOf(y._1)
          if (math.min(lx, ly) < thr * math.max(lx, ly) - 1e-9) return Iterator.empty
          val jv = jac(x._1, y._1)
          if (jv < thr) Iterator.empty
          else for { da <- x._2.iterator; db <- y._2.iterator }
            yield (math.min(da, db), math.max(da, db), jv)
        }
        if (i == pid % B) { // diagonal (i == j): within-block pairs
          val xs = it.map { case (_, _, ts, m) => (ts, m) }.toArray
          xs.indices.iterator.flatMap { p =>
            (p + 1 until xs.length).iterator.flatMap(q => pairsOf(xs(p), xs(q)))
          }
        } else {
          val buf = scala.collection.mutable.ArrayBuffer[(S, Array[Long])]()
          val bi = it.buffered
          while (bi.hasNext && bi.head._2 == i) { val r = bi.next(); buf += ((r._3, r._4)) }
          bi.flatMap { case (_, _, ts, m) => buf.iterator.flatMap(x => pairsOf(x, (ts, m))) }
        }
      }
      .toDF("a", "b", "j")

    crossPairs.unionAll(sameSetPairs(groups))
      .select(col("a"), col("b"), round(col("j"), 6).as("j"))
      .orderBy("a", "b")
  }

  /** Candidate-driven exact-Jaccard verification, shared by minhashLsh and
    * jaccardPairsPrefix: candidates (sa, sb) route to block pair-groups; a
    * tiny (sid, pid) table joins the set table (planner-chosen broadcast) so
    * ONLY candidate members' token arrays ship; a cogroup scores J with the
    * merge-intersection kernel and expands qualifying set pairs to member
    * cross-products. Shuffle volume and per-task memory scale with
    * candidates, not corpus — including the routing fan-out: B is derived
    * from the CANDIDATE count (the fixed B = 16 through round 3 capped
    * verify at 136 pair-groups and made each task's bySid map hold
    * ~candidates/136 sets; at 10⁸ candidates that is both a parallelism
    * floor and a per-task memory ceiling).
    *
    * `groups` holds (sid, ts, members) with ts a sorted string set; `cand0`
    * holds (sa, sb) set-id pairs. `blocks` overrides B for the
    * routing-invariance spec only. private[graft]: SignatureStore routes
    * its store-backed candidates through the same cogroup. */
  private[graft] def verifyCandidatePairs(groups: DataFrame, cand0: DataFrame,
                                          threshold: Double,
                                          blocks: Option[Int] = None): DataFrame = {
    val spark = groups.sparkSession
    import spark.implicits._
    // The candidate frame is consumed three times (count → routing-B, the
    // (sid, pid) routing table, the scoring rows). A LAZY localCheckpoint +
    // the count() right below materializes it exactly once IN the count job
    // (eager ran a separate materialization job first — one extra Spark job
    // per verify call for the same guarantee). The count runs even when
    // `blocks` fixes B, so every later consumer reads the same stored rows
    // and correctness never depends on the caller's candidate plan being
    // deterministic (a sample/limit-derived frame is fine). The blocks are
    // freed by Spark's ContextCleaner when the result frame becomes
    // unreachable — no global eviction slot, no cross-call interference, no
    // unbounded accumulation. Footprint is two longs per candidate.
    val cand = cand0.localCheckpoint(false)
    val nCand = cand.count()
    val B = blocks.getOrElse(routingBlocksFor(nCand))
    require(B >= 1 && B <= MaxPairBlocks, s"routing blocks out of range: $B")
    def pidOf(sa: Long, sb: Long): Int = {
      val i = (sa % B).toInt; val j = (sb % B).toInt
      math.min(i, j) * B + math.max(i, j)
    }
    val sidPid = cand.as[(Long, Long)]
      .flatMap { case (sa, sb) => val p = pidOf(sa, sb); Iterator((sa, p), (sb, p)) }
      .toDF("sid", "pid").distinct()
    val setsTagged = groups.join(sidPid, "sid")
      .select(col("pid"), col("ts"), col("members"))
      .as[(Int, Array[String], Array[Long])]
    val candTagged = cand.as[(Long, Long)].map { case (sa, sb) => (pidOf(sa, sb), sa, sb) }
    val thr = threshold
    setsTagged.groupByKey(_._1)
      .cogroup(candTagged.groupByKey(_._1)) { (pid, setsIt, candIt) =>
        val bySid = scala.collection.mutable.HashMap[Long, (Array[String], Array[Long])]()
        setsIt.foreach { case (_, ts, m) => bySid(m(0)) = (ts, m) }
        def setOf(sid: Long): (Array[String], Array[Long]) =
          bySid.getOrElse(sid, throw new IllegalStateException(
            s"verify routing invariant broken: set $sid absent from pair-group $pid " +
              s"(B=$B) — candidate generation and routing disagree"))
        candIt.flatMap { case (_, sa, sb) =>
          val (tsa, ma) = setOf(sa)
          val (tsb, mb) = setOf(sb)
          val jv = jaccardOf(tsa, tsb)
          if (jv < thr) Iterator.empty
          else for { da <- ma.iterator; db <- mb.iterator }
            yield (math.min(da, db), math.max(da, db), jv)
        }
      }
      .toDF("a", "b", "j")
  }

  /** Exact Jaccard pairs via PREFIX FILTERING — the standard sub-quadratic
    * EXACT member of the family (AllPairs/SSJoin lineage), complementing the
    * block-exact jaccardPairs (worst-case-safe) and minhashLsh (approximate):
    *   1. collapse to distinct-set groups;
    *   2. global token order = (set-level df ASC, term): rare tokens sort
    *      first, so prefixes are built from rare tokens and the candidate
    *      join stays small;
    *   3. a set of size L contributes its first L - ceil(t·L) + 1 tokens as
    *      its PREFIX; for any pair with J >= t the smallest common token
    *      (in the global order) lies in BOTH prefixes (pigeonhole: a set
    *      whose whole prefix misses the intersection has at most
    *      ceil(t·L) - 1 < t·L <= |intersection| common tokens), so the
    *      prefix-token equi-self-join loses nothing — EXACT recall;
    *   4. verify + expand via the shared candidate-driven cogroup.
    * Candidate volume = Σ over prefix tokens of df² — sub-quadratic whenever
    * df ≪ n; degenerate only when the corpus is one near-identical blob, in
    * which case the OUTPUT itself is quadratic. */
  def jaccardPairsPrefix(documents: DataFrame, threshold: Double): DataFrame = {
    val spark = documents.sparkSession
    // pinned for the same cross-execution reason as lshPairsOfGroups: the
    // prefix/candidate chain (plan-time verify materialization) and the
    // run query's verify join + sameSetPairs would otherwise each re-run
    // the tokenize + groupBy(ts) aggregation
    val groups = setGroups(documents).localCheckpoint(false)
    val tok = groups.select(col("sid"), explode(col("ts")).as("term"))
    val dfT = tok.groupBy("term").agg(count(lit(1)).as("df"))
    // prefix per set, sorted by (df, term); the 1e-9 slack keeps a binary-FP
    // ceil(0.95*20)=20 from shortening a prefix whose true t·L is integral
    // (shorter prefix = possible missed pair; longer = extra candidate only)
    val pref = tok.join(dfT, "term")
      .groupBy("sid")
      .agg(sort_array(collect_list(struct(col("df"), col("term")))).as("dts"))
      .withColumn("len", size(col("dts")))
      .withColumn("plen",
        (col("len") + lit(1) - ceil(lit(threshold) * col("len") - lit(1e-9))).cast("int"))
      .select(col("sid"), col("len"),
        posexplode(slice(col("dts"), lit(1), col("plen"))).as(Seq("pos", "dt")))
      .select(col("sid"), col("len"), col("pos"), col("dt.term").as("term"))
    // size filter (standard AllPairs companion): J >= t forces
    // t·|x| <= |y| (and symmetrically), since |intersection| <= min and
    // union >= max — prunes size-mismatched candidates before the distinct.
    // positional filter (PPJoin): J >= t also forces overlap
    // o >= t/(1+t)·(|x|+|y|). For the pair's FIRST common token, matching
    // at 0-based full-list positions (px, py), everything before px/py is
    // non-common, so o <= 1 + min(|x|-px-1, |y|-py-1). Applying the bound
    // per join match is exact: a qualifying pair always survives through
    // its first-common-token row (where the bound >= o >= needed overlap);
    // deeper matches may prune, which only removes duplicate candidates
    val overlapNeeded = lit(threshold / (1 + threshold)) *
      (col("x.len") + col("y.len")) - lit(1e-9)
    val cand = pref.as("x").join(pref.as("y"),
        col("x.term") === col("y.term") && col("x.sid") < col("y.sid") &&
        col("y.len") >= lit(threshold) * col("x.len") - lit(1e-9) &&
        col("x.len") >= lit(threshold) * col("y.len") - lit(1e-9) &&
        (lit(1) + least(col("x.len") - col("x.pos") - 1,
                        col("y.len") - col("y.pos") - 1)) >= overlapNeeded)
      .select(col("x.sid").as("sa"), col("y.sid").as("sb"))
      .distinct()
    verifyCandidatePairs(groups, cand, threshold)
      .unionAll(sameSetPairs(groups))
      .select(col("a"), col("b"), round(col("j"), 6).as("j"))
      .orderBy("a", "b")
  }

  /** Benchmark decontamination — flag training documents sharing any word
    * n-gram with an evaluation/benchmark corpus (the standard pre-training
    * hygiene pass: eval questions leaking into training data inflate
    * benchmark scores). Returns (doc_id, n_hits, contaminated) for every
    * training doc, where n_hits = number of DISTINCT n-grams shared with
    * the benchmark.
    *
    * Scale shape: both sides explode to distinct n-gram shingle rows; the
    * benchmark side is the small one (eval sets are thousands of docs), so
    * the shingle equi-join broadcasts it when the planner sees fit; the
    * aggregation is one hash-agg on doc_id. Shingles join as 64-bit
    * xxhash64 FINGERPRINTS ([[shingleHashes]]), not strings: a 5-gram
    * shingle string averages ~30 UTF-8 bytes, its fingerprint is 8.
    *
    * Collision bound: the output equals the string-shingle count unless two
    * distinct shingles share a fingerprint. For S distinct shingles across
    * both corpora the expected number of colliding pairs is ≈ S²/2⁶⁵
    * (~3·10⁻⁸ at S = 10⁶); a collision can move n_hits by one for the docs
    * holding those shingles. The DuckDB oracle compares string shingles,
    * and the gate matches it at sf0.01 and sf0.1. */
  def decontaminate(training: DataFrame, benchmark: DataFrame, n: Int): DataFrame = {
    def shingleRows(df: DataFrame): DataFrame =
      df.select(col("doc_id"), explode(shingleHashes(n)(toksC(col("text")))).as("sh"))
    val benchShingles = shingleRows(benchmark).select(col("sh")).distinct()
    val hits = shingleRows(training)
      .join(benchShingles, "sh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    training.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
      .orderBy("doc_id")
  }

  val MinhashP = 2147483647L // 2^31 - 1
  val NumHashes = 16
  val BandRows = 4 // 4 bands x 4 rows

  /** 28-bit integer hash of a term via md5 prefix — chosen because the exact
    * same value is computable in DuckDB (CAST('0x'||substr(md5(t),1,7) AS
    * BIGINT)), keeping the oracle bit-identical. */
  def h32(c: Column): Column = conv(substring(md5(c), 1, 7), 16, 10).cast("long")

  /** 60-bit md5-derived term hash (15 hex chars — stays inside a signed
    * long). The [[h32]] twin for the wide simhash family: h32's 7 hex chars
    * are only 28 bits, so "32-bit" signature bits 28-31 are identically
    * zero — harmless for signature EQUALITY (dedup_simhash), but it
    * degrades the near-dup block join's key balance (the top block spans
    * the dead bits; the sf0.1 gate corpus packs it into 16 distinct
    * values). */
  def h60(c: Column): Column = conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  def hashA(j: Int): Long = (1664525L * (j + 1) + 1013904223L) % MinhashP
  def hashB(j: Int): Long = (22695477L * (j + 1) + 12345L) % MinhashP

  private val AffineA: Array[Long] = Array.tabulate(NumHashes)(hashA)
  private val AffineB: Array[Long] = Array.tabulate(NumHashes)(hashB)

  /** Per-thread MD5 instance for the compiled hash kernels (object field on
    * a Scala object — never serialized; each executor thread initializes its
    * own). */
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First `hexChars` hex chars of md5(s), parsed base 16 — the compiled
    * twin of [[h32]] (hexChars = 7) and [[h60]] (hexChars = 15): the hex
    * prefix of the digest IS its high bits, so the value is identical by
    * construction (TextOps.fingerprint has used the 7-char form since
    * round 3; OpsSpec asserts column parity). */
  private[graft] def md5PrefixOf(md: java.security.MessageDigest, s: String,
                                 hexChars: Int): Long = {
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < hexChars) {
      val b = d(i >> 1) & 0xff
      h = (h << 4) | (if ((i & 1) == 0) b >> 4 else b & 0xf)
      i += 1
    }
    h
  }

  /** The 16 affine minhashes of a term-hash stream — the compiled twin of
    * the former explode + `min((h*hashA(j)+hashB(j)) % MinhashP)` 16-column
    * aggregation: identical Long arithmetic (h < 2³¹ and A,B < 2³¹ keep the
    * products < 2⁶², overflow-free), identical minima, but computed IN
    * PLACE per set row — no token explode, no second shuffle (guide §2.4:
    * remove shuffles outright). */
  private def affineMins(hs: Iterator[Long]): Array[Long] = {
    val mins = Array.fill(NumHashes)(Long.MaxValue)
    while (hs.hasNext) {
      val h = hs.next()
      var j = 0
      while (j < NumHashes) {
        val v = (h * AffineA(j) + AffineB(j)) % MinhashP
        if (v < mins(j)) mins(j) = v
        j += 1
      }
    }
    mins
  }

  /** Minhash signature of a sorted distinct TERM array (md5-28-bit term
    * hashes, the [[h32]] family) — shared by the in-memory LSH pipeline and
    * [[SignatureStore.append]] so persisted and recomputed signatures can
    * never diverge. */
  private[graft] def minhashOfTerms(ts: Array[String]): Array[Long] = {
    val md = md5Local.get()
    affineMins(ts.iterator.map(t => md5PrefixOf(md, t, 7)))
  }

  /** MinHash signatures over distinct tokens: doc_id, mh0..mh15 (per doc —
    * used by specs; the LSH pipeline below computes the same signatures once
    * per distinct SET instead). */
  def minhash(documents: DataFrame): DataFrame = {
    val tok = documents
      .select(col("doc_id"),
        explode(array_distinct(graft.analyze.TextAnalyzer.tokensCol(col("text")))).as("term"))
      .withColumn("h", h32(col("term")))
    val hashes = (0 until NumHashes).map { j =>
      min((col("h") * hashA(j) + hashB(j)) % MinhashP).as(s"mh$j")
    }
    tok.groupBy("doc_id").agg(hashes.head, hashes.tail: _*)
  }

  /** LSH near-dup pairs — the sub-quadratic 100 TB path:
    *   1. collapse to distinct-set groups; signatures are a function of the
    *      token SET, so minhash/banding runs once per distinct set;
    *   2. band-bucket self-join on (band, band-signature slice) generates
    *      candidate SET pairs (skew bounded: band signatures are
    *      near-uniform). Each pair is emitted from its FIRST colliding band
    *      only (full signatures ride along; a post-join predicate keeps
    *      band == min matching band) — unique candidates with NO distinct
    *      shuffle over the candidate set;
    *   3. verify is CANDIDATE-DRIVEN: a tiny (sid, pair-group) routing table
    *      derived from the candidates joins the set table (planner-chosen —
    *      broadcast when small), so only candidate members' arrays ship, to
    *      exactly the pair-groups holding their candidates; a cogroup scores
    *      J with the compiled merge-intersection kernel (the Catalyst
    *      array_intersect/array_union pair builds hash sets per row — ~10x
    *      slower on short sorted arrays);
    *   4. qualifying set pairs expand to member cross-products in the same
    *      kernel pass; same-set pairs (identical signatures, trivially
    *      candidates) append with J = 1.
    */
  def minhashLsh(documents: DataFrame, threshold: Double): DataFrame =
    minhashLshOfGroups(setGroups(documents), threshold)

  /** Incremental near-dup detection — the daily-ingest shape: emit pairs
    * (a, b) with J >= threshold that INVOLVE a fresh document
    * (doc_id >= freshFrom). This engine assigns docIds in epoch order
    * (daily indexes, T5), so "the new batch" is a docId suffix, and since
    * a < b in every emitted pair, "involves fresh" is exactly
    * b >= freshFrom. Output equals
    * `minhashLsh(docs, t).filter(b >= freshFrom)` (OpsSpec asserts it) but
    * the CANDIDATE self-join and the exact-J verify — the scale-dominant
    * stages — only touch pairs with a fresh side; corpus-internal pairs
    * among already-deduplicated documents are neither generated nor
    * re-verified. Signatures still compute over the full corpus here (a
    * production deployment persists the signature/band table between daily
    * runs; the operator stays self-contained for the oracle). */
  def minhashLshIncremental(documents: DataFrame, freshFrom: Long,
                            threshold: Double): DataFrame =
    finishPairs(lshPairsOfGroups(setGroups(documents), threshold, freshFrom))

  /** Shingle-based MinHash-LSH — the classic shingle→minhash→band pipeline:
    * the ORDER-AWARE near-dup family member that is also sub-quadratic
    * (ngramJaccardPairs is exact but O(n²) by contract; token minhashLsh is
    * sub-quadratic but order-blind). Signatures and verify both run over
    * word-n-gram shingle STRINGS so the DuckDB oracle reproduces the
    * candidate set and J values bit-identically. */
  def ngramMinhashLsh(documents: DataFrame, n: Int, threshold: Double): DataFrame = {
    val sets = documents.select(col("doc_id"),
      shingleStrings(n)(toksC(col("text"))).as("ts"))
    minhashLshOfGroups(setGroupsOf(sets), threshold)
  }

  /** Sorted distinct shingle strings as a compiled UDF (same loop as
    * shingleHashes without the fingerprint step — the declarative
    * higher-order-function form evaluates interpreted and dominates the
    * operator; see shingleHashes). TreeSet order = String.compareTo, the
    * same order jaccardOf's merge expects. */
  private[graft] def shingleStrings(n: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { toks: Seq[String] =>
      val set = new java.util.TreeSet[String]()
      foreachShingle(toks, n)(set.add(_))
      set.toArray(new Array[String](set.size))
    }

  private def minhashLshOfGroups(groups: DataFrame, threshold: Double): DataFrame =
    finishPairs(lshPairsOfGroups(groups, threshold))

  /** Gate presentation tail shared by the pair operators: 6-dp rounding +
    * deterministic order. Kept OUT of the raw pipelines so graph consumers
    * ([[keepers]]) that only need the (a, b) edge set skip the global sort
    * (guide §2.4: an `orderBy` used only to make output deterministic is a
    * removable exchange for consumers that don't need it). */
  private def finishPairs(pairs: DataFrame): DataFrame =
    pairs
      .select(col("a"), col("b"), round(col("j"), 6).as("j"))
      .orderBy("a", "b")

  /** The band pipeline behind minhashLsh/ngramMinhashLsh/keepers over
    * sorted string sets: [[minhashOfTerms]] computes the 16-minhash
    * signature of one set IN PLACE (compiled kernel — the former explode +
    * 16-column min-agg paid a full token explode and a second shuffle for
    * the same values, see [[affineMins]]); [[jaccardOf]] verifies.
    * Returns RAW (a, b, j) pairs — callers apply [[finishPairs]]. */
  private def lshPairsOfGroups(groups: DataFrame, threshold: Double,
                               freshFrom: Long = Long.MinValue): DataFrame = {
    val spark = groups.sparkSession
    import spark.implicits._
    val incremental = freshFrom != Long.MinValue
    // PIN the set-group table (lazy localCheckpoint, materialized by the
    // verify's candidate job): it is consumed by the signature map here AND
    // by the verify join + sameSetPairs in the later run query, and
    // ReusedExchange only deduplicates within ONE query execution — across
    // the plan-time candidate materialization and the run, the unpinned
    // tokenize + groupBy(ts) aggregation executed twice per call (a second
    // full corpus pass at scale; SignatureStore persists exactly this table
    // for the same reason). Also makes the incremental band join's
    // fresh-filtered y side a cheap block re-scan, so no separate signature
    // pin is needed.
    val g = groups.localCheckpoint(false)
    // signature + fresh flag in ONE narrow pass over the group rows: no
    // token explode, no groupBy(sid) re-shuffle, no separate fresh join
    // (members are sorted ascending — last = max member). The fresh column
    // is constant-true when not incremental and simply unused.
    val ff = freshFrom
    val mh = g.select(col("sid"), col("ts"), col("members"))
      .as[(Long, Array[String], Array[Long])]
      .map { case (sid, ts, members) => (sid, minhashOfTerms(ts), members.last >= ff) }
      .toDF("sid", "mhs", "fresh")
    val cand = bandCandidates(mh, incremental)

    // CANDIDATE-DRIVEN block-local verify (shared verifyCandidatePairs):
    // only sets that actually appear in a candidate pair ship to the
    // cogroup, routed to exactly the pair-groups where their candidates
    // live — verify shuffle volume AND per-task memory scale with
    // candidates, not corpus (the round-2 shape flatMapped the ENTIRE set
    // table to all B pair-groups: 16× the corpus of dead weight at a high
    // threshold where candidates are rare). Joining the array columns onto
    // candidate ROWS instead (round-1 shape) deserializes the arrays once
    // PER PAIR — measured 7× slower.
    val pairs = verifyCandidatePairs(g, cand, threshold)
      .unionAll(sameSetPairs(g))
    // incremental semantic filter: a fresh-flagged GROUP may still expand to
    // stale×stale member pairs (the flag is any-member-fresh), and same-set
    // pairs are unflagged — a<b makes "involves a fresh doc" exactly
    // b >= freshFrom
    if (incremental) pairs.filter(col("b") >= lit(freshFrom)) else pairs
  }

  /** Band-bucket candidate self-join over a signature frame (sid LONG,
    * mhs ARRAY<LONG>[, fresh BOOLEAN]): each pair emitted from its FIRST
    * colliding band only (unique candidates, no distinct shuffle); join key
    * is a 64-bit hash of the band slice — long compares beat array compares
    * in the self-join, and exactness is restored by the firstBand filter,
    * which compares the REAL slices (a hash collision with unequal slices
    * yields firstBand != band and the row drops). With `withFresh`, only
    * pairs with a fresh side survive. Shared by the in-memory LSH pipeline
    * and SignatureStore's persisted-signature path.
    *
    * `rightFreshOnly` (doc-level callers ONLY): restrict the y side of the
    * self-join to FRESH rows — valid when sid IS the doc id and the output
    * contract keeps pairs with the LARGER id fresh (epoch-ordered suffix:
    * b fresh ⟺ pair touches fresh), so the join shrinks from all×all to
    * all×fresh. NOT valid at set-group level, where sid = min member and a
    * small-sid group can still hold a fresh member. */
  private[graft] def bandCandidates(mh: DataFrame, withFresh: Boolean,
                                    rightFreshOnly: Boolean = false): DataFrame = {
    val numBands = NumHashes / BandRows
    def bandSlice(side: String, b: Int) =
      slice(col(s"$side.mhs"), b * BandRows + 1, BandRows)
    val bandCols = Seq(col("sid"), col("mhs")) ++
      (if (withFresh) Seq(col("fresh")) else Nil)
    // all band keys from ONE projection + posexplode (band = pos) instead of
    // a numBands-way union of the signature subtree: one plan subtree means
    // the upstream signature computation appears once per join side and the
    // (band, sigh) exchange is identical on both sides, so ReusedExchange
    // computes it exactly once in the self-join
    val bands = mh.select(bandCols :+ posexplode(array((0 until numBands).map(b =>
        xxhash64(slice(col("mhs"), b * BandRows + 1, BandRows))): _*))
        .as(Seq("band", "sigh")): _*)
    val firstBand = coalesce(
      (0 until numBands).map(b => when(bandSlice("x", b) === bandSlice("y", b), lit(b))): _*)
    val joinCond0 = col("x.band") === col("y.band") && col("x.sigh") === col("y.sigh") &&
      col("x.sid") < col("y.sid")
    val right = if (rightFreshOnly) bands.filter(col("fresh")) else bands
    val joinCond =
      if (withFresh && !rightFreshOnly) joinCond0 && (col("x.fresh") || col("y.fresh"))
      else joinCond0
    bands.as("x").join(right.as("y"), joinCond)
      .filter(col("x.band") === firstBand)
      .select(col("x.sid").as("sa"), col("y.sid").as("sb"))
  }

  /** Connected components over an undirected near-dup pair graph
    * (columns a, b; a < b): returns (v, lbl) where lbl = MIN vertex id
    * reachable from v — the deterministic component representative.
    *
    * Algorithm: iterative min-label propagation with POINTER JUMPING
    * (lbl := lbl(lbl) each round), so convergence is O(log diameter)
    * joins instead of O(diameter) — near-dup clusters are usually
    * star-shaped (tiny diameter) but a chain of pairwise-similar docs
    * (a~b~c~… with a!~c) degrades plain propagation to its length; the
    * jump keeps even that worst case logarithmic. Every step is a
    * key-partitioned join/agg on vertex ids — no broadcast of the vertex
    * set, no driver-side graph — so the shape survives a 100 TB pair
    * graph; per-iteration lineage is cut with an eager localCheckpoint
    * (the classic iterative-DataFrame plan-blowup fix). Deterministic:
    * min-aggregations of vertex ids only.
    *
    * SMALL-GRAPH FAST PATH: below `driverLimit` pairs the graph collects
    * to a driver union-find — the iterative loop costs several Spark jobs
    * PER ROUND, which dominates wall time when the pair graph is tiny
    * relative to the corpus (the common case at high thresholds: measured
    * ~40 s of loop overhead on a 22k-pair sf0.1 graph the union-find
    * solves in milliseconds). 2M pairs ≈ 32 MB collected — driver-safe;
    * pass driverLimit = 0 to force the distributed loop (specs do). */
  def components(pairs: DataFrame, driverLimit: Long = 2000000L): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // materialized once: consumed by count + (either path) exactly like
    // the verify candidates
    val edgeList = pairs
      .select(col("a").cast("long").as("u"), col("b").cast("long").as("v"))
      .localCheckpoint(false) // lazy: the count below materializes it
    val nPairs = edgeList.count()
    if (nPairs <= driverLimit) {
      val parent = new scala.collection.mutable.HashMap[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      val rows = edgeList.as[(Long, Long)].collect() // <= driverLimit rows by construction
      rows.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val verts = rows.iterator.flatMap(p => Iterator(p._1, p._2)).toArray.distinct
      lastComponentsIters = 0 // marker: fast path taken
      return spark.createDataset(verts.map(v => (v, find(v))).toSeq).toDF("v", "lbl")
    }
    val edges = edgeList
      .unionAll(edgeList.select(col("v").as("u"), col("u").as("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("u").as("v")).distinct()
      .select(col("v"), col("v").as("lbl"))
      .localCheckpoint(false)
    var changed = 1L
    var iters = 0
    while (changed > 0) {
      iters += 1
      require(iters <= 64, s"components: not converged after $iters iterations")
      // min label over neighbors (edges are symmetric, so one direction
      // of the join covers both endpoints)
      val nbr = edges.join(labels.select(col("v"), col("lbl").as("nlbl")), "v")
        .groupBy("u").agg(min("nlbl").as("minNbr"))
      val stepped = labels
        .join(nbr.withColumnRenamed("u", "v"), Seq("v"), "left")
        .select(col("v"), col("lbl").as("old"),
          least(col("lbl"), coalesce(col("minNbr"), col("lbl"))).as("lbl"))
      // pointer jump: label values are themselves vertices, so shortcut
      // one level of the label chain per round
      val jumped = stepped.as("s")
        .join(stepped.select(col("v").as("lv"), col("lbl").as("llbl")),
          col("s.lbl") === col("lv"), "left")
        .select(col("s.v").as("v"), col("s.old").as("old"),
          coalesce(col("llbl"), col("s.lbl")).as("lbl"))
        .localCheckpoint(false) // materialized by the count just below
      changed = jumped.filter(col("lbl") =!= col("old")).count()
      labels = jumped.select(col("v"), col("lbl"))
    }
    edges.unpersist()
    lastComponentsIters = iters
    labels
  }

  /** Diagnostic only (OpsScale/spec): propagation rounds the last
    * [[components]] call took to converge — evidence the pointer-jump
    * keeps iteration count logarithmic at scale. */
  @volatile private[graft] var lastComponentsIters: Int = 0

  /** Near-dup KEEPER assignment — the end product of a dedup run: every
    * document gets a `keeper` (the min doc_id of its near-dup connected
    * component, singletons keep themselves — the same representative
    * contract as [[exact]]), `is_keeper`, and the component size. The pair
    * graph is whatever similarity member produced `pairs` (LSH, exact
    * Jaccard, embedding…), so "drop the non-keepers" composes with any of
    * them. Reference has no dedup; the shape is the standard
    * MinHashLSH→connected-components pipeline.
    *
    * Precondition: every doc_id in `pairs` (columns a, b) is a doc_id of
    * `documents`. It is not checked: n_members counts the vertices of each
    * component, so a pair endpoint outside `documents` would inflate the
    * n_members of the documents in its component. */
  def keepersFromPairs(documents: DataFrame, pairs: DataFrame): DataFrame = {
    val comp = components(pairs)
    // component sizes from the COMPONENTS frame, not from the assigned
    // corpus: comp holds exactly the non-singleton vertices, so counting
    // labels there gives every multi-member keeper's size, and every doc
    // absent from comp is its own singleton (n_members = 1). The previous
    // shape re-shuffled ALL docs through groupBy(keeper) + a join back —
    // two full-corpus exchanges for counts already derivable from the
    // (duplicates-only) label table (guide §2.3: aggregate the small
    // thing, not the corpus).
    val compSizes = comp.groupBy("lbl").agg(count(lit(1)).as("n_lbl"))
    documents.select(col("doc_id"))
      .join(comp.select(col("v").as("doc_id"), col("lbl").as("k0")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("k0"), col("doc_id")).as("keeper"))
      .join(compSizes.withColumnRenamed("lbl", "keeper"), Seq("keeper"), "left")
      .select(col("doc_id"), col("keeper"),
        (col("doc_id") === col("keeper")).as("is_keeper"),
        coalesce(col("n_lbl"), lit(1L)).as("n_members"))
      .orderBy("doc_id")
  }

  /** Keeper assignment over the token-minhash-LSH pair graph at
    * `threshold` — the one-call "which docs do I keep" operator. Feeds
    * [[components]] the RAW pair frame: the graph only needs the (a, b)
    * edge set, so the gate-presentation round + global pair sort of
    * [[minhashLsh]] would be a pure throw-away exchange here. */
  def keepers(documents: DataFrame, threshold: Double): DataFrame =
    keepersFromPairs(documents, lshPairsOfGroups(setGroups(documents), threshold))

  /** 32-bit SimHash per doc: bit b set when the tf-weighted sum of term hash
    * bits is positive. (The term hash is [[h32]]'s 28 bits, so sig bits
    * 28-31 are always 0 — fine for the equality contract this member has
    * always had; [[simhashWide]] is the near-dup-grade signature.) */
  def simhash(documents: DataFrame): DataFrame =
    simhashSigs(documents).orderBy("doc_id")

  /** 60-bit SimHash per doc over [[h60]] term hashes — the production-width
    * signature (no dead bits, balanced pigeonhole blocks). */
  def simhashWide(documents: DataFrame): DataFrame =
    simhashSigs(documents, bits = 60, hexChars = 15).orderBy("doc_id")

  /** (doc_id, simhash) signatures as ONE zero-shuffle compiled pass: a
    * doc's tf map is per-row local, so the whole signature — tokenize, tf
    * count, md5 term hash ([[md5PrefixOf]] = [[h32]]/[[h60]] bit-exactly),
    * ±tf bit sums, sign threshold — reduces in place, the same shape as
    * [[TextOps.fingerprint]]/[[TextOps.repetitionSignals]]. The previous
    * declarative form exploded every (doc, term) row × `bits` through THREE
    * hash-agg shuffles (groupBy(doc,term) → groupBy(doc,b) → groupBy(doc));
    * at 10⁹ docs × ~100 terms × 60 bits that is ~6×10¹² shuffled rows for a
    * value computable with zero (guide §2.4; round-5 VERDICT "What's wrong"
    * #1). Arithmetic is identical: integer ±tf sums per bit (order-free),
    * bit set iff sum > 0; token-less docs emit no row, like the explode
    * form. OpsSpec asserts signature equality against the DuckDB-shaped
    * declarative oracle via the gate hashes. */
  private[graft] def simhashSigs(documents: DataFrame, bits: Int = 32,
                                 hexChars: Int = 7): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val nb = bits
    val hc = hexChars
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val toks = graft.analyze.TextAnalyzer.tokens(text)
          if (toks.isEmpty) Iterator.empty
          else {
            val tf = scala.collection.mutable.HashMap.empty[String, Long]
            toks.foreach(t => tf.update(t, tf.getOrElse(t, 0L) + 1L))
            val s = new Array[Long](nb)
            tf.foreach { case (term, w) =>
              val h = md5PrefixOf(md, term, hc)
              var b = 0
              while (b < nb) {
                if (((h >>> b) & 1L) == 1L) s(b) += w else s(b) -= w
                b += 1
              }
            }
            var sig = 0L
            var b = 0
            while (b < nb) { if (s(b) > 0) sig |= 1L << b; b += 1 }
            Iterator.single((id, sig))
          }
        }
      }
      .toDF("doc_id", "simhash")
  }

  /** SimHash NEAR-duplicate pairs at Hamming distance ≤ `maxHamming` —
    * EXACT, not probabilistic (the production form of [[simhash]], which on
    * its own only groups identical signatures): split the 32-bit signature
    * into maxHamming+1 disjoint blocks; a pair within distance maxHamming
    * has fewer differing bits than blocks, so BY PIGEONHOLE it agrees on at
    * least one whole block — the block-equality self-joins have perfect
    * recall, and the bit_count verify removes every false candidate.
    * Blocks play the role of LSH bands (same first-colliding-block
    * uniqueness trick as [[minhashLsh]], so no distinct over candidates);
    * the self-join keys on (block index, block value) — a high-cardinality
    * shuffle key, no broadcast, the same 100 TB join shape the rest of the
    * dedup family runs. Emits (a, b, hd), a < b. */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 3): DataFrame =
    simhashPairsFromSigs(simhashSigs(documents), maxHamming)

  /** [[simhashPairs]] over the 60-bit [[simhashWide]] signature — the form
    * a web-scale run wants: h32's dead top bits make one 32-bit block span
    * only 16 possible values (every doc lands in one of 16 join groups
    * regardless of corpus size), while 60 live bits give every block ≥ 2¹²
    * values and a far sharper Hamming threshold (3 differing bits out of 60
    * is a much closer match than 3 of 28). Same exact pigeonhole contract. */
  def simhashPairsWide(documents: DataFrame, maxHamming: Int = 3): DataFrame =
    simhashPairsFromSigs(simhashSigs(documents, bits = 60, hexChars = 15), maxHamming,
      bits = 60)

  /** Hot-group threshold for the block-join skew decomposition below: a
    * group at the threshold costs ~tileRows²/2 ≈ 1.3×10⁸ codegen'd
    * xor+popcount comparisons in one task (sub-second); anything bigger
    * splits into bounded tile-pair tasks. */
  private[graft] val SimhashTileRows = 16384

  /** Kernel over precomputed (doc_id, simhash) rows — split out so specs
    * can drive constructed signatures across exact Hamming boundaries and
    * force the tile decomposition with a tiny `tileRows`.
    *
    * Skew: a (block idx, block value) group is a self-CARTESIAN — all its
    * pairs are candidates — and block values cluster when signatures do,
    * so a plain self-join puts a g² task on one core the moment one group
    * goes hot (at 10⁹ docs a 10⁶-row group is a 10¹²-comparison task).
    * ROUTING, not blanket machinery: one count-agg finds the groups larger
    * than `tileRows` (each such key represents > tileRows band rows, so
    * the collected list is ≤ bandRows/tileRows entries — driver-safe by
    * construction); the COLD groups — all of them, on healthy data — run
    * the plain first-collide self-join untouched, and only the hot groups
    * pay the tile join: members hash into m = ⌈g/tileRows⌉ tiles, a row
    * joins as LEFT for tile pairs (t, t..m-1) and as RIGHT for (0..t, t),
    * so every member pair lands in exactly one (ti, tj) task of
    * ≤ tileRows² comparisons. A same-tile pair meets in both orders (doc
    * order keeps one); a cross-tile pair meets once with TILE-determined
    * sides, so pair order comes from least/greatest. Replication for a
    * split group is ~m/2 per row — the unavoidable g²/tileRows shuffle
    * volume of its cartesian output, same trade as [[pairBlocksFor]].
    * Groups are entirely hot or entirely cold (group granularity), so the
    * two pair sets are disjoint and union exactly. */
  private[graft] def simhashPairsFromSigs(sigs: DataFrame, maxHamming: Int,
                                          tileRows: Int = SimhashTileRows,
                                          bits: Int = 32): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 8,
      s"maxHamming must be in [0, 8] (>=4-bit blocks at 32-bit width), got $maxHamming")
    require(tileRows >= 1, s"tileRows must be >= 1, got $tileRows")
    require(bits >= maxHamming + 1 && bits <= 63,
      s"bits must be in [maxHamming+1, 63], got $bits")
    val spark = sigs.sparkSession
    val nBlocks = maxHamming + 1
    // block i covers width_i bits starting at start_i; base width bits/n,
    // the first bits%n blocks one bit wider (covers every bit exactly)
    val base = bits / nBlocks
    val rem = bits % nBlocks
    val widths = (0 until nBlocks).map(i => if (i < rem) base + 1 else base)
    val starts = widths.scanLeft(0)(_ + _)
    def blockOf(sig: Column, i: Int): Column =
      shiftright(sig, starts(i)).bitwiseAND(lit((1L << widths(i)) - 1L))
    // the signature subtree feeds BOTH sides of the self-join; unpinned it
    // executes twice (and the simhash pipeline explodes 32 rows per
    // doc-term). Lazy localCheckpoint (materialized by the hot-group agg's
    // collect below): 2 longs per doc, blocks freed by the ContextCleaner
    // when the result frame goes unreachable
    val pinned = sigs.select(col("doc_id"), col("simhash")).localCheckpoint(false)
    val bands = pinned.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until nBlocks).map(i => blockOf(col("simhash"), i)): _*)))
      .toDF("doc_id", "simhash", "blk", "key")
    // first-colliding-block uniqueness: emit from block i only when every
    // earlier block differs (cheap — both full sigs ride the joined row)
    def firstCollide(blkC: Column, sigX: Column, sigY: Column): Column =
      (0 until nBlocks - 1).map { j =>
        blkC <= j || blockOf(sigX, j) =!= blockOf(sigY, j)
      }.reduceOption(_ && _).getOrElse(lit(true))
    def finish(df: DataFrame): DataFrame = df
      .filter(col("hd") <= maxHamming)
      .select(col("a"), col("b"), col("hd"))

    val hot = bands.groupBy("blk", "key").agg(count(lit(1)).as("g"))
      .filter(col("g") > tileRows)
      .collect().map(r => org.apache.spark.sql.Row(r.getInt(0), r.getLong(1),
        math.ceil(r.getLong(2).toDouble / tileRows).toInt))
    val plainOf = { (b: DataFrame) =>
      finish(b.as("x").join(b.as("y"),
          col("x.blk") === col("y.blk") && col("x.key") === col("y.key") &&
            col("x.doc_id") < col("y.doc_id"))
        .filter(firstCollide(col("x.blk"), col("x.simhash"), col("y.simhash")))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          expr("CAST(bit_count(x.simhash ^ y.simhash) AS INT)").as("hd")))
    }
    val pairs = if (hot.isEmpty) plainOf(bands) else {
      val hotDf = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](java.util.Arrays.asList(hot: _*)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("blk", org.apache.spark.sql.types.IntegerType, false),
          org.apache.spark.sql.types.StructField("key", org.apache.spark.sql.types.LongType, false),
          org.apache.spark.sql.types.StructField("m", org.apache.spark.sql.types.IntegerType, false))))
      val tagged = bands.join(broadcast(hotDf), Seq("blk", "key"), "left")
      val cold = tagged.filter(col("m").isNull)
        .select("doc_id", "simhash", "blk", "key")
      val hotBands = tagged.filter(col("m").isNotNull)
        .withColumn("t", pmod(xxhash64(col("doc_id")), col("m").cast("long")).cast("int"))
      val left = hotBands
        .withColumn("tj", explode(sequence(col("t"), col("m") - 1)))
        .select(col("blk"), col("key"), col("t").as("ti"), col("tj"),
          col("doc_id"), col("simhash"))
      val right = hotBands
        .withColumn("ti", explode(sequence(lit(0), col("t"))))
        .select(col("blk"), col("key"), col("ti"), col("t").as("tj"),
          col("doc_id").as("doc_id_y"), col("simhash").as("simhash_y"))
      val hotPairs = finish(left.join(right, Seq("blk", "key", "ti", "tj"))
        .filter(col("ti") =!= col("tj") || col("doc_id") < col("doc_id_y"))
        .filter(firstCollide(col("blk"), col("simhash"), col("simhash_y")))
        .select(least(col("doc_id"), col("doc_id_y")).as("a"),
          greatest(col("doc_id"), col("doc_id_y")).as("b"),
          expr("CAST(bit_count(simhash ^ simhash_y) AS INT)").as("hd")))
      plainOf(cold).unionAll(hotPairs)
    }
    pairs.orderBy("a", "b")
  }
}
