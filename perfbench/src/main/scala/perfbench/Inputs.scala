package perfbench

import java.util.SplittableRandom

import graft.analyze.TextAnalyzer
import graft.gen.TranscriptGen
import graft.model.Turn
import graft.query.SearchQuery

/** Everything the program receives is made here from the seed; the same
  * seed gives the same inputs. */
object Inputs {

  /** Turns in the indexed corpus window. */
  val CorpusTurns = 6000L
  /** Documents in the dedup corpus, of which ~PlantedShare are near-copies. */
  val DedupDocs = 5000
  val PlantedShare = 0.2
  val WarmupKeys = 1

  /** Seeds map onto disjoint windows of the generator's turn sequence. The
    * modulus keeps conversation ids at 8 digits, where their string order
    * (the program's docId order) equals turn order. */
  def corpusBase(seed: Long): Long = Math.floorMod(seed, 10000L) * CorpusTurns

  /** First turn index of the dedup texts: past every corpus window. */
  def dedupBase(seed: Long): Long = 10000L * CorpusTurns + Math.floorMod(seed, 10000L) * DedupDocs

  private def rng(seed: Long, stream: Long) = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  // ---- search ----

  sealed trait Kind { def name: String }
  case object TopK extends Kind { val name = "topk" }
  case object Fetch extends Kind { val name = "fetch" }
  case object Stats extends Kind { val name = "stats" }

  final case class Op(index: Int, kind: Kind, key: SearchQuery)

  private val Roles = IndexedSeq("user", "assistant", "tool")
  /** Stopwords the text analyzer keeps (it drops 1-letter tokens). */
  private val Stopwords = TranscriptGen.Stopwords.filter(_.length >= 2)

  /** Query shapes of one workload: weights of arity 1-3, of the term
    * classes, and the share of k = 100 (else 10). */
  final case class Profile(arity: Seq[Double], classes: Seq[Double], k100: Double)

  /** Term classes the engine treats differently: stopwords and head words
    * (long lists, many blocks to decode or skip), mid and rare words (short
    * lists), needles (two ANDed terms after analysis, one hit). */
  private val Stop = 0; private val Head = 1; private val Mid = 2; private val Rare = 3; private val Needle = 4

  val Profiles: Map[String, Profile] = Map(
    "broad" -> Profile(Seq(0.5, 0.4, 0.1), Seq(0.5, 0.5, 0, 0, 0), 0.25),
    "selective" -> Profile(Seq(0.5, 0.35, 0.15), Seq(0, 0, 0.45, 0.35, 0.2), 0.3))

  private def pick(weights: Seq[Double], u: Double): Int =
    weights.scanLeft(0.0)(_ + _).tail.indexWhere(u < _) match { case -1 => weights.size - 1; case i => i }

  private def classOf(tok: String): Int =
    if (Stopwords.contains(tok)) Stop
    else if (tok.length == 7 && tok.head == 'w' && tok.tail.forall(_.isDigit)) {
      val rank = tok.tail.toInt
      if (rank < 100) Head else if (rank < 5000) Mid else Rare
    } else -1

  /** Words of the given classes that co-occur in one turn of the corpus
    * window, so their AND has at least one hit, and that turn. A needle is
    * the turn's `needle-NNNNNN` marker. None when the drawn turn lacks a
    * class. */
  private def cooccurring(classes: Seq[Int], r: SplittableRandom, base: Long): Option[(Seq[String], Turn)] = {
    val t =
      if (!classes.contains(Needle)) base + r.nextInt(CorpusTurns.toInt)
      else {
        val first = (base + 996) / 997
        val last = (base + CorpusTurns - 1) / 997
        (first + r.nextInt((last - first + 1).toInt)) * 997
      }
    val turn = TranscriptGen.turnAt(t)
    val byClass = TextAnalyzer.tokens(turn.text).distinct.groupBy(classOf)
    val chosen = scala.collection.mutable.ArrayBuffer[String]()
    classes.foreach { c =>
      if (c == Needle && !chosen.exists(_.startsWith("needle-"))) chosen += f"needle-${t / 997}%06d"
      else {
        val free = byClass.getOrElse(if (c == Needle) Rare else c, Nil).filterNot(chosen.contains)
        if (free.isEmpty) return None
        chosen += free(r.nextInt(free.size))
      }
    }
    Some((chosen.toSeq, turn))
  }

  /** Query templates: the shape of the i-th key (arity, term classes, a
    * cross-field `tool` or `role` term in 20% of keys, k) is the same for
    * every seed, like fixed query templates; the seed draws the turn whose
    * words fill it. A key already in `used` is drawn again with the same
    * shape. */
  private def key(p: Profile, shape: SplittableRandom, words: SplittableRandom, base: Long,
                  used: scala.collection.Set[SearchQuery], minArity: Int = 1): SearchQuery = {
    val arity = math.max(minArity, 1 + pick(p.arity, shape.nextDouble()))
    val classes = Seq.fill(arity)(pick(p.classes, shape.nextDouble()))
    val cross = shape.nextDouble()
    val k = if (shape.nextDouble() < p.k100) 100 else 10
    def draw(): Option[SearchQuery] = cooccurring(classes, words, base).map { case (ws, turn) =>
      val extra: Seq[(String, Seq[String])] =
        if (cross < 0.1 && turn.tool.nonEmpty) Seq("tool" -> Seq(turn.tool))
        else if (cross < 0.2) Seq("role" -> Seq(turn.role))
        else Nil
      SearchQuery.of(ws.map(w => "text" -> Seq(w)) ++ extra, k)
    }
    Iterator.continually(draw()).take(1000).flatten.find(!used(_))
      .getOrElse(throw new IllegalStateException(s"no unused key of classes $classes"))
  }

  /** Op kinds repeat this pattern of 20: 9 topK, 6 fetch, 5 searchStats
    * (45/30/25%), so every run of a few dozen ops has each kind in the same
    * proportion. fetch and searchStats get a larger share than a typical mix
    * so that each median rests on 15 or more samples at 60 ops: with 7
    * fetch and 5 searchStats samples their medians spread by 28% across
    * seeds. Each kind sits at both odd and even positions, so the traced and
    * the plain half of a traced run each hold every kind. */
  private val KindPattern: IndexedSeq[Kind] = "TFTSTFSTFTTSFTSTFTFS".map {
    case 'T' => TopK; case 'F' => Fetch; case _ => Stats
  }

  /** The first `n` ops of the workload's stream (kinds by KindPattern),
    * each on a key not issued before, and `WarmupKeys`
    * more keys for the untimed warm-up. Keys are distinct so that every op
    * takes the engine's uncached path: a stream that repeats keys mixes
    * cache hits (a driver-side map lookup for searchStats) with misses, and
    * its medians then flip between the two modes from seed to seed. For the
    * same reason searchStats ops get keys of two or more terms: for one term
    * it reads only the term's header, which the engine caches per term once
    * any op has looked the term up. */
  def stream(seed: Long, workload: String, n: Int): (IndexedSeq[Op], IndexedSeq[SearchQuery]) = {
    val p = Profiles.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload '$workload' (${Profiles.keys.mkString(", ")})"))
    val base = corpusBase(seed)
    val shapes = new SplittableRandom(0x5EED0001L + workload.hashCode)
    val words = rng(seed, 1)
    val used = scala.collection.mutable.HashSet[SearchQuery]()
    val ops = (0 until n).map { i =>
      val kind = KindPattern(i % KindPattern.size)
      val q = key(p, shapes, words, base, used, if (kind == Stats) 2 else 1)
      used += q
      Op(i, kind, q)
    }
    val warm = (0 until WarmupKeys).map { _ => val q = key(p, shapes, words, base, used); used += q; q }
    (ops, warm)
  }

  // ---- dedup ----

  /** A planted near-copy: `copy` is a one-token edit of `source`. */
  final case class Planted(source: Long, copy: Long)

  /** Dedup documents from generator texts. A planted copy edits one token of
    * any earlier document, itself possibly a copy, so near-dup components
    * have diameter > 1; short texts land below the 0.8 threshold. */
  def dedupDocs(seed: Long): (IndexedSeq[(Long, String)], Seq[Planted]) = {
    val r = rng(seed, 4)
    val base = dedupBase(seed)
    val texts = new scala.collection.mutable.ArrayBuffer[String](DedupDocs)
    val planted = scala.collection.mutable.ArrayBuffer[Planted]()
    (0 until DedupDocs).foreach { i =>
      if (i > 0 && r.nextDouble() < PlantedShare) {
        val src = r.nextInt(i)
        texts += edit(texts(src), r)
        planted += Planted(src.toLong, i.toLong)
      } else texts += TranscriptGen.turnAt(base + i).text
    }
    (texts.indices.map(i => (i.toLong, texts(i))), planted.toSeq)
  }

  private def edit(text: String, r: SplittableRandom): String = {
    val toks = text.split(' ').toBuffer
    val word = f"w${r.nextInt(TranscriptGen.Vocab)}%06d"
    r.nextInt(3) match {
      case 0 => toks(r.nextInt(toks.size)) = word
      case 1 if toks.size > 1 => toks.remove(r.nextInt(toks.size))
      case _ => toks.insert(r.nextInt(toks.size + 1), word)
    }
    toks.mkString(" ")
  }

  /** The token set the dedup operators compare: sorted distinct analyzer
    * tokens. */
  def tokenSet(text: String): Array[String] = TextAnalyzer.tokens(text).distinct.sorted.toArray
}
