package graftbench

import graft.ir.Analyzer

/** Seeded counter-free PRNG (SplitMix64): the same seed gives the same
  * stream on every JVM and platform. */
final class Rng(seed: Long) {
  private var state = Rng.mix(seed ^ 0x5DEECE66DL)
  def nextLong(): Long = { state += 0x9E3779B97F4A7C15L; Rng.mix(state) }
  def nextDouble(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
  def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
}

object Rng {
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** A stream derived from (seed, salt) — independent of draw order elsewhere. */
  def derive(seed: Long, salt: Long): Rng = new Rng(mix(seed * 0x100000001B3L ^ mix(salt)))
}

/** Zipf(s) over ranks 0 until n via an inverse-CDF table. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  def draw(r: Rng): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** The request classes of the `serve` mix. */
sealed abstract class QClass(val key: String)
case object OrBm25 extends QClass("or_bm25")
case object OrCosine extends QClass("or_cosine")
case object AndBm25 extends QClass("and_bm25")
case object WandBm25 extends QClass("wand_bm25")
case object Batch extends QClass("batch")

object QClass {
  val singles: Seq[QClass] = Seq(OrBm25, OrCosine, AndBm25, WandBm25)
  /** Requests of each class in every block of 25: 72% OR-BM25, 8% each of
    * OR-cosine, AND-BM25 and WAND-BM25, and one batch call. */
  val mix: Seq[(QClass, Int)] =
    Seq(OrBm25 -> 18, OrCosine -> 2, AndBm25 -> 2, WandBm25 -> 2, Batch -> 1)
}

/** One `serve` request: a class and pool indices (one, or a batch's). */
final case class Request(cls: QClass, queries: IndexedSeq[Int])

/**
 * Seeded workload inputs. Everything here is a pure function of the seed and
 * of inputs the seed already fixed (the `Synth` corpus, or the vocabulary of
 * the index built from it), so a seed reproduces the inputs byte for byte.
 */
object Gen {

  /** The 13 queries of the reference's query bot (IR_client InitClient). */
  val BotQueries: IndexedSeq[String] = IndexedSeq(
    "primera consulta",
    "universidad riqueza atletismo argentina estado nacion edificio comunicacion",
    "tecnologia", "pais", "estado libre", "pais libre",
    "perro libre finanzas religion estado morfologia",
    "tecnologia libre", "ultima consulta", "pais libre", "estado libre",
    "tecnologia", "pais")

  val PoolSize = 256
  val OovShare = 0.10
  val BatchSize = 32

  private def oovTerm(r: Rng): String =
    "oov" + (0 until 6).map(_ => ('a' + r.nextInt(26)).toChar).mkString

  /** `serve` query pool: the bot queries first, then 1–6-term queries whose
    * terms are drawn Zipf-by-df from `vocab` (terms sorted by df desc), ~10%
    * of them out of vocabulary. The pool's order is its popularity order. */
  def queryPool(vocab: IndexedSeq[String], seed: Long): IndexedSeq[String] = {
    val r = Rng.derive(seed, 1L)
    val z = new Zipf(vocab.length, 1.0)
    BotQueries ++ (BotQueries.length until PoolSize).map { _ =>
      (0 until 1 + r.nextInt(6)).map { _ =>
        if (r.nextDouble() < OovShare) oovTerm(r) else vocab(z.draw(r))
      }.mkString(" ")
    }
  }

  /** Requests in one block of [[QClass.mix]]. */
  val BlockLength: Int = QClass.mix.map(_._2).sum

  /** Block `b` of the request stream: the block's batch call first, then
    * its single queries in seeded order (so the class counts of a run of
    * whole blocks are fixed), each query drawn by Zipf popularity over the
    * pool (so the bot queries at the head repeat, and the service's result
    * cache sees reuse). A pure function of (seed, b). */
  def block(seed: Long, b: Long): IndexedSeq[Request] = {
    val r = Rng.derive(seed, 1000L + b)
    val pop = new Zipf(PoolSize, 1.0)
    val singles = QClass.mix.collect { case (c, n) if c != Batch => Seq.fill(n)(c) }.flatten.toArray
    val batches = QClass.mix.collect { case (Batch, n) => Seq.fill(n)(Batch) }.flatten
    // Fisher–Yates shuffle of the block's single queries
    for (i <- singles.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = singles(i); singles(i) = singles(j); singles(j) = t
    }
    (batches ++ singles).map { c =>
      Request(c, IndexedSeq.fill(if (c == Batch) BatchSize else 1)(pop.draw(r)))
    }.toIndexedSeq
  }

  /** Seeded sample of `n` distinct indices below `bound`, ascending. */
  def sample(seed: Long, salt: Long, bound: Int, n: Int): IndexedSeq[Int] = {
    val r = Rng.derive(seed, salt)
    val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (picked.size < math.min(n, bound)) picked += r.nextInt(bound)
    picked.toIndexedSeq.sorted
  }

  // ------------------------------------------------------------ curate

  /** One planted near-duplicate: `copy` is `orig` with token edits, and
    * `jaccard` is the true 3-shingle Jaccard of the two under the dedup
    * operators' default analyzer. */
  final case class NearPair(orig: Long, copy: Long, jaccard: Double)

  /** Shingle set exactly as the dedup operators form it (3-token shingles
    * of the analyzed text; one shingle of all tokens below three). */
  def shingleSet(text: String): Set[String] = {
    val toks = Analyzer.analyze(text, Analyzer.Plain)
    if (toks.length < 3) Set(toks.mkString(" "))
    else toks.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else (a intersect b).size.toDouble / (a union b).size

  /** `curate` planted duplicates over `docs` (doc_id, text) with dense ids
    * 0 until docs.length: `exact` verbatim copies and `near` copies with
    * 1–12% of their tokens replaced by fresh words. Returns the added rows
    * (ids continue after the corpus), the (original, copy) exact pairs and
    * the near pairs with their true Jaccard. */
  def plantDuplicates(docs: IndexedSeq[(Long, String)], seed: Long, exact: Int, near: Int)
      : (IndexedSeq[(Long, String)], IndexedSeq[(Long, Long)], IndexedSeq[NearPair]) = {
    val r = Rng.derive(seed, 4L)
    val src = sample(seed, 5L, docs.length, exact + near)
      .filter(i => docs(i)._2.split(' ').length >= 20)
    val (exSrc, nearSrc) = src.splitAt(math.min(exact, src.length / 2))
    var next = docs.length.toLong
    val exactRows = exSrc.map { i => next += 1; (next - 1, docs(i)._2) }
    val exactPairs = exSrc.zip(exactRows).map { case (i, (id, _)) => (docs(i)._1, id) }
    val nearRows = nearSrc.map { i =>
      val toks = docs(i)._2.split(' ')
      val edits = math.max(1, (toks.length * (0.01 + 0.11 * r.nextDouble())).toInt)
      (0 until edits).foreach(_ => toks(r.nextInt(toks.length)) = oovTerm(r))
      next += 1
      (next - 1, toks.mkString(" "))
    }
    val nearPairs = nearSrc.zip(nearRows).map { case (i, (id, text)) =>
      NearPair(docs(i)._1, id, jaccard(shingleSet(docs(i)._2), shingleSet(text)))
    }
    (exactRows ++ nearRows, exactPairs, nearPairs)
  }
}
