package graft.ir

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Deterministic synthetic transcript generator (FIXTURES.md §4): splittable
 * counter PRNG keyed on (seed, conv, turn, slot) — no wall-clock, no
 * partition-order dependence, identical output at any parallelism. Used by
 * tests (tiny) and Bench (bench-scale corpus with hot-term skew).
 */
object Synth {

  private val Epoch = 1577836800000L // 2020-01-01T00:00:00Z

  /** tp2 vocabulary as the hottest terms (hot-term skew + keeps the
    * reference query set non-empty). */
  val HotVocab: Vector[String] = Vector(
    "software", "libre", "papel", "fundamental", "crecimiento", "internet",
    "favorecido", "comunicacion", "desarrolladores", "riqueza", "pais",
    "cultura", "produccion", "tecnologia", "hardware", "incorpore", "estado")

  private val vocabSize = 2000
  private def vocabTerm(r: Int): String =
    if (r < HotVocab.length) HotVocab(r) else f"term${r}%04d"

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def rand(seed: Long, a: Long, b: Long, c: Long): Long =
    mix(mix(mix(seed) ^ a * 0x100000001B3L) ^ b * 0x9E3779B1L) ^ mix(c)

  /** Zipf(s≈1.1) rank from uniform u ∈ [0,1) (inverse CDF approximation). */
  private def zipfRank(u: Double): Int = {
    val s = 1.1
    val n = vocabSize.toDouble
    val r = math.pow(u * (math.pow(n, 1 - s) - 1) + 1, 1 / (1 - s))
    math.min(vocabSize - 1, math.max(0, r.toInt - 1))
  }

  private val accentVariants = Map(
    "pais" -> "País,", "libre" -> "¡LIBRE!", "cultura" -> "cultúra",
    "estado" -> "Estado.", "tecnologia" -> "tecnología")

  def turns(spark: SparkSession, nConvs: Int, seed: Long = 42L): DataFrame = {
    // partition count: ≥500 convs per partition, capped at 4× the session's
    // parallelism. The old fixed cap of 256 partitions meant a bench-scale
    // corpus was ALWAYS 256 scan tasks — at local-cluster RPC latency
    // (~10 ms/task dispatch) that is ~2.5 s of pure scheduling per
    // full-scan stage, a fixed cost that crushed the 16-core pair's
    // measured efficiency. A real corpus read from parquet gets size-based
    // splits; this mirrors that. Row CONTENT is partitioning-independent
    // (counter PRNG on indices), so any parts choice yields the same table.
    val parts = math.max(1, math.min(nConvs / 500,
      4 * spark.sparkContext.defaultParallelism))
    val rows = spark.sparkContext
      .parallelize(0 until nConvs, parts)
      .flatMap { ci =>
        val conv = f"c$ci%08d"
        val nTurns = 1 + (rand(seed, ci, 0, 0) & 0x7FFFFFFF).toInt % 12
        (0 until nTurns).map { ti =>
          val nTok = 5 + (rand(seed, ci, ti, 1) & 0x7FFFFFFF).toInt % 36
          val toks = (0 until nTok).map { wi =>
            val u = (rand(seed, ci, ti, 100L + wi) >>> 11).toDouble / (1L << 53).toDouble
            val base = vocabTerm(zipfRank(u))
            val v = (rand(seed, ci, ti, 500L + wi) & 0x7FFFFFFF).toInt % 100
            if (v < 5) accentVariants.getOrElse(base, base.toUpperCase)
            else if (v < 7) "de" // stopword injection
            else if (v < 8) "xy" // length outlier (dropped by minLen=3)
            else base
          }
          val role = if ((rand(seed, ci, ti, 2) & 0x7FFFFFFF) % 10 == 0) "tool"
            else if (ti % 2 == 0) "user" else "assistant"
          val tool = if (role == "tool") "search" else null
          Turn(conv, ti, role, toks.mkString(" "), tool,
            new Timestamp(Epoch + (ci.toLong % 100000) * 1000 + ti))
        }
      }
    spark.createDataFrame(rows)
  }

  /**
   * Score-skewed fixture for block-max pruning (VERDICT r4 #8): the
   * homogeneous `turns` corpus yields flat score distributions, so WAND's
   * per-block bounds never separate and measured pruning is 0%. Here the
   * first `1/hotDenom` of conversations are "hot" — short documents that
   * repeat the query-grade HotVocab terms with tf 8–31 — and the rest are
   * "cold": long documents carrying each hot term ONCE amid Zipf-tail
   * filler, i.e. BM25 contributions near zero (tf 1, large dl). Because
   * docIds are ranks of conv_id and hot convs sort first, hot postings
   * cluster into a small docId range whose blocks carry dominant max_tf /
   * min_dl bounds, while the cold tail's blocks bound far below any θ —
   * the shape a real corpus has when docId order correlates with source
   * or quality tiers. On this corpus pruning must discard the cold tail's
   * blocks and return results identical to the exact path (Bench's
   * wand_prune section records the measured fraction).
   */
  def skewedTurns(
      spark: SparkSession, nConvs: Int, seed: Long = 43L,
      hotDenom: Int = 10): DataFrame = {
    val parts = math.max(1, math.min(nConvs / 500,
      4 * spark.sparkContext.defaultParallelism))
    val hotN = math.max(1, nConvs / hotDenom)
    val rows = spark.sparkContext
      .parallelize(0 until nConvs, parts)
      .map { ci =>
        val conv = f"c$ci%08d"
        val hot = ci < hotN
        val toks: Seq[String] =
          if (hot) {
            // 3 hot terms at high tf in a short doc → large contributions
            (0 until 3).flatMap { wi =>
              val term = HotVocab((ci + wi) % HotVocab.length)
              val tf = 8 + (rand(seed, ci, 0, 10L + wi) & 0x7FFFFFFF).toInt % 24
              Seq.fill(tf)(term)
            }
          } else {
            // every hot term once (so its posting list spans the whole
            // corpus) drowned in Zipf-tail filler → near-zero contributions
            val filler = (0 until 60 + (rand(seed, ci, 0, 20) & 0x7FFFFFFF).toInt % 120)
              .map { wi =>
                val u = (rand(seed, ci, 0, 100L + wi) >>> 11).toDouble / (1L << 53).toDouble
                vocabTerm(HotVocab.length + zipfRank(u) % (vocabSize - HotVocab.length))
              }
            HotVocab ++ filler
          }
        Turn(conv, 0, "user", toks.mkString(" "), null,
          new Timestamp(Epoch + (ci.toLong % 100000) * 1000))
      }
    spark.createDataFrame(rows)
  }
}
