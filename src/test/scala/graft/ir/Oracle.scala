package graft.ir

/**
 * Single-threaded, in-memory reference reimplementation of the reference
 * system's indexer + evaluator (the hermetic ground truth, SURVEY.md §3.3,
 * §5.3-2): formulas from `/root/reference/IR_server/IR_python/ir_manager.py:69-96`
 * (float query-tf division — the Python path) and
 * `modulos/Indexer.py:98-135` for tf/df/cf/maxtf. BM25 added per the north
 * rule with the same analyzer and docId space.
 *
 * Everything is Scala collections — no Spark — so rank-identity tests compare
 * two independent implementations.
 */
object Oracle {

  final case class OracleIndex(
      cfg: BuildConfig,
      docIds: Vector[String],                       // index = docId (conv_id sorted asc)
      tfs: Vector[Map[String, Int]],                // per doc term → tf
      df: Map[String, Int],
      cf: Map[String, Long],
      maxTf: Vector[Int],
      docLen: Vector[Long],
      idf: Map[String, Double],
      bm25Idf: Map[String, Double],
      norms: Vector[Double],
      avgdl: Double) {

    def nDocs: Int = docIds.length

    /** termId by the engine's deterministic scheme: rank by (df desc, term asc). */
    def termIds: Map[String, Long] =
      df.toSeq.sortBy { case (t, d) => (-d, t) }.zipWithIndex
        .map { case ((t, _), i) => t -> i.toLong }.toMap

    /** postings exactly as the engine should decode them:
      * term → docId-ascending (docId, tf). */
    lazy val postings: Map[String, Vector[(Long, Int)]] =
      df.keys.map { t =>
        t -> tfs.zipWithIndex.collect {
          case (m, d) if m.contains(t) => (d.toLong, m(t))
        }.toVector
      }.toMap

    /** tf-idf cosine evaluation (ir_manager.evaluate parity). */
    def evaluateCosine(query: String, mode: QueryMode = Or): Seq[(Long, Double)] = {
      val qTerms = Analyzer.analyze(query, cfg.analyzer)
        .filter(df.contains) // OOV drop (Model/Query.java:36-40)
      if (qTerms.isEmpty) return Seq.empty
      val qtf = qTerms.groupBy(identity).map { case (t, g) => t -> g.length }
      val maxQ = qtf.values.max.toDouble
      val qw = qtf.map { case (t, f) => t -> (f / maxQ) * idf(t) }
      val qNorm = math.sqrt(qw.values.map(w => w * w).sum)
      val scores = Array.fill(nDocs)(0.0)
      val hits = Array.fill(nDocs)(0)
      for ((t, w) <- qw; (d, tf) <- postings(t)) {
        val wd = if (maxTf(d.toInt) == 0) 0.0
          else (tf.toDouble / maxTf(d.toInt)) * idf(t)
        scores(d.toInt) += w * wd
        hits(d.toInt) += 1
      }
      finish(scores, hits, qtf.size, mode) { (d, s) =>
        val div = qNorm * norms(d)
        if (div == 0.0) 0.0 else s / div
      }
    }

    def evaluateBm25(query: String, mode: QueryMode = Or): Seq[(Long, Double)] = {
      val qTerms = Analyzer.analyze(query, cfg.analyzer).filter(df.contains)
      if (qTerms.isEmpty) return Seq.empty
      val qtf = qTerms.groupBy(identity).map { case (t, g) => t -> g.length }
      val scores = Array.fill(nDocs)(0.0)
      val hits = Array.fill(nDocs)(0)
      val k1 = cfg.k1; val b = cfg.b
      val ad = if (avgdl > 0) avgdl else 1.0
      for ((t, f) <- qtf; (d, tf) <- postings(t)) {
        val di = d.toInt
        scores(di) += f * bm25Idf(t) * (tf * (k1 + 1)) /
          (tf + k1 * (1 - b + b * docLen(di) / ad))
        hits(di) += 1
      }
      finish(scores, hits, qtf.size, mode)((_, s) => s)
    }

    private def finish(scores: Array[Double], hits: Array[Int], nq: Int,
        mode: QueryMode)(post: (Int, Double) => Double): Seq[(Long, Double)] =
      scores.indices
        .filter(d => mode == Or || hits(d) == nq)
        .map(d => (d.toLong, post(d, scores(d))))
        .filter(_._2 > 0.0) // T2 client threshold
        .sortBy { case (d, s) => (-s, d) } // T1 + docId tie-break
  }

  /** Index a corpus given as (conv_id → already-assembled doc text). */
  def index(corpus: Seq[(String, String)], cfg: BuildConfig = BuildConfig()): OracleIndex = {
    val sorted = corpus.sortBy(_._1)
    val docIds = sorted.map(_._1).toVector
    val tfs = sorted.map { case (_, text) =>
      Analyzer.analyze(text, cfg.analyzer)
        .groupBy(identity).map { case (t, g) => t -> g.length }
    }.toVector
    val df = tfs.flatMap(_.keys).groupBy(identity)
      .map { case (t, g) => t -> g.length }
    val cf = tfs.flatMap(_.toSeq).groupBy(_._1)
      .map { case (t, g) => t -> g.map(_._2.toLong).sum }
    val maxTf = tfs.map(m => if (m.isEmpty) 0 else m.values.max)
    val docLen = tfs.map(_.values.map(_.toLong).sum)
    val n = docIds.length.toDouble
    val idf = df.map { case (t, d) => t -> math.log10(n / d) }
    val bm25Idf = df.map { case (t, d) =>
      t -> math.log((n - d + 0.5) / (d + 0.5) + 1.0)
    }
    val norms = tfs.zipWithIndex.map { case (m, d) =>
      if (maxTf(d) == 0) 0.0
      else math.sqrt(m.map { case (t, tf) =>
        val w = (tf.toDouble / maxTf(d)) * idf(t); w * w
      }.sum)
    }
    val avgdl = if (docLen.isEmpty) 0.0 else docLen.sum.toDouble / docLen.length
    OracleIndex(cfg, docIds, tfs, df, cf, maxTf, docLen, idf, bm25Idf, norms, avgdl)
  }
}
