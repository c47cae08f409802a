package graft.ir

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

sealed trait QueryMode
case object Or extends QueryMode  // disjunctive union-accumulate (reference serving path)
case object And extends QueryMode // conjunctive posting intersection

sealed trait Scorer
case object TfIdfCosine extends Scorer // reference parity (SURVEY.md §1.4)
case object Bm25 extends Scorer        // north-rule production scorer

/**
 * Query-side engine: analyze → vocabulary lookup (OOV drop) → postings scan
 * with predicate pushdown on term_id → block decode → per-posting score
 * contribution → per-(query, doc) sum → threshold → top-k → doc resolution.
 *
 * One scoring plan ([[scorePlan]]) serves every request class: OR, AND
 * (block-skipped), WAND (block-max pruned) and batch. A single query is a
 * batch of one; the callers differ in the top-k step (ordered for one
 * query, a heap per query for a batch, whose winners then look up their
 * conv_ids) and a large batch's respread. The decoded postings take the
 * plan's one exchange, on doc_id; the pinned doc_stats merge-joins them
 * without moving; the (query, doc) sum needs no second exchange. This is
 * the Spark-native reshape of the reference's client→broker→server→GPU hop
 * chain (SURVEY.md §3.1).
 *
 * Scoring semantics:
 *  - tf-idf cosine: score(d,q) = Σ_t w(t,d)·w(t,q) / (‖q‖·‖d‖) with
 *    w(t,d) = (tf/maxtf_d)·idf_t, w(t,q) = (qtf/maxqtf)·idf_t,
 *    idf = log10(N/df); zero divisor → 0; float query-tf division (the
 *    Python ground-truth path, ir_manager.py:69-96 — see SURVEY.md §1.4 on
 *    the C-side integer-division divergence).
 *  - BM25: Σ_t qtf_t · idf25_t · (k1+1)tf / (tf + k1(1-b+b·dl/avgdl)),
 *    idf25 = ln((N-df+0.5)/(df+0.5)+1).
 */
class Searcher(index: IndexView) extends Serializable {

  import index.cfg

  // BM25 parameters and the view's mean document length, shared by every
  // scoring and bound expression below
  private val k1 = cfg.k1
  private val b = cfg.b
  private val avgdl = if (index.meta.avgdl > 0) index.meta.avgdl else 1.0

  /** The BM25 per-posting term w·(k1+1)·tf / (tf + k1·(1−b+b·dl/avgdl)) —
    * the one saturation expression every scorer, block bound and θ score
    * builds. `w` multiplies the numerator BEFORE the divide (None: the bare
    * saturation), which fixes each caller's double rounding: the serving
    * checks compare paths with exact `==`. */
  private def bm25(tf: Column, dl: Column, w: Option[Column] = None): Column = {
    val num = tf * (k1 + 1)
    w.fold(num)(_ * num) / (tf + lit(k1) * (lit(1 - b) + lit(b / avgdl) * dl))
  }

  /** Joins the doc_stats columns `cols` onto `df` by doc_id. The merge hint
    * keeps the pinned stats side (doc_id-partitioned and sorted like the
    * decode's doc_id exchange) from moving: no exchange, no sort. It holds
    * only while the session's shuffle partition count is the one
    * [[IndexView.pin]] recorded; on any other layout the hint would shuffle
    * both sides, so Spark chooses the join. `spread` = Some(n) first
    * re-hashes `df` on doc_id into n partitions; the stats then join as a
    * broadcast dimension (a shuffle join past IndexBuilder.BroadcastRowLimit
    * docs), as the two sides no longer share a layout. */
  private def withDocStats(spark: SparkSession, df: DataFrame, spread: Option[Int],
      cols: String*): DataFrame = {
    val stats = index.docStats.select("doc_id", cols: _*)
    spread match {
      case Some(n) =>
        df.repartition(n, col("doc_id")).join(IndexBuilder.dim(stats, index.meta.docs), "doc_id")
      case None =>
        val pinned = index.statsPartitions.contains(spark.sessionState.conf.numShufflePartitions)
        df.join(if (pinned) stats.hint("merge") else stats, "doc_id")
    }
  }

  /** Block filter: [first_doc_id, last_doc_id] overlaps one of `intervals`.
    * The intervals are sorted and merged once on the driver, so the
    * per-block test is a binary search for the last start ≤ last. */
  private def overlapsAny(intervals: Array[(Long, Long)]): Column = {
    val merged = intervals.sorted.foldLeft(List.empty[(Long, Long)]) {
      case ((s, e) :: acc, (f, l)) if f <= e => (s, math.max(e, l)) :: acc
      case (acc, iv) => iv :: acc
    }.reverse.toArray
    val starts = merged.map(_._1)
    val ends = merged.map(_._2) // ascending too (disjoint, start-sorted)
    val overlaps = udf((first: Long, last: Long) => {
      var lo = 0
      var hi = starts.length // lo → first interval with start > last
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (starts(m) <= last) lo = m + 1 else hi = m
      }
      lo > 0 && ends(lo - 1) >= first
    })
    overlaps(col("first_doc_id"), col("last_doc_id"))
  }

  /** Query term weights after analysis + OOV drop. */
  private[graft] case class QueryTerm(
      termId: Long, qtf: Int, df: Long, idf: Double, bm25Idf: Double,
      qw: Double,    // tf-idf: w(t,q) = (qtf/maxqtf)·idf(t) — 0 when idf=0 (df==N)
      qwIdf: Double, // tf-idf: w(t,q)·idf(t) — per-tf-unit cosine numerator factor
      qb: Double)    // bm25:  qtf·idf25(t)

  private[graft] def queryTerms(spark: SparkSession, query: String): Seq[QueryTerm] = {
    val terms = Analyzer.analyze(query, cfg.analyzer)
    if (terms.isEmpty) return Seq.empty
    val freq: Map[String, Int] =
      terms.groupBy(identity).map { case (t, g) => t -> g.length }
    // J2/P9: O(1) lookup against the driver-resident vocabulary (the
    // reference loads it once at server start, Model/Vocabulary.java:33-42);
    // above the size guard, a pushed-filter dictionary scan. Terms missing
    // from the vocabulary are dropped exactly as the reference drops them
    // (Model/Query.java:33-41).
    val rows: Seq[TermStat] = index.termLookup match {
      case Some(dict) => freq.keys.iterator.flatMap(dict.get).toSeq
      case None => index.termDict
        .filter(col("term").isin(freq.keys.toSeq: _*))
        .collect().toSeq
    }
    if (rows.isEmpty) return Seq.empty
    val maxQtf = freq.values.max.toDouble
    rows.sortBy(_.term_id).map { ts =>
      val qtf = freq(ts.term)
      val wq = (qtf / maxQtf) * ts.idf
      QueryTerm(ts.term_id, qtf, ts.df, ts.idf, ts.bm25_idf,
        wq, wq * ts.idf, qtf * ts.bm25_idf)
    }
  }

  /** Above this many blocks the rare term's interval list is not collected
    * and AND skip pruning is disabled (≈1M docs at BlockSize 128). */
  private[graft] val AndSkipMaxBlocks: Long = 8192L

  /** BM25 accumulation grid: every per-posting contribution is quantized to
    * a scaled-long fixed point at the 1e-15 grid and summed in exact 64-bit
    * integer arithmetic. Long addition is associative and commutative, so
    * the one (query, doc) hash-aggregate `sum` is IDENTICAL in ANY execution
    * order — bit-stable run to run (a plain double sum drifts at ulp level
    * with shuffle arrival order) and bit-equal for a query served alone,
    * pruned or in a batch (RankIdentitySpec). This replaces the r4
    * decimal(30,15) grid — same determinism contract, but the accumulation
    * stays a primitive-long codegen HashAggregate instead of an object-path
    * Decimal add (the source of the r4 ~30% serving-latency regression,
    * VERDICT r4 #1). The 1e-15 quantum is ~1e-17 relative on BM25 scores
    * (invisible at the oracle's 1e-6 rounding); capacity is |score| ≤
    * 2^63/1e15 ≈ 9.2e3, far above any BM25 total (idf25 ≤ ln N + 1). */
  private[graft] val ScoreScale: Double = 1e15
  /** floor(x·1e15 + ½) as a codegen long — the one shared quantizer; every
    * BM25 contribution MUST route through it. */
  private def qfix(c: Column): Column = floor(c * ScoreScale + lit(0.5))

  /**
   * The k most promising blocks' (first_doc_id, last_doc_id) intervals per
   * term — the WAND θ phase's "where do the big scores live" metadata
   * lookup, served from the view's driver-resident cache (VERDICT r5 #4:
   * these are index-immutable between appends, so paying a Spark job per
   * query for them was the θ path's residual cost). Blocks are ranked by
   * the idf-free BM25 saturation bound (bm25_idf is a positive per-term
   * constant, so the per-term ranking is identical to the full block bound)
   * with a deterministic (bound desc, first_doc_id asc) tie-break; missing
   * terms are computed in ONE metadata-only job. Returned arrays are sorted
   * by first_doc_id.
   */
  private[graft] def topBlockIntervals(
      termIds: Seq[Long], k: Int): Map[Long, Array[(Long, Long)]] = {
    // ONE read per term, and the result is built from what was read plus
    // what was computed — never re-read after the puts: a put at the
    // cache's cap (or a concurrent caller's) clears the whole cache
    val cached = termIds.distinct.map(t => t -> index.thetaIntervalCache.get((t, k)))
    val missing = cached.collect { case (t, null) => t }
    if (missing.isEmpty) return cached.toMap
    val got: Map[Long, Array[(Long, Long)]] = index.postings.toDF()
      .filter(col("term_id").isin(missing: _*))
      .withColumn("bound", bm25(col("max_tf"), col("min_dl")))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("term_id")
          .orderBy(col("bound").desc, col("first_doc_id").asc)))
      .filter(col("rn") <= k)
      .select("term_id", "first_doc_id", "last_doc_id")
      .collect()
      .groupBy(_.getLong(0))
      .map { case (tid, rs) =>
        tid -> rs.map(r => (r.getLong(1), r.getLong(2))).sorted
      }
    val fresh = missing.map(t => t -> got.getOrElse(t, Array.empty[(Long, Long)]))
    fresh.foreach { case (t, v) => index.thetaCachePutBounded((t, k), v) }
    cached.filter(_._2 != null).toMap ++ fresh
  }

  /**
   * J4 block-skip for AND queries — the Spark form of the reference's √df
   * skip-pointer leapfrog (modulos/Postings.py:376-411): collect the rarest
   * term's block ranges (disjoint, docId-ascending: salt ranges are ordered
   * and append batches start past the old max), then decode other terms'
   * blocks only where [first_doc_id, last_doc_id] overlaps one of them. Any
   * doc in a skipped block is absent from the rare term's postings, so it
   * can never reach match-count == |q| — pruning is lossless. A
   * stopword-grade term AND a rare term now decodes O(df_rare/BlockSize)
   * hot blocks instead of the hot term's entire posting list.
   */
  private[graft] def andSurvivorBlocks(
      spark: SparkSession, qts: Seq[QueryTerm]): Option[Dataset[Block]] = {
    val rare = qts.minBy(q => (q.df, q.termId))
    if (rare.df / Codec.BlockSize + 1 > AndSkipMaxBlocks) return None
    val intervals = index.postings
      .filter(col("term_id") === rare.termId)
      .select("first_doc_id", "last_doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    if (intervals.isEmpty) return None // dict/postings drift: fall back
    val others = qts.map(_.termId).filter(_ != rare.termId)
    Some(index.postings.filter(
      col("term_id") === rare.termId ||
        (col("term_id").isin(others: _*) && overlapsAny(intervals))))
  }

  /** Under cosine, ‖q‖ over the query weights w(t,q). */
  private def qNorm(ts: Seq[QueryTerm]): Double = math.sqrt(ts.map(t => t.qw * t.qw).sum)

  /** The queries that can score: some term left after the OOV drop and,
    * under cosine, ‖q‖ > 0 (Query.isEmptyOfTerms; the reference returns
    * nothing for either). */
  private def scorable(
      qs: Seq[(String, Seq[QueryTerm])], scorer: Scorer): Seq[(String, Seq[QueryTerm])] = {
    require(scorer != TfIdfCosine || cfg.cosineNorms,
      "index was built with cosineNorms=false (BM25-only maintenance mode); " +
        "tf-idf cosine scoring needs a norms rebuild")
    qs.filter { case (_, ts) => ts.nonEmpty && (scorer != TfIdfCosine || qNorm(ts) > 0.0) }
  }

  /**
   * The one scoring plan: (qidx, doc_id, score) for every doc that scores
   * > 0 for query `live(qidx)`, decoded from `blocks` (default: every block
   * of the queries' terms), with conv_id after doc_id if `convIds`. The
   * doc_stats columns join each decoded posting before the sum, so every
   * scorer is one per-posting contribution over a broadcast
   * (qidx, term_id, w) table:
   *  - cosine: w(t,q)·idf(t)·tf / (max_tf·‖q‖·‖d‖), 0 on a zero divisor;
   *  - BM25: the fixed-point qfix(bm25(tf, doc_len, qtf·idf25)).
   * AND keeps a (query, doc) group only when all |q| terms matched. The
   * sum groups by (qidx, doc_id): on the pinned layout the stats join's
   * doc_id exchange already clusters it. `spread` = Some(n) re-hashes the
   * decoded postings on doc_id into n partitions instead, which clusters
   * the sum just as well (see [[BatchRespreadCutover]]). With `convIds`
   * conv_id rides the stats join and the sum as a key, which suits one
   * query; a batch's fan-out sums each doc once per query, and a string key
   * there cost ~50% more task CPU than resolving the winners afterwards.
   */
  private def scorePlan(spark: SparkSession, live: Seq[(String, Seq[QueryTerm])],
      mode: QueryMode, scorer: Scorer, blocks: Option[Dataset[Block]],
      convIds: Boolean, spread: Option[Int] = None): DataFrame = {
    import spark.implicits._
    // w(t,q) is carried on QueryTerm, never recovered as qwIdf/idf: a term in
    // EVERY doc has idf = 0, and 0/0 = NaN would poison ‖q‖; it contributes
    // w = 0, as in the reference (ir_manager.py:69-96).
    val weights = broadcast(live.zipWithIndex.flatMap { case ((_, ts), qi) =>
      ts.map(t => (qi, t.termId, if (scorer == Bm25) t.qb else t.qwIdf, qNorm(ts), ts.length))
    }.toDF("qidx", "term_id", "w", "qn", "nq"))
    val termIds = live.flatMap(_._2.map(_.termId)).distinct
    // the native DecodeBlock generator keeps postings in Tungsten rows, with
    // no per-query round trip through Block objects
    val decoded = graft.functions.DecodeBlock.postings(
      blocks.getOrElse(index.postings.filter(col("term_id").isin(termIds: _*))).toDF())
    val (stats, contrib) = scorer match {
      case TfIdfCosine => (Seq("max_tf", "norm"),
        when(col("max_tf") === 0 || col("norm") === 0.0, 0.0).otherwise(
          col("w") * col("tf") / (col("max_tf") * col("qn") * col("norm"))))
      case Bm25 => (Seq("doc_len"), qfix(bm25(col("tf"), col("doc_len"), Some(col("w")))))
    }
    val keys = Seq("qidx", "doc_id") ++ (if (convIds) Seq("conv_id") else Nil)
    val grouped = withDocStats(spark, decoded, spread, keys.drop(2) ++ stats: _*)
      .join(weights, "term_id")
      .withColumn("c", contrib)
    val summed = mode match {
      case Or => grouped.groupBy(keys.map(col): _*).agg(sum(col("c")).as("s"))
      case And => grouped.groupBy((keys :+ "nq").map(col): _*)
        .agg(sum(col("c")).as("s"), count(lit(1)).as("n"))
        .filter(col("n") === col("nq"))
    }
    val score = if (scorer == Bm25) col("s").cast("double") / ScoreScale else col("s")
    summed.select(keys.map(col) :+ score.as("score"): _*)
      // T2: engine standardizes on the client-side threshold (score > 0)
      .filter(col("score") > 0.0)
  }

  /** One query's top k through [[scorePlan]]: TakeOrderedAndProject (a
    * per-partition heap, then a merge), ties broken by doc_id (T1: the
    * reference's tie order is HashMap-unstable, SURVEY.md §7.4 risk 3). */
  private def topK(spark: SparkSession, qts: Seq[QueryTerm], k: Int,
      mode: QueryMode, scorer: Scorer, blocks: Option[Dataset[Block]]): DataFrame = {
    import spark.implicits._
    val live = scorable(Seq("" -> qts), scorer)
    if (live.isEmpty) return spark.emptyDataset[Hit].toDF()
    scorePlan(spark, live, mode, scorer, blocks, convIds = true)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
      .select("doc_id", "conv_id", "score")
  }

  /** Each query's k best rows of a [[scorePlan]] result (no conv_ids) as
    * (qidx, pos, h), h = (doc_id, score), pos 0..k−1 in (score desc,
    * doc_id asc) order: a bounded heap per query (TopKAggregator). Partial
    * aggregation keeps ≤ k rows per (query, task) before the qidx exchange,
    * and nothing sorts a match list. */
  private def heapTopK(scored: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new TopKAggregator(k), TopKAggregator.inputEncoder)
    scored.groupBy("qidx")
      .agg(topk(col("doc_id"), lit(""), col("score")).as("hits"))
      .select(col("qidx"), posexplode(col("hits")).as(Seq("pos", "h")))
  }

  def search(
      spark: SparkSession,
      query: String,
      k: Int,
      mode: QueryMode = Or,
      scorer: Scorer = TfIdfCosine): DataFrame = {
    val qts = queryTerms(spark, query)
    val blocks = if (mode == And && qts.length > 1) andSurvivorBlocks(spark, qts) else None
    topK(spark, qts, k, mode, scorer, blocks)
  }

  /** Below this many total candidate postings the WAND θ phase costs more
    * than the decode it prunes, so the query serves through the exact
    * single-job path (identical results either way — θ = 0 is sound).
    * Break-even arithmetic: the θ job is ~0.2 s of fixed scheduling/
    * broadcast cost; decode+score runs ~5–10M postings/s on this box, and
    * pruning saves at most the decoded fraction — so below a few million
    * candidate postings pruning cannot pay for its own job. Measured: at
    * 600k postings/query the pruned path is ~1.4× SLOWER than exact; block
    * skipping is the 10^9+-postings regime's tool (where it is the only
    * viable path), not a small-index win.
    * (Declared BEFORE BatchExactCutover: a same-class forward val reference
    * silently initializes to 0 — which made the r4 batch cutover 0, running
    * the batch θ job on EVERY batch, part of the j1_batch_topk regression.) */
  val WandExactCutover: Long = 1L << 22

  /** Batch pruning cutover: 4× the single-query one. The batch θ job costs
    * ~0.3 s regardless of batch size, and the batch's exact path amortizes
    * decode across queries, so pruning breaks even later — measured at the
    * 400k-conv bench (5.9M candidate (query, term) postings): unpruned
    * 1.34 s vs pruned 1.63 s with 0% blocks cut (homogeneous corpus =
    * flat score distributions = powerless bounds). The pruned path is the
    * 10^9-posting regime's tool, exactly like the single-query cutover. */
  val BatchExactCutover: Long = 4L * WandExactCutover

  /** Below this many candidate (query, term) posting fan-out rows the batch
    * path skips the full-parallelism respread (VERDICT r4 #5): the exchange
    * bought the 13-query 3.9× win at 400k convs on 32 cores (5.9M fan-out
    * rows were serializing into the serving cache's ~15 partitions) but
    * costs more than it saves on a small batch. ≈2M rows ≈ the work of one
    * serving-sized partition (IndexView.servingPartitions), i.e. respread
    * once the batch carries more than a couple of tasks' worth of scoring.
    * It runs only where it widens: 2× the cores above the serving
    * partition count. */
  val BatchRespreadCutover: Long = 1L << 21

  /**
   * Batch serving: score MANY queries in ONE Spark job — the offline
   * evaluation / reranking shape (score a query log, build a training set,
   * run a relevance sweep). Single-query serving pays ~0.2 s of fixed
   * planning+scheduling per query; the batch path pays it once:
   * [[scorePlan]] over one decode of the queries' term union, then a
   * bounded heap per query ([[heapTopK]]). Results are IDENTICAL to
   * `search` (RankIdentitySpec asserts equality).
   *
   * Output: (query_id, doc_id, conv_id, score, rank), rank 1..k per query,
   * ordered within a query by (score desc, doc_id asc). Queries that are
   * empty after analysis/OOV-drop (or with qNorm 0 under cosine) simply
   * produce no rows, exactly as `search` returns an empty frame.
   */
  def searchBatch(
      spark: SparkSession,
      queries: Seq[(String, String)],
      k: Int,
      scorer: Scorer = Bm25,
      exactCutover: Long = -1L): DataFrame = {
    import spark.implicits._
    // duplicate ids would silently merge two queries' contributions into
    // one aggregation group — refuse loudly instead
    require(queries.map(_._1).distinct.length == queries.length,
      s"searchBatch: duplicate query_id in ${queries.map(_._1).mkString(",")}")
    val live = scorable(
      queries.map { case (qid, text) => qid -> queryTerms(spark, text) }, scorer)
    if (live.isEmpty) return spark.emptyDataset[(String, Long, String, Double, Int)]
      .toDF("query_id", "doc_id", "conv_id", "score", "rank")
    // candidate (query, term) postings: the cutovers' measure of batch work
    val fanout = live.flatMap(_._2).map(_.df).sum
    // BM25 batches above the cutover get per-query block-max pruning on the
    // SHARED decode
    val cutover = if (exactCutover >= 0L) exactCutover else BatchExactCutover
    val blocks =
      if (scorer == Bm25 && fanout > cutover) survivorBlocks(spark, live, k) else None
    // the serving layout deliberately keeps FEW partitions (single-query
    // fixed cost ~ tasks/stage), but a LARGE batch's fan-out work is
    // throughput-bound: spread it over the full parallelism
    val wide = 2 * spark.sparkContext.defaultParallelism
    val spread = Some(wide).filter(_ =>
      fanout >= BatchRespreadCutover && wide > spark.sessionState.conf.numShufflePartitions)
    // queries ride through the big aggregation as a dense INT index, not
    // the caller's string id: the (query, doc) hash-agg touches millions of
    // rows, and narrow numeric keys measurably beat string keys there; the
    // string id is restored on the k·|queries| result rows at the end
    val qidLit = typedLit(live.map(_._1).zipWithIndex.map(_.swap).toMap)
    val scored = scorePlan(spark, live, Or, scorer, blocks, convIds = false, spread = spread)
    val winners = heapTopK(scored, k)
      .select(
        element_at(qidLit, col("qidx")).as("query_id"),
        col("h.doc_id").as("doc_id"),
        col("h.score").as("score"),
        (col("pos") + 1).cast("int").as("rank"))
    // winners are ≤ k·|queries| rows — broadcast THEM into the stats probe,
    // so conv_id resolution never moves the stats table
    broadcast(winners)
      .join(index.docStats.select("doc_id", "conv_id"), "doc_id")
      .select("query_id", "doc_id", "conv_id", "score", "rank")
  }

  /**
   * Block-max pruning for N queries sharing one decode (Ding & Suel,
   * SIGIR 2011) — the one pruning plan: batch serving runs it on the batch,
   * single-query WAND ([[wandPlan]]) on a batch of one.
   *
   *  1. θ_q per query = the k-th largest EXACT FULL q-score among the docs
   *     living in t*_q's top-k blocks, t*_q being q's term with the highest
   *     qtf·gmax (ties → larger term_id). A t*-only θ can never clear the
   *     other terms' global-max slack in the prune condition, so multi-term
   *     queries pruned 0% with it. Computed in at most two tiny jobs
   *     detailed at the implementation below; a −1e-9 margin absorbs the
   *     fixed-point accumulation grid's ≤1e-15 quantization, so θ stays a
   *     sound lower bound on q's k-th best total.
   *  2. A block b of term t survives iff SOME query wants it:
   *     ∃ q∋t: qtf·bound_t(b) + Σ_{t'≠t} qtf·gmax(t') ≥ θ_q
   *     ⇔ bound_t(b) ≥ min_{q∋t} (θ_q − sumGmax_q + qtf·gmax_t)/qtf —
   *     ONE per-term threshold, applied as a codegen filter on block
   *     metadata before any decode.
   *
   * Block bounds are assembled HERE, from append-invariant block metadata
   * (max_tf, min_dl — Schemas.Block) and the CURRENT dictionary/meta stats:
   *   bound_t(b) = idf25(t) · s(max_tf(b), min_dl(b), avgdl)
   * with s the BM25 tf-saturation term. Sound because s is increasing in tf
   * and decreasing in dl, so every posting in the block scores ≤ the bound;
   * appended batches change idf25/avgdl without invalidating stored blocks.
   *
   * Soundness per query: a doc in a block dropped for ALL queries scores
   * < θ_q for each q containing its term, so it cannot reach any top-k;
   * every true top-k doc keeps all its blocks (its bounds dominate its
   * true score ≥ θ). Results are therefore IDENTICAL to the unpruned
   * path (WandFuzzSpec forces pruning and asserts equality).
   * None = nothing prunable (every θ is 0) — caller decodes the full
   * term set.
   */
  private[graft] def survivorBlocks(
      spark: SparkSession,
      live: Seq[(String, Seq[QueryTerm])],
      k: Int): Option[Dataset[Block]] = {
    val allTerms: Map[Long, QueryTerm] = live.flatMap(_._2).map(t => t.termId -> t).toMap
    val termIds = live.flatMap(_._2.map(_.termId)).distinct
    val idfLit = typedLit(allTerms.map { case (tid, t) => tid -> t.bm25Idf })
    val blockBound =
      bm25(col("max_tf"), col("min_dl"), Some(element_at(idfLit, col("term_id"))))

    // per-term global max BM25 doc weight: ZERO jobs from the view's
    // driver-resident term-level block bounds (sound: s is increasing in tf,
    // decreasing in dl, so pairing the term-wide max_tf with the term-wide
    // min_dl only raises the bound); a metadata agg above the dict guard
    val gmax: Map[Long, Double] = index.wandTermBounds match {
      case Some(tb) =>
        def sat(tf: Double, dl: Double): Double = // bm25's driver twin
          (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))
        allTerms.map { case (tid, t) =>
          tid -> tb.get(tid).fold(0.0) { case (mt, md) =>
            t.bm25Idf * sat(mt.toDouble, md.toDouble)
          }
        }
      case None => index.postings
        .filter(col("term_id").isin(termIds: _*))
        .withColumn("bound", blockBound)
        .groupBy("term_id").agg(max("bound").as("m"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    case class QInfo(qid: String, ts: Seq[QueryTerm], tStar: QueryTerm, sumGmax: Double)
    val infos = live.map { case (qid, ts) =>
      QInfo(qid, ts,
        ts.maxBy(t => (t.qtf * gmax.getOrElse(t.termId, 0.0), t.termId)),
        ts.map(t => t.qtf * gmax.getOrElse(t.termId, 0.0)).sum)
    }

    // θ_q = k-th largest EXACT FULL q-score among the docs in the t* terms'
    // top-k blocks. At most two tiny jobs: (1) metadata-only top-k block
    // intervals per t* term, served from the view's (term, k) interval
    // cache — zero jobs once the terms are warm (VERDICT r5 #4); (2) the
    // scoring plan over every query term's blocks overlapping the merged
    // intervals, and its heap top-k's k-th value per query. Any doc inside
    // the intervals has ALL its postings in overlapping blocks, so its
    // score is complete; docs straddling the edges score partially, which
    // only LOWERS θ.
    val intervals = topBlockIntervals(infos.map(_.tStar.termId), k).values.flatten.toArray
    if (intervals.isEmpty) return None
    val candBlocks = index.postings
      .filter(col("term_id").isin(termIds: _*))
      .filter(overlapsAny(intervals))
    val scored = scorePlan(spark, live, Or, Bm25, Some(candBlocks), convIds = false)
    val kth: Map[Int, Double] = heapTopK(scored, k)
      .filter(col("pos") === k - 1)
      .select(col("qidx"), col("h.score"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap

    // fewer than k docs carry t* → the candidate set may be < k docs → θ
    // would not be a sound k-th-total lower bound → θ = 0 for that query
    val thetas: Map[String, Double] = infos.zipWithIndex.map { case (i, qi) =>
      i.qid -> (if (i.tStar.df < k) 0.0
        else kth.get(qi).map(s => math.max(0.0, s - 1e-9)).getOrElse(0.0))
    }.toMap
    if (thetas.values.forall(_ <= 0.0)) return None

    val need: Map[Long, Double] = allTerms.keysIterator.map { tid =>
      val qs = infos.filter(_.ts.exists(_.termId == tid))
      tid -> qs.map { i =>
        val th = thetas(i.qid)
        if (th <= 0.0) Double.NegativeInfinity
        else {
          val qt = i.ts.find(_.termId == tid).get
          (th - i.sumGmax + qt.qtf * gmax.getOrElse(tid, 0.0)) / qt.qtf
        }
      }.min
    }.toMap
    val needLit = typedLit(need)
    Some(index.postings
      .filter(col("term_id").isin(termIds: _*))
      .filter(blockBound >= element_at(needLit, col("term_id"))))
  }

  /**
   * Block-max pruned BM25 top-k (the north rule's WAND path): the scoring
   * plan decodes only the blocks [[survivorBlocks]] keeps for the query as
   * a batch of one — θ = the k-th best full score among the docs in the
   * top term's k most promising blocks, and a block survives iff
   * qtf·bound + Σ_{t'≠t} qtf·gmax(t') ≥ θ. Results equal the exact path
   * (WandFuzzSpec). At or below `exactCutover` candidate postings the query
   * serves exact: the θ jobs would cost more than the decode they save.
   */
  def searchBm25Wand(
      spark: SparkSession,
      query: String,
      k: Int,
      exactCutover: Long = WandExactCutover): DataFrame = {
    val qts = queryTerms(spark, query)
    val blocks =
      if (qts.isEmpty || qts.map(_.df).sum <= exactCutover) None
      else Some(wandPlan(spark, qts, k)._2)
    topK(spark, qts, k, Or, Bm25, blocks)
  }

  /** The WAND pruning decision for an analyzed term set: (candidate block
    * set, surviving block set) — [[survivorBlocks]] on a batch of one, all
    * candidates surviving when nothing prunes. Shared by [[searchBm25Wand]]
    * and Bench's wand_prune section, so what the probe counts IS what
    * serving decodes. */
  private[graft] def wandPlan(
      spark: SparkSession, qts: Seq[QueryTerm], k: Int): (Dataset[Block], Dataset[Block]) = {
    val candidates = index.postings.filter(col("term_id").isin(qts.map(_.termId): _*))
    (candidates, survivorBlocks(spark, Seq("" -> qts), k).getOrElse(candidates))
  }
}
