package graft.ir

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame, Dataset, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{DecodeBlock, OverlapsAny, Slot, Table}

sealed trait QueryMode
case object Or extends QueryMode  // disjunctive union-accumulate (reference serving path)
case object And extends QueryMode // conjunctive posting intersection

sealed trait Scorer
case object TfIdfCosine extends Scorer // reference parity (SURVEY.md §1.4)
case object Bm25 extends Scorer        // north-rule production scorer

/**
 * Which blocks of the queries' terms a plan decodes. The kind shapes the
 * plan; its data binds per query as slots.
 *  - AllBlocks: every block;
 *  - Overlapping: the blocks overlapping their term's intervals (AND's
 *    rare-term skip, WAND θ's candidates);
 *  - Reaching: the blocks whose BM25 bound idf25(t)·s(max_tf, min_dl)
 *    reaches their term's need (WAND's survivors).
 */
private[ir] sealed trait Blocks extends Product { def slots: Map[String, Any] = Map.empty }
private[ir] case object AllBlocks extends Blocks
private[ir] final case class Overlapping(intervals: Map[Long, Array[Long]]) extends Blocks {
  override def slots: Map[String, Any] = Map("intervals" -> intervals)
}
private[ir] final case class Reaching(idf: Map[Long, Double], need: Map[Long, Double]) extends Blocks {
  override def slots: Map[String, Any] = Map("idf" -> idf, "need" -> need)
}

/**
 * Query-side engine: analyze → vocabulary lookup (OOV drop) → postings scan
 * with predicate pushdown on term_id → block decode → per-posting score
 * contribution → per-(query, doc) sum → threshold → top-k → doc resolution.
 *
 * One scoring plan ([[scorePlan]]) serves every request class: OR, AND
 * (block-skipped), WAND (block-max pruned) and batch. A single query is a
 * batch of one; the callers differ in the top-k step (ordered for one
 * query, a heap per query for a batch, whose winners then look up their
 * conv_ids) and a large batch's respread. On a view pinned into one
 * partition (an index under ~4M postings, [[IndexView.servingPartitions]])
 * a single query has no exchange at all: the decode, the stats merge-join,
 * the (query, doc) sum and the top-k run in the scan's one task, as the
 * reference scores a query in one pass over its resident index. On more
 * partitions the decoded postings take the plan's one exchange, on doc_id;
 * the pinned doc_stats merge-joins them without moving; the (query, doc)
 * sum needs no second exchange. This is the Spark-native reshape of the
 * reference's client→broker→server→GPU hop chain (SURVEY.md §3.1).
 *
 * Prepared plans: like the reference's server, which loads the index once
 * and answers every query against that state (GpuServerHandler.java:
 * 178-284), a Searcher builds and analyzes each plan once per query class
 * — (request, mode, scorer, block filter) — with [[Slot]]s where a
 * query's data goes, and a query only binds its own: the `term_id IN`
 * literal list the cached postings scan prunes on, the term weights as
 * one map literal expanded per posting (in place of a broadcast join of a
 * weight table, which cost a job of its own), k, and the block filter's
 * intervals or bounds. Every value a query binds is either the term list
 * or a map or array literal, which generated code references instead of
 * inlining, so a fresh term set compiles only its term filter. The plans
 * run in the view's serving session ([[IndexView.pin]]); the `spark`
 * arguments are kept for callers and not used.
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

  /** Where every query on the view is planned and run: a pinned view's
    * serving session, else the session its tables belong to. */
  @transient private lazy val session: SparkSession =
    index.serving.getOrElse(index.postings.sparkSession)
  @transient private lazy val postings: DataFrame = table(index.postings)
  @transient private lazy val docStats: DataFrame = table(index.docStats)

  /** One of the view's tables as a prepared plan reads it: a [[Table]]. */
  private def table(ds: Dataset[_]): DataFrame =
    GraftBridge.ofRows(session, Table(ds.queryExecution.analyzed))

  /** The analyzed plan of each query class, built on first use. */
  @transient private lazy val plans = new ConcurrentHashMap[String, LogicalPlan]()

  /** Query class `key`'s plan, built by `build` on its first query, with
    * one query's data bound into the Searcher's own nodes, those above the
    * view's tables: `slots` by name, and `k` as every limit and
    * `collect_top_k` size. Analysis of the bound plan revisits only the
    * nodes that binding replaced. */
  private def run(key: String, k: Int, slots: Map[String, Any])(build: => DataFrame): DataFrame = {
    val plan = plans.computeIfAbsent(key, _ => build.queryExecution.analyzed)
    GraftBridge.ofRows(session, Slot.bind(plan, slots) {
      case GlobalLimit(_, c) => GlobalLimit(Literal(k), c)
      case LocalLimit(_, c) => LocalLimit(Literal(k), c)
      case p => p.transformExpressions { case t: CollectTopK => t.copy(num = k) }
    })
  }

  /** Slot types: per term_id, the (query, w, ‖q‖, |q|) of each query that
    * has the term (see [[scorePlan]]); per-term doubles; per-term packed
    * intervals; the batch's query ids by qidx. */
  private val Weights = MapType(LongType, ArrayType(StructType(Seq(
    StructField("qidx", IntegerType, nullable = false),
    StructField("w", DoubleType, nullable = false),
    StructField("qn", DoubleType, nullable = false),
    StructField("nq", IntegerType, nullable = false))), containsNull = false))
  private val PerTerm = MapType(LongType, DoubleType, valueContainsNull = false)
  private val Intervals = MapType(LongType, ArrayType(LongType, containsNull = false))
  private val QueryIds = MapType(IntegerType, StringType, valueContainsNull = false)

  /** The BM25 per-posting term w·(k1+1)·tf / (tf + k1·(1−b+b·dl/avgdl)) —
    * the one saturation expression every scorer, block bound and θ score
    * builds. `w` multiplies the numerator BEFORE the divide (None: the bare
    * saturation), which fixes each caller's double rounding: the serving
    * checks compare paths with exact `==`. */
  private def bm25(tf: Column, dl: Column, w: Option[Column] = None): Column = {
    val num = tf * (k1 + 1)
    w.fold(num)(_ * num) / (tf + lit(k1) * (lit(1 - b) + lit(b / avgdl) * dl))
  }

  /** [[bm25]]'s driver twin, in the Column's operation order (w = 1: the
    * bare saturation), so a bound computed here ties and compares `==` with
    * the plans' bit for bit. */
  private def bm25(tf: Int, dl: Long, w: Double): Double =
    w * (tf * (k1 + 1)) / (tf + k1 * ((1 - b) + (b / avgdl) * dl))

  /** Joins the doc_stats columns `cols` onto `df` by doc_id. On a pinned
    * view the merge hint keeps the stats side (doc_id-partitioned and
    * sorted like the decode's doc_id exchange, in as many partitions as
    * the serving session shuffles into) from moving: no exchange, no sort.
    * Pinned into one partition, both sides are already that one partition,
    * so the decode needs no exchange either: only a sort by doc_id in the
    * scan's task. On an unpinned view the hint would shuffle both sides, so
    * Spark chooses the join. `spread` first re-hashes `df` on doc_id into
    * [[wide]] partitions; the stats then join as a broadcast dimension (a
    * shuffle join past IndexBuilder.BroadcastRowLimit docs), as the two
    * sides no longer share a layout. */
  private def withDocStats(df: DataFrame, spread: Boolean, cols: String*): DataFrame = {
    val stats = docStats.select("doc_id", cols: _*)
    if (spread) df.repartition(wide, col("doc_id")).join(IndexBuilder.dim(stats, index.meta.docs), "doc_id")
    else df.join(if (index.serving.isDefined) stats.hint("merge") else stats, "doc_id")
  }

  /** A large batch's decode width: 2× the cores. */
  private def wide: Int = 2 * session.sparkContext.defaultParallelism

  /** An interval list that every block overlaps. */
  private val Everywhere = Array(Long.MinValue, Long.MaxValue)

  /** The BM25 bound of a block of term_id, bm25(max_tf, min_dl) with the
    * term's idf25 from `idf`. */
  private def blockBound(idf: Column): Column =
    bm25(col("max_tf"), col("min_dl"), Some(element_at(idf, col("term_id"))))

  /** The filter of [[Blocks]] `blocks` over the postings: `term_id IN`
    * the bound term list, and the kind's block test. */
  private def keep(blocks: Blocks): Column = {
    val terms = Slot.in(col("term_id"), "terms", LongType)
    blocks match {
      case AllBlocks => terms
      case _: Overlapping => terms && OverlapsAny.column(col("first_doc_id"), col("last_doc_id"),
        element_at(Slot.column("intervals", Intervals), col("term_id")))
      case _: Reaching => terms && blockBound(Slot.column("idf", PerTerm)) >=
        element_at(Slot.column("need", PerTerm), col("term_id"))
    }
  }

  /** The blocks of `termIds` that `blocks` keeps, as a table (the probes
    * and specs count them). */
  private def blockTable(termIds: Seq[Long], blocks: Blocks): Dataset[Block] = {
    import session.implicits._
    run(s"blocks/${blocks.productPrefix}", 0, blocks.slots + ("terms" -> termIds))(
      postings.filter(keep(blocks))).as[Block]
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
      case None =>
        import session.implicits._
        run("dict", 0, Map("terms" -> freq.keys.toSeq))(
          table(index.termDict).filter(Slot.in(col("term"), "terms", StringType)))
          .as[TermStat].collect().toSeq
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
   * term — the WAND θ phase's "where do the big scores live" lookup, read
   * from the view's block directory with no Spark job. Blocks are ranked by
   * the idf-free BM25 saturation bound (bm25_idf is a positive per-term
   * constant, so the per-term ranking is identical to the full block bound)
   * with a deterministic (bound desc, first_doc_id asc) tie-break: a stable
   * sort of the term's blocks, which the directory keeps in first_doc_id
   * order. Above the directory's guard, the k smallest (−bound,
   * first_doc_id, last_doc_id) per term by `collect_top_k`, in ONE
   * metadata-only job. Returned arrays are sorted by first_doc_id.
   */
  private[graft] def topBlockIntervals(
      termIds: Seq[Long], k: Int): Map[Long, Array[(Long, Long)]] = {
    val got: Map[Long, Seq[(Long, Long)]] = index.wandTermBounds match {
      case Some(dir) => termIds.map(t => t -> dir.blocks(t)
        .sortBy(i => -bm25(dir.maxTf(i), dir.minDl(i), 1.0))(Ordering.Double.TotalOrdering)
        .take(k).map(i => (dir.first(i), dir.last(i)))).toMap
      case None => run("intervals", k, Map("terms" -> termIds.distinct))(
        postings.filter(keep(AllBlocks)).groupBy("term_id")
          .agg(GraftBridge.collectTopK(struct(-bm25(col("max_tf"), col("min_dl")),
            col("first_doc_id"), col("last_doc_id")), 1)))
        .collect().map(r => r.getLong(0) -> r.getSeq[Row](1).map(b => (b.getLong(1), b.getLong(2)))).toMap
    }
    termIds.map(t => t -> got.getOrElse(t, Nil).toArray.sorted).toMap
  }

  /** The docId intervals of term `t`'s blocks: the view's block directory,
    * else a metadata-only job. */
  private[graft] def blockIntervals(t: Long): Seq[(Long, Long)] = index.wandTermBounds match {
    case Some(dir) => dir.blocks(t).map(i => (dir.first(i), dir.last(i)))
    case None => run("rare", 0, Map("terms" -> Seq(t)))(
      postings.filter(keep(AllBlocks)).select("first_doc_id", "last_doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
  }

  /**
   * J4 block-skip for AND queries — the Spark form of the reference's √df
   * skip-pointer leapfrog (modulos/Postings.py:376-411): read the rarest
   * term's block ranges (disjoint, docId-ascending: salt ranges are ordered
   * and append batches start past the old max) from the view's block
   * directory, then decode other terms' blocks only where [first_doc_id,
   * last_doc_id] overlaps one of them. Any doc in a skipped block is absent
   * from the rare term's postings, so it can never reach match-count == |q|
   * — pruning is lossless. A stopword-grade term AND a rare term now decodes
   * O(df_rare/BlockSize) hot blocks instead of the hot term's entire posting
   * list.
   */
  private def andSkip(qts: Seq[QueryTerm]): Option[Blocks] = {
    val rare = qts.minBy(q => (q.df, q.termId))
    if (rare.df / Codec.BlockSize + 1 > AndSkipMaxBlocks) return None
    val intervals = blockIntervals(rare.termId)
    if (intervals.isEmpty) return None // dict/postings drift: fall back
    val packed = OverlapsAny.pack(intervals)
    Some(Overlapping(qts.map(t =>
      t.termId -> (if (t.termId == rare.termId) Everywhere else packed)).toMap))
  }

  private[graft] def andSurvivorBlocks(
      spark: SparkSession, qts: Seq[QueryTerm]): Option[Dataset[Block]] =
    andSkip(qts).map(blockTable(qts.map(_.termId), _))

  /** Refuses k < 0. k = 0 asks for no hits: every entry point then
    * analyzes no query and returns its empty frame, with no Spark job. */
  private def wantsHits(k: Int): Boolean = {
    require(k >= 0, s"top-k needs k >= 0, got k = $k")
    k > 0
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
   * > 0 for query qidx, decoded from the queries' term blocks that
   * `blocks` keeps, with conv_id after doc_id if `convIds`. The doc_stats
   * columns join each decoded posting before the sum, so every scorer is
   * one per-posting contribution over the (qidx, w, qn, nq) rows that the
   * `weights` slot maps its term to (one row per query that has the term):
   *  - cosine: w(t,q)·idf(t)·tf / (max_tf·‖q‖·‖d‖), 0 on a zero divisor;
   *  - BM25: the fixed-point qfix(bm25(tf, doc_len, qtf·idf25)).
   * AND keeps a (query, doc) group only when all |q| terms matched. The
   * sum groups by (qidx, doc_id): on the pinned layout the stats join's
   * doc_id exchange, or the one partition, already clusters it. `spread`
   * re-hashes the decoded postings on doc_id into [[wide]] partitions
   * instead, which clusters the sum just as well (see
   * [[BatchRespreadCutover]]). With `convIds`
   * conv_id rides the stats join and the sum as a key, which suits one
   * query; a batch's fan-out sums each doc once per query, and a string key
   * there cost ~50% more task CPU than resolving the winners afterwards.
   */
  private def scorePlan(mode: QueryMode, scorer: Scorer, blocks: Blocks,
      convIds: Boolean, spread: Boolean): DataFrame = {
    // the native DecodeBlock generator keeps postings in Tungsten rows, with
    // no per-query round trip through Block objects
    val decoded = DecodeBlock.postings(postings.filter(keep(blocks)))
    val (stats, contrib) = scorer match {
      case TfIdfCosine => (Seq("max_tf", "norm"),
        when(col("max_tf") === 0 || col("norm") === 0.0, 0.0).otherwise(
          col("w") * col("tf") / (col("max_tf") * col("qn") * col("norm"))))
      case Bm25 => (Seq("doc_len"), qfix(bm25(col("tf"), col("doc_len"), Some(col("w")))))
    }
    val keys = Seq("qidx", "doc_id") ++ (if (convIds) Seq("conv_id") else Nil)
    val grouped = withDocStats(decoded, spread, keys.drop(2) ++ stats: _*)
      .select(col("*"), inline(element_at(Slot.column("weights", Weights), col("term_id"))))
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

  /** The slots of a [[scorePlan]] over `live` with `blocks`: the term list,
    * the weights and the block filter's data. w(t,q) is carried on
    * QueryTerm, never recovered as qwIdf/idf: a term in EVERY doc has
    * idf = 0, and 0/0 = NaN would poison ‖q‖; it contributes w = 0, as in
    * the reference (ir_manager.py:69-96). */
  private def scoring(live: Seq[(String, Seq[QueryTerm])], scorer: Scorer,
      blocks: Blocks): Map[String, Any] = {
    val weights = live.zipWithIndex.flatMap { case ((_, ts), qi) =>
      ts.map(t => t.termId -> Row(qi, if (scorer == Bm25) t.qb else t.qwIdf, qNorm(ts), ts.length))
    }.groupMap(_._1)(_._2)
    blocks.slots ++ Map("terms" -> weights.keys.toSeq.sorted, "weights" -> weights)
  }

  /** One query's top k through [[scorePlan]]: TakeOrderedAndProject (a
    * per-partition heap, then a merge), ties broken by doc_id (T1: the
    * reference's tie order is HashMap-unstable, SURVEY.md §7.4 risk 3). */
  private def topK(qts: Seq[QueryTerm], k: Int, mode: QueryMode, scorer: Scorer,
      blocks: Blocks): DataFrame = {
    import session.implicits._
    val live = scorable(Seq("" -> qts), scorer)
    if (live.isEmpty) return session.emptyDataset[Hit].toDF()
    run(s"single/$mode/$scorer/${blocks.productPrefix}", k, scoring(live, scorer, blocks))(
      scorePlan(mode, scorer, blocks, convIds = true, spread = false)
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(1) // k binds per query
        .select("doc_id", "conv_id", "score"))
  }

  /** Each query's k best rows of a [[scorePlan]] result (no conv_ids) as
    * (qidx, hits), hits = the k smallest (−score, doc_id) in ascending
    * order, i.e. (score desc, doc_id asc): a bounded heap per query,
    * `collect_top_k`, whose size k binds per query. Partial aggregation
    * keeps ≤ k rows per (query, task) before the qidx exchange, and nothing
    * sorts a match list. */
  private def heapTopK(scored: DataFrame): DataFrame =
    scored.groupBy("qidx").agg(GraftBridge.collectTopK(
      struct((-col("score")).as("neg"), col("doc_id")), 1).as("hits"))

  def search(
      spark: SparkSession,
      query: String,
      k: Int,
      mode: QueryMode = Or,
      scorer: Scorer = TfIdfCosine): DataFrame = {
    val qts = if (wantsHits(k)) queryTerms(spark, query) else Nil
    val blocks = if (mode == And && qts.length > 1) andSkip(qts) else None
    topK(qts, k, mode, scorer, blocks.getOrElse(AllBlocks))
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
    * costs more than it saves on a small batch. It runs only where it
    * widens: 2× the cores above the serving partition count, which on a
    * one-partition pin is every core. Measured there (same-JVM A/B, local[4],
    * Zipf batches; BENCH/BASELINE.md "One-partition serving layout"), the
    * respread lost below ~250k rows (at 95k, 113k and 250k it was faster in
    * 4, 2 and 5 of 20 pairs) and won from ~300k (293k: 13/20; 498k: 17/20;
    * 919k: 19/20; 2.9M: 20/20), so it starts at 2^18 ≈ 262k. */
  val BatchRespreadCutover: Long = 1L << 18

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
    import session.implicits._
    // duplicate ids would silently merge two queries' contributions into
    // one aggregation group — refuse loudly instead
    require(queries.map(_._1).distinct.length == queries.length,
      s"searchBatch: duplicate query_id in ${queries.map(_._1).mkString(",")}")
    val live = scorable(if (!wantsHits(k)) Nil
      else queries.map { case (qid, text) => qid -> queryTerms(spark, text) }, scorer)
    if (live.isEmpty) return session.emptyDataset[(String, Long, String, Double, Int)]
      .toDF("query_id", "doc_id", "conv_id", "score", "rank")
    // candidate (query, term) postings: the cutovers' measure of batch work
    val fanout = live.flatMap(_._2).map(_.df).sum
    // BM25 batches above the cutover get per-query block-max pruning on the
    // SHARED decode
    val cutover = if (exactCutover >= 0L) exactCutover else BatchExactCutover
    val blocks = (if (scorer == Bm25 && fanout > cutover) prune(live, k) else None)
      .getOrElse(AllBlocks)
    // the serving layout deliberately keeps FEW partitions, one under ~4M
    // postings (single-query fixed cost ~ tasks/stage), but a LARGE batch's
    // fan-out work is throughput-bound: spread it over the full parallelism
    val spread = fanout >= BatchRespreadCutover &&
      wide > session.sessionState.conf.numShufflePartitions
    // queries ride through the big aggregation as a dense INT index, not
    // the caller's string id: the (query, doc) hash-agg touches millions of
    // rows, and narrow numeric keys measurably beat string keys there; the
    // string id is restored on the k·|queries| result rows at the end
    val qids = live.map(_._1).zipWithIndex.map(_.swap).toMap
    run(s"batch/$scorer/${blocks.productPrefix}/$spread", k,
        scoring(live, scorer, blocks) + ("qids" -> qids)) {
      val winners = heapTopK(scorePlan(Or, scorer, blocks, convIds = false, spread))
        .select(col("qidx"), posexplode(col("hits")).as(Seq("pos", "h")))
        .select(
          element_at(Slot.column("qids", QueryIds), col("qidx")).as("query_id"),
          col("h.doc_id").as("doc_id"),
          (-col("h.neg")).as("score"),
          (col("pos") + 1).cast("int").as("rank"))
      // winners are ≤ k·|queries| rows — broadcast THEM into the stats
      // probe, so conv_id resolution never moves the stats table
      broadcast(winners)
        .join(docStats.select("doc_id", "conv_id"), "doc_id")
        .select("query_id", "doc_id", "conv_id", "score", "rank")
    }
  }

  /** Each term's global max BM25 doc weight (gmax): the max over its blocks
    * of the block bound idf25·s(max_tf, min_dl), for the terms of `idf`
    * that have blocks. From the view's block directory with no Spark job,
    * else a metadata-only aggregation. */
  private[graft] def termGmax(idf: Map[Long, Double]): Map[Long, Double] =
    index.wandTermBounds match {
      case Some(dir) => idf.flatMap { case (t, w) => dir.blocks(t)
        .map(i => bm25(dir.maxTf(i), dir.minDl(i), w)).reduceOption[Double](math.max).map(t -> _) }
      case None => run("gmax", 0, Map("terms" -> idf.keys.toSeq, "idf" -> idf))(
        postings.filter(keep(AllBlocks))
          .groupBy("term_id").agg(max(blockBound(Slot.column("idf", PerTerm))).as("m")))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
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
   *     queries pruned 0% with it. Computed in one tiny job (two above
   *     the block directory's guard) detailed at the implementation below;
   *     a −1e-9 margin absorbs the fixed-point accumulation grid's ≤1e-15
   *     quantization, so θ stays a sound lower bound on q's k-th best total.
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
  private def prune(live: Seq[(String, Seq[QueryTerm])], k: Int): Option[Blocks] = {
    val allTerms: Map[Long, QueryTerm] = live.flatMap(_._2).map(t => t.termId -> t).toMap
    val idf = allTerms.map { case (tid, t) => tid -> t.bm25Idf }

    val gmax = termGmax(idf)
    case class QInfo(qid: String, ts: Seq[QueryTerm], tStar: QueryTerm, sumGmax: Double)
    val infos = live.map { case (qid, ts) =>
      QInfo(qid, ts,
        ts.maxBy(t => (t.qtf * gmax.getOrElse(t.termId, 0.0), t.termId)),
        ts.map(t => t.qtf * gmax.getOrElse(t.termId, 0.0)).sum)
    }

    // θ_q = k-th largest EXACT FULL q-score among the docs in the t* terms'
    // top-k blocks. One tiny job, two above the directory's guard: (1) the
    // top-k block intervals per t* term, read from the view's block
    // directory (a metadata-only job above the guard); (2) the scoring plan
    // over every query term's blocks overlapping the merged intervals, and
    // the last of its heap's k values per query (fewer than k values: no
    // k-th score, θ = 0). Any doc inside the intervals has ALL its postings
    // in overlapping blocks, so its score is complete; docs straddling the
    // edges score partially, which only LOWERS θ.
    val intervals = topBlockIntervals(infos.map(_.tStar.termId), k).values.flatten.toSeq
    if (intervals.isEmpty) return None
    val packed = OverlapsAny.pack(intervals)
    val candidates = Overlapping(allTerms.map { case (tid, _) => tid -> packed })
    val kth: Map[Int, Double] = run("theta", k, scoring(live, Bm25, candidates))(
      heapTopK(scorePlan(Or, Bm25, candidates, convIds = false, spread = false))
        .select(col("qidx"), size(col("hits")),
          (-element_at(col("hits"), -1).getField("neg")).as("score")))
      .collect().collect { case r if r.getInt(1) == k => r.getInt(0) -> r.getDouble(2) }.toMap

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
    Some(Reaching(idf, need))
  }

  private[graft] def survivorBlocks(
      spark: SparkSession,
      live: Seq[(String, Seq[QueryTerm])],
      k: Int): Option[Dataset[Block]] =
    prune(live, k).map(blockTable(live.flatMap(_._2.map(_.termId)).distinct, _))

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
    val qts = if (wantsHits(k)) queryTerms(spark, query) else Nil
    val blocks =
      if (qts.isEmpty || qts.map(_.df).sum <= exactCutover) None
      else prune(Seq("" -> qts), k)
    topK(qts, k, Or, Bm25, blocks.getOrElse(AllBlocks))
  }

  /** The WAND pruning decision for an analyzed term set: (candidate block
    * set, surviving block set) — [[survivorBlocks]] on a batch of one, all
    * candidates surviving when nothing prunes. Its pruning is the one
    * [[searchBm25Wand]] runs, so what Bench's wand_prune section counts IS
    * what serving decodes. */
  private[graft] def wandPlan(
      spark: SparkSession, qts: Seq[QueryTerm], k: Int): (Dataset[Block], Dataset[Block]) = {
    val candidates = blockTable(qts.map(_.termId), AllBlocks)
    (candidates, survivorBlocks(spark, Seq("" -> qts), k).getOrElse(candidates))
  }
}
