package graft.ir

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, ScalaAggregator, TypedAggregateExpression}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

import graft.SparkSpec

/**
 * Serving-plan contract: the physical plan properties the 100 TB posture
 * depends on must not silently regress. String assertions run against the
 * segment of the executed plan ABOVE the first InMemoryRelation — the
 * query's own operators — because the cached relation's stored build
 * lineage (which legitimately contains object codecs for the posting
 * ENCODE) prints below it.
 */
class PlanContractSpec extends SparkSpec {

  private lazy val view =
    IndexBuilder.build(spark, Fixtures.synthTurns(spark, 150)).pin()

  private def servingPlan(q: String, scorer: Scorer): String = {
    val df = new Searcher(view).search(spark, q, 10, Or, scorer)
    df.count() // finalize the adaptive plan
    df.queryExecution.executedPlan.toString.split("InMemoryRelation")(0)
  }

  test("search plan: native generator decode, no per-query object round-trip") {
    for (scorer <- Seq[Scorer](Bm25, TfIdfCosine)) {
      val plan = servingPlan("pais libre software", scorer)
      assert(plan.contains("Generate decodeblock"),
        s"decode is not the native generator:\n$plan")
      assert(!plan.contains("DeserializeToObject"),
        s"query path re-grew an object round-trip:\n$plan")
      assert(!plan.contains("MapPartitions"),
        s"query path re-grew a lambda stage:\n$plan")
    }
  }

  test("search plan: term filter reaches the cached postings scan") {
    val plan = servingPlan("pais libre", Bm25)
    // the IN predicate must sit ON the InMemoryTableScan line (batch-stat
    // pruning), not only in a Filter above it
    val scanLine = plan.linesIterator
      .find(l => l.contains("InMemoryTableScan") && l.contains("doc_ids"))
      .getOrElse(fail(s"no postings scan line:\n$plan"))
    assert(scanLine.contains("term_id") && scanLine.contains(" IN "),
      s"term_id IN not pushed to the cached scan:\n$scanLine")
    // column pruning: decode needs 4 block columns, never the 5 metadata ones
    assert(!scanLine.contains("block_max_ntf") && !scanLine.contains("min_dl"),
      s"decode scan reads metadata columns it never uses:\n$scanLine")
  }

  test("build plan: document text never crosses an exchange") {
    import org.apache.spark.sql.functions.col
    val turns = Fixtures.synthTurns(spark, 50)
    val docMap = IndexBuilder.zipWithDenseIdCounted(
      turns.select("conv_id").distinct(), Seq(col("conv_id")), "doc_id")
      .table.select("doc_id", "conv_id")
    val tf = IndexBuilder.tfStage(turns, docMap, 50L, Analyzer.Reference)
    tf.count()
    val plan = tf.queryExecution.executedPlan.toString
    val exchange = plan.indexOf("Exchange hashpartitioning(doc_id")
    val text = plan.indexOf("text#")
    assert(exchange >= 0, s"no (doc_id, term) exchange:\n$plan")
    // parents print above children: text must appear only BELOW the
    // exchange (scan/tokenize side) — compact (doc_id, term) pairs are the
    // only thing that shuffles
    assert(text > exchange, s"document text reached the exchange:\n$plan")
  }

  test("wand plan: survivors decode through the native generator too") {
    // exactCutover=0 forces the pruned path even on this tiny index
    val df = new Searcher(view)
      .searchBm25Wand(spark, "pais libre software", 10, exactCutover = 0L)
    df.count()
    val plan = df.queryExecution.executedPlan.toString.split("InMemoryRelation")(0)
    assert(plan.contains("Generate decodeblock"),
      s"WAND survivors decode is not the native generator:\n$plan")
    assert(!plan.contains("DeserializeToObject"),
      s"WAND path re-grew an object round-trip (ADVICE r2):\n$plan")
    assert(!plan.contains("MapPartitions"),
      s"WAND path re-grew a lambda stage:\n$plan")
  }

  test("batch plan: no window sort, native decode, winners-broadcast resolution") {
    val df = new Searcher(view).searchBatch(spark,
      Seq("a" -> "pais libre", "b" -> "tecnologia estado", "c" -> "software"), 10)
    df.count()
    val plan = df.queryExecution.executedPlan.toString.split("InMemoryRelation")(0)
    // the r3 shape's per-query row_number window (full match-list sort) must
    // stay dead: top-k comes from the bounded heap aggregate
    assert(!plan.contains("Window"), s"batch path re-grew a window sort:\n$plan")
    assert(plan.contains("Generate decodeblock"),
      s"batch decode is not the native generator:\n$plan")
    // conv_ids resolve by broadcasting the tiny winners side — the stats
    // table must not be exchanged for it
    assert(plan.contains("BroadcastHashJoin"), s"winners join not broadcast:\n$plan")
    // the heap is Catalyst's collect_top_k, not a typed Aggregator
    assert(plan.contains("collect_top_k"), s"batch heap is not collect_top_k:\n$plan")
    val aggs = nodes(df.queryExecution.executedPlan)
      .collect { case a: BaseAggregateExec => a.aggregateExpressions.map(_.aggregateFunction) }
      .flatten
    assert(aggs.exists(_.isInstanceOf[CollectTopK]), s"no CollectTopK node:\n$plan")
    val typed = aggs.filter(f =>
      f.isInstanceOf[ScalaAggregator[_, _, _]] || f.isInstanceOf[TypedAggregateExpression])
    assert(typed.isEmpty, s"typed Aggregator left in the batch plan: $typed")
  }

  test("search plan: exactly one wide exchange (the per-doc score agg)") {
    val plan = servingPlan("pais libre software", Bm25)
    val exchanges = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") || l.contains("Exchange rangepartitioning"))
    assert(exchanges == 1, s"expected 1 wide exchange, got $exchanges:\n$plan")
    // the pinned doc_stats side joins with no exchange of its own: the only
    // hashpartitioning exchange keys on doc_id (the agg), nothing else
    assert(plan.contains("hashpartitioning(doc_id"), plan)
  }

  /** A node's children, through adaptive plans and their query stages. */
  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case _ => p.children
  }
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(nodes)

  /** The executed plan of `df`, after running it. */
  private def executed(df: DataFrame): SparkPlan = { df.count(); df.queryExecution.executedPlan }

  /** Every single-child chain of nodes that ends at a doc_stats scan: an
    * Exchange on one means the stats table moves at query time. */
  private def statsChains(plan: SparkPlan): Seq[Seq[SparkPlan]] = {
    def down(p: SparkPlan): Seq[SparkPlan] = p +: (kids(p) match {
      case Seq(c) => down(c)
      case _ => Nil
    })
    nodes(plan).flatMap(kids).map(down).filter(_.last match {
      case s: InMemoryTableScanExec => s.relation.output.exists(_.name == "doc_len")
      case _ => false
    })
  }

  private def assertStatsStay(plan: SparkPlan, ctx: String): Unit = {
    val chains = statsChains(plan)
    assert(chains.nonEmpty, s"$ctx: no doc_stats scan:\n$plan")
    assert(!chains.flatten.exists(_.isInstanceOf[Exchange]),
      s"$ctx: doc_stats is exchanged or broadcast:\n$plan")
  }

  /** The key names of each shuffle exchange, hash or range. */
  private def shuffles(plan: SparkPlan): Seq[Seq[String]] = nodes(plan).collect {
    case e: ShuffleExchangeExec => e.outputPartitioning match {
      case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name))
      case other => Seq(other.toString)
    }
  }

  test("stats join: merge hint on the pinned layout only") {
    val s = new Searcher(view)
    for (scorer <- Seq[Scorer](Bm25, TfIdfCosine))
      assertStatsStay(executed(s.search(spark, "pais libre software", 10, Or, scorer)),
        s"pinned $scorer")
    // loaded from a store and not pinned, doc_stats is a plain parquet scan
    // with no doc_id layout: a forced merge join would shuffle and sort both
    // sides, so Spark chooses the join
    val dir = SparkSpec.tmpDir("plan-contract") + "/index"
    IndexStore.saveView(spark, view, dir)
    val loaded = IndexStore.load(spark, dir)
    val plan = executed(new Searcher(loaded).search(spark, "pais libre software", 10, Or, Bm25))
    assert(!nodes(plan).exists(_.isInstanceOf[SortMergeJoinExec]),
      s"unpinned stats join forced to a sort-merge join:\n$plan")
  }

  test("one plan: single queries take one exchange, a batch two; doc_stats never moves") {
    val s = new Searcher(view)
    val q = "pais libre software"
    for ((name, df) <- Seq(
        "or-cosine" -> s.search(spark, q, 10, Or, TfIdfCosine),
        "and-bm25" -> s.search(spark, q, 10, And, Bm25))) {
      val plan = executed(df)
      assert(shuffles(plan) == Seq(Seq("doc_id")), s"$name:\n$plan")
      assertStatsStay(plan, name)
    }
    // 32 queries: the decode's doc_id exchange, then the heap top-k's qidx one
    val vocab = view.termDict.collect().sortBy(t => (-t.df, t.term)).map(_.term)
    val batch = (0 until 32).map(i =>
      s"q$i" -> Seq(i, i + 5, i + 11).map(j => vocab(j % vocab.length)).mkString(" "))
    val plan = executed(s.searchBatch(spark, batch, 10))
    assert(shuffles(plan).sortBy(_.mkString) == Seq(Seq("doc_id"), Seq("qidx")),
      s"batch:\n$plan")
    assertStatsStay(plan, "batch")
  }

  test("stats join under AQE: doc_stats stays put from a fresh pin's first query") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    // a fresh view, queried at once: no count() or earlier query fills its caches
    val fresh = IndexBuilder.build(spark, Fixtures.synthTurns(spark, 40)).pin()
    try {
      val s = new Searcher(fresh)
      assertStatsStay(executed(s.search(spark, "pais libre", 10, Or, Bm25)), "first query")
      assertStatsStay(executed(s.searchBatch(spark, Seq("a" -> "pais", "b" -> "libre"), 10)),
        "first batch")
    } finally { fresh.unpin(); () }
  }
}
