package graft.ir

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, ScalaAggregator, TypedAggregateExpression}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

import graft.{Probe, SparkSpec}

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

  test("servingPartitions: one partition per ~2M postings, at least 1, at most the shuffle partitions") {
    val meta = IndexMeta(docs = 1L, terms = 1L, total_tokens = 1L, avgdl = 1.0, postings = 0L, blocks = 1L)
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "6")
    def parts(postings: Long) = IndexView.servingPartitions(meta.copy(postings = postings), s)
    assert(Seq(0L, 1L, 1999999L).map(parts) == Seq(1, 1, 1))
    assert((1 to 8).map(k => parts(k * 2000000L)) == Seq(1, 2, 3, 4, 5, 6, 6, 6))
  }

  test("one-partition pin: a warm single query of every class runs 1 job, 1 stage, 1 task, no exchange") {
    val one = Fixtures.pinAt(IndexBuilder.build(spark, Fixtures.synthTurns(spark, 150)), 1)
    try {
      assert(one.postings.rdd.getNumPartitions == 1 && one.docStats.rdd.getNumPartitions == 1)
      for ((name, run) <- singles(new Searcher(one))) {
        run(terms(0, 3)).collect() // the class's plan is built here
        val df = run(terms(1, 4, 6))
        val (_, _, js) = Probe.profile(spark)(df.collect())
        val t = Probe.total(js)
        assert((js.length, t.stages, t.tasks) == (1, 1L, 1L), s"$name: $js")
        val plan = df.queryExecution.executedPlan
        assert(shuffles(plan).isEmpty, s"$name exchanges:\n$plan")
        assertStatsStay(plan, name)
      }
    } finally { one.unpin(); () }
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

  // ------------------------------------------------------ prepared plans

  /** The view's terms, most frequent first. */
  private lazy val vocab =
    view.termDict.collect().sortBy(t => (-t.df, t.term)).map(_.term).toIndexedSeq

  /** A query of the vocabulary terms at `idx` (mod the vocabulary). */
  private def terms(idx: Int*): String = idx.map(i => vocab(i % vocab.length)).mkString(" ")

  /** The Spark jobs `body` runs and the codegen compiles it causes. */
  private def cost(body: => Any): (Int, Long) = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val jobs = Probe.profile(spark)(body)._3.size
    (jobs, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
  }

  /** The single-query classes on searcher `s`. */
  private def singles(s: Searcher): Seq[(String, String => DataFrame)] = Seq(
    "or-bm25" -> (s.search(spark, _, 10, Or, Bm25)),
    "or-cosine" -> (s.search(spark, _, 10, Or, TfIdfCosine)),
    "wand-bm25" -> (s.searchBm25Wand(spark, _, 10)),
    "and-bm25" -> (s.search(spark, _, 10, And, Bm25)))

  test("prepared plans: a warm single OR, cosine, WAND or AND query runs 1 job") {
    val s = new Searcher(view)
    for ((name, run) <- singles(s)) {
      run(terms(0, 3)).collect() // the class's plan is built here
      val (jobs, _) = cost(run(terms(1, 4, 6)).collect())
      assert(jobs == 1, s"$name ran $jobs jobs")
    }
  }

  test("prepared plans: no broadcast of a local table, no adaptive plan from an AQE caller") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val s = new Searcher(view)
    val batch = (0 until 4).map(i => s"q$i" -> terms(i, i + 5))
    val plans = singles(s).map { case (name, run) => name -> executed(run(terms(2, 5))) } :+
      ("batch" -> executed(s.searchBatch(spark, batch, 10)))
    for ((name, plan) <- plans) {
      assert(!nodes(plan).exists(_.isInstanceOf[AdaptiveSparkPlanExec]), s"$name is adaptive:\n$plan")
      val localBroadcast = nodes(plan).collect { case b: BroadcastExchangeExec => b.child }
        .exists(_.isInstanceOf[LocalTableScanExec])
      assert(!localBroadcast, s"$name broadcasts a local table:\n$plan")
    }
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true", "pin() changed the caller's conf")
  }

  test("prepared plans: the postings scan pushes IN, not INSET, for a 32-query batch and 12 terms") {
    val s = new Searcher(view)
    val batch = (0 until 32).map(i => s"q$i" -> terms(i, i + 5, i + 11))
    val twelve = terms(0 until 12: _*)
    assert(s.queryTerms(spark, twelve).length == 12)
    for ((name, df) <- Seq("batch32" -> s.searchBatch(spark, batch, 10),
        "12 terms" -> s.search(spark, twelve, 10, Or, Bm25))) {
      val plan = executed(df).toString.split("InMemoryRelation")(0)
      val scanLine = plan.linesIterator
        .find(l => l.contains("InMemoryTableScan") && l.contains("doc_ids"))
        .getOrElse(fail(s"$name: no postings scan line:\n$plan"))
      assert(scanLine.contains("term_id") && scanLine.contains(" IN ") && !scanLine.contains("INSET"),
        s"$name: term_id IN not pushed to the cached scan:\n$scanLine")
    }
  }

  test("prepared plans: a fresh term set compiles only its term filter; new weights or k nothing") {
    val s = new Searcher(view)
    (0 until 3).foreach(i => s.search(spark, terms(i, i + 7), 10, Or, Bm25).collect())
    // the term filter's codegen stage, compiled once for the driver and once
    // for the tasks (Spark keys its code cache on the class loader too), and
    // the cached scan's batch-statistics predicate over the same literals
    val (_, fresh) = cost(s.search(spark, terms(2, 9, 13), 10, Or, Bm25).collect())
    assert(fresh <= 3, s"a fresh term set compiled $fresh times")
    // the same terms with new weights (a repeated term) and a new k: the
    // weights map and k are data, so nothing compiles
    val (_, rebound) = cost(s.search(spark, terms(2, 9, 13, 13), 7, Or, Bm25).collect())
    assert(rebound == 0, s"new weights and k compiled $rebound times")
    val (_, cosine) = cost(s.search(spark, terms(2, 2, 9, 13), 10, Or, TfIdfCosine).collect())
    val (_, again) = cost(s.search(spark, terms(2, 9, 13), 12, Or, TfIdfCosine).collect())
    assert(again == 0, s"cosine with new weights and k compiled $again times (first: $cosine)")
  }
}
