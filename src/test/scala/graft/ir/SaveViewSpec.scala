package graft.ir

import org.apache.spark.sql.functions._

import graft.SparkSpec

/**
 * IndexStore.saveView (VERDICT r5 #7): persisting an in-memory IndexView
 * must produce a store equivalent to a buildAndSave over the same corpus —
 * same logical tables, same query results — and the result must be a
 * first-class store root (append/delete work on it).
 */
class SaveViewSpec extends SparkSpec {

  private def turns(n: Int) = Synth.turns(spark, n).cache()

  test("saveView store ≡ buildAndSave store (tables, meta, search results)") {
    val all = turns(300)
    val cfg = BuildConfig()
    val mem = IndexBuilder.build(spark, all, cfg)
    val dirV = SparkSpec.tmpDir("saveview")
    IndexStore.saveView(spark, mem, dirV)
    val dirB = SparkSpec.tmpDir("buildsave")
    IndexStore.buildAndSave(spark, all, dirB, cfg)

    val v = IndexStore.load(spark, dirV)
    val b = IndexStore.load(spark, dirB)
    def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    assert(sortedRows(v.termDict.toDF()) == sortedRows(b.termDict.toDF()))
    // norm is a DOUBLE sum whose accumulation order differs between the
    // in-memory and staged plans — ulp-level drift is expected (scores are
    // kept bit-stable by the fixed-point grid, not by norm bit-equality)
    def statsRounded(view: IndexView) = sortedRows(view.docStats.toDF()
      .withColumn("norm", round(col("norm"), 9)))
    assert(statsRounded(v) == statsRounded(b))
    assert(sortedRows(v.docMap) == sortedRows(b.docMap))
    // blocks may legally differ in salting layout; the DECODED postings are
    // the logical table
    assert(sortedRows(Exports.decodedPostings(v)) ==
      sortedRows(Exports.decodedPostings(b)))
    assert((v.meta.docs, v.meta.terms, v.meta.total_tokens, v.meta.postings) ==
      (b.meta.docs, b.meta.terms, b.meta.total_tokens, b.meta.postings))
    assert(math.abs(v.meta.avgdl - b.meta.avgdl) < 1e-12)
    // the saved tf table (decoded from blocks) equals the built one
    assert(sortedRows(spark.read.parquet(s"$dirV/tf.parquet")) ==
      sortedRows(spark.read.parquet(s"$dirB/tf.parquet")))

    val q = "pais libre tecnologia"
    val hv = new Searcher(v).search(spark, q, 10, Or, Bm25).collect().toSeq
    val hb = new Searcher(b).search(spark, q, 10, Or, Bm25).collect().toSeq
    assert(hv == hb)
    all.unpersist(); ()
  }

  test("saveView store accepts append and delete like a built store") {
    val all = turns(240)
    val base = all.filter(pmod(xxhash64(col("conv_id")), lit(4)) =!= 0)
    val delta = all.filter(pmod(xxhash64(col("conv_id")), lit(4)) === 0)
    val cfg = BuildConfig()
    val dir = SparkSpec.tmpDir("saveview-aug")
    IndexStore.saveView(spark, IndexBuilder.build(spark, base, cfg), dir)

    // append the delta: results must equal a full rebuild over everything
    IndexStore.append(spark, delta, dir)
    val full = IndexBuilder.build(spark, all, cfg)
    val q = "pais estado"
    def hits(v: IndexView) =
      new Searcher(v).search(spark, q, 10, Or, Bm25)
        .collect().map(r => (r.getString(1), // conv_id
          math.floor(r.getDouble(2) * 1e9 + 0.5) / 1e9)).toSeq
    assert(hits(IndexStore.load(spark, dir)) == hits(full))

    // delete a conversation: it vanishes from results
    val victim = IndexStore.load(spark, dir).docMap
      .select("conv_id").head().getString(0)
    assert(IndexStore.delete(spark, Seq(victim), dir) == 1L)
    val after = IndexStore.load(spark, dir)
    assert(after.docMap.filter(col("conv_id") === victim).count() == 0L)
    all.unpersist(); ()
  }

  test("wandPlan's θ block intervals come from the per-view cache on repeat") {
    val view = IndexBuilder.build(spark, Synth.skewedTurns(spark, 2000), BuildConfig())
    val s = new Searcher(view)
    val q = "pais cultura produccion"
    assert(view.thetaIntervalCache.isEmpty)
    val r1 = s.searchBm25Wand(spark, q, 5, exactCutover = 0L).collect().toSeq
    assert(!view.thetaIntervalCache.isEmpty, "first WAND query populates the cache")
    val sizeAfterFirst = view.thetaIntervalCache.size()
    val r2 = s.searchBm25Wand(spark, q, 5, exactCutover = 0L).collect().toSeq
    assert(r1 == r2, "cached intervals give identical results")
    assert(view.thetaIntervalCache.size() == sizeAfterFirst,
      "repeat query adds no cache entries")
    // cached pruning stays exact
    val exact = s.search(spark, q, 5, Or, Bm25).collect().toSeq
    assert(r2.map(r => (r.getLong(0), math.floor(r.getDouble(2) * 1e9 + 0.5))) ==
      exact.map(r => (r.getLong(0), math.floor(r.getDouble(2) * 1e9 + 0.5))))
    // and it prunes: equality alone would pass a plan that never drops a
    // block. One query through wandPlan, then a batch of two through the
    // batch prune (survivorBlocks has no cutover: exactCutover = 0)
    val qts = s.queryTerms(spark, q)
    val (cand, surv) = s.wandPlan(spark, qts, 5)
    assert(surv.count() < cand.count(), "single-query WAND pruned no block")
    val live = Seq("a" -> qts, "b" -> s.queryTerms(spark, "cultura produccion"))
    val batchCand = view.postings
      .filter(col("term_id").isin(live.flatMap(_._2.map(_.termId)).distinct: _*))
    val batchSurv = s.survivorBlocks(spark, live, 5)
    assert(batchSurv.exists(_.count() < batchCand.count()), "batch prune pruned no block")
  }

  test("topBlockIntervals never returns null when its puts cross the cache cap") {
    val view = IndexBuilder.build(spark, Synth.skewedTurns(spark, 500), BuildConfig())
    val s = new Searcher(view)
    val Seq(t1, t2) = view.termDict.collect().map(_.term_id).sorted.take(2).toSeq
    // cap − 1 entries: the first fresh put reaches the cap, the second
    // clears the cache — the first term's entry must not be read back
    val none = Array.empty[(Long, Long)]
    (1 until IndexView.ThetaCacheMaxEntries).foreach(i =>
      view.thetaIntervalCache.put((-i.toLong, 5), none))
    val got = s.topBlockIntervals(Seq(t1, t2), 5)
    assert(got.keySet == Set(t1, t2))
    assert(got.values.forall(_ != null), s"null intervals: $got")
    assert(got.values.forall(_.nonEmpty))
  }
}
