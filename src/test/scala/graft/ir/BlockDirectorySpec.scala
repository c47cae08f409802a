package graft.ir

import org.apache.spark.sql.functions.{max, min}

import graft.SparkSpec

/** The view's block directory answers what the metadata plans above its
  * guard answer, bit for bit: each term's gmax, the block intervals AND's
  * rare term skips by, and θ's k best block intervals. The plans run on the
  * same pinned view with meta.blocks raised over the guard. */
class BlockDirectorySpec extends SparkSpec {

  test("the block directory and the metadata plans agree bit for bit on a tied-bound corpus") {
    // BlockIntervalSpec's corpus: many blocks per hot term, many tied bounds
    val view = IndexBuilder.build(spark, Fixtures.synthTurns(spark, 1000),
      BuildConfig(saltRange = 32)).pin()
    try {
      val plans = view.copy(meta = view.meta.copy(blocks = IndexView.DriverDictLimit + 1))
      assert(view.wandTermBounds.isDefined && plans.wandTermBounds.isEmpty)
      val (d, p) = (new Searcher(view), new Searcher(plans))
      val dict = view.termDict.collect()
      val idf = dict.map(t => t.term_id -> t.bm25_idf).toMap
      val termIds = dict.map(_.term_id).toSeq.sorted
      // the plans take 100 terms at a time: on a pinned view, a `term_id IN`
      // list of all ~2,000 terms overflows the stack while it is planned
      val chunks = termIds.grouped(100).toSeq

      val gmax = d.termGmax(idf)
      val want = chunks.map(ts => p.termGmax(idf.view.filterKeys(ts.toSet).toMap)).reduce(_ ++ _)
      assert(gmax.keySet == termIds.toSet && want.keySet == gmax.keySet, "gmax terms")
      termIds.foreach(t => assert(gmax(t) == want(t), s"term $t: gmax ${gmax(t)}, plan ${want(t)}"))
      // the check discriminates: pairing each term's largest max_tf with its
      // smallest min_dl gives a looser gmax on some term of this corpus
      val (k1, b) = (view.cfg.k1, view.cfg.b)
      val avgdl = if (view.meta.avgdl > 0) view.meta.avgdl else 1.0
      val loose = view.postings.groupBy("term_id").agg(max("max_tf"), min("min_dl")).collect()
        .map { r =>
          val (t, tf, dl) = (r.getLong(0), r.getInt(1).toDouble, r.getLong(2).toDouble)
          t -> idf(t) * (tf * (k1 + 1)) / (tf + k1 * ((1 - b) + (b / avgdl) * dl))
        }
      assert(loose.exists { case (t, g) => g > gmax(t) }, "no term's term-level bound is looser")

      // one `rare` job per term, from 4 client threads
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      val rare = try termIds.map(t => pool.submit(() => p.blockIntervals(t).sorted)).map(_.get())
        finally pool.shutdown()
      termIds.zip(rare).foreach { case (t, plan) =>
        assert(d.blockIntervals(t) == plan, s"term $t: block intervals")
      }
      for (k <- Seq(1, 3, 10)) {
        val got = d.topBlockIntervals(termIds, k)
        val plan = chunks.map(p.topBlockIntervals(_, k)).reduce(_ ++ _)
        termIds.foreach(t => assert(got(t).toSeq == plan(t).toSeq, s"k=$k term $t: θ intervals"))
      }
    } finally { view.unpin(); () }
  }
}
