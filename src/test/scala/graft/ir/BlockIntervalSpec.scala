package graft.ir

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lit, row_number}

import graft.SparkSpec

/** WAND θ's block ranking (`Searcher.topBlockIntervals`, a bounded
  * `collect_top_k` per term) against a `row_number` window over the same
  * block bound: per term, the k blocks of largest idf-free BM25 bound, ties
  * broken by first_doc_id, as (first_doc_id, last_doc_id) sorted by start. */
class BlockIntervalSpec extends SparkSpec {

  test("topBlockIntervals == the row_number window on a tied-bound corpus, k in {1,3,10}") {
    // small saltRange → many blocks per hot term, many with equal bounds
    // (at 250 conversations no term ties across rank 10)
    val cfg = BuildConfig(saltRange = 32)
    val view = IndexBuilder.build(spark, Fixtures.synthTurns(spark, 1000), cfg)
    val s = new Searcher(view)
    // the block bound, built as Searcher's bm25(max_tf, min_dl) builds it
    val (k1, b) = (view.cfg.k1, view.cfg.b)
    val avgdl = if (view.meta.avgdl > 0) view.meta.avgdl else 1.0
    val tf = col("max_tf")
    val bound = tf * (k1 + 1) /
      (tf + lit(k1) * (lit(1 - b) + lit(b / avgdl) * col("min_dl")))
    val blocks = view.postings.toDF().withColumn("bound", bound)
    val termIds = view.termDict.collect().map(_.term_id).toSeq.sorted

    // the corpus must tie bounds across a rank-k boundary, or the tie-break
    // is never exercised
    val bounds = blocks.select("term_id", "bound").collect()
      .groupBy(_.getLong(0)).map { case (t, rs) => t -> rs.map(_.getDouble(1)).sorted.reverse }
    val ks = Seq(1, 3, 10)
    val tiedAtK = ks.filter(k => bounds.values.exists(bs => bs.length > k && bs(k - 1) == bs(k)))
    assert(tiedAtK == ks, s"no tie across rank k for k in ${ks.diff(tiedAtK)}")

    for (k <- ks) {
      val want: Map[Long, Array[(Long, Long)]] = blocks
        .withColumn("rn", row_number().over(
          Window.partitionBy("term_id").orderBy(col("bound").desc, col("first_doc_id").asc)))
        .filter(col("rn") <= k)
        .select("term_id", "first_doc_id", "last_doc_id")
        .collect()
        .groupBy(_.getLong(0))
        .map { case (t, rs) => t -> rs.map(r => (r.getLong(1), r.getLong(2))).sorted }
      view.thetaIntervalCache.clear() // cold: every term computed in the one job
      val got = s.topBlockIntervals(termIds, k)
      assert(got.keySet == termIds.toSet, s"k=$k: terms")
      for (t <- termIds) {
        assert(got(t).toSeq == want.getOrElse(t, Array.empty[(Long, Long)]).toSeq,
          s"k=$k term $t: intervals")
      }
      // warm: the cached answer is the same
      val warm = s.topBlockIntervals(termIds, k)
      assert(termIds.forall(t => warm(t).toSeq == got(t).toSeq), s"k=$k: warm cache")
    }
  }
}
