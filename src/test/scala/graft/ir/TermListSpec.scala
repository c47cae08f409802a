package graft.ir

import java.sql.Timestamp

import graft.SparkSpec

/** A query or batch may name thousands of terms. Its bound `term_id IN`
  * list splits into a balanced `Or` of bounded `In`s, so the cached scan's
  * batch-statistics filter stays shallow enough to serialize with its task;
  * a single `In` of ~1,500 values failed with a StackOverflowError there.
  * An OR-BM25 query over every term of a 2,400-term vocabulary, and a batch
  * whose queries together name every term, equal the oracle's top k on a
  * view pinned at 1 and at 4 partitions. */
class TermListSpec extends SparkSpec {

  private val K = 10
  private val VocabSize = 2400

  /** 600 documents over `VocabSize` words, document c of 20 + c words, so
    * no two documents share a length and no two scores tie. */
  private lazy val corpus: Seq[(String, String)] = (0 until 600).map { c =>
    f"c$c%04d" -> (0 until 20 + c).map(j => f"term${(c * 37 + j * 101 + j * j) % VocabSize}%04d").mkString(" ")
  }
  private lazy val oracle = Oracle.index(corpus)

  private def assertOracle(got: Seq[(Long, Double)], q: String, ctx: String): Unit = {
    val want = oracle.evaluateBm25(q, Or).take(K)
    assert(got.map(_._1) == want.map(_._1), s"$ctx: docId order")
    got.zip(want).foreach { case ((d, g), (_, w)) =>
      assert(math.abs(g - w) < 1e-9, s"$ctx: doc $d scores $g, oracle $w")
    }
  }

  for (parts <- Seq(1, 4)) test(s"every vocabulary term in one query and in one batch, pinned at $parts") {
    import spark.implicits._
    val view = Fixtures.pinAt(IndexBuilder.build(spark,
      corpus.map { case (c, t) => Turn(c, 0, "user", t, null, new Timestamp(0L)) }.toDF()), parts)
    try {
      assert(view.postings.rdd.getNumPartitions == parts)
      val s = new Searcher(view)
      val vocab = view.termDict.collect().map(_.term).sorted.toSeq
      assert(vocab.length >= 2000, s"${vocab.length} terms")
      val all = vocab.mkString(" ")
      assert(s.queryTerms(spark, all).length == vocab.length)
      assertOracle(s.search(spark, all, K, Or, Bm25).collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq,
        all, "one query")
      // 12 queries of 200 terms: together every term
      val batch = vocab.grouped(200).map(_.mkString(" ")).zipWithIndex.map { case (q, i) => s"q$i" -> q }.toSeq
      assert(batch.length == 12)
      val rows = s.searchBatch(spark, batch, K).collect().groupBy(_.getString(0))
      for ((id, q) <- batch)
        assertOracle(rows.getOrElse(id, Array.empty).sortBy(_.getInt(4)).map(r => (r.getLong(1), r.getDouble(3))).toSeq,
          q, s"batch $id")
    } finally { view.unpin(); () }
  }
}
