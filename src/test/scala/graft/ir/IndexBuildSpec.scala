package graft.ir

import graft.SparkSpec

/** Postings-level equivalence of the Spark build vs the oracle indexer
  * (SURVEY.md §5.3-3 — the analog of the reference's cross-server
  * consistency check D4). */
class IndexBuildSpec extends SparkSpec {

  private lazy val view: IndexView =
    IndexBuilder.build(spark, Fixtures.tp2Turns(spark))
  private lazy val oracle = Oracle.index(Fixtures.tp2Corpus)

  test("turn-order invariant holds") {
    val turns = Fixtures.tp2Turns(spark)
    assert(IndexBuilder.checkTurnInvariant(turns,
      Fixtures.docsWithIds(turns).select("conv_id", "text")) == 0)
  }

  test("docIds are dense rank of conv_id") {
    val m = view.docMap.collect().map(r => r.getString(1) -> r.getLong(0)).toMap
    assert(m == Map("c0001" -> 0L, "c0002" -> 1L, "c0003" -> 2L, "c0004" -> 3L))
  }

  test("term_dict matches oracle df/cf/idf and deterministic term ids") {
    val rows = view.termDict.collect()
    assert(rows.length == oracle.df.size)
    val oracleIds = oracle.termIds
    rows.foreach { ts =>
      assert(ts.df == oracle.df(ts.term), s"df ${ts.term}")
      assert(ts.cf == oracle.cf(ts.term), s"cf ${ts.term}")
      assert(math.abs(ts.idf - oracle.idf(ts.term)) < 1e-12)
      assert(math.abs(ts.bm25_idf - oracle.bm25Idf(ts.term)) < 1e-12)
      assert(ts.term_id == oracleIds(ts.term), s"term_id ${ts.term}")
    }
  }

  test("doc_stats match oracle maxtf/len/norm") {
    val rows = view.docStats.collect().sortBy(_.doc_id)
    assert(rows.map(_.max_tf).toVector == oracle.maxTf)
    assert(rows.map(_.doc_len).toVector == oracle.docLen)
    rows.foreach { ds =>
      assert(math.abs(ds.norm - oracle.norms(ds.doc_id.toInt)) < 1e-12,
        s"norm doc ${ds.doc_id}")
    }
    assert(math.abs(view.meta.avgdl - oracle.avgdl) < 1e-12)
  }

  test("decoded postings exactly equal oracle postings") {
    val idToTerm = view.termDict.collect().map(t => t.term_id -> t.term).toMap
    val got: Map[String, Vector[(Long, Int)]] = view.postings.collect()
      .groupBy(_.term_id)
      .map { case (tid, blocks) =>
        idToTerm(tid) -> blocks.sortBy(_.first_doc_id)
          .flatMap(Codec.decodeBlock).toVector
      }
    assert(got == oracle.postings)
  }

  test("postings equivalence holds on the synthetic corpus (multi-turn, accents, salting)") {
    val cfgSalted = BuildConfig(saltRange = 16) // force many salt groups
    val turns = Fixtures.synthTurns(spark, 120)
    val v = IndexBuilder.build(spark, turns, cfgSalted)
    val o = Oracle.index(Fixtures.synthCorpus(spark, 120), cfgSalted)
    val idToTerm = v.termDict.collect().map(t => t.term_id -> t.term).toMap
    val got = v.postings.collect().groupBy(_.term_id).map { case (tid, blocks) =>
      idToTerm(tid) -> blocks.sortBy(_.first_doc_id).flatMap(Codec.decodeBlock).toVector
    }
    assert(got == o.postings)
    val stats = v.docStats.collect().sortBy(_.doc_id)
    assert(stats.map(_.max_tf).toVector == o.maxTf)
    stats.foreach(ds => assert(math.abs(ds.norm - o.norms(ds.doc_id.toInt)) < 1e-9))
  }
}
