package graft.ir

import graft.SparkSpec

/** Rank-identity of the Spark serving path vs the oracle evaluator on the 13
  * reference bot queries (SURVEY.md §5.2/§5.3-2): identical docIds in
  * identical order (docId tie-break) and scores to 1e-9, for OR and AND
  * modes and both scorers; plus WAND == exact. */
class RankIdentitySpec extends SparkSpec {

  private val K = 10

  private def hits(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq

  private def assertIdentical(
      got: Seq[(Long, Double)], want: Seq[(Long, Double)], ctx: String): Unit = {
    assert(got.map(_._1) == want.map(_._1), s"$ctx: docId order")
    got.zip(want).foreach { case ((d, gs), (_, ws)) =>
      assert(math.abs(gs - ws) < 1e-9, s"$ctx: score doc $d: $gs vs $ws")
    }
  }

  private def runSet(view: IndexView, oracle: Oracle.OracleIndex, ctx: String): Unit = {
    val searcher = new Searcher(view)
    Fixtures.referenceQueries.distinct.foreach { q =>
      assertIdentical(hits(searcher.search(spark, q, K, Or, TfIdfCosine)),
        oracle.evaluateCosine(q, Or).take(K), s"$ctx cosine-OR '$q'")
      assertIdentical(hits(searcher.search(spark, q, K, And, TfIdfCosine)),
        oracle.evaluateCosine(q, And).take(K), s"$ctx cosine-AND '$q'")
      assertIdentical(hits(searcher.search(spark, q, K, Or, Bm25)),
        oracle.evaluateBm25(q, Or).take(K), s"$ctx bm25-OR '$q'")
      assertIdentical(hits(searcher.search(spark, q, K, And, Bm25)),
        oracle.evaluateBm25(q, And).take(K), s"$ctx bm25-AND '$q'")
      assertIdentical(hits(searcher.searchBm25Wand(spark, q, K, exactCutover = 0L)),
        oracle.evaluateBm25(q, Or).take(K), s"$ctx bm25-WAND '$q'")
    }
  }

  test("rank identity on tp2 (the reference corpus shape)") {
    val view = IndexBuilder.build(spark, Fixtures.tp2Turns(spark))
    runSet(view, Oracle.index(Fixtures.tp2Corpus), "tp2")
  }

  test("rank identity on synthetic multi-turn corpus (200 convs, skew, accents)") {
    val cfg = BuildConfig(saltRange = 64)
    val view = IndexBuilder.build(spark, Fixtures.synthTurns(spark, 200), cfg)
    runSet(view, Oracle.index(Fixtures.synthCorpus(spark, 200), cfg), "synth")
  }

  test("batch serving == per-query serving, per query, both scorers") {
    val view = IndexBuilder.build(spark, Fixtures.synthTurns(spark, 150))
    val searcher = new Searcher(view)
    // overlapping terms, a repeated term (qtf 2), an OOV-only query, an
    // empty query — the last two must contribute no rows, like search()
    val batch = Seq(
      "a" -> "pais libre",
      "b" -> "pais pais tecnologia",
      "c" -> "zzzznotaword",
      "d" -> "",
      "e" -> "universidad riqueza atletismo argentina estado nacion")
    for (scorer <- Seq[Scorer](Bm25, TfIdfCosine)) {
      val got = searcher.searchBatch(spark, batch, K, scorer)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(3), r.getInt(4)))
        .groupBy(_._1)
      assert(!got.contains("c") && !got.contains("d"))
      batch.foreach { case (qid, text) =>
        val single = searcher.search(spark, text, K, Or, scorer)
          .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
        val rows = got.getOrElse(qid, Array.empty).sortBy(_._4)
        assert(rows.map(_._2).toSeq == single.map(_._1), s"$scorer '$qid': doc order")
        rows.map(_._3).zip(single.map(_._2)).foreach { case (g, w) =>
          assert(math.abs(g - w) < 1e-9, s"$scorer '$qid': score $g vs $w")
        }
        assert(rows.map(_._4).toSeq == (1 to rows.length), s"$scorer '$qid': ranks")
      }
    }
    // duplicate query ids would merge contribution groups — refused loudly
    val dup = intercept[IllegalArgumentException](
      searcher.searchBatch(spark, Seq("x" -> "pais", "x" -> "libre"), K))
    assert(dup.getMessage.contains("duplicate query_id"))
  }

  test("a query above 16 distinct terms: OR/AND x BM25/cosine vs oracle, batch == single") {
    val cfg = BuildConfig(saltRange = 64)
    val view = IndexBuilder.build(spark, Fixtures.synthTurns(spark, 200), cfg)
    val oracle = Oracle.index(Fixtures.synthCorpus(spark, 200), cfg)
    val s = new Searcher(view)
    // 24 terms of the doc with the most distinct terms, so AND matches it
    val q = oracle.tfs.maxBy(_.size).keys.toSeq.sorted.take(24).mkString(" ")
    assert(s.queryTerms(spark, q).map(_.termId).distinct.length >= 20, q)
    assert(oracle.evaluateBm25(q, And).nonEmpty, q)
    for (mode <- Seq[QueryMode](Or, And)) {
      assertIdentical(hits(s.search(spark, q, K, mode, Bm25)),
        oracle.evaluateBm25(q, mode).take(K), s"long bm25-$mode")
      assertIdentical(hits(s.search(spark, q, K, mode, TfIdfCosine)),
        oracle.evaluateCosine(q, mode).take(K), s"long cosine-$mode")
    }
    for (scorer <- Seq[Scorer](Bm25, TfIdfCosine)) {
      val batch = s.searchBatch(spark, Seq("long" -> q, "short" -> "pais libre"), K, scorer)
        .filter("query_id = 'long'").orderBy("rank").collect()
        .map(r => (r.getLong(1), r.getDouble(3))).toSeq
      val single = hits(s.search(spark, q, K, Or, scorer))
      if (scorer == Bm25) assert(batch == single, "long bm25 batch != single")
      else assertIdentical(batch, single, "long cosine batch")
    }
  }

  test("a batch above BatchRespreadCutover respreads its decode and equals the small batch") {
    val view = IndexBuilder.build(spark, Fixtures.synthTurns(spark, 150))
    val s = new Searcher(view)
    // the respread only runs where it widens: 2× the cores above the
    // shuffle partitions
    assert(2 * spark.sparkContext.defaultParallelism >
      spark.sessionState.conf.numShufflePartitions)
    val texts = Seq("pais libre", "pais pais tecnologia", "estado libre tecnologia")
    val fanout = texts.map(t => s.queryTerms(spark, t).map(_.df).sum).sum
    val reps = (s.BatchRespreadCutover / fanout + 1).toInt
    val big = for (r <- 0 until reps; (t, i) <- texts.zipWithIndex) yield (s"r$r.q$i", t)
    for (scorer <- Seq[Scorer](Bm25, TfIdfCosine)) {
      // query_id -> its (doc_id, conv_id, score) rows in rank order
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.groupBy(_.getString(0))
        .map { case (q, rs) =>
          q -> rs.sortBy(_.getInt(4)).map(r => (r.getLong(1), r.getString(2), r.getDouble(3)))
        }
      val want = rows(s.searchBatch(spark, texts.indices.map(i => s"q$i" -> texts(i)), K, scorer))
      val bigDf = s.searchBatch(spark, big, K, scorer)
      val got = rows(bigDf)
      assert(bigDf.queryExecution.executedPlan.toString.contains("REPARTITION_BY_NUM"),
        s"$scorer: no respread exchange:\n${bigDf.queryExecution.executedPlan}")
      assert(got.size == big.length, s"$scorer: ${got.size} of ${big.length} queries answered")
      for ((id, rs) <- got) {
        val w = want(id.split('.').last)
        assert(rs.map(h => (h._1, h._2)) == w.map(h => (h._1, h._2)), s"$scorer $id")
        rs.zip(w).foreach { case (g, e) =>
          if (scorer == Bm25) assert(g._3 == e._3, s"$id doc ${g._1}")
          else assert(math.abs(g._3 - e._3) < 1e-9, s"$id doc ${g._1}")
        }
      }
    }
  }

  test("query term with df == N (idf = 0) contributes zero, never NaN") {
    // regression (VERDICT r1 #1): w(t,q) recovered as qwIdf/idf was 0/0 = NaN
    // for a ubiquitous term; NaN passes `score > 0` and sorts first in Spark.
    import spark.implicits._
    val corpus = Seq(
      "c1" -> "comun raro extra",
      "c2" -> "comun otra cosa",
      "c3" -> "comun cosa extra",
      "c4" -> "comun otra palabra")
    val turns = corpus.map { case (c, t) =>
      Turn(c, 0, "user", t, null, new java.sql.Timestamp(0L))
    }.toDF()
    val view = IndexBuilder.build(spark, turns)
    val oracle = Oracle.index(corpus)
    val s = new Searcher(view)
    for (q <- Seq("comun raro", "comun comun raro cosa")) {
      val got = hits(s.search(spark, q, K, Or, TfIdfCosine))
      assert(got.forall(h => !h._2.isNaN), s"NaN score for '$q': $got")
      assertIdentical(got, oracle.evaluateCosine(q, Or).take(K), s"df==N cosine '$q'")
      assertIdentical(hits(s.search(spark, q, K, Or, Bm25)),
        oracle.evaluateBm25(q, Or).take(K), s"df==N bm25 '$q'")
    }
    // query of ONLY the ubiquitous term: qNorm = 0 → reference returns nothing
    assert(s.search(spark, "comun", K, Or, TfIdfCosine).count() == 0)
  }

  test("AND block-skip decodes fewer blocks for rare∧hot and stays lossless") {
    import org.apache.spark.sql.functions.col
    val cfg = BuildConfig(saltRange = 64)
    val view = IndexBuilder.build(spark, Fixtures.synthTurns(spark, 200), cfg)
    val oracle = Oracle.index(Fixtures.synthCorpus(spark, 200), cfg)
    val s = new Searcher(view)
    val dict = view.termDict.collect()
    val hot = dict.maxBy(t => (t.df, t.term))
    val rare = dict.minBy(t => (t.df, t.term))
    assert(rare.df < hot.df, "fixture needs df spread")
    val q = s"${rare.term} ${hot.term}"
    val qts = s.queryTerms(spark, q)
    val survivors = s.andSurvivorBlocks(spark, qts)
    assert(survivors.isDefined)
    val nAll = view.postings
      .filter(col("term_id").isin(qts.map(_.termId): _*)).count()
    val nSurv = survivors.get.count()
    assert(nSurv < nAll, s"no blocks skipped: $nSurv of $nAll")
    assertIdentical(hits(s.search(spark, q, K, And, Bm25)),
      oracle.evaluateBm25(q, And).take(K), s"and-skip '$q'")
    assertIdentical(hits(s.search(spark, q, K, And, TfIdfCosine)),
      oracle.evaluateCosine(q, And).take(K), s"and-skip cosine '$q'")
  }

  test("above the driver-dict guard, lookup/WAND fall back with identical results") {
    val view = IndexBuilder.build(spark, Fixtures.tp2Turns(spark))
    // forcing meta.terms over the limit disables termLookup + wandTermBounds
    val big = view.copy(meta = view.meta.copy(terms = IndexView.DriverDictLimit + 1))
    assert(big.termLookup.isEmpty && big.wandTermBounds.isEmpty)
    assert(view.termLookup.isDefined && view.wandTermBounds.isDefined)
    val a = new Searcher(view)
    val b = new Searcher(big)
    Fixtures.referenceQueries.distinct.foreach { q =>
      assertIdentical(hits(b.search(spark, q, K, Or, Bm25)),
        hits(a.search(spark, q, K, Or, Bm25)), s"fallback OR '$q'")
      assertIdentical(hits(b.searchBm25Wand(spark, q, K, exactCutover = 0L)),
        hits(a.searchBm25Wand(spark, q, K, exactCutover = 0L)), s"fallback WAND '$q'")
    }
    // the batch prune takes the same fallback: forced pruning on the big
    // view still serves every query exactly as single-query search
    val qs = Fixtures.referenceQueries.distinct.zipWithIndex.map { case (q, i) => s"q$i" -> q }
    val batch = b.searchBatch(spark, qs, K, Bm25, 0L).collect()
      .groupBy(_.getString(0))
    qs.foreach { case (qid, q) =>
      val rows = batch.getOrElse(qid, Array.empty).sortBy(_.getInt(4))
        .map(r => (r.getLong(1), r.getDouble(3))).toSeq
      assertIdentical(rows, hits(a.search(spark, q, K, Or, Bm25)), s"fallback batch '$q'")
    }
  }

  test("empty and fully-OOV queries short-circuit to empty results") {
    val view = IndexBuilder.build(spark, Fixtures.tp2Turns(spark))
    val s = new Searcher(view)
    assert(s.search(spark, "", K).count() == 0)
    assert(s.search(spark, "¡¿ de la", K).count() == 0)
    assert(s.search(spark, "primera consulta", K).count() == 0) // OOV
    assert(s.searchBm25Wand(spark, "", K).count() == 0)
  }

  test("k = 0 returns the empty frame from search, searchBatch and WAND; k < 0 is refused") {
    val view = IndexBuilder.build(spark, Fixtures.tp2Turns(spark))
    val s = new Searcher(view)
    val q = Fixtures.referenceQueries.head
    val batch = Seq("a" -> q, "b" -> "pais libre")
    val empty = Seq(
      s.search(spark, q, 0, Or, Bm25),
      s.search(spark, q, 0, And, TfIdfCosine),
      s.searchBatch(spark, batch, 0, Bm25),
      s.searchBatch(spark, batch, 0, Bm25, exactCutover = 0L),
      s.searchBm25Wand(spark, q, 0, exactCutover = 0L))
    empty.foreach(df => assert(df.collect().isEmpty, df.schema.simpleString))
    // same columns as a served answer
    assert(empty(0).columns.toSeq == s.search(spark, q, K).columns.toSeq)
    assert(empty(2).columns.toSeq == s.searchBatch(spark, batch, K).columns.toSeq)
    val refused = Seq[() => Any](
      () => s.search(spark, q, -1),
      () => s.searchBatch(spark, batch, -1),
      () => s.searchBm25Wand(spark, q, -1, exactCutover = 0L))
    refused.foreach { call =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("k = -1"), e.getMessage)
    }
  }
}
