package graft.ir

import java.sql.Timestamp
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.IntegerLiteral
import org.apache.spark.sql.catalyst.plans.logical.GlobalLimit
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

import graft.SparkSpec

/**
 * Prepared serving plans rebind exactly. One Searcher serves a seeded
 * stream of requests that cycles through every class — OR and AND under
 * BM25 and cosine, WAND with pruning forced and a batch with pruning
 * forced — so every plan after a class's first is a rebinding of it. The
 * stream holds an empty query, an all-OOV query, a repeated term, a term
 * in every document (df = N, idf = 0) and a query of more than 16 distinct
 * terms. Each result equals the oracle and, bit for bit, the same request
 * served first on a fresh Searcher; 4 threads rebinding at once each get
 * their own rows. Binding reaches only the Searcher's own nodes: a view
 * built from a limited input serves like one built from the same rows.
 */
class PreparedPlanSpec extends SparkSpec {

  private val K = 10
  private val cfg = BuildConfig(saltRange = 64)

  /** The 200-conversation synthetic corpus with one word added to every
    * document, so that word's df is N. */
  private lazy val corpus =
    Fixtures.synthCorpus(spark, 200).map { case (c, t) => c -> s"$t ubicuo" }
  private lazy val turns =
    corpus.map { case (c, t) => Turn(c, 0, "user", t, null, new Timestamp(0L)) }
  private lazy val view = {
    import spark.implicits._
    IndexBuilder.build(spark, turns.toDF(), cfg).pin()
  }
  private lazy val oracle = Oracle.index(corpus, cfg)

  private sealed trait Request
  private final case class Single(q: String, mode: QueryMode, scorer: Scorer) extends Request
  private final case class Wand(q: String) extends Request
  private final case class Batch(qs: Seq[String]) extends Request

  /** The request's rows in a canonical order: a single query's as served,
    * a batch's by (query_id, rank). */
  private def serve(s: Searcher, r: Request): Seq[Row] = r match {
    case Single(q, mode, scorer) => s.search(spark, q, K, mode, scorer).collect().toSeq
    case Wand(q) => s.searchBm25Wand(spark, q, K, exactCutover = 0L).collect().toSeq
    case Batch(qs) =>
      s.searchBatch(spark, qs.zipWithIndex.map { case (q, i) => s"q$i" -> q }, K, Bm25, 0L)
        .collect().toSeq.sortBy(r => (r.getString(0), r.getInt(4)))
  }

  /** The oracle's top K of each query of the request, by query id. */
  private def expected(r: Request): Map[String, Seq[(Long, Double)]] = r match {
    case Single(q, mode, Bm25) => Map("" -> oracle.evaluateBm25(q, mode).take(K))
    case Single(q, mode, _) => Map("" -> oracle.evaluateCosine(q, mode).take(K))
    case Wand(q) => Map("" -> oracle.evaluateBm25(q, Or).take(K))
    case Batch(qs) => qs.zipWithIndex.map { case (q, i) =>
      s"q$i" -> oracle.evaluateBm25(q, Or).take(K) }.toMap
  }

  private def hits(r: Request, rows: Seq[Row]): Map[String, Seq[(Long, Double)]] = r match {
    case _: Batch => rows.groupBy(_.getString(0)).map { case (qid, rs) =>
      qid -> rs.map(x => (x.getLong(1), x.getDouble(3))) }
    case _ => Map("" -> rows.map(x => (x.getLong(0), x.getDouble(2))))
  }

  private def assertOracle(r: Request, rows: Seq[Row]): Unit = {
    val want = expected(r).filter(_._2.nonEmpty)
    val got = hits(r, rows).filter(_._2.nonEmpty)
    assert(got.keySet == want.keySet, s"$r: queries with hits")
    for ((qid, w) <- want; g = got(qid)) {
      assert(g.map(_._1) == w.map(_._1), s"$r $qid: docId order")
      g.zip(w).foreach { case ((d, gs), (_, ws)) =>
        assert(math.abs(gs - ws) < 1e-9, s"$r $qid: score doc $d: $gs vs $ws")
      }
    }
  }

  /** 66 requests, 11 of each class, over seeded queries of 1–5 terms with
    * an OOV word now and then; the special queries land in five classes. */
  private lazy val requests: Seq[Request] = {
    val vocab = oracle.df.keys.toSeq.sorted
    val rnd = new scala.util.Random(9L)
    def word(): String = if (rnd.nextInt(10) == 0) "zzqxnoword" else vocab(rnd.nextInt(vocab.length))
    val long = oracle.tfs.maxBy(_.size).keys.toSeq.sorted.take(24).mkString(" ")
    val special = Seq("", "zzqxnoword qqxyzzy", s"${vocab(3)} ${vocab(3)} ${vocab(8)}",
      s"ubicuo ${vocab(5)}", long)
    val queries = (0 until 66).map { i =>
      if (i % 7 == 0 && i / 7 < special.length) special(i / 7)
      else Seq.fill(1 + rnd.nextInt(5))(word()).mkString(" ")
    }
    queries.indices.map { i =>
      val q = queries(i)
      i % 6 match {
        case 0 => Single(q, Or, Bm25)
        case 1 => Single(q, Or, TfIdfCosine)
        case 2 => Single(q, And, Bm25)
        case 3 => Single(q, And, TfIdfCosine)
        case 4 => Wand(q)
        case _ => Batch(Seq(q, queries((i + 1) % 66), queries((i + 7) % 66)))
      }
    }
  }

  test("the stream holds the edge queries it is meant to") {
    val dict = view.termLookup.get
    assert(dict("ubicuo").df == view.meta.docs, "no term with df = N")
    val s = new Searcher(view)
    val singles = requests.collect { case Single(q, _, _) => q; case Wand(q) => q }
    assert(singles.contains("") && singles.exists(q => q.nonEmpty && s.queryTerms(spark, q).isEmpty))
    assert(singles.exists(q => s.queryTerms(spark, q).exists(_.qtf > 1)), "no repeated term")
    assert(singles.exists(q => s.queryTerms(spark, q).length > 16), "no query above 16 terms")
    assert(requests.count(_.isInstanceOf[Batch]) >= 10 && requests.length >= 60)
  }

  test("one Searcher rebinding every class equals the oracle and a fresh Searcher, bit for bit") {
    val shared = new Searcher(view)
    for (r <- requests) {
      val rows = serve(shared, r)
      assertOracle(r, rows)
      assert(rows == serve(new Searcher(view), r), s"$r: rebound rows != a fresh Searcher's")
    }
  }

  test("4 threads rebinding one Searcher at once each get their own rows") {
    val shared = new Searcher(view)
    val perThread = (0 until 4).map(t => requests.drop(t * 6).take(6))
    val want = perThread.map(_.map(r => serve(new Searcher(view), r)))
    perThread.flatten.foreach(serve(shared, _)) // every class's plan exists
    val barrier = new CyclicBarrier(4)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val futures = perThread.indices.map { t =>
        pool.submit(() => {
          barrier.await(60, TimeUnit.SECONDS)
          (1 to 3).flatMap(_ => perThread(t).map(serve(shared, _)))
        })
      }
      futures.zipWithIndex.foreach { case (f, t) =>
        val got = f.get(300, TimeUnit.SECONDS)
        assert(got == Seq.fill(3)(want(t)).flatten, s"thread $t got another query's rows")
      }
    } finally pool.shutdown()
  }

  test("a view built from a limited input serves like one built from the same rows") {
    import spark.implicits._
    val n = 120
    val limited = IndexBuilder.build(spark, turns.toDF().limit(n), cfg).pin()
    val same = IndexBuilder.build(spark, turns.take(n).toDF(), cfg).pin()
    // above the driver-dict guard the vocabulary lookup is a plan of its
    // own, and so are the block directory's answers
    def dictScan(v: IndexView) = v.copy(meta = v.meta.copy(
      terms = IndexView.DriverDictLimit + 1, blocks = IndexView.DriverDictLimit + 1))
    try {
      val (s, want, sd, wantD) = (new Searcher(limited), new Searcher(same),
        new Searcher(dictScan(limited)), new Searcher(dictScan(same)))
      for (r <- requests.take(30)) {
        assert(serve(s, r) == serve(want, r), s"$r: limited-input view")
        assert(serve(sd, r) == serve(wantD, r), s"$r: limited-input view, dictionary scan")
      }
      val q = s.search(spark, requests.collectFirst { case Single(q, _, _) if q.nonEmpty => q }.get,
        K, Or, Bm25)
      assert(q.collect().nonEmpty)
      assert(q.queryExecution.analyzed.exists {
        case GlobalLimit(IntegerLiteral(`n`), _) => true
        case _ => false
      }, "the input's own limit is gone from the bound plan")
      val scans = q.queryExecution.executedPlan.collect { case t: InMemoryTableScanExec => t }
      assert(scans.exists(_.relation.output.exists(_.name == "doc_ids")), "postings not read from the cache")
      assert(scans.exists(_.relation.output.exists(_.name == "doc_len")), "doc_stats not read from the cache")
    } finally { limited.unpin(); same.unpin() }
  }
}
