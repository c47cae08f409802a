package graft.ir

import graft.SparkSpec

class ServiceSpec extends SparkSpec {

  private lazy val view: IndexView =
    IndexBuilder.build(spark, Fixtures.synthTurns(spark, 120))

  test("D2: query cache hits within TTL, evicts LRU beyond capacity") {
    val svc = new QueryService(view, cacheCapacity = 2, cacheTtlMillis = 60000)
    val a1 = svc.search(spark, "pais libre")
    val a2 = svc.search(spark, "pais libre") // hit
    assert(a1.toSeq == a2.toSeq)
    svc.search(spark, "tecnologia")
    svc.search(spark, "estado") // evicts 'pais libre' (capacity 2, LRU)
    assert(svc.cacheSize == 2)
    val m = svc.queryMetrics(spark).collect()
    assert(m.length == 4)
    assert(m.count(_.getAs[Boolean]("cached")) == 1)
    assert(m.forall(_.getAs[Long]("millis") >= 0))
  }

  test("D2: cache key is the normalized term-freq map (reference Query equality)") {
    val svc = new QueryService(view)
    svc.search(spark, "pais libre")
    val m0 = svc.search(spark, "LIBRE ¡pais!") // normalizes to same key
    assert(svc.queryMetrics(spark).collect().last.getAs[Boolean]("cached"))
    assert(m0.nonEmpty)
  }

  test("X19: batch endpoint matches per-query serving, logs one metric per query") {
    val svc = new QueryService(view)
    val rows = svc.searchBatch(spark,
      Seq("a" -> "pais libre", "b" -> "tecnologia", "c" -> "zzzznotaword"))
    val byQid = rows.groupBy(_.getString(0))
    val single = svc.search(spark, "pais libre")
    assert(byQid("a").sortBy(_.getInt(4)).map(r => (r.getLong(1), r.getDouble(3))).toSeq ==
      single.map(r => (r.getLong(0), r.getDouble(2))).toSeq)
    assert(!byQid.contains("c"))
    val m = svc.queryMetrics(spark).collect()
    assert(m.count(_.getAs[String]("mode") == "BatchOr") == 3)
    assert(m.filter(_.getAs[String]("query") == "zzzznotaword")
      .forall(_.getAs[Long]("matches") == 0L))
  }

  test("WAND serving flag: identical rows to exact BM25, separate cache key") {
    val svc = new QueryService(view)
    val exact = svc.search(spark, "pais libre software")
    val wand = svc.search(spark, "pais libre software", wand = true)
    assert(exact.map(r => (r.getLong(0), r.getDouble(2))).toSeq ==
      wand.map(r => (r.getLong(0), r.getDouble(2))).toSeq)
    // second wand call is a cache hit; the exact call did not pre-fill it
    val m = svc.queryMetrics(spark).collect()
    assert(m.length == 2 && m.count(_.getAs[Boolean]("cached")) == 0)
    svc.search(spark, "pais libre software", wand = true)
    assert(svc.queryMetrics(spark).collect().last.getAs[Boolean]("cached"))
    intercept[IllegalArgumentException] {
      svc.search(spark, "pais", mode = And, wand = true)
    }
  }

  test("S13: flushMetrics appends a durable query_metrics table across services") {
    val dir = graft.SparkSpec.tmpDir("svc-metrics") + "/query_metrics.parquet"
    val svc = new QueryService(view)
    svc.search(spark, "pais libre")
    svc.search(spark, "tecnologia")
    assert(svc.flushMetrics(spark, dir) == 2)
    assert(svc.flushMetrics(spark, dir) == 0) // nothing new → no-op
    svc.search(spark, "estado")
    assert(svc.flushMetrics(spark, dir) == 1) // only the delta
    val svc2 = new QueryService(view) // "restart": a fresh service appends
    svc2.search(spark, "pais")
    svc2.flushMetrics(spark, dir)
    val rows = spark.read.parquet(dir)
    assert(rows.count() == 4)
    assert(rows.schema.fieldNames.toSet ==
      Set("query", "n_terms", "matches", "millis", "cached", "mode", "scorer", "batch_n"))
  }

  test("metrics attribute batch wall time once, tagged with batch size") {
    val svc = new QueryService(view)
    svc.search(spark, "pais libre")
    svc.searchBatch(spark, Seq("a" -> "pais libre", "b" -> "tecnologia"))
    val m = svc.queryMetrics(spark).collect()
    assert(m.filter(_.getAs[String]("mode") != "BatchOr")
      .forall(_.getAs[Int]("batch_n") == 1))
    val batchRows = m.filter(_.getAs[String]("mode") == "BatchOr")
    assert(batchRows.length == 2 && batchRows.forall(_.getAs[Int]("batch_n") == 2))
    // the shared wall rides on every batch row UNchanged (no fake averaging)
    assert(batchRows.map(_.getAs[Long]("millis")).distinct.length == 1)
  }

  test("concurrent clients through one service: correct, uncorrupted, unserialized") {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val svc = new QueryService(view, cacheCapacity = 0) // no cache: every call runs a job
    val queries = Seq("pais libre", "tecnologia", "estado", "pais", "software pais")
    val serial = queries.map(q =>
      q -> svc.search(spark, q).map(r => (r.getLong(0), r.getDouble(2))).toSeq).toMap
    val pool = Executors.newFixedThreadPool(5)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val futs = (0 until 20).map { i =>
        Future {
          val q = queries(i % queries.length)
          q -> svc.search(spark, q).map(r => (r.getLong(0), r.getDouble(2))).toSeq
        }
      }
      val res = Await.result(Future.sequence(futs), 5.minutes)
      res.foreach { case (q, rows) =>
        assert(rows == serial(q), s"concurrent result drift for '$q'")
      }
    } finally pool.shutdown()
    // every call logged exactly one metric row (buffer not corrupted by races)
    assert(svc.queryMetrics(spark).count() == (queries.length + 20).toLong)
  }

  test("T3: pagination tiles the full ranking without overlap") {
    val svc = new QueryService(view)
    val all = svc.search(spark, "pais libre software", 30).map(_.getLong(0)).toSeq
    val pages = (0 until 3).flatMap(p =>
      svc.searchPage(spark, "pais libre software", p, 10).map(_.getLong(0)))
    assert(pages == all.take(pages.length))
  }

  test("T3: searchPage refuses page < 0 and pageSize < 1, naming the argument") {
    val svc = new QueryService(view)
    for ((page, size, arg) <- Seq((-1, 10, "page"), (-2, 10, "page"), (0, 0, "pageSize"),
        (1, -3, "pageSize"))) {
      val e = intercept[IllegalArgumentException](svc.searchPage(spark, "pais libre", page, size))
      assert(e.getMessage.contains(s"$arg >= ") && e.getMessage.contains(s"$arg = "), e.getMessage)
    }
    assert(svc.searchPage(spark, "pais libre", 0, 1).length == 1)
  }

  test("S12: pin caches query-side tables without changing results") {
    val dir = graft.SparkSpec.tmpDir("svc-pin")
    IndexStore.buildAndSave(spark, Fixtures.synthTurns(spark, 80), dir)
    val cold = IndexStore.load(spark, dir)
    val before = new Searcher(cold).search(spark, "data model", 10, Or, Bm25)
      .collect().map(r => (r.getString(1), r.getDouble(2))).toSeq
    val hot = cold.pin()
    assert(hot.postings.storageLevel.useMemory, "postings not pinned")
    assert(hot.termDict.storageLevel.useMemory, "dict not pinned")
    val after = new Searcher(hot).search(spark, "data model", 10, Or, Bm25)
      .collect().map(r => (r.getString(1), r.getDouble(2))).toSeq
    assert(before == after)
    hot.unpin()
    assert(!hot.postings.storageLevel.useMemory)
  }

  test("A6: materialized weights equal oracle w(t,d)") {
    val oracle = Oracle.index(Fixtures.synthCorpus(spark, 120))
    val terms = view.termDict.collect().map(t => t.term_id -> t.term).toMap
    val w = Exports.weightsTable(view).collect()
    assert(w.length == view.meta.postings)
    w.take(500).foreach { r =>
      val term = terms(r.getLong(0))
      val d = r.getLong(1).toInt
      val expected = (r.getInt(2).toDouble / oracle.maxTf(d)) * oracle.idf(term)
      assert(math.abs(r.getDouble(3) - expected) < 1e-12)
    }
  }

  test("S6: sequential dump lines have reference format and full coverage") {
    val lines = Exports.sequentialDump(view).collect().map(_.getString(0))
    assert(lines.length == view.meta.terms)
    assert(lines.forall(_.matches("[^:]+:\\d+,\\d+(;\\d+,\\d+)*")))
    val oracle = Oracle.index(Fixtures.synthCorpus(spark, 120))
    val byTerm = lines.map(l => l.split(":")(0) -> l.split(":")(1)).toMap
    val got = byTerm("software").split(";").map { p =>
      val Array(d, f) = p.split(","); (d.toLong, f.toInt)
    }.toVector
    assert(got == oracle.postings("software"))
    // read-back: parsing the dump reproduces the decoded postings exactly
    val parsed = Exports.parseSequentialDump(Exports.sequentialDump(view))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val direct = Exports.decodedPostings(view)
      .join(view.termDict.select("term_id", "term"), "term_id")
      .collect().map(r => (r.getAs[String]("term"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("tf"))).sorted.toSeq
    assert(parsed == direct)
  }

  test("S6 parse: terms containing the separator characters survive") {
    import spark.implicits._
    // verbatim-indexed regex terms (dates, times, emails) may hold : , ; —
    // the backward parse must still find the separator colon (ADVICE r2)
    val lines = Seq(
      "12,5:3,1;7,2",       // decimal-comma number as a term
      "10:30:0,4",          // time with colon
      "a;b@c.com:1,1;2,3",  // semicolon + address
      "plain:5,9").toDF("line")
    val got = Exports.parseSequentialDump(lines)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set(
      ("12,5", 3L, 1), ("12,5", 7L, 2),
      ("10:30", 0L, 4),
      ("a;b@c.com", 1L, 1), ("a;b@c.com", 2L, 3),
      ("plain", 5L, 9)))
  }

  test("P8: regex extractors match reference semantics") {
    val cfg = Analyzer.Reference
    // abbreviations
    assert(RegexTokens("Dr. Gomez vive alli").terms.contains("Dr."))
    assert(RegexTokens("el U.S.A. es grande").terms.contains("U.S.A."))
    // html entities removed from text but not kept as terms
    val h = RegexTokens("hola &amp; chau")
    assert(!h.terms.exists(_.contains("&")) && !h.remaining.contains("&amp;"))
    // dates / percent / money
    assert(RegexTokens("el 12/05/2017 subio 15% a $100,50").terms
      .count(t => t == "12/05/2017" || t == "15%" || t == "$100,50") == 3)
    // urls / emails
    assert(RegexTokens("ver www.unlu.edu.ar/info ya").terms.exists(_.startsWith("www.unlu")))
    assert(RegexTokens("escribir a juan.perez@mail.com.ar hoy").terms
      .contains("juan.perez@mail.com.ar"))
    // proper names (post accent-strip)
    assert(RegexTokens("dijo Juan Pérez ayer").terms.contains("Juan Perez"))
    // extracted terms bypass filters; remaining text analyzed normally
    val terms = RegexTokens.analyzeWithRegex("Juan Pérez pagó $5 por software", cfg)
    assert(terms.contains("Juan Perez") && terms.contains("$5") && terms.contains("software"))
  }
}
