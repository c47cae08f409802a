package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.ir._

/**
 * `serve`: the query path under load. Setup builds an in-memory index over a
 * seeded Synth corpus, switches the session to serving partitions, pins the
 * index and forces the driver-side lookups; it runs [[Setups]] times.
 * [[WarmBlocks]] untimed blocks of requests follow. Then a closed loop of
 * [[Clients]] threads sends the seeded request stream through one
 * QueryService. Requests are handed out in whole blocks of [[Gen.block]],
 * and no new block starts once the clock has run out, so a run's class
 * counts, and the share of its time batch calls take, are those of the mix.
 */
object Serve extends Workload {

  val Convs = 2000
  val Clients = 2
  val K = 10
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3
  /** Untimed blocks before the timed ones, sent the same way through their
    * own QueryService: while the JIT compiles the query path, single-query
    * latency in the first block runs ~20% above the next two. */
  val WarmBlocks = 1

  private final case class Lat(cls: QClass, ms: Double, n: Int)

  /** The shared request stream: blocks `first`, `first + 1`, ... of the
    * seed's stream; at least one, and a next one only while `more(blocks
    * handed out so far)`. */
  private final class Feed(seed: Long, first: Long, more: Long => Boolean) {
    private var i = 0L
    private var block = IndexedSeq.empty[Request]
    private var open = true
    def next(): Option[(Long, Request)] = synchronized {
      if (i % Gen.BlockLength == 0) {
        open = open && (i == 0 || more(i / Gen.BlockLength))
        if (open) block = Gen.block(seed, first + i / Gen.BlockLength)
      }
      if (!open) None
      else { i += 1; Some((i - 1, block(((i - 1) % Gen.BlockLength).toInt))) }
    }
  }

  def run(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val setups = (1 to ctx.times(Setups)).map(_ => Time.ms(setup(ctx)))
    setups.init.foreach(_._1.view.unpin())
    val st = setups.last._1
    val setupMs = setups.map(_._2)
    val view = st.view
    val vocab = view.termLookup.get.values.toIndexedSeq
      .sortBy(t => (-t.df, t.term)).map(_.term)
    val pool = Gen.queryPool(vocab, ctx.seed)
    // warm-up blocks come from the stream's negative block numbers, so the
    // timed blocks are the same whatever the warm-up
    val warmBlocks = ctx.times(WarmBlocks)
    val (_, warmMs) = Time.ms(Trace.span("IndexView.warm") {
      val warm = new QueryService(view)
      clients(new Feed(ctx.seed, -warmBlocks, _ < warmBlocks))((_, r) => send(ctx, warm, r, pool))
    })
    Trace.span("run.check") {
      ctx.check(view.meta.docs == Convs, s"serve: index holds ${view.meta.docs} docs, generated $Convs conversations")
      ctx.notes("digest") = digest(view)
    }

    val service = new QueryService(view)
    val lats = new ConcurrentLinkedQueue[Lat]()
    val t0 = System.nanoTime()
    val deadline = t0 + ctx.seconds * 1000000000L
    Trace.span(Layers.Timed) {
      clients(new Feed(ctx.seed, 0L, _ => System.nanoTime() < deadline)) { (req, r) =>
        val (ok, ms) = Time.ms(ctx.attempt(r.cls.key) {
          Trace.span(s"QueryService.${if (r.cls == Batch) "searchBatch" else "search"}", req) {
            send(ctx, service, r, pool)
          }
        })
        if (ok.isDefined) lats.add(Lat(r.cls, ms, r.queries.length))
      }
    }
    val wallS = (System.nanoTime() - t0) / 1e9

    val all = lats.asScala.toSeq
    ctx.log(f"serve: setups ${setupMs.map(_.toInt)} ms; ${all.length} requests in $wallS%.1f s")
    val singles = all.filter(_.cls != Batch)
    val batches = all.filter(_.cls == Batch)
    val e2e = Map(
      "setup_s" -> Stats.median(setupMs) / 1e3,
      "op_p50_ms" -> (if (singles.isEmpty) Double.NaN else Stats.median(singles.map(_.ms))),
      "items_per_s" -> singles.length / wallS)
    if (singles.isEmpty) return e2e

    Trace.span("run.check")(checks(ctx, view, pool))

    if (ctx.traced) {
      val l = ctx.layers
      val (p, tail) = Stats.tail(singles.map(_.ms))
      l("serve.query_tail_ms") = tail
      l("serve.query_tail_percentile") = p.toDouble
      l("serve.query_samples") = singles.length.toDouble
      l("serve.batch_qps") =
        if (batches.isEmpty) 0.0 else batches.map(_.n).sum / (batches.map(_.ms).sum / 1e3)
      QClass.singles.foreach { c =>
        val xs = singles.filter(_.cls == c).map(_.ms)
        l(s"QueryService.latency_p50_ms.${c.key}") = if (xs.isEmpty) 0.0 else Stats.median(xs)
      }
      l("QueryService.batch_ms_per_query") =
        if (batches.isEmpty) 0.0 else batches.map(_.ms).sum / batches.map(_.n).sum
      val served = Trace.span("QueryService.queryMetrics") {
        service.queryMetrics(spark).filter("batch_n = 1").selectExpr("avg(cast(cached as double))").head()
      }
      l("QueryService.cache_hit_frac") = if (served.isNullAt(0)) 0.0 else served.getDouble(0)
      l("IndexBuilder.build_s") = st.buildMs / 1e3
      l("IndexView.pin_s") = st.pinMs / 1e3
      l("IndexView.warm_s") = warmMs / 1e3
      Layers.spark(ctx)
      Trace.span("run.probe")(probeSearcher(ctx, view, pool))
    }
    view.unpin()
    e2e
  }

  /** [[Clients]] threads, each taking its next request from `feed` once its
    * last one returned, until the feed runs dry. What a client throws is
    * rethrown here once every client has stopped. */
  private def clients(feed: Feed)(serve: (Long, Request) => Unit): Unit = {
    val parent = Trace.current
    val thrown = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = (0 until Clients).map { c =>
      new Thread(() => {
        Trace.adopt(parent)
        try {
          var next = feed.next()
          while (next.isDefined && thrown.get == null) {
            serve(next.get._1, next.get._2)
            next = feed.next()
          }
        } catch { case e: Throwable => thrown.compareAndSet(null, e) }
      }, s"graftbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(thrown.get).foreach(e => throw e)
  }

  private def send(ctx: Ctx, service: QueryService, r: Request,
      pool: IndexedSeq[String]): Array[Row] = {
    val spark = ctx.spark
    val q = pool(r.queries.head)
    r.cls match {
      case OrBm25 => service.search(spark, q, K, Or, Bm25)
      case OrCosine => service.search(spark, q, K, Or, TfIdfCosine)
      case AndBm25 => service.search(spark, q, K, And, Bm25)
      case WandBm25 => service.search(spark, q, K, Or, Bm25, wand = true)
      case Batch =>
        service.searchBatch(spark, r.queries.zipWithIndex.map { case (i, n) => (s"q$n", pool(i)) }, K)
    }
  }

  private final case class Setup(view: IndexView, buildMs: Double, pinMs: Double)

  /** A server's start: build the index of a seeded corpus, switch to
    * serving partitions, pin and force the driver-side lookups. (The
    * warm-up request of every class follows the last set-up, untimed.) */
  private def setup(ctx: Ctx): Setup = Trace.span("run.setup") {
    val spark = ctx.spark
    spark.conf.set("spark.sql.shuffle.partitions", (2 * ctx.cores).toString)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    val (built, buildMs) = Time.ms(Trace.span("IndexBuilder.build") {
      IndexBuilder.build(spark, Synth.turns(spark, Convs, ctx.seed))
    })
    // serving window: partitions sized for query tasks, AQE off (small
    // fixed-shape plans), as a server configures itself before pinning
    spark.conf.set("spark.sql.shuffle.partitions",
      IndexView.servingPartitions(built.meta, spark).toString)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (view, pinMs) = Time.ms(Trace.span("IndexView.pin") {
      val v = built.pin()
      val _ = (v.termLookup, v.wandTermBounds)
      v
    })
    Setup(view, buildMs, pinMs)
  }

  /** Order-independent digest of the term dictionary and doc stats: equal
    * across runs of one seed, since the build is deterministic. */
  private def digest(view: IndexView): String = {
    def d(t: org.apache.spark.sql.DataFrame): String = {
      val r = t.select(xxhash64(t.columns.sorted.map(col).toIndexedSeq: _*).as("h"))
        .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), bit_xor(col("h"))).head()
      s"${r.get(0)}:${r.get(1)}:${r.get(2)}"
    }
    s"term_dict=${d(view.termDict.toDF())};doc_stats=${d(view.docStats.toDF())}"
  }

  /** Seeded sample of pool queries with at least one in-vocabulary term. */
  private def sampleQueries(ctx: Ctx, view: IndexView, pool: IndexedSeq[String],
      salt: Long, n: Int): IndexedSeq[String] = {
    val dict = view.termLookup.get
    val live = pool.distinct.filter(q => Analyzer.analyze(q, view.cfg.analyzer).exists(dict.contains))
    Gen.sample(ctx.seed, salt, live.length, n).map(live)
  }

  private def hits(rows: Array[Row]): Seq[(Long, Double)] =
    rows.toSeq.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))

  /** WAND ≡ exact BM25, batch ≡ single, and exact BM25 ≡ a brute-force
    * scorer over the decoded posting blocks, on a seeded query sample. */
  private def checks(ctx: Ctx, view: IndexView, pool: IndexedSeq[String]): Unit = {
    val spark = ctx.spark
    val searcher = new Searcher(view)
    val qs = sampleQueries(ctx, view, pool, 7L, 2)
    val docLen: Map[Long, Long] = view.docStats.collect().iterator
      .map(d => d.doc_id -> d.doc_len).toMap
    val exact = qs.map(q => hits(searcher.search(spark, q, K, Or, Bm25).collect()))
    qs.zip(exact).foreach { case (q, ex) =>
      val wand = hits(searcher.searchBm25Wand(spark, q, K, exactCutover = 0L).collect())
      ctx.check(wand == ex, s"serve: WAND top-$K != exact BM25 for '$q'")
      // top-k agree up to ties: the same score sequence, and every
      // returned doc carries its own brute-force score
      val bruteScore = bruteBm25(view, q, docLen)
      val brute = bruteScore.toSeq.sortBy { case (d, s) => (-s, d) }.take(K)
      def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
      ctx.check(ex.length == brute.length &&
        ex.zip(brute).forall { case ((_, a), (_, b)) => close(a, b) } &&
        ex.forall { case (d, s) => bruteScore.get(d).exists(close(s, _)) },
        s"serve: BM25 top-$K != brute force for '$q': $ex vs $brute")
    }
    val batch = searcher.searchBatch(spark, qs.zipWithIndex.map { case (q, i) => (s"q$i", q) }, K)
      .collect().groupBy(_.getAs[String]("query_id"))
    qs.zip(exact).zipWithIndex.foreach { case ((q, ex), i) =>
      val got = batch.getOrElse(s"q$i", Array.empty[Row]).sortBy(_.getAs[Int]("rank")).toSeq
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
      ctx.check(got == ex, s"serve: searchBatch rows != single search rows for '$q'")
    }
  }

  /** BM25 of every matching doc, computed in the driver from term_dict,
    * doc_stats and `Codec.decodeBlock`. */
  private def bruteBm25(view: IndexView, q: String, docLen: Map[Long, Long]): Map[Long, Double] = {
    val dict = view.termLookup.get
    val qtf = Analyzer.analyze(q, view.cfg.analyzer).toSeq.filter(dict.contains)
      .groupBy(identity).map { case (t, g) => dict(t) -> g.length }
    val k1 = view.cfg.k1; val b = view.cfg.b; val avgdl = view.meta.avgdl
    val blocks = view.postings.filter(
      org.apache.spark.sql.functions.col("term_id").isin(qtf.keys.map(_.term_id).toSeq: _*)).collect()
    val byTerm = qtf.map { case (t, n) => t.term_id -> (t, n) }
    val acc = scala.collection.mutable.HashMap.empty[Long, Double].withDefaultValue(0.0)
    blocks.foreach { blk =>
      val (t, n) = byTerm(blk.term_id)
      Codec.decodeBlock(blk).foreach { case (d, tf) =>
        val dl = docLen(d).toDouble
        acc(d) += n * t.bm25_idf * (k1 + 1) * tf / (tf + k1 * (1 - b + b * dl / avgdl))
      }
    }
    acc.toMap
  }

  /** Traced run only: the same query sample sent straight to the Searcher
    * in every single-query class, so plan and exec times, decode and
    * aggregation counts, and WAND's decoded blocks against exact BM25's for
    * the same queries, are measured per query. */
  private def probeSearcher(ctx: Ctx, view: IndexView, pool: IndexedSeq[String]): Unit = {
    val searcher = new Searcher(view)
    val ps = for (q <- sampleQueries(ctx, view, pool, 11L, 12); c <- QClass.singles)
      yield Probe.run(ctx.spark, searcher, c, q, K)
    Probe.layers(ctx, ps)
  }
}
