package graft

import org.apache.spark.sql.SparkSession

import graft.ir._

/** Focused serving-latency probe (perf tooling): Bench's latency section in
  * isolation — 13 reference bot queries × 4 rounds, BM25 OR top-10, plus
  * WAND, on the synth index. SPARK_GRAFT_CPUS / _CONVS control the run. */
object LatencyProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val nConvs = sys.env.getOrElse("SPARK_GRAFT_BENCH_CONVS", "400000").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", (2 * cpus).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val botQueries = Seq(
      "primera consulta",
      "universidad riqueza atletismo argentina estado nacion edificio comunicacion",
      "tecnologia", "pais", "estado libre", "pais libre",
      "perro libre finanzas religion estado morfologia",
      "tecnologia libre", "ultima consulta", "pais libre", "estado libre",
      "tecnologia", "pais")

    val turns = Synth.turns(spark, nConvs).cache()
    turns.count()
    val built = IndexBuilder.build(spark, turns, BuildConfig())
    // serving mode: shrink the partitioning to query-sized task counts
    // (SPARK_GRAFT_SERVE_PARTS=0 keeps the build-sized layout for A/B)
    val serveParts = sys.env.get("SPARK_GRAFT_SERVE_PARTS").map(_.toInt)
      .getOrElse(IndexView.servingPartitions(built.meta, spark))
    if (serveParts > 0)
      spark.conf.set("spark.sql.shuffle.partitions", serveParts.toString)
    if (sys.env.get("SPARK_GRAFT_SERVE_AQE").contains("0"))
      spark.conf.set("spark.sql.adaptive.enabled", "false")
    val view = built.pin()
    view.termLookup; view.wandTermBounds // one-time serving warmup, untimed
    val searcher = new Searcher(view)
    def t(body: => Any): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    searcher.search(spark, "pais libre", 10).count() // warm
    searcher.searchBm25Wand(spark, "pais libre", 10).count()
    if (sys.env.contains("SPARK_GRAFT_PLAN")) {
      val df = searcher.search(spark, "pais libre", 10, Or, Bm25)
      df.count()
      println(df.queryExecution.executedPlan.toString)
    }

    def pct(xs: Seq[Double], p: Double) = {
      val s = xs.sorted; s(math.min(s.length - 1, (p * s.length).toInt))
    }
    val exact = (1 to 4).flatMap(_ => botQueries.map(q =>
      t(searcher.search(spark, q, 10, Or, Bm25).count())))
    val wand = (1 to 4).flatMap(_ => botQueries.map(q =>
      t(searcher.searchBm25Wand(spark, q, 10).count())))
    val and = (1 to 4).flatMap(_ => botQueries.map(q =>
      t(searcher.search(spark, q, 10, And, Bm25).count())))
    val bq = botQueries.zipWithIndex.map { case (q, i) => (s"q$i", q) }
    searcher.searchBatch(spark, bq, 10).count() // warm
    val batch = (1 to 4).map(_ => t(searcher.searchBatch(spark, bq, 10).count())).min
    if (sys.env.contains("SPARK_GRAFT_BATCH_DIAG")) {
      // A/B the batch pruning: forced-off vs forced-on, plus the candidate
      // volume the cutover sees and the surviving block fraction
      val sumDf = bq.flatMap(q => searcher.queryTerms(spark, q._2)).map(_.df).sum
      val live = bq.map { case (qid, text) => qid -> searcher.queryTerms(spark, text) }
        .filter(_._2.nonEmpty)
      val nAll = view.postings.filter(org.apache.spark.sql.functions.col("term_id")
        .isin(live.flatMap(_._2.map(_.termId)).distinct: _*)).count()
      val nSurv = searcher.survivorBlocks(spark, live, 10)
        .map(_.count()).getOrElse(nAll)
      val off = (1 to 3).map(_ =>
        t(searcher.searchBatch(spark, bq, 10, Bm25, Long.MaxValue).count())).min
      val on = (1 to 3).map(_ =>
        t(searcher.searchBatch(spark, bq, 10, Bm25, 0L).count())).min
      println(f"[latency] batch-diag sum_df=$sumDf blocks=$nAll surv=$nSurv " +
        f"(${100.0 * nSurv / math.max(1, nAll)}%.1f%%) " +
        f"unpruned=$off%.3f s pruned=$on%.3f s")
    }
    println(f"[latency] cpus=$cpus convs=$nConvs parts=$serveParts " +
      f"aqe=${spark.conf.get("spark.sql.adaptive.enabled")} " +
      f"exact p50=${pct(exact, 0.5)}%.3f p95=${pct(exact, 0.95)}%.3f | " +
      f"wand p50=${pct(wand, 0.5)}%.3f p95=${pct(wand, 0.95)}%.3f | " +
      f"and p50=${pct(and, 0.5)}%.3f p95=${pct(and, 0.95)}%.3f | " +
      f"batch13 sec=$batch%.3f qps=${botQueries.length / batch}%.1f")

    // ---- concurrent clients through ONE QueryService (r3 verdict #6) ----
    // the reference bot runs multi-threaded clients (InitClient.java:123-155);
    // the service holds no lock across Spark jobs, so M clients overlap
    // their jobs' scheduling gaps. Cache off: every call runs a real job.
    {
      import java.util.concurrent.Executors
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      val svc = new QueryService(view, cacheCapacity = 0)
      botQueries.take(2).foreach(q => svc.search(spark, q, 10)) // warm
      def pass(): Unit = botQueries.foreach(q => svc.search(spark, q, 10))
      val serialSec = (1 to 2).map(_ => t(pass())).min
      val clients = sys.env.getOrElse("SPARK_GRAFT_CLIENTS", "4").toInt
      val pool = Executors.newFixedThreadPool(clients)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      def concurrentSec(): Double =
        t(Await.result(
          Future.sequence((1 to clients).map(_ => Future(pass()))), 10.minutes))
      val concSec = (1 to 2).map(_ => concurrentSec()).min
      pool.shutdown()
      val qps1 = botQueries.length / serialSec
      val qpsM = clients * botQueries.length / concSec
      println(f"[latency] concurrency clients=$clients " +
        f"serial qps=$qps1%.2f concurrent qps=$qpsM%.2f " +
        f"speedup=${qpsM / qps1}%.2fx")
    }
    spark.stop()
  }
}
