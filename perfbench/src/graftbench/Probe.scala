package graftbench

import org.apache.spark.sql.SparkSession

import graft.ir._

/** One query sent straight to a Searcher, timed in two parts: plan (until
  * the call returns its DataFrame: analysis, OOV drop, plan build, WAND θ)
  * and exec (the collect), with work counts from the executed plan. */
final case class ProbeResult(cls: QClass, planMs: Double, execMs: Double, work: QueryWork)

object Probe {

  def run(spark: SparkSession, searcher: Searcher, cls: QClass, q: String, k: Int): ProbeResult =
    Trace.span("Searcher.query") {
      val (df, planMs) = Time.ms(Trace.span("Searcher.plan") {
        cls match {
          case OrCosine => searcher.search(spark, q, k, Or, TfIdfCosine)
          case AndBm25 => searcher.search(spark, q, k, And, Bm25)
          case WandBm25 => searcher.searchBm25Wand(spark, q, k)
          case _ => searcher.search(spark, q, k, Or, Bm25)
        }
      })
      val (_, execMs) = Time.ms(Trace.span("Searcher.exec")(df.collect()))
      ProbeResult(cls, planMs, execMs, Plans.work(df))
    }

  /** `Searcher.*`, `DecodeBlock.*`, `TopK.*` and `wand.*` layer metrics over
    * probes, with Spark work from the `Searcher.query` spans. */
  def layers(ctx: Ctx, ps: Seq[ProbeResult]): Unit = if (ctx.traced && ps.nonEmpty) {
    Trace.drain()
    val c = Trace.inclusive(Trace.named("Searcher.query"))
    val n = ps.length.toDouble
    val l = ctx.layers
    l("Searcher.plan_ms.p50") = Stats.median(ps.map(_.planMs))
    l("Searcher.plan_ms.p95") = Stats.quantile(ps.map(_.planMs), 0.95)
    l("Searcher.exec_ms.p50") = Stats.median(ps.map(_.execMs))
    l("Searcher.exec_ms.p95") = Stats.quantile(ps.map(_.execMs), 0.95)
    l("Searcher.jobs_per_query") = c.jobs / n
    l("Searcher.tasks_per_query") = c.tasks / n
    l("Searcher.task_cpu_ms_per_query") = c.cpuNs / 1e6 / n
    l("DecodeBlock.blocks_scanned_per_query") = ps.map(_.work.blocks).sum / n
    l("DecodeBlock.postings_decoded_per_query") = ps.map(_.work.postings).sum / n
    l("TopK.docs_scored_per_query") = ps.map(_.work.docsScored).sum / n
    val wand = ps.filter(_.cls == WandBm25).map(_.work.blocks).sum
    val exact = ps.filter(_.cls == OrBm25).map(_.work.blocks).sum
    l("wand.pruned_block_frac") = if (exact == 0) 0.0 else 1.0 - wand.toDouble / exact
  }
}
