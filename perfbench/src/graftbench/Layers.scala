package graftbench

/** Layer metrics shared by every workload. */
object Layers {

  /** Name of the span that wraps each workload's timed phase. */
  val Timed = "run.timed"

  /** `spark.*`: scheduler work charged to the timed phase's spans, with
    * cpu_util = task CPU ÷ (timed wall × cores), and the jobs no span
    * claimed. */
  def spark(ctx: Ctx): Unit = if (ctx.traced) {
    Trace.drain()
    val roots = Trace.named(Timed)
    val c = Trace.inclusive(roots)
    val wallS = roots.map(_.ms).sum / 1e3
    val l = ctx.layers
    l("spark.jobs") = c.jobs.toDouble
    l("spark.stages") = c.stages.toDouble
    l("spark.tasks") = c.tasks.toDouble
    l("spark.task_cpu_s") = c.cpuNs / 1e9
    l("spark.gc_s") = c.gcMs / 1e3
    l("spark.shuffle_write_bytes") = c.shuffleWrite.toDouble
    l("spark.shuffle_read_bytes") = c.shuffleRead.toDouble
    l("spark.spill_bytes") = c.spill.toDouble
    l("spark.cpu_util") = if (wallS > 0) c.cpuNs / 1e9 / (wallS * ctx.cores) else 0.0
    l("spark.unattributed_jobs") = Trace.unattributedJobs.toDouble
  }

  /** Operations that threw ÷ attempted, and the end-to-end values as the
    * traced run measured them: traced minus untraced is the tracing
    * overhead. */
  def run(ctx: Ctx, e2e: Map[String, Double]): Unit = if (ctx.traced) {
    ctx.layers("run.failed_frac") =
      if (ctx.attempted == 0) 0.0 else ctx.failed.toDouble / ctx.attempted
    e2e.foreach { case (k, v) => ctx.layers(s"trace.$k") = v }
  }
}
