package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.UUID
import java.util.concurrent.Executors

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftCoreBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession, SQLContext}
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

import graft.ir._
import graft.ops.{Hashing, Similarity}
import graft.streaming.StreamingIndexer

/**
 * Perf and plan probes: one subcommand per question, all on one session
 * builder, one timer, one warm-up build and one per-job listener.
 *
 *   plans <dir> <suffix>   executed plans of the five served request classes,
 *                          optimized plans of the three build tables, and the
 *                          postings / ANN-sig / IVF-cell pruning scans of the
 *                          stored layouts, ids normalised, to
 *                          <dir>/<name>_<suffix>.txt, so two revisions diff
 *                          to exactly their plan changes
 *   jobs build|save|query|sweep [names...]
 *                          one row per Spark job (wall, stages, tasks, task
 *                          CPU, GC, shuffle read/write, spill) for an
 *                          in-memory build, an IndexStore.buildAndSave,
 *                          three served queries, or the SparkEntry operator
 *                          sweep (cold, then warm)
 *   scale local|cluster    build throughput at N vs 4N cores: local[2] vs
 *                          local[8], or 2 vs 8 executor JVMs of 2 cores
 *   latency                serving percentiles, driver time and compiles
 *                          per query, batch prune, 4 clients
 *   append                 append vs rebuild, cosine and BM25-only
 *   stream                 streaming ingest turns/s
 *   ann                    LSH vs IVF build, query time and recall@10
 *
 * Environment: SPARK_GRAFT_CPUS (cores, default all),
 * SPARK_GRAFT_BENCH_CONVS (corpus size; the vector count for `ann`) and
 * SPARK_GRAFT_SF_DIR (the `jobs sweep` input).
 *
 *   sbt "runMain graft.Probe <subcommand> [args...]"
 */
object Probe {

  /** One Spark job as the listener saw it, or a sum of jobs; `cpuNs` is
    * summed task CPU, `ms` the job's wall time. */
  final case class Job(id: Int, name: String, ms: Long = 0L, stages: Long = 0L, tasks: Long = 0L,
      cpuNs: Long = 0L, gcMs: Long = 0L, shuffleRead: Long = 0L, shuffleWrite: Long = 0L,
      spill: Long = 0L) {
    def +(o: Job): Job = copy(ms = ms + o.ms, stages = stages + o.stages, tasks = tasks + o.tasks,
      cpuNs = cpuNs + o.cpuNs, gcMs = gcMs + o.gcMs, shuffleRead = shuffleRead + o.shuffleRead,
      shuffleWrite = shuffleWrite + o.shuffleWrite, spill = spill + o.spill)
  }

  /** The sum of `js`, as a row named total. */
  def total(js: Seq[Job]): Job = js.foldLeft(Job(-1, "total"))(_ + _)

  private val TagKey = "graft.probe"

  /** Records the jobs whose submitting thread carries `TagKey == tag`, and
    * charges each completed stage's task metrics to its job. A job is named
    * after its SQL action's call site, so the jobs AQE submits from its own
    * threads name the action too. The bus calls a listener from one thread,
    * and `profile` reads the rows only after draining it, so plain
    * collections do. */
  private final class JobListener(tag: String) extends SparkListener {
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val started = mutable.HashMap.empty[Int, Long]
    private val stageJob = mutable.HashMap.empty[Int, Int]
    private val actions = mutable.HashMap.empty[String, String]

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => actions(s.executionId.toString) = s.description
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty(TagKey) == tag)) {
        val action = actions.get(e.properties.getProperty(SQLExecution.EXECUTION_ID_KEY, ""))
        started(e.jobId) = e.time
        jobs(e.jobId) = Job(e.jobId, action.getOrElse(e.stageInfos.maxBy(_.stageId).name))
        e.stageInfos.foreach(s => stageJob(s.stageId) = e.jobId)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      started.get(e.jobId).foreach(t => jobs(e.jobId) = jobs(e.jobId).copy(ms = e.time - t))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      for (id <- stageJob.get(e.stageInfo.stageId); m <- Option(e.stageInfo.taskMetrics))
        jobs(id) += Job(id, "", stages = 1L, tasks = e.stageInfo.numTasks,
          cpuNs = m.executorCpuTime, gcMs = m.jvmGCTime,
          shuffleRead = m.shuffleReadMetrics.totalBytesRead,
          shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
          spill = m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  private def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    (body, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `body` with the jobs it submits tagged, waits until the listener
    * has seen every event posted so far, and returns the result, the wall
    * seconds and one row per job in submission order. Calls do not nest. */
  def profile[T](spark: SparkSession)(body: => T): (T, Double, Seq[Job]) = {
    val sc = spark.sparkContext
    val tag = UUID.randomUUID().toString
    val listener = new JobListener(tag)
    sc.addSparkListener(listener)
    sc.setLocalProperty(TagKey, tag)
    try {
      val (r, sec) = time(body)
      GraftCoreBridge.drainListeners(sc)
      (r, sec, listener.jobs.values.toSeq)
    } finally {
      sc.setLocalProperty(TagKey, null)
      sc.removeSparkListener(listener)
    }
  }

  /** A header with the wall and its gap over Σjob, then one line per job
    * and the total. */
  private def printJobs(label: String, sec: Double, js: Seq[Job]): Unit = {
    val t = total(js)
    println(f"[jobs] $label wall=$sec%.3f s jobs=${js.length} gap=${sec - t.ms / 1e3}%.3f s")
    (js :+ t).foreach(j => println(f"[jobs]   ${j.id}%5d ${j.ms / 1e3}%8.3f s " +
      f"stages=${j.stages}%3d tasks=${j.tasks}%5d cpu=${j.cpuNs / 1e9}%.3f s " +
      f"gc=${j.gcMs / 1e3}%.3f s shuffle r/w=${j.shuffleRead}/${j.shuffleWrite} spill=${j.spill} " +
      j.name))
  }

  /** Runs `body` on a new session with AQE on, stopped after. The UTC session
    * time zone and the disabled UI come from the JVM options in build.sbt. */
  private def withSession[T](master: String, parts: Int)(body: SparkSession => T): T = {
    val b = SparkSession.builder().master(master).appName("graft-probe")
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.adaptive.enabled", "true")
    // executor JVMs need the app classes and the driver's JDK17 module opens
    if (master.startsWith("local-cluster"))
      b.config("spark.executor.extraClassPath", sys.props("java.class.path"))
        .config("spark.executor.extraJavaOptions", JvmOpens.forExecutors)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try body(spark) finally spark.stop()
  }

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** One untimed warm-up build at 1/40 of the corpus (at least 1000 convs,
    * at most the corpus) so the JIT has compiled the build's kernels, then
    * `runs` builds (or builds and saves) of cached Synth.turns(nConvs) under
    * the listener: the turn count and the fastest run's wall and jobs. */
  private def timedBuild(spark: SparkSession, nConvs: Int, save: Boolean,
      runs: Int): (Long, Double, Seq[Job]) = {
    IndexBuilder.build(spark, Synth.turns(spark, nConvs min (nConvs / 40 max 1000), 7L)).unpin()
    (1 to runs).map { _ =>
      val turns = Synth.turns(spark, nConvs).cache()
      val n = turns.count()
      val (view, sec, js) = profile(spark)(
        if (save) IndexStore.buildAndSave(spark, turns, tmp("probe-save"))
        else IndexBuilder.build(spark, turns))
      view.unpin(); turns.unpersist(); System.gc()
      (n, sec, js)
    }.minBy(_._2)
  }

  /** `built` pinned for serving: serving partitions, driver lookups built,
    * one query run. */
  private def served(spark: SparkSession, built: IndexView): IndexView = {
    spark.conf.set("spark.sql.shuffle.partitions",
      IndexView.servingPartitions(built.meta, spark).toString)
    val view = built.pin()
    view.termLookup; view.wandTermBounds
    new Searcher(view).search(spark, "pais libre", 10).count()
    view
  }

  /** The 13 reference bot queries (InitClient.java:124-138). */
  private val BotQueries = Seq("primera consulta",
    "universidad riqueza atletismo argentina estado nacion edificio comunicacion", "tecnologia",
    "pais", "estado libre", "pais libre", "perro libre finanzas religion estado morfologia",
    "tecnologia libre", "ultima consulta", "pais libre", "estado libre", "tecnologia", "pais")

  // ------------------------------------------------------------------ plans

  /** Expression ids, plan ids, object hashes and JVM lambda class names
    * normalised, so the same plan renders to the same bytes in any run. */
  private def normalise(plan: String): String = Seq("#\\d+" -> "#x",
    "plan_id=\\d+" -> "plan_id=x", "@[0-9a-f]+\\b" -> "@x", "Lambda\\$\\d+/0x[0-9a-f]+" -> "Lambda")
    .foldLeft(plan) { case (p, (pattern, to)) => p.replaceAll(pattern, to) }

  /** Runs `df` and renders its executed plan one node a line, indented by
    * depth, without the stored plans that a cached relation's scan embeds. */
  def planText(df: DataFrame): String = {
    def render(p: SparkPlan, depth: Int): Seq[String] =
      ("  " * depth + p.verboseString(SQLConf.get.maxToStringFields)) +:
        p.children.flatMap(render(_, depth + 1))
    df.collect()
    normalise(render(df.queryExecution.executedPlan, 0).mkString("", "\n", "\n"))
  }

  /** The serve workload's index (Synth.turns(2000), serving partitions, AQE
    * off, pinned) and its five request classes, then the build tables and
    * the pruning scans. */
  def plans(spark: SparkSession, dir: String, suffix: String): Unit = {
    val scratch = tmp("probe-plans")
    Files.createDirectories(Paths.get(dir))
    def write(name: String, plan: String): Unit = {
      val path = Paths.get(dir, s"${name}_$suffix.txt")
      Files.writeString(path, plan.replace(scratch, "<tmp>"))
      println(s"[plan] wrote $path")
    }
    val built = IndexBuilder.build(spark, Synth.turns(spark, 2000))
    Seq("termdict" -> built.termDict.toDF(), "docstats" -> built.docStats.toDF(),
      "postings" -> built.postings.toDF()).foreach { case (name, df) =>
      write(s"build_$name", normalise(df.queryExecution.optimizedPlan.treeString))
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val view = served(spark, built)
    val searcher = new Searcher(view)
    val q = "pais libre tecnologia estado"
    // 32 queries: 4 fixed ones, then 28 triples of df-ranked vocabulary
    val vocab = view.termDict.collect().sortBy(t => (-t.df, t.term)).map(_.term)
    val batch = (Seq("pais libre", "tecnologia", "estado libre", q) ++
      (0 until 28).map(i => Seq(i, i + 5, i + 11).map(j => vocab(j % vocab.length)).mkString(" ")))
      .zipWithIndex.map { case (text, i) => s"q$i" -> text }
    write("or_bm25", planText(searcher.search(spark, q, 10, Or, Bm25)))
    write("or_cosine", planText(searcher.search(spark, q, 10, Or, TfIdfCosine)))
    write("and_bm25", planText(searcher.search(spark, q, 10, And, Bm25)))
    write("wand_bm25", planText(searcher.searchBm25Wand(spark, q, 10)))
    write("batch32_bm25", planText(searcher.searchBatch(spark, batch, 10)))

    IndexStore.saveView(spark, view, s"$scratch/index")
    write("scan_postings", planText(spark.read.parquet(s"$scratch/index/postings.parquet")
      .filter(col("term_id").isin(3L, 7L, 11L)).select("term_id", "first_doc_id", "count")))
    val embs = spark.range(0, 2000).selectExpr("id as vec_id",
      "transform(sequence(1, 16), i -> cast(sin(id * i) as float)) as embedding")
    Similarity.saveAnnIndex(embs, s"$scratch/ann")
    write("scan_ann_sig", planText(Similarity.loadAnnIndex(spark, s"$scratch/ann")
      .data.filter(col("sig").isin(0, 1, 2, 4, 8))))
    val ivf = Similarity.buildIvfIndex(embs)
    Similarity.saveIvfIndex(ivf, s"$scratch/ivf")
    write("scan_ivf_cell", planText(Similarity.loadIvfIndex(spark, s"$scratch/ivf")
      .data.filter(col("cell").isin(0, 1, 2))))
    ivf.unpin(); view.unpin()
  }

  // ------------------------------------------------------------------- jobs

  /** The per-job table of one target: `build` or `save` (one timed run after
    * the warm-up), `query` (three served OR-BM25 queries), or `sweep` (the
    * named SparkEntry queries, or all, over `sfDir`: cold, then warm). */
  def jobs(spark: SparkSession, target: String, nConvs: Int, sfDir: => String,
      names: Seq[String]): Unit = target match {
    case "build" | "save" =>
      val (n, sec, js) = timedBuild(spark, nConvs, target == "save", runs = 1)
      printJobs(s"$target convs=$nConvs turns=$n", sec, js)
    case "query" =>
      val view = served(spark, IndexBuilder.build(spark, Synth.turns(spark, nConvs)))
      Seq("pais", "pais libre", BotQueries(1)).foreach { q =>
        val (_, sec, js) = profile(spark)(new Searcher(view).search(spark, q, 10, Or, Bm25).count())
        printJobs(s"query '$q' convs=$nConvs", sec, js)
      }
      view.unpin()
    case "sweep" =>
      // the driver sweep's session: 16 shuffle partitions, AQE off
      spark.conf.set("spark.sql.shuffle.partitions", "16")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val sweep = if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted
      Seq("cold", "warm").foreach { pass =>
        val passSec = sweep.map { n =>
          val (rows, sec, js) = profile(spark)(
            try SparkEntry.queries(n)(spark, sfDir).count()
            catch { case e: Exception => println(s"[jobs] $n FAILED: $e"); -1L })
          printJobs(s"$pass $n rows=$rows", sec, js)
          sec
        }.sum
        println(f"[jobs] $pass sweep total $passSec%.3f s")
      }
  }

  // ------------------------------------------------------------------ scale

  /** Best-of-2 build at N and 4N cores, each in its own session after a
    * warm-up; jobs and wall − Σjob from the best run. */
  def scale(cluster: Boolean, nConvs: Int): Unit = {
    val levels = if (cluster) Seq("local-cluster[2,2,6144]" -> 8, "local-cluster[8,2,6144]" -> 32)
      else Seq("local[2]" -> 4, "local[8]" -> 16)
    val Seq(secN, sec4N) = levels.map { case (master, parts) =>
      val (n, sec, js) = withSession(master, parts)(timedBuild(_, nConvs, save = false, runs = 2))
      println(f"[scale] master=$master turns=$n sec=$sec%.2f thr=${n / sec}%.0f " +
        f"jobs=${js.length} gap=${sec - total(js).ms / 1e3}%.2f")
      sec
    }
    println(f"[scale] efficiency=${secN / sec4N / 4.0}%.3f")
  }

  // ---------------------------------------------------------------- latency

  /** Bench's latency section alone: 13 bot queries × 4 rounds of OR-BM25,
    * WAND, WAND with pruning forced (wand0) and AND top-10 (wall
    * percentiles, the p50 of driver time = wall − Σjob, codegen compiles and
    * Spark jobs per query), the 13-query batch with its prune A/B, and 4
    * concurrent clients through one uncached QueryService. */
  def latency(spark: SparkSession, nConvs: Int): Unit = {
    val view = served(spark, IndexBuilder.build(spark, Synth.turns(spark, nConvs)))
    val s = new Searcher(view)
    def sec(body: => Any): Double = time(body)._2
    s.searchBm25Wand(spark, "pais libre", 10).count()
    val modes = Seq[(String, String => DataFrame)]("exact" -> (s.search(spark, _, 10, Or, Bm25)),
      "wand" -> (s.searchBm25Wand(spark, _, 10)), "and" -> (s.search(spark, _, 10, And, Bm25)),
      "wand0" -> (s.searchBm25Wand(spark, _, 10, exactCutover = 0L)))
    // the classes interleave per query, in an order rotated each round, so
    // no class is timed first (and slow) for its position alone. Each run
    // keeps its wall, its driver time (wall − Σjob), its codegen compiles
    // and its job count
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val timed = (0 until 4).flatMap(round => BotQueries.flatMap(q =>
      modes.indices.map(i => modes((i + round) % modes.size))
        .map { case (mode, run) =>
          val c0 = compiles
          val (_, wall, js) = profile(spark)(run(q).count())
          mode -> (wall, wall - total(js).ms / 1e3, compiles - c0, js.length)
        }))
    val percentiles = modes.map { case (mode, _) =>
      val runs = timed.collect { case (`mode`, r) => r }
      def pct(xs: Seq[Double], p: Double) = xs.sorted.apply(math.min(xs.length - 1, (p * xs.length).toInt))
      val walls = runs.map(_._1)
      f"$mode p50=${pct(walls, 0.5)}%.3f p95=${pct(walls, 0.95)}%.3f " +
        f"driver_p50=${pct(runs.map(_._2), 0.5)}%.3f compiles/q=${runs.map(_._3).sum.toDouble / runs.length}%.2f " +
        f"jobs/q=${runs.map(_._4).sum.toDouble / runs.length}%.2f"
    }
    val bq = BotQueries.zipWithIndex.map { case (q, i) => (s"q$i", q) }
    def batch(cutover: Long, n: Int) =
      (1 to n).map(_ => sec(s.searchBatch(spark, bq, 10, Bm25, cutover).count())).min
    s.searchBatch(spark, bq, 10).count()
    val batchSec = batch(-1L, 4)
    // the batch prune: candidate volume, surviving blocks, forced off vs on
    val live = bq.map { case (id, text) => id -> s.queryTerms(spark, text) }.filter(_._2.nonEmpty)
    val nAll = view.postings
      .filter(col("term_id").isin(live.flatMap(_._2.map(_.termId)).distinct: _*)).count()
    val nSurv = s.survivorBlocks(spark, live, 10).map(_.count()).getOrElse(nAll)
    val (off, on) = (batch(Long.MaxValue, 3), batch(0L, 3))
    println(f"[latency] batch-diag sum_df=${live.flatMap(_._2).map(_.df).sum} blocks=$nAll " +
      f"surv=$nSurv (${100.0 * nSurv / math.max(1, nAll)}%.1f%%) " +
      f"unpruned=$off%.3f s pruned=$on%.3f s")
    println(f"[latency] cpus=${spark.sparkContext.defaultParallelism} convs=$nConvs " +
      s"parts=${spark.conf.get("spark.sql.shuffle.partitions")} ${percentiles.mkString(" | ")} | " +
      f"batch13 sec=$batchSec%.3f qps=${BotQueries.length / batchSec}%.1f")

    // the service holds no lock across Spark jobs, so concurrent clients
    // overlap their jobs' scheduling gaps; cache off: every call runs a job
    val clients = 4
    val svc = new QueryService(view, cacheCapacity = 0)
    BotQueries.take(2).foreach(q => svc.search(spark, q, 10))
    def pass(): Unit = BotQueries.foreach(q => svc.search(spark, q, 10))
    val serial = (1 to 2).map(_ => sec(pass())).min
    val pool = Executors.newFixedThreadPool(clients)
    val concurrent = try (1 to 2).map(_ => sec(pool.invokeAll(
      Seq.fill(clients)(Executors.callable(() => pass())).asJava).forEach(_.get()))).min
    finally pool.shutdown()
    val (qps1, qpsM) = (BotQueries.length / serial, clients * BotQueries.length / concurrent)
    println(f"[latency] concurrency clients=$clients serial qps=$qps1%.2f " +
      f"concurrent qps=$qpsM%.2f speedup=${qpsM / qps1}%.2fx")
    view.unpin()
  }

  // ----------------------------------------------------------------- append

  /** Append a 10% delta vs rebuild the whole corpus, both through the
    * staged store, in cosine-parity and BM25-only maintenance modes. */
  def append(spark: SparkSession, nConvs: Int): Unit = {
    val all = Synth.turns(spark, nConvs).cache()
    val n = all.count()
    val inDelta = pmod(xxhash64(col("conv_id")), lit(100)) < 10
    for (norms <- Seq(true, false)) {
      val cfg = BuildConfig(cosineNorms = norms)
      val rebuild = time(IndexStore.buildAndSave(spark, all, tmp("probe-rebuild"), cfg))._2
      val dir = tmp("probe-append")
      IndexStore.buildAndSave(spark, all.filter(!inDelta), dir, cfg)
      val append = time(IndexStore.append(spark, all.filter(inDelta), dir))._2
      println(f"[append] turns=$n delta=10%% cosineNorms=$norms " +
        f"rebuild=$rebuild%.2f append=$append%.2f speedup=${rebuild / append}%.2f")
    }
    all.unpersist()
  }

  // ----------------------------------------------------------------- stream

  /** Synth conversations arrive in 5 waves on a MemoryStream; each wave's
    * arrival closes the previous one (30 s gap), and closed conversations
    * are spilled and appended about every third of the corpus. */
  def stream(spark: SparkSession, nConvs: Int): Unit = {
    import spark.implicits._
    implicit val sql: SQLContext = spark.sqlContext
    // each micro-batch checkpoints every state partition, so per-batch cost
    // is linear in the partition count (64 measured 78 s where 16 measured
    // 31 s); AQE re-plans every micro-batch at no gain (BENCH/BASELINE.md r5)
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (waves, t0) = (5, 1577836800000L)
    val all = Synth.turns(spark, nConvs).as[Turn].collect()
    val waveTurns = (0 until waves).map(w =>
      all.filter(t => math.floorMod(t.conv_id.hashCode, waves) == w)
        .map(t => t.copy(ts = new Timestamp(t0 + w * 60000L + t.turn_idx * 100L))))
    val dir = tmp("probe-stream-idx")
    // BM25-only: the delta-only maintenance mode a continuous stream wants
    val cfg = BuildConfig(buckets = 4, cosineNorms = false)
    val coalesce = math.max(1L, all.length / 3L)
    val src = MemoryStream[Turn]
    val (_, sessionizeSec) = time {
      val q = StreamingIndexer.indexStream(src.toDS(), dir, gapMs = 30000L,
        tmp("probe-stream-ckpt"), cfg, coalesceTurns = coalesce)
      // then a sentinel conversation far in the future, one turn at a time: its
      // turn 0 closes the last wave, its turn 1 extends it, so it stays open
      // and exactly nConvs conversations index
      val sentinel = Seq(0, 1).map(i => Array(Turn("zz_sentinel", i, "user", "fin", null,
        new Timestamp(t0 + (waves + 100 + i) * 60000L))))
      try (waveTurns ++ sentinel).foreach { wt => src.addData(wt.toSeq); q.processAllAvailable() }
      finally q.stop()
    }
    // the stop-time flush of what is still spilled: one-time, timed apart
    val (_, flushSec) = time(StreamingIndexer.flushStaged(spark, dir, cfg))
    val wall = sessionizeSec + flushSec
    println(f"[stream] convs=$nConvs waves=$waves turns=${all.length} coalesce=$coalesce " +
      f"wall=$wall%.2fs (sessionize+spill=$sessionizeSec%.2fs flush=$flushSec%.2fs) " +
      f"turns_per_sec=${all.length / wall}%.0f " +
      f"steady_turns_per_sec=${all.length / sessionizeSec}%.0f " +
      f"indexed_docs=${IndexStore.load(spark, dir, cfg).meta.docs} " +
      s"(expect $nConvs; sentinel stays open)")
  }

  // -------------------------------------------------------------------- ann

  private def prng(a: Long, b: Long): Double =
    (Hashing.mix(Hashing.mix(a * 7919L) ^ b) >>> 11).toDouble / (1L << 53).toDouble - 0.5

  /** LSH (data-independent hyperplanes) vs IVF (trained cells) on planted
    * clusters (n/25 centers, 5% noise) and on uniform-random vectors:
    * build time, mean query time and recall@10 against brute force. */
  def ann(spark: SparkSession, n: Int): Unit = {
    import spark.implicits._
    val (dim, nQueries, nClusters) = (64, 20, math.max(2, n / 25))
    def unitVectors(f: (Int, Int) => Double) = (0 until n).map { id =>
      val v = Array.tabulate(dim)(f(id, _))
      val norm = math.sqrt(v.map(x => x * x).sum)
      (id.toLong, v.map(x => (x / norm).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    for ((shape, f) <- Seq[(String, (Int, Int) => Double)](
        "planted" -> ((id, d) => prng(id % nClusters, d) + 0.05 * prng(1000000L + id, d)),
        "random" -> ((id, d) => prng(5000000L + id, d)))) {
      val df = unitVectors(f).cache()
      val queryIds = (0 until nQueries).map(i => (i * (n / nQueries)).toLong)
      val vecs = df.filter(col("vec_id").isin(queryIds: _*))
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      val brute = queryIds.map(id =>
        id -> Similarity.annBrute(df, vecs(id), id, 10).collect().map(_.getLong(0)).toSet).toMap
      def report(name: String, buildSec: Double, query: (Array[Float], Long) => DataFrame): Unit = {
        query(vecs(queryIds.head), queryIds.head).collect()
        val (hits, qSec) = time(queryIds.map(id =>
          (query(vecs(id), id).collect().map(_.getLong(0)).toSet intersect brute(id)).size).sum)
        println(f"[ann] $shape%-7s $name%-5s n=$n build=$buildSec%6.2fs " +
          f"query_mean=${qSec / nQueries}%6.3fs recall@10=${hits / 10.0 / nQueries}%.2f")
      }
      val (lsh, lshSec) = time(Similarity.buildAnnIndex(df))
      report("lsh", lshSec, lsh.query(_, _, 10))
      val (ivf, ivfSec) = time(Similarity.buildIvfIndex(df))
      report("ivf", ivfSec, ivf.query(_, _, 10, nprobe = 2))
      lsh.unpin(); ivf.unpin(); df.unpersist()
    }
  }

  // ------------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)
    def convs(default: Int) = sys.env.get("SPARK_GRAFT_BENCH_CONVS").fold(default)(_.toInt)
    def sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", sys.error("sweep reads SPARK_GRAFT_SF_DIR"))
    def local(body: SparkSession => Unit): Unit = withSession(s"local[$cpus]", 2 * cpus)(body)
    args.toList match {
      case "scale" :: mode :: Nil if Set("local", "cluster")(mode) =>
        scale(mode == "cluster", convs(400000))
      case "plans" :: dir :: suffix :: Nil => local(plans(_, dir, suffix))
      case "jobs" :: target :: names if Set("build", "save", "query", "sweep")(target) =>
        local(jobs(_, target, convs(if (target == "query") 400000 else 200000), sfDir, names))
      case "latency" :: Nil => local(latency(_, convs(400000)))
      case "append" :: Nil => local(append(_, convs(100000)))
      case "stream" :: Nil => local(stream(_, convs(20000)))
      case "ann" :: Nil => local(ann(_, convs(2000)))
      case _ => sys.error("usage: graft.Probe plans|jobs|scale|latency|append|stream|ann ...")
    }
  }
}
