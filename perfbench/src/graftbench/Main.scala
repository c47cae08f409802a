package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** An output check failed: the run prints no result and exits nonzero. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** What one run needs: the session, the seed and the clock. A brief run
  * (the class-data archive's) sets up once and warms up once. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val traced: Boolean, val cores: Int, val brief: Boolean = false) {

  /** `n` set-ups or warm-up passes, or one in a brief run. */
  def times(n: Int): Int = if (brief) 1 else n

  private val attemptedN = new java.util.concurrent.atomic.AtomicLong()
  private val failedN = new java.util.concurrent.atomic.AtomicLong()
  def attempted: Long = attemptedN.get()
  def failed: Long = failedN.get()

  /** Run one timed operation; a throw counts as failed, not as a number. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attemptedN.incrementAndGet()
    try Some(body)
    catch {
      case NonFatal(e) =>
        failedN.incrementAndGet()
        System.err.println(s"[graftbench] $what failed: $e")
        None
    }
  }

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) throw new CheckFailed(what)

  /** Layer metrics, emitted by the traced run only. */
  val layers: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  /** Extra report fields (digests, settings), written to the report file. */
  val notes: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty

  def log(msg: String): Unit = System.err.println(s"[graftbench] $msg")
}

/** A workload returns its end-to-end metrics; layer metrics go to `ctx`. */
trait Workload {
  def run(ctx: Ctx): Map[String, Double]
}

object Time {
  def ms[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

/**
 * Benchmark entry point: `--workload <serve|curate> --seed <n>
 * --seconds <s> --trace <0|1> --root <checkout>` prints one JSON line
 * {"correct", "attempted", "failed", "metrics"} with metric values only
 * (the launcher attaches units). `--selftest` runs the benchmark's own
 * tests instead; `--archive` runs every workload once, briefly, for the
 * class-data sharing archive the launcher writes.
 */
object Main {

  val workloads: Map[String, Workload] =
    Map("serve" -> Serve, "curate" -> Curate)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (argv.contains("--selftest")) { SelfTest.run(); return }
    if (argv.contains("--archive")) { archive(args.getOrElse("root", ".")); return }
    val name = args.getOrElse("workload", "")
    val wl = workloads.getOrElse(name, {
      System.err.println(s"unknown workload '$name' (${workloads.keys.toSeq.sorted.mkString(", ")})")
      sys.exit(2)
    })
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val traced = args.getOrElse("trace", "0") == "1"
    val root = new File(args.getOrElse("root", ".")).getAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = session(cores, root)
    val ctx = new Ctx(spark, seed, seconds, traced, cores)
    if (traced) Trace.start(spark.sparkContext)
    val code =
      try {
        val e2e = wl.run(ctx)
        Layers.run(ctx, e2e)
        val correct = ctx.failed == 0
        // a run with failed operations still reports, minus the metrics
        // it had no sample for
        val metrics = (if (traced) ctx.layers.toMap else e2e)
          .filter { case (_, v) => correct || !(v.isNaN || v.isInfinite) }
        report(root, name, ctx, e2e.filter { case (_, v) => !(v.isNaN || v.isInfinite) }, spark)
        println("{" + s""""correct":$correct,"attempted":${ctx.attempted},""" +
          s""""failed":${ctx.failed},"metrics":{""" +
          metrics.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${num(v)}""" }
            .mkString(",") + "}}")
        if (correct) 0 else 1
      } catch {
        case e: CheckFailed =>
          ctx.log(s"output check failed: ${e.getMessage}")
          ctx.notes("check_failed") = e.getMessage
          report(root, name, ctx, Map.empty, spark)
          3
      } finally spark.stop()
    sys.exit(code)
  }

  /** One short untraced run of every workload, so that the JVM that runs
    * this loads the classes the measured runs load (the launcher writes
    * them to a class-data sharing archive at its exit). Prints nothing. */
  private def archive(root: String): Unit = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(cores, new File(root).getAbsolutePath)
    try Seq(Curate, Serve).foreach(_.run(new Ctx(spark, 0L, 0, false, cores, brief = true)))
    finally spark.stop()
  }

  private def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v")
    v.toString
  }

  /** The settings the benchmark fixes, recorded next to its numbers. */
  def settings(spark: SparkSession): Seq[(String, String)] = {
    val sc = spark.sparkContext
    Seq(
      "master" -> sc.master,
      "driver_heap_bytes" -> Runtime.getRuntime.maxMemory.toString,
      "jdk" -> System.getProperty("java.runtime.version"),
      "spark" -> spark.version,
      "build_shuffle_partitions" -> (2 * sc.defaultParallelism).toString,
      "build_aqe" -> "true",
      "serve_shuffle_partitions" -> "IndexView.servingPartitions",
      "serve_aqe" -> "false",
      "curate_shuffle_partitions" -> (2 * sc.defaultParallelism).toString,
      "curate_aqe" -> "true")
  }

  private def session(cores: Int, root: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", s"$root/.bench_build/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** Writes `.bench_build/reports/<workload>-seed<n>-trace<t>.json`:
    * settings, end-to-end and layer metrics, notes, and (traced) the span
    * table with self times and Spark charges per span name, plus every
    * span. */
  private def report(root: String, name: String, ctx: Ctx, e2e: Map[String, Double],
      spark: SparkSession): Unit = {
    def obj(kv: Seq[(String, String)]): String =
      kv.map { case (k, v) => s""""${esc(k)}":$v""" }.mkString("{", ",", "}")
    def str(s: String) = "\"" + esc(s) + "\""
    val spans =
      if (!ctx.traced) "[]"
      else {
        Trace.drain()
        Trace.report().map { case (n, calls, wall, self, c) =>
          obj(Seq("name" -> str(n), "calls" -> calls.toString,
            "wall_ms" -> num(wall), "self_ms" -> num(self),
            "jobs" -> c.jobs.toString, "stages" -> c.stages.toString,
            "tasks" -> c.tasks.toString, "task_cpu_s" -> num(c.cpuNs / 1e9),
            "gc_s" -> num(c.gcMs / 1e3), "shuffle_write_bytes" -> c.shuffleWrite.toString,
            "shuffle_read_bytes" -> c.shuffleRead.toString, "spill_bytes" -> c.spill.toString))
        }.mkString("[", ",", "]")
      }
    val raw =
      if (!ctx.traced) "[]"
      else {
        val t0 = Trace.spans.map(_.start).minOption.getOrElse(0L)
        Trace.spans.sortBy(_.id).map(sp =>
          s"[${sp.id},${sp.parent},${sp.req},${str(sp.name)},${num((sp.start - t0) / 1e6)},${num((sp.end - t0) / 1e6)}]")
          .mkString("[", ",", "]")
      }
    val body = obj(Seq(
      "workload" -> str(name), "seed" -> ctx.seed.toString, "trace" -> ctx.traced.toString,
      "settings" -> obj(settings(spark).map { case (k, v) => k -> str(v) }),
      "end_to_end" -> obj(e2e.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }),
      "layers" -> obj(ctx.layers.toSeq.map { case (k, v) => k -> num(v) }),
      "notes" -> obj(ctx.notes.toSeq.map { case (k, v) => k -> str(v) }),
      "spans" -> spans,
      // every span: [id, parent, request, name, start ms, end ms]
      "span_log" -> raw))
    val dir = Paths.get(root, ".bench_build", "reports")
    Files.createDirectories(dir)
    Files.write(dir.resolve(s"$name-seed${ctx.seed}-trace${if (ctx.traced) 1 else 0}.json"),
      body.getBytes(StandardCharsets.UTF_8))
    ()
  }
}
