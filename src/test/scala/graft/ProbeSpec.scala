package graft

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.ir._

/** graft.Probe: its job listener, its plan rendering, a toy-size run of each
  * subcommand but `scale` (which starts and stops its own sessions), and the
  * rule that no other probe main grows back. Every subcommand runs in its own
  * `newSession()`, so the confs it sets stay out of the shared session. */
class ProbeSpec extends SparkSpec {

  /** What `body` prints, run on a fresh session. */
  private def printed(body: SparkSession => Unit): String = {
    val out = new ByteArrayOutputStream()
    Console.withOut(out)(body(spark.newSession()))
    out.toString("UTF-8")
  }

  test("the job listener counts each job's stages and tasks; the rows sum to the totals") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "2")
    def grouped() = s.range(0, 1000, 1, 4).groupBy(col("id") % 2).count().collect()
    val (_, sec, js) = Probe.profile(s)(Seq(grouped(), grouped()))
    assert(js.map(j => (j.stages, j.tasks)) == Seq((2L, 6L), (2L, 6L)))
    assert(js.forall(j => j.ms >= 0 && j.cpuNs > 0 && j.shuffleWrite > 0 && j.shuffleRead > 0))
    val t = Probe.total(js)
    assert((t.stages, t.tasks) == (4L, 12L))
    assert((t.ms, t.cpuNs, t.gcMs, t.shuffleRead, t.shuffleWrite, t.spill) ==
      ((js.map(_.ms).sum, js.map(_.cpuNs).sum, js.map(_.gcMs).sum, js.map(_.shuffleRead).sum,
        js.map(_.shuffleWrite).sum, js.map(_.spill).sum)))
    assert(t.ms <= sec * 1000 + 10)
  }

  test("the same OR-BM25 query renders to the same plan bytes twice, with no ids") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false") // as served: the whole tree, not AQE's root
    val view = IndexBuilder.build(s, Fixtures.synthTurns(s, 60)).pin()
    val searcher = new Searcher(view)
    val Seq(a, b) = Seq.fill(2)(Probe.planText(searcher.search(s, "pais libre", 10, Or, Bm25)))
    view.unpin()
    assert(a == b)
    assert("#\\d+".r.findFirstIn(a).isEmpty)
    assert(a.contains("InMemoryTableScan"))
  }

  test("plans writes the five request classes, three build tables and three pruning scans") {
    val dir = SparkSpec.tmpDir("probe-plans")
    printed(Probe.plans(_, dir, "t"))
    val files = Files.list(Paths.get(dir)).iterator.asScala.map(_.getFileName.toString).toSet
    assert(files == Set("or_bm25", "or_cosine", "and_bm25", "wand_bm25", "batch32_bm25",
      "build_termdict", "build_docstats", "build_postings", "scan_postings", "scan_ann_sig",
      "scan_ivf_cell").map(_ + "_t.txt"))
    val scans = Seq("postings", "ann_sig", "ivf_cell").map(n =>
      Files.readString(Paths.get(dir, s"scan_${n}_t.txt")))
    assert(scans(0).contains("PushedFilters: [In(term_id,"))
    assert(scans(1).contains("PartitionFilters: [sig#x IN (0,1,2,4,8)]"))
    assert(scans(2).contains("PartitionFilters: [cell#x IN (0,1,2)]"))
    assert(scans.forall(p => p.contains("[file:<tmp>/") && "#\\d+".r.findFirstIn(p).isEmpty))
  }

  test("jobs prints one table per build, save, query and sweep target") {
    import spark.implicits._
    val sf = SparkSpec.tmpDir("probe-sf")
    Fixtures.synthCorpus(spark, 30).zipWithIndex.map { case ((_, text), i) => (i.toLong, text) }
      .toDF("doc_id", "text").write.parquet(s"$sf/documents.parquet")
    val out = Seq("build", "save", "query", "sweep")
      .map(t => printed(Probe.jobs(_, t, 40, sf, Seq("a1_tf")))).mkString
    Seq("[jobs] build convs=40", "[jobs] save convs=40", "[jobs] query 'pais' convs=40",
      "[jobs] cold a1_tf rows=", "[jobs] warm a1_tf rows=", "[jobs] warm sweep total")
      .foreach(s => assert(out.contains(s), s))
    val rows = out.linesIterator.filter(_.startsWith("[jobs]   ")).toSeq
    assert(rows.count(_.endsWith(" total")) == 7)
    assert(rows.exists(_.contains("IndexBuilder.scala:")))
    assert(!out.contains("FAILED") && !out.contains("rows=-1"))
  }

  test("latency prints percentiles, the batch prune diagnostics and the client speedup") {
    val out = printed(Probe.latency(_, 60))
    Seq("[latency] batch-diag sum_df=", "exact p50=", "wand p50=", "and p50=", "batch13 sec=",
      "[latency] concurrency clients=4").foreach(s => assert(out.contains(s), s))
  }

  test("append prints append vs rebuild in both maintenance modes") {
    val out = printed(Probe.append(_, 40))
    assert(out.linesIterator.count(_.startsWith("[append]")) == 2 && out.contains("speedup="))
  }

  test("stream indexes every conversation but the open sentinel") {
    assert(printed(Probe.stream(_, 40)).contains("indexed_docs=40 (expect 40;"))
  }

  test("ann prints LSH and IVF on both corpus shapes") {
    assert(printed(Probe.ann(_, 100)).linesIterator.count(_.startsWith("[ann]")) == 4)
  }

  test("the only objects under src/main that define a main are Bench, Demo, Probe and Verify") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root))
    val walk = Files.walk(root)
    val sources = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val mains = sources.flatMap { f =>
      val src = Files.readString(f)
      "def main\\(".r.findAllMatchIn(src).map(m =>
        "(?m)^object (\\w+)".r.findAllMatchIn(src.take(m.start)).toSeq.last.group(1))
    }
    assert(mains.sorted == Seq("Bench", "Demo", "Probe", "Verify"))
  }
}
