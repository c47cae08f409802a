package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.internal.SQLConf

import graft.ir._

/** Plan capture for the serving request classes: builds the index the
  * `serve` benchmark workload serves (Synth.turns(2000), serving partitions,
  * AQE off, pinned), runs OR-BM25, OR-cosine, AND-BM25, WAND at the default
  * cutover and a 32-query batch, and writes each executed plan, with
  * expression ids, plan ids and object hashes normalised, to
  * <dir>/<class>_<suffix>.txt — so two revisions' files diff to exactly
  * their plan changes. The build plan stored with each pinned table is
  * left out: it is not the query's. The build's own optimized plans
  * (term_dict, doc_stats, postings, cached stages included) go to
  * <dir>/build_<table>_<suffix>.txt the same way.
  *
  *   sbt "runMain graft.PlanDumpServe <dir> <suffix>"
  */
object PlanDumpServe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("plans/serve")
    val suffix = args.lift(1).getOrElse("after")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", (2 * cpus).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val built = IndexBuilder.build(spark, Synth.turns(spark, 2000))
    Files.createDirectories(Paths.get(dir))
    def write(name: String, plan: String): Unit = {
      val path = Paths.get(dir, s"${name}_$suffix.txt")
      Files.writeString(path, plan
        .replaceAll("#\\d+", "#x")
        .replaceAll("plan_id=\\d+", "plan_id=x")
        .replaceAll("@[0-9a-f]+\\b", "@x") // object identity hashes
        .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+", "Lambda")) // JVM lambda class names
      println(s"[plan] wrote $path")
    }
    Seq("termdict" -> built.termDict.toDF(), "docstats" -> built.docStats.toDF(),
      "postings" -> built.postings.toDF()).foreach { case (name, df) =>
      write(s"build_$name", df.queryExecution.optimizedPlan.treeString)
    }
    spark.conf.set("spark.sql.shuffle.partitions",
      IndexView.servingPartitions(built.meta, spark).toString)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val view = built.pin()
    view.termLookup; view.wandTermBounds
    val searcher = new Searcher(view)

    val q = "pais libre tecnologia estado"
    // 32 queries: 4 fixed ones, then 28 triples of df-ranked vocabulary
    val vocab = view.termDict.collect().sortBy(t => (-t.df, t.term)).map(_.term)
    val batch = (Seq("pais libre", "tecnologia", "estado libre", q) ++
      (0 until 28).map(i => Seq(i, i + 5, i + 11).map(j => vocab(j % vocab.length)).mkString(" ")))
      .zipWithIndex.map { case (text, i) => s"q$i" -> text }
    val classes: Seq[(String, () => DataFrame)] = Seq(
      "or_bm25" -> (() => searcher.search(spark, q, 10, Or, Bm25)),
      "or_cosine" -> (() => searcher.search(spark, q, 10, Or, TfIdfCosine)),
      "and_bm25" -> (() => searcher.search(spark, q, 10, And, Bm25)),
      "wand_bm25" -> (() => searcher.searchBm25Wand(spark, q, 10)),
      "batch32_bm25" -> (() => searcher.searchBatch(spark, batch, 10)))

    classes.foreach { case (name, run) =>
      val df = run()
      df.collect()
      write(name, render(df.queryExecution.executedPlan).mkString("", "\n", "\n"))
    }
    spark.stop()
  }

  /** The plan tree, one node a line, indented by depth — without the
    * cached relations' stored plans, which a scan's tree string embeds. */
  private def render(p: SparkPlan, depth: Int = 0): Seq[String] =
    ("  " * depth + p.verboseString(SQLConf.get.maxToStringFields)) +:
      p.children.flatMap(render(_, depth + 1))
}
