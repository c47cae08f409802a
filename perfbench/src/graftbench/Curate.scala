package graftbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

import graft.ir._
import graft.ops.Dedup

/**
 * `curate`: dedup for training-data curation. The corpus is one document
 * per conversation (`IndexBuilder.assembleDocs` over a seeded Synth corpus)
 * plus planted exact copies and near copies with known token edits, so
 * their true Jaccard is known. Each timed pass runs `Dedup.exact`,
 * `minhashLsh` and `ngramJaccard` at one threshold, and `simhash`, and
 * collects their output; passes repeat until the clock runs out.
 */
object Curate extends Workload {

  val Convs = 400
  val Exact = 12
  val Near = 36
  val Threshold = 0.5
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3
  /** Untimed passes after the set-ups: the first pass takes ~3× a later
    * one (code generation, JIT), and the next few keep getting faster while
    * the JIT compiles Spark's planning and scheduling code, so the timed
    * ones start where a pass changes little from one to the next. */
  val WarmPasses = 5
  val Ops = Seq("exact", "minhashLsh", "ngramJaccard", "simhash")

  private final case class Corpus(docs: DataFrame, texts: IndexedSeq[(Long, String)],
      exactPairs: IndexedSeq[(Long, Long)], nearPairs: IndexedSeq[Gen.NearPair])

  def run(ctx: Ctx): Map[String, Double] = {
    val setups = (1 to ctx.times(Setups)).map(_ => Time.ms(setup(ctx)))
    setups.init.foreach(_._1.docs.unpersist())
    val corpus = setups.last._1
    val setupMs = setups.map(_._2)
    val docs = corpus.docs
    val warmMs = Trace.span("run.warm") {
      (1 to ctx.times(WarmPasses)).map(_ => Time.ms(Ops.foreach(op => call(op, docs).collect()))._2.toInt)
    }

    // complete passes only: an operator that throws counts as failed and
    // its pass is left out of the timings
    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, (Array[Row], Double)]]
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    Trace.span(Layers.Timed) {
      while (passes.isEmpty && ctx.failed == 0 || System.nanoTime() < deadline) {
        val pass = Ops.flatMap { op =>
          val (rows, ms) = Time.ms(ctx.attempt(op)(Trace.span(s"Dedup.$op")(call(op, docs).collect())))
          rows.map(r => op -> (r, ms))
        }.toMap
        if (pass.size == Ops.length) passes += pass
      }
    }
    ctx.log(s"curate: setups ${setupMs.map(_.toInt)} ms; warm-up passes $warmMs ms; ${passes.length} passes, " +
      s"${passes.map(p => Ops.map(o => p(o)._2.toInt))} ms")
    // both from the median pass: one slow pass (a GC, a compile, a busy
    // host for a second) moves neither
    val passMs = passes.map(_.values.map(_._2).sum).toSeq
    val medianMs = if (passMs.isEmpty) Double.NaN else Stats.median(passMs)
    val e2e = Map(
      "setup_s" -> Stats.median(setupMs) / 1e3,
      "op_p50_ms" -> medianMs,
      "items_per_s" -> corpus.texts.length / (medianMs / 1e3))
    if (passes.isEmpty) return e2e
    val out = passes.last.map { case (op, (rows, _)) => op -> rows }

    val pairsOf: Map[String, Set[(Long, Long)]] = Map(
      "minhashLsh" -> pairs(out("minhashLsh")),
      "ngramJaccard" -> pairs(out("ngramJaccard")),
      "simhash" -> pairs(out("simhash")))
    val near = corpus.nearPairs.filter(_.jaccard >= Threshold)
      .map(p => (math.min(p.orig, p.copy), math.max(p.orig, p.copy)))
    val recall = near.count(pairsOf("minhashLsh").contains).toDouble / near.length
    Trace.span("run.check")(checks(ctx, corpus, out))

    if (ctx.traced) {
      val l = ctx.layers
      Trace.drain()
      Ops.foreach { op =>
        val spans = Trace.named(s"Dedup.$op")
        val c = Trace.inclusive(spans)
        val n = spans.length.toDouble
        l(s"Dedup.$op.wall_s") = Stats.median(passes.map(_(op)._2 / 1e3).toSeq)
        l(s"Dedup.$op.task_cpu_s") = c.cpuNs / 1e9 / n
        l(s"Dedup.$op.spill_bytes") = c.spill / n
        l(s"Dedup.$op.shuffle_write_bytes") = c.shuffleWrite / n
      }
      pairsOf.foreach { case (op, ps) =>
        l(s"Dedup.$op.pairs_out") = ps.size.toDouble
        l(s"Dedup.$op.planted_found") = near.count(ps.contains).toDouble
      }
      l("curate.near_dup_recall") = recall
      l("curate.planted_near_pairs") = near.length.toDouble
      Layers.spark(ctx)
    }
    docs.unpersist()
    e2e
  }

  private def call(op: String, docs: DataFrame): DataFrame = op match {
    case "exact" => Dedup.exact(docs)
    case "minhashLsh" => Dedup.minhashLsh(docs, Threshold)
    case "ngramJaccard" => Dedup.ngramJaccard(docs, Threshold)
    case "simhash" => Dedup.simhash(docs)
  }

  private def pairs(rows: Array[Row]): Set[(Long, Long)] =
    rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet

  private def setup(ctx: Ctx): Corpus = Trace.span("run.setup") {
    val spark = ctx.spark
    import spark.implicits._
    val texts = IndexBuilder.assembleDocs(Synth.turns(spark, Convs, ctx.seed))
      .select("conv_id", "text").as[(String, String)].collect().sortBy(_._1)
      .zipWithIndex.map { case ((_, t), i) => (i.toLong, t) }.toIndexedSeq
    val (planted, exactPairs, nearPairs) = Gen.plantDuplicates(texts, ctx.seed, Exact, Near)
    val all = texts ++ planted
    val docs = all.toDF("doc_id", "text").repartition(2 * ctx.cores).cache()
    docs.count()
    Corpus(docs, all, exactPairs, nearPairs)
  }

  private def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map(b => f"${b & 0xFF}%02x").mkString

  /** Every planted exact copy is grouped with its original under the
    * smallest doc_id of its text; every MinHash pair is an exact n-gram
    * Jaccard pair with the same Jaccard; found planted pairs carry their
    * true Jaccard. */
  private def checks(ctx: Ctx, corpus: Corpus, out: Map[String, Array[Row]]): Unit = {
    val groups = out("exact").map(r =>
      r.getAs[String]("h") -> (r.getAs[Long]("n_dups"), r.getAs[Long]("keeper"))).toMap
    val idsByText = corpus.texts.groupBy(_._2).map { case (t, g) => t -> g.map(_._1) }
    val textOf = corpus.texts.toMap
    corpus.exactPairs.foreach { case (orig, copy) =>
      val ids = idsByText(textOf(orig))
      ctx.check(ids.contains(copy) && groups.get(md5(textOf(orig))).contains((ids.length.toLong, ids.min)),
        s"curate: Dedup.exact did not group planted copy $copy with original $orig")
    }
    def jac(rows: Array[Row]) =
      rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("jaccard")).toMap
    val mh = jac(out("minhashLsh"))
    val ng = jac(out("ngramJaccard"))
    mh.foreach { case (p, j) =>
      ctx.check(ng.get(p).exists(x => math.abs(x - j) <= 1e-12),
        s"curate: minhashLsh pair $p (jaccard $j) is not an ngramJaccard pair with equal jaccard (${ng.get(p)})")
    }
    val planted = corpus.nearPairs.filter(_.jaccard >= Threshold)
      .map(p => (math.min(p.orig, p.copy), math.max(p.orig, p.copy)))
    ctx.check(planted.forall(ng.contains),
      s"curate: ngramJaccard missed planted pairs ${planted.filterNot(ng.contains)}")
    corpus.nearPairs.foreach { p =>
      ng.get((math.min(p.orig, p.copy), math.max(p.orig, p.copy))).foreach { j =>
        ctx.check(math.abs(j - p.jaccard) <= 1e-9,
          s"curate: ngramJaccard gives $j for planted pair (${p.orig}, ${p.copy}), true jaccard ${p.jaccard}")
      }
    }
  }
}
