package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import graft.ir._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/**
 * Streaming ingest (StreamingIndexer): watermark + event-time-timeout
 * sessionization closes conversations after `gap` idle time; closed
 * conversations are appended to the index via foreachBatch and the result
 * equals a batch build of the same conversations.
 */
class StreamingSpec extends SparkSpec {

  private def turn(conv: String, idx: Int, text: String, tsMs: Long): Turn =
    Turn(conv, idx, "user", text, null, new Timestamp(tsMs))

  private val T0 = 1577836800000L // 2020-01-01T00:00:00Z
  private def sec(s: Long): Long = T0 + s * 1000L

  test("turnEvents emits one closure marker per conversation, after the gap") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[Turn]
    val q = StreamingIndexer.turnEvents(src.toDS(), gapMs = 30000L)
      .writeStream.format("memory").queryName("events").outputMode("append")
      .start()
    def closures = spark.table("events").as[StreamEvent].collect().filter(_.closed)
    try {
      src.addData(
        turn("convA", 0, "alpha beta", sec(0)),
        turn("convA", 1, "gamma", sec(10)),
        turn("convB", 0, "delta", sec(5)))
      q.processAllAvailable()
      assert(closures.isEmpty, "closed before the gap elapsed")

      // sentinel conversation far in the future pushes the watermark past
      // every open conversation's deadline; the sentinel itself stays open
      src.addData(turn("convZ", 0, "omega", sec(500)))
      q.processAllAvailable()
      src.addData(turn("convZ", 1, "omega again", sec(501)))
      q.processAllAvailable()

      assert(closures.map(_.conv_id).toSet == Set("convA", "convB"))
      assert(closures.count(_.conv_id == "convA") == 1)
      assert(closures.count(_.conv_id == "convB") == 1)
      // exactly-once: nothing re-emits on further watermark advance
      src.addData(turn("convZ", 2, "omega more", sec(900)))
      q.processAllAvailable()
      assert(closures.length == 2)

      // a straggler for the already-closed convA, with event time far below
      // the watermark, is dropped — the closed conversation never re-emits
      // or mutates (the documented > gap late-data contract)
      src.addData(turn("convA", 2, "late straggler", sec(20)))
      q.processAllAvailable()
      assert(closures.length == 2 &&
        !spark.table("events").as[StreamEvent].collect().exists(_.text == "late straggler"),
        "late straggler leaked")
    } finally q.stop()
  }

  test("indexStream maintains an index equal to a batch build of closed convs") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val dir = graft.SparkSpec.tmpDir("stream-idx")
    val ckpt = graft.SparkSpec.tmpDir("stream-ckpt")
    val cfg = BuildConfig(buckets = 4)

    // tp2 corpus as a stream: conversation i's turns at minute offsets,
    // conversations staggered a minute apart
    val allTurns = Fixtures.tp2.zipWithIndex.flatMap { case ((conv, terms), ci) =>
      terms.zipWithIndex.map { case (t, i) =>
        turn(conv, i, t, sec(ci * 60L + i * 2L))
      }
    }

    val src = MemoryStream[Turn]
    val q = StreamingIndexer.indexStream(src.toDS(), dir, gapMs = 60000L, ckpt, cfg)
    try {
      // first two conversations, then enough watermark to close them
      val (firstTwo, lastTwo) = allTurns.partition(t => Set("c0001", "c0002")(t.conv_id))
      src.addData(firstTwo: _*)
      q.processAllAvailable()
      src.addData(turn("sentinel", 0, "tick", sec(5000)))
      q.processAllAvailable()
      src.addData(turn("sentinel", 1, "tick", sec(5001)))
      q.processAllAvailable()
      val mid = IndexStore.load(spark, dir)
      assert(mid.meta.docs == 2, s"expected 2 docs after first close, got ${mid.meta.docs}")

      // remaining conversations arrive late but above the sentinel watermark?
      // no — their event times are BELOW the advanced watermark, so feed them
      // with fresh timestamps to model live arrivals
      val lateTwo = lastTwo.map(t => t.copy(ts = new Timestamp(t.ts.getTime + 6000000L)))
      src.addData(lateTwo: _*)
      q.processAllAvailable()
      src.addData(turn("sentinel2", 0, "tock", sec(20000)))
      q.processAllAvailable()
      src.addData(turn("sentinel2", 1, "tock", sec(20001)))
      q.processAllAvailable()
    } finally q.stop()

    // the first sentinel conversation also closed once sentinel2 advanced
    // the watermark past its deadline — 4 tp2 convs + sentinel = 5 docs
    val streamed = IndexStore.load(spark, dir)
    assert(streamed.meta.docs == 5)

    // batch oracle: the same five closed conversations, one build
    val batchDir = graft.SparkSpec.tmpDir("stream-batch")
    val sentinelTurns = Seq(
      turn("sentinel", 0, "tick", sec(5000)), turn("sentinel", 1, "tick", sec(5001))).toDF()
    val batch = IndexStore.buildAndSave(
      spark, Fixtures.tp2Turns(spark).unionByName(sentinelTurns), batchDir, cfg)

    def scores(v: IndexView, query: String): Map[String, Double] =
      new Searcher(v).search(spark, query, 100, Or, TfIdfCosine)
        .collect().map(r => r.getString(1) -> r.getDouble(2)).toMap

    Fixtures.referenceQueries.distinct.foreach { query =>
      val s = scores(streamed, query); val b = scores(batch, query)
      assert(s.keySet == b.keySet, s"matched docs differ for '$query'")
      s.foreach { case (c, v) =>
        assert(math.abs(v - b(c)) < 1e-12, s"score mismatch for $c on '$query'")
      }
    }

    // dictionary parity
    val sd = streamed.termDict.collect().map(t => (t.term, t.df, t.cf)).toSet
    val bd = batch.termDict.collect().map(t => (t.term, t.df, t.cf)).toSet
    assert(sd == bd)
  }

  test("coalesced mode spills cheap per trigger, appends once at threshold/flush") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val dir = graft.SparkSpec.tmpDir("stream-co")
    val ckpt = graft.SparkSpec.tmpDir("stream-co-ckpt")
    val cfg = BuildConfig(buckets = 2)
    val allTurns = Fixtures.tp2.zipWithIndex.flatMap { case ((conv, terms), ci) =>
      terms.zipWithIndex.map { case (t, i) => turn(conv, i, t, sec(ci * 60L + i * 2L)) }
    }
    val src = MemoryStream[Turn]
    // threshold far above the corpus: every trigger spills, nothing appends
    val q = StreamingIndexer.indexStream(src.toDS(), dir, gapMs = 60000L, ckpt,
      cfg, coalesceTurns = 1000000L)
    try {
      src.addData(allTurns: _*)
      q.processAllAvailable()
      src.addData(turn("sentinel", 0, "tick", sec(50000)))
      q.processAllAvailable()
      src.addData(turn("sentinel", 1, "tick", sec(50001)))
      q.processAllAvailable()
      // conversations closed and are DURABLE (spilled), but no index yet —
      // the expensive staged append has not run once
      assert(IndexStore.readConfig(dir).isEmpty, "append ran below the threshold")
      // fold the backlog in one append
      val folded = StreamingIndexer.flushStaged(spark, dir, cfg)
      assert(folded > 0L)
      // flush is idempotent once drained
      assert(StreamingIndexer.flushStaged(spark, dir, cfg) == 0L)
    } finally q.stop()

    val streamed = IndexStore.load(spark, dir)
    // 4 tp2 convs; the lone sentinel conv never closes (the watermark stays
    // gap-behind its own latest turn, and nothing arrives after it)
    assert(streamed.meta.docs == 4)

    // equality with the per-batch (coalesce=0) pipeline on the same input
    val dir2 = graft.SparkSpec.tmpDir("stream-co-ref")
    val ckpt2 = graft.SparkSpec.tmpDir("stream-co-ref-ckpt")
    val src2 = MemoryStream[Turn]
    val q2 = StreamingIndexer.indexStream(src2.toDS(), dir2, gapMs = 60000L, ckpt2, cfg)
    try {
      src2.addData(allTurns: _*)
      q2.processAllAvailable()
      src2.addData(turn("sentinel", 0, "tick", sec(50000)))
      q2.processAllAvailable()
      src2.addData(turn("sentinel", 1, "tick", sec(50001)))
      q2.processAllAvailable()
    } finally q2.stop()
    val ref = IndexStore.load(spark, dir2)
    val sd = streamed.termDict.collect().map(t => (t.term, t.df, t.cf)).toSet
    assert(sd == ref.termDict.collect().map(t => (t.term, t.df, t.cf)).toSet)
    def scores(v: IndexView): Map[String, Double] =
      new Searcher(v).search(spark, "software pais", 100, Or, Bm25)
        .collect().map(r => r.getString(1) -> r.getDouble(2)).toMap
    assert(scores(streamed) == scores(ref))
  }

  test("flushStaged resumes a pinned (crashed) flush with its original input set") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration.set("fs.crashfs.impl", classOf[CrashFs].getName)
    val dir = "crashfs:" + graft.SparkSpec.tmpDir("stream-pin")
    val cfg = BuildConfig(buckets = 2)
    def spill(epoch: Long, turns: Seq[Turn], closed: String): Unit =
      StreamingIndexer.spill((turns.map(t =>
        StreamEvent(t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts, closed = false)) :+
        StreamEvent(closed, -1, null, null, null, new Timestamp(0L), closed = true)).toDS(),
        dir, epoch)
    spill(0, Seq(turn("cA", 0, "alpha beta", sec(0)), turn("cA", 1, "gamma", sec(5))), "cA")
    // the first flush pins epoch 0 and crashes inside its base build (the
    // index manifest's 4th line)
    CrashFs.arm(dir, 4)
    try intercept[java.io.IOException](StreamingIndexer.flushStaged(spark, dir, cfg))
    finally CrashFs.disarm(dir)
    // epoch 1 landed after the crash, before the resume — the resumed PASS
    // must not widen its pinned input set (the append begin-signature
    // contract); the public drain then folds epoch 1 as a SECOND append
    spill(1, Seq(turn("cB", 0, "delta", sec(60))), "cB")

    assert(StreamingIndexer.flushStaged(spark, dir, cfg) == 3L, "drain folds all")
    assert(IndexStore.load(spark, dir).meta.docs == 2)
    // two separate passes: pass 1 (pinned resume) created the base index,
    // pass 2 folded epoch 1 as ONE append batch — a drain that wrongly
    // widened the pinned set would have built everything in one base pass
    assert(StoreIO.listNames(s"$dir/batches").size == 1,
      "epoch 1 folded as its own append batch, not inside the pinned resume")
    assert(StreamingIndexer.flushStaged(spark, dir, cfg) == 0L)
  }

  test("a flush whose pinned spill is gone drains the rest; the log keeps the last flush") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration.set("fs.crashfs.impl", classOf[CrashFs].getName)
    val dir = "crashfs:" + graft.SparkSpec.tmpDir("stream-gone")
    val stage = s"$dir/_stream_stage"
    val cfg = BuildConfig(buckets = 2)
    def spill(epoch: Long, turns: Seq[Turn], closed: Seq[String]): Unit =
      StreamingIndexer.spill((turns.map(t =>
        StreamEvent(t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts, closed = false)) ++
        closed.map(StreamEvent(_, -1, null, null, null, new Timestamp(0L), closed = true))).toDS(),
        dir, epoch)
    spill(0, Seq(turn("cA", 0, "alpha beta", sec(0)), turn("cA", 1, "gamma", sec(5))), Seq("cA"))
    spill(1, Seq(turn("cB", 0, "delta", sec(60))), Nil)
    // the first flush pins both epochs and crashes at its remainder line;
    // then epoch 1 is deleted, as a trigger deletes its spill when the
    // write counted no event — after a flush may have listed it
    CrashFs.arm(stage, 2)
    try intercept[java.io.IOException](StreamingIndexer.flushStaged(spark, dir, cfg))
    finally CrashFs.disarm(stage)
    StoreIO.delete(s"$stage/events-e1.parquet")
    assert(StreamingIndexer.flushStaged(spark, dir, cfg) == 2L)
    spill(2, Seq(turn("cC", 0, "epsilon", sec(120))), Seq("cC"))
    assert(StreamingIndexer.flushStaged(spark, dir, cfg) == 1L)
    assert(IndexStore.load(spark, dir).meta.docs == 2)
    assert(IndexStore.readManifest(stage).keySet ==
      Set("begin", "remainder", "append", "consume").map("f2:" + _))
  }

  test("a stage dir in the earlier two-file format is refused, not skipped") {
    val dir = graft.SparkSpec.tmpDir("stream-old")
    StoreIO.writeString(s"$dir/_stream_stage/_pending.tsv", "turns-e0.parquet\n")
    val e = intercept[IllegalArgumentException](StreamingIndexer.flushStaged(spark, dir))
    assert(e.getMessage.contains("_pending.tsv"))
  }
}
