package graft.ir

import java.sql.Timestamp

import graft.{Probe, SparkSpec}
import graft.streaming.StreamingIndexer
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

/**
 * The store's write budget: Spark jobs of one buildAndSave and one append on
 * the 4-conversation tp2 corpus, counted with Probe.profile in the test
 * session (local[4], 4 shuffle partitions, AQE on). While each stage read
 * its table back for a row count, and docs, terms, postings, meta and skew
 * each ran an action of their own, the build ran 99 jobs and the append
 * (CommitCrashSpec's delta onto its base) 57. While the streaming flush read
 * its spills without a schema, counted the appended turns and the remainder
 * with actions of their own, and wrote the remainder in a second write, the
 * drain of a staged tp2 backlog (4 closed conversations and an open
 * sentinel, 2 buckets) ran 55 jobs (3 of 3 runs).
 */
class StoreBudgetSpec extends SparkSpec {

  private val BuildJobsBefore = 99
  private val AppendJobsBefore = 57
  private val DrainJobsBefore = 55

  private def jobs(body: => Any): Int = Probe.profile(spark)(body)._3.size

  private def turns = Fixtures.tp2Turns(spark)

  test("buildAndSave runs at most half the jobs it ran with read-back counts") {
    val dir = SparkSpec.tmpDir("budget-build")
    val n = jobs(IndexStore.buildAndSave(spark, turns, dir))
    info(s"buildAndSave: $n jobs (before: $BuildJobsBefore)")
    assert(n <= BuildJobsBefore / 2)
  }

  test("append runs fewer jobs than it ran with read-back counts") {
    val dir = SparkSpec.tmpDir("budget-append")
    IndexStore.buildAndSave(spark, turns.filter(col("conv_id").isin("c0001", "c0002")), dir,
      BuildConfig(buckets = 2))
    val delta = turns.filter(!col("conv_id").isin("c0001", "c0002"))
    val n = jobs(IndexStore.append(spark, delta, dir))
    info(s"append: $n jobs (before: $AppendJobsBefore)")
    assert(n < AppendJobsBefore)
  }

  test("draining a staged stream backlog runs fewer jobs than with counted reads") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val dir = SparkSpec.tmpDir("budget-drain")
    val cfg = BuildConfig(buckets = 2)
    def turn(conv: String, i: Int, text: String, sec: Long) =
      Turn(conv, i, "user", text, null, new Timestamp(1577836800000L + sec * 1000L))
    val src = MemoryStream[Turn]
    // a threshold above the corpus: every trigger spills, nothing flushes
    val q = StreamingIndexer.indexStream(src.toDS(), dir, gapMs = 60000L,
      SparkSpec.tmpDir("budget-drain-ckpt"), cfg, coalesceTurns = 1000000L)
    try {
      src.addData(Fixtures.tp2.zipWithIndex.flatMap { case ((conv, terms), ci) =>
        terms.zipWithIndex.map { case (t, i) => turn(conv, i, t, ci * 60L + i * 2L) }
      }: _*)
      q.processAllAvailable()
      // the sentinel's first turn closes the four tp2 conversations; its
      // second keeps it open
      Seq(50000L, 50001L).zipWithIndex.foreach { case (s, i) =>
        src.addData(turn("sentinel", i, "tick", s)); q.processAllAvailable()
      }
    } finally q.stop()
    val n = jobs(StreamingIndexer.flushStaged(spark, dir, cfg))
    info(s"flushStaged: $n jobs (before: $DrainJobsBefore)")
    assert(IndexStore.load(spark, dir).meta.docs == 4)
    assert(n < DrainJobsBefore)
  }
}
