package graft.ir

import graft.{Probe, SparkSpec}
import org.apache.spark.sql.functions.col

/**
 * The store's write budget: Spark jobs of one buildAndSave and one append on
 * the 4-conversation tp2 corpus, counted with Probe.profile in the test
 * session (local[4], 4 shuffle partitions, AQE on). While each stage read
 * its table back for a row count, and docs, terms, postings, meta and skew
 * each ran an action of their own, the build ran 99 jobs and the append
 * (CommitCrashSpec's delta onto its base) 57.
 */
class StoreBudgetSpec extends SparkSpec {

  private val BuildJobsBefore = 99
  private val AppendJobsBefore = 57

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
}
