package graft.ops

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftCoreBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** `Narrow.widen` reads the input's width from its plan: it launches no
  * job, and a one-file scan still gets spread. */
class NarrowSpec extends SparkSpec {

  /** `body`'s result and the number of Spark jobs it launched. */
  private def jobs[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    GraftCoreBridge.drainListeners(sc)
    sc.addSparkListener(l)
    try {
      val a = body
      GraftCoreBridge.drainListeners(sc)
      (a, n.get())
    } finally sc.removeSparkListener(l)
  }

  test("widen over a groupBy result under AQE launches no job and leaves it as is") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val grouped = spark.range(0, 1000, 1, 4).groupBy(col("id") % 7).count()
    val (out, n) = jobs(Narrow.widen(grouped))
    assert(n == 0, s"widen launched $n jobs")
    assert(out eq grouped)
  }

  test("a one-partition cached input keeps its width") {
    val cached = spark.range(0, 500, 1, 1).toDF("doc_id").cache()
    try {
      cached.count()
      val (out, n) = jobs(Narrow.widen(cached))
      assert(n == 0, s"widen launched $n jobs")
      assert(out eq cached)
    } finally { cached.unpersist(); () }
  }

  test("a single-file parquet scan is still widened, with no job") {
    val dir = SparkSpec.tmpDir("narrow") + "/docs.parquet"
    spark.range(0, 500).selectExpr("id as doc_id", "cast(id as string) as text")
      .coalesce(1).write.parquet(dir)
    val docs = spark.read.parquet(dir).filter(col("doc_id") > 3).select("doc_id", "text")
    val (out, n) = jobs(Narrow.widen(docs))
    assert(n == 0, s"widen launched $n jobs")
    assert(docs.rdd.getNumPartitions == 1)
    assert(out.rdd.getNumPartitions == 4) // min(local[4], 4 shuffle partitions)
  }
}
