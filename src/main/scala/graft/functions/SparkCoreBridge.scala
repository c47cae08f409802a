package org.apache.spark

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.io.Text
import org.apache.hadoop.mapreduce.Job
import org.apache.hadoop.mapreduce.lib.input.FileInputFormat
import org.apache.spark.input.WholeTextFileInputFormat
import org.apache.spark.rdd.{RDD, WholeTextFileRDD}

/** The Spark core hooks graft needs that Spark keeps package-private. */
object GraftCoreBridge {

  /** `SparkContext.wholeTextFiles` but with the input paths fed through the
    * Path-varargs `FileInputFormat.setInputPaths` (ADVICE r2): the public
    * String overload re-splits its argument on commas BEFORE Hadoop's escape
    * handling, so a file name containing a comma cannot be expressed through
    * it at all. The varargs overload escapes each path itself; glob
    * metacharacters must still be backslash-escaped by the caller (Hadoop
    * glob-expands every input path). Mirrors `SparkContext.wholeTextFiles`
    * line for line otherwise — no Spark internals are modified. */
  def wholeTextFiles(
      sc: SparkContext,
      paths: Seq[String],
      minPartitions: Int): RDD[(String, String)] = {
    val job = Job.getInstance(sc.hadoopConfiguration)
    FileInputFormat.setInputPaths(job, paths.map(new HPath(_)): _*)
    new WholeTextFileRDD(
      sc,
      classOf[WholeTextFileInputFormat],
      classOf[Text],
      classOf[Text],
      job.getConfiguration,
      minPartitions
    ).map(record => (record._1.toString, record._2.toString))
  }

  /** Block until every listener has seen every event posted so far, so
    * totals read after a job returns are complete (the bus is package-private). */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
