package graft.ir

import java.io.IOException
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, ConcurrentHashMap, ExecutionException, Executors}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import graft.streaming.{StreamEvent, StreamingIndexer}
import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._
import scala.util.Try

/** GraftTestFs under its own scheme, with crashes injected into manifest
  * writes of armed roots. A root armed with k dies at its k-th manifest
  * write: that write of the manifest's tmp copy and every later one throw.
  * A root armed for the rename window throws in its next rename that
  * publishes the manifest — after `StoreIO.appendLine` deleted the old one. */
class CrashFs extends GraftTestFs {
  override def getScheme: String = "crashfs"
  override def getUri: java.net.URI = java.net.URI.create("crashfs:///")

  override def create(f: Path, overwrite: Boolean): FSDataOutputStream = {
    if (f.getName == "._manifest.tsv.tmp")
      Option(CrashFs.armed.get(f.getParent.toUri.getPath)).foreach { case (writes, k) =>
        if (writes.incrementAndGet() >= k)
          throw new IOException(s"injected crash at manifest write ${writes.get()}")
      }
    super.create(f, overwrite)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    if (dst.getName == "_manifest.tsv" && CrashFs.renameFails.remove(dst.getParent.toUri.getPath))
      throw new IOException("injected crash before the manifest rename")
    super.rename(src, dst)
  }
}

object CrashFs {
  /** root path → (manifest writes so far, the write that crashes) */
  val armed = new ConcurrentHashMap[String, (AtomicInteger, Int)]()
  /** roots whose next manifest rename throws */
  val renameFails: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()

  private def key(dir: String): String = new Path(dir).toUri.getPath
  def arm(dir: String, k: Int): Unit = armed.put(key(dir), (new AtomicInteger(0), k))
  def armRename(dir: String): Unit = renameFails.add(key(dir))
  /** Disarm `dir`; the manifest writes it attempted while armed. */
  def disarm(dir: String): Int = Option(armed.remove(key(dir))).fold(0)(_._1.get())
}

/**
 * Crash-resume matrix over every store mutation: for each of buildAndSave,
 * append, delete, compact, saveView and the streaming flush, and for every
 * manifest line k of its uninterrupted run, crash the run at its k-th
 * manifest write, re-run the same call, and require the store to equal the
 * uninterrupted run's: every table as sorted rows (postings blocks with
 * their encoded bytes, doc_stats' norm to 1e-12) and the committed
 * stage-name sets.
 */
class CommitCrashSpec extends SparkSpec {

  private lazy val init: Unit =
    spark.sparkContext.hadoopConfiguration.set("fs.crashfs.impl", classOf[CrashFs].getName)

  private val cfg = BuildConfig(buckets = 2)
  private def turns = Fixtures.tp2Turns(spark)
  private def base = turns.filter(col("conv_id").isin("c0001", "c0002"))
  private def delta = turns.filter(!col("conv_id").isin("c0001", "c0002"))

  /** A fresh store root on crashfs: empty, or a copy of the root `seed`. */
  private def fresh(seed: Option[String] = None): String = {
    val d = SparkSpec.tmpDir("crash")
    seed.foreach { s =>
      val from = Paths.get(s.stripPrefix("crashfs:"))
      Files.walk(from).iterator().asScala.foreach { p =>
        val to = Paths.get(d).resolve(from.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
      }
    }
    "crashfs:" + d
  }

  /** A store root's committed stage names (the flush log's prefixed with
    * its dir) and tables. Tables are every parquet table under the root but
    * build_metrics (it holds timings), keyed by relative path, each as
    * sorted rows: binary fields hex-encoded, a `norm` field (doc_stats) set
    * aside to compare to 1e-12. */
  private final case class Store(
      stages: Set[String],
      tables: Map[String, Seq[(String, Double)]],
      schemas: Map[String, StructType])

  /** Read a root; `like` supplies the table schemas (skips inference). */
  private def store(dir: String, like: Option[Store] = None): Store = {
    val root = Paths.get(dir.stripPrefix("crashfs:"))
    def isTable(p: java.nio.file.Path) =
      Files.isDirectory(p) && p.getFileName.toString.endsWith(".parquet")
    val dfs = Files.walk(root).iterator().asScala
      .filter(p => isTable(p) && !isTable(p.getParent) &&
        p.getFileName.toString != "build_metrics.parquet")
      .map { p =>
        val name = root.relativize(p).toString
        val reader = like.flatMap(_.schemas.get(name)).fold(spark.read)(spark.read.schema(_))
        name -> reader.parquet("crashfs:" + p)
      }.toMap
    def rows(df: DataFrame): Seq[(String, Double)] = {
      val norm = df.columns.indexOf("norm")
      df.collect().map { r =>
        val fields = r.toSeq.zipWithIndex.collect {
          case (b: Array[Byte], _) => b.map(x => f"$x%02x").mkString
          case (v, i) if i != norm => String.valueOf(v)
        }
        fields.mkString("|") -> (if (norm < 0) 0.0 else r.getDouble(norm))
      }.sortBy(_._1).toSeq
    }
    val stages = IndexStore.readManifest(dir).keySet ++
      IndexStore.readManifest(s"$dir/$Stage").keySet.map(s"$Stage/" + _)
    Store(stages, dfs.map { case (n, df) => n -> rows(df) }, dfs.map { case (n, df) => n -> df.schema })
  }

  private def assertSameStore(dir: String, ref: Store, clue: String): Unit = {
    val got = store(dir, Some(ref))
    assert(got.stages == ref.stages, s"$clue: committed stages differ")
    assert(got.tables.keySet == ref.tables.keySet, s"$clue: table sets differ")
    ref.tables.foreach { case (t, rows) =>
      assert(got.tables(t).map(_._1) == rows.map(_._1), s"$clue: $t rows differ")
      got.tables(t).zip(rows).foreach { case ((r, x), (_, y)) =>
        assert(math.abs(x - y) < 1e-12, s"$clue: $t norm of row $r differs")
      }
    }
  }

  /** Run `op` uninterrupted on a fresh root (a copy of `seed`), then once
    * per line k of each of its manifests `logs` (dirs under the root, "" the
    * root's own): crash at line k, re-run, compare. The cases touch disjoint
    * roots, so three run at once; two shuffle partitions keep
    * multi-partition id assignment in play at half the default's per-job
    * task count. */
  private def matrix(name: String, seed: Option[String] = None, logs: Seq[String] = Seq(""))(
      op: String => Unit): Unit = {
    init
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    val pool = Executors.newFixedThreadPool(3)
    def log(dir: String, l: String) = if (l.isEmpty) dir else s"$dir/$l"
    try {
      val refDir = fresh(seed)
      logs.foreach(l => CrashFs.arm(log(refDir, l), Int.MaxValue))
      op(refDir)
      val lines = logs.map(l => l -> CrashFs.disarm(log(refDir, l)))
      assert(lines.forall(_._2 >= 1), s"$name wrote no line to one of its manifests: $lines")
      val ref = store(refDir)
      val cases = for ((l, n) <- lines; k <- 1 to n) yield {
        pool.submit(new Callable[Unit] {
          def call(): Unit = {
            val dir = fresh(seed)
            CrashFs.arm(log(dir, l), k)
            try intercept[IOException](op(dir)) finally CrashFs.disarm(log(dir, l))
            op(dir)
            assertSameStore(dir, ref, s"$name crashed at line $k of $n of manifest '$l'")
          }
        })
      }
      // every case settles before the first failure surfaces
      cases.map(f => Try(f.get())).foreach(_.failed.foreach {
        case e: ExecutionException => throw e.getCause
        case e => throw e
      })
    } finally {
      pool.shutdown()
      spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
  }

  private lazy val baseStore: String = {
    init
    val d = fresh()
    IndexStore.buildAndSave(spark, base, d, cfg)
    d
  }

  /** base + append batch b1 + tombstone t2 (c0002). */
  private lazy val mutatedStore: String = {
    val d = fresh(Some(baseStore))
    IndexStore.append(spark, delta, d)
    IndexStore.delete(spark, Seq("c0002"), d)
    d
  }

  private val Stage = "_stream_stage"

  /** Spill `epoch` into `dir`'s stage: the turns `from until until` of each
    * tp2 conversation in `turns`, and a closure marker for each of
    * `closed`. */
  private def spill(dir: String, epoch: Long, turns: Seq[(String, Int, Int)],
      closed: Seq[String]): Unit = {
    import spark.implicits._
    val events = turns.flatMap { case (conv, from, until) =>
      Fixtures.tp2.toMap.apply(conv).zipWithIndex.slice(from, until).map { case (t, i) =>
        StreamEvent(conv, i, "user", t, null, new java.sql.Timestamp(i * 60000L), closed = false)
      }
    } ++ closed.map(StreamEvent(_, -1, null, null, null, new java.sql.Timestamp(0L), closed = true))
    StreamingIndexer.spill(events.toDS(), dir, epoch)
  }

  /** Spills of two epochs: c0001 and c0002 close, c0003 stays open. */
  private lazy val firstFlushSeed: String = {
    init
    val d = fresh()
    spill(d, 0, Seq(("c0001", 0, 11), ("c0002", 0, 2), ("c0003", 0, 3)), Nil)
    spill(d, 1, Seq(("c0002", 2, 4), ("c0003", 3, 5)), Seq("c0001", "c0002"))
    d
  }

  /** The first seed flushed (base build, c0003 in the remainder), then two
    * more epochs: c0003 closes, c0004 stays open. */
  private lazy val secondFlushSeed: String = {
    val d = fresh(Some(firstFlushSeed))
    StreamingIndexer.flushStaged(spark, d, cfg)
    spill(d, 2, Seq(("c0003", 5, 8), ("c0004", 0, 4)), Seq("c0003"))
    spill(d, 3, Seq(("c0004", 4, 10)), Nil)
    d
  }

  test("buildAndSave resumes from a crash at every manifest line") {
    matrix("buildAndSave")(IndexStore.buildAndSave(spark, turns, _, cfg))
  }

  test("append resumes from a crash at every manifest line") {
    matrix("append", Some(baseStore))(IndexStore.append(spark, delta, _))
  }

  test("delete resumes from a crash at every manifest line") {
    matrix("delete", Some(baseStore))(IndexStore.delete(spark, Seq("c0002"), _))
  }

  test("compact resumes from a crash at every manifest line") {
    val src = mutatedStore // built before the matrix counts manifest lines
    matrix("compact")(IndexStore.compact(spark, src, _))
  }

  test("saveView resumes from a crash at every manifest line") {
    val view = IndexBuilder.build(spark, turns, cfg)
    matrix("saveView")(IndexStore.saveView(spark, view, _))
  }

  test("flushStaged resumes from a crash at every manifest line") {
    for ((seed, what) <- Seq(firstFlushSeed -> "first flush", secondFlushSeed -> "second flush"))
      matrix(s"flushStaged ($what)", Some(seed), logs = Seq("", Stage))(
        StreamingIndexer.flushStaged(spark, _, cfg))
  }

  test("a crash inside the manifest rename loses no committed line") {
    val dir = fresh(Some(baseStore))
    IndexStore.append(spark, delta, dir)
    CrashFs.armRename(dir)
    intercept[IOException](IndexStore.delete(spark, Seq("c0002"), dir))
    // the delete's line was complete in the manifest's tmp copy: load still
    // sees both the append batch (b1) and the tombstone (t2)
    def live: Set[String] =
      IndexStore.load(spark, dir).docMap.collect().map(_.getString(1)).toSet
    assert(live == Set("c0001", "c0003", "c0004"))
    // and the next commit keeps every earlier line
    assert(IndexStore.delete(spark, Seq("c0003"), dir) == 1L)
    val m = IndexStore.readManifest(dir)
    assert(IndexStore.committedBatches(m) == Seq(1))
    assert(IndexStore.committedTombstones(m) == Seq(2, 3))
    assert(live == Set("c0001", "c0004"))
  }

  test("a streaming sink whose first flush crashed resumes the base build") {
    init
    val ref = fresh()
    IndexStore.appendOrCreate(spark, turns, ref, cfg)
    val dir = fresh()
    CrashFs.arm(dir, 4)
    try intercept[IOException](IndexStore.appendOrCreate(spark, turns, dir, cfg))
    finally CrashFs.disarm(dir)
    IndexStore.appendOrCreate(spark, turns, dir, cfg)
    assertSameStore(dir, store(ref), "appendOrCreate after a crashed first flush")
  }
}
