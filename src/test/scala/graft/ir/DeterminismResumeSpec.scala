package graft.ir

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.SparkSpec

import scala.jdk.CollectionConverters._

/** Determinism under parallelism (SURVEY.md §5.3-5) and checkpoint-resume
  * (§5.3-6). */
class DeterminismResumeSpec extends SparkSpec {

  private def postingsDump(v: IndexView): Seq[(Long, Long, Int)] =
    v.postings.collect()
      .flatMap(b => Codec.decodeBlock(b).map { case (d, tf) => (b.term_id, d, tf) })
      .sortBy(identity)
      .toSeq

  private def dictDump(v: IndexView): Seq[(Long, String, Long, Long)] =
    v.termDict.collect().map(t => (t.term_id, t.term, t.df, t.cf)).sortBy(_._1).toSeq

  test("build is byte-identical across shuffle-partition counts and salt ranges") {
    val turns = Fixtures.synthTurns(spark, 150)
    def buildWith(parts: String, salt: Long): IndexView = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try IndexBuilder.build(spark, turns, BuildConfig(saltRange = salt))
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val a = buildWith("3", 1L << 20) // effectively unsalted (one range)
    val b = buildWith("13", 32)      // heavily salted, different parallelism
    assert(dictDump(a) == dictDump(b))
    assert(postingsDump(a) == postingsDump(b))
    // integer stats exactly; norm to 1e-12 (double summation order may vary
    // across partitionings — the dump contract is on the integer index)
    val sa = a.docStats.collect().sortBy(_.doc_id)
    val sb = b.docStats.collect().sortBy(_.doc_id)
    assert(sa.map(d => (d.doc_id, d.conv_id, d.max_tf, d.doc_len)).toSeq ==
      sb.map(d => (d.doc_id, d.conv_id, d.max_tf, d.doc_len)).toSeq)
    sa.zip(sb).foreach { case (x, y) => assert(math.abs(x.norm - y.norm) < 1e-12) }
  }

  test("staged build writes manifest, resumes without redoing completed stages") {
    val turns = Fixtures.synthTurns(spark, 80)
    val dirFull = graft.SparkSpec.tmpDir("idx-full")
    val full = IndexStore.buildAndSave(spark, turns, dirFull, BuildConfig(buckets = 4))

    // simulate a build killed after doc_stats: keep early stages, drop the rest
    val dirPart = graft.SparkSpec.tmpDir("idx-part")
    IndexStore.buildAndSave(spark, turns, dirPart, BuildConfig(buckets = 4))
    // the truncation goes through StoreIO (the store's own FS layer): the
    // local Hadoop FS checksums small files, so a raw java.nio rewrite
    // would leave a stale .crc and poison the next manifest read
    val manifest = s"$dirPart/_manifest.tsv"
    val keepStages = Set("begin", "doc_map", "tf", "term_dict", "doc_stats",
      "posting_rows", "postings:bucket=0", "postings:bucket=1")
    val kept = StoreIO.readLines(manifest)
      .filter(l => keepStages.contains(l.split("\t")(0)))
    StoreIO.writeString(manifest, kept.mkString("", "\n", "\n"))
    // wipe the outputs of the "unfinished" stages
    def rm(p: String): Unit = {
      val d = Paths.get(p)
      if (Files.exists(d)) Files.walk(d).iterator().asScala.toSeq.reverse
        .foreach(Files.delete)
    }
    rm(s"$dirPart/postings.parquet/bucket=2")
    rm(s"$dirPart/postings.parquet/bucket=3")
    rm(s"$dirPart/index_meta.parquet")
    rm(s"$dirPart/build_metrics.parquet")

    val docsModifiedBefore = Files.getLastModifiedTime(
      Paths.get(dirPart, "doc_map.parquet")).toMillis
    val resumed = IndexStore.buildAndSave(spark, turns, dirPart, BuildConfig(buckets = 4))
    val docsModifiedAfter = Files.getLastModifiedTime(
      Paths.get(dirPart, "doc_map.parquet")).toMillis
    assert(docsModifiedBefore == docsModifiedAfter, "completed stage was recomputed")

    assert(postingsDump(resumed) == postingsDump(full))
    assert(dictDump(resumed) == dictDump(full))
    assert(resumed.meta == full.meta)
  }

  /** doc_stats equal: integer fields exactly, norm to 1e-12. */
  private def assertSameStats(a: IndexView, b: IndexView, clue: String): Unit = {
    val sa = a.docStats.collect().sortBy(_.doc_id)
    val sb = b.docStats.collect().sortBy(_.doc_id)
    assert(sa.map(d => (d.doc_id, d.conv_id, d.max_tf, d.doc_len)).toSeq ==
      sb.map(d => (d.doc_id, d.conv_id, d.max_tf, d.doc_len)).toSeq, clue)
    sa.zip(sb).foreach { case (x, y) => assert(math.abs(x.norm - y.norm) < 1e-12, clue) }
  }

  test("staged build equals in-memory build") {
    import spark.implicits._
    def turnsOf(convs: (String, String)*) = convs.map { case (c, text) =>
      Turn(c, 0, "user", text, null, new java.sql.Timestamp(0L))
    }.toDF()
    // every token of the all-filtered corpus is a stopword or too short
    Seq(
      "synth-80" -> Fixtures.synthTurns(spark, 80),
      "all-filtered" -> turnsOf("c1" -> "de la y el", "c2" -> "a x para como"),
      "zero-row" -> turnsOf()).foreach { case (name, turns) =>
      val dir = graft.SparkSpec.tmpDir("idx-mem")
      val staged = IndexStore.buildAndSave(spark, turns, dir, BuildConfig(buckets = 4))
      val mem = IndexBuilder.build(spark, turns, BuildConfig(buckets = 4))
      assert(postingsDump(staged) == postingsDump(mem), name)
      assert(dictDump(staged) == dictDump(mem), name)
      assert(staged.meta == mem.meta, name)
      assertSameStats(staged, mem, name)
      if (name != "synth-80") {
        // a corpus without tokens: the store's avgdl rule, 1.0
        assert(mem.meta.terms == 0 && mem.meta.avgdl == 1.0, s"$name: ${mem.meta}")
        assert(mem.meta.docs == (if (name == "zero-row") 0 else 2), s"$name: ${mem.meta}")
      }
    }
  }

  test("resuming a base build against a different input is refused") {
    val dir = graft.SparkSpec.tmpDir("idx-sig")
    IndexStore.buildAndSave(spark, Fixtures.synthTurns(spark, 60), dir)
    // same config, different corpus → the begin-signature guard must fire
    // (before it, stages from two corpora silently combined — ADVICE r1)
    val e = intercept[IllegalArgumentException] {
      IndexStore.buildAndSave(spark, Fixtures.synthTurns(spark, 61), dir)
    }
    assert(e.getMessage.contains("different input"))
    // same input resumes fine (everything skipped)
    val v = IndexStore.buildAndSave(spark, Fixtures.synthTurns(spark, 60), dir)
    assert(v.meta.docs == 60)
  }

  test("build config is persisted with the index and wins on load") {
    val turns = Fixtures.synthTurns(spark, 60)
    val dir = graft.SparkSpec.tmpDir("idx-cfg")
    val cfg = BuildConfig(
      analyzer = AnalyzerConfig(stopwords = Set("the", "of"), minLen = 2, maxLen = 40),
      k1 = 1.5, b = 0.6, saltRange = 64, buckets = 4)
    IndexStore.buildAndSave(spark, turns, dir, cfg)
    assert(IndexStore.readConfig(dir).contains(cfg))
    // load with a *default* cfg: the persisted one must win
    val loaded = IndexStore.load(spark, dir)
    assert(loaded.cfg == cfg)
    // resuming with a different analyzer must be refused (rank identity)
    val bad = cfg.copy(analyzer = cfg.analyzer.copy(stopwords = Set.empty))
    val e = intercept[IllegalArgumentException] {
      IndexStore.buildAndSave(spark, turns, dir, bad)
    }
    assert(e.getMessage.contains("different config"))
  }

  test("build metrics include skew ratio and postings throughput") {
    val dir = graft.SparkSpec.tmpDir("idx-metrics")
    IndexStore.buildAndSave(spark, Fixtures.synthTurns(spark, 60), dir)
    val m = spark.read.parquet(s"$dir/build_metrics.parquet")
      .collect().map(r => r.getString(0)).toSet
    assert(m.contains("skew_ratio"))
    assert(m.contains("postings_per_sec"))
    assert(m.exists(_.startsWith("postings:bucket=")))
  }
}
