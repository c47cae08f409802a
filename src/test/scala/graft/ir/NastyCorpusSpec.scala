package graft.ir

import java.sql.Timestamp

import graft.SparkSpec

/** Adversarial inputs through the whole pipeline: the engine must neither
  * crash nor diverge from the oracle on text the analyzer was not designed
  * around — emoji, CJK (no whitespace → one over-long token), zero-width
  * characters, combining marks, null/empty turns, unicode conv_ids. */
class NastyCorpusSpec extends SparkSpec {

  private val nasty: Seq[(String, Seq[String])] = Seq(
    "c-ascii" -> Seq("plain words here", "more plain words"),
    "c-emoji" -> Seq("fire 🔥🔥 and 🚀 rockets", "🔥 alone"),
    "c-cjk" -> Seq("日本語のテキストは空白がない", "中文也没有空格"),
    "c-zw" -> Seq("zero​width‍joined words", "tab\tand\nnewline split"),
    "c-comb" -> Seq("café naïve reésumé", "CAFÉ NAIVE"),
    "c-null" -> Seq(null, "after a null turn", ""),
    "c-long" -> Seq("x" * 500 + " normal tail words",
      "a b c d e f g h i j k l m n o p q r s t u v w x y z"),
    "cañón-ünïcode-id" -> Seq("words under a unicode conversation id"))

  private def turns(spark: org.apache.spark.sql.SparkSession) = {
    import spark.implicits._
    nasty.flatMap { case (conv, texts) =>
      texts.zipWithIndex.map { case (t, i) =>
        Turn(conv, i, "user", t, null, new Timestamp(i * 1000L))
      }
    }.toDF()
  }

  test("nasty corpus: build is deterministic, turn invariant holds, rank-identical") {
    val df = turns(spark)
    val view = IndexBuilder.build(spark, df)
    assert(view.meta.docs == nasty.length)
    assert(IndexBuilder.checkTurnInvariant(df, Fixtures.docsWithIds(df)) == 0)

    // oracle over the same assembled docs (null turns concatenate as the
    // engine concatenates them)
    val corpus = IndexBuilder.assembleDocs(df).orderBy("conv_id")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val oracle = Oracle.index(corpus)
    assert(view.termDict.collect().map(t => t.term -> t.df).toMap ==
      oracle.df.map { case (t, d) => t -> d.toLong })

    val s = new Searcher(view)
    for (q <- Seq("plain words", "🔥 rockets", "cafe naive", "normal tail",
      "unicode conversation", "日本語のテキストは空白がない")) {
      val got = s.search(spark, q, 10, Or, TfIdfCosine)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
      val want = oracle.evaluateCosine(q, Or).take(10)
      assert(got.map(_._1) == want.map(_._1), s"'$q' docs: $got vs $want")
      got.zip(want).foreach { case ((d, gs), (_, ws)) =>
        assert(math.abs(gs - ws) < 1e-9, s"'$q' doc $d")
      }
    }
    // the whitespace-free CJK line is ONE token, longer than maxLen → dropped
    assert(!view.termDict.collect().exists(_.term.length > 23))
  }

  test("nasty corpus survives the staged build + search round-trip") {
    val dir = graft.SparkSpec.tmpDir("nasty-idx")
    val view = IndexStore.buildAndSave(spark, turns(spark), dir)
    val hits = new Searcher(IndexStore.load(spark, dir).pin())
      .search(spark, "plain words", 5, Or, Bm25).collect()
    assert(hits.nonEmpty && hits.head.getString(1) == "c-ascii")
    view.unpin()
  }
}
