package graft.ir

import graft.SparkSpec
import org.apache.spark.sql.functions._

/**
 * Model-based store spec: seeded random sequences of append, delete of
 * live conversations and compact-then-continue run against a store and
 * against a model that only tracks the live conv_id set per committed
 * event. After every operation the latest load and every earlier snapshot
 * (`load(asOf = e)`) must equal the model; after every compact the store
 * must equal `IndexBuilder.build` over the surviving turns.
 */
class StoreModelSpec extends SparkSpec {

  private val cfg = BuildConfig(buckets = 2)

  private def convs(v: IndexView): Set[String] =
    v.docMap.collect().map(_.getString(1)).toSet

  /** The compacted store equals an in-memory build of the surviving turns:
    * dictionary and integer doc stats exactly, decoded postings keyed by
    * (term_id, conv_id) — compaction carries doc ids over, the build ranks
    * them afresh — and norms and avgdl to 1e-12. */
  private def assertEqualsBuild(v: IndexView, ref: IndexView, clue: String): Unit = {
    def dict(x: IndexView) = x.termDict.collect().map(t => (t.term_id, t.term, t.df, t.cf)).toSet
    def postings(x: IndexView) = {
      val conv = x.docMap.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      x.postings.collect().flatMap(b =>
        Codec.decodeBlock(b).map { case (d, tf) => (b.term_id, conv(d), tf) }).toSet
    }
    def stats(x: IndexView) =
      x.docStats.collect().map(d => d.conv_id -> (d.max_tf, d.doc_len, d.norm)).toMap
    assert(dict(v) == dict(ref), s"$clue: dictionary")
    assert(postings(v) == postings(ref), s"$clue: decoded postings")
    val (sv, sr) = (stats(v), stats(ref))
    assert(sv.keySet == sr.keySet, s"$clue: doc stats keys")
    sv.foreach { case (c, (mt, dl, n)) =>
      assert((mt, dl) == (sr(c)._1, sr(c)._2), s"$clue: max_tf/doc_len of $c")
      assert(math.abs(n - sr(c)._3) < 1e-12, s"$clue: norm of $c")
    }
    assert((v.meta.docs, v.meta.terms, v.meta.total_tokens, v.meta.postings) ==
      (ref.meta.docs, ref.meta.terms, ref.meta.total_tokens, ref.meta.postings), s"$clue: meta")
    assert(math.abs(v.meta.avgdl - ref.meta.avgdl) < 1e-12, s"$clue: avgdl")
  }

  Seq(11L, 12L, 13L).foreach { seed =>
    test(s"random append/delete/compact sequence matches the model (seed $seed)") {
      val turns = Fixtures.synthTurns(spark, 30, seed).cache()
      val all = turns.select("conv_id").distinct().collect().map(_.getString(0)).sorted.toSeq
      val rnd = new scala.util.Random(seed)
      def pick(from: Seq[String], lo: Int, hi: Int): Seq[String] =
        rnd.shuffle(from.sorted).take(lo + rnd.nextInt(hi - lo + 1))
      def turnsOf(cs: Iterable[String]) = turns.filter(col("conv_id").isin(cs.toSeq: _*))

      var dir = SparkSpec.tmpDir("model")
      var live = pick(all, 8, 12).toSet
      IndexStore.buildAndSave(spark, turnsOf(live), dir, cfg)
      // live set as of every committed event of the current root (0 = base)
      var history = Map(0 -> live)
      val ops = Seq.fill(5)(rnd.nextInt(3))
      // every sequence folds at least once: the last op compacts if none did
      val plan = if (ops.contains(2)) ops else ops.init :+ 2
      plan.zipWithIndex.foreach { case (op, i) =>
        val notLive = all.filterNot(live)
        val clue = s"seed $seed op $i"
        if (op == 0 && notLive.nonEmpty) {
          // append: unseen convs and, possibly, deleted ones re-appended
          val add = pick(notLive, 2, 6)
          IndexStore.append(spark, turnsOf(add), dir)
          live ++= add
          history += (history.keys.max + 1) -> live
        } else if (op == 1 && live.size > 1) {
          val del = pick(live.toSeq, 1, 3).take(live.size - 1)
          assert(IndexStore.delete(spark, del, dir) == del.size.toLong, s"$clue: delete")
          live --= del
          history += (history.keys.max + 1) -> live
        } else {
          val dst = SparkSpec.tmpDir("model-cmp")
          val compacted = IndexStore.compact(spark, dir, dst)
          assertEqualsBuild(compacted, IndexBuilder.build(spark, turnsOf(live), cfg),
            s"$clue: compact")
          dir = dst
          history = Map(0 -> live)
        }
        assert(convs(IndexStore.load(spark, dir)) == live, s"$clue: latest load")
        history.foreach { case (e, expected) =>
          assert(convs(IndexStore.load(spark, dir, asOf = e)) == expected,
            s"$clue: load(asOf = $e)")
        }
      }
      turns.unpersist()
    }
  }
}
