package graftbench

import java.security.MessageDigest

/** The benchmark's own tests: its percentile code and the determinism of
  * its generators. Run with `python3 perfbench/run.py --selftest`. */
object SelfTest {

  private var failures = 0

  private def expect(ok: Boolean, what: String): Unit =
    if (!ok) { failures += 1; System.err.println(s"FAIL $what") }
    else println(s"ok   $what")

  private def close(a: Double, b: Double) = math.abs(a - b) <= 1e-12 * math.max(1.0, math.abs(b))

  private def digest(x: Any): String =
    MessageDigest.getInstance("SHA-256").digest(x.toString.getBytes("UTF-8"))
      .map(b => f"${b & 0xFF}%02x").mkString

  def run(): Unit = {
    // percentiles: type-7 interpolation, as numpy and statistics.quantiles(method="inclusive")
    val xs = Seq(15.0, 20, 35, 40, 50)
    expect(close(Stats.quantile(xs, 0.0), 15.0) && close(Stats.quantile(xs, 1.0), 50.0), "quantile endpoints")
    expect(close(Stats.median(xs), 35.0), "median of odd sample")
    expect(close(Stats.median(Seq(1.0, 2, 3, 4)), 2.5), "median of even sample")
    expect(close(Stats.quantile(xs, 0.4), 29.0), "quantile 0.4 interpolates (20 + 0.6·15)")
    expect(close(Stats.quantile((1 to 100).map(_.toDouble), 0.95), 95.05), "p95 of 1..100")
    expect(close(Stats.quantile(Seq(3.0, 1, 2), 0.5), 2.0), "quantile sorts its input")
    expect(Stats.tail((1 to 200).map(_.toDouble))._1 == 95, "tail of 200 samples is p95")
    expect(Stats.tail((1 to 100).map(_.toDouble))._1 == 90, "tail of 100 samples is p90")
    expect(Stats.tail((1 to 30).map(_.toDouble))._1 == 50, "tail of 30 samples is p50")

    // generators: same seed, same bytes; another seed, other bytes
    val vocab = (0 until 500).map(i => f"term$i%04d")
    expect(digest(Gen.queryPool(vocab, 1L)) == digest(Gen.queryPool(vocab, 1L)), "query pool repeats per seed")
    expect(digest(Gen.queryPool(vocab, 1L)) != digest(Gen.queryPool(vocab, 2L)), "query pool moves with the seed")
    val pool = Gen.queryPool(vocab, 1L)
    expect(pool.take(Gen.BotQueries.length) == Gen.BotQueries && pool.length == Gen.PoolSize,
      "query pool starts with the bot queries")
    val oov = pool.drop(Gen.BotQueries.length).flatMap(_.split(' ')).count(_.startsWith("oov")).toDouble /
      pool.drop(Gen.BotQueries.length).flatMap(_.split(' ')).length
    expect(oov > 0.05 && oov < 0.15, f"query pool OOV share ~10%% ($oov%.3f)")
    def reqs(seed: Long) = (0L until 80L).flatMap(Gen.block(seed, _))
    expect(digest(reqs(1L)) == digest(reqs(1L)), "request stream repeats per seed")
    expect(digest(reqs(1L)) != digest(reqs(2L)), "request stream moves with the seed")
    expect(digest(Gen.block(1L, 0L)) != digest(Gen.block(1L, 1L)), "blocks differ")
    val mix = reqs(1L).groupBy(_.cls).map { case (c, g) => c -> g.length / 2000.0 }
    expect(Gen.BlockLength == 25 && mix(OrBm25) == 0.72 && mix(Batch) == 0.04 && mix(WandBm25) == 0.08,
      s"request class mix follows the weights ($mix)")

    val docs = (0 until 300).map(i => (i.toLong, (0 until 40).map(j => s"w${(i * 7 + j * 13) % 97}").mkString(" ")))
    val p = Gen.plantDuplicates(docs, 1L, 10, 30)
    expect(digest(p) == digest(Gen.plantDuplicates(docs, 1L, 10, 30)), "planted duplicates repeat per seed")
    expect(digest(p) != digest(Gen.plantDuplicates(docs, 2L, 10, 30)), "planted duplicates move with the seed")
    val texts = (docs ++ p._1).toMap
    expect(p._2.forall { case (o, c) => texts(o) == texts(c) }, "exact copies are verbatim")
    expect(p._3.forall(n => close(n.jaccard, Gen.jaccard(Gen.shingleSet(texts(n.orig)), Gen.shingleSet(texts(n.copy))))) &&
      p._3.forall(n => n.jaccard < 1.0 && n.jaccard > 0.0), "near copies carry their true jaccard")
    expect(close(Gen.jaccard(Set("a", "b"), Set("b", "c")), 1.0 / 3), "jaccard of two small sets")

    if (failures > 0) { System.err.println(s"$failures self-test(s) failed"); sys.exit(1) }
    println("all self-tests passed")
  }
}
