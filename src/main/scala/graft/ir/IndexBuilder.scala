package graft.ir

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Index build configuration.
 *
 * @param analyzer   shared analyzer profile (index- and query-side)
 * @param k1, b      BM25 parameters
 * @param saltRange  docId range width per salt bucket for hot-term posting
 *                   assembly (SURVEY.md A4: salting by doc-range keeps merged
 *                   sub-lists docId-sorted because salt ranges are disjoint).
 *                   0 (default) = auto: ceil(nDocs / (4 × shuffle
 *                   partitions)), floored at 4096, so a stopword-grade term
 *                   splits into ≥4 groups per reducer slot instead of one
 *                   straggler task
 * @param buckets    number of term_id buckets for checkpoint-resumable
 *                   postings writes (resume granularity)
 * @param cosineNorms whether to maintain per-doc tf-idf vector norms.
 *                   true (default) = full reference parity, but every
 *                   append must re-aggregate the WHOLE corpus's compact tf
 *                   table (norms depend on the new idf of every term in the
 *                   doc). false = BM25-only serving: max_tf/doc_len are
 *                   append-invariant per doc, so an append touches ONLY the
 *                   delta — the 10^12-turn maintenance mode. Cosine queries
 *                   on a norm-less index are refused loudly.
 */
final case class BuildConfig(
    analyzer: AnalyzerConfig = Analyzer.Reference,
    k1: Double = 1.2,
    b: Double = 0.75,
    saltRange: Long = 0L,
    buckets: Int = 8,
    cosineNorms: Boolean = true) {

  def resolveSaltRange(nDocs: Long, shufflePartitions: Int): Long =
    if (saltRange > 0) saltRange
    else math.max(4096L, nDocs / math.max(1, 4 * shufflePartitions))
}

/** In-memory view of the five index tables (SURVEY.md §1.2).
  *
  * `buildCaches` (ADVICE r4): the in-memory build persists intermediate
  * frames (the staged dense-id sorts, the compact tf table) whose public
  * tables are mere PROJECTIONS over them — `termDict.unpersist()` cannot
  * release a cache it is not sameResult with, so the actual cached plans
  * ride here for `unpin()` to free. Empty for store-loaded views.
  *
  * `statsPartitions`: the doc_id hash-partition count `pin()` gave
  * doc_stats; None on every other view (a build, a load, an append and a
  * rebuild each make a new, unpinned view). */
final case class IndexView(
    termDict: Dataset[TermStat],
    postings: Dataset[Block],
    docStats: Dataset[DocStat],
    docMap: DataFrame, // (doc_id, conv_id)
    meta: IndexMeta,
    cfg: BuildConfig,
    buildCaches: Seq[DataFrame] = Nil,
    statsPartitions: Option[Int] = None) {

  /** S12 analog (serving tier): the reference bulk-loads the whole index
    * into GPU memory once (GpuServerHandler.java:178-284); here the hot
    * query-side tables are pinned in executor storage (deserialized in
    * memory, spilling to disk), materialized lazily on first query. Parquet
    * stays the source of truth — pinning is a cache, not a copy.
    *
    * The pinned layout is the serving layout:
    *  - postings are term_id-range-clustered + sorted, so a query's
    *    `term_id IN` filter prunes cached batches via their min/max stats
    *    (an unclustered cache deserializes EVERY batch per query — measured
    *    p50 ~1 s vs ~0.3 s on the 400k-conv synth index);
    *  - doc_stats is hash-partitioned + sorted on doc_id with the same
    *    partition count the per-doc score aggregation produces, so the
    *    scoring join needs no exchange and no sort on the stats side —
    *    doc_stats never moves at query time, at any corpus size (under AQE
    *    too: the first query plans the cache as a stage and sees its
    *    layout once it has run). */
  def pin(level: StorageLevel = StorageLevel.MEMORY_AND_DISK): IndexView = {
    import org.apache.spark.sql.functions.col
    val spark = postings.sparkSession
    val parts = math.max(1, spark.sessionState.conf.numShufflePartitions)
    copy(
      termDict = termDict.persist(level),
      postings = postings
        // range by (term_id, first_doc_id), not term_id alone: a hot term's
        // blocks then SPAN partitions (its decode parallelizes across cores
        // instead of serializing into the one task that owns the term)
        // while batch min/max stats on term_id still prune cold partitions
        .repartitionByRange(parts, col("term_id"), col("first_doc_id"))
        .sortWithinPartitions("term_id", "first_doc_id").persist(level),
      docStats = docStats.repartition(parts, col("doc_id"))
        .sortWithinPartitions("doc_id").persist(level),
      statsPartitions = Some(parts))
  }

  def unpin(): IndexView = {
    termDict.unpersist(); postings.unpersist(); docStats.unpersist()
    buildCaches.foreach(_.unpersist())
    this
  }

  /** Driver-resident term → TermStat lookup, built ONCE per view (the
    * reference loads the vocabulary into memory at server start,
    * Model/Vocabulary.java:33-42). Kills the per-query dictionary scan job
    * (VERDICT r1 missing #1). None above the size guard — a 10^12-turn
    * vocabulary doesn't fit a driver heap; queries then fall back to the
    * pushed-filter dictionary scan. Invalidated naturally: append/rebuild
    * produce a NEW IndexView, so the lazy re-materializes. */
  @transient lazy val termLookup: Option[Map[String, TermStat]] =
    if (meta.terms > IndexView.DriverDictLimit) None
    else Some(termDict.collect().iterator.map(t => t.term -> t).toMap)

  /** Per-term (max over blocks of max_tf, min over blocks of min_dl),
    * driver-resident, built ONCE per view from block METADATA only (no
    * decode). Gives a sound per-term global BM25 upper bound at query time
    * with zero Spark jobs (slightly looser than the per-block max the r1
    * code collected per query — term-level pairing of max_tf with min_dl
    * can only raise the bound, so WAND stays sound). */
  @transient lazy val wandTermBounds: Option[Map[Long, (Int, Long)]] =
    if (meta.terms > IndexView.DriverDictLimit) None
    else {
      import org.apache.spark.sql.functions.{col, max, min}
      Some(postings
        .groupBy(col("term_id"))
        .agg(max(col("max_tf")).as("mt"), min(col("min_dl")).as("md"))
        .collect()
        .iterator.map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2)))
        .toMap)
    }

  /** Driver-resident cache of a term's k most promising blocks' docId
    * intervals — WAND's θ phase (Searcher.topBlockIntervals) ranks blocks by
    * the idf-free BM25 saturation bound, which depends only on stored block
    * metadata and this view's avgdl, so per (term_id, k) the answer is
    * index-immutable: appends/deletes produce a NEW IndexView and the lazy
    * re-materializes (VERDICT r5 #4 — the θ metadata job was the one
    * serving-path cost the r3 plan did not pay; warm terms now skip it).
    * Bounded: populated only for queried (term, k) pairs, ≤ k intervals of
    * two longs each per entry. */
  @transient lazy val thetaIntervalCache:
      java.util.concurrent.ConcurrentHashMap[(Long, Int), Array[(Long, Long)]] =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int), Array[(Long, Long)]]()

  /** Size cap for [[thetaIntervalCache]] (ADVICE r6): a long-lived serving
    * view under a high-cardinality query stream otherwise accumulates one
    * entry per distinct (term, k) forever. Entries are cheap to recompute,
    * so past the cap the cache is simply cleared (no LRU bookkeeping on the
    * hot path). ~32 B/entry → ≤ ~16 MB at the cap. */
  def thetaCachePutBounded(key: (Long, Int), v: Array[(Long, Long)]): Unit = {
    if (thetaIntervalCache.size() >= IndexView.ThetaCacheMaxEntries)
      thetaIntervalCache.clear()
    thetaIntervalCache.put(key, v)
    ()
  }
}

object IndexView {
  /** Above this many dictionary entries the driver-side lookup maps are
    * skipped (≈100 B/entry → ~400 MB at the limit) and the query side uses
    * pushed-filter scans instead. */
  val DriverDictLimit: Long = 4000000L

  /** θ-interval cache entry cap — see IndexView.thetaCachePutBounded. */
  val ThetaCacheMaxEntries: Int = 500000

  /** Serving-mode shuffle-partition rule (VERDICT r2 #7): a query's fixed
    * cost is ~linear in tasks-per-stage, and the build-sized partition count
    * (2× cores, fine for the one-off build) schedules 3 stages × that many
    * tasks for every sub-second query. Size serving partitions so a FULL
    * postings sweep still only sees ~2M postings/task (pruned probes see
    * far less), floored at 8 for parallelism, capped by the session's
    * configured shuffle.partitions (a real cluster configures that to its
    * core count). Serving entrypoints set `spark.sql.shuffle.partitions` to
    * this BEFORE `pin()` so the cached postings layout, the per-doc score
    * agg and the co-partitioned stats join all share one partitioning —
    * preserving the no-exchange stats join the pin() contract promises. */
  def servingPartitions(meta: IndexMeta, spark: org.apache.spark.sql.SparkSession): Int = {
    val cap = math.max(1,
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    math.min(cap, math.max(8, (meta.postings / 2000000L).toInt))
  }
}

/**
 * Builds the inverted index from a transcript table
 * (conv_id, turn_idx, role, text, tool, ts) — one document per conversation,
 * turns concatenated in turn_idx order (BASELINE.json input_hint).
 *
 * Reference semantics (SURVEY.md §2.3 A1–A9): per-doc term frequencies,
 * vocabulary with df/cf, per-doc max tf + vector norms, docId-sorted posting
 * lists — re-expressed as declarative Dataset aggregations so Catalyst owns
 * partial aggregation, shuffle planning and AQE skew handling. Custom code is
 * limited to the two things Catalyst can't see: deterministic dense-id
 * assignment (two-phase prefix sum via zipWithIndex) and the posting block
 * codec.
 */
object IndexBuilder {

  /** Dimension tables up to this many rows are broadcast into fact-side
    * joins (docMap/termDict/docStats are tens of bytes per row → ≤ ~200 MB
    * broadcast); larger ones take the shuffle-join path. */
  val BroadcastRowLimit: Long = 4000000L

  /**
   * Deterministic dense id assignment: global sort by a unique key, then
   * per-partition counts + prefix-sum offsets. Result is independent of
   * parallelism because the sort key is unique, so the total order is
   * data-defined; range partitions only move the (sorted) boundaries.
   *
   * Two-phase mechanics, all inside Tungsten (r3 verdict: the previous
   * `rdd.zipWithIndex` implementation was the build's only Amdahl term —
   * a job barrier PLUS a per-row external-Row round-trip on both sides):
   *  1. `monotonically_increasing_id()` on the sorted plan encodes
   *     (partition, local row number) as pid·2^33 + i — a codegen'd counter.
   *  2. ONE count job over the compiled RDD collects per-partition sizes;
   *     running both this job and the downstream consumers against the SAME
   *     RDD instance reuses the range-exchange map stage across jobs, so
   *     upstream lineage (e.g. the distinct over the turns table) is scanned
   *     once, exactly as zipWithIndex did.
   *  3. The dense id is then the pure column expression
   *     offset[mono >>> 33] + (mono & (2^33-1)) — no external rows, no
   *     non-codegen hop, and the barrier job now carries no sort-payload
   *     serialization cost.
   * Raw `monotonically_increasing_id` alone would be partition-order
   * dependent (SURVEY.md §7.4 risk 1); anchored to the deterministic sort
   * and rebased by counted offsets it is exactly the data-defined rank.
   */
  private[graft] def zipWithDenseId(
      df: DataFrame, order: Seq[Column], idName: String): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    val spark = df.sparkSession
    // stage the exchange INPUT: repartitionByRange's boundary sampling is a
    // separate job over the input lineage, so an unstaged input (a distinct
    // over the turns table, the dictionary aggregation) is computed twice —
    // once for the sample, once for the real shuffle (guide §2.4). The cache
    // is dropped as soon as the shuffle map output exists (the count job
    // below), which downstream jobs on the SAME RDD instance reuse.
    val preCached = df.storageLevel != StorageLevel.NONE
    val pre = if (preCached) df else df.persist(StorageLevel.MEMORY_AND_DISK)
    val withMono = sortedWithMono(pre, order)
    val rdd = GraftBridge.toInternalRdd(withMono)
    val counts: Array[Long] = spark.sparkContext.runJob(
      rdd,
      (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        n
      })
    if (!preCached) pre.unpersist()
    GraftBridge.internalCreateDataFrame(spark, rdd, withMono.schema)
      .withColumn(idName, denseIdExpr(
        counts.indices.map(p => p.toLong -> counts.take(p).sum).toMap))
      .drop("__mono")
  }

  /**
   * The in-memory build's variant: the sorted+mono stage is PERSISTED, the
   * per-partition counts come from one cheap aggregation over the cache
   * (which doubles as the cache's materialization — so upstream lineage is
   * scanned exactly ONCE, where the unstaged variant needs a count pass and
   * a consumer pass), and the total row count rides back to the caller,
   * eliminating the separate `.count()` action every caller was issuing.
   * Build-time actions (each a scheduling barrier that caps thread-scaling
   * efficiency) drop from 4 per id-assignment to 1. The returned frame is a
   * cheap projection over the cache — callers must NOT persist it again;
   * the cache lives as long as the derived index does (same lifetime the
   * previous caller-side persists had).
   *
   * Returns (ids, row count, staged cache, sum). The PERSISTED staged frame
   * rides along so callers can release the cache — the public result is a
   * projection over it, whose unpersist() would not reach the cached plan
   * (ADVICE r4).
   *
   * @param sumCol optional column whose global sum rides the SAME counting
   *   job (e.g. Σ df over the dictionary = the corpus posting count) —
   *   callers that need such an aggregate would otherwise pay one more
   *   full-fledged action for it. 0 when None.
   */
  private[graft] def zipWithDenseIdCounted(
      df: DataFrame, order: Seq[Column], idName: String,
      sumCol: Option[String] = None): (DataFrame, Long, DataFrame, Long) = {
    // same input-staging rationale as zipWithDenseId: without it the range
    // partitioner's sampling job recomputes the input lineage a second time
    val preCached = df.storageLevel != StorageLevel.NONE
    val pre = if (preCached) df else df.persist(StorageLevel.MEMORY_AND_DISK)
    val staged = sortedWithMono(pre, order)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val rows = staged
      .groupBy(shiftrightunsigned(col("__mono"), 33).as("__pid"))
      .agg(count(lit(1)).as("__n"),
        sum(sumCol.map(col).getOrElse(lit(0L))).as("__s"))
      .collect()
    val counts = rows.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val extraSum = rows.iterator.map(r => if (r.isNullAt(2)) 0L else r.getLong(2)).sum
    if (!preCached) pre.unpersist() // staged is fully materialized above
    // pids of empty partitions are absent; prefix-sum over the present ones
    val (offsets, total) = counts.foldLeft((Map.empty[Long, Long], 0L)) {
      case ((m, acc), (pid, n)) => (m + (pid -> acc), acc + n)
    }
    (staged.withColumn(idName, denseIdExpr(offsets)).drop("__mono"), total, staged,
      extraSum)
  }

  private def sortedWithMono(df: DataFrame, order: Seq[Column]): DataFrame = {
    val parts = math.max(1,
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    df.repartitionByRange(parts, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__mono", monotonically_increasing_id())
  }

  private def denseIdExpr(offsets: Map[Long, Long]): Column =
    element_at(typedLit(offsets), shiftrightunsigned(col("__mono"), 33)) +
      col("__mono").bitwiseAND(lit((1L << 33) - 1))

  /** Broadcast a dimension table while it fits, shuffle-join past it. */
  private[graft] def dim(df: DataFrame, rows: Long): DataFrame =
    if (rows <= BroadcastRowLimit) broadcast(df) else df

  /** Dictionary order: term_id = rank by (df desc, term asc) — frequent
    * terms get small ids (a consistent scheme is all rank identity needs,
    * SURVEY.md §1.2). */
  private[graft] val TermOrder: Seq[Column] = Seq(col("df").desc, col("term").asc)

  /** A2: (term, df, cf) over a (doc_id, term, tf) table. */
  private[graft] def termAgg(tf: DataFrame): DataFrame =
    tf.groupBy("term").agg(count(lit(1)).as("df"), sum("tf").as("cf"))

  /** The dictionary table: id'd (term, df, cf) rows plus idf (log10 N/df,
    * the reference tf-idf weight) and bm25_idf over an `nDocs` corpus. */
  private[graft] def withIdf(dict: DataFrame, nDocs: Long): DataFrame =
    dict
      .withColumn("idf", log10(lit(nDocs.toDouble) / col("df")))
      .withColumn("bm25_idf",
        log((lit(nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .select("term_id", "term", "df", "cf", "idf", "bm25_idf")

  /** A3 + A7 in one pass: one doc_stats row per doc_map row, with
    * norm = sqrt(sum((tf*idf)^2)) / max_tf, exploiting that max_tf is
    * constant per doc so it factors out of the sum. `idf` is the dictionary
    * and its size; None is BM25-only mode, which skips the idf join — norms
    * stay 0 and cosine queries are refused (Searcher guard). The left join
    * keeps conversations whose every token was filtered out (max_tf=0,
    * norm=0 — the reference's empty-doc guard, ir_manager.py:86-88). */
  private[graft] def docStats(
      docMap: DataFrame, tf: DataFrame, idf: Option[(DataFrame, Long)]): DataFrame = {
    val docAgg = idf match {
      case Some((dict, nTerms)) =>
        tf.join(dim(dict.select("term", "idf"), nTerms), "term")
          .groupBy("doc_id").agg(
            max("tf").as("max_tf"),
            sum("tf").as("doc_len"),
            sum(pow(col("tf") * col("idf"), 2.0)).as("sq"))
      case None =>
        tf.groupBy("doc_id").agg(
          max("tf").as("max_tf"),
          sum("tf").as("doc_len"),
          lit(0.0).as("sq"))
    }
    docMap
      .join(docAgg, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("conv_id"),
        coalesce(col("max_tf"), lit(0)).cast("int").as("max_tf"),
        coalesce(col("doc_len"), lit(0L)).as("doc_len"),
        coalesce(sqrt(col("sq")) / col("max_tf"), lit(0.0)).as("norm"))
  }

  /** (doc_id, term_id, tf): the tf table keyed by the dictionary's ids. */
  private[graft] def withTermIds(tf: DataFrame, dict: DataFrame, nTerms: Long): DataFrame =
    tf.join(dim(dict.select("term", "term_id"), nTerms), "term")
      .select("doc_id", "term_id", "tf")

  /**
   * A1 tf stage, shared by the in-memory and staged builds: map-side docId
   * resolution (guarded broadcast), per-TURN analyze + explode, one hash
   * aggregation on (doc_id, term). Document TEXT never reaches an exchange:
   * whitespace tokenization distributes over turn concatenation
   * (tokenize(a + " " + b) == tokenize(a) ++ tokenize(b)), so only compact
   * (doc_id, term) pairs shuffle — contract-tested in PlanContractSpec.
   */
  private[graft] def tfStage(
      turns: DataFrame, docMap: DataFrame, nDocs: Long,
      acfg: AnalyzerConfig): DataFrame = {
    // stem-free, regex-free profiles (both bench profiles) tokenize through
    // the native generator — no UDF hop, no per-turn Array[String], tokens
    // byte-sliced straight from the UTF8String (TokenizeTextSpec pins
    // equality with Analyzer.analyze); other profiles keep the UDF form
    val tokens =
      if (acfg.stem.isEmpty && !acfg.regex)
        turns.join(dim(docMap, nDocs), "conv_id")
          .select(col("doc_id"),
            graft.functions.TokenizeText.column(col("text"), acfg))
      else {
        val analyzeUdf = udf((s: String) => Analyzer.analyze(s, acfg))
        turns.join(dim(docMap, nDocs), "conv_id")
          .select(col("doc_id"), explode(analyzeUdf(col("text"))).as("term"))
      }
    tokens
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).cast("int").as("tf"))
  }

  /**
   * Assemble one document per conversation: turns concatenated in turn_idx
   * order. `array_sort(collect_list(struct(...)))` is the shuffle-friendly
   * form of the per-conversation ordering window (SURVEY.md §2.6) — one
   * hash aggregation, no global sort.
   */
  def assembleDocs(turns: DataFrame): DataFrame =
    turns
      .select(col("conv_id"), struct(col("turn_idx"), col("text")).as("t"))
      .groupBy("conv_id")
      .agg(array_join(
        transform(array_sort(collect_list(col("t"))), x => x.getField("text")),
        " ").as("text"))

  /** docs with deterministic docId = dense rank of conv_id ascending. */
  def docsWithIds(turns: DataFrame): DataFrame =
    zipWithDenseId(assembleDocs(turns), Seq(col("conv_id")), "doc_id")
      .select(col("doc_id"), col("conv_id"), col("text"))

  /**
   * Per-turn text-equality invariant vs the source (north rule): re-split is
   * impossible after concat, so the invariant is checked the other way —
   * the assembled doc must equal the deterministic re-concatenation of the
   * source turns. Returns the count of violating conversations (0 == ok).
   */
  def checkTurnInvariant(turns: DataFrame, docs: DataFrame): Long =
    assembleDocs(turns).withColumnRenamed("text", "expected")
      .join(docs, "conv_id")
      .filter(col("expected") =!= col("text"))
      .count()

  /** Full build. All shuffles are keyed on the natural keys (term, doc_id,
    * term_id) so Catalyst plans partial aggregation map-side; AQE splits
    * skewed reducers; hot-term posting groups are additionally salted by
    * docId range.
    *
    * The document TEXT is never shuffled: whitespace tokenization distributes
    * over turn concatenation (tokenize(a + " " + b) == tokenize(a) ++
    * tokenize(b)), so per-doc term frequencies are computed by analyzing each
    * turn in place and aggregating (conv_id, term) — only compact token rows
    * hit the exchange. Document assembly (assembleDocs) exists solely for the
    * turn-order invariant check and tests. */
  def build(spark: SparkSession, turns: DataFrame, cfg: BuildConfig = BuildConfig()): IndexView = {
    import spark.implicits._

    // doc_map: dense docId over distinct conv_id — sorts only the key
    // column. The counted/staged id assignment materializes its cache in
    // the SAME action that returns nDocs (no separate count), and the
    // projection below reads from that cache — no second persist.
    val (docMapRaw, nDocs, docMapStaged, _) = zipWithDenseIdCounted(
      turns.select("conv_id").distinct(), Seq(col("conv_id")), "doc_id")
    val docMap = docMapRaw.select("doc_id", "conv_id")

    // A1: per-doc term frequency — the shared tf stage (dimension tables
    // broadcast while they fit; past the guard Catalyst falls back to a
    // shuffle join — the 10^12-turn path, SURVEY.md §4)
    val tf = tfStage(turns, docMap, nDocs, cfg.analyzer)
      .persist(StorageLevel.MEMORY_AND_DISK)

    // A2: vocabulary with df/cf and dictionary-ordered ids. Staged/counted
    // like doc_map: this one action also materializes the tf cache (the
    // dict aggregation is tf's first consumer), and idf columns are cheap
    // projections over the staged cache for every later consumer.
    // Σ df (= the corpus posting count, meta.postings) rides the dictionary
    // counting job — previously one more dict-wide action at the end of build
    val (dictRaw, nTerms, dictStaged, nPostings) = zipWithDenseIdCounted(
      termAgg(tf), TermOrder, "term_id", sumCol = Some("df"))
    val termDict = withIdf(dictRaw, nDocs).as[TermStat]

    // The dict join is NOT persisted: it is a broadcast (map-side) join over
    // the cached tf table, and re-running it per consumer is pure
    // well-scaling CPU, whereas materializing a second 15M-row cache is a
    // memory-bandwidth pass that measured 0.73 efficiency at 2→8 cores
    // (BENCH/BASELINE.md round-2 stage profile).
    val docStats = IndexBuilder.docStats(docMap, tf,
      if (cfg.cosineNorms) Some(termDict.toDF() -> nTerms) else None)
      .as[DocStat]
      .persist(StorageLevel.MEMORY_AND_DISK)

    val (totalTokens, avgdl) = {
      val r = docStats.agg(sum("doc_len"), avg("doc_len")).head()
      (r.getLong(0), r.getDouble(1))
    }

    val parts = math.max(1,
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    val postings = buildPostings(spark, withTermIds(tf, termDict.toDF(), nTerms),
      docStats, cfg.resolveSaltRange(nDocs, parts), nDocs)
      .persist(StorageLevel.MEMORY_AND_DISK)

    val meta = IndexMeta(
      docs = nDocs,
      terms = nTerms,
      total_tokens = totalTokens,
      avgdl = avgdl,
      postings = nPostings,
      blocks = postings.count())

    IndexView(termDict, postings, docStats, docMap, meta, cfg,
      // the ACTUAL cached plans behind the projected public tables (+ the
      // compact tf cache, which nothing public exposes) — unpin() releases
      // these; without them each build in a long-lived JVM leaks a set of
      // MEMORY_AND_DISK caches (ADVICE r4). docStats/postings ride along
      // too: pin() replaces both with re-laid-out caches on the COPY, so
      // after pin().unpin() the build-level persists would otherwise be
      // unreachable (unpersist is idempotent when unpin runs unpinned).
      buildCaches = Seq(docMapStaged, dictStaged, tf, docStats.toDF(), postings.toDF()))
  }

  /**
   * A4: posting-list assembly into delta+varint blocks with skip + block-max
   * metadata. Salted by docId range: group key (term_id, doc_id/saltRange)
   * bounds any single group to saltRange docs, so a stopword-grade hot term
   * becomes ceil(N/saltRange) moderate groups instead of one giant reducer;
   * because salt ranges are disjoint and ordered, the per-salt block runs
   * concatenate into a globally docId-sorted posting list with no merge.
   *
   * Block metadata uses only doc-local stats (tf/maxtf, doc_len) — no
   * idf/avgdl — so this stage needs no corpus-global inputs and appended
   * batches produce blocks that coexist with old ones (Schemas.Block).
   */
  private[graft] def buildPostings(
      spark: SparkSession,
      tfWithIds: DataFrame,
      docStats: Dataset[DocStat],
      saltRange: Long,
      nDocs: Long = -1L): Dataset[Block] =
    blocksFromRows(spark, postingRows(tfWithIds, docStats.toDF(), saltRange, nDocs))

  /** (term_id, salt, doc_id, tf, ntf, dl): the doc-local posting inputs of
    * [[blocksFromRows]], salted by docId range. */
  private[graft] def postingRows(
      tfWithIds: DataFrame, docStats: DataFrame, saltRange: Long, nDocs: Long): DataFrame = {
    val statsDim = docStats.select("doc_id", "max_tf", "doc_len")
    val statsJoin =
      if (nDocs > 0 && nDocs <= BroadcastRowLimit) broadcast(statsDim) else statsDim
    tfWithIds
      .join(statsJoin, "doc_id")
      .select(
        col("term_id"),
        (col("doc_id") / lit(saltRange)).cast("long").as("salt"),
        col("doc_id"),
        col("tf"),
        (col("tf").cast("double") / col("max_tf")).as("ntf"),
        col("doc_len").as("dl"))
  }

  /** (term_id, salt, doc_id, tf, ntf, dl) rows → codec blocks, one group per
    * (term_id, salt). Sort-based: hash-exchange on the group key (groups stay
    * whole per partition at any partition count, so output is partitioning-
    * independent), Tungsten sort by (term_id, salt, doc_id), then a streaming
    * group walk that buffers one bounded (≤ saltRange docs) group at a time.
    * Replaces `groupBy + sort_array(collect_list(struct))) + flatMap`, whose
    * ObjectHashAggregate built every group's list in an object hash table and
    * sorted it with `sort_array`'s interpreted comparator — measured ~35%
    * slower at bench scale. doc_id is unique within a group, so sorting by it
    * alone reproduces the struct sort exactly: blocks stay byte-identical
    * (DeterminismResumeSpec). */
  private[graft] def blocksFromRows(spark: SparkSession, rows: DataFrame): Dataset[Block] = {
    import spark.implicits._
    rows
      .repartition(col("term_id"), col("salt"))
      .sortWithinPartitions("term_id", "salt", "doc_id")
      .select(col("term_id"), col("salt"), col("doc_id"), col("tf"),
        col("ntf"), col("dl"))
      .as[(Long, Long, Long, Int, Double, Long)]
      .mapPartitions { it =>
        new scala.collection.AbstractIterator[Block] {
          private var pending: Iterator[Block] = Iterator.empty
          private var cur: (Long, Long, Long, Int, Double, Long) = _
          private var have = false
          private val buf =
            scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Double, Long)]
          private def advance(): Unit = {
            while (!pending.hasNext && (have || it.hasNext)) {
              if (!have && it.hasNext) { cur = it.next(); have = true }
              if (have) {
                val tid = cur._1
                val salt = cur._2
                buf.clear()
                var go = true
                while (go) {
                  buf += ((cur._3, cur._4, cur._5, cur._6))
                  if (it.hasNext) {
                    cur = it.next()
                    go = cur._1 == tid && cur._2 == salt
                  } else { go = false; have = false }
                }
                pending = Codec.buildBlocks(tid, buf.toArray).iterator
              }
            }
          }
          override def hasNext: Boolean = { advance(); pending.hasNext }
          override def next(): Block = { advance(); pending.next() }
        }
      }
  }
}
