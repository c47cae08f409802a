package graft.ir

import scala.collection.mutable.ArrayBuffer

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
  * `serving`: the session `pin()` opened for the view's queries; None on
  * every other view (a build, a load, an append and a rebuild each make a
  * new, unpinned view). */
final case class IndexView(
    termDict: Dataset[TermStat],
    postings: Dataset[Block],
    docStats: Dataset[DocStat],
    docMap: DataFrame, // (doc_id, conv_id)
    meta: IndexMeta,
    cfg: BuildConfig,
    buildCaches: Seq[DataFrame] = Nil,
    serving: Option[SparkSession] = None) {

  /** S12 analog (serving tier): the reference bulk-loads the whole index
    * into GPU memory once (GpuServerHandler.java:178-284); here the hot
    * query-side tables are pinned in executor storage (deserialized in
    * memory, spilling to disk), materialized lazily on first query. Parquet
    * stays the source of truth — pinning is a cache, not a copy.
    *
    * The pinned layout is the serving layout, with P = the calling
    * session's shuffle partition count:
    *  - postings are term_id-range-clustered + sorted, so a query's
    *    `term_id IN` filter prunes cached batches via their min/max stats
    *    (an unclustered cache deserializes EVERY batch per query — measured
    *    p50 ~1 s vs ~0.3 s on the 400k-conv synth index);
    *  - doc_stats is hash-partitioned on doc_id into P partitions and
    *    sorted, so the scoring join needs no exchange and no sort on the
    *    stats side — doc_stats never moves at query time.
    *
    * Queries on the view are planned and run in its own serving session,
    * a clone of the caller's: AQE off (serving plans are small and
    * fixed-shape, and a stage per exchange is pure scheduling cost), P
    * shuffle partitions (so the per-doc score aggregation lands on the
    * stats layout whatever the caller's session does next), and no
    * `In` → `InSet` rewrite (cached-batch pruning reads only `In`, and a
    * batch's term list is far above Spark's threshold of 10). The
    * caller's session is not changed. */
  def pin(level: StorageLevel = StorageLevel.MEMORY_AND_DISK): IndexView = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.internal.SQLConf
    val spark = postings.sparkSession
    val parts = math.max(1, spark.sessionState.conf.numShufflePartitions)
    val session = GraftBridge.cloneSession(spark)
    session.conf.set(SQLConf.ADAPTIVE_EXECUTION_ENABLED.key, "false")
    session.conf.set(SQLConf.SHUFFLE_PARTITIONS.key, parts.toString)
    session.conf.set(SQLConf.OPTIMIZER_INSET_CONVERSION_THRESHOLD.key, Int.MaxValue.toString)
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
      serving = Some(session))
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

  /** The view's [[BlockDirectory]], built ONCE per view on first use from
    * one metadata-only collect of the postings; None above the size guard
    * (the `rare`, `intervals` and `gmax` plans then serve). Named for the
    * per-term bounds it replaced, the name graft.Bench and the perfbench
    * set-up force it by. */
  @transient lazy val wandTermBounds: Option[BlockDirectory] =
    if (meta.blocks > IndexView.DriverDictLimit) None else Some(BlockDirectory(postings))
}

/** A view's block metadata on the driver, in primitive arrays sorted by
  * (term_id, first_doc_id) — the reference builds its skip pointers with the
  * postings and loads them once at server start (modulos/Postings.py:376-411,
  * GpuServerHandler.java:178-284). Term `terms(j)`'s blocks are the indices
  * `offsets(j) until offsets(j + 1)`; the metadata is append-invariant
  * (Schemas.Block), and appends and deletes produce a NEW view. */
final class BlockDirectory private (terms: Array[Long], offsets: Array[Int],
    val first: Array[Long], val last: Array[Long], val maxTf: Array[Int], val minDl: Array[Long]) {
  /** Term `t`'s block indices in first_doc_id order, empty if it has none. */
  def blocks(t: Long): Range = {
    val j = java.util.Arrays.binarySearch(terms, t)
    if (j < 0) Range(0, 0) else Range(offsets(j), offsets(j + 1))
  }
}

object BlockDirectory {
  def apply(postings: Dataset[Block]): BlockDirectory = {
    val rows = postings.select("term_id", "first_doc_id", "last_doc_id", "max_tf", "min_dl")
      .collect().sortBy(r => (r.getLong(0), r.getLong(1)))
    val starts = rows.indices.filter(i => i == 0 || rows(i).getLong(0) != rows(i - 1).getLong(0)).toArray
    new BlockDirectory(starts.map(rows(_).getLong(0)), starts :+ rows.length, rows.map(_.getLong(1)),
      rows.map(_.getLong(2)), rows.map(_.getInt(3)), rows.map(_.getLong(4)))
  }
}

object IndexView {
  /** Above this many dictionary entries the driver-side term lookup is
    * skipped (≈100 B/entry → ~400 MB at the limit), and above this many
    * blocks the block directory (28 B/block → ~112 MB); the query side then
    * uses pushed-filter scans and metadata plans instead. */
  val DriverDictLimit: Long = 4000000L

  /** Serving-mode shuffle-partition rule (VERDICT r2 #7): a query's fixed
    * cost is ~linear in tasks-per-stage, and the build-sized partition count
    * (2× cores, fine for the one-off build) schedules 3 stages × that many
    * tasks for every sub-second query. Size serving partitions so a FULL
    * postings sweep still only sees ~2M postings/task (pruned probes see
    * far less), floored at 8 for parallelism, capped by the session's
    * configured shuffle.partitions (a real cluster configures that to its
    * core count). Serving entrypoints set `spark.sql.shuffle.partitions` to
    * this BEFORE `pin()`, which lays both pinned tables out in that many
    * partitions and gives the view's serving session the same count. */
  def servingPartitions(meta: IndexMeta, spark: org.apache.spark.sql.SparkSession): Int = {
    val cap = math.max(1, spark.sessionState.conf.numShufflePartitions)
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

  /** A stage's table before a sink keeps it: the frame, and — when a
    * dense-id staging made it — the staging's counts and the cache the frame
    * is a projection over (released by the sink that writes it). */
  private[graft] final case class Staged(
      table: DataFrame, counts: Option[Counts] = None, cache: Option[DataFrame] = None) {
    def map(f: DataFrame => DataFrame): Staged = copy(table = f(table))
  }

  /** A table's rows and the values of its stage's aggregates, in order. */
  private[graft] final case class Counts(rows: Long, aggs: Seq[Long])

  /**
   * Deterministic dense id assignment: global sort by a unique key, then
   * per-partition counts + prefix-sum offsets. Result is independent of
   * parallelism because the sort key is unique, so the total order is
   * data-defined; range partitions only move the (sorted) boundaries.
   *
   * Mechanics, all inside Tungsten (r3 verdict: an `rdd.zipWithIndex`
   * implementation was the build's only Amdahl term — a job barrier PLUS a
   * per-row external-Row round-trip on both sides):
   *  1. the input is staged (persisted) first: repartitionByRange's boundary
   *     sampling is a separate job over the input lineage, so an unstaged
   *     input (a distinct over the turns table, the dictionary aggregation)
   *     would be computed twice — once for the sample, once for the real
   *     shuffle (guide §2.4);
   *  2. `monotonically_increasing_id()` on the sorted plan encodes
   *     (partition, local row number) as pid·2^33 + i — a codegen'd counter —
   *     and the sorted stage is PERSISTED;
   *  3. ONE aggregation over that cache collects per-partition sizes, which
   *     doubles as the cache's materialization (so upstream lineage is
   *     scanned exactly once) and returns the total row count — no separate
   *     `.count()` action;
   *  4. the dense id is then the pure column expression
   *     offset[mono >>> 33] + (mono & (2^33-1)).
   * Raw `monotonically_increasing_id` alone would be partition-order
   * dependent (SURVEY.md §7.4 risk 1); anchored to the deterministic sort
   * and rebased by counted offsets it is exactly the data-defined rank.
   *
   * The table is a cheap projection over the staged cache — callers must NOT
   * persist it again. The cache rides along in the result so its keeper can
   * release it: unpersist() on the projection would not reach the cached
   * plan (ADVICE r4).
   *
   * @param aggs long-valued aggregates over the input whose values ride the
   *   SAME counting job, as its grand-total row (e.g. Σ df over the
   *   dictionary = the corpus posting count; 0 each over an empty input) —
   *   callers that need them would otherwise pay one more full action each.
   */
  private[graft] def zipWithDenseIdCounted(
      df: DataFrame, order: Seq[Column], idName: String, aggs: Seq[Column] = Nil): Staged = {
    val preCached = df.storageLevel != StorageLevel.NONE
    val pre = if (preCached) df else df.persist(StorageLevel.MEMORY_AND_DISK)
    val parts = math.max(1, df.sparkSession.sessionState.conf.numShufflePartitions)
    val staged = pre.repartitionByRange(parts, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__mono", monotonically_increasing_id())
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the rollup's grand-total row (null pid) carries `aggs`
    val (totals, perPid) = staged
      .rollup(shiftrightunsigned(col("__mono"), 33).as("__pid"))
      .agg(count(lit(1)).as("__n"), aggs: _*)
      .collect()
      .partition(_.isNullAt(0))
    if (!preCached) pre.unpersist() // staged is fully materialized above
    // pids of empty partitions are absent; prefix-sum over the present ones
    val (offsets, total) = perPid.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      .foldLeft((Map.empty[Long, Long], 0L)) {
        case ((m, acc), (pid, n)) => (m + (pid -> acc), acc + n)
      }
    val aggValues = totals.headOption
      .fold(aggs.map(_ => 0L))(r => (2 until r.length).map(r.getLong))
    Staged(staged.withColumn(idName, denseIdExpr(offsets)).drop("__mono"),
      Some(Counts(total, aggValues)), Some(staged))
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

  /** Full build, in memory: [[stages]] into the memory sink.
    *
    * The document TEXT is never shuffled: whitespace tokenization distributes
    * over turn concatenation (tokenize(a + " " + b) == tokenize(a) ++
    * tokenize(b)), so per-doc term frequencies are computed by analyzing each
    * turn in place and aggregating (conv_id, term) — only compact token rows
    * hit the exchange. Document assembly (assembleDocs) exists solely for the
    * turn-order invariant check and tests. */
  def build(spark: SparkSession, turns: DataFrame, cfg: BuildConfig = BuildConfig()): IndexView =
    buildInto(new MemorySink, turns, cfg)

  /** The build of a transcript table into `sink`: doc_map is the dense rank
    * of the distinct conv_ids — it sorts only the key column — and tf the
    * per-turn [[tfStage]]. */
  private[graft] def buildInto(sink: Sink, turns: DataFrame, cfg: BuildConfig): IndexView =
    stages(sink, cfg, "dense-docId over distinct conv_id", "per-turn analyze+explode+hash-agg")(
      zipWithDenseIdCounted(turns.select("conv_id").distinct(), Seq(col("conv_id")), "doc_id")
        .map(_.select("doc_id", "conv_id")))(
      (docMap, nDocs) => tfStage(turns, docMap, nDocs, cfg.analyzer))

  /** Where [[stages]] keeps its tables: cached in memory ([[MemorySink]]) or
    * written to a store root (IndexStore's sink). */
  private[graft] trait Sink {
    /** Keep stage `name`'s table `df`; returns the frame later stages read. */
    def table(name: String, detail: String)(df: => DataFrame): DataFrame

    /** Keep stage `name`'s table `t` and count it: its rows and the values of
      * `aggs` over it (the memory sink takes both from the dense-id staging
      * that made `t`). Returns the frame later stages read, and the counts. */
    def counted(name: String, detail: String, aggs: Seq[Column] = Nil)(
        t: => Staged): (DataFrame, Counts)

    /** Keep the postings assembled from the (term_id, salt, doc_id, tf, ntf,
      * dl) `rows`; returns the blocks and their count. */
    def postings(rows: => DataFrame): (DataFrame, Long)

    /** What the build returns, given the built `view` and its df skew. */
    def finish(view: IndexView, skew: Double): IndexView
  }

  /** The in-memory sink: every table is cached (a dense-id staging already
    * is), counts come from the dense-id stagings' counting jobs, and the
    * ACTUAL cached plans behind the public tables (plus the compact tf cache,
    * which nothing public exposes) ride the view as `buildCaches` for
    * unpin(); without them each build in a long-lived JVM leaks a set of
    * MEMORY_AND_DISK caches (ADVICE r4). doc_stats/postings ride along too:
    * pin() replaces both with re-laid-out caches on the COPY, so after
    * pin().unpin() the build-level persists would otherwise be unreachable. */
  private final class MemorySink extends Sink {
    private val caches = ArrayBuffer.empty[DataFrame]
    private def cached(df: DataFrame): DataFrame = {
      caches += df.persist(StorageLevel.MEMORY_AND_DISK)
      df
    }

    def table(name: String, detail: String)(df: => DataFrame): DataFrame = cached(df)

    def counted(name: String, detail: String, aggs: Seq[Column])(
        t: => Staged): (DataFrame, Counts) = {
      val s = t
      require(s.counts.isDefined, s"stage $name: the memory sink counts dense-id stagings only")
      s.cache.foreach(caches += _)
      (s.table, s.counts.get)
    }

    def postings(rows: => DataFrame): (DataFrame, Long) = {
      val p = cached(blocksFromRows(rows.sparkSession, rows).toDF())
      (p, p.count())
    }

    def finish(view: IndexView, skew: Double): IndexView = view.copy(buildCaches = caches.toSeq)
  }

  /** The dictionary's counting aggregate over (term, df, cf) rows, besides
    * its row count: Σ df (the corpus's postings), Σ cf (its tokens) and the
    * largest df. */
  private[graft] val DictAggs: Seq[Column] = Seq(
    coalesce(sum("df"), lit(0L)).as("postings"),
    coalesce(sum("cf"), lit(0L)).as("tokens"),
    coalesce(max("df"), lit(0L)).as("max_df"))

  /** The index meta and the dictionary's df skew (max df / mean df) from
    * the build's counts alone: `docs`, the dictionary's counts over
    * [[DictAggs]] and the block count. avgdl is tokens / docs, and 1.0 for a
    * corpus without tokens (BM25's length norm needs a positive mean). */
  private[graft] def corpusStats(docs: Long, dict: Counts, blocks: Long): (IndexMeta, Double) = {
    val Seq(postings, tokens, maxDf) = dict.aggs
    val avgdl = if (docs > 0 && tokens > 0) tokens.toDouble / docs else 1.0
    val skew = if (postings > 0) maxDf / (postings.toDouble / dict.rows) else 0.0
    (IndexMeta(docs, dict.rows, tokens, avgdl, postings, blocks), skew)
  }

  /** The index build (SURVEY.md §2.3 A1–A9), each stage kept by `sink`:
    * doc_map → tf → term_dict → doc_stats → postings → meta. `docMap`
    * stages the (doc_id, conv_id) table and `tf` derives the (doc_id, term,
    * tf) table from the kept doc_map and its size; the details describe the
    * two in a store's manifest.
    *
    * All shuffles are keyed on the natural keys (term, doc_id, term_id) so
    * Catalyst plans partial aggregation map-side; AQE splits skewed
    * reducers; hot-term posting groups are additionally salted by docId
    * range. Dimension tables are broadcast while they fit; past the guard
    * Catalyst falls back to a shuffle join (the 10^12-turn path, SURVEY.md
    * §4). Every count the meta needs comes from a stage's own counting —
    * no stage table is aggregated again. */
  private[graft] def stages(sink: Sink, cfg: BuildConfig, docMapDetail: String, tfDetail: String)(
      docMap: => Staged)(tf: (DataFrame, Long) => DataFrame): IndexView = {
    val (docs, docCounts) = sink.counted("doc_map", docMapDetail)(docMap)
    val nDocs = docCounts.rows
    val spark = docs.sparkSession
    import spark.implicits._

    // A1: per-doc term frequency
    val tfs = sink.table("tf", tfDetail)(tf(docs, nDocs))

    // A2: vocabulary with df/cf and dictionary-ordered ids; the idf columns
    // are cheap projections over the staged ids
    val (dict, dictCounts) = sink.counted("term_dict", "df/cf+dense-termId", DictAggs)(
      zipWithDenseIdCounted(termAgg(tfs), TermOrder, "term_id", DictAggs).map(withIdf(_, nDocs)))

    // A3 + A7. The dict join is NOT kept: it is a broadcast (map-side) join
    // over the kept tf table, and re-running it per consumer is pure
    // well-scaling CPU, whereas materializing a second 15M-row cache is a
    // memory-bandwidth pass that measured 0.73 efficiency at 2→8 cores
    // (BENCH/BASELINE.md round-2 stage profile).
    val stats = sink.table("doc_stats",
      if (cfg.cosineNorms) "maxtf+len+norm" else "maxtf+len (bm25-only)")(
      docStats(docs, tfs, if (cfg.cosineNorms) Some(dict -> dictCounts.rows) else None))

    // A4
    val (postings, blocks) = sink.postings(postingRows(withTermIds(tfs, dict, dictCounts.rows),
      stats, cfg.resolveSaltRange(nDocs, spark.sessionState.conf.numShufflePartitions), nDocs))

    val (meta, skew) = corpusStats(nDocs, dictCounts, blocks)
    sink.finish(
      IndexView(dict.as[TermStat], postings.as[Block], stats.as[DocStat], docs, meta, cfg), skew)
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
   *
   * This is the first half: (term_id, salt, doc_id, tf, ntf, dl), the
   * doc-local posting inputs of [[blocksFromRows]], salted by docId range.
   */
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
