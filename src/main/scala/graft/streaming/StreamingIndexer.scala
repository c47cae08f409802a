package graft.streaming

import java.sql.Timestamp
import java.util.concurrent.{ConcurrentHashMap, Executors, Semaphore, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Dataset, Encoders, GraftBridge, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.ir._

/** Sessionizer output, and the row of every staged spill and remainder
  * file: either one arriving turn passed through verbatim (`closed = false`)
  * or a conversation-closed marker (`closed = true`, turn fields blank). */
final case class StreamEvent(
    conv_id: String, turn_idx: Int, role: String, text: String,
    tool: String, ts: Timestamp, closed: Boolean)

/**
 * Structured Streaming ingest: turn streams → incremental index appends.
 *
 * The reference has no streaming path (its index is rebuilt on demand via
 * the `I_F` request, IRWorker.java:54-57); this is an engine extension
 * (SURVEY.md §2.8) built from the batch append — the append contract
 * freezes a conversation once indexed, so the streaming layer's job is
 * exactly one thing: decide when a conversation is COMPLETE.
 *
 * Sessionization ([[turnEvents]]): a conversation is closed once no new
 * turn arrives within `gapMs` of its latest event time, tracked with a
 * watermark + per-key event-time timeout. State is ONE long per open
 * conversation (its latest event time), so state-store bytes are
 * independent of conversation text (the r4 throughput floor was the state
 * store serializing every open conversation's turn buffer each micro-batch).
 *
 * Each trigger spills its events — arriving turns and closure markers — as
 * one epoch-keyed parquet file under `dir/_stream_stage/`. A flush folds the
 * staged closed conversations into the index: inline in the trigger when
 * `coalesceTurns <= 0`, asynchronously once `coalesceTurns` turns are
 * staged otherwise, and on demand through [[flushStaged]].
 *
 * A flush is one [[IndexStore.Commit]] run, `fN:`, in the stage dir's own
 * log (`_stream_stage/_manifest.tsv`, kept out of the index manifest whose
 * base-build lines become `build_metrics`). Its begin line pins the staged
 * file set; `remainder` writes the still-open conversations' turns to
 * `rem-N.parquet`, counting both sides on that write; `append` folds the
 * closed ones with `appendOrCreate`, whose own stages resume in the index
 * manifest; `consume` deletes the pinned files. The inputs stay until
 * `consume`, so a crashed flush is finished by the next pass over the same
 * pinned set, and the conv-level anti-join of the append makes a
 * re-delivered conversation a no-op. The log keeps only the last flush's
 * lines, and a stage dir of the earlier two-file format is refused. All
 * stage bookkeeping goes through the dir's Hadoop FileSystem (StoreIO), so
 * the sink works on `hdfs://`/`s3a://` roots exactly like the index tables.
 *
 * Scale posture: each flush tokenizes and shuffles only the staged backlog;
 * the growing index is never rewritten (corpus-stat-free block metadata,
 * Schemas.Block). Turns arriving after their conversation closed (> gap
 * late) are dropped by the watermark or the append anti-join — pick `gapMs`
 * above the maximum intra-conversation silence you need to honor.
 */
object StreamingIndexer {

  /** Sessionizer: turns pass through the trigger they arrive; state per
    * open conversation is ONE long (latest event time); a `closed = true`
    * marker is emitted once per conversation at timeout. */
  def turnEvents(turns: Dataset[Turn], gapMs: Long): Dataset[StreamEvent] = {
    import turns.sparkSession.implicits._
    turns
      .withWatermark("ts", s"$gapMs milliseconds")
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState[Long, StreamEvent](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (cid: String, in: Iterator[Turn], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.single(
              StreamEvent(cid, -1, null, null, null, new Timestamp(0L), closed = true))
          } else {
            val buf = in.toArray
            val lastTs = math.max(
              state.getOption.getOrElse(Long.MinValue),
              buf.iterator.map(_.ts.getTime).max)
            state.update(lastTs)
            // timeout must sit above the current watermark; a conversation
            // whose deadline already passed closes at the next trigger
            state.setTimeoutTimestamp(
              math.max(lastTs + gapMs, state.getCurrentWatermarkMs() + 1))
            buf.iterator.map(t =>
              StreamEvent(t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts,
                closed = false))
          }
      }
  }

  /** Start a streaming query that maintains the index at `dir`: sessionize,
    * spill, and flush closed conversations — in every trigger that closes
    * one (`coalesceTurns <= 0`) or asynchronously once `coalesceTurns`
    * turns are staged (call [[flushStaged]] after stopping the query or at
    * startup to fold in the rest). */
  def indexStream(
      turns: Dataset[Turn],
      dir: String,
      gapMs: Long,
      checkpoint: String,
      cfg: BuildConfig = BuildConfig(),
      coalesceTurns: Long = 0L): StreamingQuery = {
    // a restart from the same checkpoint replays the last unacknowledged
    // epoch, whose overwrite of its spill file would race a still-running
    // async flush that pinned that file (ADVICE r5) — wait out any in-flight
    // flush for this dir first, bounded: a hung flush fails loudly instead
    // of stalling the restart invisibly (ADVICE r6)
    val flush = permit(dir)
    if (!flush.tryAcquire()) {
      System.err.println(s"[graft-stream] indexStream($dir): waiting for an in-flight flush")
      require(flush.tryAcquire(10, TimeUnit.MINUTES),
        s"indexStream($dir): in-flight flush did not finish within 10 min " +
          "— investigate the stuck flush before restarting the stream")
    }
    flush.release()
    turnEvents(turns, gapMs)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[StreamEvent], epoch: Long) =>
        spill(batch, dir, epoch)
        val (spark, staged) = (batch.sparkSession, backlog(dir))
        // a flush runs only with a conversation to fold
        if (staged.closures.get() == 0L || staged.turns.get() < coalesceTurns) ()
        else if (coalesceTurns <= 0L) { flushStaged(spark, dir, cfg); () }
        else if (flush.tryAcquire()) {
          // ASYNC: the staged append is tens of seconds of index-build work;
          // run inline it would block every trigger behind it. The flush's
          // begin line pins its input set, and later epochs spill NEW files
          // it never reads, so the spill path and one flush overlap safely.
          // The gauges are consumed at flush START: events spilled while
          // the flush runs count toward the NEXT threshold, and the pass puts
          // back what stayed staged (the remainder), so a burst-then-trickle
          // of closures keeps re-triggering flushes (ADVICE r5).
          val (consumed, closed) = (staged.turns.getAndSet(0L), staged.closures.getAndSet(0L))
          flushExec.submit(new Runnable {
            override def run(): Unit = {
              // this thread inherited the STREAMING QUERY's job group/tags;
              // without clearing, q.stop() CANCELS the in-flight flush's
              // Spark jobs mid-append
              spark.sparkContext.clearJobGroup()
              spark.sparkContext.clearJobTags()
              try {
                // epochs spilled between the getAndSet and the pass's file
                // listing count twice (spill and remainder): that only fires
                // an extra cheap flush; the gauge is an amortization knob
                val pass = flushPass(spark, dir, cfg)
                staged.turns.addAndGet(if (pass.consumedInput) pass.remainder else consumed)
                if (!pass.consumedInput) staged.closures.addAndGet(closed)
                ()
              } catch {
                case scala.util.control.NonFatal(e) =>
                  // recoverable (the next pass finishes the pinned run) but
                  // never silent; the staged events are still on disk, so
                  // the gauges get back what this pass consumed
                  staged.turns.addAndGet(consumed)
                  staged.closures.addAndGet(closed)
                  System.err.println(
                    s"[graft-stream] async flush of $dir failed " +
                      s"(the next flush resumes its pinned input): $e")
              } finally flush.release()
            }
          })
          ()
        }
      }
      .start()
  }

  private val flushExec = Executors.newCachedThreadPool(
    (r: Runnable) => {
      val t = new Thread(r, "graft-stream-flush"); t.setDaemon(true); t
    })

  /** One flush per index root at a time, in this JVM: the trigger tries to
    * take the root's permit, the drain waits for it, and the flush thread
    * releases it. Cross-process races are outside the store's single-writer
    * contract, like the append manifest itself. */
  private val permits = new ConcurrentHashMap[String, Semaphore]()
  private def permit(dir: String): Semaphore =
    permits.computeIfAbsent(dir, _ => new Semaphore(1))

  /** Staged-event gauges per index root — the flush threshold. `turns`
    * counts turns spilled since the last flush start PLUS the last flush's
    * remainder (still-open conversations' turns are still staged input,
    * ADVICE r5); `closures` counts closure markers spilled since the last
    * flush start, so a threshold flush runs only with a conversation to
    * fold. In-JVM only: after a restart both read 0 and the documented
    * startup `flushStaged` drain folds any pre-crash backlog. */
  private final case class Backlog(turns: AtomicLong, closures: AtomicLong)
  private val backlogs = new ConcurrentHashMap[String, Backlog]()
  private def backlog(dir: String): Backlog =
    backlogs.computeIfAbsent(dir, _ => Backlog(new AtomicLong(), new AtomicLong()))

  // ------------------------------------------------------------- staging

  private def stageDir(dir: String): String = s"$dir/_stream_stage"

  private val EventSchema = Encoders.product[StreamEvent].schema
  private val Spill = """^events-e\d+\.parquet$""".r
  private val Remainder = """^rem-\d+\.parquet$""".r
  private val FlushBegin = """^f(\d+):begin$""".r
  private val EarlierFormat =
    """^(?:_pending\.tsv|(?:turns|closed)-e\d+\.parquet|rem-[0-9a-f]{12}\.parquet)$""".r

  /** One trigger's spill: its events land in ONE epoch-keyed parquet file,
    * whose write counts the events and the closure markers onto the backlog
    * gauges. A replayed epoch overwrites the same name, so two versions of
    * one epoch never coexist (ADVICE r4); a trigger with no events leaves
    * no file. */
  private[graft] def spill(batch: Dataset[StreamEvent], dir: String, epoch: Long): Unit = {
    val path = s"${stageDir(dir)}/events-e$epoch.parquet"
    val r = IndexStore.save(IndexBuilder.Staged(batch.toDF()), path,
      aggs = Seq(count_if(col("closed")).as("closures")))
    if (r.getLong(0) == 0L) StoreIO.delete(path)
    val staged = backlog(dir)
    staged.turns.addAndGet(r.getLong(0) - r.getLong(1))
    staged.closures.addAndGet(r.getLong(1))
    ()
  }

  /** The next flush: the unfinished one (begun, not consumed) with its
    * pinned file set, else a new one over every committed spill and
    * remainder file — or None when no spill is staged, since a remainder
    * alone holds only open conversations. Flushes run one at a time, so only
    * the last begun one can be unfinished, and the log keeps only its
    * lines. */
  private def nextFlush(dir: String): Option[(Int, Seq[String])] = {
    val stage = stageDir(dir)
    val names = StoreIO.listNames(stage)
    val old = names.filter(EarlierFormat.matches)
    require(old.isEmpty, s"$stage holds files of the earlier two-file stage format " +
      s"(${old.sorted.mkString(", ")}): drain it with the version that wrote them first")
    val log = IndexStore.readManifest(stage)
    val last = log.keys.collect { case FlushBegin(f) => f.toInt }.maxOption.getOrElse(0)
    if (log.keys.exists(!_.startsWith(s"f$last:")))
      StoreIO.rewriteLog(s"$stage/_manifest.tsv")(_.filter(_.startsWith(s"f$last:")))
    log.get(s"f$last:begin").filterNot(_ => log.contains(s"f$last:consume"))
      .map(b => last -> b.detail.split(" ").toSeq)
      .orElse {
        // _SUCCESS is parquet's commit marker: a spill a concurrent trigger
        // is mid-writing (or a crash left behind) is not input yet
        val input = names.filter(n =>
          (Spill.matches(n) || Remainder.matches(n)) && StoreIO.exists(s"$stage/$n/_SUCCESS"))
        if (input.exists(Spill.matches)) Some((last + 1) -> input.sorted) else None
      }
  }

  /**
   * Drain the staged backlog into the index: flush passes until one finds
   * nothing to fold, so everything closed is in the index on return. A pass
   * folds its pinned set; spills that landed after it was pinned (or after
   * a crashed flush's pinned set) need the next pass. Still-open
   * conversations' turns stay staged as the last pass's remainder. Returns
   * the closed conversations' turns folded in.
   */
  def flushStaged(
      spark: SparkSession,
      dir: String,
      cfg: BuildConfig = BuildConfig()): Long = {
    val flush = permit(dir)
    flush.acquire()
    try {
      // the drain consumes the whole backlog; the final pass's remainder is
      // what stays staged afterwards
      val staged = backlog(dir)
      staged.turns.set(0L)
      staged.closures.set(0L)
      var (total, lastRem, passes) = (0L, 0L, 0)
      var more = true
      while (more) {
        val pass = flushPass(spark, dir, cfg)
        total += pass.folded
        if (pass.consumedInput) lastRem = pass.remainder
        passes += 1
        more = pass.consumedInput
        if (more && passes >= 64) {
          // defensive bound; unreachable post-stop. NEVER silent (ADVICE
          // r5): returning with closed markers still staged violates the
          // drain contract, so say so where the operator will see it.
          if (nextFlush(dir).nonEmpty)
            System.err.println(
              s"[graft-stream] flushStaged($dir) hit the $passes-pass bound " +
                "with staged input remaining — a concurrent stream is " +
                "outspilling the drain; closed conversations are NOT all " +
                "indexed. Stop the query and call flushStaged again.")
          more = false
        }
      }
      staged.turns.addAndGet(lastRem)
      total
    } finally flush.release()
  }

  /** One flush pass's outcome: turns folded into the index, turns written
    * to the remainder (still-open conversations — they stay staged), and
    * whether the pass consumed an input set at all (a no-op pass leaves its
    * caller's gauge snapshot valid). */
  private[streaming] final case class FlushPass(
      folded: Long, remainder: Long, consumedInput: Boolean)

  /** One flush: the [[nextFlush]] as a Commit run of begin (the pinned
    * set), remainder, append and consume. The caller holds the permit. */
  private def flushPass(sparkIn: SparkSession, dir: String, cfg: BuildConfig): FlushPass =
    nextFlush(dir).fold(FlushPass(0L, 0L, consumedInput = false)) { case (id, names) =>
      // the flush is index-BUILD work, but the caller's session is tuned for
      // the STREAM (state-store-sized shuffle partitions — 16 — and AQE off
      // for micro-batch fixed cost). Run the flush on a cloned session (same
      // SparkContext, own SQLConf): build-sized partitions and AQE on (skew
      // handling is load-bearing at build shuffles), without touching the
      // live query's planning. Measured r6: the 16-partition flush halved
      // build parallelism on 32 cores and the drain became the e2e floor.
      val spark = sparkIn.newSession()
      spark.conf.set("spark.sql.shuffle.partitions", math.max(
        2 * sparkIn.sparkContext.defaultParallelism,
        sparkIn.sessionState.conf.numShufflePartitions).toString)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      val t0 = System.nanoTime()
      val stage = stageDir(dir)
      val rem = s"rem-$id.parquet"
      val log = new IndexStore.Commit(stage, s"f$id:", stage)
      log.begin(names.mkString(" "), names.size)
      // the pinned set's turns, replay overlap collapsed, each tagged with
      // whether its conversation closed. PERSISTED: the remainder write and
      // every stage of the append read it, and the dedup is a shuffle. Read
      // only by a stage that still has to run, since `consume` deletes the
      // files.
      var read = false
      lazy val turns = {
        read = true
        // an empty spill is deleted after its write, so a flush that listed
        // it in between pins a file that is gone
        val live = names.map(n => s"$stage/$n").filter(StoreIO.exists)
        val events =
          if (live.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), EventSchema)
          else spark.read.schema(EventSchema).parquet(live: _*)
        events.filter(!col("closed")).dropDuplicates("conv_id", "turn_idx")
          .join(events.filter(col("closed")).select(col("conv_id"), lit(true).as("folds"))
            .distinct(), Seq("conv_id"), "left_outer")
          .persist()
      }
      try {
        // the counts of both sides ride the remainder's write and its line
        val remRec = log.record("remainder", rem) {
          val obs = Observation()
          turns.observe(obs, count_if(col("folds").isNotNull).as("folded"),
              count_if(col("folds").isNull).as("rem"))
            .filter(col("folds").isNull).select(EventSchema.fieldNames.toSeq.map(col): _*)
            .write.mode("overwrite").parquet(s"$stage/$rem")
          val r = GraftBridge.observed(obs)
          require(r.length == 2, s"the remainder write of $dir observed no counts")
          if (r.getLong(1) == 0L) StoreIO.delete(s"$stage/$rem")
          (r.getLong(1), s"folded=${r.getLong(0)}")
        }
        val folded = remRec.detail.stripPrefix("folded=").toLong
        log.stage("append", s"closed conversations' turns into $dir") {
          if (folded > 0L)
            IndexStore.appendOrCreate(spark, turns.filter(col("folds").isNotNull)
              .select("conv_id", "turn_idx", "role", "text", "tool", "ts"), dir, cfg)
          folded
        }
        log.stage("consume", "pinned input deleted") {
          names.foreach(n => StoreIO.delete(s"$stage/$n"))
          names.size.toLong
        }
        System.err.println(f"[graft-stream] flush pass dir=$dir folded=$folded " +
          f"rem=${remRec.rows} files=${names.length} sec=${(System.nanoTime() - t0) / 1e9}%.1f")
        FlushPass(folded, remRec.rows, consumedInput = true)
      } finally if (read) turns.unpersist()
    }
}
