package graft.streaming

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured Streaming operators (SURVEY §2.11 — the reference is
  * batch-only; this is the engine's forward-looking streaming surface).
  * The same event-time logic as the batch queries: tumbling windows with
  * watermark, memory sink for synchronous verification (a parquet dir
  * drives the stream, `processAllAvailable` barriers it).
  */
object StreamOps {

  /** Streaming events source with `ts` normalized to nanos-since-epoch
    * LONG regardless of the parquet physical type — the driver has shipped
    * events.ts as both TIMESTAMP(NANOS) and TIMESTAMP(MICROS) (see
    * Tables.load). A file stream needs a user-supplied schema, so the
    * batch footer is sniffed once driver-side (one footer read, no data
    * scan) to pin it; the normalization itself is a narrow projection. */
  private def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val physical = sniffSchema(spark, s"$dir/events.parquet")
    val raw = spark.readStream
      .schema(physical)
      // file-stream sources need a directory: stream the sf dir with a
      // glob restricted to the events table
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    normalizeTs(raw, physical)
  }

  /** Footer sniff with the nanos legacy conf set FIRST — the conf must
    * precede the very first parquet footer resolution of the session,
    * or a TIMESTAMP(NANOS) events table throws "Illegal Parquet type"
    * (DataFrameReader resolves footers eagerly). ONE place for the
    * set-then-read ordering, used by every event-feed reader here. */
  private def sniffSchema(spark: SparkSession, path: String,
      recursive: Boolean = false)
      : org.apache.spark.sql.types.StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val r = spark.read
    (if (recursive) r.option("recursiveFileLookup", "true") else r)
      .parquet(path).schema
  }

  /** Normalize the feed's `ts` to raw nanos — LongType passes through,
    * a timestamp-typed column converts. ONE copy of the match: the
    * normalization was hand-kept in three readers. */
  private def normalizeTs(raw: DataFrame,
      physical: org.apache.spark.sql.types.StructType): DataFrame =
    physical("ts").dataType match {
      case LongType => raw // already raw nanos
      case _ => raw.withColumn("ts",
        expr("unix_micros(cast(ts as timestamp)) * 1000"))
    }

  private val counter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Run a streaming query body with the state-store width derived
    * from the SOURCE size: each state partition is a store instance
    * with per-batch commit cost (delta file + maintenance), so tiny
    * feeds pay fixed overhead × width for no parallelism gain
    * (interleaved A/B at sf0.1: ssjoin 0.83×, session_window 0.80×,
    * dedup 0.90× at the derived width vs the declared 8). Width =
    * ceil(rows / 32k) footer-counted off `srcPaths` (driver-side, no
    * job), capped at `declared` — production feed sizes keep today's
    * declared width, only small inputs narrow (results identical at
    * any width). An unreadable footer counts as unknown size and keeps
    * the declared width. RocksDB as the store provider was A/B'd the
    * same way and REJECTED at these state sizes (1.1–1.5× worse: native
    * store open/commit per partition per batch dwarfs the in-memory
    * map). */
  private def withStatePartitions[T](spark: SparkSession,
      srcPaths: Seq[String], declared: Int = 8)(body: => T): T = {
    val rows =
      try IngestIndex.footerRows(spark, srcPaths)
      catch { case NonFatal(_) => Long.MaxValue }
    val cap = declared.toLong
    // saturating (rows can be the Long.MaxValue unknown-size flag)
    val w = (if (rows >= cap * 32768L) cap
             else math.max(1L, (rows + 32767) / 32768)).toInt
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, w.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** documents.parquet physical schema (for the streaming dedup source). */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming exact deduplication: `dropDuplicates` state keeps the first
    * event per (source, text); the deduped stream lands in a memory sink
    * and the per-source distinct counts are read off it. Keyed on BOTH
    * columns so the result is deterministic — text-only dedup would keep an
    * arbitrary source for duplicates that span sources (observed at sf0.1).
    * The streaming-dedup analog of the batch `q_dedup_exact`. */
  def dedupCounts(spark: SparkSession, dir: String): DataFrame =
    withStatePartitions(spark, Seq(s"$dir/documents.parquet")) {
    val name = s"stream_dedup_${counter.incrementAndGet()}"
    val docs = spark.readStream
      .schema(documentsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .dropDuplicates("source", "text")
      .select("source", "text")
    val q = docs.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    // materialize the per-source rollup and FREE the sink — the memory
    // table holds every distinct (source, text) pair, O(corpus bytes)
    // pinned for the session while only the counts are needed
    val plan = spark.table(name).groupBy("source")
      .agg(count(lit(1)).as("n_distinct_texts"))
    val rows = plan.collect().toIndexedSeq
    spark.catalog.dropTempView(name)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), plan.schema)
    }

  /** Streaming corpus quality gate: [[graft.text.TextOps.corpusFilter]]
    * applied to a document stream — the Gopher keep/drop decision is a
    * pure narrow map, so it runs inside each micro-batch with NO
    * streaming state at all (the cheapest possible streaming operator:
    * stateless row-local transform, then a batch rollup off the sink).
    * This is how a live crawl feed gets filtered before it ever lands
    * in the corpus store. */
  def corpusFilterStream(spark: SparkSession, dir: String): DataFrame =
    withStatePartitions(spark, Seq(s"$dir/documents.parquet")) {
      val name = s"stream_cf_${counter.incrementAndGet()}"
      val docs = spark.readStream
        .schema(documentsSchema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
      val q = graft.text.TextOps.corpusFilter(docs).writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      q.processAllAvailable()
      q.stop()
      spark.table(name).groupBy("reason")
        .agg(count(lit(1)).as("n_docs"), sum("keep").as("n_keep"))
    }

  /** Per-user session accumulator for stateful streaming sessionization. */
  final case class SessState(lastMs: Long, sessions: Long, events: Long)

  /** Stateful streaming sessionization via `mapGroupsWithState` (the
    * KeyValueGroupedDataset custom-state path, SURVEY §2.11): 30-min
    * inactivity gap starts a new session. Events are sorted inside each
    * group (state function receives them unordered), so with the whole
    * input in one AvailableNow batch the result equals the batch
    * lag-window sessionize — verified against the same SQL oracle. */
  def sessionizeStream(spark: SparkSession, dir: String,
                       gapMs: Long = 1800000L): DataFrame =
    withStatePartitions(spark, Seq(s"$dir/events.parquet")) {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val name = s"stream_sess_${counter.incrementAndGet()}"
    val events = eventsStream(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000000").as("ms"))
      // a timestamp-less event belongs to no session (typed Long rows
      // NOT_NULL-assert on it anyway — fuzz gate, nulls mode)
      .filter(col("ms").isNotNull)
      .as[(Long, Long, Long)]
    val sessions = events
      .groupByKey(_._1)
      .mapGroupsWithState[SessState, (Long, Long, Long)](
        GroupStateTimeout.NoTimeout) { (user, it, state) =>
        val evs = it.toVector.sortBy(e => (e._3, e._2))
        val prev = state.getOption.getOrElse(SessState(Long.MinValue, 0L, 0L))
        var last = prev.lastMs
        var sess = prev.sessions
        var cnt = prev.events
        evs.foreach { e =>
          if (last == Long.MinValue || e._3 - last > gapMs) sess += 1
          last = e._3
          cnt += 1
        }
        state.update(SessState(last, sess, cnt))
        (user, sess, cnt)
      }
      .toDF("user_id", "n_sessions", "n_events")
    val q = sessions.writeStream
      .outputMode("update")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
    }

  /** Streaming PSI drift monitor (the "natural first streaming feature",
    * SURVEY §2.11): event `value` is binned with TRAIN-FROZEN equal-interval
    * boundaries (computed once from the batch table, like eval-norm's frozen
    * stats), per-hour bin counts accumulate in the stream, and per-window
    * PSI vs the batch expected distribution is computed on the sink — the
    * streaming analog of batch `q_psi`. State is (window × bins), tiny. */
  def psiWindows(spark: SparkSession, dir: String,
                 bins: Int = 10): DataFrame =
    withStatePartitions(spark, Seq(s"$dir/events.parquet")) {
    import graft.ops.Binning
    // frozen bins come from the same row universe the windows see:
    // a null-ts event never lands in any window, so its value must
    // not stretch the bin range either (fuzz gate, nulls mode)
    val batch = graft.Tables.load(spark, dir, "events")
      .filter(col("ts").isNotNull)
    // min/max are NULL when the (null-ts-filtered) batch is empty or
    // `value` is all-NULL — fall back to a degenerate [0,1] range
    // instead of a driver NPE; the stream then sees zero rows anyway
    // (same nulls-mode defect class as the r15 fuzz burn-down)
    val mmRow = batch.agg(min("value"), max("value")).head()
    val (mn, mx) =
      if (mmRow.isNullAt(0) || mmRow.isNullAt(1)) (0.0, 1.0)
      else (mmRow.getDouble(0), mmRow.getDouble(1))
    val bounds = Binning.equalInterval(mn, mx, bins)
    val name = s"stream_psi_${counter.incrementAndGet()}"
    val events = eventsStream(spark, dir)
      .withColumn("ts_ts", timestamp_millis(expr("ts div 1000000")))
      .withWatermark("ts_ts", "1 hour")
    val agg = events
      .groupBy(window(col("ts_ts"), "1 hour"),
        Binning.binIndex(col("value"), bounds).as("bin_id"))
      .agg(count(lit(1)).as("c"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("hour_start"),
        col("bin_id"), col("c"))
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    // final PSI math on the (windows × bins) sink — same join shape as the
    // batch Psi.compute
    val counts = spark.table(name)
    val unitTot = org.apache.spark.sql.expressions.Window
      .partitionBy("hour_start")
    val withActual = counts.withColumn("a",
      col("c").cast("double") / sum("c").over(unitTot))
    val expected = batch
      .groupBy(Binning.binIndex(col("value"), bounds).as("bin_id"))
      .agg(count(lit(1)).as("gc"))
      .withColumn("e", col("gc").cast("double") /
        // bounded bin table; explicit constant partition key (see
        // ops/Psi.scala) keeps the WindowExec warning count at zero
        sum("gc").over(org.apache.spark.sql.expressions.Window
          .partitionBy(lit(1))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.unboundedFollowing)))
    withActual.join(broadcast(expected), "bin_id")
      .groupBy("hour_start")
      .agg(round(sum(
        when(col("a") > 0 && col("e") > 0,
          (col("a") - col("e")) * log(col("a") / col("e")))
          .otherwise(0.0)), 6).as("psi"))
    }

  /** lineitem.parquet partial schema for the streaming score source —
    * Spark's parquet reader prunes to this subset, so the stream never
    * deserializes the unused columns. */
  val lineitemScoreSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_discount", DoubleType),
    StructField("l_returnflag", StringType)))

  /** Streaming model scoring (model serving over a stream): a TRAIN-FROZEN
    * logistic model — literal weights folded into the plan exactly like the
    * batch `Score.LinearModel` path — scores each arriving row inside the
    * stream's narrow projection; per-(returnflag, score-decile) counts
    * accumulate. The model never changes mid-stream (the eval-norm frozen
    * contract); scoring itself adds NO state — only the monitoring agg
    * keys state, bounded by flags × 11 bands. */
  def scoreStream(spark: SparkSession, dir: String,
                  weights: Seq[(String, Double)] = Seq(
                    "l_quantity" -> 0.08, "l_discount" -> -12.0),
                  bias: Double = -1.0): DataFrame =
    withStatePartitions(spark, Seq(s"$dir/lineitem.parquet")) {
    val name = s"stream_score_${counter.incrementAndGet()}"
    val z = weights.map { case (c, w) => col(c) * lit(w) }
      .reduce(_ + _) + lit(bias)
    val score = lit(1.0) / (lit(1.0) + exp(lit(0.0) - z))
    val scored = spark.readStream
      .schema(lineitemScoreSchema)
      .option("pathGlobFilter", "lineitem.parquet")
      .parquet(dir)
      .withColumn("band", floor(score * 10).cast("int"))
    val agg = scored.groupBy(col("l_returnflag"), col("band"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
    }

  /** Latest-purchase state for the streaming as-of join: the newest
    * (ts, src_id) purchase seen per user, plus its value. */
  final case class AsOfState(ts: Long, srcId: Long, value: Double)

  /** Streaming point-in-time (as-of) join via `flatMapGroupsWithState` —
    * the custom-state path for an operator Structured Streaming has no
    * built-in for. Per user, state is just the LATEST purchase (12 bytes
    * of payload — not the history), updated and consulted in event-time
    * order inside each micro-batch; every non-purchase event is emitted
    * with the purchase state as of its timestamp. With the whole input in
    * one AvailableNow batch this equals the batch
    * [[graft.ops.TemporalJoin.asOfJoin]] and shares q_asof_join's oracle.
    *
    * Scale: state size is O(users), not O(events); the only exchange is
    * the groupByKey hash shuffle — identical shape to the batch plan. In
    * continuous operation events arriving across micro-batches are
    * point-in-time correct as long as per-user arrival is monotone (late
    * events would need a watermark + history buffer — documented contract,
    * same as every streaming as-of in production feature stores). */
  /** One micro-batch of the streaming as-of join for one user: events in
    * event-time order, purchases first at a tied ts (`<=` contract),
    * id-ascending among tied purchases so the max id wins — the exact
    * ordering of the batch asOfJoin window. Pure function of
    * (batch, prior state) so cross-batch state survival is unit-testable.
    * Input tuples: (event_id, ts, user_id, event_type, value). */
  def asOfGroup(user: Long, batch: Vector[(Long, Long, Long, String, Double)],
                prior: Option[AsOfState])
      : (Vector[(Long, Long, Option[Double], Option[Long])], Option[AsOfState]) = {
    val evs = batch.sortBy(e => (e._2, if (e._4 == "purchase") 0 else 1, e._1))
    var st = prior
    val out = Vector.newBuilder[(Long, Long, Option[Double], Option[Long])]
    evs.foreach { e =>
      if (e._4 == "purchase") {
        // keep the newest (ts, id) purchase — state survives batches
        if (st.forall(s => e._2 > s.ts || (e._2 == s.ts && e._1 > s.srcId)))
          st = Some(AsOfState(e._2, e._1, e._5))
      } else {
        // HALF_UP to match the batch query's round(value, 4); a
        // non-finite purchase value passes through unchanged exactly
        // like Spark's round (BigDecimal can't represent it — NaN gate)
        out += ((e._1, user, st.map(s =>
          if (java.lang.Double.isFinite(s.value)) BigDecimal(s.value)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          else s.value),
          st.map(_.srcId)))
      }
    }
    (out.result(), st)
  }

  def asOfStream(spark: SparkSession, dir: String): DataFrame =
    withStatePartitions(spark, Seq(s"$dir/events.parquet")) {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val name = s"stream_asof_${counter.incrementAndGet()}"
    val events = eventsStream(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      // malformed event rows (no event time / value / type) are dropped
      // at ingest — same rule as the batch asOfJoin drill and its
      // oracle (typed Long/Double rows NOT_NULL-assert on them anyway)
      .filter(col("ts").isNotNull && col("value").isNotNull &&
        col("event_type").isNotNull)
      .as[(Long, Long, Long, String, Double)]
    val joined = events
      .groupByKey(_._3)
      .flatMapGroupsWithState[AsOfState,
        (Long, Long, Option[Double], Option[Long])](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (user, it, state) =>
        val (out, st) = asOfGroup(user, it.toVector, state.getOption)
        st.foreach(state.update)
        out.iterator
      }
      .toDF("event_id", "user_id", "asof_value", "asof_src")
    val q = joined.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
    }

  /** Bounded-state streaming dedup (`dropDuplicatesWithinWatermark`):
    * unlike [[dedupCounts]]' `dropDuplicates` — whose state grows with
    * every key EVER seen, the classic unbounded-state trap of a forever
    * stream — this keeps a key only until the watermark passes its event
    * time + delay. State is O(keys per watermark window), the only shape
    * that survives an unbounded crawl feed; the documented trade is that
    * a duplicate arriving AFTER its key expired is re-admitted (exactly
    * the cross-batch contract the spec pins down with three
    * maxFilesPerTrigger=1 micro-batches: in-window duplicate dropped,
    * key expired by a later watermark, re-arrival re-emitted). */
  def dedupWithinWatermark(spark: SparkSession, dir: String,
                           keys: Seq[String],
                           delay: String = "10 minutes",
                           checkpoint: Option[String] = None): DataFrame =
    withStatePartitions(spark, Seq(dir)) {
    require(keys.nonEmpty, "dedup keys must be non-empty")
    // `dir` is a directory OF event-schema parquet files (a feed), not
    // the mixed-table sf dir. With `checkpoint` set, repeated invocations
    // resume the SAME stream: state (and the watermark) persist across
    // runs, each run drains only newly-arrived files — the deployment
    // shape of an incremental crawl-feed dedup, and what lets the spec
    // drive watermark expiry batch by batch.
    val physical = sniffSchema(spark, dir)
    val name = s"stream_dedup_wm_${counter.incrementAndGet()}"
    val raw = spark.readStream
      .schema(physical)
      .parquet(dir)
    val events = normalizeTs(raw, physical)
      .withColumn("ts_ts", timestamp_millis(expr("ts div 1000000")))
      .withWatermark("ts_ts", delay)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)
      .select(col("event_id"), col("ts"))
    val q = checkpoint match {
      case Some(c) =>
        // resumable runs need a restart-capable sink — parquet, not the
        // in-memory table (memory sinks refuse checkpoint recovery). The
        // returned frame is the CUMULATIVE deduped feed.
        events.writeStream
          .outputMode("append")
          .format("parquet")
          .option("path", s"$c/out")
          .option("checkpointLocation", s"$c/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
      case None =>
        events.writeStream
          .outputMode("append")
          .format("memory")
          .queryName(name)
          .trigger(Trigger.AvailableNow())
          .start()
    }
    q.processAllAvailable()
    q.stop()
    checkpoint match {
      case Some(c) => spark.read.parquet(s"$c/out")
      case None => spark.table(name)
    }
    }

  /** Streaming ingestion dedup gate — the continuous-crawl admission
    * step: each micro-batch of documents is screened against a PERSISTED
    * index of everything previously seen (exact md5 hash set + MinHash
    * band index: the two probes of [[graft.text.TextOps.incrementalDedup]],
    * run against index keys instead of a prior corpus), per-doc
    * decisions (dup_exact, dup_near, kept) are appended
    * to `outDir`, and the batch's OWN hashes/bands are appended to the
    * index before the next batch runs (foreachBatch is synchronous, so
    * batch N+1 always sees batch N's rows).
    *
    * Index-all-seen semantics: every screened doc's hashes/bands enter
    * the index whether it was kept or not — the most aggressive (and
    * batch-order-deterministic) screen: a doc is a dup iff ANY earlier
    * doc matched, regardless of that doc's own verdict.
    *
    * Scale: stream state stores hold NOTHING — the state is the
    * parquet index itself (32-hex hash strings + bounded band rows, a
    * few dozen bytes per doc ever seen), laid out by [[IngestIndex]]
    * so per-batch cost is INDEPENDENT of stream history: small
    * overwrite-idempotent deltas, hash-prefix-partitioned size-tiered
    * runs ([[IngestIndex.compact]] folds deltas every `compactEvery`
    * batches and merges runs binary-counter style, so a normal
    * compaction costs O(deltas), not O(index)), Bloom sidecars routing
    * only maybe-seen suspects to the exact probe joins, and
    * suspect-prefix partition pruning on the run scans. A stream-store
    * formulation would instead hold the whole corpus's keys in
    * executor state.
    *
    * Intra-batch duplicates: by default a batch is screened only
    * against strictly earlier state, so duplicates arriving WITHIN one
    * micro-batch are all admitted (`kept = true`) — deliberate, so a
    * foreachBatch retry cannot see its own first attempt. At
    * production micro-batch sizes (millions of docs) a crawl operator
    * hits that on day one, so `intraBatch = true` additionally applies
    * the keep-first-by-doc_id rule WITHIN the batch: per exact-hash
    * group and per MinHash band key, the smallest doc_id survives and
    * every other holder is flagged (`dup_exact` / `dup_near`). Both
    * are bounded per-batch `groupBy`s over already-computed keys —
    * deterministic (pure function of the batch contents), so retry
    * idempotency is untouched. */
  /** One micro-batch of the ingestion gate — factored out of the
    * foreachBatch closure so retry idempotency is directly testable:
    * calling this twice with the SAME batchId must leave decisions and
    * index bit-identical to calling it once (everything is written
    * under `batch=<id>` dirs in OVERWRITE mode, and a batch probes
    * only STRICTLY EARLIER state plus — with `intraBatch` — its own
    * deterministic contents). */
  def ingestBatch(batch: DataFrame, batchId: Long, indexDir: String,
                  outDir: String, intraBatch: Boolean = false): Unit =
    IngestIndex.withWriterLease(batch.sparkSession, indexDir) {
      ingestBatchLocked(batch, batchId, indexDir, outDir, intraBatch)
    }

  private def ingestBatchLocked(batch: DataFrame, batchId: Long,
      indexDir: String, outDir: String, intraBatch: Boolean): Unit = {
    val sp = batch.sparkSession
    val b = batch.persist()
    // AQE is off inside foreachBatch, so every shuffle below keeps the
    // full configured width — derive the width from the INPUT size
    // instead (Spread.withBatchWidth; the count also materializes the
    // persist, which the ~8 downstream actions were going to pay
    // anyway on first touch). The body also joins against the
    // accumulated index, so the bound includes the manifest's live-row
    // count (metadata-only): a trickle batch into a large index keeps
    // the index-facing shuffles wide.
    graft.ops.Spread.withBatchWidth(sp,
      b.count() + IngestIndex.liveRowsBound(sp, indexDir)) {
    // one MinHash pass per batch: the same band rows feed the
    // near-dup probe AND the index append
    val bands = graft.text.TextOps
      .minhashBands(graft.text.TextOps.minhash(b)).persist()
    try {
      val batchHashes = b.select(col("doc_id"),
        md5(col("text").cast("binary")).as("h"))
      // band key = band_hash FIRST so the hp partition prefix is
      // uniform hex, not the (few-valued) band id
      val batchBandKeys = bands.select(col("doc_id"),
        concat(col("band_hash"), lit(":"), col("band_id")).as("bk"))
      // Bloom-routed, prefix-pruned prior rows (IngestIndex): a batch
      // of entirely-new docs reads ZERO index bytes here
      val priorH = IngestIndex.probeRows(sp,
        IngestIndex.prior(sp, indexDir, "hashes", batchId),
        batchHashes.select("h").distinct(), "h")
      val priorB = IngestIndex.probeRows(sp,
        IngestIndex.prior(sp, indexDir, "bands", batchId),
        batchBandKeys.select("bk").distinct(), "bk")
      val nearIds = batchBandKeys
        .join(priorB.distinct(), Seq("bk"))
        .select("doc_id").distinct()
        .withColumn("dup_near", lit(true))
      // intra-batch keep-first: a doc is an intra dup iff some SMALLER
      // doc_id in the same batch holds its hash / one of its band keys
      // (min-per-key groupBy — bounded by the batch, no index IO)
      val intraExact =
        if (!intraBatch) None
        else Some(batchHashes
          .join(batchHashes.groupBy("h").agg(min("doc_id").as("first_id")),
            Seq("h"))
          .filter(col("doc_id") > col("first_id"))
          .select("doc_id").distinct()
          .withColumn("ie", lit(true)))
      val intraNear =
        if (!intraBatch) None
        else Some(batchBandKeys
          .join(batchBandKeys.groupBy("bk").agg(min("doc_id").as("first_id")),
            Seq("bk"))
          .filter(col("doc_id") > col("first_id"))
          .select("doc_id").distinct()
          .withColumn("in_", lit(true)))
      val joined = batchHashes
        .join(priorH.distinct().withColumn("pe", lit(true)),
          Seq("h"), "left")
        .join(nearIds, Seq("doc_id"), "left")
      val withIntra = Seq(intraExact, intraNear).flatten
        .foldLeft(joined)((df, i) => df.join(i, Seq("doc_id"), "left"))
      val intraCol = (c: String) =>
        if (intraBatch) coalesce(col(c), lit(false)) else lit(false)
      val decisions = withIntra
        .select(col("doc_id"),
          (coalesce(col("pe"), lit(false)) || intraCol("ie"))
            .as("dup_exact"),
          (coalesce(col("dup_near"), lit(false)) || intraCol("in_"))
            .as("dup_near"))
        .withColumn("kept", !col("dup_exact") && !col("dup_near"))
      decisions.write.mode("overwrite")
        .parquet(s"$outDir/batch=$batchId")
      // a NULL key (null-text doc: md5(NULL) = NULL, no shingles) can
      // never be probed — keep it out of the index and its Blooms
      IngestIndex.writeDelta(
        batchHashes.select("h").filter(col("h").isNotNull).distinct(),
        indexDir, "hashes", batchId)
      IngestIndex.writeDelta(
        batchBandKeys.select("bk").filter(col("bk").isNotNull).distinct(),
        indexDir, "bands", batchId)
    } finally { bands.unpersist(false); b.unpersist(false); () }
    }
  }

  /** Retract CONTENT from the ingest index (the gate's takedown): the
    * exact hashes and MinHash band keys of `docs` are tombstoned, so a
    * future arrival of that content is re-admitted as if never seen.
    * Effective immediately (probes anti-join live tombstones); the
    * next [[IngestIndex.compact]] folds them out of the physical runs
    * and sweeps each tombstone once no live run predates it (+1 reader
    * generation). Past DECISIONS are history and stay untouched.
    * Key-sharing caveat: a band key shared with near-duplicate
    * neighbors is removed for them too — the near-dup screen for those
    * neighbors weakens until their content is next seen. Call from the
    * ingest control loop, not concurrently with a running batch or
    * compaction. */
  def retractDocs(docs: DataFrame, indexDir: String, tag: String): Unit =
    // ONE lease across both kinds' tombstone writes: a compaction
    // interleaving between them would apply the hashes tombstone a
    // cycle before the bands one — consistent but confusing; the lease
    // makes the retraction a single writer transaction
    IngestIndex.withWriterLease(docs.sparkSession, indexDir) {
      retractDocsLocked(docs, indexDir, tag)
    }

  private def retractDocsLocked(docs: DataFrame, indexDir: String,
      tag: String): Unit = {
    val sp = docs.sparkSession
    // check BOTH kinds' applied sets before writing either tombstone:
    // kinds can reach the applied/swept state at different compactions
    // (their run histories differ), and failing between the two writes
    // would leave a partial retraction
    val m = IngestIndex.readManifest(sp, indexDir)
    IngestIndex.Kinds.foreach(k =>
      IngestIndex.gateFamily(k).requireNewTag(m, tag))
    val b = docs.persist()
    try {
      // a null-text doc has no key (md5(NULL) = NULL), as in the deltas:
      // a NULL tombstone key could never match an index row
      IngestIndex.retractKeys(sp, indexDir, "hashes",
        b.select(md5(col("text").cast("binary")).as("h"))
          .filter(col("h").isNotNull).distinct(), tag, m)
      IngestIndex.retractKeys(sp, indexDir, "bands",
        graft.text.TextOps.minhashBands(graft.text.TextOps.minhash(b))
          .select(concat(col("band_hash"), lit(":"), col("band_id"))
            .as("bk")).filter(col("bk").isNotNull).distinct(), tag, m)
    } finally { b.unpersist(false); () }
  }

  /** Start the gate. `compactEvery` > 0 folds the index every that
    * many batches ([[IngestIndex.compact]]) so delta-dir count — and
    * with it probe file-listing cost — stays bounded on a forever
    * stream. Restart guard: resuming over a NON-empty index without a
    * checkpoint is refused, because batch ids would restart at 0 and
    * probe stale state from the previous run (decisions for the same
    * doc would accumulate and conflict); pass the previous checkpoint
    * to resume, or point at a fresh index/out pair. */
  def dedupIngestStream(stream: DataFrame, indexDir: String,
                        outDir: String,
                        checkpoint: Option[String] = None,
                        compactEvery: Int = 16,
                        intraBatch: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    if (checkpoint.isEmpty &&
        IngestIndex.nonEmpty(stream.sparkSession, indexDir))
      throw new IllegalStateException(
        s"ingest index at $indexDir holds state from a previous run; " +
          "pass that run's checkpoint to resume it, or use a fresh " +
          "indexDir/outDir (batch ids restart at 0 without a " +
          "checkpoint and would probe the stale index)")
    val writer = stream.writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         batchId: Long) =>
        if (!batch.isEmpty)
          ingestBatch(batch.toDF(), batchId, indexDir, outDir, intraBatch)
        // compaction cadence outside the emptiness check: an empty
        // micro-batch still consumes a batchId, and empty files aligned
        // with the boundary must not defer compaction forever
        // compact STRICTLY-EARLIER deltas only (batchId - 1): folding
        // the current batch into the runs would let a crash-replay of
        // this batchId (crash after foreachBatch, before the offset
        // commit) see its own keys as prior state and flag the whole
        // replayed batch as duplicates — the retry must stay
        // bit-identical. The current delta folds at the next boundary.
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0 &&
            IngestIndex.nonEmpty(batch.sparkSession, indexDir))
          IngestIndex.compact(batch.sparkSession, indexDir, batchId - 1)
        ()
      }
    // a real deployment passes `checkpoint` so a restart resumes from
    // the committed offset instead of replaying the whole source against
    // an index that already contains every doc
    checkpoint.foreach(c => writer.option("checkpointLocation", c))
    writer.start()
  }

  /** Sliding event-time windows (window ≠ slide — each event lands in
    * window/slide overlapping windows): per-type counts over 1-hour
    * windows advancing every 30 minutes. Same bounded state shape as the
    * tumbling aggregate (windows × types rows), ×(window/slide) overlap
    * factor — still O(active windows), never O(events). */
  def slidingCounts(spark: SparkSession, dir: String): DataFrame =
    withStatePartitions(spark, Seq(s"$dir/events.parquet")) {
    val name = s"stream_slide_${counter.incrementAndGet()}"
    val events = eventsStream(spark, dir)
      .withColumn("ts_ts", timestamp_millis(expr("ts div 1000000")))
      .withWatermark("ts_ts", "1 hour")
    val agg = events
      .groupBy(window(col("ts_ts"), "1 hour", "30 minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("win_start"),
        col("event_type"), col("n"))
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
    }

  /** Stream-stream interval join (the last Structured Streaming join
    * surface the engine was missing): purchases joined with the same
    * user's non-purchase "context" events from the preceding 30 minutes.
    * Both sides carry event-time watermarks, and the join predicate has
    * an explicit time-range constraint — together they BOUND the join
    * state Spark keeps (each side is droppable once the other side's
    * watermark passes its range), so in continuous operation state is
    * O(arrival rate × window), never O(history). The only exchange is
    * the user_id hash shuffle of both sides — identical to a batch
    * equi-join on the key. Pairs land in the sink; the per-purchase
    * context count is a batch rollup off it (same pattern as every
    * stream query here), equal to the batch range-join oracle. */
  def purchaseContextJoin(spark: SparkSession, dir: String,
                          windowMin: Int = 30): DataFrame =
    withStatePartitions(spark, Seq(s"$dir/events.parquet")) {
    val name = s"stream_ssjoin_${counter.incrementAndGet()}"
    def src() = eventsStream(spark, dir)
      .withColumn("ts_ts", timestamp_millis(expr("ts div 1000000")))
    val purchases = src().filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts_ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val context = src().filter(col("event_type") =!= "purchase")
      .select(col("user_id").as("c_user"), col("ts_ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val joined = purchases.join(context,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowMin MINUTES") &&
        col("c_ts") <= col("p_ts"))
      .select(col("p_id"), col("c_ts"))
    val q = joined.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name).groupBy("p_id")
      .agg(count(lit(1)).as("n_context"))
    }

  /** The left-outer interval-join STREAM over a staged event-feed dir —
    * the lazy plan [[purchaseContextJoinOuter]] drains and the
    * interleaving fuzz restarts at seeded boundaries. Watermarks attach
    * BEFORE the type filters so a far-future sentinel row advances them
    * without joining. */
  private[streaming] def outerJoinFrames(spark: SparkSession,
      srcDir: String, windowMin: Int): DataFrame = {
    def src() = {
      val physical = sniffSchema(spark, srcDir, recursive = true)
      val raw = spark.readStream.schema(physical)
        .option("recursiveFileLookup", "true").parquet(srcDir)
      val norm = normalizeTs(raw, physical)
      norm.withColumn("ts_ts", timestamp_millis(expr("ts div 1000000")))
        .withWatermark("ts_ts", "1 hour")
    }
    val purchases = src().filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts_ts").as("p_ts"))
    val context = src().filter(col("event_type") =!= "purchase")
      .select(col("user_id").as("c_user"), col("ts_ts").as("c_ts"))
    purchases.join(context,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowMin MINUTES") &&
        col("c_ts") <= col("p_ts"),
      "left_outer")
      .select(col("p_id"), col("c_ts"))
  }

  /** LEFT-OUTER stream-stream interval join: like [[purchaseContextJoin]]
    * but purchases with NO context events in the window still emit
    * (n_context = 0). Outer rows flush only when BOTH watermarks pass
    * the join window, and AvailableNow runs no extra batch after the
    * last data — so the source is staged into a temp dir plus ONE
    * sentinel event far in the future whose only job is to advance the
    * watermark past every real row (watermarks attach BEFORE the
    * type filters, so the sentinel moves them without joining). This is
    * the operational answer to "my outer join never emits the nulls" —
    * in production a live feed advances the watermark on its own. */
  def purchaseContextJoinOuter(spark: SparkSession, dir: String,
                               windowMin: Int = 30): DataFrame =
    withStatePartitions(spark, Seq(s"$dir/events.parquet")) {
    import org.apache.spark.sql.types._
    // stage source + sentinel (cannot write into the read-only sf dir)
    val tmp = java.nio.file.Files.createTempDirectory("ssjoin_outer")
    val srcDir = tmp.resolve("src")
    java.nio.file.Files.createDirectories(srcDir)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      srcDir.resolve("events.parquet"))
    // sentinel rows derive from a REAL source row so the staged files all
    // share one physical schema (a hand-built LONG ts against a
    // TIMESTAMP source would misread and the watermark would never move)
    // conf-before-footer through the shared sniff: this was the one
    // reader that resolved the events footer BEFORE setting the nanos
    // legacy conf — a deterministic first-call crash on a
    // TIMESTAMP(NANOS) events table in a fresh session
    val rawSchema = sniffSchema(spark, s"$dir/events.parquet")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    val tsIsLong = rawSchema("ts").dataType == LongType
    val maxRow = raw.orderBy(col("ts").desc).limit(1)
    def writeSentinel(n: Int): Unit = {
      maxRow
        .withColumn("event_id", lit(-1L))
        .withColumn("user_id", lit(-1L))
        .withColumn("event_type",
          explode(array(lit("purchase"), lit("click"))))
        .withColumn("ts",
          if (tsIsLong) col("ts") + lit(n * 10L * 86400L * 1000000000L)
          else expr(s"ts + INTERVAL ${n * 10} DAYS"))
        .coalesce(1)
        .write.parquet(tmp.resolve(s"sentinel_stage$n").toString)
      // the file-stream listing is FLAT: move the part-file out of the
      // write directory so it is discovered as a plain file (close the
      // directory stream — Files.list holds the dir's fd until closed)
      val ls = java.nio.file.Files.list(tmp.resolve(s"sentinel_stage$n"))
      val part =
        try ls.filter(f => f.getFileName.toString.startsWith("part-"))
          .findFirst().get()
        finally ls.close()
      java.nio.file.Files.move(part,
        srcDir.resolve(s"sentinel$n.parquet"))
    }
    def joined() = outerJoinFrames(spark, srcDir.toString, windowMin)
    // outer-null rows emit one batch AFTER the watermark passes them, and
    // AvailableNow never runs an empty flush batch — so: run to
    // completion once (sentinel 1 advances the watermark), then drop a
    // later sentinel and RESUME from the checkpoint; run 2's batch
    // flushes the held outer rows. Parquet sink + checkpoint so rows
    // accumulate across the two runs (the dedupWithinWatermark pattern).
    val outDir = tmp.resolve("out").toString
    val ckDir = tmp.resolve("ck").toString
    def runOnce(): Unit = {
      val q = joined().writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckDir)
        .trigger(Trigger.AvailableNow())
        .start()
      q.processAllAvailable()
      q.stop()
    }
    writeSentinel(1)
    runOnce()
    // AvailableNow runs one final empty batch after the watermark moves,
    // which normally flushes every held outer row already — only fall
    // back to the resumed second run (cheap: one sentinel-only batch,
    // but ~2s of query startup) if some purchase is still missing
    val nPurchases = raw.filter(col("event_type") === "purchase").count()
    val emitted = spark.read.parquet(outDir)
      .filter(col("p_id") =!= -1L).select("p_id").distinct().count()
    if (emitted < nPurchases) {
      writeSentinel(2)
      runOnce()
    }
    // materialize the per-purchase rollup, then DELETE the staging tree
    // — the lazy frame would otherwise pin a full events.parquet copy
    // plus sink/checkpoint dirs on disk for the caller's lifetime
    val plan = spark.read.parquet(outDir)
      .filter(col("p_id") =!= -1L) // drop the watermark sentinel
      .groupBy("p_id")
      .agg(count(col("c_ts")).as("n_context"))
    val rows = plan.collect().toIndexedSeq
    def rm(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.isDirectory(p)) {
        val ls = java.nio.file.Files.list(p)
        try ls.iterator().asScala.toSeq.foreach(rm) finally ls.close()
      }
      java.nio.file.Files.deleteIfExists(p); ()
    }
    rm(tmp)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), plan.schema)
    }

  /** Stream-static enrichment join: the event stream joins a STATIC
    * dimension table (user → market segment) inside each micro-batch —
    * completely STATELESS (no watermark, no join state: the static side
    * is just re-planned per batch, broadcast when small). This is the
    * canonical "enrich a live feed with reference data" shape; the
    * stateful stream-stream dual is [[purchaseContextJoin]]. Emits the
    * per-segment rollup off the sink, equal to the batch join oracle. */
  def staticEnrichJoin(spark: SparkSession, dir: String): DataFrame =
    withStatePartitions(spark, Seq(s"$dir/events.parquet")) {
    val name = s"stream_enrich_${counter.incrementAndGet()}"
    val dim = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    val joined = eventsStream(spark, dir)
      .select(col("user_id"), col("event_type"),
        // overflow-clamped mils (see q_rolling — floor saturates)
        graft.ops.Binning.longWeight(col("value") * 1000,
          graft.ops.Binning.MilsClamp).as("mils"))
      .join(dim, Seq("user_id")) // inner: unmatched users drop, per batch
    val q = joined.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name).groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("n"), sum("mils").as("sum_mils"))
    }

  /** Streaming sessionization via the BUILT-IN `session_window` (the
    * declarative complement to [[sessionizeStream]]'s custom
    * `mapGroupsWithState` path): events of a user closer than the gap
    * merge into one session window `[min_ts, last_ts + gap)`. In
    * continuous operation state is O(open sessions) — closed sessions
    * evict as the watermark passes their end — vs the custom path's
    * O(users). Emits (user_id, session_start_ms, n_events); equal to the
    * batch gap-island oracle (new session iff gap >= 30 min, matching
    * session_window's strict-< merge rule). */
  def sessionWindowCounts(spark: SparkSession, dir: String,
                          gapMin: Int = 30): DataFrame =
    withStatePartitions(spark, Seq(s"$dir/events.parquet")) {
    val name = s"stream_swin_${counter.incrementAndGet()}"
    val events = eventsStream(spark, dir)
      .withColumn("ts_ts", timestamp_millis(expr("ts div 1000000")))
      .withWatermark("ts_ts", "1 hour")
    val agg = events
      .groupBy(col("user_id"),
        session_window(col("ts_ts"), s"$gapMin minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        expr("unix_millis(session_window.start)").as("session_start_ms"),
        col("n_events"))
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
    }

  /** Streaming tumbling 1-hour counts per event_type over the events dir;
    * runs the stream to completion against the static files and returns
    * the result table — output matches the batch q_events_window oracle. */
  def tumblingCounts(spark: SparkSession, dir: String): DataFrame =
    withStatePartitions(spark, Seq(s"$dir/events.parquet")) {
    val name = s"stream_window_${counter.incrementAndGet()}"
    val events = eventsStream(spark, dir)
      .withColumn("ts_ts", timestamp_millis(expr("ts div 1000000")))
      .withWatermark("ts_ts", "1 hour")
    val agg = events
      .groupBy(window(col("ts_ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("hour_start"),
        col("event_type"), col("n"), col("sum_value"))
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
    }
}
