package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Structured-streaming operators over the events stream. The reference is batch-only;
  * these cover the streaming leg a large-scale ingest pipeline needs: windowed
  * aggregation with watermarking, executed on the same code path a `readStream` from
  * Kafka/files would use. For verification the file source drives the stream to
  * completion synchronously (memory sink + processAllAvailable).
  */
object StreamOps {

  /** Stream a SINGLE parquet file: the streaming file source wants a directory, so
    * read the parent with a filename glob. (Directory-shaped sources use their own
    * readStream with `maxFilesPerTrigger` — see the dedup ops.)
    */
  private def fileStream(spark: SparkSession, path: String): DataFrame = {
    // BEFORE the batch schema inference: a legacy TIMESTAMP(NANOS) events file
    // fails schema inference itself without the conf, i.e. before normalizeTs could
    // ever see it — and streaming paths must work standalone, not only after some
    // batch events query happened to set the conf on the shared session
    graft.sources.Events.allowLegacyNanos(spark)
    val schema = spark.read.parquet(path).schema
    val f = new java.io.File(path)
    spark.readStream
      .schema(schema)
      .option("pathGlobFilter", f.getName)
      .parquet(f.getParent)
  }

  /** r12 (verdict #7): state partition counts DERIVED from the source's on-disk
    * size ([[graft.util.Partitioning.stateFromSource]]) instead of the r11 per-op
    * constants — identical values at the r11-measured optima for the events-sized
    * streams (2 MB source → 8 heavy / 4 light), scale-adaptive for bigger feeds
    * (saturates at defaultParallelism). Heavy = keyed state proportional to the
    * stream (dedup hashes, per-user state, windows, join buffers); light = tiny
    * keyed aggregates (per-lang / per-segment / per-bin) whose state is bounded
    * far below the stream size.
    */
  private def heavyState(spark: SparkSession, path: String): Int =
    graft.util.Partitioning.stateFromSource(spark, path, 256L << 10)
  private def lightState(spark: SparkSession, path: String): Int =
    graft.util.Partitioning.stateFromSource(spark, path, 512L << 10)

  /** Drive a streaming DataFrame to completion into a uniquely-named memory sink and
    * return the sink table — the synchronous verification harness for every
    * streaming operator here.
    *
    * `statePartitions` pins `spark.sql.shuffle.partitions` for this query: unlike
    * batch shuffles (AQE coalesces empty partitions at runtime), streaming state
    * partitions are FIXED at the first micro-batch and each costs a state-store
    * instance — file create + delta write + commit per partition PER BATCH — so an
    * oversized count is fixed overhead no optimizer claws back. Every op here passes
    * a count sized to its source ([[heavyState]]/[[lightState]]): the per-row state
    * work of these streams is small against the store-commit fixed cost (measured
    * on stream_dedup, quiet, JIT-warm: 32 partitions ≈ 7.4 s, 8 partitions ≈ 4.0 s
    * per drive).
    */
  private def driveToMemory(
      stream: DataFrame,
      mode: String,
      prefix: String,
      statePartitions: Int): DataFrame = {
    val name = s"${prefix}_${System.nanoTime()}"
    graft.util.Sessions.withShufflePartitions(stream.sparkSession, statePartitions) {
      val q = stream.writeStream
        .outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    stream.sparkSession.table(name)
  }

  /** Tumbling 1-hour windows per event type: count + value sum. Runs the streaming
    * query to completion over the parquet-backed source and returns the result table.
    */
  def windowedEventCounts(spark: SparkSession, eventsPath: String): DataFrame = {
    // normalize ts to TimestampType whatever the parquet physical type — NTZ would
    // fail withWatermark (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), long nanos would
    // fail the window() call
    val stream = graft.sources.Events.normalizeTs(fileStream(spark, eventsPath))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("value_sum"))
    // update mode: the watermark purges closed-window state (complete mode never
    // purges — unbounded state on a real stream), yet unlike append the still-open
    // final windows are emitted too, so a bounded drive yields the full result.
    // Each window's LAST update (highest cnt) is the final value.
    driveToMemory(stream, "update", "stream_agg", statePartitions = heavyState(spark, eventsPath))
      .groupBy(col("w"), col("event_type"))
      .agg(max("cnt").as("cnt"), expr("max_by(value_sum, cnt)").as("value_sum"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("cnt"),
        round(col("value_sum"), 4).as("value_sum"))
  }

  /** Streaming exact dedup: `dropDuplicates` on the content hash holds every seen
    * hash in state, so duplicates arriving in ANY later micro-batch are dropped —
    * the ingest-time shape of training-data dedup (batch equivalent:
    * [[graft.textops.Dedup.exact]]). Emits per-`lang` unique-document counts.
    *
    * On a real unbounded stream the state needs an eviction contract:
    * `dropDuplicatesWithinWatermark` bounds it to the dedup horizon (requires an
    * event-time column; the documents corpus has none, so the test path keeps full
    * state, which is exact and bounded by #unique documents).
    */
  def streamingExactDedup(spark: SparkSession, corpusDir: String): DataFrame = {
    val schema = spark.read.parquet(corpusDir).schema
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1) // one file per micro-batch: dedup must cross batches
      .parquet(corpusDir)
      .withColumn("h", md5(col("text")))
      .dropDuplicates("h")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_unique"))
    // complete mode: tiny keyed aggregate (one row per lang), not raw state
    driveToMemory(stream, "complete", "stream_dedup", statePartitions = heavyState(spark, corpusDir))
  }

  /** Streaming sharded corpus sink — the ingest shape of
    * [[graft.textops.Curation.writeShards]]: every micro-batch assigns the SAME
    * deterministic md5 shard ids and appends `partitionBy(shard)` parquet via
    * `foreachBatch`. Shard assignment depends only on (key, salt), so every batch
    * routes a row to the same shard directory and training readers see one stable
    * partition-pruned view regardless of how many batches produced it.
    *
    * Delivery contract: the LAYOUT is idempotent; the DATA is at-least-once.
    * `foreachBatch` may re-run a micro-batch after a mid-append failure, and a
    * plain parquet append would then duplicate those rows. Production deployments
    * pair this with a checkpoint location plus either batchId-versioned output
    * (write batch `b` under `_batch=b` and overwrite that subdir on retry) or a
    * downstream exact dedup on the document key — the same [[graft.textops.Dedup]]
    * operators this engine ships. Returns the corpus read BACK from disk (manifest
    * aggregation happens on what was actually written, as in the batch sink).
    */
  def streamingShardedSink(
      spark: SparkSession,
      corpusDir: String,
      keyCol: String,
      numShards: Int,
      outPath: String,
      salt: String): DataFrame = {
    val schema = spark.read.parquet(corpusDir).schema
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1) // one file per micro-batch: appends must cross batches
      .parquet(corpusDir)
      .withColumn("shard",
        graft.textops.Curation.shardId(col(keyCol), numShards, salt))
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.write.mode("append").partitionBy("shard").parquet(outPath)
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    spark.read.parquet(outPath)
  }

  /** Exactly-once variant of [[streamingShardedSink]]: each micro-batch writes its
    * rows under its OWN `batch=<id>` partition with `mode("overwrite")`, so a
    * re-delivered micro-batch (foreachBatch is at-least-once after a mid-append
    * failure) REPLACES its previous attempt instead of duplicating rows —
    * idempotent replay with no downstream dedup. Readers discover `(batch, shard)`
    * partitions; shard-subset reads still prune on the `shard` directory level, and
    * a compaction pass can later fold batch dirs into the plain layout.
    */
  def streamingShardedSinkVersioned(
      spark: SparkSession,
      corpusDir: String,
      keyCol: String,
      numShards: Int,
      outPath: String,
      salt: String): DataFrame = {
    val schema = spark.read.parquet(corpusDir).schema
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(corpusDir)
      .withColumn("shard",
        graft.textops.Curation.shardId(col(keyCol), numShards, salt))
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        writeVersionedBatch(batch, batchId, outPath)
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    spark.read.parquet(outPath)
  }

  /** Fold a versioned sink's `batch=<id>` dirs into the plain sharded layout (the
    * compaction pass the versioned sink's contract mentions): one read, one
    * `partitionBy(shard)` write, `batch` dropped. Run it when replay protection for
    * the covered batches is no longer needed (their offsets are committed).
    */
  def compactVersionedSink(
      spark: SparkSession,
      versionedPath: String,
      outPath: String): DataFrame = {
    spark.read.parquet(versionedPath).drop("batch")
      .write.mode("overwrite").partitionBy("shard").parquet(outPath)
    spark.read.parquet(outPath)
  }

  /** One micro-batch's idempotent write: everything lands under `batch=<id>`,
    * replacing any previous attempt for the same id. Exposed so the replay spec can
    * re-deliver a batch exactly the way a foreachBatch retry would.
    */
  private[graft] def writeVersionedBatch(
      batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
      batchId: Long,
      outPath: String): Unit =
    batch.write.mode("overwrite").partitionBy("shard")
      .parquet(s"$outPath/batch=$batchId")

  /** Streaming ingest-time MinHash near-dup detection against a GROWING persistent
    * band index: the static corpus is indexed once
    * ([[graft.textops.Dedup.writeMinhashIndex]]); every micro-batch probes the
    * index-so-far ([[graft.textops.Dedup.incrementalMinhashPairsFromIndex]] — batch
    * signature pass + collisions, never a corpus text scan), appends its verified
    * pairs to the output, then appends its OWN bands and texts to the index — so
    * near-dups arriving in different micro-batches are still caught, and the union
    * of per-batch outputs equals the batch-mode incremental run over all incoming
    * docs at once (each pair resolves exactly once, in the later doc's batch;
    * pinned by spec and by the shared driver oracle).
    *
    * Delivery contract matches [[streamingShardedSink]]: layout idempotent, data
    * at-least-once — production pairs this with a checkpoint + batchId-versioned
    * appends or a downstream exact dedup on the pair key.
    */
  def streamingMinhashDedup(
      spark: SparkSession,
      corpus: DataFrame,
      incomingDir: String,
      idCol: String,
      textCol: String,
      threshold: Double): DataFrame = {
    import graft.textops.Dedup
    val work = graft.util.Scratch.deleteOnExit(
      s"${System.getProperty("java.io.tmpdir")}/graft_stream_mhidx/${System.nanoTime()}")
    val idxDir = s"$work/index"
    val textsDir = s"$work/texts"
    val pairsDir = s"$work/pairs"
    // spread the one-off corpus signature pass (guide §2.5): a single-file corpus
    // otherwise computes every corpus minhash on ONE task at setup; conditional,
    // so a wide corpus scan skips the shuffle. Bands/pairs values are per-row
    // deterministic — layout changes only file counts, never rows.
    val texts0 = graft.util.Partitioning.spreadNarrowScan(
      corpus.select(col(idCol), col(textCol)))
    Dedup.writeMinhashIndex(texts0, idCol, textCol, idxDir)
    texts0.write.mode("overwrite").parquet(textsDir)
    // seed the output with an empty, correctly-typed frame so a pair-free stream
    // still reads back a valid (id_l, id_r, jaccard) result
    Dedup.incrementalMinhashPairs(texts0.limit(0), texts0.limit(0),
        idCol, textCol, threshold)
      .write.mode("overwrite").parquet(pairsDir)
    val schema = spark.read.parquet(incomingDir).schema
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1) // near-dups must be caught across batches
      .parquet(incomingDir)
    // per-batch join/distinct shuffles sized to the BATCH volume, not the session
    // default (r12; JobProfile: 71 jobs whose 32-64-task stages did ~0 task-s each
    // — pure scheduling overhead on file-sized batches). Same derive-from-source
    // rule as the state-store sizing; pair/band rows are per-row deterministic,
    // so partition count changes file counts only, never content.
    val batchParts = graft.util.Partitioning.stateFromSource(
      spark, incomingDir, 256L << 10)
    graft.util.Sessions.withShufflePartitions(spark, batchParts) {
      val q = stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          graft.util.Caching.withCached {
            Dedup.incrementalMinhashPairsFromIndex(idxDir,
                spark.read.parquet(textsDir), batch, idCol, textCol, threshold)
              .write.mode("append").parquet(pairsDir)
          }
          Dedup.writeMinhashIndex(batch.toDF(), idCol, textCol, idxDir, mode = "append")
          batch.select(col(idCol), col(textCol)).write.mode("append").parquet(textsDir)
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.read.parquet(pairsDir)
  }

  /** Streaming near-dup dedup: the stateless [[graft.expressions.SimHash64]]
    * expression runs unchanged on the stream, and `dropDuplicates(lang, signature)`
    * drops any later-arriving document whose distinct-token set hashes identically
    * (exact copies, token-reordered/duplicated variants) — ingest-time near-dup
    * filtering with state of ONE 8-byte key per kept document, far lighter than
    * holding text hashes. Token-less documents carry no signature and pass through
    * the filter upstream of dedup. Emits per-lang unique counts.
    */
  def streamingSimhashDedup(spark: SparkSession, corpusDir: String): DataFrame = {
    val schema = spark.read.parquet(corpusDir).schema
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1) // near-dups must be caught across batches
      .parquet(corpusDir)
      .withColumn("sig", graft.functions.simhash64(col("text")))
      .filter(col("sig").isNotNull)
      .dropDuplicates("lang", "sig")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_unique"))
    // complete mode: tiny keyed aggregate (one row per lang), not raw state
    driveToMemory(stream, "complete", "stream_simhash_dedup", statePartitions = heavyState(spark, corpusDir))
  }

  /** Streaming corpus curation: the codegen'd quality/language expressions run
    * unchanged under Structured Streaming (stateless projection + filter, then a tiny
    * keyed aggregate) — the ingest-time filter shape for a training-data feed. Emits
    * per predicted language: surviving doc count + token sum.
    */
  def streamingQualityFilter(spark: SparkSession, docsPath: String): DataFrame = {
    import graft.textops.TextOps
    val stream = fileStream(spark, docsPath)
      .select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        round(TextOps.qualityScore(col("text")), 6).as("quality"),
        TextOps.langId(col("text")).as("pred_lang"))
      .filter(col("pred_lang") =!= "und" && col("n_tokens") >= 5 && col("quality") >= 0.3)
      .groupBy("pred_lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens"))
    // complete mode: tiny keyed aggregate (≤ #languages rows)
    driveToMemory(stream, "complete", "stream_quality", statePartitions = lightState(spark, docsPath))
  }

  /** Streaming DSIR gate: the trained k-bucket log-ratio map rides a row-local
    * scoring expression (map-literal probe per gram — no join, no per-doc shuffle),
    * so the gate is a stateless projection + filter; the only stateful operator is
    * the tiny per-lang aggregate. This is the ingest-time shape of data selection:
    * train the table once on a static target/raw pair, gate the feed forever.
    */
  def streamingDsirGate(
      spark: SparkSession,
      docsPath: String,
      lr: Map[Long, Double],
      k: Int,
      threshold: Double): DataFrame = {
    val stream = fileStream(spark, docsPath)
      .select(col("lang"),
        graft.textops.Curation.dsirScoreColumn(col("text"), lr, k).as("dsir"))
      .filter(col("dsir") >= threshold)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), round(sum("dsir"), 6).as("sum_dsir"))
    // complete mode: tiny keyed aggregate (≤ #languages rows)
    driveToMemory(stream, "complete", "stream_dsir", statePartitions = lightState(spark, docsPath))
  }

  /** Streaming dedup with BOUNDED state: `dropDuplicatesWithinWatermark` evicts a
    * key's state once the watermark passes its event time + `delay`, so state holds
    * only the dedup horizon — the production shape for unbounded streams (plain
    * `dropDuplicates` state grows forever). `ts` may be either events shape
    * ([[graft.sources.Events]]: native `timestamp[us]` or legacy long nanos);
    * dedup key = (user_id, event_type, ts at its native resolution). Emits the
    * deduplicated rows (append mode — each key exactly once).
    */
  def streamingDedupWithinWatermark(
      spark: SparkSession,
      eventsDir: String,
      delay: String = "365 days"): DataFrame = {
    graft.sources.Events.allowLegacyNanos(spark) // before inference
    val schema = spark.read.parquet(eventsDir).schema
    val raw = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1) // duplicates arrive in later micro-batches
      .parquet(eventsDir)
    // dedup key from the RAW ts at its native resolution: legacy long nanos keep
    // nanosecond distinctions (normalizing first would truncate to micros and
    // collapse sub-microsecond-distinct events into one key); the native timestamp
    // shape is micros-resolution already, so unix_micros is injective there
    val kExpr = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => col("ts") // epoch nanos, as-is
      case _ => unix_micros(col("ts").cast("timestamp"))
    }
    val stream = graft.sources.Events.normalizeTs(
        raw.withColumn("k", concat_ws("|", col("user_id"), col("event_type"), kExpr)))
      .withColumn("event_ts", col("ts"))
      .withWatermark("event_ts", delay)
      .dropDuplicatesWithinWatermark("k")
    driveToMemory(stream, "append", "stream_dedup_wm", statePartitions = heavyState(spark, eventsDir))
  }

  /** Stream-static enrichment: join the event stream against a broadcast dimension
    * table (the feature-store / reference-data shape). The static side is planned as
    * a broadcast hash join per micro-batch — no stream-side shuffle, no state; at
    * cluster scale the dimension refresh is a re-broadcast, never a stateful join.
    * Emits per (mktsegment, event_type) counts and value sums.
    */
  def streamStaticEnrich(
      spark: SparkSession,
      eventsPath: String,
      dim: DataFrame): DataFrame = {
    val stream = fileStream(spark, eventsPath)
      .join(broadcast(dim.select(col("c_custkey").as("user_id"), col("c_mktsegment"))),
        Seq("user_id"), "left")
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("n"), sum(col("value")).as("value_sum"))
    // complete mode: bounded keyed aggregate (segments × event types)
    driveToMemory(stream, "complete", "stream_enrich", statePartitions = lightState(spark, eventsPath))
      .select(col("c_mktsegment"), col("event_type"), col("n"),
        round(col("value_sum"), 4).as("value_sum"))
  }

  /** Stream-stream interval join — the remaining Structured Streaming join mode
    * (enrich covers stream-static): every `view` event joins the same user's
    * `purchase` events with `view.ts <= purchase.ts <= view.ts + windowMinutes`.
    * Both sides carry a watermark and the join condition bounds event-time on both
    * sides, which is exactly what lets Spark evict join state — without the time
    * range, both buffers grow forever on a real stream. Append mode (the only mode
    * stream-stream joins support); the per-user rollup happens on the sink table.
    *
    * `ts` (either events shape, normalized by [[graft.sources.Events.normalizeTs]])
    * joins at microsecond precision — the DuckDB oracle replicates with
    * `epoch_ns // 1000`.
    */
  def streamStreamIntervalJoin(
      spark: SparkSession,
      eventsPath: String,
      windowMinutes: Int): DataFrame = {
    def side(tag: String, tpe: String) = {
      graft.sources.Events.normalizeTs(fileStream(spark, eventsPath))
        .filter(col("event_type") === tpe)
        .select(col("user_id").as(s"${tag}_user"), col("ts").as(s"${tag}_ts"), col("value"))
        .withWatermark(s"${tag}_ts", "1 hour")
    }
    val views = side("v", "view").drop("value")
    val purchases = side("p", "purchase")
    val joined = views.join(purchases,
      col("v_user") === col("p_user") &&
        col("p_ts") >= col("v_ts") &&
        col("p_ts") <= col("v_ts") + expr(s"INTERVAL $windowMinutes MINUTES"))
    // 4 state stores per partition per batch: size partitions to the stream, not
    // the machine — 100k events across 8 partitions keeps useful parallelism while
    // shedding 3/4 of the per-batch store-commit fixed cost
    driveToMemory(joined, "append", "stream_join", statePartitions = heavyState(spark, eventsPath))
      .groupBy(col("v_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"), round(sum("value"), 4).as("value_sum"))
  }

  /** LEFT-OUTER stream-stream interval join — the semantics the inner variant
    * can't show: a view with NO purchase in its window emits (with nulls) only
    * once the watermark PROVES no matching purchase can still arrive, i.e. at
    * left-state eviction during the post-data no-data micro-batch. Views whose
    * window the final watermark has not yet passed stay buffered and do NOT
    * appear — the per-user rollup therefore reports `n_unmatched` as
    * "proven-unmatched", exactly what an attribution pipeline may act on.
    * State stays bounded for the same reason as the inner join: the time-range
    * condition gives both buffers an eviction frontier.
    */
  def streamStreamLeftJoin(
      spark: SparkSession,
      eventsPath: String,
      windowMinutes: Int): DataFrame = {
    def side(tag: String, tpe: String) = {
      graft.sources.Events.normalizeTs(fileStream(spark, eventsPath))
        .filter(col("event_type") === tpe)
        .select(col("user_id").as(s"${tag}_user"), col("ts").as(s"${tag}_ts"), col("value"))
        .withWatermark(s"${tag}_ts", "1 hour")
    }
    val views = side("v", "view").drop("value")
    val purchases = side("p", "purchase")
    val joined = views.join(purchases,
      col("v_user") === col("p_user") &&
        col("p_ts") >= col("v_ts") &&
        col("p_ts") <= col("v_ts") + expr(s"INTERVAL $windowMinutes MINUTES"),
      "left_outer")
    driveToMemory(joined, "append", "stream_ljoin", statePartitions = heavyState(spark, eventsPath))
      .groupBy(col("v_user").as("user_id"))
      .agg(count(col("p_user")).as("n_pairs"),
        sum(when(col("p_user").isNull, 1L).otherwise(0L)).as("n_unmatched"),
        round(sum(coalesce(col("value"), lit(0.0))), 4).as("value_sum"))
  }

  case class OpenSession(start_us: Long, last_us: Long, n: Long)
  case class SessionRow(user_id: Long, session_start_us: Long, session_end_us: Long,
    n_events: Long)

  /** Streaming sessionization — `flatMapGroupsWithState` + EVENT-TIME timeout, the
    * canonical custom-state streaming shape: per-user open sessions live in
    * `GroupState`, close when a later event arrives past the gap (same rule as the
    * batch [[graft.events.Sessionize]]: strictly-greater gap splits), and the
    * watermark fires the timeout that closes a session no later event will extend.
    * Append mode: each closed session is emitted exactly once; state per user is one
    * (start, last, count) triple, evicted on close — bounded by concurrently-open
    * sessions, never by history.
    *
    * A bounded drive emits exactly the sessions whose close is PROVEN by the final
    * watermark (= max event time, delay 0): sessions closed by a later event, plus
    * timed-out sessions with `last + gap < max_ts`. Still-provisional sessions stay
    * in state — on a real stream they'd emit as the watermark passes them.
    */
  def streamingSessionize(
      spark: SparkSession,
      eventsPath: String,
      gapSeconds: Long): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val gapUs = gapSeconds * 1000000L
    // the watermark COLUMN must survive into the stateful operator (dropping it
    // disables event-time timeout), so event_ts rides along unused in the tuple
    val raw = graft.sources.Events.normalizeTs(fileStream(spark, eventsPath))
      .select(col("user_id").cast("long").as("user_id"),
        unix_micros(col("ts")).as("us"), col("ts").as("event_ts"))
      .withWatermark("event_ts", "0 seconds")
      .as[(Long, Long, java.sql.Timestamp)]
    val sessions = raw.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, java.sql.Timestamp)],
            state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionRow(user, s.start_us, s.last_us, s.n))
          } else {
            // sort within the batch: micro-batch iterators carry no order guarantee
            val ts = rows.map(_._2).toArray.sorted
            val closed = Seq.newBuilder[SessionRow]
            var open = state.getOption
            ts.foreach { t =>
              open match {
                case Some(s) if t - s.last_us <= gapUs =>
                  open = Some(OpenSession(s.start_us, t, s.n + 1))
                case Some(s) =>
                  closed += SessionRow(user, s.start_us, s.last_us, s.n)
                  open = Some(OpenSession(t, t, 1))
                case None =>
                  open = Some(OpenSession(t, t, 1))
              }
            }
            open.foreach { s =>
              state.update(s)
              // timeouts are MILLISECOND-granular: floor(last/1000) + gap_ms. The
              // oracle reproduces exactly this quantization — a µs-precise deadline
              // in the same ms as the watermark would otherwise disagree.
              state.setTimeoutTimestamp(s.last_us / 1000L + gapSeconds * 1000L)
            }
            closed.result().iterator
          }
      }
    driveToMemory(sessions.toDF(), "append", "stream_sessions", statePartitions = heavyState(spark, eventsPath))
  }

  case class UserTotal(user_id: Long, n_events: Long, value_sum: Double)

  /** Custom streaming state via `mapGroupsWithState`: per-user running totals held in
    * `GroupState` across micro-batches (the building block for sessionization /
    * per-entity accumulators). Drives the stream to completion and returns the final
    * per-user totals — equal to the batch aggregate, which is the correctness oracle.
    */
  def statefulUserTotals(spark: SparkSession, eventsPath: String): DataFrame = {
    import spark.implicits._
    val raw = fileStream(spark, eventsPath)
      .select(col("user_id").cast("long").as("user_id"),
        col("value").cast("double").as("value"))
      .as[(Long, Double)]
    val totals = raw
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[UserTotal]) =>
          val prev = state.getOption.getOrElse(UserTotal(user, 0L, 0.0))
          val next = rows.foldLeft(prev) { case (acc, (_, v)) =>
            UserTotal(user, acc.n_events + 1, acc.value_sum + v)
          }
          state.update(next)
          next
      }
    // keep the last update per user (a single-batch file source emits one each)
    driveToMemory(totals.toDF(), "update", "stream_state", statePartitions = heavyState(spark, eventsPath))
      .groupBy("user_id")
      .agg(max("n_events").as("n_events"), max("value_sum").as("value_sum"))
      .select(col("user_id"), col("n_events"),
        round(col("value_sum"), 4).as("value_sum"))
  }

  /** [[statefulUserTotals]] on Spark 4's ARBITRARY-STATE API (`transformWithState`
    * + `StatefulProcessor`, SPARK-46815) — the successor to mapGroupsWithState:
    * explicit NAMED state variables (one no-TTL ValueState per user here —
    * deterministic), timer support, and a RocksDB-backed state store (set for this
    * query, restored after — transformWithState requires the RocksDB provider).
    * Output and oracle are identical to the mapGroupsWithState sibling, so the two
    * state APIs pin each other.
    */
  def statefulUserTotalsTws(spark: SparkSession, eventsPath: String): DataFrame = {
    import spark.implicits._
    graft.util.Sessions.withConf(spark, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val raw = fileStream(spark, eventsPath)
        .select(col("user_id").cast("long").as("user_id"),
          col("value").cast("double").as("value"))
        .as[(Long, Double)]
      val totals = raw
        .groupByKey(_._1)
        .transformWithState(new RunningTotalsProcessor(),
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update())
      driveToMemory(totals.toDF(), "update", "stream_tws", statePartitions = heavyState(spark, eventsPath))
        .groupBy("user_id")
        .agg(max("n_events").as("n_events"), max("value_sum").as("value_sum"))
        .select(col("user_id"), col("n_events"),
          round(col("value_sum"), 4).as("value_sum"))
    }
  }

  /** Streaming HLL distinct estimation: maintain the per-(lang, bucket) register
    * table over the ingest stream with a streaming max-aggregation, then finish with
    * the batch estimator. Running max is monotone, so the streaming state lands on
    * EXACTLY the batch register table ([[graft.metrics.Sketches.hllRegisters]])
    * whatever the micro-batch arrival order — the spec pins the equivalence and the
    * DuckDB oracle replays the registers directly.
    *
    * State contract on a real unbounded stream: the register table is BOUNDED
    * (|groups|·1024 rows, one int each) and never needs eviction — this is the
    * sketch's whole point, cardinality tracking with O(m) state where exact distinct
    * would hold the full key set.
    */
  def streamingHllDistinct(spark: SparkSession, docsPath: String): DataFrame = {
    import graft.metrics.Sketches
    val proj = Sketches.hllProject(
      fileStream(spark, docsPath)
        .select(col("lang"), explode(graft.textops.TextOps.tokens(col("text"))).as("tok")),
      Seq("lang"), col("tok"))
    val regs = proj.groupBy(col("lang"), col("bucket")).agg(max(col("rho")).as("rho"))
    // update mode: each micro-batch emits the groups it changed; the LAST update per
    // (lang, bucket) is the running max. State partitions: register space is tiny.
    val finalRegs = driveToMemory(regs, "update", "stream_hll", statePartitions = lightState(spark, docsPath))
      .groupBy("lang", "bucket").agg(max(col("rho")).cast("int").as("register"))
    Sketches.hllEstimate(finalRegs, Seq("lang"))
  }

  /** Streaming quantile-sketch maintenance: the slot-minimum sample
    * ([[graft.metrics.Sketches.qsketch]]) under a streaming MIN aggregation —
    * min-only state is monotone (the `streamingHllDistinct` pattern), so the
    * stream lands on exactly the batch sketch whatever the micro-batch split.
    * State is bounded at |groups|·1024 slots regardless of feed volume. Returns
    * per-language doc-length quantile estimates from the final sketch.
    */
  def streamingQuantileSketch(spark: SparkSession, docsPath: String): DataFrame = {
    import graft.metrics.Sketches
    val proj = Sketches.qsketchProject(
      fileStream(spark, docsPath).select(col("lang"), col("doc_id"), col("n_chars")),
      Seq("lang"), col("n_chars"), col("doc_id"))
    val mins = proj.groupBy(col("lang"), col("slot"))
      .agg(min(struct(col("h"), col("v"))).as("m"))
    // update mode: the LAST emission per (lang, slot) is the running min; a final
    // min over all emissions recovers it without ordering assumptions
    val sketch = driveToMemory(mins, "update", "stream_qsketch", statePartitions = lightState(spark, docsPath))
      .groupBy("lang", "slot").agg(min(col("m")).as("m"))
      .select(col("lang"), col("slot"), col("m.h").as("h"), col("m.v").as("v"))
    Sketches.qsketchQuantiles(sketch, Seq("lang"),
      Seq("p10" -> 0.1, "p50" -> 0.5, "p90" -> 0.9))
  }

  /** Streaming count-min maintenance: a streaming SUM over the per-occurrence
    * (row_j, bucket) projection holds exactly the depth×width cell table the batch
    * build produces from pre-combined counts (sum is linear) — bounded state
    * (2048 cells at 4×512) whatever the stream volume. Returns the final cell
    * table; probe it with [[graft.metrics.Sketches.cmsEstimate]].
    */
  /** Streaming evaluation-state maintenance for a live quality gate: per
    * 3dp-ROUNDED-score bin, running (n, n_pos) counts under one streaming
    * aggregation — AUC (midranks), Brier, and calibration are all closed forms
    * over this table (`Evaluation.rocAucFromCounts`), so the monitor's state is
    * ≤ 1001 bins whatever the feed volume, and the metric never revisits the
    * stream. Counts only grow, so in update mode the last emission per bin is the
    * final value. `score`/`label` must be row-local column functions of the feed.
    */
  def streamingAucBins(
      spark: SparkSession,
      docsPath: String,
      score: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      label: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame = {
    val scored = fileStream(spark, docsPath).select(
      round(score(col("text")), 3).as("s"),
      label(col("text")).cast("long").as("y"))
    val bins = scored.groupBy("s")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
    driveToMemory(bins, "update", "stream_auc", statePartitions = lightState(spark, docsPath))
      .groupBy("s").agg(max(col("n")).as("n"), max(col("n_pos")).as("n_pos"))
  }

  /** Streaming drift-alarm state: running decile-bin counts of a row-local score
    * over the (optionally `prep`-transformed) feed — `Evaluation.psiFromBins`
    * compares this ≤`nBins`-row table against a static baseline for a live PSI
    * alarm without revisiting the stream. Counts only grow; update mode's last
    * emission per bin is the final count.
    */
  def streamingScoreDecileBins(
      spark: SparkSession,
      docsPath: String,
      prep: DataFrame => DataFrame,
      score: org.apache.spark.sql.Column,
      nBins: Int = 10): DataFrame = {
    val src = prep(fileStream(spark, docsPath))
    val bins = src
      .select(least(floor(score * nBins), lit(nBins - 1.0)).cast("int").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
    driveToMemory(bins, "update", "stream_psi", statePartitions = lightState(spark, docsPath))
      .groupBy("bin").agg(max(col("n")).as("n"))
  }

  def streamingCmsCells(spark: SparkSession, docsPath: String,
      depth: Int, width: Int): DataFrame = {
    import graft.metrics.Sketches
    val toks = fileStream(spark, docsPath)
      .select(explode(graft.textops.TextOps.tokens(col("text"))).as("tok"))
    val cells = Sketches.cmsProject(toks, "tok", depth, width)
      .groupBy("row_j", "bucket").agg(count(lit(1)).as("cell"))
    // running sum is monotone here (counts only grow): last update = final cell
    driveToMemory(cells, "update", "stream_cms", statePartitions = lightState(spark, docsPath))
      .groupBy("row_j", "bucket").agg(max(col("cell")).as("cell"))
  }
}

/** Per-user running-totals processor for [[StreamOps.statefulUserTotalsTws]]: one
  * named ValueState holding the latest [[StreamOps.UserTotal]]; every micro-batch
  * folds its rows into the stored total and emits the update (Update output mode).
  * No TTL, no timers — state is bounded by #users and the fold is arrival-order
  * deterministic under the single-file-per-trigger source.
  */
class RunningTotalsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Double), StreamOps.UserTotal] {

  @transient private var totals: org.apache.spark.sql.streaming.ValueState[StreamOps.UserTotal] = _

  override def init(
      outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    totals = getHandle.getValueState[StreamOps.UserTotal]("totals",
      org.apache.spark.sql.Encoders.product[StreamOps.UserTotal],
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(
      user: Long,
      rows: Iterator[(Long, Double)],
      timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[StreamOps.UserTotal] = {
    val prev = if (totals.exists()) totals.get() else StreamOps.UserTotal(user, 0L, 0.0)
    val next = rows.foldLeft(prev) { case (acc, (_, v)) =>
      StreamOps.UserTotal(user, acc.n_events + 1, acc.value_sum + v)
    }
    totals.update(next)
    Iterator.single(next)
  }
}
