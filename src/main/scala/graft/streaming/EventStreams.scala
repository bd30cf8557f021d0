package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, StreamingQueryException}
import org.apache.spark.sql.types._

import graft.core.Scratch

/** Structured Streaming over the events table (SURVEY.md §2b
  * streaming row — an engine capability the reference lacks).
  *
  * The batch and streaming versions of the hourly aggregation share
  * semantics: `window(ts, "1 hour")` on the stream ≡
  * `date_trunc('hour', ts)` in batch, so the streaming result is
  * oracle-checkable against the same DuckDB SQL.
  *
  * Scale posture: watermark + windowed aggregation is incremental
  * state (per open window per key), not a full-table hold;
  * flatMapGroupsWithState keeps one session struct per active user.
  *
  * Every query here runs over a bounded source through one scaffold:
  * [[fileStream]] reads a directory one file per micro-batch, [[run]]
  * starts, drains and stops the query, and files a query writes and
  * reads back go to a fresh [[graft.core.Scratch.runDir]].
  */
object EventStreams {

  /** Raw parquet schema of an events directory/file, read from the
    * footer (a streaming source needs an explicit schema). Derived
    * rather than hardcoded because the driver fixture's `ts` physical
    * type has changed across generations — TIMESTAMP(NANOS)-as-long
    * vs timestamp[us] — and [[graft.core.Tables.normalizeEventTs]]
    * absorbs either after the scan. */
  def rawEventsSchema(spark: SparkSession, path: String): StructType =
    spark.read.parquet(path).schema

  /** Stage `dir/file` as a symlink in a directory for the file-stream
    * source, which requires a DIRECTORY (the single-file test fixture
    * is staged; production sources are directories already). The
    * directory is a per-JVM scratch artifact of `kind`
    * ([[graft.core.Scratch.buildOnce]]): keyed by the full source path
    * under an injective encoding, in a pid-scoped root that is removed
    * on exit, so two fixture dirs or two concurrent runs never share a
    * link. */
  private def stageFile(kind: String, dir: String, file: String): String =
    Scratch.buildOnce(kind, dir) { out =>
      import java.nio.file.{Files, Paths}
      val staged = Files.createDirectories(Paths.get(out))
      Files.createSymbolicLink(staged.resolve(file), Paths.get(s"$dir/$file").toAbsolutePath)
    }

  /** The events parquet as a bounded stream (drives the streaming
    * operators synchronously in tests/verify). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val staged = stageFile("stream_events", dir, "events.parquet")
    graft.core.Tables.normalizeEventTs(
      fileStream(spark, rawEventsSchema(spark, staged), staged))
  }

  /** The parquet files in `path` as a stream of one file per
    * micro-batch, so a source of `parts` files runs `parts` batches. */
  private[graft] def fileStream(spark: SparkSession, schema: StructType,
                                path: String): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)

  /** Split fixture file `dir/file`, restricted to `keep`, into `parts`
    * parquet files for [[fileStream]]. Built once per (kind, dir,
    * parts) per JVM in the pid-scoped scratch root
    * ([[graft.core.Scratch.buildOnce]]), so two fixture dirs or two
    * JVMs never share the split files. */
  private def stageSplits(spark: SparkSession, kind: String, dir: String,
                          file: String, keep: Column, parts: Int): String =
    Scratch.buildOnce(s"${kind}_$parts", dir) { out =>
      spark.read.parquet(s"$dir/$file").where(keep)
        .repartition(parts)
        .write.mode("overwrite").parquet(out)
    }

  /** Raw parquet schema of documents (for the streaming-scoring
    * pipeline). */
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** The documents parquet as a bounded stream (same staging as
    * [[eventsStream]]). */
  def documentsStream(spark: SparkSession, dir: String): DataFrame =
    fileStream(spark, DocSchema, stageFile("stream_docs", dir, "documents.parquet"))

  /** STREAMING model scoring: the Scorers mapPartitions operator (one
    * backend init per partition) applied to an unbounded document
    * stream, aggregated per source. This is the "score documents as
    * they arrive" deployment of the inference seam — the SAME
    * `withModelScores` operator as batch (narrow deterministic map,
    * so Structured Streaming runs it incrementally), with a stateful
    * grouped aggregation on top. Exactly-rounded per-row scores are
    * summed through DECIMAL so the batch oracle replays the totals
    * digit-for-digit. */
  def streamingProxyScores(spark: SparkSession, dir: String,
                           make: () => graft.operators.Scorers.ModelBackend)
      : DataFrame = {
    val scored = graft.operators.Scorers.withModelScores(
      documentsStream(spark, dir).select(col("doc_id"), col("source"), col("text")),
      "text", make)
    val agg = scored
      .select(col("source"), round(col("ppl_ins_alone"), 6).as("ppl"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("ppl").cast(DecimalType(30, 10))), 4).cast("double")
          .as("ppl_total"))
    runToCompletion(spark, agg, OutputMode.Complete)
  }

  /** Tumbling 1-hour windowed aggregation with a 2-hour watermark. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast(DecimalType(30, 4))), 2).cast("double")
          .as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("total_value"))

  /** STREAM–STATIC enrichment: the arriving event stream joined
    * against a batch dimension (per-user first-seen cohort day,
    * computed once from the at-rest table) before a stateful
    * aggregation. The static side is broadcast — every micro-batch
    * enriches map-side with zero stream-side shuffle for the join,
    * the deployment shape for joining a 100 TB/day stream against a
    * user/account dimension. The batch oracle replays join + group
    * over the same rows, so the gate proves the enrichment is
    * value-identical to at-rest execution. */
  def streamingEnriched(spark: SparkSession, dir: String): DataFrame = {
    val dim = graft.core.Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(to_date(min(col("ts"))).as("cohort_day"))
    val agg = eventsStream(spark, dir)
      .join(broadcast(dim), "user_id")
      .groupBy(col("cohort_day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast(DecimalType(30, 4))), 2).cast("double")
          .as("total_value"))
    runToCompletion(spark, agg, OutputMode.Complete)
  }

  /** Stateful operators create one state store instance per shuffle
    * partition and checkpoint each per batch; at test scale that
    * fixed cost dominates, so streaming queries run with a smaller
    * state parallelism (the partition count is pinned per query at
    * its first batch; [[run]] restores the conf once the query has
    * stopped). A real deployment sizes this to keys÷memory, not
    * cores. */
  def withStreamParallelism[T](spark: SparkSession, n: Int)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try f finally spark.conf.set(key, old)
  }

  /** Run `f` with the given state-store provider (e.g. the RocksDB
    * provider, `org.apache.spark.sql.execution.streaming.state.
    * RocksDBStateStoreProvider`) pinned for queries started inside.
    * The provider is a per-query-start setting; at 100 TB state
    * (large dedup/session maps) RocksDB keeps state off-heap and
    * spillable where the default HDFS-backed in-memory provider
    * would OOM the executor. */
  def withStateStoreProvider[T](spark: SparkSession, provider: String)(f: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, provider)
    try f finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  val RocksDBProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Start `writer`'s query with a stream parallelism of 4, run it
    * over everything its bounded source holds, and stop it — also when
    * a batch throws, which `processAllAvailable` rethrows as a
    * [[StreamingQueryException]]. Returns the stopped query, whose
    * `recentProgress` stays readable. The only place a query starts. */
  private[graft] def run(spark: SparkSession,
                         writer: DataStreamWriter[_]): StreamingQuery =
    withStreamParallelism(spark, 4) {
      val q = writer.start()
      try q.processAllAvailable()
      finally q.stop()
      q
    }

  /** Run a streaming query to completion over the bounded source in
    * output `mode` and return what it emitted as a batch DataFrame
    * (a memory sink under a fresh name). */
  def runToCompletion(spark: SparkSession, query: DataFrame,
                      mode: OutputMode): DataFrame = {
    val name = Scratch.freshName("stream")
    run(spark, query.writeStream.outputMode(mode).format("memory").queryName(name))
    spark.table(name)
  }

  /** The full streaming hourly pipeline, batch-oracle-comparable. */
  def streamingHourly(spark: SparkSession, dir: String): DataFrame =
    runToCompletion(spark, hourlyAgg(eventsStream(spark, dir)), OutputMode.Complete)

  /** STREAMING distinct-count sketch: the KMV aggregate
    * ([[graft.operators.KmvAgg]] — buffer = the ≤k-value sketch, a
    * commutative monoid) maintained incrementally over the event
    * stream. Each microbatch partial-aggregates map-side, then folds
    * into the single k-long buffer in the state store — bounded state
    * for an unbounded distinct-count question, the streaming shape of
    * the `q_kmv_merge` algebra (a microbatch IS a shard; absorbing it
    * is the same k-sized merge). Because the sketch is deterministic
    * and merge-order-free, the streamed result equals the batch
    * replay BIT-FOR-BIT — gated by the same DuckDB oracle as the
    * batch sketch, estimate arithmetic included. */
  def streamingKmv(spark: SparkSession, dir: String, k: Int): DataFrame = {
    import graft.operators.Sketches
    val hv = eventsStream(spark, dir)
      .select(Sketches.kmvHash(col("user_id")).as("hv"))
    val agg = hv.agg(Sketches.kmvAggCol(col("hv"), k).as("sketch"))
    runToCompletion(spark, agg, OutputMode.Complete)
      .select(Sketches.kmvEstimateFromBuffer(col("sketch"), k): _*)
  }

  /** STREAMING drift monitor — the real-time shape of
    * [[graft.operators.Drift]]: a static day-0 baseline (the
    * event-type distribution of the at-rest table, alphabet-sized and
    * broadcast) against per-hour streamed distributions, reported as
    * smoothed KL divergence per hour. The STREAM side is exactly the
    * tumbling-window grouped count (bounded state: open windows ×
    * alphabet); all divergence arithmetic runs AFTER the stream
    * completes, over the tiny (hours × types) result — so state never
    * holds a float, and the oracle replays stream + math from the
    * same at-rest rows.
    *
    * Determinism: the [[graft.operators.Drift]] recipe — exact counts,
    * one 6-dp-rounded ln per (hour, type) cell, Σ(c+1)·w in DECIMAL,
    * one closing double division per hour. The smoothing alphabet is
    * the OBSERVED type set (every type appears corpus-wide by
    * construction of the baseline). */
  def streamingDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val sunk = runToCompletion(spark,
      eventsStream(spark, dir)
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("c"))
        .select(col("window.start").as("hour"), col("event_type"), col("c")),
      OutputMode.Complete)
    // the memory-sink View (MemoryPlan) is not multi-instance: joining
    // an aggregate of it back against it fails attribute dedup. Rebase
    // onto an RDD-backed plan (distributed, no driver materialization)
    // which DeduplicateRelations can re-instance.
    val streamed = spark.createDataFrame(sunk.rdd, sunk.schema)
    // day-0 baseline from the at-rest table: per-type counts + totals
    val base = graft.core.Tables.events(spark, dir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("cq"))
    val tot = base.agg(sum(col("cq")).as("t_all"),
      count(lit(1)).as("n_a"))
    // complete (hour × alphabet) grid: an hour missing a type still
    // contributes that type's smoothed mass
    val hours = streamed.groupBy(col("hour")).agg(sum(col("c")).as("t_grp"))
    val grid = hours
      .crossJoin(broadcast(base))
      .join(streamed, Seq("hour", "event_type"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .crossJoin(broadcast(tot))
    val p = (col("c") + lit(1.0)) / (col("t_grp") + col("n_a")).cast("double")
    val q = (col("cq") + lit(1.0)) / (col("t_all") + col("n_a")).cast("double")
    val w = round(log(p / q), 6).cast(DecimalType(18, 6))
    grid.select(col("hour"), col("t_grp"), col("n_a"),
        ((col("c") + lit(1L)).cast(DecimalType(20, 0)) * w).as("term"))
      .groupBy(col("hour"))
      .agg(max(col("t_grp")).cast("long").as("n_events"),
        floor(sum(col("term")).cast("double") /
          (max(col("t_grp")) + max(col("n_a"))).cast("double") * lit(1e9))
          .cast("long").as("kl_e9"))
  }

  /** Hopping (sliding) 1-hour window advancing every 30 minutes —
    * each event lands in two overlapping windows; state is two open
    * windows per key instead of one. */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast(DecimalType(30, 4))), 2).cast("double")
          .as("total_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total_value"))

  /** The full streaming sliding-window pipeline, batch-oracle-
    * comparable (every window start is a 30-minute grid point). */
  def streamingSliding(spark: SparkSession, dir: String): DataFrame =
    runToCompletion(spark, slidingAgg(eventsStream(spark, dir)), OutputMode.Complete)

  /** Built-in merging session windows on the stream (the declarative
    * alternative to flatMapGroupsWithState sessionize): state is one
    * open session per user, merged/evicted by the engine. Same output
    * shape and oracle as the batch `q_session_window`. */
  def streamingSessionWindow(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_trunc("second", col("sw.start")).as("sess_start"),
        date_trunc("second", col("sw.end")).as("sess_end"),
        col("n_events"))
    runToCompletion(spark, agg, OutputMode.Complete)
  }

  /** Streaming exact deduplication: dropDuplicates on a semantic key
    * (user, hour, type) with a watermark bounding the dedup state,
    * then a per-type count — the streaming twin of
    * `SELECT DISTINCT … GROUP BY`. */
  def streamingDedupCounts(spark: SparkSession, dir: String): DataFrame = {
    val deduped = eventsStream(spark, dir)
      .withWatermark("ts", "2 hours")
      .select(col("user_id"), date_trunc("hour", col("ts")).as("hour"),
        col("event_type"), col("ts"))
      .dropDuplicates("user_id", "hour", "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_distinct"))
    runToCompletion(spark, deduped, OutputMode.Complete)
  }

  /** Per-shuffle-partition census of a streaming dedup's STATE,
    * read back through Spark's state data source after the query
    * completes: runs the watermarked dropDuplicates over the event
    * stream with an explicit checkpoint, then loads the checkpoint's
    * state and returns (partition_id, n_keys).
    *
    * Why this exists: streaming state is hash-partitioned by key
    * across `spark.sql.shuffle.partitions` exactly like any shuffle,
    * and on a cluster those partitions live on DIFFERENT executors —
    * so per-executor state is ~1/N of the total no matter how the
    * corpus grows. The sf100 recovery ladder's super-linear curve is
    * the single-JVM inverse of this (all N RocksDB instances compact
    * in one process); this census is the measurement that backs the
    * "bounded per-executor state" claim with numbers local mode can
    * actually produce (StreamingSpec asserts max ≈ total/N). */
  def dedupStatePartitionCensus(spark: SparkSession, dir: String): DataFrame = {
    val ckpt = s"${Scratch.runDir("state_census")}/ckpt"
    run(spark, eventsStream(spark, dir)
      .withWatermark("ts", "2 hours")
      .select(col("user_id"), date_trunc("hour", col("ts")).as("hour"),
        col("event_type"), col("ts"))
      .dropDuplicates("user_id", "hour", "event_type")
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt)
      .format("noop"))
    spark.read.format("statestore").load(ckpt)
      .groupBy(col("partition_id"))
      .agg(count(lit(1)).as("n_keys"))
  }

  /** Stream–stream inner join: clicks joined to the same user's
    * purchases within [0, 1 h] after the click. Both sides carry
    * watermarks and the join condition bounds event-time distance, so
    * state is evictable — the canonical watermarked interval join. */
  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val base = eventsStream(spark, dir)
    val clicks = base
      .where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val buys = base
      .where(col("event_type") === "purchase")
      .select(col("event_id").as("buy_id"), col("user_id").as("buy_user"),
        col("ts").as("buy_ts"))
      .withWatermark("buy_ts", "2 hours")
    val joined = clicks.join(buys,
      col("user_id") === col("buy_user") &&
        col("buy_ts") >= col("click_ts") &&
        col("buy_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
    runToCompletion(spark, joined, OutputMode.Append)
  }

  // -------------------------------------------------- crash recovery
  /** The events fixture split into `parts` files, so the file-stream
    * source runs `parts` micro-batches. */
  private def eventSplits(spark: SparkSession, dir: String, parts: Int): String =
    stageSplits(spark, "stream_splits", dir, "events.parquet", lit(true), parts)

  /** STREAMING incremental view maintenance — the streaming half of
    * the [[graft.operators.Merge.additiveMerge]] contract: each
    * micro-batch's rollup is absorbed into a GENERATION-per-batch
    * store, `gen k = additiveMerge(gen k−1 ∪ rollup(batch k))`.
    * Generation keying is what makes the sink exactly-once: a
    * replayed batch recomputes deterministically from gen k−1 (which
    * a crash cannot have touched) and OVERWRITES its own generation —
    * the same idempotency contract as [[crashRecoveryDedup]]'s
    * batchId-keyed sink and the signature store's `absorb`. The
    * maintained view equals the batch rollup over all events (the
    * oracle), proving a stream can maintain a 100 TB daily rollup
    * without ever re-scanning history. */
  def streamingRollup(spark: SparkSession, dir: String,
                      parts: Int = 4): DataFrame = {
    val splits = eventSplits(spark, dir, parts)
    // a fresh run dir per call: a fixture-keyed path would let two runs
    // read and overwrite each other's generations mid-stream
    val root = Scratch.runDir("stream_rollup")
    def rollup(df: DataFrame): DataFrame =
      graft.core.Tables.normalizeEventTs(df)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(30, 4))).as("value_sum"))
    @volatile var lastGen = -1L
    run(spark, fileStream(spark, rawEventsSchema(spark, splits), splits)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val b = rollup(batch)
        val merged =
          if (id == 0) b
          else graft.operators.Merge.additiveMerge(
            spark.read.parquet(s"$root/gen=${id - 1}").unionByName(b),
            Seq("event_type", "day"), Seq("n", "value_sum"))
        merged.write.mode("overwrite").parquet(s"$root/gen=$id")
        lastGen = math.max(lastGen, id)
      })
    require(lastGen >= 0, "streamingRollup: no batch ran")
    // Superseded generations are dead once the stream finishes — only
    // gen=lastGen backs the returned (lazy) frame, so the rest can go
    // now; the final generation goes with the scratch root.
    (0L until lastGen).foreach(g =>
      Scratch.deleteTree(java.nio.file.Paths.get(s"$root/gen=$g")))
    spark.read.parquet(s"$root/gen=$lastGen")
      .select(col("event_type"), col("day"), col("n"),
        round(col("value_sum"), 2).cast("double").as("total_value"))
  }

  /** CRASH-RECOVERY evidence for stateful streaming: a streaming
    * exact-dedup (`dropDuplicates` state) over a multi-file source is
    * KILLED mid-run by an injected failure thrown in `foreachBatch`
    * AFTER the batch's sink write but BEFORE Spark commits the batch —
    * the exact window where a non-idempotent sink would double-write —
    * then restarted from the same checkpoint and run to completion.
    *
    * Exactly-once mechanics this proves end to end:
    *  - the file source's offset WAL makes the restart replay the
    *    in-flight batch with the SAME batchId and the same files;
    *  - the state store recovers the dedup state committed through the
    *    last successful batch, so replayed rows that were already
    *    emitted before the crash are still recognized as duplicates;
    *  - the `foreachBatch` sink writes each batch to a
    *    batchId-keyed directory with `overwrite` — the standard
    *    idempotent-sink contract — so the replayed batch overwrites
    *    its own partial output instead of appending a duplicate.
    * The recovered union therefore equals the uninterrupted run AND
    * the batch `SELECT DISTINCT` — gated oracle-exact
    * (`q_stream_recovery`), which the reference's artifact-reload
    * resumability (reference `main.py:312-314`) never demonstrates
    * for streaming state.
    *
    * Scale posture: checkpoint + WAL + idempotent batchId-keyed sink
    * is precisely the production recovery contract; state is
    * per-distinct-key (watermarked in a real deployment — omitted here
    * so the bounded fixture's full distinct set survives restart,
    * which is the property under test). */
  def crashRecoveryDedup(spark: SparkSession, dir: String, parts: Int = 4,
                         crashAfterBatch: Long = 1): DataFrame = {
    require(crashAfterBatch < parts,
      s"crash batch $crashAfterBatch must exist among $parts file-batches")
    val splits = eventSplits(spark, dir, parts)
    val base = Scratch.runDir("stream_recovery")
    val ckpt = s"$base/ckpt"
    val out = s"$base/out"
    // armed exactly once: the first pass dies at `crashAfterBatch`,
    // the restarted pass sails through
    val crashArmed = new java.util.concurrent.atomic.AtomicBoolean(true)

    def dedup() = run(spark, graft.core.Tables.normalizeEventTs(
        fileStream(spark, rawEventsSchema(spark, splits), splits))
      .select(col("user_id"), date_trunc("hour", col("ts")).as("hour"),
        col("event_type"))
      .dropDuplicates("user_id", "hour", "event_type")
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.write.mode("overwrite").parquet(s"$out/b=$id")
        if (id >= crashAfterBatch && crashArmed.getAndSet(false))
          throw new RuntimeException(
            s"injected crash after sink write of batch $id, before commit")
      })

    try dedup() // the armed crash terminates this run
    catch { case _: StreamingQueryException => () }
    require(!crashArmed.get, "injected crash never fired — nothing was recovered")
    dedup() // same checkpoint: replays the uncommitted batch, then finishes

    spark.read.parquet(out)
      .select(col("user_id"), col("hour"), col("event_type"))
  }

  /** The DELTA documents (doc_id % 10 = 0 — the same delta the
    * incremental-dedup family keys on) split into `parts` files. */
  private def docDeltaSplits(spark: SparkSession, dir: String, parts: Int): String =
    stageSplits(spark, "stream_docdelta", dir, "documents.parquet",
      col("doc_id") % 10 === 0, parts)

  private val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))


  /** STREAMING ANN INGEST — the persisted IVF index's day-2 absorb
    * ([[graft.operators.Similarity.IvfStore.absorb]]) deployed as a
    * micro-batch stream: new vectors arrive chopped into
    * micro-batches (one staged file per trigger) and EACH batch
    * absorbs into a new index generation by exact decimal
    * centroid-NUMERATOR addition. Numerator merge is plain addition —
    * associative and commutative — so a CHAIN of per-batch absorbs is
    * bit-identical to one absorb of the whole delta, which is
    * bit-identical to a from-scratch build over corpus ∪ delta: the
    * final index, its centroid state, and any probe served from it
    * are INVARIANT to how the stream is chopped (StreamingSpec
    * asserts parts=1 ≡ parts=3 ≡ the one-shot absorb, centroid state
    * included). That invariance is what lets the SAME batch SQL
    * oracle (`q_embed_ivf`'s) gate a streaming execution exactly —
    * the same digest-keyed-invariance discipline as
    * [[streamingCurateFeed]], realized here by algebra instead of
    * keying.
    *
    * Scale posture: per-batch centroid work is nlist×dim decimal
    * rows read + added + rewritten (the index's metadata, not the
    * corpus); the per-batch vectors rewrite is the small-fixture
    * absorb contract — at scale the cell-partitioned table appends
    * the batch's cells in place (see [[graft.operators.Similarity.IvfStore.absorb]]).
    *
    * RETENTION: each absorb VACUUMS the generation it superseded as
    * soon as the successor materializes (absorb's writes are actions,
    * so generation g+1 is fully on disk before g is reclaimed — at
    * most 2 generations coexist, and the stream ends with exactly
    * one). A prior run's surviving final generation is vacuumed when
    * the next run starts, so repeated invocations (min-of-5 bench,
    * ladder rungs) hold disk at one index copy instead of
    * runs×(parts+1). The returned probe frame reads the final
    * generation — materialize it before starting another ingest.
    * The start-of-run sweep reclaims EVERY stale `stream_ivf_*`
    * generation under the store root (not just this JVM's — min-of-5
    * bench, correctness gate, and ladder rungs run in separate
    * processes); safe because these fresh run-scoped tags are owned
    * exclusively by this operator. */
  def streamingIvfIngest(spark: SparkSession, dir: String,
                         parts: Int = 3): DataFrame = {
    import graft.operators.Similarity
    val root = java.nio.file.Paths.get(Similarity.IvfStore.root)
    if (java.nio.file.Files.isDirectory(root)) {
      val ls = java.nio.file.Files.list(root)
      try ls.forEach { p =>
        val name = p.getFileName.toString
        if (name.startsWith("ivf_store_stream_ivf_"))
          Similarity.IvfStore.vacuum(spark, name.stripPrefix("ivf_store_"))
      } finally ls.close()
    }
    val embs = graft.core.Tables.embeddings(spark, dir)
    val day0 = embs.where(col("vec_id") % 7 =!= 3)
    val genTag = Scratch.freshName("stream_ivf") + "_g"
    // The day-0 index is the SETUP artifact the stream ingests into —
    // built once per corpus per JVM (`once`, the same convention
    // the batch day-2 twin `q_embed_ivf_day2` and the signature-store
    // family already use); the measured work is the absorb CHAIN,
    // which runs in full on every invocation. The tag sits outside
    // the `stream_ivf_` sweep prefix so run-start reclamation of
    // stale run-scoped generations never deletes the shared base.
    val day0Tag = graft.core.Store.tag("annd0", dir)
    Similarity.IvfStore.once(day0Tag) {
      Similarity.IvfStore.write(spark, day0, "vec_id", "embedding", "label",
        day0Tag)
    }
    def tagOf(g: Int): String = if (g == 0) day0Tag else genTag + g
    // the delta embeddings (vec_id % 7 = 3), one file per batch
    val staged = stageSplits(spark, "stream_vecdelta", dir,
      "embeddings.parquet", col("vec_id") % 7 === 3, parts)
    val gen = new java.util.concurrent.atomic.AtomicInteger(0)
    run(spark, fileStream(spark, VecSchema, staged)
      .writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val g = gen.getAndIncrement()
          Similarity.IvfStore.absorb(spark, tagOf(g), tagOf(g + 1),
            batch.select(col("vec_id"), col("embedding"), col("label")),
            "vec_id", "embedding", "label")
          // g+1 is fully materialized (absorb's writes are actions);
          // reclaim the run-scoped generation it superseded — never
          // the shared day-0 base.
          if (g > 0) Similarity.IvfStore.vacuum(spark, tagOf(g))
        }
      })
    val queries = graft.core.Tables.embeddings(spark, dir)
      .where(col("vec_id") < 5)
    Similarity.ivfTopKFromStore(spark, queries, tagOf(gen.get()),
      "vec_id", "vec_id", "embedding", "label", probes = 2, k = 10)
  }

  /** STREAM-VS-STORE dedup probe — the ingestion-time deployment of
    * the persisted signature store: documents arrive as micro-batches
    * (one staged file per trigger) and each batch is LSH-probed
    * against the corpus' bucketed on-disk signature tables
    * ([[graft.operators.Dedup.SignatureStore]], persisted by the
    * caller), emitting verified near-dup (new doc, corpus doc) pairs
    * as they arrive. Only STREAM×STORE pairs are emitted —
    * batch-internal delta pairs are the batch path's job
    * (`incrementalNearDupPairsFromStore`) — which makes the result
    * INVARIANT to how the stream is chopped into batches; that
    * invariance is what lets one batch SQL oracle gate a streaming
    * execution exactly.
    *
    * Scale posture: the store is never recomputed and never shuffled
    * (each batch runs the same store-side-Exchange-free probe plan
    * DedupSpec asserts for the batch path); per-batch cost is
    * batch-sized. The batchId-keyed `overwrite` sink keeps replays
    * idempotent, so [[crashRecoveryDedup]]'s checkpoint-restart
    * semantics carry over to this pipeline unchanged. */
  def streamingStoreProbe(spark: SparkSession, dir: String, tag: String,
                          n: Int, k: Int, bands: Int,
                          threshold: Double = 0.5,
                          parts: Int = 4): DataFrame = {
    import graft.operators.Dedup
    val staged = docDeltaSplits(spark, dir, parts)
    val out = Scratch.runDir("stream_storeprobe")
    val storeBanded = Dedup.SignatureStore.banded(spark, tag)
    val storeSets = Dedup.SignatureStore.sets(spark, tag)
    run(spark, fileStream(spark, DocSchema, staged)
      .select(col("doc_id"), col("text"))
      .writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val nb = Dedup.bandedSignatures(batch, "doc_id", "text", n, k, bands)
        val cands = Dedup.probeSignatureStore(storeBanded, nb, "doc_id")
          .distinct()
        val sets = storeSets.unionByName(
          Dedup.shingleSets(batch, "doc_id", "text", n))
        // batch-bounded candidates: broadcast the measured-small
        // pair side so the STORE-sized sets frame is scanned, not
        // re-shuffled by id twice per micro-batch
        Dedup.verifiedPairs(cands, sets, "doc_id", threshold)
          .write.mode("overwrite").parquet(s"$out/b=$id")
      })
    spark.read.parquet(out).select("id_a", "id_b", "jaccard")
  }

  /** STREAMING CDC curation feed — `q_curate_incremental`'s delta
    * analysis deployed as a micro-batch stream against the persisted
    * curate state (the [[streamingStoreProbe]] shape): the day's
    * delta documents arrive chopped into micro-batches, and each
    * batch emits two DIGEST-keyed frames to a batchId-keyed sink:
    * (1) its per-family candidates (digest, batch-min doc id, lang
    * and text of that doc) and (2) its verified NEW-family × STORE
    * near-dup pairs as (digest, store rep id). Keying emissions by
    * the content digest — never by a batch-local id — is what makes
    * the union of emissions INVARIANT to how the stream is chopped:
    * family candidates min-merge per digest downstream, and pair
    * rows are text-determined so re-emissions collapse under
    * distinct. Batch-internal (new × new) pairs are deliberately NOT
    * emitted — they are the post-stream assembly's delta-sized job,
    * exactly as [[streamingStoreProbe]] leaves them to the batch
    * path; emitting them per-batch would BREAK invariance (a pair
    * straddling two batches would be missed, one inside a batch
    * found).
    *
    * Scale posture: per-batch work is batch-sized (the store's
    * banded/sets frames are read, never recomputed or shuffled); the
    * batchId-keyed `overwrite` sink keeps replays idempotent, so
    * checkpoint-restart semantics carry over unchanged. */
  def streamingCurateFeed(spark: SparkSession, dir: String,
                          statePath: String, n: Int, k: Int, bands: Int,
                          threshold: Double = 0.5,
                          parts: Int = 4): (DataFrame, DataFrame) = {
    import graft.operators.Dedup
    val staged = docDeltaSplits(spark, dir, parts)
    val out = Scratch.runDir("stream_curate")
    val stateFam = spark.read.parquet(s"$statePath/fam")
    val storeBanded = spark.read.parquet(s"$statePath/banded")
    val storeSets = spark.read.parquet(s"$statePath/sets")
    run(spark, fileStream(spark, DocSchema, staged)
      .select(col("doc_id"), col("text"), col("lang"))
      .writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val bf = batch.groupBy(md5(col("text")).as("digest"))
          .agg(min(col("doc_id")).as("dmin"),
            min_by(col("lang"), col("doc_id")).as("dlang"),
            min_by(col("text"), col("doc_id")).as("dtext"))
          .persist()
        try {
          bf.write.mode("overwrite").parquet(s"$out/fams/b=$id")
          // only digests UNSEEN by the v0 state probe the store —
          // a re-ingested family's pairs are already in the
          // persisted pair set
          val newCand = bf.join(stateFam.select(col("digest")),
            Seq("digest"), "left_anti").persist()
          try {
            val reps = newCand.select(col("dmin").as("doc_id"),
              col("dtext").as("text"))
            val nb = Dedup.bandedSignatures(reps, "doc_id", "text",
              n, k, bands)
            val cands = Dedup.probeSignatureStore(storeBanded, nb,
              "doc_id").distinct()
            val sets = storeSets.unionByName(
              Dedup.shingleSets(reps, "doc_id", "text", n))
            // map the batch-side id back to its digest (delta and
            // store id spaces are disjoint, so exactly one side
            // resolves). Adaptive verification: the candidate set is
            // batch-bounded, so the v0-store-sized sets frame is
            // scanned in place instead of shuffled twice per batch.
            Dedup.verifiedPairs(cands, sets, "doc_id", threshold)
              .join(broadcast(newCand.select(col("dmin").as("id_a"),
                col("digest").as("dg_a"))), Seq("id_a"), "left")
              .join(broadcast(newCand.select(col("dmin").as("id_b"),
                col("digest").as("dg_b"))), Seq("id_b"), "left")
              .select(coalesce(col("dg_a"), col("dg_b")).as("digest"),
                when(col("dg_a").isNotNull, col("id_b"))
                  .otherwise(col("id_a")).as("store_id"))
              .write.mode("overwrite").parquet(s"$out/pairs/b=$id")
          } finally newCand.unpersist()
        } finally bf.unpersist()
      })
    (spark.read.parquet(s"$out/fams")
       .select("digest", "dmin", "dlang", "dtext"),
     spark.read.parquet(s"$out/pairs").select("digest", "store_id"))
  }

  // ------------------------------------------------------- sessionize
  case class Ev(user_id: Long, tsMicros: Long, event_type: String)
  case class SessionState(start: Long, last: Long, n: Int)
  case class UserSession(user_id: Long, session_start: Long,
                         session_end: Long, n_events: Int)

  /** Stateful sessionization: per-user sessions closed after a 30-min
    * inactivity gap (flatMapGroupsWithState with processing-time
    * timeout on the bounded source). */
  def sessionize(spark: SparkSession, dir: String,
                 gapMinutes: Long = 30): DataFrame = {
    import spark.implicits._
    val gapMicros = gapMinutes * 60L * 1000000L
    val evs = eventsStream(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("tsMicros"),
        col("event_type"))
      .as[Ev]

    def fn(userId: Long, events: Iterator[Ev],
           state: GroupState[SessionState]): Iterator[UserSession] = {
      var out = Vector.empty[UserSession]
      var cur = state.getOption
      events.toSeq.sortBy(_.tsMicros).foreach { e =>
        cur match {
          case Some(st) if e.tsMicros - st.last <= gapMicros =>
            cur = Some(st.copy(last = e.tsMicros, n = st.n + 1))
          case Some(st) =>
            out :+= UserSession(userId, st.start, st.last, st.n)
            cur = Some(SessionState(e.tsMicros, e.tsMicros, 1))
          case None =>
            cur = Some(SessionState(e.tsMicros, e.tsMicros, 1))
        }
      }
      cur.foreach(state.update)
      out.iterator
    }

    runToCompletion(spark, evs.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fn).toDF(), OutputMode.Append)
  }

  /** [[sessionize]] re-expressed on the Spark-4 `transformWithState`
    * API (the successor of flatMapGroupsWithState): an explicit
    * [[org.apache.spark.sql.streaming.StatefulProcessor]] whose
    * per-user `ValueState` holds the one open session. Same state
    * machine, same emit-closed-sessions-only contract, so the SAME
    * batch oracle gates both — the API migration is proven
    * output-invisible. transformWithState requires the RocksDB state
    * store (the typed-state column families live there), which the
    * engine already runs elsewhere ([[withStateStoreProvider]]);
    * state stays one record per user regardless of stream length. */
  def sessionizeTws(spark: SparkSession, dir: String,
                    gapMinutes: Long = 30): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
    val gapMicros = gapMinutes * 60L * 1000000L
    val evs = eventsStream(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("tsMicros"),
        col("event_type"))
      .as[Ev]

    class SessionProc extends StatefulProcessor[Long, Ev, UserSession] {
      @transient private var st: ValueState[SessionState] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        st = getHandle.getValueState[SessionState]("session",
          org.apache.spark.sql.Encoders.product[SessionState], TTLConfig.NONE)
      override def handleInputRows(userId: Long, events: Iterator[Ev],
                                   tv: TimerValues): Iterator[UserSession] = {
        var out = Vector.empty[UserSession]
        var cur = if (st.exists()) Some(st.get()) else None
        events.toSeq.sortBy(_.tsMicros).foreach { e =>
          cur match {
            case Some(s) if e.tsMicros - s.last <= gapMicros =>
              cur = Some(s.copy(last = e.tsMicros, n = s.n + 1))
            case Some(s) =>
              out :+= UserSession(userId, s.start, s.last, s.n)
              cur = Some(SessionState(e.tsMicros, e.tsMicros, 1))
            case None =>
              cur = Some(SessionState(e.tsMicros, e.tsMicros, 1))
          }
        }
        cur.foreach(st.update)
        out.iterator
      }
    }

    withStateStoreProvider(spark, RocksDBProvider) {
      runToCompletion(spark, evs.groupByKey(_.user_id)
        .transformWithState(new SessionProc, TimeMode.None(),
          OutputMode.Append()).toDF(), OutputMode.Append)
    }
  }
}
