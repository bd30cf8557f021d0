package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.streaming.EventStreams

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("streaming hourly agg equals its batch twin") {
    val streamed = EventStreams.streamingHourly(spark, TestSpark.SfDir)
      .select($"hour", $"event_type", $"n", $"total_value")
    val batch = Tables.events(spark, TestSpark.SfDir)
      .groupBy(date_trunc("hour", $"ts").as("hour"), $"event_type")
      .agg(count(lit(1)).as("n"),
        round(sum($"value".cast("decimal(30,4)")).cast("double"), 2)
          .as("total_value"))
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)
  }

  test("append mode with watermark emits only closed windows") {
    import org.apache.spark.sql.streaming.OutputMode
    val agg = EventStreams.hourlyAgg(
      EventStreams.eventsStream(spark, TestSpark.SfDir))
    val name = s"wm_${System.nanoTime()}"
    val q = agg.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    val appended = spark.table(name)
    val total = EventStreams.streamingHourly(spark, TestSpark.SfDir)
    // append emits windows closed by the watermark: a strict subset
    // that excludes at least the last (still-open) window
    assert(appended.count() < total.count())
    assert(appended.except(total).count() == 0)
    val maxAppended = appended.agg(max($"hour")).head().getTimestamp(0)
    val maxTotal = total.agg(max($"hour")).head().getTimestamp(0)
    assert(maxAppended.before(maxTotal))
  }

  test("dedup state is hash-partitioned ~evenly across shuffle partitions") {
    // The distributed-state bound, MEASURED: streaming state shards by
    // key hash across spark.sql.shuffle.partitions (different executors
    // on a cluster), so per-executor state stays ~1/N of the total as
    // the corpus grows. This is the evidence behind reading the sf100
    // q_stream_recovery curve as a single-JVM compaction artifact
    // rather than a plan defect: the state itself is provably spread.
    val census = EventStreams.dedupStatePartitionCensus(spark, TestSpark.SfDir)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(census.keySet == (0 until n).toSet,
      s"every shuffle partition should hold state, got $census")
    val total = census.values.sum
    val maxPart = census.values.max
    info(s"state keys per partition (N=$n, total=$total): " +
      census.toSeq.sortBy(_._1).map { case (p, c) => s"p$p=$c" }.mkString(" "))
    assert(total > 100, s"census too small to be meaningful: $total")
    // a perfectly even shard is total/N; 1.5x tolerates hash jitter
    // while still failing if any partition held O(total) state
    assert(maxPart <= math.ceil(1.5 * total.toDouble / n).toLong,
      s"partition holds $maxPart of $total keys across $n partitions")
  }

  test("hourly agg is identical under the RocksDB state store") {
    val rocks = EventStreams.withStateStoreProvider(
        spark, EventStreams.RocksDBProvider) {
      EventStreams.streamingHourly(spark, TestSpark.SfDir)
    }.select($"hour", $"event_type", $"n", $"total_value")
    val default = EventStreams.streamingHourly(spark, TestSpark.SfDir)
      .select($"hour", $"event_type", $"n", $"total_value")
    assert(rocks.count() == default.count())
    assert(rocks.except(default).count() == 0)
  }

  test("streaming model scoring equals the batch operator's totals") {
    import graft.operators.Scorers
    val streamed = EventStreams.streamingProxyScores(spark, TestSpark.SfDir,
        () => new Scorers.ProxyBackend(42L))
      .orderBy($"source").collect().toSeq
    val batch = Scorers.withModelScores(
        Tables.documents(spark, TestSpark.SfDir)
          .select($"doc_id", $"source", $"text"), "text",
        () => new Scorers.ProxyBackend(42L))
      .select($"source", round($"ppl_ins_alone", 6).as("ppl"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n"),
        round(sum($"ppl".cast(org.apache.spark.sql.types.DecimalType(30, 10)))
          .cast("double"), 4).as("ppl_total"))
      .orderBy($"source").collect().toSeq
    assert(streamed == batch) // exact: same operator, stream vs batch
  }

  test("crash recovery: killed-and-restarted stateful dedup equals batch DISTINCT") {
    // crashRecoveryDedup injects a failure AFTER the sink write of
    // batch 1 but BEFORE its commit, restarts from the checkpoint, and
    // internally asserts the crash actually fired; here the recovered
    // output must equal the batch distinct — no lost rows (state
    // recovered), no duplicated rows (idempotent batchId-keyed sink)
    val got = EventStreams.crashRecoveryDedup(spark, TestSpark.SfDir)
      .orderBy($"user_id", $"hour", $"event_type").collect().toSeq
    val want = Tables.events(spark, TestSpark.SfDir)
      .select($"user_id", date_trunc("hour", $"ts").as("hour"), $"event_type")
      .distinct()
      .orderBy($"user_id", $"hour", $"event_type").collect().toSeq
    assert(got.nonEmpty)
    assert(got == want)
  }

  test("streamingStoreProbe equals the batch cross pairs and is batch-boundary-invariant") {
    val dir = TestSpark.SfDir
    // the registered query persists the store (once) and streams
    // the delta in 4 file-batches
    val got = SparkEntry.queries("q_stream_dedup_store")(spark, dir)
      .collect().map(_.toSeq).toSeq
    // batch twin: the full incremental run restricted to pairs with
    // EXACTLY ONE delta side (stream×store only, no internal pairs)
    val want = SparkEntry.queries("q_dedup_incremental")(spark, dir)
      .where(($"id_a" % 10 === 0) =!= ($"id_b" % 10 === 0))
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want)
    // chopping the same stream into a different number of micro-batches
    // must not change the result — the invariance the oracle relies on
    val tag = graft.core.Store.tag("inc", dir)
    val reChopped = EventStreams.streamingStoreProbe(spark, dir, tag,
        n = 3, k = 12, bands = 4, parts = 2)
      .orderBy($"id_a", $"id_b").collect().map(_.toSeq).toSeq
    assert(reChopped == got)
  }

  test("streaming curation equals the batch CDC path and is batch-boundary-invariant") {
    val dir = TestSpark.SfDir
    // batch twin: the gated incremental curation (itself oracle-equal
    // to the from-scratch re-curate)
    val want = SparkEntry.queries("q_curate_incremental")(spark, dir)
      .collect().map(_.toSeq).toSeq
    // the stream deployment, chopped two different ways — digest-keyed
    // emissions make the assembly invariant to the chopping
    val one = graft.queries.NorthStarQueries
      .streamCurateResult(spark, dir, parts = 1)
      .collect().map(_.toSeq).toSeq
    val three = graft.queries.NorthStarQueries
      .streamCurateResult(spark, dir, parts = 3)
      .collect().map(_.toSeq).toSeq
    assert(one.nonEmpty && one == want,
      s"stream(parts=1) != batch CDC: ${one.size} vs ${want.size} rows")
    assert(three == one, "stream result changed with micro-batch chopping")
  }

  test("streaming ANN ingest equals the one-shot absorb and is batch-boundary-invariant") {
    val dir = TestSpark.SfDir
    import graft.operators.Similarity
    // batch twin: the day-2 absorbed index probe (itself oracle-equal
    // to the from-scratch q_embed_ivf)
    val want = SparkEntry.queries("q_embed_ivf_day2")(spark, dir)
      .collect().map(_.toSeq).toSeq
    // the stream deployment, chopped two different ways — numerator
    // ADDITION makes the absorb chain invariant to the chopping
    val one = EventStreams.streamingIvfIngest(spark, dir, parts = 1)
      .select($"query_id", $"rk", $"vec_id", $"sim")
      .orderBy($"query_id", $"rk").collect().map(_.toSeq).toSeq
    val three = EventStreams.streamingIvfIngest(spark, dir, parts = 3)
      .select($"query_id", $"rk", $"vec_id", $"sim")
      .orderBy($"query_id", $"rk").collect().map(_.toSeq).toSeq
    assert(one.nonEmpty && one == want,
      s"stream(parts=1) != one-shot absorb: ${one.size} vs ${want.size} rows")
    assert(three == one, "stream result changed with micro-batch chopping")
    // centroid STATE (not just the probe) is bit-identical to a
    // from-scratch build over the full corpus — addition all the way
    val embs = graft.core.Tables.embeddings(spark, dir)
    Similarity.IvfStore.once("spec_sai_full") {
      Similarity.IvfStore.write(spark, embs, "vec_id", "embedding",
        "label", "spec_sai_full")
    }
    val full = Similarity.IvfStore.centroids(spark, "spec_sai_full")
      .select($"label", $"pos", $"cn".cast("string"), $"n")
      .collect().map(_.toSeq).toSet
    // the day-2 store the batch twin wrote (same tag scheme)
    val d1 = Similarity.IvfStore.centroids(spark,
      graft.core.Store.tag("day2g1", dir))
      .select($"label", $"pos", $"cn".cast("string"), $"n")
      .collect().map(_.toSeq).toSet
    assert(full == d1)
    // RETENTION: each absorb vacuums the run-scoped generation it
    // superseded and a new run reclaims the previous run's survivor,
    // so the two runs above (1 + 3 micro-batches = 4 run-scoped
    // generations written; the shared day-0 base lives under its own
    // non-swept tag) leave exactly ONE stream-ingest generation on
    // disk.
    val root = java.nio.file.Paths.get(graft.operators.Dedup.SignatureStore.root)
    val leftover = java.nio.file.Files.list(root).toArray.map(_.toString)
      .filter(_.contains("ivf_store_stream_ivf_"))
    assert(leftover.length == 1,
      s"stream ingest must leave one generation, found ${leftover.toSeq}")
    graft.core.Caches.releaseAll()
  }

  test("streaming runs read only scratch files and leave the session as they found it") {
    import java.nio.file.Paths
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.StreamingQueryException
    import graft.core.Scratch
    val dir = TestSpark.SfDir
    val root = Paths.get(Scratch.pathFor("spec", dir)).getParent
    val partsKey = "spark.sql.shuffle.partitions"
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val provider = spark.conf.getOption(providerKey)
    val parts = spark.conf.get(partsKey)
    spark.conf.set(partsKey, "3") // not the 4 a stream runs with
    def restored(what: String): Unit = {
      assert(spark.streams.active.isEmpty, s"$what left a query running")
      assert(spark.conf.get(partsKey) == "3", s"$what left $partsKey changed")
      assert(spark.conf.getOption(providerKey) == provider,
        s"$what left the state-store provider changed")
    }
    def scratchOnly(what: String, df: DataFrame): Unit = {
      val files = df.inputFiles.toSeq.map(f => Paths.get(new java.net.URI(f)))
      assert(files.nonEmpty && files.forall(_.startsWith(root)),
        s"$what reads outside $root: ${files.filterNot(_.startsWith(root))}")
      restored(what)
    }
    try {
      scratchOnly("streamingRollup", EventStreams.streamingRollup(spark, dir, parts = 2))
      scratchOnly("crashRecoveryDedup", EventStreams.crashRecoveryDedup(spark, dir))
      SparkEntry.queries("q_stream_dedup_store")(spark, dir) // persists the store
      scratchOnly("streamingStoreProbe", EventStreams.streamingStoreProbe(spark, dir,
        graft.core.Store.tag("inc", dir), n = 3, k = 12, bands = 4, parts = 2))
      SparkEntry.queries("q_stream_curate")(spark, dir) // persists the v0 state
      val (fams, pairs) = EventStreams.streamingCurateFeed(spark, dir,
        Scratch.pathFor("curate_v0_state", dir), n = 3, k = 12, bands = 4, parts = 2)
      scratchOnly("streamingCurateFeed's families", fams)
      scratchOnly("streamingCurateFeed's pairs", pairs)
      intercept[StreamingQueryException] {
        EventStreams.run(spark, EventStreams.eventsStream(spark, dir).writeStream
          .foreachBatch { (_: DataFrame, _: Long) => throw new RuntimeException("batch failed") })
      }
      restored("a batch that throws")
    } finally {
      spark.conf.set(partsKey, parts)
      graft.core.Caches.releaseAll()
    }
  }

  test("a run dir stays readable until the per-query release and is gone after it") {
    import java.nio.file.{Files, Path, Paths}
    val root = Paths.get(graft.core.Scratch.pathFor("spec", TestSpark.SfDir)).getParent
    graft.core.Caches.releaseAll()
    val rollup = EventStreams.streamingRollup(spark, TestSpark.SfDir, parts = 2)
    val runDirs = rollup.inputFiles.toSeq.map { f =>
      var p: Path = Paths.get(new java.net.URI(f))
      while (p.getParent != null && p.getParent != root) p = p.getParent
      p
    }.distinct
    assert(runDirs.size == 1 && runDirs.head.getParent == root, s"$runDirs")
    val rows = rollup.collect().toSeq
    assert(rows.nonEmpty && rollup.collect().toSeq == rows)
    assert(Files.isDirectory(runDirs.head))
    graft.core.Caches.releaseAll()
    assert(!Files.exists(runDirs.head), s"${runDirs.head} outlived the release")
  }

  test("sessionize closes sessions on the 30-min gap") {
    val sessions = EventStreams.sessionize(spark, TestSpark.SfDir, 30)
    assert(sessions.count() > 0)
    // sessions are per existing user and internally consistent
    val users = Tables.events(spark, TestSpark.SfDir)
      .select($"user_id").distinct().as[Long].collect().toSet
    val bad = sessions
      .where(!$"user_id".isin(users.toSeq: _*) ||
        $"session_end" < $"session_start" || $"n_events" < 1)
    assert(bad.count() == 0)
  }
}
