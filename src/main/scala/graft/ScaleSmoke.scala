package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.EventStreams

/** Scale-smoke: multiply the corpus N× (re-keyed ids) and time the
  * text/dedup pipelines, to observe how their cost scales between the
  * fixture size and a larger synthetic corpus. Usage:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   sbt "runMain graft.ScaleSmoke 20"
  *
  * Prints one JSON line per (query, multiplier) with wall seconds.
  * This is evidence, not a gate: near-linear growth here means the
  * operator has no hidden quadratic or driver-side choke point.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(20)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Tables.localSession(32)

    def docsX(n: Int) = {
      val base = graft.core.Tables.documents(spark, sfDir)
      (0 until n).map { i =>
        base.withColumn("doc_id", col("doc_id") + lit(i.toLong * 10000000L))
      }.reduce(_ unionAll _).repartition(32).cache()
    }

    // SPARK_GRAFT_SMOKE_ONLY=stage1,stage2 restricts the stage set
    // (e.g. re-measuring one stage at a bigger multiplier without
    // paying for the whole suite)
    val onlyStages = sys.env.get("SPARK_GRAFT_SMOKE_ONLY").map(_.split(",").toSet)
    for (n <- Seq(1, mult)) {
      val docs = docsX(n)
      docs.count() // materialize the cache; timings below are compute-only
      def time(name: String)(f: => Long): Unit =
        if (onlyStages.forall(_.contains(name))) {
          val t0 = System.nanoTime()
          val rows = f
          val dt = (System.nanoTime() - t0) / 1e9
          println(f"""{"scale_smoke":"$name","mult":$n,"rows":$rows,"sec":$dt%.2f}""")
        }
      time("exact_dedup") {
        graft.operators.Dedup.dupGroups(
          docs.withColumn("content_key", substring(col("text"), 1, 40)),
          "doc_id", Seq("content_key")).count()
      }
      time("minhash_near_dup") {
        graft.operators.Dedup.nearDupPairs(docs, "doc_id", "text").count()
      }
      time("minhash_after_exact") {
        graft.operators.Dedup
          .nearDupPairsAfterExact(docs, "doc_id", "text").count()
      }
      time("token_quality") {
        docs.select(
          graft.functions.TextFns.tokenCount(col("text")),
          graft.functions.TextFns.qualityScore(col("text")),
          graft.functions.TextFns.fingerprint(col("text"))).count()
      }
      time("chunking") {
        docs.select(col("doc_id"), col("text"),
            explode(sequence(lit(1L), length(col("text")).cast("long"),
              lit(150L))).as("off"))
          .selectExpr("doc_id", "md5(CAST(substring(text, CAST(off AS INT), 200) AS BINARY))")
          .count()
      }
      time("decontaminate") {
        val ex = docs.select(col("doc_id"), col("source"),
          explode(graft.functions.TextFns.shinglesDistinct(col("text"), 3)).as("sh"))
        val train = ex.where(col("source") =!= "src0").select(col("doc_id"), col("sh"))
        val ev = ex.where(col("source") === "src0")
          .select(col("sh"), col("doc_id").as("eval_id"))
        train.join(broadcast(ev), "sh").groupBy(col("doc_id"))
          .agg(countDistinct(col("sh")).as("n_shared"))
          .where(col("n_shared") >= 5).count()
      }
      def simhashPairCount(d: org.apache.spark.sql.DataFrame,
                           bits: Int = 16, segments: Int = 4,
                           maxHamming: Int = 3): Long = {
        val ids = d.select(col("doc_id"),
          explode(graft.functions.TextFns.shinglesDistinct(col("text"), 3)).as("sh"))
          .withColumn("wid", graft.operators.Dedup.md5Wid(col("sh")))
        val fps = graft.operators.Dedup.simhashFingerprints(
          ids, "doc_id", "wid", bits)
        graft.operators.Dedup.simhashPairs(fps, "doc_id", maxHamming,
          bits, segments).count()
      }
      time("simhash_pairs") { simhashPairCount(docs) }
      // duplicate-heavy corpora have genuinely quadratic duplicate
      // PAIRS; the production composition collapses exact copies first
      // (one hash groupBy), same as minhash_after_exact
      time("simhash_after_exact") {
        simhashPairCount(graft.operators.Dedup.exactDedup(
          docs.select(col("doc_id"), col("text")), "doc_id", Seq("text")))
      }
      // the production width: 64-bit fingerprints, 8-segment pigeonhole
      // (full recall at Hamming <= 7) — proves the blocking math and the
      // xxhash64 wide-hash path hold beyond the oracle's 16-bit surface
      time("simhash64_after_exact") {
        simhashPairCount(graft.operators.Dedup.exactDedup(
          docs.select(col("doc_id"), col("text")), "doc_id", Seq("text")),
          bits = 64, segments = 8, maxHamming = 7)
      }
      // Adversarial mega-bucket: every doc a DISTINCT near-copy of one
      // template (exact-collapse keeps all of them), so every rep
      // lands in the same LSH bucket in every band — candidate pairs
      // are C(n,2) and grow quadratically with the corpus. The
      // per-bucket cap is the backstop: candidates stay hard-bounded
      // at bands·C(cap,2) no matter how large the crowd gets.
      val advDocs = spark.range(0, 250L * n)
        .selectExpr("id AS doc_id",
          "concat('the quick brown fox jumps over the lazy dog and runs far ', " +
            "'past the quiet green hill before the rain begins variant ', id) AS text")
      def candCount(cap: Int): Long = {
        val ids = advDocs.select(col("doc_id"),
          explode(graft.functions.TextFns.shinglesDistinct(col("text"), 3)).as("sh"))
          .withColumn("wid", graft.operators.Dedup.md5Wid(col("sh")))
        val sigs = graft.operators.Dedup.minhashSignatures(ids, "doc_id", "wid", 12)
        val c = graft.operators.Dedup
          .lshCandidatePairs(sigs, "doc_id", 4, 3, maxBucketSize = cap).count()
        graft.core.Caches.releaseAll()
        c
      }
      // A/B the candidate stage alone, composed self-join vs the
      // native unary band-pairs node, over the REAL (multiplied)
      // corpus — isolates the stage the native operator replaces
      def candStage(native: Boolean): Long = {
        val ids = docs.select(col("doc_id"),
          explode(graft.functions.TextFns.shinglesDistinct(col("text"), 3)).as("sh"))
          .withColumn("wid", graft.operators.Dedup.md5Wid(col("sh")))
        val sigs = graft.operators.Dedup.minhashSignatures(ids, "doc_id", "wid", 12)
        val c =
          if (native) graft.operators.Dedup
            .lshCandidatePairsNative(sigs, "doc_id", 4, 3).count()
          else graft.operators.Dedup
            .lshCandidatePairs(sigs, "doc_id", 4, 3).count()
        graft.core.Caches.releaseAll()
        c
      }
      time("lsh_cands_composed") { candStage(native = false) }
      time("lsh_cands_native") { candStage(native = true) }
      // A/B the semantic-dedup VERIFY stage alone, composed cluster
      // self-join vs the native unary cluster-pairs node, over a
      // synthetic labeled frame big enough to exceed the broadcast
      // threshold — the SMJ regime the node targets (at fixture scale
      // the self-join broadcasts and the node's forced Exchange loses;
      // see PROFILE_r12). 4000·n vectors, 128 clusters, 64-dim.
      var cpComposed = -1L
      def clusterVerify(native: Boolean): Long = {
        val labeled = spark.range(0, 4000L * n).selectExpr(
          "id AS vec_id",
          "CAST(id % 128 AS INT) AS cluster",
          "transform(sequence(0, 63), j -> " +
            "CAST((id % 97) * (j + 3) % 31 - 15 AS FLOAT)) AS emb")
        val tau = 0.95
        val c =
          if (native) {
            import org.apache.spark.sql.catalyst.expressions.{
              Expression, GreaterThanOrEqual, Literal, Round}
            // production shape: threshold pushed INTO the node
            val pred = (a: Expression, b: Expression) =>
              GreaterThanOrEqual(
                Round(graft.plans.ArrayCosineSim(a, b), Literal(6)),
                Literal(tau)): Expression
            graft.plans.ClusterPairsNative
              .clusterPairs(labeled, "cluster", "vec_id", "emb", Some(pred))
              .count()
          }
          else {
            val a = labeled.select(col("cluster"), col("vec_id").as("_id_a"),
              col("emb").as("_emb_a"))
            val b = labeled.select(col("cluster"), col("vec_id").as("_id_b"),
              col("emb").as("_emb_b"))
            a.join(b, Seq("cluster"))
              .where(col("_id_a") < col("_id_b") &&
                round(graft.operators.Similarity
                  .cosine(col("_emb_a"), col("_emb_b")), 6) >= tau)
              .count()
          }
        graft.core.Caches.releaseAll()
        c
      }
      // pure ENUMERATION contrast (no cosine): isolates pair-emission
      // machinery from predicate evaluation
      def clusterEnum(native: Boolean): Long = {
        val labeled = spark.range(0, 4000L * n).selectExpr(
          "id AS vec_id",
          "CAST(id % 128 AS INT) AS cluster",
          "transform(sequence(0, 63), j -> " +
            "CAST((id % 97) * (j + 3) % 31 - 15 AS FLOAT)) AS emb")
        val c =
          if (native) graft.plans.ClusterPairsNative
            .clusterPairs(labeled, "cluster", "vec_id", "emb")
            .select(col("id_a")).count()
          else {
            val a = labeled.select(col("cluster"), col("vec_id").as("_id_a"),
              col("emb").as("_emb_a"))
            val b = labeled.select(col("cluster"), col("vec_id").as("_id_b"),
              col("emb").as("_emb_b"))
            a.join(b, Seq("cluster")).where(col("_id_a") < col("_id_b"))
              .select(col("_id_a")).count()
          }
        graft.core.Caches.releaseAll()
        c
      }
      time("cluster_enum_composed") { clusterEnum(false) }
      time("cluster_enum_native") { clusterEnum(true) }
      time("cluster_verify_composed") { cpComposed = clusterVerify(false); cpComposed }
      // the same composed join with broadcast DISABLED — the regime a
      // 100 TB labeled frame is actually in (too big to broadcast, so
      // the self-join pays two exchanges + two sorts + SMJ); this is
      // the regime the native node replaces
      time("cluster_verify_composed_smj") {
        val key = "spark.sql.autoBroadcastJoinThreshold"
        val old = spark.conf.get(key)
        spark.conf.set(key, "-1")
        try {
          val c = clusterVerify(false)
          require(cpComposed < 0 || c == cpComposed,
            s"SMJ verify count $c != composed $cpComposed")
          c
        } finally spark.conf.set(key, old)
      }
      time("cluster_verify_native") {
        val c = clusterVerify(true)
        require(cpComposed < 0 || c == cpComposed,
          s"native verify count $c != composed $cpComposed")
        c
      }
      var uncapped = -1L
      time("lsh_mega_bucket_uncapped") { uncapped = candCount(0); uncapped }
      time("lsh_mega_bucket_cap64") {
        val capped = candCount(64)
        // the hard bound the cap guarantees: ≤ buckets·bands·C(64,2).
        // This corpus makes ~1 mega-bucket per band (4·2016 = 8064);
        // allow 2× for incidental small buckets from the unique-tail
        // shingles — still O(1) while uncapped grows O(n²)
        require(capped <= 2L * 4 * 64 * 63 / 2,
          s"cap violated: $capped candidate pairs > ${2L * 4 * 64 * 63 / 2}")
        require(uncapped < 0 || capped <= uncapped,
          s"capped ($capped) exceeded uncapped ($uncapped)")
        capped
      }
      // Pair→cluster resolution on the real corpus: label-propagation
      // ROUNDS must stay flat as the corpus grows (near-dup graphs are
      // tiny cliques; rounds are bounded by the longest chain, not by
      // corpus size). Iteration count is printed alongside the timing;
      // it reads 0 while the pair graph is under CC's driver gate.
      time("cc_clusters") {
        val pairs = graft.operators.Dedup
          .nearDupPairsAfterExact(docs, "doc_id", "text")
        val (labels, iters) = graft.operators.Dedup
          .connectedComponentsWithIters(pairs, "id_a", "id_b")
        println(f"""{"scale_smoke":"cc_clusters_iters","mult":$n,"iters":$iters}""")
        labels.count()
      }
      // Adversarial worst case: a planted PATH graph of length 4·n —
      // the one shape where rounds grow (with the chain's length, the
      // graph diameter). Real near-dup chains that long do not occur;
      // this stage shows the cost model: rounds ∝ diameter, each round
      // one bounded shuffle.
      time("cc_chain") {
        val chain = spark.range(0, 4L * n)
          .selectExpr("id AS id_a", "id + 1 AS id_b")
        // forced past CC's driver gate, so the rounds are measured
        val ((labels, iters), _) = graft.core.Gate.logged()(
          graft.operators.Dedup.connectedComponentsWithIters(chain, "id_a", "id_b"))
        println(f"""{"scale_smoke":"cc_chain_iters","mult":$n,"iters":$iters}""")
        labels.count()
      }
      time("slice_deep") {
        // unbounded end → the zipWithIndex path (no global window)
        graft.operators.Selection
          .sliceRows(docs.select(col("doc_id"), col("source")),
            "doc_id", 400L, -1L).count()
      }
      // INCREMENTAL dedup: a fixed 250-doc daily delta against the n×
      // corpus whose signature store was built by a "previous run"
      // (materialized OUTSIDE the timer — that is the point of the
      // store). The timed path is delta shingling + a broadcast probe
      // of the store + delta-sized verification; compare its growth
      // against the full-re-dedup stage (minhash_near_dup) which
      // recomputes and self-joins the whole corpus every time.
      locally {
        val store = graft.operators.Dedup
          .bandedSignatures(docs, "doc_id", "text").localCheckpoint()
        val storeSets = graft.operators.Dedup
          .shingleSets(docs, "doc_id", "text").localCheckpoint()
        val delta = docs.select(col("doc_id"), col("text"))
          .where(col("doc_id") % 37 === 3).limit(250)
          .withColumn("doc_id", col("doc_id") + 900000000L)
          .localCheckpoint()
        time("incremental_dedup") {
          val nb = graft.operators.Dedup
            .bandedSignatures(delta, "doc_id", "text")
          val allSets = storeSets.unionAll(graft.operators.Dedup
            .shingleSets(delta, "doc_id", "text"))
          val c = graft.operators.Dedup
            .incrementalNearDupPairs(nb, store, allSets, "doc_id").count()
          graft.core.Caches.releaseAll()
          c
        }
      }
      // PERSISTED store probe vs recompute: same delta, same SMJ probe
      // shape (broadcast-free — the big-delta planner), but one path
      // reads the corpus's bucketed ON-DISK signature store while the
      // other re-shingles + re-signs + re-shuffles the corpus from raw
      // text. The store path's cost must stay delta-shaped as the
      // corpus grows; the recompute path pays the corpus every day.
      locally {
        val tag = s"smoke_$n"
        graft.operators.Dedup.SignatureStore.once(tag) { // outside the timer
          graft.operators.Dedup.SignatureStore.write(
            spark, docs.select(col("doc_id"), col("text")),
            "doc_id", "text", tag, buckets = 32)
        }
        val delta = docs.select(col("doc_id"), col("text"))
          .where(col("doc_id") % 37 === 3).limit(250)
          .withColumn("doc_id", col("doc_id") + 900000000L)
          .localCheckpoint()
        time("incremental_store_probe") {
          val nb = graft.operators.Dedup.bandedSignatures(delta, "doc_id", "text")
          val c = graft.operators.Dedup.probeSignatureStore(
            graft.operators.Dedup.SignatureStore.banded(spark, tag),
            nb, "doc_id").count()
          graft.core.Caches.releaseAll()
          c
        }
        time("incremental_recompute_probe") {
          val nb = graft.operators.Dedup.bandedSignatures(delta, "doc_id", "text")
          val corpusBanded = graft.operators.Dedup
            .bandedSignatures(docs.select(col("doc_id"), col("text")),
              "doc_id", "text")
          val c = graft.operators.Dedup.probeSignatureStore(
            corpusBanded, nb, "doc_id").count()
          graft.core.Caches.releaseAll()
          c
        }
      }
      // INCREMENTAL VIEW MAINTENANCE: the daily rollup absorbed as
      // stored ∪ delta-agg → re-sum (Merge.additiveMerge) vs
      // recomputed over all of history. The stored rollup is
      // yesterday's artifact (materialized OUTSIDE the timer); the
      // arriving day is fixed-size. The incremental path must stay
      // delta-shaped as history grows n×; the recompute pays the
      // whole corpus every day.
      locally {
        // per-(user, day, type) granularity — the realistic view key:
        // the maintained view is users×days×types rows (view-sized),
        // history is events (corpus-sized); replicas shift user ids so
        // the view grows with the corpus like a real user base does
        val evBase = graft.core.Tables.events(spark, sfDir)
        def rollup(df: org.apache.spark.sql.DataFrame) = df
          .groupBy(col("event_type"), col("day"), col("user_id"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(30,4)")).as("value_sum"))
        val history = (0 until n).map { i =>
          evBase.withColumn("user_id", col("user_id") + lit(i.toLong * 100000000L))
        }.reduce(_ unionAll _)
          .select(col("event_type"), to_date(col("ts")).as("day"),
            col("user_id"), col("value"))
          .repartition(32).cache()
        history.count()
        val delta = evBase
          .where(col("ts") >= lit("2024-01-30 00:00:00").cast("timestamp"))
          .select(col("event_type"), to_date(col("ts")).as("day"),
            col("user_id"), col("value"))
          .localCheckpoint()
        val stored = rollup(history).localCheckpoint()
        time("ivm_rollup_full") {
          rollup(history.unionAll(delta)).count()
        }
        time("ivm_rollup_incremental") {
          graft.operators.Merge.additiveMerge(
            stored.unionAll(rollup(delta)),
            Seq("event_type", "day", "user_id"), Seq("n", "value_sum")).count()
        }
        history.unpersist()
      }
      // Streaming STATE GROWTH: a windowed aggregation over a stream
      // that keeps arriving (one file per micro-batch, event time
      // advancing an hour per batch, 1000 keys/hour). Without
      // watermark eviction, state rows grow ~1000 per batch forever;
      // with the 2-hour watermark they must plateau at ≈ (watermark +
      // window) worth of open windows regardless of how many batches
      // arrive. The per-batch numRowsTotal curve is printed and the
      // plateau is ENFORCED (≤ 5× keys even as input grows to
      // batches× keys).
      time("stream_state") {
        import java.nio.file.{Files, Paths, StandardCopyOption}
        val users = 1000L
        val batches = 6 + n
        val root = Paths.get(graft.core.Scratch.runDir("state_smoke"))
        val watched = root.resolve("stream"); Files.createDirectories(watched)
        val baseUs = 1700000000L * 1000000L
        for (k <- 0 until batches) {
          val tmp = root.resolve(s"tmp_$k").toString
          spark.range(0, users)
            .selectExpr("id AS user_id",
              s"timestamp_micros(${baseUs}L + $k * 3600000000L + (id % 60) * 60000000L) AS ts",
              "CAST(id % 7 AS DOUBLE) AS value")
            .coalesce(1).write.parquet(tmp)
          val part = Files.list(Paths.get(tmp))
            .filter(p => p.toString.endsWith(".parquet")).findFirst.get
          Files.move(part, watched.resolve(f"slice_$k%03d.parquet"),
            StandardCopyOption.ATOMIC_MOVE)
          Thread.sleep(15) // distinct mtimes → in-order file batches
        }
        val stream = EventStreams.fileStream(spark,
          StructType(Seq(
            StructField("user_id", LongType),
            StructField("ts", TimestampType),
            StructField("value", DoubleType))),
          watched.toString)
        val agg = stream.withWatermark("ts", "2 hours")
          .groupBy(window(col("ts"), "1 hour"), col("user_id"))
          .agg(sum(col("value")).as("v"))
        val q = EventStreams.run(spark, agg.writeStream.outputMode("append")
          .format("memory").queryName(s"state_smoke_$n"))
        val perBatch = q.recentProgress.toSeq
          .filter(_.stateOperators.nonEmpty)
          .map(p => p.stateOperators.map(_.numRowsTotal).sum)
        println(s"""{"scale_smoke":"stream_state_rows","mult":$n,""" +
          s""""batches":${perBatch.length},"rows":[${perBatch.mkString(",")}]}""")
        require(perBatch.nonEmpty && perBatch.max <= 5 * users,
          s"streaming state grew unbounded: ${perBatch.mkString(",")}")
        perBatch.last
      }
      time("packing") {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        docs.select(col("doc_id"), col("source"),
            graft.functions.TextFns.tokenCount(col("text")).cast("long").as("n_tokens"))
          .withColumn("start_tok", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
          .selectExpr("start_tok div 512 AS first_bin")
          .groupBy(col("first_bin")).count().count()
      }
      // Token-budget selection: the sort-free greedy prefix (bucket
      // histogram + theta-join prefix + per-bucket windows). With a
      // FIXED absolute budget the selected set shrinks relative to the
      // corpus as it grows; cost must stay ~linear in corpus size (the
      // scoring scan), never the naive global-window sort shape.
      time("token_budget") {
        val scored = docs.select(col("doc_id"),
          graft.functions.TextFns.qualityScore(col("text")).as("quality"),
          graft.functions.TextFns.tokenCount(col("text")).cast("long").as("n_tokens"))
        graft.operators.Selection
          .tokenBudgetSelect(scored, "doc_id", "quality", "n_tokens", 8000L)
          .count()
      }
      // Per-group top-N under domain skew: one domain holds ~90% of
      // the corpus. The naive ROW_NUMBER window funnels the hot
      // domain through ONE task's sort; the salted two-phase plan
      // (Selection.topNPerGroupScalable) splits it `salts` ways and
      // final-ranks only the ≤ N·salts survivors. Same answer
      // (spec-asserted); this measures the skew gap at data scale.
      locally {
        val skewed = docs.withColumn("source",
            when(pmod(col("doc_id"), lit(10L)) < 9, lit("hot"))
              .otherwise(col("source")))
          .select(col("doc_id"), col("source"),
            col("n_chars").cast("long").as("sz"))
        val order = Seq(col("sz").desc, col("doc_id").asc)
        time("topn_window_hot") {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("source")).orderBy(order: _*)
          skewed.withColumn("rn", row_number().over(w))
            .where(col("rn") <= 40).count()
        }
        time("topn_salted_hot") {
          graft.operators.Selection.topNPerGroupScalable(
            skewed, "source", order, saltBy = col("doc_id"),
            n = 40, salts = 16).count()
        }
      }
      docs.unpersist()
    }
    spark.stop()
  }
}
