package graft


/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query and
  * total wall-clock seconds. Results are fully materialized through a
  * noop sink (count() would let Catalyst prune whole subtrees). A
  * small untimed warmup absorbs JVM/codegen cold-start so the first
  * alphabetical query isn't charged for JIT.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Self-defense against host CPU steal: sample the 1-min load
    // average at ENTRY (before the JVM itself generates any load — a
    // mid-suite sample would just measure our own 32 threads) and
    // carry it into the JSON line, so a capture taken on a busy host
    // is machine-detectable from the bench evidence itself instead of
    // needing a manual idle re-measure each round.
    val entryLoad =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    if (entryLoad > 4.0)
      System.err.println(f"[bench] WARNING: host 1-min load $entryLoad%.2f > 4 " +
        "at entry — numbers below are likely steal-inflated; re-run idle")
    val spark = graft.core.Tables.localSession(cpus.toInt)

    // warmup: exercise scan/shuffle/agg/join codegen paths once
    try {
      import org.apache.spark.sql.functions._
      val li = graft.core.Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_quantity"))
      li.groupBy(col("l_orderkey") % 7).agg(sum(col("l_quantity")))
        .write.format("noop").mode("overwrite").save()
      spark.range(1000).selectExpr("id", "id % 5 AS k")
        .join(spark.range(5).selectExpr("id AS k", "id * 2 AS v"), "k")
        .write.format("noop").mode("overwrite").save()
      // higher-order-function paths (interpreted, JIT-heavy): split /
      // transform / aggregate / explode / window
      spark.range(2000)
        .selectExpr("id", "split(repeat(concat('w', id % 97, ' '), 40), ' ') AS toks")
        .selectExpr("id",
          "aggregate(transform(toks, (t, i) -> length(t) * (i + 1)), 0L, (a, x) -> a + x) AS s",
          "explode(transform(sequence(0, 5), i -> concat_ws('_', slice(toks, i + 1, 3)))) AS sh")
        .groupBy(col("sh")).agg(sum(col("s")))
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }

    // SPARK_GRAFT_ONLY=q_a,q_b restricts the query set (profiling).
    // Each query runs SPARK_GRAFT_ITERS times (default 3) and reports
    // the MINIMUM: the host suffers intermittent CPU steal that
    // inflates a single pass by 10-80× on random queries (measured:
    // the same sub-second rollup at 0.55s and 46.5s in back-to-back
    // suites; round-2's driver run still reported 104s for a 1s query
    // with min-of-2 — steal spanned both passes), so the min of three
    // passes is the reproducible cost.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "3").toInt
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }

    // codec-family JIT warm-up: the byte-level media decoders are
    // megamorphic interpreter-heavy paths whose in-suite wall time
    // swung 0.66–7.0 s across idle runs of IDENTICAL code purely on
    // JIT warm-up ordering (PROFILE_r09). One untimed pass per codec
    // query pins the compiled state before any timed iteration, so
    // cross-round bench diffs on this family measure code, not C2.
    val codecFamily = Seq("q_video_frames_real", "q_media_features_real",
      "q_image_pixels", "q_audio_energy", "q_multimodal_features")
    val selectedNames = selected.map(_._1).toSet
    val warmed = codecFamily.filter(selectedNames)
    warmed.foreach { n =>
      // A broken codec query must not pass warm-up silently: log the
      // failure (the timed pass below will surface it too), and leave
      // interruption intact instead of eating it.
      try SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch {
        case e: InterruptedException => Thread.currentThread().interrupt(); throw e
        case e: Throwable =>
          System.err.println(s"[bench] warm-up $n failed: ${e.getMessage}")
      }
      finally { graft.core.Caches.releaseAll(); spark.catalog.clearCache() }
    }

    // A query that throws is FAILED: it is listed in `failed`, gets no
    // timing (a crash must never read as a speedup) and skips its
    // remaining iterations.
    val runs = selected.map { case (name, fn) =>
      val dts = Iterator.fill(iters) {
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch {
            case e: InterruptedException => Thread.currentThread().interrupt(); throw e
            case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
          }
        // per-query caches don't leak across queries (clearCache drops
        // the storage; releaseAll drains the operator-cache registry)
        graft.core.Caches.releaseAll()
        spark.catalog.clearCache()
        if (ok) Some((System.nanoTime() - t0) / 1e9) else None
      }.takeWhile(_.isDefined).flatten.toSeq
      name -> Option.when(dts.size == iters)(dts.min)
    }
    val results = runs.collect { case (name, Some(dt)) => name -> dt }
    val failed = runs.collect { case (name, None) => name }
    // MERGE into the existing artifact instead of overwriting it: a
    // targeted recapture (SPARK_GRAFT_ONLY) must never delete
    // suite-wide evidence (r11's last three commits each replaced the
    // committed 189-query artifact with a single-query recapture).
    // Semantics: a query captured THIS run replaces its prior entry
    // (latest measurement wins — min-merging would let stale fast
    // times hide a real regression); queries not in this run keep
    // their prior entries; keys no longer registered are dropped; a
    // prior artifact from a DIFFERENT sf dir is ignored wholesale.
    // Default artifact is the UNTRACKED BENCH_RUN.json (gitignored):
    // the committed idle evidence is BENCH_LOCAL.json, written only
    // when a capture explicitly targets it via SPARK_GRAFT_BENCH_OUT
    // (verify skill step 8). This keeps a contended driver/CI run from
    // silently replacing the curated capture at the round-end commit
    // (r11: the driver's load-6.4 capture overwrote the committed
    // idle artifact) while the stdout JSON line the driver records is
    // unchanged.
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_RUN.json"))
    val prior: Map[String, Double] =
      try {
        if (!java.nio.file.Files.exists(outPath)) Map.empty
        else {
          val txt = java.nio.file.Files.readString(outPath)
          val sfOk = """"sf":"([^"]*)"""".r.findFirstMatchIn(txt)
            .exists(_.group(1) == sfDir)
          if (!sfOk) Map.empty
          else """"queries":\{([^}]*)\}""".r.findFirstMatchIn(txt)
            .map(_.group(1)).toSeq
            .flatMap(body => """"([^"]+)":([-0-9.eE+]+)""".r
              .findAllMatchIn(body)
              .map(m => m.group(1) -> m.group(2).toDouble))
            .toMap
        }
      } catch { case _: Throwable => Map.empty }
    // Provenance note: a merge-recapture must not silently drop the
    // artifact's recorded capture protocol. SPARK_GRAFT_BENCH_NOTE
    // sets/replaces it; otherwise the prior artifact's note carries
    // forward, marked "+partial merges" ONLY when a prior entry this
    // run did NOT recapture survives into the merged map (a full
    // recapture is not a partial merge). The prior `warmed` list
    // carries forward the same way: surviving prior entries keep
    // their warmed provenance, so a targeted recapture can't strip
    // the codec-family warm-up marker from timings it didn't touch.
    val priorText: Option[String] =
      try {
        if (!java.nio.file.Files.exists(outPath)) None
        else Some(java.nio.file.Files.readString(outPath))
      } catch { case _: Throwable => None }
    def unescape(s: String): String =
      s.replace("\\\"", "\"").replace("\\\\", "\\")
    val priorNote: Option[String] = priorText.flatMap(txt =>
      """"capture":"((?:[^"\\]|\\.)*)"""".r.findFirstMatchIn(txt)
        .map(m => unescape(m.group(1))))
    val priorWarmed: Seq[String] = priorText.toSeq.flatMap(txt =>
      """"warmed":\[([^\]]*)\]""".r.findFirstMatchIn(txt).toSeq
        .flatMap(m => """"([^"]+)"""".r.findAllMatchIn(m.group(1))
          .map(_.group(1))))
    val registered = SparkEntry.queries.keySet
    // every query run this time replaces its prior entry, a failed one
    // with nothing: an old timing must not stand in for a crash
    val survivors = prior.keySet.intersect(registered).diff(runs.map(_._1).toSet)
    val merged = (prior.view.filterKeys(survivors).toMap ++ results.toMap)
      .toSeq.sortBy(_._1)
    val mergedKeys = merged.map(_._1).toSet
    val note = sys.env.get("SPARK_GRAFT_BENCH_NOTE").orElse(
      if (survivors.nonEmpty)
        priorNote.map(n =>
          if (n.endsWith("; +partial merges")) n else n + "; +partial merges")
      else priorNote)
    // union of prior∪current warmed names, restricted to merged keys:
    // a prior warmed timing that survived keeps its marker; a warmed
    // name whose query was dropped from the registry drops with it
    val warmedOut = (priorWarmed ++ warmed).distinct
      .filter(mergedKeys).sorted
    val qs = merged.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val total = merged.map(_._2).sum
    // total leads the line so a tail-truncated capture still loses only
    // per-query detail, never the headline number
    // `warmed` records which queries got the untimed codec-family
    // warm-up pass (since r10), so cross-round comparisons don't read
    // their timings raw against pre-warm-up rounds.
    val warmedJson = warmedOut.map("\"" + _ + "\"").mkString("[", ",", "]")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // escape \ and " so a note containing either still yields a valid
    // JSON artifact (the next run's prior-parse would otherwise
    // silently discard the whole file)
    def jsonEsc(s: String): String =
      s.replace("\\", "\\\\").replace("\"", "\\\"")
    val noteJson = note.map(n => s""""capture":"${jsonEsc(n)}",""").getOrElse("")
    // a capture taken on a busy host is stamped, not just warned about,
    // so the evidence itself says it is steal-suspect (r14 verdict #10)
    val stealJson = if (entryLoad > 4.0) """"steal_suspect":true,""" else ""
    val json =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","load":$entryLoad%.2f,"captured":${results.size},"failed":$failedJson,$stealJson$noteJson"warmed":$warmedJson,"queries":$qs,"sf":"$sfDir"}"""
    println(json)
    // COMPACT final line for the driver's tail capture: every recorded
    // BENCH_r*.json keeps only the LAST ~2000 chars of stdout and every
    // round's parse came back null because the full per-query line
    // (~7 KB for 225 queries) never fits — its head is cut mid-JSON.
    // Print a second, complete JSON line that DOES fit in that window:
    // same contract fields, `queries` restricted to the SLOWEST entries
    // that fit a conservative 1500-char budget, with an explicit
    // `queries_elided` count so the subset can never be mistaken for
    // the full map (which is one line above, in full, and in the
    // artifact file). Additive only: the full contract line is
    // unchanged, still prints first, and still carries every query.
    val compactBudget = 1500
    val slowest = merged.sortBy { case (k, v) => (-v, k) }
    val topEntries = new scala.collection.mutable.ArrayBuffer[String]()
    def compactLine(elided: Int): String =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","load":$entryLoad%.2f,"captured":${results.size},"failed":$failedJson,$stealJson"queries_elided":$elided,"queries":${topEntries.mkString("{", ",", "}")},"sf":"$sfDir"}"""
    var compactLen = compactLine(merged.size).length
    slowest.foreach { case (k, v) =>
      val e = "\"" + k + f"\":$v%.3f"
      if (compactLen + e.length + 1 <= compactBudget) {
        topEntries += e; compactLen += e.length + 1
      }
    }
    println(compactLine(merged.size - topEntries.size))
    // the full JSON also lands in a file: the driver's stdout capture
    // has truncated long lines (BENCH_r03 lost the TPC-H head)
    try {
      java.nio.file.Files.write(outPath,
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write bench file: ${e.getMessage}")
    }
    spark.stop()
  }
}
