package graft

import java.math.RoundingMode
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.DataFrame

import graft.core.Harness

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query and
  * total wall-clock seconds. Results are fully materialized through a
  * noop sink (count() would let Catalyst prune whole subtrees). A
  * small untimed warmup absorbs JVM/codegen cold-start so the first
  * alphabetical query isn't charged for JIT. Every query run goes
  * through [[Harness]]; stderr gets one line per query with the
  * min-wall iteration's build and act seconds and its Spark job count.
  */
object Bench {
  /** A bench artifact's mergeable part: per-query seconds sorted by
    * name, the capture note, and the codec-family names that got the
    * untimed warm-up pass. */
  final case class Merged(queries: Seq[(String, Double)], note: Option[String],
                          warmed: Seq[String])

  private val Partial = "; +partial merges"

  private val json = new ObjectMapper()

  private def dec(v: Double, scale: Int): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(v).setScale(scale, RoundingMode.HALF_UP)

  /** Merge this run into the `prior` artifact's text instead of
    * replacing it: a targeted recapture (SPARK_GRAFT_ONLY) must never
    * delete suite-wide evidence (r11's last three commits each
    * replaced the committed 189-query artifact with a single-query
    * recapture). `runs` holds each query run this time, with its
    * seconds or None if it failed.
    *  - A query run this time replaces its prior entry: latest
    *    measurement wins (min-merging would let stale fast times hide
    *    a real regression), and a failed one leaves no entry, since an
    *    old timing must not stand in for a crash.
    *  - Queries not run keep their prior entries; keys no longer in
    *    `registered` are dropped.
    *  - A prior artifact from a different `sfDir`, or one that does not
    *    parse, is ignored wholesale.
    *  - The capture note is `note` when given. Otherwise the prior note
    *    carries forward, marked "+partial merges" only when a prior
    *    entry this run did not recapture survives (a full recapture is
    *    not a partial merge).
    *  - `warmed` is the union of the prior and current warmed names,
    *    restricted to the merged keys: a surviving prior timing keeps
    *    its warm-up marker, and a name dropped from the registry drops
    *    with it. */
  def merge(prior: Option[String], sfDir: String, registered: Set[String],
            runs: Seq[(String, Option[Double])], warmed: Seq[String],
            note: Option[String]): Merged = {
    val p = prior.flatMap(t => Try(json.readTree(t)).toOption)
      .filter(_.path("sf").asText() == sfDir)
    val priorQueries = p.toSeq.flatMap(_.path("queries").properties().asScala
      .map(e => e.getKey -> e.getValue.asDouble())).toMap
    val survivors = priorQueries.keySet.intersect(registered).diff(runs.map(_._1).toSet)
    val queries = (priorQueries.view.filterKeys(survivors).toMap ++
      runs.collect { case (k, Some(v)) => k -> v }).toSeq.sortBy(_._1)
    val priorNote = p.map(_.path("capture")).filter(_.isTextual).map(_.asText())
    val priorWarmed = p.toSeq.flatMap(_.path("warmed").asScala.map(_.asText()))
    Merged(queries,
      note.orElse(priorNote.map(n =>
        if (survivors.isEmpty || n.endsWith(Partial)) n else n + Partial)),
      (priorWarmed ++ warmed).distinct.filter(queries.map(_._1).toSet).sorted)
  }

  /** The two stdout lines. The first is the full contract line, also
    * written to the artifact. The total leads it, so a tail-truncated
    * capture still loses only per-query detail, never the headline
    * number. `warmed` records which queries got the untimed
    * codec-family warm-up pass (since r10), so cross-round comparisons
    * don't read their timings raw against pre-warm-up rounds. A
    * capture taken on a busy host is stamped `steal_suspect`, not just
    * warned about.
    *
    * The second, compact line is for the driver's tail capture: every
    * recorded BENCH_r*.json keeps only the LAST ~2000 chars of stdout,
    * and the full line (~7 KB for 225 queries) never fits. It carries
    * the same contract fields, with `queries` restricted to the
    * slowest entries that fit a 1500-char budget and an explicit
    * `queries_elided` count, so the subset can never be mistaken for
    * the full map. */
  def lines(m: Merged, sfDir: String, load: Double,
            runs: Seq[(String, Option[Double])]): (String, String) = {
    def head(): ObjectNode = {
      val o = json.createObjectNode().put("metric", "total")
        .put("value", dec(m.queries.map(_._2).sum, 3)).put("unit", "sec")
        .put("load", dec(load, 2)).put("captured", runs.count(_._2.isDefined))
      val failed = o.putArray("failed")
      runs.collect { case (k, None) => k }.foreach(failed.add)
      if (load > 4.0) o.put("steal_suspect", true)
      o
    }
    val full = head()
    m.note.foreach(full.put("capture", _))
    val warmed = full.putArray("warmed")
    m.warmed.foreach(warmed.add)
    val all = full.putObject("queries")
    m.queries.foreach { case (k, v) => all.put(k, dec(v, 3)) }
    full.put("sf", sfDir)

    val compact = head().put("queries_elided", m.queries.size)
    val top = compact.putObject("queries")
    compact.put("sf", sfDir)
    m.queries.sortBy { case (k, v) => (-v, k) }.foreach { case (k, v) =>
      top.put(k, dec(v, 3))
      if (compact.toString.length > 1500) top.remove(k)
    }
    compact.put("queries_elided", m.queries.size - top.size)
    (full.toString, compact.toString)
  }

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
      try Files.readString(Paths.get("/proc/loadavg"))
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
    val selected = Harness.select(only)
    val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

    // codec-family JIT warm-up: the byte-level media decoders are
    // megamorphic interpreter-heavy paths whose in-suite wall time
    // swung 0.66–7.0 s across idle runs of IDENTICAL code purely on
    // JIT warm-up ordering (PROFILE_r09). One untimed pass per codec
    // query pins the compiled state before any timed iteration, so
    // cross-round bench diffs on this family measure code, not C2.
    val codecFamily = Set("q_video_frames_real", "q_media_features_real",
      "q_image_pixels", "q_audio_energy", "q_multimodal_features")
    val warm = selected.filter { case (name, _) => codecFamily(name) }
    warm.foreach { case (name, build) =>
      // a broken codec query must not pass warm-up silently (the timed
      // pass below will surface it too)
      Harness.run(spark, sfDir, build)(noop).left.foreach(e =>
        System.err.println(s"[bench] warm-up $name failed: ${e.getMessage}"))
    }

    // A query that throws is FAILED: it is listed in `failed`, gets no
    // timing (a crash must never read as a speedup) and skips its
    // remaining iterations.
    val runs = selected.map { case (name, build) =>
      val (ok, failure) = LazyList.fill(iters)(Harness.run(spark, sfDir, build)(noop))
        .span(_.isRight)
      failure.headOption.foreach(_.left.foreach(e =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")))
      val best = Option.when(failure.isEmpty)(ok.collect { case Right(r) => r }.minBy(_.wallS))
      best.foreach(r => System.err.println(
        f"[bench] $name build_s=${r.buildS}%.3f act_s=${r.actS}%.3f jobs=${r.jobs}"))
      name -> best.map(_.wallS)
    }
    // Default artifact is the UNTRACKED BENCH_RUN.json (gitignored):
    // the committed idle evidence is BENCH_LOCAL.json, written only
    // when a capture explicitly targets it via SPARK_GRAFT_BENCH_OUT
    // (verify skill step 8). This keeps a contended driver/CI run from
    // silently replacing the curated capture at the round-end commit
    // (r11: the driver's load-6.4 capture overwrote the committed
    // idle artifact) while the stdout JSON line the driver records is
    // unchanged.
    val outPath = Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_RUN.json"))
    val prior = Try(Option.when(Files.exists(outPath))(Files.readString(outPath)))
      .toOption.flatten
    val merged = merge(prior, sfDir, SparkEntry.queries.keySet, runs, warm.map(_._1),
      sys.env.get("SPARK_GRAFT_BENCH_NOTE"))
    val (full, compact) = lines(merged, sfDir, entryLoad, runs)
    println(full)
    println(compact)
    // the full JSON also lands in a file: the driver's stdout capture
    // has truncated long lines (BENCH_r03 lost the TPC-H head)
    try Files.write(outPath, full.getBytes(UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write bench file: ${e.getMessage}")
    }
    spark.stop()
  }
}
