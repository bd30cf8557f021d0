package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.core.{Caches, Scratch, Tables}
import graft.functions.TextFns
import graft.io.JsonIO
import graft.operators.{Clustering, Dedup, Scorers, Selection}
import graft.streaming.EventStreams

/** What one op produced. `rows` is evaluated after the op's timer
  * stopped: for a registry query it returns the rows the op collected,
  * for an op whose result is a file it reads the file back. */
final class OpResult(val rows: () => Array[Row], val schema: () => StructType,
                     val buildSeconds: Option[Double], val extra: Map[String, Double])

/** One timed operation over `records` input records. `run(traced =
  * true)` runs the traced stage composition instead of the plain call;
  * both must produce the same rows. */
final case class Op(name: String, registryQuery: Option[String], records: Long,
                    run: Boolean => OpResult)

object Workloads {
  val registryQueries: Seq[String] =
    Seq("q_curate_sink", "q_curate_incremental", "q_stream_curate")

  // The constants the registry's curation queries use (NorthStarQueries
  // MhK / MhBands, threshold, shingle size, band, sink salt). The traced
  // compositions must match them; the digest check fails if they drift.
  val ShingleN = 3
  val MhK = 12
  val MhBands = 4
  val Threshold = 0.5
  val SinkSalt = 64
  // DataS selection: KMeans clusters and stride-sample size per cluster
  val Clusters = 10
  val SamplePerCluster = 100

  /** A traced run (`tracer` defined) may add ops of its own. */
  def apply(name: String, spark: SparkSession, input: String, work: Path,
            tracer: Option[Tracer]): Workloads = name match {
    case "curate_batch"  => new Curate(spark, input, work, tracer)
    case "select_scored" => new SelectScored(spark, input, work, tracer)
    case other           => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Order-independent digest of a result: each row rendered with its
    * columns in name order, rows sorted, md5 over the lines. */
  def digest(rows: Array[Row], names: Seq[String]): String = {
    val order = names.zipWithIndex.sortBy(_._1).map(_._2)
    def cell(v: Any): String = v match {
      case null                   => "\u0001"
      case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
      case a: Array[_]            => a.map(cell).mkString("[", ",", "]")
      case other                  => other.toString
    }
    val lines = rows.map(r => order.map(i => cell(r.get(i))).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** A workload: its ops, and the per-layer metrics its traced ops produce. */
abstract class Workloads(val spark: SparkSession, val input: String,
                         val work: Path, val tracer: Option[Tracer]) {
  import Workloads._

  def ops: Seq[Op]

  private val tmpDir = Paths.get(System.getProperty("java.io.tmpdir"))
  private var lastEntries = tmpEntries()
  private var lastTmpDir = du(tmpDir)
  private var cachedPeak = 0L
  private var warming = true
  /** Per op: (bytes left in the temp locations, the part under /tmp/graft_stream_*) */
  val tmpLeft = mutable.ArrayBuffer[(Long, Long)]()

  /** What graft creates directly in /tmp: its graft_* entries and the
    * entries inside them (listed, not walked, so a large /tmp stays cheap). */
  private def tmpEntries(): Set[Path] = {
    val top = listDir(Paths.get("/tmp")).filter(_.getFileName.toString.startsWith("graft_"))
    (top ++ top.flatMap(listDir)).toSet
  }

  private def listDir(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Nil
    else { val s = Files.list(p); try s.iterator.asScala.toList finally s.close() }

  protected def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(f =>
        try Files.size(f) catch { case _: java.io.IOException => 0L }).sum
      finally s.close()
    }

  protected def countFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.count(f => Files.isRegularFile(f) &&
        !f.getFileName.toString.startsWith(".") &&
        !f.getFileName.toString.startsWith("_")).toLong
      finally s.close()
    }

  /** Release what an op cached and record the temp bytes it left: the
    * entries that are new in /tmp, and the growth of java.io.tmpdir. */
  def afterOp(): Unit = {
    Caches.releaseAll()
    spark.catalog.clearCache()
    val entries = tmpEntries()
    val fresh = entries -- lastEntries
    val roots = fresh.toSeq.filterNot(p => fresh.contains(p.getParent))
    val dirNow = du(tmpDir)
    tmpLeft += ((roots.map(du).sum + dirNow - lastTmpDir,
      roots.filter(_.toString.startsWith("/tmp/graft_stream_")).map(du).sum))
    lastEntries = entries
    lastTmpDir = dirNow
  }

  /** Set-up is over: later root spans belong to timed ops. */
  def afterSetup(): Unit = {
    tmpLeft.clear()
    warming = false
  }

  // --------------------------------------------------------------- tracing
  protected def span[T](name: String)(body: => T): T =
    tracer.fold(body)(_.span(name)(body))

  /** Materialize a stage inside the current span, so its cost is charged
    * there and not to whichever later stage first consumes it. */
  protected def force(df: DataFrame): (DataFrame, Long) = {
    val c = Caches.track(df)
    val n = c.count()
    val stored = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    cachedPeak = math.max(cachedPeak, stored)
    (c, n)
  }

  /** Run an op under a root span; the plain run of a registry query is
    * just the query, so its Spark counters belong to the query. */
  protected def root(opName: String, traced: Boolean)(body: => OpResult): OpResult =
    tracer match {
      case None => body
      case Some(t) =>
        t.opId += 1
        val kind = if (warming) ".warmup" else if (traced) ".traced" else ""
        t.span(s"op.$opName$kind")(body)
    }

  /** The plain run of a registry query: build the DataFrame (including
    * whatever the query runs eagerly), then collect it. */
  protected def registry(opName: String, query: String, traced: Boolean)(
      tracedBody: => OpResult): OpResult =
    root(opName, traced) {
      if (traced) tracedBody
      else {
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(query)(spark, input)
        val build = (System.nanoTime() - t0) / 1e9
        val rows = df.collect()
        new OpResult(() => rows, () => df.schema, Some(build), Map.empty)
      }
    }

  protected def collected(df: DataFrame, extra: Map[String, Double]): OpResult = {
    val rows = df.collect()
    new OpResult(() => rows, () => df.schema, None, extra)
  }

  // ------------------------------------------------------- layer metrics
  /** Seconds spent building persisted state in set-up. */
  def scratchBuildSeconds: Double = 0.0

  /** Files the op wrote to its sink, counted after it ran. */
  def outputFiles(opName: String): Long = 0L

  /** Per-layer metrics of a traced run. Self times and Spark counters
    * are per cycle of traced ops, and counts an op reports are per op run.
    * `queries.<op>.*` come from the op's plain timed runs. Every metric is
    * always emitted; layers a workload never calls read 0. */
  def layerMetrics(records: Seq[Map[String, Any]]): Map[String, Double] = tracer match {
    case None => Map.empty
    case Some(t) =>
      t.drain()
      val m = mutable.LinkedHashMap[String, Double]()
      val rootSpans = t.spans.filter(_.parent == -1)
      val tracedRoots = rootSpans.filter(_.name.endsWith(".traced"))
      // self times and counts are per cycle (one traced run of every op)
      val nTraced = math.max(records.filter(_("traced") == true).map(_("cycle")).distinct.size,
        1).toDouble
      def tracedSpans(name: String) =
        t.spans.filter(s => s.name == name && tracedRoots.exists(_.opId == s.opId))
      def self(name: String): Double = tracedSpans(name).map(t.selfSeconds).sum / nTraced
      def ctr(name: String)(f: Counters => Long): Double =
        tracedSpans(name).map(s => f(t.counters(s.id))).sum.toDouble / nTraced
      def strm(f: StreamCounters => Long): Double =
        tracedSpans("streaming.EventStreams.streamingCurateFeed")
          .map(s => f(t.stream(s.id))).sum.toDouble / nTraced
      // op-reported counts are per op run that reports them
      def extraOf(traced: Boolean)(k: String): Double = {
        val v = records.filter(r => r("traced") == traced && r("ok") == true)
          .flatMap(_.get("extra").map(_.asInstanceOf[Map[String, Double]]))
          .flatMap(_.get(k))
        if (v.isEmpty) 0.0 else v.sum / v.size
      }
      val extra = extraOf(traced = true) _

      val D = "operators.Dedup"
      Seq("exactDedup", "nearDupPairs", "connectedComponents", "bandedSignatures",
          "incrementalNearDupPairs").foreach(f => m(s"$D.$f.self_s") = self(s"$D.$f"))
      m(s"$D.exactDedup.rows_in") = extra("exact_rows_in")
      m(s"$D.exactDedup.rows_out") = extra("exact_rows_out")
      m(s"$D.nearDupPairs.shuffle_write_bytes") = ctr(s"$D.nearDupPairs")(_.shuffleWrite)
      m(s"$D.nearDupPairs.spill_bytes") = ctr(s"$D.nearDupPairs")(_.spill)
      m(s"$D.lsh.candidates") = extra("lsh_candidates")
      m(s"$D.lsh.kept") = extra("lsh_kept")
      m(s"$D.lsh.verify_yield") =
        if (extra("lsh_candidates") > 0) extra("lsh_kept") / extra("lsh_candidates") else 0.0
      m(s"$D.connectedComponents.rounds") = extra("cc_rounds")
      m(s"$D.connectedComponents.jobs") = ctr(s"$D.connectedComponents")(_.jobs)
      m("functions.TextFns.qualityScore.self_s") = self("functions.TextFns.qualityScore")
      m("functions.TextFns.shinglesDistinct.self_s") = self("functions.TextFns.shinglesDistinct")
      val S = "operators.Selection"
      m(s"$S.percentileBand.self_s") = self(s"$S.percentileBand")
      m(s"$S.percentileBand.shuffle_write_bytes") = ctr(s"$S.percentileBand")(_.shuffleWrite)
      m(s"$S.strideSample.self_s") = self(s"$S.strideSample")
      val Sc = "operators.Scorers"
      m(s"$Sc.ifdPipeline.self_s") = self(s"$Sc.ifdPipeline")
      m(s"$Sc.withModelScores.self_s") = self(s"$Sc.withModelScores")
      val scoreS = m(s"$Sc.ifdPipeline.self_s") + m(s"$Sc.withModelScores.self_s")
      m(s"$Sc.rows_per_s") = if (scoreS > 0) extra("scored_rows") / scoreS else 0.0
      // counted on the plain op: the traced one forces each stage once,
      // which hides re-scoring by later stages
      m(s"$Sc.backend_inits") = extraOf(traced = false)("backend_inits")
      m("operators.Clustering.kmeansLabels.self_s") = self("operators.Clustering.kmeansLabels")
      m("operators.Clustering.kmeansLabels.jobs") =
        ctr("operators.Clustering.kmeansLabels")(_.jobs)
      m("io.JsonIO.readAlpaca.self_s") = self("io.JsonIO.readAlpaca")
      m("io.JsonIO.readAlpaca.bytes_read_per_file_byte") =
        if (extra("input_file_bytes") > 0)
          ctr("io.JsonIO.readAlpaca")(_.inputBytes) / extra("input_file_bytes")
        else 0.0
      m("io.JsonIO.writeJson.self_s") = self("io.JsonIO.writeJson")
      m("io.JsonIO.writeJson.bytes_written") = ctr("io.JsonIO.writeJson")(_.outputBytes)
      val E = "streaming.EventStreams"
      m(s"$E.streamingCurateFeed.self_s") = self(s"$E.streamingCurateFeed")
      m(s"$E.streamingCurateFeed.batches") = strm(_.batches)
      m(s"$E.streamingCurateFeed.batch_ms") = strm(_.batchMs)
      m(s"$E.streamingCurateFeed.plan_ms") = strm(_.planMs)
      m(s"$E.streamingCurateFeed.commit_ms") = strm(_.commitMs)
      m(s"$E.streamingCurateFeed.input_rows") = strm(_.inputRows)
      val streamLeft = records.zip(tmpLeft).filter(_._1("op") == "absorb_stream").map(_._2._2)
      m(s"$E.tmp_bytes_left") =
        if (streamLeft.isEmpty) 0.0 else streamLeft.sum.toDouble / streamLeft.size

      val cg = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      m("plans.codegen.classes") = cg.getCount.toDouble
      m("plans.codegen.compile_ms") = cg.getCount * cg.getSnapshot.getMean

      val plainRoots = rootSpans.filterNot(s => s.name.endsWith(".traced") ||
        s.name.endsWith(".warmup"))
      val plainRecs = records.filter(r => r("traced") == false && r("ok") == true)
      m("core.Tables.scan_bytes") =
        if (plainRoots.isEmpty) 0.0
        else plainRoots.map(s => t.counters(s.id).inputBytes).sum.toDouble / plainRoots.size
      m("core.Scratch.build_s") = scratchBuildSeconds
      m("core.Caches.cached_bytes_peak") = cachedPeak.toDouble

      for (op <- Seq("curate", "absorb", "absorb_stream", "select")) {
        val recs = plainRecs.filter(_("op") == op)
        val roots = plainRoots.filter(_.name == s"op.$op")
        val n = math.max(roots.size, 1).toDouble
        def q(f: Counters => Long): Double = roots.map(s => f(t.counters(s.id))).sum / n
        def rec(k: String): Double =
          if (recs.isEmpty) 0.0 else recs.map(_(k).asInstanceOf[Double]).sum / recs.size
        val b = if (recs.isEmpty) 0.0
          else recs.flatMap(_("build_s").asInstanceOf[Option[Double]]).sum / recs.size
        m(s"queries.$op.build_s") = b
        m(s"queries.$op.act_s") = if (recs.isEmpty) 0.0 else rec("wall_s") - b
        m(s"queries.$op.jobs") = q(_.jobs)
        m(s"queries.$op.stages") = q(_.stages)
        m(s"queries.$op.tasks") = q(_.tasks)
        m(s"queries.$op.executor_run_s") = q(_.runMs) / 1e3
        m(s"queries.$op.executor_cpu_s") = q(_.cpuNs) / 1e9
        m(s"queries.$op.gc_s") = q(_.gcMs) / 1e3
        m(s"queries.$op.shuffle_read_bytes") = q(_.shuffleRead)
        m(s"queries.$op.shuffle_write_bytes") = q(_.shuffleWrite)
        m(s"queries.$op.spill_bytes") = q(_.spill)
        m(s"queries.$op.output_bytes") = q(_.outputBytes)
        m(s"queries.$op.output_files") =
          if (recs.isEmpty) 0.0
          else recs.map(_.getOrElse("output_files", 0L).asInstanceOf[Long]).sum.toDouble / recs.size
      }
      m.toMap
  }
}

/** `curate_batch`: the whole curation job, `q_curate_sink`. Its traced
  * run adds the day-2 update of the same corpus from persisted v0 state,
  * `q_curate_incremental` and its stream form `q_stream_curate`: the
  * only ops that drive `streaming`, and too slow to time on every run. */
final class Curate(spark: SparkSession, input: String, work: Path, tracer: Option[Tracer])
    extends Workloads(spark, input, work, tracer) {
  import Workloads._

  private val (docCount, deltaCount) = {
    val r = spark.read.parquet(s"$input/documents.parquet")
      .agg(count(lit(1)), count(when(col("doc_id") % 10 === 0, 1))).head()
    (r.getLong(0), r.getLong(1))
  }

  val ops: Seq[Op] = Op("curate", Some("q_curate_sink"), docCount,
      traced => registry("curate", "q_curate_sink", traced)(tracedCurate())) +:
    (if (tracer.isEmpty) Nil else Seq(
      Op("absorb", Some("q_curate_incremental"), deltaCount,
        traced => registry("absorb", "q_curate_incremental", traced)(tracedAbsorb())),
      Op("absorb_stream", Some("q_stream_curate"), deltaCount,
        traced => registry("absorb_stream", "q_stream_curate", traced)(tracedStream()))))

  // The v0 state is built inside the first absorb run, by graft's
  // Scratch.buildOnce; its build time is read from outside, as the time
  // from the state directory's creation until its last table committed.
  private val stateWatch = new java.util.concurrent.atomic.AtomicLongArray(2)
  private val watcher = new Thread(() => {
    val root = Paths.get(state)
    val done = root.resolve("scored").resolve("_SUCCESS")
    while (stateWatch.get(1) == 0L) {
      val now = System.nanoTime()
      if (stateWatch.get(0) == 0L && Files.exists(root)) stateWatch.set(0, now)
      if (Files.exists(done)) stateWatch.set(1, now)
      Thread.sleep(10)
    }
  })
  watcher.setDaemon(true)
  if (tracer.isDefined) watcher.start()

  override def scratchBuildSeconds: Double =
    if (stateWatch.get(1) == 0L) 0.0 else (stateWatch.get(1) - stateWatch.get(0)) / 1e9

  override def outputFiles(opName: String): Long =
    if (opName == "curate") countFiles(Paths.get(Scratch.pathFor("curated_sink", input)))
    else 0L

  /** `q_curate_sink` (curatedBand, then the partitioned sink and its
    * pruned read-back), one span per layer call. */
  private def tracedCurate(): OpResult = {
    val docs = Tables.documents(spark, input)
    val (reps, nReps) = span("operators.Dedup.exactDedup") {
      force(Dedup.exactDedup(docs.select(col("doc_id"), col("text"), col("lang")),
        "doc_id", Seq("text")))
    }
    var nCands = 0L
    val (pairs, nKept) = span("operators.Dedup.nearDupPairs") {
      // nearDupPairs' own body, split so shingling is charged to TextFns
      // and the candidate count is observable
      val (sets, _) = span("functions.TextFns.shinglesDistinct") {
        force(reps.select(col("doc_id"),
          TextFns.shinglesDistinct(col("text"), ShingleN).as("shset")))
      }
      val ids = sets.select(col("doc_id"), explode(col("shset")).as("sh"))
        .withColumn("wid", Dedup.md5Wid(col("sh")))
      val sigs = Dedup.minhashSignatures(ids, "doc_id", "wid", MhK)
      val (cands, nc) = force(Dedup.lshCandidatePairsNative(sigs, "doc_id", MhBands,
        MhK / MhBands))
      nCands = nc
      force(Dedup.jaccardForPairsAdaptive(cands, sets, "doc_id", "shset")
        .where(col("jaccard") >= Threshold)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard")))
    }
    val (comps, rounds) = span("operators.Dedup.connectedComponents") {
      Dedup.connectedComponentsWithIters(pairs, "id_a", "id_b")
    }
    val dropIds = comps.where(col("id") =!= col("comp")).select(col("id").as("doc_id"))
    val (curated, _) = force(reps.join(dropIds, Seq("doc_id"), "left_anti"))
    val (scored, _) = span("functions.TextFns.qualityScore") {
      force(curated.select(col("doc_id"), col("lang"),
        TextFns.qualityScore(col("text")).as("quality")))
    }
    val (band, _) = span("operators.Selection.percentileBand") {
      force(Selection.percentileBand(scored, "lang", "quality", 0.25, 0.75,
        minGroupSize = 20))
    }
    val out = work.resolve("traced_sink").toString
    span("queries.curate.sink_write") {
      band.select(col("doc_id"), col("quality"), col("lang"))
        .repartition(col("lang"), pmod(xxhash64(col("doc_id")), lit(SinkSalt)))
        .write.mode("overwrite").partitionBy("lang").parquet(out)
    }
    val back = spark.read.parquet(out).where(col("lang") === "en")
      .select(col("doc_id"), col("lang"), col("quality")).orderBy(col("doc_id"))
    collected(back, Map("exact_rows_in" -> docCount.toDouble,
      "exact_rows_out" -> nReps.toDouble, "lsh_candidates" -> nCands.toDouble,
      "lsh_kept" -> nKept.toDouble, "cc_rounds" -> rounds.toDouble))
  }

  private def state: String = Scratch.pathFor("curate_v0_state", input)
  private def docs = Tables.documents(spark, input)

  private def relabel(changed: DataFrame)(df: DataFrame, c: String): DataFrame =
    df.join(broadcast(changed.select(col("_old").as(c), col("_new"))), Seq(c), "left")
      .withColumn(c, coalesce(col("_new"), col(c))).drop("_new")

  private def ordered(df: DataFrame): DataFrame =
    df.select(least(col("id_a"), col("id_b")).as("id_a"),
      greatest(col("id_a"), col("id_b")).as("id_b"))

  /** Family merge, relabel, CC and band shared by both absorb paths.
    * `newPairs(newFams, relabel)` returns the pairs that touch a new
    * family; `relabel(df, column)` maps ids whose family rep changed. */
  private def assemble(dfam: DataFrame,
                       newPairs: (DataFrame, (DataFrame, String) => DataFrame) => DataFrame)
      : OpResult = {
    val j = spark.read.parquet(s"$state/fam").join(dfam, Seq("digest"), "full_outer")
    val (changed, _) = force(j.where(col("rep").isNotNull && col("dmin") < col("rep"))
      .select(col("rep").as("_old"), col("dmin").as("_new"), col("dlang").as("_nlang")))
    val (newFams, _) = force(j.where(col("rep").isNull)
      .select(col("dmin").as("doc_id"), col("dtext").as("text"), col("dlang").as("lang")))
    val rl = relabel(changed) _
    val pairs0r = ordered(rl(rl(spark.read.parquet(s"$state/pairs"), "id_a"), "id_b"))
    val pairsAll = pairs0r.unionByName(newPairs(newFams, rl))
    val scored0r = spark.read.parquet(s"$state/scored")
      .join(broadcast(changed.select(col("_old").as("doc_id"), col("_new"), col("_nlang"))),
        Seq("doc_id"), "left")
      .select(coalesce(col("_new"), col("doc_id")).as("doc_id"),
        coalesce(col("_nlang"), col("lang")).as("lang"), col("quality"))
    val (scoredNew, _) = span("functions.TextFns.qualityScore") {
      force(newFams.select(col("doc_id"), col("lang"),
        TextFns.qualityScore(col("text")).as("quality")))
    }
    val (comps, rounds) = span("operators.Dedup.connectedComponents") {
      Dedup.connectedComponentsWithIters(pairsAll, "id_a", "id_b")
    }
    val dropIds = comps.where(col("id") =!= col("comp")).select(col("id").as("doc_id"))
    val (curated, _) = force(scored0r.unionByName(scoredNew)
      .join(dropIds, Seq("doc_id"), "left_anti"))
    val (band, _) = span("operators.Selection.percentileBand") {
      force(Selection.percentileBand(curated, "lang", "quality", 0.25, 0.75,
        minGroupSize = 20))
    }
    collected(band.select(col("doc_id"), col("lang"), col("quality")).orderBy(col("doc_id")),
      Map("cc_rounds" -> rounds.toDouble))
  }

  /** `q_curate_incremental` with one span per layer call. */
  private def tracedAbsorb(): OpResult = {
    val delta = docs.select(col("doc_id"), col("text"), col("lang"))
      .where(col("doc_id") % 10 === 0)
    val (dfam, _) = force(delta.groupBy(md5(col("text")).as("digest"))
      .agg(min(col("doc_id")).as("dmin"), min_by(col("lang"), col("doc_id")).as("dlang"),
        min_by(col("text"), col("doc_id")).as("dtext")))
    assemble(dfam, { (newFams, rl) =>
      val (newBanded, _) = span("operators.Dedup.bandedSignatures") {
        force(Dedup.bandedSignatures(newFams, "doc_id", "text", n = ShingleN, k = MhK,
          bands = MhBands))
      }
      val allSets = spark.read.parquet(s"$state/sets")
        .unionByName(Dedup.shingleSets(newFams, "doc_id", "text", n = ShingleN))
      val (inc, _) = span("operators.Dedup.incrementalNearDupPairs") {
        force(Dedup.incrementalNearDupPairs(newBanded, spark.read.parquet(s"$state/banded"),
          allSets, "doc_id", threshold = Threshold).select(col("id_a"), col("id_b")))
      }
      ordered(rl(rl(inc, "id_a"), "id_b"))
    })
  }

  /** `q_stream_curate` (4 micro-batches) with one span per layer call. */
  private def tracedStream(): OpResult = {
    val (famCands, streamPairs) = span("streaming.EventStreams.streamingCurateFeed") {
      val r = EventStreams.streamingCurateFeed(spark, input, state, n = ShingleN, k = MhK,
        bands = MhBands, threshold = Threshold, parts = 4)
      tracer.foreach(_.drain())
      r
    }
    val (dfam, _) = force(famCands.groupBy(col("digest"))
      .agg(min(col("dmin")).as("dmin"), min_by(col("dlang"), col("dmin")).as("dlang"),
        min_by(col("dtext"), col("dmin")).as("dtext")))
    assemble(dfam, { (newFams, rl) =>
      val streamMapped = ordered(rl(streamPairs.distinct()
        .join(dfam.select(col("digest"), col("dmin")), Seq("digest"))
        .select(col("dmin").as("id_a"), col("store_id").as("id_b")), "id_b"))
      val (newnew, _) = span("operators.Dedup.nearDupPairs") {
        force(ordered(Dedup.nearDupPairs(newFams.select(col("doc_id"), col("text")),
          "doc_id", "text", n = ShingleN, k = MhK, bands = MhBands, threshold = Threshold)))
      }
      streamMapped.unionByName(newnew)
    })
  }
}

/** `select_scored`: the DataS selection flow over an alpaca JSONL file —
  * read, IFD and model scores, KMeans clusters, per-cluster band and
  * stride sample, JSON sink. Not a registry query: its output is checked
  * against the untimed reference run. */
final class SelectScored(spark: SparkSession, input: String, work: Path,
                         tracer: Option[Tracer])
    extends Workloads(spark, input, work, tracer) {
  import Workloads._

  private val path = s"$input/alpaca.jsonl"
  private val fileBytes = Files.size(Paths.get(path))
  private val rowCount = spark.read.text(path).count()
  private val out = work.resolve("selected_json")

  // counts backend inits (one per scored partition) across executors
  private val inits = spark.sparkContext.longAccumulator("perfbench.backend_inits")

  val ops: Seq[Op] = Seq(Op("select", None, rowCount,
    traced => root("select", traced)(select(traced))))

  override def outputFiles(opName: String): Long = countFiles(out)

  private def select(traced: Boolean): OpResult = {
    val acc = inits
    acc.reset()
    val make: () => Scorers.ModelBackend = () => { acc.add(1); new Scorers.ProxyBackend(42L) }
    def stage(df: => DataFrame): (DataFrame, Long) =
      if (traced) force(df) else (df, -1L)
    // the plain run opens no layer spans, so all its jobs count for the op
    def layer[T](name: String)(body: => T): T = if (traced) span(name)(body) else body
    val (alpaca, _) = layer("io.JsonIO.readAlpaca") { stage(JsonIO.readAlpaca(spark, path)) }
    val withId = alpaca.withColumn("row_id",
      xxhash64(col("instruction"), col("input"), col("output")))
    val (ifd, _) = layer("operators.Scorers.ifdPipeline") {
      stage(Scorers.ifdPipeline(withId, make).where(col("score_ifd").isNotNull))
    }
    val (scored, nScored) = layer("operators.Scorers.withModelScores") {
      stage(Scorers.withModelScores(ifd, "instruction", make))
    }
    val selected =
      if (!traced)
        Clustering.clusterAndSelect(scored, "row_id", "emb_ins_alone", "score_ifd",
          Clusters, SamplePerCluster)
      else {
        // clusterAndSelect's body, one span per call
        val (labeled, _) = layer("operators.Clustering.kmeansLabels") {
          force(Clustering.kmeansLabels(scored, "emb_ins_alone", Clusters))
        }
        val (band, _) = layer("operators.Selection.percentileBand") {
          force(Selection.percentileBand(labeled, "cluster", "score_ifd", 0.25, 0.75,
            minGroupSize = SamplePerCluster.toLong * 2))
        }
        layer("operators.Selection.strideSample") {
          force(Selection.strideSample(band, "cluster", "row_id", SamplePerCluster))._1
        }
      }
    layer("io.JsonIO.writeJson") {
      JsonIO.writeJson(selected.select(col("row_id"), col("cluster"), col("score_ifd"),
        col("instruction"), col("input"), col("output")), out.toString)
    }
    val extra = Map("input_file_bytes" -> fileBytes.toDouble,
      "scored_rows" -> nScored.toDouble, "backend_inits" -> acc.value.toDouble)
    lazy val back = spark.read.json(out.toString)
    new OpResult(() => back.collect(), () => back.schema, None, extra)
  }
}
