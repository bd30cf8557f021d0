package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark JVM. One process, one client, a closed loop: each op starts
  * only after the previous one finished and its output was checked.
  *
  * {{{
  * Main run <workload> <inputDir> <seconds> <trace 0|1> <workDir> <out.json> <deadlineEpochMs>
  * Main oracle <out.json>
  * }}}
  *
  * `run` sets up (Spark session, then one untimed reference run of every
  * op, which also builds any persisted state, and in an untraced run
  * [[ExtraWarmups]] more), then runs timed ops until `seconds` have
  * passed (in an untraced run with a [[HostReference]] run before each
  * and after the last), and writes one JSON record to `out.json`. The
  * reference run's output is written as parquet under `workDir/ref` for
  * the oracle check the caller makes; every timed op's output must match
  * the reference digest, or the op counts as failed and is not timed.
  *
  * `oracle` writes the DuckDB oracle SQL of the registry queries the
  * workloads run.
  */
object Main {
  /** Untimed runs of every op after the reference run (untraced runs). */
  val ExtraWarmups = 2

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("oracle", out) =>
      val sql = Workloads.registryQueries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap
      Files.writeString(Paths.get(out), json(sql))
    case Seq("run", workload, input, seconds, trace, work, out, deadline) =>
      run(workload, input, seconds.toDouble, trace == "1", Paths.get(work), Paths.get(out),
        deadline.toLong)
    case _ =>
      System.err.println("usage: Main run <workload> <input> <seconds> <trace> <workDir> <out> <deadlineMs> | oracle <out>")
      sys.exit(2)
  }

  private def run(workload: String, input: String, seconds: Double,
                  traced: Boolean, work: Path, out: Path, deadlineMs: Long): Unit = {
    val cpus = Runtime.getRuntime.availableProcessors
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    (graft.core.Tables.SessionConfigs ++ graft.core.Tables.HarnessConfigs)
      .foreach { case (k, v) => builder.config(k, v) }
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sparkReadyMs = System.currentTimeMillis()

    val tracer = if (traced) Some(new Tracer(spark.sparkContext)) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.streams.addListener(t.streamListener)
    }
    val w = Workloads(workload, spark, input, work, tracer)
    // only end-to-end times are scaled; a traced run has none
    val hostRef = if (traced) None else Some(new HostReference(spark, cpus))

    val warmups = mutable.ArrayBuffer[Map[String, Any]]()
    val refs = mutable.Map[String, (String, Int)]()
    // Warm-up: one untimed run of each op. It builds persisted state,
    // takes the cold start (class loading, codegen, the first JIT pass) off
    // the timed runs, and is the op's reference: its output is what every
    // timed run must reproduce.
    for (op <- w.ops) {
      val r0 = System.nanoTime()
      val res = op.run(false)
      val rows = res.rows()
      val schema = res.schema()
      op.registryQuery.foreach { _ =>
        spark.createDataFrame(rows.toSeq.asJava, schema)
          .coalesce(1).write.mode("overwrite")
          .parquet(work.resolve("ref").resolve(op.name).toString)
      }
      refs(op.name) = (Workloads.digest(rows, schema.fieldNames.toSeq), rows.length)
      warmups += Map("op" -> op.name, "wall_s" -> (System.nanoTime() - r0) / 1e9,
        "build_s" -> res.buildSeconds, "output_files" -> w.outputFiles(op.name))
      w.afterOp()
    }
    val referenceDoneMs = System.currentTimeMillis()
    // More untimed runs: the JIT needs several runs of an op before its
    // time levels off, and timed runs should not still be on that slope.
    // A traced run skips them to stay within its time limit.
    for (_ <- 1 to (if (traced) 0 else ExtraWarmups); op <- w.ops) {
      op.run(false).rows()
      w.afterOp()
    }
    w.afterSetup()

    val records = mutable.ArrayBuffer[Map[String, Any]]()
    val hostRefs = mutable.ArrayBuffer[Double]()
    val firstOpMs = System.currentTimeMillis()
    val loopStart = System.nanoTime()
    var cycle = 0
    var lastCycle = 0.0
    // Whole cycles only (one run of each op; in a traced run one plain and
    // one traced run of each op), so every op has the same sample count.
    // The loop stops at the cycle boundary nearest to `seconds` (a cycle
    // starts if at most half of it would run past); the first cycle
    // always runs. No op starts that could overrun the run's deadline
    // (judged by the slowest warm-up run), so a slow host shortens a
    // traced run instead of failing it.
    val slowest = (warmups.map(_("wall_s").asInstanceOf[Double]) :+ 30.0).max
    def fits: Boolean = System.currentTimeMillis() + 1.2 * slowest * 1000 < deadlineMs
    while (cycle == 0 || (System.nanoTime() - loopStart) / 1e9 + lastCycle / 2 <= seconds) {
      val c0 = System.nanoTime()
      for (op <- w.ops; tracedRun <- if (traced) Seq(false, true) else Seq(false) if fits) {
        hostRefs ++= hostRef.map(_.run())
        val t0 = System.nanoTime()
        val cpu0 = processCpuNs()
        val rec = mutable.Map[String, Any]("op" -> op.name, "cycle" -> cycle,
          "traced" -> tracedRun, "records" -> op.records)
        try {
          val res = op.run(tracedRun)
          val wall = (System.nanoTime() - t0) / 1e9
          val cpu = (processCpuNs() - cpu0) / 1e9
          val rows = res.rows()
          val d = Workloads.digest(rows, res.schema().fieldNames.toSeq)
          val ok = d == refs(op.name)._1
          rec ++= Map("wall_s" -> wall, "cpu_s" -> cpu, "ok" -> ok, "rows" -> rows.length,
            "build_s" -> res.buildSeconds, "extra" -> res.extra,
            "output_files" -> w.outputFiles(op.name))
          if (!ok) rec("err") = s"output digest $d differs from the reference ${refs(op.name)._1}"
        } catch {
          case e: Throwable =>
            rec ++= Map("ok" -> false, "err" -> (e.getClass.getName + ": " + e.getMessage))
        }
        w.afterOp()
        rec("tmp_bytes_left") = w.tmpLeft.last._1
        records += rec.toMap
      }
      lastCycle = (System.nanoTime() - c0) / 1e9
      cycle += 1
    }
    val loopSeconds = (System.nanoTime() - loopStart) / 1e9
    hostRefs ++= hostRef.map(_.run())

    val result = Map[String, Any](
      "workload" -> workload,
      "cpus" -> cpus,
      "jvm_start_epoch_ms" -> jvmStartMs,
      "spark_ready_epoch_ms" -> sparkReadyMs,
      "reference_done_epoch_ms" -> referenceDoneMs,
      "first_op_epoch_ms" -> firstOpMs,
      "loop_s" -> loopSeconds,
      "host_ref_s" -> hostRefs,
      "ops" -> records,
      "reference" -> refs.map { case (k, (d, n)) => k -> Map("digest" -> d, "rows" -> n) },
      "warmups" -> warmups,
      "registry_queries" -> w.ops.flatMap(o => o.registryQuery.map(o.name -> _)).toMap,
      "peak_rss_mb" -> peakRssMb(),
      "layers" -> w.layerMetrics(records.toSeq))
    Files.writeString(out, json(result))
    tracer.foreach { t =>
      Files.writeString(work.resolve("spans.json"), json(t.spans.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "op_id" -> s.opId, "name" -> s.name,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs)
      }))
    }
    spark.stop()
  }

  /** CPU time of every thread of this JVM: driver, local executors, JIT
    * and GC. Unlike wall time it does not grow when the host steals CPU. */
  private def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** High-water resident set of this JVM (VmHWM), in MiB. */
  private def peakRssMb(): Option[Double] =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private def json(v: Any): String = mapper.writeValueAsString(v)
}
