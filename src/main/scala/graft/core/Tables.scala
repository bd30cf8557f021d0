package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated test tables (TESTDATA.md) and the
  * session defaults used by every entry point.
  *
  * Scale posture: every loader returns a lazy parquet scan — column
  * pruning and predicate pushdown reach the file scan because nothing
  * here forces materialization.
  */
object Tables {
  /** Session settings every entry point (Verify/Bench/tests) applies:
    * UTC for oracle parity, nanos-as-long for the events table,
    * AQE on for runtime re-planning at scale. */
  val SessionConfigs: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // The regenerated driver fixtures write timestamp[us] with
    // isAdjustedToUTC=false, which Spark ≥3.4 infers as
    // TIMESTAMP_NTZ. Every gated literal/compare is session-UTC
    // TimestampType; an NTZ column forces a cast on the COLUMN side,
    // which kills parquet predicate pushdown (q6 went 0.13 s → 2.0 s
    // on the fixture swap). Reading them as LTZ under the pinned UTC
    // session is value-identical and keeps filters at the scan.
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.parquet.compression.codec" -> "snappy",
    // The test fixtures are single small parquet files; with the 128MB
    // default every scan is ONE task and per-row-expensive pipelines
    // run single-threaded. 2MB splits restore scan parallelism at
    // bench scale (a production corpus has thousands of splits and
    // keeps the default).
    "spark.sql.files.maxPartitionBytes" -> "2097152",
    "spark.sql.files.openCostInBytes" -> "262144",
    // Cost-based optimization: consumed ONLY by relations carrying
    // catalog statistics ([[CatalogStats.ensure]]'s ANALYZEd tables —
    // q_cbo_join_order); every other query reads raw parquet paths,
    // whose stats fall back to the same size-only estimates as with
    // CBO off. Histogram collection sharpens ANALYZE's per-column
    // selectivity estimates (equi-height, 254 bins).
    "spark.sql.cbo.enabled" -> "true",
    "spark.sql.cbo.joinReorder.enabled" -> "true",
    "spark.sql.statistics.histogram.enabled" -> "true",
    // Always honor a table's declared bucketing on read. The auto
    // heuristic drops the bucketed layout (and with it BUCKET
    // PRUNING) whenever no join/agg consumes the bucket key — but a
    // point/id-keyed read of a bucketed store is exactly the case
    // where pruning pays: SignatureStore.resolveGroup reads 3 of 8
    // bucket files instead of the whole `sets` table. Every bucketed
    // table here is a store whose reads either exploit the key or
    // are id-keyed lookups; none benefit from the heuristic.
    "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false")

  /** HARNESS-only settings, applied by the local entry points
    * (Verify/Bench/ScaleSmoke/tests) on top of [[SessionConfigs]] —
    * deliberately NOT library defaults, so a deployment of the
    * library keeps Spark's own guards. `maxResultSize` is a
    * SparkContext-startup conf (a runtime `spark.conf.set` would not
    * take effect), and only the streaming MEMORY-SINK harness needs
    * it raised: at 300x ladder SFs the sessionizers' collected closed
    * sessions exceed the 1 GB default while the local driver has
    * ample headroom. A production deploy writes streams to a real
    * sink, never through driver memory. */
  val HarnessConfigs: Map[String, String] = Map(
    "spark.driver.maxResultSize" -> "8g")

  /** The local session the harness entry points (Verify, Bench,
    * ScaleSmoke, the tools, the tests) run on: `local[cpus]` with as
    * many shuffle partitions, no UI, [[SessionConfigs]] and
    * [[HarnessConfigs]], then `extra`; WARN logging. */
  def localSession(cpus: Int, extra: (String, String)*): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
    (SessionConfigs ++ HarnessConfigs ++ extra)
      .foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(readPath(spark, s"$dir/$name.parquet"))

  /** INGEST-TIME COMPACTION for pathological parquet layouts. A
    * parquet file cannot be split below row-group granularity, so a
    * 600k-row fact table written as ONE row group scans as ONE task
    * no matter what `maxPartitionBytes` asks for — the regenerated
    * driver fixtures arrive exactly like that (lineitem sf0.1:
    * 10.8 MB, 1 row group → q6 went 0.13 s → 2.0 s on the fixture
    * swap). A real engine fixes this once at ingest by compacting to
    * well-sized row groups; this is that pass: a file whose AVERAGE
    * row group exceeds 2× the split size is rewritten once per JVM
    * (same rows, same order, same schema — only the physical
    * chunking changes, to 1 MiB row groups) into the per-user
    * scratch dir, and reads go to the compacted copy. Files already
    * split-friendly — and anything that is a directory — are read in
    * place. The DuckDB oracle reads the ORIGINAL fixtures, so any
    * staging defect would break the hash gate, not hide behind it.
    *
    * Scale posture: at 100 TB this is the compaction/ingest job every
    * lake runs; its cost is paid once per corpus version, not per
    * query — here once per JVM (~1–2 s for the one affected file),
    * against ~20 s/bench-sweep of lost scan parallelism. */
  private val staged = scala.collection.mutable.Map[String, String]()
  private[graft] def readPath(spark: SparkSession, file: String): String =
    synchronized {
      staged.getOrElseUpdate(file, {
        import java.nio.file.{Files, Paths}
        val p = Paths.get(file)
        val maxSplit = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
          .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
          .getOrElse(134217728L)
        if (Files.isDirectory(p) ||
            Files.size(p) / math.max(numRowGroups(spark, file), 1) <= 2 * maxSplit)
          file
        else Scratch.buildOnce("compacted", file) { out =>
          spark.read.parquet(file)
            .write.mode("overwrite")
            .option("parquet.block.size", "1048576")
            .parquet(out)
        }
      })
    }

  private def numRowGroups(spark: SparkSession, file: String): Int = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), spark.sessionState.newHadoopConf())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRowGroups.size finally r.close()
  }

  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  /** Normalize an events frame's `ts` to a session-zone microsecond
    * TimestampType regardless of how the fixture stored it: older
    * driver fixtures wrote TIMESTAMP(NANOS) (surfacing as a raw
    * nanos Long under `spark.sql.legacy.parquet.nanosAsLong=true`),
    * newer ones write plain timestamp[us] (surfacing as
    * TIMESTAMP_NTZ). Both denote the same UTC instants; the session
    * zone is pinned UTC (see [[SessionConfigs]]) so the NTZ→LTZ cast
    * is value-preserving. Integer `div` (not `/`) on the nanos path —
    * epoch-nanos exceed 2^53, so double division would lose
    * precision. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }

  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventTs(table(s, d, "events"))
  /** documents/embeddings feed per-row-EXPENSIVE operators (shingling,
    * hashing, lambda folds over 64-dim arrays). The fixture is one
    * small file — a single row-group parquet can't split below file
    * level, so scan parallelism alone isn't enough; an explicit
    * repartition (cheap: the whole table is <1 MB here) restores row
    * parallelism, which a real many-split corpus gets for free.
    * Partition count follows DATA size, not core count: these fixture
    * tables are a few thousand rows, and 32-way splits mean ~60-row
    * tasks whose scheduling overhead dominates — worse, iterative
    * consumers (KMeans) barrier on every tiny task each iteration. */
  private val FixtureSplits = 8
  def documents(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents").repartition(FixtureSplits)
  def embeddings(s: SparkSession, d: String): DataFrame =
    table(s, d, "embeddings").repartition(FixtureSplits)
}
