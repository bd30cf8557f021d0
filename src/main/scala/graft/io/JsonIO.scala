package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types._

import scala.util.control.NonFatal

/** Record IO for the engine: dual-format JSON readers with pinned
  * schemas, and parquet/JSON sinks.
  *
  * Reference provenance: whole-file JSON array vs JSONL sniffing
  * `base.py:8–18` (try array parse, fall back to line-delimited);
  * alpaca schema contract `README.md:30`, `data/rawdata/readme.md:2–12`;
  * sharegpt planned schema `data/rawdata/readme.md:14–27`; JSON sink
  * `main.py:482`; parquet stage checkpoints replace the reference's
  * tensor round-trips (`main.py:263,312–314`, `tensor2jsonl.py:37–48`).
  *
  * Scale posture: schemas are pinned (no inference pass over 100 TB);
  * multiLine=false JSONL is splittable, so it parallelizes across
  * executors — whole-file JSON arrays are NOT splittable and are only
  * accepted for compatibility with small reference-style inputs.
  */
object JsonIO {

  /** Alpaca single-turn record (`README.md:30`). */
  val AlpacaSchema: StructType = StructType(Seq(
    StructField("instruction", StringType, nullable = true),
    StructField("input", StringType, nullable = true),
    StructField("output", StringType, nullable = true)))

  /** Sharegpt multi-turn record (`data/rawdata/readme.md:14–27`). */
  val SharegptSchema: StructType = StructType(Seq(
    StructField("conversation_id", StringType, nullable = true),
    StructField("category", StringType, nullable = true),
    StructField("conversation", ArrayType(StructType(Seq(
      StructField("human", StringType, nullable = true),
      StructField("assistant", StringType, nullable = true)))), nullable = true)))

  /** Dual-format reader mirroring the reference's sniff (`base.py:8–18`):
    * parse the file both as a whole-file JSON array and as line-delimited
    * JSONL, and keep whichever yields more valid rows (ties → array). A
    * pinned schema keeps both paths single-pass.
    */
  def readJsonAuto(spark: SparkSession, path: String,
                   schema: StructType = AlpacaSchema): DataFrame = {
    val corrupt = schema.add("_corrupt_record", StringType)
    // Unlike Python's json.load (the reference sniff), Spark's
    // multiLine parser accepts a JSONL file by silently reading ONLY
    // its first record — so "no corrupt rows" is not enough. Parse
    // both ways and keep whichever yields more valid rows (ties →
    // array). Each parse is cached — raw-JSON frames can't be filtered
    // on just the corrupt column — and the loser is released, so the
    // input is parsed twice and held once.
    // allowNonNumericNumbers is pinned (not left to the default) —
    // the reference explicitly preserves NaN/±Infinity through
    // serialization (tensor2jsonl.py:11–12), and the sink writes them
    // as quoted "NaN"/"Infinity" tokens which this parser maps back
    // to the IEEE values (round-trip spec: JsonIOSpec).
    // a parse that fails outright counts -1 valid rows; a fatal error
    // or an interrupt is not a format verdict and propagates
    def validOr(n: => Long): Long =
      try n catch {
        case e: InterruptedException => Thread.currentThread().interrupt(); throw e
        case NonFatal(_) => -1L
      }
    val asArray = graft.core.Caches.track(spark.read.schema(corrupt)
      .option("multiLine", "true").option("mode", "PERMISSIVE")
      .option("allowNonNumericNumbers", "true")
      .json(path))
    val arrayValid = validOr(
      if (asArray.where(asArray("_corrupt_record").isNotNull).isEmpty)
        asArray.count() else -1L)
    val jl = graft.core.Caches.track(spark.read.schema(corrupt)
      .option("mode", "PERMISSIVE")
      .option("allowNonNumericNumbers", "true")
      .json(path))
    val jlValid = validOr(jl.where(jl("_corrupt_record").isNull).count())
    if (arrayValid >= jlValid) { jl.unpersist(); asArray.drop("_corrupt_record") }
    else {
      asArray.unpersist()
      jl.where(jl("_corrupt_record").isNull).drop("_corrupt_record")
    }
  }

  def readAlpaca(spark: SparkSession, path: String): DataFrame =
    readJsonAuto(spark, path, AlpacaSchema)

  def readSharegpt(spark: SparkSession, path: String): DataFrame =
    readJsonAuto(spark, path, SharegptSchema)

  /** JSONL sink (reference S4 — the pretty-print indent is a driver
    * nicety the engine drops; JSONL is the splittable form).
    *
    * Non-finite doubles follow the reference's serialization contract
    * (`tensor2jsonl.py:11–12`, NaN/±inf preserved): Spark's writer
    * emits them as quoted "NaN"/"Infinity"/"-Infinity" tokens, and
    * [[readJsonAuto]] parses those back to the IEEE values — the
    * write→read round trip is lossless (JsonIOSpec). */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** Location of the deterministic sharegpt JSONL fixture; stable for
    * the lifetime of a JVM so the DuckDB oracle SQL built in the same
    * process references the same file. Under the per-user
    * [[graft.core.Store.FixtureRoot]]. */
  val SharegptFixturePath: String =
    java.nio.file.Paths.get(graft.core.Store.FixtureRoot, "sharegpt.jsonl").toString

  /** Writes (idempotently) a small deterministic sharegpt-format JSONL
    * file — the multi-turn conversation shape the reference documents
    * as planned input (`data/rawdata/readme.md:14–27`) — and returns
    * its path. Exists so a GATED query can exercise the real
    * file-ingestion path ([[readSharegpt]]) rather than a synthesized
    * conversation column; content is constant (independent of scale
    * factor) so the oracle read races nothing. */
  def sharegptFixture(): String = {
    val rows = Seq(
      ("c01", "qa",   Seq("how do streams window" -> "with watermarks and event time",
                          "and late data"         -> "dropped past the watermark")),
      ("c02", "qa",   Seq("what is a shuffle"     -> "a repartition by key across executors")),
      ("c03", "chat", Seq("hello there"           -> "hi, how can i help",
                          "tell me a joke"        -> "a parquet file walks into a bar",
                          "another one"           -> "two skewed keys salt themselves")),
      ("c04", "chat", Seq("good morning"          -> "morning")),
      ("c05", "code", Seq("reverse a list"        -> "use .reverse",
                          "lazily"                -> "use .view.reverse")),
      ("c06", "code", Seq("broadcast a join"      -> "wrap the small side in broadcast()")))
    // escape so future fixture edits with quotes/backslashes stay
    // valid JSON on BOTH readers (a torn string would make Spark's
    // PERMISSIVE reader and DuckDB's read_json diverge silently)
    def js(s: String): String =
      "\"" + s.flatMap {
        case '"'  => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val lines = rows.map { case (id, cat, turns) =>
      val conv = turns.map { case (h, a) =>
        s"""{"human":${js(h)},"assistant":${js(a)}}"""
      }.mkString("[", ",", "]")
      s"""{"conversation_id":${js(id)},"category":${js(cat)},"conversation":$conv}"""
    }
    val p = java.nio.file.Paths.get(SharegptFixturePath)
    java.nio.file.Files.createDirectories(p.getParent)
    // write-then-atomic-move: a concurrent reader (Verify vs Bench)
    // never observes a torn file
    val tmp = java.nio.file.Files.createTempFile(p.getParent, "sharegpt", ".tmp")
    java.nio.file.Files.write(tmp,
      lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    SharegptFixturePath
  }

  /** Parquet stage checkpoint with existence check, replacing the
    * reference's artifact-reuse flags (`main.py:124–126,312–314`):
    * recompute only when the artifact is absent. */
  def checkpoint(spark: SparkSession, df: => DataFrame, path: String): DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val ok = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    if (!fs.exists(ok)) df.write.mode(SaveMode.Overwrite).parquet(path)
    spark.read.parquet(path)
  }
}
