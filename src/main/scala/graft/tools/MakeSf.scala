package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Scale-factor multiplier for evidence runs past the driver-supplied
  * sf0.1: replicates a source sf directory K times with key offsets,
  * preserving referential integrity (lineitem→orders/part/supplier,
  * orders→customer) and every per-table value distribution exactly.
  * Dimension tables (region, nation) are copied verbatim, matching
  * TPC-H semantics where they are scale-invariant.
  *
  * Keys in the driver's data are dense 0..N-1, so replica i shifts
  * each key by i*span (span = max+1 read from the data, not assumed).
  * Output layout mirrors the driver's: ONE parquet file per table at
  * dst/<table>.parquet, so graft.Verify, graft.Bench, and
  * tools/check.py (DuckDB read_parquet) all work unchanged.
  *
  * Usage: runMain graft.tools.MakeSf <srcSfDir> <dstDir> <k> [tables] [perturbEps]
  * (tables = optional comma list; default all — a 1000x ladder probe
  * of the documents-family paths doesn't need a 600 M-row lineitem.
  * perturbEps > 0 switches the embeddings table to the UNIQUE-vector
  * mode below.)
  */
object MakeSf {
  def main(args: Array[String]): Unit = {
    val (srcDir, dstDir, kStr) = (args(0), args(1), args(2))
    val tables: Set[String] =
      if (args.length > 3) args(3).split(",").toSet
      else Set("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "documents", "embeddings")
    val k = kStr.toInt
    require(k >= 1, s"k must be >= 1, got $k")
    val perturbEps =
      if (args.length > 4) Some(args(4).toDouble) else None
    val spark = SparkSession.builder()
      .master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    build(spark, srcDir, dstDir, k, tables, perturbEps)
    spark.stop()
  }

  /** The replication body, callable in-process (big-SF specs
    * regenerate their fixture if absent instead of silently
    * canceling — the evidence is then reproducible from a clean
    * machine). Deterministic: same src + k (+ eps) -> same rows.
    *
    * `perturbEps` switches the EMBEDDINGS table from plain replication
    * to the UNIQUE-VECTOR mode the at-scale ANN quality measurements
    * need: under plain replication every query's true top-k are its
    * own exact copies and copies share their cell, so a big-SF recall
    * number measures duplicate-family retrieval, not nearest-neighbor
    * search. In perturb mode replica i >= 1 of vector v becomes
    * normalize(v + eps * u), where u's coordinates come from a seeded
    * integer LCG over (new vec_id, dimension) — the same
    * arithmetic-formula determinism as Similarity.hyperplaneBucket —
    * so regeneration is bit-reproducible with no RNG state; and EVERY
    * row's `label` is reassigned to its nearest of 10 fixed anchors
    * (the source's vectors 0..9, unit-norm and near-orthogonal at
    * dim 64), because the source fixture's labels are geometrically
    * RANDOM (per-label centroid norm ~= the random-mean expectation)
    * and IVF cells at scale should mean what they mean in production:
    * a Voronoi partition of the space. eps=0.2 at dim 64 puts sibling
    * cosine ~0.55 — distinct near-dup families whose members scatter
    * across cell boundaries, the regime where the probes knob
    * genuinely trades recall for scan. */
  def build(spark: SparkSession, srcDir: String, dstDir: String, k: Int,
            tables: Set[String], perturbEps: Option[Double] = None): Unit = {
    def tbl(name: String): DataFrame =
      spark.read.parquet(s"$srcDir/$name.parquet")

    def span(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1L

    lazy val custSpan = span(tbl("customer"), "c_custkey")
    lazy val suppSpan = span(tbl("supplier"), "s_suppkey")
    lazy val partSpan = span(tbl("part"), "p_partkey")
    lazy val ordSpan  = span(tbl("orders"), "o_orderkey")

    /** Union of k copies of df, with each listed BIGINT key column
      * shifted by replica*span. Column order is preserved. */
    def replicate(df: DataFrame, shifts: Map[String, Long]): DataFrame =
      (0 until k).map { i =>
        df.select(df.columns.map { c =>
          shifts.get(c) match {
            case Some(s) => (col(c) + lit(i * s)).as(c)
            case None    => col(c)
          }
        }.toSeq: _*)
      }.reduce(_ unionByName _)

    /** Write as a single parquet FILE at dst/<name>.parquet (the
      * driver's layout — DuckDB read_parquet needs a file). */
    def write(name: String, df: => DataFrame): Unit = {
      if (!tables.contains(name)) return
      val stage = s"$dstDir/_stage_$name"
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = Files.list(Paths.get(stage)).filter(_.toString.endsWith(".parquet"))
        .findFirst().orElseThrow(() => new IllegalStateException(s"no part file for $name"))
      Files.move(part, Paths.get(s"$dstDir/$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      graft.core.Scratch.deleteTree(Paths.get(stage))
      println(s"[makesf] $name: ${spark.read.parquet(s"$dstDir/$name.parquet").count()} rows")
    }

    Files.createDirectories(Paths.get(dstDir))
    write("region", tbl("region"))
    write("nation", tbl("nation"))
    write("customer", replicate(tbl("customer"), Map("c_custkey" -> custSpan)))
    write("supplier", replicate(tbl("supplier"), Map("s_suppkey" -> suppSpan)))
    write("part", replicate(tbl("part"), Map("p_partkey" -> partSpan)))
    write("orders", replicate(tbl("orders"),
      Map("o_orderkey" -> ordSpan, "o_custkey" -> custSpan)))
    write("lineitem", replicate(tbl("lineitem"),
      Map("l_orderkey" -> ordSpan, "l_partkey" -> partSpan, "l_suppkey" -> suppSpan)))
    // events is replicated by tools/make_sf_events.py instead: its ts
    // column is physically TIMESTAMP(NANOS), which Spark can neither
    // read without the nanosAsLong legacy long-coercion nor write back
    // — round-tripping here would silently change the storage type the
    // Tables.events loader and the DuckDB oracle both key on.
    write("documents", replicate(tbl("documents"),
      Map("doc_id" -> span(tbl("documents"), "doc_id"))))
    write("embeddings", perturbEps match {
      case None => replicate(tbl("embeddings"),
        Map("vec_id" -> span(tbl("embeddings"), "vec_id")))
      case Some(eps) => perturbedEmbeddings(spark, tbl("embeddings"), k, eps)
    })
  }

  /** The unique-vector embeddings table (see [[build]]): replicate
    * with per-copy jitter + renormalize + geometric relabel. All
    * column expressions — one narrow map over the replicated frame,
    * no shuffle, no UDF. */
  private def perturbedEmbeddings(spark: SparkSession, src: DataFrame,
                                  k: Int, eps: Double): DataFrame = {
    import org.apache.spark.sql.Column
    val vspan = src.agg(max(col("vec_id"))).head.getLong(0) + 1L
    val dim = src.select(max(size(col("embedding")))).head.getInt(0)
    // 10 fixed anchors: the source's vectors 0..9 (unit-norm,
    // near-orthogonal at dim 64) — bounded driver state, 10 x dim
    val anchors: Array[Array[Double]] = src.where(col("vec_id") < 10)
      .orderBy(col("vec_id")).select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val replicated = (0 until k).map { i =>
      src.select((col("vec_id") + lit(i * vspan)).as("vec_id"),
        col("embedding"), lit(i).as("_rep"))
    }.reduce(_ unionByName _)
    // u_j(id, j): seeded LCG over (id, dimension) -> [-1, 1); replica
    // 0 is the unjittered source vector (renormalized in double like
    // every other row, so all rows share one code path)
    def uAt(j: Int): Column =
      pmod(col("vec_id") * lit(1103515245L) + lit(j * 12345L + 1013904223L),
        lit(2147483648L)).cast("double") / lit(1073741824.0) - lit(1.0)
    val jittered: Column = when(col("_rep") === 0, col("embedding").cast("array<double>"))
      .otherwise(array((0 until dim).map(j =>
        col("embedding").getItem(j).cast("double") + lit(eps) * uAt(j)): _*))
    val normed: Column = {
      val nrm = sqrt(aggregate(col("_j"), lit(0.0), (a, v) => a + v * v))
      transform(col("_j"), v => (v / nrm).cast("float"))
    }
    // label = argmax cosine(v', anchor) (== dot product, both unit
    // norm after the normalize; ties -> smaller anchor id via -id in
    // the lexicographic struct max)
    val label: Column = {
      val cands = anchors.zipWithIndex.map { case (a, id) =>
        val dot = aggregate(zip_with(col("_e"),
            array(a.map(lit).toSeq: _*), (x, y) => x.cast("double") * y),
          lit(0.0), (acc, v) => acc + v)
        struct(dot.as("d"), lit(-id).as("nid"))
      }
      (array_max(array(cands.toSeq: _*)).getField("nid") * -1).cast("int")
    }
    replicated
      .withColumn("_j", jittered)
      .withColumn("_e", normed)
      .select(col("vec_id"), col("_e").as("embedding"), label.as("label"))
      // one-partition boundary BEFORE write's coalesce(1): coalesce
      // propagates up and would single-thread the jitter/label
      // compute; the shuffle keeps it parallel and only the final
      // file write is serial. The sort pins row order (shuffle fetch
      // order is not deterministic) so regeneration is bit-identical.
      .repartition(1)
      .sortWithinPartitions("vec_id")
  }
}
