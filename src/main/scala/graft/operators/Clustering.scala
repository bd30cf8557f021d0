package graft.operators

import org.apache.spark.ml.attribute.NominalAttribute
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.PCA
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.mllib.clustering.{GraftKMeans, KMeans => MllibKMeans,
  KMeansModel => MllibKMeansModel}
import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

/** Clustering path (reference C1/C2): MLlib KMeans over the embedding
  * column and PCA reduction, feeding the selection pipeline.
  *
  * Reference provenance: `KMeans(n_clusters, random_state=0)` fit on
  * the full embedding matrix (`main.py:316–322,353`) — a driver-side
  * sklearn call that materializes every vector in memory. Here that
  * happens only below a measured-size gate
  * ([[graft.core.Gate.KMeansValues]], and rows ≥ dim): there MLlib's
  * k-means|| init runs distributed and Lloyd's rounds run on the
  * driver with MLlib's own code, bit-identical to MLlib and with no
  * Spark job per round. Above
  * the gate the vectors stay distributed: MLlib's KMeans is the
  * driver-orchestrated iterative-job pattern (one pass per iteration,
  * centers broadcast), which is exactly what survives 100 TB. See
  * [[Clustering.kmeansLabels]]. PCA mirrors `main.py:362–364`.
  *
  * Determinism: seeded (reference pins seed 0); label VALUES differ
  * from sklearn's (init differs) but the contract — k clusters,
  * deterministic under a fixed seed — holds, per SURVEY.md §5's
  * property-level parity note.
  */
object Clustering {

  /** Add a `cluster` label column via KMeans(k, seed) on `embCol`
    * (array<float> → ml Vector under the hood), labelled exactly as
    * `ml.clustering.KMeans` with its defaults labels it.
    *
    * Two paths, chosen by a measured-size gate that costs no extra job:
    *  - *Driver path.* [[driverKMeans]] persists the vectors MLlib would
    *    build and collects them in the one job of the
    *    [[graft.core.Gate.KMeansValues]] gate while each partition
    *    holds at most its share of the gate's values (plus a small
    *    header per point). If it did and rows ≥ dim, MLlib's own
    *    k-means|| init runs (still distributed, ~7 jobs) and then
    *    Lloyd's rounds run on the driver with MLlib's own code, so no
    *    round costs a Spark job. Labels come from the resulting mllib
    *    model's `predict`, the call ml's `transform` makes.
    *  - *MLlib path.* Otherwise `ml.clustering.KMeans` fits and
    *    transforms as before: one shuffled job per Lloyd round, centers
    *    broadcast. This is the path for inputs too large for the
    *    driver; it runs after the gate job, which adds one pass of
    *    vector conversion to its ≥ 28.
    *
    * Why rows ≥ dim: ml's default `solver = "auto"` runs its *block*
    * solver exactly when rows < dim (Spark 4.1's `preferBlockSolver`
    * sums the indices of `numNonZeros`, not its values), and the driver
    * path copies the *row* solver, so those inputs stay on ml.
    *
    * Why the driver path is exact: its points are the rows
    * `ml.KMeans.trainWithRow` builds (the same projection, so the same
    * partitions in the same order), and every step after that is
    * MLlib's, in MLlib's order
    * ([[org.apache.spark.mllib.clustering.GraftKMeans]]). Centers are
    * bitwise equal to ml's and labels identical (ClusteringSpec).
    *
    * Both paths fail on a null embedding (in [[features]]) and on a NaN
    * or ±Inf one (ml's `checkNonNanVectors`, restated in
    * [[checkedVector]]), with ml's messages.
    *
    * A shuffle-free input is persisted once (tracked in
    * [[graft.core.Caches]]): the gate job, the init and the labelling
    * (or, above the gate, the passes KMeans `fit` makes over `df` itself
    * before its own vector cache takes over, and the `transform`) read
    * one materialization of `df` instead of each re-running its
    * upstream — for model-scored rows that upstream is the scorer
    * itself. The cache sits on `df`, not on the `_features` projection,
    * so the vectors are still persisted separately for the init (or
    * MLlib's iterations). Consumers of the labeled frame cache it
    * themselves where they need to ([[Selection.percentileBand]] does),
    * so under [[clusterAndSelect]] the scored rows are held twice, here
    * and in the band's cache.
    *
    * An input with an exchange is left uncached, because there the
    * cache could change the labels: MLlib reads the frame pruned to
    * `embCol`, and above an exchange that pruning can move rows between
    * partitions (a round-robin repartition sorts whole rows before
    * dealing them; adaptive execution sizes partitions and picks joins
    * by bytes), which reseeds the k-means|| init. */
  def kmeansLabels(df: DataFrame, embCol: String, k: Int,
                   seed: Long = 0L): DataFrame = {
    val rows = if (shuffleFree(df)) graft.core.Caches.track(df) else df
    val withVec = rows.withColumn("_features", features(embCol))
    val labeled = driverKMeans(withVec, "_features", k, seed) match {
      case Some(model) =>
        val predict = udf((v: Vector) => model.predict(OldVectors.fromML(v)))
        // ml's transform tags the prediction as nominal with one value
        // per center
        val meta = NominalAttribute.defaultAttr.withNumValues(model.k).toMetadata()
        withVec.withColumn("cluster", predict(col("_features")))
          .withMetadata("cluster", meta)
      case None =>
        estimator(k, seed).setFeaturesCol("_features")
          .setPredictionCol("cluster").fit(withVec).transform(withVec)
    }
    labeled.drop("_features")
  }

  /** `embCol` as an ml vector. A null array fails with ml's own
    * "Vectors MUST NOT be Null" (its `checkNonNanVectors`), which
    * `array_to_vector` alone would turn into an internal
    * NullPointerException before ml's check could run. */
  private[graft] def features(embCol: String): Column =
    when(col(embCol).isNull, raise_error(lit("Vectors MUST NOT be Null")))
      .otherwise(array_to_vector(col(embCol)))

  /** The KMeans estimator whose defaults both paths follow. */
  private def estimator(k: Int, seed: Long): KMeans =
    new KMeans().setK(k).setSeed(seed)

  /** The driver path of [[kmeansLabels]]: the mllib model
    * `ml.clustering.KMeans` with its defaults would fit on `featuresCol`
    * (bitwise-equal centers), or `None` when the input is over the
    * [[graft.core.Gate.KMeansValues]] gate or has fewer rows than
    * dimensions (ml's block solver). */
  private[graft] def driverKMeans(withVec: DataFrame, featuresCol: String,
                                  k: Int, seed: Long): Option[MllibKMeansModel] = {
    // ml.KMeans.trainWithRow's instances: the same projection (so the
    // same partitions and row order), weight 1.0
    val instances = withVec.select(checkedVector(col(featuresCol)), lit(1.0)).rdd
      .map(r => (OldVectors.fromML(r.getAs[Vector](0)), r.getDouble(1)))
    val est = estimator(k, seed)
    val algo = new MllibKMeans()
      .setK(est.getK)
      .setInitializationMode(est.getInitMode)
      .setInitializationSteps(est.getInitSteps)
      .setMaxIterations(est.getMaxIter)
      .setSeed(est.getSeed)
      .setEpsilon(est.getTol)
      .setDistanceMeasure(est.getDistanceMeasure)
    GraftKMeans.fitOnDriver(instances, algo)
  }

  /** ml's input contract for KMeans (its `private[ml]`
    * `DatasetUtils.checkNonNanVectors`): a vector holding NaN or
    * ±Infinity fails the job that reads it. A null one already failed
    * in [[features]]. */
  private def checkedVector(v: Column): Column = {
    val bad = exists(unwrap_udt(v).getField("values"),
      x => x.isNaN || x === Double.PositiveInfinity || x === Double.NegativeInfinity)
    when(bad, raise_error(concat(
      lit("Vector values MUST NOT be NaN or Infinity, but got "), v.cast("string"))))
      .otherwise(v)
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  private def shuffleFree(df: DataFrame): Boolean =
    PlanWalk.find(df.queryExecution.executedPlan)(_.isInstanceOf[Exchange]).isEmpty

  /** Oracle-EXACT KMeans: fixed-init Lloyd's iterations as relational
    * ops. Init centroids = the embeddings of ids `0 until k`; each
    * round assigns every point to its nearest centroid (squared
    * distance via the codegen'd fixed-order fold
    * [[graft.plans.ArraySqDistToConst]], ties → smallest cid) and
    * recomputes centroids as exact-decimal means (addition-order-free,
    * one double division per dim at the end), so a SQL engine
    * replaying the same rounds produces bit-identical assignments.
    * MLlib stays the production path (`kmeansLabels`: kmeans||
    * init, tolerance stopping); this is the cross-engine-checkable
    * sibling and the same driver-loop idiom — per round ONE grouped
    * aggregate (k·dim tiny rows to the driver) and a narrow,
    * shuffle-free assignment map with k codegen distance exprs. */
  def lloydExactAssign(df: DataFrame, idCol: String, embCol: String,
                       k: Int, iters: Int): DataFrame =
    lloydExactWithCentroids(df, idCol, embCol, k, iters)._1

  /** [[lloydExactAssign]] also returning the FINAL centroids (the
    * ones the returned assignment used) — the PQ codebook trainer
    * needs both the per-row code and the centroid arrays for
    * asymmetric-distance reconstruction. */
  def lloydExactWithCentroids(df: DataFrame, idCol: String, embCol: String,
                              k: Int, iters: Int)
      : (DataFrame, Seq[(Int, Array[Double])]) = {
    import org.apache.spark.sql.types.DecimalType
    def assign(cents: Seq[(Int, Array[Double])]): DataFrame = {
      val cands = cents.map { case (cid, arr) =>
        struct(graft.plans.ArraySqDistToConst(col(embCol), arr).as("dist"),
          lit(cid).as("cid"))
      }
      // lexicographic array_min on (dist, cid) = argmin with cid tiebreak
      df.withColumn("cluster", array_min(array(cands: _*)).getField("cid"))
    }
    var cents: Seq[(Int, Array[Double])] = df.where(col(idCol) < k)
      .select(col(idCol).cast("int"), col(embCol)).collect()
      // Number covers float and double element types
      .map(r => (r.getInt(0),
        r.getSeq[Number](1).map(_.doubleValue).toArray))
      .toSeq.sortBy(_._1)
    require(cents.length == k,
      s"fixed init needs every id in [0, $k); found ids ${cents.map(_._1)}")
    var assigned = assign(cents)
    for (_ <- 1 until iters) {
      // DECIMAL(28,10): 18 integer digits of headroom — a (18,10)
      // accumulator has only 8, which large-magnitude embeddings can
      // overflow (silently NULLing under non-ANSI Spark but erroring
      // in DuckDB — the divergence the PCA path already fixed)
      val rows = assigned
        .select(col("cluster"), posexplode(col(embCol)).as(Seq("pos", "v")))
        .groupBy(col("cluster"), col("pos"))
        .agg((sum(col("v").cast("double").cast(DecimalType(28, 10)))
          .cast("double") / count(lit(1))).as("c"))
        .collect()
      cents = rows.groupBy(_.getInt(0)).map { case (cid, rs) =>
        val arr = new Array[Double](rs.map(_.getInt(1)).max + 1)
        rs.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
        (cid, arr)
      }.toSeq.sortBy(_._1)
      // an emptied cluster would silently shrink k (and desynchronize
      // the oracle's fixed-k replay) — fail loudly instead
      require(cents.length == k,
        s"cluster(s) emptied mid-iteration: ${k - cents.length} of $k " +
          "lost; fixed-init Lloyd's needs every cluster non-empty")
      assigned = assign(cents)
    }
    (assigned, cents)
  }

  /** [[lloydExactAssign]] with per-row MULTIPLICITIES — bit-identical
    * centroids and assignments to running the unweighted version over
    * the frame with each row repeated `weightCol` times. The exactness
    * argument: the unweighted path sums `decimal(28,10)(v)` once per
    * member, and decimal addition is exact, so a family of `m`
    * identical rows contributes exactly `decimal(v) · m`; multiplying
    * AFTER the decimal cast (by `m` as DECIMAL(8,0) — the same typed
    * arithmetic DuckDB replays without precision overflow) reproduces
    * that digit-for-digit, and the mean divides by `SUM(weight)`
    * where the full set divides by `COUNT(*)`. This is what makes
    * exact-collapse compositions (dedup the replicated corpus down to
    * representatives, cluster the representatives) EQUAL to
    * clustering the full corpus instead of merely approximating it —
    * the collapse keeps k-means honest under duplication. */
  def lloydExactAssignWeighted(df: DataFrame, idCol: String, embCol: String,
                               weightCol: String, k: Int, iters: Int,
                               initFrom: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def assign(cents: Seq[(Int, Array[Double])]): DataFrame = {
      val cands = cents.map { case (cid, arr) =>
        struct(graft.plans.ArraySqDistToConst(col(embCol), arr).as("dist"),
          lit(cid).as("cid"))
      }
      df.withColumn("cluster", array_min(array(cands: _*)).getField("cid"))
    }
    // Init centroids from `initFrom` when the weighted frame is a
    // COLLAPSED view of it: an exact-duplicate family keeps only its
    // min id, so id j < k whose vector equals a smaller id's would be
    // absent from `df` — reading init from the uncollapsed original
    // reproduces [[lloydExactAssign]]'s init verbatim (duplicate
    // centroids included, which then empty identically at the next
    // round in both paths).
    var cents: Seq[(Int, Array[Double])] = initFrom.getOrElse(df)
      .where(col(idCol) < k)
      .select(col(idCol).cast("int"), col(embCol)).collect()
      .map(r => (r.getInt(0),
        r.getSeq[Number](1).map(_.doubleValue).toArray))
      .toSeq.sortBy(_._1)
    require(cents.length == k,
      s"fixed init needs every id in [0, $k); found ids ${cents.map(_._1)}")
    var assigned = assign(cents)
    for (_ <- 1 until iters) {
      val rows = assigned
        .select(col("cluster"), col(weightCol).as("_w"),
          posexplode(col(embCol)).as(Seq("pos", "v")))
        .groupBy(col("cluster"), col("pos"))
        .agg((sum(col("v").cast("double").cast(DecimalType(28, 10))
            * col("_w").cast(DecimalType(8, 0)))
          .cast("double") / sum(col("_w"))).as("c"))
        .collect()
      cents = rows.groupBy(_.getInt(0)).map { case (cid, rs) =>
        val arr = new Array[Double](rs.map(_.getInt(1)).max + 1)
        rs.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
        (cid, arr)
      }.toSeq.sortBy(_._1)
      require(cents.length == k,
        s"cluster(s) emptied mid-iteration: ${k - cents.length} of $k " +
          "lost; fixed-init Lloyd's needs every cluster non-empty")
      assigned = assign(cents)
    }
    assigned
  }

  /** Oracle-EXACT leading-component projection via fixed-init power
    * iteration, relationally — the cross-engine-checkable sibling of
    * MLlib [[pcaProject]] (whose eigensolver has sign/ulp
    * indeterminacy). Direction starts at the uniform unit vector
    * (fixed ⇒ no sign ambiguity); each round computes per-row scores
    * `x·v` as a fixed-order double fold, accumulates the new
    * direction's numerators as exact decimal sums per dimension
    * (addition-order-free), and normalizes once in double on the
    * driver with the same fold order a SQL engine uses. MLlib PCA
    * stays the production path. Scale: per round one explode +
    * grouped aggregate with map-side combine (dim keys, dim rows per
    * partition after partial agg) and one dim-sized collect — the
    * driver-loop idiom. Covariance-free: never materializes dim×dim. */
  def powerIterProjection(df: DataFrame, embCol: String,
                          iters: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val probe = df.select(size(col(embCol))).head(1)
    require(probe.nonEmpty && !probe(0).isNullAt(0),
      "powerIterProjection needs a non-empty table with non-null embeddings")
    val dim = probe(0).getInt(0)
    // probe checks only the FIRST row; a null or ragged embedding in
    // any later row would otherwise be silently skipped by the sums
    // (the direction quietly excludes data). One narrow limit(1) scan.
    require(df.where(col(embCol).isNull || size(col(embCol)) =!= dim).isEmpty,
      s"powerIterProjection needs rectangular non-null embeddings of dim $dim")
    def dotWith(v: Array[Double]) =
      aggregate(zip_with(col(embCol), array(v.map(lit): _*),
        (p, q) => p.cast("double") * q), lit(0.0), (a, x) => a + x)
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    for (_ <- 1 to iters) {
      // DECIMAL(28,10): 18 integer digits of headroom so |x·s| terms
      // from large-magnitude embeddings stay in range on BOTH engines
      // (a (18,10) cast would silently NULL in non-ANSI Spark but
      // ERROR in DuckDB — a latent divergence, not just a failure)
      val cn = df
        .select(posexplode(col(embCol)).as(Seq("pos", "x")),
          dotWith(v).as("s"))
        .groupBy(col("pos"))
        .agg(sum((col("x").cast("double") * col("s"))
          .cast(DecimalType(28, 10))).cast("double").as("cn"))
        .orderBy(col("pos")).collect().map(_.getDouble(1))
      val norm = math.sqrt(cn.map(x => x * x).foldLeft(0.0)(_ + _))
      v = cn.map(_ / norm)
    }
    df.withColumn("proj", dotWith(v))
  }

  /** Project embeddings to `dims` principal components (reference's
    * PCA(10) pre-t-SNE step); returns the input plus a `pca` array
    * column. */
  def pcaProject(df: DataFrame, embCol: String, dims: Int): DataFrame = {
    val withVec = df.withColumn("_features", features(embCol))
    val model = new PCA()
      .setK(dims).setInputCol("_features").setOutputCol("_pca")
      .fit(withVec)
    model.transform(withVec)
      .withColumn("pca", vector_to_array(col("_pca")))
      .drop("_features", "_pca")
  }

  /** EP1 end-to-end with COMPUTED clusters (the reference's actual
    * flow, vs the precomputed-label oracle path): KMeans → per-cluster
    * percentile band → stride sample. */
  def clusterAndSelect(df: DataFrame, idCol: String, embCol: String,
                       confCol: String, k: Int, sampleNum: Int,
                       lowPct: Double = 0.25, upPct: Double = 0.75,
                       seed: Long = 0L): DataFrame = {
    val labeled = kmeansLabels(df, embCol, k, seed)
    val band = Selection.percentileBand(labeled, "cluster", confCol,
      lowPct, upPct, minGroupSize = sampleNum.toLong * 2)
    Selection.strideSample(band, "cluster", idCol, sampleNum)
  }
}
