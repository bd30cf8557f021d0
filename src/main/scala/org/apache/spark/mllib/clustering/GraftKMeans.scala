package org.apache.spark.mllib.clustering

import org.apache.spark.mllib.linalg.{BLAS, Vector, Vectors}
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

/** Bridge to MLlib KMeans' clustering-private pieces (its k-means||
  * init, `VectorWithNorm` and the `DistanceMeasure` steps), needed to
  * run Lloyd's iterations on the driver with MLlib's own arithmetic.
  * Lives in the org.apache.spark.mllib.clustering package solely for
  * access; no Spark internals are modified.
  */
object GraftKMeans {

  /** Fit `algo` on `instances` (vector, weight) with Lloyd's loop on the
    * driver, or return `None` when the input is too large for that.
    *
    * Mirrors `KMeans.runWithWeight` → `runAlgorithmWithWeight` step by
    * step; only the RDD plumbing differs:
    *  - the points are built as MLlib builds them
    *    (`VectorWithNorm(v, Vectors.norm(v, 2.0), w)`) and persisted, so
    *    MLlib's distributed k-means|| init reads the same partitions in
    *    the same order;
    *  - the one job of the [[graft.core.Gate.KMeansValues]] gate brings
    *    them to the driver (above the gate, or with fewer rows than
    *    dimensions, the fit is `None`);
    *  - each round accumulates one partition's sums in row order with
    *    `findClosest` and `updateClusterSum`, exactly as an MLlib task
    *    does, and merges the partitions in index order with
    *    `BLAS.axpy`, the order `reduceByKey` merges local map outputs
    *    in. `centroid` and `isCenterConverged` then update the centers
    *    as MLlib's driver does.
    *
    * The returned model's `trainingCost` sums the partitions' costs in
    * index order; MLlib's accumulator merges them in task completion
    * order, so the last bits of that one number may differ. Only the
    * `k-means||` init mode is supported (`initRandom` is private to
    * MLlib's KMeans class). */
  def fitOnDriver(instances: RDD[(Vector, Double)], algo: KMeans): Option[KMeansModel] = {
    require(algo.getInitializationMode == KMeans.K_MEANS_PARALLEL,
      s"driver-side Lloyd's supports only k-means|| init, not ${algo.getInitializationMode}")
    val data = instances
      .map { case (v, w) => new VectorWithNorm(v, Vectors.norm(v, 2.0), w) }
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      graft.core.Gate.KMeansValues.collect(data)(_.vector.size.toLong)
        .filter(parts => parts.iterator.map(_.length.toLong).sum >=
          parts.iterator.flatten.map(_.vector.size).maxOption.getOrElse(0))
        .map { parts =>
          val measure = DistanceMeasure.decodeFromString(algo.getDistanceMeasure)
          val centers = algo.initKMeansParallel(data, measure)
          lloyd(data.sparkContext, algo, measure, centers, parts)
        }
    } finally data.unpersist(blocking = false)
  }

  private def lloyd(sc: org.apache.spark.SparkContext, algo: KMeans,
                    measure: DistanceMeasure, centers: Array[VectorWithNorm],
                    parts: Array[Array[VectorWithNorm]]): KMeansModel = {
    val k = centers.length
    val dims = centers.head.vector.size
    val computeStats = DistanceMeasure.shouldComputeStatistics(k)
    val statsLocally = DistanceMeasure.shouldComputeStatisticsLocally(k, dims)
    var converged = false
    var cost = 0.0
    var iteration = 0
    while (iteration < algo.getMaxIterations && !converged) {
      val stats =
        if (!computeStats) None
        else if (statsLocally) Some(measure.computeStatistics(centers))
        else {
          val bc = sc.broadcast(centers.clone())
          try Some(measure.computeStatisticsDistributedly(sc, bc)) finally bc.destroy()
        }
      val merged = new Array[Vector](k)
      val weightSums = new Array[Double](k)
      cost = 0.0
      parts.foreach { points =>
        val sums = Array.fill(k)(Vectors.zeros(dims))
        val clusterWeightSum = new Array[Double](k)
        var partCost = 0.0
        points.foreach { point =>
          val (best, c) = measure.findClosest(centers, stats, point)
          partCost += c * point.weight
          measure.updateClusterSum(point, sums(best))
          clusterWeightSum(best) += point.weight
        }
        cost += partCost
        for (j <- 0 until k if clusterWeightSum(j) > 0) {
          if (merged(j) == null) {
            merged(j) = sums(j)
            weightSums(j) = clusterWeightSum(j)
          } else {
            BLAS.axpy(1.0, sums(j), merged(j))
            weightSums(j) = weightSums(j) + clusterWeightSum(j)
          }
        }
      }
      converged = true
      for (j <- 0 until k if merged(j) != null) {
        val newCenter = measure.centroid(merged(j), weightSums(j))
        if (converged && !measure.isCenterConverged(centers(j), newCenter, algo.getEpsilon))
          converged = false
        centers(j) = newCenter
      }
      iteration += 1
    }
    new KMeansModel(centers.map(_.vector), algo.getDistanceMeasure, cost, iteration)
  }
}
