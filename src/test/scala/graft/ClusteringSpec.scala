package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Clustering, Scorers}

class ClusteringSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("lloydExactAssign: separable points land in the seeded clusters") {
    // ids 0 and 1 seed the two clusters; the rest split around them
    val pts = Seq(
      (0L, Array(0.0f, 0.1f)), (1L, Array(10.0f, 10.0f)),
      (2L, Array(0.2f, 0.0f)), (3L, Array(9.8f, 10.1f)),
      (4L, Array(0.1f, 0.1f)))
      .toDF("vec_id", "embedding")
    val out = Clustering.lloydExactAssign(pts, "vec_id", "embedding",
        k = 2, iters = 3)
      .select("vec_id", "cluster").as[(Long, Int)].collect().toMap
    assert(Seq(0L, 2L, 4L).forall(out(_) == 0))
    assert(Seq(1L, 3L).forall(out(_) == 1))
  }

  test("lloydExactAssign is deterministic across reruns") {
    val pts = (0L until 40L).map(i =>
      (i, Array((i % 7).toFloat, (i % 5).toFloat, (i % 3).toFloat)))
      .toDF("vec_id", "embedding")
    def run() = Clustering.lloydExactAssign(pts, "vec_id", "embedding",
        k = 3, iters = 2)
      .select("vec_id", "cluster").as[(Long, Int)].collect().toSeq.sorted
    assert(run() == run())
  }

  test("powerIterProjection recovers the dominant direction") {
    // points spread 10x wider along axis 0 than axis 1: after 2
    // rounds the direction is ~axis 0, so |proj| tracks |x0|
    val pts = (0L until 50L).map { i =>
      (i, Array(((i % 10).toFloat - 4.5f) * 10f, (i % 3).toFloat - 1f))
    }.toDF("vec_id", "embedding")
    val out = Clustering.powerIterProjection(pts, "embedding", iters = 2)
      .select("vec_id", "proj").as[(Long, Double)].collect().toMap
    // |proj| ordering tracks |x0| ordering: EVERY near-axis row
    // (|x0| = 5) projects strictly smaller than every extreme row
    // (|x0| = 45)
    val near    = out.collect { case (i, p) if i % 10 == 4 || i % 10 == 5 => p.abs }
    val extreme = out.collect { case (i, p) if i % 10 == 0 || i % 10 == 9 => p.abs }
    assert(near.nonEmpty && extreme.nonEmpty)
    assert(near.max < extreme.min)
  }

  test("powerIterProjection is deterministic across reruns") {
    val pts = (0L until 30L).map(i =>
      (i, Array((i % 7).toFloat, (i % 5).toFloat, (i % 3).toFloat)))
      .toDF("vec_id", "embedding")
    def run() = Clustering.powerIterProjection(pts, "embedding", 2)
      .select("vec_id", "proj").as[(Long, Double)].collect().toSeq.sorted
    assert(run() == run())
  }

  test("kmeansLabels produces k clusters under a fixed seed") {
    val pts = (0L until 60L).map(i =>
      (i, Array((i % 4).toFloat * 5, (i % 4).toFloat * 5)))
      .toDF("vec_id", "embedding")
    val out = Clustering.kmeansLabels(pts, "embedding", k = 4, seed = 0L)
    try assert(out.select("cluster").distinct().count() == 4)
    finally graft.core.Caches.releaseAll()
  }

  test("clusterAndSelect scores each partition once, whatever its passes") {
    // KMeans fit, transform, both sides of the band and the stride
    // sample all read the model-scored rows; each must reuse one
    // materialization instead of re-running the scorer
    val inits = spark.sparkContext.longAccumulator("clustering.backend_inits")
    val make: () => Scorers.ModelBackend =
      () => { inits.add(1); new Scorers.ProxyBackend(42L) }
    val docs = spark.range(0, 400, 1, 4).selectExpr("id", "concat('doc ', id) AS text")
    val scored = Scorers.withModelScores(docs, "text", make)
    try {
      val picked = Clustering.clusterAndSelect(scored, "id", "emb_ins_alone",
        "score_rw", k = 4, sampleNum = 10).collect()
      assert(picked.nonEmpty)
      assert(inits.sum == scored.rdd.getNumPartitions)
    } finally graft.core.Caches.releaseAll()
  }

  test("kmeansLabels over a repartitioned input labels exactly as plain MLlib") {
    // a round-robin repartition sorts whole rows before dealing them, so
    // MLlib's fit (which reads the frame pruned to the embedding) sees
    // other partitions than a cache of the full rows would hold
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val pts = (0L until 300L).map(i =>
      (i, s"payload-${(i * 7919) % 300}",
        Array(((i * 37) % 101).toFloat, ((i * 53) % 97).toFloat)))
      .toDF("vec_id", "payload", "embedding").repartition(3)
    val withVec = pts.withColumn("_features", array_to_vector($"embedding"))
    val plain = new KMeans().setK(5).setSeed(0L).setFeaturesCol("_features")
      .setPredictionCol("cluster").fit(withVec).transform(withVec)
      .select("vec_id", "cluster").as[(Long, Int)].collect().toMap
    val out =
      try Clustering.kmeansLabels(pts, "embedding", k = 5, seed = 0L)
        .select("vec_id", "cluster").as[(Long, Int)].collect().toMap
      finally graft.core.Caches.releaseAll()
    val relabeled = plain.count { case (id, c) => !out.get(id).contains(c) }
    assert(out.size == plain.size && relabeled == 0,
      s"$relabeled of ${plain.size} rows relabeled")
  }
}
