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

  // ---- driver-side Lloyd's: exact against plain ml.KMeans ----------

  import org.apache.spark.ml.clustering.KMeans
  import org.apache.spark.sql.DataFrame

  /** `pts` with ml's feature column, as kmeansLabels builds it. */
  private def withFeatures(pts: DataFrame) =
    pts.withColumn("_features", Clustering.features("embedding"))

  private def plainKMeans(pts: DataFrame, k: Int, seed: Long) =
    new KMeans().setK(k).setSeed(seed).setFeaturesCol("_features")
      .setPredictionCol("cluster").fit(withFeatures(pts))

  private def labelsOf(df: DataFrame): Map[Long, Int] =
    df.select("vec_id", "cluster").as[(Long, Int)].collect().toMap

  /** Driver path vs plain ml.KMeans on `pts` (vec_id, embedding):
    * bitwise-equal centers, identical labels and output schema. */
  private def assertExact(pts: DataFrame, k: Int, seed: Long, what: String): Unit = {
    val plain = plainKMeans(pts, k, seed)
    val plainOut = plain.transform(withFeatures(pts)).drop("_features")
    val driver = Clustering.driverKMeans(withFeatures(pts), "_features", k, seed)
    assert(driver.isDefined, s"$what: routed to ml, not the driver")
    def bits(vs: Seq[Array[Double]]) =
      vs.map(_.map(java.lang.Double.doubleToRawLongBits).toSeq)
    assert(bits(driver.get.clusterCenters.toSeq.map(_.toArray)) ==
      bits(plain.clusterCenters.toSeq.map(_.toArray)), s"$what: centers differ")
    val out = Clustering.kmeansLabels(pts, "embedding", k, seed)
    try {
      assert(out.schema == plainOut.schema, s"$what: output schema differs")
      val (got, want) = (labelsOf(out), labelsOf(plainOut))
      val relabeled = want.count { case (id, c) => !got.get(id).contains(c) }
      assert(got.size == want.size && relabeled == 0,
        s"$what: $relabeled of ${want.size} rows relabeled")
    } finally graft.core.Caches.releaseAll()
  }

  /** `n` points of dim `dim` around `k` Gaussian centers, in `parts`
    * partitions (a shuffle-free RDD scan). */
  private def blobs(n: Int, dim: Int, k: Int, parts: Int): DataFrame = {
    val rnd = new scala.util.Random(7L)
    val centers = Array.fill(k, dim)(rnd.nextGaussian() * 10)
    val rows = (0 until n).map { i =>
      val c = centers(rnd.nextInt(k))
      (i.toLong, c.map(x => (x + rnd.nextGaussian()).toFloat))
    }
    spark.sparkContext.parallelize(rows, parts).toDF("vec_id", "embedding")
  }

  test("driver-side Lloyd's: bitwise-equal centers and labels to ml.KMeans") {
    assertExact((0L until 60L).map(i =>
        (i, Array((i % 4).toFloat * 5, (i % 4).toFloat * 5)))
      .toDF("vec_id", "embedding"), k = 4, seed = 0L, "4 stacked points")
    assertExact((0L until 300L).map(i =>
        (i, s"payload-${(i * 7919) % 300}",
          Array(((i * 37) % 101).toFloat, ((i * 53) % 97).toFloat)))
      .toDF("vec_id", "payload", "embedding").repartition(3),
      k = 5, seed = 0L, "round-robin repartitioned")
    for (parts <- Seq(1, 3, 4, 7, 16);
         (n, dim, k) <- Seq((2000, 8, 5), (5000, 64, 10), (700, 32, 25));
         seed <- Seq(0L, 42L))
      assertExact(blobs(n, dim, k, parts), k, seed,
        s"blobs n=$n dim=$dim k=$k parts=$parts seed=$seed")
  }

  test("driver-side Lloyd's: fewer distinct points than k stays exact") {
    // 3 distinct points repeated: k-means|| finds fewer than k distinct
    // candidate centers and returns them all
    val pts = spark.sparkContext.parallelize((0L until 200L).map(i =>
      (i, Array((i % 3).toFloat, (i % 3).toFloat * 2))), 4).toDF("vec_id", "embedding")
    assertExact(pts, k = 5, seed = 0L, "3 distinct points, k = 5")
  }

  test("kmeansLabels: fewer rows than dimensions routes to ml.KMeans") {
    // ml's auto solver picks its block solver for rows < dim, which the
    // driver path does not copy
    val rnd = new scala.util.Random(3L)
    val pts = spark.sparkContext.parallelize((0L until 63L).map(i =>
      (i, Array.fill(64)(rnd.nextGaussian().toFloat))), 2).toDF("vec_id", "embedding")
    assert(Clustering.driverKMeans(withFeatures(pts), "_features", 4, 0L).isEmpty)
    val want = labelsOf(plainKMeans(pts, 4, 0L).transform(withFeatures(pts)))
    val got =
      try labelsOf(Clustering.kmeansLabels(pts, "embedding", 4, 0L))
      finally graft.core.Caches.releaseAll()
    assert(got == want)
  }

  test("kmeansLabels forced past its gate routes to ml.KMeans with the driver path's labels") {
    import graft.core.Gate
    val pts = blobs(400, 8, 4, parts = 4)
    def labels = try labelsOf(Clustering.kmeansLabels(pts, "embedding", 4, 0L))
      finally graft.core.Caches.releaseAll()
    val (driver, below) = Gate.logged(force = Set.empty)(labels)
    val (ml, above) = Gate.logged()(labels)
    assert(below == Seq(Gate.Decision(Gate.KMeansValues, local = true)))
    assert(above == Seq(Gate.Decision(Gate.KMeansValues, local = false)))
    assert(ml == driver)
  }

  private def assertFailsWith(what: String, message: String)(body: => Any): Unit = {
    val e = intercept[Exception] {
      try body finally graft.core.Caches.releaseAll()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains(message)),
      s"$what: ${e.getMessage}")
  }

  test("kmeansLabels: a null or NaN embedding fails the fit") {
    for ((what, bad, message) <- Seq[(String, Array[Float], String)](
           ("null", null, "Vectors MUST NOT be Null"),
           ("NaN", Array(Float.NaN, 1f), "MUST NOT be NaN or Infinity"),
           ("Infinity", Array(Float.NegativeInfinity, 1f), "MUST NOT be NaN or Infinity"))) {
      val pts = ((0L, bad) +: (1L until 100L).map(i =>
        (i, Array((i % 5).toFloat, (i % 7).toFloat)))).toDF("vec_id", "embedding")
      assertFailsWith(s"$what embedding", message) {
        Clustering.kmeansLabels(pts, "embedding", 3, 0L).collect()
      }
    }
    // fewer rows than dimensions: the input ml.KMeans fits itself
    val wide = ((0L, null: Array[Float]) +: (1L until 4L).map(i =>
      (i, Array.tabulate(8)(j => ((i * 7 + j) % 5).toFloat)))).toDF("vec_id", "embedding")
    assertFailsWith("null embedding on the ml path", "Vectors MUST NOT be Null") {
      Clustering.kmeansLabels(wide, "embedding", 2, 0L).collect()
    }
  }

  test("pcaProject: a null embedding fails with ml's message") {
    val pts = ((0L, null: Array[Float]) +: (1L until 50L).map(i =>
      (i, Array((i % 5).toFloat, (i % 7).toFloat, (i % 3).toFloat)))).toDF("vec_id", "embedding")
    assertFailsWith("null embedding", "Vectors MUST NOT be Null") {
      Clustering.pcaProject(pts, "embedding", 2).collect()
    }
  }

  test("kmeansLabels: a small input runs at most 12 Spark jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val pts = spark.range(0, 400, 1, 4).selectExpr("id AS vec_id",
      "array(CAST((id * 37) % 101 AS FLOAT), CAST((id * 53) % 97 AS FLOAT)) AS embedding")
    val marker = "kmeans-job-count-marker"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val counting = new java.util.concurrent.atomic.AtomicBoolean(true)
    val sawMarker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker)) {
          counting.set(false)
          sawMarker.countDown()
        } else if (counting.get) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      try Clustering.kmeansLabels(pts, "embedding", k = 4, seed = 0L).collect()
      finally graft.core.Caches.releaseAll()
      // the listener bus is asynchronous but ordered: once the marker
      // job's start arrives, every job the labelling started is counted
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(sawMarker.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    assert(jobs.get >= 1 && jobs.get <= 12,
      s"kmeansLabels over 400 rows ran ${jobs.get} Spark jobs (want ≤ 12)")
  }
}
