package graft


import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.PlotSink
import graft.multimodal.Multimodal.ImageCodec
import graft.operators.Tsne

class TsneSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** 3 well-separated clusters of 30 points in 8-dim. */
  private def clustered = {
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(3)(Array.fill(8)(rnd.nextGaussian().toFloat * 4f))
    val rows = for { c <- 0 until 3; m <- 0 until 30 } yield {
      val v = centers(c).map(x => x + 0.2f * rnd.nextGaussian().toFloat)
      ((c * 30 + m).toLong, c, v)
    }
    rows.toDF("vec_id", "label", "embedding")
  }

  test("t-SNE separates well-separated clusters in 2-D") {
    val df = clustered
    val coords = Tsne.project(df, "vec_id", "embedding",
        perplexity = 5.0, iters = 300)
      .as[(Long, Double, Double)].collect()
      .map { case (id, x, y) => id -> (x, y) }.toMap
    def dist(a: (Double, Double), b: (Double, Double)) =
      math.hypot(a._1 - b._1, a._2 - b._2)
    val byCluster = coords.groupBy { case (id, _) => id / 30 }
    val intra = byCluster.values.flatMap { m =>
      val pts = m.values.toSeq
      for (i <- pts.indices; j <- i + 1 until pts.size) yield dist(pts(i), pts(j))
    }
    val cents = byCluster.view.mapValues { m =>
      val pts = m.values.toSeq
      (pts.map(_._1).sum / pts.size, pts.map(_._2).sum / pts.size)
    }.toMap
    val inter = for (a <- cents.keys; b <- cents.keys if a < b)
      yield dist(cents(a), cents(b))
    val meanIntra = intra.sum / intra.size
    val minInter = inter.min
    // cluster centers must sit far apart relative to within-cluster spread
    assert(minInter > 3 * meanIntra,
      f"poor separation: mean intra $meanIntra%.2f vs min inter-center $minInter%.2f")
  }

  test("t-SNE is deterministic (no RNG): two runs are bit-identical") {
    val df = clustered
    val a = Tsne.project(df, "vec_id", "embedding", iters = 120)
      .as[(Long, Double, Double)].collect().sortBy(_._1).toSeq
    val b = Tsne.project(df.repartition(7), "vec_id", "embedding", iters = 120)
      .as[(Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(a == b) // exact equality, even across partitionings
  }

  test("t-SNE enforces its bounded-sample contract") {
    val big = spark.range(0, 40).selectExpr("id AS vec_id",
      "array(cast(id as float), cast(id as float)) AS embedding")
    // lazy plan: construction is free; the cap fires inside the task
    // at action time, surfacing as the job failure's cause chain
    val plan = Tsne.project(big, "vec_id", "embedding", maxRows = 10)
    val e = intercept[Exception] { plan.count() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("bounded sample")), e.toString)
  }

  test("boundedSample keeps ~target rows at every scale factor") {
    // the same call over corpora two orders of magnitude apart must
    // return the same-order sample — that is the scale-invariance
    // contract that protects Tsne.project's maxRows guard at sf1+
    for (n <- Seq(120L, 3000L, 50000L)) {
      val df = spark.range(0, n).selectExpr("id AS vec_id")
      val got = Tsne.boundedSample(df, "vec_id", target = 30L).count()
      assert(got >= 15L && got <= 60L, s"n=$n sampled $got rows, want ~30")
    }
    // dense ids: exact-ish (within one row of target)
    val dense = spark.range(0, 2000).selectExpr("id AS vec_id")
    val k = Tsne.boundedSample(dense, "vec_id", target = 500L).count()
    assert(k == 500L, s"dense 2000-row corpus sampled $k, want 500")
  }

  test("scatterPng writes a parseable PNG with plotted content") {
    val df = clustered
    val coords = Tsne.project(df, "vec_id", "embedding", iters = 120)
      .join(df.select(col("vec_id"), col("label")), "vec_id")
    TestSpark.withTempDir("graft_plot") { d =>
      val path = d.resolve("scatter.png").toString
      PlotSink.scatterPng(coords, "x", "y", "label", path,
        width = 320, height = 240)
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      // our own header parser must agree it is a real 320×240 color PNG
      assert(ImageCodec.parseHeader(bytes) == ("png", 320, 240, 3))
      // content check: the plot contains the white background plus at
      // least 3 distinct marker colors (one per label)
      val img = javax.imageio.ImageIO.read(new java.io.File(path))
      val colors = (for (x <- 0 until 320; y <- 0 until 240)
        yield img.getRGB(x, y) & 0xffffff).toSet
      assert(colors.size >= 4, s"expected background + 3 label colors, got ${colors.size}")
    }
  }
}
