package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.QualityModel

class QualityModelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // linearly separable by x1: y = 1 iff x1 > 0.5 (plus a little slack
  // band so a few GD rounds suffice)
  private def fixture = (1 to 400).map { i =>
    val x1 = (i % 100) / 100.0
    val y  = if (x1 > 0.5) 1 else 0
    (i.toLong, y, 1.0, x1)
  }.toDF("id", "y", "x0", "x1")

  private val cols = Seq("x0", "x1")

  test("trainLogistic learns a separable rule well above majority") {
    val w = QualityModel.trainLogistic(fixture, cols, "y", lr = 8.0, rounds = 24)
    val scored = fixture.withColumn("pred",
      (QualityModel.scoreZ(cols, w) > 0.0).cast("int"))
    val acc = scored.where($"pred" === $"y").count().toDouble /
      scored.count()
    assert(acc >= 0.9, s"accuracy $acc with w=${w.toSeq}")
    // the learned boundary must slope the right way
    assert(w(1) > 0.0 && w(0) < 0.0, s"w=${w.toSeq}")
  }

  test("weights are bit-identical across partitionings (decimal gradient sums)") {
    def train(parts: Int) =
      QualityModel.trainLogistic(fixture.repartition(parts), cols, "y",
        lr = 8.0, rounds = 10).toSeq
    val w1 = train(1)
    assert(w1 == train(7) && w1 == train(32))
  }

  test("empty training set fails loudly") {
    val e = intercept[IllegalArgumentException] {
      QualityModel.trainLogistic(fixture.where($"id" < 0), cols, "y", 1.0, 2)
    }
    assert(e.getMessage.contains("empty training set"))
  }

  test("WeightedDotConst is bit-identical to the lit-literal left fold") {
    // awkward values on purpose: sign flips, zeros, subnormal-ish
    // magnitudes — the reference-object fold must reproduce the
    // binary-operator fold to the RAW BIT (the GD loop's exactness
    // contract), including the w_0·x_0 start (no 0.0 + term)
    val rows = Seq(
      (0.0, -0.0, 1.0, 3.25),
      (-0.0, 0.0, -1e-300, 2.5e300),
      (1.0 / 3.0, -2.0 / 7.0, 1e16, -1.0),
      (0.1, 0.2, 0.3, 0.4)
    ).toDF("a", "b", "c", "d")
    val w = Array(-0.0, 0.125, -3.7e-9, 2.0 / 3.0)
    val cs = Seq("a", "b", "c", "d")
    val litFold = cs.zipWithIndex.map { case (f, j) => lit(w(j)) * col(f) }
      .reduceLeft(_ + _)
    val got = rows.select(
      graft.plans.WeightedDotConst(cs.map(col), w).as("zn"),
      litFold.as("zl")).collect()
    got.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        s"native ${r.getDouble(0)} vs literal ${r.getDouble(1)}")
    }
    // null propagation matches the literal formulation (null * w → null)
    val withNull = Seq((Some(1.0), 2.0), (None, 3.0)).toDF("a", "b")
    val nGot = withNull.select(
      graft.plans.WeightedDotConst(Seq(col("a"), col("b")), Array(1.5, 2.5)).as("zn"),
      (lit(1.5) * col("a") + lit(2.5) * col("b")).as("zl")).collect()
    nGot.foreach(r => assert(r.isNullAt(0) == r.isNullAt(1)))
  }

  test("GD rounds past the first two compile no new classes (weights are a reference object)") {
    // with the weights inlined as literals every round with new weights
    // emits new generated source and compiles it; the reference-object
    // weights make the source round-invariant, so once rounds 1-2 have
    // compiled, rounds 3-4 of a second fit are all code-cache hits
    // (lr 5 is this test's own: no other fit here has met these weights)
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    QualityModel.trainLogistic(fixture, cols, "y", lr = 5.0, rounds = 2)
    val before = compiles.getCount
    QualityModel.trainLogistic(fixture, cols, "y", lr = 5.0, rounds = 4)
    assert(compiles.getCount - before == 0L)
  }

  test("trainLogistic weights are unchanged by the reference-object z") {
    // frozen expectation from the literal-fold implementation (r14
    // HEAD, same fixture/lr/rounds): the codegen-cache optimization
    // must not move a bit
    val w = QualityModel.trainLogistic(fixture, cols, "y", lr = 8.0, rounds = 3)
    val zExpected = fixture.select(
      (lit(w(0)) * col("x0") + lit(w(1)) * col("x1")).as("zl"),
      QualityModel.scoreZ(cols, w).as("zn")).collect()
    zExpected.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    // and the round-9 canonical weights stay canonical
    w.foreach(x => assert(x ==
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble))
  }
}
