package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.LocalTier

class LocalTierSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("collectBounded returns every partition in order, or None when one is over its share") {
    val sc = spark.sparkContext
    val rdd = sc.parallelize(Seq(Seq(1L, 2L, 3L), Seq(4L), Seq.empty[Long]), 3)
      .flatMap(identity)
    assert(LocalTier.collectBounded(rdd, 9L)(_ => 1L).map(_.map(_.toSeq).toSeq)
      .contains(Seq(Seq(1L, 2L, 3L), Seq(4L), Seq())))
    // 4 values in all fit a bound of 8, but the first partition's 3 are
    // over its share of 8 / 3 = 2
    assert(LocalTier.collectBounded(rdd, 8L)(_ => 1L).isEmpty)
    // values weight the rows: 2 per row puts the second partition at its share
    assert(LocalTier.collectBounded(rdd, 18L)(_ => 2L).isDefined)
    assert(LocalTier.collectBounded(sc.parallelize(Seq(4L), 1), 7L)(_ => 8L).isEmpty)
  }

  test("collectBounded runs one Spark job, above or below its bound") {
    val rdd = spark.sparkContext.parallelize(1L to 100L, 4)
    for (bound <- Seq(1000L, 10L)) {
      val run = graft.core.Harness.run(spark, TestSpark.SfDir, { (s, _) =>
        LocalTier.collectBounded(rdd, bound)(_ => 1L)
        s.emptyDataFrame
      })(_ => ())
      assert(run.map(_.jobs) == Right(1), s"bound $bound: $run")
    }
  }
}
