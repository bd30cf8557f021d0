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
    // each partition in its iterator's order, not sorted
    val unsorted = sc.parallelize(Seq(Seq(3L, 1L, 2L), Seq(9L), Seq(5L, 4L)), 3)
      .flatMap(identity)
    assert(LocalTier.collectBounded(unsorted, 100L)(_ => 1L).map(_.map(_.toSeq).toSeq)
      .contains(Seq(Seq(3L, 1L, 2L), Seq(9L), Seq(5L, 4L))))
    // 4 values in all fit a bound of 8, but the first partition's 3 are
    // over its share of 8 / 3 = 2
    assert(LocalTier.collectBounded(rdd, 8L)(_ => 1L).isEmpty)
    // values weight the rows: 2 per row puts the second partition at its share
    assert(LocalTier.collectBounded(rdd, 18L)(_ => 2L).isDefined)
    assert(LocalTier.collectBounded(sc.parallelize(Seq(4L), 1), 7L)(_ => 8L).isEmpty)
  }

  test("collectBounded under a bound below the partition count holds only empty partitions") {
    val sc = spark.sparkContext
    // a bound of 2 over 3 partitions is a share of 0 values each
    assert(LocalTier.collectBounded(sc.parallelize(Seq(1L), 3), 2L)(_ => 1L).isEmpty)
    assert(LocalTier.collectBounded(sc.parallelize(Seq.empty[Long], 3), 2L)(_ => 1L)
      .map(_.map(_.length).toSeq).contains(Seq(0, 0, 0)))
    // values of 0 never exceed a share of 0
    assert(LocalTier.collectBounded(sc.parallelize(Seq(1L, 2L), 3), 2L)(_ => 0L).isDefined)
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
