package graft

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Caches, Harness}

class HarnessSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("a builder that throws is a failed run with no timing, and its tracked frame is released") {
    var tracked: org.apache.spark.sql.DataFrame = null
    val run = Harness.run(spark, TestSpark.SfDir, { (s, _) =>
      tracked = Caches.track(s.range(100).toDF())
      tracked.count()
      throw new IllegalStateException("builder failed")
    })(_ => fail("the act ran after a failed build"))
    assert(run.left.toOption.map(_.getMessage).contains("builder failed"))
    assert(tracked.storageLevel == StorageLevel.NONE)
  }

  test("jobs counts exactly the run's Spark jobs, run after run") {
    val counts = (1 to 5).map { _ =>
      Harness.run(spark, TestSpark.SfDir, (s, _) => s.range(0, 1000, 1, 4).toDF()) { df =>
        df.collect()
        df.write.format("noop").mode("overwrite").save()
      }.map(_.jobs)
    }
    assert(counts == Seq.fill(5)(Right(2)))
  }

  test("an InterruptedException propagates and keeps the thread interrupted") {
    intercept[InterruptedException] {
      Harness.run(spark, TestSpark.SfDir, (_, _) => throw new InterruptedException())(_ => ())
    }
    // Thread.interrupted also clears the flag for the suites after this one
    assert(Thread.interrupted())
  }
}
