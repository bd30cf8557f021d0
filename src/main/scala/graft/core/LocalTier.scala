package graft.core

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow

/** The small-input tier behind the collecting [[Gate]]s (KMeans' Lloyd
  * rounds, connected components' union-find, the LSH verify's
  * broadcast joins): one job that is both the gate and the collect. */
object LocalTier {

  /** Every partition of `rdd` (in order, each in iterator order), or
    * `None` when a partition holds more than `maxValues / numPartitions`
    * values (its rows' `values` summed; it stops reading there). So the
    * driver never holds more than `maxValues` values, and a skewed input
    * can route to the caller's distributed branch though its total fits. */
  def collectBounded[T: ClassTag](rdd: RDD[T], maxValues: Long)
                                 (values: T => Long): Option[Array[Array[T]]] = {
    val share = maxValues / math.max(1, rdd.getNumPartitions)
    val parts = rdd.mapPartitions { it =>
      val kept = Array.newBuilder[T]
      var n = 0L
      while (n <= share && it.hasNext) {
        val x = it.next()
        n += values(x)
        if (n <= share) kept += x
      }
      Iterator.single(if (n <= share) Some(kept.result()) else None)
    }.collect()
    if (parts.forall(_.isDefined)) Some(parts.map(_.get)) else None
  }

  /** [[collectBounded]] over the longs `longs` draws from each row of
    * `df`, one value each, concatenated in partition order. Planning
    * `df` runs its stages' jobs at once,
    * outside any action, so the gate runs in `df`'s session's artifact
    * scope ([[GraftShims.withSessionArtifacts]]): the stages of a cached
    * frame inside `df` then reuse their generated classes on the next
    * call. */
  def collectLongs(df: DataFrame, maxValues: Long)
                  (longs: InternalRow => Iterator[Long]): Option[Array[Long]] =
    GraftShims.withSessionArtifacts(df.sparkSession) {
      collectBounded(df.queryExecution.toRdd.mapPartitions(_.flatMap(longs)),
        maxValues)(_ => 1L)
    }.map(parts => Array.concat(parts.toIndexedSeq: _*))
}
