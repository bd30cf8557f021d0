package graft.core

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/** The small-input tier behind the collecting [[Gate]]s (KMeans' Lloyd
  * rounds, connected components' union-find, the LSH verify's pairs
  * and shingle sets): one job that is both the gate and the collect,
  * and none for a frame that is already on the driver. */
object LocalTier {

  /** Every partition of `rdd` (in order, each in iterator order), or
    * `None` when a partition holds more than `maxValues / numPartitions`
    * values (its rows' `values` summed; it stops reading there). So the
    * driver never holds more than `maxValues` values, and a skewed input
    * can route to the caller's distributed branch though its total fits. */
  def collectBounded[T: ClassTag](rdd: RDD[T], maxValues: Long)
                                 (values: T => Long): Option[Array[Array[T]]] = {
    val share = maxValues / math.max(1, rdd.getNumPartitions)
    val parts = rdd.mapPartitions(it => Iterator.single(bounded(it, share)(values)))
      .collect()
    if (parts.forall(_.isDefined)) Some(parts.map(_.get)) else None
  }

  /** `it`'s elements while their `values` sum to at most `max`, else
    * `None` (reading stops there). */
  private def bounded[T: ClassTag](it: Iterator[T], max: Long)
                                  (values: T => Long): Option[Array[T]] = {
    val kept = Array.newBuilder[T]
    var n = 0L
    while (n <= max && it.hasNext) {
      val x = it.next()
      n += values(x)
      if (n <= max) kept += x
    }
    Option.when(n <= max)(kept.result())
  }

  /** What `draw` takes from each row of `df`, concatenated in partition
    * order, while the drawn elements' `values` stay within
    * [[collectBounded]]'s per-partition share of `maxValues`. `draw`
    * must copy what it keeps of a row: the rows are reused.
    *
    * A frame whose optimized plan is a local relation (its rows already
    * on the driver) is read there, under the same bound as one
    * partition, and runs no job. Otherwise planning `df` runs its
    * stages' jobs at once, outside any action, so the gate runs in
    * `df`'s session's artifact scope
    * ([[GraftShims.withSessionArtifacts]]): the stages of a cached
    * frame inside `df` then reuse their generated classes on the next
    * call. */
  def collectRows[T: ClassTag](df: DataFrame, maxValues: Long)
                              (draw: InternalRow => Iterator[T])
                              (values: T => Long): Option[Array[T]] =
    df.queryExecution.optimizedPlan match {
      case local: LocalRelation =>
        bounded(local.data.iterator.flatMap(draw), maxValues)(values)
      case _ =>
        GraftShims.withSessionArtifacts(df.sparkSession) {
          collectBounded(df.queryExecution.toRdd.mapPartitions(_.flatMap(draw)),
            maxValues)(values)
        }.map(parts => Array.concat(parts.toIndexedSeq: _*))
    }

  /** `df`'s row count in one job: no aggregate, so no exchange, and
    * under adaptive execution one job where `Dataset.count()` runs two
    * (the partial aggregate's map stage, then the result). Runs in
    * `df`'s session's artifact scope, as [[collectRows]] does. */
  def rowCount(df: DataFrame): Long =
    GraftShims.withSessionArtifacts(df.sparkSession)(df.queryExecution.toRdd.count())
}
