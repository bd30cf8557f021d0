package graft.core

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.broadcast

/** A measured-size decision between a driver-side (local) branch and a
  * distributed one. A gate either takes a size its caller has already
  * measured ([[maybeBroadcast]]) or measures and collects in one
  * [[LocalTier]] job, or none for a local relation ([[collect]],
  * [[collectLongs]], [[collectRows]]); both branches of every gate
  * return the same rows. */
final case class Gate private (name: String, bound: Long) {

  /** `broadcast` (the local branch) when a measured `size` is within
    * the bound, else the frame unhinted (the distributed branch). */
  def maybeBroadcast(size: Long): DataFrame => DataFrame =
    Gate.decide(this, Option.when(size <= bound)(broadcast[Row] _)).getOrElse(identity)

  /** [[LocalTier.collectBounded]] at this gate's bound: every partition
    * of `rdd` (the local branch), or `None` (the distributed branch). */
  def collect[T: ClassTag](rdd: RDD[T])(values: T => Long): Option[Array[Array[T]]] =
    Gate.decide(this, LocalTier.collectBounded(rdd, bound)(values))

  /** [[LocalTier.collectRows]] of longs at this gate's bound, where
    * each unit the bound counts is `width` longs. */
  def collectLongs(df: DataFrame, width: Int)
                  (longs: InternalRow => Iterator[Long]): Option[Array[Long]] =
    Gate.decide(this, LocalTier.collectRows(df, width * bound)(longs)(_ => 1L))

  /** [[LocalTier.collectRows]] at this gate's bound. */
  def collectRows[T: ClassTag](df: DataFrame)(draw: InternalRow => Iterator[T])
                              (values: T => Long): Option[Array[T]] =
    Gate.decide(this, LocalTier.collectRows(df, bound)(draw)(values))
}

/** The engine's measured-size gates, each bound written once. */
object Gate {
  /** KMeans vector values that Lloyd's rounds hold on the driver
    * (32 MB as doubles). */
  val KMeansValues = new Gate("kmeans_values", 1L << 22)

  /** Connected components' pair ends (two longs a pair, as the pairs
    * come: duplicates and both directions included) for the driver
    * union-find. Driver memory at the bound, all primitive arrays:
    * ≤ 32 MB collected, ≤ 32 MB sorted into distinct ids, 16 MB of int
    * parents and ≤ 64 MB of (id, comp) slices shipped back — below the
    * 200–400 MB HashedRelation a broadcast label join builds every
    * round. */
  val CcEdgeEnds = new Gate("cc_edge_ends", 4000000L)

  /** LSH-verify candidate pairs held on the driver (two longs each),
    * whose ids select the shingle sets [[LshVerifySets]] collects. */
  val LshVerifyPairs = new Gate("lsh_verify_pairs", 1L << 18)

  /** Shingle-set elements of the LSH-verify pairs' ids, collected for
    * the driver Jaccard: at ~20–60 B per shingle string, 100–250 MB at
    * the bound. Reached only below [[LshVerifyPairs]]. */
  val LshVerifySets = new Gate("lsh_verify_sets", 1L << 22)

  /** TextRank vocabulary whose ranks are broadcast into every round. A
    * (word, double) HashedRelation costs ~40–60 B/row plus the usual
    * 3–6× build overhead: a few hundred MB at the bound, where a
    * 10^8-word vocabulary would be a multi-GB build per round, near
    * the 8 GB / 512M-row relation caps. */
  val TextRankVocab = new Gate("textrank_vocab", 8000000L)

  /** SpanStore delta rows (families plus windows) whose delta-bounded
    * frames are broadcast against the store. */
  val SpanDeltaRows = new Gate("span_delta_rows", 4000000L)

  /** Every gate above. */
  val All: Set[Gate] =
    Set(KMeansValues, CcEdgeEnds, LshVerifyPairs, LshVerifySets, TextRankVocab, SpanDeltaRows)

  /** One decision: `local` is true when the gate took its driver-side
    * branch. */
  final case class Decision(gate: Gate, local: Boolean)

  // the innermost open scope's (forced gates, log); global, not
  // thread-local, because a streaming query decides its gates on its
  // micro-batch thread
  @volatile private var scope: Option[(Set[Gate], ConcurrentLinkedQueue[Decision])] = None

  /** `local` (the local branch when `Some`), or `None` without running
    * it when `gate` is forced, recorded in the open scope. */
  private def decide[A](gate: Gate, local: => Option[A]): Option[A] = {
    val got = if (scope.exists(_._1(gate))) None else local
    scope.foreach(_._2.add(Decision(gate, got.isDefined)))
    got
  }

  /** Runs `body` with the gates in `force` forced to their distributed
    * branch (none: only log), and returns the decisions the gates took
    * inside it. Like [[Caches]], this assumes one query runs at a
    * time. */
  private[graft] def logged[A](force: Set[Gate] = All)(body: => A): (A, Seq[Decision]) = {
    val outer = scope
    val log = new ConcurrentLinkedQueue[Decision]()
    scope = Some((force, log))
    try (body, log.asScala.toSeq) finally scope = outer
  }
}
