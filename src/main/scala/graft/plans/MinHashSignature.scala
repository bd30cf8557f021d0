package graft.plans

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Static hot loop of [[MinHashSignature]], and the seeded md5-prefix
  * hash it shares with [[graft.operators.Scorers.ProxyBackend]]. */
object MinHash {
  /** Modulus of the shingle ids and of the universal hashes: a·x + b
    * mod P stays inside BIGINT under both Spark's and DuckDB's
    * overflow rules. */
  final val P = 1000000007L

  /** Permutation i of the signature: h_i(x) = (a_i·x + b_i) mod P. */
  def coeffA(i: Int): Long = 2L * i + 3L
  def coeffB(i: Int): Long = 5L * i + 7L

  /** First 15 hex digits of an md5 digest as a non-negative 60-bit
    * long: the big-endian first 8 bytes >>> 4, which equals parsing
    * the hex prefix, without the string round trip. */
  def md5Prefix60(d: Array[Byte]): Long = {
    val be =
      ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
      ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
      ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    be >>> 4
  }

  private val md5 = ThreadLocal.withInitial[MessageDigest](
    () => MessageDigest.getInstance("MD5"))

  /** The k-long MinHash signature of one shingle set: per permutation
    * i, the min over the set's shingles sh of h_i(wid(sh)), where
    * wid(sh) = md5Prefix60(md5("<seed>:" + sh)) mod P — exactly
    * `Dedup.minhashSignatures` over `explode(set)` →
    * `Dedup.md5Wid(sh, seed)`. Repeated shingles cannot change a min.
    * An empty set has no signature (null), as explode yields no row
    * for it. */
  def signature(set: ArrayData, k: Int, seed: Long): ArrayData = {
    val n = set.numElements()
    if (n == 0) return null
    val md = md5.get()
    val prefix = s"$seed:".getBytes(UTF_8)
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (set.isNullAt(i)) throw new IllegalArgumentException(
        s"minhash_signature: null shingle at index $i — shingle sets " +
          "must hold non-null elements")
      md.update(prefix)
      md.update(set.getUTF8String(i).getByteBuffer)
      val wid = md5Prefix60(md.digest()) % P
      var j = 0
      while (j < k) {
        val h = (wid * coeffA(j) + coeffB(j)) % P
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }
}

/** The k-long MinHash signature of an `array<string>` shingle set in
  * one codegen'd call per row (see [[MinHash.signature]] for the
  * contract) — replaces an explode of the set, an md5 → hex →
  * substring → conv → cast chain per shingle, and a k-way grouped min
  * that shuffled the exploded rows back together by id. */
case class MinHashSignature(child: Expression, k: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) =>
      if (k >= 1) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"minhash_signature: k must be >= 1, got $k")
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_signature needs array<string>, got ${other.sql}")
  }
  override def nullSafeEval(input: Any): Any =
    MinHash.signature(input.asInstanceOf[ArrayData], k, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.plans.MinHash.signature($c, $k, ${seed}L);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSignature {
  def apply(c: Column, k: Int, seed: Long): Column =
    GraftShims.column(MinHashSignature(GraftShims.expression(c), k, seed))
}
