package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Shared one-permutation-MinHash kernel: bin update + rotation
  * densification, used by BOTH the streaming aggregate ([[MinHashAgg]])
  * and the row-local array form ([[MinHashArray]]) so the two can never
  * drift — a signature must be bit-identical whether it was aggregated
  * from exploded shingle rows or computed from the shingle-set array in
  * place (the r19 shuffle-removal rewrite relies on exactly this). */
private[functions] object MinHashOph {

  /** Fold one shingle hash into the k-slot buffer (bin = h & (k-1), rank
    * = the remaining bits made unsigned; see [[MinHashAgg.update]] for
    * the accepted {-1,-2} alias note). */
  def update(buf: Array[Long], k: Int, h: Long): Unit = {
    val bin = (h & (k - 1)).toInt
    val r = (h >>> 1)
    if (r < buf(bin)) buf(bin) = r
  }

  /** Rotation densification: an empty bin borrows from the next non-empty
    * bin (circularly), offset-mixed so borrowed values differ across
    * bins; a fully-empty buffer densifies to all −1 (empty doc). */
  def densify(buf: Array[Long], k: Int): Array[Long] = {
    val out = new Array[Long](k)
    var i = 0
    while (i < k) {
      if (buf(i) != Long.MaxValue) out(i) = buf(i)
      else {
        var j = (i + 1) % k
        var hops = 1L
        while (buf(j) == Long.MaxValue && j != i) { j = (j + 1) % k; hops += 1 }
        out(i) =
          if (buf(j) == Long.MaxValue) -1L // fully empty doc
          else buf(j) + hops               // offset so distinct bins differ
      }
      i += 1
    }
    out
  }
}

/** One-permutation MinHash (OPH) with rotation densification as a single
  * imperative Catalyst aggregate.
  *
  * Classic k-hash MinHash evaluates k hash functions per shingle (k×|doc|
  * work). OPH (Li, Owen, Zhang, NIPS'12) instead splits ONE hash's value
  * space into k bins — each input updates exactly one bin's minimum — and
  * densification (Shrivastava & Li, ICML'14 rotation scheme) fills empty
  * bins from the next non-empty bin so the collision property holds for
  * short documents too. Update cost per shingle: one mask + one compare,
  * independent of k. Buffer: k longs, mergeable (map-side combine works).
  *
  * `k` must be a power of two (bin = hash & (k-1); the min is taken over
  * the remaining bits).
  */
case class MinHashAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  require(k > 0 && (k & (k - 1)) == 0, s"k must be a power of two, got $k")

  /** Registered as a SQL function — without this, a non-BIGINT input
    * passes analysis and dies per-row with ClassCastException at
    * execution instead of a plan-time type error. */
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"minhash_agg input must be BIGINT (a 64-bit shingle hash), " +
        s"got ${child.dataType.sql}")

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(k)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      // bin = h & (k-1); rank = the remaining (shifted) bits, made unsigned.
      // Known, ACCEPTED alias: h ∈ {-1L, -2L} ranks to Long.MaxValue —
      // the empty-bin sentinel — so such a shingle never occupies its
      // bin (probability 2^-63 per shingle). Left as-is deliberately:
      // the mapping is replayed bit-for-bit by the SQL oracle twins
      // (q29 et al.), and fixing the alias only on the native side
      // would trade a 2^-63 rank miss for a real cross-engine
      // divergence; fix both sides together or neither.
      MinHashOph.update(buf, k, h)
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < k) { if (b2(i) < b1(i)) b1(i) = b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any =
    new GenericArrayData(MinHashOph.densify(buf, k))

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(k * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(k)(bb.getLong())
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def withNewMutableAggBufferOffset(o: Int): MinHashAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MinHashAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): MinHashAgg =
    copy(child = c)
}

object MinHashAgg {
  /** Aggregate Column: k-slot OPH MinHash signature of a long-hash column. */
  def minhash(tokenHash: Column, k: Int): Column =
    Bridge.column(
      MinHashAgg(Bridge.expression(tokenHash), k).toAggregateExpression())
}

/** Row-local OPH MinHash over a shingle-hash ARRAY column — the same
  * signature [[MinHashAgg]] produces from the exploded rows (shared
  * [[MinHashOph]] kernel; min is order-independent, so folding the array
  * in place is bit-identical to aggregating its elements), without the
  * explode + two-stage aggregation: a signature is a pure function of
  * the per-doc shingle set, so computing it needs NO shuffle at all
  * (guide §2.4 — remove shuffles outright). The near-dup pipelines use
  * this to carry (shset, sig) in ONE narrow cached projection instead of
  * a sets cache plus a shuffled signature cache.
  *
  * Empty array → NULL. An empty shingle set has no signature: the
  * aggregate never sees such a doc (`explode` drops it), and an all −1
  * densification would look like a valid signature and bucket every
  * empty doc together. Callers drop blank text first
  * (`Dedup.shingleSets` keeps `rlike("\\S")` rows, which always have a
  * shingle). Null elements cannot occur (shingle-hash arrays are
  * containsNull = false).
  */
case class MinHashArray(child: Expression, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    with Serializable {

  require(k > 0 && (k & (k - 1)) == 0, s"k must be a power of two, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_array input must be ARRAY<BIGINT> (64-bit shingle " +
            s"hashes), got ${other.sql}")
    }

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = arr.numElements()
    if (n == 0) return null
    val buf = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      MinHashOph.update(buf, k, arr.getLong(i))
      i += 1
    }
    new GenericArrayData(MinHashOph.densify(buf, k))
  }

  override protected def withNewChildInternal(c: Expression): MinHashArray =
    copy(child = c)
}

object MinHashArray {
  /** Row-local Column form: OPH MinHash signature of a shingle-hash
    * array column (bit-identical to `minhash_agg` over the exploded
    * elements — [[MinHashOph]]). */
  def minhash(shset: Column, k: Int): Column =
    Bridge.column(MinHashArray(Bridge.expression(shset), k))
}
