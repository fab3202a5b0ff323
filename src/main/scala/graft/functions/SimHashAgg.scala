package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType}

/** 64-bit SimHash as ONE imperative Catalyst aggregate (SURVEY §2.11).
  *
  * Input: a 64-bit token hash per row. Buffer: 64 bit-counters + a row
  * count (65 longs, mergeable — so partial aggregation works map-side
  * exactly like any built-in agg). Output: the simhash signature, bit j
  * set iff more inputs had bit j set than clear.
  *
  * Replaces a 64-column `sum(when(...))` aggregate: one tight JVM loop per
  * row instead of 64 separately-evaluated agg expressions, and a 520-byte
  * buffer instead of 65 SQL agg slots.
  */
case class SimHashAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  /** Registered as a SQL function — without this, a non-BIGINT input
    * passes analysis and dies per-row with ClassCastException at
    * execution instead of a plan-time type error. */
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"simhash_agg input must be BIGINT (a 64-bit token hash), " +
        s"got ${child.dataType.sql}")

  override def createAggregationBuffer(): Array[Long] = new Array[Long](65)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var j = 0
      while (j < 64) { buf(j) += (h >>> j) & 1L; j += 1 }
      buf(64) += 1L
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var j = 0
    while (j < 65) { b1(j) += b2(j); j += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = {
    val n = buf(64)
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (buf(j) * 2 > n) sig |= (1L << j)
      j += 1
    }
    sig
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(65 * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(65)(bb.getLong())
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def withNewMutableAggBufferOffset(o: Int): SimHashAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SimHashAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): SimHashAgg =
    copy(child = c)
}

object SimHashAgg {
  /** Aggregate Column: simhash of a long-hash column. */
  def simhash(tokenHash: Column): Column =
    Bridge.column(
      SimHashAgg(Bridge.expression(tokenHash)).toAggregateExpression())
}

/** Row-local SimHash over a token-hash ARRAY column — the same signature
  * [[SimHashAgg]] produces from the exploded rows (bit-majority counts
  * are order-independent), without the explode + two-stage aggregation:
  * the signature is a pure per-row function of the token-hash multiset,
  * so computing it needs NO shuffle (guide §2.4 — remove shuffles
  * outright; the r19 twin of [[MinHashArray]]). NULL elements are
  * skipped exactly as the aggregate skips NULL inputs. An empty (or
  * all-null) array yields NULL: a tokenless doc has no signature, and
  * 0L would pass for one (a genuine document can hash to 0L too) and
  * cluster with every doc whose bit-majorities all tie low. Callers drop
  * tokenless docs first (`Dedup.simHash` keeps `rlike("\\S")` rows). */
case class SimHashArray(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    with Serializable {

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash_array input must be ARRAY<BIGINT> (64-bit token " +
            s"hashes), got ${other.sql}")
    }

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val counts = new Array[Long](64)
    var n = 0L
    var i = 0
    val m = arr.numElements()
    while (i < m) {
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i)
        var j = 0
        while (j < 64) { counts(j) += (h >>> j) & 1L; j += 1 }
        n += 1L
      }
      i += 1
    }
    if (n == 0L) return null
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (counts(j) * 2 > n) sig |= (1L << j)
      j += 1
    }
    sig
  }

  override protected def withNewChildInternal(c: Expression): SimHashArray =
    copy(child = c)
}

object SimHashArray {
  /** Row-local Column form: SimHash of a token-hash array column
    * (bit-identical to `simhash_agg` over the exploded elements). */
  def simhash(tokenHashes: Column): Column =
    Bridge.column(SimHashArray(Bridge.expression(tokenHashes)))
}
