package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Codegen'd vector math over `array<float>` / `array<double>` columns
  * (SURVEY §2.11 — the one place the builtin surface is too slow: the
  * higher-order-function dot product interprets a lambda per element with
  * boxing; at 100 TB of embeddings that's the ANN hot loop).
  *
  * `VecDot` is a native Catalyst `BinaryExpression` with `doGenCode`: the
  * generated Java is a primitive `while` loop over the two `ArrayData`
  * buffers — no boxing, stays inside whole-stage codegen. Accumulation is
  * sequential left-to-right, bit-identical to the `aggregate(zip_with(...))`
  * fold it replaces (oracle parity preserved).
  *
  * Null elements inside the arrays are treated as 0 contribution; a null
  * array yields null (standard null-intolerant binary op). Lengths may
  * differ — the overlap is used (callers validate dims upstream).
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot needs array<float|double> inputs, got ${left.dataType.sql}, ${right.dataType.sql}")
  }

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (lt, rt) = (elemType(left), elemType(right))
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val xv = if (lt == FloatType) x.getFloat(i).toDouble else x.getDouble(i)
        val yv = if (rt == FloatType) y.getFloat(i).toDouble else y.getDouble(i)
        s += xv * yv
      }
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def getter(arr: String, dt: DataType, i: String): String = dt match {
      case FloatType => s"(double)$arr.getFloat($i)"
      case _         => s"$arr.getDouble($i)"
    }
    val (lt, rt) = (elemType(left), elemType(right))
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $s += ${getter(a, lt, i)} * ${getter(b, rt, i)};
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd nearest-centroid (IVF cell) assignment: the 0-based index of
  * the centroid with the greatest cosine to the vector. One pass computes
  * `‖v‖` once, then the k centroid dots in a primitive loop. The Column
  * form (`array_position(array_max(sims), …) − 1` over k `VecDot / norm`
  * cosines) needs a higher-order function to bind the sims once, which
  * Spark does not code-generate: it runs interpreted and re-evaluates
  * the norm once per centroid.
  *
  * Same answer as that Column form, bit for bit: each cosine is
  * `dot / ‖v‖` with [[VecDot]]'s sequential accumulation (null elements
  * contribute 0; lengths may differ — the overlap is used); a null or
  * zero-norm vector scores 0 against every centroid and lands in cell 0;
  * NaN orders greatest (Spark's double ordering), and the first maximum
  * wins, with -0.0 equal to 0.0. `centroids` are driver-side literals
  * (k × dim doubles, normally unit-norm); with no centroids the result is
  * null. */
case class VecCellId(child: Expression, centroids: Seq[Seq[Double]])
    extends UnaryExpression with Serializable {

  @transient private lazy val cs: Array[Array[Double]] =
    centroids.map(_.toArray).toArray

  override def dataType: DataType = IntegerType

  override def nullable: Boolean = centroids.isEmpty

  override def prettyName: String = "vec_cell_id"

  override def toString: String =
    s"$prettyName($child, ${centroids.size} centroids)"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"vec_cell_id needs an array<float|double> input, got ${other.sql}")
  }

  private def floats: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def eval(input: InternalRow): Any =
    if (centroids.isEmpty) null
    else VecCellId.assign(child.eval(input).asInstanceOf[ArrayData], floats, cs)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (centroids.isEmpty) {
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        int ${ev.value} = -1;""")
    } else {
      val c = child.genCode(ctx)
      val ref = ctx.addReferenceObj("centroids", cs, "double[][]")
      ev.copy(code = code"""
        ${c.code}
        int ${ev.value} = graft.functions.VecCellId$$.MODULE$$.assign(
          ${c.isNull} ? null : ${c.value}, ${floats.toString}, $ref);""",
        isNull = FalseLiteral)
    }

  override protected def withNewChildInternal(newChild: Expression): VecCellId =
    copy(child = newChild)
}

object VecCellId {

  /** The kernel behind [[VecCellId]] (interpreted and generated code share
    * it). `v` null → cell 0. */
  def assign(v: ArrayData, floats: Boolean, cs: Array[Array[Double]]): Int = {
    if (v == null) return 0
    val n = v.numElements()
    val x = new Array[Double](n)
    var hasNull = false
    var nn = 0.0
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) hasNull = true
      else {
        val xi = if (floats) v.getFloat(i).toDouble else v.getDouble(i)
        x(i) = xi
        nn += xi * xi
      }
      i += 1
    }
    val norm = math.sqrt(nn)
    // Spark's `norm > 0` is TRUE for NaN: only an exact zero scores 0
    if (norm == 0.0) return 0
    var best = 0
    var bestSim = 0.0
    var j = 0
    while (j < cs.length) {
      val c = cs(j)
      val len = math.min(n, c.length)
      var d = 0.0
      var p = 0
      // a null element is skipped, not added as 0.0 * c: VecDot's exact sum
      if (!hasNull) while (p < len) { d += x(p) * c(p); p += 1 }
      else while (p < len) {
        if (!v.isNullAt(p)) d += x(p) * c(p)
        p += 1
      }
      val s = d / norm
      if (j == 0 || (!bestSim.isNaN && (s.isNaN || s > bestSim))) {
        best = j
        bestSim = s
      }
      j += 1
    }
    best
  }
}

/** Codegen'd squared L2 distance — [[VecDot]]'s twin for the PQ/IVF hot
  * loops (codebook training, encoding, ADC tables, exact rerank), where
  * the `aggregate(zip_with(...))` fold interprets two lambdas per
  * element. Same contracts as VecDot: sequential left-to-right
  * accumulation — bit-identical to the fold it replaces for WELL-FORMED
  * inputs (equal lengths, no null elements; the fold null-propagates on
  * length mismatch where this computes the overlap, so callers guard
  * dimensions — `Pq.encodeColumn` nulls short vectors explicitly).
  * Null elements contribute 0; null array → null.
  * Inside a higher-order function (runtime codebooks) it still wins:
  * the HOF evaluates it as ONE tight interpreted loop instead of a
  * lambda call per element. */
case class VecL2Sq(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_l2sq needs array<float|double> inputs, got ${left.dataType.sql}, ${right.dataType.sql}")
  }

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (lt, rt) = (elemType(left), elemType(right))
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val xv = if (lt == FloatType) x.getFloat(i).toDouble else x.getDouble(i)
        val yv = if (rt == FloatType) y.getFloat(i).toDouble else y.getDouble(i)
        val d = xv - yv
        s += d * d
      }
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def getter(arr: String, dt: DataType, i: String): String = dt match {
      case FloatType => s"(double)$arr.getFloat($i)"
      case _         => s"$arr.getDouble($i)"
    }
    val (lt, rt) = (elemType(left), elemType(right))
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    double $d = ${getter(a, lt, i)} - ${getter(b, rt, i)};
         |    $s += $d * $d;
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecL2Sq =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd ADC table lookup-sum — the per-CANDIDATE inner loop of PQ
  * search: `Σ_m tables[m][codes[m]]`. Left: `array<int>` codes; right:
  * `array<array<double>>` per-subspace distance rows (the query's ADC
  * table). This fold runs once per (candidate × query) pair — the
  * hottest loop in the engine — so the interpreted
  * `aggregate(zip_with(codes, tab, element_at))` it replaces paid two
  * lambda calls plus boxing per subspace per pair. Same left-to-right
  * accumulation; a code outside its row (or any null) contributes 0 —
  * codes are in-range by construction ([[graft.ext.Pq.encodeColumn]]
  * emits argmin indices). Null codes/tables array → null. */
case class VecAdcSum(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(IntegerType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"vec_adc_sum needs (array<int>, array<array<double>>), got ${l.sql}, ${r.sql}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[ArrayData]
    val tab = b.asInstanceOf[ArrayData]
    val n = math.min(codes.numElements(), tab.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!codes.isNullAt(i) && !tab.isNullAt(i)) {
        val row = tab.getArray(i)
        val c = codes.getInt(i)
        if (c >= 0 && c < row.numElements() && !row.isNullAt(c))
          s += row.getDouble(c)
      }
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val row = ctx.freshName("row")
      val c = ctx.freshName("c")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    org.apache.spark.sql.catalyst.util.ArrayData $row = $b.getArray($i);
         |    int $c = $a.getInt($i);
         |    if ($c >= 0 && $c < $row.numElements() && !$row.isNullAt($c)) {
         |      $s += $row.getDouble($c);
         |    }
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecAdcSum =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {
  /** Codegen'd dot product (see [[VecDot]]). */
  def vec_dot(a: Column, b: Column): Column =
    Bridge.column(VecDot(Bridge.expression(a), Bridge.expression(b)))

  /** Codegen'd squared L2 distance (see [[VecL2Sq]]). */
  def vec_l2sq(a: Column, b: Column): Column =
    Bridge.column(VecL2Sq(Bridge.expression(a), Bridge.expression(b)))

  /** Codegen'd ADC lookup-sum (see [[VecAdcSum]]). */
  def vec_adc_sum(codes: Column, tables: Column): Column =
    Bridge.column(VecAdcSum(Bridge.expression(codes), Bridge.expression(tables)))
}
