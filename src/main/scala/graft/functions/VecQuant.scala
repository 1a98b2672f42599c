package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, LongType}

/** Codegen'd scalar-quantization kernels over `array<double>` / `binary`
  * columns — the per-vector inner loops of the SQ/int8 store builds and
  * serves ([[graft.ml.Index.saveIvfSq]], `int8TopK`, the MRL×SQ tier).
  *
  * Why Expressions and not the HOF/UDF originals: `aggregate(v, 0.0,
  * greatest(acc, abs(x)))` and `transform(v, x -> floor(...))` evaluate
  * their lambdas through the interpreted `HigherOrderFunction` path (one
  * boxed lambda-variable bind per ELEMENT) and block the surrounding
  * projection out of whole-stage codegen; the `packBytes` UDF then pays a
  * `Seq[Double]` conversion (one boxed Double per element) per row. On a
  * build these run once per corpus vector, so the per-element overhead IS
  * the build cost at scale. Each expression below compiles to a primitive
  * loop inside the generated projection — no allocation beyond the output
  * buffer, no boxing.
  *
  * Semantics are BIT-IDENTICAL to the originals they replace (the DuckDB
  * oracles depend on it); the doc on each expression pins the edge cases.
  */
object VecQuant {
  import org.apache.spark.sql.graft.GraftShim

  /** max |xᵢ| with `greatest` fold semantics — exactly
    * `aggregate(v, lit(0.0), (a, x) => greatest(a, abs(x)))`:
    * null if the array is null; null ELEMENTS are skipped (greatest
    * ignores nulls); comparison follows Spark's double ordering
    * (NaN greatest — java.lang.Double.compare), starting accumulator 0.0.
    */
  def maxAbs(v: Column): Column =
    GraftShim.column(MaxAbsFold(GraftShim.expression(v)))

  /** floor(x·127/scale + 0.5) per element, packed `(byte)(int)` — exactly
    * `packBytes(transform(v, x => floor(x * 127.0 / scale + 0.5)))` where
    * packBytes is `q.map(_.toInt.toByte)`: null if array or scale is
    * null; a null ELEMENT packs to byte 0 (the lambda yields null, and
    * Scala's `Double` unbox of null is 0.0); `Double.toInt` saturates at
    * Int bounds and maps NaN to 0, as the JVM `(int)` cast does.
    */
  def sqPack(v: Column, scale: Column): Column =
    GraftShim.column(SqPackBytes(GraftShim.expression(v),
      GraftShim.expression(scale)))

  /** The int8 quantized values as integer-valued DOUBLES (the unpacked
    * twin of [[sqPack]], for ranking paths that dot the codes without a
    * byte layout) — exactly
    * `transform(v, x => floor(x * 127.0 / scale + 0.5).cast("double"))`:
    * Spark's `floor(double)` yields LONG (saturating, NaN → 0) before the
    * cast back, so the kernel is `(double)(long)Math.floor(z)`; null
    * elements stay null, null array/scale stays null.
    */
  def sqQuant(v: Column, scale: Column): Column =
    GraftShim.column(SqQuantDoubles(GraftShim.expression(v),
      GraftShim.expression(scale)))

  /** The int8 quantized values as LONGS (the kmeans / PQ-training
    * integer-exact table) — exactly
    * `transform(v, x => floor(x * 127.0 / scale + 0.5).cast("long"))`:
    * `floor(double)` already yields LONG (saturating, NaN → 0); null
    * elements stay null, null array/scale stays null.
    */
  def sqQuantLongs(v: Column, scale: Column): Column =
    GraftShim.column(SqQuantLongs(GraftShim.expression(v),
      GraftShim.expression(scale)))

  /** Exact integer dot of two packed code vectors widened to double at
    * the end: Σ a(i)·b(i) in Long over min(|a|,|b|) elements, null if
    * either side is null. |q| ≤ 127 keeps every product and the sum
    * exact, so the score is order-free and bit-reproducible (the DuckDB
    * twin computes list_dot_product over the same integer-valued
    * doubles); bit-equal to the UDF it replaced (VecQuantSpec).
    */
  def byteDot(a: Column, b: Column): Column =
    GraftShim.column(ByteDot(GraftShim.expression(a),
      GraftShim.expression(b)))

  /** BINARY code vector back to integer-valued doubles — exactly the
    * `unpackBytes` UDF (`b.map(_.toDouble)`): null on null input,
    * elements never null.
    */
  def unpack(b: Column): Column =
    GraftShim.column(UnpackBytes(GraftShim.expression(b)))

  /** Elementwise difference — exactly `zip_with(a, b, (x, y) => x − y)`:
    * null if either array is null; result length = max(|a|, |b|) with the
    * shorter side null-padded (a padded element yields a null result
    * element, as x − null does); a null element on either side yields a
    * null element. The residual kernel of every residual-coded SQ/PQ
    * build, append and rebuild — one subtraction per corpus element, so
    * the interpreted zip_with lambda bind was per-element build cost.
    */
  def sub(a: Column, b: Column): Column =
    GraftShim.column(VecSub(GraftShim.expression(a), GraftShim.expression(b)))

  /** Residual reconstruction x̂ = c + q·r/127 — exactly
    * `zip_with(cv, unpack(qb), (c, q) => c + q * r / lit(127.0))` with the
    * unpack fused in: null if cv or qb is null; result length =
    * max(|cv|, |qb|) with the shorter side null-padded (padded elements
    * yield null elements); a null r yields all-null ELEMENTS (the lambda
    * went null per element, not the array); per-element IEEE order is
    * c + ((q·r)/127). The residual SQ serve runs this once per probed
    * candidate.
    */
  def reconstruct(cv: Column, qb: Column, r: Column): Column =
    GraftShim.column(SqReconstruct(GraftShim.expression(cv),
      GraftShim.expression(qb), GraftShim.expression(r)))
}

/** See [[VecQuant.maxAbs]]. */
case class MaxAbsFold(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "max_abs_fold"

  protected override def nullSafeEval(a: Any): Any = {
    val av = a.asInstanceOf[ArrayData]
    val n = av.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!av.isNullAt(i)) {
        val ax = math.abs(av.getDouble(i))
        // greatest's ordering: NaN greatest, per Double.compare
        if (java.lang.Double.compare(ax, acc) > 0) acc = ax
      }
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val ax = ctx.freshName("ax")
      s"""
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    double $ax = Math.abs($a.getDouble($i));
         |    if (java.lang.Double.compare($ax, $acc) > 0) $acc = $ax;
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): MaxAbsFold =
    copy(child = c)
}

/** See [[VecQuant.sqPack]]. */
case class SqPackBytes(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "sq_pack_bytes"

  protected override def nullSafeEval(a: Any, s: Any): Any = {
    val av = a.asInstanceOf[ArrayData]
    val scale = s.asInstanceOf[Double]
    val n = av.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      // null element: the transform lambda yields null and the UDF's
      // Double unbox made it 0.0 → byte 0
      if (!av.isNullAt(i))
        out(i) = math.floor(av.getDouble(i) * 127.0 / scale + 0.5).toInt.toByte
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, s) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |byte[] $out = new byte[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    $out[$i] = (byte)(int) Math.floor(
         |      $a.getDouble($i) * 127.0 / $s + 0.5);
         |  }
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression,
                                                 r: Expression): SqPackBytes =
    copy(left = l, right = r)
}

/** See [[VecQuant.sqQuant]]. */
case class SqQuantDoubles(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "sq_quant_doubles"

  protected override def nullSafeEval(a: Any, s: Any): Any = {
    val av = a.asInstanceOf[ArrayData]
    val scale = s.asInstanceOf[Double]
    val n = av.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!av.isNullAt(i))
        out(i) = math.floor(av.getDouble(i) * 127.0 / scale + 0.5)
          .toLong.toDouble
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, s) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |Object[] $out = new Object[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    $out[$i] = (double)(long) Math.floor(
         |      $a.getDouble($i) * 127.0 / $s + 0.5);
         |  }
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression,
                                                 r: Expression): SqQuantDoubles =
    copy(left = l, right = r)
}

/** See [[VecQuant.sqQuantLongs]]. */
case class SqQuantLongs(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "sq_quant_longs"

  protected override def nullSafeEval(a: Any, s: Any): Any = {
    val av = a.asInstanceOf[ArrayData]
    val scale = s.asInstanceOf[Double]
    val n = av.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!av.isNullAt(i))
        out(i) = math.floor(av.getDouble(i) * 127.0 / scale + 0.5).toLong
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, s) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |Object[] $out = new Object[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    $out[$i] = (long) Math.floor(
         |      $a.getDouble($i) * 127.0 / $s + 0.5);
         |  }
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression,
                                                 r: Expression): SqQuantLongs =
    copy(left = l, right = r)
}

/** See [[VecQuant.byteDot]]. */
case class ByteDot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "byte_dot"

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val av = a.asInstanceOf[Array[Byte]]
    val bv = b.asInstanceOf[Array[Byte]]
    val n = math.min(av.length, bv.length)
    var s = 0L
    var i = 0
    while (i < n) { s += av(i).toLong * bv(i).toLong; i += 1 }
    s.toDouble
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = Math.min($a.length, $b.length);
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (long) $a[$i] * (long) $b[$i];
         |}
         |${ev.value} = (double) $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression,
                                                 r: Expression): ByteDot =
    copy(left = l, right = r)
}

/** See [[VecQuant.unpack]]. */
case class UnpackBytes(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "unpack_bytes"

  protected override def nullSafeEval(a: Any): Any = {
    val av = a.asInstanceOf[Array[Byte]]
    val out = new Array[Double](av.length)
    var i = 0
    while (i < av.length) { out(i) = av(i).toDouble; i += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      s"""
         |int $n = $a.length;
         |double[] $out = new double[$n];
         |for (int $i = 0; $i < $n; $i++) { $out[$i] = (double) $a[$i]; }
         |${ev.value} = org.apache.spark.sql.catalyst.expressions
         |  .UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): UnpackBytes =
    copy(child = c)
}

/** See [[VecQuant.sub]]. */
case class VecSub(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  // a mis-typed vector fails at analysis, not as an executor cast error
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "vec_sub"

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val av = a.asInstanceOf[ArrayData]
    val bv = b.asInstanceOf[ArrayData]
    val (na, nb) = (av.numElements(), bv.numElements())
    val n = math.max(na, nb)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (i < na && i < nb && !av.isNullAt(i) && !bv.isNullAt(i))
        out(i) = av.getDouble(i) - bv.getDouble(i)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |int $n = Math.max($na, $nb);
         |Object[] $out = new Object[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($i < $na && $i < $nb &&
         |      !$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $out[$i] = $a.getDouble($i) - $b.getDouble($i);
         |  }
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression,
                                                 r: Expression): VecSub =
    copy(left = l, right = r)
}

/** See [[VecQuant.reconstruct]]. */
case class SqReconstruct(first: Expression, second: Expression,
                         third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), BinaryType, DoubleType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "sq_reconstruct"
  // zip_with(cv, unpack(qb), (c, q) => c + q*r/127): a null r nulls the
  // ELEMENTS, not the array — so only cv/qb null-reject, and eval is
  // overridden rather than using the all-or-nothing ternary
  // nullSafeEval. CodegenFallback (the CellRanks/PqKernels convention):
  // the serve runs this once per probed CANDIDATE, where the win over
  // the interpreted zip_with∘unpack pair is the per-element lambda
  // binds and the intermediate unpacked array, not codegen fusion.
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = first.eval(input)
    val b = second.eval(input)
    if (a == null || b == null) return null
    val r = third.eval(input)
    val av = a.asInstanceOf[ArrayData]
    val bv = b.asInstanceOf[Array[Byte]]
    val (na, nb) = (av.numElements(), bv.length)
    val n = math.max(na, nb)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (r != null && i < na && i < nb && !av.isNullAt(i))
        out(i) = av.getDouble(i) +
          bv(i).toDouble * r.asInstanceOf[Double] / 127.0
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): SqReconstruct =
    copy(first = f, second = s, third = t)
}
