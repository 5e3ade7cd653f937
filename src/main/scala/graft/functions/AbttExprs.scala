package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Shared arithmetic for the banked-vector natives. Every step
  * replicates the Column chain it replaces operation-for-operation
  * (binary round with NaN/±Inf pass-through exactly as
  * [[BinaryRoundExpression]], JVM long-wrapping adds/multiplies, JVM
  * double→long casts), so values are bit-identical to the composable
  * form and therefore to the DuckDB oracle.
  */
object AbttCompute {

  /** `round(d, 0).cast("long")` of the binary-round chain: half away
    * from zero on the binary double, then the non-ANSI double→long cast
    * (NaN→0, ±Inf saturates, truncate toward zero) — both folded into
    * one JVM cast, which has exactly those semantics.
    */
  def bank0(d: Double): Long =
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) d.toLong
    else {
      val f = math.abs(d) + 0.5
      (math.signum(d) * (f - (f % 1.0))).toLong
    }

  /** `round(x, 6)` of the binary-round chain (digits = 6). */
  def round6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else {
      val f = math.abs(x) * 1e6 + 0.5
      math.signum(x) * (f - (f % 1.0)) / 1e6
    }

  /** `transform(vec, x => round(x.cast("double") * 1e6).cast("long"))`
    * as one walk: per-element 6dp banking, null elements stay null
    * (transform's per-element null propagation — NOT whole-array null).
    */
  def bank6Array(a: ArrayData, isFloat: Boolean): ArrayData = {
    val n = a.numElements()
    var hasNull = false
    var i = 0
    while (i < n) { if (a.isNullAt(i)) hasNull = true; i += 1 }
    if (!hasNull) {
      val out = new Array[Long](n)
      i = 0
      while (i < n) {
        val d = (if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)) * 1e6
        out(i) = bank0(d)
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    } else {
      val out = new Array[Any](n)
      i = 0
      while (i < n) {
        if (!a.isNullAt(i)) {
          val d = (if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)) * 1e6
          out(i) = java.lang.Long.valueOf(bank0(d))
        }
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  /** All-but-the-top in ONE walk — the chain
    * {{{
    * __x6  = transform(vec, x => round(x.cast("double")*1e6).cast("long"))
    * __p12 = Σ_i (element_at(__x6,i+1) − m6(i)) * v6(i)                       // long, wrapping
    * __y   = transform(__x6, (x6e,i) => round((x6e − m6(i))/1e6
    *                                    − (__p12/1e12)*(v6(i)/1e6), 6))
    * banked: __b6 = transform(__y, y => round(y*1e6).cast("long"))
    * }}}
    * with identical null semantics: ANY null element makes __p12 null
    * and therefore EVERY output element null (an array of n nulls, not
    * a null array); a length mismatch (unreachable behind the
    * `size(vec) === dims` filter) yields null.
    *
    * Deliberate deviation (NaN/±Inf elements only): under Spark 4's
    * ANSI-default session the chain's double→long cast THROWS
    * CAST_OVERFLOW on a NaN/Inf coordinate; these natives bank via the
    * non-ANSI cast (NaN→0, ±Inf saturate — the DuckDB-replayable
    * semantics every other banked walk here uses). The corpus
    * embeddings are NaN-free by construction (the NearestCellExpression
    * precedent), so the deviation is unobservable in the declared
    * queries; AbttExprsSpec pins it against the non-ANSI chain.
    */
  def abttY(a: ArrayData, isFloat: Boolean, m6: Array[Long], v6: Array[Long],
            banked: Boolean): ArrayData = {
    val n = a.numElements()
    if (n != m6.length) return null
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return new GenericArrayData(new Array[Any](n))
      i += 1
    }
    val x6 = new Array[Long](n)
    i = 0
    while (i < n) {
      val d = (if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)) * 1e6
      x6(i) = bank0(d)
      i += 1
    }
    var p12 = 0L
    i = 0
    while (i < n) { p12 += (x6(i) - m6(i)) * v6(i); i += 1 }
    val proj = p12.toDouble / 1e12
    if (banked) {
      val out = new Array[Long](n)
      i = 0
      while (i < n) {
        val y = round6((x6(i) - m6(i)).toDouble / 1e6 - proj * (v6(i).toDouble / 1e6))
        out(i) = bank0(y * 1e6)
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    } else {
      val out = new Array[Double](n)
      i = 0
      while (i < n) {
        out(i) = round6((x6(i) - m6(i)).toDouble / 1e6 - proj * (v6(i).toDouble / 1e6))
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
  }
}

/** `bank6_arr(vec)` → array<bigint> — the 6dp banking transform as one
  * codegen'd walk. The HOF spelling evaluates its lambda INTERPRETED
  * per element, and worse, CollapseProject textually substitutes the
  * whole transform into every downstream reference; one native
  * reference evaluates once.
  */
case class Bank6ArrayExpression(child: Expression) extends UnaryExpression {

  private def elemType(dt: DataType): Option[DataType] = dt match {
    case ArrayType(FloatType, _)  => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _                        => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType(child.dataType).isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bank6_arr needs an array<float|double> input, got ${child.dataType.catalogString}")

  // element nullability mirrors the transform lambda's (nullable round)
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = child.nullable

  private def isFloat: Boolean = elemType(child.dataType).contains(FloatType)

  override def nullSafeEval(input: Any): Any =
    AbttCompute.bank6Array(input.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = AbttCompute.getClass.getName + ".MODULE$"
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $helper.bank6Array($c, $isFloat);")
  }

  override protected def withNewChildInternal(newChild: Expression): Bank6ArrayExpression =
    copy(child = newChild)

  override def prettyName: String = "bank6_arr"
}

/** `abtt_y(vec)` / `abtt_b6(vec)` → the all-but-the-top transform
  * (Mu & Viswanath 2018) against literal banked mean/eigenvector
  * arrays, in one codegen'd walk per row.
  *
  * The composable r14 form — a 64-term `reduce(_+_)` over
  * `element_at(__x6, i+1)` projected in one select and consumed in the
  * next — was catastrophically de-optimized by Catalyst:
  * CollapseProject inlined the full banking `transform` into EVERY
  * `element_at` term (128 copies of the array build per row in the
  * committed q245 plan; 256 in q246's nested post side), an expression
  * tree too large for whole-stage codegen, so thousands of nodes
  * evaluated interpreted per row — q245 4.2 s → 147 s. One opaque
  * native expression is immune to alias substitution by construction
  * and does the entire bank → project → subtract walk in ~3n flops.
  *
  * `m6`/`v6` are `Seq`s so that two expressions over equal arrays are
  * equal (and `semanticEquals`), which lets Catalyst dedupe them; the
  * walk reads them as arrays.
  */
case class AbttTransformExpression(child: Expression, m6: Seq[Long], v6: Seq[Long],
                                   banked: Boolean) extends UnaryExpression {
  @transient private lazy val m6Arr: Array[Long] = m6.toArray
  @transient private lazy val v6Arr: Array[Long] = v6.toArray

  private def elemType(dt: DataType): Option[DataType] = dt match {
    case ArrayType(FloatType, _)  => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _                        => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType(child.dataType).isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"abtt needs an array<float|double> input, got ${child.dataType.catalogString}")

  override def dataType: DataType =
    ArrayType(if (banked) LongType else DoubleType, containsNull = true)
  override def nullable: Boolean = true

  private def isFloat: Boolean = elemType(child.dataType).contains(FloatType)

  override def nullSafeEval(input: Any): Any =
    AbttCompute.abttY(input.asInstanceOf[ArrayData], isFloat, m6Arr, v6Arr, banked)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = AbttCompute.getClass.getName + ".MODULE$"
    val m6Ref = ctx.addReferenceObj("m6", m6Arr, "long[]")
    val v6Ref = ctx.addReferenceObj("v6", v6Arr, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = $helper.abttY($c, $isFloat, $m6Ref, $v6Ref, $banked);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): AbttTransformExpression =
    copy(child = newChild)

  override def prettyName: String = if (banked) "abtt_b6" else "abtt_y"
}

object AbttExprs {
  /** Codegen'd 6dp banking walk over an array<float|double> column. */
  def bank6(vec: Column): Column =
    Bridge.column(Bank6ArrayExpression(Bridge.expression(vec)))

  /** Codegen'd all-but-the-top transform → array<double> (6dp values). */
  def abttY(vec: Column, m6: Array[Long], v6: Array[Long]): Column =
    Bridge.column(AbttTransformExpression(Bridge.expression(vec), m6.toSeq, v6.toSeq, banked = false))

  /** Codegen'd all-but-the-top transform → array<bigint> (re-banked 6dp). */
  def abttB6(vec: Column, m6: Array[Long], v6: Array[Long]): Column =
    Bridge.column(AbttTransformExpression(Bridge.expression(vec), m6.toSeq, v6.toSeq, banked = true))
}
