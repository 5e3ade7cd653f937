package graft

import graft.functions.AbttExprs
import graft.ops.Rounding.round // binary rounding — the chain under test used it
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{round => _, _}
import org.scalatest.funsuite.AnyFunSuite

/** The r15 all-but-the-top natives pinned against the EXACT r14 Column
  * chains they replace (the executable spec discipline): banking walk
  * vs `transform(vec, x => round(x*1e6).cast(long))`, abtt_y / abtt_b6
  * vs the banked p12-projection transform — bit-for-bit on random
  * vectors plus the adversarial corners (null elements, NaN, ±Infinity,
  * rounding-boundary values, negative zero).
  */
class AbttExprsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val dims = 16
  private val rnd = new scala.util.Random(42)
  private val m6: Array[Long] = Array.fill(dims)((rnd.nextLong() % 2000000L))
  private val v6: Array[Long] = Array.fill(dims)((rnd.nextLong() % 1000000L))

  /** The r14 chain, verbatim (SimilarityOps.removeTopArr before r15). */
  private def chainY(vecCol: Column): Column = {
    val x6arr = transform(vecCol, x => round(x.cast("double") * 1e6).cast("long"))
    // evaluated against a materialized __x6 in the original; here the
    // whole chain is one expression — values are what matter
    val p12 = (0 until dims).map { i =>
      (element_at(x6arr, i + 1) - m6(i)) * v6(i)
    }.reduce(_ + _)
    val m6Lit = lit(m6)
    val v6Lit = lit(v6)
    transform(x6arr, (x6e, i) =>
      round((x6e - element_at(m6Lit, i + 1)) / lit(1e6)
        - (p12 / lit(1e12)) * (element_at(v6Lit, i + 1) / lit(1e6)), 6))
  }

  private def chainBank(vecCol: Column): Column =
    transform(vecCol, x => round(x.cast("double") * 1e6).cast("long"))

  private def chainB6(vecCol: Column): Column =
    transform(chainY(vecCol), v => round(v * 1e6).cast("long"))

  private def bits(s: Seq[java.lang.Double]): Seq[java.lang.Long] =
    s.map(d => if (d == null) null
      else java.lang.Long.valueOf(java.lang.Double.doubleToRawLongBits(d.doubleValue())))

  private def randomVecs(n: Int): Seq[Seq[Float]] =
    Seq.fill(n)(Seq.fill(dims)(rnd.nextFloat() * 2 - 1))

  test("abtt_y matches the r14 chain bit-for-bit on random float vectors") {
    val df = randomVecs(300).toDF("v")
    val out = df.select(
      AbttExprs.abttY($"v", m6, v6).as("native"), chainY($"v").as("chain"))
      .as[(Seq[java.lang.Double], Seq[java.lang.Double])].collect()
    out.foreach { case (n, c) => assert(bits(n) == bits(c)) }
  }

  test("abtt_b6 matches chain-then-rebank bit-for-bit") {
    val df = randomVecs(300).toDF("v")
    val out = df.select(
      AbttExprs.abttB6($"v", m6, v6).as("native"), chainB6($"v").as("chain"))
      .as[(Seq[java.lang.Long], Seq[java.lang.Long])].collect()
    out.foreach { case (n, c) => assert(n == c) }
  }

  /** Run `body` with spark.sql.ansi.enabled=false, restoring after —
    * the NaN/±Inf corners are only evaluable by the chain there (the
    * ANSI double→long cast THROWS on them; see the deviation note on
    * the native's scaladoc).
    */
  private def withAnsiOff[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try body finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("bank6 matches the banking transform, incl. null and boundary elements") {
    val corners: Seq[Seq[java.lang.Float]] = Seq(
      Seq.tabulate(dims)(i => java.lang.Float.valueOf(i * 0.1234565f - 0.5f)),
      Seq.tabulate(dims)(i => if (i == 3) null else java.lang.Float.valueOf(1.0f / (i + 1))),
      Seq.fill(dims)(java.lang.Float.valueOf(-0.0f)),
      Seq.fill(dims)(java.lang.Float.valueOf(0.0000005f)),
      Seq.fill(dims)(java.lang.Float.valueOf(-0.0000005f)))
    val df = corners.toDF("v")
    val out = df.select(AbttExprs.bank6($"v").as("native"), chainBank($"v").as("chain"))
      .as[(Seq[java.lang.Long], Seq[java.lang.Long])].collect()
    out.foreach { case (n, c) => assert(n == c) }
  }

  test("bank6 on NaN/Inf elements matches the NON-ANSI chain (ANSI chain throws)") {
    val weird: Seq[Seq[java.lang.Float]] = Seq(
      Seq.tabulate(dims)(i => java.lang.Float.valueOf(
        if (i == 0) Float.NaN else if (i == 1) Float.PositiveInfinity
        else if (i == 2) Float.NegativeInfinity else -0.0f)))
    val df = weird.toDF("v")
    intercept[Exception] { // the r14 chain under Spark 4 ANSI: CAST_OVERFLOW
      df.select(chainBank($"v")).collect()
    }
    withAnsiOff {
      val out = df.select(AbttExprs.bank6($"v").as("native"), chainBank($"v").as("chain"))
        .as[(Seq[java.lang.Long], Seq[java.lang.Long])].collect()
      out.foreach { case (n, c) => assert(n == c) }
    }
  }

  test("abtt_y/abtt_b6 null-element vector -> every output element null (chain parity)") {
    val dirty: Seq[Seq[java.lang.Float]] =
      Seq(Seq.tabulate(dims)(i => if (i == 7) null else java.lang.Float.valueOf(0.25f * i)))
    val df = dirty.toDF("v")
    val (ny, cy) = df.select(
      AbttExprs.abttY($"v", m6, v6).as("n"), chainY($"v").as("c"))
      .as[(Seq[java.lang.Double], Seq[java.lang.Double])].collect().head
    assert(ny == Seq.fill(dims)(null) && cy == Seq.fill(dims)(null))
    val (nb, cb) = df.select(
      AbttExprs.abttB6($"v", m6, v6).as("n"), chainB6($"v").as("c"))
      .as[(Seq[java.lang.Long], Seq[java.lang.Long])].collect().head
    assert(nb == Seq.fill(dims)(null) && cb == Seq.fill(dims)(null))
  }

  test("abtt on NaN/Inf elements matches the NON-ANSI chain (ANSI chain throws)") {
    val weird: Seq[Seq[java.lang.Float]] = Seq(
      Seq.tabulate(dims)(i => java.lang.Float.valueOf(
        if (i == 0) Float.NaN else if (i == 1) Float.PositiveInfinity
        else 0.125f * i)))
    val df = weird.toDF("v")
    intercept[Exception] { df.select(chainY($"v")).collect() }
    withAnsiOff {
      val out = df.select(
        AbttExprs.abttY($"v", m6, v6).as("native"), chainY($"v").as("chain"))
        .as[(Seq[java.lang.Double], Seq[java.lang.Double])].collect()
      out.foreach { case (n, c) => assert(bits(n) == bits(c)) }
      val outB = df.select(
        AbttExprs.abttB6($"v", m6, v6).as("native"), chainB6($"v").as("chain"))
        .as[(Seq[java.lang.Long], Seq[java.lang.Long])].collect()
      outB.foreach { case (n, c) => assert(n == c) }
    }
  }

  test("interpreted eval path matches the DataFrame (codegen) path") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val vec = Array.fill(dims)(rnd.nextFloat() * 2 - 1)
    val df = Seq(vec.toSeq).toDF("v")
    val viaDf = df.select(AbttExprs.abttY($"v", m6, v6)).as[Seq[Double]].collect().head
    val litChild = Literal.create(vec, ArrayType(FloatType, containsNull = true))
    val expr = graft.functions.AbttTransformExpression(litChild, m6.toSeq, v6.toSeq, banked = false)
    val evald = expr.eval(InternalRow.empty)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray().toSeq
    assert(bits(viaDf.map(java.lang.Double.valueOf)) == bits(evald.map(java.lang.Double.valueOf)))
  }

  test("abtt expressions over equal arrays are semanticEquals") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val vec = Literal.create(Array(0.5f, -0.25f), ArrayType(FloatType, containsNull = true))
    def expr(m: Array[Long], banked: Boolean) =
      graft.functions.AbttTransformExpression(vec, m.toSeq, v6.clone().toSeq, banked)
    // separate array instances with the same contents
    val a = expr(m6.clone(), banked = false)
    val b = expr(m6.clone(), banked = false)
    assert(a.semanticEquals(b) && a.semanticHash() == b.semanticHash())
    assert(!a.semanticEquals(expr(m6.clone(), banked = true)))
    assert(!a.semanticEquals(expr(m6.map(_ + 1), banked = false)))
    // the same holds through the Column API
    val x = AbttExprs.abttY($"v", m6.clone(), v6.clone())
    val y = AbttExprs.abttY($"v", m6.clone(), v6.clone())
    val plan = Seq(Seq(0.5f, -0.25f)).toDF("v").select(x.as("x"), y.as("y")).queryExecution.analyzed
    val Seq(ex, ey) = plan.expressions.map(_.children.head)
    assert(ex.semanticEquals(ey))
  }
}
