package graft

import graft.functions.{ShingleCodes, ShingleExprs}
import graft.ops.{DedupOps, TextOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Parity of the native one-pass shingle-code/MinHash expressions with
  * the composable reference forms they replace: rolling codes vs
  * substring+gramCode, native signatures vs per-permutation array mins,
  * and the short/empty/null edge family.
  */
class ShingleExprsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val samples = Seq(
    "the quick brown fox jumps over the lazy dog",
    "aaaaaaaaaaaaaaaaaaaaaaaa",      // degenerate repetition: one distinct shingle
    "short",                          // shorter than k=8
    "a b c 0 9 z",                    // full alphabet corners
    "exactly8",                       // length == k
    "",                               // empty after normalization
    "ab",
    "numbers 0123456789 and words mixed in a normal looking sentence"
  )

  /** Composable reference: explode positions, substring, gramCode. */
  private def referenceCodes(normCol: org.apache.spark.sql.Column, k: Int) = {
    val arr = transform(
      sequence(lit(1), greatest(length(normCol) - (k - 1), lit(1))),
      i => DedupOps.gramCode(normCol.substr(i, lit(k)), k))
    sort_array(array_distinct(arr))
  }

  test("sorted-distinct shingle codes match the substring+gramCode reference") {
    val df = samples.toDF("text")
      .select(TextOps.normalized(col("text")).as("norm"))
      .withColumn("fast", ShingleExprs.shingleCodes(col("norm"), 3, sortedDistinct = true))
      .withColumn("ref", referenceCodes(col("norm"), 3))
    val bad = df.filter(col("fast") =!= col("ref")).collect()
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("k=8 codes match the reference too (minhash shingle width)") {
    val df = samples.toDF("text")
      .select(TextOps.normalized(col("text")).as("norm"))
      .withColumn("fast", ShingleExprs.shingleCodes(col("norm"), 8, sortedDistinct = true))
      .withColumn("ref", referenceCodes(col("norm"), 8))
    assert(df.filter(col("fast") =!= col("ref")).count() === 0)
  }

  /** MinHash signature from a code array as composable higher-order
    * functions: the minimum of each universal-hash permutation.
    */
  private def minHashSignature(codes: org.apache.spark.sql.Column, numHashes: Int): org.apache.spark.sql.Column =
    array((0 until numHashes).map { i =>
      val (a, b) = DedupOps.minHashCoeffs(i)
      array_min(transform(codes, h => (h * a + b) % DedupOps.MinHashP))
    }: _*)

  test("native minHashSig equals per-permutation mins over the code multiset") {
    val df = samples.toDF("text")
      .select(TextOps.normalized(col("text")).as("norm"))
      .withColumn("codes", ShingleExprs.shingleCodes(col("norm"), 8))
      .withColumn("fast", ShingleExprs.minHashSig(col("norm"), 8, 16))
      .withColumn("ref", minHashSignature(col("codes"), 16))
    val bad = df.filter(col("fast") =!= col("ref")).collect()
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("empty string yields the single zero code; null text yields null") {
    val got = Seq(("a", Some("")), ("b", None: Option[String])).toDF("id", "norm")
      .select(col("id"),
        ShingleExprs.shingleCodes(col("norm"), 8, sortedDistinct = true).as("c"),
        ShingleExprs.minHashSig(col("norm")).as("s"))
      .orderBy("id").collect()
    assert(got(0).getSeq[Long](1) === Seq(0L))
    assert(got(0).getSeq[Long](2).length === 16)
    assert(got(1).isNullAt(1) && got(1).isNullAt(2))
  }

  test("rolling code helper is consistent between multiset and sorted-distinct forms") {
    for (s <- samples) {
      val norm = s.toLowerCase.replaceAll("[^a-z0-9\\s]", " ").replaceAll("\\s+", " ").trim
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(norm)
      val multi = ShingleCodes.codes(u, 5)
      val dist = ShingleCodes.sortedDistinctCodes(u, 5)
      assert(dist.toSeq === multi.toSeq.distinct.sorted)
      val expectedLen = if (norm.length <= 5) 1 else norm.length - 4
      assert(multi.length === expectedLen)
    }
  }

  test("generated code compiles and evaluates (no interpreted fallback)") {
    // GenerateUnsafeProjection has NO compile fallback: a broken
    // doGenCode throws here instead of silently degrading the hot path
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.{MinHashSigExpression, ShingleCodesExpression}
    val in = BoundReference(0, StringType, nullable = true)
    val proj = GenerateUnsafeProjection.generate(Seq(
      MinHashSigExpression(in, 8, 16),
      ShingleCodesExpression(in, 3, sortedDistinct = true)))
    val norm = "the quick brown fox"
    val out = proj(InternalRow(UTF8String.fromString(norm)))
    val sig = out.getArray(0)
    val codes = out.getArray(1)
    assert(sig.numElements() === 16)
    val u = UTF8String.fromString(norm)
    assert(sig.toLongArray().toSeq === ShingleCodes.minHashSig(u, 8, 16).toSeq)
    assert(codes.toLongArray().toSeq === ShingleCodes.sortedDistinctCodes(u, 3).toSeq)
  }
}
