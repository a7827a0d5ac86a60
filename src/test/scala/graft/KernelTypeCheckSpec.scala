package graft

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._

/** The `checkInputDataTypes` text of every `graft.functions` kernel,
  * byte for byte: each kernel over a wrongly typed literal child fails
  * with its exact message, and over rightly typed children succeeds. */
class KernelTypeCheckSpec extends AnyFunSuite {

  private val int: Expression = Literal(1)
  private def of(dt: DataType): Expression = Literal.create(null, dt)

  private val str = of(StringType)
  private val dbl = of(DoubleType)
  private val lng = of(LongType)
  private val strs = of(ArrayType(StringType, containsNull = true))
  private val strsNoNull = of(ArrayType(StringType, containsNull = false))
  private val dbls = of(ArrayType(DoubleType, containsNull = true))
  private val dblsNoNull = of(ArrayType(DoubleType, containsNull = false))

  /** (kernel over wrong children, its exact failure, the same kernel
    * over accepted children). */
  private val cases: Seq[(Expression, String, Seq[Expression])] = Seq(
    (BloomBitsAgg(int, 64, 3), "graft_bloom_build requires string input, got int",
      Seq(BloomBitsAgg(str, 64, 3))),
    (BloomHitCount(int, int, 64, 3),
      "graft_bloom_hits requires (binary, array<string>), got (int, int)",
      Seq(BloomHitCount(of(BinaryType), strs, 64, 3), BloomHitCount(of(BinaryType), strsNoNull, 64, 3))),
    (GraftMode(of(BinaryType)), "graft_mode does not support input type binary",
      Seq(GraftMode(int), GraftMode(str), GraftMode(dbl))),
    (HistogramAgg(int, 0.0, 1.0, 4), "graft_histogram requires double input, got int",
      Seq(HistogramAgg(dbl, 0.0, 1.0, 4))),
    (HllSketchAgg(int, 8), "graft_hll requires string input, got int", Seq(HllSketchAgg(str, 8))),
    (HllRegistersAgg(int, 8), "graft_hll_registers requires string input, got int",
      Seq(HllRegistersAgg(str, 8))),
    (HllMergeAgg(int, 8), "graft_hll_merge requires binary (hll registers) input, got int",
      Seq(HllMergeAgg(of(BinaryType), 8))),
    (HllMergeAgg(str, 8), "graft_hll_merge requires binary (hll registers) input, got string",
      Seq(HllMergeAgg(of(BinaryType), 8))),
    (JaroWinkler(int, str), "graft_jaro_winkler requires (string, string), got int, string",
      Seq(JaroWinkler(str, str))),
    (KmvDistinctAgg(int, 16), "graft_kmv_distinct requires string input, got int",
      Seq(KmvDistinctAgg(str, 16))),
    (PathPrefix(lng, lng, int, 2),
      "graft_path_prefix requires (bigint ts, bigint id, string label), got bigint, bigint, int",
      Seq(PathPrefix(lng, lng, str, 2))),
    (PoissonWeights(int, 4), "graft_poisson_weights requires string, got int",
      Seq(PoissonWeights(str, 4))),
    (RoundHalfUpDouble(int), "graft_round_half_up requires double, got int",
      Seq(RoundHalfUpDouble(dbl))),
    (MinHashSignature(str, 4), "graft_minhash requires array<string>, got string",
      Seq(MinHashSignature(strs, 4), MinHashSignature(strsNoNull, 4))),
    (SimHash64(int), "graft_simhash64 requires array<string>, got int",
      Seq(SimHash64(strs), SimHash64(strsNoNull))),
    (Fingerprint(int), "graft_fingerprint requires string, got int", Seq(Fingerprint(str))),
    (TextStats(int), "graft_text_stats requires string, got int", Seq(TextStats(str))),
    (Tokenize(strs), "graft_tokenize requires string, got array<string>", Seq(Tokenize(str))),
    (TokenShingles(int), "graft_token_shingles requires string, got int",
      Seq(TokenShingles(str), TokenShingles(str, 2))),
    (BpeEncode(of(ArrayType(IntegerType)), Seq(("a", "b"))),
      "graft_bpe_encode requires array<string>, got array<int>",
      Seq(BpeEncode(strs, Seq(("a", "b"))), BpeEncode(strsNoNull, Seq(("a", "b"))))),
    (CdcChunkHashes(int, 8, 4), "graft_cdc_chunks requires string, got int",
      Seq(CdcChunkHashes(str, 8, 4))),
    (ByteLevelUnits(int), "graft_byte_units requires array<string>, got int",
      Seq(ByteLevelUnits(strs), ByteLevelUnits(strsNoNull))),
    (SortedIntersectCount(strs, int),
      "graft_sorted_intersect_count requires (array<string>, array<string>), got (array<string>, int)",
      Seq(SortedIntersectCount(strs, strsNoNull))),
    (TopKBy(int, dbl, 2), "graft_topk requires (bigint id, double score), got int and double",
      Seq(TopKBy(lng, dbl, 2))),
    (SrpSignature(int, 4, 2), "graft_srp_signature requires array<double>, got int",
      Seq(SrpSignature(dbls, 4, 2), SrpSignature(dblsNoNull, 4, 2))),
    (DotProduct(dbls, int), "graft_dot requires two array<double> arguments, got array<double> and int",
      Seq(DotProduct(dbls, dblsNoNull))),
    (VectorMean(of(ArrayType(LongType))), "graft_vector_mean requires array<double>, got array<bigint>",
      Seq(VectorMean(dbls), VectorMean(dblsNoNull))),
    (VectorOuterSum(dbls), "graft_vector_outer_sum requires array<bigint> (quantize first), got array<double>",
      Seq(VectorOuterSum(of(ArrayType(LongType))),
        VectorOuterSum(of(ArrayType(LongType, containsNull = false))))),
    (RandomProjection(int, 4, 2), "graft_random_projection requires array<double>, got int",
      Seq(RandomProjection(dbls, 4, 2), RandomProjection(dblsNoNull, 4, 2))),
    (NearestSeed(dbls, dbl, int, dbls),
      "graft_nearest_seed requires (array<double>, double, array<array<double>>, array<double>), " +
        "got array<double>, double, int, array<double>",
      Seq(NearestSeed(dbls, dbl, of(ArrayType(ArrayType(DoubleType))), dbls))),
    (ArrayDivScalar(dbls, int), "graft_array_div requires (array<double>, double), got array<double>, int",
      Seq(ArrayDivScalar(dbls, dbl))),
    (ZipArith(dbls, int, add = true), "graft_zip_add requires two array<double>, got array<double>, int",
      Seq(ZipArith(dbls, dblsNoNull, add = true))),
    (ZipArith(int, dbls, add = false), "graft_zip_sub requires two array<double>, got int, array<double>",
      Seq(ZipArith(dbls, dbls, add = false))))

  test("every kernel fails a wrongly typed child with its exact message") {
    val wrong = cases.collect {
      case (e, msg, _) if e.checkInputDataTypes() != TypeCheckFailure(msg) =>
        s"${e.prettyName}: ${e.checkInputDataTypes()}"
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("every kernel accepts its input types") {
    val wrong = cases.flatMap(_._3).filter(_.checkInputDataTypes() != TypeCheckSuccess)
      .map(e => s"${e.prettyName}: ${e.checkInputDataTypes()}")
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("the pinned set covers every checkInputDataTypes override of graft.functions") {
    // 31 overrides; HllMergeAgg and ZipArith are pinned twice
    assert(cases.map(_._1.getClass).distinct.size == 31)
  }
}
