package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSql
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column-level vector math API (SURVEY.md §2.6). The hot-path functions
  * (dot / cosine / hamming) are backed by the codegen expressions in
  * [[VectorExpressions]]; the rest compose built-in higher-order functions.
  *
  * Reference constants kept bit-identical for oracle parity:
  * cosine denominator epsilon 1e-12 (`src/VectorTable.php:173`),
  * zero-magnitude guard 1e-10 (`src/VectorTable.php:586`).
  */
object VectorFunctions {
  val CosineEps: Double = 1e-12 // VectorTable.php:173
  val ZeroMagEps: Double = 1e-10 // VectorTable.php:586

  private def col(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    GraftSql.column(e)
  private def expr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    GraftSql.expression(c)

  /** dot(a, b) in double over float arrays (codegen). */
  def vecDot(a: Column, b: Column): Column = col(DotProductFloat(expr(a), expr(b)))

  /** L2 magnitude = sqrt(dot(v, v)) (`src/VectorTable.php:626-632`). */
  def vecMagnitude(v: Column): Column = sqrt(vecDot(v, v))

  /** Unit-normalize with the reference's zero-magnitude guard
    * (`src/VectorTable.php:584-590`: mag==0 -> 1e-10): the one-pass
    * [[NormalizeFloat]] kernel. */
  def vecNormalize(v: Column): Column = col(NormalizeFloat(expr(v)))

  /** Matryoshka truncation (Kusupati et al. 2022, arXiv:2205.13147):
    * keep the first k dimensions and re-normalize — the cheap low-dim
    * index view of an MRL-trained embedding (prefix dims carry the
    * coarse semantics; a 4x-smaller index serves the candidate stage and
    * the full vector reranks). Output doubles, [[vecNormalize]]
    * zero-guard semantics. */
  def matryoshka(v: Column, k: Int): Column = {
    require(k >= 1, s"k must be positive, got $k")
    vecNormalize(slice(v, 1, k))
  }

  /** cosine(v, q) = dot / (|v|·|q| + 1e-12) (`src/VectorTable.php:173`):
    * the fused one-pass [[CosineFloat]] kernel. Pass the query as an array
    * literal (or column), never its magnitude: the plan then compiles once
    * for every query of the same shape. */
  def vecCosine(v: Column, q: Column): Column = col(CosineFloat(expr(v), expr(q)))

  /** cosine(v, q) with `v`'s stored magnitude standing in for |v|
    * (the store's `magnitude` column): [[CosineFloatStored]]. */
  def vecCosine(v: Column, q: Column, vMagnitude: Column): Column =
    col(CosineFloatStored(expr(v), expr(q), expr(vMagnitude.cast(DoubleType))))

  /** Sign-binarize + pack into longs (`src/VectorTable.php:537-547`;
    * bit = v[i] > 0). 16 longs for 1024 dims, 1 long for 64 dims. */
  def packSignBits(v: Column): Column = col(PackSignBits(expr(v)))

  /** Hamming distance between packed sketches (`src/VectorTable.php:126-139`
    * re-expressed as XOR + popcount; codegen). */
  def hammingDist(a: Column, b: Column): Column = col(HammingDistPacked(expr(a), expr(b)))

  /** Charikar SimHash of an array of 64-bit token hashes. */
  def simHash64(tokenHashes: Column): Column = col(SimHash64(expr(tokenHashes)))

  /** Sign bits as an int array (unpacked form; matches the reference's
    * per-character bitstring semantics for tests/oracles). */
  def signBits(v: Column): Column =
    transform(v, x => when(x > 0f, lit(1)).otherwise(lit(0)))

  // -------------------------------------------------------------------
  // Deterministic (decimal-accumulated) variants for oracle cross-checks.
  // Double summation order can differ between engines; summing exact
  // decimals of identical per-element double products cannot.
  // -------------------------------------------------------------------
  private val Dec = DataTypes.createDecimalType(38, 18)

  /** dot(a, b) with per-element double products cast to decimal(38,18) and
    * summed exactly — bit-reproducible across engines. */
  def vecDotExact(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x.cast(DoubleType) * y.cast(DoubleType)).cast(Dec)),
      lit(0).cast(Dec),
      // re-cast: decimal + widens precision (38,18)+(38,18)->(38,17) and
      // the accumulator type must stay fixed for `aggregate` to resolve
      (acc, x) => (acc + x).cast(Dec)).cast(DoubleType)

  def vecMagnitudeExact(v: Column): Column = sqrt(vecDotExact(v, v))

  def vecCosineExact(a: Column, b: Column): Column =
    vecDotExact(a, b) / (vecMagnitudeExact(a) * vecMagnitudeExact(b) + lit(CosineEps))
}
