package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `ArrayType(FloatType|DoubleType)` columns.
  *
  * The reference ships NO vector math of its own (it only moves vectors:
  * `adapters/pgvector.py:120` casts pgvector text to a list, and sinks pick a
  * distance metric by *name*, e.g. the Qdrant distance map
  * `adapters/qdrant.py:163-169` with Cosine/Euclid/Dot). Our engine makes
  * those metrics first-class columnar expressions.
  *
  * All functions are compositions of Spark built-ins (`zip_with`,
  * `aggregate`, `transform`) so they stay inside whole-stage codegen — no
  * Scala UDF boxing, no Python. Elements are cast to double before
  * accumulation for a deterministic, oracle-matchable result regardless of
  * the stored element type (float32 in the testdata).
  */
object VectorFunctions {

  private def d(c: Column): Column = transform(c, _.cast("double"))

  /** Σ aᵢbᵢ — compiled kernel ([[VectorExpressions]]), double accumulation
    * in element order (matches the aggregate/zip_with formulation and the
    * DuckDB oracles exactly). */
  def dotProduct(a: Column, b: Column): Column = VectorExpressions.dot(a, b)

  /** ‖a‖₂ */
  def l2Norm(a: Column): Column = sqrt(VectorExpressions.dot(a, a))

  /** ‖a-b‖₂ — the reference's "Euclid" metric (`adapters/qdrant.py:165`). */
  def l2Distance(a: Column, b: Column): Column = VectorExpressions.l2(a, b)

  /** a·b / (‖a‖‖b‖) — the reference's "Cosine" metric
    * (`adapters/qdrant.py:164`). 0.0 when either norm is 0 (no NaN). */
  def cosineSimilarity(a: Column, b: Column): Column = VectorExpressions.cosine(a, b)

  /** a / ‖a‖₂ (unchanged if zero vector). Pre-normalizing embeddings turns
    * cosine top-k into dot-product top-k — one aggregate per candidate
    * instead of three at 100 TB scale. */
  def normalize(a: Column): Column = {
    val n = l2Norm(a)
    when(n === 0.0, d(a)).otherwise(transform(d(a), _ / n))
  }

  /** Vector dimension. */
  def dim(a: Column): Column = size(a)

  /** Element-wise sum, for centroid-style aggregations:
    * `groupBy(k).agg(VectorFunctions.sumVectors(...))` is expressed as
    * built-in array ops so partial aggregation (map-side combine) applies. */
  def add(a: Column, b: Column): Column = zip_with(d(a), d(b), _ + _)

  def scale(a: Column, s: Column): Column = transform(d(a), _ * s)

  /** Per-vector symmetric int8 quantization scale: max|x| / 127. */
  def int8Scale(a: Column): Column = array_max(transform(d(a), abs(_))) / lit(127.0)

  /** Symmetric int8 quantization (the compact storage format vector stores
    * use for large collections — 4× smaller than float32): q = round(x/s)
    * with s = max|x|/127, so q ∈ [-127, 127]. Rounding is floor(x/s + 0.5)
    * — identical semantics in every SQL engine (Spark round() HALF_UPs but
    * DuckDB CAST rounds-half-even, so neither is portable). A zero vector
    * quantizes to zeros.
    *
    * Pass a precomputed `s` (one [[int8Scale]] in its own projection) on
    * hot paths: lambda bodies get no subexpression elimination, so the
    * single-arg form re-evaluates the array_max per ELEMENT — O(dim²). */
  def quantizeInt8(a: Column, s: Column): Column =
    transform(d(a), x => when(s === 0d, lit(0)).otherwise(floor(x / s + lit(0.5)).cast("int")))

  def quantizeInt8(a: Column): Column = quantizeInt8(a, int8Scale(a))

  /** Largest per-dimension reconstruction error |q*s - x| of [[quantizeInt8]]
    * — the audit metric for choosing int8 vs float16 at scale. */
  def int8MaxAbsError(a: Column, s: Column): Column =
    array_max(zip_with(transform(quantizeInt8(a, s), _.cast("double")), d(a),
      (q, x) => abs(q * s - x)))

  def int8MaxAbsError(a: Column): Column = int8MaxAbsError(a, int8Scale(a))
}
