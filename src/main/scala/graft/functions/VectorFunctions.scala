package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector kernel column functions.
  *
  * Re-expresses the reference's two scalar kernels — `dot_product`
  * (/root/reference/src/lib.rs:321-344) and `normalize`
  * (/root/reference/src/lib.rs:347-359) — as pure Catalyst higher-order
  * expressions (no UDFs), so they stay inside whole-stage codegen and
  * survive predicate pushdown / column pruning at cluster scale.
  *
  * Two precision families:
  *  - `*D` variants fold left-to-right in DOUBLE. Deterministic (same
  *    sequential association every run/engine), used on the oracle-checked
  *    query path.
  *  - `*F` variants accumulate in FLOAT, mirroring the reference's f32
  *    arithmetic (lib.rs:24) for behavioral parity with the Rust engine.
  */
object VectorFunctions {

  /** Sequential-fold double dot product of two float/double array columns.
    * Backed by the codegen [[VectorDot]] expression (tight primitive loop
    * inside whole-stage codegen); identical value semantics to the HOF
    * formulation [[dotHof]]. */
  def dotD(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      VectorDot(
        org.apache.spark.sql.graft.ColumnBridge.expression(a),
        org.apache.spark.sql.graft.ColumnBridge.expression(b)))

  /** Reference formulation of [[dotD]] using built-in higher-order
    * functions only (CodegenFallback — kept for cross-checking the custom
    * expression in tests). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  /** L2 norm in double. */
  def l2normD(v: Column): Column = sqrt(dotD(v, v))

  /** ColBERT-style late-interaction MaxSim over two ARRAY<ARRAY<float|
    * double>> token-embedding columns: for each query token, the max
    * dot product against the document's tokens, summed across query
    * tokens (Khattab & Zaharia 2020). Composed from built-in
    * higher-order functions around the [[VectorDot]] kernel (its
    * interpreted path — HOF lambdas are CodegenFallback regardless),
    * left-to-right double fold everywhere, so the value is
    * deterministic and engine-portable. Cost is |q|·|d| dots per pair:
    * this is the RERANK scorer for an ANN-nominated candidate set, not
    * the retriever — pair it with a top-k tier for the candidates. */
  def maxSimD(qTokens: Column, dTokens: Column): Column =
    aggregate(
      transform(qTokens, qv => array_max(transform(dTokens, dv => dotD(qv, dv)))),
      lit(0.0),
      (acc, x) => acc + x)

  /** Cosine similarity of two raw (not pre-normalized) vectors.
    * Once vectors are unit-normalized at ingest (lib.rs:158,173) cosine
    * degenerates to `dotD` — `VectorStore` uses that fast path. */
  def cosineD(a: Column, b: Column): Column =
    dotD(a, b) / (l2normD(a) * l2normD(b))

  /** L2-normalize against a precomputed norm column. Taking the norm as an
    * argument keeps the fold O(dim) instead of O(dim^2) (the per-element
    * lambda must not re-evaluate an aggregate over the whole array). */
  def normalizeD(v: Column, norm: Column): Column =
    transform(v, x => x.cast("double") / norm)
}
