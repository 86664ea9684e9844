package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ARRAY<FLOAT>`/`ARRAY<DOUBLE>` embedding columns,
  * composed from codegen'd higher-order functions (no UDFs — stays inside
  * whole-stage codegen).
  *
  * Mirrors the reference's vector semantics: 384-d L2-normalized float
  * vectors with cosine metric (reference
  * `src/services/vector_engine/config.py:9,19-20`,
  * `embedding_generator.py:102,146`). The testdata embeddings are 64-d;
  * nothing here hardcodes the dimension.
  *
  * All math is done in DOUBLE after an explicit cast so results are
  * reproducible across engines (the DuckDB oracle casts the same way).
  */
object VectorOps {

  /** Cast an embedding column to ARRAY<DOUBLE> for stable arithmetic. */
  def asDouble(v: Column): Column = v.cast("array<double>")

  /** Sequential-fold dot product: SUM_i a[i]*b[i], left-to-right. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Squared L2 norm. */
  def normSq(v: Column): Column =
    aggregate(asDouble(v), lit(0.0), (acc, x) => acc + x * x)

  /** L2 norm. */
  def norm(v: Column): Column = sqrt(normSq(v))

  /** Cosine similarity = dot / (||a|| * ||b||); null-safe via NaN on zero
    * vectors (caller filters). Reference delegates this to the Pinecone
    * index (`pinecone_manager.py:115-121`, metric at `config.py:20`). */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine via the native codegen [[CosineSimilarity]] Expression — the
    * hot-path variant: one fused primitive-float loop instead of three
    * higher-order-function folds. Inputs must be ARRAY<FLOAT> (the
    * at-rest embedding type); same left-to-right double accumulation as
    * [[cosine]], so scores are bit-identical. */
  def cosineNative(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumns.column(
      CosineSimilarity(org.apache.spark.sql.GraftColumns.expression(a.cast("array<float>")),
        org.apache.spark.sql.GraftColumns.expression(b.cast("array<float>"))))

  /** L2-normalize a vector so cosine ≡ dot (reference
    * `embedding_generator.py:102,146`: F.normalize(p=2, dim=1)).
    *
    * The norm is folded ONCE per row via `aggregate`'s finish lambda and
    * referenced as a lambda VARIABLE in the per-element division — the
    * naive `transform(v, x => x / norm(v))` inlines the whole norm
    * aggregate into the lambda body, re-evaluating it per component
    * (O(d²), measured 1.2 s on e4_l2norm at sf0.1 once the bench's noop
    * sink stopped count() from pruning the projection away). Bit-exact
    * with the naive form: same left-to-right squared-sum fold, one
    * sqrt, same per-element IEEE division (zero vectors yield ±Inf/NaN
    * elements either way — callers filter, as with [[cosine]]). */
  def l2Normalize(v: Column): Column = {
    val d = asDouble(v)
    aggregate(d, lit(0.0), (acc, x) => acc + x * x,
      s => transform(d, x => x / sqrt(s)))
  }
}
