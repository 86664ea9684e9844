package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Native kernel for cosine similarity over two `ARRAY<FLOAT>` vectors
  * (SURVEY.md §4.3 #1 — the flagship query's hot loop; reference scoring
  * is delegated to Pinecone's index, `config.py:20`,
  * `pinecone_manager.py:115-121`), called through [[Kernel]] by
  * [[VectorOps.cosineNative]] and the `cosine_sim` SQL function.
  *
  * Why a kernel and not the `aggregate(zip_with(...))` composition
  * ([[VectorOps.cosine]]): higher-order functions allocate a lambda frame
  * per element and box the accumulator; this is one primitive loop
  * called directly from whole-stage codegen, so the surrounding
  * projection/filter fuses around it.
  * Semantics vs the composition: identical double accumulation
  * (dot(a,b) / (||a||·||b||)), null if either input is null, and null on
  * MISMATCHED dimensions (a truncated score would mask corrupt data —
  * the zip_with composition surfaces the same case as null). The one
  * deliberate divergence: zero-norm inputs return 0.0 (the reference's
  * zero-vector fallback, `embedding_generator.py:111`) where the
  * composition yields NaN from 0/0.
  */
object CosineSimilarity {

  /** The per-row loop; null on mismatched dimensions. */
  def cosine(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      // Widen BEFORE multiplying: float*float rounds to float, which
      // would diverge from the double-cast composition / DuckDB oracle.
      val xi = x.getFloat(i).toDouble; val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
  }
}
