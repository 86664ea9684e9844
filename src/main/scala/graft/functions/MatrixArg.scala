package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}

/** Native scan of one vector against a WHOLE centroid/codebook matrix —
  * the scale-safe form of the quantizer family's assignment step.
  *
  * The previous shape materialized one expression per centroid
  * (`array(round(cosine(v, c_0), 6), ..., round(cosine(v, c_{k-1}), 6))`),
  * so the expression tree — and the generated Java — grew linearly with
  * `nlist`. Fine at nlist = 8–16; at the nlist ~10³–10⁵ a 100 TB IVF
  * index needs, that blows past Janino method-size limits and falls back
  * to interpreted projection. Here the matrix is ONE plan-time
  * `Array[Array[Double]]` the generated code reads by reference, and each
  * kernel is a per-row method called through [[Kernel]]: codegen size is
  * O(1) in the number of centroids, work is the same O(k·dim) per row.
  * Measured (QBench sf0.1, r8): `pq_adc_topk` cold 4.6 s → 3.3 s, warm
  * 2.0 s → 0.98 s; `ivf_topk` warm 1.04 s → 0.83 s; an `ivfTopK` at
  * nlist = 256 compiles and runs (spec-pinned) where the per-centroid
  * form generated ~256 kernels.
  *
  * The kernels, each over an `ARRAY<DOUBLE>` vector:
  *  - `argmaxCosine`: index (0-based) of the matrix row with the highest
  *    cosine(vec, row), each score rounded HALF_UP to `scale` decimals
  *    BEFORE the comparison — bit-identical to Spark's `round` on doubles
  *    (same `BigDecimal.valueOf(...).setScale(s, HALF_UP)` path, NaN/Inf
  *    passed through) so any engine replaying the same arithmetic assigns
  *    identical cells. Ties keep the LOWEST index (the
  *    `array_position(scores, array_max(scores))` contract it replaces).
  *    Zero-norm vector or row scores 0.0 ([[CosineSimilarity]]'s
  *    reference-fallback contract, `embedding_generator.py:111`).
  *  - `argminSqdist`: index of the row with the smallest squared L2
  *    distance, rounded the same way; ties keep the lowest index.
  *  - `dots`: ARRAY<DOUBLE> of raw (unrounded) dot products against every
  *    row — the per-query ADC lookup-table builder ([[graft.operators.Similarity]]
  *    `pqAdcTopK`), one kernel instead of m×k nested HOF aggregates.
  *  - `topCosine`: the `k` best row indexes by the same rounded cosine,
  *    in the order of a window `ORDER BY score DESC, index` — the IVF
  *    probe-cell ranking.
  *
  * Null semantics mirror the per-centroid composition it replaces: null
  * result if the vector is null; a null matrix row or a row whose
  * length ≠ the vector's is SKIPPED in arg modes (null element in `dots`
  * — `zip_with`'s pad-with-null contract); arg modes return null when no
  * row is valid. NaN scores order the way Spark's `array_max`/`array_min`
  * order doubles: NaN sorts greatest — so NaN wins an argmax and loses an
  * argmin, first NaN on ties.
  *
  * Accumulation order is the same left-to-right double fold as
  * [[CosineSimilarity]] and the `aggregate(zip_with(...))` composition,
  * so scores are bit-identical to both (the DuckDB oracle replays them).
  */
object MatrixArg {

  // Spark Round(double) semantics, bit for bit (RoundBase: NaN/Inf pass
  // through, else BigDecimal.valueOf(d).setScale(s, HALF_UP)).
  private def roundHalfUp(d: Double, scale: Int): Double =
    if (d.isNaN || d.isInfinite) d
    else java.math.BigDecimal.valueOf(d)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  // Spark's double ordering for array_max/array_min: NaN sorts greatest.
  private def gtSpark(a: Double, b: Double): Boolean =
    if (a.isNaN) !b.isNaN else !b.isNaN && a > b
  private def ltSpark(a: Double, b: Double): Boolean =
    if (a.isNaN) false else b.isNaN || a < b

  private def fits(row: Array[Double], d: Int): Boolean = row != null && row.length == d

  private def dot(x: Array[Double], row: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < x.length) { s += x(i) * row(i); i += 1 }
    s
  }

  /** cosine(x, row) given x's squared norm `nx`, unrounded. */
  private def cosine(x: Array[Double], nx: Double, row: Array[Double]): Double = {
    var dt = 0.0; var ny = 0.0; var i = 0
    while (i < x.length) {
      val yi = row(i)
      dt += x(i) * yi; ny += yi * yi; i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dt / (math.sqrt(nx) * math.sqrt(ny))
  }

  def argmaxCosine(v: ArrayData, m: Array[Array[Double]], scale: Int): java.lang.Integer = {
    val x = v.toDoubleArray()
    val nx = dot(x, x)
    var best = -1; var bestScore = 0.0; var j = 0
    while (j < m.length) {
      if (fits(m(j), x.length)) {
        val sc = roundHalfUp(cosine(x, nx, m(j)), scale)
        if (best < 0 || gtSpark(sc, bestScore)) { best = j; bestScore = sc }
      }
      j += 1
    }
    if (best < 0) null else best
  }

  def argminSqdist(v: ArrayData, m: Array[Array[Double]], scale: Int): java.lang.Integer = {
    val x = v.toDoubleArray()
    var best = -1; var bestScore = 0.0; var j = 0
    while (j < m.length) {
      val row = m(j)
      if (fits(row, x.length)) {
        var s = 0.0; var i = 0
        while (i < x.length) { val diff = x(i) - row(i); s += diff * diff; i += 1 }
        val sc = roundHalfUp(s, scale)
        if (best < 0 || ltSpark(sc, bestScore)) { best = j; bestScore = sc }
      }
      j += 1
    }
    if (best < 0) null else best
  }

  def dots(v: ArrayData, m: Array[Array[Double]]): ArrayData = {
    val x = v.toDoubleArray()
    new GenericArrayData(m.map[Any](row => if (fits(row, x.length)) dot(x, row) else null))
  }

  /** The `k` (at most `m.length`) best row indexes by rounded cosine:
    * score descending, NaN greatest, a null score — a null vector or a
    * skipped row — last, ties to the lowest index. A null vector reaches
    * this kernel and gets rows `0 until k`. */
  def topCosine(v: ArrayData, m: Array[Array[Double]], scale: Int, k: Int): ArrayData = {
    val x = if (v == null) null else v.toDoubleArray()
    val nx = if (x == null) 0.0 else dot(x, x)
    val scored = m.map(row => x != null && fits(row, x.length))
    val score = Array.tabulate(m.length)(j =>
      if (scored(j)) roundHalfUp(cosine(x, nx, m(j)), scale) else 0.0)
    // bounded insertion in scan order: a row enters ahead of a kept row
    // only if it ranks strictly ahead, so equal scores keep the lower index
    def ahead(a: Int, b: Int) = scored(a) && (!scored(b) || gtSpark(score(a), score(b)))
    val top = new Array[Int](math.max(0, math.min(k, m.length)))
    var size = 0; var j = 0
    while (j < m.length) {
      var p = size
      while (p > 0 && ahead(j, top(p - 1))) p -= 1
      if (p < top.length) {
        System.arraycopy(top, p, top, p + 1, math.min(size, top.length - 1) - p)
        top(p) = j
        size = math.min(size + 1, top.length)
      }
      j += 1
    }
    ArrayData.toArrayData(top)
  }

  private def literal(matrix: Seq[Seq[Double]]): Array[Array[Double]] =
    matrix.map(_.toArray).toArray

  /** 0-based index of the matrix row with the highest cosine(vec, row),
    * scores rounded to `scale` decimals first; ties → lowest index. */
  def argmaxCosine(vec: Column, matrix: Seq[Seq[Double]], scale: Int): Column =
    Kernel.call(this, "argmaxCosine", IntegerType, vec, literal(matrix), scale)

  /** 0-based index of the matrix row at the smallest squared L2 distance,
    * distances rounded to `scale` decimals first; ties → lowest index. */
  def argminSqdist(vec: Column, matrix: Seq[Seq[Double]], scale: Int): Column =
    Kernel.call(this, "argminSqdist", IntegerType, vec, literal(matrix), scale)

  /** ARRAY<DOUBLE> of raw dot products of vec against every matrix row. */
  def dots(vec: Column, matrix: Seq[Seq[Double]]): Column =
    Kernel.call(this, "dots", ArrayType(DoubleType, containsNull = true), vec, literal(matrix))

  /** ARRAY<INT> of the `k` best row indexes by cosine rounded to `scale`
    * decimals, in `topCosine`'s order; never null. */
  def topCosine(vec: Column, matrix: Seq[Seq[Double]], scale: Int, k: Int): Column =
    Kernel.callNulls(this, "topCosine", ArrayType(IntegerType, containsNull = false),
      vec, literal(matrix), scale, k)
}
