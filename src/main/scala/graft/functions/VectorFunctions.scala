package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{expressions => native}

/** Embedding-vector column functions (SURVEY.md §2b similarity search).
  *
  * Vectors are plain `array<float>` columns. The hot-path math (dot
  * product, cosine) is implemented as native codegen Catalyst expressions
  * (org.apache.spark.sql.graft.expressions): one tight primitive loop per
  * row, no boxing, whole-stage-codegen compatible. The higher-order-function
  * formulations are kept as `*Hof` variants — they are the readable
  * specification and the cross-check in VectorFunctionsSpec, but evaluate
  * interpreted (per-element lambda binding), which costs ~10× on the
  * pairwise inner loop that dominates a 100 TB similarity scan.
  */
object VectorFunctions {

  /** Dot product of two float-array columns, accumulated in double
    * (native codegen expression). */
  def dotProduct(a: Column, b: Column): Column = native.dotProduct(a, b)

  /** L2 norm. */
  def l2Norm(a: Column): Column = sqrt(dotProduct(a, a))

  /** Cosine similarity in double precision; 0 for zero-norm inputs.
    * Native single-pass codegen expression (dot + both norms in one loop). */
  def cosineSimilarity(a: Column, b: Column): Column = native.cosineSimilarity(a, b)

  /** Hamming distance between two 64-bit signature columns (SimHash
    * distance): popcount of XOR, built-in expressions (the same form
    * q_image_neardup and the SQL `graft_hamming64` use). */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("long")

  /** Argmax-cosine cell over a sorted `(cell, cvec)` codebook COLUMN —
    * native kernel with the k-loop inside, so generated code is constant
    * in k (the broadcast-codebook ANN assignment; ties → lowest cell). */
  def nearestCentroid(vec: Column, cents: Column): Column =
    native.nearestCentroid(vec, cents)

  /** Argmin squared-L2 code over a sorted `(code, cvec)` subspace
    * codebook column, against the in-place `subDim`-wide slice of `vec`
    * at element offset `off` (broadcast-codebook PQ encode). */
  def nearestSubCentroid(vec: Column, entries: Column,
                         off: Int, subDim: Int): Column =
    native.nearestSubCentroid(vec, entries, off, subDim)

  /** Reference HOF formulation of [[dotProduct]] (interpreted; used as the
    * executable spec in tests). */
  def dotProductHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  /** Reference HOF formulation of [[cosineSimilarity]]. */
  def cosineSimilarityHof(a: Column, b: Column): Column = {
    def dp(x: Column, y: Column) = dotProductHof(x, y)
    val denom = sqrt(dp(a, a)) * sqrt(dp(b, b))
    when(denom === 0.0, lit(0.0)).otherwise(dp(a, b) / denom)
  }

  /** Sign bit of the projection onto a fixed hyperplane — one bit of a
    * random-hyperplane (SimHash) LSH signature. `plane` is a literal
    * double array broadcast into the expression (the native dot accepts
    * float and double arrays mixed, so no lossy cast on either side). */
  def hyperplaneBit(vec: Column, plane: Seq[Double]): Column = {
    val planeCol = array(plane.map(lit): _*)
    when(dotProduct(vec, planeCol) >= 0.0, lit(1)).otherwise(lit(0))
  }

  /** Pack `planes.length` hyperplane sign bits into one integer bucket id.
    * Vectors in the same bucket are likely neighbors (cosine LSH); used to
    * prune the O(n²) candidate space before exact re-ranking. */
  def lshBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.foldLeft(lit(0)) { case (acc, (p, i)) =>
      acc + (hyperplaneBit(vec, p) * (1 << i))
    }
}
