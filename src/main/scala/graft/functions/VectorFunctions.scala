package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `Array[Float]` embedding columns
  * (testdata `embeddings.embedding`, FLOAT[64]), as built-in
  * higher-order-function compositions (`zip_with` + `aggregate`) —
  * fully distributed, no UDF, no driver collect.
  *
  * All math is done in double precision regardless of the storage
  * type, so results are stable across storage layouts and match a
  * double-precision oracle.
  */
object VectorFunctions {

  /** Σ aᵢ·bᵢ */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** ‖a‖₂ */
  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0),
      (acc, v) => acc + v.cast("double") * v.cast("double")))

  /** cos(a, b) = a·b / (‖a‖‖b‖); 0 for zero vectors. */
  def cosineSimilarity(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d > 0, dot(a, b) / d).otherwise(lit(0.0))
  }

  /** Signed-random-projection (hyperplane) LSH signature: `bits` sign
    * bits packed into a Long. Hyperplane h_i components are derived
    * deterministically from xxhash64(seed, i, j) — no stored model, so
    * the same signature is computable on any executor for any vector,
    * which is what makes the bucket join work at scale.
    *
    * sign bit i = sign( Σ_j hash01(i,j) · v_j ), hash01 ∈ {-1, +1}.
    *
    * Interpreted-HOF form, kept as the value spec for
    * [[hyperplaneSignatureUnrolled]] (pinned equal in VectorFunctionsSpec);
    * the unrolled form is what the operators use on hot paths.
    */
  def hyperplaneSignature(vec: Column, bits: Int, dim: Int, seed: Long = 42L): Column = {
    val projs = transform(sequence(lit(0), lit(bits - 1)), i =>
      aggregate(sequence(lit(0), lit(dim - 1)), lit(0.0), (acc, j) =>
        acc + when(pmod(xxhash64(lit(seed), i, j), lit(2)) === 0, lit(1.0))
          .otherwise(lit(-1.0)) *
          element_at(vec, (j + 1).cast("int")).cast("double")))
    // pack sign bits: Σ 2^i over i where proj_i >= 0
    aggregate(
      zip_with(projs, sequence(lit(0), lit(bits - 1)), (p, i) =>
        when(p >= 0, pow(lit(2.0), i).cast("long")).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc + v)
  }

  /** [[hyperplaneSignature]] with the bits×dim loop unrolled at plan
    * time. Each ±1 coefficient is a `when(xxhash64(seed,i,j)%2==0,…)`
    * subtree whose children are ALL literals, so Catalyst's
    * ConstantFolding collapses it before execution — the per-row work
    * that survives is Σ_j ±vec[j] per bit: whole-stage-codegen'd
    * multiply-adds, no interpreted HOF loop, no per-element allocation.
    * Still a pure scalar expression (unlike an explode+agg rewrite, it
    * adds no shuffle and no join-back, and stays usable inside a scan
    * filter for bucket pruning).
    *
    * Value-identical to the HOF form: same hash draws, and the unrolled
    * left-to-right `reduce(_ + _)` reproduces the HOF fold's double
    * addition order exactly ((0.0+t₀)+t₁… ≡ (t₀+t₁)… in IEEE754).
    */
  def hyperplaneSignatureUnrolled(vec: Column, bits: Int, dim: Int, seed: Long = 42L): Column = {
    val bitCols = (0 until bits).map { i =>
      val proj = (0 until dim).map { j =>
        when(pmod(xxhash64(lit(seed), lit(i), lit(j)), lit(2)) === 0, lit(1.0))
          .otherwise(lit(-1.0)) * element_at(vec, lit(j + 1)).cast("double")
      }.reduce(_ + _)
      when(proj >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** Dim-aware unrolled twins of [[dot]]/[[norm]]/[[cosineSimilarity]]:
    * when the vector width is statically known (it always is for an
    * embedding column), the HOF loop unrolls to `dim` codegen'd
    * multiply-adds — no interpreted eval, no 3×dim scratch arrays per
    * row. Same left-fold addition order as the HOF forms, so results
    * are bit-identical and the DuckDB oracles keep matching.
    */
  def dotUnrolled(a: Column, b: Column, dim: Int): Column =
    (0 until dim).map(j =>
      element_at(a, lit(j + 1)).cast("double") *
        element_at(b, lit(j + 1)).cast("double")).reduce(_ + _)

  def normUnrolled(a: Column, dim: Int): Column =
    sqrt((0 until dim).map { j =>
      val v = element_at(a, lit(j + 1)).cast("double")
      v * v
    }.reduce(_ + _))

  def cosineSimilarityUnrolled(a: Column, b: Column, dim: Int): Column = {
    val d = normUnrolled(a, dim) * normUnrolled(b, dim)
    when(d > 0, dotUnrolled(a, b, dim) / d).otherwise(lit(0.0))
  }

  // -------------------------------------------------------------------
  // Native-Expression forms — the hot-path defaults
  // -------------------------------------------------------------------
  // The unrolled Column forms above are exact but codegen into one
  // giant Java method at large bits×dim — past HotSpot's huge-method
  // JIT cliff they run SLOWER than the interpreted HOFs (measured 2.7×
  // at 12×64, sf0.1). The graft.plans.VectorExprs expressions emit a
  // compact doGenCode LOOP over a reference-object coefficient matrix:
  // JIT-friendly, plan size O(1) in (bits, dim), bit-identical values
  // (pinned in DedupSpec).

  def hyperplaneSignatureNative(vec: Column, bits: Int, dim: Int, seed: Long = 42L): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.plans.HyperplaneSignatureExpr(
      ColumnBridge.expression(vec), bits, dim, seed))
  }

  def cosineSimilarityNative(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.plans.CosineSimilarityExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  // ---------------------------------------------------------------------
  // int8 quantization — embedding STORAGE at 100 TB: a float32[d]
  // column shrinks 4× as (scale: float, q: tinyint[d]), and cosine
  // similarity is scale-INVARIANT, so ANN candidate generation can run
  // directly on the int arrays (only final scores need dequantization,
  // and then only if absolute dot products matter).
  // ---------------------------------------------------------------------

  /** Symmetric per-vector int8 quantization: scale = max|v|/127,
    * q_i = round(v_i/scale) clamped to ±127; zero vectors quantize to
    * scale 0 + zeros. DataFrame-level (not a bare Column) so the
    * per-vector scale materializes in its own projection and is
    * referenced — not re-evaluated — per element (the CollapseProject
    * multi-reference guard; the r2 HOF-collapse lesson, see
    * Dedup.bandHashCols). Adds `outCol` = struct(scale, q). */
  def quantizeInt8(df: org.apache.spark.sql.DataFrame, vecCol: String,
                   outCol: String): org.apache.spark.sql.DataFrame = {
    val mx = aggregate(col(vecCol), lit(0.0),
      (acc, v) => greatest(acc, abs(v.cast("double"))))
    df.withColumn("_q_scale", mx / 127.0)
      .withColumn(outCol, struct(
        col("_q_scale").cast("float").as("scale"),
        transform(col(vecCol), v =>
          greatest(lit(-127L), least(lit(127L),
            round(v.cast("double") /
              when(col("_q_scale") > 0, col("_q_scale")).otherwise(lit(1.0)))
              .cast("long"))).cast("tinyint")).as("q")))
      .drop("_q_scale")
  }

  /** Reconstruct double values from a [[quantizeInt8]] struct;
    * element-wise error is bounded by scale/2. */
  def dequantize(qstruct: Column): Column =
    transform(qstruct.getField("q"),
      x => x.cast("double") * qstruct.getField("scale").cast("double"))
}
