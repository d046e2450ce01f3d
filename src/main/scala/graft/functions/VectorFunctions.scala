package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graft.Bridge
import graft.expressions.{CosineSimilarity, DotProduct, LongL2Sq, RadBucketKeys, RpBucketKeys}

/** Dense-vector math over `array<float>` embedding columns — the
  * similarity-search building blocks (SURVEY.md §2 B-10).
  *
  * The pairwise kernels (`dot`, `cosine`) are custom codegen'd Catalyst
  * expressions (graft.expressions.VectorExpressions): the equivalent
  * higher-order formulation (`aggregate(zip_with(...))`) is interpreted per
  * element and measured ~10× slower over millions of candidate pairs. The
  * per-vector helpers stay higher-order built-ins.
  *
  * All accumulation is left-to-right in double, so results are deterministic
  * and match an oracle that does the same (DuckDB list_sum/list_transform).
  */
object VectorFunctions {

  /** Σ aᵢ·bᵢ in double — codegen'd tight loop. */
  def dot(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))

  /** Σ aᵢ² in double (self-dot). */
  def normSq(a: Column): Column =
    aggregate(a, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double"))

  def norm(a: Column): Column = sqrt(normSq(a))

  /** Cosine similarity, one codegen'd pass: dot/(√Σa²·√Σb²). */
  def cosine(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(Bridge.expression(a), Bridge.expression(b)))

  /** Euclidean-LSH bucket ids on the L2-normalized vector, one per hash
    * table: `floor(dot(v, g_t) / (‖v‖·w))` over deterministic seeded
    * Gaussian directions — normalization, dots and flooring in ONE kernel
    * pass, no ML-vector conversion. See [[graft.expressions.RpBucketKeys]]. */
  def rpBucketKeys(emb: Column, nTables: Int, bucketLength: Double,
      seed: Long = 42L): Column =
    Bridge.column(RpBucketKeys(Bridge.expression(emb), nTables, bucketLength, seed))

  /** Like [[rpBucketKeys]] but over md5-derived Rademacher (±1) directions —
    * engine-independent, so consumers are DuckDB-oracle-checkable. See
    * [[graft.expressions.RadBucketKeys]]. */
  def radBucketKeys(emb: Column, nTables: Int, bucketLength: Double): Column =
    Bridge.column(RadBucketKeys(Bridge.expression(emb), nTables, bucketLength))

  /** Σ (aᵢ−bᵢ)² over `array<bigint>` micro-unit vectors in pure int64
    * arithmetic — bit-identical cross-engine; the deterministic-quantizer
    * distance (see [[graft.operators.DetQuantizer]]). */
  def longL2Sq(a: Column, b: Column): Column =
    Bridge.column(LongL2Sq(Bridge.expression(a), Bridge.expression(b)))
}
