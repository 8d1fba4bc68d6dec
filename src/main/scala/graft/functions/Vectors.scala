package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector column helpers on the native codegen'd
  * [[VectorDot]] expression (a fused loop inside whole-stage codegen; the
  * earlier `zip_with`/`aggregate` higher-order-function formulation
  * allocated an array per row and interpreted a lambda per element).
  * Summation order is unchanged — index-order left fold — so every
  * oracle stays bit-identical.
  */
object Vectors {

  /** `vector_dot`, resolved by name at analysis (a Column can't wrap a
    * custom Expression directly); [[graft.GraftExtensions.functions]]
    * declares it. */
  def dot(a: Column, b: Column): Column = call_function("vector_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Deterministic pseudo-random ±1 hyperplane component for plane `j`,
    * dimension `i` — md5-derived at PLAN time and embedded as an array
    * literal, so executors do one multiply per element instead of one md5
    * per element per row. */
  private[graft] def planeSigns(j: Int, dim: Int): Array[Double] = {
    val mdAlg = java.security.MessageDigest.getInstance("MD5")
    (0 until dim).toArray.map { i =>
      val hex = mdAlg.digest(s"$j:$i".getBytes("UTF-8"))
      if (((hex(0) >> 4) & 0xf) % 2 == 0) 1.0 else -1.0
    }
  }

  /** Deterministic OPQ-style rotation parameters (Ge et al., "Optimized
    * Product Quantization", CVPR 2013, restricted to the signed-permutation
    * subgroup): a seeded Fisher–Yates permutation + per-dim sign flips.
    * A signed permutation IS an orthogonal matrix, and applying it is
    * EXACT in float arithmetic (permutation moves values, negation flips a
    * sign bit — no rounding), so the rotated corpus is bit-identical
    * between the Spark plan and the generated DuckDB oracle. md5-derived
    * like [[planeSigns]] so the transform is a plan-time constant. */
  private[graft] def opqPerm(dim: Int): Array[Int] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val a = Array.tabulate(dim)(identity)
    var i = dim - 1
    while (i > 0) {
      val h = md.digest(s"opq-perm:$i".getBytes("UTF-8"))
      val v = ((h(0) & 0xff) << 24) | ((h(1) & 0xff) << 16) |
        ((h(2) & 0xff) << 8) | (h(3) & 0xff)
      val j = math.floorMod(v, i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  private[graft] def opqSigns(dim: Int): Array[Int] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dim) { d =>
      val h = md.digest(s"opq-sign:$d".getBytes("UTF-8"))
      if (((h(0) >> 4) & 1) == 0) 1 else -1
    }
  }

  /** Apply the signed-permutation rotation: `rot[d] = ±emb[perm[d]]`.
    * Output element type stays FLOAT (exact — see [[opqPerm]]). */
  def opqRotate(emb: Column, dim: Int = 64): Column = {
    val perm = opqPerm(dim); val signs = opqSigns(dim)
    array((0 until dim).map { d =>
      val e = element_at(emb, perm(d) + 1)
      if (signs(d) < 0) -e else e
    }: _*)
  }

  /** Random-hyperplane (SimHash-for-vectors) LSH bucket id: one bit per
    * hyperplane = sign of the projection. nPlanes ≤ 16 keeps bucket ids in
    * an int. Buckets co-locate similar vectors so candidate generation is a
    * bucket-equi-join (shuffle on bucket id) instead of a cross join. */
  def lshBucket(emb: Column, nPlanes: Int, dim: Int = 64): Column = {
    val bits = (0 until nPlanes).map { j =>
      val proj = dot(emb, typedLit(planeSigns(j, dim)))
      when(proj > 0, lit(1 << j)).otherwise(lit(0))
    }
    bits.reduce(_ + _)
  }
}
