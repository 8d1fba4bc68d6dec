package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one k-means every fitted quantizer in the engine uses ([[Ivf.build]]'s
  * coarse centroids, [[Pq.fit]]'s per-subspace codebooks), run on the
  * driver over a bounded sample.
  *
  * Deterministic by construction: the sample is chosen by `vec_id` (the
  * embeddings' key) and ordered by it, so neither the partitioning nor the
  * scan order of the input can move a centroid; the seeding draws from
  * `java.util.Random(seed)`; every sum runs in point order. The same
  * (input, k, seed) therefore always gives bit-identical centroids.
  */
object KMeans {

  /** `n` fit points, row-major, `dim` doubles each. */
  final case class Sample(xs: Array[Double], n: Int, dim: Int)

  /** The fit sample of `emb`'s `embedding` column: the whole input when it
    * has at most `fitSample` rows, else every `vec_id % stride = 0` row
    * with the stride ceil-sized to keep it within `fitSample` (the
    * systematic slice the coarse quantizer and the codebooks have always
    * used), ordered by `vec_id`. The float → double widening is exact. */
  def sample(emb: DataFrame, fitSample: Long): Sample = {
    require(fitSample > 0 && fitSample < Int.MaxValue, s"fitSample=$fitSample")
    val cols = emb.select(col("vec_id"), col("embedding"))
    // an input within the cap comes back whole from one bounded collect;
    // only a larger one pays for a count and a second, strided collect
    val head = cols.limit(fitSample.toInt + 1).collect()
    val picked = if (head.length <= fitSample) head else {
      val stride = (cols.count() + fitSample - 1) / fitSample
      cols.filter(col("vec_id") % stride === 0).collect()
    }
    val rows = picked.map(r => r.getLong(0) -> r.getSeq[Float](1)).sortBy(_._1)
    require(rows.nonEmpty, "k-means fit sample is empty")
    val dim = rows(0)._2.length
    val xs = new Array[Double](rows.length * dim)
    var i = 0
    while (i < rows.length) {
      val e = rows(i)._2
      require(e.length == dim, s"vec_id ${rows(i)._1}: dim ${e.length}, expected $dim")
      var t = 0
      e.foreach { x => xs(i * dim + t) = x; t += 1 }
      i += 1
    }
    Sample(xs, rows.length, dim)
  }

  /** Squared Euclidean distance from point `i`'s `d` coordinates at `off`
    * to `center`, summed in coordinate order. */
  private def dist2(s: Sample, i: Int, off: Int, center: Array[Double]): Double = {
    val base = i * s.dim + off
    var acc = 0.0
    var t = 0
    while (t < center.length) {
      val diff = s.xs(base + t) - center(t)
      acc += diff * diff
      t += 1
    }
    acc
  }

  /** The nearest center of point `i`, ties to the lowest center id (a
    * strict `<` scan, as [[Pq.encode]] and [[Ivf.cellCol]] break them). */
  private[graft] def nearest(s: Sample, i: Int, off: Int, centers: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < centers.length) {
      val d = dist2(s, i, off, centers(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** k-means++ seeding (Arthur & Vassilvitskii, SODA 2007): the first center
    * uniform, each next one drawn with probability ∝ D². Once D² sums to
    * zero every point sits on a chosen center, and those centers are
    * pairwise distinct (each was drawn at D² > 0): with fewer distinct
    * points than `k` the seeding returns exactly the distinct points. */
  private def seedPlusPlus(s: Sample, off: Int, d: Int, k: Int, rnd: java.util.Random)
      : Array[Array[Double]] = {
    def point(i: Int) = java.util.Arrays.copyOfRange(s.xs, i * s.dim + off, i * s.dim + off + d)
    val centers = scala.collection.mutable.ArrayBuffer(point(rnd.nextInt(s.n)))
    val d2 = Array.tabulate(s.n)(i => dist2(s, i, off, centers(0)))
    var sum = d2.sum
    while (centers.length < k && sum > 0.0) {
      val r = rnd.nextDouble() * sum
      var pick = -1
      var acc = 0.0
      var i = 0
      while (i < s.n && pick < 0) {
        acc += d2(i)
        if (acc > r && d2(i) > 0.0) pick = i
        i += 1
      }
      if (pick < 0) pick = d2.lastIndexWhere(_ > 0.0) // r rounded up to sum
      val c = point(pick)
      centers += c
      sum = 0.0
      i = 0
      while (i < s.n) {
        d2(i) = math.min(d2(i), dist2(s, i, off, c))
        sum += d2(i)
        i += 1
      }
    }
    centers.toArray
  }

  /** Lloyd rounds per fit at most, the count Spark ML's k-means used. */
  private val MaxIter = 10

  /** Fit up to `k` centroids to the `d` coordinates at `off` of every
    * sample point (all of them by default): k-means++ seeding from `seed`,
    * then at most [[MaxIter]] Lloyd rounds, stopping once no assignment
    * changes. A cluster that loses every point keeps its previous
    * centroid. */
  def fit(s: Sample, k: Int, seed: Long, off: Int = 0, d: Int = -1): Array[Array[Double]] = {
    val dd = if (d < 0) s.dim - off else d
    require(k > 0 && off >= 0 && dd > 0 && off + dd <= s.dim,
      s"k=$k, coordinates [$off, ${off + dd}) of dim ${s.dim}")
    val centers = seedPlusPlus(s, off, dd, k, new java.util.Random(seed))
    val assign = Array.fill(s.n)(-1)
    var iter = 0
    var changed = true
    while (iter < MaxIter && changed) {
      changed = false
      var i = 0
      while (i < s.n) {
        val c = nearest(s, i, off, centers)
        if (c != assign(i)) { assign(i) = c; changed = true }
        i += 1
      }
      if (changed) {
        val sums = Array.ofDim[Double](centers.length, dd)
        val counts = new Array[Long](centers.length)
        i = 0
        while (i < s.n) {
          val c = assign(i)
          val base = i * s.dim + off
          var t = 0
          while (t < dd) { sums(c)(t) += s.xs(base + t); t += 1 }
          counts(c) += 1
          i += 1
        }
        var c = 0
        while (c < centers.length) {
          if (counts(c) > 0) centers(c) = sums(c).map(_ / counts(c))
          c += 1
        }
      }
      iter += 1
    }
    centers
  }
}
