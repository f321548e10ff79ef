package graft.operators.clustering

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Driver-local k-means (O-51's training step): seeded k-means++ init,
  * then Lloyd iterations — the twin of the reference's one-machine
  * `MiniBatchKMeans(random_state=42)` fit at
  * clustering/graph_creator.py:183.
  *
  * Deliberately driver-local, like [[Ward]]: the training set is
  * bounded by design ([[GraphBuild.microCluster]] samples past
  * `max(sampleFloor, 64·k)` rows), so a distributed fit would pay one
  * Spark job and one broadcast per init step and per iteration for a
  * few thousand rows of arithmetic.
  *
  * Deterministic parallelism: each assignment/accumulation step runs
  * over FIXED-size row chunks on `ExecutionContext.global`, and the
  * per-chunk partial sums are merged in chunk order — so the centroids
  * are bit-identical whatever the core count. Distances are the exact
  * Σ(xᵢ−cᵢ)² in index order with strict `<` (tie → lowest center), the
  * same rule as the final label pass (`AnnIvf.assignNearestArr`).
  */
object Lloyd {

  /** Rows per parallel chunk; fixed so the merge order never depends on
    * the machine.
    */
  private val ChunkRows = 2048
  private val Seed = 42L // random_state=42, graph_creator.py:183
  private val Tol = 1e-4

  /** `k` centers for `points` (all of one dimension, non-empty).
    * Stops after `maxIter` Lloyd steps or when every center moved less
    * than 1e-4 (Euclidean). An empty cluster keeps its previous
    * center; inputs with fewer distinct points than `k` yield duplicate
    * centers (k-means++ falls back to a seeded uniform pick when every
    * remaining point already coincides with a center).
    */
  def fit(points: Array[Array[Double]], k: Int, maxIter: Int): Array[Array[Double]] = {
    require(points.nonEmpty, "lloyd: empty training set")
    val dim = points(0).length
    val cents = initPlusPlus(points, k, new java.util.Random(Seed))
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val parts = chunked(points.length) { (lo, hi) =>
        val sums = new Array[Double](k * dim)
        val cnts = new Array[Long](k)
        var r = lo
        while (r < hi) {
          val p = points(r)
          val c = nearest(p, cents)
          val off = c * dim
          var i = 0
          while (i < dim) { sums(off + i) += p(i); i += 1 }
          cnts(c) += 1
          r += 1
        }
        (sums, cnts)
      }
      val sums = new Array[Double](k * dim)
      val cnts = new Array[Long](k)
      parts.foreach { case (s, c) =>
        var i = 0
        while (i < s.length) { sums(i) += s(i); i += 1 }
        i = 0
        while (i < k) { cnts(i) += c(i); i += 1 }
      }
      converged = true
      var c = 0
      while (c < k) {
        if (cnts(c) > 0) {
          val next = Array.tabulate(dim)(i => sums(c * dim + i) / cnts(c))
          if (dist2(next, cents(c)) > Tol * Tol) converged = false
          cents(c) = next
        }
        c += 1
      }
      iter += 1
    }
    cents
  }

  /** Seeded k-means++ (Arthur & Vassilvitskii 2007): the first center is
    * a uniform pick, each next one is drawn with probability ∝ D², the
    * squared distance to the nearest chosen center. The D² refresh runs
    * chunk-parallel (each chunk owns its slice, no reduction); the
    * total and the draw are one sequential index-order walk.
    */
  private def initPlusPlus(points: Array[Array[Double]], k: Int,
      rnd: java.util.Random): Array[Array[Double]] = {
    val n = points.length
    val cents = new Array[Array[Double]](k)
    cents(0) = points(rnd.nextInt(n)).clone()
    val d2 = Array.fill(n)(Double.PositiveInfinity)
    var c = 1
    while (c < k) {
      val last = cents(c - 1)
      chunked(n) { (lo, hi) =>
        var r = lo
        while (r < hi) {
          val d = dist2(points(r), last)
          if (d < d2(r)) d2(r) = d
          r += 1
        }
      }
      var total = 0.0
      var r = 0
      while (r < n) { total += d2(r); r += 1 }
      val pick =
        if (total > 0.0) {
          val target = rnd.nextDouble() * total
          var acc = 0.0
          var chosen = -1
          var lastPositive = -1
          r = 0
          while (r < n && chosen < 0) {
            if (d2(r) > 0.0) {
              lastPositive = r
              acc += d2(r)
              if (acc >= target) chosen = r
            }
            r += 1
          }
          // rounding can leave the walk a hair short of `target`
          if (chosen >= 0) chosen else lastPositive
        } else rnd.nextInt(n) // every point already sits on a center
      cents(c) = points(pick).clone()
      c += 1
    }
    cents
  }

  private def nearest(p: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      var d = 0.0
      var i = 0
      // partial sums of non-negative terms only grow, so a center whose
      // partial sum already reaches bestD can never win the strict <:
      // stopping early leaves the assignment bit-identical
      while (i < p.length && d < bestD) { val t = p(i) - cv(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  private def dist2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val t = a(i) - b(i); s += t * t; i += 1 }
    s
  }

  /** `f` over consecutive [lo, hi) chunks of `ChunkRows` rows, results
    * in chunk order.
    */
  private def chunked[T](n: Int)(f: (Int, Int) => T): Seq[T] = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.sequence((0 until n by ChunkRows).map { lo =>
      Future(f(lo, math.min(n, lo + ChunkRows)))
    }), Duration.Inf)
  }
}
