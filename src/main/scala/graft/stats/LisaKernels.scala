package graft.stats

import graft.core.Rng

/** Pure per-observation LISA kernels with conditional-permutation pseudo
  * p-values, replicating the reference's fully-specified fast path
  * (`postgeoda/src/proxy.cpp:350-458`, SURVEY §2.3):
  *
  *   - per-row deterministic seed stream `seed + idx` (idx = dense
  *     0-based observation index in gid order),
  *   - draws via ThomasWangHashDouble, round-half-away-from-zero,
  *     rejecting self and duplicates,
  *   - two-sided fold `count = min(count, perms-count)`,
  *     `p = (count+1)/(perms+1)`.
  *
  * Because the stream depends only on (seed, idx), results are identical
  * under any partitioning / cluster size — the property that makes the
  * permutation stage embarrassingly parallel (SURVEY §3.4).
  *
  * Cluster codes (GeoDa conventions [public]):
  *   moran: 0 NotSig, 1 HH, 2 LL, 3 LH, 4 HL, 5 Neighborless, 6 Undefined
  *   g/g*:  0 NotSig, 1 High, 2 Low, 5 Neighborless, 6 Undefined
  *   geary: 0 NotSig, 1 HH, 2 LL, 3 OtherPos, 4 Negative, 5, 6
  *   join-count family: third slot = num neighbors
  *     (`postgeoda/src/proxy_joincount.cpp:45`).
  */
object LisaKernels {

  final case class Triple(stat: Double, p: Double, c: Double)

  /** A prepared statistic's per-row kernel: (row index, neighbor
    * indices, scratch) → triple.
    */
  type Kernel = (Int, Array[Int], Scratch) => Triple

  /** Reusable per-thread scratch to avoid per-row allocation.
    * `permMean` is set by `permutationP` to the mean of the permuted
    * statistics of the LAST call — the empirical expectation some cluster
    * rules compare against (local Geary's positive/negative split).
    * `lookup` optionally holds a shared draw table (perf mode).
    */
  final class Scratch(numObs: Int, maxNbrs: Int,
                      val lookup: LookupTable = null) {
    val work = new Rng.IntSet(numObs)
    val drawn = new Array[Int](math.max(1, maxNbrs))
    var permMean: Double = 0.0
  }

  /** Shared permutation draw table — the reference's default 'lookup'
    * perm_method (`postgeoda/src/proxy.cpp:315-316`, parsed in
    * `lisa.h:216-263`; scheme from libgeoda's lookup-table design
    * [public]): ONE table of `permutations × maxK` distinct indices in
    * [0, numObs-2] is drawn up front and shared by every observation;
    * each row adapts it with a self-skip shift (candidate >= selfIdx →
    * +1), which preserves distinctness and avoids self without any
    * per-row rejection sampling. This amortizes the RNG ~numObs×.
    * Statistically equivalent to 'complete' (same ThomasWang stream, same
    * two-sided fold); NOT bit-identical to it — 'complete' remains the
    * parity default.
    */
  final class LookupTable(numObs: Int, maxK: Int, permutations: Int, seed: Int) {
    require(numObs >= 2 && maxK > 0 && maxK < numObs - 1,
      s"lookup table needs maxK < numObs-1 (maxK=$maxK, numObs=$numObs)")
    val k: Int = maxK
    val perms: Int = permutations
    /** row-major: table(perm * maxK + j) in [0, numObs-2]. */
    val table: Array[Int] = {
      val t = new Array[Int](permutations * maxK)
      val tmp = new Array[Int](maxK)
      val work = new Rng.IntSet(math.max(1, numObs - 1))
      var seedStart = seed
      var p = 0
      while (p < permutations) {
        // draw maxK distinct ids in [0, numObs-2]; selfIdx = -1 (no self
        // in this reduced domain — the shift handles self per row)
        seedStart = Rng.drawDistinct(seedStart, numObs - 1, -1, maxK, work, tmp)
        System.arraycopy(tmp, 0, t, p * maxK, maxK)
        p += 1
      }
      t
    }
  }

  /** Generic conditional-permutation p-value.
    * `statOfDrawn(drawn, n)` computes the permuted statistic from the
    * drawn substitute neighbor indices. Also records the mean permuted
    * statistic in `scratch.permMean`. When `scratch.lookup` is set, draws
    * come from the shared table (self-skip shifted) instead of the
    * per-row 'complete' stream.
    */
  def permutationP(idx: Int, nNbrs: Int, numObs: Int, observed: Double,
                   permutations: Int, seed: Int, scratch: Scratch,
                   statOfDrawn: (Array[Int], Int) => Double): Double = {
    var countLarger = 0L
    var sum = 0.0
    if (scratch.lookup != null) {
      val lt = scratch.lookup
      val t = lt.table
      val k = lt.k
      var perm = 0
      while (perm < permutations) {
        val base = perm * k
        var j = 0
        while (j < nNbrs) {
          val cand = t(base + j)
          scratch.drawn(j) = if (cand >= idx) cand + 1 else cand
          j += 1
        }
        val s = statOfDrawn(scratch.drawn, nNbrs)
        sum += s
        if (s >= observed) countLarger += 1
        perm += 1
      }
    } else {
      var seedStart = seed + idx
      var perm = 0
      while (perm < permutations) {
        seedStart = Rng.drawDistinct(seedStart, numObs, idx, nNbrs,
          scratch.work, scratch.drawn)
        val s = statOfDrawn(scratch.drawn, nNbrs)
        sum += s
        if (s >= observed) countLarger += 1
        perm += 1
      }
    }
    scratch.permMean = sum / permutations
    if (permutations - countLarger <= countLarger)
      countLarger = permutations - countLarger
    (countLarger + 1.0) / (permutations + 1.0)
  }

  @inline private def meanAt(z: Array[Double], ids: Array[Int], n: Int): Double = {
    var s = 0.0; var i = 0
    while (i < n) { s += z(ids(i)); i += 1 }
    s / n
  }

  @inline private def sumAt(z: Array[Double], ids: Array[Int], n: Int): Double = {
    var s = 0.0; var i = 0
    while (i < n) { s += z(ids(i)); i += 1 }
    s
  }

  /** Local Moran's I (`proxy.cpp:293-337, 350-458`). `z` standardized. */
  def moran(idx: Int, nbrs: Array[Int], z: Array[Double], permutations: Int,
            seed: Int, cutoff: Double, scratch: Scratch): Triple = {
    val n = nbrs.length
    if (n == 0) return Triple(0.0, 0.0, 5.0)
    val zi = z(idx)
    val lag = meanAt(z, nbrs, n)
    val obs = zi * lag
    val p = permutationP(idx, n, z.length, obs, permutations, seed, scratch,
      (d, m) => zi * meanAt(z, d, m))
    val cluster =
      if (p > cutoff) 0.0
      else if (zi > 0 && lag > 0) 1.0
      else if (zi < 0 && lag < 0) 2.0
      else if (zi < 0 && lag > 0) 3.0
      else if (zi > 0 && lag < 0) 4.0
      else 0.0
    Triple(obs, p, cluster)
  }

  /** Bivariate local Moran (GeoDa's bivariate LISA, the standard
    * companion of the univariate map; not in postgeoda's SQL surface):
    * I_i = z_x(i) * mean_nbr(z_y). Conditional permutation holds
    * z_x(i) fixed and redraws the neighbor set over z_y — the same
    * draw stream as the univariate kernel, so `biMoran(x, x)` is
    * bit-identical to `moran(x)`.
    */
  def biMoran(idx: Int, nbrs: Array[Int], zx: Array[Double],
              zy: Array[Double], permutations: Int, seed: Int,
              cutoff: Double, scratch: Scratch): Triple = {
    val n = nbrs.length
    if (n == 0) return Triple(0.0, 0.0, 5.0)
    val zi = zx(idx)
    val lag = meanAt(zy, nbrs, n)
    val obs = zi * lag
    val p = permutationP(idx, n, zx.length, obs, permutations, seed, scratch,
      (d, m) => zi * meanAt(zy, d, m))
    val cluster =
      if (p > cutoff) 0.0
      else if (zi > 0 && lag > 0) 1.0
      else if (zi < 0 && lag < 0) 2.0
      else if (zi < 0 && lag > 0) 3.0
      else if (zi > 0 && lag < 0) 4.0
      else 0.0
    Triple(obs, p, cluster)
  }

  /** Getis-Ord G_i (self excluded): sum_nbr(x) / (sumAll - x_i).
    * High/Low label by neighbor-mean vs global mean of the rest.
    */
  def localG(idx: Int, nbrs: Array[Int], x: Array[Double], sumAll: Double,
             permutations: Int, seed: Int, cutoff: Double,
             scratch: Scratch): Triple = {
    val n = nbrs.length
    if (n == 0) return Triple(0.0, 0.0, 5.0)
    val denom = sumAll - x(idx)
    if (denom == 0.0) return Triple(0.0, 0.0, 6.0)
    val obs = sumAt(x, nbrs, n) / denom
    val p = permutationP(idx, n, x.length, obs, permutations, seed, scratch,
      (d, m) => sumAt(x, d, m) / denom)
    // High/Low split vs the empirical permutation expectation (the same
    // convention as the Geary rule; its limit is the CSR value n/(N-1))
    val cluster =
      if (p > cutoff) 0.0 else if (obs > scratch.permMean) 1.0 else 2.0
    Triple(obs, p, cluster)
  }

  /** G_i* (self included): (sum_nbr(x)+x_i) / sumAll. */
  def localGStar(idx: Int, nbrs: Array[Int], x: Array[Double], sumAll: Double,
                 permutations: Int, seed: Int, cutoff: Double,
                 scratch: Scratch): Triple = {
    val n = nbrs.length
    if (n == 0) return Triple(0.0, 0.0, 5.0)
    if (sumAll == 0.0) return Triple(0.0, 0.0, 6.0)
    val xi = x(idx)
    val obs = (sumAt(x, nbrs, n) + xi) / sumAll
    val p = permutationP(idx, n, x.length, obs, permutations, seed, scratch,
      (d, m) => (sumAt(x, d, m) + xi) / sumAll)
    val cluster =
      if (p > cutoff) 0.0 else if (obs > scratch.permMean) 1.0 else 2.0
    Triple(obs, p, cluster)
  }

  /** Local Geary c_i = mean_nbr (z_i - z_j)^2 (row-standardized). */
  def geary(idx: Int, nbrs: Array[Int], z: Array[Double], permutations: Int,
            seed: Int, cutoff: Double, scratch: Scratch): Triple = {
    val n = nbrs.length
    if (n == 0) return Triple(0.0, 0.0, 5.0)
    val zi = z(idx)
    def stat(ids: Array[Int], m: Int): Double = {
      var s = 0.0; var i = 0
      while (i < m) { val d = zi - z(ids(i)); s += d * d; i += 1 }
      s / m
    }
    val obs = stat(nbrs, n)
    // for Geary, SMALL values mean positive association → count permuted
    // <= observed on the low side; the reference's two-sided fold handles
    // both tails symmetrically, so reuse permutationP unchanged.
    val p = permutationP(idx, n, z.length, obs, permutations, seed, scratch,
      (d, m) => stat(d, m))
    val lag = meanAt(z, nbrs, n)
    // GeoDa cluster rule (libgeoda UniGeary [public]): association sign
    // comes from comparing c_i to its expectation under permutation —
    // c_i above the permutation mean = negative association (4); below
    // it, the quadrant splits HH (1) / LL (2) / Other Positive (3, the
    // mixed-sign positive-association case).
    val cluster =
      if (p > cutoff) 0.0
      else if (obs > scratch.permMean) 4.0
      else if (zi > 0 && lag > 0) 1.0
      else if (zi < 0 && lag < 0) 2.0
      else 3.0
    Triple(obs, p, cluster)
  }

  /** Multivariate Geary: average of per-variable local Geary over
    * standardized variables (`proxy_localgeary.cpp:58-109` [public]).
    * `zs(v)` is the standardized vector of variable v.
    */
  def multiGeary(idx: Int, nbrs: Array[Int], zs: Array[Array[Double]],
                 permutations: Int, seed: Int, cutoff: Double,
                 scratch: Scratch): Triple = {
    val n = nbrs.length
    if (n == 0) return Triple(0.0, 0.0, 5.0)
    val nv = zs.length
    def stat(ids: Array[Int], m: Int): Double = {
      var s = 0.0
      var v = 0
      while (v < nv) {
        val z = zs(v); val zi = z(idx)
        var i = 0; var sv = 0.0
        while (i < m) { val d = zi - z(ids(i)); sv += d * d; i += 1 }
        s += sv / m
        v += 1
      }
      s / nv
    }
    val obs = stat(nbrs, n)
    val p = permutationP(idx, n, zs(0).length, obs, permutations, seed,
      scratch, (d, m) => stat(d, m))
    // multivariate family reports a significance flag, not a quadrant
    Triple(obs, p, if (p <= cutoff) 1.0 else 0.0)
  }

  /** Local join count (x binary 0/1): JC_i = x_i * sum_nbr(x_j); p only
    * defined where x_i = 1 (`proxy_joincount.cpp:25-61` [public]); rows
    * with x_i = 0 report p = -1. Third slot = num neighbors.
    */
  def joinCount(idx: Int, nbrs: Array[Int], x: Array[Double],
                permutations: Int, seed: Int, scratch: Scratch): Triple = {
    val n = nbrs.length
    if (n == 0) return Triple(0.0, -1.0, 0.0)
    val xi = x(idx)
    val obs = xi * sumAt(x, nbrs, n)
    if (xi != 1.0 || obs == 0.0) return Triple(obs, -1.0, n.toDouble)
    val p = permutationP(idx, n, x.length, obs, permutations, seed, scratch,
      (d, m) => xi * sumAt(x, d, m))
    Triple(obs, p, n.toDouble)
  }

  /** Bivariate join count (no-colocation): JC_i = x1_i * sum_nbr(x2_j).
    * The caller must have validated x1_i != x2_i for all i
    * (`postgeoda/src/joincount.c:193-197`).
    */
  def biJoinCount(idx: Int, nbrs: Array[Int], x1: Array[Double],
                  x2: Array[Double], permutations: Int, seed: Int,
                  scratch: Scratch): Triple = {
    val n = nbrs.length
    if (n == 0) return Triple(0.0, -1.0, 0.0)
    val xi = x1(idx)
    val obs = xi * sumAt(x2, nbrs, n)
    if (xi != 1.0 || obs == 0.0) return Triple(obs, -1.0, n.toDouble)
    val p = permutationP(idx, n, x1.length, obs, permutations, seed, scratch,
      (d, m) => xi * sumAt(x2, d, m))
    Triple(obs, p, n.toDouble)
  }
}
