package perfbench

/** Seeded input generators. */
object Gen {
  def rng(seed: Long, salt: Long): java.util.Random =
    new java.util.Random(seed * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L)

  def walk(r: java.util.Random, n: Int): Array[Double] = {
    val x = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += r.nextGaussian(); x(i) = acc; i += 1 }
    x
  }

  def znorm(x: Array[Double]): Array[Double] = {
    val mu = x.sum / x.length
    val sd = math.sqrt(x.map(v => (v - mu) * (v - mu)).sum / x.length)
    x.map(v => (v - mu) / (if (sd == 0) 1.0 else sd))
  }

  /** One member of a random-walk family: a window of the family's base
    * walk at a random phase, plus Gaussian noise, z-normalised. */
  def member(r: java.util.Random, base: Array[Double], len: Int, noise: Double): Array[Double] = {
    val shift = r.nextInt(base.length - len + 1)
    znorm(Array.tabulate(len)(t => base(shift + t) + noise * r.nextGaussian()))
  }
}

/** Plain implementations the checks compare graft's answers against.
  * Written from the definitions, sharing no code with graft.kernels. */
object Reference {
  /** Sliding min/max over [i - r, i + r]. */
  def envelope(x: Array[Double], r: Int): (Array[Double], Array[Double]) = {
    val n = x.length
    val lo = Array.fill(n)(Double.PositiveInfinity)
    val up = Array.fill(n)(Double.NegativeInfinity)
    for (i <- 0 until n; j <- math.max(0, i - r) to math.min(n - 1, i + r)) {
      lo(i) = math.min(lo(i), x(j))
      up(i) = math.max(up(i), x(j))
    }
    (lo, up)
  }

  def lbKeogh(q: Array[Double], env: (Array[Double], Array[Double])): Double = {
    var s = 0.0
    for (i <- q.indices) {
      val d = if (q(i) > env._2(i)) q(i) - env._2(i) else if (q(i) < env._1(i)) env._1(i) - q(i) else 0.0
      s += d * d
    }
    math.sqrt(s)
  }

  /** Full-matrix DTW under a Sakoe-Chiba band of radius r (equal lengths). */
  def dtw(a: Array[Double], b: Array[Double], r: Int): Double = {
    val n = a.length
    val c = Array.fill(n + 1, n + 1)(Double.PositiveInfinity)
    c(0)(0) = 0.0
    for (i <- 1 to n; j <- math.max(1, i - r) to math.min(n, i + r)) {
      val d = a(i - 1) - b(j - 1)
      c(i)(j) = d * d + math.min(c(i - 1)(j), math.min(c(i)(j - 1), c(i - 1)(j - 1)))
    }
    math.sqrt(c(n)(n))
  }

  /** The DTW k-NN contract of `Cdist.knnDtwPruned`: keep the k·factor
    * train series with the smallest (LB_Keogh, id), then the k with the
    * smallest (DTW, id) among them, ranked. */
  def knn(q: Array[Double], train: Array[(Long, Array[Double])],
          envs: Array[(Array[Double], Array[Double])], k: Int, r: Int,
          factor: Int): Array[(Long, Double)] = {
    val cands = train.indices.map(i => (lbKeogh(q, envs(i)), train(i)._1, i))
      .sortBy(c => (c._1, c._2)).take(k * factor)
    cands.map(c => (c._2, dtw(q, train(c._3)._2, r)))
      .sortBy(x => (x._2, x._1)).take(k).toArray
  }
}
