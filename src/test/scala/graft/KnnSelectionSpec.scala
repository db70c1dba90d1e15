package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.kernels.Kernels
import graft.operators.Cdist

/** The shared LB candidate selection of both LB-pruned kNN routes
  * (`Cdist.lbCandidates`) must pick exactly what ranking every
  * (LB_Keogh, id) and keeping k·factor picks — on ties, infinite bounds
  * and NaN probes, where an early-abandoned bound or a non-stable buffer
  * would show. */
class KnnSelectionSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The ranking the helper replaced: every bound, sorted, cut at kf. */
  private def sortedTopK(q: Array[Double], ids: Array[Long], lows: Array[Array[Double]],
                         ups: Array[Array[Double]], kf: Int): (Array[Int], Array[Double]) = {
    val lbs = ids.indices.map(i => Kernels.lbKeoghEnv(q, lows(i), ups(i)))
    val pos = ids.indices.sortBy(i => (lbs(i), ids(i))).take(kf).toArray
    (pos, pos.map(lbs))
  }

  private def assertSameSelection(q: Array[Double], train: Array[(Long, Array[Double])],
                                  radius: Int, kf: Int): Unit = {
    val ids = train.map(_._1)
    val envs = train.map(t => Kernels.lbEnvelope(t._2, radius))
    val lows = envs.map(_._1); val ups = envs.map(_._2)
    val (pos, lbs) = Cdist.lbCandidates(q, ids, lows, ups, kf)
    val (wantPos, wantLbs) = sortedTopK(q, ids, lows, ups, kf)
    assert(pos.toSeq == wantPos.toSeq, s"kf=$kf q=${q.mkString(",")}")
    assert(lbs.map(java.lang.Double.doubleToRawLongBits).toSeq ==
      wantLbs.map(java.lang.Double.doubleToRawLongBits).toSeq, s"kf=$kf bounds")
  }

  /** `base` series, each repeated `copies` times under distinct ids, in a
    * shuffled index order (the blocked route's tiles are not id-sorted). */
  private def duplicated(rng: scala.util.Random, base: Int, copies: Int,
                         sz: Int): Array[(Long, Array[Double])] = {
    val series = Array.fill(base)(Array.fill(sz)(rng.nextGaussian()))
    val rows = for (c <- 0 until copies; b <- 0 until base)
      yield ((c * 1000 + b * 7).toLong, series(b).clone())
    rng.shuffle(rows).toArray
  }

  test("lbCandidates == sortBy((lb, id)).take(kf) on duplicated train series (ties)") {
    val rng = new scala.util.Random(3)
    for (_ <- 1 to 40) {
      val train = duplicated(rng, base = 1 + rng.nextInt(12), copies = 1 + rng.nextInt(5), sz = 12)
      val q = if (rng.nextBoolean()) train(rng.nextInt(train.length))._2.clone()
              else Array.fill(12)(rng.nextGaussian())
      for (kf <- Seq(0, 1, 3, 8, train.length, train.length + 5))
        assertSameSelection(q, train, radius = rng.nextInt(4), kf)
    }
  }

  test("lbCandidates == sortBy((lb, id)).take(kf) with infinite bounds and NaN probes") {
    val rng = new scala.util.Random(5)
    val nan = Double.NaN; val inf = Double.PositiveInfinity
    for (_ <- 1 to 40) {
      val train = duplicated(rng, base = 6, copies = 3, sz = 10)
      // infinite values in train series and probes drive bounds to +Inf
      // (an all-NaN window's envelope is (+Inf, -Inf): every finite q
      // point is outside it); NaN probe points contribute nothing
      train.foreach { case (_, v) =>
        if (rng.nextInt(3) == 0) v(rng.nextInt(v.length)) = if (rng.nextBoolean()) inf else -inf
        if (rng.nextInt(4) == 0) java.util.Arrays.fill(v, nan)
      }
      val q = Array.fill(10)(rng.nextGaussian())
      if (rng.nextBoolean()) q(rng.nextInt(q.length)) = nan
      if (rng.nextInt(3) == 0) q(rng.nextInt(q.length)) = if (rng.nextBoolean()) inf else -inf
      for (kf <- Seq(1, 4, 9, train.length))
        assertSameSelection(q, train, radius = rng.nextInt(3), kf)
    }
    // an all-NaN probe bounds every candidate at 0: selection is by id alone
    assertSameSelection(Array.fill(10)(nan), duplicated(rng, 5, 2, 10), radius = 1, kf = 4)
  }

  test("knnDtwPruned on duplicated train series: ids and ranks match the plain reference on both routes") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(9)
    val sz = 16; val k = 3; val factor = 2; val radius = 3
    val train = duplicated(rng, base = 10, copies = 3, sz = sz)
    val probes = Array.tabulate(6)(i => (100000L + i,
      if (i % 2 == 0) train(rng.nextInt(train.length))._2.clone()
      else Array.fill(sz)(rng.nextGaussian())))
    val trainDf = train.toSeq.toDF("series_id", "values").cache()
    val probeDf = probes.toSeq.toDF("series_id", "values")
    // plain reference: LB rank over every train series, then exact DTW
    // over the k·factor candidates ranked by (dist, id)
    val envs = train.map(t => Kernels.lbEnvelope(t._2, radius))
    val want = probes.flatMap { case (pid, q) =>
      val cands = train.indices
        .sortBy(i => (Kernels.lbKeoghEnv(q, envs(i)._1, envs(i)._2), train(i)._1))
        .take(k * factor)
      cands.map(i => (train(i)._1, Kernels.dtwFlat(q, train(i)._2, radius)))
        .sortBy(x => (x._2, x._1)).take(k).zipWithIndex
        .map { case ((id, d), r) => (pid, r + 1, id, d) }
    }.sortBy(r => (r._1, r._2)).toSeq
    for (maxIndexRows <- Seq(100000L, 0L)) {
      val got = Cdist.knnDtwPruned(probeDf, trainDf, k, radius, factor,
          maxIndexRows = maxIndexRows, blocks = 3)
        .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
      assert(got.map(r => (r._1, r._2, r._3)) == want.map(r => (r._1, r._2, r._3)),
        s"maxIndexRows=$maxIndexRows")
      assert(got.map(_._4) == want.map(_._4), s"maxIndexRows=$maxIndexRows distances")
    }
    // the fixture really is tie-heavy: some probe's top-k holds equal distances
    assert(want.groupBy(_._1).values.exists(rs => rs.map(_._4).distinct.size < rs.size))
  }
}
