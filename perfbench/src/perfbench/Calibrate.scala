package perfbench

import org.apache.spark.sql.{Column, DataFrame}

import graft.kernels.{Kernels, Mask, Ncc}

/** Kernel and function calibration (KernelBench): direct, single-threaded
  * calls into graft.kernels and single-task evaluations of graft.functions
  * expressions, at the sizes of the workload that calls it. */
object Calibrate {
  /** Nanoseconds per unit of `body`, which does `units` units of work.
    * Warms the JIT first, then takes the median of five timed rounds, each
    * repeating `body` until it has run for at least 50 ms. */
  def nsPer(units: Double)(body: => Unit): Double = {
    var reps = 1
    var warm = 0
    while (warm < 3) {
      val t = System.nanoTime(); var i = 0
      while (i < reps) { body; i += 1 }
      if (System.nanoTime() - t < 50e6) reps *= 2 else warm += 1
    }
    Stats.median((0 until 5).map { _ =>
      val t = System.nanoTime(); var i = 0
      while (i < reps) { body; i += 1 }
      (System.nanoTime() - t).toDouble / reps / units
    })
  }

  @volatile private var sink = 0.0

  /** Kernels on the workload's own series. `queries` are scored against
    * `train`; `radius` is the workload's Sakoe-Chiba band. */
  def kernels(queries: Array[Array[Double]], train: Array[(Long, Array[Double])],
              radius: Int, k: Int, factor: Int): Map[String, Double] = {
    val len = queries.head.length
    val band = Mask.sakoeChiba(len, len, radius)
    val cells = (0 until len).map(i => band.hi(i) - band.lo(i) + 1).sum.toDouble
    val pairs = (0 until 16).map(i => (queries(i % queries.length), train((i * 7919) % train.length)._2))
    val envs = train.map(t => Kernels.lbEnvelope(t._2, radius))
    val qs = queries.take(4)
    // the cascade's survivors of each query with its kth-best cutoff, as
    // Cdist.knnDtwPruned scores them
    val cascades = qs.map { q =>
      val ref = Reference.knn(q, train, envs, k, radius, factor)
      val cands = train.indices.sortBy(i => (Kernels.lbKeoghEnv(q, envs(i)._1, envs(i)._2), train(i)._1))
        .take(k * factor).map(i => train(i)._2)
      (q, cands, ref.last._2)
    }
    val gakPairs = pairs.take(4).map { case (a, b) => (Kernels.uni(a), Kernels.uni(b)) }
    Map(
      "kernels.dtw_ns_per_cell" -> nsPer(pairs.length * cells) {
        pairs.foreach { case (a, b) => sink += Kernels.dtwFlat(a, b, radius) }
      },
      "kernels.dtw_ea_ns_per_pair" -> nsPer(cascades.map(_._2.length).sum.toDouble) {
        cascades.foreach { case (q, cs, cut) => cs.foreach(c => sink += Kernels.dtwFlatEA(q, c, radius, cut)) }
      },
      "kernels.lb_keogh_ns_per_point" -> nsPer(qs.length.toDouble * envs.length * len) {
        qs.foreach(q => envs.foreach(e => sink += Kernels.lbKeoghEnv(q, e._1, e._2)))
      },
      // Kernels.gak normalises: three DPs of len² cells per pair
      "kernels.gak_ns_per_cell" -> nsPer(gakPairs.length * 3.0 * len * len) {
        gakPairs.foreach { case (a, b) => sink += Kernels.gak(a, b, 1.0) }
      },
      "kernels.ncc_ns_per_pair" -> nsPer(pairs.length.toDouble) {
        pairs.foreach { case (a, b) => sink += Ncc.sbd(Kernels.uni(a), Kernels.uni(b)) }
      })
  }

  /** Nanoseconds per row of one expression over a cached frame, evaluated
    * in a single task so the figure is per-core. */
  def function(df: DataFrame, expr: Column): Double = {
    val rows = df.count().toDouble
    val one = df.coalesce(1).select(expr.as("x"))
    nsPer(rows)(one.write.format("noop").mode("overwrite").save())
  }
}
