package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The benchmark driver: one client in a closed loop, one JVM, a local
  * Spark session of `nproc` task slots.
  *
  *   --trace 0: set up five times (median = setup_s), then measure
  *              `--seconds` of requests with tracing off.
  *   --trace 1: trace every second request, then calibrate kernels and
  *              functions; prints per-layer metrics.
  *   --selftest: every workload at toy size with one corrupted answer.
  *
  * The last stdout line is the result object; the line before it the full
  * record. */
object Main {
  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Int = 20,
                        trace: Boolean = false, work: String = "perfbench-work",
                        commit: String = "none", sourceSha: String = "",
                        selftest: Boolean = false)

  private val SetupReps = 5
  /** Untimed requests after set-up: the JIT and Spark's codegen cache are
    * still warming during the first ones. */
  private val Warmups = 2
  /** A run measures at least this many requests, unless the JVM is older
    * than MinRequestsUntilS: a run must end within three minutes even on a
    * contended host. */
  private val MinRequests = 5
  private val MinRequestsUntilS = 140

  /** End-to-end metrics (name -> unit), printed with --trace 0. The record
    * also carries error_rate (0 when healthy, so no relative bound can
    * apply) and peak_rss_mb (it follows GC timing from run to run). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "req_p50_s" -> "s", "req_tail_s" -> "s", "items_per_s" -> "1/s")

  /** Per-layer metrics (name -> unit), printed with --trace 1. A metric of
    * a layer the workload does not call reads 0 and is listed under
    * `not_applicable` in the record. */
  val PerLayer: Seq[(String, String)] = Seq(
    "kernels.dtw_ns_per_cell" -> "ns", "kernels.dtw_ea_ns_per_pair" -> "ns",
    "kernels.lb_keogh_ns_per_point" -> "ns", "kernels.gak_ns_per_cell" -> "ns",
    "kernels.ncc_ns_per_pair" -> "ns",
    "functions.envelope_ns_per_row" -> "ns", "functions.shingle_hash_ns_per_doc" -> "ns",
    "plan.shuffle_write_bytes" -> "bytes", "plan.shuffle_read_bytes" -> "bytes",
    "plan.spill_bytes" -> "bytes", "plan.peak_exec_mem_bytes" -> "bytes",
    "plan.exchanges" -> "count", "plan.bytes_written" -> "bytes",
    "operators.knn_call_s" -> "s", "operators.knn_collect_s" -> "s",
    "operators.minhash_lsh_s" -> "s", "operators.connected_components_s" -> "s",
    "operators.keep_best_write_s" -> "s",
    "job.jobs" -> "count", "job.stages" -> "count", "job.tasks" -> "count",
    "job.executor_run_s" -> "s", "job.executor_cpu_s" -> "s", "job.cpu_per_wall" -> "ratio",
    "job.gc_s" -> "s", "job.sched_delay_s" -> "s", "job.busy_frac" -> "ratio",
    "driver.actions" -> "count", "driver.planning_s" -> "s", "driver.gap_s" -> "s",
    "ml.kmeans_s" -> "s", "ml.kernel_kmeans_s" -> "s", "ml.kshape_s" -> "s",
    "ml.kmeans_jobs" -> "count", "ml.kernel_kmeans_jobs" -> "count", "ml.kshape_jobs" -> "count",
    "trace.overhead_frac" -> "ratio")

  def parse(args: Array[String]): Opts = {
    def go(o: Opts, rest: List[String]): Opts = rest match {
      case Nil => o
      case "--workload" :: v :: t => go(o.copy(workload = v), t)
      case "--seed" :: v :: t => go(o.copy(seed = v.toLong), t)
      case "--seconds" :: v :: t => go(o.copy(seconds = v.toInt), t)
      case "--trace" :: v :: t => go(o.copy(trace = v == "1"), t)
      case "--work" :: v :: t => go(o.copy(work = v), t)
      case "--commit" :: v :: t => go(o.copy(commit = v), t)
      case "--source-sha256" :: v :: t => go(o.copy(sourceSha = v), t)
      case "--selftest" :: t => go(o.copy(selftest = true), t)
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }
    go(Opts(), args.toList)
  }

  def session(slots: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$slots]")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/tmp")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(name: String, spark: SparkSession, seed: Long, toy: Boolean, work: String,
               corruptRequest: Int = -1): Workload = name match {
    case "knn_dtw" => new KnnDtw(spark, seed, toy, corruptRequest)
    case "fit_cluster" => new FitCluster(spark, seed, toy)
    case "dedup_text" => new DedupText(spark, seed, toy, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** One closed-loop phase: requests back to back until `seconds` have
    * passed and at least `minRequests` ran (past `minUntilNs`, one, or one
    * of each kind when tracing).
    * With a tracer, every second request is traced, so the traced and
    * untraced requests see the same JIT and cache warmth. */
  final class Phase {
    val latencies = mutable.ArrayBuffer[Double]()
    val tracedLatencies = mutable.ArrayBuffer[Double]()
    val settled = mutable.ArrayBuffer[(Int, Any)]()
    val failures = mutable.LinkedHashMap[Int, String]()
    def attempted: Int = latencies.length + tracedLatencies.length
  }

  def measure(wl: Workload, seconds: Double, minRequests: Int, firstIdx: Int,
              tracer: Option[Tracer], minUntilNs: Long = Long.MaxValue): Phase = {
    val ph = new Phase
    val t0 = System.nanoTime()
    var i = firstIdx
    val least = if (tracer.isDefined) 2 else 1
    def wantMore = ph.attempted < (if (System.nanoTime() < minUntilNs) minRequests else least)
    while ((System.nanoTime() - t0) / 1e9 < seconds || wantMore) {
      val t = tracer.filter(_ => (i - firstIdx) % 2 == 1)
      val lat = if (t.isDefined) ph.tracedLatencies else ph.latencies
      val s = System.nanoTime()
      try {
        val ans = t match {
          case Some(tr) => tr.request(i)(wl.request(i, tr))
          case None => wl.request(i, NoSpans)
        }
        lat += (System.nanoTime() - s) / 1e9
        ph.settled += i -> wl.settle(i, ans)
      } catch {
        case NonFatal(e) =>
          lat += (System.nanoTime() - s) / 1e9
          ph.failures(i) = s"threw $e"
      }
      i += 1
    }
    ph
  }

  /** Runs the deferred checks; returns failures by request. */
  def verify(wl: Workload, ph: Phase): Map[Int, String] = {
    val out = mutable.LinkedHashMap[Int, String]()
    ph.failures.foreach(out += _)
    ph.settled.foreach { case (i, s) =>
      try wl.check(i, s).foreach(out(i) = _)
      catch { case NonFatal(e) => out(i) = s"check threw $e" }
    }
    out.toMap
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val code = try { if (o.selftest) selftest(o) else run(o) }
    catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] failed: $e")
        e.printStackTrace()
        1
    }
    SparkSession.getActiveSession.foreach(_.stop())
    System.exit(code)
  }

  private def line(v: Any): Unit = { println(Json.render(v)); System.out.flush() }

  def run(o: Opts): Int = {
    val slots = Host.nproc
    val load0 = Host.load1
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    // set-up: session, seeded inputs and caching, done SetupReps times; the
    // first counts from JVM start. The warm-up requests follow the last one.
    val setups = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    var wl: Workload = null
    (0 until (if (o.trace) 1 else SetupReps)).foreach { rep =>
      if (wl != null) { wl.release(); spark.stop() }
      val t0 = if (rep == 0) jvmStartMs / 1e3 else System.currentTimeMillis() / 1e3
      spark = session(slots, o.work)
      wl = workload(o.workload, spark, o.seed, toy = false, o.work)
      setups += System.currentTimeMillis() / 1e3 - t0
    }
    val warmupS = (0 until Warmups).map { i =>
      val w0 = System.nanoTime()
      wl.settle(i, wl.request(i, NoSpans))
      (System.nanoTime() - w0) / 1e9
    }
    val minUntil = System.nanoTime() +
      (jvmStartMs + MinRequestsUntilS * 1000L - System.currentTimeMillis()) * 1000000L

    val cpu0 = Host.cpuTicks
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val ph = measure(wl, o.seconds, if (o.trace) 4 else MinRequests, Warmups, tracer, minUntil)
    val rssMb = Host.peakRssMb
    val calib = if (o.trace) wl.calibrate() else Map.empty[String, Double]
    val failures = verify(wl, ph)
    val attempted = ph.attempted
    val failed = failures.size
    val load1 = Host.load1
    val cpu1 = Host.cpuTicks
    // CPU the rest of the machine used while this run measured and checked
    val foreign = ((cpu1._1 - cpu0._1) - (cpu1._2 - cpu0._2)).toDouble /
      math.max(1L, cpu1._1 - cpu0._1 + cpu1._3 - cpu0._3)

    val lat = ph.latencies.toSeq
    val p50 = Stats.median(lat)
    val (tail, tailPct, tailBeyond) = Stats.tail(lat)
    val e2e = Map(
      "setup_s" -> Stats.median(setups.toSeq),
      "req_p50_s" -> p50,
      "req_tail_s" -> tail,
      "items_per_s" -> wl.items * lat.length / lat.sum)

    val layer: Map[String, Double] = tracer.map { t =>
      val per = t.perRequest.toSeq
      val keys = per.flatMap(_.keySet).distinct
      val med = keys.map(key => key -> Stats.median(per.map(_.getOrElse(key, 0.0)))).toMap
      med ++ calib + ("trace.overhead_frac" ->
        (Stats.median(ph.tracedLatencies.toSeq) / p50 - 1.0))
    }.getOrElse(Map.empty)
    val notApplicable = if (o.trace) PerLayer.map(_._1).filterNot(layer.contains) else Nil

    val host = Json.obj(
      "nproc" -> slots, "task_slots" -> slots,
      "load1_per_core_start" -> load0 / slots, "load1_per_core_end" -> load1 / slots,
      "foreign_cpu_share" -> foreign, "loaded" -> (foreign > 0.1),
      "seed" -> o.seed, "git_commit" -> o.commit, "source_sha256" -> o.sourceSha,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString)

    if (o.trace) {
      line(Json.obj("kernelbench" -> Json.obj("workload" -> o.workload,
        "sizes" -> wl.sizes, "ns" -> calib)))
      val spans = tracer.get.spans()
      tracer.get.write(s"${o.work}/trace/${o.workload}-seed${o.seed}.json", spans)
    }
    val record = Json.obj(
      "workload" -> o.workload, "seconds" -> o.seconds, "trace" -> o.trace,
      "client" -> "one client, closed loop",
      "host" -> host, "sizes" -> wl.sizes,
      "setup_s_each" -> setups.toSeq, "warmup_requests_s" -> warmupS,
      "requests" -> Json.obj("untraced" -> lat.length,
        "traced" -> ph.tracedLatencies.length,
        "tail_percentile" -> tailPct, "tail_samples_beyond" -> tailBeyond,
        "untraced_latencies_s" -> lat),
      "end_to_end" -> Json.obj((EndToEnd.map { case (n, u) =>
        n -> Json.obj("value" -> e2e(n), "unit" -> u) } :+
        ("error_rate" -> Json.obj("value" -> failed.toDouble / attempted, "unit" -> "ratio")) :+
        ("peak_rss_mb" -> Json.obj("value" -> rssMb, "unit" -> "MB"))): _*),
      "per_layer" -> Json.obj(PerLayer.filter(m => layer.contains(m._1)).map { case (n, u) =>
        n -> Json.obj("value" -> layer(n), "unit" -> u) }: _*),
      "not_applicable" -> notApplicable,
      "failures" -> failures.toSeq.sortBy(_._1).take(10).map { case (i, m) => s"request $i: $m" })
    line(Json.obj("record" -> record))

    val metrics = if (o.trace) PerLayer.map { case (n, u) =>
      n -> Json.obj("value" -> layer.getOrElse(n, 0.0), "unit" -> u) }
    else EndToEnd.map { case (n, u) => n -> Json.obj("value" -> e2e(n), "unit" -> u) }
    line(Json.obj("correct" -> failures.isEmpty, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> Json.obj(metrics: _*)))
    wl.release()
    spark.stop()
    0
  }

  /** All workloads at toy size, each with its checks; the kNN run swaps two
    * neighbour ids in its first measured answer, which must be the one and
    * only failed request. */
  def selftest(o: Opts): Int = {
    val spark = session(math.min(Host.nproc, 2), o.work)
    val results = Seq("knn_dtw", "fit_cluster", "dedup_text").map { name =>
      val corrupt = if (name == "knn_dtw") 1 else -1
      val wl = workload(name, spark, o.seed, toy = true, o.work, corruptRequest = corrupt)
      wl.settle(0, wl.request(0, NoSpans))
      val ph = measure(wl, 0.0, 3, 1, None)
      val failures = verify(wl, ph)
      wl.release()
      val want = if (name == "knn_dtw") Set(1) else Set.empty[Int]
      val ok = failures.keySet == want
      System.err.println(s"[selftest] $name: ${ph.latencies.length} requests, failures $failures " +
        (if (ok) "(as expected)" else s"(expected failures at $want)"))
      name -> Json.obj("requests" -> ph.latencies.length, "failed" -> failures.size,
        "failures" -> failures.values.toSeq, "ok" -> ok)
    }
    spark.stop()
    val ok = results.forall(_._2("ok") == true)
    line(Json.obj("selftest" -> Json.obj(results: _*), "ok" -> ok))
    if (ok) 0 else 1
  }
}
