package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{NativeExpressions, TsFunctions}
import graft.ml.{KShape, KernelKMeans, TimeSeriesKMeans}
import graft.operators.{Cdist, Dedup, TextAnalysis}

/** One workload: seeded inputs built in the constructor (the set-up), a
  * timed request, and checks against the benchmark's own reference. */
trait Workload {
  def name: String
  /** Probes, series or documents served by one request. */
  def items: Int
  def sizes: Map[String, Any]
  /** The timed part: calls into graft and returns its answer. */
  def request(i: Int, sp: Spans): Any
  /** Untimed, right after the request: keep what the checks need. */
  def settle(i: Int, answer: Any): Any = answer
  /** Deferred check of one request; Some(reason) on failure. */
  def check(i: Int, settled: Any): Option[String]
  def calibrate(): Map[String, Double]
  def release(): Unit
}

object Workload {
  def cached(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }
}

/** DTW k-NN of probe batches against a cached, labelled train set. */
final class KnnDtw(spark: SparkSession, seed: Long, toy: Boolean,
                   corruptRequest: Int = -1) extends Workload {
  import spark.implicits._
  val name = "knn_dtw"
  private val nClasses = if (toy) 4 else 16
  private val nTrain = if (toy) 256 else 4096
  private val len = if (toy) 64 else 256
  private val radius = len / 10
  private val k = 5
  private val factor = 4 // Cdist.knnDtwPruned's default
  private val batch = if (toy) 16 else 128
  private val nBatches = if (toy) 2 else 6
  private val checked = 3 // probes per request compared with the reference
  val items: Int = batch
  val sizes = Map("train" -> nTrain, "length" -> len, "radius" -> radius, "k" -> k,
    "classes" -> nClasses, "probes_per_request" -> batch, "probe_batches" -> nBatches,
    "checked_probes_per_request" -> checked)

  private val r = Gen.rng(seed, 1)
  private val bases = Array.fill(nClasses)(Gen.walk(r, len + len / 4))
  private val train: Array[(Long, Array[Double])] =
    Array.tabulate(nTrain)(i => (i.toLong, Gen.member(r, bases(i % nClasses), len, 0.5)))
  private val probes: Array[Array[(Long, Array[Double])]] = Array.tabulate(nBatches) { b =>
    Array.tabulate(batch) { j =>
      (1000000L + b * batch + j, Gen.member(r, bases(r.nextInt(nClasses)), len, 0.5))
    }
  }
  private val trainDf = Workload.cached(train.toSeq.map { case (id, v) => (id, (id % nClasses).toInt, v) }
    .toDF("series_id", "label", "values"))
  private val probeDfs = probes.map(p => Workload.cached(p.toSeq.toDF("series_id", "values")))
  private lazy val refEnvs = train.map(t => Reference.envelope(t._2, radius))

  def request(i: Int, sp: Spans): Any = {
    val res = sp.call("operators.knn_call")(
      Cdist.knnDtwPruned(probeDfs(i % nBatches), trainDf, k, radius))
    sp.call("operators.knn_collect")(res.collect())
  }

  override def settle(i: Int, answer: Any): Any = {
    val rows = answer.asInstanceOf[Array[Row]]
    val got = rows.groupBy(_.getLong(0)).map { case (p, rs) =>
      p -> rs.sortBy(_.getInt(1)).map(x => (x.getLong(2), x.getDouble(3)))
    }
    val batchIds = probes(i % nBatches).map(_._1)
    val bad = batchIds.find(id => got.get(id).forall(_.length != k))
    if (bad.isDefined) return s"probe ${bad.get} did not get $k neighbours"
    val pick = Gen.rng(seed, 100 + i)
    val sample = Seq.fill(checked)(probes(i % nBatches)(pick.nextInt(batch))).distinct
    sample.zipWithIndex.map { case ((id, q), n) =>
      val ans = got(id).clone()
      // the self-test's corrupted answer: two neighbour ids swapped
      if (i == corruptRequest && n == 0) {
        val t = ans(0); ans(0) = (ans(1)._1, t._2); ans(1) = (t._1, ans(1)._2)
      }
      (id, q, ans)
    }
  }

  def check(i: Int, settled: Any): Option[String] = settled match {
    case msg: String => Some(msg)
    case s: Seq[_] => s.asInstanceOf[Seq[(Long, Array[Double], Array[(Long, Double)])]].iterator
      .flatMap { case (id, q, got) =>
        val want = Reference.knn(q, train, refEnvs, k, radius, factor)
        if (!got.map(_._1).sameElements(want.map(_._1)))
          Some(s"probe $id: neighbours ${got.map(_._1).mkString(",")} != reference ${want.map(_._1).mkString(",")}")
        else got.zip(want).collectFirst {
          case ((_, g), (_, w)) if math.abs(g - w) > 1e-9 * math.max(1.0, math.abs(w)) =>
            s"probe $id: distance $g != reference $w"
        }
      }.nextOption()
  }

  def calibrate(): Map[String, Double] =
    Calibrate.kernels(probes(0).map(_._2), train, radius, k, factor) ++ Map(
      "functions.envelope_ns_per_row" ->
        Calibrate.function(trainDf, TsFunctions.envelopeUdf(col("values"), lit(radius))))

  def release(): Unit = { trainDf.unpersist(); probeDfs.foreach(_.unpersist()) }
}

/** Three clusterings of a small series batch: job- and driver-bound.
  * Every fit runs a fixed number of iterations (tol = -inf), so the job
  * count of a request does not depend on the seed. */
final class FitCluster(spark: SparkSession, seed: Long, toy: Boolean) extends Workload {
  import spark.implicits._
  val name = "fit_cluster"
  private val k = 4
  private val n = if (toy) 24 else 32
  private val len = 32
  private val iters = 1
  // two batches alternate, so every batch is replayed within a run
  private val nBatches = 2
  val items: Int = n
  val sizes = Map("series_per_request" -> n, "length" -> len, "k" -> k, "batches" -> nBatches,
    "iterations" -> iters, "kmeans_restarts" -> 1)

  private val batches: Array[Array[(Long, Array[Double])]] = Array.tabulate(nBatches) { b =>
    val r = Gen.rng(seed, 10 + b)
    val bases = Array.fill(k)(Gen.walk(r, len + len / 4))
    Array.tabulate(n)(j => (b * 100000L + j, Gen.member(r, bases(j % k), len, 0.3)))
  }
  private val dfs = batches.map(b => Workload.cached(b.toSeq.toDF("series_id", "values")))

  /** (estimator, inertia, series_id -> cluster) per fit. */
  private type Fits = Seq[(String, Double, Map[Long, Int])]

  private def assignments(df: DataFrame): Map[Long, Int] =
    df.select(col("series_id").cast("long"), col("cluster").cast("int")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap

  def request(i: Int, sp: Spans): Any = {
    val df = dfs(i % nBatches)
    val km = sp.call("ml.kmeans") {
      val m = new TimeSeriesKMeans(k, "euclidean", maxIter = iters, tol = Double.NegativeInfinity,
        init = "k-means++det", nInit = 1).fit(df)
      ("kmeans", m.inertia, assignments(m.predict(df)))
    }
    val kk = sp.call("ml.kernel_kmeans") {
      val m = new KernelKMeans(k, maxIter = iters, tol = Double.NegativeInfinity, kernel = "gak").fitModel(df)
      ("kernel_kmeans", m.inertia, assignments(m.predict(df)))
    }
    val ks = sp.call("ml.kshape") {
      val m = new KShape(k, maxIter = iters, tol = Double.NegativeInfinity).fit(df)
      ("kshape", m.inertia, assignments(m.predict(df)))
    }
    Seq(km, kk, ks)
  }

  /** The first answer of each batch; later requests on it are replays. */
  private val firstOf = mutable.Map[Int, (Int, Fits)]()

  override def settle(i: Int, answer: Any): Any = {
    val fits = answer.asInstanceOf[Fits]
    val first = firstOf.get(i % nBatches)
    if (first.isEmpty) firstOf(i % nBatches) = (i, fits)
    (fits, first)
  }

  private def replayDiff(first: (Int, Fits), again: Fits): Option[String] =
    first._2.zip(again).collectFirst {
      case ((est, i1, a1), (_, i2, a2)) if a1 != a2 || i1 != i2 =>
        s"$est: replay of request ${first._1} differs (inertia $i1 vs $i2, " +
          s"${a1.count { case (s, c) => a2.get(s) != Some(c) }} assignments moved)"
    }

  def check(i: Int, settled: Any): Option[String] = {
    val (fits, first) = settled.asInstanceOf[(Fits, Option[(Int, Fits)])]
    val ids = batches(i % nBatches).map(_._1).toSet
    fits.collectFirst {
      case (est, _, a) if a.keySet != ids => s"$est: assigned ${a.size} of ${ids.size} series"
      case (est, _, a) if a.values.exists(c => c < 0 || c >= k) => s"$est: cluster outside [0, $k)"
      case (est, inertia, _) if !(inertia >= 0) => s"$est: inertia $inertia"
    }.orElse(first.flatMap(replayDiff(_, fits)))
  }

  def calibrate(): Map[String, Double] = {
    Calibrate.kernels(batches(1).take(8).map(_._2), batches(0), math.max(1, len / 10), k, 4) ++ Map(
      "functions.envelope_ns_per_row" ->
        Calibrate.function(dfs(0), TsFunctions.envelopeUdf(col("values"), lit(math.max(1, len / 10)))))
  }

  def release(): Unit = dfs.foreach(_.unpersist())
}

/** Near-duplicate collapse of document batches: shuffle-, join- and write-bound. */
final class DedupText(spark: SparkSession, seed: Long, toy: Boolean, work: String) extends Workload {
  import spark.implicits._
  val name = "dedup_text"
  private val nDocs = if (toy) 240 else 1200
  private val nBatches = if (toy) 2 else 4
  private val editRate = 0.01
  private val plantedShare = 0.3
  val items: Int = nDocs
  val sizes = Map("docs_per_request" -> nDocs, "batches" -> nBatches, "vocabulary" -> 4000,
    "zipf_s" -> 1.05, "edit_rate" -> editRate, "planted_share" -> plantedShare)

  // A Zipf vocabulary whose head is TextAnalysis's stopword list, so the
  // quality score sees realistic stopword ratios.
  private val vocab: Array[String] = {
    val syl = Array("ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "pe", "gu", "da", "fo")
    (TextAnalysis.stopwords ++ (0 until 4000 - TextAnalysis.stopwords.length).map { i =>
      var x = i + syl.length; val sb = new StringBuilder
      while (x > 0) { sb.append(syl(x % syl.length)); x /= syl.length }
      sb.toString
    }).toArray
  }
  private val cdf: Array[Double] = {
    val w = vocab.indices.map(i => 1.0 / math.pow(i + 1, 1.05))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private def word(r: java.util.Random): String = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    vocab(math.min(vocab.length - 1, if (i >= 0) i else -i - 1))
  }

  /** A near-copy: exactly editRate of the words (at least one) replaced.
    * That keeps every copy's shingle Jaccard to its original near 0.94,
    * where 16 bands of 4 MinHash rows find the pair with certainty. */
  private def edited(r: java.util.Random, orig: Array[String]): Array[String] = {
    val out = orig.clone()
    val edits = math.max(1, math.round(editRate * orig.length).toInt)
    scala.util.Random.javaRandomToRandom(r).shuffle(orig.indices.toVector).take(edits).foreach { p =>
      var w = word(r)
      while (w == orig(p)) w = word(r)
      out(p) = w
    }
    out
  }

  /** (doc_id, source, text): a source is an original document; planted
    * near-copies share their original's source. Ids are shuffled so the
    * original is not always the smallest id of its group. */
  private val batches: Array[Array[(Long, Long, String)]] = Array.tabulate(nBatches) { b =>
    val r = Gen.rng(seed, 20 + b)
    val docs = mutable.ArrayBuffer[(Long, Array[String])]()
    while (docs.length < nDocs) {
      val src = docs.length.toLong
      val words = Array.fill(100 + r.nextInt(100))(word(r))
      val punct = r.nextDouble() < 0.25
      val orig = if (punct) words.map(w => if (r.nextDouble() < 0.2) w + "," else w) else words
      docs += src -> orig
      if (r.nextDouble() < plantedShare / (1 - plantedShare) / 2) {
        (0 until 1 + r.nextInt(3)).foreach { _ =>
          if (docs.length < nDocs) docs += src -> edited(r, orig)
        }
      }
    }
    val ids = scala.util.Random.javaRandomToRandom(r).shuffle((0 until nDocs).toVector)
    docs.zip(ids).map { case ((src, ws), id) => (b * 1000000L + id, src, ws.mkString(" ")) }.toArray
  }
  private val dfs = batches.map(b => Workload.cached(b.toSeq.toDF("doc_id", "source", "text")))

  def request(i: Int, sp: Spans): Any = {
    val docs = dfs(i % nBatches)
    val pairs = sp.call("operators.minhash_lsh")(Dedup.minhashLsh(docs, portable = true))
    val cc = sp.call("operators.connected_components")(Dedup.connectedComponents(pairs))
    val out = s"$work/dedup/r$i"
    sp.call("operators.keep_best_write") {
      val best = Window.partitionBy("component").orderBy(col("quality").desc, col("doc_id").asc)
      docs.join(cc, Seq("doc_id"), "left")
        .withColumn("component", coalesce(col("cluster"), col("doc_id")))
        .withColumn("quality", TextAnalysis.qualityScore(col("text")))
        .withColumn("rank", row_number().over(best))
        .where(col("rank") === 1)
        .select("doc_id", "component", "quality", "text")
        .write.mode("overwrite").parquet(out)
    }
    (cc, out)
  }

  override def settle(i: Int, answer: Any): Any = {
    val (cc, out) = answer.asInstanceOf[(DataFrame, String)]
    val comp = cc.as[(Long, Long)].collect().toMap
    val written = spark.read.parquet(out).select("doc_id", "component").as[(Long, Long)].collect()
    deleteTree(new java.io.File(out))
    (comp, written)
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def check(i: Int, settled: Any): Option[String] = {
    val (cc, written) = settled.asInstanceOf[(Map[Long, Long], Array[(Long, Long)])]
    val docs = batches(i % nBatches)
    val comp = docs.map(d => d._1 -> cc.getOrElse(d._1, d._1)).toMap
    val split = docs.groupBy(_._2).collectFirst {
      case (src, ds) if ds.map(d => comp(d._1)).distinct.length > 1 =>
        s"planted group of source $src split over ${ds.map(d => comp(d._1)).distinct.length} components"
    }
    lazy val merged = docs.groupBy(d => comp(d._1)).collectFirst {
      case (c, ds) if ds.map(_._2).distinct.length > 1 =>
        s"component $c merges sources ${ds.map(_._2).distinct.mkString(",")}"
    }
    val nComp = comp.values.toSet.size
    lazy val kept =
      if (written.length != nComp) Some(s"wrote ${written.length} rows for $nComp components")
      else if (written.map(_._2).toSet.size != nComp) Some("two kept rows share a component")
      else written.collectFirst { case (d, c) if comp.get(d) != Some(c) => s"kept doc $d is not in component $c" }
    split.orElse(merged).orElse(kept)
  }

  def calibrate(): Map[String, Double] = Map(
    "functions.shingle_hash_ns_per_doc" -> Calibrate.function(dfs(0),
      size(NativeExpressions.shingleHash60Native(col("text"), 3, lowercase = true, distinct = false))))

  def release(): Unit = dfs.foreach(_.unpersist())
}
