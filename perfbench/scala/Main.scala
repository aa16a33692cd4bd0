package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.{GraftSession, SparkEntry}
import graft.pipeline.{ImageOps, ImagePipeline, ImageRecord}

/** The benchmark's JVM side. One process runs one workload closed-loop
  * from a single client thread on local[4]: a cold pass, a warm-up pass,
  * then one timed warm pass per 2.5 s of --seconds. Every operation's
  * output is checked untimed right after it runs; the raw timings, hashes and
  * per-layer figures go to a JSON file that `run.py` turns into metrics.
  *
  *   Main oracle --work <dir> --out <file> [--data <fixture root>]
  *   Main run --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *            --t0 <epoch ns> --work <dir> --out <file> --spans <file>
  *            --data <fixture root> [--corpus <dir>]
  */
object Main {
  val Cores = 4

  /** analytics_small: a fixed cross-section of the Relational, Windows,
    * Scalars and EventTime families at sf0.01 (scan, shuffle join, hash
    * aggregate, rank windows, string functions, tumbling windows),
    * including two keys without a DuckDB oracle. */
  val AnalyticsKeys = Seq("q01_scan_count", "q07_join_shuffle", "q13_hash_agg",
    "q15_approx_distinct", "q18_rank_windows", "q23_string_fns",
    "q29_tumbling_window", "q56_approx_quantile")
  /** llm_heavy: iterative loops with eager Materialize checkpoints
    * (Lloyd/IVF with the dot128 kernel, PageRank) and minhash dedup with
    * connected components, at sf0.01. */
  val HeavyKeys = Seq("q50_ivf_kmeans", "q67_dedup_clusters", "q119_pagerank")
  val QueryWorkloads: Map[String, (Seq[String], String)] = Map(
    "analytics_small" -> (AnalyticsKeys, "sf0.01"),
    "llm_heavy" -> (HeavyKeys, "sf0.01"))

  def nowNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }
  def nowMs(): Double = nowNs() / 1e6

  def session(work: String): SparkSession = {
    val s = GraftSession.builder(s"local[$Cores]", Cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val opt = args.drop(1).grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    args(0) match {
      case "run" => new Run(opt).run()
      case "oracle" =>
        // the DuckDB SQL of every oracled key, per query workload
        val spark = session(opt("work"))
        val root = opt.getOrElse("data", dataRoot(spark))
        val out = QueryWorkloads.map { case (w, (keys, sf)) =>
          w -> Map("sf_dir" -> s"$root/$sf",
            "oracle" -> SparkEntry.oracleSql.filter(kv => keys.contains(kv._1)))
        }
        Files.writeString(Paths.get(opt("out")), Json.render(out))
        spark.stop()
    }
  }

  /** The fixture root: the directory the engine's own smoke entry reads
    * (its parquet lives at <root>/<sf>/<table>.parquet). */
  def dataRoot(spark: SparkSession): String =
    new File(new java.net.URI(SparkEntry.entry(spark).inputFiles.head))
      .getParentFile.getParentFile.getPath

  /** Peak resident set of this JVM (VmHWM), MB. */
  def rssPeakMb(): Double = scala.io.Source.fromFile("/proc/self/status")
    .getLines().find(_.startsWith("VmHWM:"))
    .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** One timed operation's outcome. `hashes` are per-column result hashes
  * (query workloads), checked against the oracle by `run.py`. */
case class OpResult(key: String, pass: Int, wall: Double,
    error: Option[String], cols: Seq[String] = Nil, hashes: Seq[String] = Nil,
    rows: Long = 0)

class Run(opt: Map[String, String]) {
  import Main._

  private val workload = opt("workload")
  private val seed = opt("seed").toLong
  private val seconds = opt("seconds").toDouble
  private val traced = opt("trace") == "1"
  private val work = opt("work")
  private val spark = session(work)
  private val readyNs = nowNs()
  private val root = opt("data")
  private val augSeed = seed * 7919L + 17L

  private val ops = ArrayBuffer[OpResult]()
  private val passes = ArrayBuffer[Map[String, Any]]()
  private val spans = ArrayBuffer[Span]()
  private val tracer = new Tracer(spark, Cores)

  private def withTag[T](tag: String)(body: => T): T = {
    spark.sparkContext.setLocalProperty(Tracer.OpProp, tag)
    try body finally spark.sparkContext.setLocalProperty(Tracer.OpProp, null)
  }

  private def err(e: Throwable) =
    Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")

  // ---- workloads: each op returns its result and check windows ----

  private trait Workload {
    def keys(pass: Int): Seq[String]
    /** time one op; then check it untimed. Returns (op, window, check). */
    def op(pass: Int, key: String): (OpResult, OpWindow, OpWindow)
    def extra: Map[String, Any] = Map.empty
  }

  /** One op = build the key's DataFrame, then plan and execute it by
    * collecting to the client: the timed execution yields exactly the
    * rows that are checked, so checking needs no second execution. */
  private class Queries(names: Seq[String], sf: String) extends Workload {
    val dir = s"$root/$sf"
    /** The cold pass runs the keys in their listed order, so cold_s
      * always measures the same first-contact sequence (a one-shot batch
      * job runs a fixed script); the seed orders every warm pass, which
      * exposes order effects such as leftover checkpoint blocks. */
    def keys(pass: Int): Seq[String] =
      if (pass == 0) names
      else new scala.util.Random(seed * 1000003L + pass).shuffle(names)
    def op(pass: Int, key: String): (OpResult, OpWindow, OpWindow) = {
      val tag = s"$pass:$key"
      val t0 = nowMs()
      var built = t0
      val out = withTag(tag) {
        try {
          val df = SparkEntry.queries(key)(spark, dir)
          built = nowMs()
          Right((df.columns, df.collect()))
        } catch { case e: Throwable => Left(e) }
      }
      val t1 = nowMs()
      val res = OpResult(key, pass, (t1 - t0) / 1e3, None)
      val checked = out match {
        case Left(e) => res.copy(error = err(e))
        case Right((cols, rows)) =>
          val (c, h, n) = Canon.hashes(cols, rows)
          res.copy(cols = c, hashes = h, rows = n)
      }
      (checked, OpWindow(tag, key, t0, built, t1), OpWindow("check", key, t1, t1, nowMs()))
    }
    override def extra: Map[String, Any] = Map("sf_dir" -> dir,
      "oracle" -> SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) })
  }

  private class Images(corpus: String) extends Workload {
    val inputs: Int = Files.walk(Paths.get(corpus)).filter(p =>
      p.toString.endsWith(".jpg")).count().toInt
    var reference: Map[String, Array[Byte]] = Map.empty
    var sample: Seq[ImageRecord] = Nil

    def keys(pass: Int): Seq[String] = Seq("image_etl")

    def op(pass: Int, key: String): (OpResult, OpWindow, OpWindow) = {
      val out = s"$work/img-out/pass-$pass"
      Corpus.deleteTree(new File(out))
      val tag = s"$pass:$key"
      val t0 = nowMs()
      var built = t0
      val failure = withTag(tag) {
        try {
          val aug = ImagePipeline.augmentChain(ImagePipeline.toImageRecords(
            ImagePipeline.readImageDir(spark, corpus)), 224, 224, augSeed)
          built = nowMs()
          ImagePipeline.writeImageParquet(aug, out)
          None
        } catch { case e: Throwable => err(e) }
      }
      val t1 = nowMs()
      val res = OpResult(key, pass, (t1 - t0) / 1e3, failure, rows = inputs)
      val checked = if (failure.isDefined) res else withTag("check") {
        try check(out).fold(res)(m => res.copy(error = Some(m)))
        catch { case e: Throwable => res.copy(error = err(e)) }
      }
      Corpus.deleteTree(new File(out))
      (checked, OpWindow(tag, key, t0, built, t1), OpWindow("check", key, t1, t1, nowMs()))
    }

    /** Row count = inputs, every output decodes as 224x224, and a seeded
      * sample is byte-equal to the single-threaded ImageOps chain. */
    def check(out: String): Option[String] = {
      val rows = spark.read.parquet(out).collect()
        .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
      if (rows.size != inputs) return Some(s"rows ${rows.size} != inputs $inputs")
      val bad = rows.find { case (p, b) =>
        !ImageOps.decodeEncoded(p, b).exists(i => i.width == 224 && i.height == 224)
      }
      if (bad.isDefined) return Some(s"not a 224x224 image: ${bad.get._1}")
      if (reference.isEmpty) {
        val picked = new scala.util.Random(seed).shuffle(rows.keys.toSeq.sorted).take(32)
        sample = ImagePipeline.toImageRecords(ImagePipeline.readImageDir(spark, corpus))
          .filter(col("origin").isin(picked: _*)).collect().toSeq.sortBy(_.origin)
        reference = sample.map(r => r.origin -> Kernels.chain(r, augSeed)).toMap
      }
      reference.collectFirst {
        case (p, b) if !java.util.Arrays.equals(b, rows.getOrElse(p, null)) =>
          s"output differs from the single-threaded chain: $p"
      }
    }
    override def extra: Map[String, Any] = Map("images" -> inputs)
  }

  // ---- passes ----

  private def runPass(w: Workload, pass: Int, kind: String, trace: Boolean): Unit = {
    System.gc()
    if (trace) tracer.start()
    val c0 = Counters.snapshot()
    val results = w.keys(pass).map(k => w.op(pass, k))
    val c1 = Counters.snapshot()
    val wall = results.map(_._1.wall).sum
    ops ++= results.map(_._1)
    var rec = Map[String, Any]("pass" -> pass, "kind" -> kind, "traced" -> trace,
      "wall_s" -> wall)
    if (trace) {
      tracer.drain()
      tracer.stop()
      val (m, sp) = tracer.passMetrics(pass, results.map(_._2), results.map(_._3),
        wall, Counters.delta(c0, c1), spans.size)
      spans ++= sp
      rec += "layers" -> m
    }
    passes += rec
  }

  /** Image source and sink on their own, plus the per-image kernels. */
  private def imageProbe(corpus: String, recs: Seq[ImageRecord]): Map[String, Double] = {
    def median3(body: => Unit): Double = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }.sorted.apply(1)
    val src = median3(ImagePipeline.readImageDir(spark, corpus)
      .write.mode("overwrite").format("noop").save())
    val aug = ImagePipeline.augmentChain(ImagePipeline.toImageRecords(
      ImagePipeline.readImageDir(spark, corpus)), 224, 224, augSeed).localCheckpoint()
    val out = s"$work/img-probe"
    val sink = median3 { Corpus.deleteTree(new File(out))
      ImagePipeline.writeImageParquet(aug, out) }
    val bytes = Files.walk(Paths.get(out)).filter(p => p.toString.endsWith(".parquet"))
      .mapToLong(p => Files.size(p)).sum().toDouble
    Corpus.deleteTree(new File(out))
    Kernels.pipeline(recs, augSeed) ++ Map("source.read_s" -> src,
      "sink.write_s" -> sink, "sink.bytes_written" -> bytes)
  }

  def run(): Unit = {
    val w: Workload = workload match {
      case "image_etl" => new Images(opt("corpus"))
      case q if QueryWorkloads.contains(q) =>
        new Queries(QueryWorkloads(q)._1, QueryWorkloads(q)._2)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val cold0 = Counters.snapshot()
    runPass(w, 0, "cold", traced)
    val cold = Counters.delta(cold0, Counters.snapshot())
    // one untimed (but checked) warm-up pass, then the timed passes:
    // one per 2.5 s of --seconds (about a warm pass on 4 cores), at least
    // 4, and a whole number of ABBA groups when traced (untraced, traced,
    // traced, untraced), so the engine's warm-up trend does not bias the
    // tracing overhead. A count rather than a deadline: every run takes
    // its medians over the same positions of the engine's warm-up curve.
    runPass(w, 1, "warmup", false)
    val timed = math.max(4, math.round(seconds / 2.5).toInt)
    (2 until 2 + (if (traced) (timed + 3) / 4 * 4 else timed)).foreach { pass =>
      runPass(w, pass, "warm", traced && (pass % 4 == 3 || pass % 4 == 0))
    }
    var probes = Map("codegen.cold_compile_s" -> cold("codegen.compile_s"),
      "codegen.cold_classes" -> cold("codegen.classes"))
    if (traced) {
      probes ++= Kernels.functions(spark, s"$root/sf0.1")
      probes ++= (w match {
        case img: Images => imageProbe(opt("corpus"), img.sample)
        case _ =>
          // query workloads read no images: probe the image layers on a
          // small seeded corpus so every run reports every layer
          val dir = new File(s"$work/probe-corpus")
          Corpus.deleteTree(dir)
          Corpus.generate(dir, 32, seed)
          val images = ImagePipeline.toImageRecords(
            ImagePipeline.readImageDir(spark, dir.getPath))
          val recs = images.collect().toSeq
          val t = System.nanoTime()
          ImagePipeline.augmentChain(images, 224, 224, augSeed)
            .write.mode("overwrite").format("noop").save()
          val augmentS = (System.nanoTime() - t) / 1e9
          val m = imageProbe(dir.getPath, recs) + ("probe.augment_pass_s" -> augmentS)
          Corpus.deleteTree(dir)
          m
      })
    }
    val result = Map[String, Any]("jvm_s" -> (nowNs() - readyNs) / 1e9,
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "ready_ns" -> readyNs, "cores" -> Cores, "data_root" -> root,
      "rss_peak_mb" -> rssPeakMb(), "passes" -> passes, "probes" -> probes,
      "ops" -> ops.map(o => Map("key" -> o.key, "pass" -> o.pass,
        "wall_s" -> o.wall, "error" -> o.error,
        "cols" -> o.cols, "hashes" -> o.hashes, "rows" -> o.rows))
    ) ++ w.extra
    Files.writeString(Paths.get(opt("out")), Json.render(result))
    Files.writeString(Paths.get(opt("spans")), spans.map(s => Json.render(Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.start, "end_ms" -> s.end))).mkString("", "\n", "\n"))
    spark.stop()
  }
}
