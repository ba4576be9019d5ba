package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/**
 * The benchmark process for one run of one workload. `run.py` starts it and
 * turns the result file into the printed metrics:
 *
 *   perfbench.Main --workload <pipeline|polyjoin|queries> --seed <n>
 *     --seconds <s> --trace <0|1> --size <full|tiny> --work <dir>
 *     --launch-ms <epoch ms when set-up began> [--data <tables dir>]
 *
 * Set-up (a fresh SparkSession, inputs and warm-up) runs `SetupRounds`
 * times; then one closed-loop client runs operations for `--seconds`. The
 * plain run times end-to-end operations only; the traced run interleaves
 * untraced and traced operations with the per-layer probes. Output checks
 * run after the timed section. Writes `<work>/result.json` and, when traced,
 * `<work>/trace.jsonl`.
 */
object Main {
  /** Set-up rounds per run; `setup_s` takes their median. */
  val SetupRounds = 3

  private final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                                size: String, work: String, launchMs: Long,
                                data: Option[String])

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val size = m.getOrElse("size", "full")
    require(size == "full" || size == "tiny", s"--size must be full or tiny, not $size")
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", size, need("work"), need("launch-ms").toLong, m.get("data"))
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", math.max(cores, 32))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def workload(a: Args, cores: Int): Workload = {
    val tiny = a.size == "tiny"
    a.workload match {
      case "pipeline" => new Pipeline(a.seed, if (tiny) 2000L else 80000L, cores)
      case "polyjoin" =>
        if (tiny) new PolyJoin(a.seed, 2000, 300, batches = 2, cores, checkSample = 100)
        else new PolyJoin(a.seed, 8000, 2500, batches = 2, cores, checkSample = 400)
      case "queries" =>
        new Queries(a.seed, a.data.getOrElse(throw new IllegalArgumentException("missing --data")),
          checkDir(a).toString)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
  }

  private def checkDir(a: Args) = Paths.get(a.work, "check")

  /** The process's resident-memory high-water mark (VmHWM), in MB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("VmHWM not in /proc/self/status"))

  def main(args: Array[String]): Unit = {
    val entryMs = System.currentTimeMillis()
    val code = try { run(parse(args), entryMs); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def run(a: Args, entryMs: Long): Unit = {
    val cores = Runtime.getRuntime.availableProcessors()
    val wl = workload(a, cores)
    val rounds = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (0 until SetupRounds).foreach { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(cores, a.work)
      wl.setup(spark)
      rounds += (System.nanoTime() - t0) / 1e9
    }

    val tracer = new Tracer(a.trace)
    val stages = if (a.trace) Some(new StageMetrics(spark.sparkContext)) else None
    val h = new Harness(tracer, stages)
    val samples = mutable.ArrayBuffer.empty[OpSample]
    val layerRounds = mutable.ArrayBuffer.empty[Map[String, Double]]
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    // plain: operations, checking the deadline between units; traced: rounds
    val unit = if (a.trace) 1 else wl.opsPerUnit
    var i = 0
    while (i == 0 || i % unit != 0 || System.nanoTime() < deadline) {
      if (a.trace) {
        val r = h.op(wl.tracedRound(spark, i, h))
        samples ++= r.samples
        layerRounds += r.layers
      } else samples += h.plain(wl.op(spark, i))
      i += 1
    }
    val peakRss = peakRssMb()
    stages.foreach(_.close())

    val timedEnd = System.nanoTime()
    Files.createDirectories(checkDir(a))
    val checks = wl.check(spark, samples.map(_.key).toSet, checkDir(a).toString)
    val checkS = (System.nanoTime() - timedEnd) / 1e9

    val layers = layerRounds.flatMap(_.keys).distinct.sorted.map { k =>
      k -> Json.num(Stats.median(layerRounds.flatMap(_.get(k)).toSeq))
    }
    if (a.trace)
      Files.write(Paths.get(a.work, "trace.jsonl"), tracer.toJsonLines.toSeq.asJava)
    val result = Json.obj(
      "workload" -> Json.str(wl.name), "seed" -> Json.num(a.seed),
      "trace" -> Json.bool(a.trace), "seconds" -> Json.num(a.seconds),
      "size" -> Json.str(a.size), "cores" -> Json.num(cores.toLong),
      "setup" -> Json.obj("launch_s" -> Json.num((entryMs - a.launchMs) / 1e3),
        "rounds_s" -> Json.arr(rounds.map(Json.num))),
      "check_s" -> Json.num(checkS),
      "peak_rss_mb" -> Json.num(peakRss),
      "sizes" -> Json.obj(wl.sizes: _*),
      "versions" -> Json.obj("spark" -> Json.str(spark.version),
        "java" -> Json.str(System.getProperty("java.version")),
        "scala" -> Json.str(scala.util.Properties.versionNumberString)),
      "samples" -> Json.arr(samples.map(s => Json.obj("key" -> Json.str(s.key),
        "pass" -> Json.num(s.pass.toLong), "s" -> Json.num(s.seconds),
        "items" -> Json.num(s.items), "traced" -> Json.bool(s.traced),
        "error" -> s.error.map(Json.str).getOrElse("null")))),
      "checks" -> Json.obj(checks.toSeq.sortBy(_._1).map { case (k, c) =>
        k -> (c match {
          case Check.Pass => Json.obj("status" -> Json.str("pass"))
          case Check.Fail(d) => Json.obj("status" -> Json.str("fail"), "detail" -> Json.str(d))
          case Check.Deferred => Json.obj("status" -> Json.str("deferred"))
        })
      }: _*),
      "layer_rounds" -> Json.num(layerRounds.size.toLong),
      "per_layer" -> Json.obj(layers.toSeq: _*))
    Files.write(Paths.get(a.work, "result.json"), result.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
