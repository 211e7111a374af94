package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the tracer, its seed, and the
  * op/failure ledger behind `attempted`/`failed`.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val nproc: Int, val selfcheck: Boolean, val warmUp: Boolean = true) {
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]

  /** Run one op of the closed loop. It fails when it throws or returns
    * false (an output check did not hold). Returns its latency in ms when
    * it succeeded.
    */
  def op(kind: String)(f: => Boolean): Option[Double] = {
    attempted += 1
    val t0 = System.nanoTime()
    val ok = try tracer.op(kind)(f) catch {
      case NonFatal(e) =>
        note(s"$kind threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        false
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (ok) Some(ms) else { failed += 1; None }
  }

  /** An output check: records a mismatch and returns whether it held. */
  def check(what: String, ok: Boolean, detail: => String = ""): Boolean = {
    if (!ok) note(s"check '$what' failed $detail")
    ok
  }

  private def note(msg: String): Unit = {
    if (failures.size < 20) failures += msg.take(500)
    System.err.println(s"[perfbench] $msg")
  }
}

/** What a workload's timed loop measured. `workPerS` and `opMs` feed the
  * end-to-end metrics every workload shares; `detail` holds the
  * workload's own named metrics (printed on the detail line). `opP50Ms`
  * replaces the median of `opMs` as `op_p50_ms` for a workload whose ops
  * are not one population.
  */
final case class Measured(workPerS: Double, opMs: Seq[Double], detail: Seq[(String, Any)],
    opP50Ms: Option[Double] = None)

abstract class Workload(val ctx: Ctx) {
  /** Generate inputs from the seed and stage them under `dir`. Called
    * several times (setup time is reported as a median); each call
    * replaces the previous one's state.
    */
  def prepare(dir: String): Unit

  /** Run the closed loop for at least `seconds`, checking every output. */
  def measure(seconds: Int): Measured

  /** Calls `round(timed = true)` until `seconds` have passed and returns how
    * many rounds ran. First, unless the context skips warm-ups, `warmups`
    * untraced `round(timed = false)` calls run outside the timed window;
    * their outputs are checked, their times are not recorded.
    */
  protected def rounds(seconds: Int, warmups: Int)(round: Boolean => Unit): Int = {
    if (warmups > 0 && ctx.warmUp) {
      val traced = ctx.tracer.active
      ctx.tracer.active = false
      try (1 to warmups).foreach(_ => round(false)) finally ctx.tracer.active = traced
    }
    val deadline = System.nanoTime() + seconds * 1000000000L
    var n = 0
    while (System.nanoTime() < deadline) { round(true); n += 1 }
    n
  }
}

object Main {
  val SetupReps = 3

  def rmTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rmTree))
    f.delete(): Unit
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  private def workloadFor(name: String, ctx: Ctx): Workload = name match {
    case "export_bulk" => new ExportBulk(ctx)
    case "kv_mixed" => new KvMixed(ctx)
    case "stream_ingest" => new StreamIngest(ctx)
    case "corpus_dedup" => new CorpusDedup(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Class-loading run for the build's class-data-sharing archive: one short
    * traced round of every workload, so the archive holds the classes the
    * timed runs load. Warm-up rounds run the same code, so they are skipped.
    */
  private def train(tmp: String): Unit = {
    val spark = Session.build(tmp, Runtime.getRuntime.availableProcessors())
    val tracer = new Tracer(spark, enabled = true)
    val ctx = new Ctx(spark, tracer, 1L, Runtime.getRuntime.availableProcessors(), false, warmUp = false)
    Seq("export_bulk", "kv_mixed", "stream_ingest", "corpus_dedup").foreach { name =>
      val w = workloadFor(name, ctx)
      w.prepare(s"$tmp/$name")
      tracer.active = true
      val m = w.measure(1)
      tracer.active = false
      tracer.drain()
      Layers.compute(tracer, m): Unit
    }
    spark.stop()
    sys.exit(0)
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.indices.filter(argv(_).startsWith("--")).map { i =>
      argv(i).drop(2) -> (if (i + 1 < argv.length && !argv(i + 1).startsWith("--")) argv(i + 1) else "true")
    }.toMap
    args.get("train").foreach(train)
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val traced = args("trace") == "1"
    val tmp = args("tmp")
    val outDir = args("out")
    val nproc = Runtime.getRuntime.availableProcessors()
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sourceHash = args.getOrElse("source-hash", "none")
    Memory.install()

    val spark = Session.build(tmp, nproc)
    val tracer = new Tracer(spark, traced)
    val ctx = new Ctx(spark, tracer, seed, nproc, args.contains("selfcheck"))
    val w = workloadFor(workload, ctx)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val setupTimes = (0 until SetupReps).map { i =>
      val dir = s"$tmp/setup$i"
      val t0 = System.nanoTime()
      w.prepare(dir)
      val s = (System.nanoTime() - t0) / 1e9
      if (i > 0) rmTree(new File(s"$tmp/setup${i - 1}"))
      s
    }
    val setupS = sessionS + Stats.median(setupTimes)

    tracer.drain()
    tracer.clearBatches()
    tracer.active = true
    val m = w.measure(seconds)
    tracer.active = false
    tracer.drain()

    val rss = peakRssMb()
    val mem = Memory.peakMb()
    // a run whose every op failed still reports (correct=false), with zero latencies
    val opMs = if (m.opMs.isEmpty) Seq(0.0) else m.opMs
    val opP50 = Stats.p50(opMs).copy(value = m.opP50Ms.getOrElse(Stats.median(opMs)))
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "peak_mem_mb" -> (mem, "MB"),
      "work_per_s" -> (m.workPerS, "1/s"),
      "op_p50_ms" -> (opP50.value, "ms"))
    val failedRatio = ctx.failed.toDouble / math.max(1L, ctx.attempted)
    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
      .filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" || k == "spark.local.dir" }
    val detail = Json.obj(Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "nproc" -> nproc, "commit" -> args.getOrElse("commit", "none"),
      "source_hash" -> sourceHash, "peak_rss_mb" -> rss,
      "setup_s" -> Map("session_s" -> sessionS, "prepare_s" -> setupTimes.toList, "value" -> setupS),
      "op_p50_ms" -> opP50, "op_tail_ms" -> Stats.tail(opMs),
      "failed_op_ratio" -> failedRatio, "failures" -> ctx.failures.toList,
      "metrics" -> m.detail.toMap, "conf" -> conf.toMap))
    println(s"""{"perfbench_detail":$detail}""")

    val e2eValues = e2e.map { case (k, (v, _)) => k -> v }
    val last = Paths.get(s"$outDir/last-$workload.json")
    val metrics: Seq[(String, (Double, String))] =
      if (!traced) {
        write(last.toString, Json.obj(Seq("seed" -> seed, "seconds" -> seconds, "source_hash" -> sourceHash,
          "metrics" -> e2eValues.toMap)) + "\n")
        e2e
      } else {
        val layers = Layers.compute(tracer, m)
        val untraced = lastUntraced(last, seed, seconds, sourceHash)
        val overhead = untraced.map(u => e2eValues.collect { case (k, v) if u.contains(k) => k -> (v - u(k)) }.toMap)
        write(s"$outDir/trace-$workload.json", Json.obj(Seq(
          "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "source_hash" -> sourceHash,
          "layers" -> layers.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
          "overhead" -> Map("traced" -> e2eValues.toMap, "untraced" -> untraced,
            "traced_minus_untraced" -> overhead))
        ).dropRight(1) + ""","spans":[""" + tracer.spanJson.mkString(",\n") + "]}\n")
        layers
      }
    val ok = ctx.failed == 0 && ctx.attempted > 0
    val metricsJson = metrics.map { case (k, (v, u)) =>
      Json.str(k) + ":" + Json.obj(Seq("value" -> v, "unit" -> u)) }.mkString("{", ",", "}")
    spark.stop()
    println(s"""{"correct":$ok,"attempted":${ctx.attempted},"failed":${ctx.failed},"metrics":$metricsJson}""")
    System.out.flush()
    sys.exit(0)
  }

  /** The end-to-end values of the last untraced run of this workload, if
    * it ran with the same seed, length and sources as the traced run;
    * otherwise the two are not comparable and there is no overhead to report.
    */
  private def lastUntraced(path: java.nio.file.Path, seed: Long, seconds: Int,
      sourceHash: String): Option[Map[String, Double]] = {
    if (!Files.exists(path)) return None
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(path.toFile)
    val same = node.path("seed").asLong(-1L) == seed && node.path("seconds").asInt(-1) == seconds &&
      node.path("source_hash").asText("") == sourceHash
    if (!same) None
    else Some(node.path("metrics").fields().asScala.map(e => e.getKey -> e.getValue.asDouble()).toMap)
  }

  private def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8)): Unit
}

object Session {
  /** The engine every workload runs on: local[nproc], shuffle partitions =
    * nproc, the engine flags `graft.Bench` sets, GraftExtensions, UTC, and
    * all scratch space under the run's own directory.
    */
  def build(tmp: String, nproc: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$tmp/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect(): Unit
    spark
  }
}
