package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ops.KvPivot
import graft.PerfbenchTableLog
import graft.sources.{KvCompactor, KvDelete, KvIndex, KvMaintenance, KvVacuum}

/** Seeded inputs and traffic for `kv_mixed`. The base table has `BaseRows`
  * rows of three qualifiers, preloaded in `PreloadCommits` interleaved
  * commits of nproc regions each (overlapping segments). Keys are drawn
  * Zipf(`ZipfS`) over a seeded permutation of the base keys; `RecentShare`
  * of gets read a key written earlier in the run. Ops follow the fixed
  * cycle `Schedule` (45% point gets, 15% index gets, 10% range scans, 20%
  * put commits, 10% delete commits, and one maintenance pass in the
  * middle), so every seed sees the same mix and only keys and values vary.
  */
object KvGen {
  val BaseRows = 10000
  val PreloadCommits = 4
  val Quals: Seq[String] = Seq("a", "b", "email")
  val Family = "d"
  /** YCSB's default zipfian constant (`ZipfianGenerator.ZIPFIAN_CONSTANT`). */
  val ZipfS = 0.99
  val RecentShare = 0.2
  val Schedule: IndexedSeq[String] = IndexedSeq(
    "get", "put", "get", "index_get", "get", "scan", "get", "delete", "get", "put",
    "maintain",
    "index_get", "get", "get", "scan", "put", "get", "index_get", "delete", "get", "put")
  val ScanWidth = 24
  val PutRows = 4
  val DeleteRows = 2

  def key(id: Int): String = f"r$id%08d"
  def email(id: Int, ver: Long): String = s"u$id-$ver@example.org"

  /** Inverse-CDF Zipf sampler over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / math.pow(r, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def sample(rng: scala.util.Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  def baseCells(seed: Long): Seq[(String, String, String, Array[Byte], Long)] = {
    val rng = new scala.util.Random(seed)
    (0 until BaseRows).flatMap { id =>
      val ts = 1L + id
      Seq(
        (key(id), Family, "a", s"a${rng.nextLong().toHexString}".getBytes(UTF_8), ts),
        (key(id), Family, "b", s"b${rng.nextLong().toHexString}".getBytes(UTF_8), ts),
        (key(id), Family, "email", email(id, 0).getBytes(UTF_8), ts))
    }
  }
}

/** `kv_mixed`: one client over a preloaded multi-region, multi-segment
  * graft-kv table with a secondary index on `email`. Every get and scan is
  * checked against an in-memory model: the generator's base plus the
  * run's own puts and deletes.
  */
final class KvMixed(ctx: Ctx) extends Workload(ctx) {
  import KvGen._
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private var table = ""
  private val model = mutable.HashMap.empty[String, Map[String, (String, Long)]]
  private var ranked: IndexedSeq[String] = IndexedSeq.empty
  private var nextId = BaseRows
  private var clock = 0L
  private var planted = false

  private def fs = new Path(table).getFileSystem(spark.sessionState.newHadoopConf())

  private def commit(rows: Seq[(String, String, String, Array[Byte], Long)], regions: Int): Unit =
    spark.createDataFrame(rows).toDF("rowKey", "family", "qualifier", "value", "ts")
      .write.format("graft-kv").option("regions", regions).mode("append").save(table)

  def prepare(dir: String): Unit = {
    table = s"$dir/kv"
    val base = baseCells(ctx.seed)
    base.groupBy { case (k, _, _, _, _) => k.drop(1).toInt % PreloadCommits }.toSeq.sortBy(_._1)
      .foreach { case (_, rows) => commit(rows, ctx.nproc) }
    KvIndex.create(spark, table, "by_email", Family, "email")
    model.clear()
    base.foreach { case (k, _, q, v, ts) =>
      model(k) = model.getOrElse(k, Map.empty) + (q -> (new String(v, UTF_8), ts))
    }
    ranked = new scala.util.Random(ctx.seed ^ 0x5eed).shuffle((0 until BaseRows).map(key))
    nextId = BaseRows
    clock = BaseRows + 1L
    planted = ctx.selfcheck
  }

  private def decoded(r: Row): Map[String, String] =
    Quals.zipWithIndex.flatMap { case (q, i) =>
      Option(r.getAs[Array[Byte]](i + 1)).map(v => q -> new String(v, UTF_8))
    }.toMap

  private def current(k: String): Map[String, String] =
    model.get(k).map(_.map { case (q, (v, _)) => q -> v }).getOrElse(Map.empty)

  private def pivoted(cells: DataFrame): Seq[Row] =
    tr.span("pivot", "KvPivot.pivot")(KvPivot.pivot(cells, Quals)).collect().toSeq

  def measure(seconds: Int): Measured = {
    val rng = new scala.util.Random(ctx.seed * 31 + 7)
    val zipf = new Zipf(ranked.size, ZipfS)
    val recent = ArrayBuffer.empty[String]
    val getMs, writeMs, allMs = ArrayBuffer.empty[Double]
    val byKind = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
    var scanNs, scanRows = 0L
    def pick(): String =
      if (recent.nonEmpty && rng.nextDouble() < RecentShare) recent(rng.nextInt(recent.size))
      else ranked(zipf.sample(rng))
    def remember(k: String): Unit = { recent += k; if (recent.size > 64) recent.remove(0) }

    def get(): Boolean = {
      val k = pick()
      val rows = tr.span("scan", "get") {
        val rs = pivoted(spark.read.format("graft-kv").load(table).filter(col("rowKey") === k))
        tr.count("scan", "rows_returned", rs.size.toDouble)
        rs
      }
      var want = current(k)
      if (planted) { want += ("b" -> "planted-wrong-value"); planted = false }
      val got = rows.map(decoded)
      ctx.check("kv_mixed get", if (want.isEmpty) got.isEmpty else got == Seq(want),
        s"key $k got $got want $want")
    }

    def indexGet(): Boolean = {
      val k = (Iterator.continually(pick()).take(8) ++ recent.reverseIterator ++ ranked.iterator)
        .find(k => current(k).contains("email")).get
      val v = current(k)("email")
      val lag = if (tr.enabled) indexLag() else 0L
      val got = tr.span("index", "lookup") {
        tr.count("index", "lag_commits", lag.toDouble)
        KvIndex.lookup(spark, table, "by_email", v, v + "\u0001").collect().toSeq
          .map(r => (r.getString(0), r.getString(1)))
      }
      ctx.check("kv_mixed index get", got == Seq((k, v)), s"value $v got $got want $k")
    }

    def scan(): Boolean = {
      val lo = rng.nextInt(nextId)
      val (loK, hiK) = (key(lo), key(lo + ScanWidth))
      val t0 = System.nanoTime()
      val rows = tr.span("scan", "range") {
        val rs = pivoted(spark.read.format("graft-kv")
          .option("minRowKey", loK).option("maxRowKey", hiK).load(table))
        tr.count("scan", "rows_returned", rs.size.toDouble)
        rs
      }
      scanNs += System.nanoTime() - t0
      scanRows += rows.size
      val got = rows.map(r => r.getString(0) -> decoded(r)).sortBy(_._1)
      val want = (lo until lo + ScanWidth).map(key).map(k => k -> current(k)).filter(_._2.nonEmpty)
      ctx.check("kv_mixed scan", got == want, s"range [$loK, $hiK) got ${got.size} rows want ${want.size}")
    }

    def put(): Boolean = {
      clock += 1
      val ts = clock
      val rows = (0 until PutRows).flatMap { _ =>
        val (k, fresh) =
          if (rng.nextBoolean()) (ranked(zipf.sample(rng)), false)
          else { nextId += 1; (key(nextId - 1), true) }
        val id = k.drop(1).toInt
        val quals = if (fresh) Quals else if (rng.nextBoolean()) Seq("a", "email") else Seq("a")
        quals.map { q =>
          val v = if (q == "email") email(id, ts) else s"$q$ts-${rng.nextInt(1 << 20)}"
          (k, Family, q, v.getBytes(UTF_8), ts)
        }
      }.groupBy(c => (c._1, c._3)).values.map(_.head).toSeq
      tr.span("sink", "write.graft-kv") {
        tr.count("sink", "user_bytes", rows.map(c => c._1.length + c._2.length + c._3.length + c._4.length + 8).sum.toDouble)
        commit(rows, 1)
      }
      rows.foreach { case (k, _, q, v, t) =>
        model(k) = model.getOrElse(k, Map.empty) + (q -> (new String(v, UTF_8), t))
        remember(k)
      }
      true
    }

    def delete(): Boolean = {
      clock += 1
      val ts = clock
      val keys = Seq.fill(DeleteRows)(pick()).distinct
      tr.span("delete", "deleteRows") {
        KvDelete.deleteRows(spark, table,
          spark.createDataFrame(keys.map(Tuple1(_))).toDF("rowKey"), defaultTs = ts)
      }
      keys.foreach { k => model.remove(k); remember(k) }
      true
    }

    def maintain(): Boolean = {
      tr.span("index", "refresh")(KvIndex.refresh(spark, table, "by_email"))
      val r = tr.span("maint", "maintain") {
        val r = KvMaintenance.maintain(spark, table,
          KvMaintenance.Policy(maxSegments = 12, vacuumGraceMs = 0L))
        r.compaction match {
          case c: KvCompactor.Compacted => tr.count("maint", "segments_merged", c.merged.toDouble)
          case _ =>
        }
        r.vacuum match {
          case v: KvVacuum.Vacuumed => tr.count("maint", "files_vacuumed", v.deletedFiles.toDouble)
          case _ =>
        }
        r
      }
      ctx.check("kv_mixed maintain", !r.compaction.isInstanceOf[KvCompactor.Aborted], r.compaction.toString)
    }

    def run(kind: String): Option[Double] = kind match {
      case "get" => ctx.op(kind)(get())
      case "index_get" => ctx.op(kind)(indexGet())
      case "scan" => ctx.op(kind)(scan())
      case "put" => ctx.op(kind)(put())
      case "delete" => ctx.op(kind)(delete())
      case "maintain" => ctx.op(kind)(maintain())
    }

    var t0 = System.nanoTime()
    var n = 0
    // The warm-up runs each cheap op kind once, untimed; its outputs are checked.
    rounds(seconds, warmups = 1) { timed =>
      if (!timed) {
        Seq("get", "put", "index_get", "scan", "delete").foreach(run)
        scanNs = 0L; scanRows = 0L; t0 = System.nanoTime()
      }
      else {
        val kind = Schedule(n % Schedule.size)
        n += 1
        run(kind).foreach { v =>
          allMs += v
          byKind.getOrElseUpdate(kind, ArrayBuffer.empty) += v
          if (kind == "get" || kind == "index_get") getMs += v
          if (kind == "put" || kind == "delete") writeMs += v
        }
      }
    }
    // Ops per second of the fixed mix, from each kind's median latency. A
    // run's window holds about one cycle, whose one maintenance pass takes a
    // third of it, so raw ops/s jumps with where the window ends.
    val opsPerS = allMs.size / ((System.nanoTime() - t0) / 1e9)
    val mixRate =
      if (!Schedule.forall(byKind.contains)) opsPerS
      else Schedule.size / Schedule.map(k => Stats.median(byKind(k).toSeq)).sum * 1000.0
    val liveBytes = model.iterator.map { case (k, cells) =>
      cells.map { case (q, (v, _)) => k.length + Family.length + q.length + v.getBytes(UTF_8).length + 8 }.sum
    }.sum
    val tableBytes = ExportBulk.dirBytes(table)
    if (tr.enabled) gauges()
    Measured(mixRate, allMs.toSeq, Seq(
      "ops" -> n,
      "ops_per_s" -> opsPerS,
      "kv_get_p50_ms" -> (if (getMs.isEmpty) 0.0 else Stats.p50(getMs.toSeq)),
      "kv_get_tail_ms" -> (if (getMs.isEmpty) 0.0 else Stats.tail(getMs.toSeq)),
      "kv_write_p50_ms" -> (if (writeMs.isEmpty) 0.0 else Stats.p50(writeMs.toSeq)),
      "kv_write_tail_ms" -> (if (writeMs.isEmpty) 0.0 else Stats.tail(writeMs.toSeq)),
      "kv_scan_rows_per_s" -> (if (scanNs == 0) 0.0 else scanRows / (scanNs / 1e9)),
      "kv_bytes_per_user_byte" -> tableBytes.toDouble / math.max(1L, liveBytes)))
  }

  private def indexLag(): Long = {
    val t = new Path(table)
    PerfbenchTableLog.latestSeq(fs, t) - KvIndex.meta(fs, t, "by_email").map(_.asOfSeq).getOrElse(0L)
  }

  private def gauges(): Unit = {
    val t = new Path(table)
    val live = PerfbenchTableLog.liveFiles(fs, t)
    tr.gauge("log.live_files", live.size.toDouble)
    tr.gauge("table.live_bytes", live.map(f => fs.getFileStatus(new Path(t, f)).getLen).sum.toDouble)
    tr.gauge("delete.markers_live", spark.read.format("graft-kv").option("readTombstones", "true")
      .load(table).filter(col("qualifier").startsWith(KvDelete.MarkerPrefix)).count().toDouble)
  }
}
