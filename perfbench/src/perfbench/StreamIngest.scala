package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files => JFiles, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.streaming.StreamingPivot
import graft.streaming.StreamingPivot.CellEvent

/** Seeded backlog for `stream_ingest`. `Cells` cells over `Keys` row keys
  * and four qualifiers, in `Files` files replayed one per micro-batch.
  * Cells carry unique timestamps in generation order; `LateShare` of them
  * arrive one or two files after their natural file (out of order). Leg 2
  * stages `Commits` small graft-kv commits of `CommitCells` cells each.
  */
object StreamGen {
  val Files = 3
  val Cells = 6000
  val Keys = 1000
  val LateShare = 0.2
  val Commits = 3
  val CommitCells = 1500

  def backlog(seed: Long): IndexedSeq[IndexedSeq[CellEvent]] = {
    val rng = new scala.util.Random(seed)
    val placed = (0 until Cells).map { n =>
      val e = CellEvent(f"s${rng.nextInt(Keys)}%06d", s"q${rng.nextInt(4)}",
        s"v${rng.nextInt(1 << 24)}", 1000L + n)
      val natural = n * Files / Cells
      val file = if (rng.nextDouble() < LateShare) math.min(Files - 1, natural + 1 + rng.nextInt(2)) else natural
      file -> e
    }
    (0 until Files).map(f => placed.collect { case (`f`, e) => e })
  }

  def commits(seed: Long): IndexedSeq[IndexedSeq[(String, String, String, String, Long)]] = {
    val rng = new scala.util.Random(seed ^ 0x7a11L)
    (0 until Commits).map { c =>
      (0 until CommitCells).map { i =>
        (f"t${rng.nextInt(Keys)}%06d", "f", s"q${rng.nextInt(4)}", s"w${rng.nextInt(1 << 24)}",
          c.toLong * CommitCells + i)
      }
    }
  }

  def json(e: CellEvent): String =
    s"""{"rowKey":"${e.rowKey}","qualifier":"${e.qualifier}","value":"${e.value}","cellTs":${e.cellTs}}"""
}

/** `stream_ingest`: leg 1 replays the backlog one file per micro-batch
  * through the `StreamingPivot.LatestCells` memstore via `runAvailableNow`;
  * its final snapshot must equal the last-write-wins reference. Leg 2 tails
  * a graft-kv table one commit per micro-batch into a graft-kv streaming
  * sink; the landed cells must equal the source cells.
  */
final class StreamIngest(ctx: Ctx) extends Workload(ctx) {
  import StreamGen._
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private var dir = ""
  private var expected1: Map[String, (Map[String, String], Long)] = Map.empty
  /** Leg 2's source cells, sorted: the landed cells must equal them as a
    * multiset, so a cell that lands twice (a replayed epoch) fails the check.
    */
  private var expected2: Seq[(String, String, String, String, Long)] = Seq.empty
  private var inputRows = 0L

  def prepare(dir: String): Unit = {
    this.dir = dir
    val files = backlog(ctx.seed)
    val in = Paths.get(s"$dir/backlog")
    JFiles.createDirectories(in)
    files.zipWithIndex.foreach { case (cells, i) =>
      val p = in.resolve(f"part-$i%04d.json")
      JFiles.write(p, cells.map(json).mkString("", "\n", "\n").getBytes(UTF_8))
      p.toFile.setLastModified(1000000000000L + i * 1000L)
    }
    val all = files.flatten
    expected1 = all.groupBy(_.rowKey).map { case (k, es) =>
      val latest = es.groupBy(_.qualifier).map { case (q, vs) => q -> vs.maxBy(_.cellTs).value }
      k -> (latest, es.map(_.cellTs).max)
    }
    val staged = commits(ctx.seed)
    staged.foreach { rows =>
      spark.createDataFrame(rows.map { case (k, f, q, v, ts) => (k, f, q, v.getBytes(UTF_8), ts) })
        .toDF("rowKey", "family", "qualifier", "value", "ts")
        .write.format("graft-kv").option("regions", 1).mode("append").save(s"$dir/source")
    }
    expected2 = staged.flatten.sorted
    if (ctx.selfcheck) {
      val (k, (cells, ts)) = expected1.head
      expected1 = expected1.updated(k, (cells + ("q0" -> "planted-wrong-value"), ts))
    }
    inputRows = all.size.toLong + staged.map(_.size).sum
  }

  /** Runs a streaming leg and then its output check. Returns the check's
    * verdict, the leg's wall time from start() to termination, and the
    * triggerExecution times of the micro-batches it ran.
    */
  private def leg[T](run: => T)(check: T => Boolean): (Boolean, Long, Seq[Double]) = {
    val from = tr.batchCount
    val t0 = System.nanoTime()
    val out = run
    val ns = System.nanoTime() - t0
    tr.drain()
    val batches = tr.batches.drop(from).map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
    (check(out), ns, batches)
  }

  def measure(seconds: Int): Measured = {
    import spark.implicits._
    val batchMs, memstoreMs, kvPipeMs = ArrayBuffer.empty[Double]
    var streamNs, rows = 0L
    var round = 0
    val timedRounds = rounds(seconds, warmups = 1) { timed =>
      round += 1
      var ns1, ns2 = 0L
      var b1, b2 = Seq.empty[Double]
      val ok1 = ctx.op("memstore") {
        val (ok, ns, b) = leg {
          tr.span("streaming", "runAvailableNow") {
            val cells = spark.readStream.schema("rowKey STRING, qualifier STRING, value STRING, cellTs LONG")
              .option("maxFilesPerTrigger", 1).json(s"$dir/backlog").as[CellEvent]
            StreamingPivot.runAvailableNow(StreamingPivot.LatestCells(cells).toDF(), s"memstore_$round",
              OutputMode.Update(),
              shufflePartitions = Some(StreamingPivot.statePartitionsForInput(spark, s"$dir/backlog")))
          }
        } { snap =>
          val got = snap.groupBy(col("rowKey"))
            .agg(max_by(struct(col("qualifiers"), col("lastTs")), col("version")).as("s"))
            .select(col("rowKey"), col("s.qualifiers"), col("s.lastTs")).collect()
            .map(r => r.getString(0) -> (r.getMap[String, String](1).toMap, r.getLong(2))).toMap
          spark.catalog.dropTempView(s"memstore_$round")
          ctx.check("stream_ingest memstore snapshot", got == expected1,
            s"${got.size} keys, ${got.count { case (k, v) => !expected1.get(k).contains(v) }} differ")
        }
        ns1 = ns; b1 = b
        ok
      }
      ok1.filter(_ => timed).foreach { _ =>
        streamNs += ns1; batchMs ++= b1; memstoreMs ++= b1; rows += inputRows - expected2.size
      }
      val ok2 = ctx.op("kv_pipe") {
        val dst = s"$dir/landed-$round"
        val (ok, ns, b) = leg {
          tr.span("streaming", "graft-kv tail") {
            val q = spark.readStream.format("graft-kv").option("maxFilesPerBatch", 1).load(s"$dir/source")
              .writeStream.format("graft-kv").option("regions", 2)
              .option("checkpointLocation", s"$dst-cp")
              .trigger(Trigger.AvailableNow()).start(dst)
            q.awaitTermination()
          }
        } { _ =>
          val landed = spark.read.format("graft-kv").load(dst).collect()
            .map(r => (r.getString(0), r.getString(1), r.getString(2),
              new String(r.getAs[Array[Byte]](3), UTF_8), r.getLong(4))).toSeq.sorted
          ctx.check("stream_ingest landed cells", landed == expected2,
            s"landed ${landed.size} cells, want ${expected2.size}")
        }
        ns2 = ns; b2 = b
        Main.rmTree(new java.io.File(dst))
        Main.rmTree(new java.io.File(s"$dst-cp"))
        ok
      }
      ok2.filter(_ => timed).foreach { _ =>
        streamNs += ns2; batchMs ++= b2; kvPipeMs ++= b2; rows += expected2.size
      }
      // the per-layer streaming metrics read the batch log: keep only timed batches
      if (!timed) tr.clearBatches()
    }
    val rate = if (streamNs == 0) 0.0 else rows / (streamNs / 1e9)
    val batchS = batchMs.map(_ / 1000.0).toSeq
    def p50(ms: Seq[Double]) = if (ms.isEmpty) 0.0 else Stats.median(ms)
    // The legs' batch times are two populations some hundred ms apart, so a
    // pooled median falls in the gap between them and swings with the
    // slowest kv_pipe or the fastest memstore batch. The typical batch is
    // the mean of the two legs' medians instead.
    val legP50 = if (memstoreMs.isEmpty || kvPipeMs.isEmpty) None
      else Some((p50(memstoreMs.toSeq) + p50(kvPipeMs.toSeq)) / 2)
    Measured(rate, batchMs.toSeq, Seq(
      "rounds" -> timedRounds,
      "stream_rows_per_s" -> rate,
      "stream_batch_p50_s" -> (if (batchS.isEmpty) 0.0 else Stats.p50(batchS)),
      "stream_batch_tail_s" -> (if (batchS.isEmpty) 0.0 else Stats.tail(batchS)),
      "memstore_batch_p50_ms" -> p50(memstoreMs.toSeq),
      "kv_pipe_batch_p50_ms" -> p50(kvPipeMs.toSeq),
      "memstore_batch_ms" -> memstoreMs.toList, "kv_pipe_batch_ms" -> kvPipeMs.toList), opP50Ms = legP50)
  }
}
