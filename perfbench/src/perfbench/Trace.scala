package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call into a layer: wall interval, parent, the op it belongs
  * to, and everything the listeners attributed to it.
  */
final class Span(val id: Int, val parent: Int, val op: Int, val layer: String, val name: String) {
  var startNs = 0L
  var endNs = 0L
  var startMs = 0L
  var endMs = 0L
  // Hadoop FileSystem statistics, sampled at the span edges (inclusive of children)
  val fs0 = new Array[Long](4)
  val fs = new Array[Long](4)
  // Spark job/stage/task counters for jobs started while this span was innermost
  var jobs = 0L
  var tasks = 0L
  var taskFailures = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var inputRecords = 0L
  val stages = mutable.Map.empty[Int, StageAgg]
  // SQL-plan numbers from the QueryExecutionListener
  val planMs = ArrayBuffer.empty[Double]
  var candidateRegions = 0L
  var plannedRegions = 0L
  // values the workload reports for this call (rows returned, bytes, ...)
  val counters = mutable.Map.empty[String, Double]

  def durMs: Double = (endNs - startNs) / 1e6
  def cpuNs: Long = stages.values.map(_.cpuNs).sum
  def shuffleWriteBytes: Long = stages.values.map(_.shuffleWriteBytes).sum
  def shuffleRecords: Long = stages.values.map(_.shuffleRecords).sum
  def spillBytes: Long = stages.values.map(_.spillBytes).sum
  def fsRead: Long = fs(0)
  def fsWritten: Long = fs(1)
  def fsReadOps: Long = fs(2)
  def fsWriteOps: Long = fs(3)
}

/** Task totals of one stage. */
final class StageAgg {
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  val taskMs = ArrayBuffer.empty[Long]
}

/** One micro-batch's progress as the StreamingQueryListener saw it. */
final case class Batch(atMs: Long, durations: Map[String, Long], stateCommitMs: Long,
    stateRows: Long, stateBytes: Long)

/** Spans around every layer call the benchmark makes, plus the listeners
  * that attribute engine work to them. With `enabled = false` every
  * `span`/`op` is a plain call and no listener but the micro-batch log is
  * registered (the batch log feeds an end-to-end metric).
  *
  * Attribution: each span sets the local property `perfbench.span` while it
  * is innermost, so a job's stages and tasks map to the span that started
  * the job. SQL executions map through the job's execution id, else by the
  * time their analysis started; micro-batches map by their timestamp.
  * Everything runs in one JVM (local mode), so the listeners see it all.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var opSeq = 0
  private val stageSpan = mutable.Map.empty[Int, Span]
  private val execSpan = mutable.Map.empty[Long, Span]
  private val batchLog = ArrayBuffer.empty[Batch]
  val gauges = mutable.LinkedHashMap.empty[String, Double]
  /** Spans are recorded only while the timed loop runs, not during setup. */
  @volatile var active = false
  private def on: Boolean = enabled && active

  def batches: Seq[Batch] = synchronized(batchLog.toList)
  def batchCount: Int = synchronized(batchLog.size)
  def clearBatches(): Unit = synchronized(batchLog.clear())

  private def fsSample(into: Array[Long]): Unit = {
    java.util.Arrays.fill(into, 0L)
    FileSystem.getAllStatistics.asScala.foreach { s =>
      into(0) += s.getBytesRead; into(1) += s.getBytesWritten
      into(2) += s.getReadOps + s.getLargeReadOps; into(3) += s.getWriteOps
    }
  }

  /** A top-level operation of the closed loop; its spans share its op id. */
  def op[T](name: String)(f: => T): T =
    if (!on) f else { opSeq += 1; run("op", name, opSeq)(f) }

  /** A call into `layer`, nested under the current span. */
  def span[T](layer: String, name: String)(f: => T): T =
    if (!on) f else run(layer, name, stack.headOption.map(_.op).getOrElse(0))(f)

  /** Add `v` to counter `key` of the innermost open span of `layer`. */
  def count(layer: String, key: String, v: Double): Unit = if (on) synchronized {
    stack.find(_.layer == layer).foreach(s => s.counters(key) = s.counters.getOrElse(key, 0.0) + v)
  }

  def gauge(key: String, v: Double): Unit = if (enabled) gauges(key) = v

  private def run[T](layer: String, name: String, op: Int)(f: => T): T = {
    val s = synchronized {
      val s = new Span(spans.size + 1, stack.headOption.map(_.id).getOrElse(0), op, layer, name)
      spans += s
      stack = s :: stack
      s
    }
    fsSample(s.fs0)
    sc.setLocalProperty("perfbench.span", s.id.toString)
    s.startMs = System.currentTimeMillis()
    s.startNs = System.nanoTime()
    try f
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      fsSample(s.fs)
      (0 until 4).foreach(i => s.fs(i) -= s.fs0(i))
      synchronized { stack = stack.tail }
      sc.setLocalProperty("perfbench.span", stack.headOption.map(_.id.toString).orNull)
    }
  }

  private def spanById(id: String): Option[Span] =
    id.toIntOption.filter(i => i >= 1 && i <= spans.size).map(i => spans(i - 1))

  /** Innermost span whose wall interval holds `ms`. */
  private def spanAt(ms: Long): Option[Span] =
    spans.filter(s => s.startMs <= ms && ms <= s.endMs).maxByOption(_.startNs)

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty("perfbench.span"))).flatMap(spanById).foreach { s =>
        s.jobs += 1
        e.stageIds.foreach(stageSpan(_) = s)
        props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(_.toLongOption).foreach(execSpan(_) = s)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageId).foreach { s =>
        s.tasks += 1
        if (e.reason != Success) s.taskFailures += 1
        val st = s.stages.getOrElseUpdate(e.stageId, new StageAgg)
        st.taskMs += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          s.gcMs += m.jvmGCTime
          st.cpuNs += m.executorCpuTime
          st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          st.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
          st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          s.inputRecords += m.inputMetrics.recordsRead
          s.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
        }
      }
    }
  }

  private object Plans extends QueryExecutionListener {
    private def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case q: QueryStageExec => leaves(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(leaves)
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        val phases = qe.tracker.phases
        val target = execSpan.get(qe.id).orElse(
          phases.values.map(_.startTimeMs).minOption.flatMap(spanAt))
        target.foreach { s =>
          s.planMs += phases.values.map(_.durationMs).sum.toDouble
          val nodes = try leaves(qe.executedPlan) catch { case _: Exception => Nil }
          nodes.foreach { n =>
            n.metrics.get("candidateRegions").foreach(m => s.candidateRegions += m.value)
            n.metrics.get("plannedRegions").foreach(m => s.plannedRegions += m.value)
          }
        }
      }

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private object Progress extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p: StreamingQueryProgress = e.progress
      val at = java.time.Instant.parse(p.timestamp).toEpochMilli
      val ops = p.stateOperators.toSeq
      val b = Batch(at, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum,
        ops.map(_.memoryUsedBytes).sum)
      Tracer.this.synchronized(batchLog += b)
    }
  }

  spark.streams.addListener(Progress)
  if (enabled) {
    sc.addSparkListener(Jobs)
    spark.listenerManager.register(Plans)
  }

  /** Deliver every pending listener event before results are read. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  /** Spans whose op contains a span of `layer`. */
  def opsWith(layer: String): Set[Int] = spans.filter(_.layer == layer).map(_.op).toSet

  /** The span tree as JSON lines (one object per span), with self time:
    * the span's duration minus what its direct children cover.
    */
  def spanJson: Seq[String] = {
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durMs).sum }
    spans.toSeq.map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer,
        "name" -> s.name, "start_ms" -> s.startMs, "dur_ms" -> s.durMs,
        "self_ms" -> math.max(0.0, s.durMs - childMs.getOrElse(s.id, 0.0)),
        "fs_bytes_read" -> s.fsRead, "fs_bytes_written" -> s.fsWritten,
        "fs_read_ops" -> s.fsReadOps, "fs_write_ops" -> s.fsWriteOps,
        "jobs" -> s.jobs, "tasks" -> s.tasks, "task_failures" -> s.taskFailures,
        "cpu_s" -> s.cpuNs / 1e9, "gc_ms" -> s.gcMs, "sched_delay_ms" -> s.schedDelayMs,
        "shuffle_write_bytes" -> s.shuffleWriteBytes, "shuffle_records" -> s.shuffleRecords,
        "spill_bytes" -> s.spillBytes, "input_records" -> s.inputRecords,
        "plan_ms" -> s.planMs.toList, "candidate_regions" -> s.candidateRegions,
        "planned_regions" -> s.plannedRegions, "counters" -> s.counters.toMap))
    }
  }
}
