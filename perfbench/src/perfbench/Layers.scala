package perfbench

/** Per-layer metrics of a traced run, computed from the spans, the
  * listener counters attributed to them, and the workload's gauges. Every
  * metric is reported on every workload; a layer the workload never calls
  * reads 0. The layer → metric → end-to-end map is in perfbench/README.md.
  *
  * Times are medians per call (self time: the span minus its child spans);
  * bytes and counts are per call of the layer unless the name says
  * otherwise. Lazy layer calls (a scan or pivot that returns a DataFrame)
  * do their engine work in the call that consumes them, so their
  * engine counters come from the op they belong to.
  */
object Layers {
  val Formats = Seq("txt", "seq", "avro", "parquet")
  val StreamPhases = Seq("latestOffset", "queryPlanning", "getBatch", "addBatch",
    "walCommit", "commitOffsets")

  def compute(t: Tracer, m: Measured): Seq[(String, (Double, String))] = {
    val spans = t.spans.toSeq
    val children = spans.groupBy(_.parent)
    def self(s: Span): Double =
      math.max(0.0, s.durMs - children.getOrElse(s.id, Nil).map(_.durMs).sum)
    def of(layer: String, name: String => Boolean = _ => true) =
      spans.filter(s => s.layer == layer && name(s.name))
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def per(total: Double, n: Int): Double = if (n == 0) 0.0 else total / n
    def ratio(a: Double, b: Double): Double = if (b <= 0) 0.0 else a / b
    def counter(ss: Seq[Span], k: String): Double = ss.map(_.counters.getOrElse(k, 0.0)).sum
    def gauge(k: String): Double = t.gauges.getOrElse(k, 0.0)
    def below(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(below)

    val sink = of("sink")
    val scan = of("scan")
    val scanTree = scan.flatMap(below).distinct
    val delete = of("delete")
    val maint = of("maint")
    val lookups = of("index", _ == "lookup")
    val refreshes = of("index", _ == "refresh")
    val ext = of("ext")
    val ops = of("op")
    val chains = ext.count(_.name == "quality")

    // the pivot's exchange: shuffle-writing stages of ops that called the pivot
    val pivotOps = t.opsWith("pivot")
    val pivotStages = spans.filter(s => pivotOps(s.op)).flatMap(_.stages.values)
      .filter(_.shuffleWriteBytes > 0)
    val skew = pivotStages.filter(_.taskMs.size >= 2).map { st =>
      ratio(st.taskMs.max.toDouble, Stats.median(st.taskMs.map(_.toDouble).toSeq))
    }

    val batches = t.batches
    def phase(k: String) = med(batches.map(_.durations.getOrElse(k, 0L).toDouble))

    val plan = spans.flatMap(_.planMs)
    val tasks = spans.map(_.tasks).sum

    Seq(
      "sink.commit_ms" -> (med(sink.map(self)), "ms"),
      "sink.commits" -> (sink.size.toDouble, "count"),
      "sink.bytes_written" -> (per(sink.map(_.fsWritten).sum.toDouble, sink.size), "bytes"),
      "sink.write_amp" -> (ratio(sink.map(_.fsWritten).sum.toDouble, counter(sink, "user_bytes")), "ratio"),
      "log.live_files" -> (gauge("log.live_files"), "count"),
      "scan.ms" -> (med(scan.map(self)), "ms"),
      "scan.regions_candidate" -> (per(scanTree.map(_.candidateRegions).sum.toDouble, scan.size), "count"),
      "scan.regions_planned" -> (per(scanTree.map(_.plannedRegions).sum.toDouble, scan.size), "count"),
      "scan.bytes_read" -> (per(scan.map(_.fsRead).sum.toDouble, scan.size), "bytes"),
      "scan.read_ops" -> (per(scan.map(_.fsReadOps).sum.toDouble, scan.size), "count"),
      "scan.rows_read_per_row_returned" ->
        (ratio(scanTree.map(_.inputRecords).sum.toDouble, counter(scan, "rows_returned")), "ratio"),
      "delete.commit_ms" -> (med(delete.map(self)), "ms"),
      "delete.markers_live" -> (gauge("delete.markers_live"), "count"),
      "maint.runs" -> (maint.size.toDouble, "count"),
      "maint.busy_s" -> (maint.map(_.durMs).sum / 1000.0, "s"),
      "maint.bytes_rewritten" -> (maint.map(_.fsWritten).sum.toDouble, "bytes"),
      "maint.rewrite_amp" -> (ratio(maint.map(_.fsWritten).sum.toDouble, gauge("table.live_bytes")), "ratio"),
      "maint.segments_merged" -> (counter(maint, "segments_merged"), "count"),
      "maint.files_vacuumed" -> (counter(maint, "files_vacuumed"), "count"),
      "index.lookup_ms" -> (med(lookups.map(self)), "ms"),
      "index.refresh_ms" -> (med(refreshes.map(self)), "ms"),
      "index.lag_commits" -> (per(counter(lookups, "lag_commits"), lookups.size), "count"),
      "index.bytes_read_per_lookup" -> (per(lookups.map(_.fsRead).sum.toDouble, lookups.size), "bytes"),
      "pivot.shuffle_write_bytes" -> (pivotStages.map(_.shuffleWriteBytes).sum.toDouble, "bytes"),
      "pivot.shuffle_records" -> (pivotStages.map(_.shuffleRecords).sum.toDouble, "count"),
      "pivot.spill_bytes" -> (pivotStages.map(_.spillBytes).sum.toDouble, "bytes"),
      "pivot.cpu_s" -> (pivotStages.map(_.cpuNs).sum / 1e9, "s"),
      "pivot.task_skew" -> (med(skew), "ratio")
    ) ++ Formats.flatMap { f =>
      Seq(
        s"sinks.$f.write_s" -> (med(of("sinks", _ == s"write.$f").map(self)) / 1000.0, "s"),
        s"sinks.$f.bytes_out" -> (gauge(s"sinks.$f.bytes_out"), "bytes"),
        s"sinks.$f.read_s" -> (med(of("sinks", _ == s"read.$f").map(self)) / 1000.0, "s"))
    } ++ StreamPhases.map(p => s"stream.${p}_ms" -> (phase(p), "ms")) ++ Seq(
      "stream.state_commit_ms" -> (med(batches.map(_.stateCommitMs.toDouble)), "ms"),
      "stream.state_rows" -> (batches.map(_.stateRows).maxOption.getOrElse(0L).toDouble, "count"),
      "stream.state_bytes" -> (batches.map(_.stateBytes).maxOption.getOrElse(0L).toDouble, "bytes"),
      "stream.batches" -> (batches.size.toDouble, "count"),
      "ext.quality_s" -> (med(of("ext", _ == "quality").map(self)) / 1000.0, "s"),
      "ext.exact_s" -> (med(of("ext", _ == "exact").map(self)) / 1000.0, "s"),
      "ext.minhash_pairs_s" -> (med(of("ext", _ == "minhash_pairs").map(self)) / 1000.0, "s"),
      "ext.verify_s" -> (med(of("ext", _ == "verify").map(self)) / 1000.0, "s"),
      "ext.clusters_s" -> (med(of("ext", _ == "clusters").map(self)) / 1000.0, "s"),
      "ext.bpe_s" -> (med(of("ext", _ == "bpe").map(self)) / 1000.0, "s"),
      "ext.pack_s" -> (med(of("ext", _ == "pack").map(self)) / 1000.0, "s"),
      "ext.shuffle_bytes" -> (per(ext.map(_.shuffleWriteBytes).sum.toDouble, chains), "bytes"),
      "ext.pairs_out" -> (per(counter(ext, "pairs_out"), chains), "count"),
      "ext.pairs_verified" -> (per(counter(ext, "pairs_verified"), chains), "count"),
      "engine.plan_ms" -> (med(plan), "ms"),
      "engine.sched_delay_ms" -> (per(spans.map(_.schedDelayMs).sum.toDouble, tasks.toInt), "ms"),
      "engine.jobs" -> (per(spans.map(_.jobs).sum.toDouble, ops.size), "count"),
      "engine.tasks" -> (per(tasks.toDouble, ops.size), "count"),
      "engine.gc_s" -> (spans.map(_.gcMs).sum / 1000.0, "s"),
      "engine.task_failures" -> (spans.map(_.taskFailures).sum.toDouble, "count"))
  }
}
