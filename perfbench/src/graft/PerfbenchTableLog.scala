package graft

import org.apache.hadoop.fs.{FileSystem, Path}

/** Read-only view of a graft-kv table's manifest log for the benchmark's
  * gauges (live file count, latest commit seq). The log is package-private
  * to `graft`, so this lives in that package.
  */
object PerfbenchTableLog {
  def liveFiles(fs: FileSystem, table: Path): Seq[String] = sources.KvLog.liveFiles(fs, table)
  def latestSeq(fs: FileSystem, table: Path): Long = sources.KvLog.latestSeq(fs, table)
}
