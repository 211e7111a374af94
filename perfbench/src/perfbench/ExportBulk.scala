package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Export
import graft.schema.SchemaFile
import graft.sinks.{AvroIO, Sinks}

/** Seeded cell table for `export_bulk`: every row has a full first version
  * of C0..C9 in family `c`; `UpdateShare` of rows get a second, later
  * version of about half their qualifiers (last-write-wins has work); and
  * `OtherFamilyShare` of rows carry cells in family `x`, including a later
  * C1, that the family filter must drop.
  */
object ExportGen {
  val Rows = 5000L
  val UpdateShare = 0.3
  val OtherFamilyShare = 0.5

  private def h(seed: Long, cs: Column*): Column = xxhash64(lit(seed) +: cs: _*)

  def cells(spark: SparkSession, seed: Long, partitions: Int): DataFrame = {
    val rows = spark.range(0L, Rows, 1L, partitions)
      .select(col("id"), lower(hex(h(seed, col("id")))).as("rowKey"))
    val first = rows.select(col("rowKey"), col("id"), explode(sequence(lit(0), lit(9))).as("q"))
      .select(col("rowKey"), lit("c").as("family"), concat(lit("C"), col("q")).as("qualifier"),
        concat(lit("a"), hex(h(seed, col("id"), col("q")))).as("v"),
        (col("id") * 16 + col("q")).as("ts"))
    val second = rows
      .filter(pmod(h(seed, col("id"), lit("u")), lit(1000L)) < lit((UpdateShare * 1000).toLong))
      .select(col("rowKey"), col("id"), explode(sequence(lit(0), lit(9))).as("q"))
      .filter(pmod(h(seed, col("id"), col("q"), lit(2)), lit(2L)) === 0)
      .select(col("rowKey"), lit("c").as("family"), concat(lit("C"), col("q")).as("qualifier"),
        concat(lit("b"), hex(h(seed, col("id"), col("q"), lit(2)))).as("v"),
        (lit(Rows * 16) + col("id") * 16 + col("q")).as("ts"))
    val other = rows
      .filter(pmod(h(seed, col("id"), lit("x")), lit(1000L)) < lit((OtherFamilyShare * 1000).toLong))
      .select(col("rowKey"), col("id"), explode(array(lit("C1"), lit("X"))).as("qualifier"))
      .select(col("rowKey"), lit("x").as("family"), col("qualifier"),
        concat(lit("x"), hex(h(seed, col("id"), col("qualifier")))).as("v"),
        (lit(Rows * 64) + col("id")).as("ts"))
    first.unionByName(second).unionByName(other)
      .select(col("rowKey"), col("family"), col("qualifier"),
        encode(col("v"), "UTF-8").as("value"), col("ts"))
  }
}

/** `export_bulk`: the paper's job. Each round bulk-loads the seeded cells
  * into a fresh graft-kv table, then exports it to delimited text,
  * SequenceFile, Avro and Parquet with the reference's test.schema
  * projection, and reads every export back. Each read-back must match a
  * plain-Spark last-write-wins reference by row count and an
  * order-insensitive hash.
  */
final class ExportBulk(ctx: Ctx) extends Workload(ctx) {
  import ExportBulk._
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private var cells: DataFrame = _
  private var nCells = 0L
  private var cellBytes = 0L
  private var expected: Map[String, (Long, Long)] = Map.empty
  private var dir = ""

  def prepare(dir: String): Unit = {
    if (cells != null) cells.unpersist(true)
    cells = ExportGen.cells(spark, ctx.seed, ctx.nproc).cache()
    val r = cells.agg(count(lit(1)), sum(length(col("rowKey")) + length(col("family")) +
      length(col("qualifier")) + length(col("value")) + 8)).collect()(0)
    nCells = r.getLong(0)
    cellBytes = r.getLong(1)
    expected = reference(cells)
    if (ctx.selfcheck) expected = expected.map { case (f, (n, hsum)) => f -> (n, hsum + 1) }
    this.dir = dir
  }

  /** Plain-Spark last-write-wins over family c, pivoted without KvPivot. */
  private def reference(cells: DataFrame): Map[String, (Long, Long)] = {
    val latest = cells.filter(col("family") === "c")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("rowKey"), col("qualifier")).orderBy(col("ts").desc)))
      .filter(col("rn") === 1)
      .groupBy(col("rowKey")).pivot(col("qualifier"), (0 to 9).map(i => s"C$i"))
      .agg(first(decode(col("value"), "UTF-8")))
    val txt = digest(latest.select(concat_ws("|", SchemaCols.map(c => coalesce(col(c), lit(""))) :+
      col("rowKey"): _*).as("line")))
    val rec = digest(latest.select(recordLine.as("line")))
    Map("txt" -> txt, "seq" -> txt, "avro" -> rec, "parquet" -> rec)
  }

  def measure(seconds: Int): Measured = {
    val opMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var populateNs, exportNs, readNs = 0L
    var populated, exported, readBack = 0L
    var round = 0
    // The first round warms the sinks' code paths and is not timed.
    val timedRounds = rounds(seconds, warmups = 1) { timed =>
      round += 1
      val table = s"$dir/table-$round"
      var ns = 0L
      ctx.op("populate") {
        val t0 = System.nanoTime()
        tr.span("sink", "write.graft-kv") {
          tr.count("sink", "user_bytes", cellBytes.toDouble)
          cells.write.format("graft-kv").option("regions", ctx.nproc * 2)
            .mode("overwrite").save(table)
        }
        ns = System.nanoTime() - t0
        true
      }.filter(_ => timed).foreach { ms => opMs += ms; populateNs += ns; populated += nCells }
      if (tr.enabled) tr.gauge("log.live_files", liveFiles(table).toDouble)
      Seq("txt", "seq", "avro", "parquet").foreach { fmt =>
        val out = s"$dir/out-$round/$fmt"
        var (wNs, rNs, rows) = (0L, 0L, 0L)
        ctx.op(s"export.$fmt") {
          val cfg = config(fmt, out)
          val t0 = System.nanoTime()
          tr.span("scan", "read.graft-kv") {
            val src = spark.read.format("graft-kv").load(table)
            val planned = tr.span("pivot", "Export.plan")(Export.plan(src, cfg))
            tr.span("sinks", s"write.$fmt")(Export.write(planned, cfg))
          }
          val t1 = System.nanoTime()
          val got = tr.span("sinks", s"read.$fmt")(digest(lines(fmt, out)))
          val t2 = System.nanoTime()
          wNs = t1 - t0; rNs = t2 - t1; rows = got._1
          if (tr.enabled) tr.gauge(s"sinks.$fmt.bytes_out", dirBytes(out).toDouble)
          ctx.check(s"export_bulk $fmt read-back", got == expected(fmt),
            s"got $got expected ${expected(fmt)}")
        }.filter(_ => timed).foreach { ms =>
          opMs += ms; exportNs += wNs; readNs += rNs; exported += rows; readBack += rows
        }
      }
      Main.rmTree(new java.io.File(s"$dir/out-$round"))
      Main.rmTree(new java.io.File(table))
    }
    def rate(n: Long, ns: Long) = if (ns == 0) 0.0 else n / (ns / 1e9)
    val exportRate = rate(exported, exportNs)
    Measured(exportRate, opMs.toSeq, Seq(
      "rounds" -> timedRounds, "cells" -> nCells,
      "populate_cells_per_s" -> rate(populated, populateNs),
      "export_rows_per_s" -> exportRate,
      "readback_rows_per_s" -> rate(readBack, readNs)))
  }

  private def config(fmt: String, out: String): Export.Config = fmt match {
    case "txt" => Export.Config(Export.DelimitedTxt, CsvSchema, out, Some("c"), "|", Some("KEY"))
    case "seq" => Export.Config(Export.DelimitedSeq, CsvSchema, out, Some("c"), "|", Some("KEY"))
    case "avro" => Export.Config(Export.Avro, TestSchema, out, Some("c"), compression = Some("snappy"))
    case "parquet" => Export.Config(Export.Parquet, TestSchema, out, Some("c"), compression = Some("snappy"))
  }

  private def lines(fmt: String, out: String): DataFrame = fmt match {
    case "txt" => spark.read.text(out).select(col("value").as("line"))
    case "seq" => Sinks.readSequenceFile(spark, out)
    case "avro" => AvroIO.read(spark, out, SchemaFile.parseAvroJson(TestSchema)).select(recordLine.as("line"))
    case "parquet" => Export.readParquet(spark, out).select(recordLine.as("line"))
  }

  private def liveFiles(table: String): Int = {
    val p = new org.apache.hadoop.fs.Path(table)
    graft.PerfbenchTableLog.liveFiles(p.getFileSystem(spark.sessionState.newHadoopConf()), p).size
  }
}

object ExportBulk {
  /** The reference's schema/test.schema: 7 of the 10 generated qualifiers. */
  val TestSchema: String =
    """{"namespace": "example.avro", "type": "record", "name": "Test",
      | "fields": [
      |   {"name": "C1", "type": "string"}, {"name": "C3", "type": "string"},
      |   {"name": "C4", "type": "string"}, {"name": "C5", "type": "string"},
      |   {"name": "C6", "type": "string"}, {"name": "C7", "type": "string"},
      |   {"name": "C8", "type": "string"}]}""".stripMargin
  val SchemaCols: Seq[String] = Seq("C1", "C3", "C4", "C5", "C6", "C7", "C8")
  /** The same projection in the delimited dialect, with the row key last. */
  val CsvSchema: String = (SchemaCols :+ "KEY").mkString(",")

  def recordLine: Column = concat_ws("|", SchemaCols.map(c => coalesce(col(c), lit(""))): _*)

  /** (rows, order-insensitive hash) of a one-column `line` frame. */
  def digest(lines: DataFrame): (Long, Long) = {
    val r = lines.agg(count(lit(1)), sum(xxhash64(col("line")).cast("decimal(38,0)")))
      .collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getDecimal(1).longValue)
  }

  def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum else f.length
    walk(new java.io.File(path))
  }
}
