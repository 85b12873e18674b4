package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util.zip.ZipInputStream

/** The NEM multi-table CSV wire format: record-type markers in column 0.
  *
  * Semantics reproduced from the reference (cited file:line are into
  * /root/reference):
  *  - `C,` first line = file header, skipped (src/process/split.rs:107-125);
  *    a later `C,` line is the footer → stop reading (split.rs:88-91).
  *  - `I,group,table,version,cols...` starts a new logical table batch;
  *    table name = cols 1-3 joined "---" (src/process/chunk.rs:77-82).
  *  - `D,...` rows belong to the current batch; rows before any `I` are
  *    dropped (src/process/csv_batch_processor.rs:42-75).
  *  - The first 4 columns are dropped from the output schema
  *    (chunk.rs:336-345).
  *  - Values are whitespace-trimmed and outer quotes stripped
  *    (chunk.rs:21-28,144-174).
  *  - Per-column type = from the first non-null value: f64-parseable →
  *    double; `yyyy/MM/dd HH:mm:ss` → timestamp at fixed +10:00 (no DST);
  *    else string (chunk.rs:31-37,94-124,425-444).
  *  - Partition date scanned from the *filename*: `YYYYMMDD` or
  *    `YYYY[-_]MM[-_]DD`, year 2000-2030, else `unknown-date`
  *    (chunk.rs:258-308,348-351).
  *
  * Scale design: one task per input file (files are independently
  * splittable units; state is per-file and strictly sequential within a
  * file). The splitter emits a narrow `(table, date, header, values)`
  * stream; per-table frames are then column-ized and written
  * `partitionBy(date)` — all downstream work is plain declarative Spark.
  */
object NemCsv {

  val MarkerComment = "C"
  val MarkerHeader = "I"
  val MarkerData = "D"

  /** One data record: logical table, its I-line columns (already cleaned,
    * first 4 dropped) and the D-line values (first 4 dropped). `seq` is
    * the record's position within its TABLE in this file — type inference
    * samples the first non-null value in (file, seq) order per table, and
    * the [[SampleRows]] cap applies per table (a table whose records start
    * late in a multi-table file still gets a full sample window). */
  final case class RawRecord(
      file: String, seq: Long, date: String, table: String,
      header: Seq[String], values: Seq[String])

  /** Trim whitespace then strip one pair of outer double quotes. */
  def cleanStr(s: String): String = {
    val t = s.trim
    if (t.length >= 2 && t.startsWith("\"") && t.endsWith("\"")) t.substring(1, t.length - 1)
    else t
  }

  /** Minimal RFC-4180-ish CSV split (double quotes, embedded commas). */
  def splitCsvLine(line: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var inQ = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQ) {
        if (c == '"') {
          if (i + 1 < line.length && line.charAt(i + 1) == '"') { sb.append('"'); i += 1 }
          else inQ = false
        } else sb.append(c)
      } else c match {
        case '"' => inQ = true
        case ',' => out += sb.result(); sb.clear()
        case _ => sb.append(c)
      }
      i += 1
    }
    out += sb.result()
    out.toArray
  }

  // no boundary anchors: AEMO names embed the date in longer digit runs
  // (`..._202506072315_...`); the reference scans every position and takes
  // the first valid year-2000-2030 hit (chunk.rs:258-308)
  private val DateCompact = "((?:20[0-3][0-9])(0[1-9]|1[0-2])(0[1-9]|[12][0-9]|3[01]))".r
  private val DateSep = "((?:20[0-3][0-9])[-_](0[1-9]|1[0-2])[-_](0[1-9]|[12][0-9]|3[01]))".r

  /** Filename → `YYYY-MM-DD` partition value, or `unknown-date`. */
  def dateFromFilename(name: String): String = {
    DateCompact.findFirstMatchIn(name) match {
      case Some(m) =>
        val s = m.group(1)
        s"${s.substring(0, 4)}-${s.substring(4, 6)}-${s.substring(6, 8)}"
      case None =>
        DateSep.findFirstMatchIn(name) match {
          case Some(m) => m.group(1).replace('_', '-')
          case None => "unknown-date"
        }
    }
  }

  /** Sequential scan of one file's lines → data records. Pure; the Spark
    * wrapper calls this once per file inside a task. */
  def scanLines(file: String, lines: Iterator[String]): Iterator[RawRecord] = {
    val date = dateFromFilename(file.split('/').last)
    var curTable: String = null
    var curHeader: Seq[String] = null
    var sawFirstLine = false
    var stopped = false
    val seqByTable = scala.collection.mutable.HashMap.empty[String, Long]
    lines.flatMap { line =>
      if (stopped || line.isEmpty) Iterator.empty
      else {
        val isFirst = !sawFirstLine
        sawFirstLine = true
        val marker = {
          val c = line.indexOf(',')
          if (c < 0) line else line.substring(0, c)
        }
        marker match {
          case MarkerComment =>
            if (!isFirst) stopped = true // footer → stop (split.rs:88-91)
            Iterator.empty
          case MarkerHeader =>
            val cols = splitCsvLine(line).map(cleanStr)
            if (cols.length >= 4) {
              curTable = s"${cols(1)}---${cols(2)}---${cols(3)}"
              curHeader = cols.drop(4).toSeq
            } else { curTable = null; curHeader = null }
            Iterator.empty
          case MarkerData if curTable != null =>
            val raw = splitCsvLine(line).map(cleanStr).drop(4).toSeq
            // ragged rows: pad to the header width with empty (→ null),
            // drop extras — Spark 4's ANSI mode would otherwise fail the
            // whole job on one short row (element_at out of bounds)
            val vals =
              if (raw.size == curHeader.size) raw
              else raw.take(curHeader.size).padTo(curHeader.size, "")
            val seq = seqByTable.getOrElse(curTable, 0L) + 1
            seqByTable(curTable) = seq
            Iterator.single(RawRecord(file, seq, date, curTable, curHeader, vals))
          case _ => Iterator.empty // D before any I, or junk: dropped
        }
      }
    }
  }

  /** Read NEM csv/zip files into the raw record stream, one task per file.
    * Zip entries ending `.csv`/`.CSV` are scanned in-stream (never fully
    * materialized). */
  def rawRecords(spark: SparkSession, paths: Seq[String]): DataFrame = {
    import spark.implicits._
    val files = spark.sparkContext.binaryFiles(paths.mkString(","), paths.size.min(256))
    files.flatMap { case (name, data) =>
      if (name.toLowerCase.endsWith(".zip"))
        zipRecords(name, new ZipInputStream(data.open()))
      else {
        val br = new BufferedReader(new InputStreamReader(data.open(), StandardCharsets.UTF_8))
        scanLines(name, Iterator.continually(br.readLine()).takeWhile(_ != null))
      }
    }.toDF()
  }

  /** Fully streaming scan over a zip's csv entries: ZipInputStream is
    * positional, so entries are consumed strictly in order, one lazy line
    * iterator at a time — a multi-GB entry never materializes in memory
    * (the reference streams too: split.rs:30-62). */
  private[sources] def zipRecords(name: String, zin: ZipInputStream): Iterator[RawRecord] =
    new Iterator[RawRecord] {
      private var cur: Iterator[RawRecord] = Iterator.empty
      private def advance(): Unit = {
        while (!cur.hasNext) {
          val entry = zin.getNextEntry
          if (entry == null) return
          if (!entry.isDirectory && entry.getName.toLowerCase.endsWith(".csv")) {
            val br = new BufferedReader(new InputStreamReader(zin, StandardCharsets.UTF_8))
            cur = scanLines(name + "!" + entry.getName,
              Iterator.continually(br.readLine()).takeWhile(_ != null))
          }
        }
      }
      override def hasNext: Boolean = { advance(); cur.hasNext }
      override def next(): RawRecord = { advance(); cur.next() }
    }

  /** Distinct logical tables present in a raw record stream. */
  def tablesIn(raw: DataFrame): Seq[String] =
    raw.select("table").distinct().collect().map(_.getString(0)).toSeq

  private val TsPattern = java.util.regex.Pattern.compile(
    """\d{4}/\d{2}/\d{2} \d{2}:\d{2}:\d{2}""")

  def looksDouble(s: String): Boolean =
    try { s.toDouble; true } catch { case _: NumberFormatException => false }
  def looksTimestamp(s: String): Boolean = TsPattern.matcher(s).matches()

  /** Inference sample depth: the reference sniffs 1,000 rows
    * (chunk.rs:324); we cap at the first 1,000 records of each file. */
  val SampleRows = 1000

  /** What column-izing one logical table needs: its row count, header
    * and each column's first non-null sample (None: all null). */
  private[sources] final case class TableMeta(table: String, rows: Long, header: Seq[String],
      samples: Seq[Option[String]])

  /** Every table's [[TableMeta]] from ONE aggregation over the raw stream,
    * whatever the table count. Each record explodes to a position-0 row,
    * which carries its header and is counted, and one row per non-empty
    * value of its first [[SampleRows]] records (position = column + 1;
    * empty string is null-equivalent pre-cast). Grouped by (table,
    * position), `min` over (file, seq, …) structs picks the first header
    * and the first value in file order — deterministic across partitions
    * (a bare `first()` is not); (file, seq) is unique within a table, so
    * the payload never decides. */
  private[sources] def tableMeta(raw: DataFrame): Seq[TableMeta] = {
    val byPos = raw
      .select(col("table"), col("file"), col("seq"), col("header"),
        posexplode(concat(array(lit("")),
          when(col("seq") <= SampleRows, col("values")).otherwise(typedLit(Seq.empty[String]))))
          .as(Seq("pos", "v")))
      .filter(col("pos") === 0 || col("v") =!= "")
      .groupBy("table", "pos")
      .agg(count(lit(1)).as("n"), min(struct(col("file"), col("seq"),
        when(col("pos") === 0, col("header")).as("header"),
        when(col("pos") > 0, col("v")).as("v"))).as("s"))
      .select(col("table"), col("pos"), col("n"), col("s.header"), col("s.v"))
      .collect()
      .groupBy(_.getString(0))
    byPos.toSeq.sortBy(_._1).map { case (t, rs) =>
      val record = rs.find(_.getInt(1) == 0).get
      val header = record.getSeq[String](3)
      val samples = rs.filter(_.getInt(1) > 0).map(r => (r.getInt(1) - 1) -> r.getString(4)).toMap
      TableMeta(t, record.getLong(2), header, header.indices.map(samples.get))
    }
  }

  /** Column-ize one logical table given its precomputed header and
    * per-column first-non-null samples — no inference jobs of its own.
    * All columns nullable; empty string → null before any cast. */
  def tableFrameWith(raw: DataFrame, table: String, header: Seq[String],
      samples: Seq[Option[String]]): DataFrame = {
    val recs = raw.filter(col("table") === table)
    val stringCols = header.zipWithIndex.map { case (h, i) =>
      when(element_at(col("values"), i + 1) === "", lit(null))
        .otherwise(element_at(col("values"), i + 1)).as(h)
    }
    val strs = recs.select((stringCols :+ col("date")): _*)
    // try_cast/try_to_timestamp: a mixed-type value in an inferred column
    // nulls out (reference convert_numeric_column yields null,
    // chunk.rs:211-227) — under Spark 4 ANSI mode a plain cast would
    // instead fail the whole split job
    val typed = header.zipWithIndex.map { case (h, i) =>
      samples(i) match {
        case None => col(h) // all-null column stays string
        case Some(s) if looksDouble(s) => col(h).try_cast("double").as(h)
        case Some(s) if looksTimestamp(s) =>
          // wall time at fixed +10:00 (AEST, no DST) → UTC instant
          to_utc_timestamp(try_to_timestamp(col(h), lit("yyyy/MM/dd HH:mm:ss")), "+10:00").as(h)
        case Some(_) => col(h)
      }
    }
    strs.select((typed :+ col("date")): _*)
  }

  /** Column-ize one logical table from the raw stream and apply the
    * reference's 3-type inference (first non-null value in the first
    * [[SampleRows]] records of each file decides, chunk.rs:69-141). */
  def tableFrame(raw: DataFrame, table: String): DataFrame = {
    val m = tableMeta(raw.filter(col("table") === table)).head
    tableFrameWith(raw, table, m.header, m.samples)
  }

  /** Full split: read files, write each logical table to
    * `<lakeRoot>/<table>/date=YYYY-MM-DD/part-N.parquet`, return a summary frame
    * (table, rows). Compression is zstd (the reference's brotli-5 study:
    * README.md:14-27; the brotli codec jar is not bundled with Spark, zstd
    * is the closest ratio — see BASELINE.md). */
  def splitToLake(spark: SparkSession, paths: Seq[String], lakeRoot: String,
      compression: String = "zstd"): DataFrame = {
    import spark.implicits._
    val raw = rawRecords(spark, paths).cache()
    try {
      // one aggregation: every table's row count, header and samples
      val meta = tableMeta(raw)
      // then the per-table writes run concurrently (disjoint output dirs) —
      // total job count is O(1) in table count + one write per table
      val counts = graft.Par.mapBounded(meta.toIndexedSeq) { m =>
        tableFrameWith(raw, m.table, m.header, m.samples)
          .write.mode("append").partitionBy("date")
          .option("compression", compression)
          .parquet(s"$lakeRoot/${m.table}")
        Some((m.table, m.rows))
      }
      counts.toDF("table", "rows")
    } finally raw.unpersist()
  }
}
