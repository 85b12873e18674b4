package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.input.PortableDataStream
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeSeq, BindReferences, BoundReference,
  Expression, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String
import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util.UUID
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
  * record stream. [[splitToLake]] scans it twice, in two jobs whatever
  * the table count: once for every table's type samples, once to type
  * and write every table's records, as the reference writes each table
  * batch of a file from one streaming pass (chunk.rs:347-414).
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
    inputFiles(spark, paths).flatMap(records).toDF()
  }

  private def inputFiles(spark: SparkSession, paths: Seq[String]): RDD[(String, PortableDataStream)] =
    spark.sparkContext.binaryFiles(paths.mkString(","), paths.size.min(256))

  /** One input file's records, scanned lazily. */
  private def records(file: (String, PortableDataStream)): Iterator[RawRecord] = {
    val (name, data) = file
    if (name.toLowerCase.endsWith(".zip"))
      zipRecords(name, new ZipInputStream(data.open()))
    else {
      val br = new BufferedReader(new InputStreamReader(data.open(), StandardCharsets.UTF_8))
      scanLines(name, Iterator.continually(br.readLine()).takeWhile(_ != null))
    }
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

  private val TsPattern = java.util.regex.Pattern.compile(
    """\d{4}/\d{2}/\d{2} \d{2}:\d{2}:\d{2}""")

  def looksDouble(s: String): Boolean =
    try { s.toDouble; true } catch { case _: NumberFormatException => false }
  def looksTimestamp(s: String): Boolean = TsPattern.matcher(s).matches()

  /** Inference sample depth: the reference sniffs 1,000 rows
    * (chunk.rs:324); we cap at the first 1,000 records of each file. */
  val SampleRows = 1000

  /** What column-izing one logical table needs: its header and each
    * column's first non-null sample (None: all null). */
  private[sources] final case class TableMeta(table: String, header: Seq[String],
      samples: Seq[Option[String]])

  /** A record's place in the stream: (file, seq), unique within a table. */
  private type Key = (String, Long)

  /** `a` precedes `b`: files in UTF-8 byte order (Spark's string order),
    * then seq. */
  private def before(a: Key, b: Key): Boolean =
    if (a._1 == b._1) a._2 < b._2
    else UTF8String.fromString(a._1).compareTo(UTF8String.fromString(b._1)) < 0

  /** One table's [[TableMeta]] as far as some of its records show it: the
    * header of the first record and, per column, the first non-empty
    * value among records with seq <= [[SampleRows]] (empty string is
    * null-equivalent pre-cast), each with the key it came from. "First" is
    * the least (file, seq), so partials of disjoint records merge in any
    * order to the same meta. */
  private final class MetaPartial extends Serializable {
    private var first: Key = null
    private var header: Seq[String] = Nil
    private val samples = scala.collection.mutable.HashMap.empty[Int, (Key, String)]

    private def offerHeader(k: Key, h: Seq[String]): Unit =
      if (first == null || before(k, first)) { first = k; header = h }
    private def offerSample(i: Int, k: Key, v: String): Unit =
      if (samples.get(i).forall(s => before(k, s._1))) samples(i) = (k, v)

    def add(r: RawRecord): this.type = {
      val k = (r.file, r.seq)
      offerHeader(k, r.header)
      if (r.seq <= SampleRows)
        r.values.iterator.zipWithIndex.foreach { case (v, i) => if (v.nonEmpty) offerSample(i, k, v) }
      this
    }

    def merge(o: MetaPartial): this.type = {
      offerHeader(o.first, o.header)
      o.samples.foreach { case (i, (k, v)) => offerSample(i, k, v) }
      this
    }

    def meta(table: String): TableMeta =
      TableMeta(table, header, header.indices.map(i => samples.get(i).map(_._2)))
  }

  /** Each table's partial meta over `recs`. */
  private def partials(recs: Iterator[RawRecord]): Map[String, MetaPartial] = {
    val byTable = scala.collection.mutable.HashMap.empty[String, MetaPartial]
    recs.foreach(r => byTable.getOrElseUpdate(r.table, new MetaPartial).add(r))
    byTable.toMap
  }

  /** Every table's [[TableMeta]], in table order, from per-task partials. */
  private def tableMeta(parts: Seq[Map[String, MetaPartial]]): Seq[TableMeta] =
    parts.flatten.groupMapReduce(_._1)(_._2)(_ merge _).toSeq.sortBy(_._1).map { case (t, p) => p.meta(t) }

  /** The reference's three column types. */
  private val ColumnTypes = Seq[DataType](StringType, DoubleType, TimestampType)

  /** A column's type from its sample: double or timestamp where the sample
    * looks like one, else string (an all-null column stays string). */
  private def columnType(sample: Option[String]): DataType = sample match {
    case Some(x) if looksDouble(x) => DoubleType
    case Some(x) if looksTimestamp(x) => TimestampType
    case _ => StringType
  }

  /** A NEM wall-clock string (`yyyy/MM/dd HH:mm:ss` at fixed +10:00, AEST
    * with no DST, chunk.rs:425-444) as a UTC instant; null where it does
    * not parse. */
  private[graft] def wallClock(s: Column): Column =
    to_utc_timestamp(try_to_timestamp(s, lit("yyyy/MM/dd HH:mm:ss")), "+10:00")

  /** A raw string column as one of [[ColumnTypes]]; empty string → null
    * before any cast. */
  private def typed(t: DataType, v: Column): Column = {
    val s = when(v === "", lit(null)).otherwise(v)
    // try_cast/try_to_timestamp: a mixed-type value in an inferred column
    // nulls out (reference convert_numeric_column yields null,
    // chunk.rs:211-227) — under Spark 4 ANSI mode a plain cast would
    // instead fail the whole split job
    t match {
      case DoubleType => s.try_cast("double")
      case TimestampType => wallClock(s)
      case _ => s
    }
  }

  /** Column-ize one logical table from the raw stream and apply the
    * reference's 3-type inference (first non-null value in the first
    * [[SampleRows]] records of each file decides, chunk.rs:69-141). One
    * job collects the table's meta. */
  def tableFrame(raw: DataFrame, table: String): DataFrame = {
    import raw.sparkSession.implicits._
    val recs = raw.filter(col("table") === table)
    val m = tableMeta(recs.as[RawRecord].rdd.mapPartitions(rs => Iterator(partials(rs))).collect().toSeq).head
    val cols = m.header.zip(m.samples).zipWithIndex.map { case ((h, sample), i) =>
      typed(columnType(sample), element_at(col("values"), i + 1)).as(h)
    }
    recs.select((cols :+ col("date")): _*)
  }

  /** Each table's typed columns as expressions over a row of its record's
    * values, one string per column, and their schema: [[typed]] resolved
    * once per column type over an empty one-column relation (no job), as
    * the optimized select list Spark would run, then bound to each
    * column's ordinal. */
  private def typing(spark: SparkSession, meta: Seq[TableMeta]): Map[String, (Seq[Expression], StructType)] = {
    val v = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Seq(StructField("v", StringType))))
    val byType = v.select(ColumnTypes.map(t => typed(t, col("v")).as(t.typeName)): _*)
      .queryExecution.optimizedPlan match {
        case Project(list, child) => ColumnTypes.zip(
          BindReferences.bindReferences(list.map { case a: Alias => a.child }, AttributeSeq(child.output))).toMap
        case plan => throw new IllegalStateException(s"no select list in\n$plan")
      }
    meta.map { m =>
      val cols = m.header.zip(m.samples).zipWithIndex.map { case ((h, sample), i) =>
        val e = byType(columnType(sample)).transform { case b: BoundReference => b.copy(ordinal = i) }
        (e, StructField(h, e.dataType, e.nullable))
      }
      m.table -> ((cols.map(_._1), StructType(cols.map(_._2))))
    }.toMap
  }

  /** Full split: read files, write each logical table to
    * `<lakeRoot>/<table>/date=YYYY-MM-DD/part-<id>-<n>.<codec>.parquet`, return
    * (table, rows written) per table, sorted. Compression is zstd (the reference's brotli-5
    * study: README.md:14-27; the brotli codec jar is not bundled with
    * Spark, zstd is the closest ratio — see BASELINE.md).
    *
    * Two Spark jobs over the input files, one task per file split,
    * whatever the table count, and no cache:
    *  1. meta: each task scans its files and returns each table's
    *     [[MetaPartial]]; the driver merges them into every table's
    *     header and type samples, and resolves each table's typed select
    *     list ([[typing]]).
    *  2. write: each task scans its files again, types each record with
    *     its table's projection and writes it through [[ParquetRowWriter]]
    *     to a staged file under the hidden `<lakeRoot>/<table>/_split-<id>/`
    *     (Spark's `_temporary` layout). A task holds at most one open
    *     writer: a file is closed when the record stream moves to another
    *     (table, date). It returns (table, date, staged path, rows) per
    *     file.
    * After the write job the driver renames each staged file into its
    * `date=` directory; the staging directories are deleted afterwards,
    * also when a job fails, so a failed split publishes nothing. The
    * driver holds only the metas and the list of staged files. */
  def splitToLake(spark: SparkSession, paths: Seq[String], lakeRoot: String,
      compression: String = "zstd"): Seq[(String, Long)] = {
    val files = inputFiles(spark, paths)
    val meta = tableMeta(files.mapPartitions(in => Iterator(partials(in.flatMap(records)))).collect().toSeq)
    val written = if (meta.isEmpty) Seq.empty else {
      val id = UUID.randomUUID().toString
      val typings = typing(spark, meta)
      val writer = ParquetRowWriter(spark, Some(compression))
      val fs = new Path(lakeRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
      try {
        val staged = SQLExecution.withSQLConfPropagated(castToImpl(spark)) {
          files.mapPartitions(in => writeStaged(in.flatMap(records), typings, writer, lakeRoot, id)).collect()
        }
        staged.zipWithIndex.foreach { case ((table, date, from, _), n) =>
          val to = new Path(s"$lakeRoot/$table/date=$date", f"part-$id-$n%05d${writer.extension}")
          if (!fs.mkdirs(to.getParent) || !fs.rename(new Path(from), to))
            throw new java.io.IOException(s"rename $from -> $to failed")
        }
        staged.toSeq
      } finally meta.foreach(m => fs.delete(new Path(s"$lakeRoot/${m.table}/_split-$id"), true))
    }
    written.groupMapReduce(_._1)(_._4)(_ + _).toSeq.sorted
  }

  /** The write task of [[splitToLake]]: `recs` typed and written to one
    * staged file per run of records of one (table, date), at most one
    * writer open at a time; returns (table, date, staged path, rows) per
    * file. */
  private def writeStaged(recs: Iterator[RawRecord], typings: Map[String, (Seq[Expression], StructType)],
      writer: ParquetRowWriter, lakeRoot: String, id: String): Iterator[(String, String, String, Long)] = {
    val task = TaskContext.get()
    val projections = scala.collection.mutable.HashMap.empty[String, UnsafeProjection]
    val written = scala.collection.mutable.ArrayBuffer.empty[(String, String, String, Long)]
    final class Staged(val table: String, val date: String) {
      val file = new Path(s"$lakeRoot/$table/_split-$id/" +
        s"part-${task.partitionId}-${task.attemptNumber}-${written.size}${writer.extension}")
      val out = writer.open(file, typings(table)._2)
      var rows = 0L
    }
    var open: Staged = null
    def close(): Unit = if (open != null) {
      val s = open
      open = null
      s.out.close()
      written += ((s.table, s.date, s.file.toString, s.rows))
    }
    try {
      recs.foreach { r =>
        if (open == null || open.table != r.table || open.date != r.date) {
          close()
          open = new Staged(r.table, r.date)
        }
        val project = projections.getOrElseUpdate(r.table, UnsafeProjection.create(typings(r.table)._1))
        open.out.write(project(new GenericInternalRow(r.values.map(UTF8String.fromString).toArray[Any])))
        open.rows += 1
      }
      close()
    } finally if (open != null) open.out.close() // failed: the driver deletes the staged file
    written.iterator
  }
}
