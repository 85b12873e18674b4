package graft.sources

import graft.SparkSpec
import java.nio.file.{Files, Paths}

/** Mirrors the reference's only unit test, `add_get_vacuum_and_scan_again`
  * (/root/reference/src/history/table_history.rs:188-275). */
class HistoryTableSpec extends SparkSpec {

  test("add → keys → vacuum → reopen: keys survive consolidation") {
    import spark.implicits._
    val root = tmpDir("hist")
    val h = HistoryTable.downloaded(spark, root)
    h.add(Seq(("f1.zip", 100L)).toDF("filename", "size_bytes"))
    h.add(Seq(("f2.zip", 200L)).toDF("filename", "size_bytes"))
    h.add(Seq(("f3.zip", 300L)).toDF("filename", "size_bytes"))
    assert(h.keys().size === 3)
    h.vacuum()
    // consolidated into one file
    val files = new java.io.File(s"$root/downloaded").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length === 1 && files.head.getName.startsWith("consolidated-"))
    // re-open (new instance) still sees all keys — durability semantics
    val h2 = HistoryTable.downloaded(spark, root)
    assert(h2.keys().toSeq.sorted === Seq("f1.zip", "f2.zip", "f3.zip"))
    // vacuum again is a no-op (single file)
    h2.vacuum()
    assert(h2.keys().size === 3)
  }

  test("filterNew: left_anti against seen keys; empty history passes all") {
    import spark.implicits._
    val h = HistoryTable.processed(spark, tmpDir("hist2"))
    val cands = Seq("c.zip", "b.zip", "a.zip", "c.zip")
    assert(h.filterNew(cands) === cands)
    h.add(Seq(("b.zip", 1L)).toDF("filename", "rows"))
    // input order and duplicates are kept, as the anti-join keeps rows
    assert(h.filterNew(cands) === Seq("c.zip", "a.zip", "c.zip"))
  }

  test("vacuum consolidates only the files it listed; a file added after the listing survives") {
    import spark.implicits._
    val root = tmpDir("hist3")
    val h = HistoryTable.processed(spark, root)
    h.add(Seq(("a.zip", 1L)).toDF("filename", "rows"))
    h.add(Seq(("b.zip", 2L)).toDF("filename", "rows"))
    val listed = h.files()
    // an add that lands between the vacuum's listing and its rewrite
    h.add(Seq(("c.zip", 3L)).toDF("filename", "rows"))
    val late = h.files().map(_.getPath).filterNot(listed.map(_.getPath).contains)
    assert(late.size === 1)
    h.consolidate(listed)
    val after = h.files().map(_.getPath)
    assert(after.size === 2)
    assert(after.contains(late.head)) // not deleted
    val consolidated = after.filterNot(_ == late.head).head
    assert(consolidated.getName.startsWith("consolidated-"))
    assert(spark.read.parquet(consolidated.toString).as[(String, Long)].collect().map(_._1).sorted ===
      Array("a.zip", "b.zip")) // not consolidated
    // the late key still gates
    assert(h.filterNew(Seq("a.zip", "b.zip", "c.zip", "d.zip")) === Seq("d.zip"))
  }

  test("the gate sees exactly the live keys after a vacuum and after a file is deleted") {
    import spark.implicits._
    val root = tmpDir("hist-live")
    val h = HistoryTable.processed(spark, root)
    val all = Seq("a.zip", "b.zip", "c.zip", "d.zip")
    Seq("a.zip", "b.zip", "c.zip").foreach(n => h.add(Seq((n, 1L)).toDF("filename", "rows")))
    assert(h.filterNew(all) === Seq("d.zip"))
    h.vacuum() // replaces every file
    assert(h.files().map(_.getPath.getName).forall(_.startsWith("consolidated-")))
    assert(h.filterNew(all) === Seq("d.zip"))
    h.add(Seq(("d.zip", 1L)).toDF("filename", "rows"))
    assert(h.filterNew(all) === Seq.empty)
    // d.zip's file goes: its key passes the gate again
    val dFile = h.files().map(_.getPath).filterNot(_.getName.startsWith("consolidated-"))
    assert(dFile.size === 1)
    dFile.foreach(p => p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false))
    assert(h.filterNew(all) === Seq("d.zip"))
    // a second instance (a later tick) sees the same live keys
    assert(HistoryTable.processed(spark, root).keys() === Set("a.zip", "b.zip", "c.zip"))
  }

  test("torn write: a leftover hidden file is ignored by the gate, the vacuum and spark.read") {
    import spark.implicits._
    val root = tmpDir("hist-torn")
    val h = HistoryTable.processed(spark, root)
    Seq("a.zip", "b.zip").foreach(n => h.add(Seq((n, 1L)).toDF("filename", "rows")))
    val dir = s"$root/processed"
    // a complete parquet file left under a hidden temp name, and torn bytes
    // under hidden and marker names that end in .parquet
    val staged = s"$root/staged"
    Seq(("x.zip", 9L)).toDF("filename", "rows").coalesce(1).write.parquet(staged)
    val part = Files.list(Paths.get(staged)).filter(_.toString.endsWith(".parquet")).findFirst().get
    Files.move(part, Paths.get(dir, ".tmp-leftover"))
    Files.write(Paths.get(dir, ".torn.parquet"), Array[Byte](1, 2, 3))
    Files.write(Paths.get(dir, "_torn.parquet"), Array[Byte](1, 2, 3))
    assert(h.filterNew(Seq("a.zip", "x.zip")) === Seq("x.zip"))
    h.vacuum()
    assert(h.files().size === 1)
    Seq(".tmp-leftover", ".torn.parquet", "_torn.parquet").foreach(n => assert(Files.exists(Paths.get(dir, n)), n))
    assert(spark.read.parquet(dir).as[(String, Long)].collect().map(_._1).sorted === Array("a.zip", "b.zip"))
    assert(h.keys() === Set("a.zip", "b.zip"))
  }

  test("above the bound: the anti-join gate gives the driver gate's answers; the vacuum runs no job") {
    import spark.implicits._
    val now = new java.sql.Timestamp(1717000000000L)
    def history(name: String): HistoryTable = {
      val h = HistoryTable.downloaded(spark, tmpDir(name))
      Seq("a.zip", "b.zip", "c.zip").foreach { n =>
        h.add(Seq((n, 10L)).toDF("filename", "size_bytes")
          .withColumn("downloaded_at", org.apache.spark.sql.functions.lit(now)))
      }
      h
    }
    val cands = Seq("d.zip", "a.zip", "e.zip", "d.zip", "c.zip")
    val (driver, spilled) = (history("hist-driver"), history("hist-spark"))
    var gated = Seq.empty[String]
    // the key broadcast and the anti-join's collect, no inference job
    val gateJobs = jobsOf { gated = spilled.filterNew(cands, bound = 0L) }
    assert(gateJobs.size <= 2 && gateJobs.forall(_.isDefined), gateJobs)
    assert(gated === driver.filterNew(cands))
    assert(driver.filterNew(cands) === Seq("d.zip", "e.zip", "d.zip"))
    // a bound crossed after the first files were read gives the same answer
    assert(spilled.filterNew(cands, bound = 2L) === gated)
    driver.vacuum()
    val vacuumJobs = jobsOf(spilled.vacuum())
    assert(vacuumJobs.isEmpty, vacuumJobs)
    def rows(h: HistoryTable) = {
      val f = h.files()
      assert(f.size === 1 && f.head.getPath.getName.startsWith("consolidated-"))
      val df = spark.read.parquet(f.head.getPath.toString)
      (df.schema, df.as[(String, Long, java.sql.Timestamp)].collect().sortBy(_._1).toSeq)
    }
    assert(rows(spilled) === rows(driver))
    assert(spilled.keys() === driver.keys())
    assert(spilled.filterNew(cands, bound = 0L) === driver.filterNew(cands))
  }

  test("vacuum of files with different parquet schemas merges them on the driver; keys survive") {
    import spark.implicits._
    val h = HistoryTable.processed(spark, tmpDir("hist-mixed-schema"))
    h.add(Seq(("a.zip", 1L)).toDF("filename", "size_bytes"))
    h.add(Seq(("b.zip", 2L, 7L)).toDF("filename", "size_bytes", "batch_id"))
    val jobs = jobsOf(h.vacuum())
    assert(jobs.isEmpty, jobs)
    assert(h.files().size === 1)
    // every file's columns survive: batch_id is null where a file lacked it
    val batchIds = spark.read.parquet(h.files().head.getPath.toString)
      .select("filename", "batch_id").as[(String, Option[Long])].collect().toMap
    assert(batchIds === Map("a.zip" -> None, "b.zip" -> Some(7L)))
    assert(h.keys() === Set("a.zip", "b.zip"))
    assert(h.filterNew(Seq("a.zip", "b.zip", "c.zip")) === Seq("c.zip"))
  }

  test("a failed write leaves no temp file: a failed publish and a vacuum over a torn input") {
    import spark.implicits._
    val root = tmpDir("hist-fail")
    val h = HistoryTable.processed(spark, root)
    val dir = s"$root/processed"
    h.add(Seq(("a.zip", 1L)).toDF("filename", "rows"))
    def temps() = new java.io.File(dir).list().filter(_.contains(".tmp-")).toSeq
    val listed = h.files().map(_.getPath)
    // a driver write that fails after it created its file
    val dst = new org.apache.hadoop.fs.Path(dir, "never.parquet")
    intercept[java.io.IOException] {
      h.publish(dst) { tmp =>
        Files.write(Paths.get(tmp.toString), Array[Byte](1, 2, 3))
        throw new java.io.IOException("injected")
      }
    }
    assert(temps() === Seq.empty)
    assert(h.files().map(_.getPath) === listed)
    // a vacuum whose merge fails mid-write: a visible input torn after its
    // footer was written, its data pages zeroed
    val torn = Paths.get(dir, "torn.parquet")
    Files.copy(Paths.get(listed.head.toUri), torn)
    val bytes = Files.readAllBytes(torn)
    val footer = java.nio.ByteBuffer.wrap(bytes, bytes.length - 8, 4).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    java.util.Arrays.fill(bytes, 4, bytes.length - 8 - footer, 0.toByte)
    Files.write(torn, bytes)
    val both = h.files().map(_.getPath)
    assert(both.size === 2)
    intercept[java.io.IOException](h.vacuum()) // reading the torn pages, after the merge opened its temp file
    assert(temps() === Seq.empty)
    assert(h.files().map(_.getPath) === both) // nothing published, nothing deleted
  }

  test("add refuses a frame that is not driver rows") {
    import spark.implicits._
    val h = HistoryTable.processed(spark, tmpDir("hist-refuse"))
    intercept[IllegalArgumentException](h.add(Seq(("a.zip", 1L)).toDF("filename", "rows").repartition(1)))
    assert(h.files().isEmpty)
  }
}
