package graft.sources

import graft.SparkSpec

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
    assert(h.keys().get.count() === 3)
    h.vacuum()
    // consolidated into one file
    val files = new java.io.File(s"$root/downloaded").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length === 1 && files.head.getName.startsWith("consolidated-"))
    // re-open (new instance) still sees all keys — durability semantics
    val h2 = HistoryTable.downloaded(spark, root)
    assert(h2.keys().get.as[String].collect().sorted === Array("f1.zip", "f2.zip", "f3.zip"))
    // vacuum again is a no-op (single file)
    h2.vacuum()
    assert(h2.keys().get.count() === 3)
  }

  test("filterNew: left_anti against seen keys; empty history passes all") {
    import spark.implicits._
    val h = HistoryTable.processed(spark, tmpDir("hist2"))
    val cands = Seq("a.zip", "b.zip", "c.zip").toDF("f")
    assert(h.filterNew(cands, "f").count() === 3)
    h.add(Seq(("b.zip", 1L)).toDF("filename", "rows"))
    val fresh = h.filterNew(cands, "f").as[String].collect().sorted
    assert(fresh === Array("a.zip", "c.zip"))
  }

  test("vacuum consolidates only the files it listed; a file added after the listing survives") {
    import spark.implicits._
    val root = tmpDir("hist3")
    val h = HistoryTable.processed(spark, root)
    h.add(Seq(("a.zip", 1L)).toDF("filename", "rows"))
    h.add(Seq(("b.zip", 2L)).toDF("filename", "rows"))
    val listed = h.files().map(_.getPath)
    // an add that lands between the vacuum's listing and its rewrite
    h.add(Seq(("c.zip", 3L)).toDF("filename", "rows"))
    val late = h.files().map(_.getPath).filterNot(listed.contains)
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
    val fresh = h.filterNew(Seq("a.zip", "b.zip", "c.zip", "d.zip").toDF("f"), "f").as[String].collect()
    assert(fresh === Array("d.zip"))
  }
}
