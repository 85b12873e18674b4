package graft.streaming

import graft.SparkSpec
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import java.net.URI

/** Local FS whose rename FAILS only for the publish step's
  * `batch<id>-` destination names — the parquet committer's own
  * internal renames (part files, task dirs) pass through, so the
  * failure is injected exactly at [[BatchCommit.publish]]'s move.
  * Which publishes fail is set by [[RenameFailFs.failNth]]. */
class RenameFailFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("failfs:///")
  override def rename(src: Path, dst: Path): Boolean =
    if (dst.getName.startsWith("batch") && RenameFailFs.fails(src)) false
    else super.rename(src, dst)
}

object RenameFailFs {
  private var nth = 0
  private var seen = 0
  private var staging: Path = null

  /** Fail the renames of the `k`-th publish counted from now: 0 fails
    * every publish (the default), a negative `k` none. Consecutive
    * publishes stage in different dirs, which is how they are counted. */
  def failNth(k: Int): Unit = synchronized { nth = k; seen = 0; staging = null }

  private def fails(src: Path): Boolean = synchronized {
    if (src.getParent != staging) { staging = src.getParent; seen += 1 }
    nth == 0 || seen == nth
  }
}

/** Drives the defensive guards on the failure paths: publish's
  * rename-failure throw, a crash at every publish step of every ingest
  * loop, and the HLL mixed-p / truncated-partial requires. */
class BatchCommitGuardSpec extends SparkSpec {

  test("publish: a failed rename fails the tick with NO committed batch files") {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.failfs.impl", classOf[RenameFailFs].getName)
    RenameFailFs.failNth(0)
    val dir = tmpDir("bc_renamefail")
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")

    val ex = intercept[java.io.IOException] {
      BatchCommit.publish(conf, df, s"failfs://$dir", 7L)
    }
    assert(ex.getMessage.contains("rename"))
    // the throw happened BEFORE any caller could write the commit marker,
    // and no batch-prefixed file was committed — the replay path sees a
    // clean (rollbackable) partial state
    val committed = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("batch7-"))
    assert(committed.isEmpty, "failed rename must not leave committed batch files")

    // the standard replay sequence over the same dir (plain scheme)
    // recovers: rollback sweeps nothing committed, republish lands
    BatchCommit.rollback(conf, dir, 7L)
    BatchCommit.publish(conf, df, dir, 7L)
    assert(spark.read.parquet(dir).count() === 2)
    assert(new java.io.File(dir).listFiles().exists(_.getName.startsWith("batch7-")))
  }

  test("every ingest loop survives a crash at each publish step: no marker, exact replay") {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.failfs.impl", classOf[RenameFailFs].getName)
    def png(seed: Long) = graft.multimodal.Multimodal.synthesizePngPattern(
      Seq(Tuple1(seed)).toDF("doc_id"), "doc_id", 2, 2)
    def wav(seed: Long) = graft.multimodal.Audio.synthesizeWavPattern(
      Seq(Tuple1(seed)).toDF("doc_id"), "doc_id", nSamples = 8)
    def bytes(df: org.apache.spark.sql.DataFrame) =
      df.select("payload").head().getAs[Array[Byte]](0)
    val text = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine ten"),
      (3L, null)).toDF("doc_id", "text")
    val vecs = Seq((1L, Some(Array(1.0, 0.0))), (2L, Some(Array(0.0, 1.0))),
      (3L, None: Option[Array[Double]])).toDF("doc_id", "embedding")
    val media = Seq(("f1.png", bytes(png(1L))), ("f2.wav", bytes(wav(2L))))
      .toDF("path", "content")
      .withColumn("length", org.apache.spark.sql.functions.length($"content").cast("long"))
    // (loop, publishes per tick, tick over a base dir, tables it writes —
    // the first one holds the commit marker)
    val loops: Seq[(String, Int, (String, Long) => Long, Seq[String])] = Seq(
      ("corpus", 4, (b, id) => CorpusStream.ingestBatch(spark, text, "doc_id",
        "text", s"$b/corpus", s"$b/sig", 3, 32, 8, 0.5, batchId = id,
        statsDir = Some(s"$b/stats"), statsDepth = 4, statsWidth = 64),
        Seq("corpus", "sig", "stats/cm", "stats/hll")),
      ("semantic", 2, (b, id) => SemanticCorpusStream.ingestBatch(spark, vecs,
        "doc_id", "embedding", s"$b/corpus", s"$b/idx",
        Seq(Array(1.0, 0.0), Array(0.0, 1.0)), minCosine = 0.98, batchId = id),
        Seq("corpus", "idx")),
      ("substring", 2, (b, id) => SubstringStream.ingestBatch(spark, text,
        "doc_id", "text", s"$b/corpus", s"$b/idx", windowWords = 4, batchId = id),
        Seq("corpus", "idx")),
      ("media", 2, (b, id) => MediaStream.ingestBatch(media, s"$b/lake", id),
        Seq("lake")))
    def rows(base: String, tables: Seq[String]) = tables.map(t =>
      spark.read.parquet(s"$base/$t").collect().map(_.toString).sorted.toSeq)
    try {
      for ((name, publishes, tick, tables) <- loops) {
        RenameFailFs.failNth(-1)
        val clean = tmpDir(s"bc_clean_$name")
        val kept = tick(clean, 5L)
        assert(kept > 0, s"$name: the crash-free tick must keep docs")
        val expected = rows(clean, tables)
        for (k <- 1 to publishes) {
          val base = s"failfs://${tmpDir(s"bc_crash_${name}_$k")}"
          RenameFailFs.failNth(k)
          intercept[java.io.IOException](tick(base, 5L))
          val marker = BatchCommit.commitMarker(s"$base/${tables.head}", 5L)
          assert(!marker.getFileSystem(conf).exists(marker),
            s"$name: a crash at publish $k must leave no commit marker")
          RenameFailFs.failNth(-1)
          assert(tick(base, 5L) === kept, s"$name: replay after a crash at publish $k")
          assert(rows(base, tables) === expected,
            s"$name: replay after a crash at publish $k must equal the crash-free tick")
        }
      }
    } finally RenameFailFs.failNth(0)
  }

  test("readTokenCardinality: mixed-p register partials are refused at the fold") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val statsDir = tmpDir("hll_mixedp")
    val toks = Seq("alpha", "beta", "gamma", "delta").toDF("tok")
    // two ticks written at DIFFERENT p — the merged dense grids union to
    // the larger grid (a power of two!), so only the p stamp catches it
    graft.operators.TextSketches.hllRegisters(toks, col("tok"), p = 4)
      .withColumn("p", lit(4)).write.mode("append").parquet(s"$statsDir/hll")
    graft.operators.TextSketches.hllRegisters(toks, col("tok"), p = 5)
      .withColumn("p", lit(5)).write.mode("append").parquet(s"$statsDir/hll")
    val ex = intercept[IllegalArgumentException] {
      CorpusStream.readTokenCardinality(spark, statsDir)
    }
    assert(ex.getMessage.contains("mixed"))
  }

  test("readTokenCardinality: stamped + unstamped partials mixed in one dir are refused") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val statsDir = tmpDir("hll_mixedstamp")
    val toks = Seq("alpha", "beta").toDF("tok")
    graft.operators.TextSketches.hllRegisters(toks, col("tok"), p = 4)
      .withColumn("p", lit(4)).write.mode("append").parquet(s"$statsDir/hll")
    // a pre-stamp partial: same grid, no p column — its rows surface p
    // as null under schema merge, which must refuse, not NPE
    graft.operators.TextSketches.hllRegisters(toks, col("tok"), p = 4)
      .write.mode("append").parquet(s"$statsDir/hll")
    val ex = intercept[IllegalArgumentException] {
      CorpusStream.readTokenCardinality(spark, statsDir)
    }
    assert(ex.getMessage.contains("unstamped"))
  }

  test("readTokenCardinality: truncated (non-power-of-two) unstamped partials are refused") {
    import spark.implicits._
    val statsDir = tmpDir("hll_truncated")
    // hand-written corrupt partial: 3 buckets, no p stamp
    Seq((0L, 1), (1L, 2), (2L, 1)).toDF("bucket", "rho")
      .write.parquet(s"$statsDir/hll")
    val ex = intercept[IllegalArgumentException] {
      CorpusStream.readTokenCardinality(spark, statsDir)
    }
    assert(ex.getMessage.contains("power-of-two"))
  }

  test("readTokenCardinality: full stamped grid still folds (guards pass on the good path)") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val statsDir = tmpDir("hll_good")
    val toks = Seq("alpha", "beta", "gamma", "delta").toDF("tok")
    graft.operators.TextSketches.hllRegisters(toks, col("tok"), p = 4)
      .withColumn("p", lit(4)).write.mode("append").parquet(s"$statsDir/hll")
    val row = CorpusStream.readTokenCardinality(spark, statsDir).head()
    assert(row.getAs[Long]("m") === 16L)
    assert(row.getAs[Double]("est_raw") > 0.0)
  }
}
