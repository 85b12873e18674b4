package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftops.PlanApi
import graft.{GraftSession, SparkEntry}

/** Long-lived-session soak: run the ENTIRE declared query set several
  * times in ONE JVM and report per-pass totals. This is the direct
  * regression harness for the r5 bench-session degradation (untouched
  * trivial queries inflating 3–10× as a 93-query session aged): with the
  * per-query hygiene (catalog cache clear + persistent-RDD sweep),
  * superseded-checkpoint release in connectedComponents, and bounded
  * status-store retention, pass N must cost the same as pass 1.
  *
  * A second stage soaks the STREAMING ingest path: `corpusTicks` ticks
  * of [[graft.streaming.CorpusStream.ingestBatch]] against a growing
  * signature index — per-tick latency and heap must stay flat, proving
  * the targeted per-tick cache release (not a session-wide sweep) and
  * the idempotent-commit bookkeeping don't accumulate anything across
  * thousands of micro-batches. The signature index is compacted every
  * 100 ticks (single rewrite between ticks), modelling the same
  * ingest-loop/compactor split the reference runs — without it the
  * per-tick index LISTING grows linearly with published batch files,
  * which is a filesystem artifact, not session state.
  *
  * A third stage soaks the SEMANTIC ingest loop
  * ([[graft.streaming.SemanticCorpusStream.ingestBatch]]): the same
  * flat-latency/flat-heap gates against a growing cell index (compacted
  * on the same 100-tick cadence), plus a gating-correctness check — each
  * tick plants near-duplicate vectors of the previous tick's docs, so
  * the total novel count over the run is exactly predictable and any
  * index corruption under soak surfaces as a count drift, not just a
  * latency bend.
  *
  * ENGINE-STATE vs JVM-AGE isolation (r15: at 300 sem ticks the
  * combined one-JVM run failed the in-run flatness window while the
  * same loop solo was flat — the bend was driver bookkeeping age at
  * minute ~50 of a shared JVM, not index growth): the latency gate no
  * longer compares windows measured inside the aged JVM. Instead, for
  * each ingest loop the combined run spawns two FRESH child JVMs —
  * one ticking a fresh index (the loop's own fresh-JVM baseline
  * window), one ticking the AGED index directories the combined loop
  * just grew. Both children pay identical JVM/codegen costs, so their
  * window ratio isolates exactly the thing the gate polices: does the
  * engine state built over N ticks make a tick more expensive? The
  * in-run early/late windows are still printed as the measured cost of
  * JVM age (informational, the one-JVM design is deliberate), and the
  * heap / novel-count / stats-fold gates stay in-run — they police
  * engine-owned state directly and don't confound with age.
  *
  * A fourth stage soaks the SUBSTRING ingest loop
  * ([[graft.streaming.SubstringStream.ingestBatch]]): the window-
  * fingerprint index is the third stored-index aging surface (minhash
  * signatures, semantic cells, window keys), with the same flat-
  * latency/flat-heap/exact-novel-count gates — each tick's 2 full-text
  * replays must strip to nothing against the accumulated index.
  *
  * Usage: `runMain graft.tools.Soak [sfDir] [passes] [corpusTicks]
  * [semTicks] [subTicks]` — prints one line per query pass, one line
  * per 100 ingest ticks per loop, and a final PASS/FAIL verdict
  * covering all stages. `passes = 0` skips the query stage;
  * `corpusTicks = 0` / `semTicks = 0` / `subTicks = 0` skip the
  * respective ingest stages.
  *
  * Component mode (what the child JVMs run; also usable by hand):
  * `runMain graft.tools.Soak --component corpus|sem|sub <ticks> [baseDir]
  * [tickOffset]` — runs ONLY that ingest loop in this JVM against
  * `baseDir` (fresh temp dir if omitted) starting at `tickOffset`
  * (batch ids and planted doc ids shift with it, so a probe over an
  * aged index never replays a committed batch id), and prints
  * `[soak-window] kind=… ticks=… window=…` where the window is the
  * median of ticks W..2W (W = min(100, ticks/2) — the first W ticks
  * pay codegen).
  */
object Soak {

  /** Deterministic ~30-word pseudo-text for tick `t`, doc `i` (LCG over
    * a small vocabulary — unique enough that distinct (t, i) are never
    * near-dups, reproducible so replayed ids are EXACT dups). */
  private def soakText(t: Long, i: Int): String = {
    val vocab = Array("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
      "oscar", "papa", "quebec", "romeo", "sierra", "tango", "uniform",
      "victor", "whiskey", "xray", "yankee", "zulu")
    var s = t * 100003L + i * 7919L + 12345L
    val words = (0 until 30).map { _ =>
      s = s * 6364136223846793005L + 1442695040888963407L
      vocab(((s >>> 33) % vocab.length).toInt)
    }
    s"tick $t doc $i " + words.mkString(" ")
  }

  /** Rewrite `dir` as one parquet file (between ticks — single writer).
    * The swap renames the live dir ASIDE rather than deleting it, so a
    * crash anywhere in the window leaves a recoverable copy — a
    * delete-then-rename swap here would silently lose the whole dedup
    * index on a crash (index read falls back to empty and subsequent
    * ticks re-ingest duplicates as novel). */
  private def compactDir(spark: SparkSession, dir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val live = new Path(dir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new Path(dir + "_old")
    val tmp = new Path(dir + "_compacting")
    // crash recovery: a leftover _old means a prior compaction died
    // mid-swap — if the live dir vanished with it, the _old copy IS the
    // data; if both exist the swap completed and _old is garbage
    if (fs.exists(old)) { if (fs.exists(live)) fs.delete(old, true) else fs.rename(old, live) }
    if (!fs.exists(live)) return
    val df = spark.read.parquet(dir).persist()
    df.count()
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    df.unpersist(blocking = true)
    fs.rename(live, old)   // live copy preserved until the new dir is in place
    fs.rename(tmp, live)
    fs.delete(old, true)
  }

  /** Deterministic 64-dim pseudo-embedding for tick `t`, doc `i` (LCG
    * components in [-1, 1]). 64 dims matter for the soak's EXACT novel
    * count: random-vector cosine concentrates as 1/√dim, so at dim 64
    * the probability any two distinct (t, i) vectors reach the 0.95 gate
    * is ≈ 0 over the whole run — an 8-dim draft version collided ~100
    * times in 300 ticks and broke the count check. */
  private def soakVec(t: Long, i: Int): Array[Double] = {
    var s = t * 104729L + i * 31337L + 271828L
    Array.fill(64) {
      s = s * 6364136223846793005L + 1442695040888963407L
      ((s >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
    }
  }

  /** Result of one ingest loop: per-tick wall seconds, per-tick executor
    * CPU seconds (from the stage-completed tally — see [[CpuTally]]),
    * post-GC heap at the first/last 100-tick boundary, total novel docs
    * admitted. */
  private[tools] final case class LoopResult(
      lat: Seq[Double], cpu: Seq[Double], heapEarly: Long, heapLate: Long,
      novel: Long)

  /** Cumulative executor CPU across completed stages. Per-tick deltas of
    * this counter give each tick's CPU cost. CPU exists so the fresh/aged
    * window compare can be read NET of host load (r18: corpus 1.37× / sub 0.62× wall windows were host regime,
    * not engine state — per-window CPU makes that adjudication data
    * instead of argument). The GATE stays on wall (engineFlat unchanged):
    * wall regression is the user-visible symptom the soak polices. */
  private final class CpuTally extends org.apache.spark.scheduler.SparkListener {
    val nanos = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onStageCompleted(
        e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val tm = e.stageInfo.taskMetrics
      if (tm != null) nanos.addAndGet(tm.executorCpuTime)
    }
  }

  /** Run `tick` for rel = 0 until ticks, recording wall + CPU per tick;
    * shared instrumentation shell of the three ingest loops. `afterTick`
    * runs between ticks (the compaction-cadence boundary work) with the
    * latency series so far; its CPU is excluded from tick deltas, the
    * same exclusion the wall series applies. The listener bus is drained
    * ([[PlanApi.drainListenerBus]]) before each boundary read — both
    * after the tick and after `afterTick` — so every stage of a tick lands
    * in its own tick's delta and compaction stages are excluded rather
    * than bleeding into the next tick. Wall is measured before any drain,
    * so the latency series carries no drain cost. */
  private def instrumentedTicks(spark: SparkSession, ticks: Int)(
      tick: Int => Unit)(
      afterTick: (Int, Seq[Double]) => Unit): (Seq[Double], Seq[Double]) = {
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    val cpu = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tally = new CpuTally
    spark.sparkContext.addSparkListener(tally)
    try {
      var prev = 0L
      for (rel <- 0 until ticks) {
        val t0 = System.nanoTime()
        tick(rel)
        lat += (System.nanoTime() - t0) / 1e9
        PlanApi.drainListenerBus(spark.sparkContext) // this tick's stages into ITS delta
        val now = tally.nanos.get()
        cpu += (now - prev) / 1e9
        afterTick(rel, lat.toSeq)
        PlanApi.drainListenerBus(spark.sparkContext) // boundary work fully excluded
        prev = tally.nanos.get()
      }
      (lat.toSeq, cpu.toSeq)
    } finally spark.sparkContext.removeSparkListener(tally)
  }

  /** MinHash-corpus ingest loop against dirs under `base`, `ticks`
    * ticks starting at logical tick `offset` (batch ids, doc ids and
    * planted text all shift with the offset, so a probe loop over an
    * AGED base never replays a committed batch id and its docs are
    * novel to the existing index). Compaction cadence is loop-relative.
    * 8 docs per tick: 6 novel + 2 exact replays of the previous tick's
    * docs, so the index probe gates something every tick. */
  private[tools] def runCorpusLoop(spark: SparkSession, base: String,
      ticks: Int, offset: Long, label: String): LoopResult = {
    import spark.implicits._
    val rt = Runtime.getRuntime
    val corpusDir = s"$base/corpus"
    val sigDir = s"$base/sig"
    // stats maintenance ON: the soak must prove the per-tick partial-
    // sketch append doesn't bend the flat-latency/flat-heap curves
    val statsDir = s"$base/stats"
    var heapEarly = 0L
    var heapLate = 0L
    var novel = 0L
    val (lat, cpu) = instrumentedTicks(spark, ticks) { rel =>
      val t = offset + rel
      val docs = (0 until 8).map { i =>
        val id = t * 8L + i
        val txt = if (i >= 6 && t > 0) soakText(t - 1L, i - 6) else soakText(t, i)
        (id, txt)
      }.toDF("doc_id", "text")
      novel += graft.streaming.CorpusStream.ingestBatch(spark, docs, "doc_id", "text",
        corpusDir, sigDir, shingleLen = 3, numHashes = 16, bands = 4,
        minAgree = 0.8, batchId = Some(t),
        statsDir = Some(statsDir), statsDepth = 4, statsWidth = 64)
    } { (rel, latSoFar) =>
      if ((rel + 1) % 100 == 0) {
        compactDir(spark, sigDir)
        // stats partials compact on the same cadence, one sublayout at
        // a time (cm: add-mergeable counts, hll: max-mergeable
        // registers — both fold-preserving under a plain rewrite);
        // without it the per-tick dir LISTING grows one file per batch
        // (same filesystem artifact the sig compaction exists for)
        compactDir(spark, s"$statsDir/cm")
        compactDir(spark, s"$statsDir/hll")
        System.gc()
        val heapMb = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
        if (rel + 1 == 100) heapEarly = heapMb
        heapLate = heapMb
        val last100 = latSoFar.takeRight(100)
        println(f"[$label] ticks ${rel + 1}/$ticks median=${median(last100)}%.2fs max=${last100.max}%.2fs heapMB=$heapMb rdds=${spark.sparkContext.getPersistentRDDs.size}")
      }
    }
    // the accumulated partials must still fold to one fixed-grid sketch
    // and a readable cardinality row
    val statCells = graft.streaming.CorpusStream.readTokenStats(spark, statsDir).count()
    val card = graft.streaming.CorpusStream.readTokenCardinality(spark, statsDir)
      .collect().head
    println(s"[$label] folded stats cells=$statCells (grid 4x64) " +
      f"distinct_est=${card.getAs[Double]("est_raw")}%.0f")
    LoopResult(lat, cpu, heapEarly, heapLate, novel)
  }

  /** Semantic-cell ingest loop against dirs under `base` — same offset
    * contract as [[runCorpusLoop]]. 8 docs per tick: 6 novel vectors +
    * 2 EXACT vector replays of the previous tick's docs under fresh
    * ids — the cell-index probe must gate those 2 out every tick
    * (cosine 1 ≥ minCosine). Novel-count expectation holds at ANY
    * offset: the first tick's 2 "replays" reference tick offset−1,
    * absent from a fresh index AND from an aged index grown at a
    * different offset, so expected = 8 + (ticks−1)·6 either way. */
  private[tools] def runSemLoop(spark: SparkSession, base: String,
      ticks: Int, offset: Long, label: String): LoopResult = {
    import spark.implicits._
    val rt = Runtime.getRuntime
    val corpusDir = s"$base/corpus"
    val idxDir = s"$base/idx"
    // 4 fixed unit-ish centroids: enough cells that the index probe
    // prunes, few enough that every cell keeps filling for the whole run
    val centroids = (0 until 4).map(c => soakVec(-1L - c, 0)).toSeq
    var heapEarly = 0L
    var heapLate = 0L
    var novel = 0L
    val (lat, cpu) = instrumentedTicks(spark, ticks) { rel =>
      val t = offset + rel
      val docs = (0 until 8).map { i =>
        val id = t * 8L + i
        val vec = if (i >= 6 && t > 0) soakVec(t - 1L, i - 6) else soakVec(t, i)
        (id, vec)
      }.toDF("doc_id", "embedding")
      novel += graft.streaming.SemanticCorpusStream.ingestBatch(
        spark, docs, "doc_id", "embedding", corpusDir, idxDir,
        centroids, minCosine = 0.95, nprobe = 2, batchId = Some(t))
    } { (rel, latSoFar) =>
      if ((rel + 1) % 100 == 0) {
        compactDir(spark, idxDir)
        System.gc()
        val heapMb = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
        if (rel + 1 == 100) heapEarly = heapMb
        heapLate = heapMb
        val last100 = latSoFar.takeRight(100)
        println(f"[$label] ticks ${rel + 1}/$ticks median=${median(last100)}%.2fs max=${last100.max}%.2fs heapMB=$heapMb rdds=${spark.sparkContext.getPersistentRDDs.size}")
      }
    }
    LoopResult(lat, cpu, heapEarly, heapLate, novel)
  }

  /** Substring-ingest loop against dirs under `base` — same offset
    * contract as [[runCorpusLoop]]. 8 docs per tick: 6 novel + 2 EXACT
    * full-text replays of the previous tick's docs under fresh ids.
    * A full replay is passage-complete (every token covered by an
    * indexed window), so [[graft.streaming.SubstringStream]] must drop
    * it whole every tick — the novel-count expectation is the same
    * 8 + (ticks−1)·6 as the sibling loops, and any window-key loss or
    * duplication across ticks/compactions surfaces as count drift. */
  private[tools] def runSubLoop(spark: SparkSession, base: String,
      ticks: Int, offset: Long, label: String): LoopResult = {
    import spark.implicits._
    val rt = Runtime.getRuntime
    val corpusDir = s"$base/corpus"
    val idxDir = s"$base/winidx"
    var heapEarly = 0L
    var heapLate = 0L
    var novel = 0L
    val (lat, cpu) = instrumentedTicks(spark, ticks) { rel =>
      val t = offset + rel
      val docs = (0 until 8).map { i =>
        val id = t * 8L + i
        val txt = if (i >= 6 && t > 0) soakText(t - 1L, i - 6) else soakText(t, i)
        (id, txt)
      }.toDF("doc_id", "text")
      novel += graft.streaming.SubstringStream.ingestBatch(spark, docs,
        "doc_id", "text", corpusDir, idxDir, windowWords = 10,
        batchId = Some(t))
    } { (rel, latSoFar) =>
      if ((rel + 1) % 100 == 0) {
        compactDir(spark, idxDir)
        System.gc()
        val heapMb = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
        if (rel + 1 == 100) heapEarly = heapMb
        heapLate = heapMb
        val last100 = latSoFar.takeRight(100)
        println(f"[$label] ticks ${rel + 1}/$ticks median=${median(last100)}%.2fs max=${last100.max}%.2fs heapMB=$heapMb rdds=${spark.sparkContext.getPersistentRDDs.size}")
      }
    }
    LoopResult(lat, cpu, heapEarly, heapLate, novel)
  }

  /** The engine-state flatness gate: a fresh-JVM window over the aged
    * index must stay within 1.5× of the fresh-JVM window over a fresh
    * index (same slack as the old in-run gate; r5's real signature was
    * 2–10×). Pure so the injected-regression canary (SoakGateSpec)
    * exercises the same arithmetic the soak run uses. */
  private[tools] def engineFlat(freshWindow: Double, agedWindow: Double): Boolean =
    agedWindow <= freshWindow * 1.5

  /** Median of the post-codegen window of a component run: ticks W..2W,
    * W = min(100, ticks/2) — the first W ticks pay janino compilation. */
  private[tools] def componentWindow(lat: Seq[Double]): Double = {
    val w = math.min(100, lat.size / 2)
    median(lat.slice(w, 2 * w))
  }

  /** Spawn `--component` in a FRESH child JVM and parse its window.
    * The child gets the same module-opens the build gives every forked
    * JVM (build.sbt `jdk17AddOpens` — Spark 4 on JDK 17 needs them when
    * SparkSession is built outside spark-submit) and a smaller heap:
    * the loops touch 8-row frames and a ≤few-MB index, and the child
    * existing is the point — it must NOT inherit the parent's aged heap.
    * Returns the (wall, executor-CPU) window medians — CPU 0.0 when the
    * child predates the tally — or None (with a warning) if the spawn
    * fails or the window line never appears; the caller falls back to
    * the in-run compare. */
  private def spawnComponentWindow(kind: String, ticks: Int, baseDir: String,
      offset: Long): Option[(Double, Double)] = {
    try {
      val javaBin = java.nio.file.Paths.get(
        System.getProperty("java.home"), "bin", "java").toString
      val addOpens = Seq(
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
      ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
      val cmd = Seq(javaBin) ++ addOpens ++ Seq(
        "-Xmx4g", "-Dspark.ui.enabled=false",
        "-cp", System.getProperty("java.class.path"),
        "graft.tools.Soak", "--component", kind, ticks.toString,
        baseDir, offset.toString)
      val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      val proc = pb.start()
      val out = scala.io.Source.fromInputStream(proc.getInputStream)
        .getLines().toList
      val rc = proc.waitFor()
      val win = out.collectFirst {
        case l if l.contains("[soak-window]") =>
          "window=([0-9.]+)".r.findFirstMatchIn(l).map(_.group(1).toDouble)
            .map(w => (w, "windowCpu=([0-9.]+)".r.findFirstMatchIn(l)
              .map(_.group(1).toDouble).getOrElse(0.0)))
      }.flatten
      if (rc != 0 || win.isEmpty) {
        System.err.println(s"[soak] child $kind probe failed (rc=$rc); last lines:")
        out.takeRight(5).foreach(l => System.err.println(s"[soak-child] $l"))
        None
      } else win
    } catch {
      case e: Throwable =>
        System.err.println(s"[soak] child $kind spawn failed: $e")
        None
    }
  }

  private def componentMain(args: Array[String]): Unit = {
    val kind = args(0)
    val ticks = args(1).toInt
    val base = args.lift(2).getOrElse(
      java.nio.file.Files.createTempDirectory(s"graft_soak_comp_$kind").toString)
    val offset = args.lift(3).map(_.toLong).getOrElse(0L)
    val spark = GraftSession.local()
    val r = kind match {
      case "corpus" => runCorpusLoop(spark, base, ticks, offset, s"soak-$kind")
      case "sem"    => runSemLoop(spark, base, ticks, offset, s"soak-$kind")
      case "sub"    => runSubLoop(spark, base, ticks, offset, s"soak-$kind")
      case other    => sys.error(s"unknown component '$other' (corpus|sem|sub)")
    }
    println(f"[soak-window] kind=$kind ticks=${r.lat.size} " +
      f"window=${componentWindow(r.lat)}%.3f " +
      f"windowCpu=${componentWindow(r.cpu)}%.3f novel=${r.novel} " +
      f"heapMB=${r.heapEarly}->${r.heapLate}")
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--component")) {
      componentMain(args.drop(1)); return
    }
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val passes = args.lift(1).map(_.toInt).getOrElse(3)
    val corpusTicks = args.lift(2).map(_.toInt).getOrElse(500)
    val semTicks = args.lift(3).map(_.toInt).getOrElse(300)
    val subTicks = args.lift(4).map(_.toInt).getOrElse(300)
    val spark = GraftSession.local()
    val rt = Runtime.getRuntime
    val totals = (1 to passes).map { pass =>
      var worst = ("", 0.0)
      val t0 = System.nanoTime()
      SparkEntry.queries.foreach { case (name, fn) =>
        val q0 = System.nanoTime()
        // full-column force, matching Bench (count() would prune the
        // window/generate-heavy queries this soak exists to stress)
        graft.Bench.force(fn(spark, sfDir))
        val dt = (System.nanoTime() - q0) / 1e9
        if (dt > worst._2) worst = (name, dt)
        GraftSession.releaseCaches(spark)
      }
      val total = (System.nanoTime() - t0) / 1e9
      val heapMb = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
      println(f"[soak] pass $pass/$passes total=$total%.1fs worst=${worst._1}:${worst._2}%.2fs heapMB=$heapMb rdds=${spark.sparkContext.getPersistentRDDs.size}")
      total
    }

    // ---- streaming ingest soak (in the aged, shared JVM — deliberate:
    // this models a long-lived pipeline driver) ----
    val corpusBase = java.nio.file.Files.createTempDirectory("graft_soak_corpus").toString
    val corpusRes =
      if (corpusTicks > 0)
        Some(runCorpusLoop(spark, corpusBase, corpusTicks, 0L, "soak"))
      else None
    val semBase = java.nio.file.Files.createTempDirectory("graft_soak_sem").toString
    val semRes =
      if (semTicks > 0)
        Some(runSemLoop(spark, semBase, semTicks, 0L, "soak-sem"))
      else None
    val subBase = java.nio.file.Files.createTempDirectory("graft_soak_sub").toString
    val subRes =
      if (subTicks > 0)
        Some(runSubLoop(spark, subBase, subTicks, 0L, "soak-sub"))
      else None
    spark.stop()

    // ---- fresh-JVM engine-state probes (r15 verdict #3) ----
    // Both children of a pair pay identical fresh-JVM/codegen costs, so
    // their ratio reads ONLY the engine state: the aged child ticks the
    // index the combined loop just grew, the baseline child a fresh one.
    // Offsets keep batch ids / planted docs disjoint from the aged run.
    def engineProbe(kind: String, agedBase: String,
        ranTicks: Int): Option[((Double, Double), (Double, Double))] =
      if (ranTicks < 200) None // window W..2W needs ≥200 ticks of signal
      else {
        val freshBase = java.nio.file.Files
          .createTempDirectory(s"graft_soak_fresh_$kind").toString
        for {
          fresh <- spawnComponentWindow(kind, 200, freshBase, 1000000L)
          aged <- spawnComponentWindow(kind, 200, agedBase, 2000000L)
        } yield (fresh, aged)
      }
    val corpusProbe = corpusRes.flatMap(_ => engineProbe("corpus", corpusBase, corpusTicks))
    val semProbe = semRes.flatMap(_ => engineProbe("sem", semBase, semTicks))
    val subProbe = subRes.flatMap(_ => engineProbe("sub", subBase, subTicks))

    // pass 1 pays janino compilation for every generated stage; steady
    // state is pass 2+. Degradation = any later pass markedly worse than
    // pass 2 (1.5× leaves room for box noise; r5's signature was 2-10×).
    val steady = totals.drop(1)
    val queryOk = steady.isEmpty || steady.max <= steady.min * 1.5

    // heap gates stay in-run: ratio slack plus an absolute floor —
    // post-GC heap in a 100+ GiB JVM wobbles by hundreds of MB from GC
    // timing alone, so a low tick-100 baseline must not turn plateau
    // noise into a FAIL; a real per-tick leak across 400 ticks shows up
    // in GBs, far above both bounds
    def heapFlat(early: Long, late: Long): Boolean =
      early == 0L || late <= math.max(early * 2, early + 512)

    // per-loop verdicts: latency via the fresh-JVM probe pair when
    // available (in-run early/late reported as the measured cost of JVM
    // age, NOT gated — r15 showed it fails on driver bookkeeping age
    // with flat engine state); fall back to the in-run compare with a
    // warning if a child could not run
    def loopVerdict(kind: String, res: Option[LoopResult],
        probe: Option[((Double, Double), (Double, Double))],
        expectNovel: Option[Long]): (Boolean, String) =
      res match {
        case None => (true, s"$kind=skipped")
        case Some(r) =>
          val early = if (r.lat.size >= 200) median(r.lat.slice(100, 200)) else 0.0
          val late = if (r.lat.size >= 200) median(r.lat.takeRight(100)) else 0.0
          val jvmAge = if (early > 0) f" jvm_age=${late / early}%.2fx" else ""
          // gate stays on WALL (engineFlat unchanged — wall regression is
          // the user-visible symptom); the CPU pair is printed so a wall
          // divergence can be adjudicated against host load: flat CPU +
          // bent wall = regime, bent CPU = the engine really works harder
          val (latOk, latNote) = probe match {
            case Some(((fresh, freshCpu), (aged, agedCpu))) =>
              (engineFlat(fresh, aged),
                f" engine_fresh=$fresh%.2fs engine_aged=$aged%.2fs" +
                  f" engine_fresh_cpu=$freshCpu%.2fs engine_aged_cpu=$agedCpu%.2fs")
            case None if r.lat.size >= 200 =>
              System.err.println(s"[soak] WARNING: $kind fresh-JVM probe " +
                "unavailable — falling back to the in-run window compare, " +
                "which conflates JVM age with engine state")
              (late <= early * 1.5, " engine=in-run-fallback")
            case None => (true, "")
          }
          val novelOk = expectNovel.forall(_ == r.novel)
          val novelNote = expectNovel
            .map(e => s" ${kind}_novel=${r.novel}/$e").getOrElse("")
          (latOk && heapFlat(r.heapEarly, r.heapLate) && novelOk,
            f"${kind}_ticks=${r.lat.size} early=$early%.2fs late=$late%.2fs" +
              jvmAge + latNote + novelNote +
              s" ${kind}_heapMB=${r.heapEarly}->${r.heapLate}")
      }

    val (corpusOk, tickSummary) = loopVerdict("corpus", corpusRes, corpusProbe, None)
    // semantic loop adds the exact novel-count check — 8 docs tick 0,
    // then 6 novel per tick (2 planted replays gated by the index); any
    // drift means the index lost or duplicated rows somewhere across
    // ticks/compactions
    val (semOk, semSummary) = loopVerdict("sem", semRes, semProbe,
      semRes.map(r => 8L + (r.lat.size - 1).toLong * 6L))
    // substring loop: same exact novel-count shape — 2 full-text
    // replays per tick must strip to nothing against the window index
    val (subOk, subSummary) = loopVerdict("sub", subRes, subProbe,
      subRes.map(r => 8L + (r.lat.size - 1).toLong * 6L))
    val verdict =
      if (queryOk && corpusOk && semOk && subOk) "SOAK PASS" else "SOAK FAIL"
    val passSummary =
      if (totals.isEmpty) "passes=skipped"
      else s"passes=${totals.map(t => f"$t%.1f").mkString(",")}s"
    println(s"$verdict: $passSummary $tickSummary $semSummary $subSummary")
  }

  private[tools] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }
}
