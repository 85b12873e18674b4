package graft
import org.apache.spark.sql.SparkSession

/** Guard-refusal classification, split from [[Bench]]'s main so specs can
  * drive it directly (BenchGuardSpec). */
object BenchGuard {
  /** True iff the failure chain contains raise_error's exception —
    * a [[org.apache.spark.SparkThrowable]] with the USER_RAISED_EXCEPTION
    * condition — carrying [[graft.operators.Dedup.BucketGuardMarker]]: a
    * DESIGNED bucket-guard refusal, not a broken query. Condition + class
    * + marker, so an unrelated error that merely EMBEDS the guard literal
    * (codegen dump, analysis tree) still reports broken (-1). The walk is
    * identity-deduped (not depth-capped) so a deeply wrapped refusal —
    * long Spark wrapper chains exceed any small fixed bound — is still
    * classified, while a cyclic cause chain terminates. */
  def isGuardRefusal(e: Throwable): Boolean = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[Throwable, java.lang.Boolean]())
    Iterator.iterate(e)(_.getCause)
      .takeWhile(t => t != null && seen.add(t))
      .exists {
        case t: org.apache.spark.SparkThrowable =>
          val msg = t.asInstanceOf[Throwable].getMessage
          t.getCondition == "USER_RAISED_EXCEPTION" && msg != null &&
            msg.contains(graft.operators.Dedup.BucketGuardMarker)
        case _ => false
      }
  }
}

object Bench {
  /** Force FULL evaluation of every output column via the built-in noop
    * sink. Round-14 lesson (PLANS.md, surfaced by FallbackScale and then
    * confirmed across the whole registry by tools/ForceAudit): forcing
    * with `.count()` lets Catalyst prune any node whose output nobody
    * reads — ColumnPruning removes output-less Window nodes and strips
    * shingle-exploding Generates and final-Project expressions,
    * EliminateSorts drops the deterministic orderBy — so count-forced
    * timings skipped the Window in 20 queries and most of the Generate
    * fan-out in the sketch family. A noop write demands every column of
    * every row (the same evaluation shape as Verify's parquet write,
    * minus the encode/IO), so the timed work is the work the query
    * actually declares. */
  def force(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Run the fixed host-regime sentinel once and return its seconds: a
    * data-independent CPU + small-shuffle workload (identical at every
    * sf dir and lake), interleaved through the suite so the committed
    * artifact carries its own host-contention index. This box swings
    * single-query times 2-5x with background load (r7, r12, r13 all
    * burned adjudication time on it); a sentinel series that inflates
    * with the same factor says "contended window", a flat sentinel
    * under inflated queries says "real regression" — read THIS before
    * comparing per-query times across rounds. */
  def sentinel(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    spark.range(4000000L)
      .select(pmod(xxhash64(col("id")), lit(1000)).as("k"))
      .groupBy("k").agg(count(lit(1)).as("n"), sum(col("k")).as("s"))
      .count()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCores
    // warm repetitions per query (median reported): this sandbox swings
    // single-query times 2-5x between runs, which made single-sample
    // rounds unadjudicable (r5 "regression" panic was variance; r6's
    // simhash 2.5s-vs-1.5s question couldn't be settled from one sample)
    val warmRuns = sys.env.getOrElse("SPARK_GRAFT_WARM_RUNS", "3").toInt
    // full-suite repetitions (median REP reported): per-query medians fix
    // within-run hiccups but not run-level host contention — r7's committed
    // quiet-window file (45 s) and the driver's contended run (191 s)
    // diverged 4.2x and needed a judge re-run to adjudicate. Running the
    // whole suite N times and committing EVERY rep's total means the
    // artifact carries its own spread; no hand-picking between runs.
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    val spark = GraftSession.local(cpus)
    val rt = Runtime.getRuntime
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) -1.0
      else if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    // One full pass over the suite: per query, cold + warmRuns warm samples.
    // COLD = first execution in a swept session; on rep 1 this includes the
    // janino compile of the query's generated code, on reps >=2 the JVM-wide
    // codegen cache makes it "first touch after cache sweep" instead — the
    // rep-1 cold is the only true cold, which is why the runs array records
    // rep order. WARM = immediate re-runs (steady-state dashboard shape),
    // median of warmRuns samples. A query that throws records -1 — EXCEPT
    // a Dedup bucket-guard refusal, which records -2: on beyond-fixture
    // lakes the pinned exact-all-pairs oracle anchors REFUSE by design
    // (their scale-anchored _scaled siblings run instead), and the
    // artifact must distinguish that designed refusal from a broken query.
    // Matching is class + marker (see Dedup.BucketGuardMarker), so a
    // broken query whose error merely EMBEDS the guard literal (codegen
    // dump, analysis tree) still records -1.
    def isGuardRefusal(e: Throwable): Boolean = BenchGuard.isGuardRefusal(e)
    // host-regime sentinel cadence: one fixed-workload sample at suite
    // start and every N queries, recorded per rep (see Bench.sentinel)
    val sentinelEvery = sys.env.getOrElse("SPARK_GRAFT_SENTINEL_EVERY", "10").toInt
    def runSuite(): (Map[String, (Double, Double, Seq[Double])], Seq[Double]) = {
      val sentinels = scala.collection.mutable.ArrayBuffer(sentinel(spark))
      var sinceSentinel = 0
      val r = SparkEntry.queries.map { case (name, fn) =>
        sinceSentinel += 1
        if (sinceSentinel >= sentinelEvery) {
          sentinels += sentinel(spark)
          sinceSentinel = 0
        }
        def run(): Double = {
          val t0 = System.nanoTime()
          force(fn(spark, sfDir))
          (System.nanoTime() - t0) / 1e9
        }
        val cold = try run() catch {
          case e: Throwable => if (isGuardRefusal(e)) -2.0 else -1.0
        }
        val warms =
          if (cold < 0) Seq(cold)
          else Seq.fill(warmRuns)(try run() catch {
            case e: Throwable => if (isGuardRefusal(e)) -2.0 else -1.0
          })
        // a mixed failure set must surface the GENUINE failure: -1 beats
        // -2 (a warm set holding both means something actually broke, not
        // just a designed guard refusal), and any failure beats a median
        val warm =
          if (warms.contains(-1.0)) -1.0
          else if (warms.exists(_ < 0)) warms.min
          else median(warms)
        // per-query session hygiene: without it localCheckpoint blocks
        // accumulate across the run until the ContextCleaner gets to them
        GraftSession.releaseCaches(spark)
        val heapMb = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
        System.err.println(f"[bench] $name%-28s cold=$cold%7.3f warm=$warm%7.3f " +
          f"min=${warms.min}%7.3f heapMB=$heapMb%5d")
        name -> (cold, warm, warms)
      }
      (r, sentinels.toSeq)
    }
    def totals(r: Map[String, (Double, Double, Seq[Double])]): (Double, Double) =
      (r.values.map(_._2).filter(_ >= 0).sum, r.values.map(_._1).filter(_ >= 0).sum)
    val runsWithSentinels = (1 to reps).map { i =>
      System.err.println(s"[bench] ===== rep $i of $reps =====")
      val (r, sent) = runSuite()
      val (w, c) = totals(r)
      System.err.println(f"[bench] rep $i total_warm=$w%.1f total_cold=$c%.1f " +
        f"sentinel_med=${median(sent)}%.3f sentinel_max=${sent.max}%.3f")
      (r, sent)
    }
    val runs = runsWithSentinels.map(_._1)
    spark.stop()
    // Report the MEDIAN rep (lower median for even N) so the per-query map
    // sums to the reported total — an actual observed run, not a synthetic
    // mix of reps. All rep totals ride in "runs" so the committed artifact
    // shows its own spread; never hand-restore a "best" file.
    val byTotal = runs.sortBy(r => totals(r)._1)
    val results = byTotal((reps - 1) / 2)
    def f2(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // warm map sorted by DESCENDING time: the driver's capture truncated
    // r5's line mid-map (78 of 93 queries survived), so emit the entries
    // that dominate the total first — a truncated tail then loses only
    // sub-0.1 s queries
    val byCost = results.toSeq.sortBy { case (_, (_, w, _)) => -w }
    val qs = byCost.map { case (k, (_, w, _)) => "\"" + k + "\":" + f2(w) }
      .mkString("{", ",", "}")
    val colds = byCost.map { case (k, (c, _, _)) => "\"" + k + "\":" + f2(c) }
      .mkString("{", ",", "}")
    val (total, totalCold) = totals(results)
    // runs array in REP ORDER (rep 1 first — the true-cold rep), each entry
    // the rep's warm/cold totals PLUS its sentinel stats — the committed
    // artifact carries its own host-regime index per rep, so a judge never
    // again adjudicates contention by inference (compare sentinel_med
    // across rounds: same sentinel + inflated queries = real regression;
    // inflated sentinel = contended window)
    val runsJson = runsWithSentinels.map { case (r, sent) =>
      val (w, c) = totals(r)
      s"""{"total_warm":${f3(w)},"total_cold":${f3(c)},""" +
        s""""sentinel_med":${f3(median(sent))},"sentinel_max":${f3(sent.max)}}"""
    }.mkString("[", ",", "]")
    val sentMed = runsWithSentinels.collectFirst {
      case (r, sent) if r eq results => median(sent)
    }.getOrElse(-1.0)
    val sentinelSamplesJson = runsWithSentinels
      .map(_._2.map(f3).mkString("[", ",", "]")).mkString("[", ",", "]")
    // "queries" stays a name→warm-seconds map for driver continuity
    // (median rep's per-query medians); cold times ride behind it, and
    // bench_full.json carries full precision plus every warm sample so the
    // judge can read the spread even if the stdout line is truncated again
    // guard refusals (warm = -2) surfaced as a first-class list: a lake
    // artifact must show WHICH -1-looking entries are the pinned oracle
    // anchors refusing by design (their _scaled siblings carry the
    // capability), vs a genuinely broken query (-1)
    val refused = byCost.collect { case (k, (_, w, _)) if w == -2.0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // regime self-description: cpus + driver heap ride in every artifact.
    // Round-14 lesson: a cpus=32-vs-8 artifact compare reads as a bimodal
    // 2x "regression" (parallel queries slower, tiny queries faster) with
    // a quiet sentinel, and the sentinel BASELINE itself is cpus-dependent
    // (~0.2 s at 8 threads, ~0.55 s at 32 — dispatch overhead). Sentinel
    // ratios only adjudicate contention between same-config artifacts.
    val driverMem = sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")
    val benchOutPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    // "force" stays stamped: benchdiff.py reads an artifact without it as
    // a count-forced one and warns on the compare. Divergence against an
    // earlier artifact is benchdiff.py's job (tools/benchgate.sh --accept)
    val line = s"""{"metric":"total","value":${f3(total)},"unit":"sec","total_cold":${f3(totalCold)},"warm_runs":$warmRuns,"reps":$reps,"cpus":$cpus,"driver_mem":"$driverMem","force":"noop","sentinel_med":${f3(sentMed)},"sentinel_every":$sentinelEvery,"runs":$runsJson,"sf":"$sfDir","refused_by_guard":$refused,"queries":$qs,"queries_cold":$colds}"""
    try {
      val full = results.toSeq.sortBy(_._1).map { case (k, (c, w, ws)) =>
        val samples = ws.map(f3).mkString("[", ", ", "]")
        s"""    "$k": {"cold": ${f3(c)}, "warm": ${f3(w)}, "warm_min": ${f3(ws.min)}, "warm_samples": $samples}"""
      }.mkString(
        s"""{\n  "total_warm": ${f3(total)},\n  "total_cold": ${f3(totalCold)},\n  "warm_runs": $warmRuns,\n  "reps": $reps,\n  "cpus": $cpus,\n  "driver_mem": "$driverMem",\n  "force": "noop",\n  "sentinel_med": ${f3(sentMed)},\n  "sentinel_every": $sentinelEvery,\n  "sentinel_samples": $sentinelSamplesJson,\n  "runs": $runsJson,\n  "sf": "$sfDir",\n  "refused_by_guard": $refused,\n  "queries": {\n""",
        ",\n", "\n  }\n}\n")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(benchOutPath), full)
    } catch { case _: Throwable => () } // stdout line is the contract; the file is best-effort
    println("===GRAFT_BENCH_JSON===")
    println(line)
    // The driver scrapes a bounded TAIL of stdout (BENCH_r16/r17 both
    // carried "parsed": null because the full line above is ~4 KB and
    // lost its head to the window). Emit a final SHORT line — totals,
    // sentinel, and the slowest warms that fit a ~1.5 KB budget — so
    // the driver artifact is self-contained even when truncated. The
    // complete per-query map lives in the artifact file and the line
    // above; this one is the crash-proof summary of record.
    val topWarm = results.toSeq.sortBy(-_._2._2)
    val budget = 1500
    val head = s"""{"metric":"total","value":${f3(total)},"unit":"sec","total_cold":${f3(totalCold)},"sentinel_med":${f3(sentMed)},"reps":$reps,"cpus":$cpus,"force":"noop","sf":"$sfDir","queries_n":${results.size},"artifact":"$benchOutPath","queries":{"""
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    var len = head.length + 2
    var omitted = 0
    topWarm.foreach { case (k, (_, w, _)) =>
      val e = s""""$k":${f3(w)}"""
      if (len + e.length + 1 + 32 <= budget) { entries += e; len += e.length + 1 }
      else omitted += 1
    }
    println("===GRAFT_BENCH_SUMMARY===")
    println(head + entries.mkString(",") + s"""},"queries_omitted":$omitted}""")
  }
}
