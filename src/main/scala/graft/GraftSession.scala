package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Central SparkSession configuration for the graft engine.
  *
  * Design notes (100 TB posture):
  *  - AQE on: runtime re-plan handles skewed shuffles and converts
  *    sort-merge joins to broadcast when a side turns out small.
  *  - `nanosAsLong`: the synthetic `events` table stores
  *    TIMESTAMP(NANOS) which Spark's TimestampType (µs) cannot hold;
  *    we read the raw int64 and truncate to µs in [[Tables]].
  *  - Shuffle WIDTH: session width = cores; the explode-heavy
  *    pipelines widen their OWN shuffles from input-size estimates
  *    via [[explodeWidth]]. Round 16 tried the blunt alternative —
  *    session-wide `initialPartitionNum=512` — and it regressed the
  *    iterative/fixture paths 2–8× (each pointer-jump round of
  *    dd_dup_groups paid 512-way planning + a 512-partition eager
  *    checkpoint) and shifted join-size stats enough to demote a
  *    broadcast join to SMJ. Width belongs to the operator whose
  *    data is wide, not to the session.
  */
object GraftSession {

  /** Apply engine-standard confs to a builder. */
  def tune(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Parquet timestamps without isAdjustedToUTC read as instants
    // (TimestampType), not wall-clocks (TIMESTAMP_NTZ): the engine pins
    // UTC sessions, so both interpretations denote the same micros, and
    // instant-typed scans keep range predicates pushable into footers.
    // [[Tables]] cast-normalizes for foreign sessions without this conf.
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // NO session-wide initialPartitionNum override (r16 verdict #1):
    // planning every shuffle 512-wide multiplied per-round fixed cost
    // across dd_dup_groups' pointer-jump iterations (2–8× regression)
    // and flipped a broadcast join to SMJ. The heavy explode pipelines
    // size their own shuffles from data via [[explodeWidth]] instead.
    .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
    // Coalesce floor (r20, measured): AQE sizes post-shuffle partitions
    // by BYTES (max(total/parallelism, minPartitionSize)), but the
    // engine's hot shuffles carry narrow rows whose downstream per-row
    // work (md5 hashing, regex normalize, explode fan-out, 32-hash
    // signature aggs) is ~100× the byte cost. With the 1 MB default
    // floor, every fixture/lake-scale exchange (0.5–3 MB) coalesces to
    // 1–2 partitions and the compute-dense stage runs serially while
    // the other cores idle — dd_simhash_neardup's explode+bit-sum stage
    // measured 0.5 s wall / 0.5 s cpu on ONE task at sf0.1 (probe logs,
    // OPTIMIZATION_r20.md). The floor is a trade measured BOTH ways:
    // 64k re-parallelized the compute-dense stages (w08_sessionize
    // 0.85->0.55 s, dd_simhash 2.4->2.0 s) but taxed the sketch-merge
    // family with 32-task dispatch on genuinely tiny stages
    // (ta_cm_merge 1.06->1.6 s); 256k keeps ~all of the win on both
    // sides (probe table in OPTIMIZATION_r20.md). At production shuffle
    // sizes the bytes/parallelism term dominates and the floor is inert.
    .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
    // The hash(id) subset algebra the explode family's width regime is
    // built on (one widened exchange at the postings source serves every
    // downstream per-id distribution) extends to JOINS only with this
    // off: Spark 4's default true demands partition keys == full join
    // keys for co-partition, so dropCovered's (id,pos) join re-shuffles
    // BOTH corpus-sized hash(id,w) sides back to SESSION width — r19
    // measured the degrade-branch fixture probe collapsing 55→4-wide
    // (ENSURE_REQUIREMENTS exchanges on (id,pos)) with true, and riding
    // the widened layout exchange-free with false. False trades the
    // theoretical subset-key skew risk (ours cluster on id — near-
    // uniform md5-keyed docs) for removing two corpus-sized shuffles.
    .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
    .config("spark.sql.parquet.aggregatePushdown", "true")
    .config("spark.sql.parquet.filterPushdown", "true")
    .config("spark.sql.autoBroadcastJoinThreshold", "32m")
    .config("spark.sql.files.maxPartitionBytes", "128m")
    .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
    // Long-lived-session hygiene: the status-store listeners retain per-
    // execution state (including FULL physical-plan descriptions — ours
    // are wide: 32-hash signatures, 60-bit sums) even with the UI off,
    // up to 1000 SQL executions / jobs by default. A session that runs
    // hundreds of queries (a bench loop, a daemon, a 100 TB pipeline
    // driver) accumulates hundreds of MB of dead plan strings in old-gen
    // and degrades GC — cap the retention to what debugging needs.
    .config("spark.sql.ui.retainedExecutions", "16")
    .config("spark.ui.retainedJobs", "100")
    .config("spark.ui.retainedStages", "100")
    .config("spark.ui.retainedTasks", "1000")

  /** Data-derived shuffle width for an explode-heavy subtree, or None
    * when the session width already bounds per-task state.
    *
    * The problem (r15, measured): `ta_quality_report` at 10M docs
    * explodes ~1.7 GB of parquet into ~9 GB of word/shingle rows;
    * shuffled cores-wide (32) that is ~300 MB of sort/agg state per
    * task → OOM at the 8 g bench default, while 256-wide completes on
    * the same heap. On a 1000-executor cluster the same arithmetic
    * holds — partition count, not heap, is the real memory knob for
    * exploded data.
    *
    * The fix is LOCAL: callers that explode text (word posts, shingle
    * postings) ask for a width derived from the INPUT's optimizer size
    * estimate × an expansion factor, targeting ~64 MB of exploded rows
    * per task, and insert an explicit `repartition(w, keys)` only when
    * that exceeds the session width. Fixture-scale inputs return None,
    * so small-data plans (and the plan goldens pinning them) are
    * byte-identical to the unwidened form. Unknown statistics (Catalyst
    * propagates `Long.MaxValue`-ish sentinels through unestimable
    * subtrees) also return None — never widen on garbage stats.
    *
    * `expansion` is bytes-of-exploded-rows per byte-of-input-estimate.
    * For parquet text the estimate is COMPRESSED bytes; n-gram shingle
    * rows ≈ 3–4× the uncompressed text (each word lands in n shingles
    * plus per-row overhead), so the measured 1.7 GB → ~9 GB case is
    * ~5.3×; the default 8 keeps margin without over-splitting.
    *
    * `spark.graft.explode.targetBytes`, when set on the session,
    * overrides `targetBytes` — the deterministic handle integration
    * tests use to force the widened branch at fixture scale (and an
    * ops escape hatch if 64 MB/task is wrong for a deployment). */
  def explodeWidth(input: DataFrame, expansion: Double = 8.0,
      targetBytes: Long = 64L << 20, maxWidth: Int = 2048): Option[Int] = {
    val base = input.sparkSession.sessionState.conf.numShufflePartitions
    val bytes = input.queryExecution.optimizedPlan.stats.sizeInBytes
    // the conf is an ops escape hatch: a malformed value ('64m', a typo)
    // must not turn every operator entry into a NumberFormatException —
    // warn once per call site and fall back to the compiled default
    val target = input.sparkSession.conf
      .getOption("spark.graft.explode.targetBytes")
      .flatMap { v =>
        val p = scala.util.Try(v.toLong).toOption
        if (p.isEmpty) System.err.println(
          s"[explode-width] ignoring malformed spark.graft.explode.targetBytes='$v'")
        p
      }.filter(_ > 0).getOrElse(targetBytes)
    // stats sentinel for "unknown" is defaultSizeInBytes (Long.MaxValue
    // unless tuned); anything within 2^10 of it is propagation garbage
    if (bytes <= 0 || bytes >= (BigInt(Long.MaxValue) >> 10)) None
    else {
      // clamp BEFORE narrowing: derived can exceed Int range for large
      // inputs with a small target, and a wrapped .toInt would silently
      // disable widening exactly when it's most needed
      val derived = (BigInt((bytes.toDouble * expansion).toLong) +
        target - 1) / target
      val w = derived.min(BigInt(maxWidth)).toInt
      if (w > base) {
        // beyond-fixture only (fixture inputs return None before this),
        // so the line is adjudication evidence, not log spam
        System.err.println(s"[explode-width] input ~$bytes bytes est. " +
          s"x$expansion -> $w partitions (session width $base)")
        Some(w)
      } else None
    }
  }

  /** Spread a scan-speed frame across the session width when it would
    * otherwise arrive UNDER-PARALLEL (r20, measured): a single-file
    * fixture/lake table plans as ONE input split, so an operator whose
    * heavy work rides the scan stage itself (normalize+explode+md5 in
    * the sketch family — no exchange anywhere before the fixed-grid
    * aggregation) runs its whole per-row pipeline serially:
    * ta_heavy_hitters at sf0.1 spent 1.1 s cpu in one 1-task stage with
    * 31 cores idle (probe log, OPTIMIZATION_r20.md). The gate is the
    * PLANNED scan parallelism, not data size: inputs that already carry
    * ≥ session-width splits (any real corpus at scale) pass through
    * untouched — no shuffle is ever added to a well-parallel scan, so
    * the 100 TB plan shape is unchanged. Round-robin (not keyed): these
    * consumers declare no layout, and round-robin balances perfectly.
    *
    * Gate: the optimizer size estimate vs `files.maxPartitionBytes` —
    * an input under one split's worth of bytes plans as ~1 scan task.
    * (The direct gate, `df.rdd.getNumPartitions`, measured ~50 ms WARM
    * per call — it physically plans the scan RDD; the stats read is
    * ~5 ms and uses the same estimate machinery as [[explodeWidth]].
    * Inputs between one split and session-width splits stay unspread —
    * that mid-regime belongs to [[explodeWidth]]'s widened branch.) */
  def spread(df: DataFrame): DataFrame = {
    val conf = df.sparkSession.sessionState.conf
    // idempotence: a caller that spread the frame once (a query sharing
    // one spread across operator branches, a sharded merge filtering one
    // spread corpus) must not pay a second exchange — the byte estimate
    // alone can't see the earlier repartition, so check the plan for one
    val alreadySpread = df.queryExecution.analyzed.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation => true
      case _ => false
    }
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (!alreadySpread && bytes > 0 && bytes < (BigInt(Long.MaxValue) >> 10) &&
        bytes < conf.filesMaxPartitionBytes)
      df.repartition(conf.numShufflePartitions)
    else df
  }

  /** Session-level engine registration — the rules an extensions-
    * configured deployment gets from [[graft.GraftExtensions]], attached
    * here for sessions the engine builds itself. ONE registration path
    * per session kind: extensions sessions get the rule from
    * `injectOptimizerRule` only, engine-built sessions from
    * `extraOptimizations` only (registering from a table-read helper, as
    * before round 15, put it in BOTH optimizer batches on extensions
    * sessions and mutated session state from a reader). Idempotent. */
  def attach(s: SparkSession): SparkSession = {
    // ORDER CONTRACT: SmallSortSinglePartition must run before
    // DeferExpensiveSortProject (its register() prepends, so either call
    // order lands it first) — a small sort collapses to one partition and
    // the defer rule then correctly leaves expensive projections BELOW
    // the all-to-one exchange where they evaluate in parallel; reversed,
    // deferred projections would evaluate serially above the single-
    // partition sort (see SmallSortSinglePartition's scaladoc).
    graft.plans.DeferExpensiveSortProject.register(s)
    graft.plans.SmallSortSinglePartition.register(s)
    s
  }

  /** Local core count for the mains: `SPARK_GRAFT_CPUS`, else 4. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  /** Local session for specs, tools and the mains: `cores` local threads
    * and as many shuffle partitions. Every session the engine builds for
    * itself comes from here. */
  def local(cores: Int = defaultCores, tz: String = "UTC"): SparkSession = {
    val s = tune(
      SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", tz)
        // static conf: managed-table writes (bucketing tests) land in tmp
        .config("spark.sql.warehouse.dir",
          java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
        .config("spark.ui.enabled", "false")
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    attach(s)
  }

  /** Drop every block a query left behind, at both layers: catalog caches
    * (`persist`) and RDD-level blocks (`localCheckpoint` generations, which
    * `clearCache` never sees). Blocking, so the next query starts with the
    * storage memory free. The harness mains call it between queries. */
  def releaseCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
