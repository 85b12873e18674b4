package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Collapses a global sort over a provably-SMALL child onto a single
  * partition, eliminating the range exchange and its sampling pass.
  *
  * A global `Sort` physically plans as `Exchange rangepartitioning` and
  * pays three distinct costs the sorted RESULT does not require when it
  * is small (guide §2.4 "remove shuffles outright"):
  *
  *  1. the RangePartitioner's reservoir-sampling pass executes the
  *     child subtree a SECOND time to pick bounds (the same double
  *     execution [[DeferExpensiveSortProject]] moves expensive scalar
  *     projections away from — but the scan/join/filter body itself
  *     still runs twice);
  *  2. the sampling is its own scheduled JOB, plus an AQE stage round —
  *     fixed dispatch per query;
  *  3. the sorted read fans over `shuffle.partitions` reducers that AQE
  *     then coalesces back down — width the result never needed.
  *
  * When the child's optimizer size estimate is KNOWN and under the
  * calibrated threshold ([[DefaultMaxBytes]]) — i.e. AQE would have
  * coalesced the sorted read to ~1 partition anyway — the rewrite
  *
  *   `Sort(order, global, small)` →
  *   `Sort(order, global, Repartition(1, shuffle = true, small))`
  *
  * produces the identical global ordering: `Repartition(1)` plans as
  * `Exchange SinglePartition` (one all-to-one shuffle, NO pre-shuffle
  * local sort — the SPARK-23207 round-robin determinism sort is skipped
  * at numPartitions = 1, where row routing cannot diverge on retry),
  * `SinglePartition` satisfies `OrderedDistribution`, so EnsureRequirements
  * plans no range exchange and the sort runs as ONE local sort of the
  * whole (small) result. The child executes once; rows and their sorted
  * order are exactly those of the range-partitioned plan.
  *
  * Scale posture: the gate is the same stats mechanism as
  * [[graft.GraftSession.explodeWidth]] — a child whose estimate is
  * unknown (sentinel-propagated) or ≥ the advisory partition size keeps
  * the range-sort plan untouched, so a 100 TB sorted output still range
  * partitions and sorts in parallel. This is not a fixture constant:
  * "sort results that fit one advisory partition on one task" holds on
  * any deployment, and the threshold follows the session's advisory
  * partition size unless overridden.
  *
  * Ordering contract with [[DeferExpensiveSortProject]]: THIS rule must
  * run FIRST (GraftSession.attach / GraftExtensions register it ahead).
  * Once the sort is collapsed, the defer rule no longer matches (its
  * pattern needs a Project directly under the sort) — correctly so: with
  * no sampling pass there is no double execution, and expensive
  * projections are better evaluated in PARALLEL below the all-to-one
  * exchange than serially above a single-partition sort, which is
  * exactly what the reversed order would produce.
  *
  * Skips:
  *  - sorts under a Limit (planned as TakeOrderedAndProject — no range
  *    exchange, nothing to collapse, and rewriting would break that
  *    pattern);
  *  - children that already end in a single partition (a global
  *    aggregate, a global limit, another global sort, an existing
  *    Repartition(1)): their sort already plans exchange-free, and the
  *    rewrite would ADD a shuffle;
  *  - unknown or ≥-threshold size estimates (never collapse on garbage
  *    stats — the explodeWidth rule).
  *
  * `spark.graft.smallsort.maxBytes` overrides the threshold (0 disables
  * the rule — how PlanGoldenSpec reproduces the pre-rule plan shape).
  */
object SmallSortSinglePartition extends Rule[LogicalPlan] {

  /** Children whose physical plan already ends single-partition (their
    * `Sort` plans no exchange at all) — adding Repartition(1) would be a
    * pure pessimization. Conservative: anything unrecognized is treated
    * as multi-partition (worst case we add an all-to-one exchange that
    * replaces a range exchange — never a new cost class). */
  private def endsSinglePartition(p: LogicalPlan): Boolean = p match {
    case a: Aggregate if a.groupingExpressions.isEmpty => true
    case s: Sort if s.global => true
    case _: GlobalLimit => true
    case r: Repartition if r.numPartitions == 1 => true
    case r: RepartitionByExpression if r.optNumPartitions.contains(1) => true
    case Project(_, c) => endsSinglePartition(c)
    case Filter(_, c) => endsSinglePartition(c)
    case SubqueryAlias(_, c) => endsSinglePartition(c)
    case _ => false
  }

  /** Default collapse threshold: 2 MB of ESTIMATED child bytes.
    * Calibrated against the sf0.1 registry (r21, solo ProbeQuery ×8
    * pairs): results estimated under ~1.5 MB win consistently
    * (dd_fingerprint 0.34→0.24 s, a04_sum_time_buckets 0.42→0.35 s —
    * the sampling job + range machinery dominates), the 2.6–3 MB class
    * is a wash (p01, j02), and the first measured REGRESSION is at
    * 4.6 MB (u02: 0.9→1.4 s — the serial single-task tail outgrows the
    * saved sampling). 2 MB keeps every measured win and excludes every
    * measured wash/regression with margin. Host-independent reasoning,
    * not a local[32] constant: one task sorting ≤2 MB always beats an
    * extra sampling execution + an N-reducer range exchange. */
  val DefaultMaxBytes: Long = 2L << 20

  private def threshold(): Long = {
    val raw = conf.getConfString("spark.graft.smallsort.maxBytes",
      DefaultMaxBytes.toString)
    // malformed override must not turn every query into a parse error —
    // same posture as explodeWidth's conf handling
    scala.util.Try(org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw))
      .getOrElse(DefaultMaxBytes)
  }

  private def small(child: LogicalPlan, lim: Long): Boolean =
    graft.GraftSession.knownBytes(child.stats).exists(_ < lim)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val lim = threshold()
    if (lim <= 0) return plan
    // Sorts feeding a Limit plan as TakeOrderedAndProject — identical
    // skip set to DeferExpensiveSortProject's
    val underLimit: Set[LogicalPlan] = plan.collect {
      case GlobalLimit(_, LocalLimit(_, s: Sort)) => Seq(s)
      case GlobalLimit(_, LocalLimit(_, Project(_, s: Sort))) => Seq(s)
      case LocalLimit(_, s: Sort) => Seq(s)
      case LocalLimit(_, Project(_, s: Sort)) => Seq(s)
    }.flatten.toSet
    plan.transform {
      case s @ Sort(order, true, child, hint)
          if !underLimit.contains(s) && !endsSinglePartition(child) &&
            small(child, lim) =>
        Sort(order, global = true, Repartition(1, shuffle = true, child), hint)
    }
  }

  /** Idempotent session registration. MUST precede
    * [[DeferExpensiveSortProject]] in the optimization list (see the
    * ordering contract above) — [[graft.GraftSession.attach]] registers
    * in that order, and re-registration keeps the existing position. */
  def register(spark: SparkSession): Unit = spark.experimental.synchronized {
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_.isInstanceOf[SmallSortSinglePartition.type]))
      spark.experimental.extraOptimizations = SmallSortSinglePartition +: cur
  }
}
