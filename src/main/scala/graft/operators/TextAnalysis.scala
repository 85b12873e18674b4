package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis columns for a large-scale training-data pipeline: token
  * counting, quality scoring, n-gram language ID, normalization and
  * fingerprinting. All pure built-in expressions (codegen'd, no UDFs) so
  * they stay inside whole-stage codegen at 100 TB.
  */
object TextAnalysis {

  /** Sequence packing assignments: place every doc at a deterministic
    * token offset inside a (shard, pack) so a training job can
    * concatenate-and-chunk without a global sort. Shard and order come
    * from the portable id hash (stable across runs/engines/cluster
    * sizes); offset is an exclusive running token sum per shard, pack_id
    * = offset / tokenBudget. One window per shard — shards bound the
    * partition size, so this scales by raising `shards`. */
  def packAssignments(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      tokenBudget: Int, shards: Int): org.apache.spark.sql.DataFrame =
    packAssignmentsFromCounts(
      df.select(col(idCol), tokenCount(col(textCol)).cast("long").as("n_tokens")),
      idCol, "n_tokens", tokenBudget, shards)

  /** [[packAssignments]] over an already-computed token-count column — so
    * a pipeline that counted tokens upstream (the budget-select step
    * does) packs without re-tokenizing the corpus. */
  def packAssignmentsFromCounts(df: org.apache.spark.sql.DataFrame, idCol: String,
      nTokensCol: String, tokenBudget: Int, shards: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shard").orderBy(col("h"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(col(idCol), col(nTokensCol).cast("long").as("n_tokens"))
      .withColumn("h", Dedup.portableHash60(col(idCol).cast("string")))
      .withColumn("shard", pmod(col("h"), lit(shards)))
      .withColumn("offset_tokens", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("pack_id", (col("offset_tokens") / tokenBudget).cast("long"))
      .drop("h")
  }

  /** Repetition profile per document — the Gopher-style "fraction of the
    * text covered by the most frequent n-gram" quality filter: boilerplate
    * and spam score high, prose scores low. Returns
    * (id, n_grams, top_gram_count, top_gram_frac) computed from exact
    * integer counts over a postings stream (posexplode + lead — same
    * codegen-friendly shape as the dedup shingling; no interpreted
    * lambdas). Docs shorter than `n` words count their single whole-text
    * shingle (frac 1.0). */
  def repetitionProfile(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      n: Int = 2): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("id").orderBy("pos")
    val words = Dedup.wordPosts(df, idCol, textCol)
    val parts = col("w") +: (1 until n).map(k => lead(col("w"), k).over(w))
    val grams = words
      .withColumn("last_w", lead(col("w"), n - 1).over(w))
      .withColumn("g", concat_ws(" ", parts: _*))
      .filter(col("last_w").isNotNull || col("pos") === 0)
      .select(col("id"), col("g"))
    // No repartition here: wordPosts' hash(id) layout (widened beyond
    // fixture via graft.GraftSession.explodeWidth) satisfies BOTH
    // aggregates' clustering — (id, g) and (id) are supersets of the
    // partitioning key — so the whole profile runs exchange-free after
    // the postings shuffle, at fixture width or the widened one.
    grams.groupBy("id", "g").agg(count(lit(1)).as("c"))
      .groupBy("id").agg(sum(col("c")).as("n_grams"), max(col("c")).as("top_gram_count"))
      .select(col("id"), col("n_grams"), col("top_gram_count"),
        (col("top_gram_count").cast("double") / col("n_grams").cast("double")).as("top_gram_frac"))
  }

  /** PII scrubbing — redact emails and URLs with typed placeholders and
    * report match counts (the audit column a redaction pipeline keeps).
    * Patterns avoid lookarounds/backrefs so the same regex runs on
    * RE2-based engines (the oracle) and Java's engine identically. */
  val EmailPattern = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val UrlPattern = "https?://[^ \\t\\n\\r]+"

  def scrubPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailPattern, "[EMAIL]"), UrlPattern, "[URL]")

  def emailCount(text: Column): Column = regexp_count(text, lit(EmailPattern))
  def urlCount(text: Column): Column = regexp_count(text, lit(UrlPattern))

  /** The fused one-pass char/token profile ([[graft.functions.TextProfile]]).
    * Several helpers below read different fields of the SAME profile call;
    * whole-stage codegen's subexpression elimination evaluates the pass
    * once per row however many fields a projection touches. */
  private def profile(text: Column): Column =
    org.apache.spark.sql.graftops.PlanApi.column(
      graft.functions.TextProfile(
        org.apache.spark.sql.graftops.PlanApi.expression(text)))

  /** Whitespace token count (0 for blank text). Split semantics, fused:
    * `size(split(trim(text), "\\s+"))` with the blank guard — see the
    * parity contract on [[graft.functions.TextProfile]]. */
  def tokenCount(text: Column): Column = profile(text).getField("n_tokens")

  /** BPE-ish subword pre-token count: letter runs, digit runs, single
    * punctuation marks — the GPT-2-style pre-tokenizer split, minus
    * lookarounds so the same pattern runs on RE2 engines (the oracle).
    * Whitespace is spelled out because Java `\s` includes vertical tab
    * while RE2's does not — the explicit class keeps both engines equal. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\f\\r]"), lit(0)))

  /** Normalize: lowercase, trim, collapse whitespace runs to one space. */
  def normalize(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Stable content fingerprint of the normalized text (hex md5). */
  def fingerprint(text: Column): Column =
    md5(normalize(text).cast("binary"))

  /** Ratio of non-alphanumeric/space chars to total length (0 if empty).
    * Counts come from the fused profile pass, not a regexp_replace walk. */
  def punctRatio(text: Column): Column = punctRatioFrom(profile(text))

  /** [[punctRatio]] from a pre-staged profile struct — identical
    * expression tree; lets a multi-consumer projection evaluate the
    * profile pass once (see [[qualityLogit]] for why that matters:
    * codegen subexpression elimination skips conditional branches). */
  def punctRatioFrom(p: Column): Column = {
    val total = p.getField("n_chars")
    when(total === 0, lit(0.0))
      .otherwise(p.getField("n_punct").cast("double") / total.cast("double"))
  }

  /** Mean token length (0 if no tokens). */
  def meanTokenLen(text: Column): Column = meanTokenLenFrom(profile(text))

  /** [[meanTokenLen]] from a pre-staged profile struct. */
  def meanTokenLenFrom(p: Column): Column = {
    val n = p.getField("n_tokens")
    when(n === 0, lit(0.0))
      .otherwise(p.getField("n_nonws").cast("double") / n.cast("double"))
  }

  /** Simple quality score in [0,1]: favors mid-length docs with low
    * punctuation and sane token lengths (deterministic heuristic). */
  def qualityScore(text: Column): Column = qualityScoreFrom(text, profile(text))

  /** [[qualityScore]] from a pre-staged profile struct — same IEEE
    * chain, so scores are bit-identical; only the number of profile
    * evaluations per row changes. */
  def qualityScoreFrom(text: Column, p: Column): Column = {
    val lenScore = least(length(text).cast("double") / lit(500.0), lit(1.0))
    val punctScore = lit(1.0) - least(punctRatioFrom(p) * 4.0, lit(1.0))
    val tokScore = when(meanTokenLenFrom(p).between(2.0, 12.0), lit(1.0)).otherwise(lit(0.5))
    round((lenScore + punctScore + tokScore) / 3.0, 6)
  }

  /** Stopword-hit language guess over a fixed marker set — the classic
    * n-gram/stopword heuristic, expressed as searchable substrings so the
    * same logic is expressible in ANSI SQL for the oracle. */
  def langGuess(text: Column): Column = {
    val t = concat(lit(" "), lower(text), lit(" "))
    def hits(words: Seq[String]): Column =
      words.map(w => when(t.contains(s" $w "), 1).otherwise(0)).reduce(_ + _)
    val en = hits(Seq("the", "and", "of", "is"))
    val de = hits(Seq("der", "und", "die", "ist"))
    val es = hits(Seq("el", "los", "que", "es"))
    val fr = hits(Seq("le", "les", "et", "est"))
    when(en >= de && en >= es && en >= fr && en > 0, lit("en"))
      .when(de >= es && de >= fr && de > 0, lit("de"))
      .when(es >= fr && es > 0, lit("es"))
      .when(fr > 0, lit("fr"))
      .otherwise(lit("unk"))
  }

  /** Word n-gram shingles of the normalized text. Built with per-shingle
    * `element_at` lookups (O(1) each) rather than `slice` (which allocates
    * a sub-array per shingle) — higher-order lambdas are interpreted, not
    * codegen'd, so constant factors matter here.
    *
    * CAUTION: when this column is inlined into a single projection over
    * the raw text, every `element_at` in the lambda re-evaluates the
    * whole `split(normalize(text))` subtree — O(words²) regexp work per
    * doc (measured 38× slower at sf0.1). For a corpus-wide shingle
    * stream use [[shingleStream]], which materializes the word array
    * behind a projection boundary first. */
  def shingles(text: Column, n: Int): Column = {
    val words = split(normalize(text), " ")
    when(size(words) < n, array(normalize(text)))
      .otherwise(transform(
        sequence(lit(0), size(words) - n),
        i => concat_ws(" ", (1 to n).map(k => element_at(words, (i + k).cast("int"))): _*)))
  }

  /** Corpus-wide shingle stream at scan speed — one row per word
    * `n`-gram occurrence, column `sg` (short docs yield their whole
    * normalized text; null text yields nothing; duplicates NOT
    * collapsed). The word array is materialized in its own projection
    * so the shingle lambda's `element_at` lookups hit a bound attribute
    * instead of re-running `split(normalize(text))` per element (the
    * [[shingles]] caution — CollapseProject keeps the boundary because
    * `ws` is referenced `n`+1 times). Zero shuffle, unlike the
    * window-`lead` assembly in the dedup family, which pays a
    * repartition by doc id — use that when per-doc positions matter,
    * this when only the shingle stream does. */
  def shingleStream(df: org.apache.spark.sql.DataFrame, textCol: String,
      n: Int): org.apache.spark.sql.DataFrame = {
    val norm = normalize(col(textCol))
    // "zero shuffle" holds only when the scan is parallel: a single-file
    // table plans as ONE split and the whole normalize/shingle fan-out
    // runs serially (r20, measured). The spread belongs to the CALLER
    // (see TextSketches.countMinSketch): it paid for the whole-corpus
    // consumers (ta_hll_distinct) and lost for sharded ones.
    df.select(norm.as("t"), split(norm, " ").as("ws"))
      .select(explode(when(size(col("ws")) < n, array(col("t")))
        .otherwise(transform(sequence(lit(0), size(col("ws")) - n),
          i => concat_ws(" ",
            (1 to n).map(k => element_at(col("ws"), (i + k).cast("int"))): _*)))).as("sg"))
  }

  /** Granularity of the [[sampleKeep]] rate threshold: rates are honored
    * to 1 part per million. */
  val SampleResolution: Int = 1000000

  /** Deterministic stratified-sampling predicate — the corpus-mixing
    * primitive (sample each language/source at its own rate to hit a
    * target mixture). Keep a row iff its salted portable id hash lands
    * under `rate × `[[SampleResolution]]; `rate` is itself a Column so
    * the per-stratum rate can come from a CASE over the stratum column
    * or from a joined rates table. Pure per-row expression (no RNG, no
    * shuffle, runs at scan speed on 100 TB), stable across runs, engines
    * and cluster sizes, and independent of [[graft.operators.Dedup.hashBucket]]
    * splits thanks to the salt — a doc's train/val/test assignment never
    * correlates with whether it is sampled. Null ids never pass (an
    * unidentified row must not slip into a sampled corpus). */
  def sampleKeep(idCol: Column, rate: Column, salt: String = "#sample"): Column = {
    val h = pmod(Dedup.portableHash60(concat(idCol.cast("string"), lit(salt))),
      lit(SampleResolution))
    // double compare, no cast: Spark's double→long cast truncates while
    // DuckDB's rounds, so a threshold cast would diverge between engines;
    // the product itself is the same double everywhere
    h < rate * SampleResolution
  }

  /** Exact-count stratified sampling: exactly `min(n, |stratum|)` rows
    * per stratum, chosen by salted-hash order — the fixed-size eval-set
    * builder next to the rate-based [[sampleKeep]]. Deterministic across
    * runs/engines/cluster sizes (hash order + id tie-break, no RNG), and
    * independent of [[sampleKeep]]/[[Dedup.hashBucket]] choices thanks
    * to the salt. Null ids never qualify (no stable identity — same rule
    * as [[sampleKeep]]). One bounded window per stratum. */
  def sampleExact(df: org.apache.spark.sql.DataFrame, idCol: String,
      stratumCol: String, n: Int,
      salt: String = "#exact"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    requireFreshColumns(df, "sampleExact", Seq("_x_rn")) // internal scratch
    val h = Dedup.portableHash60(concat(col(idCol).cast("string"), lit(salt)))
    val w = Window.partitionBy(stratumCol).orderBy(h, col(idCol))
    df.filter(col(idCol).isNotNull)
      .withColumn("_x_rn", row_number().over(w))
      .filter(col("_x_rn") <= n)
      .drop("_x_rn")
  }

  private def requireFreshColumns(df: org.apache.spark.sql.DataFrame,
      op: String, cols: Seq[String]): Unit =
    Guards.requireFreshColumns(df, s"TextAnalysis.$op", cols)

  /** EPOCH-REPETITION CORPUS MIXING — the data-budget stage that repeats
    * scarce high-quality sources ("4 epochs of wiki, 1.5 of books, 1 of
    * web"): each doc replicates `floor(e)` times plus one more for a
    * deterministic `frac(e)` share of its stratum ([[sampleKeep]] under
    * its own salt — uncorrelated with split/sample decisions). Output is
    * one row per (doc, epoch), epoch 0-based; factor-0 strata drop out.
    * Downstream shuffling ([[shufflePositions]]) interleaves replicas.
    *
    * Scale shape: pure per-row expressions plus a bounded explode
    * (≤ ceil(max factor) rows out per row in — the factor table is
    * config-sized and rides inside the codegen'd CASE chain). Fractional
    * factors honor [[SampleResolution]] granularity, same contract as
    * [[sampleKeep]]. Null ids carry no stable replica identity and are
    * excluded (the [[sampleKeep]] rule). */
  def epochMix(df: org.apache.spark.sql.DataFrame, idCol: String,
      stratumCol: String, epochs: Map[String, Double],
      defaultEpochs: Double = 1.0): org.apache.spark.sql.DataFrame = {
    require((epochs.values ++ Seq(defaultEpochs)).forall(e => e >= 0 && e <= 100),
      "epoch factors must be in [0, 100]")
    val factor = epochs.toSeq.sortBy(_._1).foldLeft(lit(defaultEpochs)) {
      case (acc, (k, v)) => when(col(stratumCol) === k, lit(v)).otherwise(acc)
    }
    val extra = when(sampleKeep(col(idCol), factor - floor(factor), "#epoch"), 1)
      .otherwise(0)
    df.filter(col(idCol).isNotNull)
      .select(col(idCol), col(stratumCol).as("stratum"),
        (floor(factor).cast("int") + extra).as("n_epochs"))
      .filter(col("n_epochs") > 0)
      .select(col(idCol), col("stratum"), col("n_epochs"),
        explode(sequence(lit(0), col("n_epochs") - 1)).as("epoch"))
  }

  /** Token-budget corpus selection — fill a per-stratum token budget in
    * priority order (quality score, recency, …) and stop: the data-
    * selection step between filtering and packing. A doc is kept iff the
    * running token total of all strictly-higher-priority docs in its
    * stratum is still under `tokenBudget` — so the first doc that
    * CROSSES the budget is still taken (the budget is a target, not a
    * hard cap) and selection is deterministic given the priority.
    * Returns the input plus (n_tokens, cum_tokens, selected).
    *
    * One window per stratum, exclusive running sum — the same bounded
    * shape as [[packAssignments]]: per-stratum data volume bounds the
    * window, and a corpus with one giant stratum should pre-shard it
    * (compose with [[graft.operators.Dedup.hashBucket]]) exactly as a
    * packing job would. */
  def tokenBudgetSelect(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, stratumCol: String, tokenBudget: Long,
      priority: Column,
      precomputedTokens: Option[String] = None): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // reject silent clobbering: these are OUTPUT columns; an input frame
    // already carrying one loses data without warning otherwise.
    // `n_tokens` is exempt only when the caller explicitly declared it
    // as the precomputed token count — that reuse is the contract.
    requireFreshColumns(df, "tokenBudgetSelect",
      Seq("cum_tokens", "selected") ++
        (if (precomputedTokens.contains("n_tokens")) Nil else Seq("n_tokens")))
    val w = Window.partitionBy(stratumCol).orderBy(priority, col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    // pipelines that already tokenized (a length gate upstream) pass the
    // column name instead of paying a second full-text regex split
    val counted = precomputedTokens match {
      case Some(c) => df.withColumn("n_tokens", col(c).cast("long"))
      case None => df.withColumn("n_tokens", tokenCount(col(textCol)).cast("long"))
    }
    counted
      .withColumn("cum_tokens", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("selected", col("cum_tokens") < tokenBudget)
  }

  /** The per-document QUALITY REPORT CARD — one wide feature table
    * (tokens, quality, language guess, PII counts, within-doc repetition,
    * cross-corpus novelty) plus the keep/drop decision a filtering
    * pipeline materializes before corpus assembly. Null-text docs keep
    * their row with null features and a null `keep` (three-valued AND) —
    * an unreadable doc is a review case, not a silent keep or drop. */
  def qualityReport(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val base = df.select(col(idCol),
      tokenCount(col(textCol)).as("n_tokens"),
      qualityScore(col(textCol)).as("quality"),
      langGuess(col(textCol)).as("lang_guess"),
      emailCount(col(textCol)).as("n_emails"),
      urlCount(col(textCol)).as("n_urls"))
    val rep = repetitionProfile(df, idCol, textCol, n = 2)
      .select(col("id").as(idCol), col("top_gram_frac"))
    val nov = noveltyProfile(df, idCol, textCol, n = 3)
      .select(col("id").as(idCol), col("mean_df"))
    base.join(rep, Seq(idCol), "left").join(nov, Seq(idCol), "left")
      .withColumn("keep",
        col("n_tokens") >= 5 && col("quality") >= lit(0.5) &&
        col("top_gram_frac") <= lit(0.5) && col("n_emails") === 0)
  }

  /** Corpus vocabulary induction: the `k` tokens appearing in the most
    * documents, with document frequency and rank — the seed list for
    * tokenizer training, stopword induction and the `maxDocFreq` prunes
    * the dedup family uses. Top-k is `orderBy().limit()` (Spark's
    * distributed TakeOrdered — per-partition heaps, never a global sort
    * of the vocabulary); the ranking window then runs over k rows only.
    * Ties break on the token for determinism. */
  def vocabulary(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Dedup.wordPosts(df, idCol, textCol)
      .select(col("id"), col("w").as("tok"))
      .distinct()
    toks.groupBy("tok").agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("tok")).limit(k)
      .withColumn("rnk", row_number().over(Window.orderBy(col("doc_freq").desc, col("tok"))))
  }

  /** Per-stratum corpus length profile: document count and exact DISCRETE
    * token-length quantiles (p50/p90/p99) — the distribution audit a
    * corpus pipeline runs before choosing packing budgets and length
    * gates. Discrete quantiles (the value AT rank ceil(p·n), computed
    * with pure integer arithmetic) rather than interpolated ones: the
    * result is an actual observed length, and exact integers hash-match
    * any engine — no float position arithmetic anywhere. One bounded
    * window per stratum (the [[tokenBudgetSelect]] scale shape). Null
    * text counts as a null token length, pinned to sort FIRST so rank
    * positions agree across engines. */
  def lengthProfile(df: org.apache.spark.sql.DataFrame, textCol: String,
      stratumCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counted = df.select(col(stratumCol).as("stratum"),
      tokenCount(col(textCol)).cast("long").as("n_tokens"))
    val ranked = counted
      .withColumn("rn", row_number().over(
        Window.partitionBy("stratum").orderBy(col("n_tokens").asc_nulls_first)))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("stratum")))
    // rank of the p-quantile = ceil(p·n) = (num·n + den − 1) div den —
    // true integer division (`div`, not Column./ which is a double Divide
    // and loses exactness past 2^53 rows per stratum), so both engines
    // pick the identical row
    def at(num: Int, den: Int) =
      min(when(col("rn") === expr(s"(n * $num + ${den - 1}) div $den"), col("n_tokens")))
    ranked.groupBy("stratum").agg(
      count(lit(1)).as("n_docs"),
      at(1, 2).as("p50_tokens"),
      at(9, 10).as("p90_tokens"),
      at(99, 100).as("p99_tokens"))
  }

  /** Per-document n-gram novelty: how common this document's shingles are
    * across the corpus. `df_sum` = Σ corpus document-frequency of each
    * distinct shingle, `mean_df` = df_sum / n_shingles — boilerplate and
    * template text score high (its shingles appear everywhere), novel
    * prose scores near 1. The complement of [[repetitionProfile]] (which
    * is within-doc): together they separate "repeats itself" from
    * "repeats the corpus". Exact integer counts; the one division is
    * bitwise-identical across engines. Same inverted-index shape as the
    * dedup family — the postings stream feeds both the document-frequency
    * aggregate and the per-doc rollup. */
  def noveltyProfile(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, n: Int = 3): org.apache.spark.sql.DataFrame = {
    // ONE regime decision for the whole operator: shinglePosts'
    // repartition+persist and the shingle-key exchange below share it
    val width = graft.GraftSession.explodeWidth(df)
    val posts0 = Dedup.shinglePosts(df, idCol, textCol, n, width)
    // the document-frequency agg and the postings side of the join both
    // need clustering on `s`; beyond-fixture inputs take ONE wide
    // exchange here that serves both (fixture inputs: no-op, plans and
    // goldens unchanged) — see graft.GraftSession.explodeWidth
    val posts = width match {
      case Some(wide) => posts0.repartition(wide, col("s"))
      case None       => posts0
    }
    val dfreq = posts.groupBy("s").agg(count(lit(1)).as("df_s"))
    posts.join(dfreq, Seq("s"))
      .groupBy("id").agg(
        count(lit(1)).as("n_shingles"),
        sum(col("df_s")).as("df_sum"))
      .select(col("id"), col("n_shingles"), col("df_sum"),
        (col("df_sum").cast("double") / col("n_shingles").cast("double")).as("mean_df"))
  }

  /** Deterministic global shuffle positions — the training-order
    * randomization every corpus pipeline needs before packing. Returns a
    * NARROW MAPPING (`idCol`, `shard`, `shuffle_pos`): every non-null id
    * gets a unique position in [0, n) ordered by (shard, salted id hash,
    * id) — a stable pseudo-random permutation with no RNG state — and
    * callers join it back to their wide frame by id. Null-id rows are
    * EXCLUDED (a row with no identity has no stable tie-break, so any
    * position assigned to it would be nondeterministic — the same reason
    * [[sampleKeep]] never samples them).
    *
    * Scale shape: a bare `row_number() OVER (ORDER BY hash)` would drag
    * the whole corpus through ONE partition. Instead positions compose
    * from `shards` independent per-shard windows (each bounded, spills
    * never concentrate) plus an exclusive prefix-sum of the tiny
    * per-shard counts (`shards` rows, broadcast back) — the same
    * two-level shape as [[packAssignments]]. Raising `shards` bounds the
    * per-window size at any corpus scale. Only the narrow (id, hash,
    * shard) projection is persisted — it feeds both the counts and the
    * windowed branch (plan-branch recompute would run the upstream
    * pipeline twice), and keeping it id-only means the cache never holds
    * corpus text; callers release it with `clearCache()` as with the
    * dedup postings. */
  def shufflePositions(df: org.apache.spark.sql.DataFrame, idCol: String,
      shards: Int, salt: String = "#shuffle"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df
      .select(col(idCol))
      .filter(col(idCol).isNotNull)
      .withColumn("_g_h", Dedup.portableHash60(concat(col(idCol).cast("string"), lit(salt))))
      .withColumn("shard", pmod(col("_g_h"), lit(shards)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perShard = row_number()
      .over(Window.partitionBy("shard").orderBy(col("_g_h"), col(idCol)))
    // per-shard counts are `shards` rows — the single-partition window
    // here is metadata-sized, never the corpus
    val offsets = base.groupBy("shard").agg(count(lit(1)).as("_g_cnt"))
      .withColumn("_g_off", coalesce(
        sum(col("_g_cnt")).over(Window.orderBy("shard")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("shard"), col("_g_off"))
    base.withColumn("_g_rn", perShard)
      .join(broadcast(offsets), Seq("shard"))
      .withColumn("shuffle_pos", col("_g_off") + col("_g_rn") - 1)
      .select(col(idCol), col("shard"), col("shuffle_pos"))
  }

  /** Fixed-window document chunking with overlap — split every doc's
    * token stream into windows of `chunkTokens` tokens advancing by
    * `chunkTokens - overlap`, the long-document preprocessing step
    * between cleaning and packing (a 200k-token doc cannot ride one
    * training row). Chunk count is exact integer arithmetic
    * (`ceil(max(0, n - chunkTokens) / step) + 1` — every token is
    * covered, the last window may be short), so engines agree
    * bit-for-bit.
    *
    * Scale shape: pure per-row expressions (split + `transform`/`slice`
    * + posexplode) — NO shuffle, no window, runs at scan speed and
    * parallelizes with the scan at any corpus size; the interpreted
    * higher-order lambda here is per-CHUNK (bounded by n/step per doc),
    * not per-token-pair, so it stays off the hot-loop list. Null and
    * empty texts yield no chunks (nothing to train on). Returns
    * (id, chunk_id, n_chunks, chunk_tokens, chunk_text). */
  def chunkDocuments(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, chunkTokens: Int, overlap: Int = 0): org.apache.spark.sql.DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got chunkTokens=$chunkTokens overlap=$overlap")
    val step = chunkTokens - overlap
    val words = split(normalize(col(textCol)), " ")
    val n = size(words)
    // ceil division via truncated double divide: exact for any n < 2^40
    // (the quotient's distance to an integer is >= 1/step, far above the
    // half-ulp rounding error)
    val nc = (greatest(n - chunkTokens, lit(0)) + (step - 1))
      .divide(step).cast("int").plus(1)
    df.filter(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(col(idCol).as("id"), words.as("_w"), n.as("_n"), nc.as("_nc"))
      .select(col("id"), col("_n"), col("_nc").as("n_chunks"),
        posexplode(transform(sequence(lit(0), col("_nc") - 1),
          i => concat_ws(" ", slice(col("_w"), i * step + 1, lit(chunkTokens))))))
      .select(col("id"), col("pos").as("chunk_id"), col("n_chunks"),
        least(lit(chunkTokens), col("_n") - col("pos") * step)
          .as("chunk_tokens"), col("col").as("chunk_text"))
  }

  /** Per-document keyword extraction — the top-`k` terms of each doc by
    * tf-idf ordering, from EXACT integer statistics: `tf` (term count in
    * the doc) and `df` (number of docs containing the term) are integer
    * aggregates, and the score is `tf · n_docs / df` — a "raw-ratio" idf
    * rather than `log(n/df)`, chosen deliberately: IEEE multiply/divide
    * are correctly rounded (bit-identical in every engine) while `ln` is
    * libm-dependent, and for a FIXED tf the two orderings agree (log is
    * monotone). Terms in more than `maxDfFrac` of the corpus are dropped
    * (inline stopword prune — the [[vocabulary]] head, applied).
    *
    * Scale shape: both aggregates are map-side-combinable groupBys over
    * the shared postings stream; `n_docs` rides in as a broadcast
    * one-row aggregate (no driver action — the plan stays lazy); the
    * ranking window partitions by doc id, bounded by per-doc vocabulary.
    * Returns (id, term, tf, df, score, rn ≤ k).
    *
    * Persistence: the (id, term, tf) frame is persisted (MEMORY_AND_DISK),
    * filled by the result's first action. The caller owns releasing it: the
    * cache is not reachable from the returned frame, so a long-lived session
    * drops it with `spark.catalog.clearCache()` once done with the result, or
    * accumulates one cache per call until the ContextCleaner reclaims it. */
  def tfidfKeywords(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int = 3,
      maxDfFrac: Double = 0.5): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Persist tf (r21, measured): the frame feeds both the join's left
    // side and the document-frequency aggregate, and the postings
    // explode above wordPosts' exchange re-executed per reference (the
    // pmiBigrams finding). Per-doc-distinct-word bounded.
    val tf = Dedup.wordPosts(df, idCol, textCol)
      .filter(col("w") =!= "")
      .groupBy("id", "w").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val nDocs = df.select(countDistinct(col(idCol)).as("n_docs"))
    val w = Window.partitionBy("id").orderBy(col("score").desc, col("w"))
    // Left outer, not inner: every word of tf has its df row, so both give
    // the same rows, but only the outer join fixes which side AQE may
    // broadcast. Inner, AQE broadcast whichever small side it had sized
    // first; when tf's cached stage won the race (about 1 evaluation in
    // 16 at fixture scale) it broadcast tf, lost tf's id layout and put an
    // exchange before the window on id. Streaming tf keeps that layout.
    // The df filter tolerates a null df (none occurs) so that the
    // optimizer does not turn the join back into an inner one.
    tf.join(dfreq, Seq("w"), "left")
      .join(broadcast(nDocs))
      .filter(coalesce(col("df"), lit(0L)).cast("double") <= col("n_docs") * maxDfFrac)
      .withColumn("score", col("tf").cast("double") * col("n_docs") / col("df"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("id"), col("w").as("term"), col("tf"), col("df"),
        col("score"), col("rn"))
  }

  /** Per-domain reference profile — extract every URL embedded in the
    * corpus text, reduce to its (lowercased) host, and count documents
    * and total references per domain: the aggregate behind domain-level
    * blocklists and source-quality weighting in a crawl pipeline. Pure
    * regexp expressions (codegen'd, scan-speed) feeding one
    * map-side-combinable aggregate; `n_docs` is distinct-per-domain,
    * bounded by the domain's posting list. Returns
    * (domain, n_docs, n_refs). */
  def domainProfile(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    // UrlPattern runs to the next whitespace, so a sentence-final URL
    // drags its punctuation along ("see https://x.org." / "(https://x.org)"
    // → hosts "x.org." / "x.org)") — strip trailing punctuation or the
    // per-domain aggregate fragments and a blocklist on "x.org" misses
    val rawHost = regexp_replace(
      lower(regexp_extract(col("url"), "https?://([^/ \\t\\n\\r]+)", 1)),
      "[.,;:)\\]]+$", "")
    // userinfo ("user@host") and an explicit port ("host:8080") are part
    // of the URL authority, not the domain — strip both, else
    // "x.org:8080" and "anon@x.org" fragment away from "x.org" and a
    // domain blocklist/weight misses them
    val host = regexp_replace(regexp_replace(rawHost, "^[^@]*@", ""), ":\\d+$", "")
    df.select(col(idCol).as("id"),
        explode(regexp_extract_all(col(textCol), lit(UrlPattern), lit(0))).as("url"))
      .select(col("id"), host.as("domain"))
      .groupBy("domain")
      .agg(countDistinct(col("id")).as("n_docs"), count(lit(1)).as("n_refs"))
  }

  /** Vocabulary drift between two corpus snapshots — the distribution-
    * shift monitor a pipeline runs between ingests: for every token,
    * compare its RATE in corpus A (count `a` of `ta` total tokens) vs
    * corpus B (`b` of `tb`) by exact integer cross-multiplication:
    * `drift = |a·tb − b·ta|` — zero iff the rates are identical, and
    * ranking by it equals ranking by |a/ta − b/tb| scaled by `ta·tb`,
    * with NO floating point anywhere (no rate division, no float sum —
    * the report is bit-exact in any engine). Returns the top-`k` tokens
    * by drift with both counts and the signed cross-difference.
    *
    * Overflow bound: `a·tb` must fit int64 — safe while each corpus
    * holds under ~3·10⁹ tokens; beyond that, run per-shard (compose
    * with [[graft.operators.Dedup.hashBucket]]) or widen to decimals.
    *
    * Scale shape: two map-side-combinable token counts, a full outer
    * join on token (vocabulary-sized, far smaller than the corpora),
    * one-row totals broadcast, then distributed TakeOrdered for the
    * top-k (the [[vocabulary]] shape — never a global sort).
    *
    * Persistence: the joined (token, n_a, n_b) vocabulary is persisted
    * (MEMORY_AND_DISK), filled by the result's first action. The caller owns
    * releasing it: the cache is not reachable from the returned frame, so a
    * long-lived session drops it with `spark.catalog.clearCache()` once done
    * with the result, or accumulates one cache per call until the
    * ContextCleaner reclaims it. */
  def vocabularyDrift(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def counts(df: org.apache.spark.sql.DataFrame, out: String) =
      Dedup.wordPosts(df, idCol, textCol)
        .filter(col("w") =!= "")
        .groupBy("w").agg(count(lit(1)).as(out))
    val ca = counts(a, "n_a")
    val cb = counts(b, "n_b")
    // persisted (r21): the joined vocabulary feeds the totals row AND
    // the final projection — unpersisted, the whole two-corpus explode +
    // aggregate + full-outer join executed twice (the pmiBigrams
    // finding). Vocabulary-bounded.
    val joined = ca.join(cb, Seq("w"), "full_outer")
      .select(col("w"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = joined.select(
      sum(col("n_a")).as("total_a"), sum(col("n_b")).as("total_b"))
    joined.join(broadcast(totals))
      .withColumn("cross_diff", col("n_a") * col("total_b") - col("n_b") * col("total_a"))
      .withColumn("drift", abs(col("cross_diff")))
      .orderBy(col("drift").desc, col("w")).limit(k)
      .withColumn("rnk", row_number().over(Window.orderBy(col("drift").desc, col("w"))))
      .select(col("w").as("token"), col("n_a"), col("n_b"),
        col("cross_diff"), col("drift"), col("rnk"))
  }

  /** Temperature-flattened corpus mixing — the multilingual/multi-source
    * sampling step (XLM-R style): stratum `s` with `n_s` docs gets a
    * target of `budget · n_s^(1/T) / Σ n^(1/T)` docs, which up-weights
    * small strata as `T` grows; the target is then filled
    * deterministically by salted-hash order (no RNG — same machinery as
    * [[sampleExact]]).
    *
    * Exact-arithmetic posture: at the default `T = 2` the weight is
    * `sqrt(n_s)` — IEEE sqrt is correctly rounded, so it is
    * bit-identical in every engine (other temperatures go through
    * `pow`, which is libm-dependent — fine in production, not
    * oracle-exact). Weights are then quantized to integer MICRO-weights
    * (`floor(√n · 10⁶)`), so the cross-strata normalization is an
    * order-independent INTEGER sum and each target is one integer
    * division `(budget · w_micro) div Σw_micro` — no float summation
    * anywhere. Bounds: `budget · w_micro` must fit int64, i.e.
    * budget · √(max stratum) < 9.2e12 — ample for any real mix table.
    *
    * Scale shape: stratum sizes are one map-side-combinable count; the
    * targets table is strata-sized (tiny, broadcast); selection is one
    * bounded per-stratum window. Returns the selected rows as
    * (id, stratum, n_docs, target). */
  def temperatureMix(df: org.apache.spark.sql.DataFrame, idCol: String,
      stratumCol: String, budget: Long, temperature: Double = 2.0,
      salt: String = "#mix"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nd = col("n_docs").cast("double")
    val wRaw = if (temperature == 2.0) sqrt(nd) else pow(nd, lit(1.0 / temperature))
    val weights = df.filter(col(idCol).isNotNull)
      .groupBy(col(stratumCol).as("stratum"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("w_micro", floor(wRaw * 1e6).cast("long"))
    val total = weights.select(sum(col("w_micro")).as("w_total"))
    val targets = weights.join(broadcast(total))
      .withColumn("target", expr(s"($budget * w_micro) div w_total"))
      .select(col("stratum"), col("n_docs"), col("target"))
    val h = Dedup.portableHash60(concat(col("id").cast("string"), lit(salt)))
    val w = Window.partitionBy("stratum").orderBy(h, col("id"))
    df.filter(col(idCol).isNotNull)
      .select(col(idCol).as("id"), col(stratumCol).as("stratum"))
      .join(broadcast(targets), Seq("stratum"))
      .withColumn("_t_rn", row_number().over(w))
      .filter(col("_t_rn") <= col("target"))
      .select(col("id"), col("stratum"), col("n_docs"), col("target"))
  }

  /** DATASET CARD — the one-row corpus summary published alongside a
    * training set: document/token/char volumes, null-text review count,
    * exact distinct-content count (dup pressure), heuristic-keep count,
    * and the language distribution as a deterministic sorted string.
    * Every number is an exact integer (no float accumulation), and the
    * lang distribution sorts lexicographically so the row is
    * reproducible across engines and cluster sizes.
    *
    * Scale shape: one scan feeding two aggregations — a global agg
    * (map-side partials) and a lang-keyed agg whose key space is the
    * language inventory (tiny) — joined as two one-row frames. The
    * distinct-content count is the one genuine shuffle (exact
    * distinct on the fingerprint); swap in [[TextSketches.hllRegisters]] when an
    * estimate suffices at 100 TB. */
  def datasetCard(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, langCol: String): org.apache.spark.sql.DataFrame = {
    val t = col(textCol)
    val base = df.agg(
      count(lit(1)).as("n_docs"),
      sum(when(t.isNull, 1L).otherwise(0L)).as("n_null_text"),
      sum(coalesce(tokenCount(t).cast("long"), lit(0L))).as("n_tokens"),
      sum(coalesce(length(t).cast("long"), lit(0L))).as("n_chars"),
      countDistinct(fingerprint(t)).as("n_distinct_texts"),
      sum(when(t.isNotNull && qualityScore(t) >= 0.5, 1L).otherwise(0L))
        .as("n_quality_keep"))
    val langs = df.groupBy(coalesce(col(langCol), lit("unk")).as("l"))
      .agg(count(lit(1)).as("c"))
      .agg(concat_ws(" ", sort_array(collect_list(
        concat(col("l"), lit(":"), col("c").cast("string"))))).as("langs"))
    base.join(langs)
  }

  /** PMI-style collocation extraction — the top-K word bigrams by lift
    * `P(xy) / (P(x)·P(y)) = (c_xy·N·N) / (N2·c_x·c_y)`, the monotone
    * exponential of pointwise mutual information (log is libm-dependent,
    * the ratio is one IEEE division — so ranking AND score are
    * engine-exact). `minCount` drops rare bigrams (the classic PMI
    * low-count pathology). Returns (w1, w2, c_xy, c_x, c_y, lift),
    * lift-descending.
    *
    * Scale shape: unigram and bigram counts are map-side-combined
    * groupBys; the unigram table is vocabulary-bounded and broadcasts
    * into the bigram stream twice (w1, w2) — swap to shuffled joins if
    * the vocabulary ever outgrows broadcast; the global top-K is a
    * distributed TakeOrdered, never a single-partition sort.
    *
    * Persistence: the bigram count table is persisted (MEMORY_AND_DISK),
    * filled by the result's first action. The caller owns releasing it: the
    * cache is not reachable from the returned frame, so a long-lived session
    * drops it with `spark.catalog.clearCache()` once done with the result, or
    * accumulates one cache per call until the ContextCleaner reclaims it. */
  def pmiBigrams(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, topK: Int = 20,
      minCount: Long = 5L): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Four consumers used to hang off the postings stream — unigram
    // counts, the global unigram count, the bigram window, and the
    // global bigram count — re-executing the explode above wordPosts'
    // shared exchange per consumer. Deriving both totals from the
    // AGGREGATES below (Σ of group counts — identical Longs) halves the
    // posting passes to two (unigram groupBy, bigram window). Persisting
    // or checkpointing the postings themselves was probed and does NOT
    // pay at any measured scale (AQE launches the consumer stages
    // concurrently, so a lazy cache races its own population, and an
    // eager checkpoint's materialization pass costs what the saved
    // recompute would have — probe pairs in OPTIMIZATION_r21.md).
    val posts = Dedup.wordPosts(df, idCol, textCol)
    val w = Window.partitionBy("id").orderBy("pos")
    val bi = posts.withColumn("w2", lead(col("w"), 1).over(w))
      .filter(col("w2").isNotNull)
      .select(col("w").as("w1"), col("w2"))
    val uni = posts.groupBy(col("w")).agg(count(lit(1)).as("c"))
    // identical values, no extra pass: Σ unigram counts IS the posting
    // count, Σ bigram-group counts IS the bigram count (pre-minCount).
    // coalesce keeps count()'s non-null type on empty input, so the
    // derived lift column's nullability (and the oracle's schema
    // compare) is unchanged.
    val nUni = uni.agg(coalesce(sum(col("c")), lit(0L)).as("n_uni"))
    val big = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nBi = big.agg(coalesce(sum(col("c_xy")), lit(0L)).as("n_bi"))
    big
      .filter(col("c_xy") >= minCount)
      .join(broadcast(uni.select(col("w").as("w1"), col("c").as("c_x"))), Seq("w1"))
      .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c_y"))), Seq("w2"))
      .join(broadcast(nUni)).join(broadcast(nBi))
      // left-to-right IEEE chain, mirrored verbatim in the oracle
      .withColumn("lift",
        col("c_xy").cast("double") * col("n_uni") * col("n_uni")
          / (col("n_bi").cast("double") * col("c_x") * col("c_y")))
      .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"), col("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Frozen linear quality-classifier weights, the shape a fasttext /
    * logistic-regression filter model ships in after offline training:
    * (bias, length, punctuation, mean-token-length, stopword, digit).
    * Values are short decimals so both engines parse them to the same
    * doubles. */
  val QualityWeights: Seq[Double] =
    Seq(-1.25, 1.75, -2.5, 0.875, 1.5, -1.125)

  /** MODEL-BASED QUALITY FILTERING — linear classifier INFERENCE at scan
    * speed (the CCNet / DataComp stage that replaces hand-tuned
    * heuristics with a trained filter). The model arrives as literal
    * weights ([[QualityWeights]]); features are cheap per-row signals
    * over exact integer counts. We emit the LOGIT, not the sigmoid:
    * `exp` is libm (not engine-exact) and `keep = logit > 0` is the
    * identical decision boundary. The dot product is a fixed-order
    * chain `w0 + w1·f1 + … + w5·f5` — each step one IEEE mul + add, so
    * the same expression tree yields bit-identical logits in Spark and
    * the DuckDB oracle. Null text → null features and null keep (review
    * case, not a silent drop — matches [[qualityReport]]).
    *
    * Scale shape: pure per-row expressions inside one codegen stage,
    * zero shuffle, zero joins — the filter rides the corpus scan. */
  /** The five classifier features in weight order (length, punctuation,
    * mean-token-length, stopword, digit), built from pre-staged shared
    * inputs: `p` the one-pass profile struct, `marked` the space-padded
    * lowercase. Same expression trees as the inline form — the staging
    * only changes HOW OFTEN the shared inputs evaluate, never a value. */
  private def qualityFeaturesFrom(t: Column, p: Column, marked: Column): Seq[Column] = {
    val total = p.getField("n_chars")
    val fLen = least(length(t).cast("double") / lit(500.0), lit(1.0))
    val fPunct = when(total === 0, lit(0.0))
      .otherwise(p.getField("n_punct").cast("double") / total.cast("double"))
    val nTok = p.getField("n_tokens")
    val mtl = when(nTok === 0, lit(0.0))
      .otherwise(p.getField("n_nonws").cast("double") / nTok.cast("double"))
    val fMtl = least(mtl / lit(12.0), lit(1.0))
    val fStop = Seq("the", "and", "of", "is")
      .map(wd => when(marked.contains(s" $wd "), 1).otherwise(0))
      .reduce(_ + _).cast("double") / lit(4.0)
    val fDigit = when(length(t) === 0, lit(0.0)).otherwise(
      p.getField("n_digit").cast("double") / p.getField("n_chars").cast("double"))
    Seq(fLen, fPunct, fMtl, fStop, fDigit)
  }

  /** The five classifier features over a bare text Column — shared by
    * [[qualityLogitExpr]] (which must stay a single composable Column).
    * Every feature re-embeds the profile/lower calls; fine inside ONE
    * consuming expression, but see [[qualityLogit]] for why a
    * multi-column projection must stage instead. */
  private def qualityFeatures(t: Column): Seq[Column] =
    qualityFeaturesFrom(t, profile(t), concat(lit(" "), lower(t), lit(" ")))

  /** The two non-cheap inputs every quality feature shares: the one-pass
    * profile struct and the space-padded lowercase. Stage them in their
    * OWN projection (`df.select(..., p.as("__p"), m.as("__m"))`) whenever
    * a projection's output columns consume them more than once —
    * CollapseProject keeps the staging (non-trivial alias, multiple
    * references) and codegen still fuses both projections, so the pass
    * runs once per row instead of once per reference. */
  def qualityInputs(text: Column): (Column, Column) =
    (profile(text), concat(lit(" "), lower(text), lit(" ")))

  /** The null-guarded classifier logit as a composable per-row
    * expression — lets other queries (e.g. the filter-agreement audit)
    * score the model in the SAME scan as other predicates, no join. */
  def qualityLogitExpr(t: Column,
      weights: Seq[Double] = QualityWeights): Column = {
    val (p, m) = qualityInputs(t)
    qualityLogitExprFrom(t, p, m, weights)
  }

  /** [[qualityLogitExpr]] from pre-staged inputs — same fixed-order IEEE
    * fold (w0 + w1*f1 + …, mirrored verbatim in SQL), bit-identical
    * logits; only the per-row evaluation count of the shared inputs
    * changes. */
  def qualityLogitExprFrom(t: Column, p: Column, marked: Column,
      weights: Seq[Double] = QualityWeights): Column = {
    require(weights.length == 6, s"need 6 weights (bias + 5 features), got ${weights.length}")
    val logit = qualityFeaturesFrom(t, p, marked).zip(weights.tail)
      .foldLeft(lit(weights.head): Column) { case (acc, (f, w)) => acc + lit(w) * f }
    when(t.isNotNull, logit)
  }

  def qualityLogit(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String,
      weights: Seq[Double] = QualityWeights): org.apache.spark.sql.DataFrame = {
    require(weights.length == 6,
      s"need 6 weights (bias + 5 features), got ${weights.length}")
    val t = col(textCol)
    // Stage the two non-cheap shared inputs (the one-pass profile and
    // the padded lowercase) as their OWN projection. Inlining them into
    // every feature column — the pre-round-15 form — re-evaluated them
    // per REFERENCE, not per row: each feature's null guard puts the
    // profile call inside a CASE branch, and codegen subexpression
    // elimination does not reach inside conditional branches (the
    // contract that makes the TextProfile fusion one-pass holds only
    // for unconditional projections). 8 output columns embedded ~24
    // profile walks + 12 lower() allocations per row — measured 51 s
    // warm for 10M docs, vs ~6 s staged. CollapseProject declines to
    // merge the two projections because a non-trivial alias is
    // referenced more than once, so the staging survives optimization;
    // whole-stage codegen still fuses both into one pass over the scan.
    val (prof, marked) = qualityInputs(t)
    val staged = df.select(col(idCol).as("id"), t.as("__qt"),
      prof.as("__qp"), marked.as("__qm"))
    val st = col("__qt")
    val feats = qualityFeaturesFrom(st, col("__qp"), col("__qm"))
    val Seq(fLen, fPunct, fMtl, fStop, fDigit) = feats
    val logit = feats.zip(weights.tail)
      .foldLeft(lit(weights.head): Column) { case (acc, (f, w)) => acc + lit(w) * f }
    staged.select(col("id"),
      when(st.isNotNull, fLen).as("f_len"),
      when(st.isNotNull, fPunct).as("f_punct"),
      when(st.isNotNull, fMtl).as("f_mtl"),
      when(st.isNotNull, fStop).as("f_stop"),
      when(st.isNotNull, fDigit).as("f_digit"),
      when(st.isNotNull, logit).as("logit"),
      when(st.isNotNull, logit > 0).as("keep"))
  }

  /** BLOCKLIST (badwords) FILTERING — the C4-style wordlist gate: flag
    * every document containing a blocked term, with total occurrence
    * count and the sorted distinct terms that matched (the audit trail a
    * filtering report needs). Matching is exact whole-token equality on
    * the normalized token stream — substring matching is the classic
    * false-positive trap ("class" vs "ass"), so membership is tested
    * per token against the literal array.
    *
    * Scale shape: split + filter + aggregate are higher-order ARRAY
    * expressions per row — the blocklist travels inside the codegen'd
    * expression (it is a tokenizer-config-sized constant), zero shuffle,
    * zero joins. */
  def blocklistFilter(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, terms: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty, "empty blocklist")
    val toks = split(normalize(col(textCol)), " ")
    val bad = filter(toks, x => array_contains(lit(terms.toArray), x))
    df.select(col(idCol).as("id"),
      size(bad).as("n_hits"),
      array_join(array_sort(array_distinct(bad)), " ").as("hit_terms"),
      when(col(textCol).isNotNull, size(bad) === 0).as("keep"))
  }
}
