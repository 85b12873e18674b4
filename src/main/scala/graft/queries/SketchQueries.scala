package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.operators.{Dedup, Ewma, Similarity, TextAnalysis, TextSketches}
import QueryShared._

/** Mergeable-sketch and tokenizer-training family: count-min / HLL /
  * histogram sketches with their shard-merge proofs, heavy hitters,
  * and BPE train (classic + batched) / encode.
  * Entries split from the monolithic Registry verbatim. */
private[queries] object SketchQueries {

  val all: Seq[Q] = Seq(



    // HyperLogLog cardinality sketch over corpus shingles: 256 one-byte
    // registers replace the corpus-wide DISTINCT shuffle. Registers,
    // zero-count, and the integer harmonic denominator are exact; the
    // raw estimate is a single literal-arithmetic chain mirrored
    // verbatim (no small/large-range correction — that needs ln, which
    // is libm-dependent; v_zero ships so a caller can apply it).
    //
    // This query also carries the EXACT countDistinct yardstick — that
    // comparison is the query's point — so the minimal plan is ONE
    // linear chain: shingle once, distinct once, then per-bucket
    // max(rho) AND count(*) in the same 256-key aggregation; n_exact is
    // the sum of per-bucket counts (every distinct shingle lands in
    // exactly one bucket). max(rho) is idempotent over duplicates, so
    // registers over DISTINCT shingles equal registers over the raw
    // stream. No self-join, no second branch: the r14 shape paid the
    // scan + explode twice (7.3 s warm sf0.1), and an intermediate
    // two-branches-over-one-distinct form measured WORSE at the lakes
    // because the planner did not reuse the distinct exchange across
    // the branches — the one-chain form is reuse-independent
    // (1.3 s sf0.1; 2.0/3.3 s at the 10×/20× lakes, see PLANS.md).
    // The sketch's own "no distinct shuffle ever" scale story is
    // ta_hll_merge, where shard registers fold by max with no exact
    // branch at all.
    Q("ta_hll_distinct",
      (s, d) => {
        // whole-corpus shingle+md5 pass: spread pays here (r20 probes —
        // the serial scan-stage form was the query's whole cost)
        val sh = graft.operators.TextAnalysis.shingleStream(
          graft.GraftSession.spread(T(s, d, "documents")), "text", 3)
        val dsg = sh.filter(col("sg").isNotNull).distinct()
        val regs = graft.operators.TextSketches.hllRegisters(
          dsg, col("sg"), p = 8, withCount = true)
        regs.agg(
          count(lit(1)).as("m"),
          sum(when(col("rho") === 0, 1L).otherwise(0L)).as("v_zero"),
          sum(expr("shiftleft(CAST(1 AS BIGINT), 54 - rho)")).as("denom"),
          sum(col("cnt")).as("n_exact"))
          .withColumn("est_raw", expr(
            "0.7213E0 / (1.0E0 + 1.079E0 / 256.0E0) * 65536.0E0 * 18014398509481984.0E0 / CAST(denom AS DOUBLE)"))
          .select(col("m"), col("v_zero"), col("denom"), col("est_raw"), col("n_exact"))
      },
      Some("""WITH d AS (SELECT regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t FROM documents),
                   w AS (SELECT t, string_split(t, ' ') AS ws FROM d),
                   sh AS (SELECT CASE WHEN len(ws) < 3 THEN [t]
                                      ELSE [array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)] END AS s
                          FROM w),
                   keys AS (SELECT unnest(s) AS sg FROM sh),
                   hs AS (SELECT ('0x' || substr(md5(sg), 18, 15))::BIGINT AS h
                          FROM keys WHERE sg IS NOT NULL),
                   br AS (SELECT h // 4503599627370496 AS bucket, h % 4503599627370496 AS rem FROM hs),
                   regs0 AS (SELECT bucket,
                               max(CASE WHEN rem = 0 THEN 53 ELSE 53 - length(bin(rem)) END) AS rho
                             FROM br GROUP BY bucket),
                   regs AS (SELECT r.range AS bucket, coalesce(g.rho, 0) AS rho
                            FROM range(0, 256) r LEFT JOIN regs0 g ON g.bucket = r.range),
                   agg AS (SELECT count(*) AS m,
                                  CAST(sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zero,
                                  CAST(sum(1::BIGINT << CAST(54 - rho AS INTEGER)) AS BIGINT) AS denom
                           FROM regs),
                   ex AS (SELECT count(DISTINCT sg) AS n_exact FROM keys WHERE sg IS NOT NULL)
              SELECT m, v_zero, denom,
                     0.7213E0 / (1.0E0 + 1.079E0 / 256.0E0) * 65536.0E0 * 18014398509481984.0E0 / CAST(denom AS DOUBLE) AS est_raw,
                     n_exact
              FROM agg CROSS JOIN ex""")),



    // Power-of-two token-length histogram: the mergeable distribution
    // sketch (≤64 integer buckets, map-side-collapsing, shards merge by
    // adding counts) next to the exact-quantile lengthProfile.
    Q("ta_token_histogram",
      (s, d) => graft.operators.TextSketches.tokenHistogram(
        T(s, d, "documents"), "text").orderBy("bucket"),
      Some("""WITH n AS (SELECT CASE WHEN length(trim(text)) = 0 THEN 0
                                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n
                         FROM documents WHERE text IS NOT NULL),
                   b AS (SELECT CASE WHEN n = 0 THEN 0 ELSE length(bin(n)) END AS bucket,
                                count(*) AS cnt
                         FROM n GROUP BY 1),
                   h AS (SELECT bucket,
                           CASE WHEN bucket = 0 THEN 0
                                ELSE 1::BIGINT << CAST(bucket - 1 AS INTEGER) END AS lo,
                           CASE WHEN bucket = 0 THEN 0
                                ELSE (1::BIGINT << CAST(bucket AS INTEGER)) - 1 END AS hi,
                           cnt,
                           sum(cnt) OVER (ORDER BY bucket
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                         FROM b)
              SELECT bucket, lo, hi, cnt, CAST(cum AS BIGINT) AS cum
              FROM h ORDER BY bucket""")),



    // Count-min heavy hitters: a 4×64-cell mergeable frequency sketch
    // point-estimates the top-20 tokens; estimates are provably ≥ exact
    // (overcount column). Sketch cells, estimates, and exact counts are
    // all integer → hash-exact.
    Q("ta_heavy_hitters",
      (s, d) => {
        // spread once at the query: the sketch branch and the exact-count
        // branch then share ONE spread exchange (identical subplans →
        // ReuseExchange) instead of each running its normalize/explode/
        // md5 pipeline serially inside the single-split scan stage (r20;
        // no-op at ≥ session-width splits — see TextSketches)
        val docs = graft.GraftSession.spread(T(s, d, "documents"))
        val sketch = graft.operators.TextSketches.countMinSketch(docs, "text",
          depth = 4, width = 64)
        val toks = docs.select(explode(split(
            graft.operators.TextAnalysis.normalize(col("text")), " ")).as("tok"))
          .filter(length(col("tok")) > 0)
        val top = toks.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
          .orderBy(col("exact_cnt").desc, col("tok")).limit(20)
        graft.operators.TextSketches.cmEstimate(sketch, top, "tok", depth = 4, width = 64)
          .join(top, Seq("tok"))
          .select(col("tok").as("token"), col("exact_cnt"), col("cm_est"),
            (col("cm_est") - col("exact_cnt")).as("overcount"))
          .orderBy(col("exact_cnt").desc, col("token"))
      },
      Some("""WITH d AS (SELECT regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t FROM documents),
                   toks AS (SELECT unnest(string_split(t, ' ')) AS tok FROM d),
                   tk AS (SELECT tok FROM toks WHERE length(tok) > 0),
                   cells AS (SELECT r.range AS rw,
                               ('0x' || substr(md5(tok || '#cm' || CAST(r.range AS VARCHAR)), 18, 15))::BIGINT % 64 AS cl
                             FROM tk CROSS JOIN range(0, 4) r),
                   sketch AS (SELECT rw, cl, count(*) AS cnt FROM cells GROUP BY rw, cl),
                   exact AS (SELECT tok, count(*) AS exact_cnt FROM tk GROUP BY tok),
                   top AS (SELECT tok, exact_cnt
                           FROM (SELECT *, row_number() OVER (ORDER BY exact_cnt DESC, tok) AS rn FROM exact)
                           WHERE rn <= 20),
                   kcells AS (SELECT t.tok, r.range AS rw,
                                ('0x' || substr(md5(t.tok || '#cm' || CAST(r.range AS VARCHAR)), 18, 15))::BIGINT % 64 AS cl
                              FROM top t CROSS JOIN range(0, 4) r),
                   est AS (SELECT k.tok, min(coalesce(s.cnt, 0)) AS cm_est
                           FROM kcells k LEFT JOIN sketch s ON s.rw = k.rw AND s.cl = k.cl
                           GROUP BY k.tok)
              SELECT t.tok AS token, t.exact_cnt, e.cm_est, e.cm_est - t.exact_cnt AS overcount
              FROM top t JOIN est e USING (tok)
              ORDER BY exact_cnt DESC, token""")),



    // Sketch MERGEABILITY proven cross-engine: Spark sketches three
    // doc_id%3 shards separately and merges by ADDING cells
    // (TextSketches.cmMerge); the oracle sketches the whole corpus in one
    // pass. Hash-equality IS the lossless-merge property that lets
    // per-shard sketches roll up at 100 TB without touching row data
    Q("ta_cm_merge",
      (s, d) => {
        // NO spread here (r20, probed both ways): per-shard compute is
        // ~a third of the corpus and does not amortize the extra
        // exchange + 3 session-width stages (0.96 s unspread vs 1.6 s
        // spread at sf0.1) — the sharded merges keep the scan-speed form
        val docs = T(s, d, "documents")
        TextSketches.cmMerge((0 until 3).map(k =>
          TextSketches.countMinSketch(
            docs.filter(pmod(col("doc_id"), lit(3)) === k), "text",
            depth = 4, width = 64)))
          .orderBy("row", "col")
      },
      Some("""WITH d AS (SELECT regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t FROM documents),
                   toks AS (SELECT unnest(string_split(t, ' ')) AS tok FROM d),
                   tk AS (SELECT tok FROM toks WHERE length(tok) > 0),
                   cells AS (SELECT r.range AS rw,
                               ('0x' || substr(md5(tok || '#cm' || CAST(r.range AS VARCHAR)), 18, 15))::BIGINT % 64 AS cl
                             FROM tk CROSS JOIN range(0, 4) r)
              SELECT rw AS "row", cl AS "col", count(*) AS cnt
              FROM cells GROUP BY 1, 2 ORDER BY 1, 2""")),



    // Histogram shard-merge (the trio's third leg): bucket counts ADD,
    // the cumulative column is re-derived over the merged ≤64-row result
    // — Spark merges three doc_id%3 shard histograms, the oracle
    // histograms the whole corpus directly
    Q("ta_hist_merge",
      (s, d) => {
        // no spread — sharded merge, see ta_cm_merge (r20)
        val docs = T(s, d, "documents")
        TextSketches.histogramMerge((0 until 3).map(k =>
          TextSketches.tokenHistogram(
            docs.filter(pmod(col("doc_id"), lit(3)) === k), "text")))
          .orderBy("bucket")
      },
      Some("""WITH n AS (SELECT CASE WHEN length(trim(text)) = 0 THEN 0
                                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n
                         FROM documents WHERE text IS NOT NULL),
                   b AS (SELECT CASE WHEN n = 0 THEN 0 ELSE length(bin(n)) END AS bucket,
                                count(*) AS cnt
                         FROM n GROUP BY 1),
                   h AS (SELECT bucket,
                           CASE WHEN bucket = 0 THEN 0
                                ELSE 1::BIGINT << CAST(bucket - 1 AS INTEGER) END AS lo,
                           CASE WHEN bucket = 0 THEN 0
                                ELSE (1::BIGINT << CAST(bucket AS INTEGER)) - 1 END AS hi,
                           cnt,
                           sum(cnt) OVER (ORDER BY bucket
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                         FROM b)
              SELECT bucket, lo, hi, cnt, CAST(cum AS BIGINT) AS cum
              FROM h ORDER BY bucket""")),



    // HLL registers merge by per-bucket MAX (associative + idempotent):
    // Spark merges three shard register tables; the oracle computes
    // whole-corpus registers directly — max-merge is exactly lossless
    Q("ta_hll_merge",
      (s, d) => {
        // no spread — sharded merge, see ta_cm_merge (r20)
        val docs = T(s, d, "documents")
        TextSketches.hllMerge((0 until 3).map { k =>
          val sh = TextAnalysis.shingleStream(
            docs.filter(pmod(col("doc_id"), lit(3)) === k), "text", 3)
          TextSketches.hllRegisters(sh, col("sg"), p = 8)
        }).orderBy("bucket")
      },
      Some("""WITH d AS (SELECT regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t FROM documents),
                   w AS (SELECT t, string_split(t, ' ') AS ws FROM d),
                   sh AS (SELECT CASE WHEN len(ws) < 3 THEN [t]
                                      ELSE [array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)] END AS s
                          FROM w),
                   keys AS (SELECT unnest(s) AS sg FROM sh),
                   hs AS (SELECT ('0x' || substr(md5(sg), 18, 15))::BIGINT AS h
                          FROM keys WHERE sg IS NOT NULL),
                   br AS (SELECT h // 4503599627370496 AS bucket, h % 4503599627370496 AS rem FROM hs),
                   regs0 AS (SELECT bucket,
                               max(CASE WHEN rem = 0 THEN 53 ELSE 53 - length(bin(rem)) END) AS rho
                             FROM br GROUP BY bucket)
              SELECT r.range AS bucket, coalesce(g.rho, 0) AS rho
              FROM range(0, 256) r LEFT JOIN regs0 g ON g.bucket = r.range
              ORDER BY bucket""")),



    // BPE tokenizer training: k merge iterations, each DERIVED by the
    // oracle itself (pair-count → argmax → gaps-and-islands greedy
    // merge, one unrolled CTE block per iteration) — nothing about the
    // learned merges is smuggled in as a literal. Counts are integer,
    // tie-breaks lexicographic, so the merge sequence is engine-exact.
    Q("ta_bpe_train",
      (s, d) => graft.operators.Bpe.bpeTrain(
        T(s, d, "documents"), "text", numMerges = 8).orderBy("it"),
      Some(bpeOracle(8))),



    // Batched BPE training: batchSize symbol-disjoint merges per round
    // (conflict-free prefix of the rank order) — same merge quality,
    // ~1/batchSize the driver round-trips; the 32k-merge scale fix.
    Q("ta_bpe_train_batched",
      (s, d) => graft.operators.Bpe.bpeTrainBatched(
        T(s, d, "documents"), "text", numMerges = 8, batchSize = 4)
        .orderBy("it"),
      Some(bpeBatchedOracle(numMerges = 8, batchSize = 4))),



    // BPE encoding with the pre-trained merge table (constants, the
    // production artifact shape): the merges run per distinct word in
    // one operator, and the encoded vocabulary joins back per doc.
    Q("ta_bpe_encode",
      (s, d) => graft.operators.Bpe.bpeEncode(
        T(s, d, "documents"), "doc_id", "text",
        graft.operators.BpeMerges.merges).orderBy("id"),
      Some(bpeEncodeOracle(graft.operators.BpeMerges.merges)))
  )
}
