package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.operators.{Dedup, Ewma, Similarity, TextAnalysis}

/** Shared scaffolding of the query registry: the [[Q]] entry shape, the
  * canonical table loader, cross-engine numeric/typed helpers, the
  * fixed-seed model literals (hyperplanes / IVF centroids / PQ
  * codebooks) rendered as DuckDB VALUES rows, and the generated BPE /
  * quality-logit oracles. One object so every per-layer query file
  * ([[RelationalQueries]], [[DedupQueries]], [[SemanticDedupQueries]],
  * [[AnnQueries]], [[TextQueries]], [[TextReportQueries]],
  * [[NemQueries]]) composes from the same source of
  * truth — split from the monolithic Registry, zero behavior change. */
private[queries] object QueryShared {


  final case class Q(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  def T(s: SparkSession, dir: String, name: String): DataFrame = Tables(s, dir, name)

  /** Exact cent-sum of a 2-decimal double column (bit-stable across engines). */
  def cents(c: Column): Column = sum(round(c * 100, 0).cast("long"))

  def bucket5m(ts: Column): Column =
    timestamp_micros((unix_micros(ts) / 300000000L).cast("long") * 300000000L)

  // NOTE on the duckdb side: numeric literals default to DECIMAL; every
  // constant that participates in double arithmetic is written `x::DOUBLE`.

  /** Write-once-per-(JVM, sf dir) parquet staging shared by every
    * `*_stored` registry query (ANN code stores, dedup signature / cell
    * / window-fingerprint indexes): the first invocation materializes
    * the index, repeated invocations (bench warm reps) exercise ONLY the
    * read/probe path — the production shape is "index at write time,
    * probe the store forever after". Staged dirs are swept on JVM exit. */
  object IndexStore {
    private val dirs = scala.collection.concurrent.TrieMap.empty[String, String]
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      dirs.values.foreach { d =>
        try {
          import java.nio.file.{Files, Path}
          import scala.jdk.CollectionConverters._
          val root = Path.of(d)
          if (Files.exists(root))
            Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
        } catch { case _: Throwable => () }
      }))
    /** Path of the `kind` store for `sfDir`, building it via `write`
      * (path → parquet write) on first request. */
    def cached(kind: String, sfDir: String)(write: String => Unit): String =
      dirs.getOrElseUpdate(s"$kind|$sfDir", {
        val store = java.nio.file.Files.createTempDirectory(s"graft_${kind}_store")
        write(store.toString)
        store.toString
      })
  }

  /** Bucketed-table staging for `j02b_inner_bucketed` ([[IndexStore]]
    * path + a catalog table, since bucketing metadata lives in the
    * catalog): `lineitem` written ONCE per (JVM, sf dir) bucketed+sorted
    * on (l_partkey, l_suppkey) — the layout a production warehouse keeps
    * for its hot fact-join keys, where both the group-by on the key and
    * the fact-to-aggregate join compile with ZERO shuffle exchanges.
    * The pre-write `repartition` on the bucket key uses the same hash as
    * the bucketing, so each bucket lands in exactly one file (which also
    * lets the scan use the sortBy metadata). */
  object BucketedLineitemCache {
    private val tables = scala.collection.concurrent.TrieMap.empty[String, String]
    def get(s: SparkSession, sfDir: String): String =
      tables.getOrElseUpdate(sfDir, {
        val tbl = "lineitem_bkt_" + java.lang.Integer.toHexString(sfDir.hashCode)
        val path = IndexStore.cached("bktli", sfDir) { p =>
          Tables(s, sfDir, "lineitem")
            .repartition(16, col("l_partkey"), col("l_suppkey"))
            .write.mode("overwrite")
            .bucketBy(16, "l_partkey", "l_suppkey")
            .sortBy("l_partkey", "l_suppkey")
            .option("path", p)
            .format("parquet")
            .saveAsTable(tbl)
        }
        // a later session in the same JVM (specs share via getOrCreate,
        // so in practice one catalog) must still find the table
        require(s.catalog.tableExists(tbl), s"bucketed table $tbl missing at $path")
        tbl
      })
  }

  /** Quantized-store staging for `ann_topk_int8_stored` ([[IndexStore]]
    * instance): int8 codes written once, searched from the re-read table. */
  object Int8StoreCache {
    def get(s: SparkSession, sfDir: String, emb: DataFrame): String =
      IndexStore.cached("int8", sfDir) { p =>
        graft.operators.Similarity.quantizeInt8(emb, "vec_id", "embedding")
          .write.mode("overwrite").parquet(p)
      }
  }

  /** [[Int8StoreCache]]'s IVF-PQ sibling for `ann_topk_ivfpq_stored`:
    * the materialized (id, cell, codes) index PARTITIONED BY cell —
    * probed cells prune at the file level, the production layout. */
  object IvfPqStoreCache {
    def get(s: SparkSession, sfDir: String, emb: DataFrame): String =
      IndexStore.cached("ivfpq", sfDir) { p =>
        graft.operators.Similarity.ivfPqStore(emb, "vec_id", "embedding",
            graft.operators.IvfQuantizer.centroids, graft.operators.PqCodebooks.books)
          .write.mode("overwrite").partitionBy("cell").parquet(p)
      }
  }

  /** The `ann_topk_ivfpq` / `ann_topk_ivfpq_stored` oracle — one
    * formulation serves both: the stored path's codes are engine-exact,
    * so searching the materialized index must reproduce the inline
    * result bit-for-bit. */
  lazy val ivfPqOracle: String = s"""WITH cents(cell, cvec) AS (VALUES $centroidLiterals),
                   cb(sub, code, pw) AS (VALUES $pqLiterals),
                   cbn AS (SELECT sub, code, pw,
                             list_sum(list_transform(pw, x -> x * x)) AS pw2
                           FROM cb),
                   scored AS (SELECT v.vec_id, v.embedding, c.cell,
                                -(list_sum(list_transform(list_zip(v.embedding, c.cvec),
                                    z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
                                  / (sqrt(list_sum(list_transform(v.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                                     * sqrt(list_sum(list_transform(c.cvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))) AS d
                              FROM embeddings v CROSS JOIN cents c),
                   cells AS (SELECT vec_id AS cand_id, cell
                             FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
                                   FROM scored)
                             WHERE rn = 1),
                   pcells AS (SELECT vec_id AS probe_id, embedding AS probe_vec, cell
                              FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
                                    FROM scored WHERE vec_id < 10)
                              WHERE rn <= 4),
                   sl AS (SELECT v.vec_id, s.sub,
                            list_transform(v.embedding[s.sub*8+1 : s.sub*8+8],
                              x -> CAST(x AS DOUBLE)) AS sv
                          FROM embeddings v, range(0, 8) s(sub)),
                   asg AS (SELECT vec_id, sub, code, pw FROM (
                             SELECT sl.vec_id, sl.sub, c.code, c.pw,
                                    row_number() OVER (PARTITION BY sl.vec_id, sl.sub
                                      ORDER BY c.pw2 - (2.0::DOUBLE) * list_sum(
                                          list_transform(list_zip(sl.sv, c.pw),
                                            z -> z[1] * z[2])),
                                        c.code) AS rn
                             FROM sl JOIN cbn c USING (sub))
                           WHERE rn = 1),
                   recon AS (SELECT vec_id, flatten(list(pw ORDER BY sub)) AS rv
                             FROM asg GROUP BY vec_id),
                   cand AS (SELECT p.probe_id, p.probe_vec, c.cand_id, r.rv
                            FROM pcells p
                            JOIN cells c ON c.cell = p.cell
                            JOIN recon r ON r.vec_id = c.cand_id
                            WHERE c.cand_id <> p.probe_id),
                   sims AS (SELECT probe_id, cand_id,
                              list_sum(list_transform(list_zip(probe_vec, rv),
                                z -> CAST(z[1] AS DOUBLE) * z[2]))
                              / (sqrt(list_sum(list_transform(probe_vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                                 * sqrt(list_sum(list_transform(rv, x -> x * x)))) AS sim
                            FROM cand),
                   ranked AS (SELECT probe_id, cand_id, sim,
                                row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rn
                              FROM sims)
              SELECT probe_id, cand_id, sim, rn
              FROM ranked WHERE rn <= 5 ORDER BY probe_id, rn"""

  /** `Similarity.hyperplanes(n, 64, seed)` rendered as DuckDB VALUES
    * rows — ONE renderer so the (count, seed) pairs below stay the only
    * thing to keep aligned with the operator defaults. */
  private def planeLits(numPlanes: Int, seed: Long): String =
    Similarity.hyperplanes(numPlanes, 64, seed).zipWithIndex
      .map { case (p, i) => s"($i, [${p.map(dlit).mkString(", ")}])" }
      .mkString(", ")

  lazy val planeLiterals: String = planeLits(16, 42L)

  /** 32-plane variant for the scale-anchored embedding near-dup sibling
    * (`dd_embed_neardup_scaled`): 8-bit bands → 256 bucket values per
    * band, so buckets stay small as the corpus grows. Same seed, same
    * deterministic round-trip argument as [[planeLiterals]]. */
  lazy val planeLiterals32: String = planeLits(32, 42L)

  /** The 8 fixed hyperplanes whose sign-bit code is the 256-cell
    * data-independent quantizer of `dd_semantic_scaled`
    * ([[graft.operators.Dedup.semanticDedupLsh]], seed 7). */
  lazy val cellPlaneLiterals: String = planeLits(8, 7L)

  /** The pre-trained IVF quantizer ([[graft.operators.IvfQuantizer]]) as
    * DuckDB VALUES rows — same round-trip argument as [[planeLiterals]]. */
  lazy val centroidLiterals: String =
    graft.operators.IvfQuantizer.centroids.zipWithIndex
      .map { case (c, i) => s"($i, [${c.map(dlit).mkString(", ")}])" }
      .mkString(", ")

  /** The pre-trained PQ codebooks ([[graft.operators.PqCodebooks]]) as
    * DuckDB VALUES rows (sub, code, codeword) — same round-trip argument
    * as [[planeLiterals]]. */
  lazy val pqLiterals: String =
    graft.operators.PqCodebooks.books.zipWithIndex.flatMap { case (cws, s) =>
      cws.zipWithIndex.map { case (cw, ci) => s"($s, $ci, [${cw.map(dlit).mkString(", ")}])" }
    }.mkString(", ")

  /** The `ta_bpe_train` oracle: `k` unrolled BPE iterations, each a CTE
    * block that counts adjacent symbol pairs, takes the deterministic
    * argmax, and applies the greedy left-to-right merge of the Spark
    * operator ([[graft.operators.Bpe.bpeTrain]]) as a gaps-and-islands
    * window rewrite — the oracle DERIVES every merge, no learned state
    * is embedded. */
  def bpeOracle(k: Int): String = {
    val head =
      """WITH d AS (SELECT regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t FROM documents),
        |     toks AS (SELECT unnest(string_split(t, ' ')) AS wd FROM d),
        |     vocab AS (SELECT wd, count(*) AS freq FROM toks WHERE length(wd) > 0 GROUP BY wd),
        |     p0 AS (SELECT wd, freq, unnest([{'pos': i - 1, 'sym': wd[i]}
        |                                     for i in range(1, len(wd) + 1)], recursive := true)
        |            FROM vocab)""".stripMargin
    val blocks = (0 until k).map { i =>
      s""",
         |     pc$i AS (SELECT sym AS l, nxt AS r, CAST(sum(freq) AS BIGINT) AS cnt
         |              FROM (SELECT wd, freq, sym,
         |                           lead(sym) OVER (PARTITION BY wd ORDER BY pos) AS nxt
         |                    FROM p$i)
         |              WHERE nxt IS NOT NULL GROUP BY 1, 2),
         |     best$i AS (SELECT l, r, cnt FROM pc$i ORDER BY cnt DESC, l, r LIMIT 1),
         |     s$i AS (SELECT p.wd, p.freq, p.pos, p.sym, b.l AS ml, b.r AS mr,
         |                    (p.sym = b.l AND lead(p.sym) OVER (PARTITION BY p.wd ORDER BY p.pos) = b.r) AS start
         |             FROM p$i p CROSS JOIN best$i b),
         |     v$i AS (SELECT *, count(CASE WHEN start THEN 1 END)
         |                         OVER (PARTITION BY wd ORDER BY pos
         |                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS srn
         |             FROM s$i),
         |     isl$i AS (SELECT *, CASE WHEN start THEN pos - srn END AS island FROM v$i),
         |     f$i AS (SELECT *, min(CASE WHEN start THEN pos END)
         |                         OVER (PARTITION BY wd, island) AS ifirst
         |             FROM isl$i),
         |     va$i AS (SELECT *, (start AND (pos - ifirst) % 2 = 0) AS valid FROM f$i),
         |     dr$i AS (SELECT *, lag(valid, 1, false) OVER (PARTITION BY wd ORDER BY pos) AS pvalid
         |              FROM va$i),
         |     p${i + 1} AS (SELECT wd, freq,
         |                          row_number() OVER (PARTITION BY wd ORDER BY pos) - 1 AS pos,
         |                          CASE WHEN valid THEN ml || mr ELSE sym END AS sym
         |                   FROM dr$i WHERE NOT pvalid)""".stripMargin
    }.mkString
    val union = (0 until k)
      .map(i => s"SELECT $i AS it, l AS lft, r AS rgt, cnt FROM best$i")
      .mkString(" UNION ALL ")
    s"$head$blocks\n              $union ORDER BY it"
  }

  /** The `ta_bpe_train_batched` oracle: `rounds` unrolled BATCH rounds
    * ([[graft.operators.Bpe.bpeTrainBatched]]) — per round, pairs
    * rank by (count desc, pair asc) within a `window`-deep candidate
    * list, the conflict-free prefix (no shared symbol with ANY higher
    * rank) is picked up to `batchSize`, and one gaps-and-islands rewrite
    * applies the whole (symbol-disjoint) batch. The final select takes
    * the first `numMerges` picks in (round, rank) order — the same
    * truncation contract as the operator.
    *
    * The per-round CTEs are `AS MATERIALIZED`: DuckDB inlines CTEs by
    * default, and this oracle references each round's posting table and
    * candidate ranking more than once (pc + the rewrite join; the
    * dominance NOT EXISTS reads the ranking twice) — inlined, the
    * re-evaluation compounds per unrolled round into an exponential
    * plan; materialized, each round is evaluated once. */
  def bpeBatchedOracle(numMerges: Int, batchSize: Int): String = {
    val window = 4 * batchSize
    val rounds = numMerges // worst case one pick per round
    val head =
      """WITH d AS (SELECT regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t FROM documents),
        |     toks AS (SELECT unnest(string_split(t, ' ')) AS wd FROM d),
        |     vocab AS (SELECT wd, count(*) AS freq FROM toks WHERE length(wd) > 0 GROUP BY wd),
        |     p0 AS MATERIALIZED (SELECT wd, freq, unnest([{'pos': i - 1, 'sym': wd[i]}
        |                                     for i in range(1, len(wd) + 1)], recursive := true)
        |            FROM vocab)""".stripMargin
    val blocks = (0 until rounds).map { i =>
      s""",
         |     pc$i AS MATERIALIZED (SELECT sym AS l, nxt AS r, CAST(sum(freq) AS BIGINT) AS cnt
         |              FROM (SELECT wd, freq, sym,
         |                           lead(sym) OVER (PARTITION BY wd ORDER BY pos) AS nxt
         |                    FROM p$i)
         |              WHERE nxt IS NOT NULL GROUP BY 1, 2),
         |     rk$i AS MATERIALIZED (SELECT * FROM (SELECT l, r, cnt,
         |                               row_number() OVER (ORDER BY cnt DESC, l, r) AS rn
         |                             FROM pc$i) WHERE rn <= $window),
         |     pk$i AS MATERIALIZED (SELECT l, r, cnt, rn FROM rk$i a
         |              WHERE NOT EXISTS (SELECT 1 FROM rk$i b WHERE b.rn < a.rn
         |                                AND (b.l IN (a.l, a.r) OR b.r IN (a.l, a.r)))
         |              ORDER BY rn LIMIT $batchSize),
         |     s$i AS (SELECT p.wd, p.freq, p.pos, p.sym, k.l AS ml, k.r AS mr,
         |                    (k.l IS NOT NULL) AS start
         |             FROM (SELECT *, lead(sym) OVER (PARTITION BY wd ORDER BY pos) AS nxt
         |                   FROM p$i) p
         |             LEFT JOIN pk$i k ON p.sym = k.l AND p.nxt = k.r),
         |     v$i AS (SELECT *, count(CASE WHEN start THEN 1 END)
         |                         OVER (PARTITION BY wd ORDER BY pos
         |                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS srn
         |             FROM s$i),
         |     isl$i AS (SELECT *, CASE WHEN start THEN pos - srn END AS island FROM v$i),
         |     f$i AS (SELECT *, min(CASE WHEN start THEN pos END)
         |                         OVER (PARTITION BY wd, island) AS ifirst
         |             FROM isl$i),
         |     va$i AS (SELECT *, (start AND (pos - ifirst) % 2 = 0) AS valid FROM f$i),
         |     dr$i AS (SELECT *, lag(valid, 1, false) OVER (PARTITION BY wd ORDER BY pos) AS pvalid
         |              FROM va$i),
         |     p${i + 1} AS MATERIALIZED (SELECT wd, freq,
         |                          row_number() OVER (PARTITION BY wd ORDER BY pos) - 1 AS pos,
         |                          CASE WHEN valid THEN ml || mr ELSE sym END AS sym
         |                   FROM dr$i WHERE NOT pvalid)""".stripMargin
    }.mkString
    val union = (0 until rounds)
      .map(i => s"SELECT $i AS round, rn, l AS lft, r AS rgt, cnt FROM pk$i")
      .mkString(" UNION ALL ")
    s"""$head$blocks,
       |     allp AS ($union)
       |              SELECT CAST(row_number() OVER (ORDER BY round, rn) - 1 AS INTEGER) AS it,
       |                     lft, rgt, cnt
       |              FROM allp ORDER BY round, rn LIMIT $numMerges""".stripMargin
  }

  /** The `ta_bpe_encode` oracle: the merge cascade runs per DISTINCT
    * word (mirroring the operator's vocab-bounded design), one CTE
    * block per pre-trained merge (literals from
    * [[graft.operators.BpeMerges]]); `l != r` merges skip the islands
    * machinery (consecutive starts impossible), and the encoded-word
    * table joins back onto the corpus word stream. */
  def bpeEncodeOracle(merges: Seq[(String, String)]): String = {
    val head =
      """WITH d AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t FROM documents),
        |     wp AS (SELECT doc_id, unnest([{'wpos': i - 1, 'wd': ws[i]}
        |                                   for i in range(1, len(ws) + 1)], recursive := true)
        |            FROM (SELECT doc_id, string_split(t, ' ') AS ws FROM d)),
        |     p0 AS (SELECT wd, unnest([{'pos': i - 1, 'sym': wd[i]}
        |                               for i in range(1, len(wd) + 1)], recursive := true)
        |            FROM (SELECT DISTINCT wd FROM wp WHERE length(wd) > 0))""".stripMargin
    val blocks = merges.zipWithIndex.map { case ((l, r), i) =>
      val validity =
        if (l != r)
          s""",
             |     va$i AS (SELECT *, start AS valid FROM s$i)""".stripMargin
        else
          s""",
             |     v$i AS (SELECT *, count(CASE WHEN start THEN 1 END)
             |                         OVER (PARTITION BY wd ORDER BY pos
             |                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS srn
             |             FROM s$i),
             |     isl$i AS (SELECT *, CASE WHEN start THEN pos - srn END AS island FROM v$i),
             |     f$i AS (SELECT *, min(CASE WHEN start THEN pos END)
             |                         OVER (PARTITION BY wd, island) AS ifirst
             |             FROM isl$i),
             |     va$i AS (SELECT *, (start AND (pos - ifirst) % 2 = 0) AS valid FROM f$i)""".stripMargin
      s""",
         |     s$i AS (SELECT wd, pos, sym,
         |                    (sym = '$l' AND lead(sym) OVER (PARTITION BY wd ORDER BY pos) = '$r') AS start
         |             FROM p$i)$validity,
         |     dr$i AS (SELECT *, lag(valid, 1, false) OVER (PARTITION BY wd ORDER BY pos) AS pvalid
         |              FROM va$i),
         |     p${i + 1} AS (SELECT wd,
         |                          row_number() OVER (PARTITION BY wd ORDER BY pos) - 1 AS pos,
         |                          CASE WHEN valid THEN '$l$r' ELSE sym END AS sym
         |                   FROM dr$i WHERE NOT pvalid)""".stripMargin
    }.mkString
    s"""$head$blocks,
       |     encv AS (SELECT wd, count(*) AS n, string_agg(sym, ' ' ORDER BY pos) AS e
       |              FROM p${merges.size} GROUP BY wd)
       |              SELECT w.doc_id AS id, CAST(sum(v.n) AS BIGINT) AS n_syms,
       |                     string_agg(v.e, ' ' ORDER BY w.wpos) AS enc
       |              FROM wp w JOIN encv v USING (wd)
       |              GROUP BY w.doc_id ORDER BY id""".stripMargin
  }

  /** The `ta_quality_logit` oracle: the same fixed-order IEEE chain over
    * the same exact-count features, weights interpolated from the ONE
    * source of truth ([[graft.operators.TextAnalysis.QualityWeights]])
    * via [[dlit]] so both engines parse identical doubles. Null text is
    * carried as a flag and nulled at the end — DuckDB's `least` ignores
    * NULL arguments (would turn a null feature into the cap). */
  def qualityLogitOracle: String = {
    val w = graft.operators.TextAnalysis.QualityWeights.map(dlit)
    val ntok = """(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END)"""
    s"""WITH f AS (SELECT doc_id, text IS NULL AS tnull,
       |             least(CAST(length(text) AS DOUBLE) / ${dlit(500.0)}, ${dlit(1.0)}) AS f_len,
       |             (CASE WHEN length(text) = 0 THEN ${dlit(0.0)}
       |                   ELSE CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
       |                        / CAST(length(text) AS DOUBLE) END) AS f_punct,
       |             least((CASE WHEN $ntok = 0 THEN ${dlit(0.0)}
       |                    ELSE CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE)
       |                         / CAST($ntok AS DOUBLE) END) / ${dlit(12.0)}, ${dlit(1.0)}) AS f_mtl,
       |             CAST((CASE WHEN contains(' ' || lower(text) || ' ', ' the ') THEN 1 ELSE 0 END)
       |                + (CASE WHEN contains(' ' || lower(text) || ' ', ' and ') THEN 1 ELSE 0 END)
       |                + (CASE WHEN contains(' ' || lower(text) || ' ', ' of ') THEN 1 ELSE 0 END)
       |                + (CASE WHEN contains(' ' || lower(text) || ' ', ' is ') THEN 1 ELSE 0 END) AS DOUBLE)
       |               / ${dlit(4.0)} AS f_stop,
       |             (CASE WHEN length(text) = 0 THEN ${dlit(0.0)}
       |                   ELSE CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
       |                        / CAST(length(text) AS DOUBLE) END) AS f_digit
       |           FROM documents),
       |     g AS (SELECT doc_id,
       |             CASE WHEN tnull THEN NULL ELSE f_len END AS f_len,
       |             CASE WHEN tnull THEN NULL ELSE f_punct END AS f_punct,
       |             CASE WHEN tnull THEN NULL ELSE f_mtl END AS f_mtl,
       |             CASE WHEN tnull THEN NULL ELSE f_stop END AS f_stop,
       |             CASE WHEN tnull THEN NULL ELSE f_digit END AS f_digit,
       |             CASE WHEN tnull THEN NULL
       |                  ELSE ${w(0)} + ${w(1)} * f_len + ${w(2)} * f_punct
       |                       + ${w(3)} * f_mtl + ${w(4)} * f_stop + ${w(5)} * f_digit END AS logit
       |           FROM f)
       |SELECT doc_id AS id, f_len, f_punct, f_mtl, f_stop, f_digit, logit,
       |       logit > ${dlit(0.0)} AS keep
       |FROM g ORDER BY id""".stripMargin
  }

  /** Render a double for a DuckDB VALUES list so it parses as DOUBLE,
    * not DECIMAL: a plain decimal literal becomes DECIMAL(19,18) and
    * DuckDB's wide-DECIMAL→DOUBLE conversion is double-rounded (~14% of
    * the PQ codebook values came back 1 ulp off, which perturbed the PQ
    * reconstructions — the one literal family whose values feed the
    * OUTPUT, not just an argmin). E-notation parses via strtod
    * (correctly rounded, bit-identical to the JVM double); Scala already
    * emits E-notation for small/large magnitudes, so only plain forms
    * need the `E0` suffix. */
  def dlit(v: Double): String = {
    val s = v.toString
    if (s.contains("E") || s.contains("e")) s else s + "E0"
  }
}
