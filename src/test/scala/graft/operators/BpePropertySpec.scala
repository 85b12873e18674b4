package graft.operators

import graft.SparkSpec
import org.scalacheck.Gen

/** Property evidence for the BPE trainers on arbitrary corpora, not just
  * the hand-built fixtures: the driver and distributed regimes run the
  * same round ([[Bpe.bpeTrainBatched]]) and must agree EXACTLY — merge
  * pairs, order and counts — and one round's picks must match an
  * independent reimplementation of the selection rule. Deterministic
  * seeds over raw scalacheck Gen (same rolled forAll as
  * NemCsvPropertySpec — the scalatestplus bridge isn't in the offline
  * cache); each case runs the trainers through Spark, so the case count
  * is small and the corpora tiny by design — the point is adversarial
  * SHAPE coverage (repeated-symbol runs, count ties, merged symbols
  * recombining), which a 3-letter alphabet forces constantly. */
class BpePropertySpec extends SparkSpec {

  private def forAll[A](gen: Gen[A], cases: Int)(check: A => Unit): Unit =
    (0 until cases).foreach { i =>
      gen(Gen.Parameters.default, org.scalacheck.rng.Seed(i.toLong)).foreach { a =>
        try check(a)
        catch { case e: Throwable => fail(s"failed for input (seed $i): $a", e) }
      }
    }

  // words over {a,b,c} up to length 6: small alphabet maximizes l == r
  // runs, ties, and merges whose output symbol feeds later pairs
  private val wordGen: Gen[String] =
    Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
  private val corpusGen: Gen[List[String]] =
    Gen.choose(2, 8).flatMap(n => Gen.listOfN(n,
      Gen.choose(1, 6).flatMap(w => Gen.listOfN(w, wordGen).map(_.mkString(" ")))))

  test("bpeTrainBatched: distributed ≡ driver on random corpora") {
    import spark.implicits._
    def rows(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .sortBy(_._1).toSeq
    forAll(corpusGen, cases = 6) { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      for (batchSize <- Seq(1, 3)) {
        // these tiny corpora take the driver regime by default; a 0-byte
        // limit forces the distributed round on the same input
        val driver = rows(Bpe.bpeTrainBatched(df, "text", numMerges = 4, batchSize = batchSize))
        spark.conf.set("spark.graft.bpe.driverInputLimit", "0")
        val dist = try rows(Bpe.bpeTrainBatched(df, "text", numMerges = 4, batchSize = batchSize))
          finally spark.conf.unset("spark.graft.bpe.driverInputLimit")
        assert(dist === driver, s"batchSize=$batchSize")
      }
    }
  }

  /** Independent driver-side reimplementation of ONE round of the
    * documented selection rule: initial pair counts (per adjacent
    * position, weighted by word frequency), rank (count desc, pair asc),
    * conflict-free prefix vs ALL higher ranks, cap at batchSize. */
  private def expectedFirstRound(docs: Seq[String], batchSize: Int): Seq[(String, String, Long)] = {
    val words = docs.flatMap(_.trim.split("\\s+")).filter(_.nonEmpty)
    val freq = words.groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    val counts = freq.toSeq.flatMap { case (w, f) =>
      w.sliding(2).filter(_.length == 2).map(p => (p(0).toString, p(1).toString) -> f)
    }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
    val ranked = counts.toSeq
      .sortBy { case ((l, r), c) => (-c, l, r) }
      .take(4 * batchSize)
    val picked = ranked.zipWithIndex.filter { case (((l, r), _), i) =>
      ranked.take(i).forall { case ((hl, hr), _) =>
        hl != l && hl != r && hr != l && hr != r
      }
    }.map { case (((l, r), c), _) => (l, r, c) }
    picked.take(batchSize)
  }

  test("bpeTrainBatched round-1 picks match an independent reimplementation of the rule") {
    import spark.implicits._
    forAll(corpusGen, cases = 6) { docs =>
      val expected = expectedFirstRound(docs, batchSize = 4)
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      // ask for exactly one round's worth so the table prefix IS round 1
      val got = Bpe.bpeTrainBatched(df, "text",
          numMerges = expected.length.max(1), batchSize = 4)
        .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
      assert(got === expected) // empty expected ⇒ no pairs exist ⇒ empty table
      // picks of one round are pairwise symbol-disjoint (an l == r pick
      // legitimately repeats its own symbol — disjointness is BETWEEN picks)
      val symSets = got.map { case (l, r, _) => Set(l, r) }
      for (i <- symSets.indices; j <- 0 until i)
        assert((symSets(i) intersect symSets(j)).isEmpty,
          s"picks ${got(j)} and ${got(i)} share a symbol")
    }
  }
}
