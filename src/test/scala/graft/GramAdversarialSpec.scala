package graft

import org.apache.spark.sql.{DataFrame, Row}
import graft.ext.{Bleu, Dedup, Rouge, TextStats}

/** Out-of-contract text for the public n-gram operators: null text, an
  * empty and a whitespace-only text, a one-token doc, a token holding a
  * surrogate pair, and a doc repeated verbatim. Each table row gives a
  * case and every operator's declared policy for it (row dropped, zeros,
  * or null), as stated in the operators' scaladocs. */
class GramAdversarialSpec extends SparkSpec {
  import spark.implicits._

  private val rep = "the same words repeated here"
  private val noBigrams = Some((Option.empty[Double], Option.empty[Double]))
  private val identical = Some((Some(1.0), Some(1.0)))
  private val noGrams = Map.empty[Int, (Long, Long)]
  private val repGrams = Map(1 -> (10L, 5L), 2 -> (8L, 4L), 3 -> (6L, 3L))

  /** (doc_id, case, text,
    *  repetitionStats (n_tokens, dup_trigram_frac, top_bigram_frac),
    *  dropDuplicateWindows text at k = 3 (None: row dropped),
    *  (rougeN F at n = 2, bleu2) of the text paired with itself (None:
    *  row dropped),
    *  distinctNgramRatio (total, distinct) per n of the case's group —
    *  a missing n is a dropped row). */
  private val table = Seq(
    (1L, "null", null: String, (None, 0.0, 0.0), None, None, noGrams),
    (2L, "empty", "", (Some(1), 0.0, 0.0), Some(""), noBigrams, noGrams),
    (3L, "blank", "   ", (Some(1), 0.0, 0.0), Some(""), noBigrams, noGrams),
    (4L, "one", "solo", (Some(1), 0.0, 0.0), Some("solo"), noBigrams, Map(1 -> (1L, 1L))),
    (5L, "surrogate", "𝔘ni code 𝔘ni", (Some(3), 0.0, 0.5), Some("𝔘ni code 𝔘ni"), identical,
      Map(1 -> (3L, 2L), 2 -> (2L, 2L), 3 -> (1L, 1L))),
    // the first copy wins every window; the second is fully covered
    (6L, "repeated", rep, (Some(5), 0.0, 0.25), Some(rep), identical, repGrams),
    (7L, "repeated", rep, (Some(5), 0.0, 0.25), None, identical, repGrams))

  private def byKey[K](df: DataFrame)(key: Row => K): Map[K, Row] =
    df.collect().map(r => key(r) -> r).toMap

  private def opt(r: Row, c: String): Option[Double] =
    if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Double](c))

  test("gram operators follow their declared policy on adversarial text") {
    // each case is its own `lang` group
    val docs = table.map(t => (t._1, t._2, t._3)).toDF("doc_id", "lang", "text")
    val pairs = table.map(t => (t._1, t._3, t._3)).toDF("pair_id", "candidate", "reference")
    def byDoc(df: DataFrame) = byKey(df)(_.getAs[Long](0))
    def byGroup(df: DataFrame) = byKey(df)(r => (r.getAs[String]("group"), r.getAs[Int]("n")))
    val repetition = byDoc(TextStats.repetitionStats(docs))
    val dedup = byDoc(Dedup.dropDuplicateWindows(docs, windowTokens = 3))
    val rouge = byDoc(Rouge.rougeN(pairs, n = 2))
    val bleu = byDoc(Bleu.bleu2(pairs))
    val exact = byGroup(TextStats.distinctNgramRatio(docs))
    val approx = byGroup(TextStats.distinctNgramRatioApprox(docs))
    table.foreach { case (id, c, _, wantRep, wantDedup, wantPair, wantGrams) =>
      val r = repetition(id)
      assert((Option(r.getAs[java.lang.Integer]("n_tokens")).map(_.toInt),
        r.getAs[Double]("dup_trigram_frac"), r.getAs[Double]("top_bigram_frac")) == wantRep,
        s"repetitionStats $c")
      assert(dedup.get(id).map(_.getAs[String]("text")) == wantDedup, s"dropDuplicateWindows $c")
      assert(rouge.get(id).map(opt(_, "rouge_f")) == wantPair.map(_._1), s"rougeN $c")
      assert(bleu.get(id).map(opt(_, "bleu")) == wantPair.map(_._2), s"bleu2 $c")
      val got = exact.collect { case ((`c`, n), g) =>
        n -> ((g.getAs[Long]("total_ngrams"), g.getAs[Long]("distinct_ngrams")))
      }
      assert(got == wantGrams, s"distinctNgramRatio $c")
      val est = approx.collect { case ((`c`, n), g) =>
        n -> ((g.getAs[Long]("total_ngrams"), g.getAs[Double]("est_distinct")))
      }
      assert(est.keySet == wantGrams.keySet, s"distinctNgramRatioApprox $c")
      est.foreach { case (n, (total, e)) =>
        val (wantTotal, wantDistinct) = wantGrams(n)
        assert(total == wantTotal && math.abs(e - wantDistinct) < 0.01 * wantDistinct,
          s"distinctNgramRatioApprox $c n=$n: total $total est $e")
      }
    }
  }
}
