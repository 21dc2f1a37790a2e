package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, TextStats}

/** Retired string-gram bodies of the n-gram operators, kept as the
  * equivalence references the specs compare the public operators
  * against. Each builds its grams the way the operators did before the
  * native kernels: posexplode → doc-keyed sort → `lead` window →
  * `concat_ws` gram STRINGS. The public operators key the same grams by
  * kernel output (gram strings, Karp–Rabin or FNV-1a hashes), so a spec
  * asserting row-equality with a reference pins that the kernels only
  * relabel the gram groups. Slow by design; never call from `src/main`. */
object GramReference {

  private def quantC(c: Column) = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)

  /** The Catalyst higher-order-function form of `TextStats.rollingHash`
    * that the native `KarpRabinHash` replaced. */
  def rollingHashExpr(s: Column): Column =
    aggregate(split(s, ""), lit(0L),
      (h, c) => (h * lit(257L) + ascii(c)) % lit(1000000007L))

  /** (keys…, pos, gram): the single-space join of the n tokens starting
    * at each (keys…, pos, w) token row, from n−1 `lead`s over a per-keys
    * window; positions with fewer than n tokens left emit no row. */
  private def windowGrams(toks: DataFrame, keys: Seq[String], n: Int): DataFrame = {
    val k = keys.map(col)
    val wnd = Window.partitionBy(k: _*).orderBy("pos")
    val leads = (1 until n).map(j => lead("w", j).over(wnd).as(s"__w$j"))
    toks.select(k ++ Seq(col("pos"), col("w")) ++ leads: _*)
      .filter((1 until n).map(j => col(s"__w$j").isNotNull).foldLeft(lit(true))(_ && _))
      .select(k ++ Seq(col("pos"),
        concat_ws(" ", col("w") +: (1 until n).map(j => col(s"__w$j")): _*).as("gram")): _*)
  }

  /** (doc_id, pos, w) rows of each doc's tokens. */
  private def docTokens(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      posexplode(Dedup.tokens(col(textCol))).as(Seq("pos", "w")))

  /** `TextStats.repetitionStats` over window-built gram strings. */
  def repetitionStats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val tok = docTokens(docs, idCol, textCol)
    // per doc: gram total, distinct grams and the top gram's multiplicity
    def stats(n: Int, p: String): DataFrame = windowGrams(tok, Seq("doc_id"), n)
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as(s"${p}_n"), count(lit(1)).as(s"${p}_d"), max("c").as(s"${p}_mx"))
    docs.select(col(idCol).as("doc_id"), size(Dedup.tokens(col(textCol))).as("n_tokens"))
      .join(stats(2, "b"), Seq("doc_id"), "left")
      .join(stats(3, "t"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        when(col("t_n").isNull || col("t_n") === 0, 0.0)
          .otherwise((col("t_n") - col("t_d")).cast("double") / col("t_n"))
          .as("dup_trigram_frac"),
        when(col("b_n").isNull || col("b_n") === 0, 0.0)
          .otherwise(col("b_mx").cast("double") / col("b_n"))
          .as("top_bigram_frac"))
  }

  /** (group, n, gram) for n = 1..3 over the non-empty tokens of each doc. */
  private def distinctGrams(docs: DataFrame, groupCol: String, idCol: String,
      textCol: String): DataFrame = {
    val tok = docs.select(col(groupCol).cast("string").as("group"), col(idCol).as("doc_id"),
        posexplode(Dedup.tokens(col(textCol))).as(Seq("pos", "w")))
      .filter(length(col("w")) > 0)
    (1 to 3).map(n => windowGrams(tok, Seq("group", "doc_id"), n)
        .select(col("group"), lit(n).as("n"), col("gram")))
      .reduce(_ unionByName _)
  }

  /** `TextStats.distinctNgramRatio` over window-built gram strings. */
  def distinctNgramRatio(docs: DataFrame, groupCol: String = "lang",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    distinctGrams(docs, groupCol, idCol, textCol)
      .groupBy("group", "n", "gram").agg(count(lit(1)).as("c"))
      .groupBy("group", "n")
      .agg(sum("c").as("total_ngrams"), count(lit(1)).as("distinct_ngrams"))
      .select(col("group"), col("n"), col("total_ngrams"), col("distinct_ngrams"),
        (col("distinct_ngrams").cast("double") / col("total_ngrams"))
          .as("distinct_ratio"))
      .orderBy("group", "n")

  /** `TextStats.distinctNgramRatioApprox` with each window-built gram
    * string folded through `TextStats.rollingHash`, then the operator's
    * own register/estimator tail. */
  def distinctNgramRatioApprox(docs: DataFrame, groupCol: String = "lang",
      idCol: String = "doc_id", textCol: String = "text", b: Int = 12): DataFrame =
    TextStats.hllNgramTail(distinctGrams(docs, groupCol, idCol, textCol)
      .select(col("group"), col("n"), TextStats.rollingHash(col("gram")).as("gh")), b)

  /** The Kneser–Ney / Stupid Backoff token position stream: one row per
    * token with its `order − 1` successors (w1, w2[, w3]) as token
    * strings, null past the doc tail, from a per-doc `lead` window. */
  def positions(src: DataFrame, textCol: String, order: Int): DataFrame = {
    val tok = src.select(monotonically_increasing_id().as("__d"), col(textCol).as("__t"))
      .select(col("__d"), posexplode(Dedup.tokens(col("__t"))).as(Seq("pos", "w")))
    val w = Window.partitionBy("__d").orderBy("pos")
    tok.select(col("w").as("w1") +:
      (2 to order).map(j => lead("w", j - 1).over(w).as(s"w$j")): _*)
  }

  /** `Dedup.dropDuplicateWindows` with k-token gram strings from k−1
    * window leads as the winner-rule keys. */
  def dropDuplicateWindows(docs: DataFrame, windowTokens: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val k = windowTokens
    val tok = docTokens(docs, idCol, textCol)
    val grams = windowGrams(tok, Seq("doc_id"), k).withColumnRenamed("gram", "key")
    val losers = grams
      .withColumn("rn",
        row_number().over(Window.partitionBy("key").orderBy("doc_id", "pos")))
      .filter(col("rn") > 1)
      .select(col("doc_id"), col("pos"), lit(1).as("l"))
    val wr = Window.partitionBy("doc_id").orderBy("pos")
      .rangeBetween(-(k - 1), Window.currentRow)
    tok.select(col("doc_id"), col("pos"), col("w"), lit(0).as("l"), lit(true).as("__tk"))
      .unionByName(losers.select(col("doc_id"), col("pos"),
        lit(null).cast("string").as("w"), col("l"), lit(false).as("__tk")))
      .withColumn("covered", max(col("l")).over(wr) > 0)
      .filter(col("__tk") && !col("covered"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("w")))),
            s => s.getField("w")),
          " ").as(textCol))
      .withColumnRenamed("doc_id", idCol)
  }

  /** Per-pair (idCol, pos, w) of one side's non-empty tokens. */
  private def sideTokens(base: DataFrame, idCol: String, c: String): DataFrame =
    base.select(col(idCol), posexplode(split(lower(trim(col(c))), "\\s+"))
        .as(Seq("pos", "w")))
      .filter(col("w") =!= "")

  /** (idCol, g, cnt) counts of one side's n-gram strings. */
  private def pairGramCounts(side: DataFrame, idCol: String, n: Int): DataFrame =
    windowGrams(side, Seq(idCol), n)
      .groupBy(col(idCol), col("gram").as("g")).agg(count(lit(1)).as("cnt"))

  /** `Rouge.rougeN` with per-side gram-string counts and a full-outer
    * clip join. */
  def rougeN(pairs: DataFrame, n: Int = 2, idCol: String = "pair_id",
      candCol: String = "candidate", refCol: String = "reference"): DataFrame = {
    val base = pairs.filter(col(candCol).isNotNull && col(refCol).isNotNull)
    val cg = pairGramCounts(sideTokens(base, idCol, candCol), idCol, n)
    val rg = pairGramCounts(sideTokens(base, idCol, refCol), idCol, n)
    val joined = cg.join(rg.withColumnRenamed("cnt", "rcnt"), Seq(idCol, "g"), "full_outer")
      .groupBy(col(idCol))
      .agg(sum(least(coalesce(col("cnt"), lit(0L)), coalesce(col("rcnt"), lit(0L))))
          .as("hit"),
        sum(coalesce(col("cnt"), lit(0L))).as("c_ngrams"),
        sum(coalesce(col("rcnt"), lit(0L))).as("r_ngrams"))
    base.select(col(idCol))
      .join(joined, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("c_ngrams"), lit(0L)).as("c_ngrams"),
        coalesce(col("r_ngrams"), lit(0L)).as("r_ngrams"),
        coalesce(col("hit"), lit(0L)).as("hit"))
      .withColumn("rouge_r",
        when(col("r_ngrams") > 0, quantC(col("hit") / col("r_ngrams"))))
      .withColumn("rouge_p",
        when(col("c_ngrams") > 0, quantC(col("hit") / col("c_ngrams"))))
      .withColumn("rouge_f",
        when(col("rouge_r").isNotNull && col("rouge_p").isNotNull,
          when(col("rouge_r") + col("rouge_p") > 0,
            quantC(lit(2.0) * col("rouge_p") * col("rouge_r") /
              (col("rouge_p") + col("rouge_r"))))
            .otherwise(lit(0.0))))
  }

  /** `Bleu.bleu2` with per-side uni/bigram string counts, left clip
    * joins and counted lengths. */
  def bleu2(pairs: DataFrame, idCol: String = "pair_id",
      candCol: String = "candidate", refCol: String = "reference"): DataFrame = {
    val base = pairs.filter(col(candCol).isNotNull && col(refCol).isNotNull)
    val cand = sideTokens(base, idCol, candCol)
    val ref = sideTokens(base, idCol, refCol)
    val lens = base.select(col(idCol))
      .join(cand.groupBy(col(idCol)).agg(count(lit(1)).as("c_len")), Seq(idCol), "left")
      .join(ref.groupBy(col(idCol)).agg(count(lit(1)).as("r_len")), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("c_len"), lit(0L)).as("c_len"),
        coalesce(col("r_len"), lit(0L)).as("r_len"))
    def precision(k: Int, name: String): DataFrame =
      pairGramCounts(cand, idCol, k)
        .join(pairGramCounts(ref, idCol, k).withColumnRenamed("cnt", "rcnt"),
          Seq(idCol, "g"), "left")
        .groupBy(col(idCol))
        .agg(sum(least(col("cnt"), coalesce(col("rcnt"), lit(0L)))).as("hit"),
          sum(col("cnt")).as("total"))
        .select(col(idCol), quantC(col("hit") / col("total")).as(name))
    lens
      .join(precision(1, "p1"), Seq(idCol), "left")
      .join(precision(2, "p2"), Seq(idCol), "left")
      .withColumn("bp",
        when(col("c_len") === 0, lit(null).cast("double"))
          .when(col("c_len") >= col("r_len"), lit(1.0))
          .otherwise(quantC(exp(lit(1.0) - col("r_len") / col("c_len")))))
      .withColumn("bleu",
        when(col("p1").isNotNull && col("p2").isNotNull && col("bp").isNotNull,
          quantC(col("bp") * sqrt(col("p1") * col("p2")))))
  }
}
