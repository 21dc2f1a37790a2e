package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}
import graft.expr.TokenGramHashes.tokenGramHashes

class TokenGramExprSpec extends SparkSpec {
  import spark.implicits._

  /** Runs `query` over (id, toks) `rows` and hands its rows to `check`,
    * once with default codegen and once fully interpreted
    * (`wholeStage=false` plus `factoryMode=NO_CODEGEN`; without the
    * latter, projections are still code-generated). The input is an RDD
    * (a LogicalRDD): over a `Seq.toDF` LocalRelation the optimizer
    * evaluates the projection itself with an interpreted projection, and
    * no generated code would run. */
  private def onBothPaths(rows: Seq[(Long, Seq[String])])(
      query: DataFrame => DataFrame)(check: Array[Row] => Unit): Unit = {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("toks", ArrayType(StringType))))
    val input = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, t) => Row(id, t) }, 2), schema)
    def run(codegen: Boolean): Unit = {
      val out = query(input)
      val plan = out.queryExecution.executedPlan
      assert(plan.exists(_.isInstanceOf[WholeStageCodegenExec]) == codegen, plan)
      check(out.collect())
    }
    run(codegen = true)
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try run(codegen = false)
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Reference implementation of the kernel, independent of Catalyst. */
  private def ref(toks: Seq[String], k: Int): Seq[Long] = {
    if (toks.length < k) Seq.empty
    else (0 to toks.length - k).map { i =>
      var h = 0xcbf29ce484222325L
      for (j <- 0 until k; b <- toks(i + j).getBytes("UTF-8")) {
        h ^= (b & 0xff).toLong; h *= 0x100000001b3L
      }
      // separator per token
      var h2 = 0xcbf29ce484222325L
      for (j <- 0 until k) {
        for (b <- toks(i + j).getBytes("UTF-8")) { h2 ^= (b & 0xff).toLong; h2 *= 0x100000001b3L }
        h2 ^= 0x1fL; h2 *= 0x100000001b3L
      }
      h2
    }
  }

  test("expression equals the reference kernel, codegen and interpreted") {
    val rng = new scala.util.Random(7)
    val rows = (0 until 60).map { i =>
      val n = rng.nextInt(12)
      (i.toLong, (0 until n).map(_ => rng.alphanumeric.take(1 + rng.nextInt(6)).mkString))
    }
    for (k <- Seq(1, 3, 5))
      onBothPaths(rows)(_.select($"id", tokenGramHashes($"toks", k).as("h"))) { out =>
        val got = out.map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
        rows.foreach { case (id, toks) =>
          assert(got(id) == ref(toks, k), s"k=$k id=$id toks=$toks")
        }
      }
  }

  test("unicode tokens hash by UTF-8 bytes; boundaries stay distinct") {
    val df = Seq(
      (1L, Seq("héllo", "wörld")),      // multi-byte
      (2L, Seq("ab", "c")),
      (3L, Seq("a", "bc"))
    ).toDF("id", "toks")
    val out = df.select($"id", tokenGramHashes($"toks", 2).as("h"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(out(1L) == ref(Seq("héllo", "wörld"), 2))
    assert(out(2L) != out(3L), "token-boundary shift must change the gram hash")
  }

  test("short arrays emit empty, never null; null input stays null") {
    val df = Seq((1L, Seq("only")), (2L, Seq.empty[String]))
      .toDF("id", "toks")
      .union(Seq((3L, null)).toDF("id", "toks"))
    val out = df.select($"id", tokenGramHashes($"toks", 2).as("h")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
    assert(out(1L) == Seq.empty && out(2L) == Seq.empty)
    assert(out(3L) == null)
  }

  test("SimHashReplayWord equals the Catalyst expression form it replaced") {
    // the retired 64-subexpression tree, reconstructed verbatim: kr in its
    // own projection, per-bit top-half tests of (kr * A_j) mod p
    val p = 1000000007L
    val kr = col("kr")
    val assembled = (0 until 64).map { j =>
      val aj = 2654435761L * (j + 1) % p
      shiftleft(when(pmod(kr * lit(aj), lit(p)) > lit(p / 2), lit(1L))
        .otherwise(lit(0L)), j)
    }.reduce(_.bitwiseOR(_))
    val toks = Seq("", "a", "z", "hello", "the", "0123456789",
      "repeated-repeated-repeated", "MiXeD", "café", "über",
      "a b", "trailing ") ++ (0 until 50).map(i => s"tok$i word${i * 7}")
    val df = toks.toDF("tok")
      // rollingHashExpr: the RETIRED Catalyst fold — the reference stays
      // independent of the native KarpRabinHash both fused paths share
      .withColumn("kr", GramReference.rollingHashExpr(col("tok")))
      .withColumn("old", assembled)
      .withColumn("neu", graft.expr.SimHashReplayWord.simhashReplayWord(col("tok")))
    val rows = df.select("tok", "old", "neu").collect()
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"mismatch for '${r.getString(0)}'")
    }
    // null token → null word (nullSafeEval)
    val n = Seq((1L, null: String)).toDF("id", "tok")
      .select(graft.expr.SimHashReplayWord.simhashReplayWord($"tok")).head()
    assert(n.isNullAt(0))
  }

  test("KarpRabinHash equals the Catalyst fold it replaced") {
    // the token battery of the SimHash pin plus gram-shaped inputs
    // (spaces — the HLL surrogate hashes multi-token grams) and the
    // empty-string → 0 convention
    val toks = Seq("", "a", "z", "hello", "the", "0123456789",
      "repeated-repeated-repeated", "MiXeD", "café", "über",
      "a b", "two gram", "three gram here", "trailing ") ++
      (0 until 50).map(i => s"tok$i word${i * 7}")
    val rows = toks.toDF("tok")
      .withColumn("old", GramReference.rollingHashExpr(col("tok")))
      .withColumn("neu", graft.ext.TextStats.rollingHash(col("tok")))
      .select("tok", "old", "neu").collect()
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"mismatch for '${r.getString(0)}'")
    }
    assert(rows.find(_.getString(0) == "").get.getLong(2) == 0L)
    // null input → null hash (nullSafeEval)
    val n = Seq((1L, null: String)).toDF("id", "tok")
      .select(graft.ext.TextStats.rollingHash($"tok")).head()
    assert(n.isNullAt(0))
  }

  test("KarpRabinHash stays inside whole-stage codegen") {
    val df = spark.range(10)
      .select(concat(lit("tok"), $"id".cast("string")).as("tok"))
      .select(graft.ext.TextStats.rollingHash($"tok").as("h"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("karprabinhash")), plan)
    assert(df.count() == 10)
  }

  test("SimHashReplayWord stays inside whole-stage codegen") {
    val df = spark.range(10)
      .select(concat(lit("tok"), $"id".cast("string")).as("tok"))
      .select(graft.expr.SimHashReplayWord.simhashReplayWord($"tok").as("h"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("simhashreplayword")), plan)
    assert(df.count() == 10)
  }

  test("stays inside whole-stage codegen") {
    // a non-foldable source, or constant folding evaluates the whole
    // projection at plan time and leaves only a LocalTableScan
    val df = spark.range(10)
      .select(split(concat_ws(" ", lit("a"), lit("b"), $"id".cast("string")), " ").as("toks"))
      .select(tokenGramHashes($"toks", 2).as("h"))
    // the '*(n)' prefix marks operators inside a WholeStageCodegen stage
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("tokengramhashes")), plan)
    assert(df.count() == 10)
  }

  test("KarpRabinNGramHashes equals KR of the space-joined gram string") {
    import graft.expr.{KarpRabinHash, KarpRabinNGramHashes}
    import org.apache.spark.unsafe.types.UTF8String
    // reference: the window path's gram construction — non-empty tokens,
    // n-gram strings joined by " ", hashed by the pinned KarpRabinHash
    // fold — packed n<<32|h in the kernel's n-major emission order
    def krRef(toks: Seq[String], maxN: Int): Seq[Long] = {
      val live = toks.filter(t => t != null && t.nonEmpty)
      (1 to maxN).flatMap { n =>
        (0 to live.length - n).map { i =>
          val gram = live.slice(i, i + n).mkString(" ")
          (n.toLong << 32) | KarpRabinHash.compute(UTF8String.fromString(gram))
        }
      }
    }
    val rng = new scala.util.Random(11)
    // empties (skipped — grams slide over survivors), multi-byte chars,
    // a supplementary-plane char (surrogate pair), space-bearing tokens
    val pool = Vector("a", "bc", "héllo", "wörld", "𝔘ni", "",
      "x1", "..", "longer-token", "a b")
    val rows = (0 until 80).map { i =>
      val n = rng.nextInt(9)
      (i.toLong, (0 until n).map(_ => pool(rng.nextInt(pool.length))))
    }
    // null array propagates null; null ELEMENTS are treated as empty
    val edge = Seq((100L, null: Seq[String]), (101L, Seq[String](null, "x", null, "y")))
    onBothPaths(rows ++ edge)(
        _.select($"id", KarpRabinNGramHashes.krNGramHashes($"toks", 3).as("h"))) { out =>
      val got = out
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
      rows.foreach { case (id, toks) =>
        assert(got(id) == krRef(toks, 3), s"id=$id toks=$toks")
      }
      assert(got(100L) == null)
      assert(got(101L) == krRef(Seq("x", "y"), 3))
    }
  }

  test("TokenNGrams equals the space-joined gram strings of surviving tokens") {
    import graft.expr.TokenNGrams
    // reference: the window path's gram construction — non-empty tokens,
    // n consecutive survivors joined by " " — in n-major emission order
    def ngRef(toks: Seq[String], maxN: Int): Seq[(Int, String)] = {
      val live = toks.filter(t => t != null && t.nonEmpty)
      (1 to maxN).flatMap { n =>
        (0 to live.length - n).map(i => n -> live.slice(i, i + n).mkString(" "))
      }
    }
    val rng = new scala.util.Random(13)
    val pool = Vector("a", "bc", "héllo", "wörld", "𝔘ni", "",
      "x1", "..", "longer-token", "a b")
    val rows = (0 until 80).map { i =>
      val n = rng.nextInt(9)
      (i.toLong, (0 until n).map(_ => pool(rng.nextInt(pool.length))))
    }
    onBothPaths(rows)(_
        .select($"id", explode(TokenNGrams.tokenNGrams($"toks", 3)).as("ng"))
        .select($"id", $"ng.n", $"ng.gram")) { out =>
      val got = out.groupBy(_.getLong(0))
        .map { case (id, rs) => id -> rs.toSeq.map(r => (r.getInt(1), r.getString(2))) }
      rows.foreach { case (id, toks) =>
        val exp = ngRef(toks, 3)
        // explode drops rows for empty arrays — absent id means zero grams
        assert(got.getOrElse(id, Seq.empty) == exp, s"id=$id toks=$toks")
      }
    }
    // null array propagates null (pre-explode); null ELEMENTS are empty
    val edge = Seq((1L, null: Seq[String]), (2L, Seq[String](null, "x", null, "y")))
    onBothPaths(edge)(_.select($"id", TokenNGrams.tokenNGrams($"toks", 3).as("ngs"))) { out =>
      val got = out
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Row](1))).toMap
      assert(got(1L) == null)
      assert(got(2L).map(r => (r.getInt(0), r.getString(1))) == ngRef(Seq("x", "y"), 3))
    }
  }

  test("TokenPairs equals the lead-window pair stream, null marker included") {
    import graft.expr.TokenPairs
    // reference: the doc-keyed lead-window shape — every token once as a
    // left element (empties INCLUDED, unlike the gram kernels), the last
    // token paired with the null successor marker
    def ref(toks: Seq[String]): Seq[(String, String)] =
      toks.zipWithIndex.map { case (t, i) =>
        (t, if (i + 1 < toks.length) toks(i + 1) else null)
      }
    val rng = new scala.util.Random(17)
    val pool = Vector("a", "bc", "héllo", "𝔘ni", "", "x1", "longer-token")
    val rows = (0 until 60).map { i =>
      val n = rng.nextInt(7)
      (i.toLong, (0 until n).map(_ => pool(rng.nextInt(pool.length))))
    }
    onBothPaths(rows)(_
        .select($"id", explode(TokenPairs.tokenPairs($"toks")).as("p"))
        .select($"id", $"p.w1", $"p.w2")) { out =>
      val got = out.groupBy(_.getLong(0))
        .map { case (id, rs) => id -> rs.toSeq.map(r => (r.getString(1), r.getString(2))) }
      rows.foreach { case (id, toks) =>
        assert(got.getOrElse(id, Seq.empty) == ref(toks), s"id=$id toks=$toks")
      }
    }
    // null array propagates null; a null ELEMENT stays a null field
    val edge = Seq((1L, null: Seq[String]), (2L, Seq[String]("x", null, "y")))
    onBothPaths(edge)(_.select($"id", TokenPairs.tokenPairs($"toks").as("ps"))) { out =>
      val got = out
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Row](1))).toMap
      assert(got(1L) == null)
      assert(got(2L).map(r => (r.getString(0), r.getString(1))) ==
        Seq(("x", null), (null, "y"), ("y", null)))
    }
  }
}
