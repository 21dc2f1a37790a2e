package graft

import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Similarity}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("window dedup: sliding duplicate caught at any alignment, first doc keeps it") {
    // doc2 repeats doc1's 3-token phrase SHIFTED by one token — the span
    // (block) form misses this, the sliding form must not
    val d = docs((1L, "p q r x1 x2"), (2L, "y0 p q r y1"), (3L, "all fresh tokens here"))
    val out = Dedup.dropDuplicateWindows(d, windowTokens = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens_kept"), r.getAs[String]("text"))).toMap
    assert(out(1L) == (5L, "p q r x1 x2"), s"got ${out(1L)}")
    // doc2: losing window starts at pos 1 → tokens 1..3 removed
    assert(out(2L) == (2L, "y0 y1"), s"got ${out(2L)}")
    assert(out(3L) == (4L, "all fresh tokens here"), s"got ${out(3L)}")
  }

  test("window dedup: coverage is the union of losing windows; fully-covered doc disappears") {
    val phrase = "a b c d"
    val d = docs((1L, phrase), (2L, phrase))
    val out = Dedup.dropDuplicateWindows(d, windowTokens = 4)
      .collect().map(_.getAs[Long]("doc_id")).sorted
    assert(out.sameElements(Array(1L)), s"got ${out.toSeq}")
    // overlapping losers within one doc union cleanly: doc 4 repeats the
    // phrase twice back-to-back — the second copy is covered, first kept
    val d2 = docs((4L, s"$phrase $phrase"), (5L, "z1 z2"))
    val out2 = Dedup.dropDuplicateWindows(d2, windowTokens = 4)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(out2(4L) == phrase, s"got ${out2(4L)}")
  }

  test("window dedup: docs shorter than the window survive intact; hashKeys form agrees") {
    val d = docs((1L, "tiny doc"), (2L, "tiny doc"), (3L, "one two three four five"),
      (4L, "zz one two three four five tail"))
    val s1 = GramReference.dropDuplicateWindows(d, windowTokens = 5)
      .orderBy("doc_id").collect().toSeq
    // both 2-token docs survive whole (no 5-token window exists in them)
    assert(s1.count(r => r.getAs[String]("text") == "tiny doc") == 2)
    val s2 = Dedup.dropDuplicateWindows(d, windowTokens = 5)
      .orderBy("doc_id").collect().toSeq
    assert(s1 == s2, "hash-keyed form diverged from exact-string form")
  }

  test("span dedup: global first occurrence wins, within-doc repeats dropped") {
    // 4-token spans: doc1 = [A][B], doc2 = [A][C], doc3 = [D][D]
    val a = "w1 w2 w3 w4"; val b = "b1 b2 b3 b4"; val c = "c1 c2 c3 c4"
    val dd = "r1 r2 r3 r4"
    val d = docs((1L, s"$a $b"), (2L, s"$a $c"), (3L, s"$dd $dd"))
    val out = Dedup.dropRepeatedSpans(d, spanTokens = 4)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_spans_kept"), r.getAs[String]("text"))).toMap
    // doc1 keeps both spans (first occurrence of A); doc2 loses A, keeps C;
    // doc3's second repeat of D is dropped (within-doc idx tiebreak)
    assert(out(1L) == (2L, s"$a $b"), s"got ${out(1L)}")
    assert(out(2L) == (1L, c), s"got ${out(2L)}")
    assert(out(3L) == (1L, dd), s"got ${out(3L)}")
  }

  test("span dedup: doc whose every span repeats elsewhere disappears") {
    val a = "w1 w2 w3 w4"
    val d = docs((1L, a), (2L, a))
    val out = Dedup.dropRepeatedSpans(d, spanTokens = 4)
      .collect().map(_.getAs[Long]("doc_id"))
    assert(out.sameElements(Array(1L)), s"got ${out.toSeq}")
  }

  test("span dedup row form: reassembly preserves span order") {
    val spans = Seq((7L, 2L, "zz"), (7L, 0L, "aa"), (7L, 1L, "mm"))
      .toDF("doc_id", "span_idx", "span_text")
    val kept = Dedup.dropRepeatedSpanRows(spans)
    assert(kept.count() == 3) // all unique -> all kept
    val d = docs((7L, "aa mm zz"))
    val re = Dedup.dropRepeatedSpans(d, spanTokens = 1).head()
    assert(re.getAs[String]("text") == "aa mm zz")
  }

  test("span dedup: join-free whole-doc path == row-form semi-join on random corpora") {
    // The whole-doc form projects survivors straight out of the winner agg;
    // the row form semi-joins on (doc, idx). Both must keep the same span
    // set on any corpus — including viral spans and within-doc repeats.
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 5) {
      val vocab = Vector("aa", "bb", "cc", "dd", "ee")
      val ds = (1L to 20L).map { id =>
        val n = 2 + rnd.nextInt(4) // 2-5 spans of 2 tokens
        id -> Seq.fill(n * 2)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val d = docs(ds: _*)
      val spans = graft.ext.Packing.chunkByTokenBudget(d, maxTokens = 2, overlap = 0)
        .select(col("doc_id"), col("chunk_id"), col("chunk_text"))
      val viaRows = Dedup.dropRepeatedSpanRows(spans, "doc_id", "chunk_id", "chunk_text")
        .select("doc_id", "chunk_id", "chunk_text").as[(Long, Long, String)].collect()
      val viaDocs = Dedup.dropRepeatedSpans(d, spanTokens = 2)
      // per-doc kept counts must agree...
      val docCounts = viaDocs.select("doc_id", "n_spans_kept").as[(Long, Long)].collect().toMap
      val rowCounts = viaRows.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      assert(docCounts == rowCounts, s"kept-count mismatch: $docCounts vs $rowCounts")
      // ...and so must the EXACT surviving spans: with a 5-token vocab two
      // equal-count keep sets could differ, so compare the reassembled text
      // (doc-ordered survivor chunks) against the whole-doc path's output.
      val rowText = viaRows.groupBy(_._1).view.mapValues(
        _.sortBy(_._2).map(_._3).mkString(" ")).toMap
      val docText = viaDocs.select("doc_id", "text").as[(Long, String)].collect().toMap
      assert(docText == rowText, s"survivor-span mismatch: $docText vs $rowText")
    }
  }

  test("span dedup: custom idCol is aliased back in the result schema") {
    val d = Seq((1L, "w1 w2 w3 w4"), (2L, "c1 c2 c3 c4")).toDF("my_id", "text")
    val out = Dedup.dropRepeatedSpans(d, spanTokens = 4, idCol = "my_id")
    assert(out.columns.toSeq == Seq("my_id", "n_spans_kept", "text"), s"got ${out.columns.toSeq}")
    assert(out.count() == 2)
  }

  test("dropBoilerplateLines: df-threshold rule, within-doc repeats survive, order kept") {
    val docs = Seq(
      (1L, "unique alpha\nCOOKIE BANNER\nbody one\nbody one\ncookie banner"),
      (2L, "cookie banner\nbody two"),
      (3L, "Cookie Banner\nbody three\n\n  \n\t\n\r\nunique omega"),
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Dedup.dropBoilerplateLines(docs, minDocFreq = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_lines_kept"), r.getAs[String]("text"))).toMap
    // "cookie banner" normalizes identically in 3 docs → dropped everywhere,
    // case variants included; within-doc repeat "body one" ×2 survives BOTH
    // copies (df counts DOCS, not occurrences)
    assert(out(1L) == ((3L, "unique alpha\nbody one\nbody one")))
    assert(out(2L) == ((1L, "body two")))
    // blank/whitespace-only lines (space, tab, CR) dropped unconditionally
    assert(out(3L) == ((2L, "body three\nunique omega")))
    // null text → zero lines, empty reassembly, row kept
    assert(out(4L) == ((0L, "")))
    // below the threshold nothing is boilerplate
    val loose = Dedup.dropBoilerplateLines(docs.filter($"doc_id" <= 2), minDocFreq = 3)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_lines_kept")).toMap
    assert(loose == Map(1L -> 5L, 2L -> 2L))
    intercept[IllegalArgumentException] { Dedup.dropBoilerplateLines(docs, 1) }
  }

  test("exact dup summary counts duplicate groups") {
    val d = docs((1L, "a b c"), (2L, "a b c"), (3L, "x y z"), (4L, "a b c"))
    val r = Dedup.exactDupSummary(d).head()
    assert(r.getAs[Long]("n_docs") == 4)
    assert(r.getAs[Long]("n_distinct") == 2)
    assert(r.getAs[Long]("n_dupe_groups") == 1)
    assert(r.getAs[Long]("n_redundant") == 2)
    val kept = Dedup.dropExactDuplicates(d).collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 3L))
  }

  test("exact dedup: null ids never win over real ids, all-null groups keep a real row") {
    val d = Seq[(Option[Long], String)](
      (Some(9L), "a b c"), (None, "a b c"),     // null id must not be the keeper
      (None, "x y z"), (None, "x y z"))         // all-null group must keep a REAL row
      .toDF("doc_id", "text")
    val kept = Dedup.dropExactDuplicates(d).collect()
    assert(kept.length == 2)
    val byText = kept.map(r => r.getAs[String]("text") -> r).toMap
    assert(byText("a b c").getAs[Any]("doc_id") == 9L)
    val nullRow = byText("x y z")
    assert(nullRow.isNullAt(nullRow.fieldIndex("doc_id")) &&
      nullRow.getAs[String]("text") == "x y z") // real row, not fabricated all-NULL
  }

  test("minhash LSH finds near-duplicate pairs and exact jaccard verifies") {
    val base = (1 to 60).map(i => s"word$i").mkString(" ")
    val nearDup = (1 to 60).map(i => if (i == 30) "CHANGED" else s"word$i").mkString(" ")
    val other = (100 to 160).map(i => s"tok$i").mkString(" ")
    val d = docs((1L, base), (2L, nearDup), (3L, other))
    val pairs = Dedup.minhashNearDuplicates(d, threshold = 0.5).collect()
    assert(pairs.length == 1)
    assert(pairs(0).getAs[Long]("doc_a") == 1L && pairs(0).getAs[Long]("doc_b") == 2L)
    // 58 shingles, 3 changed => jaccard = 55/61
    assert(math.abs(pairs(0).getAs[Double]("jaccard") - 55.0 / 61.0) < 1e-9)
  }

  test("minhash signature pass runs once: consumers read a checkpoint leaf") {
    // The signature frame has FOUR consumers (the band branch twice, via
    // the candidate self-join, plus the two verify joins). The previous
    // design leaned on ReuseExchange to collapse them, which only held in
    // the forced sort-merge regime: with broadcast joins (the default at
    // fixture scale), column pruning specializes each consumer's aggregate
    // and the round-4 plan audit measured 4 parquet scans, 8 window evals,
    // 0 reuses. lshCore now eagerly localCheckpoints the signature frame,
    // so the corpus scan + token shuffle + 33-buffer aggregate run exactly
    // once in EVERY join regime — the executed plan must contain zero
    // FileScans of the source (all consumers read the checkpointed leaf).
    val dir = java.nio.file.Files.createTempDirectory("mh_plan").toString
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    (1L to 6L).map(i => (i, if (i <= 2) base else s"doc $i " * 10))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    val src = spark.read.parquet(dir)
    val nd = Dedup.minhashNearDuplicates(src, threshold = 0.5)
    val rows = nd.collect() // materialize so the adaptive plan is final
    // the planted exact-dup pair must still verify at jaccard 1.0
    assert(rows.exists(r => r.getAs[Long]("doc_a") == 1L &&
      r.getAs[Long]("doc_b") == 2L && r.getAs[Double]("jaccard") == 1.0))
    // AdaptiveSparkPlan.toString prints BOTH the final and the initial
    // plan; only the final section reflects what actually ran.
    val planStr = nd.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val scans = "FileScan parquet".r.findAllIn(planStr).length
    assert(scans == 0, s"expected no parquet scans (checkpoint leaf), got $scans:\n$planStr")
    assert(planStr.contains("ExistingRDD"),
      s"expected the checkpointed signature leaf in the plan:\n$planStr")
  }

  test("ngram jaccard of identical texts is 1, disjoint is 0") {
    val d = Seq(("a b c d", "a b c d"), ("a b c d", "x y z w"))
      .toDF("ta", "tb")
      .select(Dedup.ngramJaccard($"ta", $"tb", 2).as("j"))
      .collect()
    assert(d(0).getDouble(0) == 1.0)
    assert(d(1).getDouble(0) == 0.0)
  }

  test("simhash: identical docs equal, near docs close, unrelated far") {
    val base = (1 to 80).map(i => s"word$i").mkString(" ")
    val near = (1 to 80).map(i => if (i % 40 == 0) "CHANGED" + i else s"word$i").mkString(" ")
    val far = (1000 to 1080).map(i => s"zz$i").mkString(" ")
    val sh = Dedup.simhash(docs((1L, base), (2L, base), (3L, near), (4L, far)))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(sh(1L) == sh(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(3L)) < ham(sh(1L), sh(4L)))
    val pairs = Dedup.simhashNearDuplicates(
      docs((1L, base), (2L, base), (3L, near), (4L, far)), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._2 == 4L || p._1 == 4L))
  }

  test("embedding near-duplicates found via LSH buckets") {
    val rng = new scala.util.Random(11)
    def vec() = Array.fill(16)(rng.nextGaussian().toFloat)
    val v1 = vec()
    val v1b = v1.zipWithIndex.map { case (v, i) => if (i == 0) v + 0.01f else v }
    val rows = Seq((0L, v1), (1L, v1b)) ++ (2L to 40L).map(i => (i, vec()))
    val df = rows.toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDuplicates(df, dim = 16, bits = 8, threshold = 0.98)
      .collect()
    assert(pairs.exists(r => r.getAs[Long]("vec_a") == 0L && r.getAs[Long]("vec_b") == 1L))
    pairs.foreach(r => assert(r.getAs[Double]("cos") >= 0.98))
  }

  test("brute-force topk: self is rank 1 with cosine 1") {
    val rng = new scala.util.Random(5)
    val rows = (0L to 50L).map(i => (i, Array.fill(16)(rng.nextGaussian().toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    val q = df.filter($"vec_id" < 2)
      .select($"vec_id".as("query_id"), $"embedding".as("query_emb"))
    val top = Similarity.bruteForceTopK(df, q, k = 3).collect()
    assert(top.length == 6)
    top.filter(_.getAs[Int]("rank") == 1).foreach { r =>
      assert(r.getAs[Long]("vec_id") == r.getAs[Long]("query_id"))
      assert(math.abs(r.getAs[Double]("cos") - 1.0) < 1e-9)
    }
  }

  test("topk rejects a non-numeric id column up front with a clear error") {
    val df = Seq(("a", Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val q = Seq((1L, Array(1.0f, 0.0f))).toDF("query_id", "query_emb")
    val e = intercept[IllegalArgumentException] {
      Similarity.bruteForceTopK(df, q, k = 1)
    }
    assert(e.getMessage.contains("must be numeric"), e.getMessage)
  }

  test("LSH topk achieves high recall vs brute force on clustered data") {
    // clustered embeddings — the workload LSH is for; pure-random vectors
    // have no near neighbors and any bucketing scheme degrades there
    val rng = new scala.util.Random(9)
    val centers = Array.fill(20)(Array.fill(16)(rng.nextGaussian()))
    val rows = (0L until 300L).map { i =>
      val c = centers((i % 20).toInt)
      (i, c.map(v => (v + rng.nextGaussian() * 0.05).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val q = df.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("query_emb"))
    val brute = Similarity.bruteForceTopK(df, q, k = 5, idCol = "vec_id")
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val approx = Similarity.lshTopK(df, q, k = 5, Dedup.hyperplanes(16, 8, 42L))
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = brute.intersect(approx).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall")
    // rank-1 (self) always found: its bucket equals the query bucket
    (0L until 5L).foreach(i => assert(approx.contains((i, i))))
    // the in-query recall column meets the documented fixture-scale floor
    val withRec = Similarity.withRecallAtK(
      Similarity.lshTopK(df, q, k = 5, Dedup.hyperplanes(16, 8, 42L)),
      Similarity.bruteForceTopK(df, q, k = 5))
    withRec.select("query_id", "recall_at_k").distinct().collect().foreach { r =>
      assert(r.getAs[Double]("recall_at_k") >= 0.8,
        s"query ${r.get(0)} recall ${r.get(1)}")
    }
  }

  test("replayable LSH topk (integer planes) keeps recall on clustered data") {
    // same clustered workload as the Gaussian-plane test: the replayable
    // twin must be a usable ANN operator, not just an oracle instrument
    val rng = new scala.util.Random(9)
    val centers = Array.fill(20)(Array.fill(16)(rng.nextGaussian()))
    val rows = (0L until 300L).map { i =>
      val c = centers((i % 20).toInt)
      (i, c.map(v => (v + rng.nextGaussian() * 0.05).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val q = df.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("query_emb"))
    val brute = Similarity.bruteForceTopK(df, q, k = 5, idCol = "vec_id")
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val approx = Similarity.lshTopK(df, q, k = 5, Similarity.integerPlanes(16, 8))
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = brute.intersect(approx).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall")
    // self-match invariant holds regardless of the plane family
    (0L until 5L).foreach(i => assert(approx.contains((i, i))))
  }

  test("replayable IVF topk (pinned centroids) finds self-matches and sane recall") {
    val rng = new scala.util.Random(9)
    val centers = Array.fill(20)(Array.fill(16)(rng.nextGaussian()))
    val rows = (0L until 300L).map { i =>
      val c = centers((i % 20).toInt)
      (i, c.map(v => (v + rng.nextGaussian() * 0.05).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val q = df.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("query_emb"))
    val brute = Similarity.bruteForceTopK(df, q, k = 5, idCol = "vec_id")
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val approx = Similarity.ivfTopK(df, q, k = 5, Similarity.integerPlanes(16, 8), nprobe = 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    // self lives in its own cell, and that cell is always probed (rank-1
    // centroid of a vector is its own cell's centroid by definition)
    (0L until 5L).foreach(i => assert(approx.contains((i, i))))
    val recall = brute.intersect(approx).size.toDouble / brute.size
    assert(recall >= 0.6, s"recall $recall")  // fixed random-direction quantizer floor
  }

  test("IVF assignment/probe paths agree on NaN (zero-norm) vectors") {
    // a zero-norm centroid yields NaN cosine against every vector; a
    // zero-norm embedding yields NaN against every centroid. Both the
    // codegen'd expression path (<=16 cells) and the closure-UDF path
    // (>16 cells) must map NaN to -inf, or cell assignment would depend
    // on nlist (array_max ranks NaN greatest; strict > skips it).
    val cents = Array(
      Array(0.0, 0.0, 0.0, 0.0),   // degenerate centroid: must never win
      Array(1.0, 0.0, 0.0, 0.0),
      Array(0.0, 1.0, 0.0, 0.0))
    val df = Seq(
      (1L, Seq(0.9, 0.1, 0.0, 0.0)),  // nearest real centroid: cell 1
      (2L, Seq(0.0, 0.0, 0.0, 0.0))   // zero-norm: all NaN -> cell 0 both paths
    ).toDF("vec_id", "emb")
    val exprCells = df.withColumn("cell", Similarity.cellOf(col("emb"), cents))
      .orderBy("vec_id").collect().map(_.getAs[Int]("cell")).toSeq
    val udfCells = df.withColumn("cell", Similarity.assignUdf(cents)(col("emb")))
      .orderBy("vec_id").collect().map(_.getAs[Int]("cell")).toSeq
    assert(exprCells == udfCells, s"expr $exprCells vs udf $udfCells")
    assert(exprCells == Seq(1, 0), s"got $exprCells")
    // probe order: the degenerate centroid sorts LAST on both paths
    val probes = df.filter(col("vec_id") === 1L)
      .select(col("emb").as("qemb"))
      .withColumn("u", Similarity.probeUdf(cents, 3)(col("qemb")))
      .head().getAs[scala.collection.Seq[Int]]("u").toSeq
    assert(probes == Seq(1, 2, 0), s"probe order $probes")
  }

  test("IVF large-quantizer (closure-UDF) path: self-matches and recall hold") {
    // nlist > 16 routes assignment and probing through the UDF argmax
    // instead of the literal-codegen expressions — same invariants must hold
    val rng = new scala.util.Random(9)
    val centers = Array.fill(20)(Array.fill(16)(rng.nextGaussian()))
    val rows = (0L until 300L).map { i =>
      val c = centers((i % 20).toInt)
      (i, c.map(v => (v + rng.nextGaussian() * 0.05).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val q = df.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("query_emb"))
    val brute = Similarity.bruteForceTopK(df, q, k = 5, idCol = "vec_id")
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val approx = Similarity.ivfTopK(df, q, k = 5, Similarity.integerPlanes(16, 24), nprobe = 6)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    (0L until 5L).foreach(i => assert(approx.contains((i, i))))
    val recall = brute.intersect(approx).size.toDouble / brute.size
    assert(recall >= 0.6, s"recall $recall")
  }

  test("pre-assigned IVF search equals direct search (amortized index path)") {
    // assignCells -> persist partitioned by cell -> ivfTopKPreAssigned:
    // the amortized deployment shape. Must rank identically to the
    // direct ivfTopK pipeline on the same pinned quantizer.
    val rng = new scala.util.Random(7)
    val df = (0L until 300L).map { i =>
      (i, Seq.fill(16)(rng.nextGaussian()))
    }.toDF("vec_id", "embedding")
    val cents = Similarity.integerPlanes(16, 8)
    val q = df.filter($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding".as("query_emb"))
    val direct = Similarity.ivfTopK(df, q, k = 5, cents, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val dir = java.nio.file.Files.createTempDirectory("ivf_cells").toString
    Similarity.assignCells(df, cents).write.mode("overwrite").partitionBy("cell").parquet(dir)
    val assigned = spark.read.parquet(dir)
    val pre = Similarity.ivfTopKPreAssigned(assigned, q, k = 5, cents, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(pre == direct, s"pre $pre vs direct $direct")
  }

  test("meanPoolEmbeddings: hand-checked averages, ordered reassembly") {
    val df = Seq(
      (1L, Seq(1.0, 2.0, 10.0)),
      (1L, Seq(3.0, 4.0, 20.0)),
      (2L, Seq(5.0, 6.0, 7.0))
    ).toDF("doc_id", "embedding")
    val pooled = Similarity.meanPoolEmbeddings(df)
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[Double](1).toSeq, r.getLong(2)))).toMap
    assert(pooled(1L) == ((Seq(2.0, 3.0, 15.0), 2L)), s"${pooled(1L)}")
    assert(pooled(2L) == ((Seq(5.0, 6.0, 7.0), 1L)), s"${pooled(2L)}")
  }

  test("withRecallAtK matches exact set arithmetic") {
    val rng = new scala.util.Random(23)
    val rows = (0L until 60L).map(i => (i, Array.fill(8)(rng.nextGaussian().toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    val q = df.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("query_emb"))
    val exact = Similarity.bruteForceTopK(df, q, k = 4)
    // an "approximation" that keeps only the top 2 of 4 -> recall 0.5
    val approx = exact.filter($"rank" <= 2)
    val rec = Similarity.withRecallAtK(approx, exact)
    assert(rec.count() == approx.count())
    rec.select("query_id", "recall_at_k").distinct().collect().foreach { r =>
      assert(r.getAs[Double]("recall_at_k") == 0.5)
    }
  }

  test("IVF topk achieves high recall vs brute force on clustered data") {
    val rng = new scala.util.Random(17)
    val centers = Array.fill(20)(Array.fill(16)(rng.nextGaussian()))
    val rows = (0L until 300L).map { i =>
      val c = centers((i % 20).toInt)
      (i, c.map(v => (v + rng.nextGaussian() * 0.05).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val q = df.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("query_emb"))
    val brute = Similarity.bruteForceTopK(df, q, k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val cents = Similarity.trainIvfCentroids(df, nlist = 8)
    val approx = Similarity.ivfTopK(df, q, k = 5, cents, nprobe = 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = brute.intersect(approx).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall")
    // self always found: the query's own cell is always its top probe
    (0L until 5L).foreach(i => assert(approx.contains((i, i))))
    // the in-query recall column meets the documented fixture-scale floor
    val withRec = Similarity.withRecallAtK(
      Similarity.ivfTopK(df, q, k = 5, cents, nprobe = 3),
      Similarity.bruteForceTopK(df, q, k = 5))
    withRec.select("query_id", "recall_at_k").distinct().collect().foreach { r =>
      assert(r.getAs[Double]("recall_at_k") >= 0.8,
        s"query ${r.get(0)} recall ${r.get(1)}")
    }
    // training twice is deterministic
    val c1 = Similarity.trainIvfCentroids(df, nlist = 8, iters = 3)
    val c2 = Similarity.trainIvfCentroids(df, nlist = 8, iters = 3)
    assert(c1.zip(c2).forall { case (a, b) => a.sameElements(b) })
  }

  test("replayable minhash finds planted near-dups like the xxhash64 path") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base), (2L, base + " extra tail"),
      (3L, "totally different content body " * 8),
      (4L, "yet another unrelated text entirely " * 8))
      .toDF("doc_id", "text")
    val rep = Dedup.minhashNearDuplicatesReplayable(docs, numHashes = 8, bands = 8,
        threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(rep.contains((1L, 2L)), s"planted pair missing: $rep")
    assert(!rep.exists { case (a, b) => Set(a, b).intersect(Set(3L, 4L)).nonEmpty },
      s"unrelated docs flagged: $rep")
    // the production path agrees on the same fixture
    val prod = Dedup.minhashNearDuplicates(docs, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(prod == rep, s"prod $prod vs replayable $rep")
  }

  test("bulk-replayable minhash: production pipeline incl. the short-doc digest branch") {
    // the driver oracle's probe corpus has no sub-k docs, so the digest
    // branch (ntok < k -> one whole-doc shingle) is pinned HERE: two
    // identical 2-token docs must band together in every band and verify
    // at jaccard 1.0 through the injected Karp-Rabin/polynomial path
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base), (2L, base + " extra tail"),
      (3L, "hi there"), (4L, "hi there"),
      (5L, "unrelated content entirely " * 8))
      .toDF("doc_id", "text")
    val rep = Dedup.minhashNearDuplicatesBulkReplayable(docs, numHashes = 8, bands = 4,
        threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("jaccard")).toMap
    assert(rep.contains((1L, 2L)), s"planted long pair missing: $rep")
    assert(rep.get((3L, 4L)).contains(1.0), s"short-doc digest pair missing: $rep")
    assert(!rep.keys.exists { case (a, b) => Set(a, b).contains(5L) },
      s"unrelated doc flagged: $rep")
    // the xxhash64 default routes through the SAME pipeline and agrees
    val prod = Dedup.minhashNearDuplicates(docs, numHashes = 8, bands = 4,
        threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("jaccard")).toMap
    assert(prod == rep, s"prod $prod vs bulk-replayable $rep")
  }

  test("replayable simhash: identical docs distance 0, near docs closer than unrelated") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base), (2L, base), (3L, base + " tail word extra"),
      (4L, "entirely different vocabulary everywhere " * 6))
      .toDF("doc_id", "text")
    val fp = Dedup.simhashReplayable(docs)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(fp(a) ^ fp(b))
    assert(ham(1L, 2L) == 0)
    assert(ham(1L, 3L) < ham(1L, 4L),
      s"near ${ham(1L, 3L)} !< far ${ham(1L, 4L)}")
    assert(ham(1L, 3L) <= 12)
  }

  test("connectedComponents labels a path, a clique, and a disjoint pair") {
    // path 1..6 (diameter 5 — forces several propagation rounds),
    // clique {10,11,12}, disjoint edge {20,21}
    val pairs = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L)) ++
      Seq((10L, 11L), (10L, 12L), (11L, 12L)) ++ Seq((20L, 21L)))
      .toDF("doc_a", "doc_b")
    val comps = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("component")).toMap
    (1L to 6L).foreach(v => assert(comps(v) == 1L, s"$v -> ${comps(v)}"))
    Seq(10L, 11L, 12L).foreach(v => assert(comps(v) == 10L))
    Seq(20L, 21L).foreach(v => assert(comps(v) == 20L))
    assert(comps.size == 11)
    // edge order/direction must not matter
    val flipped = Dedup.connectedComponents(
      pairs.select($"doc_b".as("doc_a"), $"doc_a".as("doc_b")))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("component")).toMap
    assert(flipped == comps)
    // the distributed BSP path (collectThreshold = 0) labels identically
    val bsp = Dedup.connectedComponents(pairs, collectThreshold = 0L)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("component")).toMap
    assert(bsp == comps)
  }

  test("Ckpt.pin routes to reliable checkpoints when a checkpoint dir is set") {
    // with spark.sparkContext.setCheckpointDir configured, every plan-
    // pinning site (LSH signature frame, components state, fp frame)
    // switches from executor-local to reliable checkpoints — the
    // executor-loss-resilient mode a long cluster run needs. Same
    // results, and the checkpoint data actually lands in the dir.
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
      val m = Dedup.connectedComponents(pairs, collectThreshold = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L), s"$m")
      val nFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(nFiles > 0, "no reliable checkpoint data written")
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("connectedComponents BSP path fail-louds past maxIter instead of looping") {
    val chain = (1L until 30L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain, maxIter = 3, collectThreshold = 0L).collect()
    }
    // the driver union-find path has no iteration bound to hit
    assert(Dedup.connectedComponents(chain).filter($"component" === 1L).count() == 30)
  }

  test("dropNearDuplicates keeps one representative per near-dup cluster") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    // docs 1-3 near-identical (one cluster), 4-5 distinct singletons
    val docs = Seq(
      (1L, base), (2L, base + " tail2"), (3L, base + " tail3"),
      (4L, "completely different text about other things entirely " * 3),
      (5L, "yet another unrelated document body with its own words " * 3))
      .toDF("doc_id", "text")
    val kept = Dedup.dropNearDuplicates(docs, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 5L), s"kept $kept")
    // no near-dups → identity
    val clean = docs.filter($"doc_id" >= 4L)
    assert(Dedup.dropNearDuplicates(clean, threshold = 0.5).count() == 2)
  }

  test("dropNearDuplicatesKeeping keeps the best-scoring cluster member") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base, 0.2), (2L, base + " tail2", 0.9), (3L, base + " tail3", 0.5),
      (4L, "completely different text about other things entirely " * 3, 0.1),
      (5L, "yet another unrelated document body with its own words " * 3, 0.8))
      .toDF("doc_id", "text", "quality")
    // min-id dedup would keep doc 1; score-aware dedup must keep doc 2
    val kept = Dedup.dropNearDuplicatesKeeping(docs, "quality", threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L, 5L), s"kept $kept")
    // tie on score → higher id wins (deterministic)
    val tied = Seq((10L, base, 0.5), (11L, base + " tail", 0.5))
      .toDF("doc_id", "text", "quality")
    val keptTied = Dedup.dropNearDuplicatesKeeping(tied, "quality", threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(keptTied == Set(11L), s"kept $keptTied")
  }

  test("repetitionWeights: 1/size^alpha per cluster, singletons at 1") {
    val docs = (1L to 5L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val w = Dedup.repetitionWeights(docs, pairs)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster"), r.getAs[Long]("cluster_size"),
          r.getAs[Double]("weight"))).toMap
    // {1,2,3} one cluster labeled by its min member; 4, 5 singletons
    assert(Seq(1L, 2L, 3L).forall(i => w(i) == (1L, 3L, 0.333333)), s"got $w")
    assert(w(4L) == (4L, 1L, 1.0) && w(5L) == (5L, 1L, 1.0), s"got $w")
    // alpha = 0.5: 1/sqrt(3) canonized; alpha = 0: everything at 1
    val h = Dedup.repetitionWeights(docs, pairs, alpha = 0.5)
      .filter($"doc_id" === 1L).collect()(0).getAs[Double]("weight")
    assert(math.abs(h - 0.57735) < 1e-5, s"got $h")
    val z = Dedup.repetitionWeights(docs, pairs, alpha = 0.0)
      .select("weight").as[Double].collect()
    assert(z.forall(_ == 1.0))
  }
}
