package graft

import org.apache.spark.sql.functions._
import graft.ext.{Multimodal, Similarity, TextStats}
import graft.streaming.StreamOps

class TextExtSpec extends SparkSpec {
  import spark.implicits._

  test("fingerprint pairs: copied paragraph found, frequency cap kills boilerplate") {
    val para = "the quick brown fox jumps over the lazy dog again and again tonight"
    val boiler = "standard footer text appears everywhere unchanged"
    val df = Seq(
      (1L, s"first document unique opening $para unique closing one"),
      (2L, s"second article other words entirely $para and a different end"),
      (3L, "third unrelated content sharing nothing with the others at all"),
      // boilerplate in EVERY doc: its fingerprints exceed maxDocsPerFp and
      // must not create pairs on their own
      (4L, s"fourth piece $boiler"), (5L, s"fifth piece $boiler"),
      (6L, s"sixth piece $boiler"), (7L, s"seventh piece $boiler")
    ).toDF("doc_id", "text")
    val pairs = TextStats.fingerprintNearDuplicates(df, minShared = 3, maxDocsPerFp = 3)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs.contains((1L, 2L)), s"shared paragraph not found: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), s"unrelated doc paired: $pairs")
    // the boilerplate quadruple is capped out (fp doc-frequency 4 > 3)
    assert(!pairs.exists(p => p._1 >= 4L), s"boilerplate pairs leaked: $pairs")
    // replayable twin agrees on the pair structure for the same inputs
    val rp = TextStats.fingerprintNearDuplicatesReplayable(df, minShared = 3, maxDocsPerFp = 3)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(rp.contains((1L, 2L)) && !rp.exists(p => p._1 >= 4L), s"replayable: $rp")
  }

  test("streaming decontamination: stateless filter, batch result on a stream") {
    import org.apache.spark.sql.types._
    val bench = Seq((100L, "the secret eval answer is forty two exactly"))
      .toDF("doc_id", "text")
    val rows = Seq(
      (1L, "some training text with the secret eval answer hidden inside"),
      (2L, "completely unrelated training material about other topics"),
      (3L, "is forty two exactly and more words follow here"),
      (4L, null.asInstanceOf[String])) // null text: kept, like the anti-join form
    val dir = java.nio.file.Files.createTempDirectory("decon_stream").toString
    rows.toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // batch form of the same filter
    val batchClean = TextStats.decontaminateWithGramSet(
        spark.read.parquet(dir), bench, k = 4)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(batchClean == Set(2L, 4L), s"batch $batchClean")
    // the anti-join form keeps null-text docs too — the two forms agree
    val antiClean = TextStats.decontaminate(spark.read.parquet(dir), bench, k = 4)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(antiClean == batchClean, s"anti-join $antiClean vs gram-set $batchClean")
    // identical call on a readStream frame — stateless, so append mode works
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = TextStats.decontaminateWithGramSet(stream, bench, k = 4)
      .writeStream.outputMode("append").format("memory")
      .queryName("decon_out").start()
    try {
      q.processAllAvailable()
      val streamClean = spark.table("decon_out")
        .collect().map(_.getAs[Long]("doc_id")).toSet
      assert(streamClean == batchClean, s"stream $streamClean vs batch $batchClean")
    } finally q.stop()
  }

  test("streaming near-dedup: state store drops cross-batch near-dups") {
    import org.apache.spark.sql.types._
    // dominant-token construction: 50 copies of one token pin every
    // simhash vote, so docs sharing the dominant token have IDENTICAL
    // fingerprints (Hamming 0) and docs with different dominants differ
    // in ~half the bits — behavior is deterministic, not distance-lucky
    def doc(dominant: String, tail: String) = (s"$dominant " * 50) + tail
    val srcDir = java.nio.file.Files.createTempDirectory("ndd_src").toString
    val sinkDir = java.nio.file.Files.createTempDirectory("ndd_sink").toString + "/out"
    val stateDir = java.nio.file.Files.createTempDirectory("ndd_state").toString + "/state"
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // batch 1: A≈B (within-batch near-dup; min id 1 wins), C distinct
    Seq((1L, doc("alpha", "one")), (2L, doc("alpha", "two")),
        (3L, doc("bravo", "three")))
      .toDF("doc_id", "text").write.parquet(s"$srcDir/b1")
    val q = StreamOps.nearDedupForeachBatch(
      spark, s"$srcDir/b*", schema, sinkDir, stateDir)
    try {
      q.processAllAvailable()
      val after1 = spark.read.parquet(sinkDir).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(after1 == Set(1L, 3L), s"after batch 1: $after1")
      // batch 2: D near-dups batch-1's admitted A (STATE must drop it),
      // E is new
      Seq((4L, doc("alpha", "four")), (5L, doc("charlie", "five")))
        .toDF("doc_id", "text").write.parquet(s"$srcDir/b2")
      q.processAllAvailable()
      val after2 = spark.read.parquet(sinkDir).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(after2 == Set(1L, 3L, 5L), s"after batch 2: $after2")
      // the store holds exactly the admitted signatures
      val stateIds = spark.read.parquet(stateDir).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(stateIds == Set(1L, 3L, 5L), s"state: $stateIds")
    } finally q.stop()
  }

  test("streaming near-dedup batch processor: null and empty text behavior") {
    // null text tokenizes to nothing → no signature: admitted, in the
    // sink, NOT recorded in the store. Empty text tokenizes to one empty
    // token (the dedup-family convention), so empty docs DO carry a
    // signature and dedup against each other like any other doc.
    val tmp = java.nio.file.Files.createTempDirectory("ndd_null")
    val sink = s"$tmp/sink"; val state = s"$tmp/state"
    val b = Seq((1L, "real words here again and again"), (2L, null.asInstanceOf[String]),
      (3L, "")).toDF("doc_id", "text")
    StreamOps.processNearDedupBatch(b, sink, state, "doc_id", "text", 3)
    val sinkIds = spark.read.parquet(sink).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(sinkIds == Set(1L, 2L, 3L), s"sink $sinkIds")
    val stateIds = spark.read.parquet(state).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(stateIds == Set(1L, 3L), s"state $stateIds")
    // a second empty doc is a near-dup (Hamming 0) of the stored one
    val b2 = Seq((10L, ""), (11L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    StreamOps.processNearDedupBatch(b2, sink, state, "doc_id", "text", 3)
    val sink2 = spark.read.parquet(sink).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(sink2 == Set(1L, 2L, 3L, 11L), s"sink after b2: $sink2")
  }

  test("banded near-dedup store ≡ default store, with compaction firing") {
    // 5 batches through BOTH store layouts: per-batch sink sets must be
    // identical, the banded store's signature set must equal the default
    // store's, and compaction (every 2 batches) must bound the file count
    // while changing nothing observable.
    def doc(dominant: String, tail: String) = (s"$dominant " * 50) + tail
    val tmp = java.nio.file.Files.createTempDirectory("ndd_banded")
    val (sinkA, stateA) = (s"$tmp/sinkA", s"$tmp/stateA") // default layout
    val (sinkB, stateB) = (s"$tmp/sinkB", s"$tmp/stateB") // banded layout
    val batches = (0 until 5).map { b =>
      // 3 fresh docs, 1 within-batch near-dup of the first, and (from
      // batch 1 on) 1 near-dup of the PREVIOUS batch's first admitted doc
      val fresh = (0 until 3).map(i => (b * 100L + i, doc(s"dom_${b}_$i", s"t$i")))
      val inBatch = Seq((b * 100L + 50, doc(s"dom_${b}_0", "copy")))
      val prior = if (b == 0) Seq.empty
        else Seq((b * 100L + 60, doc(s"dom_${b - 1}_0", "late")))
      (fresh ++ inBatch ++ prior).toDF("doc_id", "text")
    }
    batches.zipWithIndex.foreach { case (df, b) =>
      StreamOps.processNearDedupBatch(df, sinkA, stateA, "doc_id", "text", 3)
      StreamOps.processNearDedupBatch(df, sinkB, stateB, "doc_id", "text", 3,
        bandedStore = true, compactEvery = 2, batchId = b.toLong)
      val idsA = spark.read.parquet(sinkA).select("doc_id").collect().map(_.getLong(0)).toSet
      val idsB = spark.read.parquet(sinkB).select("doc_id").collect().map(_.getLong(0)).toSet
      assert(idsA == idsB, s"batch $b: default $idsA vs banded $idsB")
    }
    val sigsA = spark.read.parquet(stateA).select("doc_id", "simhash")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sigsB = spark.read.parquet(stateB).select("doc_id", "simhash")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sigsA == sigsB, s"store signatures differ: ${sigsA.diff(sigsB)} / ${sigsB.diff(sigsA)}")
    // every admitted doc carries its 4 band rows in the banded layout
    assert(spark.read.parquet(stateB).count() == 4L * sigsB.size)
    // after the batch-4 run the last compaction was at batch 3 (every 2);
    // file count stays bounded: ≤ one file per touched partition from the
    // compaction plus the deltas of at most compactEvery batches
    def parquetFiles(dir: String): Int = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.count(_.toString.endsWith(".parquet"))
      } finally walk.close()
    }
    val nParts = spark.read.parquet(stateB).select("band", "bg").distinct().count()
    assert(parquetFiles(stateB) <= nParts + 64,
      s"banded store files ${parquetFiles(stateB)} not bounded (parts=$nParts)")
    // the compaction-trigger read-out: footer-exact metadata on the
    // banded layout (partition dirs recursed), flag flips at threshold
    val st = StreamOps.nearDupStoreStats(spark, stateB).collect()(0)
    assert(st.getAs[Long]("n_files") == parquetFiles(stateB).toLong &&
      st.getAs[Long]("total_rows") == spark.read.parquet(stateB).count() &&
      !st.getAs[Boolean]("compact_recommended"), s"got $st")
    val stHot = StreamOps.nearDupStoreStats(spark, stateB,
      compactFileThreshold = 1).collect()(0)
    assert(stHot.getAs[Boolean]("compact_recommended"), s"got $stHot")
    graft.core.Fs.rmTree(tmp)
  }

  test("decontamination gram identity: token boundaries matter") {
    // ("ab","c") and ("a","bc") concatenate identically — the separator
    // folded into the gram hash must keep them distinct, or token-boundary
    // shifts would cause false contamination flags
    val bench = Seq((1L, "ab c ab c")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "a bc a bc"),    // same chars, different token boundaries: clean
      (11L, "ab c ab c more") // true overlap: flagged
    ).toDF("doc_id", "text")
    val flagged = TextStats.contaminatedDocIds(corpus, bench, k = 4)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(flagged == Set(11L), s"flagged $flagged")
  }

  test("decontamination flags gram overlap, spares clean and short docs") {
    val bench = Seq((100L, "the secret eval answer is forty two exactly"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "some training text with the secret eval answer hidden inside"), // shares a 4-gram
      (2L, "completely unrelated training material about other topics"),    // clean
      (3L, "secret eval answer"),                                           // 3 tokens < k: never flagged
      (4L, "is forty two exactly and more words follow here")               // shares a 4-gram
    ).toDF("doc_id", "text")
    val flagged = TextStats.contaminatedDocIds(corpus, bench, k = 4)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(flagged == Set(1L, 4L), s"flagged $flagged")
    val clean = TextStats.decontaminate(corpus, bench, k = 4)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(clean == Set(2L, 3L), s"clean $clean")
  }

  test("contaminationReport: hand-computed fractions and gram spread") {
    // bench doc 100: 8 tokens -> 5 4-gram occurrences; grams 1-2
    // ("the secret eval answer", "secret eval answer is") appear in the
    // corpus; "the secret eval answer" is in TWO corpus docs
    val bench = Seq(
      (100L, "the secret eval answer is forty two exactly"),
      (101L, "nothing here overlaps anything at all truly"),
      (102L, "too short")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "x x the secret eval answer is y"),
      (2L, "prefix the secret eval answer suffix words"),
      (3L, "unrelated corpus content entirely different here")).toDF("doc_id", "text")
    val r = TextStats.contaminationReport(corpus, bench, k = 4)
      .collect().map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_grams"), x.getAs[Long]("n_hit_grams"),
          x.getAs[Double]("contamination"), x.getAs[Long]("max_gram_spread"))).toMap
    assert(r(100L) == ((5L, 2L, 0.4, 2L)), s"${r(100L)}")
    assert(r(101L) == ((4L, 0L, 0.0, 0L)), s"${r(101L)}")
    assert(!r.contains(102L), "sub-k bench docs produce no grams and no report row")
  }

  test("bloom decontamination: empty benchmark keeps everything, null text is never flagged") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha beta gamma delta epsilon"), (2L, null: String))
      .toDF("doc_id", "text")
    val emptyBench = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val kept = TextStats.decontaminateBloom(corpus, emptyBench, k = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L), s"kept $kept") // null-text doc passes, like decontaminate
  }

  test("bloom decontamination is exactly the anti-join result, even at absurd fpp") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val bench = docs.filter(col("doc_id") < 25)
    val corpus = docs.filter(col("doc_id") >= 25)
    val exact = TextStats.decontaminate(corpus, bench, k = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // fpp=0.5 floods the verify stage with false positives; the output
    // must STILL equal the exact anti-join (no false negatives + verify)
    for (fpp <- Seq(0.01, 0.5)) {
      val bloom = TextStats.decontaminateBloom(corpus, bench, k = 4, fpp = fpp)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(bloom == exact,
        s"fpp=$fpp: bloom ${bloom.size} docs vs exact ${exact.size}; " +
          s"diff ${(bloom diff exact) ++ (exact diff bloom)}")
    }
  }

  test("hashed text embeddings: unit norm, determinism, similarity ordering") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"), // near doc 1
      (3L, "entirely different words about completely other topics")
    ).toDF("doc_id", "text")
    for (emb <- Seq(
        TextStats.hashedTextEmbeddings(docs, dim = 32),
        TextStats.hashedTextEmbeddingsReplayable(docs, dim = 32))) {
      val vecs = emb.collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      assert(vecs.keySet == Set(1L, 2L, 3L))
      // unit norm, fixed dim
      vecs.values.foreach { v =>
        assert(v.length == 32)
        assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-9)
      }
      def cos(a: Array[Double], b: Array[Double]) =
        a.zip(b).map { case (x, y) => x * y }.sum
      // similar docs closer than dissimilar ones
      assert(cos(vecs(1L), vecs(2L)) > cos(vecs(1L), vecs(3L)),
        s"ordering: ${cos(vecs(1L), vecs(2L))} vs ${cos(vecs(1L), vecs(3L))}")
    }
    // determinism under repartitioning
    val a = TextStats.hashedTextEmbeddings(docs, dim = 32)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val b = TextStats.hashedTextEmbeddings(docs.repartition(5), dim = 32)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(a == b)
  }

  test("bigram LM: in-domain scores above out-of-domain, hand-checked smoothing") {
    val ref = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat ran on the mat")).toDF("doc_id", "text")
    val model = TextStats.trainBigramModel(ref)
    val (_, _, vocab) = model
    // contexts: the, cat, sat, on, ran (mat ends both docs — never a context)
    assert(vocab == 5L, s"vocab $vocab")
    val scored = TextStats.bigramLogLikelihood(
      Seq((10L, "the cat sat"), (11L, "purple elephants fly quickly"),
          (12L, "solo")).toDF("doc_id", "text"), model)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getLong(2)))).toMap
    // in-domain scores strictly above fully-unseen text
    assert(scored(10L)._1 > scored(11L)._1,
      s"in-domain ${scored(10L)} vs ood ${scored(11L)}")
    assert(scored(10L)._2 == 2 && scored(11L)._2 == 3)
    // single-token doc has no bigram -> absent from output
    assert(!scored.contains(12L))
    // hand check doc 10: c12(the,cat)=2 of c1(the)=4; c12(cat,sat)=1 of
    // c1(cat)=2; add-k 0.1 with V=5: p = (2.1/4.5), (1.1/2.5)
    val expect = (math.log(2.1 / 4.5) + math.log(1.1 / 2.5)) / 2.0
    assert(math.abs(scored(10L)._1 - expect) < 1e-12, s"${scored(10L)._1} vs $expect")
  }

  test("Kneser-Ney LM: hand-checked counts/discount, exact unity, branches") {
    val ref = Seq((1L, "a b a b a c")).toDF("doc_id", "text")
    val m = TextStats.trainKneserNeyModel(ref)
    // bigram types (a,b)x2 (b,a)x2 (a,c)x1 -> B=3, n1=1, n2=2, D=1/5
    assert(m.bigramTypes == 3L && m.vocab == 3L)
    assert(math.abs(m.discount - 0.2) < 1e-15, s"D=${m.discount}")
    val ctx = m.ctx.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2)))).toMap
    assert(ctx == Map("a" -> ((3L, 2L)), "b" -> ((2L, 1L))), s"$ctx")
    val cont = m.cont.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cont == Map("a" -> 1L, "b" -> 1L, "c" -> 1L), s"$cont")
    // local mirror of p(w2|w1) over the collected model
    val bi = m.bi.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    def p(w1: String, w2: String): Double = {
      val pc = cont.get(w2).map(_.toDouble / m.bigramTypes)
        .getOrElse(1.0 / (m.vocab + 1.0))
      ctx.get(w1) match {
        case Some((c1, n1f)) =>
          math.max(bi.getOrElse((w1, w2), 0L).toDouble - m.discount, 0.0) / c1 +
            m.discount * n1f / c1 * pc
        case None => pc
      }
    }
    // exact unity: for every trained context, in-vocab continuation
    // probabilities sum to exactly 1 (the KN telescoping identity)
    ctx.keys.foreach { w1 =>
      // keys is a SET — map through toSeq or equal probabilities collapse
      val s = cont.keys.toSeq.map(w2 => p(w1, w2)).sum
      assert(math.abs(s - 1.0) < 1e-14, s"sum over ctx $w1 = $s")
    }
    val scored = TextStats.kneserNeyLogLikelihood(
      Seq((10L, "a b"), (11L, "c a"), (12L, "a z"), (13L, "z z"))
        .toDF("doc_id", "text"), m)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // seen ctx + seen bigram: max(2-D)/3 + D*2/3*(1/3)
    assert(math.abs(scored(10L) - math.log(1.8 / 3 + 0.2 * 2.0 / 3 / 3)) < 1e-12)
    // unseen ctx backs off to pcont alone
    assert(math.abs(scored(11L) - math.log(1.0 / 3)) < 1e-12)
    // seen ctx, OOV continuation: clipped first term + uniform 1/(V+1) floor
    assert(math.abs(scored(12L) - math.log(0.2 * 2.0 / 3 / 4)) < 1e-12)
    // both OOV: the uniform floor
    assert(math.abs(scored(13L) - math.log(1.0 / 4)) < 1e-12)
    // in-domain ranks above out-of-domain on a larger model
    val ref2 = Seq((1L, "the cat sat on the mat"),
      (2L, "the cat ran on the mat")).toDF("doc_id", "text")
    val m2 = TextStats.trainKneserNeyModel(ref2)
    val s2 = TextStats.kneserNeyLogLikelihood(
      Seq((20L, "the cat sat"), (21L, "purple elephants fly quickly"))
        .toDF("doc_id", "text"), m2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s2(20L) > s2(21L), s"$s2")
  }

  test("Stupid Backoff: hand-checked counts and all four backoff arms") {
    val ref = Seq((1L, "a b c a b d")).toDF("doc_id", "text")
    val m = TextStats.trainStupidBackoff(ref)
    assert(m.total == 6L, s"N=${m.total}")
    val uni = m.uni.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(uni == Map("a" -> 2L, "b" -> 2L, "c" -> 1L, "d" -> 1L), s"$uni")
    val tri = m.tri.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    assert(tri.size == 4 && tri(("a", "b", "c")) == 1L && tri(("a", "b", "d")) == 1L)
    val scored = TextStats.stupidBackoffScore(
      Seq((10L, "a b c"),   // seen trigram: c123/c12 = 1/2
          (11L, "b b c"),   // unseen trigram, seen (b,c): 0.4 * 1/2
          (12L, "x y a"),   // unseen bigram, seen a: 0.16 * 2/6
          (13L, "x y z"),   // OOV z: floor 0.16/(6+1)
          (14L, "a b"))     // no trigram -> absent
        .toDF("doc_id", "text"), m)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val a2 = 0.4 * 0.4
    assert(math.abs(scored(10L)._1 - math.log(1.0 / 2.0)) < 1e-12, s"${scored(10L)}")
    assert(math.abs(scored(11L)._1 - math.log(0.4 * 1.0 / 2.0)) < 1e-12)
    assert(math.abs(scored(12L)._1 - math.log(a2 * 2.0 / 6.0)) < 1e-12)
    assert(math.abs(scored(13L)._1 - math.log(a2 / 7.0)) < 1e-12)
    assert(!scored.contains(14L), "2-token doc must produce no row")
    assert(scored.values.forall(_._2 == 1L))
    // the backoff arms are strictly ordered on this corpus
    assert(scored(10L)._1 > scored(11L)._1 && scored(11L)._1 > scored(12L)._1 &&
      scored(12L)._1 > scored(13L)._1, s"$scored")
    intercept[IllegalArgumentException](
      TextStats.stupidBackoffScore(ref, m, alpha = 1.5))
  }

  test("KN + SB hashKeys: hash-relabeled path row-identical to string keys") {
    // the r14 bleu2/rouge2 relabeling contract extended to the LM family:
    // hashed gram keys may only RELABEL the join/count groups — every
    // score and count must come out row-identical. Corpus exercises the
    // null/empty-text discipline, single-token docs, repeated bigrams,
    // and OOV / unseen-context scoring branches.
    val ref = Seq(
      (0L, "the cat sat on the mat"), (2L, "the cat ran on the mat"),
      (4L, "a b a b a c"), (6L, ""), (8L, null.asInstanceOf[String]),
      (10L, "solo"), (12L, "b a the cat c")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "the cat sat"), (3L, "purple elephants fly quickly"),
      (5L, "a b x"), (7L, "z z z"), (9L, ""), (11L, "two words"),
      (13L, null.asInstanceOf[String])).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.orderBy("doc_id").collect().map(_.toString).toSeq
    val mS = TextStats.trainKneserNeyModel(ref)
    val mH = TextStats.trainKneserNeyModel(ref, hashKeys = true)
    assert(mH.bigramTypes == mS.bigramTypes && mH.vocab == mS.vocab &&
      mH.discount == mS.discount,
      s"KN scalars: (${mH.bigramTypes},${mH.vocab},${mH.discount}) vs " +
        s"(${mS.bigramTypes},${mS.vocab},${mS.discount})")
    assert(rows(TextStats.kneserNeyLogLikelihood(docs, mH)) ==
      rows(TextStats.kneserNeyLogLikelihood(docs, mS)),
      "KN per-doc scores differ between hash and string keys")
    val sS = TextStats.trainStupidBackoff(ref)
    val sH = TextStats.trainStupidBackoff(ref, hashKeys = true)
    assert(sH.total == sS.total, s"SB total ${sH.total} vs ${sS.total}")
    assert(sH.tri.count() == sS.tri.count() && sH.bi.count() == sS.bi.count() &&
      sH.uni.count() == sS.uni.count(), "SB count-frame cardinalities differ")
    assert(rows(TextStats.stupidBackoffScore(docs, sH)) ==
      rows(TextStats.stupidBackoffScore(docs, sS)),
      "SB per-doc scores differ between hash and string keys")
    // the string-keyed count frames equal counts over the retired
    // per-doc lead-window position stream
    def counts(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    val ref2 = GramReference.positions(ref, "text", 2)
    assert(counts(mS.bi) == counts(ref2.filter(col("w2").isNotNull)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))), "KN bigram table")
    val ref3 = GramReference.positions(ref, "text", 3)
    assert(counts(sS.uni) == counts(ref3.groupBy("w1").agg(count(lit(1)).as("c1"))),
      "SB unigram table")
    assert(counts(sS.tri) == counts(ref3.filter(col("w3").isNotNull)
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c123"))), "SB trigram table")
  }

  test("gramDuplicationStats: shared-gram fractions, distinctness, short docs") {
    val docs = Seq(
      (1L, "a b c d"),              // grams abc, bcd
      (2L, "a b c x"),              // abc shared with 1&5, bcx unique
      (3L, "q r s t u"),            // all unique
      (4L, "zz"),                   // < k tokens → no grams
      (5L, "a b c d"),              // exact dup of 1
      (6L, "m n o m n o m n o")     // within-doc repeats count ONCE
    ).toDF("doc_id", "text")
    val r = TextStats.gramDuplicationStats(docs, k = 3).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    assert(r(1L) == ((2L, 2L, 1.0)), s"${r(1L)}")   // abc(df=3), bcd(df=2)
    assert(r(2L) == ((2L, 1L, 0.5)), s"${r(2L)}")
    assert(r(3L) == ((3L, 0L, 0.0)), s"${r(3L)}")
    assert(r(4L) == ((0L, 0L, 0.0)), s"${r(4L)}")
    assert(r(5L) == ((2L, 2L, 1.0)), s"${r(5L)}")
    assert(r(6L) == ((3L, 0L, 0.0)), s"${r(6L)}")   // 7 gram slots, 3 distinct
    // stricter threshold: bcd (df=2) no longer counts, abc (df=3) still does
    val strict = TextStats.gramDuplicationStats(docs, k = 3, minDocs = 3).collect()
      .map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(strict(1L) == 1L && strict(2L) == 1L && strict(5L) == 1L, s"$strict")
  }

  test("zipfStats: hand-computed OLS, top-N mass, degenerate corpus") {
    // counts a:8 b:4 c:2 d:1 → ranks 1..4 (desc count, asc token ties)
    val corpus = Seq((1L, ("a " * 8 + "b " * 4 + "c " * 2 + "d").trim))
      .toDF("doc_id", "text")
    val r = TextStats.zipfStats(corpus, topN = 4).head()
    assert(r.getAs[Long]("n_tokens") == 15L && r.getAs[Long]("vocab") == 4L &&
      r.getAs[Long]("n_top") == 4L)
    // local OLS mirror on (ln rank, ln count)
    val xs = Seq(1.0, 2.0, 3.0, 4.0).map(math.log)
    val ys = Seq(8.0, 4.0, 2.0, 1.0).map(math.log)
    val n = 4.0
    val (sx, sy) = (xs.sum, ys.sum)
    val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
    val (sxx, syy) = (xs.map(v => v * v).sum, ys.map(v => v * v).sum)
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val r2 = math.pow(n * sxy - sx * sy, 2) /
      ((n * sxx - sx * sx) * (n * syy - sy * sy))
    assert(math.abs(r.getAs[Double]("zipf_slope") - slope) < 1e-12)
    assert(math.abs(r.getAs[Double]("zipf_r2") - r2) < 1e-12)
    assert(slope < -1.0 && r2 > 0.9, s"sanity: $slope $r2")
    assert(r.getAs[Double]("top_mass") == 1.0)
    // topN cut: top 2 of 4 types → mass 12/15
    val cut = TextStats.zipfStats(corpus, topN = 2).head()
    assert(cut.getAs[Long]("n_top") == 2L)
    assert(math.abs(cut.getAs[Double]("top_mass") - 12.0 / 15.0) < 1e-15)
    // degenerate: uniform counts → zero variance in y → slope 0, r2 0
    val flat = TextStats.zipfStats(
      Seq((1L, "x y z")).toDF("doc_id", "text"), topN = 3).head()
    assert(flat.getAs[Double]("zipf_slope") == 0.0 &&
      flat.getAs[Double]("zipf_r2") == 0.0)
  }

  test("distinctNgramRatio: hand-computed ratios per group; short groups drop high orders") {
    val df = Seq(
      (1L, "x", "a b a"), // 1-grams a,b,a; 2-grams "a b","b a"; 3-gram "a b a"
      (2L, "x", "a b"),   // adds a,b; "a b"
      (3L, "y", "c c")    // y: 1-grams c,c; 2-gram "c c"; NO trigram
    ).toDF("doc_id", "lang", "text")
    val out = TextStats.distinctNgramRatio(df).collect()
      .map(r => (r.getAs[String]("group"), r.getAs[Int]("n")) ->
        ((r.getAs[Long]("total_ngrams"), r.getAs[Long]("distinct_ngrams"),
          math.floor(r.getAs[Double]("distinct_ratio") * 1e6 + 0.5) / 1e6))).toMap
    assert(out(("x", 1)) == ((5L, 2L, 0.4)), s"got $out")
    assert(out(("x", 2)) == ((3L, 2L, 0.666667)), s"got $out")
    assert(out(("x", 3)) == ((1L, 1L, 1.0)), s"got $out")
    assert(out(("y", 1)) == ((2L, 1L, 0.5)), s"got $out")
    assert(out(("y", 2)) == ((1L, 1L, 1.0)), s"got $out")
    assert(!out.contains(("y", 3)), s"got $out") // no trigram row for y
    assert(out.size == 5)
  }

  test("distinctNgramRatioApprox: HLL tier tracks the exact path on the fixture corpus") {
    // the 100 TB escape hatch: same gram streams, (group, n, bucket)-keyed
    // state instead of the full gram vocabulary. b = 12 → standard error
    // 1.04/√4096 ≈ 1.6%; assert a generous 3-sigma 5% envelope plus exact
    // totals (the count rides the register aggregate, not the sketch).
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exact = TextStats.distinctNgramRatio(docs).collect()
      .map(r => (r.getAs[String]("group"), r.getAs[Int]("n")) ->
        ((r.getAs[Long]("total_ngrams"), r.getAs[Long]("distinct_ngrams")))).toMap
    val approx = TextStats.distinctNgramRatioApprox(docs, b = 12).collect()
      .map(r => (r.getAs[String]("group"), r.getAs[Int]("n")) ->
        ((r.getAs[Long]("total_ngrams"), r.getAs[Long]("n_registers"),
          r.getAs[Double]("est_distinct"), r.getAs[Double]("est_ratio")))).toMap
    assert(approx.keySet == exact.keySet)
    approx.foreach { case (k, (total, nreg, est, ratio)) =>
      val (exTotal, exDistinct) = exact(k)
      assert(total == exTotal, s"$k: total $total != exact $exTotal")
      assert(nreg >= 1L && nreg <= 4096L)
      val rel = math.abs(est - exDistinct) / exDistinct.toDouble
      assert(rel <= 0.05, s"$k: est $est vs exact $exDistinct (rel $rel)")
      assert(math.abs(ratio - est / total) < 1e-12)
    }
  }

  test("distinctNgramRatioApprox: kernel path ≡ window reference, registers and all") {
    // ONE KarpRabinNGramHashes walk must reproduce the posexplode →
    // lead-window → concat_ws → rollingHash gram stream exactly — same
    // (n, gh) multiset ⇒ same buckets, ranks, register maxima, totals
    // and estimator branches
    val fixture = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "lang", "text")
    val extra = Seq(
      (900001L, "en", "a b a"),
      (900002L, "en", "solo"),
      (900003L, "xx", "  double  spaced   tokens  here  "),
      (900004L, "xx", "héllo wörld 𝔘ni code"),
      (900005L, "yy", null: String),
      (900006L, "yy", ""),
      (900007L, "yy", "two tokens")
    ).toDF("doc_id", "lang", "text")
    val docs = fixture.union(extra)
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("group"), r.getAs[Int]("n")) ->
        ((r.getAs[Long]("total_ngrams"), r.getAs[Long]("n_registers"),
          r.getAs[Double]("est_distinct"), r.getAs[Double]("est_ratio")))).toMap
    val win = snap(GramReference.distinctNgramRatioApprox(docs, b = 12))
    val kr = snap(TextStats.distinctNgramRatioApprox(docs, b = 12))
    assert(kr.keySet == win.keySet)
    kr.foreach { case (k, (total, nreg, est, ratio)) =>
      val (wTotal, wNreg, wEst, wRatio) = win(k)
      assert(total == wTotal && nreg == wNreg, s"$k: longs diverge")
      // identical register sets; only the FP register-sum ORDER may differ
      // between plans (≤4096 terms ⇒ relative spread < 4096·2⁻⁵³ ≈ 5e-13)
      assert(math.abs(est - wEst) <= 1e-9 * math.abs(wEst), s"$k: est $est vs $wEst")
      assert(math.abs(ratio - wRatio) <= 1e-9 * math.abs(wRatio), s"$k: ratio")
    }
  }

  test("distinctNgramRatio: kernel path row-exact vs the window reference") {
    // ONE TokenNGrams walk must reproduce the posexplode → lead-window →
    // concat_ws gram STRINGS exactly — same (group, n, gram) multiset ⇒
    // same count longs ⇒ bit-identical ratios (long/long division)
    val fixture = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "lang", "text")
    val extra = Seq(
      (910001L, "en", "a b a"),
      (910002L, "en", "solo"),
      (910003L, "xx", "  double  spaced   tokens  here  "),
      (910004L, "xx", "héllo wörld 𝔘ni code"),
      (910005L, "yy", null: String),
      (910006L, "yy", ""),
      (910007L, "yy", "two tokens")
    ).toDF("doc_id", "lang", "text")
    val docs = fixture.union(extra)
    val win = GramReference.distinctNgramRatio(docs).collect().map(_.toString).toSeq
    val fused = TextStats.distinctNgramRatio(docs).collect().map(_.toString).toSeq
    assert(fused == win, "fused gram path changed distinctNgramRatio output")
  }

  test("bigram LM + collocations: TokenPairs pair stream ≡ the lead-window shape") {
    // the q_bigram_quality/q_collocations rewrite: the zero-window pair
    // stream must reproduce the per-doc-id → posexplode → sort → lead
    // window shape exactly, null successor marker included
    val fixture = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "lang", "text")
    val extra = Seq(
      (920001L, "en", "a b a"),
      (920002L, "en", "solo"),
      (920003L, "xx", "  double  spaced   tokens  "),
      (920004L, "xx", "héllo wörld 𝔘ni code"),
      (920005L, "yy", null: String),
      (920006L, "yy", ""),
      (920007L, "yy", "two tokens")
    ).toDF("doc_id", "lang", "text")
    val docs = fixture.union(extra)
    // the retired window reference
    val refPairs = GramReference.positions(docs, "text", 2)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val newPairs = docs
      .select(explode(graft.expr.TokenPairs.tokenPairs(
        graft.ext.Dedup.tokens(col("text")))).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("c12"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(newPairs == refPairs, "TokenPairs changed the (w1, w2) count table")
    // and the operator outputs themselves stay hand-check-consistent on
    // a doc set with the full edge battery (loglik doubles to 1e-9 —
    // identical count longs; only FP join/agg arrival order may differ)
    val model = TextStats.trainBigramModel(docs.filter(col("doc_id") % 2 === 0))
    val ll = TextStats.bigramLogLikelihood(docs.filter(col("doc_id") < 50), model)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getLong(2)))).toMap
    assert(ll.nonEmpty && ll.values.forall { case (lp, n) => n > 0 && lp < 0 })
  }

  test("repetitionStats: hashKeys zero-shuffle form is row-exact vs the string path") {
    // fixture corpus + adversarial shapes: repeated grams (max-run fold),
    // boundary-sensitive tokens, 1-token and whitespace docs
    val fixture = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val extra = Seq((100001L, "foo bar foo bar foo"), (100002L, "x x x x x x"),
      (100003L, "solo"), (100004L, "   "), (100005L, "ab c ab c ab"))
      .toDF("doc_id", "text")
    val docs = fixture.union(extra)
    val a = GramReference.repetitionStats(docs).orderBy("doc_id")
      .collect().map(_.toString).toSeq
    val b = TextStats.repetitionStats(docs).orderBy("doc_id")
      .collect().map(_.toString).toSeq
    assert(a == b, "hashKeys changed repetitionStats output")
  }

  test("repetitionStats: hand-computed fractions, short-doc zeros") {
    val df = Seq(
      (1L, "foo bar foo bar foo"),  // bigrams: foo-bar x2, bar-foo x2; trigrams: fbf x2, bfb x1
      (2L, "a b c d"),              // all grams unique
      (3L, "solo"),                 // too short for any gram
      (4L, "x x x x x x")           // maximal repetition
    ).toDF("doc_id", "text")
    val r = TextStats.repetitionStats(df).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Int]("n_tokens"), x.getAs[Double]("dup_trigram_frac"),
         x.getAs[Double]("top_bigram_frac"))).toMap
    assert(r(1L)._1 == 5)
    assert(math.abs(r(1L)._2 - 1.0 / 3) < 1e-12)  // 3 trigrams, 2 distinct
    assert(math.abs(r(1L)._3 - 2.0 / 4) < 1e-12)  // top bigram 2 of 4
    assert(r(2L)._2 == 0.0)                        // unique trigrams
    assert(math.abs(r(2L)._3 - 1.0 / 3) < 1e-12)   // 3 bigrams, each 1-of-3
    assert(r(3L)._2 == 0.0 && r(3L)._3 == 0.0)    // no grams at all
    assert(math.abs(r(4L)._2 - 3.0 / 4) < 1e-12)  // 4 trigrams, 1 distinct
    assert(r(4L)._3 == 1.0)                        // one bigram owns them all
  }

  test("token counts and ratios on known strings") {
    val r = Seq("Hello, world! 123")
      .toDF("text")
      .select(
        TextStats.wsTokenCount($"text").as("ws"),
        TextStats.punctRatio($"text").as("pr"),
        TextStats.digitRatio($"text").as("dr"),
        TextStats.meanWordLen($"text").as("mwl"))
      .head()
    assert(r.getAs[Int]("ws") == 3)
    assert(math.abs(r.getAs[Double]("pr") - 2.0 / 17) < 1e-9)
    assert(math.abs(r.getAs[Double]("dr") - 3.0 / 17) < 1e-9)
    assert(r.getAs[Double]("mwl") == 15.0 / 3) // non-ws chars / tokens
    val empty = Seq("   ").toDF("text").select(TextStats.wsTokenCount($"text")).head()
    assert(empty.getInt(0) == 0)
  }

  test("bpe-ish token count splits words and punctuation separately") {
    val rows = Seq(
      ("Hello, world!", 4), //  Hello , world !
      ("a.b", 3),
      ("one two", 2),
      ("", 0))
      .toDF("text", "want")
      .select(TextStats.bpeishTokenCount($"text").as("got"), $"want")
      .collect()
    rows.foreach(r => assert(r.getAs[Int]("got") == r.getAs[Int]("want"),
      s"got ${r.getAs[Int]("got")} want ${r.getAs[Int]("want")}"))
  }

  test("language id identifies constructed samples") {
    val samples = Seq(
      ("en", "the cat and the dog sat in the house with you"),
      ("de", "der hund und die katze ist nicht mit der maus"),
      ("es", "el perro y la casa de que en un una es por"),
      ("fr", "le chien et la maison dans le jardin pour une que"),
      ("zh", "你好世界这是一个测试"))
    val out = samples.toDF("want", "text")
      .select($"want", TextStats.langId($"text").as("got"))
      .collect()
    out.foreach(r => assert(r.getString(0) == r.getString(1),
      s"${r.getString(0)} predicted as ${r.getString(1)}"))
  }

  test("quality score ranks clean text above noise") {
    val r = Seq(
      ("clean", "This is a perfectly reasonable paragraph of English text with several words " * 3),
      ("noisy", "!!!! ???? #### 1234 5678 @@@@ %%%% ^^^^ &&&& ****"))
      .toDF("k", "text")
      .select($"k", TextStats.qualityScore($"text").as("q"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(r("clean") > r("noisy"))
    assert(r.values.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("topQualityPerGroup keeps ceil(frac*n) best-scored docs per group") {
    val good = "This is a perfectly reasonable paragraph of English text with several words " * 3
    val bad = "!!!! ???? #### 1234 5678 @@@@"
    val docs = (0L until 10L).map(i => (i, "g", if (i < 6) good + i else bad + i)) ++
      Seq((10L, "h", good), (11L, "h", bad), (12L, "h", bad))
    val kept = TextStats.topQualityPerGroup(docs.toDF("doc_id", "lang", "text"), "lang")
      .collect()
    val byLang = kept.groupBy(_.getAs[String]("lang")).view.mapValues(_.map(_.getAs[Long]("doc_id")).sorted)
    assert(byLang("g").length == 5) // ceil(10*0.5)
    assert(byLang("h").length == 2) // ceil(3*0.5)
    assert(byLang("g").forall(_ < 6), s"kept ${byLang("g").mkString(",")}") // good docs win
    assert(byLang("h").contains(10L))
    kept.foreach(r => assert(r.getAs[Double]("quality") >= 0.0))
  }

  test("relational fingerprint rows equal the Column-form winnowing set") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "short"),
      (3L, "completely different content with no overlap whatsoever here"))
      .toDF("doc_id", "text")
    val colForm = docs
      .select($"doc_id", explode(TextStats.winnowingFingerprints($"text")).as("fp"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val relForm = TextStats.fingerprintRows(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(relForm == colForm)
    assert(TextStats.docFingerprints(docs, "doc_id", "text").count() == 3)
  }

  test("docFingerprintsReplayable: hand-computed polynomial digest; twins agree on identity") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different content with no overlap whatsoever here"))
      .toDF("doc_id", "text")
    // independent digest: sorted distinct KR fps folded (acc*B + v) % p
    val fps = TextStats.rollingFingerprintRows(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (id, vs) => id -> vs.map(_._2).distinct.sorted }
    def fold(vs: Seq[Long]) =
      vs.foldLeft(0L)((a, v) => (a * 1315423911L + v) % 1000000007L)
    val got = TextStats.docFingerprintsReplayable(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == fps.map { case (id, vs) => id -> fold(vs) },
      s"digest mismatch: $got")
    // identical docs -> identical digest, different docs -> different (both twins)
    assert(got(1L) == got(2L) && got(1L) != got(3L))
    val prod = TextStats.docFingerprints(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(prod(1L) == prod(2L) && prod(1L) != prod(3L))
  }

  test("winnowing fingerprints: shared content overlaps, position-robust") {
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "PREFIX " + a // shifted content
    val c = "completely different content with no overlap whatsoever here"
    val r = Seq((1L, a), (2L, b), (3L, c)).toDF("id", "text")
      .select($"id", TextStats.winnowingFingerprints($"text").as("fp"))
      .collect().map(x => x.getLong(0) -> x.getSeq[Long](1).toSet).toMap
    val overlapAB = r(1L).intersect(r(2L)).size.toDouble / r(1L).size
    val overlapAC = r(1L).intersect(r(3L)).size.toDouble / r(1L).size
    assert(overlapAB > 0.7, s"AB $overlapAB")
    assert(overlapAC < 0.1, s"AC $overlapAC")
  }

  test("multimodal: image embeddings decode to grid luma vectors and feed ANN") {
    val docs = (1L to 24L).map(i => (i, s"seed text $i")).toDF("doc_id", "text")
    val media = Multimodal.syntheticMedia(docs, "doc_id", "text")
    val emb = Multimodal.imageEmbeddings(media, grid = 4)
    val rows = emb.collect().map(r =>
      r.getAs[Long]("vec_id") -> r.getSeq[Float](1).toArray).toMap
    assert(rows.nonEmpty)
    // only image rows embed, vectors are grid^2 lumas in [0,1]
    val imgIds = media.filter($"meta.format" === "img")
      .select("media_id").as[Long].collect().toSet
    assert(rows.keySet == imgIds)
    rows.values.foreach { v =>
      assert(v.length == 16)
      assert(v.forall(x => x >= 0f && x <= 1f))
      assert(v.distinct.length > 1, "degenerate flat embedding")
    }
    // determinism: re-embedding yields identical vectors
    val again = Multimodal.imageEmbeddings(media, grid = 4).collect().map(r =>
      r.getAs[Long]("vec_id") -> r.getSeq[Float](1).toArray).toMap
    assert(rows.keySet == again.keySet)
    rows.foreach { case (k, v) => assert(v.sameElements(again(k))) }
    // composition with the ANN operator: every query's rank-1 is itself
    val q = emb.limit(3)
      .select($"vec_id".as("query_id"), $"embedding".as("query_emb"))
    val top = Similarity.bruteForceTopK(emb, q, k = 2)
      .filter($"rank" === 1)
      .select("query_id", "vec_id", "cos").collect()
    top.foreach { r =>
      assert(r.getLong(0) == r.getLong(1))
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-9)
    }
  }

  test("multimodal: gradient PNG decodes to the exact closed-form luma") {
    // the replayable-twin premise: PNG encode -> ImageIO decode ->
    // identity-size raster -> luma recovers EXACTLY the closed-form
    // channels makeGradientPng wrote. Float-exact equality, no epsilon —
    // any codec or resize deviation must fail here, not in the driver's
    // DuckDB replay.
    val ids = Seq(0L, 3L, 7L, 11L).toDF("doc_id")
    val media = Multimodal.gradientMedia(ids, "doc_id", 8, 8)
    val emb = Multimodal.imageEmbeddings(media, grid = 8).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).toArray).toMap
    assert(emb.keySet == Set(0L, 3L, 7L, 11L))
    for (id <- emb.keys; j <- 0 until 64) {
      val x = j % 8; val y = j / 8
      val r = ((7 * x + 3 * y + id) % 256).toDouble / 255.0
      val g = ((5 * x + 13 * id) % 256).toDouble / 255.0
      val b = ((11 * y + 7 * id) % 256).toDouble / 255.0
      val expect = (0.299 * r + 0.587 * g + 0.114 * b).toFloat
      assert(emb(id)(j) == expect, s"id=$id j=$j got ${emb(id)(j)} want $expect")
    }
  }

  test("multimodal: synthetic media round-trips through the decoder") {
    val docs = (1L to 12L).map(i => (i, s"seed text $i")).toDF("doc_id", "text")
    val media = Multimodal.syntheticMedia(docs, "doc_id", "text")
    assert(media.schema.fieldNames.toSeq == Seq("media_id", "media", "meta"))
    val feats = Multimodal.decodeFeatures(media).collect()
    assert(feats.length == 12)
    val byFormat = feats.groupBy(_.format)
    assert(byFormat.keySet.subsetOf(Set("img", "audio", "video")))
    feats.foreach { f =>
      assert(f.features.length == 8)
      assert(f.features.forall(v => !v.isNaN && !v.isInfinite))
    }
    // img rows are REAL PNGs: payload is a PNG file, decoded dims land in
    // the generator's range, and min<=mean<=max luma orders correctly.
    val imgRows = feats.filter(_.format == "img")
    assert(imgRows.nonEmpty)
    imgRows.foreach { f =>
      assert(f.payload_bytes > 100) // a real PNG file, not a 128-byte hash
      assert(f.width >= 8 && f.width < 128 && f.height >= 8 && f.height < 98)
      assert(f.features.forall(v => v >= 0 && v <= 1))
      assert(f.features(5) <= f.features(3) && f.features(3) <= f.features(6))
    }
    // audio rows are REAL WAVs: decoded sample stats of the seeded sine —
    // near-zero DC, RMS ≈ amp/√2 within the generator's amplitude range,
    // symmetric min/max, duration consistent with n_frames at 8 kHz.
    val audioRows = feats.filter(_.format == "audio")
    assert(audioRows.nonEmpty)
    audioRows.foreach { f =>
      assert(f.payload_bytes > 44 + 2 * 512) // a real RIFF file, not the 128-byte hash
      assert(f.n_frames >= 512 && f.n_frames < 2048) // decoded sample count
      assert(math.abs(f.features(0)) < 0.05, s"DC ${f.features(0)}") // sine mean ~0
      assert(f.features(1) > 0.15 && f.features(1) < 0.55, s"RMS ${f.features(1)}")
      assert(f.features(2) < 0 && f.features(3) > 0) // swings both ways
      assert(f.features(4) > 0) // a sine crosses zero
      assert(math.abs(f.features(7) - f.n_frames / 8000.0) < 1e-9) // duration
    }
    // video rows are REAL animated GIFs: multi-frame decode with
    // spatial means in [0,1] and decoded dims from the generator range.
    val videoRows = feats.filter(_.format == "video")
    assert(videoRows.nonEmpty)
    videoRows.foreach { f =>
      assert(f.payload_bytes > 100) // a real GIF file, not a 128-byte hash
      assert(f.n_frames >= 2 && f.n_frames < 12) // decoded frame count
      assert(f.width >= 8 && f.width < 32 && f.height >= 8 && f.height < 26)
      assert(f.features(3) >= 0 && f.features(3) <= 1) // mean luma
      assert(f.features(5) <= f.features(3) && f.features(3) <= f.features(6))
      assert(f.features(4) >= 0 && f.features(7) >= 0) // temporal stats
    }
    // deterministic: same input -> same features
    val again = Multimodal.decodeFeatures(media).collect()
    assert(feats.sortBy(_.media_id).zip(again.sortBy(_.media_id))
      .forall { case (x, y) => x.features.sameElements(y.features) })
  }

  test("multimodal: decode computes exact pixel statistics on a 2x2 PNG") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    // red, green / blue, white
    val im = new BufferedImage(2, 2, BufferedImage.TYPE_INT_RGB)
    im.setRGB(0, 0, 0xFF0000); im.setRGB(1, 0, 0x00FF00)
    im.setRGB(0, 1, 0x0000FF); im.setRGB(1, 1, 0xFFFFFF)
    val bos = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "png", bos)
    val png = bos.toByteArray
    // meta deliberately claims wrong dims — decode must report the real ones
    val f = Multimodal.MediaKernels.decode(7L, png, "img", 99, 99, 1)
    assert(f.width == 2 && f.height == 2 && f.payload_bytes == png.length)
    val lumas = Seq(0.299, 0.587, 0.114, 0.299 + 0.587 + 0.114)
    val meanL = lumas.sum / 4
    val varL = lumas.map(l => l * l).sum / 4 - meanL * meanL
    val eps = 1e-12
    assert(math.abs(f.features(0) - 0.5) < eps) // mean R: (1+0+0+1)/4
    assert(math.abs(f.features(1) - 0.5) < eps) // mean G
    assert(math.abs(f.features(2) - 0.5) < eps) // mean B
    assert(math.abs(f.features(3) - meanL) < eps)
    assert(math.abs(f.features(4) - math.sqrt(varL)) < 1e-9)
    assert(math.abs(f.features(5) - 0.114) < eps) // min luma (blue)
    assert(math.abs(f.features(6) - 1.0) < eps)   // max luma (white)
    assert(math.abs(f.features(7) - 0.5) < eps)   // green+white are > 0.5
  }

  test("multimodal: decode computes exact sample statistics on a 4-sample WAV") {
    // samples ±0.5 exactly (16384/32768): mean 0, RMS 0.5, min −0.5,
    // max 0.5, zcr 1 (every adjacent pair flips sign), mean|x| 0.5,
    // loud-fraction 0 (|x| > 0.5 is strict), duration 4/8000 s
    val wav = Multimodal.wavBytes(Array[Short](16384, -16384, 16384, -16384), 8000)
    val f = Multimodal.MediaKernels.decode(3L, wav, "audio", 0, 0, 9)
    assert(f.n_frames == 4) // decoded count, not the metadata claim (9)
    assert(f.payload_bytes == 44 + 8)
    assert(math.abs(f.features(0)) < 1e-12)
    assert(math.abs(f.features(1) - 0.5) < 1e-12)
    assert(math.abs(f.features(2) + 0.5) < 1e-12)
    assert(math.abs(f.features(3) - 0.5) < 1e-12)
    assert(f.features(4) == 1.0)
    assert(math.abs(f.features(5) - 0.5) < 1e-12)
    assert(f.features(6) == 0.0)
    assert(math.abs(f.features(7) - 4.0 / 8000) < 1e-12)
  }

  test("multimodal: decode computes exact temporal statistics on a 2-frame GIF") {
    import java.awt.image.BufferedImage
    // frame 0 all black (luma 0), frame 1 all white (luma 1) — both exactly
    // representable in a GIF palette, so decoded stats are exact:
    // mean luma 0.5, per-frame-mean std 0.5, min 0, max 1, activity |Δ|=1
    def solid(rgb: Int): BufferedImage = {
      val im = new BufferedImage(3, 2, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 2; x <- 0 until 3) im.setRGB(x, y, rgb)
      im
    }
    val gif = Multimodal.gifBytes(Array(solid(0x000000), solid(0xFFFFFF)))
    val f = Multimodal.MediaKernels.decode(5L, gif, "video", 0, 0, 7)
    assert(f.n_frames == 2) // decoded, not the metadata claim (7)
    assert(f.width == 3 && f.height == 2)
    assert(math.abs(f.features(0) - 0.5) < 1e-12) // mean R
    assert(math.abs(f.features(3) - 0.5) < 1e-12) // mean luma
    assert(math.abs(f.features(4) - 0.5) < 1e-12) // std of {0,1}
    // 0.299+0.587+0.114 sums to 1−ulp in binary, hence the tolerances
    assert(f.features(5) == 0.0 && math.abs(f.features(6) - 1.0) < 1e-12)
    assert(math.abs(f.features(7) - 1.0) < 1e-12) // one full-swing delta
  }

  test("multimodal: resize scales a solid PNG exactly and rewrites dims") {
    import java.awt.image.BufferedImage
    val im = new BufferedImage(4, 4, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 4) im.setRGB(x, y, 0x336699)
    val png = Multimodal.pngBytesOf(im)
    val resized = Multimodal.MediaKernels.resizeImage(png, 2, 2).get
    val f = Multimodal.MediaKernels.decode(1L, resized, "img", 0, 0, 1)
    assert(f.width == 2 && f.height == 2)
    // bilinear scaling of a constant image is exact
    assert(math.abs(f.features(0) - 0x33 / 255.0) < 1e-12)
    assert(math.abs(f.features(1) - 0x66 / 255.0) < 1e-12)
    assert(math.abs(f.features(2) - 0x99 / 255.0) < 1e-12)
    // non-image payload → None
    assert(Multimodal.MediaKernels.resizeImage(Array[Byte](1, 2, 3, 4), 2, 2).isEmpty)
  }

  test("multimodal: sampleFrames keeps every stride-th GIF frame") {
    import java.awt.image.BufferedImage
    def solid(rgb: Int): BufferedImage = {
      val im = new BufferedImage(2, 2, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 2; x <- 0 until 2) im.setRGB(x, y, rgb)
      im
    }
    // black, white, black, white — stride 2 keeps frames 0 and 2 (black)
    val gif = Multimodal.gifBytes(
      Array(solid(0x000000), solid(0xFFFFFF), solid(0x000000), solid(0xFFFFFF)))
    val sampled = Multimodal.MediaKernels.sampleGifFrames(gif, 2).get
    val f = Multimodal.MediaKernels.decode(1L, sampled, "video", 0, 0, 4)
    assert(f.n_frames == 2)
    assert(f.features(3) < 1e-12, s"mean luma ${f.features(3)}") // both black
    assert(f.features(4) < 1e-12) // no temporal variation left
    // stride 1 is identity on the frame count
    assert(Multimodal.MediaKernels.sampleGifFrames(gif, 1).map(
      Multimodal.MediaKernels.decode(1L, _, "video", 0, 0, 4).n_frames).contains(4))
  }

  test("multimodal: DataFrame-level resize + frame sampling transform rows by format") {
    val docs = (1L to 12L).map(i => (i, s"seed text $i")).toDF("doc_id", "text")
    val media = Multimodal.syntheticMedia(docs, "doc_id", "text")
    val out = Multimodal.sampleFrames(Multimodal.resizeImages(media, 6, 5), 2)
    val feats = Multimodal.decodeFeatures(out).collect()
    assert(feats.length == 12)
    feats.filter(_.format == "img").foreach { f =>
      assert(f.width == 6 && f.height == 5, s"${f.width}x${f.height}")
    }
    feats.filter(_.format == "video").foreach { f =>
      assert(f.n_frames >= 1 && f.n_frames <= 4) // ceil((2..7)/2)
    }
    // audio untouched by both transforms
    val audioBefore = Multimodal.decodeFeatures(media).collect()
      .filter(_.format == "audio").map(f => f.media_id -> f.features(1)).toMap
    feats.filter(_.format == "audio").foreach { f =>
      assert(math.abs(f.features(1) - audioBefore(f.media_id)) < 1e-12)
    }
  }

  test("rolling-hash winnowing: hand-checked fold and tiny-doc selection") {
    def h(s: String): Long = s.foldLeft(0L)((a, c) => (a * 257 + c.toInt) % 1000000007L)
    // the column fold matches the scalar fold
    val hv = Seq("ab", "winnowing fingerprint").toDF("s")
      .select(TextStats.rollingHash(col("s")).as("h")).collect().map(_.getLong(0))
    assert(hv(0) == h("ab") && hv(0) == (97L * 257 + 98) % 1000000007L)
    assert(hv(1) == h("winnowing fingerprint"))
    // 10-char doc, k=8, w=4: grams at 3 starts, m=3 < w → only ord 0 valid,
    // fp = min over all three gram hashes
    val rows = TextStats.rollingFingerprintRows(
      Seq((1L, "abcdefghij")).toDF("doc_id", "text"), "doc_id", "text").collect()
    val expected = Seq("abcdefgh", "bcdefghi", "cdefghij").map(h).min
    assert(rows.length == 1 && rows(0).getLong(1) == expected)
    // normalization: case-folded, whitespace-collapsed before hashing
    val eq = TextStats.rollingFingerprintRows(
      Seq((1L, "AbC  deFGhIj"), (2L, "abc defghij")).toDF("doc_id", "text"),
      "doc_id", "text").collect().groupBy(_.getLong(0)).map { case (k2, v) =>
        k2 -> v.map(_.getLong(1)).toSet }
    assert(eq(1L) == eq(2L))
  }

  test("frame sample plan emits stride indices for video rows only") {
    val docs = (1L to 30L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val media = Multimodal.syntheticMedia(docs, "doc_id", "text")
    val plan = Multimodal.frameSamplePlan(media, stride = 4).collect()
    assert(plan.nonEmpty)
    plan.foreach { r =>
      val idx = r.getSeq[Int](1)
      assert(idx.head == 0 && idx.sliding(2).forall(w => w.length < 2 || w(1) - w(0) == 4))
    }
  }

  test("streaming windowed moments match the batch variant") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("stream_m").toString
    graft.core.Tables.events(spark, SparkSpec.sf0001)
      .select("ts", "event_type", "value")
      .write.mode("overwrite").parquet(dir)
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val q = StreamOps.momentsStream(spark, dir, schema, "m_out")
    try {
      q.processAllAvailable()
      val streamed = spark.table("m_out").orderBy("window_start", "event_type").collect()
      val batch = StreamOps.momentsBatch(spark.read.parquet(dir)).collect()
      assert(streamed.length == batch.length && streamed.nonEmpty)
      streamed.zip(batch).foreach { case (s, b) =>
        assert(s.getAs[Long]("n") == b.getAs[Long]("n"))
        assert(math.abs(s.getAs[Double]("skew") - b.getAs[Double]("skew")) < 1e-9)
        assert(math.abs(s.getAs[Double]("kurtosis") - b.getAs[Double]("kurtosis")) < 1e-9)
      }
    } finally q.stop()
  }

  test("streaming session window matches the batch variant") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("stream_s").toString
    graft.core.Tables.events(spark, SparkSpec.sf0001)
      .select("ts", "event_type", "value")
      .write.mode("overwrite").parquet(dir)
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val q = StreamOps.sessionWindowStream(spark, dir, schema, "s_out")
    try {
      q.processAllAvailable()
      val streamed = spark.table("s_out").orderBy("event_type", "session_start").collect()
      val batch = StreamOps.sessionWindowBatch(spark.read.parquet(dir)).collect()
      assert(streamed.length == batch.length && streamed.nonEmpty)
      streamed.zip(batch).foreach { case (s, b) =>
        assert(s.getAs[java.sql.Timestamp]("session_start") == b.getAs[java.sql.Timestamp]("session_start"))
        assert(s.getAs[java.sql.Timestamp]("session_end") == b.getAs[java.sql.Timestamp]("session_end"))
        assert(s.getAs[Long]("n") == b.getAs[Long]("n"))
        assert(math.abs(s.getAs[Double]("sum_value") - b.getAs[Double]("sum_value")) < 1e-9)
      }
    } finally q.stop()
  }

  test("streaming stateful dedup matches batch dropExactDuplicates") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("stream_d").toString
    // corpus with planted exact duplicates
    (0L until 40L).map(i => (i, s"doc content ${i % 15}"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // exact-equality mode: unbounded state (NoTimeout) — which is also
    // what makes processAllAvailable usable here (see dedupStream doc)
    val q = StreamOps.dedupStream(spark, dir, schema, "d_out", stateTtl = None)
    try {
      q.processAllAvailable()
      val streamed = spark.table("d_out").collect().map(_.getAs[Long]("id")).toSet
      val batch = graft.ext.Dedup.dropExactDuplicates(spark.read.parquet(dir))
        .collect().map(_.getAs[Long]("doc_id")).toSet
      assert(streamed == batch, s"streamed $streamed vs batch $batch")
      assert(streamed.size == 15) // one survivor per distinct text
      assert(streamed.forall(_ < 15)) // lowest id per content wins
    } finally q.stop()
  }

  test("streaming dedup: expired hashes re-admit after the state TTL") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("stream_ttl").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def writeBatch(name: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name")
    // the file stream watches dir/*; each subdir write is a new micro-batch
    val srcGlob = s"$dir/*"
    // processAllAvailable is unusable with a processing-time TTL (the
    // engine never quiesces — see the dedupStream scaladoc), so poll the
    // sink for the expected id set with a deadline instead.
    def awaitIds(q: org.apache.spark.sql.streaming.StreamingQuery,
                 expect: Set[Long], timeoutMs: Long = 60000): Unit = {
      val deadline = System.currentTimeMillis + timeoutMs
      var ids = Set.empty[Long]
      while (ids != expect && System.currentTimeMillis < deadline) {
        Thread.sleep(100)
        ids = spark.table("ttl_out").collect().map(_.getAs[Long]("id")).toSet
        assert(ids.subsetOf(expect), s"unexpected ids: ${ids -- expect}")
      }
      assert(ids == expect, s"timed out waiting for $expect, got $ids")
    }
    writeBatch("b1", Seq((1L, "dup")))
    val q = StreamOps.dedupStream(spark, srcGlob, schema, "ttl_out",
      stateTtl = Some("1 millisecond"), triggerInterval = "100 milliseconds")
    try {
      awaitIds(q, Set(1L))
      Thread.sleep(300) // let the 1 ms TTL lapse in processing time
      // a later trigger reaps the timed-out "dup" state
      writeBatch("b2", Seq((2L, "other")))
      awaitIds(q, Set(1L, 2L))
      Thread.sleep(300) // ensure the reaping trigger has fired post-expiry
      // the duplicate text now re-admits
      writeBatch("b3", Seq((3L, "dup")))
      awaitIds(q, Set(1L, 2L, 3L))
    } finally q.stop()
  }

  test("streaming sliding window matches the batch variant") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("stream_src").toString
    val events = graft.core.Tables.events(spark, SparkSpec.sf0001)
      .select("ts", "event_type", "value")
    events.write.mode("overwrite").parquet(dir)
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val q = StreamOps.slidingWindowStream(spark, dir, schema, "slide_out")
    try {
      q.processAllAvailable()
      val streamed = spark.table("slide_out")
        .orderBy("window_start", "event_type").collect()
      val batch = StreamOps.slidingWindowBatch(
        spark.read.parquet(dir)).collect()
      assert(streamed.length == batch.length && streamed.length > 0)
      // every event lands in exactly len/slide = 2 windows
      val nEvents = events.count()
      assert(batch.map(_.getAs[Long]("n")).sum == 2 * nEvents)
      streamed.zip(batch).foreach { case (s, b) =>
        assert(s.getAs[java.sql.Timestamp]("window_start") == b.getAs[java.sql.Timestamp]("window_start"))
        assert(s.getAs[Long]("n") == b.getAs[Long]("n"))
        assert(math.abs(s.getAs[Double]("avg_value") - b.getAs[Double]("avg_value")) < 1e-9)
      }
    } finally q.stop()
  }

  test("quality threshold filter agrees with the rank filter up to boundary ties") {
    val docs = graft.core.Tables.documents(spark, SparkSpec.sf0001)
    val byRank = TextStats.topQualityPerGroup(docs, "lang", keepFrac = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val byThr = TextStats.topQualityPerGroupByThreshold(docs, "lang", keepFrac = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the k-th highest of n values is >= quantile_cont(0.5) for
    // k = ceil(n/2), so every rank-kept doc clears the threshold; the
    // threshold variant additionally keeps boundary ties → superset
    assert(byThr.nonEmpty && byRank.nonEmpty)
    assert((byRank -- byThr).isEmpty,
      s"rank-kept docs below the median threshold: ${(byRank -- byThr).take(5)}")
    assert(byThr.size >= byRank.size)
  }

  test("append-mode stream finalizes windows once and drops late data") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("stream_late").toString
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    def ts(hhmm: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00")
    def feed(rows: (String, Double)*): Unit =
      rows.map { case (t, v) => (ts(t), "a", v) }
        .toDF("ts", "event_type", "value")
        .write.mode("append").parquet(dir)
    feed(("10:05", 1.0), ("10:10", 2.0))
    val q = StreamOps.tumblingWindowStreamAppend(spark, dir, schema, "late_out",
      windowLen = "1 hour", watermark = "1 hour")
    try {
      q.processAllAvailable()                    // wm after: 09:10 — nothing final
      feed(("13:00", 4.0))
      q.processAllAvailable()                    // wm after: 12:00
      // late row: event time 10:30 is behind the 12:00 watermark → dropped;
      // same batch also finalizes the [10:00, 11:00) window (end <= wm)
      feed(("10:30", 100.0), ("13:30", 8.0))
      q.processAllAvailable()
      // advance the watermark past 14:00 so the 13:00 window finalizes too
      feed(("16:00", 0.0))
      q.processAllAvailable()
      feed(("16:30", 0.0))
      q.processAllAvailable()
      val out = spark.table("late_out")
        .collect().map(r => r.getAs[java.sql.Timestamp]("window_start") ->
          (r.getAs[Long]("n"), r.getAs[Double]("sum_value"))).toMap
      // [10:00, 11:00): emitted ONCE with the on-time rows only — the late
      // 100.0 never entered the aggregate
      assert(out(ts("10:00")) == (2L, 3.0), s"10:00 window: ${out.get(ts("10:00"))}")
      // [13:00, 14:00): both rows, finalized after the watermark passed 14:00
      assert(out(ts("13:00")) == (2L, 12.0), s"13:00 window: ${out.get(ts("13:00"))}")
      // the 16:00 window is still open — append mode must NOT have emitted it
      assert(!out.contains(ts("16:00")), s"unfinalized window emitted: $out")
    } finally q.stop()
  }

  test("streaming tumbling window matches the batch variant") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("stream_src").toString
    val events = graft.core.Tables.events(spark, SparkSpec.sf0001)
      .select("ts", "event_type", "value")
    events.write.mode("overwrite").parquet(dir)
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val q = StreamOps.tumblingWindowStream(spark, dir, schema, "stream_out")
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_out")
        .orderBy("window_start", "event_type").collect()
      val batch = StreamOps.tumblingWindowBatch(
        spark.read.parquet(dir)).collect()
      assert(streamed.length == batch.length && streamed.length > 0)
      streamed.zip(batch).foreach { case (s, b) =>
        assert(s.getAs[java.sql.Timestamp]("window_start") == b.getAs[java.sql.Timestamp]("window_start"))
        assert(s.getAs[Long]("n") == b.getAs[Long]("n"))
        assert(math.abs(s.getAs[Double]("avg_value") - b.getAs[Double]("avg_value")) < 1e-9)
      }
    } finally q.stop()
  }

  test("gopherStats: hand-computed entropy/TTR/symbol stats; line fractions; null text") {
    val docs = Seq(
      (1L, "aa aa bb"), // n=3, c={aa:2, bb:1}
      (2L, "x# y... z…"),
      (3L, "- bullet one\n- bullet two\nplain line ends...\nanother"),
      (4L, null.asInstanceOf[String]),
      (5L, "123 456")) // no alphabetic words
      .toDF("doc_id", "text")
    val st = ext.TextStats.gopherStats(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // doc 1: H = ln3 − (2·ln2 + 1·ln1)/3; ttr = 2/3; mwl = 2
    val h1 = math.log(3) - 2 * math.log(2) / 3
    assert(math.abs(st(1L).getAs[Double]("token_entropy") - h1) < 1e-12)
    assert(math.abs(st(1L).getAs[Double]("type_token_ratio") - 2.0 / 3) < 1e-12)
    assert(st(1L).getAs[Double]("mean_word_len") == 2.0)
    // doc 2: one symbol per word → ratio 1; all words still contain a letter
    assert(st(2L).getAs[Double]("symbol_word_ratio") == 1.0)
    assert(st(2L).getAs[Double]("alpha_word_frac") == 1.0)
    // doc 3: 2 of 4 lines bullet-started, 1 of 4 ellipsis-ended
    assert(st(3L).getAs[Double]("bullet_line_frac") == 0.5)
    assert(st(3L).getAs[Double]("ellipsis_line_frac") == 0.25)
    // doc 4: null text → null word stats
    assert(st(4L).isNullAt(st(4L).fieldIndex("n_words")))
    // doc 5: digit-only words
    assert(st(5L).getAs[Double]("alpha_word_frac") == 0.0)
  }

  test("gopherFilter: threshold rule incl. null-stat docs failing") {
    val long = (1 to 60).map(i => s"word$i").mkString(" ") // 60 distinct 5-7 char words
    val docs = Seq(
      (1L, long), // passes everything
      (2L, "short doc"), // n_words < 50
      (3L, null.asInstanceOf[String])) // null stats
      .toDF("doc_id", "text")
    val kept = ext.TextStats.gopherFilter(docs)
      .select("doc_id", "kept").as[(Long, Boolean)].collect().toMap
    assert(kept == Map(1L -> true, 2L -> false, 3L -> false))
    // lowering minWords admits the short doc
    val loose = ext.TextStats.gopherFilter(docs, minWords = 2L)
      .select("doc_id", "kept").as[(Long, Boolean)].collect().toMap
    assert(loose(2L))
  }

  test("blocklistHits counts word-boundary matches; dropBlocklisted applies the C4 any-hit rule") {
    val docs = Seq(
      (1L, "the Bad, word and (bad) again plus badge"), // punct-wrapped hits; "badge" must NOT match
      (2L, "perfectly clean text here"),
      (3L, "BAD"), // case-folded single hit
      (4L, "...")) // strips to nothing — no tokens, no hits
      .toDF("doc_id", "text")
    val hits = ext.TextStats.blocklistHits(docs, "doc_id", "text", Seq("bad", "unused"))
      .as[(Long, Long)].collect().toMap
    assert(hits == Map(1L -> 2L, 3L -> 1L)) // flagged docs only; substring "badge" not counted
    val kept = ext.TextStats.dropBlocklisted(docs, "doc_id", "text", Seq("bad"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L))
    // a blocklist word absent from the corpus flags nothing
    val none = ext.TextStats.blocklistHits(docs, "doc_id", "text", Seq("absent"))
    assert(none.count() == 0L)
    // list entries are normalized like corpus tokens: "Bad!" / " bad " match
    val messy = ext.TextStats.blocklistHits(docs, "doc_id", "text", Seq("Bad!", " bad "))
      .as[(Long, Long)].collect().toMap
    assert(messy == Map(1L -> 2L, 3L -> 1L))
    intercept[IllegalArgumentException] {
      ext.TextStats.blocklistHits(docs, "doc_id", "text", Seq("!!!"))
    }
  }

  test("normalizeForDedup canonicalizes case, punctuation, digit runs, whitespace") {
    import spark.implicits._
    val out = Seq(
      "Hello, World!! v1.2.3   foo",
      "  {\"k\": 42}  ",
      "already clean",
      "").toDF("t")
      .select(graft.ext.TextStats.normalizeForDedup($"t").as("n"))
      .as[String].collect()
    assert(out(0) == "hello world v0 0 0 foo")
    assert(out(1) == "k 0")
    assert(out(2) == "already clean")
    assert(out(3) == "")
    // version/id churn canonicalizes to the same form (the dedup use case)
    val pair = Seq("build v1.2.3 ok", "build v9.87.65 ok").toDF("t")
      .select(graft.ext.TextStats.normalizeForDedup($"t").as("n"))
      .as[String].collect()
    assert(pair(0) == pair(1))
  }

  test("redactPii replaces emails, urls, and bare ipv4s, in that order") {
    import spark.implicits._
    val out = Seq(
      "contact bob@example.com or https://x.io/a?b=1 at 10.0.0.1 now",
      "see www.foo.com/bar and mail a.b+c@my-host.org",
      "version 1.2 is not an ip, 256 chars neither",
      "plain text stays put").toDF("t")
      .select(graft.ext.TextStats.redactPii($"t").as("r"))
      .as[String].collect()
    assert(out(0) == "contact <EMAIL> or <URL> at <IP> now")
    assert(out(1) == "see <URL> and mail <EMAIL>")
    assert(out(2) == "version 1.2 is not an ip, 256 chars neither")
    assert(out(3) == "plain text stays put")
  }

  test("qualityTerciles: head/middle/tail thirds per group, ties by id, integer boundaries") {
    import spark.implicits._
    // group a: 7 docs scored 7..1 → head = floor(7/3) = 2, middle = 2, tail = 3
    // group b: 3 docs, one per bucket; equal scores rank by doc_id
    val scored = ((1 to 7).map(i => (i.toLong, "a", (8 - i).toDouble)) ++
      Seq((10L, "b", 5.0), (11L, "b", 5.0), (12L, "b", 1.0)))
      .toDF("doc_id", "lang", "s")
    val out = graft.ext.TextStats.qualityTerciles(scored, "lang", "s")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("bucket")).toMap
    assert(out == Map(1L -> "head", 2L -> "head", 3L -> "middle", 4L -> "middle",
      5L -> "tail", 6L -> "tail", 7L -> "tail",
      10L -> "head", 11L -> "middle", 12L -> "tail"), s"got $out")
  }

  test("jsDivergenceByTerm: hand-computed contributions; identical corpora score 0") {
    val a = Seq((1L, "x x y")).toDF("doc_id", "text")
    val b = Seq((1L, "x y y")).toDF("doc_id", "text")
    val out = TextStats.jsDivergenceByTerm(a, b)
      .collect().map(r => r.getAs[String]("term") ->
        (r.getAs[Long]("cnt_a"), r.getAs[Long]("cnt_b"),
          r.getAs[Double]("js_term"))).toMap
    // V=2, Na=Nb=3, k=0.5: p_x=2.5/4, q_x=1.5/4, m=0.5
    val p = 0.625; val q = 0.375
    val exp = math.floor((0.5 * p * math.log(p / 0.5)
      + 0.5 * q * math.log(q / 0.5)) * 1e6 + 0.5) / 1e6
    assert(out("x")._1 == 2L && out("x")._2 == 1L, s"got $out")
    assert(math.abs(out("x")._3 - exp) < 1e-9, s"got $out want $exp")
    assert(math.abs(out("y")._3 - exp) < 1e-9, "symmetric term must match")
    val same = TextStats.jsDivergenceByTerm(a, a)
      .agg(org.apache.spark.sql.functions.sum("js_term")).head().getDouble(0)
    assert(same == 0.0, s"identical corpora must diverge 0, got $same")
  }

  test("jsDivergenceByTerm: disjoint vocabularies diverge strongly; absent terms count 0") {
    val a = Seq((1L, "aa bb aa bb aa bb aa bb")).toDF("doc_id", "text")
    val b = Seq((1L, "cc dd cc dd cc dd cc dd")).toDF("doc_id", "text")
    val rows = TextStats.jsDivergenceByTerm(a, b).collect()
    val total = rows.map(_.getAs[Double]("js_term")).sum
    // smoothing caps disjoint JS below ln2: V=4, N=8, k=0.5 gives
    // p_present=0.45, p_absent=0.05 -> JS ~ 0.368
    assert(total > 0.3, s"disjoint corpora should diverge strongly, got $total")
    val byTerm = rows.map(r => r.getAs[String]("term") ->
      (r.getAs[Long]("cnt_a"), r.getAs[Long]("cnt_b"))).toMap
    assert(byTerm("aa") == (4L, 0L) && byTerm("cc") == (0L, 4L), s"got $byTerm")
    intercept[IllegalArgumentException](
      TextStats.jsDivergenceByTerm(a, b, smoothK = 0.0))
  }
}
