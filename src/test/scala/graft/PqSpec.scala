package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.functions._
import graft.ext.{Pq, Similarity}

class PqSpec extends SparkSpec {
  import spark.implicits._

  test("encode: argmin L2 per subspace, lowest code wins ties") {
    // two subspaces of 2 dims; subspace 0 has duplicate centroids (tie),
    // subspace 1 has a clear winner at code 1
    val cb = Array(
      Array(Array(1.0, 1.0), Array(1.0, 1.0), Array(9.0, 9.0)),
      Array(Array(0.0, 0.0), Array(5.0, 5.0), Array(-5.0, -5.0)))
    val df = Seq((7L, Seq(1.0, 1.0, 5.0, 4.0))).toDF("vec_id", "embedding")
    val codes = Pq.pqEncode(df, cb).head().getSeq[Int](1)
    assert(codes == Seq(0, 1), s"tie must pick the lowest code: $codes")
  }

  test("exact-reconstruction corpus: ADC ranking equals brute force") {
    // vectors ARE concatenations of codebook entries, so x-hat = x and the
    // ADC cosine estimate is the true cosine — rankings must agree exactly
    val m = 2; val dsub = 2
    val cb = Pq.integerCodebooks(m, 4, dsub)
    val rng = new scala.util.Random(7)
    val rows = (0L until 60L).map { i =>
      val parts = (0 until m).map(j => cb(j)(rng.nextInt(4)))
      (i, parts.flatten.toSeq)
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("query_emb"))
    val adc = Pq.pqTopK(Pq.pqEncode(corpus, cb), queries, cb, k = 5)
      .select($"query_id", $"rank", $"vec_id", round($"cos", 9).as("cos"))
    val brute = Similarity.bruteForceTopK(corpus, queries, k = 5)
      .select($"query_id", $"rank", $"vec_id", round($"cos", 9).as("cos"))
    assert(adc.exceptAll(brute).isEmpty && brute.exceptAll(adc).isEmpty,
      "ADC over exactly-reconstructible vectors must reproduce brute force")
  }

  test("trained PQ: codes in range, cluster-level retrieval over clustered corpus") {
    val rng = new scala.util.Random(42)
    val dim = 16; val nCenters = 8
    val centers = Array.fill(nCenters)(Array.fill(dim)(rng.nextGaussian() * 3))
    val rows = (0L until 400L).map { i =>
      val c = centers((i % nCenters).toInt)
      (i, c.map(_ + rng.nextGaussian() * 0.2).toSeq)
    }
    val corpus = rows.toDF("vec_id", "embedding").repartition(4)
    val cb = Pq.trainPqCodebooks(corpus, dim, m = 4, ksub = 8, iters = 3)
    assert(cb.length == 4 && cb.forall(_.length == 8) && cb.forall(_.forall(_.length == 4)))
    val enc = Pq.pqEncode(corpus, cb)
    val bad = enc.filter(exists(col("codes"), c => c < 0 || c >= 8)).count()
    assert(bad == 0, "codes out of [0, ksub)")
    val queries = corpus.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("query_emb"))
    val approx = Pq.pqTopK(enc, queries, cb, k = 10)
    // Quantization collapses WITHIN-cluster distances (all members of a
    // tight cluster share codes), so id-level recall@10 is meaningless
    // here by design; the correctness claim PQ makes on a separable
    // corpus is CLUSTER-level: every retrieved neighbor belongs to the
    // query's true cluster (cluster id = vec_id % nCenters).
    val wrongCluster = approx
      .filter(pmod(col("vec_id"), lit(nCenters)) =!= pmod(col("query_id"), lit(nCenters)))
      .count()
    assert(wrongCluster == 0, s"$wrongCluster of 50 retrieved neighbors left the query's cluster")
  }

  test("replayable twin: deterministic, k rows per query, rank contract") {
    val rng = new scala.util.Random(3)
    val corpus = (0L until 50L).map(i => (i, Seq.fill(8)(rng.nextGaussian())))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 2)
      .select($"vec_id".as("query_id"), $"embedding".as("query_emb"))
    val cb = Pq.integerCodebooks(4, 4, 2)
    val a = Pq.pqTopK(Pq.pqEncode(corpus, cb), queries, cb, k = 5).collect()
    val b = Pq.pqTopK(Pq.pqEncode(corpus, cb), queries, cb, k = 5).collect()
    assert(a.toSeq == b.toSeq, "replayable twin must be run-deterministic")
    val byQ = a.groupBy(_.getAs[Any]("query_id"))
    assert(byQ.size == 2 && byQ.values.forall(_.length == 5))
    byQ.values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 5),
        "ranks must be 1..k per query")
      val coss = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cos"))
      assert(coss.zip(coss.tail).forall { case (x, y) => x >= y }, "cos must be non-increasing")
    }
  }

  test("ivf-pq: candidates confined to probed cells, cluster-level retrieval") {
    val rng = new scala.util.Random(9)
    val dim = 16; val nCenters = 6
    val centers = Array.fill(nCenters)(Array.fill(dim)(rng.nextGaussian() * 3))
    val corpus = (0L until 300L).map { i =>
      val c = centers((i % nCenters).toInt)
      (i, c.map(_ + rng.nextGaussian() * 0.2).toSeq)
    }.toDF("vec_id", "embedding").repartition(4)
    val cents = Similarity.trainIvfCentroids(corpus, nlist = 6, iters = 3)
    val cb = Pq.trainPqCodebooks(corpus, dim, m = 4, ksub = 8, iters = 3)
    val queries = corpus.filter($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding".as("query_emb"))
    val got = Pq.ivfPqTopK(corpus, queries, k = 10, cents, cb, nprobe = 2)
    assert(got.groupBy("query_id").count().collect().forall(_.getLong(1) == 10L))
    // tight clusters: every hit must be the query's own cluster
    val wrong = got.filter(pmod(col("vec_id"), lit(nCenters)) =!=
      pmod(col("query_id"), lit(nCenters))).count()
    assert(wrong == 0, s"$wrong cross-cluster hits")
    // run-deterministic
    val a = got.collect().toSeq
    val b = Pq.ivfPqTopK(corpus, queries, k = 10, cents, cb, nprobe = 2).collect().toSeq
    assert(a == b)
  }

  test("shape guards: dim % m, short vectors filtered") {
    intercept[IllegalArgumentException] {
      Pq.trainPqCodebooks(Seq((1L, Seq(1.0))).toDF("vec_id", "embedding"), dim = 10, m = 3)
    }
    val cb = Pq.integerCodebooks(2, 2, 2)
    val mixed = Seq((1L, Seq(1.0, 2.0, 3.0, 4.0)), (2L, Seq(1.0, 2.0)))
      .toDF("vec_id", "embedding")
    assert(Pq.pqEncode(mixed, cb).count() == 1, "short vectors are filtered, not crashed on")
  }

  test("opq: signed permutation orthonormal; identity rotation equals plain pq") {
    val dim = 8
    val r = Pq.signedPermutationRotation(dim)
    // R·Rᵀ = I exactly (entries are ±1/0)
    (0 until dim).foreach { i =>
      (0 until dim).foreach { j =>
        val dot = (0 until dim).map(d => r(i)(d) * r(j)(d)).sum
        assert(dot == (if (i == j) 1.0 else 0.0), s"RRᵀ($i,$j)=$dot")
      }
    }
    // every row/col has exactly one nonzero, ±1
    assert(r.forall(row => row.count(_ != 0.0) == 1 && row.forall(v => v == 0.0 || v.abs == 1.0)))
    // identity rotation through the OPQ path == plain PQ, row for row
    val eye = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    val rng = new scala.util.Random(7)
    val df = (0L until 60L).map(i => (i, Seq.fill(dim)(rng.nextGaussian())))
      .toDF("vec_id", "embedding")
    val q = df.filter($"vec_id" < 2)
      .select($"vec_id".as("query_id"), $"embedding".cast("array<double>").as("query_emb"))
    val cb = Pq.integerCodebooks(2, 4, 4)
    def rows(d: org.apache.spark.sql.DataFrame) = d
      .select("query_id", "rank", "vec_id").collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSeq
    val viaOpq = rows(Pq.opqTopK(Pq.opqEncode(df, eye, cb), q, eye, cb, k = 5))
    val plain = rows(Pq.pqTopK(Pq.pqEncode(df, cb), q, cb, k = 5))
    assert(viaOpq == plain)
  }

  test("opq: trained rotation orthonormal; error not worse than plain pq") {
    // anisotropic correlated data: a random mix of 2 latent factors across
    // 8 dims — the setting where a learned rotation helps subspace quantizers
    val rng = new scala.util.Random(19)
    val mix = Array.fill(8, 2)(rng.nextGaussian())
    val df = (0L until 400L).map { i =>
      val g = Array.fill(2)(rng.nextGaussian())
      (i, mix.map(row => row(0) * g(0) + row(1) * g(1) + rng.nextGaussian() * 0.05).toSeq)
    }.toDF("vec_id", "embedding")
    val (r, cb) = Pq.trainOpq(df, dim = 8, m = 4, ksub = 8, iters = 3)
    // orthonormality of the learned rotation
    (0 until 8).foreach { i =>
      (0 until 8).foreach { j =>
        val dot = (0 until 8).map(d => r(i)(d) * r(j)(d)).sum
        assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-10, s"RRᵀ($i,$j)=$dot")
      }
    }
    // mean squared reconstruction error: ||R·x − decode(encode(R·x))||²
    def msError(rot: Array[Array[Double]], books: Array[Array[Array[Double]]]): Double = {
      val data = df.collect().map(x => x.getSeq[Double](1).toArray)
      val m = books.length; val dsub = books(0)(0).length
      data.map { x =>
        val rx = rot.map(row => row.zip(x).map { case (a, b) => a * b }.sum)
        (0 until m).map { j =>
          val sub = rx.slice(j * dsub, (j + 1) * dsub)
          books(j).map(c => c.zip(sub).map { case (a, b) => (a - b) * (a - b) }.sum).min
        }.sum
      }.sum / data.length
    }
    val eye = Array.tabulate(8, 8)((i, j) => if (i == j) 1.0 else 0.0)
    val pqCb = Pq.trainPqCodebooks(df, dim = 8, m = 4, ksub = 8, iters = 3)
    val opqErr = msError(r, cb)
    val pqErr = msError(eye, pqCb)
    assert(opqErr <= pqErr * 1.05, s"opq $opqErr vs pq $pqErr")
  }

  test("opq replayable twin: deterministic, self at rank 1 on exact corpus") {
    val rng = new scala.util.Random(29)
    // vectors built FROM the integer codebooks in rotated space, pushed
    // back through Rᵀ — encode must recover them exactly, so ADC cosine
    // of self is exactly 1 and self wins rank 1
    val cb = Pq.integerCodebooks(4, 4, 4)
    val rot = Pq.signedPermutationRotation(16)
    val df = (0L until 40L).map { i =>
      val codes = Array.fill(4)(rng.nextInt(4))
      val rx = (0 until 4).flatMap(j => cb(j)(codes(j))).toArray
      // x = Rᵀ·rx (R orthonormal ⇒ R·x = rx)
      val x = (0 until 16).map(d => (0 until 16).map(r2 => rot(r2)(d) * rx(r2)).sum)
      (i, x)
    }.toDF("vec_id", "embedding")
    val q = df.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".cast("array<double>").as("query_emb"))
    val a = Pq.opqTopK(Pq.opqEncode(df, rot, cb), q, rot, cb, k = 4)
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2), x.getDouble(3))).toSeq
    val b = Pq.opqTopK(Pq.opqEncode(df.repartition(5), rot, cb), q, rot, cb, k = 4)
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2), x.getDouble(3))).toSeq
    assert(a == b, "twin not deterministic under repartitioning")
    a.filter(_._2 == 1).foreach { case (qid, _, vid, cos) =>
      // multiple vectors may share codes; rank-1 must still score cos==1
      assert(math.abs(cos - 1.0) < 1e-12, s"query $qid rank-1 cos $cos (vec $vid)")
    }
  }

  /** ScalaUDF calls in a frame's analyzed plan (the optimizer folds
    * projections over a local relation away). */
  private def udfCalls(d: DataFrame): Int =
    d.queryExecution.analyzed.collect { case p =>
      p.expressions.map(_.collect { case u: ScalaUDF => u }.size).sum
    }.sum

  /** (query_id, rank, vec_id, cos) rows of a top-k frame. */
  private def topRows(d: DataFrame): Seq[(Long, Int, Long, Double)] =
    d.collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2), x.getDouble(3))).toSeq

  /** (vec_id, codes) of an encoded frame, by id. */
  private def codeRows(d: DataFrame): Seq[(Long, Seq[Int])] =
    d.collect().map(x => (x.getLong(0), x.getSeq[Int](1).toSeq)).toSeq.sortBy(_._1)

  test("opq: a signed permutation takes the fused branch and equals the dense rotation") {
    val dim = 16
    val rng = new scala.util.Random(31)
    val df = (0L until 120L).map(i => (i, Seq.fill(dim)(rng.nextGaussian())))
      .toDF("vec_id", "embedding")
    val q = df.filter($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding".cast("array<double>").as("query_emb"))
    val rot = Pq.signedPermutationRotation(dim)
    val cb = Pq.trainPqCodebooks(df, dim, m = 4, ksub = 8, iters = 2)
    val fused = Pq.opqEncode(df, rot, cb)
    // the same rotation through the dense matrix-vector UDF, then plain PQ
    val rotate = Pq.rotateUdf(rot)
    val dense = Pq.pqEncode(
      df.select($"vec_id", rotate($"embedding".cast("array<double>")).as("embedding")), cb)
    assert(udfCalls(fused) == 1, "a signed permutation must fuse into the encode UDF")
    assert(udfCalls(dense) == 2)
    assert(codeRows(fused) == codeRows(dense))
    val fusedTop = topRows(Pq.opqTopK(fused, q, rot, cb, k = 5))
    val denseTop = topRows(Pq.pqTopK(dense,
      q.select($"query_id", rotate($"query_emb").as("query_emb")), cb, k = 5))
    assert(fusedTop.length == 20)
    assert(fusedTop == denseTop, "fused and dense rotation must give the same top-k, bit for bit")
  }

  test("opq: a trained rotation runs the dense branch through opqEncode and opqTopK") {
    val rng = new scala.util.Random(37)
    val mix = Array.fill(8, 2)(rng.nextGaussian())
    val df = (0L until 200L).map { i =>
      val g = Array.fill(2)(rng.nextGaussian())
      (i, mix.map(row => row(0) * g(0) + row(1) * g(1) + rng.nextGaussian() * 0.05).toSeq)
    }.toDF("vec_id", "embedding")
    val q = df.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".cast("array<double>").as("query_emb"))
    val (r, cb) = Pq.trainOpq(df, dim = 8, m = 4, ksub = 8, iters = 2)
    assert(r.flatten.count(_ != 0.0) > 8, "the trained rotation is not a signed permutation")
    val enc = Pq.opqEncode(df, r, cb)
    assert(udfCalls(enc) == 2, "a dense rotation must rotate, then encode")
    val rotate = Pq.rotateUdf(r)
    val dense = Pq.pqEncode(
      df.select($"vec_id", rotate($"embedding".cast("array<double>")).as("embedding")), cb)
    assert(codeRows(enc) == codeRows(dense))
    val got = topRows(Pq.opqTopK(enc, q, r, cb, k = 5))
    assert(got.length == 15)
    assert(got == topRows(Pq.pqTopK(dense,
      q.select($"query_id", rotate($"query_emb").as("query_emb")), cb, k = 5)))
  }
}
