package graft

import graft.operators.Similarity
import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val corpus = {
    // 20 distinct docs + 3 planted near-dups of doc 1 + 1 exact dup of doc 2
    val rng = new scala.util.Random(7)
    val base = (0 until 20).map { i =>
      (i.toLong, (0 until 60).map(_ => s"w${rng.nextInt(500) + i * 500}").mkString(" "))
    }
    val d1 = base(1)._2.split(" ")
    val nearDups = (0 until 3).map { j =>
      (100L + j, (d1.take(54) ++ Seq(s"x$j", "extra", "words", "here", "now", "ok")).mkString(" "))
    }
    val exactDup = Seq((200L, base(2)._2))
    (base ++ nearDups ++ exactDup).toDF("doc_id", "text")
  }

  test("minhash LSH finds planted near-dups and the exact dup, not unrelated pairs") {
    val pairs = Similarity.minhashNearDupPairs(corpus, "doc_id", "text",
      shingleK = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((2L, 200L)), "exact dup missed")
    assert(pairs.contains((1L, 100L)) && pairs.contains((1L, 101L)) && pairs.contains((1L, 102L)),
      s"planted near-dups missed: $pairs")
    // no pair between two unrelated base docs (disjoint vocab ranges)
    val unrelated = pairs.filter { case (a, b) => a < 100 && b < 100 && a != 1 && b != 1 }
    assert(unrelated.isEmpty, s"false positives: $unrelated")
  }

  test("verifyPairsJaccard: exact dup verifies at 1.0") {
    val cand = Seq((2L, 200L)).toDF("id_a", "id_b")
    val v = Similarity.verifyPairsJaccard(cand, corpus, "doc_id", "text", 3)
      .select($"jaccard").as[Double].head()
    assert(v === 1.0)
  }

  test("bruteForceTopK matches a local exact computation") {
    val rng = new scala.util.Random(11)
    val vecs = (0 until 50).map(i => (i.toLong, Array.fill(16)(rng.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 3)
    val got = Similarity.bruteForceTopK(df, queries, "vec_id", "embedding", k = 5)
      .select($"query_id", $"corpus_id", $"rank").as[(Long, Long, Int)]
      .collect().toSet

    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      // match the engine's evaluation order: dot and norms summed left-to-right
      for (i <- a.indices) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      if (na == 0 || nb == 0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = (for {
      q <- vecs.take(3)
      ranked = vecs.filter(_._1 != q._1)
        .map(c => (c._1, cos(c._2, q._2)))
        .sortBy { case (id, s) => (-s, id) }
        .take(5).zipWithIndex
      ((cid, _), r) <- ranked
    } yield (q._1, cid, r + 1)).toSet
    assert(got === expected)
  }

  test("srpTopK returns bucket-local exact ranks with decent recall of true top-5") {
    val rng = new scala.util.Random(13)
    val vecs = (0 until 200).map(i => (i.toLong, Array.fill(16)(rng.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding").cache()
    val queries = df.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(df, queries, "vec_id", "embedding", k = 5)
      .select($"query_id", $"corpus_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.srpTopK(df, queries, "vec_id", "embedding",
      dim = 16, planes = 2, k = 5)
      .select($"query_id", $"corpus_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"srp recall $recall too low for 2 planes")
    // approx results are well-formed: ≤5 per query, no self-matches
    assert(approx.forall { case (q, c) => q != c })
  }

  test("nearDupDedup: sketch→verify→drop keeps originals, drops planted near-dups, spares unrelated") {
    // 20 long distinct docs; docs 0..4 get near-dup copies (one token
    // appended, 3-gram jaccard ≈ (n-2)/(n+1) ≈ 0.9) under LATER ids; one
    // unrelated doc shares a few tokens but sits far below the threshold
    val base = (0 until 20).map { i =>
      val words = (0 until 40).map(j => s"w${(i * 17 + j * 3) % 211}x$i").mkString(" ")
      (i.toLong, words)
    }
    val nearDups = (0 until 5).map { i => (100L + i, base(i)._2 + " extra") }
    val docs = (base ++ nearDups).toDF("doc_id", "text")
    val survivors = graft.operators.Dedup.nearDupDedup(docs, "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    assert(survivors === (0 until 20).map(_.toLong).toSet,
      "originals survive; planted near-dups (later arrival) drop; unrelated docs spared")
    // decision is on the EXACT jaccard: a candidate pair below the decision
    // threshold must NOT drop even if the sketch surfaced it
    val weak = Seq((0L, "a b c d e f g h i j"), (1L, "a b c d e k l m n o")).toDF("doc_id", "text")
    val weakSurvivors = graft.operators.Dedup.nearDupDedup(weak, "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    assert(weakSurvivors === Set(0L, 1L), "sub-threshold candidate pairs both survive")
  }

  test("embeddingNearDupDedup: scaled copies share a bucket, cosine 1, and drop; distinct vectors survive") {
    val rng = new scala.util.Random(7)
    val base = (0 until 30).map(i => (i.toLong, Array.fill(16)(rng.nextFloat() * 2 - 1)))
    // power-of-two scale: exact in float → cosine exactly 1, same SRP bucket
    val copies = (0 until 6).map(i => (200L + i, base(i)._2.map(_ * 4.0f)))
    val df = (base ++ copies).toDF("vec_id", "embedding")
    val survivors = graft.operators.Similarity
      .embeddingNearDupDedup(df, "vec_id", "embedding", dim = 16, planes = 4)
      .select($"vec_id").as[Long].collect().toSet
    assert((200L until 206L).forall(!survivors.contains(_)), "scaled copies must drop")
    assert((0 until 30).forall(i => survivors.contains(i.toLong) ||
      // a natural high-cosine pair may drop the later member — verify reason
      graft.operators.Similarity.embeddingNearDupPairs(df, "vec_id", "embedding", 16, 4)
        .filter($"id_b" === i.toLong).count() > 0))
  }

  test("minhashJaccard column agrees with signature agreement fraction") {
    val df = Seq(("a b c d e f g h", "a b c d e f x y")).toDF("x", "y")
      .select(TF.minhashJaccard(
        TF.minhashSignature($"x", 2, 32),
        TF.minhashSignature($"y", 2, 32)).as("est"))
    val est = df.as[Double].head()
    assert(est > 0.2 && est < 1.0)
  }
}
