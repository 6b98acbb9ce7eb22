package graft

import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextFunctionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def one[T](df: org.apache.spark.sql.DataFrame): T =
    df.collect().head.getAs[T](0)

  test("tokenCountFast equals token array size on single-spaced text") {
    val df = Seq("a b c", "", "hello", "x y z w").toDF("t")
      .select(TF.tokenCountFast($"t").as("fast"), size(TF.tokens($"t")).as("exact"))
    df.collect().foreach(r => assert(r.getInt(0) === r.getInt(1)))
  }

  test("minhash: identical texts → identical signatures; estimate tracks exact jaccard") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val near = (1 to 54).map(i => s"w$i").mkString(" ") + " x1 x2 x3 x4 x5 x6"
    val far = (100 to 160).map(i => s"v$i").mkString(" ")
    val df = Seq(("a", base), ("b", base), ("c", near), ("d", far)).toDF("id", "t")
      .select($"id", TF.minhashSignature($"t", 3, 64).as("sig"))
    val sigs = df.as[(String, Seq[Long])].collect().toMap
    assert(sigs("a") === sigs("b"))
    val estNear = sigs("a").zip(sigs("c")).count { case (x, y) => x == y } / 64.0
    val estFar = sigs("a").zip(sigs("d")).count { case (x, y) => x == y } / 64.0
    assert(estNear > 0.5, s"near estimate $estNear")
    assert(estFar < 0.1, s"far estimate $estFar")
  }

  test("ngramJaccard: identical → 1.0, disjoint → 0.0") {
    val df = Seq(("a b c d e", "a b c d e", "p q r s t")).toDF("x", "y", "z")
      .select(TF.ngramJaccard($"x", $"y", 2).as("same"),
        TF.ngramJaccard($"x", $"z", 2).as("diff"))
    val r = df.collect().head
    assert(r.getDouble(0) === 1.0)
    assert(r.getDouble(1) === 0.0)
  }

  test("simhash: identical texts equal; near texts low hamming; far texts high") {
    val base = (1 to 80).map(i => s"tok$i").mkString(" ")
    val near = (1 to 78).map(i => s"tok$i").mkString(" ") + " zz yy"
    val far = (1 to 80).map(i => s"other$i").mkString(" ")
    val df = Seq(("a", base), ("b", base), ("c", near), ("d", far)).toDF("id", "t")
      .select($"id", TF.simhash64($"t").as("h"))
    val hs = df.as[(String, Long)].collect().toMap
    assert(hs("a") === hs("b"))
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(hs("a"), hs("c")) < 12, s"near hamming ${ham(hs("a"), hs("c"))}")
    assert(ham(hs("a"), hs("d")) > 16, s"far hamming ${ham(hs("a"), hs("d"))}")
  }

  test("hamming64 column matches JVM bitCount") {
    val df = Seq((0x0FL, 0xF0L), (123456789L, 123456789L)).toDF("a", "b")
      .select(TF.hamming64($"a", $"b").as("h"))
    assert(df.as[Int].collect().toSeq === Seq(8, 0))
  }

  test("fingerprint: deterministic, order-invariant size") {
    val df = Seq("one two three four five six seven eight nine ten").toDF("t")
      .select(TF.fingerprint($"t", 2, 4).as("fp"))
    val fp1 = df.as[Seq[Long]].head()
    val fp2 = df.as[Seq[Long]].head()
    assert(fp1 === fp2)
    assert(fp1.size === 4)
    assert(fp1 === fp1.sorted)
  }

  /** Plain-Scala Lehmer reference of the sketch kernels, written the way the
    * DuckDB oracle SQL in `SparkEntry` (`tokenHashCte` and the simhash /
    * minhash / fingerprint oracles) computes them. */
  private object LehmerRef {
    val M = 2147483647L
    def tokenHashes(text: String): Seq[Long] =
      text.toLowerCase(java.util.Locale.ROOT).split("[\t\n\u000B\f\r ]+").toSeq
        .filter(_.nonEmpty)
        .map(t => t.codePoints().toArray.foldLeft(0L)((h, cp) => (h * 48271 + cp) % M))
    def simhash64(text: String): Long = {
      val hs = tokenHashes(text).map { h =>
        val g = (h * 48271 + 1) % M
        g * 2147483648L + (g * 48271 + 1) % M
      }
      (0 until 64).foldLeft(0L) { (acc, i) =>
        val sum = hs.map(h => ((h >> i) & 1) * 2 - 1).sum
        (acc << 1) | (if (sum > 0) 1L else 0L)
      }
    }
    def shingles(text: String, k: Int): Seq[Long] =
      tokenHashes(text).sliding(k).filter(_.size == k)
        .map(w => w.tail.foldLeft(w.head)((sh, h) => (sh * 48271 + h) % M)).toSeq
    def minhash(text: String, k: Int, numHashes: Int): Seq[Long] = {
      val sh = shingles(text, k)
      (0 until numHashes).map { h =>
        val a = ((h + 1).toLong * 1103515245L + 42L) % M
        val b = (a * 48271 + 1) % M
        if (sh.isEmpty) Long.MaxValue else sh.map(s => (a * s + b) % M).min
      }
    }
    def bandKeys(sig: Seq[Long], bands: Int, rowsPerBand: Int): Seq[Long] =
      sig.grouped(rowsPerBand).take(bands)
        .map(_.foldLeft(0L)((kb, v) => (kb * 48271 + v % M) % M)).toSeq
    def fingerprint(text: String, k: Int, n: Int): Seq[Long] =
      shingles(text, k).distinct.sorted.take(n)
  }

  test("sketch kernels equal the plain-Scala Lehmer reference (null, empty, short, UTF-8)") {
    val texts = Seq[String](
      null, "", "one two", "\t  \n",
      "The quick brown fox jumps over the lazy dog. The quick brown fox again!",
      "café über naïve façade résumé ñandú smörgåsbord crème brûlée déjà vu",
      "日本語 の テキスト を 分割 する 東京 大阪 京都 札幌 福岡",
      "𐄇 𝄞 😀 🚀 𝔘𝔫𝔦 emoji 😀 mixed 𐄇 tokens 🚀 here",
      "mixed ASCII and ü 日 😀 in one token: aü日😀b aü日😀b aü日😀b aü日😀b")
    val input = texts.zipWithIndex.toDF("t", "i")
    def sketches(df: org.apache.spark.sql.DataFrame) = df
      .select($"i", TF.simhash64($"t").as("sh"),
        TF.minhashSignature($"t").as("sig5"),
        TF.minhashSignature($"t", 3, 32).as("sig3"),
        TF.fingerprint($"t").as("fp"))
      .select($"*",
        TF.lshBandKeys($"sig5", 8, 4).as("bk8"),
        TF.lshBandKeys($"sig3", 16, 2).as("bk16"))
    // over a local relation the optimizer folds the projection through
    // nullSafeEval; over a shuffle it runs the generated code
    for ((mode, in) <- Seq("eval" -> input, "codegen" -> input.repartition(2))) {
      sketches(in).collect().foreach { r =>
        val i = r.getInt(0)
        val t = texts(i)
        val shown = s"$mode #$i"
        if (t == null) (1 until r.length).foreach(c => assert(r.isNullAt(c), shown))
        else {
          assert(r.getLong(1) === LehmerRef.simhash64(t), s"simhash $shown")
          val sig5 = r.getSeq[Long](2)
          val sig3 = r.getSeq[Long](3)
          assert(sig5 === LehmerRef.minhash(t, 5, 32), s"minhash k=5 $shown")
          assert(sig3 === LehmerRef.minhash(t, 3, 32), s"minhash k=3 $shown")
          assert(r.getSeq[Long](4) === LehmerRef.fingerprint(t, 5, 8), s"fingerprint $shown")
          assert(r.getSeq[Long](5) === LehmerRef.bandKeys(sig5, 8, 4), s"bands 8x4 $shown")
          assert(r.getSeq[Long](6) === LehmerRef.bandKeys(sig3, 16, 2), s"bands 16x2 $shown")
          if (LehmerRef.tokenHashes(t).size < 5) {
            assert(sig5.forall(_ == Long.MaxValue), s"short text signature $shown")
            assert(r.getSeq[Long](4).isEmpty, s"short text fingerprint $shown")
          }
          // 62 live bits: output bits 0 and 1 are always 0
          assert((r.getLong(1) & 3L) === 0L, s"simhash low bits $shown")
        }
      }
    }
  }

  test("langId picks the marker language; und when no markers") {
    val df = Seq(
      ("the cat and the dog is in that house with food", "en"),
      ("der hund und die katze ist nicht mit ein haus", "de"),
      ("le chat et la maison est dans une ville pour toi", "fr"),
      ("el gato es en la casa que una vez por dia", "es"),
      ("qqq www zzz", "und")).toDF("t", "expected")
      .select(TF.langId($"t").as("got"), $"expected")
    df.collect().foreach(r => assert(r.getString(0) === r.getString(1)))
  }

  test("quality components and keep gate") {
    val good = ("the quick brown fox jumps over the lazy dog and runs far away " * 3).trim
    val digits = "1 2 3 4 5 6 7 8 9 0 11 22 33 44 55 66 77 88 99 00 111 222"
    val df = Seq(("g", good), ("d", digits)).toDF("id", "t")
      .select($"id", TF.qualityKeep($"t").as("keep"))
    val m = df.as[(String, Boolean)].collect().toMap
    assert(m("g") === true)
    assert(m("d") === false)
  }

  test("cosineSimilarity: orthogonal 0, parallel 1") {
    val df = Seq((Array(1f, 0f), Array(0f, 1f), Array(2f, 0f))).toDF("a", "b", "c")
      .select(TF.cosineSimilarity($"a", $"b").as("ab"),
        TF.cosineSimilarity($"a", $"c").as("ac"))
    val r = df.collect().head
    assert(math.abs(r.getDouble(0)) < 1e-9)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-9)
  }

  test("srpBucket: deterministic; identical vectors share buckets") {
    val v = Array.tabulate(8)(i => (i + 1).toFloat)
    val w = Array.tabulate(8)(i => -(i + 1).toFloat)
    val df = Seq(("a", v), ("b", v), ("c", w)).toDF("id", "e")
      .select($"id", TF.srpBucket($"e", 6, 8).as("bkt"))
    val m = df.as[(String, Long)].collect().toMap
    assert(m("a") === m("b"))
    // opposite vector flips every plane sign → complementary bucket
    assert(m("c") === ((~m("a")) & ((1L << 6) - 1)))
  }
}
