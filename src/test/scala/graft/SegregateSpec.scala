package graft

import graft.PayloadOracle.Paragraph
import graft.model.{Doc, Span}
import graft.operators.Segregate
import graft.sources.Wire
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SegregateSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** The representative doc from FIXTURES.md §1 (mirrors fixture J1 +
    * structuredData shape). The paragraph fold must yield paras 1-2 and DROP
    * the trailing paragraph 3 (no final flush, adobe_json.py:33-61). */
  private val j1 = Seq(
    Span("heading", "IN THE HIGH COURT OF DELHI", null, 0),
    Span("text", "1. The plaintiff filed the present suit", null, 1),
    Span("text", "seeking permanent injunction contd", null, 2),
    Span("image", null, "fig_0", 3),
    Span("text", "2. Vide order dated 01.01.2022 the court", null, 4),
    Span("table", null, null, 5),
    Span("text", "3. This trailing paragraph must be dropped", null, 6))

  /** The production W1 fold (the streaming kernel, unfiltered) on spans. */
  private def fold(docId: String, spans: Seq[Span]): Seq[Paragraph] = {
    val arr = Wire.paragraphsArrayData(PayloadOracle.encode(Nil, Some(Doc(docId, spans))), 0, 0)
    (0 until arr.numElements()).map { k =>
      val r = arr.getStruct(k, 4)
      Paragraph(docId, "plain", r.getInt(0), r.getInt(1), r.getUTF8String(2).toString,
        if (r.isNullAt(3)) null else r.getUTF8String(3).toString)
    }
  }

  test("W1 golden: paragraph fold drops the trailing paragraph") {
    val paras = fold("J1", j1)
    assert(paras.map(_.paragraph_number) === Seq(1, 2))
    assert(paras.head.content === "The plaintiff filed the present suit seeking permanent injunction contd")
    assert(paras.head.reference === "1.")
    assert(paras(1).content === "Vide order dated 01.01.2022 the court")
    assert(paras(1).reference === "2.")
    // heading advanced the page counter once before paragraph 1 opened
    assert(paras.map(_.page) === Seq(2, 2))
  }

  test("W1: heading closes an open paragraph without emitting it") {
    val spans = Seq(
      Span("text", "1. first para", null, 0),
      Span("heading", "SECTION", null, 1), // kills the open paragraph
      Span("text", "2. second para", null, 2),
      Span("text", "3. third para", null, 3)) // emits para 2; 3 is dropped (trailing)
    val paras = fold("d", spans)
    assert(paras.map(_.content) === Seq("second para"))
    assert(paras.map(_.paragraph_number) === Seq(1))
  }

  test("W1: non-starter text before any starter is ignored (valid_content gate)") {
    val spans = Seq(
      Span("text", "preamble not numbered", null, 0),
      Span("text", "1. body", null, 1),
      Span("text", "2. next", null, 2))
    val paras = fold("d", spans)
    assert(paras.map(_.content) === Seq("body"))
  }

  test("W1: multi-level reference numeral '1.2.' and spaced '1 .' (adobe_json.py:44-47)") {
    // the reference chain regex ((?:\p{N}+\p{Z}*\.)+) nests only directly
    // ("1.2."); internal spaces sit between digits and dot ("1 .") and are
    // collapsed when building the reference field
    val spans = Seq(
      Span("text", "1.2. nested numbering content here", null, 0),
      Span("text", "2 . spaced dot paragraph", null, 1),
      Span("text", "3. closer", null, 2))
    val paras = fold("d", spans)
    assert(paras.head.reference === "1.2.")
    assert(paras.head.content === "nested numbering content here")
    assert(paras(1).reference === "2.")
    assert(paras(1).content === "spaced dot paragraph")
  }

  test("W1: out-of-order offsets are folded in reading order") {
    val shuffled = scala.util.Random.shuffle(j1)
    assert(fold("J1", shuffled) === fold("J1", j1))
  }

  test("renderings: plain skips tables/images, keeps reading order") {
    val df = Seq(Doc("J1", j1)).toDS.toDF
    val got = df.select(Segregate.renderPlain($"spans").as("r")).as[String].head()
    assert(got === ("IN THE HIGH COURT OF DELHI\n\n1. The plaintiff filed the present suit\n\n" +
      "seeking permanent injunction contd\n\n2. Vide order dated 01.01.2022 the court\n\n" +
      "3. This trailing paragraph must be dropped"))
  }

  test("renderings: nodigits collides docs differing only in digits") {
    val a = Doc("a", Seq(Span("text", "1. order no 4411 issued", null, 0)))
    val b = Doc("b", Seq(Span("text", "1. order no 9922 issued", null, 0)))
    val r = Seq(a, b).toDS.toDF
      .select(Segregate.renderNoDigits($"spans").as("r")).as[String].collect()
    assert(r(0) === r(1))
  }

  test("renderings: marked injects Heading/Paragraph markers (adobe.py:76-93)") {
    val d = Doc("a", Seq(
      Span("heading", "TITLE", null, 0),
      Span("text", "1. starter", null, 1),
      Span("text", "continuation", null, 2)))
    val r = Seq(d).toDS.toDF.select(Segregate.renderMarked($"spans").as("r")).as[String].head()
    assert(r === "[Heading]\nTITLE\n\n[Paragraph]\n1. starter\n\ncontinuation")
  }

  test("P7/P8 filter: keeps by sentences OR content words (defaults 3/30)") {
    val paras = Seq(
      ("p1", "One. Two. Three."),                       // 3 sentences → kept
      ("p2", "Short. Text."),                           // 2 sentences, few words → dropped
      ("p3", ("word " * 31).trim + "."),                // 31 content words → kept
      ("p4", "the a of and to in on for with by")       // all stopwords → dropped
    ).toDF("doc_id", "content")
    val kept = PayloadOracle.sentCountFilter(paras).select("doc_id").as[String].collect().toSet
    assert(kept === Set("p1", "p3"))
  }

  test("sentKeepBytes equals the reference regex filter (property incl. non-ASCII)") {
    // The one production filter against the reference's regexes
    // (PayloadOracle.sentKeepRegex): sentence split on [.!?]+(\s+|$), then
    // lowercased \p{L} tokens not in the stopword list. minWords 1000 leaves
    // the sentence leg alone to decide, so minSents 1-4 pins its exact count.
    val stops = Segregate.Stopwords
    val fixed = Seq(
      "", " ", ".", "...", "a.", "a.b", "a. b", "a.. .b", "a!!x", "a!. \tb",
      "one. two! three? four", ". leading", " . ", "a . b", "tab.\tnext",
      "punct!?. mixed", "end with ws ", "..a..b..", "a.\n\nb.", "¿unicode? sí. ok",
      "the the the", "alpha beta gamma", "word " * 40, "One. Two. Three.", "x.. y",
      "the quick brown fox jumps over the lazy dog " * 4,
      "through further during once own same",
      "extraordinarily long tokens everywhere " * 10,
      "ünïcode wörds ärger " * 12, "mixed ascii ünd unicode the of to " * 8,
      "𐄇 supplementary. Two. Three.", "word𐄇glued " * 35,
      "é", "café. thé. ok.", "  padded  ", "\t\ntabs.\nnew. lines.",
      // İ lowercases to i + U+0307 (a mark, so a token split); ß stays ß
      "İstanbul İNDİA the İ " * 8, "straße ßtraße Maß THE " * 8, "İ. ß. ok.",
      // the regex's $ also matches before a final U+0085/U+2028/U+2029
      "One. Two.\u0085", "a. b.\u2028", "x! y? z.\u2029",
      stops.mkString(" "), (stops.take(20) ++ Seq("contentword")).mkString(" ") * 3)
    // deterministic pseudo-random strings: punct/ws-heavy chars, and
    // stopword/content/non-ASCII tokens. BMP-only: indexing by char would
    // split a supplementary pair into unpaired surrogates, which the JDK
    // encoder turns into '?' — the byte slice would then hold other text
    var h = 5555L
    def next(bound: Int): Int = {
      h = h * 6364136223846793005L + 1442695040888963407L
      Math.floorMod(h, bound.toLong).toInt
    }
    val alphabet = "abc theof .!?üéİß\t\n.\u0085\u2028\u2029"
    val chars = (1 to 400).map(_ => (0 until next(60)).map(_ => alphabet(next(alphabet.length))).mkString)
    val vocab = stops ++ Seq("alpha", "beta", "verylongcontentword", "x", ".", "!", "  ", "\t",
      "İkinci", "Straße", "ß")
    val tokens = (1 to 300).map(_ => (0 until next(60)).map(_ => vocab(next(vocab.length))).mkString(" "))
    for (s <- fixed ++ chars ++ tokens; minSents <- Seq(1, 2, 3, 4); minWords <- Seq(3, 30, 1000)) {
      val want = PayloadOracle.sentKeepRegex(s, minSents, minWords)
      val b = s.getBytes("UTF-8")
      // embed in padding to prove slice offsets are honored
      val padded = ("XX" + s + "YY").getBytes("UTF-8")
      val shown = s.take(80).replace("\n", "\\n").replace("\t", "\\t")
      assert(Segregate.sentKeepBytes(b, 0, b.length, minSents, minWords) === want,
        s"'$shown' ($minSents,$minWords)")
      assert(Segregate.sentKeepBytes(padded, 2, padded.length - 2, minSents, minWords) === want,
        s"padded '$shown' ($minSents,$minWords)")
    }
  }

  test("paragraphsRelational equals the typed fold on adversarial span shapes") {
    // shapes the synthetic corpus does NOT produce: heading mid-paragraph
    // (kills the open para), trailing paragraph, leading-space starter (no
    // reference), multi-level numbering, tables/images interleaved, doc with
    // no starters, empty content after the numeral
    val advDocs = Seq(
      Doc("mid-heading", Seq(
        Span("text", "1. first para", null, 0),
        Span("text", "continues", null, 1),
        Span("heading", "SECTION II", null, 2),
        Span("text", "not opened", null, 3),
        Span("text", "2. second", null, 4),
        Span("text", "3. third (trailing, dropped)", null, 5))),
      Doc("lead-space", Seq(
        Span("text", " 1. leading space starter", null, 0),
        Span("text", "2. closer", null, 1),
        Span("text", "3. tail", null, 2))),
      Doc("multi-level", Seq(
        Span("heading", "H", null, 0),
        Span("text", "1.2. nested", null, 1),
        Span("image", null, "m0", 2),
        Span("table", null, null, 3),
        Span("text", "2 . spaced", null, 4),
        Span("text", "9. end", null, 5))),
      Doc("no-starters", Seq(
        Span("heading", "ONLY", null, 0),
        Span("text", "prose without numbering", null, 1))),
      Doc("empty-content", Seq(
        Span("text", "1.", null, 0),
        Span("text", "2. after empty", null, 1),
        Span("text", "3. tail", null, 2))))
    val adv = advDocs.toDS.toDF
    val rel = Segregate.paragraphsRelational(adv).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3), r.getString(4), r.getString(5))).toSet
    val typed = advDocs.flatMap(d => PayloadOracle.segregateDoc(d.doc_id, "plain", d.spans))
      .map(p => (p.doc_id, p.extractor, p.page, p.paragraph_number, p.content, p.reference)).toSet
    assert(rel === typed)

    // and on the synthetic corpus at small scale
    import graft.sources.SynthConfig
    val cfg = SynthConfig()
    val docs = (0L until 20L).map(c => Doc(s"d$c", SynthOracle.spansOf(cfg, c)))
    val rel2 = Segregate.paragraphsRelational(docs.toDS.toDF).collect()
      .map(r => (r.getString(0), r.getInt(2), r.getInt(3), r.getString(4), r.getString(5))).toSet
    val typed2 = docs.flatMap(d => PayloadOracle.segregateDoc(d.doc_id, "plain", d.spans))
      .map(p => (p.doc_id, p.page, p.paragraph_number, p.content, p.reference)).toSet
    assert(rel2 === typed2)
  }

  test("typed flatMap and relational window variant agree on paragraphs") {
    import graft.sources.SynthConfig
    val cfg = SynthConfig()
    val docs = (0L until 20L).map(c => Doc(s"d$c", SynthOracle.spansOf(cfg, c)))
    val typed = PayloadOracle.paragraphs(docs.toDS).collect()
      .map(p => (p.doc_id, p.paragraph_number, p.content, p.reference, p.page)).toSet

    // relational cross-check (SURVEY.md W1(b)): explode, running sum of
    // starters as para id, drop tables/headings handled via flags
    val exploded = docs.toDS.toDF
      .select($"doc_id", posexplode($"spans").as(Seq("pos", "s")))
      .select($"doc_id", $"s.kind".as("kind"), $"s.text".as("text"), $"s.offset".as("offset"))
      .filter($"kind" =!= "table" && $"kind" =!= "image")
      .withColumn("is_starter",
        ($"kind" === "text" && $"text".rlike(Segregate.StarterRegex)).cast("int"))
      .withColumn("is_heading", ($"kind" === "heading").cast("int"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"offset")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val withIds = exploded
      .withColumn("para_id", sum($"is_starter").over(w))
      .withColumn("heads_before", sum($"is_heading").over(w))
    val maxPara = withIds.groupBy($"doc_id").agg(max($"para_id").as("last_para"))
    val relational = withIds
      .filter($"kind" === "text" && $"para_id" >= 1)
      // a paragraph is broken by a heading if any heading falls inside it:
      // group by (doc, para) keeping only groups whose heading count is
      // constant (no heading mid-para) — the synthetic corpus has headings
      // only before para 1, so filtering suffices for the cross-check
      .groupBy($"doc_id", $"para_id")
      .agg(
        // collect_list after a shuffle has no ordering guarantee — sort by
        // offset inside the agg (same L5 lesson as keep-first everywhere else)
        array_join(transform(array_sort(collect_list(struct($"offset", $"text"))),
          s => s("text")), " ").as("joined"),
        min($"heads_before").as("hb"))
      .join(maxPara, "doc_id")
      .filter($"para_id" < $"last_para") // trailing paragraph dropped
      .withColumn("reference", regexp_extract($"joined", Segregate.ReferenceRegex, 1))
      .withColumn("reference", regexp_replace($"reference", "(?U)\\p{Z}+", ""))
      .withColumn("content", trim(regexp_replace($"joined", Segregate.ReferenceRegex, "")))
      .withColumn("page", $"hb" + 1)
      .select($"doc_id", $"para_id".cast("int"), $"content", $"reference", $"page".cast("int"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3), r.getInt(4)))
      .toSet
    assert(typed === relational)
  }

  test("synth text is ASCII-only: pins the code-point-length DuckDB oracles") {
    // The q_rendering_dedup / q_span_render oracles use DuckDB length()
    // (code points) and '\p{N}' (all Unicode numerals) against the engine's
    // UTF-16-unit sz and BMP-only digit strip (Dedup.isNumberChar). Those
    // agree iff synth text never leaves ASCII — off the BMP, a surrogate
    // pair counts 2 in the engine and 1 in DuckDB, and supplementary-plane
    // numerals strip in the oracle but not the engine (ADVICE r3). This
    // pins the generator contract the oracles rely on.
    val cfg = graft.sources.SynthConfig()
    val texts =
      (0L until 500L).flatMap(i => SynthOracle.spansOf(cfg, i))
        .flatMap(s => Option(s.text)) ++
      graft.sources.Synth.scJudgments(cfg, 300).flatMap(j =>
        Seq(j.diary_number, j.case_number, j.by, j.petitioner.name,
          j.petitioner.advocate, j.respondent.name, j.respondent.advocate,
          j.document_href) ++ j.bench)
    assert(texts.nonEmpty)
    texts.foreach { t =>
      assert(t.forall(_ < 0x80.toChar), s"non-ASCII synth text: '$t'")
    }
  }
}
