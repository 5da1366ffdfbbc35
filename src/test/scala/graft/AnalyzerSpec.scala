package graft

import graft.functions.TextAnalysis
import graft.operators.AnalyzerOps
import graft.operators.AnalyzerOps._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** Analyzer chains (VERDICT r3 "What's missing" #3 / SURVEY §7.6):
  * Porter2 stemming vectors, the CJK width+bigram tokenizer, config
  * fidelity of the mapping-JSON parser against the actual reference
  * files, and end-to-end column-pipeline output. The stemmer is gated
  * here rather than in the DuckDB driver gate because DuckDB's `stem()`
  * lives in the fts extension, which the offline sandbox cannot load. */
class AnalyzerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // ---- Porter2 vectors (published algorithm behavior) ----------------------

  test("porter2: plural / -ed / -ing handling (step 1)") {
    val vectors = Map(
      "caresses" -> "caress", "ponies" -> "poni", "ties" -> "tie",
      "cries" -> "cri", "caress" -> "caress", "cats" -> "cat",
      "feed" -> "feed", "agreed" -> "agre", "plastered" -> "plaster",
      "bled" -> "bled", "motoring" -> "motor", "sing" -> "sing",
      "conflated" -> "conflat", "troubled" -> "troubl", "sized" -> "size",
      "hopping" -> "hop", "tanned" -> "tan", "falling" -> "fall",
      "hissing" -> "hiss", "failing" -> "fail", "filing" -> "file",
      "running" -> "run", "hoping" -> "hope")
    vectors.foreach { case (in, want) =>
      assert(TextAnalysis.porterStem(in) == want, s"stem($in)")
    }
  }

  test("porter2: y→i, exceptional forms, protected words") {
    val vectors = Map(
      "happy" -> "happi", "cry" -> "cri", "enjoy" -> "enjoy", "say" -> "say",
      // exceptional forms
      "skis" -> "ski", "skies" -> "sky", "dying" -> "die", "lying" -> "lie",
      "tying" -> "tie", "early" -> "earli", "only" -> "onli",
      // invariants
      "sky" -> "sky", "news" -> "news", "bias" -> "bias", "atlas" -> "atlas",
      // post-1a stop forms
      "inning" -> "inning", "proceed" -> "proceed", "exceed" -> "exceed")
    vectors.foreach { case (in, want) =>
      assert(TextAnalysis.porterStem(in) == want, s"stem($in)")
    }
  }

  test("porter2: derivational suffixes (steps 2-5)") {
    // Expected values are the FULL pipeline's output — step 4 often
    // reduces a step-2/3 result further (digitizer → ize → digit).
    val vectors = Map(
      "relational" -> "relat", "conditional" -> "condit",
      "rational" -> "ration", "valenci" -> "valenc",
      "hesitanci" -> "hesit", "digitizer" -> "digit",
      "radicalli" -> "radic", "differentli" -> "differ",
      "vileli" -> "vile", "analogousli" -> "analog",
      "predication" -> "predic", "operator" -> "oper",
      "feudalism" -> "feudal", "decisiveness" -> "decis",
      "hopefulness" -> "hope", "callousness" -> "callous",
      "formaliti" -> "formal", "sensitiviti" -> "sensit",
      "sensibiliti" -> "sensibl",
      "triplicate" -> "triplic", "electrical" -> "electr",
      "hopeful" -> "hope", "goodness" -> "good",
      "revival" -> "reviv", "allowance" -> "allow", "inference" -> "infer",
      "adjustable" -> "adjust", "replacement" -> "replac",
      "adoption" -> "adopt",
      "activate" -> "activ", "effective" -> "effect",
      "rate" -> "rate", "cease" -> "ceas",
      "generalizations" -> "general")
    vectors.foreach { case (in, want) =>
      assert(TextAnalysis.porterStem(in) == want, s"stem($in)")
    }
  }

  test("porter2: possessives, short tokens, non-letter passthrough") {
    assert(TextAnalysis.porterStem("dog's") == "dog")
    assert(TextAnalysis.porterStem("dogs'") == "dog")
    assert(TextAnalysis.porterStem("by") == "by")
    assert(TextAnalysis.porterStem("a") == "a")
    assert(TextAnalysis.porterStem("x123") == "x123") // non-letter: unchanged
    assert(TextAnalysis.porterStem("東京") == "東京")
  }

  // ---- CJK width fold + bigram tokenizer -----------------------------------

  test("cjk_width: fullwidth ASCII folds, halfwidth katakana composes") {
    assert(TextAnalysis.cjkWidthFold("Ｔｏｗｅｒ１２３") == "Tower123")
    assert(TextAnalysis.cjkWidthFold("ﾀﾜｰ") == "タワー")
    assert(TextAnalysis.cjkWidthFold("ｶﾞｷﾞｳﾞﾊﾟ") == "ガギヴパ")
    assert(TextAnalysis.cjkWidthFold("abc def") == "abc def")
  }

  test("cjk analyzer: CJK runs bigram, words pass through, width folds") {
    assert(TextAnalysis.cjkAnalyze("東京タワーtower 123").toSeq ==
      Seq("東京", "京タ", "タワ", "ワー", "tower", "123"))
    assert(TextAnalysis.cjkAnalyze("Ｔｏｗｅｒ ﾀﾜｰ").toSeq ==
      Seq("tower", "タワ", "ワー"))
    // a lone CJK char stays a unigram
    assert(TextAnalysis.cjkAnalyze("a 中 b").toSeq == Seq("a", "中", "b"))
    assert(TextAnalysis.cjkAnalyze("").toSeq == Seq.empty)
  }

  // ---- mapping-JSON config fidelity ----------------------------------------

  private def refMapping(name: String): String =
    new String(Files.readAllBytes(
      Paths.get(s"/root/reference/conf/mappings/${name}_mapping.json")), "UTF-8")

  /** The english mapping is vendored verbatim as a classpath resource
    * (`graft/english_mapping.json`); cjk and autocomplete are not. */
  private def englishMapping: String = {
    val in = getClass.getResourceAsStream("/graft/english_mapping.json")
    assert(in != null, "graft/english_mapping.json is not on the classpath")
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  test("parsed reference english mapping == built-in english analyzer") {
    val parsed = AnalyzerOps.fromMappingJson(englishMapping)
    assert(parsed.contains("rebuilt_english"))
    val a = parsed("rebuilt_english")
    assert(a.tokenizer == english.tokenizer)
    assert(a.filters == english.filters)
  }

  test("parsed reference cjk mapping == built-in cjk analyzer") {
    val parsed = AnalyzerOps.fromMappingJson(refMapping("cjk"))
    assert(parsed.contains("rebuilt_cjk"))
    val a = parsed("rebuilt_cjk")
    assert(a.tokenizer == "cjk")
    assert(a.filters == cjk.filters)
  }

  test("parsed reference autocomplete mapping == built-in autocomplete") {
    val parsed = AnalyzerOps.fromMappingJson(refMapping("autocomplete"))
    assert(parsed.contains("autocomplete"))
    val a = parsed("autocomplete")
    assert(a.tokenizer == autocomplete.tokenizer)
    assert(a.filters == autocomplete.filters)
  }

  // ---- end-to-end column pipelines ------------------------------------------

  private def analyzeOne(text: String, a: Analyzer): Seq[String] = {
    import spark.implicits._
    Seq(text).toDF("text")
      .select(AnalyzerOps.analyze(col("text"), a).as("toks"))
      .head().getSeq[String](0)
  }

  test("english analyzer chain end-to-end (possessive→lower→stop→keyword→stem)") {
    assert(analyzeOne("The Dog's bones are running; Example KEYWORDS!", english) ==
      Seq("dog", "bone", "run", "example", "keyword"))
    // keyword_marker protects "example" from the stemmer ("examples" is
    // NOT protected — marker matches post-lowercase whole tokens)
    assert(analyzeOne("example examples", english) == Seq("example", "exampl"))
  }

  test("autocomplete analyzer chain end-to-end (lower→edge_ngram 1..20)") {
    assert(analyzeOne("Dog ab", autocomplete) ==
      Seq("d", "do", "dog", "a", "ab"))
    // tokens longer than max_gram stop at 20 prefixes
    val grams = analyzeOne("abcdefghijklmnopqrstuvwxyz", autocomplete)
    assert(grams.size == 20 && grams.last == "abcdefghijklmnopqrst")
  }

  test("edge_ngram with min_gram>1 drops tokens shorter than min_gram (ES semantics)") {
    val a = Analyzer("ac24", "standard", Seq(Lowercase, EdgeNgram(2, 4)))
    // "a" is shorter than min_gram: ES edge_ngram emits NOTHING for it
    // (never a fabricated whole-token gram)
    assert(analyzeOne("A to dogsled", a) ==
      Seq("to", "do", "dog", "dogs"))
  }

  test("cjk analyzer chain end-to-end (width→lower→bigram→stop)") {
    assert(analyzeOne("the 東京タワー www", cjk) ==
      Seq("東京", "京タ", "タワ", "ワー"))
  }

  test("standard analyzer keeps stopwords and apostrophe-internal tokens") {
    assert(analyzeOne("The dog's IS here", standard) ==
      Seq("the", "dog's", "is", "here"))
  }

  // ---- field-level mapping application (x4/x5 support) ----------------------

  test("fieldSpecs parses the reference english mapping's field schema") {
    val specs = AnalyzerOps.fieldSpecs(englishMapping)
    val byPath = specs.map(s => s.path -> s).toMap
    assert(byPath("uri").fieldType == "keyword")
    assert(byPath("uri").analyzer.isEmpty)
    for (p <- Seq("meta.title", "meta.description", "meta.keywords",
        "source.h1", "source.h2", "source.h3", "source.h4", "source.p")) {
      assert(byPath(p).fieldType == "text", p)
      assert(byPath(p).analyzer.contains("english"), p)
      assert(byPath(p).searchAnalyzer.contains("standard"), p)
    }
    // ogimage is text with NO analyzer → ES default (standard)
    assert(byPath("meta.ogimage").fieldType == "text")
    assert(byPath("meta.ogimage").analyzer.isEmpty)
    assert(specs.size == 10)
  }

  test("resolveAnalyzer: field name 'english' resolves to the file's rebuilt_english") {
    val parsed = AnalyzerOps.fromMappingJson(englishMapping)
    val a = AnalyzerOps.resolveAnalyzer(Some("english"), parsed)
    assert(a == parsed("rebuilt_english"))
    // absent analyzer → ES default standard; unknown name → standard
    assert(AnalyzerOps.resolveAnalyzer(None, parsed) == standard)
    assert(AnalyzerOps.resolveAnalyzer(Some("nope"), parsed) == standard)
  }

  test("x4: parsed mapping drives per-field chains (english idx, standard search)") {
    val x4 = AnalyzerOps.analyzedFields(spark, "/root/testdata/sf0.001")
    assert(x4.columns.toSeq == Seq("doc_id", "uri", "title_idx",
      "description_idx", "keywords_idx", "ogimage_idx", "h1_idx", "p_idx",
      "title_search"))
    val r = x4.limit(50).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      // uri is keyword: passes through unanalyzed
      assert(row.getAs[String]("uri").startsWith("http://www."))
      // ogimage (no analyzer) ran standard: lowercased tokens incl. stops
      assert(row.getAs[String]("ogimage_idx").startsWith("http img src"))
      // title_search (standard) keeps stopwords that title_idx (english)
      // drops, and never stems — so it equals the standard chain output
      val t = row.getAs[String]("title_search")
      assert(!t.contains("'"))
    }
    // spot-check: english index chain stems, standard search chain does not
    import spark.implicits._
    val one = Seq((0L, "the tables are merging")).toDF("doc_id", "text")
      .select(
        concat_ws(" ", AnalyzerOps.analyze(col("text"), english)).as("idx"),
        concat_ws(" ", AnalyzerOps.analyze(col("text"), standard)).as("search"))
      .head()
    assert(one.getString(0) == "tabl merg")
    assert(one.getString(1) == "the tables are merging")
  }

  test("x5 golden vectors: every frozen (word, stem) matches the live stemmer") {
    val golden = AnalyzerOps.goldenStems
    assert(golden.size == 558)
    golden.foreach { case (w, st) =>
      assert(TextAnalysis.porterStem(w) == st, s"golden drift at $w")
    }
    // and the golden covers exactly vocabulary × suffix ladder at sf0.001
    val vocab = AnalyzerOps.analyzeStandard(spark, "/root/testdata/sf0.001")
      .select(explode(split(col("tokens"), " ")).as("t"))
      .distinct().collect().map(_.getString(0)).toSet
    val expected = for (t <- vocab; s <- AnalyzerOps.StemSuffixes) yield t + s
    assert(expected.subsetOf(golden.map(_._1).toSet),
      s"vocabulary drifted outside the frozen golden: ${expected.diff(golden.map(_._1).toSet).take(5)}")
  }

  // ---- gated-query smoke over the sf0.001 testdata --------------------------

  test("x1/x2/x3 analyzer queries run and agree on token accounting") {
    val dir = "/root/testdata/sf0.001"
    val x2 = AnalyzerOps.analyzeStandard(spark, dir)
    val x3 = AnalyzerOps.analyzeEnglishStop(spark, dir)
    assert(x2.count() == x3.count() && x2.count() > 0)
    // the stop filter can only remove tokens
    val joined = x2.select(col("doc_id"), col("n_tokens").as("std_n"))
      .join(x3.select(col("doc_id"), col("n_tokens").as("stop_n")), "doc_id")
    assert(joined.filter(col("stop_n") > col("std_n")).count() == 0)
    val x1 = AnalyzerOps.analyzeAutocomplete(spark, dir)
    // edge ngrams expand every token to ≥1 gram
    val j2 = x1.select(col("doc_id"), col("n_grams"))
      .join(x2.select(col("doc_id"), col("n_tokens")), "doc_id")
    assert(j2.filter(col("n_grams") < col("n_tokens")).count() == 0)
  }
}
