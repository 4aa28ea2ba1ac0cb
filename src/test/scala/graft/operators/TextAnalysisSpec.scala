package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSpecBase

class TextAnalysisSpec extends GraftSpecBase {
  import spark.implicits._

  /** The composed Spark form the TextQuality kernel replaced — the
    * reference its columns must equal.
    */
  private def composedQuality(df: DataFrame, textCol: String): DataFrame = {
    val t      = col(textCol)
    val toks   = TextAnalysis.tokens(t)
    val nPunct = length(t) - length(regexp_replace(t, "[\\.,;:!\\?]", ""))
    val nUpper = length(t) - length(regexp_replace(t, "[A-Z]", ""))
    val nStop  = size(filter(toks, tk => tk.isInCollection(TextAnalysis.Stopwords)))
    df.withColumn("punct_ratio", round(nPunct.cast("double") / greatest(length(t), lit(1)), 6))
      .withColumn("upper_ratio", round(nUpper.cast("double") / greatest(length(t), lit(1)), 6))
      .withColumn("stopword_ratio", round(nStop.cast("double") / greatest(size(toks), lit(1)), 6))
      .withColumn("len_score",
        when(length(TextAnalysis.normalize(t)).between(100, 5000), lit(1.0)).otherwise(lit(0.0)))
      .withColumn("quality_score", round(
        (col("len_score") + least(col("stopword_ratio") * 4, lit(1.0)) +
          (lit(1.0) - least(col("punct_ratio") * 10, lit(1.0)))) / 3.0, 6))
  }

  /** The composed form the LangPred kernel replaced: per-language marker
    * votes, then the first-match-wins CASE chain.
    */
  private def composedLangId(df: DataFrame, textCol: String): DataFrame = {
    val toks  = TextAnalysis.tokens(col(textCol))
    val langs = TextAnalysis.LangMarkers.map(_._1)
    val withVotes = TextAnalysis.LangMarkers.foldLeft(df) { case (d, (lang, markers)) =>
      d.withColumn(s"votes_$lang", size(filter(toks, tk => tk.isInCollection(markers))))
    }
    val best = langs.zipWithIndex.init.foldRight(lit(langs.last)) { case ((lang, i), acc) =>
      val laterMax = langs.drop(i + 1).map(l => col(s"votes_$l")).reduceLeft(greatest(_, _))
      when(col(s"votes_$lang") >= laterMax, lit(lang)).otherwise(acc)
    }
    withVotes.withColumn("lang_pred", best).drop(langs.map(l => s"votes_$l"): _*)
  }

  private def kernelForm(df: DataFrame): DataFrame =
    TextAnalysis.withLangId(TextAnalysis.withQuality(df, "text"), "text")

  private def composedForm(df: DataFrame): DataFrame =
    composedLangId(composedQuality(df, "text"), "text")

  /** Row-for-row equality, NULLs included, both ways. */
  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.columns.toSeq === b.columns.toSeq)
    assert(a.exceptAll(b).count() === 0, a.exceptAll(b).collect().mkString("\n"))
    assert(b.exceptAll(a).count() === 0, b.exceptAll(a).collect().mkString("\n"))
  }

  // normalized length = Σ token chars + (n − 1): 20 five-char words make 119
  private def words(n: Int, w: String = "abcd ") = w * n
  private val edgeTexts: Seq[(Long, String)] = Seq(
    1L -> null,
    2L -> "",
    3L -> "   ",
    4L -> "\tThe cat, the MAT!\n",
    5L -> " \t\n ",
    6L -> "Ünïcödé Straße ist groß. 的 是 了 在 Ça va? ÉÉÉ",
    7L -> ("x" * 99),                         // 99 normalized chars
    8L -> ("x" * 100),                        // 100: the lower bound
    9L -> ("y" * 5000),                       // 5000: the upper bound
    10L -> ("y" * 5001),
    11L -> (words(20) + "the of and is it a to in"),
    12L -> "der le",                          // de 1 vs fr 1: de wins the tie
    13L -> "le el",                           // fr 1 vs es 1: fr wins
    14L -> "el 的",                           // es 1 vs zh 1: es wins
    15L -> "the der le el 的",                // a five-way tie: en
    16L -> "der der le le le",                // fr has more votes than de
    17L -> "THE Der. le",                     // case folds before the vote
    18L -> ("  lead and trail spaces  " + words(30, "Abc. ")),
    19L -> "a\u00a0b\u2003c",                  // non-ASCII spaces are not \s in Java regex
    20L -> "?!.,;: ;;;..."
  )

  test("quality and language kernels equal the composed Spark form on edge cases and fixture docs") {
    val edges = edgeTexts.toDF("doc_id", "text")
    assertSameRows(kernelForm(edges), composedForm(edges))
    val docs = graft.Tables.documents(spark, sf("sf0.01")).select("doc_id", "text")
    assertSameRows(kernelForm(docs), composedForm(docs))
  }

  test("a NULL text scores NULL ratios, len_score 0, quality 0.333333 and language zh") {
    val r = kernelForm(Seq((1L, null: String)).toDF("doc_id", "text"))
      .select("punct_ratio", "upper_ratio", "stopword_ratio", "len_score", "quality_score", "lang_pred")
      .head()
    assert((0 to 2).forall(r.isNullAt))
    assert(r.getDouble(3) === 0.0)
    assert(r.getDouble(4) === 0.333333)
    assert(r.getString(5) === "zh")
  }

  test("under legacySizeOfNull the kernels count a NULL token array as size(NULL) = -1, like the composed form") {
    val prev = spark.conf.getOption("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val edges = edgeTexts.take(3).toDF("doc_id", "text")
      val kernel = kernelForm(edges)
      assertSameRows(kernel, composedForm(edges))
      assert(kernel.filter(col("doc_id") === 1L).select("stopword_ratio", "lang_pred").as[(Double, String)].head() ===
        ((-1.0, "en")))
    } finally prev.fold(spark.conf.unset("spark.sql.ansi.enabled"))(spark.conf.set("spark.sql.ansi.enabled", _))
  }

  test("normalize collapses whitespace and lowercases") {
    val out = Seq("  Hello   WORLD  ").toDF("t")
      .select(TextAnalysis.normalize(col("t"))).as[String].head()
    assert(out === "hello world")
  }

  test("token stats") {
    val df = TextAnalysis.withTokenStats(Seq((1L, "a bb ccc a")).toDF("doc_id", "text"), "text")
    val r = df.select("n_tokens", "n_chars_norm", "n_distinct_tokens").as[(Long, Long, Long)].head()
    assert(r === ((4L, 10L, 3L)))
  }

  test("language id votes with deterministic tie-break") {
    val df = Seq(
      (1L, "the cat is on the mat"),         // en markers
      (2L, "der hund ist gross und laut"),   // de markers
      (3L, "xyz qqq zzz")                    // no markers anywhere -> first lang wins
    ).toDF("doc_id", "text")
    val out = TextAnalysis.withLangId(df, "text")
      .select("doc_id", "lang_pred").as[(Long, String)].collect().toMap
    assert(out(1L) === "en")
    assert(out(2L) === "de")
    assert(out(3L) === "en")
  }

  test("fingerprint equal iff normalized text equal") {
    val fps = Seq("A  b", "a b", "a c").toDF("text")
      .select(TextAnalysis.fingerprint(col("text"))).as[Long].collect()
    assert(fps(0) === fps(1))
    assert(fps(0) !== fps(2))
  }

  test("confluent wire round-trip and malformed frames") {
    import graft.sources.ConfluentWire
    val df = Seq(Array[Byte](10, 20, 30)).toDF("body")
      .withColumn("framed", ConfluentWire.frame(col("body"), schemaId = 42))
    val r = df.select(
      ConfluentWire.payload(col("framed")).as("p"),
      ConfluentWire.schemaId(col("framed")).as("sid"),
      ConfluentWire.isWellFormed(col("body")).as("raw_ok")
    ).head()
    assert(r.getAs[Array[Byte]]("p").toSeq === Seq[Byte](10, 20, 30))
    assert(r.getAs[Int]("sid") === 42)
    assert(!r.getAs[Boolean]("raw_ok"))   // bare body: wrong magic
  }

  test("custom expressions are callable from SQL via GraftExtensions") {
    assert(spark.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").head().getDouble(0) === 11.0)
    val grams = spark.sql("SELECT graft_word_kgrams(array('a','b','c','d'), 3) AS g")
      .head().getSeq[String](0)
    assert(grams === Seq("a b c", "b c d"))
    val sig = spark.sql("SELECT graft_minhash_sig(array(1L, 2L, 3L)) AS s").head().getSeq[Long](0)
    assert(sig.length === 16 && sig.forall(_ >= 0))
  }

  test("multimodal decode stub emits deterministic features partition-parallel") {
    val docs = graft.Tables.documents(spark, sf())
    val feats = Multimodal.decode(Multimodal.fromDocuments(spark, docs.limit(10)))
    val rows = feats.collect()
    assert(rows.length === 10)
    assert(rows.forall(f => f.n_bytes > 0 && f.checksum > 0 && f.width >= 16))
  }

  test("PII scrub redacts every email/phone/IP and counts them") {
    val df = Seq(
      (1L, "write a@b.io or bob.smith+x@corp.example.org call +555-1234-99 from 192.168.0.1"),
      (2L, "no pii here at all")
    ).toDF("id", "t")
    val out = df.select(
      col("id"),
      TextAnalysis.piiCount(col("t"), TextAnalysis.EmailPattern).as("ne"),
      TextAnalysis.piiCount(col("t"), TextAnalysis.PhonePattern).as("np"),
      TextAnalysis.piiCount(col("t"), TextAnalysis.Ipv4Pattern).as("ni"),
      TextAnalysis.scrubPii(col("t")).as("s")
    ).collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) === 2L)
    assert(out(1L).getLong(2) === 1L)
    assert(out(1L).getLong(3) === 1L)
    val s1 = out(1L).getString(4)
    assert(s1 === "write [EMAIL] or [EMAIL] call [PHONE] from [IP]")
    assert(out(2L).getString(4) === "no pii here at all")
  }

  test("boilerplate score flags the repeated shingle and only it") {
    // "x y z" appears in 3 docs (df>=3 → boilerplate); every other 3-gram
    // is unique to its document
    val docs = Seq(
      (1L, "x y z a b c"),
      (2L, "x y z d e f"),
      (3L, "x y z g h i"),
      (4L, "j k l m n o")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.boilerplateScore(docs, "doc_id", "text", shingleWords = 3, minDocFreq = 3)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // each 6-word doc has 4 distinct 3-grams; docs 1-3 share exactly one
    assert(out(1L) === ((4L, 1L, 0.25)))
    assert(out(2L) === ((4L, 1L, 0.25)))
    assert(out(3L) === ((4L, 1L, 0.25)))
    assert(out(4L) === ((4L, 0L, 0.0)))
  }

  test("canonicalizeUrl lowers host, strips www/fragment/tracking, keeps real params") {
    import spark.implicits._
    val in = Seq(
      "https://WWW.Example.COM/a/1?utm_source=x&ref=y#top",
      "https://example.com/a/1",
      "http://Example.com/b?id=7&utm_campaign=z&page=2",
      "https://example.com/c?utm_medium=m"
    ).toDF("url")
    val out = in.select(TextAnalysis.canonicalizeUrl($"url")).as[String].collect()
    assert(out(0) === "https://example.com/a/1")
    assert(out(1) === "https://example.com/a/1")
    assert(out(2) === "http://example.com/b?id=7&page=2")
    assert(out(3) === "https://example.com/c")
  }

  test("pHash is local: a one-char edit changes few digits, a rewrite changes many") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog " * 6  // > 256 chars
    val in = Seq(
      (1L, base),
      (2L, base.updated(5, 'X').toString),          // one-char edit in block 0
      (3L, base.reverse)                            // full rewrite
    ).toDF("id", "payload")
    val h = in.select($"id", Multimodal.pHashHex($"payload").as("ph"))
    val m = h.as[(Long, String)].collect().toMap
    assert(m(1L).length === 16)
    def dist(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    assert(dist(m(1L), m(2L)) <= 1)
    assert(dist(m(1L), m(3L)) > 3)
    // column-side Hamming agrees with the Scala-side count
    val d = h.as("x").join(h.as("y"), $"x.id" < $"y.id")
      .select(Multimodal.pHashHamming($"x.ph", $"y.ph")).as[Long].collect()
    assert(d.sorted.toSeq === Seq(dist(m(1L), m(2L)), dist(m(1L), m(3L)), dist(m(2L), m(3L))).map(_.toLong).sorted)
  }
}
