package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Adversarial-corpus robustness: the text/LLM family run against a
  * crafted documents table full of the degenerate shapes a 100 TB crawl
  * actually contains — empty docs, whitespace runs, single tokens,
  * pathological repetition, unicode, exact duplicates, kilobyte tokens.
  * The oracle gate proves parity on healthy data; this proves the
  * operators neither crash nor mis-account on the junk tail.
  */
class EdgeCaseSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.build("local[4]", "4")

  /** One-off adversarial corpus staged as a documents.parquet dir. */
  lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_edge")
    d.toFile.deleteOnExit()
    val rows = Seq(
      (0L, "", "en", "empty"),
      (1L, "   ", "en", "empty"),
      (2L, "x", "en", "tiny"),
      (3L, "hello", "en", "tiny"),
      (4L, "a a", "en", "tiny"),
      (5L, ("spam " * 500).trim, "en", "repeat"),
      (6L, "héllo wörld 😀 日本語 テキスト です ここ に ある", "ja", "unicode"),
      (7L, "a  b   c", "en", "gaps"),
      (8L, "the exact same text twice over", "en", "dup"),
      (9L, "the exact same text twice over", "en", "dup"),
      (10L, "z" * 5000, "en", "longtok"),
      (11L, "line one\nline two\ttabbed end", "en", "ctl"),
      (12L, "a perfectly ordinary control document with twelve plain words here now", "en", "normal"))
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    d.toString
  }

  test("document-only registry queries survive the adversarial corpus") {
    // every documents-only operator must execute without throwing; a
    // junk tail in a crawl must never abort the whole pipeline stage
    val docOnly = Seq("dedup_exact", "normalize_text", "token_count",
      "fingerprint", "langid", "quality_score", "quality_gopher",
      "lexical_diversity", "repetition_ngrams", "repetition_profile",
      "doc_length_stats", "vocab_stats", "vocab_coverage", "vocab_overlap",
      "corpus_card", "collocations", "source_unique_grams", "zipf_profile",
      "ngram_counts", "ngram_novelty", "gram_likelihood",
      "bigram_likelihood", "corpus_filter", "pii_scrub",
      "sentence_stats", "lang_mix", "doc_length_outliers",
      "vocab_coverage_curve", "token_budget_plan",
      "cluster_canonical", "dedup_survivors", "dedup_policy_compare",
      "quality_by_dup", "contamination_spans", "pack_len_sweep",
      "char_class_profile", "minhash_band_stats", "length_gini",
      "token_len_profile", "source_lang_matrix", "likelihood_quartiles",
      "vocab_growth_curve", "dup_accumulation_curve",
      "simhash_hamming_profile",
      "langid_margin", "prefix_dup_profile", "minhash_perm_curve")
    for (name <- docOnly) {
      val n = SparkEntry.queries(name)(spark, dir).count()
      assert(n >= 0, s"$name failed on the adversarial corpus")
    }
  }

  test("null text flows through without a crash, with sane accounting") {
    // crawls deliver nulls; the SQL-null semantics must degrade the doc,
    // not the stage
    val d = java.nio.file.Files.createTempDirectory("graft_edge_null")
    d.toFile.deleteOnExit()
    import spark.implicits._
    Seq((0L, Option("a normal document here with words"), "en", "s0"),
        (1L, Option.empty[String], "en", "s0"),
        (2L, Option("another fine document"), "de", "s1"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    val nd = d.toString
    for (name <- Seq("dedup_exact", "normalize_text", "langid",
        "quality_gopher", "corpus_card", "vocab_coverage", "collocations",
        "source_unique_grams", "dedup_minhash_lsh", "decontaminate",
        "curation_pipeline"))
      assert(SparkEntry.queries(name)(spark, nd).count() >= 0,
        s"$name failed on null text")
    // the null doc degrades predictably: its own null-hash identity in
    // exact dedup, absent from the token-derived quality frame, still
    // counted in the card's population
    assert(llm.Dedup.dedupExact(spark, nd).count() == 3)
    assert(llm.TextAnalysis.qualityGopher(spark, nd)
      .filter(col("doc_id") === 1L).count() == 0)
    assert(llm.TextAnalysis.corpusCard(spark, nd)
      .filter(col("source") === "s0").head.getAs[Long]("n_docs") == 2L)
  }

  test("an empty corpus yields empty results, never a crash") {
    // a 0-row partition is routine at 100 TB (a day with no crawl); the
    // whole documents pipeline — including the iterative components
    // loop and the composed curation pipeline — must pass it through
    val empty = {
      val d = java.nio.file.Files.createTempDirectory("graft_edge_mt")
      d.toFile.deleteOnExit()
      Tables.t(spark, dir, "documents").limit(0)
        .coalesce(1).write.parquet(s"$d/documents.parquet")
      d.toString
    }
    for (name <- Seq("dedup_exact", "vocab_coverage", "corpus_card",
        "collocations", "source_unique_grams", "ngram_novelty",
        "dedup_minhash_lsh", "dedup_clusters", "decontaminate",
        "benchmark_leakage", "curation_pipeline",
        "token_len_profile", "source_lang_matrix", "likelihood_quartiles",
        "char_class_profile", "vocab_growth_curve",
        "dup_accumulation_curve", "simhash_hamming_profile",
        "minhash_band_stats", "length_gini"))
      assert(SparkEntry.queries(name)(spark, empty).count() == 0,
        s"$name non-empty on the empty corpus")
  }

  test("accounting closes on the junk tail") {
    val docs = Tables.t(spark, dir, "documents")
    val total = docs.count()
    // the card accounts every doc, including empty and whitespace-only
    val card = llm.TextAnalysis.corpusCard(spark, dir)
    assert(card.agg(sum("n_docs")).head.getLong(0) == total)
    // exact dedup finds exactly the one duplicated text (n_copies = 2)
    val dups = llm.Dedup.dedupExact(spark, dir)
      .filter(col("n_copies") > 1L).collect()
    assert(dups.length == 1 && dups.head.getAs[Long]("n_copies") == 2L)
    // normalize: never longer than raw, and the empty/whitespace docs
    // normalize to the same empty identity
    val nt = llm.TextAnalysis.normalizeText(spark, dir).cache()
    assert(nt.filter(col("norm_len") > col("raw_len")).count() == 0)
    assert(nt.filter(col("doc_id").isin(0L, 1L))
      .select("norm_hash").distinct().count() == 1)
    nt.unpersist()
  }

  test("repetition battery saturates on pure spam and stays in range") {
    val rp = llm.TextAnalysis.repetitionProfile(spark, dir).cache()
    // 500x "spam": 499 identical 2-grams -> dup_frac_2 = 498/499,
    // top_frac_2 = 1.0 exactly (all mass in one gram)
    val spam = rp.filter(col("doc_id") === 5L).head
    assert(spam.getAs[Long]("n_grams_2") == 499L)
    assert(math.abs(spam.getAs[Double]("dup_frac_2") - 498.0 / 499.0) < 1e-12)
    assert(spam.getAs[Double]("top_frac_2") == 1.0)
    assert(spam.getAs[Double]("top_frac_4") == 1.0)
    // short docs are excluded by the >= 4 token floor, not crashed on
    assert(rp.filter(col("doc_id").isin(0L, 2L, 3L, 4L)).count() == 0)
    rp.unpersist()
  }

  test("whitespace runs and unicode tokenize without corruption") {
    // "a  b   c" splits into 6 split-tokens (3 words + 3 empties) — the
    // convention every token op shares; the point is consistency, not
    // linguistic truth
    val vs = llm.TextAnalysis.vocabStats(spark, dir)
      .filter(col("source") === "gaps").head
    assert(vs.getAs[Long]("n_tokens") == 6L)
    // unicode doc: token count equals its space-separated word count and
    // the char count respects codepoint length (emoji are surrogate
    // pairs in the JVM; length() counts code units, consistently with
    // n_chars — pin the two agree rather than a magic number)
    val docs = Tables.t(spark, dir, "documents")
    val uni = docs.filter(col("doc_id") === 6L)
      .select(length(col("text")).cast("long").as("l"), col("n_chars"))
      .head
    assert(uni.getAs[Long]("l") == uni.getAs[Long]("n_chars"))
    // the kilobyte single token flows through quality gates un-split
    val qg = llm.TextAnalysis.qualityGopher(spark, dir)
      .filter(col("doc_id") === 10L).head
    assert(qg.getAs[Long]("n_words") == 1L)
    assert(qg.getAs[Long]("keep") == 0L)
  }

  test("quality_c4: every line and page rule fires on a C4-shaped corpus") {
    // the standard synthetic corpus has no newlines and no punctuation,
    // so C4's literal rules drop everything there (faithful behavior);
    // this staged corpus makes each branch observable
    val d = java.nio.file.Files.createTempDirectory("graft_c4")
    d.toFile.deleteOnExit()
    import spark.implicits._
    val good = "This is a proper first sentence here.\n" +
      "Another complete line with enough words follows.\n" +
      "And one more to clear the three sentence floor."
    val rows = Seq(
      (0L, good, "en", "web"),                                // keep
      (1L, good + "\nvar x = { a: 1 };", "en", "web"),        // brace drop
      (2L, good.replace("here.", "lorem ipsum here."), "en", "web"), // lorem
      (3L, "Too short. Two only.", "en", "web"),              // <3 sentences
      (4L, "no terminal punctuation on this line at all\n" +
        "nor on this second one either", "en", "web"),        // 0 kept lines
      (5L, "Tiny line.\nSmall too.\nThird sentence present.", "en", "web"))
    // doc 5: every line ends terminally but has < 5 words -> 0 kept lines
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    val c4 = llm.TextAnalysis.qualityC4(spark, d.toString).cache()
    def row(id: Long) = c4.filter(col("doc_id") === id).head
    assert(row(0L).getAs[Long]("keep") == 1L)
    assert(row(0L).getAs[Long]("n_kept_lines") == 3L)
    assert(row(1L).getAs[Long]("keep") == 0L &&
      row(1L).getAs[Long]("has_brace") == 1L)
    assert(row(2L).getAs[Long]("keep") == 0L &&
      row(2L).getAs[Long]("has_lorem") == 1L)
    assert(row(3L).getAs[Long]("keep") == 0L &&
      row(3L).getAs[Long]("n_sentences") < 3L)
    assert(row(4L).getAs[Long]("n_kept_lines") == 0L)
    assert(row(5L).getAs[Long]("n_kept_lines") == 0L &&
      row(5L).getAs[Long]("n_sentences") == 3L)
    // char retention accounting: kept_chars sums exactly the kept lines
    assert(row(0L).getAs[Long]("kept_chars") ==
      good.split("\n").map(_.length.toLong).sum)
    c4.unpersist()
  }

  test("customer_spend_deciles: null totals rank last, as the oracle's NTILE") {
    val d = java.nio.file.Files.createTempDirectory("graft_edge_deciles")
    d.toFile.deleteOnExit()
    import spark.implicits._
    // 12 customers: 11 has only a null price, 12 two of them, and 3 one
    // null beside a real price (the sum skips it).
    Seq[(Long, Option[Double])]((1, Some(500.0)), (2, Some(1500.0)),
      (3, Some(250.0)), (3, None), (4, Some(2500.5)), (5, Some(999.99)),
      (6, Some(1000.0)), (7, Some(3000.0)), (8, Some(10.0)),
      (9, Some(750.25)), (10, Some(1750.0)), (11, None), (12, None),
      (12, None))
      .toDF("o_custkey", "o_totalprice")
      .coalesce(1).write.parquet(s"$d/orders.parquet")
    val got = graft.analytics.Analytics.customerSpendDeciles(spark, d.toString)
      .collect().map(r => r.getAs[Long]("decile") -> (
        r.getAs[Long]("n_customers"), Option(r.getAs[java.lang.Double]("min_total")),
        Option(r.getAs[java.lang.Double]("max_total")),
        Option(r.getAs[java.lang.Double]("sum_total")))).toMap
    def t(n: Long, mn: Double, mx: Double, sm: Double) =
      (n, Some(mn), Some(mx), Some(sm))
    // DuckDB's NTILE(10) OVER (ORDER BY total, o_custkey) on these rows:
    // 12 = 2 + 2 + 8 x 1, null totals last (its default null order).
    assert(got == Map(
      1L -> t(2, 10.0, 250.0, 260.0), 2L -> t(2, 500.0, 750.25, 1250.25),
      3L -> t(1, 999.99, 999.99, 999.99), 4L -> t(1, 1000.0, 1000.0, 1000.0),
      5L -> t(1, 1500.0, 1500.0, 1500.0), 6L -> t(1, 1750.0, 1750.0, 1750.0),
      7L -> t(1, 2500.5, 2500.5, 2500.5), 8L -> t(1, 3000.0, 3000.0, 3000.0),
      9L -> ((1L, None, None, None)), 10L -> ((1L, None, None, None))))
  }
}
