package graft

import org.apache.spark.sql.functions._

import graft.operators.SpanDedup

/** [[SpanDedup.exciseCommonSpans]] against planted mid-document
  * duplicates: two docs share an 8-token run buried inside otherwise
  * unique text, so a correct ExactSubstr-style excision removes exactly
  * the shared tokens from BOTH docs and reassembles the unique
  * remainder in original order.
  */
class SpanDedupSpec extends SparkSuite {
  import spark.implicits._

  // shared 8-token span, distinct 9-token contexts around it
  private val shared = "alpha beta gamma delta epsilon zeta eta theta"

  private lazy val docs = Seq(
    (0L, s"doc zero opening words here $shared doc zero closing words"),
    (1L, s"totally different lead in text $shared and a different tail"),
    (2L, "this document shares nothing with the others at all"),
    (3L, "")).toDF("doc_id", "text")

  private lazy val out =
    SpanDedup.exciseCommonSpans(docs, "doc_id", "text", n = 8, maxDocs = 1L)
      .orderBy("doc_id").collect()

  test("shared span excised from both carriers, unique text retained in order") {
    val d0 = out(0)
    assert(d0.getAs[Long]("n_tokens") == 17L)
    assert(d0.getAs[Long]("n_dropped") == 8L)
    assert(d0.getAs[String]("clean_text") ==
      "doc zero opening words here doc zero closing words")
    val d1 = out(1)
    assert(d1.getAs[Long]("n_dropped") == 8L)
    assert(d1.getAs[String]("clean_text") ==
      "totally different lead in text and a different tail")
  }

  test("doc without duplicated spans is untouched; empty doc survives with zeros") {
    val d2 = out(2)
    assert(d2.getAs[Long]("n_dropped") == 0L)
    assert(d2.getAs[String]("clean_text") ==
      "this document shares nothing with the others at all")
    val d3 = out(3)
    assert(d3.getAs[Long]("n_tokens") == 0L)
    assert(d3.getAs[Long]("n_dropped") == 0L)
    assert(d3.getAs[String]("clean_text") == "")
  }

  test("overlapping duplicated spans merge: identical docs lose everything") {
    val twins = Seq(
      (0L, "one two three four five six seven eight nine ten"),
      (1L, "one two three four five six seven eight nine ten")).toDF("doc_id", "text")
    val r = SpanDedup.exciseCommonSpans(twins, "doc_id", "text", n = 8, maxDocs = 1L)
      .orderBy("doc_id").collect()
    // every 8-token span (starts 0..2) is shared → coverage is the
    // union 0..9, the whole doc
    r.foreach { row =>
      assert(row.getAs[Long]("n_tokens") == 10L)
      assert(row.getAs[Long]("n_dropped") == 10L)
      assert(row.getAs[String]("clean_text") == "")
    }
  }

  test("keep-one policy: min-(doc,start) occurrence survives, twins lose theirs") {
    val twins = Seq(
      (0L, "one two three four five six seven eight nine ten"),
      (1L, "one two three four five six seven eight nine ten")).toDF("doc_id", "text")
    val r = SpanDedup.exciseCommonSpans(twins, "doc_id", "text", n = 8, maxDocs = 1L,
        keepFirst = true)
      .orderBy("doc_id").collect()
    // doc 0 holds every span's keeper occurrence → untouched;
    // doc 1's occurrences are all non-keepers → fully excised
    assert(r(0).getAs[Long]("n_dropped") == 0L)
    assert(r(0).getAs[String]("clean_text") ==
      "one two three four five six seven eight nine ten")
    assert(r(1).getAs[Long]("n_dropped") == 10L)
    assert(r(1).getAs[String]("clean_text") == "")
  }

  test("keep-one policy: planted mid-doc duplicate stays in the first carrier only") {
    val r = SpanDedup.exciseCommonSpans(docs, "doc_id", "text", n = 8, maxDocs = 1L,
        keepFirst = true)
      .orderBy("doc_id").collect()
    assert(r(0).getAs[Long]("n_dropped") == 0L)
    assert(r(0).getAs[String]("clean_text") ==
      s"doc zero opening words here $shared doc zero closing words")
    assert(r(1).getAs[Long]("n_dropped") == 8L)
    assert(r(1).getAs[String]("clean_text") ==
      "totally different lead in text and a different tail")
  }

  test("intra-doc de-looping: doubled doc keeps exactly its first copy") {
    val base = "one two three four five six seven eight"
    val looped = Seq((0L, s"$base $base")).toDF("doc_id", "text")
    val r = SpanDedup.exciseIntraDocRepeats(looped, "doc_id", "text", n = 8)
      .collect().head
    // the repeated 8-token span covers 8..15; the 7 junction-straddling
    // spans are rotations that occur once each and stay
    assert(r.getAs[Long]("n_tokens") == 16L)
    assert(r.getAs[Long]("n_dropped") == 8L)
    assert(r.getAs[String]("clean_text") == base)
  }

  test("intra-doc de-looping at n=2: overlapping repeats collapse to the first run") {
    val rep = Seq((0L, "a b a b a b")).toDF("doc_id", "text")
    val r = SpanDedup.exciseIntraDocRepeats(rep, "doc_id", "text", n = 2)
      .collect().head
    // (a b)@0 keeps; every later occurrence of (a b)/(b a) covers 1..5
    assert(r.getAs[String]("clean_text") == "a b")
    assert(r.getAs[Long]("n_dropped") == 4L)
  }

  test("coveredPositions groups into the planted run exactly") {
    // the shared 8-token span covers positions 5..12 in doc 0 and
    // 5..12 in doc 1 — one maximal run of length 8 each
    val cov = SpanDedup.coveredPositions(docs, "doc_id", "text", n = 8, maxDocs = 1L)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(cov.toSet == (for (d <- 0 to 1; p <- 5 to 12) yield (d.toLong, p)).toSet)
  }

  test("within-doc repetition alone does not trip the cross-doc threshold") {
    val rep = Seq(
      (0L, s"$shared $shared"),
      (1L, "unrelated words that never repeat anywhere else ever truly")).toDF("doc_id", "text")
    val r = SpanDedup.exciseCommonSpans(rep, "doc_id", "text", n = 8, maxDocs = 1L)
      .orderBy("doc_id").collect()
    assert(r(0).getAs[Long]("n_dropped") == 0L)
    assert(r(0).getAs[String]("clean_text") == s"$shared $shared")
  }

  test("maximalSpans extends overlapping anchors to the full duplicated run") {
    // a shared 10-token block = three overlapping 8-gram anchors;
    // extension must merge them into ONE maximal span of length 10
    // with the byte-exact text
    val block = s"$shared iota kappa" // 10 tokens
    val two = Seq(
      (0L, s"unique head words $block unique tail words"),
      (1L, s"other intro entirely $block other outro entirely")).toDF("doc_id", "text")
    val spans = SpanDedup.maximalSpans(two, "doc_id", "text", n = 8, maxDocs = 1L)
      .orderBy("doc_id").collect()
    assert(spans.length == 2, "one maximal span per carrier")
    spans.foreach { r =>
      assert(r.getAs[Long]("span_len") == 10L)
      assert(r.getAs[String]("span_text") == block)
      assert(r.getAs[Int]("start0") == 3)
    }
  }

  test("maximalSpans reports disjoint runs separately") {
    val other = "one two three four five six seven eight"
    val two = Seq(
      (0L, s"$shared filler word $other"),
      (1L, s"$other padding tokens also distinct $shared")).toDF("doc_id", "text")
    val spans = SpanDedup.maximalSpans(two, "doc_id", "text", n = 8, maxDocs = 1L)
      .orderBy("doc_id", "start0").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("span_len")))
    assert(spans.toSeq == Seq((0L, 8L), (0L, 8L), (1L, 8L), (1L, 8L)),
      "two 8-token runs per doc, not merged across the gap")
  }

  // ---------------------------------------------------------------
  // Incremental excision (the persisted-census path)

  private lazy val archive = Seq(
    (0L, s"archive one opening words here $shared archive one closing words"),
    (1L, "archive two shares nothing with anything else at all")
  ).toDF("doc_id", "text")

  private lazy val batch = Seq(
    (10L, s"fresh lead in tokens $shared fresh tail"),
    (11L, "a fresh document with entirely novel content throughout"),
    (12L, "")
  ).toDF("doc_id", "text")

  test("incremental excision equals full rebuild restricted to the batch") {
    val census = SpanDedup.spanCensus(archive, "doc_id", "text", n = 8)
    val inc = SpanDedup.exciseAgainstCensus(
        batch, "doc_id", "text", n = 8, maxDocs = 1L, census)
      .orderBy("doc_id").collect().toSeq
    val full = SpanDedup.exciseCommonSpans(
        archive.unionByName(batch), "doc_id", "text", n = 8, maxDocs = 1L)
      .filter(col("doc_id") >= 10L)
      .orderBy("doc_id").collect().toSeq
    assert(inc == full,
      "census probe must reproduce the full-rebuild answer on the batch")
    // and the planted span really was excised via the ARCHIVE census
    assert(inc.head.getAs[Long]("n_dropped") == 8L)
    assert(inc.head.getAs[String]("clean_text") ==
      "fresh lead in tokens fresh tail")
  }

  test("batch-internal duplicates blacklist through the combined count") {
    // span absent from the archive but shared by two batch docs:
    // archive count 0 + batch distinct 2 > maxDocs 1 → excised
    val b2 = Seq(
      (10L, s"first batch context words $shared"),
      (11L, s"$shared second batch context words")).toDF("doc_id", "text")
    val census = SpanDedup.spanCensus(
      Seq((0L, "unrelated archive text entirely")).toDF("doc_id", "text"),
      "doc_id", "text", n = 8)
    val r = SpanDedup.exciseAgainstCensus(
        b2, "doc_id", "text", n = 8, maxDocs = 1L, census)
      .orderBy("doc_id").collect()
    assert(r(0).getAs[Long]("n_dropped") == 8L)
    assert(r(1).getAs[Long]("n_dropped") == 8L)
  }
}
