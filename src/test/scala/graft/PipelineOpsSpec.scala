package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import graft.ops.Pipeline

/** Corpus-preparation pipeline ops — hand-checked laws on crafted docs
  * (the DuckDB gates sweep corpus ∪ fixtures; this pins the per-op
  * semantics: n-gram edges, distinct-count law, line-vs-page rules,
  * exact stats, mix-weight algebra).
  */
class PipelineOpsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  test("decontam: leak flagged, near-miss clean, within-doc grams count once") {
    import spark.implicits._
    val bench = Seq((1L, "alpha beta gamma delta epsilon zeta"))
      .toDF("b_id", "text")
    val docs = Seq(
      // embeds bench 5-grams "alpha beta gamma delta epsilon" and
      // "beta gamma delta epsilon zeta" — and REPEATS the first one;
      // distinct-per-doc law says n_overlap = 2, not 3
      (10L, "x alpha beta gamma delta epsilon zeta y " +
        "alpha beta gamma delta epsilon"),
      // shares 4 consecutive tokens only — below n, clean
      (11L, "alpha beta gamma delta unrelated tail words here"),
      (12L, "entirely different content with no shared tokens at all"),
      // shorter than n tokens — must not blow up, clean
      (13L, "tiny doc")).toDF("doc_id", "text")
    val got = Pipeline.flagContaminated(docs, bench, "text", n = 5)
      .orderBy("doc_id").collect()
    assert(got(0) === Row(10L, 2, true))
    assert(got(1) === Row(11L, 0, false))
    assert(got(2) === Row(12L, 0, false))
    assert(got(3) === Row(13L, 0, false))
  }

  test("decontam: ngramsCol guards the short-doc descending-sequence trap") {
    import spark.implicits._
    val df = Seq(("a b c", 1)).toDF("text", "i")
    val grams = df.select(Pipeline.ngramsCol("text", 5).as("g"))
      .head().getSeq[String](0)
    assert(grams.isEmpty)
    val tri = df.select(Pipeline.ngramsCol("text", 3).as("g"))
      .head().getSeq[String](0)
    assert(tri === Seq("a b c"))
  }

  test("boilerplate: df >= minDocs trigrams flag sharers, not originals") {
    import spark.implicits._
    val docs = Seq(
      (1L, "click here to subscribe now unique tail one"),
      (2L, "click here to subscribe now unique tail two"),
      (3L, "prefix words click here to subscribe now"),
      (4L, "original text that shares nothing with the others"),
      // shares the PAIR "click here" only — below trigram df
      (5L, "click here once but never the full trigram run"))
      .toDF("doc_id", "text")
    val got = Pipeline.boilerplateNgrams(docs, "text", n = 3, minDocs = 3)
      .orderBy("doc_id").collect()
    // "click here to", "here to subscribe", "to subscribe now" are in
    // docs 1-3 (df = 3); no other trigram reaches df 3
    assert(got(0) === Row(1L, 3, true))
    assert(got(1) === Row(2L, 3, true))
    assert(got(2) === Row(3L, 3, true))
    assert(got(3) === Row(4L, 0, false))
    assert(got(4) === Row(5L, 0, false))
  }

  test("c4: line rules (punct, >=5 words, javascript) and page rules") {
    import spark.implicits._
    val docs = Seq(
      (1L, "One full sentence that ends with a period here.\n" +
        "Second proper sentence keeps the page alive today.\n" +
        "Third sentence rounds out the three-sentence minimum."),
      (2L, "no terminal punctuation on this line\nshort."),
      (3L, "Code page sentence one is fine. var x = { a: 1 }. " +
        "Third sentence present."),
      (4L, "Contains lorem ipsum filler. Second sentence. Third one."),
      (5L, "Please enable javascript to continue browsing now.\n" +
        "This perfectly ordinary sentence has enough words.\n" +
        "Closing sentence also has the required word count."))
      .toDF("doc_id", "text")
    val got = Pipeline.withC4Rules(docs, "text")
      .select("doc_id", "n_lines", "n_kept_lines", "n_sentences",
        "has_brace", "has_lorem", "c4_ok")
      .orderBy("doc_id").collect()
    assert(got(0) === Row(1L, 3, 3, 3, false, false, true))
    // line 1: no punct; line 2 "short.": < 5 words — nothing kept
    assert(got(1) === Row(2L, 2, 0, 1, false, false, false))
    assert(got(2).getBoolean(4) === true)  // has_brace
    assert(got(2).getBoolean(6) === false) // c4_ok
    assert(got(3).getBoolean(5) === true)  // has_lorem
    assert(got(3).getBoolean(6) === false)
    // javascript kills its LINE, not the page
    assert(got(4) === Row(5L, 3, 2, 3, false, false, true))
  }

  test("corpus stats: exact counts on a hand-counted corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat"),
      (2L, "the cat ran far"),
      (3L, "")).toDF("doc_id", "text")
    val got = Pipeline.corpusStats(docs, "text").head()
    assert(got.getLong(0) === 3L)            // n_docs
    assert(got.getLong(1) === 7L)            // total tokens
    assert(got.getLong(2) === 5L)            // vocab: the cat sat ran far
    assert(got.getDouble(3) === 7.0 / 3)     // avg_doc_tokens
    assert(got.getDouble(4) === 5.0 / 7)     // type_token_ratio
  }

  test("packing: chunk law matches the sequential cumsum, any bucketing") {
    import spark.implicits._
    // sparse ids force uneven buckets at parts=3; token counts chosen so
    // a doc straddles a 10-token window boundary
    val docs = Seq(
      (1L, "a b c d"),                // cum 0,  pack 0, off 0
      (5L, "e f g"),                  // cum 4,  pack 0, off 4
      (90L, "h i j k l"),             // cum 7,  pack 0, off 7 (straddles)
      (91L, "m n"),                   // cum 12, pack 1, off 2
      (200L, "o p q r s t u v w x y z a1 b1"), // cum 14, pack 1; 14 toks
      (201L, "tail doc"))             // cum 28, pack 2, off 8
      .toDF("doc_id", "text")
    val got = Pipeline.packSequences(docs, "text", budget = 10, parts = 3)
      .orderBy("doc_id").collect()
    assert(got.map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
      r.getInt(3), r.getBoolean(4))).toSeq === Seq(
      (1L, 4, 0L, 0, false),
      (5L, 3, 0L, 4, false),
      (90L, 5, 0L, 7, false),
      (91L, 2, 1L, 2, false),
      (200L, 14, 1L, 4, true),
      (201L, 2, 2L, 8, false)))
    // single-bucket run must agree with the multi-bucket run exactly
    val one = Pipeline.packSequences(docs, "text", budget = 10, parts = 1)
      .orderBy("doc_id").collect()
    assert(one.toSeq === got.toSeq)
  }

  test("chunking: window law, tail coverage, short/empty docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"),  // n=10: [0,4) [3,7) [6,10)
      (2L, "a b c"),                           // n=3 < max → one chunk
      (3L, "x y z w q"),                       // n=5: [0,4) [3,5)
      (4L, ""))                                // empty → no chunks
      .toDF("doc_id", "text")
    val got = Pipeline.chunkDocuments(docs, "text", maxTokens = 4, overlap = 1)
      .orderBy("doc_id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4)))
    assert(got.toSeq == Seq(
      (1L, 0, 0, 4, "t0 t1 t2 t3"),
      (1L, 1, 3, 4, "t3 t4 t5 t6"),
      (1L, 2, 6, 4, "t6 t7 t8 t9"),
      (2L, 0, 0, 3, "a b c"),
      (3L, 0, 0, 4, "x y z w"),
      (3L, 1, 3, 2, "w q")))
    // every token of doc 1 is covered by at least one window
    val covered = got.filter(_._1 == 1L)
      .flatMap(c => c._3 until (c._3 + c._4)).toSet
    assert(covered == (0 until 10).toSet)
    intercept[IllegalArgumentException](
      Pipeline.chunkDocuments(docs, "text", maxTokens = 4, overlap = 4))
  }

  test("substring dedup: multiplicity law, span union, within-doc repeats") {
    import spark.implicits._
    // k=3. "a b c d" appears in docs 1 and 2 → windows "a b c" and
    // "b c d" are corpus-dups; doc 3 repeats "x y z" INSIDE itself
    // (multiplicity counts, df would not); doc 4 is clean; doc 5 too
    // short for any window.
    val docs = Seq(
      (1L, "a b c d q"),
      (2L, "p a b c d"),
      (3L, "x y z w x y z"),
      (4L, "one two three four"),
      (5L, "hi"))
      .toDF("doc_id", "text")
    val got = Pipeline.dedupSubstrings(docs, "text", k = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getDouble(4)))
    // doc 1: starts 0,1 ("a b c","b c d") → union covers toks 0..3 = 4
    assert(got(0) === ((1L, 5, 2, 4, 4.0 / 5)))
    // doc 2: starts 1,2 → covers toks 1..4 = 4
    assert(got(1) === ((2L, 5, 2, 4, 4.0 / 5)))
    // doc 3: "x y z" at 0 and 4 (count 2 within ONE doc) → covers 6
    assert(got(2) === ((3L, 7, 2, 6, 6.0 / 7)))
    assert(got(3) === ((4L, 4, 0, 0, 0.0)))
    assert(got(4) === ((5L, 1, 0, 0, 0.0)))
  }

  test("substring dedup: overlapping dup windows merge into one span") {
    import spark.implicits._
    // both docs share the full 5-token run → k=3 starts 0,1,2 overlap;
    // union must be 5 tokens, not 9
    val docs = Seq((1L, "v w x y z"), (2L, "v w x y z"))
      .toDF("doc_id", "text")
    val got = Pipeline.dedupSubstrings(docs, "text", k = 3)
      .orderBy("doc_id").collect()
    got.foreach { r =>
      assert(r.getInt(2) === 3)   // starts
      assert(r.getInt(3) === 5)   // union-covered, overlaps merged
      assert(r.getDouble(4) === 1.0)
    }
  }

  test("source mix: α=0.5 algebra — q sums to ~1, rare source upweighted") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i", "big"),   // 9 tokens
      (2L, "j", "small"))                 // 1 token
      .toDF("doc_id", "text", "source")
    val rows = Pipeline.sourceMixWeights(docs, "text")
      .orderBy("source").collect()
    val big = rows.find(_.getString(0) == "big").get
    val small = rows.find(_.getString(0) == "small").get
    assert(big.getLong(2) === 9L && small.getLong(2) === 1L)
    val pB = 0.9
    val pS = 0.1
    val z = math.sqrt(pB) + math.sqrt(pS) // source-asc: big, small
    assert(big.getDouble(3) === pB)
    assert(small.getDouble(3) === pS)
    assert(big.getDouble(4) === math.sqrt(pB) / z)
    assert(small.getDouble(4) === math.sqrt(pS) / z)
    // weight = q / p: the rare source is upsampled, the big one damped
    assert(small.getDouble(5) > 1.0 && big.getDouble(5) < 1.0)
    assert(math.abs(rows.map(_.getDouble(4)).sum - 1.0) < 1e-12)
  }
}
