package graft

import graft.text.CurationOps

/** Unit checks for the curation-signal operators (repetition, TF-IDF
  * top-terms, PII scrub) on hand-computable corpora; the driver
  * hash-checks all three against DuckDB on the real testdata.
  */
class CurationOpsSpec extends SparkSpec {
  import spark.implicits._

  test("repetition: duplicate trigrams counted, unique docs score 0") {
    val docs = Seq(
      (1L, "a b c a b c a b c"), // 7 trigrams: abc bca cab ×-ish, repeats
      (2L, "one two three four five"), // all distinct
      (3L, "x y")) // <3 tokens → absent
      .toDF("doc_id", "text")
    val r = CurationOps.repetitionOf(docs)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    assert(!r.contains(3L))
    assert(r(2L) === ((3L, 3L, 0.0)))
    val (n1, d1, ratio1) = r(1L)
    assert(n1 === 7L) // 9 tokens → 7 trigrams
    assert(d1 === 3L) // "a b c", "b c a", "c a b"
    assert(ratio1 > 0.5)
  }

  test("tfidf: rare term outranks common term; k and order respected") {
    val docs = Seq(
      (1L, "apple apple banana shared"),
      (2L, "banana cherry shared shared"),
      (3L, "shared cherry kiwi kiwi"))
      .toDF("doc_id", "text")
    val rows = CurationOps.tfidfTopTermsOf(docs, k = 2)
      .select("doc_id", "rk", "tok", "tfidf").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    assert(rows.length === 6) // 3 docs × k=2
    // doc 1: apple tf=2 df=1 → 2*(3-1)/1 = 4.0 beats banana (1*(3-2)/2=0.5)
    assert(rows.filter(_._1 == 1L).map(t => (t._3, t._4)).toSeq.take(1) === Seq(("apple", 4.0)))
    // 'shared' df=3 → idf 0 → never in top ranks when a rarer term exists
    assert(!rows.filter(_._1 == 2L).take(1).exists(_._3 == "shared"))
    // rk is dense 1..k per doc
    assert(rows.groupBy(_._1).forall { case (_, rs) => rs.map(_._2).sorted.toSeq == Seq(1L, 2L) })
  }

  test("surprisal: bit-length quantized -log2 p, hand-computed") {
    // vocab: a:2 b:2 c:1, total=5 (bitlen 3); surp a=b=3-2=1, c=3-1=2
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val r = CurationOps.surprisalOf(docs)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
    assert(r(1L) === ((3L, 1.0))) // (1+1+1)/3
    assert(r(2L) === ((2L, 1.5))) // (1+2)/2
    // rarer tokens → strictly higher doc score
    assert(r(2L)._2 > r(1L)._2)
  }

  test("perplexity buckets: tertiles by surprisal, mass conserved, means ordered") {
    // a skewed vocab makes per-doc surprisal hand-checkable: counts
    // common:4 mid:2 rare:1, total 7 (bitlen 3) → surp(common)=3-3=0,
    // surp(mid)=3-2=1, surp(rare)=3-1=2. Doc scores: 1..4 → 0, 5 → 1,
    // 6 → 2; sorted by (surprisal, doc_id) NTILE(3) over 6 rows buckets
    // {1,2},{3,4},{5,6} with means 0, 0, (1+2)/2.
    val docs = Seq(
      (1L, "common"), (2L, "common"), (3L, "common"), (4L, "common"),
      (5L, "mid mid"), (6L, "rare"))
      .toDF("doc_id", "text")
    val b = CurationOps.perplexityBucketsOf(docs)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(b.map(_._1).toSeq === Seq(1, 2, 3))
    assert(b.map(_._2).sum === 6L) // every doc in exactly one bucket
    assert(b.map(_._3).sum === 7L) // token mass conserved
    // means never decrease with bucket rank (tail = least predictable)
    assert(b.map(_._4).toSeq === b.map(_._4).toSeq.sorted)
    assert(b.last._4 === 1.5) // (1 + 2) / 2 for {doc5, doc6}
  }

  test("pii scrub: stamped emails and ips are counted and redacted") {
    val docs = Seq(
      (0L, "plain words here"), // %7 and %11 → both stamped
      (7L, "more words"), // email only
      (11L, "other words"), // ip only
      (5L, "untouched words")) // no stamp → filtered out
      .toDF("doc_id", "text")
    val r = CurationOps.piiScrubOf(CurationOps.piiStamped(docs))
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getString(3))).toMap
    assert(!r.contains(5L))
    assert(r(0L)._1 === 1L && r(0L)._2 === 1L)
    assert(r(7L) === ((1L, 0L, "more words contact <EMAIL>")))
    assert(r(11L) === ((0L, 1L, "other words host <IP>")))
    assert(r(0L)._3 === "plain words here contact <EMAIL> host <IP>")
  }
}
