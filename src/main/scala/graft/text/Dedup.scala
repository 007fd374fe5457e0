package graft.text

import graft.model.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators (SURVEY.md X-1/X-2; training-data pipeline core):
  * exact (hash-groupBy), n-gram Jaccard, MinHash+LSH banding, and SimHash.
  *
  * Scale posture: exact dedup is one hash aggregate keyed by the md5
  * fingerprint ([[TextOps.fingerprints]] is the standalone fingerprint op),
  * so shuffle keys are 16 bytes regardless of document size. Near-dup
  * avoids the O(n²)
  * pair space via LSH banding: only documents sharing a band bucket are
  * candidate pairs, and exact Jaccard runs on candidates only. The
  * oracle-checked Jaccard query runs UNCAPPED — its shingle equi-join (and
  * the oracle's identical join) never materializes the pair space, so no
  * corpus slice is needed; the LSH path is the variant that also bounds
  * the candidate set under boilerplate-shingle skew.
  */
object Dedup {

  /** Word trigram shingles of the token array column named `t`
    * (guards len < 3; indices are in range by construction). The fused
    * [[graft.functions.GraftNgrams]] loop — bit-identical to the previous
    * `CASE WHEN size(t) >= 3 THEN transform(sequence(0, size(t)-3), i ->
    * concat_ws(' ', t[i], t[i+1], t[i+2])) ELSE array() END`, whose
    * interpreted per-element lambda was the hot frame of every corpus
    * shingle scan (see the expression's scaladoc).
    */
  val shinglesExpr: Column = graft.functions.GraftNgrams.ngrams(col("t"), 3)

  /** Per-doc DISTINCT shingle rows: (doc_id, sh). */
  private def shingleRows(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), explode(shinglesExpr).as("sh"))
      .distinct()

  /** X-1: exact dedup — canonical doc per identical text + duplicate count.
    * Fingerprint-first: the aggregate is KEYED by md5(text), so after
    * map-side combine the exchange carries 16-byte fingerprints plus at most
    * one candidate row per (group, map partition) — never every byte of the
    * corpus as a grouping key. The canonical row (min doc_id and its text)
    * rides the partial aggregate as a min-struct, so no second scan or join
    * is needed to resolve the text. An md5 collision would merge two
    * distinct texts — negligible below ~2^64 docs (the standard
    * fingerprint-dedup trade), and the oracle, which groups by RAW text,
    * would flag one on the checked corpora.
    */
  def exactDedup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(md5(col("text").cast("binary")).as("fp"))
      .agg(min(struct(col("doc_id"), col("text"))).as("canon"), count(lit(1)).as("n_copies"))
      .select(col("canon.doc_id").as("doc_id"), col("n_copies"), col("canon.text").as("text"))
      .orderBy("doc_id")

  val exactDedupSql: String =
    """SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_copies, text
      |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin

  /** Hot-shingle guard for the direct Jaccard join: a shingle appearing in
    * more than this many DOCUMENTS is boilerplate (headers, license
    * blocks, templated markup) and is dropped from the shingle universe —
    * sizes and intersections both, identically in Spark and the oracle,
    * so the metric stays well-defined ("Jaccard over non-boilerplate
    * shingles", standard near-dup practice: a shingle shared by
    * thousands of documents carries no duplication signal). Without it
    * the shingle equi-join is quadratic per distinct value: one trigram
    * shared by 100k docs yields 10^10 join rows — the first query to
    * blow up at 100 TB (round-5 verdict). The df aggregate is map-side
    * combined (no hot-key task), and the hot list is tiny by construction
    * (boilerplate values only), so the anti-join broadcasts under AQE.
    */
  val MaxShingleDf = 256L

  /** X-2 (oracle-checkable form): n-gram Jaccard near-dup pairs over an
    * arbitrary `doc_id`+`text` corpus. inter/union counted via a shingle
    * equi-join — never a cross join — with shingles df-capped at
    * `maxShingleDf` ([[MaxShingleDf]]). (An earlier doc_id < 200 cap,
    * meant to bound a quadratic oracle that doesn't exist, made the sf0.1
    * result EMPTY — the testdata's planted near-dup pairs span the full
    * id space, so a prefix slice checks nothing at larger SFs. The df
    * cap, unlike that slice, binds only pathological shingles: the check
    * bites at every SF.)
    */
  def jaccardPairsOf(
      docs: DataFrame,
      minJaccard: Double = 0.4,
      maxShingleDf: Long = MaxShingleDf): DataFrame =
    jaccardFromInter(jaccardInterOf(docs, maxShingleDf), minJaccard)

  /** The threshold-INDEPENDENT core of [[jaccardPairsOf]]: every
    * d1 < d2 pair sharing at least one kept shingle, with the intersect
    * size and both set sizes — all the sweep/recall/pair consumers need;
    * the Jaccard threshold is a post-filter ([[jaccardFromInter]]). Split
    * out so the expensive part (shingle scan, df cap, per-doc aggregate,
    * self-join, pair aggregate) has ONE definition and can be memoized
    * across consumers that differ only in threshold.
    */
  private def jaccardInterOf(
      docs: DataFrame,
      maxShingleDf: Long = MaxShingleDf): DataFrame =
    // Shingle identity is the 60-bit md5-derived hash (TextOps.md5Hash60)
    // rather than the string: 8-byte join/shuffle keys instead of ~25-byte
    // trigram strings, the same identity the minhash verification arrays
    // use. A within-doc collision merges two shingles IDENTICALLY in both
    // engines (the oracle hashes with the same formula), so the check
    // stays exact; vs. true string-Jaccard the error is ~2^-60 per pair.
    jaccardInterFromHashed(
      shingleRowsMulti(docs)
        .select(col("doc_id"), TextOps.md5Hash60(col("sh")).as("h")),
      maxShingleDf)

  /** [[jaccardInterOf]] from pre-hashed multiset shingle rows
    * `(doc_id, h[, …])` — the entry point the memoized shared shingle
    * frame ([[shingleHashedPinned]]) feeds, so the corpus scan + md5 pass
    * has ONE materialization across the jaccard AND minhash pair builds.
    */
  private def jaccardInterFromHashed(
      hashedRows: DataFrame,
      maxShingleDf: Long): DataFrame = {
    val sh = hashedRows.select(col("doc_id"), col("h")).distinct()
    val hot = sh.groupBy("h").agg(count(lit(1)).as("df"))
      .where(col("df") > maxShingleDf)
      .select("h")
    // kept is NOT persisted: hot and perDoc both hang off the distinct's
    // exchange (ReusedExchange), and everything downstream is a single
    // linear chain — no branch recomputes it.
    val kept = sh.join(hot, Seq("h"), "left_anti")
    // ONE doc_id-keyed aggregation carries the per-doc size alongside the
    // shingle set; explode re-derives the rows with n attached, so the
    // former sizes relation and its two post-aggregation joins vanish
    // from the plan (ADVICE r6: the 3-branch kept reuse was the bench
    // suspect). The collect_list buffer is bounded by document length —
    // the same per-doc envelope minhashPairsOf's collect_set already uses.
    val perDoc = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), collect_list(col("h")).as("hs"))
    val rows = perDoc.select(col("doc_id"), col("n"), explode(col("hs")).as("h"))
    // self-join canonicalizes identically on both sides → one exchange,
    // reused. min(n) is exact: n is constant within a (d1,d2) group.
    rows.as("a")
      .join(rows.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("i"), min(col("a.n")).as("n1"), min(col("b.n")).as("n2"))
  }

  private def jaccardFromInter(inter: DataFrame, minJaccard: Double): DataFrame = {
    val jac = col("i").cast("double") /
      (col("n1").cast("double") + col("n2").cast("double") - col("i").cast("double"))
    inter
      .where(jac >= minJaccard)
      .select(col("d1"), col("d2"), round(jac, 6).as("jaccard"))
      .orderBy("d1", "d2")
  }

  /** Memoized [[jaccardInterOf]] over the documents table, per
    * (SparkContext, sfDir): x2_jaccard_pairs (threshold 0.4), t_lsh_recall
    * ([[MinhashThreshold]]) and t_threshold_sweep ([[SweepThresholds]]
    * floor) all run the IDENTICAL intersect pipeline and differ only in
    * the post-filter, so one materialized build serves all three. Same
    * contract as the other substructure caches (checkpointed plan
    * references, immutable sf dirs, [[clearPairCaches]] escape hatch).
    */
  def clearPairCaches(): Unit = {
    graft.util.Memo.clear("jaccardInter"); graft.util.Memo.clear("minhashPairs")
  }

  // NOTE (round 21): a shared memoized (doc_id, h, h2m) shingle frame that
  // jaccardInter, minhashPairs AND neardupBase all read (VERDICT r20 item
  // 1's last sub-item) was BUILT AND MEASURED this round — and reverted:
  // with round-20's fused GraftMd5Halves the scan+hash pass is so cheap
  // that the checkpoint's block-manager round-trip (multiset rows ×
  // ~25 B, h2m dead weight on the jaccard side) cost MORE than the saved
  // recomputation. Isolated family bench, same window: jaccardInter
  // 3.0→2.9 s but neardupBase 0.74→1.9 s and minhashPairs 1.26→1.8 s with
  // a 0.55 s shingleHashed build on top — family Σ 5.0→7.1 s. The r20
  // "deliberately left" call stands, now with numbers.
  private def jaccardInter(spark: SparkSession, sfDir: String): DataFrame =
    graft.util.Memo.cached("jaccardInter", spark, sfDir)(
      jaccardInterOf(Tables.documents(spark, sfDir)).localCheckpoint(true))

  /** Memoized [[minhashPairsOf]] at the pinned [[MinhashThreshold]] over
    * the documents table — shared by x2_minhash_pairs and t_lsh_recall.
    */
  private def minhashPairsPinned(spark: SparkSession, sfDir: String): DataFrame =
    graft.util.Memo.cached("minhashPairs", spark, sfDir)(
      minhashPairsOf(Tables.documents(spark, sfDir), MinhashThreshold)
        .localCheckpoint(true))

  def jaccardPairs(spark: SparkSession, sfDir: String): DataFrame =
    jaccardFromInter(jaccardInter(spark, sfDir), 0.4)

  /** Generated DuckDB CTE chain re-deriving [[jaccardPairsOf]] over an
    * arbitrary source relation `src` (needs `doc_id`, `text`), ending in
    * `{p}pairs(d1, d2, jaccard)` — raw-ratio threshold, jaccard rounded
    * to 6 places, same df cap. One generator feeds the standalone oracle
    * AND the composed oracles (LSH recall, threshold sweep), so the SQL
    * cannot drift from the single Spark-side definition — the
    * [[minhashPairsCtes]] discipline applied to the exact path.
    */
  def jaccardPairsCtes(src: String, minJaccard: Double, p: String = "jp_"): String =
    s"""${p}toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM $src),
       |${p}shm AS (
       |  SELECT doc_id,
       |         unnest(list_transform(range(1, len(t) - 1),
       |                               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
       |  FROM ${p}toks WHERE len(t) >= 3),
       |${p}sh AS (SELECT DISTINCT doc_id, ${TextOps.md5Hash60Sql("sh")} AS h FROM ${p}shm),
       |${p}hot AS (SELECT h FROM ${p}sh GROUP BY h HAVING COUNT(*) > $MaxShingleDf),
       |${p}kept AS (SELECT doc_id, h FROM ${p}sh WHERE h NOT IN (SELECT h FROM ${p}hot)),
       |${p}sz AS (SELECT doc_id, COUNT(*) AS n FROM ${p}kept GROUP BY doc_id),
       |${p}inter AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
       |  FROM ${p}kept a JOIN ${p}kept b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |${p}pairs AS (
       |  SELECT d1, d2,
       |         ROUND(CAST(i AS DOUBLE) / (CAST(s1.n AS DOUBLE) + CAST(s2.n AS DOUBLE) - CAST(i AS DOUBLE)), 6) AS jaccard
       |  FROM ${p}inter
       |  JOIN ${p}sz s1 ON d1 = s1.doc_id
       |  JOIN ${p}sz s2 ON d2 = s2.doc_id
       |  WHERE CAST(i AS DOUBLE) / (CAST(s1.n AS DOUBLE) + CAST(s2.n AS DOUBLE) - CAST(i AS DOUBLE)) >= $minJaccard)""".stripMargin

  val jaccardPairsSql: String =
    s"""WITH ${jaccardPairsCtes("documents", 0.4)}
       |SELECT d1, d2, jaccard FROM jp_pairs ORDER BY d1, d2""".stripMargin

  /** Benchmark decontamination — the eval-hygiene pass every training
    * pipeline runs before a model ships: flag TRAIN documents sharing any
    * word-trigram with the EVAL set (here: doc_id >= 280 plays the held-out
    * benchmark). One semi-ish shingle equi-join: the eval shingle set is
    * tiny and broadcast, so at 100 TB this is a map-side probe per train
    * shingle — no pair space, no shuffle of the train corpus. Output is the
    * contamination report (which train docs overlap, by how many distinct
    * shingles) that decides drop-vs-keep.
    */
  def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).where(col("doc_id") < 300)
    decontaminateOf(docs.where(col("doc_id") < 280), docs.where(col("doc_id") >= 280))
  }

  /** Contamination report for arbitrary train/eval corpora (each with
    * `doc_id`, `text`). The train side is the MULTISET shingle stream — no
    * pre-dedup shuffle of the whole corpus; the broadcast probe filters
    * first and only the (tiny) matched rows pay the distinct aggregation.
    */
  def decontaminateOf(train: DataFrame, eval: DataFrame): DataFrame =
    shingleRowsMulti(train)
      .join(broadcast(shingleRows(eval).select(col("sh")).distinct()), "sh")
      .groupBy("doc_id")
      .agg(countDistinct(col("sh")).as("n_shared_shingles"))
      .orderBy("doc_id")

  val decontaminateSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id < 300),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |         unnest(list_transform(range(1, len(t) - 1),
      |                               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      |  FROM toks WHERE len(t) >= 3),
      |ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id >= 280)
      |SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_shingles
      |FROM sh s JOIN ev ON s.sh = ev.sh
      |WHERE s.doc_id < 280
      |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin

  /** The eval-side view of decontamination — per BENCHMARK doc, how
    * compromised is it: how many train docs share at least one of its
    * trigram shingles, and how many of its distinct shingles appear
    * anywhere in the train corpus. [[decontaminateOf]] answers "which
    * train docs to drop"; this answers "which eval items stop measuring
    * generalization" — the leaderboard-integrity report a benchmark owner
    * runs against a training corpus. Same pinned slices as
    * `t_decontaminate` (train ids < 280, eval 280–299), so the two reports
    * describe the same overlap from both ends.
    *
    * Shape at 100 TB: identical to decontamination — the eval shingle set
    * broadcasts (eval benchmarks are fixed-size; see [[decontaminateOf]]),
    * the train corpus streams through the probe once, and the aggregate is
    * keyed by eval doc: n_eval_docs × 2 counters of state. The
    * count-distincts are over (eval_id, train_id) and (eval_id, shingle)
    * pairs that SURVIVED the broadcast probe — contamination-sized, not
    * corpus-sized.
    */
  def evalOverlapOf(train: DataFrame, eval: DataFrame): DataFrame =
    shingleRows(eval)
      .select(col("doc_id").as("eval_id"), col("sh"))
      .join(shingleRowsMulti(train).select(col("doc_id").as("train_id"), col("sh")), "sh")
      .groupBy("eval_id")
      .agg(
        countDistinct(col("train_id")).as("n_train_docs"),
        countDistinct(col("sh")).as("n_shared_shingles"))
      .orderBy("eval_id")

  def evalOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).where(col("doc_id") < 300)
    evalOverlapOf(docs.where(col("doc_id") < 280), docs.where(col("doc_id") >= 280))
  }

  val evalOverlapSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id < 300),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |         unnest(list_transform(range(1, len(t) - 1),
      |                               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      |  FROM toks WHERE len(t) >= 3),
      |tr AS (SELECT doc_id AS train_id, sh FROM sh WHERE doc_id < 280),
      |ev AS (SELECT doc_id AS eval_id, sh FROM sh WHERE doc_id >= 280)
      |SELECT e.eval_id, CAST(COUNT(DISTINCT t.train_id) AS BIGINT) AS n_train_docs,
      |       CAST(COUNT(DISTINCT e.sh) AS BIGINT) AS n_shared_shingles
      |FROM ev e JOIN tr t ON e.sh = t.sh
      |GROUP BY e.eval_id ORDER BY e.eval_id""".stripMargin

  // ---- MinHash + LSH banding (the 100 TB near-dup path) ----
  //
  // Hash family is md5-derived — engine-portable by construction, so the
  // ENTIRE pipeline (seeded signatures, band buckets, hot-bucket cap, exact
  // verification) is reproducible in DuckDB and `x2_minhash_pairs` is
  // HASH-checked against [[minhashPairsSql]], the same upgrade SimHash got
  // in round 4. The 32 seeds are Kirsch–Mitzenmacher double hashing —
  // `g_i = (h1 + i·h2') mod 2^60` over the TWO 60-bit halves of ONE md5
  // digest per shingle — so the per-shingle cost is a single md5 plus 32
  // codegen'd long multiply-add-mods (the previous family re-md5'd every
  // (shingle, seed) pair: 33 string hashes per shingle row; measured 9.4 s
  // → this scheme removes ~97% of the hashing). Minwise uniformity of the
  // double-hash family is the standard bloom-filter/minhash result; band
  // recall only picks CANDIDATES — exact Jaccard verification decides.

  val NumHashes = 32
  val BandSize = 4 // 8 bands of 4 → catches Jaccard ≳ 0.5 with high prob.

  /** 2^60 — the seeded-hash modulus (keeps values positive in a signed
    * BIGINT in both engines, like [[TextOps.md5Hash60]]). Shared with the
    * fused scan-side expression ([[graft.functions.GraftMinhash]]) — one
    * definition, so batch and row paths cannot drift.
    */
  private val SeedMod = graft.functions.GraftMinhash.SeedMod
  /** 2^55 — h2 is masked below this so `31·h2' + h1 < 2^61` never
    * overflows a signed 64-bit long in EITHER engine (DuckDB BIGINT
    * overflow is an error, not a wrap — the arithmetic must stay exact).
    */
  private val SeedMask = graft.functions.GraftMinhash.SeedMask

  /** Seed `i` of the double-hash family: `(h1 + i·h2') mod 2^60`, all
    * operands non-negative and bounded, so `%` is identical in Spark and
    * DuckDB ([[seededHashSql]]). Seed 0 is h1 itself — the classic
    * `g_i = h1 + i·h2` family includes it.
    */
  private def seededHash(h1: Column, h2m: Column, seed: Int): Column =
    (h1 + lit(seed.toLong) * h2m) % lit(SeedMod)

  private def seededHashSql(seed: Int): String =
    s"(h + $seed * h2m) % $SeedMod"

  /** Per-doc shingle rows WITHOUT the distinct — for min-aggregations the
    * multiset and the set give identical results (min is idempotent), so
    * the (doc_id, sh) dedup shuffle is pure waste on the signature path:
    * explode → ONE shuffle with map-side partial mins.
    */
  private def shingleRowsMulti(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), explode(shinglesExpr).as("sh"))

  /** Per-shingle-row (doc_id, h, h2m): ONE md5 per shingle, split into its
    * two 60-bit halves — `h` (digest's top 60 bits, identical to
    * [[TextOps.md5Hash60]], also the exact-verification key) and the
    * masked `h2m` (next 60 bits mod 2^55) that seeds the double-hash
    * family. Both halves come from one fused digest
    * ([[graft.functions.GraftMd5Halves]] — bit-identical to the previous
    * hex-substring/`conv` pair, see its scaladoc); the struct lands in
    * its own projection so CollapseProject keeps the single computation.
    */
  private def shingleHashed(docs: DataFrame): DataFrame =
    shingleRowsMulti(docs)
      .withColumn("hh", graft.functions.GraftMd5.halves(col("sh")))
      .select(col("doc_id"), col("hh.h").as("h"), col("hh.h2m").as("h2m"))

  /** 32 seeded minhash values per doc: one md5 per shingle row, 32
    * double-hash derivations ([[seededHash]]) folded into min-aggregates.
    * Linear in corpus size, no pair blowup, no per-seed re-hash.
    */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    val sh = shingleHashed(docs)
    val aggs = (0 until NumHashes)
      .map(i => min(seededHash(col("h"), col("h2m"), i)).as(s"mh$i"))
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  // ---- scan-side (per-row) minhash — the streaming-safe construction ----

  /** Per-ROW minhash signature as `array<long>` of [[NumHashes]] values —
    * NO aggregation, NO shuffle: a document's shingles all live in its own
    * row, so the signature is a pure projection (the insight that makes
    * minhash computable inside a Structured Streaming stage, where a
    * corpus-keyed groupBy would be unbounded state). Same hash family as
    * [[minhashSignatures]] — one md5 per shingle, [[NumHashes]] double-hash
    * derivations folded into running minima, all fused into ONE codegen'd
    * loop ([[graft.functions.GraftMinhash]]; its scaladoc carries the
    * bit-parity argument against the four-level HOF composition it
    * replaced, which NgramsSpec also pins test-side). Docs with no
    * shingles (< 3 tokens) yield NULL. DedupSpec asserts bit-parity with
    * the aggregated batch signature.
    */
  def rowMinhashSig(text: Column): Column =
    graft.functions.GraftMinhash.minhash(split(text, " "), 3, NumHashes)

  /** Per-ROW LSH band keys for [[rowMinhashSig]]: one string key per band,
    * `band ':' md5hex(mh..mh)` — docs agreeing on ALL [[BandSize]] hashes
    * of some band share that band's key (the same banding rule as the
    * batch (band, bucket) join key, folded into one string because
    * streaming dedup wants a single column). A NULL signature (< 3
    * tokens) falls back to `band ':uniq:' <uniq>` — with a per-document
    * `uniq` (e.g. the text fingerprint) shingle-less docs never cross-match
    * as near-dups, while exact re-crawls still collide on the fingerprint.
    *
    * Fused ([[graft.functions.GraftBandKeys]], round 21) — bit-identical
    * to the previous composition (its scaladoc carries the clause-by-
    * clause argument; NgramsSpec pins it against the verbatim rebuild):
    *
    *   transform(sequence(0, NumHashes/BandSize - 1), b ->
    *     when(sig.isNull, concat(b, ':uniq:', uniq))
    *       .otherwise(concat(b, ':',
    *         md5(concat_ws(':', transform(slice(sig, b*BandSize + 1,
    *           BandSize), v -> cast(v as string))).cast(binary)))))
    */
  def rowBandKeys(sig: Column, uniq: Column): Column =
    graft.functions.GraftBandKeys.bandKeys(sig, uniq, NumHashes, BandSize)

  /** LSH banding: hash each band of 4 minhashes to a bucket; docs sharing
    * any (band, bucket) become candidate pairs; exact Jaccard verifies.
    * This is the join-on-bucket pattern that replaces the O(n²) self-join:
    * at 1000 executors the bucket join shuffles only (band, bucket) keys.
    */
  def minhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    minhashPairsPinned(spark, sfDir)

  /** Skew guard for banded candidate joins: a band bucket holding more than
    * this many docs (boilerplate-heavy corpora — headers, license blocks,
    * templated pages hash to ONE bucket) would go locally quadratic in the
    * candidate join. Buckets are capped to their bottom-`MaxBandBucket`
    * members by doc id (deterministic; `WindowGroupLimit` keeps ≤cap rows
    * per bucket map-side, so oversized buckets never even cross the
    * exchange whole). The cap trades recall ONLY inside pathological
    * buckets — a 4096-member bucket is boilerplate, not near-duplication
    * signal, and its survivors still pair with each other. Checked-corpus
    * buckets are far below the default cap, so oracle results are
    * unaffected; DedupSpec drives an adversarial hot-bucket corpus through
    * a tiny cap to prove the candidate count is bounded.
    */
  val MaxBandBucket = 4096

  /** MinHash+LSH near-dup pairs for an arbitrary `doc_id`+`text` corpus at
    * the given exact-Jaccard threshold. `maxBucketSize` is the hot-bucket
    * cap ([[MaxBandBucket]]).
    */
  def minhashPairsOf(
      docs: DataFrame,
      threshold: Double,
      maxBucketSize: Int = MaxBandBucket): DataFrame =
    minhashPairsFromPerDoc(lshPerDoc(docs), threshold, maxBucketSize)

  /** [[minhashPairsOf]] WITHOUT the final global (d1, d2) sort — for
    * set-semantics consumers (the curation funnel's pairwise drop /
    * component closure, which only ever `distinct`/graph-fold the pairs).
    * The sort is presentation order for the declared pair QUERY; inside
    * the funnel it cost a full range-partition exchange + sort of the
    * pair set per run (and the pinned-funnel memo materialized it into
    * its checkpoint) for an order no consumer reads. Same rows, no order
    * contract.
    */
  def minhashPairsUnorderedOf(
      docs: DataFrame,
      threshold: Double,
      maxBucketSize: Int = MaxBandBucket): DataFrame =
    minhashPairsFromPerDoc(lshPerDoc(docs), threshold, maxBucketSize, ordered = false)

  /** [[minhashPairsOf]] from a prebuilt [[lshPerDoc]] frame — the entry
    * point the memoized shared shingle frame feeds.
    */
  private def minhashPairsFromPerDoc(
      perDoc: DataFrame,
      threshold: Double,
      maxBucketSize: Int,
      ordered: Boolean = true): DataFrame = {
    // bucket join on ids only (NOT the hs arrays — 8 bands would shuffle 8
    // copies of every doc's shingle hashes); arrays are fetched afterwards,
    // one copy per surviving candidate side
    val buckets = lshBuckets(perDoc, maxBucketSize)
    val candidates = buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    // exact Jaccard = |A∩B| / |A∪B| via array_intersect on the 64-bit hash
    // sets (collision-safe at any realistic corpus size); perDoc's single
    // aggregation feeds the buckets AND both array fetches (ReusedExchange)
    val hs = perDoc.select(col("doc_id"), col("hs"))
    val pairs = candidates
      .join(hs.withColumnRenamed("doc_id", "dd1").withColumnRenamed("hs", "h1"), col("d1") === col("dd1"))
      .join(hs.withColumnRenamed("doc_id", "dd2").withColumnRenamed("hs", "h2"), col("d2") === col("dd2"))
    val i = size(array_intersect(col("h1"), col("h2"))).cast("double")
    val jac = i / (size(col("h1")).cast("double") + size(col("h2")).cast("double") - i)
    val out = pairs
      .where(jac >= threshold)
      .select(col("d1"), col("d2"), round(jac, 6).as("jaccard"))
    if (ordered) out.orderBy("d1", "d2") else out
  }

  /** Per-doc LSH state in ONE pass over the shingle rows: the sorted
    * distinct shingle-hash array (`hs`, the exact-verification side) plus
    * the [[NumHashes]] seeded minhash minima — the min-aggs don't need
    * distinct (idempotent) and collect_set dedupes inline, so no second
    * shingle scan and no candidate⋈shingles double join. Shared by the
    * self-join pair query ([[minhashPairsOf]]) and the cross-corpus delta
    * probe ([[minhashCrossPairsOf]]).
    */
  private def lshPerDoc(docs: DataFrame): DataFrame =
    lshPerDocHashed(shingleHashed(docs))

  /** [[lshPerDoc]] from pre-hashed shingle rows `(doc_id, h, h2m)`. */
  private def lshPerDocHashed(shm: DataFrame): DataFrame = {
    // seeded minhashes derive from the single md5 digest (see
    // minhashSignatures) — its `h` half also feeds the verification arrays
    val minAggs = (0 until NumHashes)
      .map(i => min(seededHash(col("h"), col("h2m"), i)).as(s"mh$i"))
    shm.groupBy("doc_id")
      .agg(array_sort(collect_set(col("h"))).as("hs"), minAggs: _*)
  }

  /** Capped (doc_id, band, bucket) rows over [[lshPerDoc]] output. The
    * hot-bucket cap is a rank-limit on the SAME key the candidate join
    * shuffles on (WindowGroupLimit prunes map-side; no extra exchange).
    */
  private def lshBuckets(perDoc: DataFrame, maxBucketSize: Int): DataFrame = {
    val bandCols = (0 until NumHashes / BandSize).map { b =>
      val cols = (0 until BandSize).map(r => col(s"mh${b * BandSize + r}").cast("string"))
      struct(lit(b).as("band"), TextOps.md5Hash60(concat_ws(":", cols: _*)).as("bucket"))
    }
    perDoc
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket").orderBy("doc_id")))
      .where(col("rk") <= maxBucketSize)
      .drop("rk")
  }

  /** Cross-corpus MinHash+LSH near-dup pairs: every (delta doc, base doc)
    * pair sharing a band bucket, verified by exact Jaccard over the
    * distinct-shingle-hash sets. The candidate join is base⋈delta ONLY —
    * base never self-pairs, so a daily ingest probes the corpus index
    * at delta-proportional cost: at 100 TB the base side's (band, bucket)
    * rows and `hs` arrays are the persisted near-dup index (built once,
    * appended per ingest — the same shape [[dedupDelta]] models for the
    * unverified bucket-count screen), and only the delta is signed fresh.
    */
  def minhashCrossPairsOf(
      base: DataFrame,
      delta: DataFrame,
      threshold: Double,
      maxBucketSize: Int = MaxBandBucket): DataFrame = {
    val pb = lshPerDoc(base)
    minhashCrossPairsIndexed(pb, lshBuckets(pb, maxBucketSize),
      delta, threshold, maxBucketSize)
  }

  /** The cross-corpus probe against a PREBUILT base index — `pb` =
    * [[lshPerDoc]] of the base, `pbBuckets` = its capped bucket rows. The
    * delta-family queries pass the memoized [[neardupBaseIndex]] so every
    * rep/consumer probes the same materialized index instead of re-signing
    * the whole base corpus — the built-once posture the scaladoc above
    * describes, now also what the bench measures.
    */
  private def minhashCrossPairsIndexed(
      pb: DataFrame,
      pbBuckets: DataFrame,
      delta: DataFrame,
      threshold: Double,
      maxBucketSize: Int = MaxBandBucket): DataFrame = {
    val pd = lshPerDoc(delta)
    val candidates = pbBuckets.as("a")
      .join(lshBuckets(pd, maxBucketSize).as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.doc_id").as("base_id"), col("b.doc_id").as("delta_id"))
      .distinct()
    val hb = pb.select(col("doc_id").as("bid"), col("hs").as("h1"))
    val hd = pd.select(col("doc_id").as("did"), col("hs").as("h2"))
    val pairs = candidates
      .join(hb, col("base_id") === col("bid"))
      .join(hd, col("delta_id") === col("did"))
    val i = size(array_intersect(col("h1"), col("h2"))).cast("double")
    val jac = i / (size(col("h1")).cast("double") + size(col("h2")).cast("double") - i)
    pairs
      .where(jac >= threshold)
      .select(col("delta_id"), col("base_id"), round(jac, 6).as("jaccard"))
      .orderBy("delta_id", "base_id")
  }

  /** Exact-Jaccard threshold of the driver-checked [[minhashPairs]] query —
    * shared with the generated oracle so Spark and SQL cannot drift.
    */
  val MinhashThreshold = 0.5

  /** Generated DuckDB CTE chain re-deriving [[minhashPairsOf]] over an
    * arbitrary source relation `src` (needs `doc_id`, `text`): seeded
    * signatures, band buckets, hot-bucket cap, candidate join, and exact
    * Jaccard verification, all from the SAME constants (NumHashes,
    * BandSize, MaxBandBucket) — the oracle re-computes the whole LSH
    * pipeline in SQL rather than shipping expected literals, so a drift
    * anywhere (hash family, banding, cap, threshold) fails the hash
    * check. Verification intersects the per-doc DISTINCT 60-bit
    * shingle-hash sets, exactly like the Spark side's collect_set arrays.
    * Emits CTEs prefixed `p`, ending in `{p}pairs(d1, d2, jaccard)` —
    * thresholded on the raw ratio, jaccard rounded to 6 places.
    * Parameterized so composed oracles (the t_curate funnel) reuse the
    * identical generated pipeline over an intermediate stage.
    */
  def minhashPairsCtes(src: String, threshold: Double, p: String = "mp_"): String = {
    val mhDefs = (0 until NumHashes)
      .map(i => s"MIN(${seededHashSql(i)}) AS mh$i")
      .mkString(",\n         ")
    val bandSelects = (0 until NumHashes / BandSize).map { b =>
      val concat = (0 until BandSize)
        .map(r => s"CAST(mh${b * BandSize + r} AS VARCHAR)")
        .mkString(" || ':' || ")
      s"  SELECT doc_id, $b AS band, ${TextOps.md5Hash60Sql(concat)} AS bucket FROM ${p}sig"
    }.mkString("\n  UNION ALL\n")
    s"""${p}shm AS (
       |  SELECT doc_id,
       |         unnest(list_transform(range(1, len(t) - 1),
       |                               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM $src)
       |  WHERE len(t) >= 3),
       |${p}h AS (
       |  SELECT doc_id,
       |         ('0x' || substr(mdx, 1, 15))::BIGINT AS h,
       |         ('0x' || substr(mdx, 16, 15))::BIGINT % $SeedMask AS h2m
       |  FROM (SELECT doc_id, md5(sh) AS mdx FROM ${p}shm)),
       |${p}sig AS (
       |  SELECT doc_id,
       |         $mhDefs
       |  FROM ${p}h GROUP BY doc_id),
       |${p}buckets AS (
       |$bandSelects),
       |${p}capped AS (
       |  SELECT doc_id, band, bucket FROM ${p}buckets
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY band, bucket ORDER BY doc_id) <= $MaxBandBucket),
       |${p}cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM ${p}capped a JOIN ${p}capped b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |${p}hs AS (SELECT DISTINCT doc_id, h FROM ${p}h),
       |${p}sz AS (SELECT doc_id, COUNT(*) AS n FROM ${p}hs GROUP BY doc_id),
       |${p}inter AS (
       |  SELECT c.d1, c.d2, COUNT(*) AS i
       |  FROM ${p}cand c
       |  JOIN ${p}hs x ON x.doc_id = c.d1
       |  JOIN ${p}hs y ON y.doc_id = c.d2 AND y.h = x.h
       |  GROUP BY 1, 2),
       |${p}pairs AS (
       |  SELECT i.d1, i.d2,
       |         ROUND(CAST(i.i AS DOUBLE) / (CAST(s1.n AS DOUBLE) + CAST(s2.n AS DOUBLE) - CAST(i.i AS DOUBLE)), 6) AS jaccard
       |  FROM ${p}inter i
       |  JOIN ${p}sz s1 ON i.d1 = s1.doc_id
       |  JOIN ${p}sz s2 ON i.d2 = s2.doc_id
       |  WHERE CAST(i.i AS DOUBLE) / (CAST(s1.n AS DOUBLE) + CAST(s2.n AS DOUBLE) - CAST(i.i AS DOUBLE)) >= $threshold)""".stripMargin
  }

  /** DuckDB twin of the driver-checked [[minhashPairs]] query. */
  lazy val minhashPairsSql: String =
    s"""WITH ${minhashPairsCtes("documents", MinhashThreshold)}
       |SELECT d1, d2, jaccard FROM mp_pairs ORDER BY d1, d2""".stripMargin

  // ---- SimHash (60-bit, md5-derived → DuckDB-expressible, hash-checked) ----

  /** Per-doc SimHash fingerprint: token hashes vote per bit; near-dups land
    * within small Hamming distance. One explode + one aggregate — linear.
    * Token hashes are [[TextOps.md5Hash60]] (60 bits, engine-portable), so
    * the vote/pack arithmetic is reproducible in DuckDB and both simhash
    * queries are HASH-checked against generated SQL ([[simhashSql]]) —
    * upgraded from the xxhash64 rows-only variant.
    */
  val SimhashBits = 60

  def simhash(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("h", TextOps.md5Hash60(col("tok")))
    val bitVotes = (0 until SimhashBits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$b")
    }
    val voted = tok.groupBy("doc_id").agg(bitVotes.head, bitVotes.tail: _*)
    val fp = (0 until SimhashBits)
      .map(b => when(col(s"v$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L)))
      .reduce(_ + _)
    voted.select(col("doc_id"), fp.as("simhash")).orderBy("doc_id")
  }

  def simhashQuery(spark: SparkSession, sfDir: String): DataFrame =
    simhash(Tables.documents(spark, sfDir).where(col("doc_id") < 300))

  /** Shared CTE chain computing the per-doc 60-bit SimHash in DuckDB with
    * bit-identical votes: same tokenization (string_split), same md5-derived
    * token hash, same per-bit ±1 votes and pack. Generated, not hand-kept —
    * bit count and band structure come from the same constants as the Spark
    * side, so they cannot drift (the [[graft.vec.VectorOps.sigSqlExprOf]]
    * technique).
    */
  private def simhashFpCte: String = {
    val votes = (0 until SimhashBits)
      .map(b => s"SUM(CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS v$b")
      .mkString(",\n         ")
    val pack = (0 until SimhashBits)
      .map(b => s"(CASE WHEN v$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END)")
      .mkString("\n       + ")
    s"""tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents WHERE doc_id < 300),
       |h AS (
       |  SELECT doc_id, ${TextOps.md5Hash60Sql("tok")} AS h FROM tok),
       |v AS (
       |  SELECT doc_id,
       |         $votes
       |  FROM h GROUP BY doc_id),
       |fp AS (
       |  SELECT doc_id,
       |         $pack AS simhash
       |  FROM v)""".stripMargin
  }

  lazy val simhashSql: String =
    s"WITH $simhashFpCte\nSELECT doc_id, simhash FROM fp ORDER BY doc_id"

  /** SimHash near-dup PAIRS via Hamming banding (the pigeonhole trick): a
    * 60-bit fingerprint is split into `SimhashBands` contiguous bands; two
    * fingerprints within Hamming distance < SimhashBands MUST agree on at
    * least one whole band, so candidates come from a (band, band-bits)
    * equi-join — never an all-pairs comparison — and exact `bit_count(xor)`
    * verifies. Same candidate-generation shape as [[minhashPairs]]; at
    * 100 TB, pre-partition by (band, bits) at ingest.
    */
  val SimhashBands = 4
  val SimhashBandBits = SimhashBits / SimhashBands // 15 bits per band
  val SimhashMaxHamming = 3 // < SimhashBands, so banding is lossless

  def simhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    simhashPairsOf(Tables.documents(spark, sfDir).where(col("doc_id") < 300))

  def simhashPairsOf(docs: DataFrame): DataFrame = {
    val fp = simhash(docs)
    val bands = fp.select(
      col("doc_id"),
      col("simhash"),
      explode(array((0 until SimhashBands).map { b =>
        struct(
          lit(b).as("band"),
          shiftright(col("simhash"), b * SimhashBandBits)
            .bitwiseAND((1L << SimhashBandBits) - 1L).as("bits"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band").as("band"), col("bb.bits").as("bits"))
    val dist = bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bits") === col("b.bits") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        dist.as("hamming"))
      .distinct() // a pair can share several bands
      .where(col("hamming") <= SimhashMaxHamming)
      .orderBy("d1", "d2")
  }

  lazy val simhashPairsSql: String = {
    val mask = (1L << SimhashBandBits) - 1L
    val bandSelects = (0 until SimhashBands).map { b =>
      s"  SELECT doc_id, simhash, $b AS band, (simhash >> ${b * SimhashBandBits}) & $mask AS bits FROM fp"
    }.mkString("\n  UNION ALL\n")
    s"""WITH $simhashFpCte,
       |bands AS (
       |$bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
       |         CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bits = b.bits AND a.doc_id < b.doc_id)
       |SELECT d1, d2, hamming FROM cand
       |WHERE hamming <= $SimhashMaxHamming
       |ORDER BY d1, d2""".stripMargin
  }

  /** Incremental-ingest dedup — the daily-crawl shape: a NEW batch (the
    * delta) is screened against the EXISTING corpus (the base) before it
    * lands, without re-deduping the corpus. Two probes per delta doc,
    * both keyed joins against base-side DISTINCT projections:
    *
    *   - exact: fingerprint semi-join (16-byte md5 keys);
    *   - near: shared LSH band buckets ([[rowBandKeys]] — the same
    *     scan-side signature the streaming path uses, so batch-delta and
    *     stream ingest flag the SAME candidates), counted per delta doc.
    *
    * At 100 TB the base-side fingerprint/bucket sets are the persisted
    * dedup index (built once, appended per ingest), and the delta probe
    * shuffles only the delta — the corpus never rescans. The checked
    * query models that with in-plan base projections. The delta carries
    * re-keyed mirrors of base docs (the [[CorpusPipeline
    * .trainWithMirrors]] device) so the exact probe is non-vacuous: the
    * raw synthetic corpus has no cross-slice exact dupes.
    */
  val DeltaSplitId = 400L
  val DeltaMirrorMod = 83L

  def dedupDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val base = docs.where(col("doc_id") < DeltaSplitId)
    val delta = docs.where(col("doc_id") >= DeltaSplitId)
      .unionByName(base.where(col("doc_id") % DeltaMirrorMod === 7)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    def fps(df: DataFrame) =
      df.select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
    def keys(df: DataFrame) = df.select(
      col("doc_id"),
      explode(rowBandKeys(rowMinhashSig(col("text")), md5(col("text").cast("binary")))).as("bk"))
    val exact = fps(delta)
      .join(fps(base).select("fp").distinct(), Seq("fp"), "left_semi")
      .select(col("doc_id")).withColumn("hit", lit(true))
    val near = keys(delta)
      .join(keys(base).select("bk").distinct(), Seq("bk"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared_buckets"))
    delta.select("doc_id")
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("hit"), lit(false)).as("is_exact_dup"),
        coalesce(col("n_shared_buckets"), lit(0L)).as("n_shared_buckets"))
      .orderBy("doc_id")
  }

  /** DuckDB twin: both slices' signatures via TWO instantiations of the
    * generated minhash CTE chain (prefixes `bb_`/`dd_`; only the CTEs up
    * to `sig` are referenced), band keys with the [[rowBandKeys]]
    * formula, then the same two probes.
    */
  lazy val dedupDeltaSql: String = {
    val baseSrc = s"(SELECT doc_id, text FROM documents WHERE doc_id < $DeltaSplitId)"
    val deltaSrc =
      s"""(SELECT doc_id, text FROM documents WHERE doc_id >= $DeltaSplitId
         |   UNION ALL
         |   SELECT doc_id + 1000000 AS doc_id, text FROM documents
         |   WHERE doc_id < $DeltaSplitId AND doc_id % $DeltaMirrorMod = 7)""".stripMargin
    val nBands = NumHashes / BandSize
    def bandKeys(p: String, src: String) = {
      val sels = (0 until nBands).map { b =>
        val joined = (0 until BandSize)
          .map(r => s"CAST(mh${b * BandSize + r} AS VARCHAR)")
          .mkString(" || ':' || ")
        s"  SELECT doc_id, '$b' || ':' || md5($joined) AS bk FROM ${p}sig"
      }.mkString("\n  UNION ALL\n")
      val uniq = (0 until nBands)
        .map(b => s"  SELECT doc_id, '$b' || ':uniq:' || md5(text) AS bk FROM $src s WHERE len(string_split(text, ' ')) < 3")
        .mkString("\n  UNION ALL\n")
      s"$sels\n  UNION ALL\n$uniq"
    }
    s"""WITH ${minhashPairsCtes(baseSrc, MinhashThreshold, "bb_")},
       |${minhashPairsCtes(deltaSrc, MinhashThreshold, "dd_")},
       |bk_b AS (
       |${bandKeys("bb_", baseSrc)}),
       |bk_d AS (
       |${bandKeys("dd_", deltaSrc)}),
       |dl AS (SELECT doc_id, text FROM $deltaSrc d),
       |ex AS (
       |  SELECT d.doc_id FROM dl d
       |  WHERE md5(d.text) IN (SELECT md5(text) FROM $baseSrc b)),
       |near AS (
       |  SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_buckets
       |  FROM bk_d d JOIN (SELECT DISTINCT bk FROM bk_b) b USING (bk)
       |  GROUP BY d.doc_id)
       |SELECT dl.doc_id,
       |       (dl.doc_id IN (SELECT doc_id FROM ex)) AS is_exact_dup,
       |       COALESCE(near.n_shared_buckets, 0)::BIGINT AS n_shared_buckets
       |FROM dl LEFT JOIN near USING (doc_id)
       |ORDER BY dl.doc_id""".stripMargin
  }

  /** Near-dup delta resolution — the VERIFIED companion to [[dedupDelta]]'s
    * bucket-count screen: each delta doc's near-duplicate base docs with
    * their exact Jaccard, via the cross-corpus LSH probe
    * ([[minhashCrossPairsOf]]) at the pinned [[MinhashThreshold]]. The
    * screen says "this doc shares N buckets with the corpus"; this query
    * answers the question the ingest policy actually acts on — WHICH corpus
    * docs it near-duplicates and HOW close — without ever pairing the base
    * against itself. Non-vacuity: the delta carries near-MIRRORS of base
    * docs (one appended token, so Jaccard ≈ (n-2)/(n-1) over trigram
    * shingles — high but not 1.0; the [[dedupDelta]] exact-mirror device
    * shifted to the near-dup regime), alongside any organic cross-slice
    * near-dups the generator planted.
    */
  val NearMirrorMod = 97L
  val NearMirrorOffset = 2000000L

  /** Memoized base-side near-dup INDEX over the pinned base slice
    * (doc_id < [[DeltaSplitId]]): ([[lshPerDoc]], capped bucket rows),
    * checkpoint-truncated per (SparkContext, sfDir) — the persisted
    * built-once index the delta screens probe (the 100 TB posture the
    * [[minhashCrossPairsOf]] scaladoc describes). Shared by
    * [[neardupDelta]] and [[ingestDecision]].
    */
  private def neardupBaseIndex(
      spark: SparkSession, sfDir: String): (DataFrame, DataFrame) =
    graft.util.Memo.cached("neardupBase", spark, sfDir) {
      val base = Tables.documents(spark, sfDir)
        .where(col("doc_id") < DeltaSplitId).select("doc_id", "text")
      val pb = lshPerDoc(base).localCheckpoint(true)
      (pb, lshBuckets(pb, MaxBandBucket).localCheckpoint(true))
    }

  def neardupDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val base = docs.where(col("doc_id") < DeltaSplitId).select("doc_id", "text")
    val delta = docs.where(col("doc_id") >= DeltaSplitId).select("doc_id", "text")
      .unionByName(base.where(col("doc_id") % NearMirrorMod === 13)
        .select(
          (col("doc_id") + NearMirrorOffset).as("doc_id"),
          concat(col("text"), lit(" graftdelta")).as("text")))
    val (pb, pbBuckets) = neardupBaseIndex(spark, sfDir)
    minhashCrossPairsIndexed(pb, pbBuckets, delta, MinhashThreshold)
  }

  /** Generated CTE chain for the cross-corpus probe over arbitrary base /
    * delta source relations, ending in `nx_pairs(delta_id, base_id,
    * jaccard)` — the minhash chain instantiated per slice (prefixes
    * `nb_`/`nd_`; the within-slice candidate/pair CTEs go unreferenced),
    * then the SAME cross-slice bucket join + intersect verification as
    * the Spark plan. Shared by the pair oracle and the composed ingest
    * gate, so the screen has ONE SQL definition.
    */
  def neardupCrossCtes(baseSrc: String, deltaSrc: String): String =
    s"""${minhashPairsCtes(baseSrc, MinhashThreshold, "nb_")},
       |${minhashPairsCtes(deltaSrc, MinhashThreshold, "nd_")},
       |nx_cand AS (
       |  SELECT DISTINCT b.doc_id AS base_id, d.doc_id AS delta_id
       |  FROM nb_capped b JOIN nd_capped d
       |    ON b.band = d.band AND b.bucket = d.bucket),
       |nx_inter AS (
       |  SELECT c.delta_id, c.base_id, COUNT(*) AS i
       |  FROM nx_cand c
       |  JOIN nb_hs x ON x.doc_id = c.base_id
       |  JOIN nd_hs y ON y.doc_id = c.delta_id AND y.h = x.h
       |  GROUP BY 1, 2),
       |nx_pairs AS (
       |  SELECT i.delta_id, i.base_id,
       |         ROUND(CAST(i.i AS DOUBLE) / (CAST(s1.n AS DOUBLE) + CAST(s2.n AS DOUBLE) - CAST(i.i AS DOUBLE)), 6) AS jaccard
       |  FROM nx_inter i
       |  JOIN nb_sz s1 ON i.base_id = s1.doc_id
       |  JOIN nd_sz s2 ON i.delta_id = s2.doc_id
       |  WHERE CAST(i.i AS DOUBLE) / (CAST(s1.n AS DOUBLE) + CAST(s2.n AS DOUBLE) - CAST(i.i AS DOUBLE)) >= $MinhashThreshold)""".stripMargin

  private val neardupBaseSrc =
    s"(SELECT doc_id, text FROM documents WHERE doc_id < $DeltaSplitId)"

  private val neardupDeltaSrc =
    s"""(SELECT doc_id, text FROM documents WHERE doc_id >= $DeltaSplitId
       |   UNION ALL
       |   SELECT doc_id + $NearMirrorOffset AS doc_id, text || ' graftdelta' AS text
       |   FROM documents
       |   WHERE doc_id < $DeltaSplitId AND doc_id % $NearMirrorMod = 13)""".stripMargin

  /** DuckDB twin of [[neardupDelta]] via [[neardupCrossCtes]]. */
  lazy val neardupDeltaSql: String =
    s"""WITH ${neardupCrossCtes(neardupBaseSrc, neardupDeltaSrc)}
       |SELECT delta_id, base_id, jaccard FROM nx_pairs
       |ORDER BY delta_id, base_id""".stripMargin

  /** The ingest GATE — the decision a daily-crawl pipeline actually
    * executes per arriving document, composing the whole delta family in
    * one verdict: exact-dup screen ([[dedupDelta]]'s fingerprint
    * semi-join) → verified near-dup screen ([[minhashCrossPairsOf]] at
    * the pinned threshold) → quality floor ([[TextOps.qualityColumn]] at
    * [[CorpusPipeline.PinnedConfig]]'s `minQuality` — the SAME constant
    * the batch curation funnel cuts at, so gate and funnel cannot
    * disagree about what "too low" means). Priority mirrors curation
    * stage order: `exact_dup` > `near_dup` > `low_quality` > `keep`.
    * The delta carries BOTH mirror families (exact re-crawls and
    * one-token-off near-mirrors), so every drop reason bites on the
    * checked corpora.
    *
    * Scale posture: three probes, each keyed and delta-proportional —
    * 16-byte fingerprint semi-join, banded bucket join (never base⋈base),
    * and a scan-side quality projection; the verdict is a CASE over their
    * left-joined results. No pair spaces, no collects, no windows.
    */
  def ingestDecision(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val base = docs.where(col("doc_id") < DeltaSplitId).select("doc_id", "text")
    val delta = docs.where(col("doc_id") >= DeltaSplitId).select("doc_id", "text")
      .unionByName(base.where(col("doc_id") % DeltaMirrorMod === 7)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .unionByName(base.where(col("doc_id") % NearMirrorMod === 13)
        .select(
          (col("doc_id") + NearMirrorOffset).as("doc_id"),
          concat(col("text"), lit(" graftdelta")).as("text")))
    val exact = delta
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
      .join(base.select(md5(col("text").cast("binary")).as("fp")).distinct(),
        Seq("fp"), "left_semi")
      .select(col("doc_id")).withColumn("hit", lit(true))
    val near = locally {
      val (pb, pbBuckets) = neardupBaseIndex(spark, sfDir)
      minhashCrossPairsIndexed(pb, pbBuckets, delta, MinhashThreshold)
    }
      .groupBy(col("delta_id").as("doc_id"))
      .agg(count(lit(1)).as("n_near"))
    val minQ = CorpusPipeline.PinnedConfig.minQuality
    delta
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("hit"), lit(false)).as("is_exact_dup"),
        coalesce(col("n_near"), lit(0L)).as("n_near_dups"),
        TextOps.qualityColumn(col("text")).as("quality"),
        when(coalesce(col("hit"), lit(false)), "exact_dup")
          .when(coalesce(col("n_near"), lit(0L)) > 0, "near_dup")
          .when(TextOps.qualityColumn(col("text")) < minQ, "low_quality")
          .otherwise("keep").as("decision"))
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[ingestDecision]]: the shared cross-probe CTEs over
    * the two-mirror delta, the fingerprint IN-probe, and the SAME quality
    * formula ([[TextOps.qualitySqlExpr]]) and priority CASE.
    */
  lazy val ingestDecisionSql: String = {
    val deltaSrc =
      s"""(SELECT doc_id, text FROM documents WHERE doc_id >= $DeltaSplitId
         |   UNION ALL
         |   SELECT doc_id + 1000000 AS doc_id, text FROM documents
         |   WHERE doc_id < $DeltaSplitId AND doc_id % $DeltaMirrorMod = 7
         |   UNION ALL
         |   SELECT doc_id + $NearMirrorOffset AS doc_id, text || ' graftdelta' AS text
         |   FROM documents
         |   WHERE doc_id < $DeltaSplitId AND doc_id % $NearMirrorMod = 13)""".stripMargin
    val minQ = CorpusPipeline.PinnedConfig.minQuality
    val q = TextOps.qualitySqlExpr("dl.text")
    s"""WITH ${neardupCrossCtes(neardupBaseSrc, deltaSrc)},
       |dl AS (SELECT doc_id, text FROM $deltaSrc d),
       |ex AS (
       |  SELECT doc_id FROM dl
       |  WHERE md5(text) IN (SELECT md5(text) FROM $neardupBaseSrc b)),
       |nn AS (
       |  SELECT delta_id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_near
       |  FROM nx_pairs GROUP BY 1)
       |SELECT dl.doc_id,
       |       (dl.doc_id IN (SELECT doc_id FROM ex)) AS is_exact_dup,
       |       COALESCE(nn.n_near, 0)::BIGINT AS n_near_dups,
       |       $q AS quality,
       |       CASE WHEN dl.doc_id IN (SELECT doc_id FROM ex) THEN 'exact_dup'
       |            WHEN COALESCE(nn.n_near, 0) > 0 THEN 'near_dup'
       |            WHEN $q < $minQ THEN 'low_quality'
       |            ELSE 'keep' END AS decision
       |FROM dl LEFT JOIN nn USING (doc_id)
       |ORDER BY dl.doc_id""".stripMargin
  }

  /** LSH tuning telemetry: does the 8×4 banding actually find the near-dup
    * pairs the exact shingle-Jaccard join finds at the same threshold?
    * Ground truth and candidate sets are the two EXISTING pair queries
    * ([[jaccardPairsOf]] / [[minhashPairsOf]]) at [[MinhashThreshold]];
    * one full-outer join on the pair key + one aggregate emits
    * (n_exact, n_lsh, n_hit, recall) — the per-corpus number that decides
    * band/row geometry before a 100 TB dedup run is committed (the
    * [[graft.vec.VectorOps]] `x4_ann_recall` discipline applied to text
    * dedup). Sides can differ legitimately: banding can miss a true pair
    * (recall < 1), and the df-capped exact universe can exclude a pair
    * the full-shingle LSH verification admits.
    *
    * Scale posture: both inputs are the already-scale-audited pair
    * pipelines; the overlay is one equi-join on (d1, d2) + a single-row
    * aggregate — no new pair space, no collects.
    */
  def lshRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val e = jaccardFromInter(jaccardInter(spark, sfDir), MinhashThreshold)
      .select(col("d1"), col("d2"), lit(1).as("e"))
    val l = minhashPairsPinned(spark, sfDir)
      .select(col("d1"), col("d2"), lit(1).as("l"))
    e.join(l, Seq("d1", "d2"), "full_outer")
      .agg(
        count(col("e")).cast("bigint").as("n_exact"),
        count(col("l")).cast("bigint").as("n_lsh"),
        count(when(col("e").isNotNull && col("l").isNotNull, lit(1)))
          .cast("bigint").as("n_hit"))
      .select(
        col("n_exact"), col("n_lsh"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_exact").cast("double"), 6)
          .as("recall"))
  }

  val lshRecallSql: String =
    s"""WITH ${jaccardPairsCtes("documents", MinhashThreshold)},
       |${minhashPairsCtes("documents", MinhashThreshold)},
       |e AS (SELECT d1, d2, 1 AS e FROM jp_pairs),
       |l AS (SELECT d1, d2, 1 AS l FROM mp_pairs),
       |j AS (SELECT e, l FROM e FULL OUTER JOIN l USING (d1, d2))
       |SELECT CAST(COUNT(e) AS BIGINT) AS n_exact,
       |       CAST(COUNT(l) AS BIGINT) AS n_lsh,
       |       CAST(COUNT(CASE WHEN e IS NOT NULL AND l IS NOT NULL THEN 1 END) AS BIGINT) AS n_hit,
       |       ROUND(CAST(COUNT(CASE WHEN e IS NOT NULL AND l IS NOT NULL THEN 1 END) AS DOUBLE)
       |             / CAST(COUNT(e) AS DOUBLE), 6) AS recall
       |FROM j""".stripMargin

  /** Jaccard thresholds the sweep reports; the floor bounds the pair space
    * the sweep materializes (pairs below the floor are never near-dup
    * candidates at any reported threshold).
    */
  val SweepThresholds: Seq[Double] = Seq(0.05, 0.3, 0.5, 0.9)

  /** Threshold-tuning curve: pair count and dropped-doc count (min-id keep
    * policy: every distinct d2 is a removal) at each candidate Jaccard
    * threshold, in ONE pass over the pair set — the sweep a pipeline owner
    * reads before pinning the near-dup threshold, instead of re-running
    * dedup per candidate value. Two-level aggregate: (threshold, d2) then
    * threshold, so the distinct-doc count never needs countDistinct; the
    * 4-row threshold relation broadcasts onto the pair set.
    */
  def thresholdSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = jaccardFromInter(jaccardInter(spark, sfDir), SweepThresholds.min)
    val th = spark.range(1)
      .select(explode(array(SweepThresholds.map(lit): _*)).as("threshold"))
    pairs
      .join(th, col("jaccard") >= col("threshold"))
      .groupBy("threshold", "d2").agg(count(lit(1)).as("np"))
      .groupBy("threshold")
      .agg(
        sum("np").cast("bigint").as("n_pairs"),
        count(lit(1)).cast("bigint").as("n_dropped"))
      .orderBy("threshold")
  }

  val thresholdSweepSql: String =
    s"""WITH ${jaccardPairsCtes("documents", SweepThresholds.min)},
       |th(threshold) AS (VALUES ${SweepThresholds.map(t => s"(CAST($t AS DOUBLE))").mkString(", ")}),
       |l1 AS (
       |  SELECT threshold, d2, COUNT(*) AS np
       |  FROM jp_pairs JOIN th ON jaccard >= threshold
       |  GROUP BY threshold, d2)
       |SELECT threshold,
       |       CAST(SUM(np) AS BIGINT) AS n_pairs,
       |       CAST(COUNT(*) AS BIGINT) AS n_dropped
       |FROM l1 GROUP BY threshold ORDER BY threshold""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t_dedup_delta" -> (dedupDelta _),
    "t_neardup_delta" -> (neardupDelta _),
    "t_ingest_decision" -> (ingestDecision _),
    "x1_dedup_exact" -> (exactDedup _),
    "x2_jaccard_pairs" -> (jaccardPairs _),
    "x2_minhash_pairs" -> (minhashPairs _),
    "x2_simhash" -> (simhashQuery _),
    "x2_simhash_pairs" -> (simhashPairs _),
    "t_lsh_recall" -> (lshRecall _),
    "t_threshold_sweep" -> (thresholdSweep _),
    "t_decontaminate" -> (decontaminate _),
    "t_eval_overlap" -> (evalOverlap _))

  val oracle: Map[String, String] = Map(
    "t_dedup_delta" -> dedupDeltaSql,
    "t_neardup_delta" -> neardupDeltaSql,
    "t_ingest_decision" -> ingestDecisionSql,
    "x1_dedup_exact" -> exactDedupSql,
    "x2_jaccard_pairs" -> jaccardPairsSql,
    "x2_minhash_pairs" -> minhashPairsSql,
    "x2_simhash" -> simhashSql,
    "x2_simhash_pairs" -> simhashPairsSql,
    "t_lsh_recall" -> lshRecallSql,
    "t_threshold_sweep" -> thresholdSweepSql,
    "t_decontaminate" -> decontaminateSql,
    "t_eval_overlap" -> evalOverlapSql)
}
