package graft.text

import graft.model.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Span-level (sub-document) deduplication analytics — the exact-substring
  * dedup family of Lee et al., "Deduplicating Training Data Makes Language
  * Models Better" (2022), re-expressed relationally: instead of a suffix
  * array over the concatenated corpus, every K-token gram occurrence
  * becomes a (doc_id, position, gram-hash) row and duplication is a
  * two-level hash aggregate. Document-level dedup ([[Dedup]]) misses the
  * common failure mode where distinct pages share large copied blocks
  * (licenses, navigation chrome, quoted passages); these operators measure
  * and localize that overlap.
  *
  * Reference scope: the reference app (main.py:149-157) has no dedup at
  * all — this whole family is part of the training-data extension surface
  * (SURVEY.md §2 X-1/X-2 neighborhood).
  *
  * Scale posture (100 TB): gram occurrences are O(total tokens) rows of
  * (8-byte doc_id, 4-byte pos, 8-byte md5-60 hash) — no text ever
  * shuffles. Distinct-doc counts per gram use the two-level aggregate
  * (groupBy(doc, gram) then groupBy(gram)), never countDistinct, so both
  * levels get map-side partial aggregation. The duplicated-gram dictionary
  * joins back by the 8-byte hash key — an equi-join with no pair space.
  * The gaps-and-islands pass windows by doc_id (bounded by the longest
  * document, not the corpus). A suffix automaton would find longer-than-K
  * exact repeats cheaper per byte, but has no distributed/relational form;
  * K-gram coverage is the standard scalable surrogate (a repeat of length
  * L >= K covers L-K+1 consecutive duplicated grams, so long copies are
  * conspicuous — see [[dupSpanRuns]]).
  */
object SpanDedup {

  /** Gram width in tokens. Lee et al. use 50-token windows on web text;
    * the synthetic docs average ~55 tokens, so K=8 keeps multi-gram runs
    * observable while a single shared phrase (< 8 tokens) stays below the
    * duplication threshold.
    */
  val K = 8

  /** Per-occurrence gram rows: (doc_id, pos, g) — pos is 1-based, g is the
    * engine-portable [[TextOps.md5Hash60]] of the space-joined K-token
    * slice. Docs shorter than K tokens have no grams (the `where` also
    * keeps Spark's `sequence` ascending). All codegen'd built-ins
    * (split/slice/array_join/transform/posexplode) — no UDFs.
    */
  private def gramOccurrences(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .where(size(col("t")) >= K)
      .select(
        col("doc_id"),
        posexplode(
          transform(
            sequence(lit(1), size(col("t")) - (K - 1)),
            i => TextOps.md5Hash60(array_join(slice(col("t"), i, lit(K)), " ")))))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("g"))

  /** (doc_id, g, cnt): per-doc gram multiplicities — level 1 of the
    * two-level distinct-doc aggregate, and the reassembly side of the
    * coverage join.
    */
  private def docGrams(occ: DataFrame): DataFrame =
    occ.groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))

  /** (g, n_docs): distinct documents containing each gram — level 2.
    * docGrams already collapsed to one row per (doc, gram), so a plain
    * count here IS the distinct-doc count, with partial aggregation at
    * both levels (countDistinct would force the raw occurrence rows
    * through a single exchange).
    */
  private def gramDocs(dg: DataFrame): DataFrame =
    dg.groupBy("g").agg(count(lit(1)).as("n_docs"))

  /** Memoized (occurrences, per-(doc,gram) multiplicities) per
    * (SparkContext, sfDir): all three span queries read the identical
    * gram derivation — t_span_dedup and t_ngram_novelty window over `dg`,
    * t_dup_span_runs additionally joins the raw `occ` positions — so one
    * materialized build serves the family. This mirrors what a 100 TB
    * exact-substring dedup run does anyway: the K-gram index is built
    * once and landed, and every analysis pass joins against it.
    * Checkpointed plan references; immutable sf dirs; [[clearGramCache]]
    * after an in-place rewrite.
    */
  def clearGramCache(): Unit = graft.util.Memo.clear("kgramIndex")

  private def grams(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) =
    graft.util.Memo.cached("kgramIndex", spark, sfDir) {
      val occ = gramOccurrences(Tables.documents(spark, sfDir)).localCheckpoint(true)
      (occ, docGrams(occ).localCheckpoint(true))
    }

  /** Shared oracle CTE prefix: token arrays -> per-occurrence gram hashes
    * -> per-(doc, gram) multiplicities. `private[text]`: the doc-scorecard
    * oracle ([[CurationOps.docScorecardSql]]) composes it, so the gram
    * derivation keeps ONE SQL definition.
    */
  private[text] def gramCtes: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |g AS (SELECT doc_id,
       |             unnest(list_transform(range(1, len(t) - $K + 2),
       |               i -> ${TextOps.md5Hash60Sql(s"array_to_string(list_slice(t, i, i + $K - 1), ' ')")})) AS g
       |      FROM t WHERE len(t) >= $K),
       |dg AS (SELECT doc_id, g, COUNT(*) AS cnt FROM g GROUP BY doc_id, g)""".stripMargin

  /** Per-document duplicated-span coverage: how many of a doc's K-gram
    * occurrences also appear in at least one OTHER document. The curation
    * decision this feeds: docs above a dup_frac threshold are trimmed or
    * dropped even when no whole-document twin exists.
    *
    * The distinct-doc count per gram is a WINDOW over the (doc, gram)
    * aggregate, not a groupBy(g)-and-join-back: the join form computes the
    * dg subtree twice (exchange reuse does not fire across the broadcast
    * boundary — verified in the executed plan at local[32]), i.e. two full
    * corpus scans at 100 TB; the window form is one linear pipeline —
    * scan → (doc,g) agg → g-partitioned window → doc agg — with exactly
    * one scan and three keyed exchanges.
    */
  def spanDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val dg = grams(spark, sfDir)._2
    dg.withColumn("n_docs", count(lit(1)).over(Window.partitionBy("g")))
      .groupBy("doc_id")
      .agg(
        sum("cnt").cast("bigint").as("n_grams"),
        sum(when(col("n_docs") >= 2, col("cnt")).otherwise(lit(0L)))
          .cast("bigint").as("n_dup_grams"))
      .select(
        col("doc_id"), col("n_grams"), col("n_dup_grams"),
        round(col("n_dup_grams").cast("double") / col("n_grams").cast("double"), 6)
          .as("dup_frac"))
      .orderBy("doc_id")
  }

  val spanDedupSql: String =
    s"""$gramCtes,
       |dgw AS (SELECT doc_id, cnt, COUNT(*) OVER (PARTITION BY g) AS n_docs FROM dg)
       |SELECT doc_id,
       |       CAST(SUM(cnt) AS BIGINT) AS n_grams,
       |       CAST(SUM(CASE WHEN n_docs >= 2 THEN cnt ELSE 0 END) AS BIGINT) AS n_dup_grams,
       |       ROUND(CAST(SUM(CASE WHEN n_docs >= 2 THEN cnt ELSE 0 END) AS DOUBLE)
       |             / CAST(SUM(cnt) AS DOUBLE), 6) AS dup_frac
       |FROM dgw
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Maximal duplicated runs per document (gaps-and-islands over dup
    * positions): how LONG the copied blocks are, not just how much is
    * copied. A length-L exact repeat (L >= K) shows up as L-K+1
    * consecutive duplicated positions, so `max_run_tokens` recovers the
    * repeat's token length exactly; scattered common phrases show up as
    * many short runs instead. This is the span-localization step of
    * exact-substring dedup — the output says WHERE to cut.
    */
  def dupSpanRuns(spark: SparkSession, sfDir: String): DataFrame = {
    val (occ, dg) = grams(spark, sfDir)
    val dupG = gramDocs(dg).where(col("n_docs") >= 2).select("g")
    val isl = occ
      .join(dupG, Seq("g"), "leftsemi")
      .withColumn(
        "island",
        col("pos") - row_number().over(Window.partitionBy("doc_id").orderBy("pos")))
    isl.groupBy("doc_id", "island")
      .agg(count(lit(1)).as("run_grams"))
      .groupBy("doc_id")
      .agg(
        sum("run_grams").cast("bigint").as("n_dup_pos"),
        count(lit(1)).cast("bigint").as("n_runs"),
        (max("run_grams") + lit(K - 1)).cast("bigint").as("max_run_tokens"))
      .orderBy("doc_id")
  }

  val dupSpanRunsSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |p AS (SELECT doc_id, unnest(range(1, len(t) - $K + 2)) AS pos, t
       |      FROM t WHERE len(t) >= $K),
       |gh AS (SELECT doc_id, pos,
       |              ${TextOps.md5Hash60Sql(s"array_to_string(list_slice(t, pos, pos + $K - 1), ' ')")} AS g
       |       FROM p),
       |gd AS (SELECT g FROM (SELECT g, COUNT(DISTINCT doc_id) AS n_docs FROM gh GROUP BY g)
       |       WHERE n_docs >= 2),
       |dup AS (SELECT doc_id, pos FROM gh WHERE g IN (SELECT g FROM gd)),
       |isl AS (SELECT doc_id, pos,
       |               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |        FROM dup),
       |runs AS (SELECT doc_id, island, COUNT(*) AS run_grams FROM isl GROUP BY doc_id, island)
       |SELECT doc_id,
       |       CAST(SUM(run_grams) AS BIGINT) AS n_dup_pos,
       |       CAST(COUNT(*) AS BIGINT) AS n_runs,
       |       CAST(MAX(run_grams) + $K - 1 AS BIGINT) AS max_run_tokens
       |FROM runs GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Per-document novelty under first-seen attribution: a gram occurrence
    * is novel iff this doc_id is the SMALLEST doc_id containing that gram
    * — the incremental-ingest view ("how much genuinely new content does
    * each arriving document add?"), the screening signal behind
    * delta-vs-corpus ingest ([[Dedup.dedupDelta]]) and dataset-growth
    * accounting. Deterministic (min-doc attribution, no arrival-order
    * RNG); the earliest doc is 100% novel by construction.
    */
  def ngramNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    val dg = grams(spark, sfDir)._2
    // window-min over the (doc, gram) aggregate — same single-scan linear
    // pipeline rationale as [[spanDedup]]
    dg.withColumn("first_doc", min("doc_id").over(Window.partitionBy("g")))
      .groupBy("doc_id")
      .agg(
        sum("cnt").cast("bigint").as("n_grams"),
        sum(when(col("doc_id") === col("first_doc"), col("cnt")).otherwise(lit(0L)))
          .cast("bigint").as("n_novel"))
      .select(
        col("doc_id"), col("n_grams"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_grams").cast("double"), 6)
          .as("novelty"))
      .orderBy("doc_id")
  }

  val ngramNoveltySql: String =
    s"""$gramCtes,
       |dgw AS (SELECT doc_id, cnt, MIN(doc_id) OVER (PARTITION BY g) AS first_doc FROM dg)
       |SELECT doc_id,
       |       CAST(SUM(cnt) AS BIGINT) AS n_grams,
       |       CAST(SUM(CASE WHEN doc_id = first_doc THEN cnt ELSE 0 END) AS BIGINT) AS n_novel,
       |       ROUND(CAST(SUM(CASE WHEN doc_id = first_doc THEN cnt ELSE 0 END) AS DOUBLE)
       |             / CAST(SUM(cnt) AS DOUBLE), 6) AS novelty
       |FROM dgw
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t_span_dedup" -> (spanDedup _),
    "t_dup_span_runs" -> (dupSpanRuns _),
    "t_ngram_novelty" -> (ngramNovelty _))

  val oracle: Map[String, String] = Map(
    "t_span_dedup" -> spanDedupSql,
    "t_dup_span_runs" -> dupSpanRunsSql,
    "t_ngram_novelty" -> ngramNoveltySql)
}
