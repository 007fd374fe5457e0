package graft

import graft.text.{CorpusPipeline, Dedup, TextOps}
import graft.vec.VectorOps
import org.apache.spark.sql.functions._

/** Guards for the at-scale failure modes the small-SF oracle can't see:
  * hot-bucket skew in banded candidate joins (boilerplate-heavy corpora go
  * locally quadratic without the cap), packing parallelism beyond the
  * 16-bucket special case, and the curation funnel staying non-vacuous as
  * the corpus grows (every stage must still BITE at the checked SFs).
  */
class ScaleGuardSpec extends SparkSpec {
  import spark.implicits._

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("minhash hot-bucket cap bounds an adversarial boilerplate corpus") {
    // 40 copies of one boilerplate doc: every band bucket holds all 40 ids,
    // so the uncapped candidate join is quadratic in the bucket
    val boiler = "terms of service apply to all content on this mirrored page"
    val docs = ((1L to 40L).map(i => (i, boiler)) ++ Seq(
      (100L, "some genuinely unique document body here with its own words"),
      (101L, "another entirely unrelated text that shares nothing at all")))
      .toDF("doc_id", "text")
    val uncapped = Dedup.minhashPairsOf(docs, 0.9)
    assert(uncapped.count() === 40L * 39 / 2) // the quadratic blowup, un-guarded
    val capped = Dedup.minhashPairsOf(docs, 0.9, maxBucketSize = 4)
    val pairs = capped.collect().map(r => (r.getLong(0), r.getLong(1)))
    // bottom-4 ids per bucket survive → exactly C(4,2) pairs, ids 1..4
    assert(pairs.length === 6)
    assert(pairs.flatMap(p => Seq(p._1, p._2)).forall(_ <= 4L))
  }

  test("sign-LSH sim-join hot-bucket cap bounds identical-vector pileups") {
    graft.functions.GraftFunctions.register(spark)
    val vec = Seq.tabulate(VectorOps.EmbDim)(i => 0.25 + 0.01 * i)
    val e = (1L to 30L).map(i => (i, vec)).toDF("vec_id", "emb")
    val uncapped = VectorOps.simJoinLshOf(e)
    assert(uncapped.count() === 30L * 29 / 2)
    val capped = VectorOps.simJoinLshOf(e, maxBucketSize = 3)
    val pairs = capped.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length === 3) // C(3,2); cosine 1.0 keeps all survivors
    assert(pairs.flatMap(p => Seq(p._1, p._2)).forall(_ <= 3L))
  }

  test("simCrossLshOf: cross-side pairs only; subset of the self-join pair set; screen is non-vacuous") {
    graft.functions.GraftFunctions.register(spark)
    val e = graft.model.Tables.embeddings(spark, sf001)
      .select($"vec_id", $"embedding".cast("array<double>").as("emb"))
    val cross = VectorOps.simCrossLshOf(
      e.where($"vec_id" < VectorOps.VecDeltaSplit),
      e.where($"vec_id" >= VectorOps.VecDeltaSplit),
      VectorOps.SimJoinThreshold).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cross.nonEmpty, "delta screen must flag organic cross-slice near-dups")
    assert(cross.forall { case (d, b, _) =>
      d >= VectorOps.VecDeltaSplit && b < VectorOps.VecDeltaSplit })
    assert(cross.forall { case (_, _, s) => s >= VectorOps.SimJoinThreshold && s <= 1.0 + 1e-9 })
    // the cross screen finds exactly the full self-join pair set's
    // cross-slice rows: same bands, same cap geometry, no corpus self-pairs
    val full = VectorOps.simJoinLshOf(e).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (v1, v2) => v1 < VectorOps.VecDeltaSplit && v2 >= VectorOps.VecDeltaSplit }
      .map { case (v1, v2) => (v2, v1) }.toSet
    assert(cross.map(c => (c._1, c._2)).toSet === full)
  }

  test("packedOf: invariants hold at two bucket counts vs an independent reimplementation") {
    val docs = graft.model.Tables.documents(spark, sf001).where($"doc_id" < 300)
    val raw = docs
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n_tok"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    for (nBuckets <- Seq(5, 128)) {
      val expected = raw
        .map { case (id, n) =>
          val hex = md5Hex(id.toString)
          (java.lang.Long.parseLong(hex.take(15), 16) % nBuckets, hex, id, n)
        }
        .groupBy(_._1)
        .toSeq
        .flatMap { case (bucket, rows) =>
          var before = 0L
          rows.sortBy(r => (r._2, r._3)).map { case (_, _, _, n) =>
            val pack = before / TextOps.PackBudget
            before += n
            (bucket, pack, n)
          }
        }
        .groupBy(r => (r._1, r._2))
        .map { case ((b, p), rs) => (b, p, rs.size.toLong, rs.map(_._3).sum) }
        .toSet
      val got = TextOps.packedOf(docs, nBuckets = nBuckets)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got === expected, s"nBuckets=$nBuckets")
      assert(got.toSeq.map(_._3).sum === 300, s"every doc packed exactly once at nBuckets=$nBuckets")
    }
  }

  test("t_curate funnel: every stage bites and output is non-empty at sf0.01 and sf0.1") {
    for (sfDir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val docs = graft.model.Tables.documents(spark, sfDir)
      var funnel = Vector.empty[(String, Long)]
      CorpusPipeline.curate(
        CorpusPipeline.trainWithMirrors(docs),
        CorpusPipeline.evalSlice(docs),
        CorpusPipeline.PinnedConfig,
        f => funnel :+= f)
      val m = funnel.toMap
      info(s"$sfDir funnel: ${funnel.map { case (k, v) => s"$k=$v" }.mkString(" → ")}")
      withClue(s"$sfDir funnel=$funnel: ") {
        assert(m("input") > m("quality"), "quality stage dropped nothing")
        assert(m("quality") > m("decontaminated"), "decontamination dropped nothing")
        assert(m("decontaminated") > m("exact_dedup"), "exact dedup dropped nothing")
        assert(m("exact_dedup") > m("near_dedup"), "near-dup stage dropped nothing")
        assert(m("near_dedup") > 0 && m("chunks") > 0, "funnel emptied the corpus")
      }
    }
  }

  test("jaccard df-cap bounds an adversarial boilerplate corpus") {
    // 50 single-shingle boilerplate docs: pairwise Jaccard 1.0, so the
    // uncapped equi-join emits all C(50,2) pairs — quadratic in the df of
    // ONE shingle value. With the df cap below 50, the boilerplate shingle
    // leaves the universe and contributes NOTHING to the pair space, while
    // genuinely near-dup docs (sharing low-df shingles) are untouched.
    val boiler = "terms of service apply" // 4 tokens → 2 shingles, df=50 each
    val docs = ((1L to 50L).map(i => (i, boiler)) ++ Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (101L, "alpha beta gamma delta epsilon zeta eta iota")))
      .toDF("doc_id", "text")
    val uncapped = Dedup.jaccardPairsOf(docs, 0.4, maxShingleDf = Long.MaxValue)
    assert(uncapped.where($"d1" < 100).count() === 50L * 49 / 2)
    val capped = Dedup.jaccardPairsOf(docs, 0.4, maxShingleDf = 8)
    val pairs = capped.collect().map(r => (r.getLong(0), r.getLong(1)))
    // boilerplate pair space gone; the real near-dup pair survives intact
    assert(pairs.toSeq === Seq((100L, 101L)))
  }

  test("source cap: an over-represented source emits <= cap rows, rank-limit pushed map-side") {
    // one mirror-farm source with 200 pages vs two healthy sources: the
    // capped output carries at most `cap` rows per source regardless of
    // the farm's page count, and the physical plan shows WindowGroupLimit
    // (the map-side rank prune) — the property that keeps the pass viable
    // when one domain holds billions of pages.
    val farm = (1L to 200L).map(i => (i, "farm", s"mirror page $i of the same boilerplate listing"))
    val docs = (farm ++ Seq(
      (300L, "blog", "a long considered essay with many genuinely distinct words and thoughts"),
      (301L, "news", "breaking report with yet another set of distinct words")))
      .toDF("doc_id", "source", "text")
    val capped = graft.text.CurationOps.sourceCapOf(docs, cap = 3)
    val bySource = capped.collect().groupBy(_.getString(0)).view.mapValues(_.length).toMap
    assert(bySource("farm") === 3 && bySource("blog") === 1 && bySource("news") === 1)
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"rank-limit not pushed:\n$plan")
  }

  test("span dedup family is non-vacuous at sf0.01 AND sf0.1") {
    for (sfDir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val cov = graft.text.SpanDedup.spanDedup(spark, sfDir)
        .where($"n_dup_grams" > 0).count()
      assert(cov > 0, s"$sfDir: no cross-doc duplicated spans — the coverage check is vacuous")
      val runs = graft.text.SpanDedup.dupSpanRuns(spark, sfDir).count()
      assert(runs === cov, s"$sfDir: runs rows ($runs) must equal docs with dup coverage ($cov)")
      val recall = graft.text.Dedup.lshRecall(spark, sfDir).collect().head
      assert(recall.getLong(0) > 0, s"$sfDir: no exact pairs at the LSH threshold")
    }
  }

  test("knnGraphOf hot-cell guard: a >KnnCellCap label is sign-LSH sub-blocked and matches an independent reimplementation") {
    graft.functions.GraftFunctions.register(spark)
    val dim = VectorOps.EmbDim
    // 300 rows in ONE label (> cap 256) force the guard; a 10-row cold cell
    // rides along to prove the exact (blk=0) path coexists in the same plan
    val rnd = new scala.util.Random(7L)
    val rows = ((1L to 300L).map(i => (i, "hot", Seq.fill(dim)(rnd.nextGaussian()))) ++
      (1000L to 1009L).map(i => (i, "cold", Seq.fill(dim)(rnd.nextGaussian())))).toVector
    val got = VectorOps.knnGraphOf(rows.toDF("vec_id", "label", "emb"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    // independent plain-Scala reimplementation of the same spec
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
    def blkOf(v: Seq[Double]): Int =
      VectorOps.knnSubPlanes.zipWithIndex
        .map { case (p, j) => if (dot(v, p) > 0) 1 << j else 0 }.sum
    def r6(d: Double): Double =
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val blocked = rows.map { case (id, lab, v) =>
      (id, lab, if (rows.count(_._2 == lab) <= VectorOps.KnnCellCap) 0 else blkOf(v), v)
    }
    assert(blocked.filter(_._2 == "hot").map(_._3).distinct.size > 1,
      "guard did not fire: hot cell collapsed to one sub-block")
    assert(blocked.filter(_._2 == "cold").forall(_._3 == 0),
      "cold cell must keep the exact blk=0 path")
    val topk = blocked.flatMap { case (src, lab, blk, v) =>
      blocked.filter(b => b._2 == lab && b._3 == blk && b._1 != src)
        .map { case (dst, _, _, w) =>
          (src, dst, r6(dot(v, w) / (math.sqrt(dot(v, v)) * math.sqrt(dot(w, w)))))
        }
        .sortBy { case (_, dst, sim) => (-sim, dst) }
        .take(VectorOps.KnnGraphK)
    }
    val edgeSet = topk.map(e => (e._1, e._2)).toSet
    val expected = topk
      .filter(e => edgeSet.contains((e._2, e._1)) && e._1 < e._2)
      .toSet
    assert(got === expected)
  }

  test("t_doc_scorecard: every threshold bites and keep splits at sf0.01 AND sf0.1") {
    for (sfDir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val sc = graft.text.CurationOps.docScorecard(spark, sfDir)
        .select("quality", "rep_ratio", "dup_frac", "keep").collect()
      val kept = sc.count(_.getBoolean(3))
      info(s"$sfDir: ${sc.length} docs, $kept kept")
      withClue(s"$sfDir: ") {
        assert(kept > 0 && kept < sc.length, "keep decision is vacuous")
        assert(sc.exists(r => r.getDouble(0) < graft.text.CurationOps.ScorecardMinQuality),
          "quality threshold never bites")
        assert(sc.exists(r => r.getDouble(1) > graft.text.CurationOps.ScorecardMaxRep),
          "repetition threshold never bites")
        assert(sc.exists(r => r.getDouble(2) > graft.text.CurationOps.ScorecardMaxDupFrac),
          "span-dup threshold never bites")
      }
    }
  }

  test("x4_threshold_sweep: monotone non-increasing and non-vacuous at sf0.01") {
    val rows = VectorOps.simThresholdSweep(spark, "/root/testdata/sf0.01")
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq === VectorOps.SimSweepThresholds,
      "every threshold tier must emit a row on the shipped corpus")
    val pairs = rows.map(_._2)
    assert(pairs.zip(pairs.tail).forall { case (a, b) => a >= b },
      "pair count must be monotone non-increasing in the threshold")
    assert(pairs.distinct.length >= 3, "sweep is flat — thresholds don't discriminate")
    assert(rows.forall { case (_, np, nd) => nd > 0 && np >= nd },
      "dropped-doc count must be positive and bounded by the pair count")
  }

  test("x2_jaccard_pairs is non-vacuous at sf0.01 AND sf0.1") {
    // a testdata refresh that moves the planted near-dups must not silently
    // turn the hash check into a 0-row tautology (the round-5 finding that
    // removed the doc_id cap: sf0.1's pairs live across the whole id space)
    for (sfDir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val n = graft.text.Dedup.jaccardPairs(spark, sfDir).count()
      info(s"$sfDir: $n pairs")
      assert(n > 0, s"jaccard pair check is vacuous at $sfDir")
    }
  }

  test("classifier family plans: no partition-less window anywhere") {
    // the one plan shape that cannot survive 100× is a global Window with
    // no PARTITION BY (single-task sort of the whole relation). The model
    // family must never reintroduce it — t_model_auc in particular gets
    // its global rank from RangedCumsum's range-partitioned windows.
    val qm = graft.text.QualityModel
    for ((name, df) <- Seq(
        "t_quality_model" -> qm.modelWeights(spark, sf001),
        "t_model_auc" -> qm.modelAuc(spark, sf001),
        "t_model_threshold" -> qm.modelThreshold(spark, sf001),
        "t_model_delta" -> qm.modelDelta(spark, sf001))) {
      val global = df.queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
      }
      assert(global.isEmpty, s"$name has a partition-less window:\n${global.mkString}")
    }
  }

  test("t_shuffle_shards: shard-partitioned windows only, balanced shards, full coverage") {
    val df = TextOps.shuffleShards(spark, sf001)
    // the global-shuffle op must NEVER be a global sort/window — the
    // per-shard row_number must ride a PARTITION BY shard
    val global = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(global.isEmpty, s"global window in the shuffle plan:\n${global.mkString}")
    val rows = df.collect()
    assert(rows.length === TextOps.ShuffleShards, "every shard populated")
    val sizes = rows.map(_.getLong(1))
    val total = sizes.sum
    assert(total === graft.model.Tables.documents(spark, sf001).count())
    // a seeded uniform key keeps shards within ±40% of ideal at n≈600
    val ideal = total.toDouble / TextOps.ShuffleShards
    assert(sizes.forall(s => s > ideal * 0.6 && s < ideal * 1.4),
      s"skewed shards: ${sizes.mkString(",")}")
  }

  test("t_shuffle_delta: base positions are EXACTLY a base-only shuffle's (landing data never moves the base)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val got = TextOps.shuffleDelta(spark, sf001).collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getLong(3)))).toMap
    // independent reimplementation: shuffle ONLY the base docs, fold the
    // same pos×doc_id signature — must equal the incremental form's base
    // fold, proving delta arrival leaves every base position untouched
    val cut = graft.text.Dedup.DeltaSplitId
    val w = Window.partitionBy("shard").orderBy(col("hkey"), col("doc_id"))
    val baseOnly = graft.model.Tables.documents(spark, sf001)
      .where(col("doc_id") < cut)
      .select(col("doc_id"),
        TextOps.md5Hash60(concat(lit("epoch1:"), col("doc_id").cast("string"))).as("hkey"))
      .withColumn("shard", pmod(col("hkey"), lit(TextOps.ShuffleShards.toLong)).cast("int"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n"), expr("bit_xor(pos * doc_id)").as("xor_order"))
      .collect().map(r => (r.getInt(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got.view.mapValues(v => v).toMap.forall { case (s, (nb, xb)) =>
      baseOnly.get(s).contains((nb, xb)) || (nb == 0L && !baseOnly.contains(s))
    }, s"incremental base ordering diverged:\n got=$got\n exp=$baseOnly")
  }

  test("AQE skew join splits a hot key at runtime — the no-code alternative to salting") {
    // SkewJoin.saltedJoin is the WRITE-TIME answer to skew; this pins the
    // RUNTIME answer: with AQE skew handling on (and thresholds scaled to
    // test data), a join whose left side is 90% one key gets its hot
    // partition SPLIT after the shuffle materializes — visible as skew=true
    // on the join in the final adaptive plan. At 100 TB both tools exist;
    // AQE needs no key-cardinality foreknowledge.
    import org.apache.spark.sql.functions._
    val old = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val left = spark.range(300000).select(
        when(col("id") % 10 =!= 0, 1L).otherwise(col("id")).as("k"), col("id").as("payload"))
      val right = spark.range(100).select(col("id").as("rk"), (col("id") * 2).as("rv"))
      // execute THIS DataFrame's QueryExecution (count() would build a
      // separate one, leaving this adaptive plan unexecuted and the skew
      // handling invisible)
      val j = left.join(right, col("k") === col("rk")).groupBy().count()
      assert(j.collect().head.getLong(0) === 270010L) // 9/10 of rows hit key 1
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the join skewed:\n$plan")
    } finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("shuffle budget: no query may silently gain an exchange") {
    // Every ShuffleExchangeExec is cluster-wide data movement; the counts
    // below are the AUDITED plan shapes (`graft.Probe <sf0.001> all
    // --census`, AQE off so EnsureRequirements' insertions are visible
    // statically).
    // A future edit that adds a shuffle to any of these trips this gate
    // and must either restore the plan or consciously re-audit the
    // budget. Subset = queries whose DataFrame CONSTRUCTION is cheap
    // (no driver-side training/write loops at plan time).
    val budget = Map(
      "q_flagship_top10" -> 0, "q_lineitem_agg" -> 2, "q_revenue_by_region" -> 2,
      "q_orders_by_nation" -> 2, "q_supplier_by_nation" -> 2, "q_topk_per_group" -> 2,
      "q_topk_parts_brand" -> 2, "q_semi_anti" -> 3, "q_point_lookup" -> 1,
      "q_asof_join" -> 2, "q_asof_native" -> 3, "q_asof_payload" -> 4,
      "q_range_join" -> 2, "q_skew_join" -> 2, "q_getorcreate_dims" -> 2,
      "q_dsv2_scan" -> 2, "q_dsv2_agg_pushdown" -> 1, "q_dsv2_shard_rollup" -> 1,
      "q_dsv2_spj" -> 1, "q_dsv2_spj_bucket" -> 2, "q_dsv2_runtime_filter" -> 1,
      "q_dsv2_delete" -> 2, "q_dsv2_delete_mor" -> 2, "q_dsv2_merge" -> 2,
      "q_dsv2_merge_mor" -> 2,
      "q_dsv2_metadata_cols" -> 2, "q_dsv2_catalog_function" -> 2,
      "q_hourly_windows" -> 2, "q_sliding_windows" -> 3, "q_session_counts" -> 2,
      "x1_dedup_exact" -> 2, "x2_jaccard_pairs" -> 1,
      "x5_word_freq" -> 1, "x5_bigram_freq" -> 1, "x5_text_stats" -> 3,
      "x8_distinct_users" -> 3, "x9_percentiles" -> 2,
      "t_shuffle_shards" -> 2, "t_shuffle_epochs" -> 2, "t_shuffle_delta" -> 3,
      "t_quality_score" -> 1, "t_lang_id" -> 1, "t_fingerprints" -> 1,
      // round-12 widening (VERDICT r11 #6): DSv2 write path, curate-funnel
      // heads, the full model family, and the round's new queries. Counts
      // audited via graft.Probe --census at sf0.001, AQE off. Model-family
      // budgets are the MAX over memo states: on a freshly-checkpointed
      // qmodel chain the plans are exchange-free (training is a
      // driver-sequenced control loop over 1-row aggregates), but when the
      // memoized base was built under a different conf the consumer plan
      // keeps 1–3 small exchanges — both are fine; the gate exists to
      // catch a silently-added corpus-sized shuffle, not memo noise.
      "q_dsv2_write_roundtrip" -> 2, "q_format_roundtrip" -> 3,
      "t_curate" -> 3, "t_curate_attrition" -> 1,
      // holdout 1→2 (round 21): with driver-held literal weights the
      // consumer streams z and pays two ≤|splits|-row post-partial-agg
      // exchanges (groupBy split + orderBy split). The old 0/1-exchange
      // plan was a BuildLeft artifact that BROADCAST the corpus-sized z
      // and streamed the 1-row weight frame — fewer exchanges, hostile
      // at scale. Audited via HoldoutPlan dump, 2026-08-19.
      "t_quality_model" -> 1, "t_quality_model_eval" -> 1,
      "t_quality_model_scores" -> 1, "t_quality_model_holdout" -> 2,
      "t_model_delta" -> 1, "t_model_auc" -> 3, "t_model_calibration" -> 2,
      "t_model_threshold" -> 1, "t_weighted_sample" -> 2,
      "t_data_mixture" -> 9, "t_mixture_temperature" -> 5, "t_token_budget" -> 2, "t_ingest_decision" -> 11,
      "t_dedup_delta" -> 4, "t_bpe_batched" -> 1, "t_bpe_encode" -> 2, "t_bigram_surprisal" -> 5, "q_variant_json" -> 2, "q_dsv2_time_travel" -> 2, "q_dsv2_compact" -> 2, "q_dsv2_history" -> 1, "q_dsv2_stats_prune" -> 2, "q_dsv2_range_prune" -> 2, "q_dsv2_count_meta" -> 1, "x6_vecsum_centroids" -> 2,
      "t_topk_quality_agg" -> 2)
    val oldAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val bucketKey = "spark.sql.sources.v2.bucketing.enabled"
    val oldBucket = spark.conf.getOption(bucketKey)
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // match the driver sessions (Bench/Verify set this at construction):
      // q_dsv2_shard_rollup's 1-exchange budget assumes the reported
      // KeyGroupedPartitioning is honored
      spark.conf.set(bucketKey, "true")
      val over = budget.toSeq.sorted.flatMap { case (name, max) =>
        val n = Probe.exchanges(SparkEntry.queries(name)(spark, sf001))
        if (n > max) Some(s"$name: $n exchanges (budget $max)") else None
      }
      assert(over.isEmpty, s"shuffle budget exceeded:\n  ${over.mkString("\n  ")}")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", oldAqe)
      oldBucket match {
        case Some(v) => spark.conf.set(bucketKey, v)
        case None => spark.conf.unset(bucketKey)
      }
    }
  }

  test("job budget: the warm analytics pool starts no more Spark jobs than audited") {
    // perfbench's analytics_warm pool (perfbench/run.py ANALYTICS_POOL):
    // tiny queries whose wall time is set by the number of Spark jobs they
    // start. Each entry is (jobs while building the DataFrame, jobs while
    // collecting it) on a warm second pass at sf0.001, AQE on as in the
    // bench session. Building starts no job: `Tables` resolves each
    // table's schema once per file stamp. A broadcast-sized ORDER BY
    // starts no range-sampling job (graft.plans.OnePartition).
    val budget = Map(
      "q_flagship_top10" -> (0, 3), "q_getorcreate_dims" -> (0, 4), "q_point_lookup" -> (0, 1),
      "q_rollup" -> (0, 2), "q_window_frames" -> (0, 3), "q_session_counts" -> (0, 3),
      "q_json_extract" -> (0, 1), "q_ptbr_normalize" -> (0, 1), "t_lang_id" -> (0, 1),
      "t_quality_score" -> (0, 1), "x2_minhash_pairs" -> (0, 1), "x5_word_freq" -> (0, 2),
      "x3_knn_ivf" -> (0, 1), "x6_centroids" -> (0, 2), "x4_cluster_sizes" -> (0, 2),
      "m_media_features" -> (0, 2))
    val counts = Probe.withJobLog(spark.sparkContext) { log =>
      budget.keys.toSeq.sorted.map { name =>
        SparkEntry.queries(name)(spark, sf001).collect() // warm: Memo indexes, schemas
        val (df, construct) = log(SparkEntry.queries(name)(spark, sf001))
        val (_, collect) = log(df.collect())
        name -> (construct.size, collect.size)
      }
    }
    assertJobBudget(budget, counts)
  }

  test("job budget: small lakehouse reads start no more Spark jobs than audited") {
    // perfbench's lake_churn reads over a small merge-on-read ShardSink
    // table with a registered MV and one commit of tail, AQE on as in the
    // bench session; (construct, collect) jobs on a warm second pass.
    // Before graft.plans.OnePartition planned these reads in one task
    // they collected with 2, 3, 2, 2 and 4 jobs (version, point, range,
    // meta, mv_groupby); the MV state, change-feed and metadata-table scans
    // report their bytes, so the rewritten group-by and the `.files` count
    // are one task too.
    val budget = Map("version" -> (0, 1), "point" -> (0, 1), "range" -> (0, 1),
      "meta" -> (0, 1), "mv_groupby" -> (0, 1))
    val s = spark.newSession()
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val root = java.nio.file.Files.createTempDirectory("jobbudget").toFile.getPath
    Seq("" -> classOf[graft.sources.ShardSinkCatalog].getName, ".root" -> root,
      ".delete.mode" -> "merge-on-read", ".rlo.mode" -> "merge-on-read",
      ".cdf.enabled" -> "true").foreach { case (k, v) => s.conf.set(s"spark.sql.catalog.jb$k", v) }
    def rows(lo: Long, hi: Long) = s.range(lo, hi).select(col("id").as("doc_id"),
      (col("id") % 16).cast("int").as("shard"), md5(col("id").cast("string")).as("body"))
    val dir = new java.io.File(root, "docs").getPath
    val mvDir = dir + ".mvd"
    rows(0L, 4000L).writeTo("jb.docs").append()
    graft.sources.SinkMvDist.create(s, dir, mvDir, Seq("shard"), Seq(
      graft.sources.SinkMatView.MvAgg("n_docs", "count"),
      graft.sources.SinkMatView.MvAgg("sum_ids", "sum", "doc_id"),
      graft.sources.SinkMatView.MvAgg("xor_ids", "xor", "doc_id"),
      graft.sources.SinkMatView.MvAgg("sum_len", "sum", "length(body)")), buckets = 8)
    graft.sources.SinkMvRewrite.register(dir, mvDir)
    try {
      rows(4000L, 4400L).writeTo("jb.docs").append()
      s.experimental.extraOptimizations = Seq(graft.sources.SinkMvRewrite)
      val aggs = "count(*), sum(doc_id), bit_xor(doc_id), sum(length(body))"
      val queries = Map(
        "version" -> s"SELECT $aggs FROM jb.docs VERSION AS OF 1",
        "point" -> "SELECT doc_id, body FROM jb.docs WHERE doc_id IN (5, 1234, 4100) ORDER BY doc_id",
        "range" -> s"SELECT $aggs FROM jb.docs WHERE doc_id >= 1000 AND doc_id < 2000",
        "meta" -> "SELECT count(*), coalesce(sum(n_rows), 0) FROM jb.docs.files",
        "mv_groupby" -> s"SELECT shard, $aggs FROM jb.docs GROUP BY shard ORDER BY shard")
      val rewrites = graft.sources.SinkMvRewrite.rewrites.get()
      val counts = Probe.withJobLog(spark.sparkContext) { log =>
        budget.keys.toSeq.sorted.map { name =>
          s.sql(queries(name)).collect()
          val (df, construct) = log(s.sql(queries(name)))
          val (_, collect) = log(df.collect())
          name -> (construct.size, collect.size)
        }
      }
      assert(graft.sources.SinkMvRewrite.rewrites.get() === rewrites + 2L,
        "the group-by must answer from the MV")
      assertJobBudget(budget, counts)
    } finally graft.sources.SinkMvRewrite.unregister(dir)
  }

  private def assertJobBudget(
      budget: Map[String, (Int, Int)], counts: Seq[(String, (Int, Int))]): Unit = {
    info(counts.map { case (n, (b, c)) => s"$n=$b+$c" }.mkString(" "))
    val over = counts.collect {
      case (name, (b, c)) if b > budget(name)._1 || c > budget(name)._2 =>
        s"$name: $b+$c jobs (budget ${budget(name)._1}+${budget(name)._2})"
    }
    assert(over.isEmpty, s"job budget exceeded:\n  ${over.mkString("\n  ")}")
  }

  test("t_shuffle_epochs: reshuffle is seed-independent (no diagonal, no empty cells)") {
    val rows = TextOps.shuffleEpochs(spark, sf001).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    val n = TextOps.ShuffleShards
    // every epoch1×epoch2 cell populated at n≈600 (ideal ≈ 9+ per cell)
    assert(rows.size === n * n, s"empty cells: ${n * n - rows.size}")
    // the diagonal must NOT dominate: same-shard mass ≈ 1/N of total,
    // not ~all of it (a reused key would put every doc on the diagonal)
    val total = rows.values.sum.toDouble
    val diag = (0 until n).map(i => rows.getOrElse((i, i), 0L)).sum.toDouble
    assert(diag / total < 3.0 / n, s"diagonal mass ${diag / total} — seeds correlated")
  }
}
