package graft

import graft.vec.VectorOps
import org.apache.spark.sql.functions._

/** X-3 vector arithmetic on known values + the LSH pruning contract. */
class VectorOpsSpec extends SparkSpec {
  import spark.implicits._

  test("dot / norm / cosine on known vectors") {
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
    val row = df.select(
      VectorOps.dot($"a", $"b").as("dot"),
      VectorOps.norm($"a").as("na"),
      VectorOps.cosine($"a", $"a").as("self")).head()
    assert(row.getDouble(0) === 32.0) // 4 + 10 + 18
    assert(math.abs(row.getDouble(1) - math.sqrt(14.0)) < 1e-12)
    assert(math.abs(row.getDouble(2) - 1.0) < 1e-12) // cos(a,a) = 1
  }

  test("SignBits and NearestCell equal their composed expression forms bit-for-bit") {
    // The loop expressions replaced unrolled compositions that fell out of
    // HotSpot's JIT (PLANS.md §17). This pins the refactor: the composed
    // forms are rebuilt HERE exactly as VectorOps used to write them, and
    // both paths must agree on every random vector.
    import graft.functions.GraftFunctions
    val rnd = new scala.util.Random(11L)
    val dim = 16
    val vecs = Seq.fill(200)(Seq.fill(dim)(rnd.nextGaussian() * (1 + rnd.nextInt(3))))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "emb")

    val planes = VectorOps.hyperplanes(dim, seed = 4242L, n = 9)
    val composedSign = planes.zipWithIndex
      .map { case (p, j) =>
        when(GraftFunctions.dot($"emb", typedLit(p)) > 0, lit(1 << j)).otherwise(lit(0))
      }
      .reduce(_ + _)
    val signRows = df.select(
      VectorOps.signature($"emb", planes).as("loop"), composedSign.as("comp")).collect()
    assert(signRows.forall(r => r.getInt(0) === r.getInt(1)))

    val cents = (0 until 7).map(k => k * 3 -> Seq.fill(dim)(rnd.nextGaussian())).toMap
    val composedNearest = {
      val cells = cents.toSeq.sortBy(_._1).map { case (id, c) =>
        val cn = c.map(x => x * x).sum
        struct(
          (GraftFunctions.dot($"emb", $"emb") -
            lit(2.0) * GraftFunctions.dot($"emb", typedLit(c)) + lit(cn)).as("d"),
          lit(id).as("id"))
      }
      array_min(array(cells: _*)).getField("id")
    }
    val nearRows = df.select(
      VectorOps.clusterAssignment($"emb", cents).as("loop"),
      composedNearest.as("comp")).collect()
    assert(nearRows.forall(r => r.getInt(0) === r.getInt(1)))
  }

  test("native graft_dot: SQL-visible, equals the HOF fold bit-exactly") {
    val df = Seq((Seq(1.5, -2.25, 3.125), Seq(0.5, 4.0, -1.0))).toDF("a", "b")
    df.createOrReplaceTempView("vecs")
    val viaSql = spark.sql("SELECT graft_dot(a, b) AS d FROM vecs").head().getDouble(0)
    val viaHof = df.select(VectorOps.dotHof($"a", $"b")).head().getDouble(0)
    val viaNative = df.select(VectorOps.dot($"a", $"b")).head().getDouble(0)
    assert(viaSql === viaHof)
    assert(viaNative === viaHof)
    assert(viaHof === 1.5 * 0.5 + -2.25 * 4.0 + 3.125 * -1.0)
  }

  test("native graft_dot: mismatched lengths yield null, exactly like the HOF twin") {
    val df = Seq((Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0))).toDF("a", "b")
    val row = df.select(
      VectorOps.dot($"a", $"b").as("native"),
      VectorOps.dotHof($"a", $"b").as("hof")).head()
    assert(row.isNullAt(0), "native must not truncate a ragged pair to a partial dot product")
    assert(row.isNullAt(1))
  }

  test("native graft_dot: null array yields null; arity error is caught at analysis") {
    val df = Seq((Some(Seq(1.0)), Option.empty[Seq[Double]])).toDF("a", "b")
    assert(df.select(VectorOps.dot($"a", $"b")).head().isNullAt(0))
    val err = intercept[Exception](spark.sql("SELECT graft_dot(array(1.0))").collect())
    assert(err.getMessage.toLowerCase.contains("argument"))
  }

  test("GraftExtensions registers the function declaratively") {
    val ext = new graft.functions.GraftExtensions()
    // applying to a fresh extensions object must not throw; session-level
    // registration is covered by the SQL test above
    ext.apply(new org.apache.spark.sql.SparkSessionExtensions())
  }

  test("graft_vec_sum: exact-decimal sums match the cast-and-explode composition") {
    graft.functions.GraftFunctions.register(spark)
    val emb = graft.model.Tables.embeddings(spark, sf001)
      .select($"label", $"embedding".cast("array<double>").as("e"))
    val agg = emb.groupBy($"label")
      .agg(graft.functions.GraftFunctions.vecSum($"e", 64).as("s"))
      .select($"label", posexplode($"s").as(Seq("pos", "v")))
    val composed = emb
      .select($"label", posexplode(transform($"e", x => x.cast("decimal(38,18)"))).as(Seq("pos", "v")))
      .groupBy($"label", $"pos").agg(sum($"v").cast("decimal(38,18)").as("v"))
    val n = agg.join(composed, Seq("label", "pos"))
      .where(agg("v") =!= composed("v")).count()
    assert(n === 0L, "fused buffer sums must equal Spark's own cast+sum to the last digit")
  }

  test("graft_vec_sum: SQL surface, merge across partitions is order-invariant") {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val rows = (1 to 997).map(i => (i % 7, Seq(i * 0.1, -i * 0.25, i * 1e-7)))
    def run(parts: Int) =
      rows.toDF("g", "v").repartition(parts)
        .createOrReplaceTempView(s"vs_$parts")
    run(1); run(13)
    def res(parts: Int) =
      spark.sql(s"SELECT g, graft_vec_sum(v, 3) AS s FROM vs_$parts GROUP BY g ORDER BY g")
        .collect().map(r => (r.getInt(0), r.getSeq[java.math.BigDecimal](1)))
    val (a, b) = (res(1), res(13))
    assert(a.toSeq === b.toSeq, "exact-decimal merge must be partitioning-invariant")
  }

  test("graft_top_k: equals the window-rank form; no WindowExec; partitioning-invariant") {
    graft.functions.GraftFunctions.register(spark)
    val agg = graft.text.TextOps.topkQualityAgg(spark, sf001)
    // the combiner form must contain NO window operator — that is its
    // entire reason to exist
    assert(agg.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, "top-k aggregate must not plan a window")
    val viaWindow = {
      import org.apache.spark.sql.expressions.Window
      graft.model.Tables.documents(spark, sf001)
        .select($"source", $"doc_id", graft.text.TextOps.qualityColumn($"text").as("q"))
        .withColumn("rank",
          row_number().over(Window.partitionBy($"source").orderBy($"q".desc, $"doc_id")))
        .where($"rank" <= 3)
        .join(
          graft.model.Tables.documents(spark, sf001).groupBy("source")
            .agg(count(lit(1)).as("n_docs")),
          "source")
        .select($"source", $"rank", $"doc_id", $"n_docs")
        .orderBy("source", "rank")
    }
    assert(agg.collect().toSeq === viaWindow.collect().toSeq)
    // arrival order cannot matter: selection under a total order
    import spark.implicits._
    val rows = (1 to 500).map(i => ((i % 5).toString, i.toLong, (i % 17) * 1.0))
    def top(parts: Int) = rows.toDF("g", "id", "s").repartition(parts)
      .groupBy($"g").agg(graft.functions.GraftFunctions.topK($"s", $"id", 4).as("ids"))
      .orderBy("g").collect().map(r => (r.getString(0), r.getSeq[Long](1))).toSeq
    assert(top(1) === top(13))
  }

  test("graft_top_k: null inputs skipped, empty group null, non-literal k rejected") {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq(
      (0, Some(5.0), Some(10L)),
      (0, None, Some(11L)), // null score: skipped
      (0, Some(7.0), None), // null id: skipped
      (1, Option.empty[Double], Option.empty[Long]))
      .toDF("g", "s", "id")
    val out = df.groupBy($"g")
      .agg(graft.functions.GraftFunctions.topK($"s", $"id", 2).as("ids"))
      .orderBy($"g").collect()
    assert(out(0).getSeq[Long](1) === Seq(10L))
    assert(out(1).isNullAt(1), "empty group must be NULL")
    val err = intercept[Exception](
      spark.sql("SELECT graft_top_k(1.0, 2, CAST(rand() * 4 AS INT))").collect())
    assert(err.getMessage.toLowerCase.matches("(?s).*(literal|foldable|k ).*"), err.getMessage)
  }

  test("spill path: sort-based ObjectHashAggregate fallback is bit-identical for vec_sum and top_k") {
    // the shape a 100 TB grouping actually takes under memory pressure:
    // ObjectHashAggregate falls back to sort-based aggregation after
    // `fallbackThreshold` distinct keys, exercising serialize/deserialize
    // on every buffer and merging in sorted-key order. Threshold 1 forces
    // the fallback from the first key; results must be bit-identical to
    // the in-memory hash path (the exact-decimal / total-order designs
    // make merge order irrelevant — this proves it on the spill path too)
    val s = spark.newSession()
    s.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1")
    graft.functions.GraftFunctions.register(s)

    val spillVec = graft.vec.VectorOps.vecsumCentroids(s, sf001)
    assert(spillVec.queryExecution.executedPlan.toString.contains("ObjectHashAggregate"),
      "vec_sum no longer plans as ObjectHashAggregate — the fallback conf tests nothing")
    val hashVec = graft.vec.VectorOps.vecsumCentroids(spark, sf001)
    assert(spillVec.collect().toSeq === hashVec.collect().toSeq,
      "sort-based fallback changed graft_vec_sum results")

    val spillTop = graft.text.TextOps.topkQualityAgg(s, sf001)
    assert(spillTop.queryExecution.executedPlan.toString.contains("ObjectHashAggregate"),
      "top_k no longer plans as ObjectHashAggregate — the fallback conf tests nothing")
    val hashTop = graft.text.TextOps.topkQualityAgg(spark, sf001)
    assert(spillTop.collect().toSeq === hashTop.collect().toSeq,
      "sort-based fallback changed graft_top_k results")
  }

  test("graft_vec_sum: null/ragged/null-element vectors contribute nothing; empty group is null") {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq(
      (0, Some(Seq(Option(1.5), Option(2.5)))),
      (0, None), // null array: skipped
      (0, Some(Seq(Option(9.0)))), // ragged: skipped
      (0, Some(Seq(Option(1.0), Option.empty[Double]))), // null element: skipped
      (1, Option.empty[Seq[Option[Double]]])) // all-null group
      .toDF("g", "v")
    val out = df.groupBy($"g")
      .agg(graft.functions.GraftFunctions.vecSum($"v", 2).as("s"))
      .orderBy($"g").collect()
    val s0 = out(0).getSeq[java.math.BigDecimal](1)
    assert(s0.map(_.toString) === Seq("1.500000000000000000", "2.500000000000000000"))
    assert(out(1).isNullAt(1), "empty group must be NULL like avg, never a zero vector")
    // non-literal dim is rejected at analysis
    val err = intercept[Exception](
      spark.sql("SELECT graft_vec_sum(array(1.0), CAST(rand() * 4 AS INT))").collect())
    assert(err.getMessage.toLowerCase.contains("dim") ||
      err.getMessage.toLowerCase.contains("foldable") ||
      err.getMessage.toLowerCase.contains("literal"), err.getMessage)
  }

  test("null-element arrays: fused and HOF dot both null the whole sum") {
    val df = Seq((Seq(Option(1.0), Option(2.0)), Seq(Option(3.0), Option.empty[Double])))
      .toDF("a", "b")
    assert(df.select(VectorOps.dotHof($"a", $"b")).head().isNullAt(0))
    assert(df.select(VectorOps.dot($"a", $"b")).head().isNullAt(0))
    assert(df.select(VectorOps.cosine($"a", $"b")).head().isNullAt(0))
  }

  test("cosine of orthogonal vectors is 0") {
    val df = Seq((Seq(1.0, 0.0), Seq(0.0, 1.0))).toDF("a", "b")
    assert(df.select(VectorOps.cosine($"a", $"b")).head().getDouble(0) === 0.0)
  }

  test("sign-LSH: identical vectors share a signature; negated vectors flip every bit") {
    val planes = VectorOps.hyperplanes(4)
    val df = Seq(
      (1L, Seq(1.0, 2.0, 3.0, 4.0)),
      (2L, Seq(1.0, 2.0, 3.0, 4.0)),
      (3L, Seq(-1.0, -2.0, -3.0, -4.0))).toDF("id", "emb")
    val sigs = df.select($"id", VectorOps.signature($"emb", planes).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(sigs(1L) === sigs(2L))
    assert((sigs(1L) ^ sigs(3L)) === (1 << VectorOps.NumPlanes) - 1)
  }

  test("hyperplanes are seed-pinned (stable across calls)") {
    assert(VectorOps.hyperplanes(8) === VectorOps.hyperplanes(8))
  }

  test("brute-force knn returns exactly k rows ordered by sim desc") {
    val out = VectorOps.knnCosine(spark, sf001).collect()
    assert(out.length === 20)
    val sims = out.map(_.getDouble(2)).toSeq
    assert(sims === sims.sorted(Ordering[Double].reverse))
  }

  test("IVF knn: cluster assignment is deterministic; pruned search overlaps brute force") {
    val cents = VectorOps.allLabelCentroids(spark, sf001)
    assert(cents.size === 10 && cents.values.forall(_.size === 64))
    val ivf = VectorOps.knnIvf(spark, sf001).collect()
    assert(ivf.length === 20)
    // probed clusters only
    val clusters = ivf.map(_.getInt(2)).toSet
    assert(clusters.size <= 3)
    // the query vector IS the label-0 centroid → its cluster must be probed
    assert(clusters.contains(0))
    val brute = VectorOps.knnCosine(spark, sf001).collect().map(_.getLong(0)).toSet
    val overlap = ivf.map(_.getLong(0)).count(brute.contains)
    assert(overlap >= 10, s"IVF found only $overlap/20 of the brute-force top-20")
  }

  test("LSH knn results are a subset of the brute-force ranking universe") {
    val brute = VectorOps.knnCosine(spark, sf001).select("vec_id").as[Long].collect().toSet
    val lsh = VectorOps.knnLsh(spark, sf001).collect()
    // every LSH hit must carry the same sim the brute-force path computes
    assert(lsh.nonEmpty)
    val lshTop = lsh.map(_.getLong(0)).toSet
    assert((lshTop -- brute).size < lsh.length) // overlap exists (pruned recall)
  }

  test("dimStats: one row per dimension, std >= 0, mean inside [min, max]") {
    val rows = VectorOps.dimStats(spark, sf001).collect()
    assert(rows.length === 64)
    assert(rows.map(_.getLong(1)).distinct.length === 1, "every dim sees every vector")
    rows.foreach { r =>
      val (mean, std, mn, mx) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(std >= 0.0)
      assert(mean >= mn - 1e-6 && mean <= mx + 1e-6)
      assert(mn <= mx)
    }
  }

  test("sourceSimilarity: all unordered source pairs once, cosines in [-1,1]") {
    val rows = VectorOps.sourceSimilarity(spark, sf001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val nSrc = graft.model.Tables.documents(spark, sf001)
      .select("source").distinct().count()
    assert(rows.length === (nSrc * (nSrc - 1) / 2), "each unordered pair exactly once")
    rows.foreach { case (s1, s2, c) =>
      assert(s1 < s2, s"pair ($s1,$s2) not in canonical order")
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9, s"cosine $c out of range")
    }
    // mean-pooled centroids of a shared synthetic distribution are far
    // from orthogonal — a degenerate all-zero or all-one matrix would
    // mean the per-source pooling silently collapsed
    assert(rows.map(_._3).distinct.length > 1, "similarity matrix is constant")
  }

  test("knnGraph: canonical mutual edges, degree bounded by K, same-label endpoints") {
    val edges = VectorOps.knnGraph(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(edges.nonEmpty, "mutual k-NN graph is empty")
    assert(edges.forall { case (s, d, _) => s < d }, "edge not in canonical order")
    assert(edges.map(e => (e._1, e._2)).distinct.length === edges.length, "duplicate edge")
    edges.foreach { case (_, _, sim) => assert(sim >= -1.0 - 1e-9 && sim <= 1.0 + 1e-9) }
    // mutuality caps degree at K: a node's mutual edges are a subset of
    // its own top-K list
    val degree = (edges.map(_._1) ++ edges.map(_._2))
      .groupBy(identity).map(_._2.length)
    assert(degree.max <= VectorOps.KnnGraphK, s"degree ${degree.max} exceeds K")
    val label = graft.model.Tables.embeddings(spark, sf001)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(edges.forall { case (s, d, _) => label(s) == label(d) },
      "edge crosses label cells — the blocking is broken")
  }

  test("pcaPower: unit loadings; lambda beats every single-axis variance and is monotone in rounds") {
    val rows = VectorOps.pcaPower(spark, sf001).collect()
    assert(rows.length === 64)
    val norm2 = rows.map(r => r.getDouble(1) * r.getDouble(1)).sum
    assert(math.abs(norm2 - 1.0) < 1e-4, s"loadings norm^2 $norm2")
    val lam3 = rows.head.getDouble(2)
    // the iterate must explain at least as much variance as any raw axis
    val maxAxisVar = VectorOps.dimStats(spark, sf001).collect()
      .map(r => math.pow(r.getDouble(3), 2)).max
    assert(lam3 >= maxAxisVar - 1e-6, s"lambda $lam3 vs max axis var $maxAxisVar")
    // Rayleigh quotient is non-decreasing along power iteration
    val lam1 = VectorOps.pcaPowerOf(spark, sf001, 1).collect().head.getDouble(2)
    assert(lam3 >= lam1 - 1e-6, s"lambda must not decrease: $lam1 -> $lam3")
  }

  test("pcaScores: 20 rows ranked by |projection|, consistent with the component's scale") {
    val rows = VectorOps.pcaScores(spark, sf001).collect()
    assert(rows.length === 20)
    val absScores = rows.map(r => math.abs(r.getDouble(1)))
    assert(absScores.sliding(2).forall(p => p(0) >= p(1) - 1e-9), "must be |score|-descending")
    assert(absScores.head > 0.0, "top projection must be non-trivial")
  }

  test("PQ knn: trained codebooks, full k, and useful ADC recall vs brute force") {
    // init slices must tile the label centroid exactly (the deterministic seed)
    val init = VectorOps.pqCodebooksInit(spark, sf001)
    val cent0 = VectorOps.allLabelCentroids(spark, sf001)(0)
    assert(init.map(_(0)).flatten === cent0)
    // Lloyd training keeps the shape and actually moves entries
    val books = VectorOps.pqCodebooks(spark, sf001)
    assert(books.size === VectorOps.PqSubspaces)
    assert(books.forall(_.size === VectorOps.PqCodebookSize))
    assert(books.forall(_.forall(_.size === VectorOps.PqSubDim)))
    assert(books !== init, "training left every codebook entry at its seed")
    val pq = VectorOps.knnPq(spark, sf001).collect()
    assert(pq.length === 20)
    val sims = pq.map(_.getDouble(3)).toSeq
    assert(sims === sims.sorted(Ordering[Double].reverse))
    val brute = VectorOps.knnCosine(spark, sf001).collect().map(_.getLong(0)).toSet
    val overlap = pq.map(_.getLong(0)).count(brute.contains)
    info(s"PQ recall@20 vs brute force: $overlap/20")
    // 24-bit codes + 100-candidate re-rank: require a conservative half so
    // data refreshes don't flake (measured values live in the scaladoc)
    assert(overlap >= 10, s"PQ found only $overlap/20 of the brute-force top-20")
  }

  test("ivfDelta: delta mass conserved, drift stats null-honest, training stats match clusterQuality") {
    val rows = VectorOps.ivfDelta(spark, sf001).collect()
    // one row per trained cluster, every cluster from the memoized index
    val cq = VectorOps.clusterQuality(spark, sf001).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(rows.map(_.getInt(0)).toSet === cq.keySet)
    // training-side columns agree with the clusterQuality report exactly
    rows.foreach { r =>
      val (nTrain, meanD2) = cq(r.getInt(0))
      assert(r.getLong(1) === nTrain)
      assert(r.getDouble(2) === meanD2)
    }
    // the delta batch (every 7th vec) lands somewhere, exactly once each
    val expected = graft.model.Tables.embeddings(spark, sf001)
      .where(col("vec_id") % VectorOps.IvfDeltaMod === VectorOps.IvfDeltaRem).count()
    assert(rows.map(_.getLong(3)).sum === expected)
    // stats are null exactly when the cluster received no delta vectors;
    // where present, the ranked median lies within the d2 mass (>= 0)
    rows.foreach { r =>
      val n = r.getLong(3)
      assert((n == 0L) === r.isNullAt(4), s"mean_d2_delta nullness vs n_delta=$n")
      assert((n == 0L) === r.isNullAt(5), s"med_d2_delta nullness vs n_delta=$n")
      assert((n == 0L) === r.isNullAt(6), s"drift_ratio nullness vs n_delta=$n")
      if (n > 0) { assert(r.getDouble(4) >= 0.0); assert(r.getDouble(5) >= 0.0) }
    }
  }

  test("pqDelta: one row per subspace, delta mass uniform, code usage within the codebook") {
    val rows = VectorOps.pqDelta(spark, sf001).collect()
    assert(rows.map(_.getInt(0)).toSeq === (0 until VectorOps.PqSubspaces))
    val nDelta = graft.model.Tables.embeddings(spark, sf001)
      .where(col("vec_id") % VectorOps.IvfDeltaMod === VectorOps.IvfDeltaRem).count()
    val nTrain = graft.model.Tables.embeddings(spark, sf001).count()
    rows.foreach { r =>
      // every vector contributes one subvector to EVERY subspace
      assert(r.getLong(1) === nTrain)
      assert(r.getLong(3) === nDelta)
      assert(r.getDouble(2) >= 0.0) // reconstruction error is a distance
      val used = r.getLong(5)
      assert(used >= 1L && used <= VectorOps.PqCodebookSize)
      // the +0.25/dim shift moves the batch off the trained manifold —
      // reconstruction error must not IMPROVE under drifted data
      assert(r.getDouble(6) >= 1.0, s"drift_ratio ${r.getDouble(6)} < 1 on a shifted batch")
    }
  }

  test("residual IVF-PQ: distinct books, per-cell LUTs, recall measured against raw") {
    import graft.vec.VectorOps
    val res = VectorOps.knnIvfPqRes(spark, sf001).collect()
    assert(res.length === 20)
    // residual books are a DIFFERENT model from the raw books (they
    // quantize vec − cellCentroid, not vec)
    assert(VectorOps.pqResidualCodebooks(spark, sf001) !=
      VectorOps.pqCodebooks(spark, sf001))
    // every returned row sits in a probed cell and carries a finite ADC
    assert(res.forall(r => !r.isNullAt(3)))
    // the recall harness measures the residual method alongside raw —
    // on THIS corpus residuals are isotropic (see the scaladoc), so the
    // assertion is presence + sanity, not superiority
    val rec = VectorOps.annRecall(spark, sf001).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(rec.contains("ivfpq_res"))
    assert(rec("ivfpq_res") >= 10L, s"residual recall collapsed: ${rec("ivfpq_res")}/20")
  }
}
