package graft

import graft.etl.{Dims, Normalize}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based checks (SURVEY.md §5.2 item 3) using ScalaCheck's own
  * runner (no scalatestplus bridge in the offline cache). Spark evaluation
  * per trial is expensive, so properties batch all generated cases into ONE
  * DataFrame pass.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def check(p: Prop, trials: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(trials), p)
    assert(res.passed, res.status.toString)
  }

  /** Render a double (2dp) in pt-BR format with thousands separators. */
  private def ptBr(cents: Long): String = {
    val neg = cents < 0
    val abs = math.abs(cents)
    val intPart = abs / 100
    val frac = abs % 100
    val grouped = intPart.toString.reverse.grouped(3).mkString(".").reverse
    (if (neg) "-" else "") + grouped + f",$frac%02d"
  }

  test("property: pt-BR format → parse round-trips exactly (batched)") {
    val gen = Gen.chooseNum(-999999999L, 999999999L)
    val cases = Gen.listOfN(300, gen).sample.get.distinct
    val parsed = cases.map(ptBr).toDF("s")
      .select(Normalize.ptBrNumber("s").as("v")).as[Double].collect()
    assert(parsed.toSeq === cases.map(_ / 100.0))
  }

  test("property: top-k is a prefix of the full sort, for any k") {
    val data = Gen.listOfN(200, Gen.chooseNum(-1000, 1000)).sample.get.zipWithIndex
    val df = data.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val full = df.orderBy(desc("v"), asc("id")).select("id").as[Long].collect().toSeq
    check(Prop.forAll(Gen.chooseNum(0, 50)) { k =>
      val topk = df.orderBy(desc("v"), asc("id")).limit(k).select("id").as[Long].collect().toSeq
      topk == full.take(k)
    }, trials = 10)
  }

  test("property: bigram heavy-hitters two-pass == naive string top-k, incl. tie-heavy corpora") {
    import graft.text.TextOps
    // tiny vocab → massive count ties at every boundary; exercises the
    // candidate path AND the tie-overflow fallback (small candidateWindow)
    val word = Gen.oneOf("a", "b", "c", "d")
    val doc = Gen.chooseNum(0, 6).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    (1 to 5).foreach { trial =>
      val docs = Gen.listOfN(60, doc).sample.get.toDF("text")
      // independent naive reference: explode + string groupBy + ordered top-k
      val naive = docs.select(split(col("text"), " ").as("t"))
        .select(explode(expr(
          "CASE WHEN size(t) >= 2 THEN transform(sequence(0, size(t) - 2), i -> concat_ws(' ', t[i], t[i+1])) ELSE array() END"))
          .as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("bigram")).limit(5)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      Seq(6, 8, 100).foreach { window =>
        val fast = TextOps.bigramTopK(docs, 5, candidateWindow = window)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        assert(fast === naive, s"trial $trial window $window")
      }
    }
  }

  test("property: exact dedup is a fixpoint — dedup(dedup(x)) == dedup(x)") {
    val texts = Gen.listOfN(120, Gen.oneOf("aa", "bb", "cc", "dd", "ee")).sample.get
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val once = df.groupBy("text").agg(min($"doc_id").as("doc_id"))
    val twice = once.groupBy("text").agg(min($"doc_id").as("doc_id"))
    assert(once.orderBy("doc_id").collect().toSeq === twice.orderBy("doc_id").collect().toSeq)
  }

  test("property: as-of join matches a brute-force reference, including ts ties") {
    // small ts domain on purpose: forces click/purchase ts collisions, the
    // case the <= (inclusive) semantics must get right
    val gen = for {
      id <- Gen.chooseNum(1L, 10000L)
      user <- Gen.chooseNum(1L, 5L)
      t <- Gen.chooseNum(0L, 20L)
      kind <- Gen.oneOf("click", "purchase", "view")
    } yield (id, user, t, kind)
    val events = Gen.listOfN(150, gen).sample.get
      .distinctBy(_._1) // unique event ids
    val df = events.toDF("event_id", "user_id", "t", "event_type")
      .withColumn("ts", expr("timestamp_seconds(t)"))
      .select("event_id", "user_id", "ts", "event_type")
    df.createOrReplaceTempView("prop_events")
    // the production operator, re-expressed over this view
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy(col("ts"), when(col("event_type") === "click", 0).otherwise(1), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val got = df.where(col("event_type").isin("click", "purchase"))
      .withColumn("prev_click_ts", max(when(col("event_type") === "click", col("ts"))).over(w))
      .where(col("event_type") === "purchase")
      .select("event_id", "prev_click_ts")
      .collect().map(r => r.getLong(0) -> Option(r.getTimestamp(1)).map(_.getTime)).toMap
    // brute force in plain Scala
    val clicks = events.filter(_._4 == "click")
    val expected = events.filter(_._4 == "purchase").map { case (id, u, t, _) =>
      val prior = clicks.filter(c => c._2 == u && c._3 <= t).map(_._3)
      id -> (if (prior.isEmpty) None else Some(prior.max * 1000L))
    }.toMap
    assert(got === expected)
  }

  test("property: components (pointer-doubled) match brute-force union-find on random graphs") {
    // random sparse graphs exercise shapes the fixed fixtures don't:
    // several components, cycles, chains, and high-degree hubs mixed.
    // One Spark run per graph; labels must equal a driver-side union-find.
    val gen = for {
      n <- Gen.chooseNum(2, 60)
      m <- Gen.chooseNum(1, 90)
      edges <- Gen.listOfN(m, Gen.zip(Gen.chooseNum(0L, n - 1L), Gen.chooseNum(0L, n - 1L)))
    } yield edges.filter { case (a, b) => a != b }
    val graphs = Gen.listOfN(8, gen).sample.get.filter(_.nonEmpty)
    graphs.foreach { edges =>
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // union-find roots are not canonical min-ids; normalize per root
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expected = nodes.groupBy(find).flatMap { case (_, ns) =>
        val m = ns.min; ns.map(_ -> m)
      }.toMap
      val got = graft.graph.Components
        .connectedComponents(edges.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"graph with ${edges.size} edges diverged")
      assert(graft.graph.Components.converged)
    }
  }

  test("property: get-or-create never duplicates and never loses keys") {
    val existing = Seq((1L, "k1"), (2L, "k2")).toDF("id", "nome")
    val keys = Gen.listOfN(100, Gen.oneOf("k1", "k2", "k3", "k4", "k5", "k6")).sample.get
    val out = Dims.getOrCreate(existing, keys.toDF("nome"), "nome")
    val names = out.select("nome").as[String].collect().toSeq
    assert(names.distinct.sorted === (keys :+ "k1" :+ "k2").distinct.sorted)
    assert(names.length === names.distinct.length)
    val ids = out.select("id").as[Long].collect().toSeq
    assert(ids.length === ids.distinct.length)
  }

  test("property: RangedCumsum == the naive global window, tie-heavy data, asc and desc") {
    import graft.plans.RangedCumsum
    // few distinct values → many order ties, the hazard for range cuts
    val gen = for {
      v <- Gen.chooseNum(0, 9)
      w <- Gen.chooseNum(1L, 20L)
    } yield (v.toDouble / 4.0, w)
    val data = Gen.listOfN(400, gen).sample.get.zipWithIndex
      .map { case ((v, wt), i) => (i.toLong, v, wt) }
    val df = data.toDF("id", "v", "wt")
    for (descending <- Seq(false, true)) {
      val ord = if (descending) Seq(desc("v"), asc("id")) else Seq(asc("v"), asc("id"))
      val naiveW = org.apache.spark.sql.expressions.Window.orderBy(ord: _*)
        .rowsBetween(Long.MinValue, 0)
      val naive = df.withColumn("cum", sum(col("wt")).over(naiveW))
        .select("id", "cum").as[(Long, Long)].collect().toMap
      val (ranked, total) = RangedCumsum.withGlobalCumsum(
        df, "v", "id", col("wt"), "cum", descending = descending, nProbes = 8)
      val got = ranked.select("id", "cum").as[(Long, Long)].collect().toMap
      assert(got === naive, s"descending=$descending")
      assert(total === data.map(_._3).sum)
      // weight 1 ⇒ the cumsum IS the global rank; NTILE formula vs ntile()
      val (rk, n) = RangedCumsum.withGlobalCumsum(
        df, "v", "id", lit(1L), "rk", descending = descending, nProbes = 8)
      val buckets = rk.withColumn("b", RangedCumsum.ntileFromRank("rk", n, 7))
        .select("id", "b").as[(Long, Long)].collect().toMap
      val ntiles = df.withColumn("b",
        ntile(7).over(org.apache.spark.sql.expressions.Window.orderBy(ord: _*)).cast("long"))
        .select("id", "b").as[(Long, Long)].collect().toMap
      assert(buckets === ntiles, s"NTILE parity, descending=$descending")
    }
  }

  test("property: CHECK predicate eval matches Spark SQL three-valued semantics (batched)") {
    import graft.sources.SinkConstraint
    import org.apache.spark.sql.types._
    // the constraint feature's load-bearing claim: the write-path
    // evaluator (per-InternalRow, executor-side) and Spark SQL agree on
    // VIOLATED (predicate IS FALSE) for every predicate in the grammar —
    // including NULL propagation, Kleene NOT/AND/OR, cross-type numeric
    // coercion (bigint/int/double vs integer and decimal literals) and
    // binary string comparison
    val table = StructType(Seq(
      StructField("doc_id", LongType), StructField("shard", IntegerType),
      StructField("body", StringType), StructField("score", DoubleType)))
    val ops = Gen.oneOf("=", "<>", "!=", "<", "<=", ">", ">=")
    val numLit = Gen.oneOf(
      Gen.chooseNum(-5L, 5L).map(_.toString),
      Gen.chooseNum(-50, 50).map(n => (n / 10.0).toString))
    val strLit = Gen.oneOf("a", "b", "ab", "ba", "").map(s => s"'$s'")
    val leaf: Gen[String] = Gen.frequency(
      5 -> (for { c <- Gen.oneOf("doc_id", "shard", "score"); o <- ops; l <- numLit }
        yield s"$c $o $l"),
      3 -> (for { o <- ops; l <- strLit } yield s"body $o $l"),
      2 -> Gen.oneOf("score IS NULL", "score IS NOT NULL", "body IS NOT NULL"))
    def tree(depth: Int): Gen[String] =
      if (depth == 0) leaf
      else Gen.frequency(
        3 -> leaf,
        2 -> (for { a <- tree(depth - 1); b <- tree(depth - 1)
                    j <- Gen.oneOf("AND", "OR") } yield s"($a $j $b)"),
        1 -> tree(depth - 1).map(p => s"NOT ($p)"))
    val preds = Gen.listOfN(60, tree(2)).sample.get.distinct
    val rowGen = for {
      id <- Gen.chooseNum(-5L, 5L)
      sh <- Gen.chooseNum(-2, 17)
      b <- Gen.oneOf("a", "b", "ab", "ba", "", "c")
      sc <- Gen.option(Gen.chooseNum(-50, 50).map(_ / 10.0))
    } yield (id, sh, b, sc)
    val rows = Gen.listOfN(80, rowGen).sample.get
    val df = rows.toDF("doc_id", "shard", "body", "score")
    // ONE Spark pass: every predicate as a violated-iff-FALSE column
    val sparkViolated = df.select(
      preds.zipWithIndex.map { case (p, i) =>
        (expr(s"($p)") <=> lit(false)).as(s"p$i")
      }: _*).collect()
    val local = preds.map(p => SinkConstraint.compile(p, table))
    rows.zipWithIndex.foreach { case ((id, sh, b, sc), r) =>
      val get: Int => Any = {
        case 0 => id
        case 1 => sh
        case 2 => b
        case 3 => sc.map(Double.box).orNull
      }
      preds.indices.foreach { i =>
        val mine = local(i)(get).contains(false)
        val theirs = sparkViolated(r).getBoolean(i)
        assert(mine === theirs,
          s"predicate '${preds(i)}' on row (doc_id=$id, shard=$sh, body='$b', " +
            s"score=$sc): write-path violated=$mine, Spark SQL violated=$theirs")
      }
    }
  }
}
