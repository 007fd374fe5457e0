package graft

import graft.functions.GraftNgrams
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Micro-benchmark: interpreted HOF n-gram composition
  * (`transform(sequence(...), i -> concat_ws(' ', t[i], ...))`) vs the
  * fused codegen'd [[graft.functions.GraftNgrams]] loop, on a synthetic
  * corpus large enough that the SCAN — not fixed job overhead — binds,
  * which is the regime every shingle/bigram operator lives in at real
  * scale (the checked sf0.1 corpus is far below it).
  * Run: sbt "runMain graft.NgramBench [nRows] [tokensPerDoc]".
  */
object NgramBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 2000000L
    val toks = if (args.length > 1) args(1).toInt else 40
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ~`toks` pseudo-word tokens per row, distinct enough to defeat
    // dictionary tricks; materialize the TOKEN ARRAY via a cheap split so
    // both candidates start from the same column shape the operators use
    val docs = spark.range(n).select(
      split(concat_ws(" ",
        (0 until toks).map(i => conv((col("id") * 31 + i).cast("string"), 10, 36)): _*), " ")
        .as("t"))

    // the pre-round-20 composition, verbatim
    def hofNgrams(t: Column, k: Int): Column =
      when(size(t) >= k,
        transform(sequence(lit(0), size(t) - k), i =>
          concat_ws(" ", (0 until k).map(j => element_at(t, i + j + 1)): _*)))
        .otherwise(array().cast("array<string>"))

    def time(name: String, c: => Column): Double = {
      // count + max(length) over the exploded n-grams: forces every string
      // to materialize without shuffling them (partial agg only). A FRESH
      // DataFrame per rep — re-collecting one Dataset would reuse its
      // AQE-materialized stages and time nothing.
      def df = docs.select(explode(c).as("g")).agg(count(lit(1)), max(length(col("g"))))
      val r = df.collect()(0) // warm: plan + JIT
      val sec = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.collect()
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"$name%-12s $sec%8.3f s   (ngrams ${r.getLong(0)}, maxlen ${r.getInt(1)})")
      sec
    }

    for (k <- Seq(2, 3)) {
      val h = time(s"hof n=$k", hofNgrams(col("t"), k))
      val f = time(s"fused n=$k", GraftNgrams.ngrams(col("t"), k))
      println(f"n=$k: fused is ${h / f}%.2fx the HOF path on $n rows x $toks tokens")
    }

    // ---- scan-side minhash: HOF composition vs graft.functions.GraftMinhash
    // (the pre-round-20 Dedup.rowMinhashSig body, verbatim)
    def hofMinhash(t: Column): Column = {
      val seedMod = 1152921504606846976L // 2^60
      val seedMask = 36028797018963968L // 2^55
      val digests = transform(hofNgrams(t, 3), sh => md5(sh.cast("binary")))
      val pairs = transform(digests, m =>
        struct(
          conv(substring(m, 1, 15), 16, 10).cast("long").as("h"),
          (conv(substring(m, 16, 15), 16, 10).cast("long") % lit(seedMask)).as("h2m")))
      val seeds = typedLit((0L until 32L).toSeq)
      val perShingle = transform(pairs, p =>
        transform(seeds, s => (p.getField("h") + s * p.getField("h2m")) % lit(seedMod)))
      val folded = aggregate(
        perShingle,
        typedLit(Seq.fill(32)(Long.MaxValue)),
        (acc, v) => zip_with(acc, v, (a, b) => least(a, b)))
      when(size(digests) > 0, folded).otherwise(lit(null).cast("array<bigint>"))
    }

    def timeSig(name: String, c: => Column): Double = {
      def df = docs.select(c.as("sig"))
        .agg(count(lit(1)), min(element_at(col("sig"), 1)))
      df.collect() // warm
      val sec = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.collect()
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"$name%-12s $sec%8.3f s")
      sec
    }
    val hs = timeSig("hof sig", hofMinhash(col("t")))
    val fs = timeSig("fused sig", graft.functions.GraftMinhash.minhash(col("t"), 3, 32))
    println(f"minhash: fused is ${hs / fs}%.2fx the HOF path on $n rows x $toks tokens")

    // ---- bigram struct pairs: HOF composition vs graft.functions.GraftBigrams
    // (the pre-round-21 TextOps.bigramLm lambda, verbatim)
    def hofBigrams(t: Column): Column =
      when(size(t) >= 2,
        transform(sequence(lit(0), size(t) - 2), i =>
          struct(element_at(t, i + 1).as("w1"), element_at(t, i + 2).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))

    def timePairs(name: String, c: => Column): Double = {
      // explode + count/max over both members: forces every pair struct to
      // materialize without shuffling it (partial agg only)
      def df = docs.select(explode(c).as("b"))
        .agg(count(lit(1)), max(length(col("b.w1"))), max(length(col("b.w2"))))
      df.collect() // warm
      val sec = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.collect()
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"$name%-12s $sec%8.3f s")
      sec
    }
    val hb = timePairs("hof pairs", hofBigrams(col("t")))
    val fb = timePairs("fused pairs", graft.functions.GraftBigrams.bigrams(col("t")))
    println(f"bigrams: fused is ${hb / fb}%.2fx the HOF path on $n rows x $toks tokens")

    // ---- per-row LSH band keys: HOF composition vs graft.functions.GraftBandKeys
    // (the pre-round-21 Dedup.rowBandKeys body, verbatim; both candidates
    // run over the SAME fused signature column, so the delta is the
    // band-key stage alone)
    def hofBandKeys(sig: Column, uniq: Column): Column =
      transform(sequence(lit(0), lit(32 / 4 - 1)), b =>
        when(sig.isNull, concat(b.cast("string"), lit(":uniq:"), uniq))
          .otherwise(concat(
            b.cast("string"), lit(":"),
            md5(concat_ws(":",
              transform(slice(sig, b * lit(4) + 1, lit(4)), v => v.cast("string")))
              .cast("binary")))))

    def timeKeys(name: String, f: (Column, Column) => Column): Double = {
      def df = docs
        .select(
          graft.functions.GraftMinhash.minhash(col("t"), 3, 32).as("sig"),
          md5(concat_ws(" ", col("t")).cast("binary")).as("uniq"))
        .select(explode(f(col("sig"), col("uniq"))).as("bk"))
        .agg(count(lit(1)), max(length(col("bk"))))
      df.collect() // warm
      val sec = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.collect()
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"$name%-12s $sec%8.3f s")
      sec
    }
    val hk = timeKeys("hof keys", hofBandKeys)
    val fk = timeKeys("fused keys", graft.functions.GraftBandKeys.bandKeys(_, _, 32, 4))
    println(f"bandkeys: fused is ${hk / fk}%.2fx the HOF path on $n rows x $toks tokens")

    // ---- LM-pretraining chunks: HOF composition vs graft.functions.GraftChunks
    // (the pre-round-21 TextOps.chunksOf lambda, verbatim, at the shipped
    // 64/56 window — most rows here yield one clipped chunk, so also at a
    // toks-matched window that produces real overlapping chunks)
    def hofChunks(t: Column, size: Int, stride: Int): Column =
      transform(
        sequence(lit(0),
          greatest(ceil((org.apache.spark.sql.functions.size(t) - size) / lit(stride.toDouble)).cast("int"), lit(0))),
        i => slice(t, i * stride + 1, lit(size)))

    def timeChunks(name: String, c: => Column): Double = {
      def df = docs.select(posexplode(c).as(Seq("i", "ch")))
        .agg(count(lit(1)), max(col("i")), max(size(col("ch"))))
      df.collect() // warm
      val sec = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.collect()
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"$name%-12s $sec%8.3f s")
      sec
    }
    for ((cs, st) <- Seq(
        (graft.text.TextOps.ChunkSize, graft.text.TextOps.ChunkStride),
        (math.max(toks / 4, 2), math.max(toks / 8, 1)))) {
      val hc = timeChunks(s"hof chunks $cs/$st", hofChunks(col("t"), cs, st))
      val fc = timeChunks(s"fused chunks $cs/$st", graft.functions.GraftChunks.chunks(col("t"), cs, st))
      println(f"chunks $cs/$st: fused is ${hc / fc}%.2fx the HOF path on $n rows x $toks tokens")
    }

    // NGRAM_PLANS=1: print both projection plans — the committed evidence
    // for plans/r20 (the streaming parity queries' micro-batch plans are
    // not reachable through graft.Probe --explain; this is the same
    // projection their batches run)
    if (sys.env.get("NGRAM_PLANS").contains("1")) {
      println("===== rowminhash projection (HOF composition, pre-round-20) =====")
      docs.select(hofMinhash(col("t")).as("sig")).explain("formatted")
      println("===== rowminhash projection (fused graft_minhash) =====")
      docs.select(graft.functions.GraftMinhash.minhash(col("t"), 3, 32).as("sig"))
        .explain("formatted")
    }
    spark.stop()
  }
}
