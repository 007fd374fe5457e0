package graft.functions

import org.apache.spark.sql.{Column, GraftSqlAccess}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{array, coalesce}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Space-joined word n-grams of a token array — the codegen'd loop form of
  *
  *   CASE WHEN size(t) >= n
  *        THEN transform(sequence(0, size(t) - n),
  *                       i -> concat_ws(' ', t[i], ..., t[i + n - 1]))
  *        ELSE array() END
  *
  * which is the shingle/bigram step under every near-dup, decontamination
  * and n-gram-frequency operator. The HOF composition is CORRECT but
  * interpreted: ArrayTransform evaluates its lambda via the interpreted
  * expression path per ELEMENT (no whole-stage codegen inside the lambda),
  * and `sequence` materializes an index array per row just to drive it.
  * On the corpus scan — the part of these operators that is linear in
  * corpus bytes, i.e. THE cost at 100 TB — that interpreted per-element
  * dispatch is the hot path. This expression replaces the whole
  * composition with one fused, JIT-able loop (the round-9 [[SignBits]]
  * treatment, applied to the text side).
  *
  * Bit-identical to the composition for every input:
  *   - n-gram i = `concat_ws(' ', t[i], ..., t[i+n-1])` — built with the
  *     same [[UTF8String.concatWs]] the builtin's codegen calls, including
  *     its null-element rule (null tokens are SKIPPED, not stringified;
  *     `split` never produces them, but the contract is preserved).
  *   - fewer than `n` tokens → empty array (the CASE's ELSE arm).
  *   - null token array → null here; call sites that need the CASE's
  *     null→empty coercion use [[GraftNgrams.ngrams]], which restores it
  *     with a codegen'd `coalesce`.
  * The DuckDB oracle keeps its own n-gram derivation — same strings, so
  * hash checks are unaffected.
  */
case class GraftNgrams(child: Expression, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(n >= 1, s"graft_ngrams window must be >= 1, got $n")

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_ngrams"

  override protected def nullSafeEval(input: Any): Any = {
    val t = input.asInstanceOf[ArrayData]
    val sz = t.numElements()
    if (sz < n) new GenericArrayData(new Array[Any](0))
    else {
      val out = new Array[Any](sz - n + 1)
      val parts = new Array[UTF8String](n)
      var i = 0
      while (i <= sz - n) {
        var j = 0
        while (j < n) {
          parts(j) = if (t.isNullAt(i + j)) null else t.getUTF8String(i + j)
          j += 1
        }
        out(i) = UTF8String.concatWs(GraftNgrams.Sep, parts: _*)
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => {
      val u8 = "org.apache.spark.unsafe.types.UTF8String"
      val gen = "org.apache.spark.sql.catalyst.util.GenericArrayData"
      val sep = ctx.addReferenceObj("sep", GraftNgrams.Sep, u8)
      val sz = ctx.freshName("sz")
      val out = ctx.freshName("out")
      val parts = ctx.freshName("parts")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      s"""
         |int $sz = $t.numElements();
         |if ($sz < $n) {
         |  ${ev.value} = new $gen(new Object[0]);
         |} else {
         |  Object[] $out = new Object[$sz - ${n - 1}];
         |  $u8[] $parts = new $u8[$n];
         |  for (int $i = 0; $i <= $sz - $n; $i++) {
         |    for (int $j = 0; $j < $n; $j++) {
         |      $parts[$j] = $t.isNullAt($i + $j) ? null : $t.getUTF8String($i + $j);
         |    }
         |    $out[$i] = $u8.concatWs($sep, $parts);
         |  }
         |  ${ev.value} = new $gen($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GraftNgrams {
  private[functions] val Sep: UTF8String = UTF8String.fromString(" ")

  /** Column handle with the original CASE's null contract restored: a null
    * token array yields an EMPTY n-gram array (the ELSE arm — `size(null)`
    * is null, so the CASE fell through). Builds the expression directly
    * (no registry needed at helper call sites); `graft_ngrams` is also
    * registered for SQL use alongside the vector functions.
    */
  def ngrams(t: Column, n: Int): Column =
    coalesce(
      GraftSqlAccess.column(GraftNgrams(GraftSqlAccess.expression(t), n)),
      array().cast("array<string>"))
}

/** Per-row MinHash signature over word n-gram shingles of a token array —
  * the fused loop form of the scan-side composition in
  * `Dedup.rowMinhashSig`:
  *
  *   digests    = transform(ngrams(t, n), sh -> md5(cast(sh as binary)))
  *   (h, h2m)   = (conv(substr(md,1,15),16,10),
  *                 conv(substr(md,16,15),16,10) % 2^55)   per shingle
  *   perShingle = transform(..., 32 of (h + s*h2m) % 2^60)
  *   sig        = aggregate(perShingle, [MaxValue]*32, zip_with(least))
  *   NULL when the doc has no shingles (< n tokens)
  *
  * Four nested higher-order functions, every lambda on the interpreted
  * per-element path, plus a hex-string round-trip (md5 hex → substring →
  * conv → cast) and three intermediate arrays per SHINGLE. On the corpus
  * scan — linear in corpus bytes, the binding cost of streaming near-dup
  * and the delta screens at real scale — this was the last interpreted
  * hot path after [[GraftNgrams]]. The fused loop hashes each shingle's
  * BYTES directly (token bytes joined by 0x20 — exactly the bytes
  * `cast(concat_ws(' ', ...) as binary)` fed md5) and folds the seeded
  * minima in place: no shingle strings, no hex strings, no per-shingle
  * arrays.
  *
  * Bit-parity argument, piece by piece:
  *   - md5 input: concat_ws(' ', tokens) over non-null tokens = their
  *     UTF-8 bytes joined by single spaces (null tokens skipped) — the
  *     update sequence below byte-for-byte.
  *   - `conv(substr(hex,1,15),16,10)` = the digest's top 60 bits = the
  *     first 8 bytes read big-endian, unsigned-shifted right by 4.
  *   - `conv(substr(hex,16,15),16,10)` = digest nibbles 15..29 = (low
  *     nibble of byte 7) << 56 | bytes 8..14 big-endian; both values are
  *     < 2^60 so the long arithmetic and `%` are exact in both engines.
  *   - seeds: (h + s·h2m) % 2^60 with h < 2^60, s ≤ 31, h2m < 2^55 —
  *     max < 2^61, no signed-64 overflow (the same bound the Dedup
  *     scaladoc proves for the batch side; [[GraftMinhash.SeedMod]] /
  *     [[GraftMinhash.SeedMask]] are the single source of truth both
  *     paths share).
  *   - min-fold from Long.MaxValue in shingle order — associative and
  *     commutative, so order is immaterial anyway.
  * NgramsSpec pins equality against the HOF composition verbatim;
  * DedupSpec pins row-vs-batch signature parity as before.
  */
case class GraftMinhash(child: Expression, n: Int, numHashes: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  // numHashes ≤ 64: the no-overflow proof for (h + s·h2m) needs
  // s·h2m + h < 2^63 with h < 2^60, h2m < 2^55 — safe for s ≤ 255, bounded
  // here at 64 (2× the only call site's 32) so the require IS the proof's
  // precondition instead of a convention (ADVICE r20)
  require(n >= 1 && numHashes >= 1 && numHashes <= 64,
    s"graft_minhash bad params ($n, $numHashes): need n >= 1 and " +
      "1 <= numHashes <= 64 (seed arithmetic is overflow-proven only there)")

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash"

  override protected def nullSafeEval(input: Any): Any = {
    val t = input.asInstanceOf[ArrayData]
    val sz = t.numElements()
    if (sz < n) null
    else {
      val md = GraftMinhash.localMd.get()
      val tok = new Array[Array[Byte]](sz)
      var i = 0
      while (i < sz) {
        tok(i) = if (t.isNullAt(i)) null else t.getUTF8String(i).getBytes
        i += 1
      }
      val mins = Array.fill(numHashes)(Long.MaxValue)
      i = 0
      while (i <= sz - n) {
        var first = true
        var j = 0
        while (j < n) {
          val b = tok(i + j)
          if (b != null) {
            if (!first) md.update(' '.toByte)
            md.update(b)
            first = false
          }
          j += 1
        }
        val d = md.digest()
        var top = 0L
        var k = 0
        while (k < 8) { top = (top << 8) | (d(k) & 0xFFL); k += 1 }
        val h = top >>> 4
        var v = (d(7) & 0xFL)
        k = 8
        while (k < 15) { v = (v << 8) | (d(k) & 0xFFL); k += 1 }
        val h2m = v % GraftMinhash.SeedMask
        var s = 0
        while (s < numHashes) {
          val g = (h + s * h2m) % GraftMinhash.SeedMod
          if (g < mins(s)) mins(s) = g
          s += 1
        }
        i += 1
      }
      new GenericArrayData(mins)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val md = ctx.addMutableState(
      "java.security.MessageDigest", "graftMd",
      v => s"""try { $v = java.security.MessageDigest.getInstance("MD5"); }
              |catch (java.security.NoSuchAlgorithmException e) { throw new RuntimeException(e); }
              |""".stripMargin)
    nullSafeCodeGen(ctx, ev, t => {
      val gen = "org.apache.spark.sql.catalyst.util.GenericArrayData"
      val sz = ctx.freshName("sz")
      val tok = ctx.freshName("tok")
      val mins = ctx.freshName("mins")
      val d = ctx.freshName("d")
      val first = ctx.freshName("first")
      val top = ctx.freshName("top")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      val h2m = ctx.freshName("h2m")
      val g = ctx.freshName("g")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val k = ctx.freshName("k")
      val s = ctx.freshName("s")
      s"""
         |int $sz = $t.numElements();
         |if ($sz < $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  byte[][] $tok = new byte[$sz][];
         |  for (int $i = 0; $i < $sz; $i++) {
         |    $tok[$i] = $t.isNullAt($i) ? null : $t.getUTF8String($i).getBytes();
         |  }
         |  long[] $mins = new long[$numHashes];
         |  java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |  for (int $i = 0; $i <= $sz - $n; $i++) {
         |    boolean $first = true;
         |    for (int $j = 0; $j < $n; $j++) {
         |      if ($tok[$i + $j] != null) {
         |        if (!$first) $md.update((byte) ' ');
         |        $md.update($tok[$i + $j]);
         |        $first = false;
         |      }
         |    }
         |    byte[] $d = $md.digest();
         |    long $top = 0L;
         |    for (int $k = 0; $k < 8; $k++) { $top = ($top << 8) | ($d[$k] & 0xFFL); }
         |    long $h = $top >>> 4;
         |    long $v = $d[7] & 0xFL;
         |    for (int $k = 8; $k < 15; $k++) { $v = ($v << 8) | ($d[$k] & 0xFFL); }
         |    long $h2m = $v % ${GraftMinhash.SeedMask}L;
         |    for (int $s = 0; $s < $numHashes; $s++) {
         |      long $g = ($h + $s * $h2m) % ${GraftMinhash.SeedMod}L;
         |      if ($g < $mins[$s]) $mins[$s] = $g;
         |    }
         |  }
         |  ${ev.value} = new $gen($mins);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GraftMinhash {
  /** 2^60 — the seeded-hash modulus (keeps values positive in a signed
    * BIGINT in both engines). Single source of truth: Dedup's batch path
    * derives its constants from here.
    */
  val SeedMod: Long = 1152921504606846976L

  /** 2^55 — h2 is masked below this so `31·h2' + h1 < 2^61` never
    * overflows a signed 64-bit long in EITHER engine.
    */
  val SeedMask: Long = 36028797018963968L

  private[functions] val localMd = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Column handle: per-row minhash signature of a token array (null when
    * fewer than `n` tokens), built directly — no registry needed.
    */
  def minhash(t: Column, n: Int, numHashes: Int): Column =
    GraftSqlAccess.column(GraftMinhash(GraftSqlAccess.expression(t), n, numHashes))
}

/** The top `nibbles`·4 bits of a string's md5 digest, fused: read
  * straight off the digest BYTES — bit-identical to the composition it
  * replaces,
  *
  *   conv(substring(md5(cast(c as binary)), 1, nibbles), 16, 10) :: long
  *
  * because the first `nibbles` hex chars of the digest ARE its top
  * 4·nibbles bits: the first 8 bytes read big-endian, unsigned-shifted
  * right by (64 − 4·nibbles); with nibbles ≤ 15 the value is < 2^60, so
  * the signed long is non-negative and `conv`'s unsigned parse agrees.
  * The composition pays a 32-char hex string, a substring, and
  * NumberConverter's char-by-char base conversion per VALUE — and at
  * nibbles = 15 this is `TextOps.md5Hash60`, called per TOKEN (rolling
  * fingerprints, k-gram hashes, simhash contributions) and per K-token
  * WINDOW (span dedup); at nibbles = 4 it is the samplers' 16-bit
  * bucket, per document. At corpus scale both are pure scan-side
  * overhead. Profiling the delta screens showed
  * `NumberConverter.byte2char/char2byte/convert` among the hottest
  * sampled frames. The DuckDB twins (`md5Hash60Sql`, the samplers'
  * `('0x' || substr(md5(...),1,4))::BIGINT`) are untouched — same
  * values, hash checks unaffected.
  */
case class GraftMd5Top(child: Expression, nibbles: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(nibbles >= 1 && nibbles <= 15,
    s"graft_md5top nibbles must be 1..15 (a positive signed long), got $nibbles")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_md5top"

  private def shift: Int = 64 - 4 * nibbles

  override protected def nullSafeEval(input: Any): Any = {
    val d = GraftMinhash.localMd.get().digest(input.asInstanceOf[UTF8String].getBytes)
    var top = 0L
    var k = 0
    while (k < 8) { top = (top << 8) | (d(k) & 0xFFL); k += 1 }
    top >>> shift
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val md = ctx.addMutableState(
      "java.security.MessageDigest", "graftMd",
      v => s"""try { $v = java.security.MessageDigest.getInstance("MD5"); }
              |catch (java.security.NoSuchAlgorithmException e) { throw new RuntimeException(e); }
              |""".stripMargin)
    nullSafeCodeGen(ctx, ev, t => {
      val d = ctx.freshName("d")
      val top = ctx.freshName("top")
      val k = ctx.freshName("k")
      s"""
         |byte[] $d = $md.digest($t.getBytes());
         |long $top = 0L;
         |for (int $k = 0; $k < 8; $k++) { $top = ($top << 8) | ($d[$k] & 0xFFL); }
         |${ev.value} = $top >>> $shift;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Bit length of a non-negative long — the fused form of the
  * base-conversion round-trip `length(conv(cast(v as string), 10, 2))`
  * (decimal string → NumberConverter parse → binary STRING → length)
  * the surprisal operators used per vocab/LM row. Contract matches the
  * composition exactly on its whole domain: v > 0 → ⌊log2 v⌋ + 1
  * (= 64 − numberOfLeadingZeros); v = 0 → 1 (conv renders "0");
  * v < 0 → 64 (NumberConverter renders the unsigned two's-complement,
  * 64 binary digits) — negatives cannot occur at the call sites (counts
  * ≥ 1) but the twin must not drift on ANY input.
  */
case class GraftBitLen(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_bitlen"

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[Long]
    if (v < 0L) 64L
    else if (v == 0L) 1L
    else (64 - java.lang.Long.numberOfLeadingZeros(v)).toLong
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      s"""
         |${ev.value} = ($v < 0L) ? 64L
         |  : (($v == 0L) ? 1L : (long) (64 - java.lang.Long.numberOfLeadingZeros($v)));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Both 60-bit halves of a string's md5 digest as `struct<h, h2m>` — the
  * per-shingle input of the batch minhash family ([[GraftMinhash]]'s
  * scaladoc carries the byte-for-byte equivalence of each half to its
  * hex-substring/`conv` original; `h2m` is pre-masked `% 2^55` exactly as
  * `Dedup.shingleHashed` did). One digest, zero hex strings, and the
  * struct sits in its own projection at the call site so both halves
  * come from a single computation, as before.
  */
case class GraftMd5Halves(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("h", LongType, nullable = false),
    StructField("h2m", LongType, nullable = false)))
  override def prettyName: String = "graft_md5halves"

  override protected def nullSafeEval(input: Any): Any = {
    val d = GraftMinhash.localMd.get().digest(input.asInstanceOf[UTF8String].getBytes)
    var top = 0L
    var k = 0
    while (k < 8) { top = (top << 8) | (d(k) & 0xFFL); k += 1 }
    var v = (d(7) & 0xFL)
    k = 8
    while (k < 15) { v = (v << 8) | (d(k) & 0xFFL); k += 1 }
    new GenericInternalRow(Array[Any](top >>> 4, v % GraftMinhash.SeedMask))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val md = ctx.addMutableState(
      "java.security.MessageDigest", "graftMd",
      v => s"""try { $v = java.security.MessageDigest.getInstance("MD5"); }
              |catch (java.security.NoSuchAlgorithmException e) { throw new RuntimeException(e); }
              |""".stripMargin)
    nullSafeCodeGen(ctx, ev, t => {
      val gir = "org.apache.spark.sql.catalyst.expressions.GenericInternalRow"
      val d = ctx.freshName("d")
      val top = ctx.freshName("top")
      val v = ctx.freshName("v")
      val k = ctx.freshName("k")
      s"""
         |byte[] $d = $md.digest($t.getBytes());
         |long $top = 0L;
         |for (int $k = 0; $k < 8; $k++) { $top = ($top << 8) | ($d[$k] & 0xFFL); }
         |long $v = $d[7] & 0xFL;
         |for (int $k = 8; $k < 15; $k++) { $v = ($v << 8) | ($d[$k] & 0xFFL); }
         |${ev.value} = new $gir(new Object[] {
         |  java.lang.Long.valueOf($top >>> 4),
         |  java.lang.Long.valueOf($v % ${GraftMinhash.SeedMask}L) });
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Word-bigram `(w1, w2)` struct pairs of a token array — the codegen'd
  * loop form of the interpreted HOF composition under the bigram LM
  * operators (`TextOps.bigramLm`, `CurationOps.bigramSurprisal`):
  *
  *   CASE WHEN size(t) >= 2
  *        THEN transform(sequence(0, size(t) - 2),
  *                       i -> struct(t[i] AS w1, t[i+1] AS w2))
  *        ELSE array() END
  *
  * (bigramSurprisal's 1-based `sequence(1, size(t)-1), j ->
  * struct(element_at(t, j), element_at(t, j+1))` spelling enumerates the
  * identical adjacent pairs.) Same interpreted-lambda cost profile as the
  * pre-round-20 n-gram scan ([[GraftNgrams]] scaladoc): ArrayTransform
  * dispatches the struct lambda per ELEMENT on the interpreted path and
  * `sequence` materializes an index array per row. Bit-identical by
  * construction: pair i is exactly (t[i], t[i+1]) — the element REFERENCES,
  * no string surgery at all — with fewer than 2 tokens → empty array, null
  * array → null here ([[GraftBigrams.bigrams]] restores the CASE's
  * null→empty coercion with a codegen'd `coalesce`, as
  * [[GraftNgrams.ngrams]] does).
  */
case class GraftBigrams(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(GraftBigrams.PairType, containsNull = false)
  override def prettyName: String = "graft_bigrams"

  override protected def nullSafeEval(input: Any): Any = {
    val t = input.asInstanceOf[ArrayData]
    val sz = t.numElements()
    if (sz < 2) new GenericArrayData(new Array[Any](0))
    else {
      val out = new Array[Any](sz - 1)
      var prev: Any = if (t.isNullAt(0)) null else t.getUTF8String(0)
      var i = 1
      while (i < sz) {
        val cur: Any = if (t.isNullAt(i)) null else t.getUTF8String(i)
        out(i - 1) = new GenericInternalRow(Array[Any](prev, cur))
        prev = cur
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => {
      val gen = "org.apache.spark.sql.catalyst.util.GenericArrayData"
      val gir = "org.apache.spark.sql.catalyst.expressions.GenericInternalRow"
      val sz = ctx.freshName("sz")
      val out = ctx.freshName("out")
      val prev = ctx.freshName("prev")
      val cur = ctx.freshName("cur")
      val i = ctx.freshName("i")
      s"""
         |int $sz = $t.numElements();
         |if ($sz < 2) {
         |  ${ev.value} = new $gen(new Object[0]);
         |} else {
         |  Object[] $out = new Object[$sz - 1];
         |  Object $prev = $t.isNullAt(0) ? null : $t.getUTF8String(0);
         |  for (int $i = 1; $i < $sz; $i++) {
         |    Object $cur = $t.isNullAt($i) ? null : $t.getUTF8String($i);
         |    $out[$i - 1] = new $gir(new Object[] { $prev, $cur });
         |    $prev = $cur;
         |  }
         |  ${ev.value} = new $gen($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GraftBigrams {
  /** The pair schema — field nullability matches the composition's
    * `t[i]`/`element_at` (nullable element access).
    */
  val PairType: StructType = StructType(Seq(
    StructField("w1", StringType), StructField("w2", StringType)))

  /** Column handle with the CASE's null contract restored: a null token
    * array yields an EMPTY pair array (the ELSE arm — `size(null)` is
    * null, so the CASE fell through).
    */
  def bigrams(t: Column): Column =
    coalesce(
      GraftSqlAccess.column(GraftBigrams(GraftSqlAccess.expression(t))),
      array().cast(ArrayType(PairType, containsNull = false)))
}

/** Fixed-size sliding token windows (LM pretraining chunks) — the
  * codegen'd loop form of `TextOps.chunksOf`'s interpreted composition:
  *
  *   transform(sequence(0, greatest(cast(ceil((size(t) - size) / stride.0)
  *                                       as int), 0)),
  *             i -> slice(t, i * stride + 1, size))
  *
  * Chunk count and clipping replicate the composition exactly:
  * `greatest(ceil((sz - size) / stride), 0) + 1` chunks (so even an
  * empty/short token array yields its one, possibly short or empty,
  * window — `ceil` on a negative quotient clamps through `greatest`;
  * the SQL's `stride.0` literal made that division DECIMAL — the loop's
  * double division provably agrees on the whole int domain, because the
  * exact quotient is either an integer, which both arithmetics render
  * exactly, or at least 1/stride away from one, far beyond either
  * representation's ≤1e-8 rounding error at int-range token counts),
  * chunk i = elements [i·stride, i·stride + size) clipped to the array
  * end, empty when the start lies beyond it (Spark's `slice` contract).
  * Null array → null here; [[GraftChunks.chunks]] restores the
  * composition's null behavior (`greatest(null, 0)` = 0 → sequence [0] →
  * `slice(null, ...)` = null → ONE null chunk) with a codegen'd
  * `coalesce` to `array(null)`.
  */
case class GraftChunks(child: Expression, size: Int, stride: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(size >= 1 && stride >= 1,
    s"graft_chunks needs size >= 1 and stride >= 1, got ($size, $stride)")

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType =
    ArrayType(ArrayType(StringType), containsNull = false)
  override def prettyName: String = "graft_chunks"

  override protected def nullSafeEval(input: Any): Any = {
    val t = input.asInstanceOf[ArrayData]
    val sz = t.numElements()
    val n = math.max(math.ceil((sz - size) / stride.toDouble).toInt, 0) + 1
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val from = i * stride
      val len = math.max(math.min(size, sz - from), 0)
      val chunk = new Array[Any](len)
      var j = 0
      while (j < len) {
        chunk(j) = if (t.isNullAt(from + j)) null else t.getUTF8String(from + j)
        j += 1
      }
      out(i) = new GenericArrayData(chunk)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => {
      val gen = "org.apache.spark.sql.catalyst.util.GenericArrayData"
      val sz = ctx.freshName("sz")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val from = ctx.freshName("from")
      val len = ctx.freshName("len")
      val chunk = ctx.freshName("chunk")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      s"""
         |int $sz = $t.numElements();
         |int $n = Math.max((int) Math.ceil(($sz - $size) / (double) $stride), 0) + 1;
         |Object[] $out = new Object[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  int $from = $i * $stride;
         |  int $len = Math.max(Math.min($size, $sz - $from), 0);
         |  Object[] $chunk = new Object[$len];
         |  for (int $j = 0; $j < $len; $j++) {
         |    $chunk[$j] = $t.isNullAt($from + $j) ? null : $t.getUTF8String($from + $j);
         |  }
         |  $out[$i] = new $gen($chunk);
         |}
         |${ev.value} = new $gen($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GraftChunks {
  /** Column handle with the composition's null contract restored: a null
    * token array yields ONE null chunk (see the class scaladoc — the
    * `greatest(null, 0)`/`slice(null)` arm of the original).
    */
  def chunks(t: Column, size: Int, stride: Int): Column =
    coalesce(
      GraftSqlAccess.column(GraftChunks(GraftSqlAccess.expression(t), size, stride)),
      array(org.apache.spark.sql.functions.lit(null).cast(ArrayType(StringType))))
}

/** Per-row LSH band keys over a minhash signature — the codegen'd loop
  * form of `Dedup.rowBandKeys`'s interpreted composition:
  *
  *   transform(sequence(0, numHashes/bandSize - 1), b ->
  *     CASE WHEN sig IS NULL
  *          THEN concat(b, ':uniq:', uniq)
  *          ELSE concat(b, ':',
  *                 md5(cast(concat_ws(':',
  *                   transform(slice(sig, b*bandSize + 1, bandSize),
  *                             v -> cast(v as string))) as binary))) END)
  *
  * Per ROW that composition pays, per band: a slice array, a transform
  * array of per-value decimal strings, a concat_ws string, a binary-cast
  * copy, an md5 hex STRING and a final concat — every lambda on the
  * interpreted path. The fused loop renders the band's longs straight
  * into one builder, digests the bytes, and hex-encodes once.
  *
  * Bit-parity, clause by clause:
  *   - `cast(v as string)` of a long = `Long.toString` (both engines'
  *     decimal rendering); the joined text is pure ASCII, so the
  *     `cast(string as binary)` UTF-8 bytes are the ASCII bytes fed to
  *     md5 below.
  *   - `concat_ws` skips NULL elements (separator only between present
  *     ones) and `slice` beyond the array end just truncates — both arms
  *     replicated with the bounds+skip loop (unreachable from the only
  *     call site, whose signature is non-null `array<long>` of exactly
  *     numHashes values, but the contract must not drift on ANY input).
  *   - md5 renders as 32 lowercase hex chars, as Spark's `md5`.
  *   - NULL signature → the `b:uniq:<uniq>` arm; `concat` null-propagates,
  *     so a NULL `uniq` there yields a NULL element, as before.
  *   - The outer array is never null (the sequence is constant).
  * NgramsSpec pins equality against the composition rebuilt verbatim.
  */
case class GraftBandKeys(sig: Expression, uniq: Expression, numHashes: Int, bandSize: Int)
    extends Expression {
  require(numHashes >= 1 && bandSize >= 1 && numHashes % bandSize == 0,
    s"graft_bandkeys needs bandSize | numHashes, got ($numHashes, $bandSize)")

  private def nBands: Int = numHashes / bandSize

  override def children: Seq[Expression] = Seq(sig, uniq)
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = false
  override def foldable: Boolean = children.forall(_.foldable)
  override def prettyName: String = "graft_bandkeys"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val s = sig.eval(input)
    val u = uniq.eval(input)
    val out = new Array[Any](nBands)
    if (s == null) {
      if (u != null) {
        var b = 0
        while (b < nBands) {
          out(b) = UTF8String.fromString(b.toString + ":uniq:" + u.toString)
          b += 1
        }
      } // else: all elements stay null (concat null-propagation)
    } else {
      val a = s.asInstanceOf[ArrayData]
      val len = a.numElements()
      val md = GraftMinhash.localMd.get()
      val sb = new java.lang.StringBuilder(32)
      var b = 0
      while (b < nBands) {
        sb.setLength(0)
        var first = true
        var r = b * bandSize
        val end = math.min(r + bandSize, len)
        while (r < end) {
          if (!a.isNullAt(r)) {
            if (!first) sb.append(':')
            sb.append(a.getLong(r))
            first = false
          }
          r += 1
        }
        val d = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val hex = new Array[Char](32)
        var k = 0
        while (k < 16) {
          hex(2 * k) = GraftBandKeys.HexDigits((d(k) >>> 4) & 0xF)
          hex(2 * k + 1) = GraftBandKeys.HexDigits(d(k) & 0xF)
          k += 1
        }
        out(b) = UTF8String.fromString(b.toString + ":" + new String(hex))
        b += 1
      }
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sigGen = sig.genCode(ctx)
    val uniqGen = uniq.genCode(ctx)
    val md = ctx.addMutableState(
      "java.security.MessageDigest", "graftMd",
      v => s"""try { $v = java.security.MessageDigest.getInstance("MD5"); }
              |catch (java.security.NoSuchAlgorithmException e) { throw new RuntimeException(e); }
              |""".stripMargin)
    val hexd = ctx.addReferenceObj("hexDigits", GraftBandKeys.HexDigits, "char[]")
    val gen = "org.apache.spark.sql.catalyst.util.GenericArrayData"
    val u8 = "org.apache.spark.unsafe.types.UTF8String"
    val out = ctx.freshName("out")
    val len = ctx.freshName("len")
    val sb = ctx.freshName("sb")
    val d = ctx.freshName("d")
    val hex = ctx.freshName("hex")
    val first = ctx.freshName("first")
    val b = ctx.freshName("b")
    val r = ctx.freshName("r")
    val end = ctx.freshName("end")
    val k = ctx.freshName("k")
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, FalseLiteral}
    ev.copy(
      code = code"""
           |${sigGen.code}
           |${uniqGen.code}
           |Object[] $out = new Object[$nBands];
           |if (${sigGen.isNull}) {
           |  if (!${uniqGen.isNull}) {
           |    for (int $b = 0; $b < $nBands; $b++) {
           |      $out[$b] = $u8.fromString($b + ":uniq:" + ${uniqGen.value}.toString());
           |    }
           |  }
           |} else {
           |  int $len = ${sigGen.value}.numElements();
           |  StringBuilder $sb = new StringBuilder(32);
           |  for (int $b = 0; $b < $nBands; $b++) {
           |    $sb.setLength(0);
           |    boolean $first = true;
           |    int $end = Math.min($b * $bandSize + $bandSize, $len);
           |    for (int $r = $b * $bandSize; $r < $end; $r++) {
           |      if (!${sigGen.value}.isNullAt($r)) {
           |        if (!$first) $sb.append(':');
           |        $sb.append(${sigGen.value}.getLong($r));
           |        $first = false;
           |      }
           |    }
           |    byte[] $d = $md.digest($sb.toString().getBytes(java.nio.charset.StandardCharsets.UTF_8));
           |    char[] $hex = new char[32];
           |    for (int $k = 0; $k < 16; $k++) {
           |      $hex[2 * $k] = $hexd[($d[$k] >>> 4) & 0xF];
           |      $hex[2 * $k + 1] = $hexd[$d[$k] & 0xF];
           |    }
           |    $out[$b] = $u8.fromString($b + ":" + new String($hex));
           |  }
           |}
           |${CodeGenerator.javaType(dataType)} ${ev.value} = new $gen($out);
         """.stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(sig = newChildren(0), uniq = newChildren(1))
}

object GraftBandKeys {
  private[functions] val HexDigits: Array[Char] = "0123456789abcdef".toCharArray

  /** Column handle: per-row LSH band keys (the fused `Dedup.rowBandKeys`). */
  def bandKeys(sig: Column, uniq: Column, numHashes: Int, bandSize: Int): Column =
    GraftSqlAccess.column(GraftBandKeys(
      GraftSqlAccess.expression(sig), GraftSqlAccess.expression(uniq), numHashes, bandSize))
}

object GraftMd5 {
  /** 60-bit md5 hash of a string Column (the fused `TextOps.md5Hash60`). */
  def h60(c: Column): Column = top(c, 15)

  /** Top `nibbles`·4 bits of the md5 digest — the fused
    * `conv(substring(md5(c), 1, nibbles), 16, 10)` (e.g. the samplers'
    * 16-bit bucket at nibbles = 4).
    */
  def top(c: Column, nibbles: Int): Column =
    GraftSqlAccess.column(GraftMd5Top(GraftSqlAccess.expression(c), nibbles))

  /** Both halves as `struct<h, h2m>` (the fused `Dedup.shingleHashed` core). */
  def halves(c: Column): Column =
    GraftSqlAccess.column(GraftMd5Halves(GraftSqlAccess.expression(c)))

  /** Bit length of a non-negative long Column ([[GraftBitLen]]). */
  def bitLen(c: Column): Column =
    GraftSqlAccess.column(GraftBitLen(GraftSqlAccess.expression(c)))
}
