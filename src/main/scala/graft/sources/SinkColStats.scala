package graft.sources

import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StringType, StructType}

/** PER-COLUMN DATA-SKIPPING STATISTICS (round 15) — the Delta-style
  * min/max envelope for ARBITRARY data columns, beyond the dedicated
  * shard/doc_id machinery: every committed file's manifest entry can
  * carry, per eligible column, the column's min and max over the file's
  * rows, and the scan prunes whole files whose envelope cannot intersect
  * a pushed predicate on that column. `WHERE lang = 'pt'` over a landing
  * zone whose ingests batch by language then reads the pt files and
  * nothing else — at the 100 TB design point this is the difference
  * between scanning the table and scanning the slice, for predicates the
  * shard/doc layout knows nothing about.
  *
  * Eligibility: every table column past the (doc_id, shard) pair — body
  * and all evolved columns — of long/int/double/string type. Strings
  * longer than [[MaxTracked]] chars poison their column's stats for that
  * file (a truncated maximum is not an upper bound; dropping the stat is
  * the sound alternative — Delta truncates WITH a successor fix-up, we
  * keep the simpler all-or-nothing rule). A double column that observes
  * NaN is likewise dropped for that file (NaN breaks the order the
  * envelope relies on). Missing stats ALWAYS read — pruning is only ever
  * an optimization, exactly like the shard/doc stats.
  *
  * SOUNDNESS under NULLs: the envelope tracks non-null values, and for
  * NULL-REJECTING predicates (comparisons, IN, prefix match) a row where
  * the column is NULL cannot satisfy them — a file whose non-null
  * envelope misses the predicate has NO matching row, nulls included.
  * Since round 16 each token ALSO carries the file's write-time NULL
  * COUNT (Delta's dataSkipping nullCount): `IS NULL` prunes files whose
  * count is zero, `IS NOT NULL` (which Spark pushes implicitly with
  * every comparison) prunes ALL-NULL files (boundless `!` envelopes),
  * and `COUNT(col)` becomes manifest-answerable where no delete vectors
  * exist. Under merge-on-read delete vectors the recorded envelope is a
  * superset of the live rows' and the null count an upper bound that
  * zero still proves — sound for may-contain pruning, same argument as
  * the shard range.
  *
  * Encoding (one token per column, `|`-joined, stored as the entry's
  * `"cs"` string): `name:t:lo:hi:nc` with `t` ∈ `l`(integral) `d`(double)
  * `s`(string); string bounds are base64(UTF-8) so a value never meets
  * the `:`/`|` separators; numeric bounds are their exact decimal forms;
  * `!` bounds mark an all-null file; `nc` is the null count. A token
  * that does not decode carries no stats and never prunes.
  */
object SinkColStats {

  /** Longest string value tracked exactly; anything longer poisons the
    * column's stats for the file.
    */
  val MaxTracked = 64

  /** String comparison in SPARK's order. Spark compares StringType as
    * UTF8String — unsigned UTF-8 bytes, i.e. code-point order — while
    * Java's String.compareTo compares UTF-16 code units. The two DISAGREE
    * exactly when a supplementary-plane character (a surrogate pair —
    * emoji, rare CJK) meets a BMP character in [U+E000, U+FFFF]
    * (fullwidth forms, PUA): the pair's lead unit (0xD800–0xDBFF) sorts
    * BELOW those chars in UTF-16 but the code point (> 0xFFFF) sorts
    * ABOVE them. An envelope ordered the Java way could then skip a file
    * whose true Spark-order range intersects the predicate — a silent
    * wrong result — and a manifest-answered MIN/MAX could return a value
    * Spark's own aggregate would not. Every string comparison the
    * envelope machinery makes (write-side fold, segment union, prune
    * test, manifest MIN/MAX fold, CHECK evaluation) goes through here so
    * it matches Spark's evaluation order BY CONSTRUCTION — including the
    * lone-surrogate edge, where fromString applies the same replacement
    * Spark's execution applies.
    */
  private[graft] def utf8Cmp(a: String, b: String): Int =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  private[graft] val Utf8Ordering: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = utf8Cmp(a, b)
  }

  /** One column's recorded file statistics. `lo`/`hi` are the non-null
    * envelope (null = the file has NO non-null values for the column —
    * encoded `!`); `nc` is the file's WRITE-TIME null count (None:
    * unknown). Under merge-on-read delete vectors both stay sound
    * over-approximations: deletes can only remove rows, so nc == 0 still
    * proves "no nulls" and boundless still proves "no values" — the two
    * prune directions IS NULL / IS NOT NULL need.
    */
  final case class ColStat(t: Char, lo: String, hi: String, nc: Option[Long] = None)

  /** Eligible columns of a table schema: (TSV/cell position, name, tag). */
  def eligible(table: StructType): Array[(Int, String, Char)] =
    table.fields.zipWithIndex.drop(2).flatMap { case (f, i) =>
      tagOf(f.dataType).map(t => (i, f.name, t))
    }

  def tagOf(dt: DataType): Option[Char] = dt match {
    case LongType | IntegerType => Some('l')
    case DoubleType => Some('d')
    case StringType => Some('s')
    case _ => None
  }

  private def b64e(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private def b64d(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), "UTF-8")

  /** Per-file accumulator. `update` takes the column's slot in
    * [[eligible]]'s order and the typed non-null value ('l' → Long,
    * 'd' → Double, 's' → String).
    */
  final class Acc(cols: Array[(Int, String, Char)]) {
    private val lo = new Array[Any](cols.length)
    private val hi = new Array[Any](cols.length)
    private val poisoned = new Array[Boolean](cols.length)
    private val nulls = new Array[Long](cols.length)
    /** A NULL observation (null cell, or the column absent from a
      * pre-evolution row — the reader surfaces both as SQL NULL).
      */
    def noteNull(k: Int): Unit = nulls(k) += 1L
    def update(k: Int, v: Any): Unit = {
      if (poisoned(k)) return
      cols(k)._3 match {
        case 'l' =>
          val x = v.asInstanceOf[Long]
          if (lo(k) == null || x < lo(k).asInstanceOf[Long]) lo(k) = x
          if (hi(k) == null || x > hi(k).asInstanceOf[Long]) hi(k) = x
        case 'd' =>
          val x = v.asInstanceOf[Double]
          if (x.isNaN) { poisoned(k) = true; return }
          if (lo(k) == null || x < lo(k).asInstanceOf[Double]) lo(k) = x
          if (hi(k) == null || x > hi(k).asInstanceOf[Double]) hi(k) = x
        case 's' =>
          val x = v.asInstanceOf[String]
          if (x.length > MaxTracked) { poisoned(k) = true; return }
          if (lo(k) == null || utf8Cmp(x, lo(k).asInstanceOf[String]) < 0) lo(k) = x
          if (hi(k) == null || utf8Cmp(x, hi(k).asInstanceOf[String]) > 0) hi(k) = x
      }
    }
    /** The encoded stats string ("" when nothing was tracked). Poisoned
      * columns emit nothing (their null count would survive, but a
      * half-token per poison reason is not worth the decode surface);
      * all-null columns emit boundless `!` tokens so IS NOT NULL (and
      * every value predicate) can skip the file; a column with values
      * carries its envelope plus the null count.
      */
    def encode(): String =
      cols.indices.flatMap { k =>
        if (poisoned(k) || (lo(k) == null && nulls(k) == 0L)) None
        else {
          val (_, name, t) = cols(k)
          val (l, h) =
            if (lo(k) == null) ("!", "!")
            else t match {
              case 's' => (b64e(lo(k).asInstanceOf[String]), b64e(hi(k).asInstanceOf[String]))
              case _ => (lo(k).toString, hi(k).toString)
            }
          Some(s"$name:$t:$l:$h:${nulls(k)}")
        }
      }.mkString("|")
  }

  /** Line-grain accumulator for the rewrite paths (compaction, CoW):
    * feed each TSV line's cells; pre-evolution short rows and the null
    * sentinel skip, exactly like the row-grain writer skips nulls.
    */
  final class LineAcc(table: StructType) {
    private val cols = eligible(table)
    private val acc = new Acc(cols)
    def add(cells: Array[String]): Unit = {
      var k = 0
      while (k < cols.length) {
        val (i, _, t) = cols(k)
        if (i < cells.length && cells(i) != ShardSink.NullCell) {
          t match {
            case 'l' => acc.update(k, cells(i).toLong)
            case 'd' => acc.update(k, cells(i).toDouble)
            case 's' => acc.update(k, cells(i))
          }
        } else acc.noteNull(k) // null sentinel or pre-evolution short row
        k += 1
      }
    }
    def addLine(line: String): Unit = add(line.split("\t", -1))
    def encode(): String = acc.encode()
  }

  /** Column-DDL fix-ups for recorded envelopes (both pure string
    * surgery on the token list — no values re-read):
    *   - RENAME COLUMN carries the stats to the new name (the data
    *     cells are positional; the envelope still describes them), and
    *   - ADD COLUMN drops any token under the (re-used) name: without
    *     this, rename-then-re-add would leave the NEW all-null column
    *     answering prunes and manifest-only MIN/MAX from the OLD
    *     column's values — a silent wrong-result class.
    */
  def renameIn(cs: String, from: String, to: String): String =
    if (cs.isEmpty) cs
    else cs.split("\\|", -1).map { tok =>
      if (tok.startsWith(from + ":")) to + tok.substring(from.length) else tok
    }.mkString("|")

  def dropIn(cs: String, name: String): String =
    if (cs.isEmpty) cs
    else cs.split("\\|", -1).filterNot(_.startsWith(name + ":")).mkString("|")

  def decode(cs: String): Map[String, ColStat] =
    if (cs.isEmpty) Map.empty
    else cs.split("\\|", -1).iterator.flatMap { tok =>
      def bounds(t: Char, l: String, h: String, nc: Option[Long]): ColStat =
        if (l == "!") ColStat(t, null, null, nc)
        else if (t == 's') ColStat('s', b64d(l), b64d(h), nc)
        else ColStat(t, l, h, nc)
      tok.split(":", -1) match {
        case Array(name, t, l, h, nc) if t.length == 1 && nc.nonEmpty &&
          nc.length <= 18 && nc.forall(_.isDigit) =>
          Some(name -> bounds(t.charAt(0), l, h, Some(nc.toLong)))
        case _ => None // unparseable token: no stats, never prunes
      }
    }.toMap

  /** The SEGMENT-level envelope: the union of the member entries'
    * per-column envelopes, kept ONLY for columns EVERY member carries
    * with the SAME type tag (all-or-silent, like the shard/doc segment
    * envelope — a partial union could claim a range a stat-less member
    * exceeds; a cross-type union has no single order). An empty member
    * cs blanks the whole result. Encoded deterministically (columns
    * sorted by name) so segment bytes stay stable for reuse.
    */
  def mergeEnvelopes(csList: Seq[String]): String = {
    if (csList.isEmpty || csList.exists(_.isEmpty)) return ""
    val maps = csList.map(decode)
    val common = maps.map(_.keySet).reduce(_ intersect _)
    common.toSeq.sorted.flatMap { c =>
      val stats = maps.map(_(c))
      val t = stats.head.t
      if (!stats.forall(_.t == t)) None
      else {
        // bounds union over members WITH values (a boundless member
        // contributes none); null counts SUM — but only when every
        // member carries one (an unknown count blanks the union's,
        // never under-counts it)
        val bounded = stats.filter(_.lo != null)
        val nc: Option[Long] =
          if (stats.forall(_.nc.isDefined)) Some(stats.map(_.nc.get).sum) else None
        if (bounded.isEmpty && nc.isEmpty) None
        else {
          val (l, h) =
            if (bounded.isEmpty) ("!", "!")
            else {
              val lo = bounded.map(_.lo).min(orderFor(t))
              val hi = bounded.map(_.hi).max(orderFor(t))
              if (t == 's') (b64e(lo), b64e(hi)) else (lo, hi)
            }
          Some(nc.fold(s"$c:$t:$l:$h")(n => s"$c:$t:$l:$h:$n"))
        }
      }
    }.mkString("|")
  }

  private[sources] def orderFor(t: Char): Ordering[String] = t match {
    case 'l' => Ordering.by(_.toLong)
    case 'd' => Ordering.by(_.toDouble)
    case _ => Utf8Ordering // Spark's string order, never Java's
  }

  // ---- pruning predicates --------------------------------------------------

  /** A file-prunable conjunct over one column. All implementations are
    * NULL-REJECTING by construction (see the soundness note above).
    */
  sealed trait ColPred {
    def col: String
    /** May a file with this recorded envelope contain a matching row? */
    def mayMatch(st: ColStat): Boolean
    def describe: String
  }

  private def cmp(t: Char, a: String, b: String): Int = t match {
    case 'l' => java.lang.Long.compare(a.toLong, b.toLong)
    case 'd' => java.lang.Double.compare(a.toDouble, b.toDouble)
    case _ => utf8Cmp(a, b) // Spark's string order, never Java's
  }

  /** lo/hi are the predicate's bounds in the literal's own type `t`;
    * None = unbounded on that side.
    */
  final case class ColRange(
      col: String, t: Char, lo: Option[String], loInc: Boolean,
      hi: Option[String], hiInc: Boolean) extends ColPred {
    def mayMatch(st: ColStat): Boolean = {
      if (st.t != t) return true // cross-type: never prune
      if (st.lo == null) return false // no non-null values: null-rejecting
      val okLo = lo.forall(l =>
        if (loInc) cmp(t, st.hi, l) >= 0 else cmp(t, st.hi, l) > 0)
      val okHi = hi.forall(h =>
        if (hiInc) cmp(t, st.lo, h) <= 0 else cmp(t, st.lo, h) < 0)
      okLo && okHi
    }
    def describe: String =
      col + lo.map(l => s" ${if (loInc) ">=" else ">"} $l").getOrElse("") +
        hi.map(h => s" ${if (hiInc) "<=" else "<"} $h").getOrElse("")
  }

  /** IN-list / equality: value-exact, not a hull — each sought value is
    * tested against the envelope individually.
    */
  final case class ColIn(col: String, t: Char, values: Seq[String]) extends ColPred {
    def mayMatch(st: ColStat): Boolean =
      st.t != t ||
        (st.lo != null && // boundless: no value can match
          values.exists(v => cmp(t, v, st.lo) >= 0 && cmp(t, v, st.hi) <= 0))
    def describe: String = s"$col IN (${values.mkString(",")})"
  }

  /** `col LIKE 'p%'`: in UTF-8 (code-point) order, matching values lie
    * in [p, succ(p)) — prune when the envelope misses that interval.
    * succ increments p's last code unit whose +1 stays a valid
    * NON-SURROGATE code point (U+FFFF has no in-plane successor and
    * U+D7FF's successor is a surrogate — both drop from the tail, which
    * stays sound: a string with prefix p still sorts below the shortened
    * bound, exactly the all-￿ argument). A prefix CONTAINING a surrogate
    * skips the upper test entirely: incrementing half a pair does not
    * produce the next code point, and a lone lead unit can combine with
    * the value's continuation into one supplementary char whose bytes
    * have no prefix relationship to succ's. The LOWER test stays exact
    * even then — the combined character's UTF-8 bytes (>= 0xF0) sort
    * above the replacement byte a lone surrogate maps to, so any value
    * with UTF-16 prefix p is still >= p in UTF-8 order.
    */
  final case class ColPrefix(col: String, p: String) extends ColPred {
    private val succ: Option[String] = {
      if (p.exists(Character.isSurrogate)) None
      else {
        def bumpable(c: Char): Boolean = c != 0xFFFF.toChar && c != 0xD7FF.toChar
        var i = p.length - 1
        while (i >= 0 && !bumpable(p.charAt(i))) i -= 1
        if (i < 0) None
        else Some(p.substring(0, i) + (p.charAt(i) + 1).toChar)
      }
    }
    def mayMatch(st: ColStat): Boolean =
      st.t != 's' ||
        (st.lo != null && // boundless: no value can match
          utf8Cmp(st.hi, p) >= 0 && succ.forall(sc => utf8Cmp(st.lo, sc) < 0))
    def describe: String = s"$col LIKE '$p%'"
  }

  /** `col IS NULL` — prunes a file whose recorded null count is ZERO
    * (sound under delete vectors: deletes never add nulls). Legacy
    * envelopes (no count) always read.
    */
  final case class ColIsNull(col: String) extends ColPred {
    def mayMatch(st: ColStat): Boolean = st.nc.forall(_ > 0L)
    def describe: String = s"$col IS NULL"
  }

  /** `col IS NOT NULL` — prunes a file with NO recorded non-null values
    * (a boundless `!` envelope; again delete-vector-proof). Spark pushes
    * this implicitly with every comparison, so all-null files vanish
    * from ordinary predicate reads too.
    */
  final case class ColNotNull(col: String) extends ColPred {
    def mayMatch(st: ColStat): Boolean = st.lo != null
    def describe: String = s"$col IS NOT NULL"
  }

  private def litOf(v: Any): Option[(Char, String)] = v match {
    case null => None
    case x: Long => Some(('l', x.toString))
    case x: Int => Some(('l', x.toString))
    case x: Short => Some(('l', x.toString))
    case x: Byte => Some(('l', x.toString))
    case x: Double => if (x.isNaN) None else Some(('d', x.toString))
    case x: Float => if (x.isNaN) None else Some(('d', x.toDouble.toString))
    case x: String => Some(('s', x))
    case x: org.apache.spark.unsafe.types.UTF8String => Some(('s', x.toString))
    case _ => None
  }

  /** Compile the pushed conjunctive filter array into per-column prune
    * predicates. Only columns the table can carry stats for (and that
    * are NOT doc_id/shard — those have dedicated exact machinery)
    * contribute; everything else is simply not prunable here. `Or` and
    * any unrecognized shape contribute nothing (the filter stays a
    * row-level residual regardless).
    */
  def predsOf(
      filters: Array[org.apache.spark.sql.sources.Filter],
      table: StructType): Seq[ColPred] = {
    import org.apache.spark.sql.sources._
    val statable: Set[String] = eligible(table).map(_._2).toSet
    def ok(col: String) = statable.contains(col)
    filters.toSeq.flatMap {
      case And(a, b) => predsOf(Array(a, b), table)
      case EqualTo(c, v) if ok(c) =>
        litOf(v).map { case (t, s) => ColIn(c, t, Seq(s)) }
      case In(c, vs) if ok(c) && vs != null && vs.nonEmpty =>
        val lits = vs.toSeq.map(litOf)
        // a NULL in the list matches nothing (null-rejecting); an
        // untypeable literal keeps the filter un-prunable
        if (lits.exists(l => l.isEmpty)) None
        else {
          val typed = lits.flatten
          if (typed.map(_._1).distinct.length == 1)
            Some(ColIn(c, typed.head._1, typed.map(_._2)))
          else None
        }
      case GreaterThan(c, v) if ok(c) =>
        litOf(v).map { case (t, s) => ColRange(c, t, Some(s), loInc = false, None, hiInc = false) }
      case GreaterThanOrEqual(c, v) if ok(c) =>
        litOf(v).map { case (t, s) => ColRange(c, t, Some(s), loInc = true, None, hiInc = false) }
      case LessThan(c, v) if ok(c) =>
        litOf(v).map { case (t, s) => ColRange(c, t, None, loInc = false, Some(s), hiInc = false) }
      case LessThanOrEqual(c, v) if ok(c) =>
        litOf(v).map { case (t, s) => ColRange(c, t, None, loInc = false, Some(s), hiInc = true) }
      case StringStartsWith(c, p) if ok(c) && p != null =>
        Some(ColPrefix(c, p))
      case IsNull(c) if ok(c) => Some(ColIsNull(c))
      case IsNotNull(c) if ok(c) => Some(ColNotNull(c))
      case _ => None
    }
  }

  /** The entry-level skip test: every predicate must be satisfiable by
    * the recorded envelope; a column with no recorded stat never prunes.
    */
  def mayMatch(cs: String, preds: Seq[ColPred]): Boolean = {
    if (preds.isEmpty) return true
    if (cs.isEmpty) return true
    val stats = decode(cs)
    preds.forall(p => stats.get(p.col).forall(p.mayMatch))
  }
}
