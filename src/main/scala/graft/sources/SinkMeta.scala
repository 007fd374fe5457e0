package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JsonFactory, JsonGenerator, JsonToken}
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}

import SinkMatView.MvAgg

/** The pruning statistics a manifest element carries — a file's own
  * ([[SinkEntry]]) or the envelope over a segment's files
  * ([[SinkMeta.SegmentRef]]): shard range ("s0"/"s1"), doc_id range
  * ("d0"/"d1"), doc_id bloom and per-column envelopes. Unknown stats
  * (-1, "") always intersect; a recorded one is a sound superset under
  * merge-on-read delete vectors (they only remove rows), so pruning may
  * cost a false-positive read but never a false skip.
  */
sealed trait PruneStats {
  def shardMin: Int
  def shardMax: Int
  def docMin: Long
  def docMax: Long
  def bf: String
  def cs: String
  def hasStats: Boolean = shardMin >= 0
  def hasDocStats: Boolean = docMax >= 0L
  def mayContainShard(shards: Set[Int]): Boolean =
    !hasStats || shards.exists(v => v >= shardMin && v <= shardMax)
  def mayContainDocRange(lo: Long, hi: Long): Boolean =
    !hasDocStats || (docMin <= hi && docMax >= lo)
  /** Point-lookup skipping: skipped only when EVERY sought id is
    * definitely absent from the bloom (for a segment, the OR of its
    * files' blooms — what keeps `doc_id = K` at O(1 segment) driver IO on
    * a compacted stripe layout whose doc RANGES all overlap).
    */
  def mayContainDocPoints(points: Set[Long]): Boolean =
    bf.isEmpty || points.exists(v => DocBloom.mayContain(bf, v))
  /** Per-COLUMN envelope skipping (see [[SinkColStats]]): `lang = 'pt'`
    * prunes like `shard = 3`; absent stats (whole or per column) read.
    */
  def mayMatchCols(preds: Seq[SinkColStats.ColPred]): Boolean =
    SinkColStats.mayMatch(cs, preds)
}

/** One committed file's manifest entry: name, LIVE rows, its
  * [[PruneStats]] and (merge-on-read deletes) the file's current delete
  * vector: a tiny sidecar file of 0-based row positions every reader must
  * skip. `rows` counts LIVE rows (physical minus deleted), so statistics,
  * history deltas and admission decisions all see the table a reader sees.
  */
case class SinkEntry(
    file: String, rows: Long, shardMin: Int = -1, shardMax: Int = -1,
    dv: String = "", docMin: Long = -1L, docMax: Long = -1L,
    bf: String = "", cs: String = "") extends PruneStats {
  def hasDeletes: Boolean = dv.nonEmpty
}

/** The lakehouse METADATA CODEC: one case class per on-disk JSON record
  * and one [[encode]]/[[decode]] pair for all of them, built on Jackson.
  *
  * Records: the table manifest list ([[Manifest]], `_manifest.v<N>.json`),
  * its inline [[SinkEntry]] and [[SegmentRef]] elements, a manifest
  * segment file ([[SegmentFile]]), a tag ([[Tag]]), the header line of
  * a materialized view's state version ([[MvdHeader]] `_mvd.v<N>.json`)
  * and the `graft.mv.<name>` DDL definition ([[MvDef]]).
  *
  * The writer is compact, keeps a fixed key order and omits absent
  * optional keys, so its bytes are a function of the record alone.
  * Strings are JSON-escaped, so names, predicates and expressions may
  * hold any character. The reader is a real parser: a truncated blob, a
  * wrong type, a missing required key or a trailing token throws
  * `IllegalStateException` naming the file, instead of silently dropping
  * an entry or a slot.
  */
object SinkMeta {

  /** A manifest-list entry: the segment's file name, its entry count,
    * and the ENVELOPE of its entries' stats (Iceberg's manifest-list
    * partition summaries). The envelope lets
    * [[ShardSink.entriesAsOfPruned]] skip reading WHOLE segments a pushed
    * filter rules out: a 2,000-segment table answers a pruned scan by
    * opening the handful of matching segments, not the census —
    * O(matching) driver IO instead of O(files/segmentTarget).
    */
  final case class SegmentRef(
      name: String, n: Int, shardMin: Int = -1, shardMax: Int = -1,
      docMin: Long = -1L, docMax: Long = -1L, bf: String = "",
      cs: String = "") extends PruneStats

  /** One table version. `ts` is the commit time (epoch millis); `op` the
    * per-commit operation marker (never carried forward); `hz`, `schema`
    * (`name:type,…`) and `ck` (named CHECK predicates, in order) are
    * table state carried forward by every commit; `cdc` names the
    * version's change-record sidecar. The census is inline (`files`) or,
    * above the segment target, a list of segment refs (`segs`, and then
    * `files` is empty).
    */
  final case class Manifest(
      ts: Long, op: Option[String] = None, hz: Option[Long] = None,
      schema: Option[String] = None, ck: Option[Seq[(String, String)]] = None,
      cdc: Option[String] = None, files: Seq[SinkEntry] = Nil,
      segs: Option[Seq[SegmentRef]] = None)

  /** An immutable manifest segment: `{"files":[…]}`. */
  final case class SegmentFile(files: Seq[SinkEntry])

  /** A tag file `_tag.<name>`: the pinned version. */
  final case class Tag(v: Long)

  /** A JOIN definition (round 16): the MV materializes
    * `fact ⋈ dim ON fk = pk` with dim columns under the `pfx` prefix,
    * kept by the delta-join decomposition
    * ([[SinkMatView.contributionStream]]) over [[SinkMvDist]]'s bucketed
    * state, so a per-user-grain star-schema rollup needs no full rescan.
    */
  final case class MvdJoin(
      dim: String, fk: String, pk: String, dimV: Long, pfx: String = "d_")

  /** Header of a [[SinkMvDist]] state version ((bucket, file) refs follow
    * it). The written `"hashv":2` names the group→bucket hash INPUT (key
    * cells joined with a TAB); a header without it does not decode.
    */
  final case class MvdHeader(
      src: String, group: Seq[String], gtype: Seq[String], pred: String,
      srcV: Long, buckets: Int, dims: Seq[MvdJoin], aggs: Seq[MvAgg])

  /** The `graft.mv.<name>` DDL value ([[SinkMvDdl]]): `group` and `aggs`
    * are required, `pred` defaults to none and `buckets` to 16.
    */
  final case class MvDef(
      group: Seq[String], pred: String = "", buckets: Int = 16, aggs: Seq[MvAgg])

  // ---- the codec -----------------------------------------------------------

  /** A record's fields writer and reader; `what` names it in errors. */
  sealed abstract class Codec[T](val what: String) {
    def fields(g: JsonGenerator, t: T): Unit
    def read(n: JsonNode): T
    final def write(g: JsonGenerator, t: T): Unit = {
      g.writeStartObject()
      fields(g, t)
      g.writeEndObject()
    }
  }

  private val factory = new JsonFactory()
  private val mapper = new ObjectMapper(factory)
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  def encode[T](t: T)(implicit c: Codec[T]): String = {
    val w = new java.io.StringWriter()
    val g = factory.createGenerator(w)
    c.write(g, t)
    g.close()
    w.toString
  }

  /** Parse `json` as a `T`; `where` (a `dir/file` path, or the DDL key)
    * names the source in the loud failure.
    */
  def decode[T](json: String, where: String)(implicit c: Codec[T]): T =
    try {
      val n = mapper.readTree(json)
      require(n != null && n.isObject, "not a JSON object")
      c.read(n)
    } catch {
      case e: Exception =>
        throw new IllegalStateException(s"unparseable ${c.what} in $where: ${e.getMessage}", e)
    }

  /** A manifest's commit timestamp, read from the head of `in`: the codec
    * writes `ts` first, so the parse stops after one field instead of
    * decoding every entry. Anything else at the head throws, naming `where`.
    */
  def manifestTs(in: java.io.InputStream, where: String): Long = {
    val p = factory.createParser(in)
    try {
      require(p.nextToken() == JsonToken.START_OBJECT, "not a JSON object")
      require(p.nextToken() == JsonToken.FIELD_NAME && p.currentName == "ts",
        "the first field is not \"ts\"")
      require(p.nextToken() == JsonToken.VALUE_NUMBER_INT, "\"ts\" is not an integer")
      p.getLongValue
    } catch {
      case e: Exception =>
        throw new IllegalStateException(s"unparseable manifest in $where: ${e.getMessage}", e)
    } finally p.close()
  }

  // reader helpers: a missing key, a null or a wrong type throws
  private def get(n: JsonNode, k: String): JsonNode = {
    val v = n.get(k)
    require(v != null && !v.isNull, s"missing \"$k\"")
    v
  }
  private def str(n: JsonNode, k: String): String = {
    val v = get(n, k)
    require(v.isTextual, s"\"$k\" is not a string")
    v.textValue
  }
  private def long(n: JsonNode, k: String): Long = {
    val v = get(n, k)
    require(v.isIntegralNumber && v.canConvertToLong, s"\"$k\" is not an integer")
    v.longValue
  }
  private def int(n: JsonNode, k: String): Int = {
    val v = long(n, k)
    require(v.isValidInt, s"\"$k\" is out of range")
    v.toInt
  }
  private def opt[A](n: JsonNode, k: String)(f: (JsonNode, String) => A): Option[A] =
    if (n.has(k)) Some(f(n, k)) else None
  /** An optional (lo, hi) stat pair: both keys or neither. */
  private def pair[A](n: JsonNode, lo: String, hi: String, absent: A)(
      f: (JsonNode, String) => A): (A, A) =
    if (n.has(lo)) (f(n, lo), f(n, hi)) else (absent, absent)
  private def arr[A](n: JsonNode, k: String)(implicit c: Codec[A]): Seq[A] = {
    val v = get(n, k)
    require(v.isArray, s"\"$k\" is not an array")
    v.elements.asScala.map { e =>
      require(e.isObject, s"an element of \"$k\" is not an object")
      c.read(e)
    }.toSeq
  }
  private def list(n: JsonNode, k: String): Seq[String] = str(n, k).split(",", -1).toSeq
  /** An optional string: absent reads as "". */
  private def strOr(n: JsonNode, k: String): String = opt(n, k)(str).getOrElse("")

  // writer helpers
  private def strs(g: JsonGenerator, kvs: (String, String)*): Unit =
    kvs.foreach { case (k, v) => g.writeStringField(k, v) }
  /** Optional strings are written only when non-empty. */
  private def nonEmpty(g: JsonGenerator, kvs: (String, String)*): Unit =
    strs(g, kvs.filter(_._2.nonEmpty): _*)
  private def longs(g: JsonGenerator, kvs: (String, Long)*): Unit =
    kvs.foreach { case (k, v) => g.writeNumberField(k, v) }
  private def writeArr[A](g: JsonGenerator, k: String, xs: Seq[A])(implicit c: Codec[A]): Unit = {
    g.writeArrayFieldStart(k)
    xs.foreach(c.write(g, _))
    g.writeEndArray()
  }

  implicit object EntryCodec extends Codec[SinkEntry]("manifest entry") {
    def fields(g: JsonGenerator, e: SinkEntry): Unit = {
      strs(g, "file" -> e.file)
      longs(g, "rows" -> e.rows)
      if (e.hasStats) longs(g, "s0" -> e.shardMin.toLong, "s1" -> e.shardMax.toLong)
      if (e.hasDocStats) longs(g, "d0" -> e.docMin, "d1" -> e.docMax)
      nonEmpty(g, "dv" -> e.dv, "bf" -> e.bf, "cs" -> e.cs)
    }
    def read(n: JsonNode): SinkEntry = {
      val (s0, s1) = pair(n, "s0", "s1", -1)(int)
      val (d0, d1) = pair(n, "d0", "d1", -1L)(long)
      SinkEntry(str(n, "file"), long(n, "rows"), s0, s1, strOr(n, "dv"), d0, d1,
        strOr(n, "bf"), strOr(n, "cs"))
    }
  }

  implicit object SegmentRefCodec extends Codec[SegmentRef]("segment ref") {
    def fields(g: JsonGenerator, r: SegmentRef): Unit = {
      strs(g, "f" -> r.name)
      longs(g, "n" -> r.n.toLong)
      if (r.hasStats) longs(g, "s0" -> r.shardMin.toLong, "s1" -> r.shardMax.toLong)
      if (r.hasDocStats) longs(g, "d0" -> r.docMin, "d1" -> r.docMax)
      nonEmpty(g, "b" -> r.bf, "cs" -> r.cs)
    }
    def read(n: JsonNode): SegmentRef = {
      val (s0, s1) = pair(n, "s0", "s1", -1)(int)
      val (d0, d1) = pair(n, "d0", "d1", -1L)(long)
      SegmentRef(str(n, "f"), int(n, "n"), s0, s1, d0, d1, strOr(n, "b"), strOr(n, "cs"))
    }
  }

  private implicit object CkCodec extends Codec[(String, String)]("CHECK constraint") {
    def fields(g: JsonGenerator, c: (String, String)): Unit = strs(g, "n" -> c._1, "p" -> c._2)
    def read(n: JsonNode): (String, String) = (str(n, "n"), str(n, "p"))
  }

  implicit object ManifestCodec extends Codec[Manifest]("manifest") {
    def fields(g: JsonGenerator, m: Manifest): Unit = {
      longs(g, "ts" -> m.ts)
      m.op.foreach(o => strs(g, "op" -> o))
      m.hz.foreach(h => longs(g, "hz" -> h))
      m.schema.foreach(sc => strs(g, "schema" -> sc))
      m.ck.foreach(writeArr(g, "ck", _))
      m.cdc.foreach(c => strs(g, "cdc" -> c))
      m.segs match {
        case Some(rs) => writeArr(g, "segs", rs)
        case None => writeArr(g, "files", m.files)
      }
    }
    def read(n: JsonNode): Manifest = {
      val segs = if (n.has("segs")) Some(arr[SegmentRef](n, "segs")) else None
      Manifest(long(n, "ts"), opt(n, "op")(str), opt(n, "hz")(long),
        opt(n, "schema")(str), if (n.has("ck")) Some(arr[(String, String)](n, "ck")) else None,
        opt(n, "cdc")(str), if (segs.isEmpty) arr[SinkEntry](n, "files") else Nil, segs)
    }
  }

  implicit object SegmentFileCodec extends Codec[SegmentFile]("manifest segment") {
    def fields(g: JsonGenerator, s: SegmentFile): Unit = writeArr(g, "files", s.files)
    def read(n: JsonNode): SegmentFile = SegmentFile(arr[SinkEntry](n, "files"))
  }

  implicit object TagCodec extends Codec[Tag]("tag") {
    def fields(g: JsonGenerator, t: Tag): Unit = longs(g, "v" -> t.v)
    def read(n: JsonNode): Tag = Tag(long(n, "v"))
  }

  implicit object AggCodec extends Codec[MvAgg]("MV aggregate") {
    def fields(g: JsonGenerator, a: MvAgg): Unit = strs(g, "n" -> a.name, "k" -> a.kind, "e" -> a.e)
    def read(n: JsonNode): MvAgg = MvAgg(str(n, "n"), str(n, "k"), str(n, "e"))
  }

  implicit object MvdJoinCodec extends Codec[MvdJoin]("MV join dim") {
    def fields(g: JsonGenerator, j: MvdJoin): Unit = {
      strs(g, "dim" -> j.dim, "fk" -> j.fk, "pk" -> j.pk, "pfx" -> j.pfx)
      longs(g, "dimV" -> j.dimV)
    }
    def read(n: JsonNode): MvdJoin =
      MvdJoin(str(n, "dim"), str(n, "fk"), str(n, "pk"), long(n, "dimV"), str(n, "pfx"))
  }

  implicit object MvdHeaderCodec extends Codec[MvdHeader]("distributed-MV header") {
    def fields(g: JsonGenerator, h: MvdHeader): Unit = {
      strs(g, "src" -> h.src, "group" -> h.group.mkString(","),
        "gtype" -> h.gtype.mkString(","), "pred" -> h.pred)
      longs(g, "srcV" -> h.srcV, "buckets" -> h.buckets.toLong, "hashv" -> 2L)
      if (h.dims.nonEmpty) writeArr(g, "dims", h.dims)
      writeArr(g, "aggs", h.aggs)
    }
    def read(n: JsonNode): MvdHeader = {
      require(long(n, "hashv") == 2L, "unknown \"hashv\" (the bucket hash version)")
      MvdHeader(str(n, "src"), list(n, "group"), list(n, "gtype"), str(n, "pred"),
        long(n, "srcV"), int(n, "buckets"),
        if (n.has("dims")) arr[MvdJoin](n, "dims") else Nil, arr[MvAgg](n, "aggs"))
    }
  }

  implicit object MvDefCodec extends Codec[MvDef]("MV definition") {
    def fields(g: JsonGenerator, d: MvDef): Unit = {
      strs(g, "group" -> d.group.mkString(","), "pred" -> d.pred)
      longs(g, "buckets" -> d.buckets.toLong)
      writeArr(g, "aggs", d.aggs)
    }
    def read(n: JsonNode): MvDef = MvDef(
      list(n, "group").map(_.trim).filter(_.nonEmpty), strOr(n, "pred"),
      opt(n, "buckets")(int).getOrElse(16), arr[MvAgg](n, "aggs"))
  }
}
