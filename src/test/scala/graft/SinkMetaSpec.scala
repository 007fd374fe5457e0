package graft

import graft.sources.SinkEntry
import graft.sources.SinkMatView.MvAgg
import graft.sources.SinkMeta._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

/** The lakehouse metadata codec: every record round-trips through
  * `decode(encode(r))` for generated values (quotes, backslashes, `;`,
  * tabs, non-ASCII, every optional-field combination), the writer's
  * bytes equal the hand-built writers it replaced (golden strings), and
  * malformed input fails loudly naming its source.
  */
class SinkMetaSpec extends AnyFunSuite {

  private def check(p: Prop, trials: Int = 300): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(trials), p)
    assert(res.passed, res.status.toString)
  }

  private def roundTrips[T](gen: Gen[T])(implicit c: Codec[T]): Unit =
    check(Prop.forAll(gen) { r =>
      val back = decode[T](encode(r), "gen")
      (back == r) :| s"$r -> ${encode(r)} -> $back"
    })

  // ---- generators ------------------------------------------------------------

  private val oddChar: Gen[Char] =
    Gen.oneOf('"', '\\', ';', '\t', '\n', '=', ',', '{', '}', '[', ':', '/', ' ', 'é', 'ç',
      '中', ' ', '\u0001')
  private val text: Gen[String] =
    Gen.listOf(Gen.frequency(3 -> Gen.alphaNumChar, 2 -> oddChar)).map(_.mkString)
  private val nonEmpty: Gen[String] = text.suchThat(_.nonEmpty)
  private val maybe: Gen[String] = Gen.oneOf(Gen.const(""), nonEmpty)
  /** A name inside a comma-joined list (group columns, their types). */
  private val listItem: Gen[String] = text.map(_.filterNot(_ == ','))
  private val items: Gen[Seq[String]] = Gen.nonEmptyListOf(listItem).map(_.toSeq)
  private def optOf[A](g: Gen[A]): Gen[Option[A]] = Gen.option(g)
  private val natLong: Gen[Long] = Gen.chooseNum(0L, Long.MaxValue)
  private val natInt: Gen[Int] = Gen.chooseNum(0, Int.MaxValue)

  /** Stats are both present or both unknown (-1): exactly what the
    * writer can express.
    */
  private val shardStats: Gen[(Int, Int)] =
    Gen.oneOf(Gen.const((-1, -1)), Gen.zip(natInt, natInt))
  private val docStats: Gen[(Long, Long)] =
    Gen.oneOf(Gen.const((-1L, -1L)), Gen.zip(natLong, natLong))

  private val entry: Gen[SinkEntry] = for {
    f <- text; rows <- natLong; (s0, s1) <- shardStats; dv <- maybe
    (d0, d1) <- docStats; bf <- maybe; cs <- maybe
  } yield SinkEntry(f, rows, s0, s1, dv, d0, d1, bf, cs)

  private val segRef: Gen[SegmentRef] = for {
    f <- text; n <- natInt; (s0, s1) <- shardStats; (d0, d1) <- docStats
    bf <- maybe; cs <- maybe
  } yield SegmentRef(f, n, s0, s1, d0, d1, bf, cs)

  private val ck: Gen[(String, String)] = Gen.zip(text, text)

  private val manifest: Gen[Manifest] = for {
    ts <- natLong; op <- optOf(text); hz <- optOf(natLong); schema <- optOf(text)
    cks <- optOf(Gen.listOf(ck).map(_.toSeq)); cdc <- optOf(text)
    segmented <- Gen.oneOf(true, false)
    files <- Gen.listOf(entry); segs <- Gen.nonEmptyListOf(segRef)
  } yield
    if (segmented) Manifest(ts, op, hz, schema, cks, cdc, Nil, Some(segs))
    else Manifest(ts, op, hz, schema, cks, cdc, files, None)

  private val agg: Gen[MvAgg] = Gen.zip(text, text, text).map { case (n, k, e) => MvAgg(n, k, e) }
  private val aggs: Gen[Seq[MvAgg]] = Gen.listOf(agg).map(_.toSeq)
  private val dim: Gen[MvdJoin] = for {
    d <- text; fk <- text; pk <- text; v <- natLong; pfx <- text
  } yield MvdJoin(d, fk, pk, v, pfx)

  // ---- round trips -------------------------------------------------------------

  test("round trip: manifest entry") { roundTrips(entry) }
  test("round trip: segment ref") { roundTrips(segRef) }
  test("round trip: manifest (inline and segmented, every optional key)") { roundTrips(manifest) }
  test("round trip: segment file") { roundTrips(Gen.listOf(entry).map(es => SegmentFile(es))) }
  test("round trip: tag") { roundTrips(natLong.map(Tag(_))) }

  test("round trip: distributed-MV header (no dims, one dim, several)") {
    roundTrips(for {
      src <- text; g <- items; t <- items; pred <- text; v <- natLong
      b <- natInt; dims <- Gen.listOf(dim); as <- aggs
    } yield MvdHeader(src, g, t, pred, v, b, dims, as))
  }

  test("round trip: MV DDL definition") {
    val name = listItem.map(_.trim).suchThat(_.nonEmpty)
    roundTrips(for {
      g <- Gen.nonEmptyListOf(name); pred <- text; b <- natInt; as <- aggs
    } yield MvDef(g, pred, b, as))
  }

  // ---- golden bytes: what the hand-built writers wrote for the same record --------

  private val e1 = SinkEntry("part-b1-0.tsv", 25L, 3, 7, "del-m1-1.pos", 10L, 99L,
    "AAAA+/==", "body:s:YQ==:Yg==:0")
  private val e1Json =
    """{"file":"part-b1-0.tsv","rows":25,"s0":3,"s1":7,"d0":10,"d1":99,""" +
      """"dv":"del-m1-1.pos","bf":"AAAA+/==","cs":"body:s:YQ==:Yg==:0"}"""
  private val e2 = SinkEntry("part-c2-s4.tsv", 0L)
  private val e2Json = """{"file":"part-c2-s4.tsv","rows":0}"""
  private val r1 = SegmentRef("_manifest.seg-c1-ab12cd34-1.json", 512, 0, 15, 0L, 4999L,
    "AQ==", "lang:s:cHQ=:cHQ=:0")
  private val r1Json =
    """{"f":"_manifest.seg-c1-ab12cd34-1.json","n":512,"s0":0,"s1":15,"d0":0,""" +
      """"d1":4999,"b":"AQ==","cs":"lang:s:cHQ=:cHQ=:0"}"""
  private val count = MvAgg("n", "count")
  private val sumIds = MvAgg("s", "sum", "doc_id")
  private val aggsJson =
    """"aggs":[{"n":"n","k":"count","e":""},{"n":"s","k":"sum","e":"doc_id"}]"""

  private def golden[T](r: T, json: String)(implicit c: Codec[T]): Unit = {
    assert(encode(r) === json)
    assert(decode[T](json, "golden") === r)
  }

  test("golden: manifest entry, full and minimal") {
    golden(e1, e1Json)
    golden(e2, e2Json)
  }

  test("golden: segment ref, with and without envelope") {
    golden(r1, r1Json)
    golden(SegmentRef("_manifest.seg-a-0-1.json", 3), """{"f":"_manifest.seg-a-0-1.json","n":3}""")
  }

  test("golden: manifest list, inline, empty and segmented") {
    golden(
      Manifest(1700000000000L, Some("append"), Some(3L),
        Some("doc_id:long,shard:int,body:string,score:double"), None, Some("cdc-d1.tsv"),
        Seq(e1, e2)),
      """{"ts":1700000000000,"op":"append","hz":3,""" +
        """"schema":"doc_id:long,shard:int,body:string,score:double",""" +
        s""""cdc":"cdc-d1.tsv","files":[$e1Json,$e2Json]}""")
    golden(Manifest(5L), """{"ts":5,"files":[]}""")
    golden(Manifest(5L, op = Some("compact"), segs = Some(Seq(r1))),
      s"""{"ts":5,"op":"compact","segs":[$r1Json]}""")
  }

  test("golden: segment file and tag") {
    golden(SegmentFile(Seq(e1, e2)), s"""{"files":[$e1Json,$e2Json]}""")
    golden(Tag(7L), """{"v":7}""")
  }

  test("golden: distributed-MV header, plain and with a dims array") {
    golden(MvdHeader("/t", Seq("doc_id"), Seq("long"), "", 1L, 4, Nil, Seq(count, sumIds)),
      """{"src":"/t","group":"doc_id","gtype":"long","pred":"","srcV":1,"buckets":4,""" +
        s""""hashv":2,$aggsJson}""")
    golden(MvdHeader("/t", Seq("d1_tier"), Seq("string"), "", 6L, 8,
      Seq(MvdJoin("/d1", "a", "b", 3L, "d1_"), MvdJoin("/d2", "c", "d", 4L, "d2_")),
      Seq(count, sumIds)),
      """{"src":"/t","group":"d1_tier","gtype":"string","pred":"","srcV":6,"buckets":8,""" +
        """"hashv":2,"dims":[{"dim":"/d1","fk":"a","pk":"b","pfx":"d1_","dimV":3},""" +
        s"""{"dim":"/d2","fk":"c","pk":"d","pfx":"d2_","dimV":4}],$aggsJson}""")
  }

  test("golden: the MV DDL definition reads its documented spelling") {
    golden(MvDef(Seq("g1", "g2"), "", 8,
      Seq(MvAgg("n_docs", "count"), MvAgg("sum_ids", "sum", "doc_id"))),
      """{"group":"g1,g2","pred":"","buckets":8,"aggs":[{"n":"n_docs","k":"count","e":""},""" +
        """{"n":"sum_ids","k":"sum","e":"doc_id"}]}""")
    // any JSON layout of the keys parses; absent pred/buckets default
    assert(decode[MvDef](
      """{ "aggs" : [ {"e": "", "k": "count", "n": "n"} ], "group": " shard , lang " }""",
      "ddl") === MvDef(Seq("shard", "lang"), "", 16, Seq(MvAgg("n", "count"))))
  }

  test("CHECK constraints are a JSON list of {n, p} pairs; strings escape") {
    assert(encode(Manifest(1L, ck = Some(Seq("q" -> "body <> 'a;b\"\\'")))) ===
      """{"ts":1,"ck":[{"n":"q","p":"body <> 'a;b\"\\'"}],"files":[]}""")
    assert(encode(Manifest(1L, ck = Some(Nil))) === """{"ts":1,"ck":[],"files":[]}""")
  }

  // ---- loud failures -------------------------------------------------------------

  test("malformed records fail loudly, naming the source") {
    def bad[T](json: String)(implicit c: Codec[T]): Unit = {
      val e = intercept[IllegalStateException](decode[T](json, "/t/_manifest.v9.json"))
      assert(e.getMessage.contains(s"unparseable ${c.what} in /t/_manifest.v9.json"),
        e.getMessage)
    }
    bad[Manifest]("""{"ts":1,"files":[{"file":"a.tsv","rows":1}""") // truncated
    bad[Manifest]("""{"files":[]}""") // ts is required
    bad[Manifest]("""{"ts":1,"ck":"a=b","files":[]}""") // the removed string layout
    bad[Manifest]("""{"ts":1,"files":[{"file":"a.tsv","rows":"1"}]}""") // wrong type
    bad[Manifest]("""{"ts":1,"files":[{"file":"a.tsv","rows":1,"s0":2}]}""") // half a pair
    bad[Manifest]("""{"ts":1,"files":[]} {}""") // trailing token
    bad[SegmentFile]("""{"files":[{"file":"a.tsv"}]}""")
    bad[MvdHeader]("""{"src":"/t","group":"g","gtype":"long","pred":"","srcV":1,""" +
      """"buckets":4,"aggs":[{"n":"n","k":"count","e":""}]}""") // no hash version
    bad[MvdHeader]("""{"src":"/t","group":"g","gtype":"long","pred":"","srcV":1,""" +
      """"buckets":4,"hashv":2,"aggs":[{"n":"n","k":7,"e":""}]}""") // malformed agg
    bad[MvdHeader]("""{"src":"/t","group":"g","gtype":"long","pred":"","srcV":1,""" +
      """"buckets":4,"hashv":2,"dims":[{"dim":"/d","fk":"a","pk":"b","pfx":"d_"}],""" +
      """"aggs":[{"n":"n","k":"count","e":""}]}""") // a dim without its watermark
    bad[MvDef]("""{"group":"g","buckets":"8","aggs":[]}""") // wrong type
    bad[Tag]("""{"v":-}""")
  }
}
