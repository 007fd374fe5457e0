package graft.model

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Named schema gate over the driver testdata directory.
  *
  * Motivation (round-8 postmortem): a mid-round testdata regeneration
  * flipped `events.ts` from TIMESTAMP(NANOS) to microsecond TIMESTAMP_NTZ
  * and every events-touching query died in ANALYSIS with the same opaque
  * DATATYPE_MISMATCH — 17 red queries traceable to one column. This check
  * runs at Verify startup and turns the next such drift into ONE failure
  * naming exactly which table.column changed and from/to what, instead of
  * a pile of per-query stack traces.
  *
  * The contract records a SET of acceptable types per column because the
  * writer has legitimately varied its timestamp encoding across testdata
  * generations (nanos-as-long under the legacy conf, TIMESTAMP_NTZ,
  * TIMESTAMP) — [[Tables.adaptEventTs]] normalizes all three, so all
  * three are in-contract for `events.ts`; plain µs timestamps read as
  * either NTZ or LTZ depending on the writer's isAdjustedToUTC flag, so
  * date-like columns accept both. Footer-only reads through
  * [[Tables.schemaOf]], the resolver every table read uses — no data scan.
  */
object SchemaContract {
  private val ts: Set[DataType] = Set(TimestampType, TimestampNTZType)
  private def one(t: DataType): Set[DataType] = Set(t)

  /** table → ordered (column, acceptable types). Source: FIXTURES.md §B. */
  val contract: Map[String, Seq[(String, Set[DataType])]] = Map(
    "region" -> Seq("r_regionkey" -> one(IntegerType), "r_name" -> one(StringType)),
    "nation" -> Seq(
      "n_nationkey" -> one(IntegerType), "n_name" -> one(StringType),
      "n_regionkey" -> one(IntegerType)),
    "customer" -> Seq(
      "c_custkey" -> one(LongType), "c_name" -> one(StringType),
      "c_nationkey" -> one(IntegerType), "c_acctbal" -> one(DoubleType),
      "c_mktsegment" -> one(StringType)),
    "supplier" -> Seq(
      "s_suppkey" -> one(LongType), "s_name" -> one(StringType),
      "s_nationkey" -> one(IntegerType), "s_acctbal" -> one(DoubleType)),
    "part" -> Seq(
      "p_partkey" -> one(LongType), "p_name" -> one(StringType),
      "p_brand" -> one(StringType), "p_type" -> one(StringType),
      "p_size" -> one(IntegerType), "p_retailprice" -> one(DoubleType)),
    "orders" -> Seq(
      "o_orderkey" -> one(LongType), "o_custkey" -> one(LongType),
      "o_orderstatus" -> one(StringType), "o_totalprice" -> one(DoubleType),
      "o_orderdate" -> ts, "o_orderpriority" -> one(StringType)),
    "lineitem" -> Seq(
      "l_orderkey" -> one(LongType), "l_partkey" -> one(LongType),
      "l_suppkey" -> one(LongType), "l_linenumber" -> one(IntegerType),
      "l_quantity" -> one(DoubleType), "l_extendedprice" -> one(DoubleType),
      "l_discount" -> one(DoubleType), "l_tax" -> one(DoubleType),
      "l_returnflag" -> one(StringType), "l_linestatus" -> one(StringType),
      "l_shipdate" -> ts),
    "events" -> Seq(
      "event_id" -> one(LongType), "ts" -> (ts + LongType),
      "user_id" -> one(LongType), "event_type" -> one(StringType),
      "value" -> one(DoubleType), "props" -> one(StringType)),
    "documents" -> Seq(
      "doc_id" -> one(LongType), "text" -> one(StringType),
      "lang" -> one(StringType), "source" -> one(StringType),
      "n_chars" -> one(LongType)),
    "embeddings" -> Seq(
      "vec_id" -> one(LongType), "embedding" -> one(ArrayType(FloatType)),
      "label" -> one(IntegerType)))

  /** All contract violations under `sfDir`, one named line each — empty
    * means in-contract. Array element nullability is ignored (parquet
    * writers disagree on it and no operator depends on it).
    */
  def diff(spark: SparkSession, sfDir: String): Seq[String] = {
    Tables.readEventsAsNanoLongs(spark)
    contract.toSeq.sortBy(_._1).flatMap { case (table, cols) =>
      val path = s"$sfDir/$table.parquet"
      val actual: Either[String, Map[String, DataType]] =
        try Right(Tables.schemaOf(spark, path)
          .map(f => f.name -> normalize(f.dataType)).toMap)
        catch { case e: Throwable => Left(s"$table: unreadable ($path): ${e.getMessage}") }
      actual match {
        case Left(err) => Seq(err)
        case Right(got) =>
          val missing = cols.collect {
            case (c, want) if !got.contains(c) =>
              s"$table.$c: MISSING (want ${want.map(_.simpleString).mkString("|")})"
          }
          val wrong = cols.collect {
            case (c, want) if got.contains(c) && !want.contains(got(c)) =>
              s"$table.$c: ${got(c).simpleString} (want ${want.map(_.simpleString).mkString("|")})"
          }
          val extra = (got.keySet -- cols.map(_._1)).toSeq.sorted
            .map(c => s"$table.$c: UNEXPECTED column (${got(c).simpleString})")
          missing ++ wrong ++ extra
      }
    }
  }

  private def normalize(t: DataType): DataType = t match {
    case ArrayType(e, _) => ArrayType(normalize(e))
    case other           => other
  }
}
