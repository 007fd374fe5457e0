package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, ImplicitCastInputTypes, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native codegen'd dot product over two ARRAY<DOUBLE> columns.
  *
  * The built-in composition `aggregate(zip_with(a, b, _*_), 0d, _+_)`
  * (SURVEY.md X-3) is semantically identical but materializes the zipped
  * product array and evaluates two lambda closures per row. This expression
  * fuses the whole thing into one codegen'd loop over the unsafe array
  * data — no intermediate allocation, stays inside whole-stage codegen.
  * Same left-to-right fold order as the HOF version and DuckDB's
  * `list_dot_product`, so results are bit-identical and oracle checks are
  * unaffected.
  *
  * Null contract: null array → null result (BinaryExpression default);
  * MISMATCHED lengths → null, matching the HOF twin exactly (zip_with pads
  * the shorter side with nulls, which nulls the aggregate) — a truncated
  * partial dot product would silently mask bad-ingest rows instead of
  * dropping them. A null ELEMENT also nulls the whole sum (the HOF's
  * null-propagating fold); the per-element check is emitted only when the
  * static schema says elements CAN be null (`containsNull`), so clean
  * embedding columns pay nothing — and the expression stays bit-identical
  * to the HOF twin on every double-array input.
  */
/** Shared null-element contract for the fused array expressions: both
  * classes must emit the identical check (or none) so each stays
  * bit-identical to its HOF twin — one definition, changed in lockstep by
  * construction.
  */
private[functions] object ArrayPairNulls {
  def elementsNullable(l: Expression, r: Expression): Boolean =
    Seq(l, r).exists(_.dataType match {
      case ArrayType(_, cn) => cn
      case _ => true
    })

  /** Codegen fragment: null element → null result, loop abandoned. Empty
    * when the static schema proves elements non-null.
    */
  def checkSnippet(emit: Boolean, a: String, b: String, i: String, isNull: String): String =
    if (emit) s"if ($a.isNullAt($i) || $b.isNullAt($i)) { $isNull = true; break; }" else ""
}

case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  // return type inferred: AbstractDataType is private[sql], but Seq is
  // covariant so Seq[ArrayType] satisfies the override
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dot"

  override def nullable: Boolean = true

  private def elementsNullable: Boolean = ArrayPairNulls.elementsNullable(left, right)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null
    else {
      val n = x.numElements()
      val checkNulls = elementsNullable
      var s = 0.0
      var i = 0
      while (i < n) {
        if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
        s += x.getDouble(i) * y.getDouble(i)
        i += 1
      }
      s
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val nullCheck = ArrayPairNulls.checkSnippet(elementsNullable, a, b, i, ev.isNull.toString)
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  ${ev.value} = ${ev.isNull} ? -1.0 : $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

/** Fused cosine similarity: dot(a,b) / (√dot(a,a)·√dot(b,b)) in ONE loop
  * over both arrays — the composed form traverses each array three times
  * (dot + two norms). All three sums accumulate in the same left-to-right
  * fold order as the composed expression, so results are bit-identical and
  * the DuckDB oracle (which composes list_dot_product the same way) is
  * unaffected. Null contract matches [[DotProduct]]: null/ragged → null,
  * null ELEMENT → null (check emitted only when the static schema has
  * `containsNull = true`); zero-norm inputs yield NaN exactly like the
  * composed division.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"

  private def elementsNullable: Boolean = ArrayPairNulls.elementsNullable(left, right)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null
    else {
      val n = x.numElements()
      val checkNulls = elementsNullable
      var sab = 0.0; var saa = 0.0; var sbb = 0.0
      var i = 0
      while (i < n) {
        if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
        val xi = x.getDouble(i); val yi = y.getDouble(i)
        sab += xi * yi; saa += xi * xi; sbb += yi * yi
        i += 1
      }
      sab / (math.sqrt(saa) * math.sqrt(sbb))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sab = ctx.freshName("sab")
      val saa = ctx.freshName("saa")
      val sbb = ctx.freshName("sbb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val nullCheck = ArrayPairNulls.checkSnippet(elementsNullable, a, b, i, ev.isNull.toString)
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $sab = 0.0; double $saa = 0.0; double $sbb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    double $xi = $a.getDouble($i); double $yi = $b.getDouble($i);
         |    $sab += $xi * $yi; $saa += $xi * $xi; $sbb += $yi * $yi;
         |  }
         |  ${ev.value} = ${ev.isNull}
         |    ? -1.0 : $sab / (java.lang.Math.sqrt($saa) * java.lang.Math.sqrt($sbb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

/** Packed sign-LSH signature: bit j of the result = (emb · planes[j]) > 0.
  * One COMPACT nested loop replacing the unrolled per-plane composition
  * (Σ CASE WHEN graft_dot(emb, plane_j) > 0 THEN 2^j): with 56 planes the
  * unrolled form generated a WholeStageCodegen method past HotSpot's
  * 8 KB huge-method JIT ceiling, so the hot filter ran as INTERPRETED
  * bytecode — measured 1.36 s for a 2000-row scan (x3_knn_lsh, plan
  * reused). The loop form is a few hundred bytes of bytecode and JITs.
  *
  * Arithmetic is bit-identical to the composed form FOR EQUAL-LENGTH
  * inputs (every shipped call site: planes and embeddings are pinned
  * 64-dim): the inner dot is the same ascending left-to-right fold as
  * [[DotProduct]], and bits are set in ascending plane order exactly as
  * the Σ 2^j sum evaluated. On a LENGTH MISMATCH the two forms diverge by
  * design — this loop truncates to the shorter array, while the composed
  * form's [[DotProduct]] returns null and the CASE leaves the bit unset;
  * the parity spec pins only the equal-length contract. The DuckDB oracle
  * keeps the per-plane CASE composition (VectorOps.sigSqlExprOf) — same
  * math, so hash checks are unaffected.
  *
  * Null contract: null emb or planes → null (BinaryExpression default);
  * element nulls are impossible by construction (planes are literals,
  * emb comes from the non-null parquet schema) and not checked.
  */
case class SignBits(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(ArrayType(DoubleType)))
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_sign"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val emb = a.asInstanceOf[ArrayData]
    val planes = b.asInstanceOf[ArrayData]
    val nPlanes = planes.numElements()
    var bits = 0
    var j = 0
    while (j < nPlanes) {
      val p = planes.getArray(j)
      val n = math.min(emb.numElements(), p.numElements())
      var s = 0.0
      var i = 0
      while (i < n) { s += emb.getDouble(i) * p.getDouble(i); i += 1 }
      if (s > 0) bits |= 1 << j
      j += 1
    }
    bits
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val p = ctx.freshName("p")
      val bits = ctx.freshName("bits")
      s"""
         |int $bits = 0;
         |for (int $j = 0; $j < $b.numElements(); $j++) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $p = $b.getArray($j);
         |  int $n = java.lang.Math.min($a.numElements(), $p.numElements());
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) { $s += $a.getDouble($i) * $p.getDouble($i); }
         |  if ($s > 0) $bits |= 1 << $j;
         |}
         |${ev.value} = $bits;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

/** Nearest-centroid assignment over a literal centroid matrix — the
  * loop form of `array_min(array(struct(d_k, id_k)...)).id` with
  * d_k = dot(e,e) − 2·dot(e,c_k) + ‖c_k‖²: the composed form generates
  * 2 unrolled dot loops + a struct per centroid and (at 10+ centroids)
  * pushes the WholeStageCodegen method past HotSpot's JIT ceiling — the
  * same interpreted-bytecode failure mode [[SignBits]] fixes for the
  * sign-LSH filters.
  *
  * Bit-identical to the composed form FOR EQUAL-LENGTH, non-NaN inputs —
  * every shipped call site (embeddings and centroids are pinned 64-dim;
  * distances are finite): dot(e,e), dot(e,c_k) and ‖c_k‖² are the same
  * ascending left-to-right folds (‖c_k‖² was a driver-side `c.map(x*x)
  * .sum` — same order), the distance combines as ((ee − 2·ec) + cn)
  * exactly like the composed `-`/`+` chain, and the ascending scan with
  * strict `<` reproduces the (d, id) struct-min's break-ties-to-lower-id
  * rule (ids arrive sorted ascending). Outside that domain the forms
  * diverge by design: a length mismatch truncates here where the composed
  * [[DotProduct]] nulls the distance, and all-NaN distances return the -1
  * sentinel where the struct-min picked an arbitrary real id — neither
  * input shape is producible from the parquet schema contract.
  */
case class NearestCell(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {

  override def inputTypes =
    Seq(ArrayType(DoubleType), ArrayType(ArrayType(DoubleType)), ArrayType(IntegerType))
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_nearest"

  override protected def nullSafeEval(e: Any, cs: Any, ids: Any): Any = {
    val emb = e.asInstanceOf[ArrayData]
    val cents = cs.asInstanceOf[ArrayData]
    val idArr = ids.asInstanceOf[ArrayData]
    val n = emb.numElements()
    var ee = 0.0
    var i = 0
    while (i < n) { val x = emb.getDouble(i); ee += x * x; i += 1 }
    var bestD = Double.PositiveInfinity
    var bestId = -1
    var k = 0
    while (k < cents.numElements()) {
      val c = cents.getArray(k)
      val m = math.min(n, c.numElements())
      var ec = 0.0; var cn = 0.0
      i = 0
      while (i < m) {
        val ci = c.getDouble(i)
        ec += emb.getDouble(i) * ci; cn += ci * ci
        i += 1
      }
      val d = (ee - 2.0 * ec) + cn
      if (d < bestD) { bestD = d; bestId = idArr.getInt(k) }
      k += 1
    }
    bestId
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (e, cs, ids) => {
      val i = ctx.freshName("i"); val k = ctx.freshName("k"); val n = ctx.freshName("n")
      val m = ctx.freshName("m"); val ee = ctx.freshName("ee"); val ec = ctx.freshName("ec")
      val cn = ctx.freshName("cn"); val ci = ctx.freshName("ci"); val d = ctx.freshName("d")
      val bd = ctx.freshName("bd"); val bi = ctx.freshName("bi"); val c = ctx.freshName("c")
      s"""
         |int $n = $e.numElements();
         |double $ee = 0.0;
         |for (int $i = 0; $i < $n; $i++) { double $ci = $e.getDouble($i); $ee += $ci * $ci; }
         |double $bd = Double.POSITIVE_INFINITY;
         |int $bi = -1;
         |for (int $k = 0; $k < $cs.numElements(); $k++) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $c = $cs.getArray($k);
         |  int $m = java.lang.Math.min($n, $c.numElements());
         |  double $ec = 0.0; double $cn = 0.0;
         |  for (int $i = 0; $i < $m; $i++) {
         |    double $ci = $c.getDouble($i);
         |    $ec += $e.getDouble($i) * $ci; $cn += $ci * $ci;
         |  }
         |  double $d = ($ee - 2.0 * $ec) + $cn;
         |  if ($d < $bd) { $bd = $d; $bi = $ids.getInt($k); }
         |}
         |${ev.value} = $bi;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Registration for [[DotProduct]] and [[CosineSim]] — both paths Spark supports:
  *
  *   - `GraftFunctions.register(spark)`: imperative, idempotent, used by
  *     the query layer (sessions the driver creates without our conf).
  *   - `GraftExtensions`: declarative, for
  *     `--conf spark.sql.extensions=graft.functions.GraftExtensions` —
  *     the production wiring on a real cluster.
  *
  * After registration the function is visible to SQL (`graft_dot(a, b)`)
  * and to the DataFrame API via `call_function`.
  */
object GraftFunctions {

  val dotInfo: ExpressionInfo = new ExpressionInfo(classOf[DotProduct].getName, "graft_dot")

  val cosineInfo: ExpressionInfo = new ExpressionInfo(classOf[CosineSim].getName, "graft_cosine")

  val dotBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => DotProduct(a, b)
    case args =>
      throw new IllegalArgumentException(s"graft_dot expects 2 arguments, got ${args.size}")
  }

  val cosineBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => CosineSim(a, b)
    case args =>
      throw new IllegalArgumentException(s"graft_cosine expects 2 arguments, got ${args.size}")
  }

  val signInfo: ExpressionInfo = new ExpressionInfo(classOf[SignBits].getName, "graft_sign")

  val signBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => SignBits(a, b)
    case args =>
      throw new IllegalArgumentException(s"graft_sign expects 2 arguments, got ${args.size}")
  }

  val nearestInfo: ExpressionInfo = new ExpressionInfo(classOf[NearestCell].getName, "graft_nearest")

  val nearestBuilder: Seq[Expression] => Expression = {
    case Seq(a, b, c) => NearestCell(a, b, c)
    case args =>
      throw new IllegalArgumentException(s"graft_nearest expects 3 arguments, got ${args.size}")
  }

  val vecSumInfo: ExpressionInfo = new ExpressionInfo(classOf[VecSum].getName, "graft_vec_sum")

  /** The aggregate rung: the analyzer wraps a returned AggregateFunction
    * in its AggregateExpression, so the builder just constructs [[VecSum]].
    * `dim` must be a foldable integer — partition-order-dependent shape
    * discovery is exactly what the explicit argument exists to prevent.
    */
  val vecSumBuilder: Seq[Expression] => Expression = {
    case Seq(e, d) if d.foldable =>
      d.eval() match {
        case i: Int => VecSum(e, i)
        case l: Long => VecSum(e, l.toInt)
        case other =>
          throw new IllegalArgumentException(
            s"graft_vec_sum dim must be an integer literal, got $other")
      }
    case args =>
      throw new IllegalArgumentException(
        s"graft_vec_sum expects (array<double>, dim literal), got ${args.size} args")
  }

  val topKInfo: ExpressionInfo = new ExpressionInfo(classOf[TopK].getName, "graft_top_k")

  val topKBuilder: Seq[Expression] => Expression = {
    case Seq(s, i, kExpr) if kExpr.foldable =>
      kExpr.eval() match {
        case k: Int => TopK(s, i, k)
        case k: Long => TopK(s, i, k.toInt)
        case other =>
          throw new IllegalArgumentException(
            s"graft_top_k k must be an integer literal, got $other")
      }
    case args =>
      throw new IllegalArgumentException(
        s"graft_top_k expects (score, id, k literal), got ${args.size} args")
  }

  val ngramsInfo: ExpressionInfo =
    new ExpressionInfo(classOf[GraftNgrams].getName, "graft_ngrams")

  val ngramsBuilder: Seq[Expression] => Expression = {
    case Seq(t, nExpr) if nExpr.foldable =>
      nExpr.eval() match {
        case n: Int => GraftNgrams(t, n)
        case n: Long => GraftNgrams(t, n.toInt)
        case other =>
          throw new IllegalArgumentException(
            s"graft_ngrams n must be an integer literal, got $other")
      }
    case args =>
      throw new IllegalArgumentException(
        s"graft_ngrams expects (array<string>, n literal), got ${args.size} args")
  }

  // sessions this object has registered on — a weak map so sessions can be
  // collected; synchronized: query entry points may race from test threads
  private val registeredSessions =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  def register(spark: SparkSession): Unit = {
    // once per session — a blind createOrReplace logs a "replacing temp
    // function" warning per query (pollutes BENCH output), but the guard
    // must be OUR registration marker, not functionExists alone: a foreign
    // function that happens to be named graft_dot should be replaced with
    // the correct binding, not silently kept. The marker alone isn't
    // sufficient either — if either name is later DROPped from the
    // registry, the marker would make this a silent no-op — so re-register
    // whenever the registry no longer has both names
    val registry = spark.sessionState.functionRegistry
    val firstTime = registeredSessions.put(spark, java.lang.Boolean.TRUE) == null
    if (firstTime ||
      !registry.functionExists(FunctionIdentifier("graft_dot")) ||
      !registry.functionExists(FunctionIdentifier("graft_cosine")) ||
      !registry.functionExists(FunctionIdentifier("graft_sign")) ||
      !registry.functionExists(FunctionIdentifier("graft_nearest")) ||
      !registry.functionExists(FunctionIdentifier("graft_vec_sum")) ||
      !registry.functionExists(FunctionIdentifier("graft_top_k")) ||
      !registry.functionExists(FunctionIdentifier("graft_ngrams"))) {
      registry.createOrReplaceTempFunction("graft_dot", dotBuilder, "built-in")
      registry.createOrReplaceTempFunction("graft_cosine", cosineBuilder, "built-in")
      registry.createOrReplaceTempFunction("graft_sign", signBuilder, "built-in")
      registry.createOrReplaceTempFunction("graft_nearest", nearestBuilder, "built-in")
      registry.createOrReplaceTempFunction("graft_vec_sum", vecSumBuilder, "built-in")
      registry.createOrReplaceTempFunction("graft_top_k", topKBuilder, "built-in")
      registry.createOrReplaceTempFunction("graft_ngrams", ngramsBuilder, "built-in")
    }
  }

  /** DataFrame-side handles (require register() on the active session). */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)
  def cosineSim(a: Column, b: Column): Column = call_function("graft_cosine", a, b)
  def signBits(emb: Column, planes: Column): Column = call_function("graft_sign", emb, planes)
  def nearestCell(emb: Column, cents: Column, ids: Column): Column =
    call_function("graft_nearest", emb, cents, ids)
  def vecSum(emb: Column, dim: Int): Column =
    call_function("graft_vec_sum", emb, org.apache.spark.sql.functions.lit(dim))
  def topK(score: Column, id: Column, k: Int): Column =
    call_function("graft_top_k", score, id, org.apache.spark.sql.functions.lit(k))
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("graft_dot"), GraftFunctions.dotInfo, GraftFunctions.dotBuilder))
    ext.injectFunction((FunctionIdentifier("graft_cosine"), GraftFunctions.cosineInfo, GraftFunctions.cosineBuilder))
    ext.injectFunction((FunctionIdentifier("graft_sign"), GraftFunctions.signInfo, GraftFunctions.signBuilder))
    ext.injectFunction((FunctionIdentifier("graft_nearest"), GraftFunctions.nearestInfo, GraftFunctions.nearestBuilder))
    // the custom-AGGREGATE rung (TypedImperativeAggregate, round 12)
    ext.injectFunction((FunctionIdentifier("graft_vec_sum"), GraftFunctions.vecSumInfo, GraftFunctions.vecSumBuilder))
    ext.injectFunction((FunctionIdentifier("graft_top_k"), GraftFunctions.topKInfo, GraftFunctions.topKBuilder))
    ext.injectFunction((FunctionIdentifier("graft_ngrams"), GraftFunctions.ngramsInfo, GraftFunctions.ngramsBuilder))
    // whole-operator extension: the native merge as-of join's planner
    // strategy (graft.plans.AsOfJoinPlan — LogicalPlan + SparkPlan pair)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinPlan.AsOfJoinStrategy)
  }
}
