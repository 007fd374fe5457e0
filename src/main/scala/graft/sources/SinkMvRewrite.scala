package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}
import SinkLifecycles.{MorCdf, scratch}

/** MV-AWARE AUTOMATIC QUERY REWRITE (rounds 17–18) — the capability gap
  * between "has MVs" and "uses MVs": a user writing the plain
  *
  *   `SELECT g…, count(*), sum(e)… FROM base_table GROUP BY g…`            (r17)
  *   `SELECT d.attr, f.g…, aggs… FROM fact f JOIN dim d ON f.fk = d.pk
  *    GROUP BY d.attr, f.g…`                                               (r18)
  *
  * against REGISTERED [[ShardSink]] tables is transparently answered from
  * a registered distributed MV's state plus the change-feed tail of any
  * commits past the MV watermark(s) — the base tables' data files are
  * never opened for state-covered rows (spec-pinned by the data-file read
  * counter). Same `Rule[LogicalPlan]` rung as
  * [[graft.plans.DotProductFusion]]: wire it per-session via
  * `spark.experimental.extraOptimizations` (or an extensions
  * `injectOptimizerRule`).
  *
  * Matching is deliberately CONSERVATIVE — a non-match always falls back
  * to the base scan, which is always correct:
  *   - single-table: the aggregate's child is the bare relation (possibly
  *     under a column-pruning Project, plus at most one Filter) of a
  *     registered table, read UNPINNED (a `versionAsOf` read is never
  *     rewritten — version-pinned scans are exactly what the MV
  *     machinery's own recomputes issue, which must never self-rewrite);
  *   - join (round 18): the child is an INNER equi-join CHAIN of the
  *     registered fact and a join-MV's dims — single-dim stars AND
  *     snowflake chains — paired ONE-TO-ONE in declaration order on
  *     exactly the MV's fk = pk keys (a chain dim's fk may reference an
  *     earlier dim's prefixed column; every side may sit under
  *     column-pruning/renaming Projects — aliases resolve down to base
  *     columns), against a predicate-less MV;
  *   - FILTERED ROLLUPS (round 19): a residual WHERE whose conjuncts
  *     reference ONLY MV group columns (dim attributes under their
  *     prefix) rewrites anyway — state rows are complete fine-group
  *     partials, so the filter applies to the state read and the tail
  *     exactly. This covers the single most common dashboard query
  *     (`WHERE g = 'x' GROUP BY g`) in all three disguises the plan can
  *     take: a residual Filter above the scan, a Filter whose pushable
  *     conjuncts additionally file-pruned the scan (pruning is implied
  *     by the retained condition), and a filter the scan CONSUMED into
  *     file-exact pruning (no Filter node remains — the scan testifies
  *     to the consumed set and its pinned snapshot, and the rule
  *     reconstructs the conjuncts). Any conjunct over a non-group
  *     column still falls back;
  *   - a predicate-bearing single-table MV matches a query whose
  *     residual WHERE IMPLIES the MV's predicate where decidable
  *     (round 19; the MV pred is re-resolved and re-OPTIMIZED against
  *     the same table so inferred not-null conjuncts and foldings land
  *     on both sides, then every MV conjunct must semantically match a
  *     query conjunct — the leftover query conjuncts are a group-column
  *     residual like any other). An unfiltered query never matches a
  *     predicate MV; join MVs with predicates never rewrite;
  *   - the group-by columns are a SUBSET of the MV's group columns (any
  *     order, possibly empty — a global aggregate); dim-side group attrs
  *     map under the MV's dim prefix (`region` → `d_region`): state rows
  *     are complete per-fine-group partials, so a coarser rollup
  *     re-aggregates them exactly;
  *   - every aggregate maps onto declared MV slots:
  *       `count(*)`           → the count slot;
  *       `sum(bigint e)`      → the sum slot for e (never try_sum — its
  *                              Long-overflow answer is NULL where the
  *                              refresh-time ANSI slot errored);
  *       `sum(double e)`      → the dsum slot for e (round 18): partials
  *                              are EXACT DECIMAL(30,6) — by declaring a
  *                              dsum slot the MV owner asserts 6 fractional
  *                              digits carry the column, and the rewrite
  *                              answer is the better-defined one (a direct
  *                              double-sum scan is partition-order
  *                              dependent in its last ULP);
  *       `count(e)`           → the non-null counter a sum/xor/dsum slot
  *                              over the same e already maintains;
  *       `avg(e)`             → sum-slot (or dsum-slot) / its counter,
  *                              divided once in DOUBLE — exact operands,
  *                              one IEEE division. Like dsum, this is a
  *                              BETTER-DEFINED answer than base
  *                              execution, and an explicit contract
  *                              deviation (advice fix): un-rewritten
  *                              Spark `avg(bigint)` accumulates its sum
  *                              in DOUBLE, so for groups whose running
  *                              sum exceeds 2^53 the base path loses low
  *                              bits partition-order-dependently while
  *                              the rewrite divides the EXACT BIGINT sum
  *                              once — answers can differ in the last
  *                              ULP, and the rewrite's is the
  *                              deterministic one;
  *       `min/max/bit_xor(e)` → their slots — BIGINT, or the round-19
  *                              typed extreme kinds (dmin/dmax DOUBLE,
  *                              smin/smax STRING), selected by the
  *                              aggregate's output type;
  *       `count(DISTINCT e…)`  → FINE-GRAIN SUBSUMPTION (round 19): when
  *                              the MV's group set contains the distinct
  *                              column(s), live fine-group rows ARE the
  *                              distinct value inventory — the answer is
  *                              count_distinct over the re-aggregated
  *                              fine groups per query group (nulls
  *                              excluded by count_distinct, retracted
  *                              values by the liveness filter), rolled
  *                              up with the linear slots in one extra
  *                              aggregation; xor/extreme slots in the
  *                              same query fall back (they do not
  *                              re-roll through two levels exactly).
  *
  * The rewritten plan is  state slots ∪ signed tail → one re-aggregation:
  * per group, count = Σ(state count, tail signs); sum/xor/dsum re-derive
  * SQL NULL-ness from the non-null counters the state already carries.
  * A group whose count reaches zero leaves the result. Extremes (min/max)
  * over a tail use the HYBRID path (round 18): tail INSERTS extend the
  * recorded extreme declaratively (max of state ∪ inserted values); the
  * few groups the tail RETRACTS from are re-computed by ONE pruned scan
  * of the base table at the current version, spliced over the state
  * answer — the same clean-or-dirty treatment the MV refresh itself uses.
  * The dirty-group key list is collected at plan time from the tail feed
  * only (never the base table), capped at [[DirtyCap]]; past the cap the
  * whole query falls back.
  *
  * COST GUARD + MV SELECTION (round 18): among all registered MVs whose
  * definition subsumes the query, the CHEAPEST wins, and the rewrite is
  * REFUSED outright when it would not beat the base scan. The cost model
  * is pure metadata — no data IO: MV state segment bytes
  * ([[SinkMvDist.bucketStats]]) + the tail windows' change-feed file
  * bytes + (join MVs) the full opposite-side scan a compensating
  * delta-join part must perform ([Δd ⋈ f@old] reads the whole fact;
  * [Δf ⋈ d@new] reads the whole dim), compared against the current
  * manifests' data-file bytes — a pruned base scan is priced at its
  * kept entries, not the full table. A churned table whose tail
  * outweighs its data falls back ([[costFallbacks]] counts the
  * refusals).
  *
  * DIM-TAIL COMPENSATION (round 19): when the MV's group set contains a
  * moved dim's fk, an ATTRIBUTE-ONLY dim window skips the [Δd ⋈ f@old]
  * rescan entirely — state rows are addressable by the key, so the
  * changed keys' rows REMAP to the dim's post-image group values (and
  * deleted keys' rows drop), reading only the dim and its feed. A
  * window in which any key RECEIVES rows it did not have at the old
  * watermark — a plain INSERT, or a pk-CHANGING update's post-image —
  * disqualifies at a plan-time probe (the arriving key pulls fact rows
  * the state never saw) and the query falls back; so do aggregate
  * expressions over the dim's columns and chain dims keyed off the
  * moved dim.
  *
  * At 100 TB this converts every dashboard-shaped rollup — single-table
  * or star — over a slowly appending fact table from a full scan into an
  * O(|MV| + |tail|) read, and never converts one that would not pay.
  */
object SinkMvRewrite extends Rule[LogicalPlan] {

  /** base table dir → distributed-MV dirs (a table may carry several
    * MVs at different groups/predicates; the CHEAPEST whose definition
    * subsumes the query wins — see the cost model above). Join MVs
    * register under their FACT table's dir. Registration is explicit,
    * and it is a CONTRACT the caller vouches for:
    *   - each MV's change-feed prerequisites hold for the table (cdf
    *     enabled for CoW DML etc.);
    *   - while any registered table is being queried, the registered
    *     MVs' state is not vacuumed below their current version and the
    *     table's change feeds at/after each MV watermark are not
    *     compacted away. The rewritten plan pins state segment refs and
    *     the tail window at OPTIMIZATION time (the horizon check runs
    *     there); a concurrent refresh+vacuum or compaction between
    *     planning and execution would fail the query at execution
    *     instead of falling back. Run maintenance with the table
    *     unregistered, or with retention covering in-flight queries —
    *     the same discipline every snapshot-pinning table format asks
    *     of its vacuum (advice fix: contract documented).
    */
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, List[String]]()

  /** Rewrites applied — observability + the spec's assertion hook. */
  val rewrites = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Rewrites REFUSED by the cost guard (a subsuming MV existed but
    * state + tail + compensation would not beat the base scan).
    */
  val costFallbacks = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Hybrid-extreme rewrites whose dirty set exceeded [[DirtyCap]] and
    * fell back entirely.
    */
  val dirtyCapFallbacks = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Longest dim chain the join matcher will pair — bounds the
    * orientation fan-out of the candidate-tree builder. Deeper
    * registered snowflakes are maintainable but never rewritten.
    */
  val MaxChainDims = 8

  /** Max tail-retracted groups the hybrid extreme path re-computes from
    * the base table; past this the plan falls back to the full scan
    * (the recompute's IN-list predicate — and the plan-time collect that
    * builds it — must stay trivially small).
    */
  val DirtyCap = 64

  def register(tableDir: String, mvDir: String): Unit = {
    registry.merge(tableDir, List(mvDir),
      (old, add) => (old ++ add).distinct)
    ()
  }
  def unregister(tableDir: String): Unit = {
    registry.remove(tableDir)
    // drop memoized dim-window probe verdicts with the registration: a
    // table dropped and recreated at the same path could otherwise be
    // served a stale 'no arriving keys / unique' verdict whose
    // (dim, fromV, toV) key happens to collide with the new incarnation's
    // version numbers (round-19 ADVICE). Unregister is control-plane-rare,
    // so a full invalidation costs nothing measurable.
    compProbeCache.clear()
  }

  /** Is this MV currently wired into the rewrite? The `.mvs` census
    * exposes it — registration is in-memory, so after a JVM restart a
    * persisted MV shows `registered = false` until re-attached
    * ([[SinkMvDdl]]'s `graft.mv.attach`).
    */
  def isRegistered(tableDir: String, mvDir: String): Boolean =
    Option(registry.get(tableDir)).exists(_.contains(mvDir))

  /** Unregister ONE MV of a table (the SQL DROP spelling) — other
    * registered MVs keep answering.
    */
  def unregister(tableDir: String, mvDir: String): Unit = {
    registry.computeIfPresent(tableDir, (_, old) => {
      val rest = old.filterNot(_ == mvDir)
      if (rest.isEmpty) null else rest
    })
    compProbeCache.clear() // same staleness rule as the full unregister
    ()
  }

  /** Memoized dim-tail compensation verdicts per immutable
    * (dim, fromV, toV) window: no-arriving-keys + unique-changed-keys.
    * Snapshots and feeds of a committed window never change, so the
    * verdict is stable; bounded by eviction at [[ProbeCacheCap]].
    */
  private val compProbeCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), java.lang.Boolean]()
  private val ProbeCacheCap = 256

  // re-entrancy guard: building the replacement plan triggers a nested
  // optimization (of the state ∪ tail aggregate) that must not itself
  // attempt rewrites; plan-time jobs (dirty-key collect over the tail
  // feed, dim-key uniqueness probes) run under it too
  private val inRewrite = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (registry.isEmpty || inRewrite.get()) return plan
    plan.transform {
      case agg @ Aggregate(groupExprs, aggExprs, child, _) =>
        try rewriteAggregate(agg, groupExprs, aggExprs, child).getOrElse(agg)
        catch { case scala.util.control.NonFatal(e) =>
          // an optimizer rule must NEVER break the query: a stale
          // registration (renamed column, swept MV dir, corrupt header,
          // expired feed) bails to the base scan instead of escaping
          if (sys.props.contains("graft.mvrw.debug")) e.printStackTrace()
          agg }
    }
  }

  /** One query shape the rule can answer: the fact side, the optional
    * dim side (round-18 join rewrite), each with its base-column
    * resolution map, plus the single-table residual filter.
    */
  /** `nn`: IsNotNull conjuncts this side carries (the optimizer's
    * inner-join inference, or not-null-envelope scan pruning), as (base
    * column name, expression). A name that proves to be a matched
    * equi-join key is PEELED (an inner join drops null keys by itself,
    * and the MV's own joinedFrame does the same); any other name demotes
    * to an ordinary residual conjunct and must pass the group-column
    * check like the rest of `conds`. `conds`: residual filter conjuncts
    * over this side's attributes — round 19's filtered-rollup match
    * applies them to MV state when they reference only group columns.
    * `consumedPin`: the snapshot a filter-consuming scan pinned (must
    * equal the rewrite's own version resolution or the match bails).
    */
  private final case class SideInfo(
      table: ShardSinkTable, base: Map[ExprId, String],
      nn: Seq[(String, Expression)] = Nil,
      conds: Seq[Expression] = Nil,
      consumedPin: Option[Long] = None)
  /** One dim of a matched join tree: the resolved side plus the raw key
    * attributes of its equi-join condition (fk may belong to the fact OR
    * an earlier dim — the snowflake chain; validated during MV pairing).
    */
  private final case class DimSide(
      side: SideInfo, fkAttr: AttributeReference, pkAttr: AttributeReference)
  /** One dim window compensated at QUERY TIME by a state-grain group
    * remap (round 19) instead of a delta-join part — see the
    * qualification in [[tryRewrite]] and the remap in [[buildPlan]].
    */
  private final case class CompDim(
      dim: String, fk: String, pk: String, pfx: String, fromV: Long, toV: Long)
  /** `conds`: the single-table residual filter's conjuncts (join-side
    * residuals live on their [[SideInfo]]s).
    */
  private final case class Shape(
      fact: SideInfo, dims: Seq[DimSide],
      conds: Seq[Expression], factRel: LogicalPlan)

  /** One candidate MV's screening outcome: shape/slot mismatch, a cost
    * refusal, or a mapped candidate with its metadata cost and a DEFERRED
    * plan builder — mapping and costing are pure metadata, so every
    * candidate is screened, but the expensive part (nested analyze +
    * optimize, plus any plan-time jobs the hybrid path needs) runs only
    * for the winner (review fix: N−1 nested optimizations were wasted on
    * multi-MV tables).
    */
  private sealed trait Screened
  private case object NoMatch extends Screened
  private case object CostRefused extends Screened
  private final case class Mapped(cost: Long, build: () => Option[LogicalPlan])
    extends Screened

  private def rewriteAggregate(
      agg: Aggregate, groupExprs: Seq[Expression],
      aggExprs: Seq[NamedExpression], child: LogicalPlan): Option[LogicalPlan] = {
    val shapes: Seq[Shape] = singleShape(child).toSeq ++ joinShapes(child)
    if (shapes.isEmpty) return None
    val screened: Seq[Screened] = shapes.flatMap { sh =>
      Option(registry.get(sh.fact.table.tableDir)).toSeq.flatten.map { mvDir =>
        try tryRewrite(agg, groupExprs, aggExprs, sh, mvDir)
        catch { case scala.util.control.NonFatal(e) =>
          if (sys.props.contains("graft.mvrw.debug")) e.printStackTrace()
          NoMatch }
      }
    }
    // cheapest-first: build lazily, fall to the next candidate on a
    // build-time surprise (each builder is independently NonFatal-safe)
    val built = screened.collect { case m: Mapped => m }
      .sortBy(_.cost).iterator
      .map(m =>
        try m.build()
        catch { case scala.util.control.NonFatal(e) =>
          if (sys.props.contains("graft.mvrw.debug")) e.printStackTrace()
          None })
      .collectFirst { case Some(p) => p }
    built match {
      case Some(p) =>
        rewrites.incrementAndGet()
        Some(p)
      case None =>
        // the counter means "this QUERY fell back although a subsuming MV
        // existed" — a per-candidate loss that another MV won is not a
        // fallback (review fix)
        if (screened.contains(CostRefused)) costFallbacks.incrementAndGet()
        None
    }
  }

  // ---- shape matching --------------------------------------------------------

  /** Peel column-pruning Projects and AT MOST one Filter off the
    * aggregate's child, in whatever order the optimizer stacked them
    * (pruning typically lands ABOVE the filter), down to the relation.
    */
  private def peel(plan: LogicalPlan, cond: Option[Expression])
      : Option[(Option[Expression], LogicalPlan)] = plan match {
    case Project(es, c) if es.forall(_.isInstanceOf[AttributeReference]) =>
      peel(c, cond)
    case Filter(f, c) if cond.isEmpty => peel(c, Some(f))
    case r: DataSourceV2Relation => Some((cond, r))
    case r: DataSourceV2ScanRelation => Some((cond, r))
    case _ => None
  }

  private def singleShape(child: LogicalPlan): Option[Shape] =
    peel(child, None).flatMap { case (cond, rel) =>
      sideOf(rel, underFilter = cond.isDefined).map(si =>
        Shape(si, Seq.empty, cond.toSeq.flatMap(conjuncts), rel))
    }

  /** Candidate join trees of an inner equi-join chain — LEFT-DEEP trees
    * of registered relations, each side resolved through its
    * column-pruning/renaming Projects down to base column names, dims
    * collected in JOIN ORDER (the order [[SinkMvDist.createSnowflake]]
    * declares and composes by). Both orientations are produced at every
    * step (a 2-table query may put the dim on either side; deeper trees
    * with a mis-oriented fact simply fail MV pairing later). A Filter on
    * a side splits: IsNotNull conjuncts over bare attributes go to
    * [[SideInfo.nn]] (peeled when they prove to be matched join keys
    * during MV pairing, demoted to residual conjuncts otherwise); every
    * other conjunct is recorded into [[SideInfo.conds]] and must pass
    * the round-19 group-column residual check. Chains are capped at
    * [[MaxChainDims]] dims — a longer registered snowflake silently
    * falls back to the base scan (the cap bounds the candidate-tree
    * fan-out; raise it alongside a fan-out audit if a deeper chain ever
    * matters).
    */
  private def joinShapes(child: LogicalPlan): Seq[Shape] = {
    def peelProj(p: LogicalPlan): LogicalPlan = p match {
      case Project(es, c) if es.forall(_.isInstanceOf[AttributeReference]) => peelProj(c)
      case x => x
    }
    // the analyzer wraps a narrower join key in an implicit up-cast
    // (`cast(shard as bigint) = dk`); the MV's own joinedFrame inserts
    // the IDENTICAL cast for the same key pair, so looking through it
    // preserves equality semantics exactly — but ONLY that cast: the
    // target must be the lossless up-cast to the OTHER key's type. A
    // user-written narrowing/lossy cast (cast(dk AS INT), cast(... AS
    // STRING)) changes which rows join and must never match (review fix)
    def keyAttr(e: Expression, other: Expression): Option[AttributeReference] = e match {
      case at: AttributeReference => Some(at)
      case c: Cast => c.child match {
        case at: AttributeReference
            if c.dataType == other.dataType &&
              Cast.canUpCast(at.dataType, c.dataType) => Some(at)
        case _ => None
      }
      case _ => None
    }
    def trees(p: LogicalPlan): Seq[Shape] = peelProj(p) match {
      case Join(l, r, Inner, Some(EqualTo(ka, kb)), _)
          if keyAttr(ka, kb).isDefined && keyAttr(kb, ka).isDefined =>
        val a = keyAttr(ka, kb).get
        val b = keyAttr(kb, ka).get
        // one side of the condition must be THIS dim's pk (and the fk
        // must come from elsewhere — a self-referencing condition bails)
        def append(rest: Seq[Shape], dimPlan: LogicalPlan): Seq[Shape] =
          resolveSide(dimPlan).toSeq.flatMap { ds =>
            Seq((a, b), (b, a)).flatMap { case (fkA, pkA) =>
              if (ds.base.contains(pkA.exprId) && !ds.base.contains(fkA.exprId))
                rest.filter(_.dims.length < MaxChainDims)
                  .map(t => t.copy(dims = t.dims :+ DimSide(ds, fkA, pkA)))
              else Seq.empty
            }
          }
        append(trees(l), r) ++ append(trees(r), l)
      case leaf =>
        // resolveSide, not sideOf: the FACT side may sit under renaming
        // Projects or a residual Filter exactly like a dim side (review
        // fix — r17 resolved both sides uniformly)
        resolveSide(leaf).map(si => Shape(si, Seq.empty, Nil, child)).toSeq
    }
    trees(child).filter(_.dims.nonEmpty).distinct
  }

  /** One join side resolved down to its ShardSink relation: the table
    * plus a map from every visible attribute's exprId to its BASE column
    * name — plain attrs pass through, `Alias(col, newName)` renames
    * resolve to the underlying column, anything computed bails.
    */
  private def resolveSide(
      plan: LogicalPlan, underFilter: Boolean = false): Option[SideInfo] = plan match {
    case Project(es, c) =>
      resolveSide(c, underFilter).flatMap { si =>
        val entries = es.map {
          case at: AttributeReference => si.base.get(at.exprId).map(at.exprId -> _)
          case al @ Alias(ar: AttributeReference, _) =>
            si.base.get(ar.exprId).map(al.exprId -> _)
          case _ => None
        }
        if (entries.forall(_.isDefined)) Some(si.copy(base = entries.flatten.toMap))
        else None
      }
    // a residual Filter on a side: IsNotNull conjuncts over bare
    // attributes route to `nn` (the pairing step peels matched join keys
    // and demotes the rest to residual conds); every OTHER conjunct is a
    // real residual predicate — recorded into `conds` for the
    // filtered-rollup match (round 19), which rewrites only when every
    // such conjunct references MV group columns alone
    case Filter(cond, c) =>
      resolveSide(c, underFilter = true).flatMap { si =>
        val (nns, rest) = conjuncts(cond).partition {
          case IsNotNull(_: AttributeReference) => true
          case _ => false
        }
        val nnEntries = nns.map { case e @ IsNotNull(at: AttributeReference) =>
          si.base.get(at.exprId).map(n => n -> (e: Expression))
        }
        if (nnEntries.forall(_.isDefined))
          Some(si.copy(nn = si.nn ++ nnEntries.flatten, conds = si.conds ++ rest))
        else None
      }
    case rel => sideOf(rel, underFilter)
  }

  /** The bare registered relation — a ScanRelation additionally proves
    * its scan is FULL and UNPRUNED: ShardSink can CONSUME a predicate
    * into file-exact pruning (the Filter node disappears from the plan
    * entirely), so the absence of a Filter above the relation is not
    * evidence the aggregate covers the whole table — the scan itself
    * must testify (review fix; an agg-pushdown or otherwise foreign scan
    * class bails the same way). Version-pinned reads never match — the
    * MV machinery's own recomputes have that shape (self-rewrite guard).
    */
  private def sideOf(plan: LogicalPlan, underFilter: Boolean): Option[SideInfo] = plan match {
    case r: DataSourceV2Relation => r.table match {
      case t: ShardSinkTable if t.pinnedVersion.isEmpty =>
        Some(SideInfo(t, r.output.map(at => at.exprId -> at.name).toMap))
      case _ => None
    }
    case r: DataSourceV2ScanRelation => (r.relation.table, r.scan) match {
      case (t: ShardSinkTable, sc: ShardSinkScan) if t.pinnedVersion.isEmpty =>
        val base = r.output.map(at => at.exprId -> at.name).toMap
        val byName = r.output.collect { case at: AttributeReference => at.name -> at }.toMap
        if (sc.isFullUnprunedScan) Some(SideInfo(t, base))
        // a scan whose ONLY pruning is `col IS NOT NULL` envelopes: the
        // pushdown skips files holding exclusively null values of those
        // columns — report them into `nn`, where the pairing step peels
        // matched join keys and demotes the rest to residual conjuncts
        // (the residual Filter, when Spark keeps one, adds the same
        // entries — the peel/demote treatment is idempotent)
        else if (sc.notNullOnlyPruning.isDefined) {
          val entries = sc.notNullOnlyPruning.get.toSeq.sorted.map(n =>
            byName.get(n).map(at => n -> (IsNotNull(at): Expression)))
          if (entries.forall(_.isDefined)) Some(SideInfo(t, base, nn = entries.flatten))
          else None
        }
        // FILE-EXACT CONSUMPTION (round 19): the pushed predicate was
        // fully applied by pruning — no Filter node remains, but the
        // scan testifies to exactly which filters it consumed (and the
        // snapshot it pinned while proving the all-match claim). The
        // consumed set reconstructs as residual conjuncts; tryRewrite
        // validates the pin against its own version resolution.
        else if (sc.consumedFilters.nonEmpty)
          fromConsumed(sc.consumedFilters, byName).map(cs =>
            SideInfo(t, base, conds = cs, consumedPin = sc.consumedPin))
        // a pruned scan UNDER a residual Filter: every pruning this scan
        // applies derives from pushed filters — conjuncts of that very
        // Filter — so (Filter ∘ pruned scan) equals σ_cond(full table);
        // the Filter's conjuncts are already recorded by the caller
        else if (underFilter && sc.filterDerivedPruningOnly)
          Some(SideInfo(t, base))
        else None
      case _ => None
    }
    case _ => None
  }

  /** Reconstruct consumed source filters as catalyst conjuncts over the
    * relation's output attributes. Only the shapes the consumption path
    * can produce (shard/doc-class comparisons, IN, IsNotNull, AND/OR);
    * anything else answers None and the side bails — never a partial
    * account of an applied predicate. Literal types must match the
    * column exactly (consumption-eligible filters come from analyzer-
    * normalized comparisons, so they do).
    */
  private def fromConsumed(
      fs: Seq[org.apache.spark.sql.sources.Filter],
      byName: Map[String, AttributeReference]): Option[Seq[Expression]] = {
    import org.apache.spark.sql.{sources => sf}
    def attr(n: String): Option[AttributeReference] = byName.get(n)
    def typed(at: AttributeReference, v: Any): Option[Literal] = {
      val l = Literal(v)
      if (l.dataType == at.dataType) Some(l) else None
    }
    def conv(f: sf.Filter): Option[Expression] = f match {
      case sf.EqualTo(n, v) =>
        attr(n).flatMap(at => typed(at, v).map(EqualTo(at, _)))
      case sf.In(n, vs) =>
        attr(n).flatMap { at =>
          val ls = vs.toSeq.map(typed(at, _))
          if (ls.forall(_.isDefined)) Some(In(at, ls.flatten)) else None
        }
      case sf.GreaterThan(n, v) =>
        attr(n).flatMap(at => typed(at, v).map(GreaterThan(at, _)))
      case sf.GreaterThanOrEqual(n, v) =>
        attr(n).flatMap(at => typed(at, v).map(GreaterThanOrEqual(at, _)))
      case sf.LessThan(n, v) =>
        attr(n).flatMap(at => typed(at, v).map(LessThan(at, _)))
      case sf.LessThanOrEqual(n, v) =>
        attr(n).flatMap(at => typed(at, v).map(LessThanOrEqual(at, _)))
      case sf.IsNotNull(n) => attr(n).map(IsNotNull)
      case sf.And(l, r) =>
        for { le <- conv(l); re <- conv(r) } yield And(le, re)
      case sf.Or(l, r) =>
        for { le <- conv(l); re <- conv(r) } yield Or(le, re)
      case _ => None
    }
    val out = fs.map(conv)
    if (out.forall(_.isDefined)) Some(out.flatten.flatMap(conjuncts)) else None
  }

  // ---- predicate matching ------------------------------------------------------

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  /** Predicate-MV residual split (round 19 — generalizes the r17 exact
    * match to IMPLICATION where decidable): the MV pred string is
    * analyzed AND optimized against a fresh read of the same table
    * (under the re-entrancy guard), so it carries the same inferred
    * not-null conjuncts and foldings the query's own optimization
    * produced (the consumed-filter reconstructions carry theirs because
    * Spark pushes the inferred IsNotNulls alongside — symmetric by
    * construction); its attributes map by name onto the query
    * relation's, and every MV conjunct must semantically match a query
    * conjunct. The query is then AT LEAST as restrictive as the MV, and
    * the unmatched query conjuncts are EXACTLY the residual:
    * query = σ(mvpred ∧ residual)(T) = σ(residual) over the MV's base
    * rows. Any shape surprise (pred folded away, consumed into the
    * scan, unmappable attribute) answers None — never a wrong rewrite.
    * The old exact-equality match is the empty-residual case.
    */
  private def splitResidual(
      spark: SparkSession, tableDir: String, pred: String,
      qConds: Seq[Expression], rel: LogicalPlan): Option[Seq[Expression]] = {
    val fresh = spark.read.format("graft.sources.ShardSinkSource")
      .option("path", tableDir).load().where(expr(pred))
    val mvConj: Seq[Expression] = fresh.queryExecution.optimizedPlan match {
      case Filter(c, _) =>
        val byName = rel.output.map(at => at.name -> at).toMap
        var ok = true
        val mapped = c.transform {
          case at: AttributeReference =>
            byName.get(at.name) match {
              case Some(a) => a
              case None => ok = false; at
            }
        }
        if (!ok) return None
        conjuncts(mapped)
      case _ => return None
    }
    if (mvConj.forall(mc => qConds.exists(_.semanticEquals(mc))))
      Some(qConds.filterNot(qc => mvConj.exists(_.semanticEquals(qc))))
    else None
  }

  // ---- aggregate mapping --------------------------------------------------------

  private def norm(sql: String): String =
    sql.toLowerCase.replace("`", "").replace(" ", "")

  /** How one query aggregate derives from the MV slots. */
  private sealed trait AggMap { def slot: Int }
  /** The value slot verbatim (count/sum/min/max/xor — BIGINT). */
  private final case class SlotMap(slot: Int) extends AggMap
  /** A dsum value slot: exact decimal partial, exposed as DOUBLE. */
  private final case class DSlotMap(slot: Int) extends AggMap
  /** `count(e)`: the non-null counter a sum/xor/dsum slot on e carries. */
  private final case class CounterMap(slot: Int) extends AggMap
  /** `avg(e)`: value slot / non-null counter, one DOUBLE division. */
  private final case class AvgMap(slot: Int) extends AggMap

  /** One query output column: a (possibly renamed) group attribute, a
    * slot-mapped aggregate, or a count(DISTINCT …) over MV group
    * columns (round 19 — fine-grain subsumption: when the MV's group
    * set contains the distinct column(s), the distinct count per query
    * group is exactly the number of LIVE fine groups with non-null
    * values there, so it re-derives from state with no base read).
    */
  private sealed trait Out
  private final case class GroupOut(state: String, out: String) extends Out
  private final case class AggOut(m: AggMap, name: String) extends Out
  private final case class DistinctOut(cols: Seq[String], name: String) extends Out

  /** Map one query aggregate function onto the MV slots, or None (→ no
    * rewrite). `rename` rewrites the function's argument attributes to
    * the MV's column naming (dim attrs gain their prefix; aliases resolve
    * to base names) before the textual match; it answers None for an
    * attribute the shape cannot account for.
    */
  private def mapAgg(
      f: AggregateFunction, outType: DataType, aggs: Seq[SinkMatView.MvAgg],
      rename: Expression => Option[Expression]): Option[AggMap] = {
    def slotOf(kinds: Set[String], e: Expression): Option[Int] =
      rename(e).flatMap { re =>
        val n = norm(re.sql)
        val i = aggs.indexWhere(a => kinds.contains(a.kind) && norm(a.e) == n)
        if (i >= 0) Some(i) else None
      }
    f match {
      case Count(Seq(Literal(1, _))) =>
        Some(aggs.indexWhere(_.kind == "count")).filter(_ >= 0).map(SlotMap)
      // count(e) = rows where e IS NOT NULL — exactly the `_c` counter a
      // sum-family slot over the same expression maintains (round 18)
      case Count(Seq(e)) if !e.isInstanceOf[Literal] && outType == LongType =>
        slotOf(Set("sum", "xor", "dsum"), e).map(CounterMap)
      // try_sum must NOT map: on Long overflow it returns NULL while the
      // MV's refresh-time ANSI sum slot errored (or vice versa) — a
      // silent semantics change in the overflow corner (advice fix)
      case Sum(e, ctx) if ctx.evalMode != EvalMode.TRY =>
        // the type guard is load-bearing: BIGINT sums map to sum slots,
        // DOUBLE sums map ONLY to dsum slots (exact decimal partials) —
        // a textual match of sum(double) onto a BIGINT slot would return
        // per-row-truncated values (review fix r17, extended r18)
        if (outType == LongType) slotOf(Set("sum"), e).map(SlotMap)
        else if (outType == DoubleType) slotOf(Set("dsum"), e).map(DSlotMap)
        else None
      case Average(e, mode) if mode != EvalMode.TRY && outType == DoubleType =>
        // the slot-kind set depends on the INPUT type, exactly like Sum's
        // outType guard: an integral avg derives from either slot family
        // (both partials are exact), but a fractional avg may only use
        // the exact-decimal dsum slot — a BIGINT sum slot over a DOUBLE
        // column holds per-row-truncated values and would silently
        // change the average (review fix)
        val kinds: Set[String] = e.dataType match {
          case org.apache.spark.sql.types.ByteType |
               org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.IntegerType | LongType => Set("sum", "dsum")
          case DoubleType | org.apache.spark.sql.types.FloatType => Set("dsum")
          case _ => Set.empty
        }
        if (kinds.isEmpty) None else slotOf(kinds, e).map(AvgMap)
      // extremes: the slot kind follows the OUTPUT type (round 19 added
      // the double/string slot kinds — same fold, typed comparisons)
      case Min(e) => (outType match {
        case LongType => Some("min")
        case DoubleType => Some("dmin")
        case org.apache.spark.sql.types.StringType => Some("smin")
        case _ => None
      }).flatMap(k => slotOf(Set(k), e)).map(SlotMap)
      case Max(e) => (outType match {
        case LongType => Some("max")
        case DoubleType => Some("dmax")
        case org.apache.spark.sql.types.StringType => Some("smax")
        case _ => None
      }).flatMap(k => slotOf(Set(k), e)).map(SlotMap)
      case BitXorAgg(e) if outType == LongType => slotOf(Set("xor"), e).map(SlotMap)
      case _ => None
    }
  }

  // ---- cost model (metadata only) ------------------------------------------------

  private def entriesBytes(es: Seq[SinkEntry], sizes: Map[String, Long]): Long =
    es.map { e =>
      sizes.getOrElse(e.file, 0L) +
        (if (e.hasDeletes) sizes.getOrElse(e.dv, 0L) else 0L)
    }.sum

  private def tableBytes(dir: String, v: Long, sizes: Map[String, Long]): Long =
    entriesBytes(ShardSink.entriesAtVersion(dir, v), sizes)

  /** Can this tail window carry retractions at all? Decided from feed
    * METADATA alone: plain insert partitions cannot retract, anything
    * else (delete/update partitions, cdc sidecars, unknown shapes) may.
    * An insert-only window lets the hybrid-extreme path skip its
    * plan-time dirty probe entirely — the common append-only dashboard
    * tail pays zero extra reads.
    */
  private def mayRetract(
      parts: Seq[org.apache.spark.sql.connector.read.InputPartition]): Boolean =
    parts.exists {
      case f: ShardSinkChangeFile => f.changeType != "insert"
      case _ => true
    }

  // ---- the rewrite ----------------------------------------------------------------

  private def tryRewrite(
      agg: Aggregate, groupExprs: Seq[Expression], aggExprs: Seq[NamedExpression],
      sh: Shape, mvDir: String): Screened = {
    val spark = SparkSession.active
    if (SinkMvDist.currentVersion(mvDir) == 0L) return NoMatch
    val mv = SinkMvDist.slotState(spark, mvDir)
    val tableDir = sh.fact.table.tableDir
    if (mv.src != tableDir) return NoMatch

    // shape ↔ MV family agreement: the query's dim chain must pair the
    // MV's declared joins ONE-TO-ONE IN ORDER (the order createSnowflake
    // composes deltas by) — single-table is the empty chain. Residual
    // query filters no longer bail structurally (round 19): they become
    // the filtered-rollup residual below. Predicate-bearing JOIN MVs are
    // still never rewritten; a predicate-bearing single-table MV demands
    // a query filter to match against.
    if (mv.joins.length != sh.dims.length) return NoMatch
    if (mv.joins.nonEmpty && mv.pred.nonEmpty) return NoMatch
    val joins = mv.joins

    // attribute → MV/state column naming (dim attrs gain their prefix)
    def stateName(at: AttributeReference): Option[String] =
      sh.fact.base.get(at.exprId).orElse(
        sh.dims.zip(joins).collectFirst {
          case (d, j) if d.side.base.contains(at.exprId) =>
            j.pfx + d.side.base(at.exprId)
        })
    // pairwise dim matching: table dir + pk on the dim side; the fk must
    // resolve — through the SAME prefixed naming — to exactly the MV's
    // declared join key (which createSnowflake validated against the
    // fact or an EARLIER dim's columns, so a textual match implies the
    // correct chain reference)
    val keyNamesBySide =
      scala.collection.mutable.Map[SideInfo, Set[String]]().withDefaultValue(Set.empty)
    sh.dims.zip(joins).foreach { case (d, j) =>
      if (d.side.table.tableDir != j.dim) return NoMatch
      if (!d.side.base.get(d.pkAttr.exprId).contains(j.pk)) return NoMatch
      if (!stateName(d.fkAttr).contains(j.fk)) return NoMatch
      keyNamesBySide(d.side) = keyNamesBySide(d.side) + j.pk
      val fkOwner: Option[(SideInfo, String)] =
        if (sh.fact.base.contains(d.fkAttr.exprId))
          Some((sh.fact, sh.fact.base(d.fkAttr.exprId)))
        else sh.dims.collectFirst {
          case dd if dd.side.base.contains(d.fkAttr.exprId) =>
            (dd.side, dd.side.base(d.fkAttr.exprId))
        }
      fkOwner.foreach { case (o, n) => keyNamesBySide(o) = keyNamesBySide(o) + n }
    }
    // a null-filtered column that is a MATCHED join key of its own side
    // is PEELED (the inner join drops null keys by itself); any other
    // IsNotNull is a REAL filter the MV does not apply — it demotes to a
    // residual conjunct and must pass the group-column check below
    val demotedNN: Seq[Expression] =
      (sh.fact +: sh.dims.map(_.side)).flatMap { si =>
        si.nn.collect { case (n, e) if !keyNamesBySide(si).contains(n) => e }
      }
    val rename: Expression => Option[Expression] = e => {
      var ok = true
      val out = e.transform {
        case at: AttributeReference =>
          stateName(at) match {
            // the qualifier must go too: a catalog-resolved attribute
            // renders as `cat.table.col` in .sql, which would break both
            // the textual slot match and the residual's re-parse against
            // the state frame (round-19 fix — the SQL-DDL path surfaced
            // it; DataFrame-path attrs are unqualified)
            case Some(n) => at.withName(n).withQualifier(Seq.empty)
            case None => ok = false; at
          }
      }
      if (ok) Some(out) else None
    }

    // group columns: plain attributes forming a SUBSET of the MV's
    // groups — state rows are complete fine-group partials, so any
    // coarser rollup (including the global aggregate) re-derives exactly
    val queryGroups: Seq[(String, String)] = groupExprs.map {
      case at: AttributeReference =>
        stateName(at) match {
          case Some(n) => (n, at.name)
          case None => return NoMatch
        }
      case _ => return NoMatch
    }
    val stateGroupNames = queryGroups.map(_._1)
    if (!stateGroupNames.toSet.subsetOf(mv.groups.toSet) ||
      stateGroupNames.distinct != stateGroupNames) return NoMatch

    // each output is a group attr, a mappable aggregate, or a
    // count(DISTINCT group columns) (round 19)
    val countSlot = mv.aggs.indexWhere(_.kind == "count") // validate() guarantees ≥ 0
    val outs: Seq[Out] = aggExprs.map {
      case at: AttributeReference if queryGroups.exists(_._2 == at.name) &&
          stateName(at).isDefined =>
        GroupOut(stateName(at).get, at.name)
      case Alias(AggregateExpression(Count(es), Complete, true, None, _), name)
          if es.nonEmpty && es.forall(_.isInstanceOf[AttributeReference]) =>
        val cols = es.map { case at: AttributeReference =>
          stateName(at) match {
            case Some(n) if mv.groups.contains(n) => n
            case _ => return NoMatch // distinct column outside the MV grain
          }
        }
        DistinctOut(cols, name)
      case Alias(ae @ AggregateExpression(f, Complete, false, None, _), name) =>
        mapAgg(f, ae.dataType, mv.aggs, rename) match {
          case Some(m) => AggOut(m, name)
          case None => return NoMatch
        }
      case _ => return NoMatch
    }
    val distinctCols: Seq[String] =
      outs.collect { case DistinctOut(cs, _) => cs }.flatten.distinct
        .filterNot(stateGroupNames.contains)
    // the distinct path re-aggregates TWICE (fine grain, then the query
    // grain) — exact for the linear slot kinds, but xor does not re-roll
    // through the liveness filter and extremes would need the hybrid
    // machinery at the fine grain: both fall back (conservative)
    if (distinctCols.nonEmpty || outs.exists(_.isInstanceOf[DistinctOut])) {
      val linearOnly = outs.forall {
        case AggOut(m, _) =>
          val k = mv.aggs(m.slot).kind
          k == "count" || k == "sum" || k == "dsum"
        case _ => true
      }
      if (!linearOnly) return NoMatch
    }

    // ---- filtered-rollup residual (round 19) ----
    // all residual conjuncts: the single-table filter's, each join
    // side's, plus the demoted IsNotNulls
    val rawConds: Seq[Expression] =
      sh.conds ++ (sh.fact +: sh.dims.map(_.side)).flatMap(_.conds) ++ demotedNN
    // a predicate MV matches when its conjuncts are a SUBSET of the
    // query's (implication where decidable — the query is at least as
    // restrictive); the LEFTOVER query conjuncts are the residual. A
    // plain MV's residual is the whole set.
    val residual: Seq[Expression] =
      if (mv.pred.isEmpty) rawConds
      else {
        if (rawConds.isEmpty) return NoMatch // unfiltered query, filtered MV
        val split = {
          inRewrite.set(java.lang.Boolean.TRUE)
          try splitResidual(spark, tableDir, mv.pred, rawConds, sh.factRel)
          finally inRewrite.set(java.lang.Boolean.FALSE)
        }
        split.getOrElse(return NoMatch)
      }
    // every residual conjunct must be deterministic and reference ONLY
    // MV group columns — state rows are complete fine-group partials, so
    // a group-column filter applies to them exactly (the reference
    // analogue: the flagship query's own dim-attribute filters,
    // main.py:154). Rendering goes through the renamed expression's SQL,
    // the same textual channel the slot match uses; a non-round-tripping
    // expression fails the nested parse and the builder falls back.
    val residualCols: Seq[Column] = residual.map { c =>
      if (!c.deterministic) return NoMatch
      rename(c) match {
        case Some(rc) =>
          var groupsOnly = true
          rc.foreach {
            case at: AttributeReference =>
              if (!mv.groups.contains(at.name)) groupsOnly = false
            case _ =>
          }
          if (!groupsOnly) return NoMatch
          expr(rc.sql)
        case None => return NoMatch
      }
    }

    // watermarks + tail derivability
    val toV = ShardSink.currentManifestVersion(tableDir)
    if (toV < mv.srcV) return NoMatch // table behind the MV: inconsistent registration
    val factTail = toV > mv.srcV
    if (factTail && mv.srcV + 1L < ShardSink.horizonOf(tableDir)) return NoMatch
    val dimTos = joins.map(j => ShardSink.currentManifestVersion(j.dim))
    val dimTails = joins.zip(dimTos).map { case (j, dv) => dv > j.dimV }
    joins.zip(dimTos).foreach { case (j, dv) =>
      if (dv < j.dimV) return NoMatch
      if (dv > j.dimV && j.dimV + 1L < ShardSink.horizonOf(j.dim)) return NoMatch
    }
    // DIM-TAIL COMPENSATION qualification (round 19): an attribute-only
    // dim window applies to STATE directly when (a) the dim's fk is an
    // MV group column — state rows are addressable by key, so the
    // changed keys' rows REMAP to their new prefixed-attribute group
    // values (or drop, for deleted keys) with no fact rescan; (b) no
    // aggregate expression reads this dim's columns (their values are
    // baked into the slots); (c) no later chain dim keys off this dim
    // (its moves would re-route the chain). All-or-nothing across moved
    // dims — mixing compensated and windowed dim deltas would break the
    // delta-join composition order. KEY-ARRIVING windows (inserts, or a
    // pk-changing update's post-image) disqualify at a plan-time probe
    // in the builder — an arriving key pulls fact rows the state never
    // saw.
    val movedIdx = dimTails.zipWithIndex.collect { case (true, i) => i }
    val compQualified = movedIdx.nonEmpty && movedIdx.forall { i =>
      val j = joins(i)
      mv.groups.contains(j.fk) &&
        mv.aggs.forall(a => !a.e.contains(j.pfx)) &&
        joins.drop(i + 1).forall(j2 => !j2.fk.startsWith(j.pfx))
    }
    val hasTail = factTail || (!compQualified && dimTails.exists(identity))
    // a consumption-pinned scan must pin exactly the version the rewrite
    // resolves for its side — a commit between the scan's all-match
    // proof and this resolution would otherwise let the claims diverge
    if (sh.fact.consumedPin.exists(_ != toV)) return NoMatch
    sh.dims.zip(dimTos).foreach { case (d, dv) =>
      if (d.side.consumedPin.exists(_ != dv)) return NoMatch
    }

    val needed = outs.collect { case AggOut(m, _) => m.slot }.distinct
    val extremeIdx = needed.filter(i => SinkMatView.isExtremeKind(mv.aggs(i).kind))
    // join MVs never rewrite extremes over a tail (the hybrid recompute
    // would need the full chain join — exactly the cost the guard exists
    // to avoid); single-table extremes take the hybrid path below
    if (extremeIdx.nonEmpty && hasTail && joins.nonEmpty) return NoMatch

    // ---- cost guard + selection metric (metadata only) ----
    val factSizes = SinkFs.fileSizes(new Path(tableDir))
    val stateBytes = SinkMvDist.bucketStats(mvDir).map(_._3).sum
    // the base a rewrite must beat is what the BASE PLAN would read: a
    // scan the consumed/residual filter already file-pruned is priced at
    // its kept entries, not the full table (round 19 — overpricing the
    // base would fire rewrites a pruned scan beats)
    val factBytes = sh.factRel match {
      case r: DataSourceV2ScanRelation => r.scan match {
        case sc: ShardSinkScan if !sc.isFullUnprunedScan =>
          entriesBytes(sc.costEntries, factSizes)
        case _ => tableBytes(tableDir, toV, factSizes)
      }
      case _ => tableBytes(tableDir, toV, factSizes)
    }
    val factParts =
      if (factTail) ShardSink.changePartitions(tableDir, mv.srcV, toV)
      else Seq.empty
    val factFeed = ShardSink.changeBytes(factParts, factSizes)
    val dimStats = joins.zip(dimTos).zip(dimTails).map { case ((j, dv), moved) =>
      val ds = SinkFs.fileSizes(new Path(j.dim))
      val dParts =
        if (moved) ShardSink.changePartitions(j.dim, j.dimV, dv) else Seq.empty
      (tableBytes(j.dim, dv, ds), ShardSink.changeBytes(dParts, ds))
    }
    val dimBytesAll = dimStats.map(_._1)
    val dimBytes = dimBytesAll.sum
    val dimFeed = dimStats.map(_._2).sum
    // a fact-tail part joins EVERY dim at its new version; a moved dim's
    // part joins the FULL fact plus every OTHER dim — all real reads the
    // window path pays, where the base scan pays each table once. A
    // COMPENSATED dim move (round 19) pays the dim twice — the arriving-
    // key probe reads the OLD snapshot's key column, the remap reads the
    // NEW one — plus its feed (already counted in dimFeed); the probe is
    // memoized per window, so repeat queries pay it once, but the model
    // prices the cold case.
    val compensation =
      (if (factTail && joins.nonEmpty) dimBytes else 0L) +
        (if (compQualified) movedIdx.map(i => 2L * dimBytesAll(i)).sum
         else dimTails.zipWithIndex.collect { case (true, i) =>
           factBytes + (dimBytes - dimBytesAll(i))
         }.sum)
    // the hybrid-extreme path's plan-time retraction probe re-reads the
    // tail feed once more (review fix: previously uncounted). Its pruned
    // base recompute stays uncounted — unknowable before the probe runs,
    // bounded by DirtyCap groups, and usually file-pruned to a sliver;
    // a layout it cannot prune is the residual risk the cap bounds.
    val hybridProbe =
      if (extremeIdx.nonEmpty && hasTail && joins.isEmpty && mayRetract(factParts))
        factFeed
      else 0L
    val cost = stateBytes + factFeed + dimFeed + compensation + hybridProbe
    val base = factBytes + dimBytes
    if (sys.props.contains("graft.mvrw.debug"))
      // scalastyle:off println
      println(s"[mvrw] $mvDir cost=$cost (state=$stateBytes factFeed=$factFeed " +
        s"dimFeed=$dimFeed comp=$compensation probe=$hybridProbe) " +
        s"base=$base (fact=$factBytes dim=$dimBytes)")
      // scalastyle:on println
    if (cost > base) return CostRefused

    // compensated dims enter the window list PINNED at their new version
    // (fromV == toV): a fact-tail part then joins them at the state the
    // remap brought the MV to — the telescoping holds
    val windows = joins.zip(dimTos).zipWithIndex.map { case ((j, dv), i) =>
      if (compQualified && dimTails(i))
        SinkMvJoin.DimWindow(j.dim, j.fk, j.pk, j.pfx, dv, dv)
      else SinkMvJoin.DimWindow(j.dim, j.fk, j.pk, j.pfx, j.dimV, dv)
    }
    val comp: Seq[CompDim] =
      if (compQualified) movedIdx.map { i =>
        val j = joins(i)
        CompDim(j.dim, j.fk, j.pk, j.pfx, j.dimV, dimTos(i))
      }
      else Seq.empty
    Mapped(cost, () => buildPlan(spark, agg, mv, tableDir, windows, toV,
      hasTail, factParts, outs, queryGroups, stateGroupNames, extremeIdx,
      needed, countSlot, residualCols, distinctCols, comp))
  }

  /** Build the replacement plan for the WINNING candidate — the expensive
    * half of the rewrite (nested analyze+optimize of the state ∪ tail
    * aggregate, plus the hybrid path's plan-time probe), deferred so only
    * the cheapest mapped MV ever pays it.
    */
  private def buildPlan(
      spark: SparkSession, agg: Aggregate, mv: SinkMvDist.MvSlots,
      tableDir: String, windows: Seq[SinkMvJoin.DimWindow], toV: Long,
      hasTail: Boolean,
      factParts: Seq[org.apache.spark.sql.connector.read.InputPartition],
      outs: Seq[Out], queryGroups: Seq[(String, String)],
      stateGroupNames: Seq[String], extremeIdx: Seq[Int],
      needed: Seq[Int], countSlot: Int,
      residualCols: Seq[Column], distinctCols: Seq[String],
      comp: Seq[CompDim]): Option[LogicalPlan] = {
    inRewrite.set(java.lang.Boolean.TRUE)
    try {
      val slots = (needed ++ Seq(countSlot)).distinct

      // ---- dim-tail compensation (round 19): remap state rows to the
      // moved dims' POST-image group values — changed keys' rows move
      // between groups (or drop, for deleted keys); unchanged keys pass
      // through. One small probe per dim disqualifies KEY-ARRIVING
      // windows, and changed-key uniqueness is re-proven like every
      // other consumer of the delta-join algebra. Both probe outcomes
      // are MEMOIZED per immutable (dim, fromV, toV) window — a
      // dashboard firing N queries against the same outstanding tail
      // pays the two plan-time jobs once, not N times (review fix).
      val compedState: Option[DataFrame] = {
        var st = mv.state
        val ok = comp.forall { d =>
          // evict single arbitrary entries at the cap instead of a full
          // clear() (round-19 ADVICE: the clear thrashed hot verdicts);
          // windows are immutable so WHICH entry goes is harmless
          while (compProbeCache.size > ProbeCacheCap) {
            val it = compProbeCache.keySet().iterator()
            if (it.hasNext) { it.next(); it.remove() }
          }
          val qualified = compProbeCache.computeIfAbsent(
            (d.dim, d.fromV, d.toV),
            _ => {
              val feed = SinkMatView.changes(spark, d.dim, d.fromV, d.toV)
              // a key RECEIVING rows in this window must have existed at
              // the OLD watermark: an arriving key — a plain INSERT, or
              // a pk-CHANGING update's post-image (which the feed spells
              // update_postimage, never insert — review fix: the
              // insert-only probe let it through) — pulls fact rows the
              // state never saw, underivable from state
              val arriving = feed
                .where(col("_change_type").isin("insert", "update_postimage"))
                .select(col(d.pk)).distinct()
              val newKeys = arriving.join(
                SinkMatView.srcAt(spark, d.dim, d.fromV).select(col(d.pk)),
                Seq(d.pk), "left_anti").limit(1).count()
              if (newKeys > 0L) java.lang.Boolean.FALSE
              else {
                try {
                  SinkMvJoin.requireUniqueKeys(
                    SinkMatView.srcAt(spark, d.dim, d.toV), d.pk,
                    feed.select(col(d.pk)).distinct())
                  java.lang.Boolean.TRUE
                } catch {
                  case _: IllegalArgumentException => java.lang.Boolean.FALSE
                }
              }
            })
          if (!qualified) false
          else {
            val feed = SinkMatView.changes(spark, d.dim, d.fromV, d.toV)
            val dimNew = SinkMatView.srcAt(spark, d.dim, d.toV)
            val keys = feed.select(col(d.pk)).distinct()
            val affected = mv.groups.filter(_.startsWith(d.pfx))
            // (changed key, live?, post-image attr values) — LEFT so a
            // deleted key keeps its row with a null liveness marker
            val post = keys.select(col(d.pk).as("_mvc_k"))
              .join(dimNew.select(col(d.pk).as("_mvc_k2") +:
                affected.map(g => col(g.stripPrefix(d.pfx)).as(s"_mvc_$g")): _*),
                col("_mvc_k") === col("_mvc_k2"), "left")
            val joined = st.join(post, st(d.fk) === post("_mvc_k"), "left")
            st = joined
              // deleted keys' rows leave the view; untouched rows pass
              .where(col("_mvc_k").isNull || col("_mvc_k2").isNotNull)
              .select(mv.groups.map { g =>
                (if (affected.contains(g))
                  when(col("_mvc_k").isNotNull, col(s"_mvc_$g")).otherwise(col(g))
                else col(g)).as(g)
              } ++ (0 until mv.aggs.length).flatMap(i =>
                Seq(col(mv.slotValue(i)), col(mv.slotCounter(i)))): _*)
            true
          }
        }
        if (ok) Some(st) else None
      }
      if (compedState.isEmpty) return None
      val stateIn = compedState.get
      // the filtered-rollup residual (group columns only, state naming):
      // applied to the state read AND the tail — fine-group partials are
      // complete, so the filter cuts whole groups exactly; it never
      // filters within a group
      val resid: Option[Column] = residualCols.reduceOption(_ && _)
      def withResid(df: DataFrame): DataFrame =
        resid.map(df.where).getOrElse(df)

      // ---- the signed tail (None = every watermark current)
      val tailDf: Option[DataFrame] =
        if (!hasTail) None
        else if (windows.isEmpty)
          Some(withResid(SinkMatView.filtered(
            SinkMatView.changes(spark, tableDir, mv.srcV, toV), mv.pred)
            .withColumn("_sign", SinkMvJoin.signOf(col("_change_type")))))
        else
          // the delta-join decomposition, one window per source (dims in
          // declaration order — unmoved sources carry fromV == toV), via
          // the SAME core the refresh folds through; dim-key uniqueness
          // is re-proven per moved window inside
          Some(withResid(
            SinkMvJoin.contributionStream(spark, mv.src, mv.srcV, toV, windows)))

      // ---- hybrid extremes: which result-grain groups did the tail
      // retract from? (single-table only — collected from the TAIL FEED,
      // never the base table; capped)
      val dirtyRows: Array[org.apache.spark.sql.Row] =
        if (extremeIdx.isEmpty || !hasTail || !mayRetract(factParts)) Array.empty
        else {
          val retr = tailDf.get.where(col("_sign") < 0L)
          if (queryGroups.isEmpty) {
            // global extreme: any retraction at all → fall back
            if (retr.limit(1).count() > 0L) return None
            Array.empty
          } else {
            val rs = retr.select(stateGroupNames.map(col): _*)
              .distinct().limit(DirtyCap + 1).collect()
            if (rs.length > DirtyCap) {
              dirtyCapFallbacks.incrementAndGet()
              return None
            }
            rs
          }
        }
      // typed OR-of-conjunctions through the SAME groupFilter helper the
      // refresh's dirty recompute uses (typed literals keep source
      // pruning engaged; NULL group values match via isNull) — review
      // fix: this was a hand-rolled duplicate
      val typeOf = mv.groups.zip(mv.gtypes).toMap
      val dirtyPred: Option[Column] =
        if (dirtyRows.isEmpty) None
        else Some(SinkMatView.groupFilter(
          stateGroupNames, stateGroupNames.map(typeOf),
          dirtyRows.toSeq.map(r => SinkMatView.keyOf(r, stateGroupNames.length))))

      // ---- state part: per needed agg, its value + counter slot (the
      // residual applies AFTER the compensation remap — it may reference
      // the very attributes the remap refreshed)
      val statePart = withResid(stateIn).select(
        mv.groups.map(col) ++ slots.flatMap(i => Seq(
          col(mv.slotValue(i)).as(s"_p$i"), col(mv.slotCounter(i)).as(s"_pn$i"))): _*)
      val unioned = tailDf match {
        case None => statePart
        case Some(tail) =>
          val sign = col("_sign")
          val t = tail.select(
            mv.groups.map(col) ++ slots.flatMap { i =>
              val a = mv.aggs(i)
              val (v, nn) = a.kind match {
                case "count" => (sign, lit(0L))
                case "sum" => (sign * expr(a.e).cast(LongType),
                  sign * when(expr(a.e).isNotNull, 1L).otherwise(0L))
                case "dsum" => (
                  (sign * expr(a.e).cast(SinkMatView.DsumIn))
                    .cast(SinkMatView.DsumCell),
                  sign * when(expr(a.e).isNotNull, 1L).otherwise(0L))
                case "xor" => (expr(a.e).cast(LongType),
                  sign * when(expr(a.e).isNotNull, 1L).otherwise(0L))
                // hybrid: tail INSERTS extend the recorded extreme (in
                // the slot's own type); the retracted-from groups are
                // overridden by the pruned recompute below
                case _ =>
                  (when(sign > 0L, expr(a.e).cast(SinkMvDist.slotType(a))), lit(0L))
              }
              Seq(v.as(s"_p$i"), nn.as(s"_pn$i"))
            }: _*)
          statePart.unionByName(t)
      }

      // ---- re-aggregation grain: the query's — or, when a
      // count(DISTINCT …) rides along, the FINE grain (query groups ∪
      // distinct columns), with a second roll-up below (round 19)
      val hasDistinct = outs.exists(_.isInstanceOf[DistinctOut])
      val fineGrain = stateGroupNames ++ distinctCols
      val aggCols = slots.flatMap { i =>
        val a = mv.aggs(i)
        val r = a.kind match {
          // coalesce for the GLOBAL aggregate over an empty view: SQL
          // returns one row with count 0, and sum-over-nothing is NULL
          case "count" => coalesce(sum(col(s"_p$i")), lit(0L))
          case "sum" => when(sum(col(s"_pn$i")) === 0L, lit(null).cast(LongType))
            .otherwise(sum(col(s"_p$i")))
          case "dsum" => when(sum(col(s"_pn$i")) === 0L,
            lit(null).cast(SinkMatView.DsumCell))
            .otherwise(sum(col(s"_p$i")).cast(SinkMatView.DsumCell))
          case "xor" => when(sum(col(s"_pn$i")) === 0L, lit(null).cast(LongType))
            .otherwise(expr(s"bit_xor(_p$i)"))
          case k if SinkMatView.isMinKind(k) => min(col(s"_p$i"))
          case _ => max(col(s"_p$i")) // max / dmax / smax
        }
        Seq(r.as(s"_r$i"), coalesce(sum(col(s"_pn$i")), lit(0L)).as(s"_rn$i"))
      }
      val grouped = unioned
        .groupBy(fineGrain.map(col): _*)
        .agg(aggCols.head, aggCols.tail: _*)
      // group liveness, as in the fold — a group whose total count
      // reached zero has no base rows and leaves; the GLOBAL aggregate
      // keeps its single row (SQL returns (0, NULL, …) over no rows)
      val live =
        if (fineGrain.isEmpty) grouped
        else grouped.where(col(s"_r$countSlot") > 0L)
      // ---- the distinct roll-up (round 19): live fine-group rows ARE
      // the distinct value inventory — count_distinct over them per
      // query group is exactly count(DISTINCT e) over the base (nulls
      // excluded by count_distinct, dead groups by the liveness filter),
      // and the linear slots re-roll by summation
      val coarse =
        if (!hasDistinct) live
        else {
          val roll = slots.flatMap { i =>
            val a = mv.aggs(i)
            val v = a.kind match {
              case "count" => coalesce(sum(col(s"_r$i")), lit(0L))
              case "sum" => when(sum(col(s"_rn$i")) === 0L, lit(null).cast(LongType))
                .otherwise(sum(col(s"_r$i")))
              case "dsum" => when(sum(col(s"_rn$i")) === 0L,
                lit(null).cast(SinkMatView.DsumCell))
                .otherwise(sum(col(s"_r$i")).cast(SinkMatView.DsumCell))
              // xor/extremes are gated out of the distinct path upstream
              case other => sys.error(s"non-linear slot '$other' in the distinct path")
            }
            Seq(v.as(s"_r$i"), coalesce(sum(col(s"_rn$i")), lit(0L)).as(s"_rn$i"))
          } ++ outs.zipWithIndex.collect { case (DistinctOut(cs, _), k) =>
            count_distinct(col(cs.head), cs.tail.map(col): _*).as(s"_dc$k")
          }
          live.groupBy(stateGroupNames.map(col): _*).agg(roll.head, roll.tail: _*)
        }

      // ---- dirty-extreme recompute: ONE pruned scan of the base table
      // at the current version (version-pinned — never self-rewrites),
      // restricted to the retracted-from groups, spliced over the state
      // answer for exactly those groups
      val (fixedFrame, isDirty) = dirtyPred match {
        case None => (coarse, lit(false))
        case Some(dp) =>
          // the residual is redundant under the dirty-group predicate
          // (dirty keys came from the residual-filtered tail) but keeps
          // the recompute scan's pruning engaged
          val rec = withResid(SinkMatView.filtered(
            SinkMatView.srcAt(spark, tableDir, toV), mv.pred))
            .where(dp)
            .groupBy(stateGroupNames.map(col): _*)
            .agg(
              SinkMatView.aggColumn(mv.aggs(extremeIdx.head)).as(s"_fx${extremeIdx.head}"),
              extremeIdx.drop(1).map(i =>
                SinkMatView.aggColumn(mv.aggs(i)).as(s"_fx$i")): _*)
            .withColumn("_fxflag", lit(1))
          // dirtyPred implies extremes, which the distinct path gates
          // out — coarse IS live here; spelled coarse for uniformity
          val rr = stateGroupNames.foldLeft(rec)((df, k) =>
            df.withColumnRenamed(k, s"_rk_$k"))
          val cond = stateGroupNames.map(k => coarse(k) <=> rr(s"_rk_$k")).reduce(_ && _)
          (coarse.join(rr, cond, "left"), col("_fxflag").isNotNull)
      }

      // ---- shape to the query's output list
      def resValue(i: Int): Column =
        if (extremeIdx.contains(i) && dirtyPred.isDefined)
          when(isDirty, col(s"_fx$i")).otherwise(col(s"_r$i"))
        else col(s"_r$i")
      val shaped = fixedFrame.select(outs.zipWithIndex.map {
        case (GroupOut(st, out), _) => col(st).as(out)
        case (AggOut(SlotMap(i), n), _) => resValue(i).as(n)
        case (AggOut(DSlotMap(i), n), _) => col(s"_r$i").cast(DoubleType).as(n)
        case (AggOut(CounterMap(i), n), _) => col(s"_rn$i").as(n)
        case (AggOut(AvgMap(i), n), _) =>
          when(col(s"_rn$i") === 0L, lit(null).cast(DoubleType))
            .otherwise(col(s"_r$i").cast(DoubleType) / col(s"_rn$i").cast(DoubleType))
            .as(n)
        case (DistinctOut(_, n), k) => col(s"_dc$k").as(n)
      }: _*)
      // splice: a fully-OPTIMIZED subplan (the extraOptimizations batch
      // runs after V2 pushdown — an analyzed-only DSv2 tail relation
      // would reach the planner unconverted), projected back onto the
      // original Aggregate's output attribute ids
      val sub = shaped.queryExecution.optimizedPlan
      val proj = sub.output.zip(agg.output).map { case (n, o) =>
        Alias(if (n.dataType == o.dataType) n else Cast(n, o.dataType), o.name)(
          exprId = o.exprId)
      }
      Some(Project(proj, sub))
    } finally inRewrite.set(java.lang.Boolean.FALSE)
  }

  // ---- driver-checked queries ------------------------------------------------

  /** Driver-checked MV-AWARE REWRITE (rounds 17–18): three MVs over an
    * appending-then-churned table, registered for rewrite; the user's
    * PLAIN GROUP BYs are answered from MV state across six legs —
    *   q1: STALE watermark, linear aggregates compensated through the
    *       append tail's change feed;
    *   q4: the round-18 DERIVED aggregates — avg(doc_id) from the sum
    *       slot and its non-null counter, count(score) from the dsum
    *       slot's counter, sum(score) from the exact-decimal dsum slot —
    *       all through the same stale tail;
    *   q6: the round-19 TYPED extremes — max(score) from the dmax
    *       (DOUBLE) slot and min(body) from the smin (STRING) slot,
    *       over the same stale insert-only tail (declarative extension,
    *       no retraction probe);
    *   q2: AFTER a refresh — the full rewrite including the extreme,
    *       with ZERO base data files opened (the counter delta is an
    *       output column under the hash gate);
    *   q3: the predicate MV — a semantically-equal WHERE routes to it,
    *       stale-compensated under the predicate;
    *   g:  the GLOBAL aggregate — the empty group set re-rolls the
    *       shard MV's partials to one row;
    *   q5: the round-18 HYBRID EXTREME — after compaction (shard-pure
    *       layout) a MoR DELETE retracts part of shard 5, and the max
    *       query rewrites anyway: linear slots fold state ∪ tail, the
    *       ONE dirty shard's extreme is recomputed by a shard-pruned
    *       base read (q5_files_opened pins how few files that took).
    * All six results, the rewrite count and both file-open counters are
    * re-derived by DuckDB.
    */
  def mvRewriteReport(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, root) = scratch(spark, sfDir, "sinkmvrw", Seq("graft_mvrw"), MorCdf)
    def docs(lo: Long, hi: Long) = SinkLifecycles.docs(s, 1200, 2, lo, hi)
    docs(0L, 0L).writeTo("graft_mvrw.docs_mvrw").append() // v1: bootstrap
    s.sql("ALTER TABLE graft_mvrw.docs_mvrw ADD COLUMN score DOUBLE") // v2
    def ingest(lo: Long, hi: Long): Unit =
      docs(lo, hi)
        .withColumn("score", when(col("doc_id") % 5L === 0L, lit(null).cast("double"))
          .otherwise(col("doc_id") / lit(4.0)))
        .writeTo("graft_mvrw.docs_mvrw").append()
    ingest(0L, 800L) // v3
    val dir = new java.io.File(root.getPath, "docs_mvrw").getPath
    val mvDir = dir + ".mvd"
    SinkMvDist.create(s, dir, mvDir, Seq("shard"), Seq(
      SinkMatView.MvAgg("n_docs", "count"),
      SinkMatView.MvAgg("sum_ids", "sum", "doc_id"),
      SinkMatView.MvAgg("xor_ids", "xor", "doc_id"),
      SinkMatView.MvAgg("max_doc", "max", "doc_id")), buckets = 8)
    val mvDirP = dir + ".mvdp"
    SinkMvDist.create(s, dir, mvDirP, Seq("shard"), Seq(
      SinkMatView.MvAgg("q3_n", "count"),
      SinkMatView.MvAgg("q3_sum", "sum", "doc_id")),
      // % 3, not % 2: shard = doc % 16 makes doc-parity shard-correlated
      // (even docs land only on even shards), and the gate wants every
      // shard to carry a q3 row
      where = "doc_id % 3 = 0", buckets = 8)
    val mvDirD = dir + ".mvdd"
    SinkMvDist.create(s, dir, mvDirD, Seq("shard"), Seq(
      SinkMatView.MvAgg("d_n", "count"),
      SinkMatView.MvAgg("d_sum", "sum", "doc_id"),
      SinkMatView.MvAgg("d_ds", "dsum", "score"),
      // round-19 TYPED extremes: a DOUBLE max and a STRING min slot
      SinkMatView.MvAgg("d_mx", "dmax", "score"),
      SinkMatView.MvAgg("d_mnb", "smin", "body")), buckets = 8)
    register(dir, mvDir)
    register(dir, mvDirP)
    register(dir, mvDirD)
    try {
      s.experimental.extraOptimizations = Seq(SinkMvRewrite)
      def base = s.read.format("graft.sources.ShardSinkSource")
        .option("path", dir).load()
      val r0 = rewrites.get()
      ingest(800L, 1000L) // v4: the un-refreshed tail
      // q1 — STALE-watermark linear aggregates compensate via the tail
      val q1 = base.groupBy(col("shard"))
        .agg(count(lit(1)).as("q1_n"), sum("doc_id").as("q1_sum"),
          expr("bit_xor(doc_id)").as("q1_xor"))
      val got1 = q1.collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      // q4 — DERIVED aggregates (avg / count(col) / sum(double)) route to
      // the dsum-bearing MV, also stale-compensated
      val q4 = base.groupBy(col("shard"))
        .agg(avg("doc_id").as("d_avg"), count(col("score")).as("d_nscore"),
          sum("score").as("d_sscore"))
      val got4 = q4.collect().map(r =>
        (r.getInt(0), r.getDouble(1), r.getLong(2), r.getDouble(3)))
      // q6 — the round-19 TYPED extremes, over the same stale insert-only
      // tail: max(score) routes to the dmax slot, min(body) to the smin
      // slot; inserts extend both declaratively (no retraction → no probe)
      val q6 = base.groupBy(col("shard"))
        .agg(max("score").as("d_mx"), min("body").as("d_mnb"))
      val got6 = q6.collect().map(r => (r.getInt(0), r.getDouble(1), r.getString(2)))
      SinkMvDist.refresh(s, dir, mvDir) // MV → v4
      // q2 — CURRENT-watermark full rewrite incl. the extreme; base data
      // files must stay closed
      val q2 = base.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"),
          expr("bit_xor(doc_id)").as("xor_ids"), max("doc_id").as("max_doc"))
      val c0 = ShardSink.dataFileReadCount.get()
      val got2 = q2.collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      val q2Files = ShardSink.dataFileReadCount.get() - c0
      // q3 — the predicate-MV leg: the semantically-equal WHERE routes to
      // the second MV, stale-compensated under the predicate
      val q3 = base.where(expr("doc_id % 3 = 0")).groupBy(col("shard"))
        .agg(count(lit(1)).as("q3_n"), sum("doc_id").as("q3_sum"))
      val got3 = q3.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      // g — GLOBAL aggregate: the empty group set is a subset of every
      // MV's, so the shard MV's partials re-roll to one row
      val g = base.agg(count(lit(1)).as("g_n"), sum("doc_id").as("g_sum"))
        .collect().head
      // q5 — HYBRID EXTREME over a retracting tail: compact first (the
      // MV must be refreshed over the no-data commit — compaction is the
      // CDF retention horizon), then a MoR DELETE retracts shard 5's top
      ShardSink.compact(dir) // v5: no-data, shard-pure layout
      SinkMvDist.refresh(s, dir, mvDir) // fast-forward; MV srcV → v5
      s.sql("DELETE FROM graft_mvrw.docs_mvrw WHERE shard = 5 AND doc_id >= 500") // v6
      val q5 = base.groupBy(col("shard"))
        .agg(count(lit(1)).as("q5_n"), sum("doc_id").as("q5_sum"),
          max("doc_id").as("q5_max"))
      val c1 = ShardSink.dataFileReadCount.get()
      val got5 = q5.collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val q5Files = ShardSink.dataFileReadCount.get() - c1
      val nRewrites = rewrites.get() - r0 // q1 q4 q6 q2 q3 g q5 = 7
      import s.implicits._
      val df1 = got1.toSeq.toDF("shard", "q1_n", "q1_sum", "q1_xor")
      val df3 = got3.toSeq.toDF("shard", "q3_n", "q3_sum")
      val df4 = got4.toSeq.toDF("shard", "d_avg", "d_nscore", "d_sscore")
      val df5 = got5.toSeq.toDF("shard", "q5_n", "q5_sum", "q5_max")
      val df6 = got6.toSeq.toDF("shard", "d_mx", "d_mnb")
      got2.toSeq.toDF("shard", "n_docs", "sum_ids", "xor_ids", "max_doc")
        .join(df1, "shard").join(df3, "shard").join(df4, "shard").join(df5, "shard")
        .join(df6, "shard")
        .withColumn("g_n", lit(g.getLong(0)))
        .withColumn("g_sum", lit(g.getLong(1)))
        .withColumn("n_rewrites", lit(nRewrites))
        .withColumn("q2_files_opened", lit(q2Files))
        .withColumn("q5_files_opened", lit(q5Files))
        .orderBy("shard")
    } finally {
      unregister(dir)
      s.experimental.extraOptimizations = Nil
    }
  }

  /** DuckDB re-derivation: q1/q2/q3/q4/q6 and the global leg aggregate
    * docs 0..999 per shard (score = doc/4, NULL on multiples of five;
    * body = md5 of the decimal id); q5 aggregates the post-DELETE live
    * set (shard-5 docs ≥ 500 removed). Constants: 7 rewrites (one per
    * leg — the refreshes' own internal scans are version-pinned and
    * never rewrite); q2 opened 0 base data files; q5 opened 3 — the
    * retraction probe and the spliced tail each read the DELETE's
    * vector-diffed shard-5 file, and the dirty recompute's shard-pruned
    * scan reads it once more (every other shard's file stays closed).
    */
  val mvRewriteReportSql: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard,
      |         CASE WHEN doc_id % 5 = 0 THEN NULL ELSE doc_id / 4.0 END AS score,
      |         md5(CAST(doc_id AS VARCHAR)) AS body
      |  FROM range(0, 1000) t(doc_id)),
      |l AS (
      |  SELECT * FROM g WHERE NOT (shard = 5 AND doc_id >= 500))
      |SELECT g.shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(g.doc_id) AS BIGINT) AS sum_ids,
      |       bit_xor(g.doc_id) AS xor_ids,
      |       CAST(MAX(g.doc_id) AS BIGINT) AS max_doc,
      |       CAST(COUNT(*) AS BIGINT) AS q1_n,
      |       CAST(SUM(g.doc_id) AS BIGINT) AS q1_sum,
      |       bit_xor(g.doc_id) AS q1_xor,
      |       CAST(COUNT(*) FILTER (WHERE g.doc_id % 3 = 0) AS BIGINT) AS q3_n,
      |       CAST(SUM(g.doc_id) FILTER (WHERE g.doc_id % 3 = 0) AS BIGINT) AS q3_sum,
      |       CAST(SUM(g.doc_id) AS DOUBLE) / CAST(COUNT(g.doc_id) AS DOUBLE) AS d_avg,
      |       CAST(COUNT(g.score) AS BIGINT) AS d_nscore,
      |       CAST(SUM(CAST(g.score AS DECIMAL(24,6))) AS DOUBLE) AS d_sscore,
      |       CAST(MAX(g.score) AS DOUBLE) AS d_mx,
      |       MIN(g.body) AS d_mnb,
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM l WHERE l.shard = g.shard) AS q5_n,
      |       (SELECT CAST(SUM(l.doc_id) AS BIGINT) FROM l WHERE l.shard = g.shard) AS q5_sum,
      |       (SELECT CAST(MAX(l.doc_id) AS BIGINT) FROM l WHERE l.shard = g.shard) AS q5_max,
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM g) AS g_n,
      |       (SELECT CAST(SUM(doc_id) AS BIGINT) FROM g) AS g_sum,
      |       CAST(7 AS BIGINT) AS n_rewrites,
      |       CAST(0 AS BIGINT) AS q2_files_opened,
      |       CAST(3 AS BIGINT) AS q5_files_opened
      |FROM g GROUP BY g.shard ORDER BY g.shard""".stripMargin

  /** Driver-checked FILTERED-ROLLUP REWRITE (round 19): the single most
    * common dashboard query — a group-column WHERE over a plain rollup —
    * answered from MV state in every disguise the plan can take:
    *   f1: `WHERE shard IN (3, 5) GROUP BY shard` on the mixed-shard
    *       layout — the filter stays a residual Filter over a
    *       file-pruned scan; rewritten with ZERO base data files
    *       (f1_files pins it);
    *   f2: the same query over a STALE watermark — the residual applies
    *       to the state read AND the compensating tail;
    *   f3: predicate IMPLICATION — `WHERE doc_id % 3 = 0 AND shard = 5`
    *       routes to the predicate MV (pred = `doc_id % 3 = 0`): the MV
    *       conjuncts match and `shard = 5` is the group-column leftover,
    *       applied to the predicate MV's state; zero files (f3_files);
    *   f4: the GLOBAL aggregate under a group filter —
    *       `WHERE shard < 4` with no GROUP BY re-rolls filtered state
    *       partials to one row;
    *   f5: the FALLBACK pin — `WHERE doc_id < 100` references a
    *       non-group column, so the query must NOT rewrite (n_rewrites
    *       excludes it) and the base scan answers;
    *   f6: the CONSUMED-filter path — after OPTIMIZE the layout is
    *       shard-pure, so `shard IN (3, 5)` is consumed into file-exact
    *       pruning and NO Filter node remains; the scan's consumed-set
    *       testimony reconstructs the predicate and the rewrite still
    *       fires with zero files (f6_files).
    * All six legs' values, the rewrite count and the three file counters
    * sit under the DuckDB hash gate.
    */
  def mvFilterRewriteReport(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, root) = scratch(spark, sfDir, "sinkmvfr", Seq("graft_mvfr"), MorCdf)
    def ingest(lo: Long, hi: Long): Unit =
      SinkLifecycles.docs(s, 1200, 2, lo, hi)
        .writeTo("graft_mvfr.docs_mvfr").append()
    ingest(0L, 1000L) // v1
    val dir = new java.io.File(root.getPath, "docs_mvfr").getPath
    val mvA = dir + ".mvfa"
    SinkMvDist.create(s, dir, mvA, Seq("shard"), Seq(
      SinkMatView.MvAgg("n_docs", "count"),
      SinkMatView.MvAgg("sum_ids", "sum", "doc_id")), buckets = 8)
    val mvP = dir + ".mvfp"
    SinkMvDist.create(s, dir, mvP, Seq("shard"), Seq(
      SinkMatView.MvAgg("p_n", "count"),
      SinkMatView.MvAgg("p_sum", "sum", "doc_id")),
      where = "doc_id % 3 = 0", buckets = 8)
    register(dir, mvA)
    register(dir, mvP)
    try {
      s.experimental.extraOptimizations = Seq(SinkMvRewrite)
      def base = s.read.format("graft.sources.ShardSinkSource")
        .option("path", dir).load()
      def shardQ = base.where(col("shard").isin(3, 5)).groupBy(col("shard"))
        .agg(count(lit(1)).as("q_n"), sum("doc_id").as("q_sum"))
      val r0 = rewrites.get()
      // f1 — residual Filter over a file-pruned scan, current watermark
      val c1 = ShardSink.dataFileReadCount.get()
      val got1 = shardQ.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      val f1Files = ShardSink.dataFileReadCount.get() - c1
      // f2 — same query across a stale watermark: residual + tail
      ingest(1000L, 1200L) // v2
      val got2 = shardQ.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      SinkMvDist.refresh(s, dir, mvA)
      SinkMvDist.refresh(s, dir, mvP)
      // f3 — predicate implication: MV pred ∧ group-column leftover
      val q3 = base.where(expr("doc_id % 3 = 0 AND shard = 5")).groupBy(col("shard"))
        .agg(count(lit(1)).as("p_qn"), sum("doc_id").as("p_qsum"))
      val c3 = ShardSink.dataFileReadCount.get()
      val got3 = q3.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).head
      val f3Files = ShardSink.dataFileReadCount.get() - c3
      // f4 — the global aggregate under a group filter
      val got4 = base.where(col("shard") < 4)
        .agg(count(lit(1)).as("g_n"), sum("doc_id").as("g_sum")).collect().head
      // f5 — non-group residual: MUST fall back to the base scan
      val r5 = rewrites.get()
      val got5 = base.where(col("doc_id") < 100).groupBy(col("shard"))
        .agg(count(lit(1)).as("n")).collect()
      val f5NoRewrite = rewrites.get() - r5 // 0
      // f6 — compacted shard-pure layout: the filter is CONSUMED into
      // file-exact pruning (no Filter node remains) and the scan's
      // consumed-set testimony still rewrites
      ShardSink.compact(dir) // v3: no-data commit
      SinkMvDist.refresh(s, dir, mvA) // fast-forward watermarks
      SinkMvDist.refresh(s, dir, mvP)
      val c6 = ShardSink.dataFileReadCount.get()
      val got6 = shardQ.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      val f6Files = ShardSink.dataFileReadCount.get() - c6
      val nRewrites = rewrites.get() - r0 // f1 f2 f3 f4 f6 = 5
      import s.implicits._
      val df1 = got1.toSeq.toDF("shard", "f1_n", "f1_sum")
      val df2 = got2.toSeq.toDF("shard", "f2_n", "f2_sum")
      val df6 = got6.toSeq.toDF("shard", "f6_n", "f6_sum")
      df1.join(df2, "shard").join(df6, "shard")
        .withColumn("f3_n", lit(got3._2))
        .withColumn("f3_sum", lit(got3._3))
        .withColumn("f4_n", lit(got4.getLong(0)))
        .withColumn("f4_sum", lit(got4.getLong(1)))
        .withColumn("f5_rows", lit(got5.length.toLong))
        .withColumn("f5_total", lit(got5.map(_.getLong(1)).sum))
        .withColumn("f5_extra_rewrites", lit(f5NoRewrite))
        .withColumn("n_rewrites", lit(nRewrites))
        .withColumn("f1_files_opened", lit(f1Files))
        .withColumn("f3_files_opened", lit(f3Files))
        .withColumn("f6_files_opened", lit(f6Files))
        .orderBy("shard")
    } finally {
      unregister(dir)
      s.experimental.extraOptimizations = Nil
    }
  }

  /** DuckDB re-derivation: docs 0..999 at f1, 0..1199 from f2 on, shard
    * = doc % 16, no deletes. Constants: 5 rewrites (f1, f2, f3, f4, f6 —
    * f5's non-group residual falls back, pinned separately as 0 extra
    * rewrites); f1/f3/f6 each opened 0 base data files (f2's tail
    * legitimately reads the appended commit's files); f5 returns one row
    * per shard (16) totalling the 100 filtered docs.
    */
  val mvFilterRewriteReportSql: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard
      |  FROM range(0, 1200) t(doc_id)),
      |g1 AS (SELECT * FROM g WHERE doc_id < 1000)
      |SELECT s.shard,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM g1 WHERE g1.shard = s.shard) AS f1_n,
      |  (SELECT CAST(SUM(doc_id) AS BIGINT) FROM g1 WHERE g1.shard = s.shard) AS f1_sum,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM g WHERE g.shard = s.shard) AS f2_n,
      |  (SELECT CAST(SUM(doc_id) AS BIGINT) FROM g WHERE g.shard = s.shard) AS f2_sum,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM g WHERE g.shard = s.shard) AS f6_n,
      |  (SELECT CAST(SUM(doc_id) AS BIGINT) FROM g WHERE g.shard = s.shard) AS f6_sum,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM g WHERE g.shard = 5 AND doc_id % 3 = 0) AS f3_n,
      |  (SELECT CAST(SUM(doc_id) AS BIGINT) FROM g WHERE g.shard = 5 AND doc_id % 3 = 0) AS f3_sum,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM g WHERE g.shard < 4) AS f4_n,
      |  (SELECT CAST(SUM(doc_id) AS BIGINT) FROM g WHERE g.shard < 4) AS f4_sum,
      |  CAST(16 AS BIGINT) AS f5_rows,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM g WHERE doc_id < 100) AS f5_total,
      |  CAST(0 AS BIGINT) AS f5_extra_rewrites,
      |  CAST(5 AS BIGINT) AS n_rewrites,
      |  CAST(0 AS BIGINT) AS f1_files_opened,
      |  CAST(0 AS BIGINT) AS f3_files_opened,
      |  CAST(0 AS BIGINT) AS f6_files_opened
      |FROM (VALUES (3), (5)) s(shard) ORDER BY s.shard""".stripMargin

  /** Driver-checked COUNT-DISTINCT REWRITE (round 19): `count(DISTINCT
    * uid)` — a real user's second dashboard query — answered from an MV
    * grouped at the FINE grain `(shard, uid)`:
    *   d1: `SELECT shard, count(*), count(DISTINCT uid), sum(doc_id)
    *        GROUP BY shard` at a current watermark — live fine groups
    *        per shard ARE the distinct uids; ZERO base files (d1_files);
    *   d2: the same query over a STALE watermark — the tail folds at the
    *       fine grain first, so new/retracted uids surface exactly;
    *   d3: the GLOBAL `count(DISTINCT uid)`;
    *   d4: composed with the round-19 group filter —
    *       `WHERE shard IN (3, 5)` — both features in one plan, zero
    *       files (d4_files);
    *   d5: the FALLBACK pin — `count(DISTINCT doc_id)` has no MV whose
    *       group set contains doc_id, so the query must NOT rewrite.
    * NULL uids (every 7th doc) pin count_distinct's null exclusion
    * through the fine-group path. All values + counters are re-derived
    * by DuckDB.
    */
  def mvDistinctRewriteReport(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, root) = scratch(spark, sfDir, "sinkmvdr", Seq("graft_mvdr"), MorCdf)
    def docs(lo: Long, hi: Long) = SinkLifecycles.docs(s, 1200, 2, lo, hi)
    docs(0L, 0L).writeTo("graft_mvdr.docs_mvdr").append() // v1: bootstrap
    s.sql("ALTER TABLE graft_mvdr.docs_mvdr ADD COLUMN uid BIGINT") // v2
    def ingest(lo: Long, hi: Long): Unit =
      docs(lo, hi)
        .withColumn("uid", when(col("doc_id") % 7L === 0L, lit(null).cast("long"))
          .otherwise(col("doc_id") % 50L))
        .writeTo("graft_mvdr.docs_mvdr").append()
    ingest(0L, 1000L) // v3
    val dir = new java.io.File(root.getPath, "docs_mvdr").getPath
    val mvD = dir + ".mvdu"
    SinkMvDist.create(s, dir, mvD, Seq("shard", "uid"), Seq(
      SinkMatView.MvAgg("n_rows", "count"),
      SinkMatView.MvAgg("s_ids", "sum", "doc_id")), buckets = 8)
    register(dir, mvD)
    try {
      s.experimental.extraOptimizations = Seq(SinkMvRewrite)
      def base = s.read.format("graft.sources.ShardSinkSource")
        .option("path", dir).load()
      def shardQ = base.groupBy(col("shard"))
        .agg(count(lit(1)).as("q_n"), count_distinct(col("uid")).as("q_du"),
          sum("doc_id").as("q_sum"))
      val r0 = rewrites.get()
      // d1 — current watermark, zero base files
      val c1 = ShardSink.dataFileReadCount.get()
      val got1 = shardQ.collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val d1Files = ShardSink.dataFileReadCount.get() - c1
      // d2 — stale watermark: the tail folds at the fine grain first
      ingest(1000L, 1200L) // v4
      val got2 = shardQ.collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      SinkMvDist.refresh(s, dir, mvD)
      // d3 — the global distinct
      val gDu = base.agg(count_distinct(col("uid")).as("g_du"))
        .collect().head.getLong(0)
      // d4 — distinct + group-column residual composed; zero files
      val c4 = ShardSink.dataFileReadCount.get()
      val got4 = base.where(col("shard").isin(3, 5)).groupBy(col("shard"))
        .agg(count_distinct(col("uid")).as("f_du"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
      val d4Files = ShardSink.dataFileReadCount.get() - c4
      // d5 — no MV's grain carries doc_id: MUST fall back
      val r5 = rewrites.get()
      val got5 = base.groupBy(col("shard"))
        .agg(count_distinct(col("doc_id")).as("n")).collect()
      val d5NoRewrite = rewrites.get() - r5 // 0
      val nRewrites = rewrites.get() - r0 // d1 d2 d3 d4 = 4
      import s.implicits._
      val df1 = got1.toSeq.toDF("shard", "d1_n", "d1_du", "d1_sum")
      val df2 = got2.toSeq.toDF("shard", "d2_n", "d2_du", "d2_sum")
      df1.join(df2, "shard")
        .withColumn("g_du", lit(gDu))
        .withColumn("d4_du3", lit(got4.head._2))
        .withColumn("d4_du5", lit(got4(1)._2))
        .withColumn("d5_rows", lit(got5.length.toLong))
        .withColumn("d5_total", lit(got5.map(_.getLong(1)).sum))
        .withColumn("d5_extra_rewrites", lit(d5NoRewrite))
        .withColumn("n_rewrites", lit(nRewrites))
        .withColumn("d1_files_opened", lit(d1Files))
        .withColumn("d4_files_opened", lit(d4Files))
        .orderBy("shard")
    } finally {
      unregister(dir)
      s.experimental.extraOptimizations = Nil
    }
  }

  /** DuckDB re-derivation: docs 0..999 at d1, 0..1199 from d2 on; shard
    * = doc % 16; uid = doc % 50, NULL on multiples of seven. Constants:
    * 4 rewrites (d1–d4; d5's doc_id grain is unregistered and falls
    * back — 0 extra rewrites); d1 and d4 opened 0 base data files; d5
    * answers 16 shard rows totalling 1200 distinct doc_ids.
    */
  val mvDistinctRewriteReportSql: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard,
      |         CASE WHEN doc_id % 7 = 0 THEN NULL ELSE doc_id % 50 END AS uid
      |  FROM range(0, 1200) t(doc_id)),
      |g1 AS (SELECT * FROM g WHERE doc_id < 1000)
      |SELECT a.shard,
      |  a.d1_n, a.d1_du, a.d1_sum, b.d2_n, b.d2_du, b.d2_sum,
      |  (SELECT CAST(COUNT(DISTINCT uid) AS BIGINT) FROM g) AS g_du,
      |  (SELECT CAST(COUNT(DISTINCT uid) AS BIGINT) FROM g WHERE shard = 3) AS d4_du3,
      |  (SELECT CAST(COUNT(DISTINCT uid) AS BIGINT) FROM g WHERE shard = 5) AS d4_du5,
      |  CAST(16 AS BIGINT) AS d5_rows,
      |  CAST(1200 AS BIGINT) AS d5_total,
      |  CAST(0 AS BIGINT) AS d5_extra_rewrites,
      |  CAST(4 AS BIGINT) AS n_rewrites,
      |  CAST(0 AS BIGINT) AS d1_files_opened,
      |  CAST(0 AS BIGINT) AS d4_files_opened
      |FROM (SELECT shard, CAST(COUNT(*) AS BIGINT) AS d1_n,
      |             CAST(COUNT(DISTINCT uid) AS BIGINT) AS d1_du,
      |             CAST(SUM(doc_id) AS BIGINT) AS d1_sum
      |      FROM g1 GROUP BY shard) a
      |JOIN (SELECT shard, CAST(COUNT(*) AS BIGINT) AS d2_n,
      |             CAST(COUNT(DISTINCT uid) AS BIGINT) AS d2_du,
      |             CAST(SUM(doc_id) AS BIGINT) AS d2_sum
      |      FROM g GROUP BY shard) b USING (shard)
      |ORDER BY a.shard""".stripMargin

  /** Driver-checked JOIN-MV REWRITE (round 18): a fact ⋈ dim GROUP BY
    * (the reference's own flagship query shape) over a registered join
    * MV, exercised through four legs —
    *   A: both watermarks current → rewritten; NEITHER table's data
    *      files open (a_files pins 0);
    *   B: a fact append tail → rewritten through [Δf ⋈ d@new], the one
    *      delta-join part a fact tail needs;
    *   C: a dim UPDATE tail → the [Δd ⋈ f@old] part would rescan the
    *      whole fact, so the round-18 COST GUARD refuses (cost_fallbacks
    *      pins exactly one refusal) and the base join answers;
    *   D: after a refresh folds the dim move → rewritten again with
    *      zero data files (d_files pins 0), the rX group move visible.
    * The final per-(region, uid) table and all counters sit under the
    * DuckDB hash gate.
    */
  def mvJoinRewriteReport(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, root) = scratch(spark, sfDir, "sinkmvjr", Seq("graft_mvjr"), MorCdf)
    def docs(lo: Long, hi: Long) = SinkLifecycles.docs(s, 2400, 2, lo, hi)
    // base tables (d1–d3, f1–f3) from the JVM-shared star fixture —
    // identical commits/versions to the inline build (round 19)
    SinkLifecycles.starInto(s, root.getPath, "dim_mvjr", "fact_mvjr")
    def ingest(lo: Long, hi: Long): Unit =
      docs(lo, hi).withColumn("uid", (col("doc_id") % 300L).cast("long"))
        .writeTo("graft_mvjr.fact_mvjr").append()
    val factDir = new java.io.File(root.getPath, "fact_mvjr").getPath
    val dimDir = new java.io.File(root.getPath, "dim_mvjr").getPath
    val mvDir = factDir + ".mvjr"
    SinkMvDist.createJoin(s, factDir, dimDir, mvDir, fk = "shard", pk = "doc_id",
      groups = Seq("d_region", "uid"), aggs = Seq(
        SinkMatView.MvAgg("n_docs", "count"),
        SinkMatView.MvAgg("sum_ids", "sum", "doc_id")), buckets = 8)
    register(factDir, mvDir)
    try {
      s.experimental.extraOptimizations = Seq(SinkMvRewrite)
      def q = s.read.format("graft.sources.ShardSinkSource")
        .option("path", factDir).load()
        .join(s.read.format("graft.sources.ShardSinkSource")
          .option("path", dimDir).load()
          .select(col("doc_id").as("dk"), col("region")),
          col("shard") === col("dk"), "inner")
        .groupBy(col("region"), col("uid"))
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"))
      val r0 = rewrites.get()
      val cf0 = costFallbacks.get()
      // leg A: current watermarks — zero data files on EITHER table
      val cA = ShardSink.dataFileReadCount.get()
      q.collect()
      val aFiles = ShardSink.dataFileReadCount.get() - cA
      // leg B: fact tail — compensates through [Δf ⋈ d@new]
      ingest(1200L, 1500L) // f4
      q.collect()
      val bRewrites = rewrites.get() - r0 // A + B = 2
      SinkMvDist.refresh(s, factDir, mvDir) // fold f4
      // leg C: dim tail — the cost guard must refuse ([Δd ⋈ f@old]
      // rescans the whole fact) and the base join answers correctly
      s.sql("UPDATE graft_mvjr.dim_mvjr SET region = 'rX' WHERE doc_id = 5") // d4
      q.collect()
      val cRewrites = rewrites.get() - r0 // still 2
      val cFallbacks = costFallbacks.get() - cf0 // exactly 1
      SinkMvDist.refresh(s, factDir, mvDir) // fold the dim move
      // leg D: current again — rewritten, group move visible, zero files
      val cD = ShardSink.dataFileReadCount.get()
      val gotD = q.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val dFiles = ShardSink.dataFileReadCount.get() - cD
      val nRewrites = rewrites.get() - r0 // 3
      import s.implicits._
      gotD.toSeq.toDF("d_region", "uid", "n_docs", "sum_ids")
        .withColumn("n_rewrites", lit(nRewrites))
        .withColumn("b_rewrites", lit(bRewrites))
        .withColumn("c_rewrites", lit(cRewrites))
        .withColumn("cost_fallbacks", lit(cFallbacks))
        .withColumn("a_files_opened", lit(aFiles))
        .withColumn("d_files_opened", lit(dFiles))
        .orderBy("d_region", "uid")
    } finally {
      unregister(factDir)
      s.experimental.extraOptimizations = Nil
    }
  }

  /** DuckDB re-derivation: live fact rows are docs 0..1499 with
    * uid = doc % 300; the region of shard s = doc % 16 is rX for 5 (the
    * dim update, folded before leg D) else r(s % 3). Constants: 3
    * rewrites total (A, B, D), 2 after leg B, still 2 after the refused
    * leg C, exactly 1 cost fallback (leg C's [Δd ⋈ f@old] rescan loses
    * to the base join), and 0 data files opened by legs A and D.
    */
  val mvJoinRewriteReportSql: String =
    """WITH g AS (
      |  SELECT doc_id, doc_id % 300 AS uid,
      |         CASE WHEN doc_id % 16 = 5 THEN 'rX'
      |              ELSE 'r' || CAST((doc_id % 16) % 3 AS VARCHAR) END AS d_region
      |  FROM range(0, 1500) t(doc_id))
      |SELECT d_region, uid, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
      |       CAST(3 AS BIGINT) AS n_rewrites,
      |       CAST(2 AS BIGINT) AS b_rewrites,
      |       CAST(2 AS BIGINT) AS c_rewrites,
      |       CAST(1 AS BIGINT) AS cost_fallbacks,
      |       CAST(0 AS BIGINT) AS a_files_opened,
      |       CAST(0 AS BIGINT) AS d_files_opened
      |FROM g GROUP BY d_region, uid ORDER BY d_region, uid""".stripMargin

  /** Driver-checked DIM-TAIL COMPENSATION (round 19): the join-MV
    * rewrite across a MOVED dim with no fact rescan — the MV's grain
    * includes the fk (`shard`), so state rows are key-addressable:
    *   A: both watermarks current → rewritten, zero files (a_files);
    *   B: a dim attribute UPDATE (region of key 5 → 'rX') → the changed
    *      key's state rows REMAP to the post-image group at query time;
    *      the rewrite fires (no cost refusal) reading ONLY dim-side
    *      files — the arriving-key probe (feed + old-snapshot keys),
    *      the uniqueness probe (dim@new), and the remap (feed +
    *      dim@new) open 8 small dim files in total (b_files_opened pins
    *      the exact count) while the 16-file compacted fact stays
    *      closed (the spec pins the plan carries no fact scan);
    *   C: a dim INSERT (genuinely key-changing) → the plan-time probe
    *      DISQUALIFIES the compensation and the base join answers
    *      (c_extra_rewrites pins 0; cost_fallbacks unchanged — this is
    *      a derivability refusal, not a cost one);
    *   D: after a refresh folds both dim commits → rewritten, zero
    *      files;
    *   E: a dim key DELETE (key 9) → compensation DROPS the key's state
    *      rows — the final table excludes shard 9 and is the hash-gated
    *      output (B ≡ D row-set equality rides as bd_equal).
    */
  def mvDimTailRewriteReport(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, root) = scratch(spark, sfDir, "sinkmvdt", Seq("graft_mvdt"), MorCdf)
    def docs(lo: Long, hi: Long) = SinkLifecycles.docs(s, 1200, 2, lo, hi)
    // base tables (d1–d3, f1–f3) from the JVM-shared star fixture —
    // identical commits/versions to the inline build (round 19)
    SinkLifecycles.starInto(s, root.getPath, "dim_mvdt", "fact_mvdt")
    val factDir = new java.io.File(root.getPath, "fact_mvdt").getPath
    val dimDir = new java.io.File(root.getPath, "dim_mvdt").getPath
    ShardSink.compact(factDir) // f4: shard-pure 16-file layout
    val mvDir = factDir + ".mvdt"
    // the FINE grain: fk (shard) rides the group set — the compensation's
    // addressability condition
    SinkMvDist.createJoin(s, factDir, dimDir, mvDir, fk = "shard", pk = "doc_id",
      groups = Seq("shard", "d_region", "uid"), aggs = Seq(
        SinkMatView.MvAgg("n_docs", "count"),
        SinkMatView.MvAgg("sum_ids", "sum", "doc_id")), buckets = 8)
    register(factDir, mvDir)
    try {
      s.experimental.extraOptimizations = Seq(SinkMvRewrite)
      def q = s.read.format("graft.sources.ShardSinkSource")
        .option("path", factDir).load()
        .join(s.read.format("graft.sources.ShardSinkSource")
          .option("path", dimDir).load()
          .select(col("doc_id").as("dk"), col("region")),
          col("shard") === col("dk"), "inner")
        .groupBy(col("region"), col("uid"))
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"))
      def canon(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val r0 = rewrites.get()
      val cf0 = costFallbacks.get()
      // A — current watermarks
      val cA = ShardSink.dataFileReadCount.get()
      val gotA = q.collect()
      val aFiles = ShardSink.dataFileReadCount.get() - cA
      val aTotal = gotA.map(_.getLong(3)).sum
      // B — attribute-only dim move: compensated, fact never rescanned
      s.sql("UPDATE graft_mvdt.dim_mvdt SET region = 'rX' WHERE doc_id = 5") // d4
      val cB = ShardSink.dataFileReadCount.get()
      val gotB = canon(q.collect())
      val bFiles = ShardSink.dataFileReadCount.get() - cB
      val bRewrites = rewrites.get() - r0 // A + B = 2
      // C — a key-CHANGING dim commit: the probe refuses, base answers
      docs(16L, 18L).withColumn("region", lit("r9"))
        .writeTo("graft_mvdt.dim_mvdt").append() // d5
      q.collect()
      val cExtra = rewrites.get() - r0 - bRewrites // 0
      SinkMvDist.refresh(s, factDir, mvDir) // fold d4 + d5
      // D — current again
      val cD = ShardSink.dataFileReadCount.get()
      val gotD = canon(q.collect())
      val dFiles = ShardSink.dataFileReadCount.get() - cD
      // E — a dim key DELETE: compensation drops shard-9 state rows
      s.sql("DELETE FROM graft_mvdt.dim_mvdt WHERE doc_id = 9") // d6
      val gotE = q.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val nRewrites = rewrites.get() - r0 // A B D E = 4
      val cfDelta = costFallbacks.get() - cf0 // 0
      import s.implicits._
      gotE.toSeq.toDF("d_region", "uid", "n_docs", "sum_ids")
        .withColumn("a_rows", lit(gotA.length.toLong))
        .withColumn("a_total", lit(aTotal))
        .withColumn("bd_equal", lit(if (gotB.toSet == gotD.toSet) 1L else 0L))
        .withColumn("n_rewrites", lit(nRewrites))
        .withColumn("b_rewrites", lit(bRewrites))
        .withColumn("c_extra_rewrites", lit(cExtra))
        .withColumn("cost_fallbacks", lit(cfDelta))
        .withColumn("a_files_opened", lit(aFiles))
        .withColumn("d_files_opened", lit(dFiles))
        .withColumn("b_files_opened", lit(bFiles))
        .orderBy("d_region", "uid")
    } finally {
      unregister(factDir)
      s.experimental.extraOptimizations = Nil
    }
  }

  /** DuckDB re-derivation: fact rows are docs 0..1199, uid = doc % 300,
    * shard s = doc % 16; the final (leg-E) region map is rX for 5 (the
    * compensated move) else r(s % 3), with shard 9 EXCLUDED (the
    * compensated key delete); legs B and D must agree row-for-row
    * (bd_equal). Constants: 4 rewrites (A, B, D, E — C's key-changing
    * window is a derivability refusal: 0 extra rewrites AND 0 cost
    * fallbacks); A and D opened 0 data files; B opened exactly 8 —
    * all dim-side (probe feed + dim@old keys, uniqueness dim@new,
    * remap feed + dim@new) — while the 16-file compacted fact stayed
    * closed.
    */
  val mvDimTailRewriteReportSql: String =
    """WITH g AS (
      |  SELECT doc_id, doc_id % 300 AS uid, CAST(doc_id % 16 AS INT) AS s
      |  FROM range(0, 1200) t(doc_id)),
      |m AS (
      |  SELECT doc_id, uid,
      |         CASE WHEN s = 5 THEN 'rX' ELSE 'r' || CAST(s % 3 AS VARCHAR) END AS d_region
      |  FROM g WHERE s <> 9)
      |SELECT d_region, uid, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM (
      |          SELECT DISTINCT 'r' || CAST(s % 3 AS VARCHAR), uid FROM g)) AS a_rows,
      |       (SELECT CAST(SUM(doc_id) AS BIGINT) FROM g) AS a_total,
      |       CAST(1 AS BIGINT) AS bd_equal,
      |       CAST(4 AS BIGINT) AS n_rewrites,
      |       CAST(2 AS BIGINT) AS b_rewrites,
      |       CAST(0 AS BIGINT) AS c_extra_rewrites,
      |       CAST(0 AS BIGINT) AS cost_fallbacks,
      |       CAST(0 AS BIGINT) AS a_files_opened,
      |       CAST(0 AS BIGINT) AS d_files_opened,
      |       CAST(8 AS BIGINT) AS b_files_opened
      |FROM m GROUP BY d_region, uid ORDER BY d_region, uid""".stripMargin

  /** Driver-checked SNOWFLAKE-MV REWRITE (round 18): the full chain
    * query — `fact ⋈ dim1 ⋈ dim2 GROUP BY (zone, region, uid)`, dim2
    * keyed off dim1's `catk` column — answered from the snowflake MV
    * through four legs:
    *   A: all three watermarks current → rewritten; NO table's data
    *      files open (a_files pins 0);
    *   B: a fact append tail → rewritten through [Δf ⋈ d1@new ⋈ d2@new];
    *   C: a dim1 UPDATE tail → the [Δd1 ⋈ f@old ⋈ d2@old] part would
    *      rescan the whole fact, so the cost guard refuses
    *      (cost_fallbacks pins exactly one) and the base chain answers;
    *   D: after a refresh folds the region move → rewritten again with
    *      zero data files, the rX group move visible.
    */
  def mvSnowRewriteReport(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, root) = scratch(spark, sfDir, "sinkmvsr", Seq("graft_mvsr"), MorCdf)
    def docs(lo: Long, hi: Long) = SinkLifecycles.docs(s, 2400, 2, lo, hi)
    // base tables (e1–e3, d1–d4, f1–f3) from the JVM-shared snowflake
    // fixture — identical commits/versions to the inline build (round 19)
    SinkLifecycles.snowInto(s, root.getPath, "dim2_mvsr", "dim1_mvsr", "fact_mvsr")
    def ingest(lo: Long, hi: Long): Unit =
      docs(lo, hi).withColumn("uid", (col("doc_id") % 150L).cast("long"))
        .writeTo("graft_mvsr.fact_mvsr").append()
    val factDir = new java.io.File(root.getPath, "fact_mvsr").getPath
    val d1Dir = new java.io.File(root.getPath, "dim1_mvsr").getPath
    val d2Dir = new java.io.File(root.getPath, "dim2_mvsr").getPath
    val mvDir = factDir + ".mvsr"
    SinkMvDist.createSnowflake(s, factDir, mvDir,
      Seq(
        SinkMvDist.SnowDim(d1Dir, fk = "shard", pk = "doc_id", pfx = "d1_"),
        SinkMvDist.SnowDim(d2Dir, fk = "d1_catk", pk = "doc_id", pfx = "d2_")),
      groups = Seq("d2_zone", "d1_region", "uid"), aggs = Seq(
        SinkMatView.MvAgg("n_docs", "count"),
        SinkMatView.MvAgg("sum_ids", "sum", "doc_id")), buckets = 8)
    register(factDir, mvDir)
    try {
      s.experimental.extraOptimizations = Seq(SinkMvRewrite)
      def q = s.read.format("graft.sources.ShardSinkSource")
        .option("path", factDir).load()
        .join(s.read.format("graft.sources.ShardSinkSource")
          .option("path", d1Dir).load()
          .select(col("doc_id").as("d1k"), col("region"), col("catk")),
          col("shard") === col("d1k"), "inner")
        .join(s.read.format("graft.sources.ShardSinkSource")
          .option("path", d2Dir).load()
          .select(col("doc_id").as("d2k"), col("zone")),
          col("catk") === col("d2k"), "inner")
        .groupBy(col("zone"), col("region"), col("uid"))
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"))
      val r0 = rewrites.get()
      val cf0 = costFallbacks.get()
      // leg A: every watermark current — zero data files on ALL tables
      val cA = ShardSink.dataFileReadCount.get()
      q.collect()
      val aFiles = ShardSink.dataFileReadCount.get() - cA
      // leg B: fact tail — the [Δf ⋈ d1@new ⋈ d2@new] part compensates
      ingest(1200L, 1400L) // f4
      q.collect()
      val bRewrites = rewrites.get() - r0 // A + B = 2
      SinkMvDist.refresh(s, factDir, mvDir) // fold f4
      // leg C: dim1 tail — [Δd1 ⋈ f@old ⋈ d2@old] rescans the fact; the
      // cost guard refuses and the base chain answers
      s.sql("UPDATE graft_mvsr.dim1_mvsr SET region = 'rX' WHERE doc_id = 7") // d5
      q.collect()
      val cRewrites = rewrites.get() - r0 // still 2
      val cFallbacks = costFallbacks.get() - cf0 // exactly 1
      SinkMvDist.refresh(s, factDir, mvDir) // fold the region move
      // leg D: current again — rewritten, the group move visible
      val cD = ShardSink.dataFileReadCount.get()
      val gotD = q.collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      val dFiles = ShardSink.dataFileReadCount.get() - cD
      val nRewrites = rewrites.get() - r0 // 3
      import s.implicits._
      gotD.toSeq.toDF("zone", "region", "uid", "n_docs", "sum_ids")
        .withColumn("n_rewrites", lit(nRewrites))
        .withColumn("b_rewrites", lit(bRewrites))
        .withColumn("c_rewrites", lit(cRewrites))
        .withColumn("cost_fallbacks", lit(cFallbacks))
        .withColumn("a_files_opened", lit(aFiles))
        .withColumn("d_files_opened", lit(dFiles))
        .orderBy("zone", "region", "uid")
    } finally {
      unregister(factDir)
      s.experimental.extraOptimizations = Nil
    }
  }

  /** DuckDB re-derivation: live fact rows are docs 0..1399 with
    * uid = doc % 150; shard s = doc % 16 maps region rX for 7 (the dim1
    * update, folded before leg D) else r(s % 3), and zone z((s % 4) % 2)
    * through the catk chain. Constants: 3 rewrites (A, B, D), 2 after
    * leg B, still 2 after the refused leg C, exactly 1 cost fallback,
    * 0 data files opened by legs A and D.
    */
  val mvSnowRewriteReportSql: String =
    """WITH g AS (
      |  SELECT doc_id, doc_id % 150 AS uid, doc_id % 16 AS s
      |  FROM range(0, 1400) t(doc_id)),
      |m AS (
      |  SELECT doc_id, uid,
      |         CASE WHEN s = 7 THEN 'rX' ELSE 'r' || CAST(s % 3 AS VARCHAR) END AS region,
      |         'z' || CAST((s % 4) % 2 AS VARCHAR) AS zone
      |  FROM g)
      |SELECT zone, region, uid, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
      |       CAST(3 AS BIGINT) AS n_rewrites,
      |       CAST(2 AS BIGINT) AS b_rewrites,
      |       CAST(2 AS BIGINT) AS c_rewrites,
      |       CAST(1 AS BIGINT) AS cost_fallbacks,
      |       CAST(0 AS BIGINT) AS a_files_opened,
      |       CAST(0 AS BIGINT) AS d_files_opened
      |FROM m GROUP BY zone, region, uid ORDER BY zone, region, uid""".stripMargin
}
