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
  * counter). A `Rule[LogicalPlan]`: wire it per-session via
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
        catch { case scala.util.control.NonFatal(_) =>
          // an optimizer rule must NEVER break the query: a stale
          // registration (renamed column, swept MV dir, corrupt header,
          // expired feed) bails to the base scan instead of escaping
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
        catch { case scala.util.control.NonFatal(_) => NoMatch }
      }
    }
    // cheapest-first: build lazily, fall to the next candidate on a
    // build-time surprise (each builder is independently NonFatal-safe)
    val built = screened.collect { case m: Mapped => m }
      .sortBy(_.cost).iterator
      .map(m =>
        try m.build()
        catch { case scala.util.control.NonFatal(_) => None })
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
    if (cost > base) return CostRefused

    // compensated dims enter the window list PINNED at their new version
    // (fromV == toV): a fact-tail part then joins them at the state the
    // remap brought the MV to — the telescoping holds
    val windows = joins.zip(dimTos).zipWithIndex.map { case ((j, dv), i) =>
      if (compQualified && dimTails(i))
        SinkMatView.DimWindow(j.dim, j.fk, j.pk, j.pfx, dv, dv)
      else SinkMatView.DimWindow(j.dim, j.fk, j.pk, j.pfx, j.dimV, dv)
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
      tableDir: String, windows: Seq[SinkMatView.DimWindow], toV: Long,
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
                  SinkMatView.requireUniqueKeys(
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
            .withColumn("_sign", SinkMatView.signOf(col("_change_type")))))
        else
          // the delta-join decomposition, one window per source (dims in
          // declaration order — unmoved sources carry fromV == toV), via
          // the SAME core the refresh folds through; dim-key uniqueness
          // is re-proven per moved window inside
          Some(withResid(
            SinkMatView.contributionStream(spark, mv.src, mv.srcV, toV, windows)))

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
      // typed OR-of-conjunctions through the shared groupFilter helper
      // (typed literals keep source pruning engaged; NULL group values
      // match via isNull)
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
}
