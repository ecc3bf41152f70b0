package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** MATERIALIZED views over lake tables: `CREATE MATERIALIZED VIEW <name>
  * AS SELECT <groups…, count(*), count(c), sum(e), avg(e), min(e),
  * max(e)…> FROM <fact> [JOIN <dim> ON <cond> …] [WHERE <pred>]
  * GROUP BY <groups…> [HAVING <pred>]`, advanced INCREMENTALLY by
  * `REFRESH MATERIALIZED VIEW <name>` folding the FACT table's change
  * feed — never rescanning the base wholesale. The 100 TB shape: a
  * refresh costs O(changed rows) feed work + O(changed groups) state
  * work, and the state table is aggregate-sized however large the base
  * grows.
  *
  * STAR JOINS: JOINed tables are DIMENSIONS, each with its own
  * folded-to version riding the state table's manifest chain (per-dim
  * epoch app ids — the entry's DimSpec.version is only the initial
  * pin). A refresh folds the BILINEAR decomposition, one phase per
  * advanced relation: for each changed dim, the dim's signed feed
  * joined to the fact at its OLD fold version (dims left of it at NEW
  * versions, right of it at not-yet-folded versions), then the fact's
  * signed feed against all-NEW dims — inner joins are LINEAR in each
  * side, so every phase folds exactly through the same signed
  * machinery, min/max rescans and count(DISTINCT) recounts included
  * (each against its phase's consistent fold-target bracket). Refresh
  * cost is O(changed fact rows) + Σ O(changed dim rows ⋈ fact) — a dim
  * attribute flip touches exactly the fact rows that join it, never the
  * base wholesale. A dim RESTOREd below its folded-to version refuses
  * (an applied interval cannot un-happen); `REFRESH … FULL` rebuilds
  * and re-pins. Dim snapshots ride a size-gated broadcast hint probed
  * from manifest row counts — zero extra jobs — and an over-budget dim
  * degrades to a shuffle join.
  *
  * Self-maintainability shapes the fold: count(*)/count(c)/sum(e) fold
  * exactly under inserts AND deletes from the signed feed
  * (postimage/insert = +1, preimage/delete = −1), and avg(e) rides as
  * DERIVED state (exact sum + non-null count, mean reconstructed at
  * read). min/max fold exactly under INSERTS (least/greatest against the
  * stored extremum); a DELETE that ties the extremum is the one case no
  * fold can answer — those groups, and ONLY those groups, rescan against
  * the base's fold-target snapshot (a broadcast semi-join scoped to the
  * affected group values, with an `isin` pre-filter the parquet scan and
  * manifest prune rule can push when the leading group key is a bare
  * column). Cost: O(affected groups' rows), never O(base) compute — the
  * classic IVM extension, and the steady state (inserts, or deletes that
  * never touch an extremum) stays pure-fold. count(DISTINCT expr) rides
  * a multiplicity SIDE TABLE per aggregate — (group, value) → live row
  * count, itself an epoch-tagged keyed lake table — folded first each
  * refresh, with the view's value an ABSOLUTE recount of the changed
  * groups' live values (O(changed groups' distinct values); a signed
  * fold alone cannot know whether a deleted row was a value's last
  * holder). `count(*)` is REQUIRED — it
  * is the group-liveness witness: a group folding to zero rows deletes
  * its state row, and without the count the fold cannot know. Sums fold
  * in DECIMAL(28,10) (exact, associative — the incremental fold is
  * bit-equal to a from-scratch aggregate, which is what the oracle pins;
  * fractional inputs are cast once at both build and fold, so the two
  * paths round identically). Each sum carries a hidden non-null counter
  * so an all-null group reads back as SQL's NULL, not 0.
  *
  * GROUP BY keys may be bare base columns or deterministic scalar
  * expressions (`year(d) AS y`): an expression key's COMPUTED column is
  * stored in state under its declared alias, and the refresh computes
  * the same expression over the feed — the alias must therefore not
  * shadow a base column (refused at CREATE). HAVING is a post-aggregate
  * filter applied at READ over the declared select shape — state keeps
  * every live group (a group can cross the HAVING boundary in either
  * direction as the base mutates, so filtering state would lose the
  * ability to re-enter).
  *
  * Transactional bookkeeping rides the state table's OWN manifest chain:
  * every refresh commits through [[LakeTable.mergeIntoEpoch]] with
  * epoch id = the base version folded TO (app id `mv-<name>`), so
  * "which base snapshot does my state reflect?" is answered by
  * [[LakeTable.latestEpoch]] — no side marker to desync, a crashed
  * refresh retries idempotently (the rescan happens before the one
  * commit, against the same fold-target snapshot), and a racing
  * duplicate refresh is harmless twice over (the epoch check skips it,
  * and the fold writes ABSOLUTE group values, so even a double-commit
  * converges). */
object LakeMv {

  /** One select-list item, in declared order. */
  sealed trait MvItem
  /** A GROUP BY key: a bare base column (`exprText == alias`) or a
    * deterministic scalar expression stored computed under `alias`. */
  case class GroupItem(alias: String, exprText: String) extends MvItem {
    def isBare: Boolean = exprText == alias
  }
  object GroupItem {
    /** Bare-column shorthand (also the pre-expression-keys call shape). */
    def apply(name: String): GroupItem = GroupItem(name, name)
  }
  /** An aggregate: kind ∈ count_star | count | sum | avg | min | max;
    * `arg` is the raw expression text (empty for count_star). AVG is
    * derived state: it stores an exact decimal sum plus a non-null count
    * and reconstructs the mean at read — that derivation is what makes it
    * self-maintainable where a stored mean would not be. MIN/MAX store
    * the extremum directly and lean on the group-scoped delete rescan. */
  case class AggItem(kind: String, alias: String, arg: String) extends MvItem

  /** One DIMENSION side of a star-join MV (`FROM fact JOIN dim ON …`):
    * a lake table whose folded-to version rides the state table's
    * manifest chain under a per-dim epoch app id; `version` is only the
    * INITIAL pin (CREATE / last REFRESH … FULL time). Dim changes fold
    * incrementally as their own phase of the bilinear decomposition
    * (see [[refresh]]). `onSql` is the raw ON text; the fact and each
    * dim are subquery-aliased under the last part of their catalog
    * names, so conditions and view expressions may qualify
    * (`orders.k = cust.k`). */
  case class DimSpec(name: String, root: String, version: Int,
                     onSql: String)

  /** `appId` is the epoch-bookkeeping app id pinned at CREATE
    * (`mv-<original name>`): the state table's refresh epochs are tagged
    * under it, so `ALTER MATERIALIZED VIEW … RENAME TO` must NOT change
    * it — a rename that re-derived the id from the new name would stop
    * finding the existing tags and re-fold from the init version,
    * double-counting every applied interval. Entries written before the
    * field existed leave it None and fall back to the current name
    * (those were never renamed, so the names agree). */
  /** `preItems`/`preWhere`/`viewText` carry a PINNED single-table VIEW
    * the MV folds THROUGH (`FROM <view>`): the view's projection items
    * and WHERE text apply to the fact relation (snapshot or feed) BEFORE
    * dims/WHERE/grouping, and `viewText` is the body as pinned at
    * CREATE — a redefined view refuses the incremental fold (REFRESH …
    * FULL re-reads and re-pins). Empty/None for table-based MVs.
    *
    * A STAR-JOIN view (`FROM <view>` whose pinned body is `SELECT …
    * FROM fact JOIN dim ON … [WHERE …]`) compiles onto the SAME dim
    * machinery instead: the body's joins become `dims`, its WHERE
    * becomes `postWhere` and its projection `postItems` — both applied
    * AFTER the joins (the items may reference dim columns), before the
    * MV's own WHERE/grouping — and `factRel` records the body's fact
    * TABLE name (the relation alias ON conditions qualify by; the MV's
    * `baseName` stays the VIEW name for the pin check). Per-row linear
    * throughout, so the signed fold is exact over the composed shape. */
  /** `mvPin` carries a CASCADING MV's pinned upstream (`FROM <mv>`): the
    * upstream's NORMALIZED serialized definition ([[normalizedMv]] —
    * queryText/appId stripped, so a plain RENAME does not spuriously
    * break the pin while any content or state-root change does). The
    * downstream's base is the upstream's STATE table (a lake table with
    * its own change feed), `preItems` its generated read projection and
    * the upstream's HAVING a conjunct of `whereSql` — per-row linear
    * end to end, so the signed fold is exact over the upstream's SERVED
    * relation. A redefined/rebuilt/dropped upstream refuses the
    * incremental fold; `REFRESH … FULL` re-reads and re-pins. */
  case class MvDef(baseRoot: String, baseName: String, initVersion: Int,
                   stateRoot: String, items: Seq[MvItem],
                   whereSql: Option[String], havingSql: Option[String],
                   queryText: String, appId: Option[String] = None,
                   dims: Seq[DimSpec] = Seq.empty,
                   preItems: Seq[String] = Seq.empty,
                   preWhere: Option[String] = None,
                   viewText: Option[String] = None,
                   postItems: Seq[String] = Seq.empty,
                   postWhere: Option[String] = None,
                   factRel: Option[String] = None,
                   mvPin: Option[String] = None) {
    /** The FACT relation's qualification name: the star-join view's
      * fact table when folding through one, else the base itself. */
    def factRelName: String = factRel.getOrElse(baseName)
    def groupItems: Seq[GroupItem] = items.collect { case g: GroupItem => g }
    def groupCols: Seq[String] = groupItems.map(_.alias)
    def aggs: Seq[AggItem] = items.collect { case a: AggItem => a }
    def countStarAlias: String = aggs.find(_.kind == "count_star").get.alias
    def minMaxAggs: Seq[AggItem] =
      aggs.filter(a => a.kind == "min" || a.kind == "max")
    def countDistinctAggs: Seq[AggItem] =
      aggs.filter(_.kind == "count_distinct")
    /** A count(DISTINCT …) aggregate's multiplicity side table — derived
      * from the state root, so no extra serialized field. */
    def auxRoot(alias: String): String =
      s"$stateRoot-cd-${alias.toLowerCase}"
  }

  private val Dec = DecimalType(28, 10)
  private def nnAlias(a: String) = s"_nn_$a"
  private def appIdOf(name: String) = s"mv-${name.toLowerCase}"

  /** Run independent Spark actions from a small driver thread pool
    * (guide §2.6 — actions are only sequential because driver code calls
    * them sequentially; overlapped jobs back-fill executors freed by each
    * other's stage tails). Used where the units are provably independent
    * COMMITS TO DIFFERENT ROOTS (the main state build vs each
    * count(DISTINCT) side build at CREATE; the per-aggregate side-table
    * folds of a refresh phase). Every task is JOINED before this returns
    * — on failure too, so no stray commit can race a caller's next
    * statement — and the first failure rethrows with its original
    * exception. A 0/1-task list runs inline (no pool, no overhead). */
  private def runOverlapped[A](tasks: Seq[() => A]): Seq[A] =
    if (tasks.sizeIs <= 1) tasks.map(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(tasks.size, 4))
      try {
        val fs = tasks.map(t => pool.submit(
          new java.util.concurrent.Callable[A] { def call(): A = t() }))
        // join ALL (a failed sibling must not leave another mid-commit),
        // then surface the first failure unwrapped
        val joined = fs.map(f => scala.util.Try(f.get()))
        joined.foreach {
          case scala.util.Failure(e: java.util.concurrent.ExecutionException) =>
            throw e.getCause
          case scala.util.Failure(e) => throw e
          case _ =>
        }
        joined.map(_.get)
      } finally pool.shutdown()
    }

  /** Broadcast budget for the refresh's DELTA-sized relations, in ROWS —
    * read per refresh from `spark.graft.mv.broadcastMaxRows` (default 1M:
    * a delta row is the group key strings plus a few decimals/longs,
    * ~256 B, so 1M rows ≈ 256 MB — inside the executor broadcast ceiling
    * with headroom). At refresh cadence the delta is tiny and the hint
    * is the right plan (state scans once, everything else map-side); but
    * a COLD refresh over a long commit interval — the backfill shape —
    * makes the delta approach group cardinality, and a welded hint would
    * OOM the executors there. Over budget the hint is WITHHELD and the
    * same joins plan as shuffle equi-joins on the merge key — the
    * degrade, not the cliff. The size probe is a `count()` of a relation
    * the refresh has ALREADY localCheckpoint-materialized (the fold needs
    * it for the collision/negative forensics regardless), so the gate
    * costs one in-memory count, never an extra Spark plan execution —
    * the same discipline as the LM model joins
    * ([[graft.extensions.TextAnalysis]]'s `lmBroadcastMaxTypes`). */
  private def mvBroadcastMaxRows(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.mv.broadcastMaxRows")
      .map(_.toLong).getOrElse(1000000L)

  /** The hint, applied conditionally (see [[mvBroadcastMaxRows]]). */
  private def hintIfSmall(df: DataFrame, small: Boolean): DataFrame =
    if (small) broadcast(df) else df

  /** Key budget for the `isin` FACT pre-filters (the dim-delta phase's
    * join-key pushdown and the min/max rescan's dim-lead resolution) —
    * `spark.graft.mv.isinPrefilterMaxKeys`, default 1000: an IN list is
    * a literal predicate the parquet row-group stats and
    * [[LakeManifestPrune]] can push (REAL file pruning on a fact
    * clustered by the key), but it is also driver-collected and
    * plan-embedded, so it must stay small. Over budget the pre-filter is
    * simply withheld — the join itself stays correct, only unpruned. */
  private def isinPrefilterMaxKeys(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.mv.isinPrefilterMaxKeys")
      .map(_.toLong).getOrElse(1000L)

  /** Ops/test seam: how many groups the LAST refresh on this JVM flagged
    * for a min/max rescan (0 = pure fold — the steady state; the specs
    * pin that insert-only and non-extremum-delete intervals never
    * rescan). Observability only; never read by the fold itself. */
  @volatile private[graft] var lastRescanGroups: Long = 0L

  /** Crash-injection seam: when set, refresh throws AFTER the
    * count(DISTINCT) side tables committed but BEFORE the main state
    * merge — the exact window whose retry convergence the side tables'
    * own epoch chains exist to guarantee (spec-pinned). */
  @volatile private[graft] var failBeforeMainMerge: Boolean = false

  /** Ops/test seams for the fact-scan pre-filters: when
    * [[captureFactScan]] is set, every dim-delta phase and min/max
    * rescan records how many of the FACT's data files its executed plan
    * actually scans ([[lastFactScanFiles]]) — the pruning assertion's
    * probe — and [[lastPrefilterKeys]] records the `isin` key count the
    * pre-filter embedded (-1 = no pre-filter applied). Observability
    * only; never read by the fold. */
  @volatile private[graft] var captureFactScan: Boolean = false
  @volatile private[graft] var lastFactScanFiles: Long = -1L
  @volatile private[graft] var lastPrefilterKeys: Long = -1L

  private def recordFactScan(df: DataFrame, baseRoot: String): Unit =
    if (captureFactScan) {
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      val dataPrefix = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(baseRoot), "data").toUri.getPath + "/"
      def scans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
        case s: FileSourceScanExec => Seq(s)
        case a: AdaptiveSparkPlanExec => scans(a.inputPlan)
      }.flatten
      lastFactScanFiles = scans(df.queryExecution.executedPlan)
        .flatMap(_.relation.location.inputFiles)
        .count(f => new org.apache.hadoop.fs.Path(f).toUri.getPath
          .startsWith(dataPrefix))
    }

  /** The ONE equi-join pair `(fact column, dim column)` of `dim.onSql`'s
    * top-level conjuncts, when one exists — the handle both fact
    * pre-filters push through. Extraction is structural and
    * conservative: only top-level `AND`-chained `=` conjuncts are
    * considered (an `=` under `OR` does not bound the join), each side
    * must be a bare attribute that resolves to exactly one relation —
    * by its qualifier ([[relAlias]]) or, unqualified, by EXCLUSIVE
    * column-set membership — and anything else yields None (the join
    * stays correct, only unpruned). */
  private[sources] def equiJoinKeyPair(
      d: MvDef, dim: DimSpec, factColsLc: Set[String],
      dimColsLc: Set[String]): Option[(String, String)] = {
    import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    val factA = relAlias(d.factRelName)
    val dimA = relAlias(dim.name)
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    // Left = fact-side column, Right = dim-side column, None = unusable
    def side(e: Expression): Option[Either[String, String]] = e match {
      case UnresolvedAttribute(parts) if parts.length == 2 =>
        val q = parts.head.toLowerCase
        if (q == factA) Some(Left(parts(1)))
        else if (q == dimA) Some(Right(parts(1)))
        else None
      case UnresolvedAttribute(parts) if parts.length == 1 =>
        val lc = parts.head.toLowerCase
        (factColsLc.contains(lc), dimColsLc.contains(lc)) match {
          case (true, false) => Some(Left(parts.head))
          case (false, true) => Some(Right(parts.head))
          case _ => None
        }
      case _ => None
    }
    val cond =
      try org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(dim.onSql)
      catch { case scala.util.control.NonFatal(_) => return None }
    conjuncts(cond).iterator.map {
      case EqualTo(l, r) => (side(l), side(r)) match {
        case (Some(Left(f)), Some(Right(dc))) => Some((f, dc))
        case (Some(Right(dc)), Some(Left(f))) => Some((f, dc))
        case _ => None
      }
      case _ => None
    }.collectFirst { case Some(p) => p }
  }

  /** Project a base/feed relation to carry every EXPRESSION group key as
    * a computed column under its alias (bare keys already exist; their
    * aliases are refused as base-column shadows at CREATE, so withColumn
    * only ever ADDS here). */
  private def withGroupKeys(df: DataFrame, d: MvDef): DataFrame =
    d.groupItems.filterNot(_.isBare).foldLeft(df)((acc, g) =>
      acc.withColumn(g.alias, expr(g.exprText)))

  /** A relation's qualification alias: the LAST part of its catalog
    * name — `ns.orders` qualifies as `orders`, matching how Spark's own
    * db.table resolution aliases. */
  private[sources] def relAlias(name: String): String =
    name.toLowerCase.split("\\.").last

  /** A fact-side relation (snapshot or change feed) inner-joined to
    * every dim's snapshot at the version `at` resolves, in declaration
    * order. Each side is subquery-aliased under the LAST part of its
    * catalog name ([[relAlias]]) so ON conditions and view expressions
    * may qualify (`orders.k = cust.k`). The dim side rides a SIZE-GATED
    * broadcast hint whose probe is the manifest's row count — metadata
    * the driver already holds, zero extra jobs; a dim over the budget
    * plans a shuffle join instead (the fact feed shuffles on the join
    * key — the degrade, not an executor OOM). */
  private def joinDims(spark: SparkSession, fact: DataFrame, d: MvDef,
                       at: DimSpec => Int): DataFrame =
    if (d.dims.isEmpty) fact
    else d.dims.foldLeft(fact.as(relAlias(d.factRelName))) { (acc, dim) =>
      val dt = new LakeTable(spark, dim.root)
      val v = at(dim)
      val nRows = dt.manifest(v).files.map(_.rows).sum
      acc.join(hintIfSmall(dt.snapshot(v).as(relAlias(dim.name)),
        nRows <= mvBroadcastMaxRows(spark)), expr(dim.onSql), "inner")
    }

  /** The pinned VIEW stage over the fact relation (no-op for table-based
    * MVs): the view's WHERE filters base rows, then its projection items
    * re-shape them — `_change_type` is carried through when present, so
    * the signed fold sees the view's multiset diff exactly (a row
    * UPDATED across the view's WHERE boundary contributes its preimage
    * or postimage side only, which IS the view's content change). */
  private def applyPre(fact: DataFrame, d: MvDef): DataFrame = {
    val f = d.preWhere.map(w => fact.filter(expr(w))).getOrElse(fact)
    if (d.preItems.isEmpty) f
    else f.selectExpr(d.preItems ++
      Seq("_change_type").filter(f.columns.contains): _*)
  }

  /** Whether the star-view post projection passes column `leadLc`
    * through UNDER ITS OWN NAME — bare (`c`), qualified by the OWNING
    * relation (`<ownerAlias>.c`), or either with a same-named alias —
    * the precondition for mapping a view-output lead column back onto a
    * dim's STORED column in the rescan pushdown. A projected rename
    * (`x AS c`) or a qualification by a DIFFERENT relation fails it, so
    * the pushdown can never prune on the wrong column or the wrong dim;
    * trivially true with no post projection. */
  private def postPassthrough(d: MvDef, leadLc: String,
                              ownerAlias: String): Boolean =
    d.postItems.isEmpty || d.postItems.exists { it =>
      val t = it.trim.toLowerCase.replaceAll("\\s+", " ")
      val q = java.util.regex.Pattern.quote(leadLc)
      val o = java.util.regex.Pattern.quote(ownerAlias.toLowerCase)
      t.matches(s"($o\\.)?$q( as $q)?")
    }

  /** The pinned STAR-JOIN view's post-join stage (no-op otherwise): the
    * body's WHERE filters the joined rows, then its projection re-shapes
    * them — `_change_type` carried through when present, exactly like
    * [[applyPre]], so whichever side supplied the signed feed keeps its
    * sign through the view's multiset diff. */
  private def applyPost(joined: DataFrame, d: MvDef): DataFrame = {
    val f = d.postWhere.map(w => joined.filter(expr(w))).getOrElse(joined)
    if (d.postItems.isEmpty) f
    else f.selectExpr(d.postItems ++
      Seq("_change_type").filter(f.columns.contains): _*)
  }

  /** The relation every fold and rescan aggregates: fact (through the
    * pinned view stage, if any) ⋈ dims at `at`'s versions, then the
    * WHERE filter (it may reference view-output and dim columns —
    * post-projection, post-join by construction), then the computed
    * expression group keys. `factFilter` is an optional LITERAL
    * pre-filter on the fact side (post-view-stage, pre-join) — the
    * rescan's dim-lead `isin` pushdown — always a superset of the rows
    * the join keeps, so applying it never changes the result, only the
    * I/O. */
  private def prepared(spark: SparkSession, fact: DataFrame, d: MvDef,
                       at: DimSpec => Int,
                       factFilter: Option[Column] = None): DataFrame = {
    val f0 = applyPre(fact, d)
    val f = factFilter.map(f0.filter).getOrElse(f0)
    val j = applyPost(joinDims(spark, f, d, at), d)
    withGroupKeys(d.whereSql.map(w => j.filter(expr(w))).getOrElse(j), d)
  }

  /** A DIM-DELTA phase's feed: dim `dimI`'s signed change feed
    * `(from, to]` in place of its snapshot, joined to the FACT snapshot
    * at `factV` (through the view stage) and to every other dim at
    * `at`'s versions — the `F⋈ΔD` term of the bilinear decomposition
    * (see [[refresh]]). The `_change_type` column arrives from the dim
    * side, so the same signed fold machinery applies unchanged; the dim
    * feed (delta-sized) carries the size-gated broadcast hint, probed by
    * a count of its localCheckpoint — the fact snapshot is the big side
    * and never broadcasts. */
  private def preparedDimFeed(spark: SparkSession, d: MvDef, dimI: DimSpec,
                              from: Int, to: Int, factV: Int,
                              at: DimSpec => Int): DataFrame = {
    // LAZY checkpoint + count: the count is the materializing action, so
    // the feed costs ONE execution (eager would pay a checkpoint job AND
    // a count job over the same delta-sized rows)
    val feed = new LakeTable(spark, dimI.root).changes(from, to)
      .localCheckpoint(false)
    val feedSmall = feed.count() <= mvBroadcastMaxRows(spark)
    val factPre = applyPre(
      new LakeTable(spark, d.baseRoot).snapshot(factV), d)
    // JOIN-KEY PUSHDOWN — the 100 TB shape: the feed is delta-sized, so
    // when its distinct join-key set fits the isin budget, the keys ride
    // the fact scan as a LITERAL pre-filter (parquet row-group stats +
    // [[LakeManifestPrune]] — a fact clustered on the join key prunes to
    // the affected files instead of paying a full pass per dim flip).
    // Exact, not just a superset: the inner equi-conjunct only keeps
    // fact rows whose key equals some (non-null) feed key, and the
    // collect enumerated ALL of them or withheld the filter.
    lastPrefilterKeys = -1L
    val factFiltered = {
      val maxKeys = isinPrefilterMaxKeys(spark)
      val factColsLc = factPre.columns.map(_.toLowerCase).toSet
      val feedColsLc = feed.columns.map(_.toLowerCase).toSet
      equiJoinKeyPair(d, dimI, factColsLc, feedColsLc) match {
        case Some((factCol, dimCol)) =>
          val keys = feed.select(col(dimCol)).na.drop().distinct()
            .limit(maxKeys.toInt + 1).collect().map(_.get(0)).toSeq
          if (keys.nonEmpty && keys.length <= maxKeys) {
            lastPrefilterKeys = keys.length.toLong
            factPre.filter(col(factCol).isin(keys: _*))
          } else if (keys.isEmpty) {
            // a feed with no non-null join key joins nothing: the phase
            // is provably empty, so the fact need not be read at all
            lastPrefilterKeys = 0L
            factPre.filter(lit(false))
          } else factPre
        case None => factPre
      }
    }
    val joined = d.dims.foldLeft(factFiltered.as(relAlias(d.factRelName))) {
      (acc, dim) =>
        if (dim.name.equalsIgnoreCase(dimI.name))
          acc.join(hintIfSmall(feed.as(relAlias(dim.name)), feedSmall),
            expr(dim.onSql), "inner")
        else {
          val dt = new LakeTable(spark, dim.root)
          val v = at(dim)
          val nRows = dt.manifest(v).files.map(_.rows).sum
          acc.join(hintIfSmall(dt.snapshot(v).as(relAlias(dim.name)),
            nRows <= mvBroadcastMaxRows(spark)), expr(dim.onSql), "inner")
        }
    }
    val staged = applyPost(joined, d)
    val out = withGroupKeys(
      d.whereSql.map(w => staged.filter(expr(w))).getOrElse(staged), d)
    recordFactScan(out, d.baseRoot)
    out
  }

  // ---- catalog-entry (de)serialization -------------------------------

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  private def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s),
      java.nio.charset.StandardCharsets.UTF_8)

  /** Line-oriented, order-fixed; free-text fields (expressions, the
    * predicates, the original statement) ride base64 so they can hold any
    * character the user wrote. Bare group keys keep the round-14 `g:`
    * form (entries written by older builds read back unchanged);
    * expression keys serialize as `ge:<alias>:<b64 expr>`. */
  def serialize(d: MvDef): String = {
    val items = d.items.map {
      case g: GroupItem if g.isBare => s"g:${g.alias}"
      case GroupItem(a, e) => s"ge:$a:${b64(e)}"
      case AggItem(k, a, arg) => s"a:$k:$a:${b64(arg)}"
    }.mkString(";")
    Seq(
      s"base=${d.baseRoot}",
      s"name=${d.baseName}",
      s"init=${d.initVersion}",
      s"state=${d.stateRoot}",
      s"items=$items",
      s"where=${d.whereSql.map(b64).getOrElse("-")}",
      s"having=${d.havingSql.map(b64).getOrElse("-")}",
      s"appid=${d.appId.getOrElse("-")}",
      // star-join dims: name + pinned version + b64 root + b64 ON text
      // (base64's alphabet has no ':' or ';', so the separators are safe)
      s"dims=${if (d.dims.isEmpty) "-"
        else d.dims.map(x =>
          s"${x.name}:${x.version}:${b64(x.root)}:${b64(x.onSql)}")
          .mkString(";")}",
      // the pinned fold-through view (FROM <view>): projection items,
      // WHERE text, and the body text the pin compares against
      s"preitems=${if (d.preItems.isEmpty) "-"
        else d.preItems.map(b64).mkString(";")}",
      s"prewhere=${d.preWhere.map(b64).getOrElse("-")}",
      s"viewtext=${d.viewText.map(b64).getOrElse("-")}",
      // the star-join view stage: post-join projection + WHERE, and the
      // body's fact table name (the join-qualification alias)
      s"postitems=${if (d.postItems.isEmpty) "-"
        else d.postItems.map(b64).mkString(";")}",
      s"postwhere=${d.postWhere.map(b64).getOrElse("-")}",
      s"factrel=${d.factRel.getOrElse("-")}",
      // the pinned upstream of a cascading MV (FROM <mv>)
      s"mvpin=${d.mvPin.map(b64).getOrElse("-")}",
      s"query=${b64(d.queryText)}").mkString("\n")
  }

  /** The content identity an MV-over-MV pin compares: the upstream's
    * serialized definition with its statement text and epoch app id
    * stripped — a plain RENAME (which rewrites both) must not break
    * downstream pins, while any change to items/predicates/state root
    * (redefinition, REFRESH … FULL's state swap) must. */
  def normalizedMv(raw: String): String =
    serialize(parseDef(raw).copy(queryText = "", appId = None))

  /** Pin comparison is STRUCTURAL (both sides parsed, then case-class
    * equality on the normalized [[MvDef]]), never text-vs-text: the
    * serialization format grows a line most rounds, and a pin written
    * by an older build must keep matching an unchanged upstream after
    * an upgrade (parseDef's back-compat defaults make the two parses
    * agree) — only a REAL content/state-root change may break it. An
    * unparsable pin compares unequal (refuse, loudly, at the caller). */
  private[sources] def mvPinMatches(pinTxt: String,
                                    currentRaw: String): Boolean =
    scala.util.Try(parseDef(pinTxt) ==
      parseDef(currentRaw).copy(queryText = "", appId = None))
      .getOrElse(false)

  def parseDef(s: String): MvDef = {
    val kv = s.linesIterator.map(_.trim).filter(_.nonEmpty)
      .map { l =>
        val i = l.indexOf('=')
        require(i > 0, s"malformed materialized-view entry line: $l")
        l.substring(0, i) -> l.substring(i + 1)
      }.toMap
    val items = kv("items").split(";").toSeq.filter(_.nonEmpty).map { it =>
      it.split(":", -1) match {
        case Array("g", g) => GroupItem(g)
        case Array("ge", a, e) => GroupItem(a, unb64(e))
        case Array("a", k, a, arg) => AggItem(k, a, unb64(arg))
        case _ => throw new IllegalArgumentException(
          s"malformed materialized-view item: $it")
      }
    }
    MvDef(kv("base"), kv("name"), kv("init").toInt, kv("state"), items,
      Some(kv("where")).filter(_ != "-").map(unb64),
      // entries written before HAVING existed lack the line: no filter
      kv.get("having").filter(_ != "-").map(unb64),
      unb64(kv("query")),
      kv.get("appid").filter(_ != "-"),
      // entries written before star-join dims existed lack the line
      kv.get("dims").filter(_ != "-").map(_.split(";").toSeq.map { x =>
        x.split(":", -1) match {
          case Array(n, v, r, on) => DimSpec(n, unb64(r), v.toInt, unb64(on))
          case _ => throw new IllegalArgumentException(
            s"malformed materialized-view dim entry: $x")
        }
      }).getOrElse(Seq.empty),
      // entries written before fold-through views existed lack the lines
      kv.get("preitems").filter(_ != "-")
        .map(_.split(";").toSeq.map(unb64)).getOrElse(Seq.empty),
      kv.get("prewhere").filter(_ != "-").map(unb64),
      kv.get("viewtext").filter(_ != "-").map(unb64),
      // entries written before star-join views existed lack the lines
      kv.get("postitems").filter(_ != "-")
        .map(_.split(";").toSeq.map(unb64)).getOrElse(Seq.empty),
      kv.get("postwhere").filter(_ != "-").map(unb64),
      kv.get("factrel").filter(_ != "-"),
      kv.get("mvpin").filter(_ != "-").map(unb64))
  }

  /** The stored original statement text — `graft_catalog()`'s target
    * column for MV rows (SHOW CREATE for free, like plain views). */
  def queryTextOf(serialized: String): String =
    scala.util.Try(parseDef(serialized).queryText)
      .getOrElse("(unparseable materialized-view entry)")

  /** Rename support: re-serialize `raw` with the epoch app id PINNED —
    * to the stored id, or (for entries that predate the field) to the
    * PRE-rename name's derivation — so the renamed MV keeps finding the
    * refresh bookkeeping its state table already carries. The stored
    * statement text is rewritten to name the NEW view, so `SHOW CREATE
    * TABLE` after a rename emits a statement that actually recreates
    * the binding being shown (the old text would recreate the
    * pre-rename name); the rewrite targets exactly the `MATERIALIZED
    * VIEW <old> AS` position, so a base-table or column that happens to
    * share the view's name is never touched. */
  def pinAppId(raw: String, oldName: String, newName: String): String = {
    val d = parseDef(raw)
    val renamed = ("(?i)(\\bMATERIALIZED\\s+VIEW\\s+)" +
      java.util.regex.Pattern.quote(oldName) + "(\\s+AS\\b)").r
      .replaceFirstIn(d.queryText,
        "$1" + java.util.regex.Matcher.quoteReplacement(newName) + "$2")
    serialize(d.copy(appId = Some(d.appId.getOrElse(appIdOf(oldName))),
      queryText = renamed))
  }

  // ---- shared column builders ----------------------------------------

  /** The state table's synthetic merge key: the engine-standard 60-bit
    * hash ([[graft.functions.Portable.hash60]]) of the group values
    * joined with a control-char separator (NULL as its own sentinel) —
    * lake merge keys are long-normalized, so the composite must reduce
    * to one LONG. A 60-bit collision would silently MERGE two groups,
    * so the initial build and every refresh carry explicit collision
    * checks that refuse loudly instead (see the call sites); at 2^30 groups
    * the birthday bound is still ~1e-4 per build. */
  private def mvKey(groupCols: Seq[String]): Column =
    graft.functions.Portable.hash60(concat_ws("\u0001",
      groupCols.map(g => coalesce(col(g).cast("string"), lit("\u0000"))): _*))

  /** State-table column order: key, groups, then per agg its stored
    * columns: counts and min/max store the alias; sums store the alias
    * plus a hidden non-null counter; avgs store ONLY hidden state (exact
    * sum + non-null count) — the visible value is reconstructed at read. */
  private def sumAlias(a: String) = s"_avg_s_$a"
  private def stateCols(d: MvDef): Seq[String] =
    "_mv_key" +: d.groupCols ++: d.aggs.flatMap {
      case AggItem("sum", a, _) => Seq(a, nnAlias(a))
      case AggItem("avg", a, _) => Seq(sumAlias(a), nnAlias(a))
      case AggItem(_, a, _) => Seq(a)
    }

  /** The upstream MV's READ projection as selectExpr items over its raw
    * STATE table — [[readProjection]] re-expressed as SQL text so a
    * cascading MV can apply it as its PRE stage to the state snapshot
    * AND change feed alike (sums NULL when their non-null counter is
    * zero, avgs reconstructed from exact state, declared order, the
    * synthetic key dropped). Per-row by construction — which is exactly
    * what keeps the downstream's signed fold exact. */
  private def upstreamProjection(u: MvDef): Seq[String] =
    u.items.map {
      case g: GroupItem => g.alias
      case AggItem("sum", a, _) =>
        s"CASE WHEN ${nnAlias(a)} > 0 THEN $a ELSE NULL END AS $a"
      case AggItem("avg", a, _) =>
        s"CASE WHEN ${nnAlias(a)} > 0 THEN " +
          s"CAST(${sumAlias(a)} AS DOUBLE) / ${nnAlias(a)} " +
          s"ELSE NULL END AS $a"
      case AggItem(_, a, _) => a
    }

  // ---- CREATE ---------------------------------------------------------

  /** Validate + build: pins the base's CURRENT version, aggregates that
    * snapshot into a fresh keyed state table (managed under the catalog
    * dir), and binds the name — name claimed FIRST (the atomic create
    * serializes racing CREATEs, same as named tables), unbound again if
    * the build fails. */
  def create(spark: SparkSession, name: String, baseName: String,
             items: Seq[MvItem], whereSql: Option[String],
             queryText: String,
             havingSql: Option[String] = None,
             dimsIn: Seq[(String, String)] = Seq.empty): (String, String) = {
    def resolveLake(n: String, role: String): String =
      LakeCatalog.lookup(spark, n).getOrElse {
        val kind = LakeCatalog.kindOf(spark, n)
        throw new IllegalArgumentException(
          if (kind == "unbound")
            s"CREATE MATERIALIZED VIEW $name: $role '$n' is not a " +
              "lake table in the graft catalog — CREATE TABLE it first " +
              "(the incremental refresh folds a lake change feed; plain " +
              "views and outside tables have none)"
          else
            s"CREATE MATERIALIZED VIEW $name: $role '$n' is a $kind " +
              "— it must be a lake TABLE (only tables have the " +
              "change feed / pinnable snapshots the refresh uses)")
      }
    // FROM <view>: a PER-ROW view FOLDS THROUGH, with the body PINNED so
    // a later redefinition refuses instead of silently diverging. Two
    // composable shapes: a single-table projection/filter view becomes
    // the PRE stage (applies to the fact snapshot and feed alike), and a
    // STAR-JOIN view (`FROM fact JOIN dim ON … [WHERE …]`) compiles onto
    // the dim machinery itself — its joins become this MV's dims, its
    // WHERE/projection the POST stage after them. Both are per-row
    // linear, so the signed fold stays exact. Anything richer refuses
    // with the reason: grouping/DISTINCT/window/outer joins change row
    // multiplicity, and a view over a view hides the change feed another
    // level down.
    def resolveViewFact(vFrom: String): String =
      LakeCatalog.lookup(spark, vFrom).getOrElse(
        throw new IllegalArgumentException(
          s"CREATE MATERIALIZED VIEW $name: view '$baseName' reads " +
            s"'$vFrom', which is not a lake TABLE in the graft " +
            "catalog (kind: " +
            s"${LakeCatalog.kindOf(spark, vFrom)}) — the fold needs " +
            "the table's change feed one level down, so views over " +
            "views do not compose here; flatten onto the table"))
    val viewBody = LakeCatalog.lookupView(spark, baseName)
    // FROM <mv>: a CASCADING materialized view — the upstream's STATE
    // table is itself a lake table with a change feed, and its read
    // projection is per-row, so the downstream folds the upstream's
    // SERVED relation exactly: base = the upstream's state root, the
    // generated read projection is the PRE stage, and the upstream's
    // HAVING joins this MV's WHERE as a conjunct (it filters upstream
    // groups before this aggregation, exactly as a read would). The
    // upstream's NORMALIZED definition is PINNED (rename-proof,
    // content/state-root-sensitive): a redefined, rebuilt (FULL), or
    // dropped upstream refuses the fold; REFRESH … FULL re-pins.
    // Staleness composes: this MV folds what the upstream has FOLDED —
    // refresh upstream first for end-to-end freshness.
    val upstreamRaw = LakeCatalog.lookupMv(spark, baseName)
    val (baseRoot, preItems, preWhere, postItems, postWhere, factRel,
         viewDims, mvPin) = upstreamRaw match {
      case Some(raw) =>
        val u = parseDef(raw)
        // the upstream's HAVING rides postWhere: it filters upstream
        // groups (rows of the projected pre-stage) before this MV's own
        // WHERE/aggregation, exactly as a read of the upstream would —
        // and REFRESH … FULL re-derives it from the CURRENT upstream
        // instead of baking it into this MV's stored WHERE
        (u.stateRoot, upstreamProjection(u), Option.empty[String],
          Seq.empty[String], u.havingSql, Option.empty[String],
          Seq.empty[(String, String)], Some(normalizedMv(raw)))
      case None => viewBody match {
      case Some(body) =>
        import org.apache.spark.sql.graft.GraftSqlParser
        GraftSqlParser.parseSimpleViewBody(body) match {
          case Some((vItems, vFrom, vWhere)) =>
            (resolveViewFact(vFrom),
              if (vItems == Seq("*")) Seq.empty[String] else vItems,
              vWhere, Seq.empty[String], Option.empty[String],
              Option.empty[String], Seq.empty[(String, String)],
              Option.empty[String])
          case None => GraftSqlParser.parseJoinViewBody(body) match {
            case Some((vItems, vFrom, vJoins, vWhere)) =>
              require(dimsIn.isEmpty,
                s"CREATE MATERIALIZED VIEW $name: view '$baseName' " +
                  "already provides a star join — JOIN clauses on the " +
                  "MATERIALIZED VIEW itself cannot compose with it; put " +
                  "every join inside the view, or materialize over the " +
                  "tables directly")
              (resolveViewFact(vFrom), Seq.empty[String],
                Option.empty[String],
                if (vItems == Seq("*")) Seq.empty[String] else vItems,
                vWhere, Some(vFrom), vJoins,
                Option.empty[String])
            case None => throw new IllegalArgumentException(
              s"CREATE MATERIALIZED VIEW $name: base '$baseName' is a " +
                "view whose body is neither a single-table " +
                "SELECT … FROM <table> [WHERE …] nor a star join " +
                "SELECT … FROM <fact> JOIN <dim> ON … [WHERE …] — an " +
                "incremental fold composes only through per-row views " +
                "(no DISTINCT, grouping, ordering, limits, set ops, or " +
                "outer joins); materialize over the view's base tables " +
                "instead")
          }
        }
      case None => (resolveLake(baseName, "base"), Seq.empty[String],
        Option.empty[String], Seq.empty[String], Option.empty[String],
        Option.empty[String], Seq.empty[(String, String)],
        Option.empty[String])
    } }
    // star-join dims — the view's own, or the MV-level JOIN clauses
    // (exclusive by the require above): resolve + PIN each dim's current
    // version; the relation ALIASES (last name part of the fact + each
    // dim) must be pairwise distinct or qualified references would be
    // ambiguous — `ns.orders` and `orders` alias identically, so they
    // refuse too
    val dimsAll = viewDims ++ dimsIn
    val relNames = factRel.getOrElse(baseName) +: dimsAll.map(_._1)
    require(relNames.map(relAlias).distinct.size == relNames.size,
      s"CREATE MATERIALIZED VIEW $name: the FROM/JOIN tables must have " +
        "pairwise-distinct aliases — qualified column references " +
        "resolve by the LAST part of each table name")
    val dims = dimsAll.map { case (dn, on) =>
      val r = resolveLake(dn, "JOIN dimension")
      DimSpec(dn, r, new LakeTable(spark, r).latestVersion, on)
    }
    val groupItems = items.collect { case g: GroupItem => g }
    val groups = groupItems.map(_.alias)
    val aggs = items.collect { case a: AggItem => a }
    require(groups.nonEmpty,
      s"CREATE MATERIALIZED VIEW $name needs at least one GROUP BY key")
    require(aggs.exists(_.kind == "count_star"),
      s"CREATE MATERIALIZED VIEW $name needs count(*) AS <alias> in its " +
        "select list — it is the group-liveness witness: the refresh " +
        "deletes a group's row when its count folds to zero, and " +
        "without the count the fold cannot know")
    // alias uniqueness is CASE-INSENSITIVE, matching Spark resolution
    // and the lowercase side-table root derivation (auxRoot): `… AS A`
    // and `… AS a` would resolve ambiguously and derive the same
    // count(DISTINCT) side root, so they refuse here
    val aliases = aggs.map(_.alias.toLowerCase)
    require(aliases.distinct.size == aliases.size,
      s"CREATE MATERIALIZED VIEW $name: duplicate aggregate aliases " +
        "(aliases are case-insensitive, like Spark resolution)")
    def reserved(n: String) = n == "_mv_key" ||
      n.startsWith("_nn_") || n.startsWith("_avg_s_") ||
      n.startsWith("_rs_") || n == "_mm_rescan"
    require(aliases.forall(a => !reserved(a)),
      s"CREATE MATERIALIZED VIEW $name: aliases must not use the " +
        "reserved _mv_key/_nn_/_avg_s_/_rs_ names")
    require(groups.forall(g => !reserved(g)),
      s"CREATE MATERIALIZED VIEW $name: a GROUP BY key uses a " +
        "reserved state-table name (_mv_key/_nn_/_avg_s_/_rs_) — alias " +
        "it differently")
    require(groups.map(_.toLowerCase).intersect(aliases).isEmpty,
      s"CREATE MATERIALIZED VIEW $name: an alias collides with a GROUP " +
        "BY key (names are case-insensitive, like Spark resolution)")
    require(groups.map(_.toLowerCase).distinct.size == groups.size,
      s"CREATE MATERIALIZED VIEW $name: duplicate GROUP BY key aliases")
    aggs.find(a => !Set("count_star", "count", "sum", "avg", "min",
        "max", "count_distinct")(a.kind))
      .foreach(a => throw new IllegalArgumentException(
        s"CREATE MATERIALIZED VIEW $name: unsupported aggregate " +
          s"'${a.kind}' (alias ${a.alias}) — self-maintainable " +
          "aggregates are count(*), count(col), count(DISTINCT expr), " +
          "sum(expr), avg(expr), min(expr), max(expr)"))
    val bt = new LakeTable(spark, baseRoot)
    val initV = bt.latestVersion
    val base = bt.snapshot(initV) // the PINNED snapshot the state reflects
    val stateRoot = LakeCatalog.managedRoot(spark, name + "_state")
    val d = MvDef(baseRoot, baseName, initV, stateRoot, items, whereSql,
      havingSql, queryText, Some(appIdOf(name)), dims, preItems, preWhere,
      viewBody, postItems, postWhere, factRel, mvPin)
    // an EXPRESSION key's alias must not shadow a base (or joined-dim,
    // or star-view-output) column: the fold computes the expression over
    // the feed under that alias, and a same-named column would make the
    // stored key ambiguous
    val joined0 = applyPost(joinDims(spark, applyPre(base, d), d,
      _.version), d)
    val baseColsLc = joined0.columns.map(_.toLowerCase).toSet
    groupItems.filterNot(_.isBare).foreach(g =>
      require(!baseColsLc.contains(g.alias.toLowerCase),
        s"CREATE MATERIALIZED VIEW $name: expression GROUP BY alias " +
          s"'${g.alias}' shadows a base table column — pick an alias " +
          "the base does not use"))
    // fail-fast validation: join conditions, group keys, predicate, and
    // aggregate args must analyze against the (joined) base, and must be
    // deterministic (a non-deterministic input folds differently at
    // build and refresh)
    val probe = whereSql.map(w => joined0.filter(expr(w))).getOrElse(joined0)
      .select(groupItems.map(g => expr(g.exprText).as(g.alias)) ++
        aggs.filter(_.kind != "count_star").map(a => expr(a.arg)): _*)
    probe.queryExecution.assertAnalyzed()
    // the analyzed probe carries the Filter's condition too, so this
    // covers the WHERE predicate as well as the aggregate arguments
    require(probe.queryExecution.analyzed.collect {
        case p => p.expressions
      }.flatten.forall(_.deterministic),
      s"CREATE MATERIALIZED VIEW $name: expressions must be deterministic")
    // fold-ability: the relation under the MV's aggregate must be LINEAR
    // per input row — a pre-aggregation or window (smuggled through a
    // view item or an aggregate argument) folds wrongly, and a SUBQUERY
    // predicate would re-evaluate against a DIFFERENT snapshot at every
    // refresh, silently diverging from the build
    probe.queryExecution.analyzed.foreach {
      case _: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        throw new IllegalArgumentException(
          s"CREATE MATERIALIZED VIEW $name: the relation under the " +
            "aggregates PRE-AGGREGATES (an aggregate inside a view item " +
            "or aggregate argument) — a signed fold is exact only over " +
            "per-row relations; move the aggregation into the MV's own " +
            "select list")
      case _: org.apache.spark.sql.catalyst.plans.logical.Window =>
        throw new IllegalArgumentException(
          s"CREATE MATERIALIZED VIEW $name: the relation under the " +
            "aggregates carries a WINDOW function — window values depend " +
            "on other rows, so a per-row signed fold cannot maintain " +
            "them incrementally")
      case p if p.expressions.exists(_.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.SubqueryExpression])) =>
        throw new IllegalArgumentException(
          s"CREATE MATERIALIZED VIEW $name: a WHERE/view predicate " +
            "contains a SUBQUERY — it would re-evaluate against a " +
            "different snapshot at every refresh, so the fold could " +
            "diverge silently; materialize the subquery's result as a " +
            "JOIN dimension instead")
      case _ =>
    }
    LakeCatalog.registerMv(spark, name, serialize(d)) // claim FIRST
    try {
      val filtered = prepared(spark, base, d, _.version)
      val aggCols = aggs.flatMap {
        case AggItem("count_star", a, _) =>
          Seq(count(lit(1)).cast(LongType).as(a))
        case AggItem("count", a, arg) =>
          Seq(count(expr(arg)).cast(LongType).as(a))
        case AggItem("sum", a, arg) => Seq(
          coalesce(sum(expr(arg).cast(Dec)), lit(0).cast(Dec)).as(a),
          count(expr(arg)).cast(LongType).as(nnAlias(a)))
        case AggItem("avg", a, arg) => Seq( // exact sum + count; the mean
          // is DERIVED at read, which is what makes avg self-maintainable
          coalesce(sum(expr(arg).cast(Dec)), lit(0).cast(Dec))
            .as(sumAlias(a)),
          count(expr(arg)).cast(LongType).as(nnAlias(a)))
        case AggItem("min", a, arg) => Seq(min(expr(arg)).as(a))
        case AggItem("max", a, arg) => Seq(max(expr(arg)).as(a))
        case AggItem("count_distinct", a, arg) =>
          Seq(count_distinct(expr(arg)).cast(LongType).as(a))
        case AggItem(k, _, _) => throw new IllegalStateException(
          s"unreachable: unsupported aggregate '$k' survived CREATE " +
            "validation")
      }
      val full = filtered.groupBy(groups.map(col): _*).agg(
          aggCols.head, aggCols.tail: _*)
        .select((mvKey(groups).as("_mv_key") +: stateCols(d).tail.map(col)): _*)
        .localCheckpoint(false) // lazy: the collision check below is the
        // materializing action; the write then reads the cached blocks
      // HAVING validates against the DECLARED read shape (aliases, not
      // state columns) — same fail-at-CREATE contract as the body
      havingSql.foreach { h =>
        val hp = readProjection(full, d).filter(expr(h))
        hp.queryExecution.assertAnalyzed()
        require(hp.queryExecution.analyzed.expressions.forall(_.deterministic),
          s"CREATE MATERIALIZED VIEW $name: HAVING must be deterministic")
      }
      // the main state build and each count(DISTINCT) side build are
      // independent creates to DIFFERENT roots over the same filtered
      // scan — run them overlapped (guide §2.6) instead of serially
      // paying each one's aggregate + write + commit tail in turn
      val buildState: () => Unit = () => {
        // the 60-bit composite key must be injective over THESE groups —
        // a collision would merge two groups' state, so refuse instead
        val (nGroups, nKeys) = {
          val r = full.agg(count(lit(1)), count_distinct(col("_mv_key")))
            .collect()(0)
          (r.getLong(0), r.getLong(1))
        }
        require(nKeys == nGroups,
          s"CREATE MATERIALIZED VIEW $name: the 60-bit group-key hash " +
            s"collided (${nGroups} groups, ${nKeys} distinct keys) — " +
            "reduce the group domain or add a disambiguating group column")
        // the collision check already counted the groups: hand the write
        // the exact row count so a small state build takes the one-task
        // write path
        Lake.create(spark, stateRoot, full, "_mv_key", 4, estRows = nGroups)
        ()
      }
      // count(DISTINCT) side state: one keyed multiplicity table per
      // aggregate, (group, value) → live row count, same collision
      // discipline as the main key
      val buildAuxes = aggs.filter(_.kind == "count_distinct").map { a =>
        () => {
          val aux = cdAuxRows(filtered, d, a).localCheckpoint(false)
          val (nR, nK) = {
            val r = aux.agg(count(lit(1)), count_distinct(col("_cd_key")))
              .collect()(0)
            (r.getLong(0), r.getLong(1))
          }
          require(nK == nR,
            s"CREATE MATERIALIZED VIEW $name: the 60-bit (group, value) " +
              s"hash for count(DISTINCT ${a.arg}) collided ($nR pairs, " +
              s"$nK distinct keys) — narrow the group/value domain")
          Lake.create(spark, d.auxRoot(a.alias), aux, "_cd_key", 4,
            estRows = nR)
          ()
        }
      }
      runOverlapped(buildState +: buildAuxes)
      (stateRoot, s"v$initV")
    } catch {
      case e: Throwable =>
        LakeCatalog.unregister(spark, name)
        throw e
    }
  }

  // ---- REFRESH --------------------------------------------------------

  /** The candidate fold for a min/max aggregate: the stored extremum
    * against the interval's inserted values (Spark's least/greatest skip
    * NULLs, so an all-null side falls out naturally). EXACT for inserts;
    * deletes that tie it force the group-scoped rescan below. */
  private def mmCandidate(a: AggItem): Column =
    if (a.kind == "min") least(col(s"_old_${a.alias}"), col(s"_d_ins_${a.alias}"))
    else greatest(col(s"_old_${a.alias}"), col(s"_d_ins_${a.alias}"))

  /** Fold every advanced relation's change feed into the state table —
    * one [[foldPhase]] per changed dim (bilinear decomposition, see the
    * object doc), then the fact's (lastFolded, current] interval — each
    * as ONE epoch-tagged conditional merge on its own chain: changed
    * groups get their new ABSOLUTE values (update or insert), groups
    * whose count folds to zero are deleted, groups a phase never touched
    * are never read or written. min/max groups whose stored extremum a
    * delete tied are re-aggregated against the phase's fold-target
    * bracket, scoped to exactly those groups. Returns (factFromVersion,
    * factToVersion, groupsTouched across all phases). */
  def refresh(spark: SparkSession, name: String): (Int, Int, Long) = {
    val d = parseDef(LakeCatalog.lookupMv(spark, name).getOrElse(
      throw new IllegalArgumentException(
        s"REFRESH MATERIALIZED VIEW: no materialized view '$name' in " +
          s"the graft catalog (kind: ${LakeCatalog.kindOf(spark, name)})")))
    val bt = new LakeTable(spark, d.baseRoot)
    val st = new LakeTable(spark, d.stateRoot)
    val app = d.appId.getOrElse(appIdOf(name))
    val last = st.latestEpoch(app).map(_.toInt).getOrElse {
      // no epoch tag found: either the MV was genuinely never refreshed
      // (fold from the pinned init version), or refresh history WAS
      // committed but its tagged manifests were vacuumed away (the state
      // root is addressable, so out-of-band OPTIMIZE + VACUUM can do
      // that) — folding from init would then DOUBLE-COUNT every interval
      // already applied. Distinguishable: with no gap in the chain back
      // to v0, the walk provably saw every commit and there truly was no
      // refresh; a gap means the bookkeeping may be gone — refuse.
      val sv = st.latestVersion
      if ((0 to sv).forall(st.hasVersion)) d.initVersion
      else throw new IllegalStateException(
        s"REFRESH MATERIALIZED VIEW $name: the state table's manifest " +
          "chain has vacuumed stretches and no epoch tag survives — the " +
          "refresh bookkeeping is unrecoverable (was the state table " +
          "OPTIMIZEd and VACUUMed out-of-band?); repair with REFRESH " +
          "MATERIALIZED VIEW … FULL")
    }
    val cur = bt.latestVersion
    lastRescanGroups = 0L
    // a fold-through VIEW is PINNED by body text: a redefinition means
    // reads of the view and the fold's stages no longer agree, so refuse
    // (FULL re-reads the current body and re-pins); a dropped/replaced
    // binding has nothing to re-pin and names the real repair. Checked
    // before the fact-fresh early return, like the dim pins.
    d.viewText.foreach { vt =>
      LakeCatalog.lookupView(spark, d.baseName) match {
        case Some(curBody) if curBody == vt => // pin intact
        case Some(_) => throw new IllegalStateException(
          s"REFRESH MATERIALIZED VIEW $name: view '${d.baseName}' was " +
            "REDEFINED after this materialized view pinned its body — " +
            "folding through the old shape would silently diverge from " +
            "reads of the new view; repair with REFRESH MATERIALIZED " +
            s"VIEW $name FULL (re-reads the view's current body and " +
            "re-pins)")
        case None => throw new IllegalStateException(
          s"REFRESH MATERIALIZED VIEW $name: view '${d.baseName}' is no " +
            "longer bound as a view in the graft catalog — re-CREATE " +
            "the view (then REFRESH … FULL), or DROP this materialized " +
            "view")
      }
    }
    // a CASCADING MV pins its upstream's NORMALIZED definition: a
    // redefined upstream (DROP + re-CREATE) or a rebuilt one (REFRESH …
    // FULL swaps the state root this MV's base points at) refuses —
    // folding the old chain would silently diverge from reads of the
    // upstream; FULL re-reads the current upstream and re-pins. A
    // dropped or renamed upstream has nothing to re-pin and says so.
    d.mvPin.foreach { pinTxt =>
      LakeCatalog.lookupMv(spark, d.baseName) match {
        case Some(raw) if mvPinMatches(pinTxt, raw) => // pin intact
        case Some(_) => throw new IllegalStateException(
          s"REFRESH MATERIALIZED VIEW $name: upstream materialized " +
            s"view '${d.baseName}' was REDEFINED or REBUILT (REFRESH " +
            "… FULL swaps its state chain) after this view pinned it — " +
            "folding the old shape would silently diverge from reads " +
            s"of the upstream; repair with REFRESH MATERIALIZED VIEW " +
            s"$name FULL (re-reads the upstream's current definition " +
            "and re-pins)")
        case None => throw new IllegalStateException(
          s"REFRESH MATERIALIZED VIEW $name: upstream '${d.baseName}' " +
            "is no longer bound as a materialized view (dropped, or " +
            "renamed — the name is the link) — re-CREATE or rename it " +
            "back (then REFRESH … FULL), or DROP this materialized view")
      }
    }
    // star-join dims fold INCREMENTALLY through the bilinear
    // decomposition (declaration order; Δ = the signed change feed):
    //   F₁⋈D₁⋈E₁ − F₀⋈D₀⋈E₀ =
    //     F₀⋈ΔD⋈E₀  +  F₀⋈D₁⋈ΔE  +  ΔF⋈D₁⋈E₁
    // — one PHASE per advanced dim (the fact at its OLD fold version,
    // dims left of it at NEW versions, dims right of it at their not-
    // yet-folded versions), then the fact phase against all-NEW dims.
    // Each dim's folded-to version rides the state table's OWN manifest
    // chain under a per-dim app id ([[dimPhaseApp]]) — the same
    // bookkeeping as the fact chain, so there is no catalog-entry
    // rewrite to desync and a crashed refresh retries per phase: chains
    // already at their targets skip, the rest fold their remaining
    // slice. The entry's DimSpec.version is only the INITIAL pin.
    val dimLatest = d.dims.map(x =>
      x.name -> new LakeTable(spark, x.root).latestVersion).toMap
    def dimFolded(x: DimSpec): Int =
      st.latestEpoch(dimPhaseApp(app, x)).map(_.toInt).getOrElse(x.version)
    // a dim RESTORED below its folded-to version cannot fold forward —
    // the applied interval would have to un-happen; only a rebuild can
    d.dims.foreach { x =>
      if (dimLatest(x.name) < dimFolded(x)) throw new IllegalStateException(
        s"REFRESH MATERIALIZED VIEW $name: dimension table '${x.name}' " +
          s"is at version ${dimLatest(x.name)}, BEHIND the view's " +
          s"folded-to v${dimFolded(x)} (was the dim RESTOREd?) — an " +
          "applied interval cannot fold backward; repair with REFRESH " +
          s"MATERIALIZED VIEW $name FULL")
    }
    if (cur <= last && d.dims.forall(x => dimLatest(x.name) <= dimFolded(x)))
      return (last, cur, 0L)
    // base-schema-evolution guard: the base supports metadata-only
    // rename/drop/widen (ALTER TABLE), so the interval being folded may
    // have changed the very columns this view's definition references —
    // validate BEFORE any fold work, refusing with repair guidance
    // instead of dying mid-fold with a raw resolution error (or worse,
    // mis-typing state through the rescan path)
    validateAgainstBase(spark, name, d, bt, cur, st,
      x => dimLatest(x.name))
    var touched = 0L
    // the min/max rescan's DIM-LEAD pushdown closure: when the leading
    // group key is a bare DIM column (the `GROUP BY c_mktsegment` star
    // shape), the rescan's post-join `isin` on it prunes only the DIM
    // scan — the fact still pays a full pass. This closure resolves the
    // affected lead values → the dim's join keys (one delta-sized dim
    // read) → a LITERAL `isin` pre-filter the FACT scan can push to
    // parquet stats + [[LakeManifestPrune]]. A fact-column lead returns
    // None (the post-join filter already pushes onto the fact by
    // itself); any shape the extractor cannot prove returns None too —
    // the rescan stays correct, only unpruned.
    def dimPrefilterFor(at: DimSpec => Int,
                        factV: Int): Seq[Any] => Option[Column] = {
      val leadOpt = d.groupItems.headOption.filter(_.isBare)
      vals => leadOpt.flatMap { lead =>
        val leadLc = lead.alias.toLowerCase
        val factColsLc = applyPre(bt.snapshot(factV), d)
          .columns.map(_.toLowerCase).toSet
        // ownership must be UNAMBIGUOUS: exactly one relation may carry
        // the lead column. Two dims sharing it (reachable through a
        // star view that projects one qualified copy) would let this
        // closure resolve through the WRONG dim and under-include the
        // rescan — so any ambiguity declines the pushdown outright.
        val owningDims = d.dims.filter(x =>
          new LakeTable(spark, x.root).snapshot(at(x))
            .columns.map(_.toLowerCase).contains(leadLc))
        if (factColsLc.contains(leadLc)) None // fact lead: the post-join
          // isin already pushes onto the fact scan by itself (and a dim
          // sharing the name would make ownership ambiguous anyway)
        else if (owningDims.size != 1) None
        else owningDims.headOption.filter(x =>
            // a star-view post projection must pass the lead through
            // under its own name, unqualified or qualified by the
            // OWNING dim — else the view-output column cannot be mapped
            // back onto the dim's stored column
            postPassthrough(d, leadLc, relAlias(x.name)))
          .flatMap { x =>
            val snap = new LakeTable(spark, x.root).snapshot(at(x))
            val dimColsLc = snap.columns.map(_.toLowerCase).toSet
            equiJoinKeyPair(d, x, factColsLc, dimColsLc).flatMap {
              case (factCol, dimCol) =>
                val maxKeys = isinPrefilterMaxKeys(spark)
                val nn = vals.filter(_ != null)
                val lp =
                  if (nn.isEmpty) col(lead.alias).isNull
                  else if (nn.length == vals.length)
                    col(lead.alias).isin(nn: _*)
                  else col(lead.alias).isNull ||
                    col(lead.alias).isin(nn: _*)
                val keys = snap.filter(lp).select(col(dimCol)).na.drop()
                  .distinct().limit(maxKeys.toInt + 1).collect()
                  .map(_.get(0)).toSeq
                if (keys.nonEmpty && keys.length <= maxKeys) {
                  lastPrefilterKeys = keys.length.toLong
                  Some(col(factCol).isin(keys: _*))
                } else None
            }
          }
      }
    }
    // dim phases, declaration order (the decomposition's bracketing:
    // each phase joins the fact at the OLD fold version, already-folded
    // dims at NEW versions, not-yet-folded dims at their current
    // folded-to versions — self-healing across crash retries because
    // "folded-to" is read from the chains, not assumed)
    d.dims.zipWithIndex.foreach { case (x, i) =>
      val dTo = dimLatest(x.name)
      val dFrom = dimFolded(x)
      if (dTo > dFrom) {
        def at(dim: DimSpec): Int = {
          val j = d.dims.indexWhere(_.name.equalsIgnoreCase(dim.name))
          if (j < i) dimLatest(dim.name)
          else if (j == i) dTo
          else dimFolded(dim)
        }
        touched += foldPhase(spark, name, d, st,
          v => preparedDimFeed(spark, d, x, v, dTo, last, at),
          dFrom, dTo,
          pf => prepared(spark, bt.snapshot(last), d, at, pf),
          dimPrefilterFor(at, last),
          dimPhaseApp(app, x), x.version)
      }
    }
    if (cur > last)
      touched += foldPhase(spark, name, d, st,
        v => prepared(spark, bt.changes(v, cur), d, x => dimLatest(x.name)),
        last, cur,
        pf => prepared(spark, bt.snapshot(cur), d,
          x => dimLatest(x.name), pf),
        dimPrefilterFor(x => dimLatest(x.name), cur),
        app, d.initVersion)
    (last, cur, touched)
  }

  /** The per-dim epoch app id: dim fold progress rides the state table's
    * manifest chain under this tag, exactly like the fact chain under
    * the MV's own app id — recoverable, crash-convergent, rename-proof
    * (derived from the PINNED app id, never the current name). */
  private def dimPhaseApp(app: String, x: DimSpec): String =
    s"$app-dim-${x.name.toLowerCase}"

  /** One fold PHASE: apply the signed multiset diff `feedFrom(from)` to
    * the state table (and every count(DISTINCT) side table) as ONE
    * epoch-tagged conditional merge under `epochApp`/`to` — changed
    * groups get their new ABSOLUTE values, groups whose count folds to
    * zero are deleted, untouched groups are never read or written.
    * min/max groups whose stored extremum a delete tied re-aggregate
    * against `foldTarget` (the phase's consistent fold-target relation,
    * built with an optional fact-side `isin` pre-filter — see
    * [[rescanMinMax]]/`dimPrefilter`), scoped to exactly those groups.
    * `feedFrom` rebuilds the feed from
    * an arbitrary lower bound — the count(DISTINCT) side tables' crash-
    * retry slice; `initialEpoch` is the chain value meaning "never
    * folded" (the MV's init version for the fact chain, the dim's entry
    * pin for a dim chain). Returns groups touched. */
  private def foldPhase(spark: SparkSession, name: String, d: MvDef,
                        st: LakeTable, feedFrom: Int => DataFrame,
                        from: Int, to: Int,
                        foldTarget: Option[Column] => DataFrame,
                        dimPrefilter: Seq[Any] => Option[Column],
                        epochApp: String, initialEpoch: Int): Long = {
    // with count(DISTINCT) aggregates the feed has K+1 aggregate
    // consumers (the main delta below + each side table's multiplicity
    // fold) — checkpoint it ONCE so each consumer reads cached blocks
    // instead of re-running the interval scan (at scale: K fewer passes
    // over the changed rows; the cache is disk-backed and holds exactly
    // the phase's working set). A cd-free phase keeps the bare plan —
    // the delta aggregation is its only consumer.
    val feed0 = feedFrom(from)
    val feed =
      if (d.countDistinctAggs.isEmpty) feed0 else feed0.localCheckpoint(false)
    val sgn = when(col("_change_type").isin("insert", "update_postimage"),
      lit(1L)).otherwise(lit(-1L))
    val csAlias = d.countStarAlias
    val deltaCols = d.aggs.flatMap {
      case AggItem("count_star", a, _) => Seq(sum(sgn).as(s"_d_$a"))
      case AggItem("count", a, arg) => Seq(
        coalesce(sum(when(expr(arg).isNotNull, sgn).otherwise(lit(0L))),
          lit(0L)).as(s"_d_$a"))
      case AggItem("sum", a, arg) => Seq(
        coalesce(sum(when(expr(arg).isNotNull,
            expr(arg).cast(Dec) * sgn).otherwise(lit(0).cast(Dec))),
          lit(0).cast(Dec)).as(s"_d_$a"),
        coalesce(sum(when(expr(arg).isNotNull, sgn).otherwise(lit(0L))),
          lit(0L)).as(s"_d_${nnAlias(a)}"))
      case AggItem("avg", a, arg) => Seq(
        coalesce(sum(when(expr(arg).isNotNull,
            expr(arg).cast(Dec) * sgn).otherwise(lit(0).cast(Dec))),
          lit(0).cast(Dec)).as(s"_d_${sumAlias(a)}"),
        coalesce(sum(when(expr(arg).isNotNull, sgn).otherwise(lit(0L))),
          lit(0L)).as(s"_d_${nnAlias(a)}"))
      // min/max carry TWO interval stats: the inserted side's extremum
      // (folds exactly via least/greatest) and the deleted side's (the
      // rescan trigger — a deleted value tying the candidate means the
      // survivor set must be re-aggregated for this group)
      case AggItem("min", a, arg) => Seq(
        min(when(sgn === 1L, expr(arg))).as(s"_d_ins_$a"),
        min(when(sgn === -1L, expr(arg))).as(s"_d_del_$a"))
      case AggItem("max", a, arg) => Seq(
        max(when(sgn === 1L, expr(arg))).as(s"_d_ins_$a"),
        max(when(sgn === -1L, expr(arg))).as(s"_d_del_$a"))
      // count(DISTINCT) carries NO per-group delta column: its new value
      // is an ABSOLUTE recount of the changed groups from the folded
      // side table (see below) — a signed fold cannot know whether a
      // deleted row was a value's last holder
      case AggItem("count_distinct", _, _) => Seq.empty
      case AggItem(k, _, _) => throw new IllegalStateException(
        s"unreachable: unsupported aggregate '$k' survived CREATE")
    }
    val delta = feed.groupBy(d.groupCols.map(col): _*)
      .agg(deltaCols.head, deltaCols.tail: _*)
      .withColumn("_mv_key", mvKey(d.groupCols))
      .localCheckpoint(false) // three consumers: semi-probe, join, merge
    // source — LAZY, so the gate's count below is the one materializing
    // execution and every later consumer reads the cached blocks
    val small = delta.count() <= mvBroadcastMaxRows(spark)
    // SIDE-STATE folds launch NOW, overlapped with the main fold's
    // forensics + rescan below (guide §2.6): each count(DISTINCT)
    // aggregate's multiplicity fold is an independent commit to its OWN
    // aux root, reading the feed's just-cached blocks — the only ordering
    // the crash discipline needs is side commits BEFORE the main state
    // merge, which the join below (before any override read) preserves.
    // Joined in a finally so a forensics refusal can never leave a side
    // fold racing the caller's next statement.
    val cdPool =
      if (d.countDistinctAggs.isEmpty) None
      else Some(java.util.concurrent.Executors.newFixedThreadPool(
        math.min(d.countDistinctAggs.size, 4)))
    val cdFutures = d.countDistinctAggs.map { a =>
      a.alias -> cdPool.get.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = foldCdAux(spark, d, a, feed, feedFrom, sgn,
          epochApp, from, to, initialEpoch)
      })
    }
    def joinCdFolds(): Unit = cdFutures
      .map(f => scala.util.Try(f._2.get()))
      .foreach {
        case scala.util.Failure(e: java.util.concurrent.ExecutionException) =>
          throw e.getCause
        case scala.util.Failure(e) => throw e
        case _ =>
      }
    try {
    // O(changed groups): the state scans ONCE through a (size-gated)
    // broadcast semi-join on the delta's keys; after that every relation
    // is delta-sized
    val valueCols = stateCols(d).drop(1 + d.groupCols.size)
    val oldSlice = st.read()
      .join(hintIfSmall(delta.select("_mv_key"), small), Seq("_mv_key"),
        "left_semi")
      .select(col("_mv_key") +: (
        d.groupCols.map(g => col(g).as(s"_oldg_$g")) ++
          valueCols.map(c => col(c).as(s"_old_$c"))): _*)
    val stateSchema = st.read().schema
    def typed(c: String) = stateSchema(c).dataType
    val mmByAlias = d.minMaxAggs.map(a => a.alias -> a).toMap
    val cdAliases = d.countDistinctAggs.map(_.alias).toSet
    val newVals = valueCols.map { c =>
      mmByAlias.get(c) match {
        case Some(a) => mmCandidate(a).cast(typed(c)).as(c)
        case None if cdAliases(c) => // placeholder: the absolute recount
          // from the folded side table overrides every src row below
          coalesce(col(s"_old_$c"), lit(0L)).cast(typed(c)).as(c)
        case None =>
          (coalesce(col(s"_old_$c"), lit(0).cast(typed(c))) + col(s"_d_$c"))
            .cast(typed(c)).as(c)
      }
    }
    // oldSlice is at most delta-sized (a semi-join of state on the
    // delta's keys), so the delta's own gate covers it
    val joined = delta.join(hintIfSmall(oldSlice, small), Seq("_mv_key"),
        "left")
      .withColumn("_had_state", col(s"_old_$csAlias").isNotNull)
      .localCheckpoint(false) // lazy: the forensics agg just below is the
      // materializing action; the merge source then reads cached blocks
    // forensics in ONE job over the checkpointed join (refreshes run
    // dozens of small actions per lifecycle — merging these scans
    // cuts the check dispatch cost per phase):
    // (a) a hash-key hit whose stored GROUP VALUES differ from the
    // delta's is a 60-bit collision (or corrupted state) — merging
    // would mix two groups; (b) a group folding below zero rows means
    // the state and the feed drifted (impossible under correct
    // bookkeeping) — writing the negative row would corrupt silently.
    // Both refuse loudly; delta-sized check. (c) the TOUCHED-GROUPS
    // count rides the same pass: it equals the merge source's row count
    // by construction (the rescan and count-distinct overrides below are
    // row-preserving), so the fold never pays a separate count job.
    // (d) INTRA-DELTA key uniqueness rides it too (two NEW groups of one
    // interval hash-colliding is the case the state comparison in (a)
    // cannot see) — proving it here is what lets the state merge skip
    // its own source-discipline aggregate (`sourceRowsHint`).
    val checksRow = joined.agg(
      count(when(col("_had_state") &&
        !d.groupCols.map(g => col(g) <=> col(s"_oldg_$g")).reduce(_ && _),
        lit(1))).as("_collisions"),
      count(when((coalesce(col(s"_old_$csAlias"), lit(0L)) +
        col(s"_d_$csAlias")) < 0L, lit(1))).as("_negative"),
      count(when((coalesce(col(s"_old_$csAlias"), lit(0L)) +
        col(s"_d_$csAlias")) > 0L || col("_had_state"), lit(1)))
        .as("_touched"),
      count(lit(1)).as("_rows"),
      count_distinct(col("_mv_key")).as("_keys")).collect()(0)
    val (collisions, negative) = (checksRow.getLong(0), checksRow.getLong(1))
    require(collisions == 0L && checksRow.getLong(4) == checksRow.getLong(3),
      s"REFRESH MATERIALIZED VIEW $name: the 60-bit group-key hash " +
        s"collided on ${math.max(collisions,
          checksRow.getLong(3) - checksRow.getLong(4))} group(s) — " +
        "recreate the MV with a disambiguating group column")
    require(negative == 0L,
      s"REFRESH MATERIALIZED VIEW $name: $negative group(s) folded to a " +
        "negative row count — state/feed drift (was the state table " +
        "written outside REFRESH?); repair with REFRESH MATERIALIZED " +
        "VIEW … FULL")
    // does any min/max need a rescan? a group does iff it stays LIVE and
    // some delete's extremum ties-or-beats the folded candidate — the
    // one shape the signed fold cannot answer (was the deleted value the
    // last holder of the extremum, or a duplicate?)
    val rescanCond: Column = d.minMaxAggs.map { a =>
      val del = col(s"_d_del_${a.alias}")
      val cand = mmCandidate(a)
      if (a.kind == "min") del.isNotNull && (cand.isNull || del <= cand)
      else del.isNotNull && (cand.isNull || del >= cand)
    }.reduceOption(_ || _).getOrElse(lit(false))
    val src0 = joined
      .select(Seq(col("_mv_key")) ++ d.groupCols.map(col) ++ newVals ++
        Seq(col("_had_state"), rescanCond.as("_mm_rescan")): _*)
      // a group that appeared and net-vanished inside one interval, with
      // no existing row, is a pure no-op — inserting its zero row would
      // materialize a dead group
      .filter(col(csAlias) > 0L || col("_had_state"))
      .drop("_had_state")
    val src =
      if (d.minMaxAggs.isEmpty) src0.select(stateCols(d).map(col): _*)
      else rescanMinMax(spark, d, foldTarget, dimPrefilter, src0, typed,
        mvBroadcastMaxRows(spark))
    val srcCd =
      if (d.countDistinctAggs.isEmpty) src
      else {
        // SIDE-STATE folds committed first (launched above, joined here —
        // each aux table's own epoch chain gates crash retries) — then
        // ABSOLUTE per-group recounts scoped to exactly the changed
        // groups override the placeholders
        joinCdFolds()
        val overrides = d.countDistinctAggs.map { a =>
          val aux = new LakeTable(spark, d.auxRoot(a.alias))
          a.alias -> aux.read()
            .join(hintIfSmall(delta.select("_mv_key"), small),
              Seq("_mv_key"), "left_semi")
            .groupBy("_mv_key")
            .agg(count(lit(1)).cast(LongType).as(s"_rs_cd_${a.alias}"))
        }
        // each recount has at most one row per changed group, so the
        // delta's gate covers these too
        overrides.foldLeft(src) { case (acc, (alias, rc)) =>
          acc.join(hintIfSmall(rc, small), Seq("_mv_key"), "left")
            .withColumn(alias,
              coalesce(col(s"_rs_cd_$alias"), lit(0L)).cast(typed(alias)))
            .drop(s"_rs_cd_$alias")
        }.select(stateCols(d).map(col): _*)
      }
    // touched comes from the forensics agg above (same value as a count
    // of this relation — the rescan/recount stages are row-preserving);
    // the merge's own internal materialization is the only remaining
    // action over the source
    val srcM = srcCd
    val touched = checksRow.getLong(2)
    if (failBeforeMainMerge) throw new RuntimeException(
      "injected crash between side-table and main-state commits")
    st.mergeIntoEpoch(srcM, to.toLong, epochApp,
      whenMatchedDeleteIf = Some(col(s"source.$csAlias") === 0L),
      whenMatchedUpdateIf = Some(lit(true)),
      whenNotMatchedInsert = true,
      // key discipline proven in the forensics agg above (one row per
      // non-null _mv_key), so the merge skips its source-check job
      sourceRowsHint = touched)
    touched
    } finally {
      // join-only (no rethrow): the success path already surfaced side
      // failures via joinCdFolds() above; here we only guarantee no side
      // fold outlives the phase when the MAIN path threw first — its
      // exception must stay the one the caller sees
      cdFutures.foreach(f => scala.util.Try(f._2.get()))
      cdPool.foreach(_.shutdown())
    }
  }

  /** Base-schema-evolution guard, run at the top of every incremental
    * refresh: (1) the view's group keys, WHERE predicate, and aggregate
    * arguments must still ANALYZE against the base's current schema — a
    * referenced column renamed or dropped by ALTER TABLE refuses loudly
    * (neither the fold nor REFRESH … FULL can repair a definition that
    * references a column that no longer exists: DROP and re-CREATE
    * against the new schema); (2) every group key's and min/max
    * aggregate's CURRENT result type must still match the type the state
    * table stores — a widened base column (metadata-only type widening)
    * would otherwise feed wider values through a narrowing cast into the
    * CREATE-time state type, so it refuses naming REFRESH … FULL, which
    * rebuilds the state in the new type (the definition still analyzes,
    * so FULL genuinely repairs this one). sum/avg fold in DECIMAL(28,10)
    * and counts in BIGINT regardless of the argument's width, so only
    * keys and extrema carry the type check. A rename-and-replace swap
    * (old name dropped, a DIFFERENT column renamed onto it) analyzes
    * clean and is indistinguishable by name — that is a semantic change
    * the owner made deliberately, and the fold follows the name, as
    * documented. */
  private def validateAgainstBase(spark: SparkSession, name: String,
                                  d: MvDef, bt: LakeTable, cur: Int,
                                  st: LakeTable,
                                  at: DimSpec => Int): Unit = {
    val base = applyPost(
      joinDims(spark, applyPre(bt.snapshot(cur), d), d, at), d)
    val probe =
      try {
        val p = d.whereSql.map(w => base.filter(expr(w))).getOrElse(base)
          .select(d.groupItems.map(g => expr(g.exprText).as(g.alias)) ++
            d.aggs.filter(_.kind != "count_star")
              .map(a => expr(a.arg).as(s"_t_${a.alias}")): _*)
        p.queryExecution.assertAnalyzed()
        p
      } catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalStateException(
            s"REFRESH MATERIALIZED VIEW $name: the view's definition no " +
              s"longer analyzes against base '${d.baseName}' (was a " +
              "column the view's GROUP BY / WHERE / aggregates reference " +
              "renamed or dropped by ALTER TABLE?) — an incremental fold " +
              "cannot proceed, and REFRESH … FULL cannot repair a " +
              "definition referencing a missing column: DROP the view " +
              "and re-CREATE it against the new schema. Analyzer said: " +
              e.getMessage, e)
      }
    val stSchema = st.read().schema
    def refuseWiden(what: String, alias: String,
                    now: org.apache.spark.sql.types.DataType,
                    stored: org.apache.spark.sql.types.DataType): Nothing =
      throw new IllegalStateException(
        s"REFRESH MATERIALIZED VIEW $name: $what '$alias' now types as " +
          s"${now.sql} against base '${d.baseName}' but the state table " +
          s"stores ${stored.sql} — the base column's type changed " +
          "(ALTER TABLE widening) after the view was built; repair with " +
          s"REFRESH MATERIALIZED VIEW $name FULL, which rebuilds the " +
          "state in the new type")
    d.groupItems.foreach { g =>
      val now = probe.schema(g.alias).dataType
      val stored = stSchema(g.alias).dataType
      if (now != stored) refuseWiden("GROUP BY key", g.alias, now, stored)
    }
    d.minMaxAggs.foreach { a =>
      val now = probe.schema(s"_t_${a.alias}").dataType
      val stored = stSchema(a.alias).dataType
      if (now != stored)
        refuseWiden(s"${a.kind}() aggregate", a.alias, now, stored)
    }
  }

  /** The delete-tied-the-extremum path: re-aggregate min/max for EXACTLY
    * the flagged live groups against the base's fold-target snapshot.
    * Scoping is a broadcast semi-join on the affected GROUP VALUES
    * (exact — no hash-collision exposure), fronted by an `isin`
    * pre-filter on the leading group key when it is a bare column and
    * the affected set fits the isin budget: a literal predicate reaches
    * the parquet row-group stats and the manifest prune rule, so a base
    * clustered or partitioned on that key prunes to the affected files.
    * A FACT-column lead pushes directly; a DIM-column lead (the star
    * `GROUP BY c_mktsegment` shape) additionally resolves through
    * `dimPrefilter` — affected lead values → dim join keys → an `isin`
    * on the FACT's join key — so the fact scan prunes too, not just the
    * dim's. Compute after the scan is O(affected groups' rows), never
    * O(base) aggregate work; the common refresh (no extremum deleted)
    * never enters here at all. */
  private def rescanMinMax(spark: SparkSession, d: MvDef,
                           foldTarget: Option[Column] => DataFrame,
                           dimPrefilter: Seq[Any] => Option[Column],
                           src0: DataFrame,
                           typed: String => org.apache.spark.sql.types.DataType,
                           broadcastMaxRows: Long): DataFrame = {
    val csAlias = d.countStarAlias
    // both checkpoints LAZY: the one count below materializes aff AND s0
    // in a single execution (aff's job computes through s0's marked rdd,
    // so both block sets persist); every later consumer reads the cache
    val s0 = src0.localCheckpoint(false) // aff scope + final merge
    val aff = s0.filter(col("_mm_rescan") && col(csAlias) > 0L)
      .select(d.groupCols.map(col): _*)
      .localCheckpoint(false) // delta-bounded: flagged groups only
    val nAff = aff.count()
    lastRescanGroups = nAff
    if (nAff == 0L)
      return s0.drop("_mm_rescan").select(stateCols(d).map(col): _*)
    // the affected set (and the rescan aggregate, ≤ one row per affected
    // group) ride the same size gate as the fold's delta relations: the
    // count above is the probe, so a backfill-sized rescan degrades to
    // shuffle joins instead of OOMing on a welded hint
    val smallAff = nAff <= broadcastMaxRows
    val lead = d.groupItems.head
    val pre =
      if (lead.isBare && nAff <= isinPrefilterMaxKeys(spark)) {
        // pushable literal pre-filter on the leading bare group key —
        // this is what turns the rescan into a PRUNED scan on a base
        // laid out by that key (isin reaches parquet stats + manifest);
        // a dim-column lead also pushes the resolved fact-key isin into
        // the fold target's fact side (dimPrefilter)
        val vals = aff.select(lead.alias).distinct().collect().map(_.get(0))
        val filtered = foldTarget(dimPrefilter(vals.toSeq))
        val nn = vals.filter(_ != null)
        val p =
          if (nn.isEmpty) col(lead.alias).isNull
          else if (nn.length == vals.length) col(lead.alias).isin(nn.toSeq: _*)
          else col(lead.alias).isNull || col(lead.alias).isin(nn.toSeq: _*)
        filtered.filter(p)
      } else foldTarget(None)
    val affR = aff.select(d.groupCols.map(g => col(g).as(s"_aff_$g")): _*)
    val scoped = pre.join(hintIfSmall(affR, smallAff),
      d.groupCols.map(g => col(g) <=> col(s"_aff_$g")).reduce(_ && _),
      "left_semi")
    recordFactScan(scoped, d.baseRoot)
    val rescanAgg = scoped.groupBy(d.groupCols.map(col): _*)
      .agg(count(lit(1)).as("_rs_present"),
        d.minMaxAggs.map(a =>
          (if (a.kind == "min") min(expr(a.arg)) else max(expr(a.arg)))
            .as(s"_rs_${a.alias}")): _*)
      .withColumn("_mv_key", mvKey(d.groupCols))
      .select(("_mv_key" +: "_rs_present" +:
        d.minMaxAggs.map(a => s"_rs_${a.alias}")).map(col): _*)
    // LAZY checkpoint: the ghost-forensic count below materializes the
    // rescan join — including the scoped BASE SCAN inside rescanAgg — so
    // the final merge source reads cached blocks instead of re-running
    // the rescan (which previously paid the base scan twice per refresh)
    val merged = s0.join(hintIfSmall(rescanAgg, smallAff), Seq("_mv_key"),
      "left").localCheckpoint(false)
    // forensic: a flagged LIVE group with zero base rows means the state
    // and the base have drifted — writing a NULL extremum over a
    // positive count would corrupt silently; refuse instead
    val ghosts = merged.filter(col("_mm_rescan") && col(csAlias) > 0L &&
      col("_rs_present").isNull).count()
    require(ghosts == 0L,
      s"REFRESH MATERIALIZED VIEW: $ghosts group(s) flagged for min/max " +
        "rescan have no rows in the base snapshot but a positive folded " +
        "count — state/base drift; repair with REFRESH MATERIALIZED " +
        "VIEW … FULL")
    val finalCols = stateCols(d).map { c =>
      mvAliasOf(d, c) match {
        case Some(a) =>
          when(col("_mm_rescan") && col(csAlias) > 0L,
              col(s"_rs_${a.alias}").cast(typed(c)))
            .otherwise(col(c)).as(c)
        case None => col(c)
      }
    }
    merged.select(finalCols: _*)
  }

  private def mvAliasOf(d: MvDef, stateCol: String): Option[AggItem] =
    d.minMaxAggs.find(_.alias == stateCol)

  // ---- count(DISTINCT) side state --------------------------------------

  /** The multiplicity rows for one count(DISTINCT) aggregate over an
    * already-filtered, group-projected relation: one row per live
    * (group, value) pair, keyed on the 60-bit composite of group values
    * PLUS the value's string image (NULL arguments excluded — SQL's
    * count(DISTINCT) semantics). Distinctness is tracked on the string
    * image, which is exact for the key-like argument types the aggregate
    * is for (integers, strings, dates). */
  private def cdAuxRows(src: DataFrame, d: MvDef, a: AggItem): DataFrame =
    src.filter(expr(a.arg).isNotNull)
      .withColumn("_cd_val", expr(a.arg).cast("string"))
      .groupBy((d.groupCols :+ "_cd_val").map(col): _*)
      .agg(count(lit(1)).cast(LongType).as("_cd_mult"))
      .select(mvKey(d.groupCols :+ "_cd_val").as("_cd_key"),
        mvKey(d.groupCols).as("_mv_key"), col("_cd_val"), col("_cd_mult"))

  /** Fold the interval's signed multiplicity deltas for ONE
    * count(DISTINCT) aggregate into its side table — the same
    * epoch-tagged conditional-merge discipline as the main state (a
    * value whose multiplicity folds to zero deletes its row, so "rows
    * present per group" IS the distinct count), with its OWN epoch
    * chain: a refresh that crashed between this commit and the main
    * merge retries by SKIPPING the already-applied side fold (epoch ≥
    * fold target), and when base commits LANDED between the crash and
    * the retry (side at e with last < e < cur) by folding only the
    * still-missing `(e, cur]` slice of the change feed — so the retry
    * converges whether or not the base advanced in the meantime. The
    * absolute recounts are then recomputed from the folded rows either
    * way — idempotent by construction. A side epoch BEHIND the main
    * state (e < last) is genuine drift (only out-of-band writes can
    * produce it) and refuses loudly. Collision and negative-multiplicity
    * forensics mirror the main fold's. */
  private def foldCdAux(spark: SparkSession, d: MvDef, a: AggItem,
                        phaseFeed: DataFrame, feedFrom: Int => DataFrame,
                        sgn: Column, app: String, last: Int, cur: Int,
                        initialEpoch: Int): Unit = {
    val aux = new LakeTable(spark, d.auxRoot(a.alias))
    val from = aux.latestEpoch(app).map(_.toInt) match {
      case Some(e) if e >= cur => return // crash retry: already folded
      case Some(e) if e >= last => e // == last: lockstep; > last: crash
        // retry with intervening base commits — fold the missing slice
      case Some(e) => throw new IllegalStateException(
        s"REFRESH MATERIALIZED VIEW: count(DISTINCT ${a.arg}) side " +
          s"table is folded to version $e, BEHIND the view state " +
          s"at $last on chain '$app' — side-state drift (was either " +
          "table written outside REFRESH?); repair with REFRESH " +
          "MATERIALIZED VIEW … FULL")
      case None =>
        if (last != initialEpoch) throw new IllegalStateException(
          s"REFRESH MATERIALIZED VIEW: count(DISTINCT ${a.arg}) side " +
            s"table has no '$app' epoch tag but the view has folded " +
            "past that chain's initial pin — side bookkeeping is " +
            "unrecoverable (vacuumed out-of-band?); repair with REFRESH " +
            "MATERIALIZED VIEW … FULL")
        last
    }
    // the common no-crash case folds the SAME interval as the main
    // phase: reuse its already-constructed feed (whose dim-phase form
    // localCheckpoint-materializes and counts internally — rebuilding it
    // per count(DISTINCT) aggregate paid that K+1 times); only the rare
    // gap-slice crash retry (from != last) rebuilds from its own bound
    val feed = if (from == last) phaseFeed else feedFrom(from)
    val arg = expr(a.arg)
    val deltaV = feed.filter(arg.isNotNull)
      .withColumn("_cd_val", arg.cast("string"))
      .groupBy((d.groupCols :+ "_cd_val").map(col): _*)
      .agg(coalesce(sum(sgn), lit(0L)).as("_d_mult"))
      .select(mvKey(d.groupCols :+ "_cd_val").as("_cd_key"),
        mvKey(d.groupCols).as("_mv_key"), col("_cd_val"), col("_d_mult"))
      .localCheckpoint(false) // semi-probe + join — lazy, the gate count
    // below materializes it in one execution
    // same size gate as the main fold's delta (the side delta can be
    // larger — one row per changed (group, value) pair — so it carries
    // its own probe)
    val smallV = deltaV.count() <= mvBroadcastMaxRows(spark)
    val slice = aux.read()
      .join(hintIfSmall(deltaV.select("_cd_key"), smallV), Seq("_cd_key"),
        "left_semi")
      .select(col("_cd_key"), col("_mv_key").as("_old_mk"),
        col("_cd_val").as("_old_v"), col("_cd_mult").as("_old_m"))
    val joined = deltaV.join(hintIfSmall(slice, smallV), Seq("_cd_key"),
        "left")
      .localCheckpoint(false) // lazy: the checks agg materializes it;
      // the merge source then reads cached blocks
    // same one-job forensics discipline as the main fold's — including
    // the touched-pair count and intra-delta key uniqueness, which let
    // the side merge below skip its own source-check aggregate
    val checksRow = joined.agg(
      count(when(col("_old_m").isNotNull &&
        !(col("_mv_key") <=> col("_old_mk") &&
          col("_cd_val") <=> col("_old_v")), lit(1))).as("_collisions"),
      count(when((coalesce(col("_old_m"), lit(0L)) + col("_d_mult")) < 0L,
        lit(1))).as("_negative"),
      count(when((coalesce(col("_old_m"), lit(0L)) + col("_d_mult")) > 0L ||
        col("_old_m").isNotNull, lit(1))).as("_touched"),
      count(lit(1)).as("_rows"),
      count_distinct(col("_cd_key")).as("_keys")).collect()(0)
    val (collisions, negative) = (checksRow.getLong(0), checksRow.getLong(1))
    require(collisions == 0L && checksRow.getLong(4) == checksRow.getLong(3),
      s"REFRESH MATERIALIZED VIEW: the 60-bit (group, value) hash for " +
        s"count(DISTINCT ${a.arg}) collided on ${math.max(collisions,
          checksRow.getLong(3) - checksRow.getLong(4))} pair(s) — " +
        "recreate the view with a narrower group/value domain")
    require(negative == 0L,
      s"REFRESH MATERIALIZED VIEW: $negative (group, value) pair(s) of " +
        s"count(DISTINCT ${a.arg}) folded to a negative multiplicity — " +
        "state/feed drift; repair with REFRESH MATERIALIZED VIEW … FULL")
    val src = joined.select(col("_cd_key"), col("_mv_key"), col("_cd_val"),
        (coalesce(col("_old_m"), lit(0L)) + col("_d_mult")).as("_cd_mult"),
        col("_old_m").isNotNull.as("_had"))
      .filter(col("_cd_mult") > 0L || col("_had")) // net-zero new pair: no-op
      .drop("_had")
    // no pre-checkpoint: mergeIntoEpoch materializes its source once
    // internally — a checkpoint here would pay the same pass twice
    aux.mergeIntoEpoch(src, cur.toLong, app,
      whenMatchedDeleteIf = Some(col("source._cd_mult") === 0L),
      whenMatchedUpdateIf = Some(lit(true)),
      whenNotMatchedInsert = true,
      // pair discipline proven in the forensics agg above
      sourceRowsHint = checksRow.getLong(2))
  }

  /** `REFRESH MATERIALIZED VIEW <name> FULL` — the REPAIR form: rebuild
    * the view from the base's CURRENT snapshot into FRESH state tables
    * and swap the catalog entry, keeping the name. This is the
    * one-statement recovery for every refusal whose guidance used to be
    * "DROP and re-CREATE" — vacuumed bookkeeping, state/feed drift,
    * out-of-band writes into a state root — and is also a plain
    * re-clustering rebuild on a healthy view. The old state tables stay
    * at their roots (addressable for forensics, like DROP's). The swap
    * is unbind + re-create under the same name: a concurrent reader
    * resolves the old state or the new, never a half-built one; the
    * brief unbound window is the same documented gap as CREATE OR
    * REPLACE VIEW's, and a failure during the rebuild restores the old
    * binding. Returns (oldFoldedTo, newInitVersion, nGroups). */
  def refreshFull(spark: SparkSession, name: String): (Int, Int, Long) = {
    val raw = LakeCatalog.lookupMv(spark, name).getOrElse(
      throw new IllegalArgumentException(
        s"REFRESH MATERIALIZED VIEW FULL: no materialized view '$name' " +
          s"in the graft catalog (kind: ${LakeCatalog.kindOf(spark, name)})"))
    val d = parseDef(raw)
    val oldFolded = scala.util.Try(
      new LakeTable(spark, d.stateRoot)
        .latestEpoch(d.appId.getOrElse(appIdOf(name)))
        .map(_.toInt).getOrElse(d.initVersion)).getOrElse(d.initVersion)
    LakeCatalog.unregister(spark, name)
    val (newStateRoot, vTag) =
      // re-pins dims; a star-join VIEW's dims come back out of its
      // (re-read) body, so only MV-level JOIN clauses pass through here
      try create(spark, name, d.baseName, d.items, d.whereSql, d.queryText,
        d.havingSql,
        if (d.factRel.isDefined) Seq.empty
        else d.dims.map(x => (x.name, x.onSql)))
      catch {
        case e: Throwable =>
          // restore the old binding so a failed repair loses nothing
          // (create unbinds on its own failures, so the name is free)
          try LakeCatalog.registerMv(spark, name, raw)
          catch { case r: Throwable => e.addSuppressed(r) }
          throw e
      }
    val groups = {
      val st = new LakeTable(spark, newStateRoot)
      st.manifest(st.latestVersion).files.map(_.rows).sum
    }
    (oldFolded, vTag.stripPrefix("v").toInt, groups)
  }

  /** `OPTIMIZE MATERIALIZED VIEW <name> [FILES n]` — compact the view's
    * state table AND every count(DISTINCT) side table back to `files`
    * key-clustered files each. Refreshes accrue files over thousands of
    * folds; compaction is a rewrite-only commit on each table's own
    * chain, so the epoch bookkeeping keeps working (tags live in the
    * retained manifest log — it is VACUUM, not OPTIMIZE, that can strand
    * a view, and that refusal now repairs with REFRESH … FULL). Returns
    * one (kind, root, new version) row per compacted table. */
  def optimize(spark: SparkSession, name: String,
               files: Int): Seq[(String, String, Int)] = {
    val d = parseDef(LakeCatalog.lookupMv(spark, name).getOrElse(
      throw new IllegalArgumentException(
        s"OPTIMIZE MATERIALIZED VIEW: no materialized view '$name' in " +
          s"the graft catalog (kind: ${LakeCatalog.kindOf(spark, name)})")))
    val st = new LakeTable(spark, d.stateRoot)
    val sv = st.withRetry(st.compact(files)).version
    ("state", d.stateRoot, sv) +: d.countDistinctAggs.map { a =>
      val aux = new LakeTable(spark, d.auxRoot(a.alias))
      (s"distinct:${a.alias}", d.auxRoot(a.alias),
        aux.withRetry(aux.compact(files)).version)
    }
  }

  /** Operational introspection — the `graft_mv_detail('<name>')` table
    * function: one row with the MV's roots, the base version its state
    * reflects (recovered from the state table's manifest chain, the same
    * read REFRESH does), the base's current version, and the staleness
    * span. `behind_by = 0` means a refresh right now would no-op. */
  def detailDf(spark: SparkSession, name: String): DataFrame = {
    import spark.implicits._
    val d = parseDef(LakeCatalog.lookupMv(spark, name).getOrElse(
      throw new IllegalArgumentException(
        s"graft_mv_detail: no materialized view '$name' in the graft " +
          s"catalog (kind: ${LakeCatalog.kindOf(spark, name)})")))
    val st = new LakeTable(spark, d.stateRoot)
    val last = st.latestEpoch(d.appId.getOrElse(appIdOf(name))).map(_.toInt)
      .getOrElse(d.initVersion)
    val cur = new LakeTable(spark, d.baseRoot).latestVersion
    val groups = st.manifest(st.latestVersion).files.map(_.rows).sum
    // star-join staleness: how many dims carry deltas the state has not
    // folded yet (folded-to = the dim's chain tag, or the entry pin) —
    // the next incremental REFRESH folds these as their own phases
    val dimsStale = d.dims.count { x =>
      val folded = st.latestEpoch(
          dimPhaseApp(d.appId.getOrElse(appIdOf(name)), x))
        .map(_.toInt).getOrElse(x.version)
      new LakeTable(spark, x.root).latestVersion != folded
    }
    // fold-through pin: stale when the pinned view body or upstream MV
    // definition no longer matches (redefined, rebuilt, OR dropped) —
    // the same will-refuse-next-refresh alert as n_dims_stale
    val viewStale = d.viewText.exists(vt =>
      !LakeCatalog.lookupView(spark, d.baseName).contains(vt)) ||
      d.mvPin.exists(pt => !LakeCatalog.lookupMv(spark, d.baseName)
        .exists(raw => mvPinMatches(pt, raw)))
    // declared retention pins on the state root ([[pin]]): each blocks
    // VACUUM below its floor — surfaced so a retention-job owner can see
    // what holds history before a sweep refuses
    val nPins = st.retentionPins.size
    Seq((name.toLowerCase, d.baseName, d.baseRoot, d.stateRoot,
      d.initVersion, last, cur, math.max(0, cur - last), groups,
      d.dims.size, dimsStale, viewStale, nPins))
      .toDF("name", "base_name", "base_root", "state_root", "init_version",
        "folded_to_version", "base_latest_version", "behind_by", "n_groups",
        "n_dims", "n_dims_stale", "view_pin_stale", "n_pins")
  }

  // ---- READ -----------------------------------------------------------

  /** Project a state relation back to the DECLARED select shape (sums
    * NULL when their non-null counter is zero — SQL sum semantics — avgs
    * reconstructed as the EXACT decimal dividend cast to double once
    * then one IEEE division: deterministic and refresh-count-independent
    * because the stored sum is bit-equal to from-scratch however many
    * folds built it, spec-pinned; the synthetic key dropped). Shared by
    * the read path, CREATE's HAVING validation, AND the cascading fold's
    * pre stage — defined ONCE as [[upstreamProjection]]'s SQL items, so
    * what a downstream MV folds and what a reader sees can never drift. */
  private def readProjection(state: DataFrame, d: MvDef): DataFrame =
    state.selectExpr(upstreamProjection(d): _*)

  /** The MV's read relation: the state table projected back to the
    * declared select shape, then the HAVING filter (post-aggregate by
    * construction — it sees the declared aliases, never state columns).
    * Reads serve the LAST REFRESHED state by design; that staleness is
    * the MV contract, and `REFRESH MATERIALIZED VIEW` is the advance. */
  def readDf(spark: SparkSession, d: MvDef): DataFrame = {
    val p = readProjection(new LakeTable(spark, d.stateRoot).read(), d)
    d.havingSql.map(h => p.filter(expr(h))).getOrElse(p)
  }

  /** Resolve base version `baseV` to the STATE version serving it: the
    * newest state commit BEFORE the first fact fold PAST baseV — which
    * includes dim-only refreshes (they advance the state with no fact
    * tag; a reader at a standing base version served each of them in
    * turn, so the pin follows the NEWEST such state, exactly what the
    * live view showed last while the base stood at baseV). No fold past
    * baseV yet means the live tip itself. When VACUUM swept the exact
    * version, the nearest RETAINED one at or below it answers
    * (conservative — older content, never newer); a retention pin
    * declared through [[pin]] prevents that sweep in the first place. */
  private def resolveStateVersion(spark: SparkSession, name: String,
                                  d: MvDef, baseV: Int): Int = {
    if (baseV < d.initVersion) throw new IllegalArgumentException(
      s"SELECT … FROM $name VERSION AS OF $baseV: the view has no " +
        s"state for base version $baseV — it was built at base " +
        s"v${d.initVersion} (an earlier pin may also predate a " +
        "REFRESH … FULL rebuild, whose previous state chain stays " +
        "addressable at its old root for forensics)")
    val st = new LakeTable(spark, d.stateRoot)
    val app = d.appId.getOrElse(appIdOf(name))
    def vacuumedRefusal: Nothing = throw new IllegalStateException(
      s"SELECT … FROM $name VERSION AS OF $baseV: the state history " +
        "serving that base version was vacuumed away — declare the pin " +
        s"first (ALTER MATERIALIZED VIEW $name PIN VERSION AS OF " +
        s"$baseV) so VACUUM refuses instead of sweeping history a " +
        "report still reads")
    val upper = st.firstVersionAboveEpoch(app, baseV.toLong)
      .map(_ - 1).getOrElse(st.latestVersion)
    val serving = (upper to 0 by -1).find(st.hasVersion)
      .getOrElse(vacuumedRefusal)
    // PROVE the serving state reflects fact epochs ≤ baseV before
    // handing it out: VACUUM sweeps a version PREFIX, so a fold tag
    // past baseV could have been swept from below `upper` while newer
    // untagged commits survive — serving those would silently return
    // content NEWER than the pin. The newest retained fact tag at or
    // below `serving` is the witness (tags below the first-above tag
    // are ≤ baseV by construction); no tag at all proves innocence only
    // when the chain is complete to v0 (no fold ever happened).
    val witness = (serving to 0 by -1).iterator.filter(st.hasVersion)
      .map(v => st.epochTagAt(v, app)).collectFirst { case Some(e) => e }
    witness match {
      case Some(e) if e <= baseV => serving
      case Some(_) => vacuumedRefusal // unreachable given firstAbove's
        // minimality over retained tags; kept as a loud guard
      case None if (0 to serving).forall(st.hasVersion) => serving
      case None => vacuumedRefusal // pre-horizon fold history unknown
    }
  }

  /** Declare/drop a RETENTION pin for `VERSION AS OF baseV` reads:
    * resolves the serving state version NOW and records a named floor
    * that VACUUM on the state root refuses to sweep past
    * ([[LakeTable.addRetentionPin]]) — the warning-at-pin-time a
    * scheduled retention job could never otherwise give. Returns the
    * pinned state version. */
  def pin(spark: SparkSession, name: String, baseV: Int): (String, Int) = {
    val d = parseDef(LakeCatalog.lookupMv(spark, name).getOrElse(
      throw new IllegalArgumentException(
        s"ALTER MATERIALIZED VIEW PIN: no materialized view '$name' in " +
          s"the graft catalog (kind: ${LakeCatalog.kindOf(spark, name)})")))
    val sv = resolveStateVersion(spark, name, d, baseV)
    val pn = s"mv-${name.toLowerCase}-base-v$baseV"
    new LakeTable(spark, d.stateRoot).addRetentionPin(pn, sv)
    (pn, sv)
  }

  /** Drop the pin [[pin]] declared for `baseV`; refuses if absent (a
    * typo'd DROP PIN must not silently succeed while the real pin keeps
    * blocking VACUUM). Returns the dropped pin's name. */
  def unpin(spark: SparkSession, name: String, baseV: Int): String = {
    val d = parseDef(LakeCatalog.lookupMv(spark, name).getOrElse(
      throw new IllegalArgumentException(
        s"ALTER MATERIALIZED VIEW DROP PIN: no materialized view " +
          s"'$name' in the graft catalog (kind: " +
          s"${LakeCatalog.kindOf(spark, name)})")))
    val pn = s"mv-${name.toLowerCase}-base-v$baseV"
    if (!new LakeTable(spark, d.stateRoot).dropRetentionPin(pn))
      throw new IllegalArgumentException(
        s"ALTER MATERIALIZED VIEW $name DROP PIN VERSION AS OF $baseV: " +
          s"no retention pin '$pn' on the state root — nothing to drop")
    pn
  }

  /** `SELECT … FROM <mv> VERSION AS OF <baseV>` — the PINNED read: the
    * view's content as LAST SERVED while the base stood at `baseV`, i.e.
    * the state snapshot of the newest refresh before the first fact fold
    * past baseV — dim-only refreshes INCLUDED (a dim phase advances the
    * served content at an unchanged base version, and the pin follows
    * what a reader actually saw). Between refreshes the view serves its
    * last fold — that staleness IS the MV contract. Resolution walks the
    * state table's own epoch tags ([[LakeTable.firstVersionAboveEpoch]]);
    * a baseV at or past the pinned init version with no fact fold past
    * it yet serves the newest state (CREATE build included). Before the
    * init version there is nothing to serve — the view never reflected
    * that base — and a `REFRESH … FULL` swap starts a fresh state chain,
    * so pins older than the rebuild refuse the same way (the old chain
    * stays addressable at its root for forensics). Durability: declare
    * `ALTER MATERIALIZED VIEW … PIN VERSION AS OF <v>` and VACUUM on the
    * state root refuses to sweep the pin away ([[pin]]). HAVING applies
    * over the pinned projection, as at the live read. */
  def readAtDf(spark: SparkSession, name: String, d: MvDef,
               baseV: Int): DataFrame = {
    val st = new LakeTable(spark, d.stateRoot)
    val p = readProjection(
      st.snapshot(resolveStateVersion(spark, name, d, baseV)), d)
    d.havingSql.map(h => p.filter(expr(h))).getOrElse(p)
  }

  /** `SELECT … FROM <mv> TIMESTAMP AS OF '<ts>'` — what the view SERVED
    * at wall-clock `millis`: plain time travel on the state table's own
    * commit chain (the projection shape is today's — the definition is
    * immutable between CREATEs). */
  def readAtTsDf(spark: SparkSession, name: String, d: MvDef,
                 millis: Long): DataFrame = {
    val st = new LakeTable(spark, d.stateRoot)
    val p = readProjection(st.snapshot(st.versionAt(millis)), d)
    d.havingSql.map(h => p.filter(expr(h))).getOrElse(p)
  }
}
