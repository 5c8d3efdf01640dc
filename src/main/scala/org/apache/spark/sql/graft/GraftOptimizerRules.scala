package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

/** Rewrites an [[Aggregate]] carrying TWO OR MORE `count(DISTINCT x)`
  * columns over integral keys into one-pass [[RoaringDistinctCount]]
  * aggregates.
  *
  * Why: Spark plans multiple distinct aggregates via
  * `RewriteDistinctAggregates`, which inserts an `Expand` that replicates
  * EVERY input row once per distinct group before the first shuffle — a
  * 3-distinct stat query scans the fact table once but shuffles it three
  * times over. The roaring aggregate holds each group's key set as a
  * compressed bitmap in the aggregation buffer instead: map-side partials
  * dedupe before the shuffle, the merge is container-wise union, and the
  * plan is a plain two-stage ObjectHashAggregate — no replication. Same
  * exact answer (the buffer is an exact set; nulls are skipped exactly as
  * `count(DISTINCT)` skips them).
  *
  * Guards (rewrite only when ALL hold, else leave the plan alone):
  *   - at least two distinct aggregates (a single one planner-handles
  *     without Expand already);
  *   - every distinct aggregate in the operator is a single-argument,
  *     unfiltered `count` over an integral child (byte/short/int/long —
  *     cast to long is injective, so distinct counts are preserved);
  *     a mixed operator (sum DISTINCT, string keys, FILTER clauses)
  *     is left untouched rather than half-rewritten.
  *
  * This rule runs in the extended operator-optimization batch, BEFORE
  * `RewriteDistinctAggregates` — by the time that rule looks for
  * distinct aggregates there are none left to expand.
  */
object RewriteMultiDistinctToRoaring extends Rule[LogicalPlan] {

  private def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def asLong(e: Expression): Expression =
    if (e.dataType == LongType) e else Cast(e, LongType)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg: Aggregate =>
      val distincts = agg.aggregateExpressions.flatMap(_.collect {
        case ae: AggregateExpression if ae.isDistinct => ae
      })
      val rewritable = distincts.length >= 2 && distincts.forall {
        case AggregateExpression(Count(Seq(c)), _, true, None, _) => integral(c.dataType)
        case _ => false
      }
      if (!rewritable) agg
      else {
        val newAggs = agg.aggregateExpressions.map(_.transform {
          case ae @ AggregateExpression(Count(Seq(c)), _, true, None, _) =>
            ae.copy(
              aggregateFunction = RoaringDistinctCount(asLong(c)),
              isDistinct = false)
        }.asInstanceOf[NamedExpression])
        agg.copy(aggregateExpressions = newAggs)
      }
  }
}

/** MATERIALIZED-VIEW rewrite for the exact distinct rollup: a plain
  * `count(DISTINCT user_id)` over a day-aligned `ts` range of the raw
  * events table is answered from the persisted
  * [[graft.operators.ExactRollup]] cell store instead of rescanning the
  * fact table — the Calcite/BigQuery MV-rewrite contract as an injected
  * optimizer rule, and the final rung of the rollup family's ladder
  * (q12 one-pass aggregate → q13 persisted cells on the gate → q20
  * probe-routed representation → THIS: queries that never mention the
  * rollup at all get it).
  *
  * Registration is two session confs (the registration IS the freshness
  * contract — whoever points the engine at a store asserts it is the
  * complete rollup of the source, the same assertion every MV system
  * extracts from its refresh pipeline):
  *
  *   - `spark.graft.rollup.source` — path of the raw events parquet;
  *   - `spark.graft.rollup.store`  — path of its (day, event_type,
  *     user_set, n_events) ExactRollup cell table;
  *   - `spark.graft.rollup.fingerprint` (optional) — the source
  *     file-set fingerprint ([[RollupStoreMeta.fingerprint]]) recorded
  *     when the store was BUILT. When present, the rule re-fingerprints
  *     the source at rewrite time and declines the rewrite on mismatch,
  *     so a source rewritten after registration can never be silently
  *     answered from stale cells. One driver-side directory listing,
  *     only on plans that already matched the rewritable shape.
  *
  * The rewrite fires ONLY when the whole shape is provably answerable
  * from cells, else the plan is left untouched:
  *
  *   - the aggregate's child is the registered source relation under
  *     nothing but column-pruning projects and ONE range filter whose
  *     conjuncts are exactly `ts >= lo` / `ts < hi` with literal bounds
  *     DIVISIBLE by the day width (a misaligned bound would need rows
  *     the cells have already merged away — exactness is checkable on
  *     the literals, so the rule checks it);
  *   - grouping is empty or exactly `event_type`, and every output
  *     aggregate is one the cells carry a lossless partial for: an
  *     unfiltered `count(DISTINCT user_id)` (blob union), `count(*)`
  *     (Σ per-cell row counts), or the exact milli-unit value sum
  *     `sum(floor(value·1000) :: long)` (Σ per-cell integer partials —
  *     a raw DOUBLE `sum(value)` is declined because float accumulation
  *     order differs between cell- and row-order plans).
  *
  * The replacement scans O(days) blob cells and unions exact roaring
  * sets ([[RoaringBlobUnionCount]] — lossless by definition), so the
  * answer is BIT-identical to the fact-table plan; the driver's
  * q24/q26/q27 gates hash-check exactly that against DuckDB over raw
  * rows. Output attribute ids are preserved through an aliasing Project,
  * so parent operators (sorts, projections) never notice the swap. At
  * 100 TB this is the difference between a dashboard query costing an
  * O(events) rescan and costing O(days) KB-sized reads.
  */
/** Freshness metadata for registered rollup stores: a deterministic
  * fingerprint of a source directory's FILE SET (sorted
  * name:length:mtime triples, md5-hashed). Cheap — one FileSystem
  * listing — and exactly the signal an MV refresh pipeline keys on:
  * any append, delete, or rewrite of a data file changes it, while
  * re-reading unchanged files does not.
  */
object RollupStoreMeta {
  def fingerprint(spark: org.apache.spark.sql.SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val entries = fs.listStatus(p).toSeq
      .filterNot { s =>
        val n = s.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }
      .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(entries.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }
}

object RewriteRangeDistinctToRollup extends Rule[LogicalPlan] with PredicateHelper {

  private val DayNs = 86400000000000L

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val source = conf.getConfString("spark.graft.rollup.source", "")
    val store = conf.getConfString("spark.graft.rollup.store", "")
    if (source.isEmpty || store.isEmpty) plan
    else plan.transform {
      case agg: Aggregate => tryRewrite(agg, source, store).getOrElse(agg)
    }
  }

  /** Peel column-pruning projects and filters off the aggregate child,
    * accumulating filter conjuncts, down to a single parquet relation.
    */
  private def unwrap(plan: LogicalPlan): Option[(Seq[Expression], LogicalRelation)] =
    plan match {
      case f: Filter =>
        unwrap(f.child).map { case (cs, r) =>
          (splitConjunctivePredicates(f.condition) ++ cs, r)
        }
      case p: Project if p.projectList.forall(_.isInstanceOf[AttributeReference]) =>
        unwrap(p.child)
      case r: LogicalRelation => Some((Nil, r))
      case _ => None
    }

  /** What a rewritable output column is asking for. */
  private sealed trait Ask
  private case object GroupCol extends Ask
  private case object DistinctUsers extends Ask // count(DISTINCT user_id) → blob union
  private case object RowCount extends Ask      // count(*)/count(1)      → sum(n_events)
  private case object SumMilli extends Ask      // sum(floor(value·1000)) → sum(sum_value_milli)

  /** The e1 milli-unit sum shape over the raw `value` column —
    * `floor(value * 1000)` cast to long (tolerating the cast's absence:
    * floor on DOUBLE is already LongType and SimplifyCasts may have
    * erased it, and tolerating either literal operand order and INT or
    * DOUBLE literal renderings of 1000). This is the ONLY sum the cells
    * can answer: their stored partial is exactly this integer, so
    * re-aggregation is associative and lossless. A raw `sum(value)`
    * (DOUBLE accumulation) or any other scaling does NOT match and
    * blocks the rewrite.
    */
  private def isMilliSum(e: Expression, value: Attribute): Boolean = e match {
    case c: Cast if c.dataType == LongType => isMilliSum(c.child, value)
    case Floor(Multiply(a, b, _)) =>
      def isValue(x: Expression) = x match {
        case c: Cast => c.child.semanticEquals(value)
        case x => x.semanticEquals(value)
      }
      def is1000(x: Expression): Boolean = x match {
        case Literal(d: Double, DoubleType) => d == 1000.0
        case Literal(i: Int, IntegerType) => i == 1000
        case c: Cast => is1000(c.child)
        case _ => false
      }
      (isValue(a) && is1000(b)) || (isValue(b) && is1000(a))
    case _ => false
  }

  private def classify(ne: NamedExpression, uid: Attribute, et: Attribute,
      value: Option[Attribute], grouped: Boolean): Option[Ask] = ne match {
    case a: Attribute if grouped && a.semanticEquals(et) => Some(GroupCol)
    case Alias(a: Attribute, _) if grouped && a.semanticEquals(et) => Some(GroupCol)
    case Alias(AggregateExpression(Count(Seq(c)), _, true, None, _), _)
        if c.semanticEquals(uid) => Some(DistinctUsers)
    case Alias(AggregateExpression(Count(Seq(l: Literal)), _, false, None, _), _)
        if l.value != null => Some(RowCount)
    case Alias(AggregateExpression(Sum(c, _), _, false, None, _), _)
        if value.exists(v => isMilliSum(c, v)) => Some(SumMilli)
    case _ => None
  }

  private def tryRewrite(
      agg: Aggregate, source: String, store: String): Option[LogicalPlan] = {
    val (conds, rel) = unwrap(agg.child) match {
      case Some(x) => x
      case None => return None
    }
    val pathOk = rel.relation match {
      case h: HadoopFsRelation =>
        val roots = h.location.rootPaths
        roots.length == 1 && roots.head.toUri.getPath == source
      case _ => false
    }
    if (!pathOk) return None
    // Freshness: a registered build-time fingerprint must still match the
    // source's current file set, else the cells are stale — no rewrite.
    val fp = conf.getConfString("spark.graft.rollup.fingerprint", "")
    if (fp.nonEmpty) {
      val spark0 = org.apache.spark.sql.SparkSession.active
      if (RollupStoreMeta.fingerprint(spark0, source) != fp) return None
    }
    val ts = rel.output.find(_.name == "ts").getOrElse(return None)
    val et = rel.output.find(_.name == "event_type").getOrElse(return None)
    val uid = rel.output.find(_.name == "user_id").getOrElse(return None)
    // The nanosecond timestamp the cells were built from arrives in one
    // of two forms, depending on the parquet encoding: a bare LONG `ts`
    // attribute (TIMESTAMP(NANOS) via nanosAsLong), or Tables.events'
    // widening projection `unix_micros(cast(ts)) · 1000` over a
    // timestamp attribute (MICROS/MILLIS sources) — after predicate
    // pushdown the widening sits inside the range conjuncts themselves.
    // Both denote the identical nanosecond value the cell builder used
    // (`ts DIV dayNs` over the SAME expression), so either is rewritable.
    def isWiden(e: Expression): Boolean = e match {
      case UnixMicros(c: Cast) => c.child.semanticEquals(ts)
      case UnixMicros(a) => a.semanticEquals(ts)
      case _ => false
    }
    def isTsNanos(e: Expression): Boolean = e match {
      case a: Attribute => a.semanticEquals(ts) && a.dataType == LongType
      case Multiply(l, Literal(1000L, LongType), _) => isWiden(l)
      case Multiply(Literal(1000L, LongType), r, _) => isWiden(r)
      case _ => false
    }
    // InferFiltersFromConstraints may add IsNotNull(ts); the range bound
    // already implies it, so it is safe to ignore. Any OTHER extra
    // conjunct narrows the row set beyond what the cells merged — no
    // rewrite.
    val effective = conds.filterNot {
      case IsNotNull(t) => t.semanticEquals(ts) || isTsNanos(t)
      case _ => false
    }
    // Exactly the two range conjuncts, both bounds day-aligned literals.
    val bounds = effective match {
      case Seq(a, b) =>
        def lo(e: Expression) = e match {
          case GreaterThanOrEqual(t, Literal(v: Long, LongType)) if isTsNanos(t) => Some(v)
          case _ => None
        }
        def hi(e: Expression) = e match {
          case LessThan(t, Literal(v: Long, LongType)) if isTsNanos(t) => Some(v)
          case _ => None
        }
        (lo(a), hi(b), lo(b), hi(a)) match {
          case (Some(l), Some(h), _, _) => Some((l, h))
          case (_, _, Some(l), Some(h)) => Some((l, h))
          case _ => None
        }
      case _ => None
    }
    val (loNs, hiNs) = bounds.getOrElse(return None)
    if (loNs % DayNs != 0 || hiNs % DayNs != 0 || loNs >= hiNs) return None
    // Grouping: none, or exactly event_type.
    val grouped = agg.groupingExpressions match {
      case Seq() => false
      case Seq(g) if g.semanticEquals(et) => true
      case _ => return None
    }
    // Every output column must be answerable from the cells: the group
    // attribute, count(DISTINCT user_id) (lossless blob union), count(*)
    // (sum of the stored per-cell row counts), or the milli-unit value
    // sum (sum of the stored exact integer partials). Any other
    // aggregate means the cells cannot answer — no rewrite.
    val value = rel.output.find(_.name == "value")
    val asks = agg.aggregateExpressions.map(classify(_, uid, et, value, grouped))
    if (asks.contains(None)) return None
    if (!asks.exists(a => a.contains(DistinctUsers) || a.contains(RowCount) ||
      a.contains(SumMilli))) return None

    // Build the cell-store plan through the DataFrame API (analyzed, then
    // left to the remaining optimizer batches like any other subtree).
    val spark = org.apache.spark.sql.SparkSession.active
    import org.apache.spark.sql.functions.{coalesce => fcoalesce, col => fcol, lit => flit, sum => fsum}
    val cellsAll = GraftInternals.readParquet(spark, store)
    // An older store without the milli-sum partial cannot answer a SUM
    // ask — decline rather than fail analysis below.
    if (asks.exists(_.contains(SumMilli)) &&
      !cellsAll.schema.fieldNames.contains("sum_value_milli")) return None
    val cells = cellsAll
      .filter(fcol("day").between(loNs / DayNs, hiNs / DayNs - 1L))
    // Only the partials the query asked for are re-aggregated (a
    // count-only dashboard line never pays the blob union).
    val asked = asks.flatten.toSet
    val aggs =
      (if (asked(DistinctUsers))
        Seq(RoaringAggregates.roaringBlobUnionCount(fcol("user_set")).as("__mv_n")) else Nil) ++
      (if (asked(RowCount))
        // coalesce keeps the column non-nullable like the count(*) it
        // replaces (never fires: a group exists only if cells do).
        Seq(fcoalesce(fsum(fcol("n_events")), flit(0L)).as("__mv_c")) else Nil) ++
      (if (asked(SumMilli))
        Seq(fsum(fcol("sum_value_milli")).as("__mv_s")) else Nil)
    val out =
      if (grouped) cells.groupBy(fcol("event_type")).agg(aggs.head, aggs.tail: _*)
      else cells.agg(aggs.head, aggs.tail: _*)
    val newPlan = out.queryExecution.analyzed
    val newEt = newPlan.output.find(_.name == "event_type")
    def outCol(n: String) = newPlan.output.find(_.name == n).get
    // Preserve the original output attribute ids so parents still bind.
    val projList = agg.aggregateExpressions.zip(asks).map { case (ne, ask) =>
      val target: Expression = ask.get match {
        case GroupCol => newEt.get
        case DistinctUsers => outCol("__mv_n")
        case RowCount => outCol("__mv_c")
        case SumMilli => outCol("__mv_s")
      }
      Alias(target, ne.name)(exprId = ne.exprId)
    }
    Some(Project(projList, newPlan))
  }
}
