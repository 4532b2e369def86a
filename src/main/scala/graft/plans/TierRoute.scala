package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{BinaryType, DoubleType, LongType, TimestampNTZType, TimestampType}
import graft.functions.codec.BlockAgg

/** Transparent continuous-aggregate routing: a Catalyst optimizer rule that
  * rewrites aggregates phrased against the RAW table onto its pre-computed
  * retention-tier table — the query-side half of a tier store
  * (TimescaleDB-style real-time aggregate routing / materialized-view
  * rewrite), done the Spark-native way as a `Rule[LogicalPlan]`.
  *
  * A registered [[TierRoute.Route]] declares the raw source (by parquet
  * root path), the tier table (bucket width + partial columns), the
  * hierarchy columns, and the measure. The rule then rewrites
  *
  * {{{ raw.filter(tsRange && dims).groupBy(dims, u - u % W).agg(count/sum/min/max/avg(measure)) }}}
  *
  * into the equivalent merge aggregate over the tier — `count → sum(cnt)`,
  * `sum → sum(sum_col)`, `min/max → min/max of the partial`, `avg →
  * sum(sum_col)/sum(cnt)`, and (when the tier carries a Gorilla point-block
  * column) `percentile(m, 0.5/0.95) → ` the EXACT percentile recomputed
  * from the merged decoded blocks (`codec.BlockAgg`'s block mode) —
  * whenever the bucket width is a multiple of the tier width and every
  * time predicate is tier-aligned. At 10^12 raw rows an hourly-by-host
  * dashboard query stops scanning pages and reads ~1/cnt-per-bucket of the
  * data from the 1m tier instead; with several tiers registered the
  * COARSEST eligible one wins, and a route that cannot express every
  * aggregate in the query (e.g. percentiles without a block column) falls
  * through to the next.
  *
  * Matching is strictly structural with a safe fallback — anything the
  * matcher does not recognize (distinct aggregates, agg filters, other
  * functions, unaligned predicates, extra grouping expressions) leaves the
  * plan untouched, so the rule can never change semantics, only the access
  * path. Output attribute `exprId`s are preserved through aliases, so
  * parent operators (sorts, projections, joins above the aggregate) are
  * oblivious to the swap.
  *
  * Recognized shapes (the engine's canonical idioms, documented in
  * COVERAGE.md):
  *   - bucket expr: `u - pmod(u, W)` where `u` is `unix_timestamp(tsCol)`
  *     or `cast(tsCol as long)`;
  *   - time predicates: `u >= L` / `u < L` (long, tier-aligned) or
  *     `tsCol >= / < TIMESTAMP` literals (tier-aligned);
  *   - dimension predicates: any expression over registered group columns;
  *   - measures: a plain column, or `length(text)` /
  *     `utf8_char_count(text)` (optionally cast to double) for page routes.
  *
  * Install on any live session via [[TierRoute.install]]
  * (`spark.experimental.extraOptimizations` — runs after the main batches;
  * the rewrite emits an explicit Project+Filter over the tier relation, so
  * `FileSourceStrategy`'s `PhysicalOperation` still prunes columns and
  * pushes the bucket/dim predicates into the tier's parquet scan), or get
  * it automatically from `GraftSession` / `--conf
  * spark.sql.extensions=graft.GraftExtensions`
  * (`injectOptimizerRule` — runs inside the operator-optimization batch).
  */
object TierRoute {

  /** What a raw-side measure expression may look like. */
  sealed trait MeasureSpec { def matches(e: Expression): Boolean }

  /** Measure = a plain raw column (e.g. `value`). */
  case class AttrMeasure(name: String) extends MeasureSpec {
    def matches(e: Expression): Boolean = e match {
      case a: AttributeReference => a.name == name
      case _                     => false
    }
  }

  /** Measure = text length in characters: `length(text)`,
    * `utf8_char_count(text)`, either optionally cast to double (the tier
    * stores text_len as double — see Rollup.textLen).
    */
  case class CharLenMeasure(textCol: String) extends MeasureSpec {
    def matches(e: Expression): Boolean = e match {
      case c: Cast if c.dataType == DoubleType => matches(c.child)
      case Length(a: AttributeReference)       => a.name == textCol
      case graft.functions.Utf8CharCountExpr(a: AttributeReference) => a.name == textCol
      case _ => false
    }
  }

  /** One raw-table → tier-table routing declaration.
    *
    * @param raw            the raw DataFrame (its parquet root path is the
    *                       match key)
    * @param tierSeconds    tier bucket width; rewrites require the query
    *                       bucket width to be a multiple of it
    * @param tier           builds a FRESH tier DataFrame per rewrite (fresh
    *                       attribute ids — the same plan instance must not
    *                       appear twice in one query)
    * @param measureNonNull set true only when the measure column has no
    *                       nulls in the raw data; gates `avg` and
    *                       `count(measure)` rewrites, whose tier form
    *                       divides/counts by the ALL-rows `cnt` partial
    * @param blockCol       tier column carrying the Gorilla point block;
    *                       enables exact `percentile(m, 0.5/0.95)` routing
    * @param distinctCol    (rawColumn, tierSetColumn): enables exact
    *                       `count(DISTINCT rawColumn)` routing via set
    *                       re-merge over the tier's per-bucket value sets
    */
  case class Route(
      name: String,
      raw: DataFrame,
      tierSeconds: Long,
      tier: () => DataFrame,
      groupCols: Seq[String],
      tsCol: String,
      measure: MeasureSpec,
      measureNonNull: Boolean = false,
      bucketStartCol: String = "bucket_start",
      cntCol: String = "cnt",
      sumCol: String = "sum_value",
      minCol: String = "min_value",
      maxCol: String = "max_value",
      blockCol: Option[String] = None,
      distinctCol: Option[(String, String)] = None) {
    require(tierSeconds >= 1, s"tierSeconds must be >= 1, got $tierSeconds")
    private[plans] val rawPaths: Set[String] = relationPaths(raw.queryExecution.analyzed)
    require(rawPaths.nonEmpty, "raw frame must scan a file-source relation")
  }

  /** Parquet root paths scanned by a plan — exposed for plan-evidence tests. */
  def relationPaths(plan: LogicalPlan): Set[String] =
    plan.collectLeaves().flatMap {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _                    => Nil
      }
      case _ => Nil
    }.toSet

  private val routes = new scala.collection.concurrent.TrieMap[String, Route]

  def register(route: Route): Unit = routes.put(route.name, route)
  def unregister(name: String): Unit = routes.remove(name)
  def clear(): Unit = routes.clear()
  private[plans] def registered: Seq[Route] = routes.values.toSeq

  /** Idempotently attach the rule to a live session (for sessions not
    * built with `GraftExtensions`).
    */
  def install(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraOptimizations.exists(_.isInstanceOf[TierRouteRule]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ TierRouteRule()
  }
}

case class TierRouteRule() extends Rule[LogicalPlan] {
  import TierRoute._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (TierRoute.registered.isEmpty) plan
    else plan.transformUp {
      case agg: Aggregate => tryRewrite(agg).getOrElse(agg)
    }
  }

  /** `unix_timestamp(ts)` / `cast(ts as long)` over the route's ts column —
    * both floor to whole epoch seconds.
    */
  private def isTsAttr(e: Expression, tsCol: String): Boolean = e match {
    case a: AttributeReference =>
      a.name == tsCol && (a.dataType == TimestampType || a.dataType == TimestampNTZType)
    // analyzer-inserted NTZ<->LTZ adjustment around the raw column
    case c: Cast if c.dataType == TimestampType || c.dataType == TimestampNTZType =>
      isTsAttr(c.child, tsCol)
    case _ => false
  }

  private def isEpochSeconds(e: Expression, tsCol: String): Boolean = e match {
    case u: UnixTimestamp                  => isTsAttr(u.timeExp, tsCol)
    case c: Cast if c.dataType == LongType => isTsAttr(c.child, tsCol)
    case _                                 => false
  }

  private def longLit(e: Expression): Option[Long] = e match {
    case Literal(v: Long, LongType) => Some(v)
    case Literal(v: Int, _)         => Some(v.toLong)
    case _                          => None
  }

  /** `u - pmod(u, W)` → Some(W). */
  private def bucketWidth(e: Expression, tsCol: String): Option[Long] = e match {
    case s: Subtract => s.right match {
      case p: Pmod if s.left.semanticEquals(p.left) && isEpochSeconds(s.left, tsCol) =>
        longLit(p.right)
      case _ => None
    }
    case _ => None
  }

  /** Strip Projects / Filters above the scan. Project aliases are INLINED
    * into a substitution map (exprId → defining expression over the
    * relation) — the optimizer's `PullOutGroupingExpressions` moves every
    * non-trivial grouping expression into a `_groupingexpression#N` alias
    * below the Aggregate, so the bucket expr only becomes visible again
    * after substitution. Filter conjuncts are returned already substituted.
    */
  private def decompose(plan: LogicalPlan)
      : Option[(Seq[Expression], Map[ExprId, Expression], LogicalPlan)] = {
    def go(p: LogicalPlan): Option[(List[Either[Expression, Seq[NamedExpression]]], LogicalPlan)] =
      p match {
        case Filter(cond, child) =>
          go(child).map { case (ls, rel) => (scala.util.Left(cond) :: ls, rel) }
        case Project(exprs, child) if exprs.forall {
              case _: AttributeReference => true
              case a: Alias              => a.child.deterministic
              case _                     => false
            } =>
          go(child).map { case (ls, rel) => (scala.util.Right(exprs) :: ls, rel) }
        case lr: LogicalRelation => Some((Nil, lr))
        case _                   => None
      }
    go(plan).map { case (layers, rel) =>
      var subst = Map.empty[ExprId, Expression]
      val conjuncts = Seq.newBuilder[Expression]
      def substitute(e: Expression): Expression = e.transformUp {
        case a: AttributeReference if subst.contains(a.exprId) => subst(a.exprId)
      }
      layers.reverse.foreach {
        case scala.util.Right(exprs) =>
          subst ++= exprs.collect { case a: Alias => a.exprId -> substitute(a.child) }
        case scala.util.Left(cond) =>
          conjuncts ++= splitConjuncts(substitute(cond))
      }
      (conjuncts.result(), subst, rel)
    }
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other     => Seq(other)
  }

  private val dbg = sys.env.contains("GRAFT_ROUTE_DEBUG")
  private def trace(msg: => String): Unit = if (dbg) println(s"[route-debug] $msg")

  /** Classified filter conjunct: tier-aligned time bound or dim predicate. */
  private sealed trait TimePred
  private case class TimeGe(sec: Long) extends TimePred
  private case class TimeLt(sec: Long) extends TimePred
  private case class DimPred(e: Expression) extends TimePred

  private def tryRewrite(agg0: Aggregate): Option[LogicalPlan] = {
    val (conjuncts, subst, rel) = decompose(agg0.child) match {
      case Some(t) => t
      case None    => trace(s"decompose failed: ${agg0.child.nodeName}"); return None
    }
    // re-inline pulled-out grouping aliases so the structural matchers see
    // the original bucket/measure expressions
    def inline(e: Expression): Expression = e.transformUp {
      case a: AttributeReference if subst.contains(a.exprId) => subst(a.exprId)
    }
    val agg = agg0.copy(
      groupingExpressions = agg0.groupingExpressions.map(inline),
      aggregateExpressions = agg0.aggregateExpressions.map { ne =>
        inline(ne) match {
          case n: NamedExpression => n
          case e                  => Alias(e, ne.name)(exprId = ne.exprId)
        }
      })
    val relPaths = TierRoute.relationPaths(rel)
    if (relPaths.isEmpty) return None
    val candidates = TierRoute.registered.filter(_.rawPaths == relPaths)
    if (candidates.isEmpty) { trace(s"no candidate for $relPaths"); return None }

    // classify grouping: dimension attributes + at most one bucket expr
    def classify(route: Route): Option[(Seq[AttributeReference], Option[Long])] = {
      var width: Option[Long] = None
      val dims = Seq.newBuilder[AttributeReference]
      agg.groupingExpressions.foreach {
        case a: AttributeReference if route.groupCols.contains(a.name) => dims += a
        case e => bucketWidth(e, route.tsCol) match {
          case Some(w) if width.isEmpty && w >= 1 => width = Some(w)
          case _ => trace(s"bucketWidth failed on: ${e.treeString}"); return None
        }
      }
      Some((dims.result(), width))
    }

    def classifyPred(route: Route, dimAttrs: Set[String])(e: Expression): Option[TimePred] = e match {
      case GreaterThanOrEqual(u, l) if isEpochSeconds(u, route.tsCol) =>
        longLit(l).map(TimeGe.apply)
      case LessThan(u, l) if isEpochSeconds(u, route.tsCol) =>
        longLit(l).map(TimeLt.apply)
      case GreaterThanOrEqual(a, Literal(us: Long, TimestampType | TimestampNTZType))
          if isTsAttr(a, route.tsCol) && us % 1000000L == 0 =>
        Some(TimeGe(us / 1000000L))
      case LessThan(a, Literal(us: Long, TimestampType | TimestampNTZType))
          if isTsAttr(a, route.tsCol) && us % 1000000L == 0 =>
        Some(TimeLt(us / 1000000L))
      case other if other.references.nonEmpty &&
          other.references.forall(r => route.groupCols.contains(r.name)) &&
          !SubqueryExpression.hasSubquery(other) =>
        Some(DimPred(other))
      case _ => None
    }

    def eligible(route: Route): Option[(Seq[AttributeReference], Option[Long], Seq[TimePred])] =
      for {
        (dims, width) <- classify(route)
        if width.forall(w => w % route.tierSeconds == 0)
        preds <- traverseOpt(conjuncts)(classifyPred(route, dims.map(_.name).toSet))
        if preds.forall {
          case TimeGe(s) => s % route.tierSeconds == 0
          case TimeLt(s) => s % route.tierSeconds == 0
          case _         => true
        }
      } yield (dims, width, preds)

    // coarsest eligible tier first; a route that cannot express every
    // aggregate (e.g. percentiles without a block column) falls through to
    // the next one
    val ordered = candidates.flatMap(r => eligible(r).map(r -> _))
      .sortBy(-_._1.tierSeconds)
    if (ordered.isEmpty) {
      trace(s"no eligible route; grouping=${agg.groupingExpressions.map(_.getClass.getSimpleName)}; " +
        candidates.map(r => s"${r.name}: classify=${classify(r)}").mkString("; "))
      return None
    }
    ordered.view.flatMap { case (route, (dims, width, preds)) =>
      rewriteWith(agg, route, dims, width, preds)
    }.headOption
  }

  private def rewriteWith(agg: Aggregate, route: Route,
      dims: Seq[AttributeReference], width: Option[Long],
      preds: Seq[TimePred]): Option[LogicalPlan] = {
    val tierDf = route.tier()
    val tierPlan = tierDf.queryExecution.analyzed
    def tierAttr(name: String): Option[AttributeReference] =
      tierPlan.output.collectFirst { case a: AttributeReference if a.name == name => a }
    val bucketAttr = tierAttr(route.bucketStartCol).getOrElse(return None)
    val cntAttr = tierAttr(route.cntCol).getOrElse(return None)
    val sumAttr = tierAttr(route.sumCol).getOrElse(return None)
    val minAttr = tierAttr(route.minCol).getOrElse(return None)
    val maxAttr = tierAttr(route.maxCol).getOrElse(return None)
    if (bucketAttr.dataType != LongType) return None

    // grouping rewrite map (original expr -> tier expr)
    val dimMap: Map[String, AttributeReference] =
      route.groupCols.flatMap(c => tierAttr(c).map(c -> _)).toMap
    if (!dims.forall(d => dimMap.contains(d.name))) return None
    val newBucket: Option[Expression] = width.map { w =>
      if (w == route.tierSeconds) bucketAttr
      else Subtract(bucketAttr, Pmod(bucketAttr, Literal(w)))
    }
    val groupPairs: Seq[(Expression, Expression)] =
      agg.groupingExpressions.map { g =>
        g match {
          case a: AttributeReference if dimMap.contains(a.name) => (g, dimMap(a.name))
          case e => (g, newBucket.getOrElse(return None))
        }
      }

    // exact percentiles from the tier's Gorilla point blocks: the block mode
    // of the native BlockAgg over the block column; p50/p95 are struct
    // fields 1/2 of its output. One aggregate expression is shared by both
    // percentile outputs (same resultId -> planned once).
    lazy val mergedStats: Option[Expression] = route.blockCol.flatMap(tierAttr)
      .filter(_.dataType == BinaryType)
      .map(b => BlockAgg(Seq(b)).toAggregateExpression())

    def isUnitFreq(e: Expression): Boolean = e match {
      case Literal(1L, LongType) => true
      case Literal(1, _)         => true
      case _                     => false
    }

    def countsAllRows(c: Count): Boolean = c.children.forall(_.foldable) &&
      c.children.forall(ch => ch.eval() != null)

    def mapAgg(ae: AggregateExpression): Option[Expression] = {
      if (ae.filter.isDefined || ae.mode != Complete) return None
      if (ae.isDistinct) {
        // count(DISTINCT c) routes onto the tier's per-bucket distinct-value
        // SET column (the lang_set pattern): re-merge = size(array_distinct(
        // flatten(collect_list(set)))) — exact, because the tier keeps the
        // full per-bucket set, and null raw values are absent from both
        // sides (collect_set drops them, as does count distinct)
        return (ae.aggregateFunction, route.distinctCol) match {
          case (c: Count, Some((rawCol, setCol))) =>
            (c.children, tierAttr(setCol)) match {
              case (Seq(a: AttributeReference), Some(setAttr)) if a.name == rawCol =>
                Some(Cast(Size(ArrayDistinct(Flatten(
                  CollectList(setAttr).toAggregateExpression()))), LongType))
              case _ => None
            }
          case _ => None
        }
      }
      ae.aggregateFunction match {
        case c: Count if countsAllRows(c) =>
          Some(Sum(cntAttr).toAggregateExpression())
        case c: Count if c.children.sizeIs == 1 && route.measureNonNull &&
            route.measure.matches(c.children.head) =>
          Some(Sum(cntAttr).toAggregateExpression())
        case s: Sum if route.measure.matches(s.child) && Sum(sumAttr).dataType == ae.dataType =>
          Some(Sum(sumAttr).toAggregateExpression())
        case m: Min if route.measure.matches(m.child) && minAttr.dataType == ae.dataType =>
          Some(Min(minAttr).toAggregateExpression())
        case m: Max if route.measure.matches(m.child) && maxAttr.dataType == ae.dataType =>
          Some(Max(maxAttr).toAggregateExpression())
        case a: Average if route.measure.matches(a.child) && route.measureNonNull &&
            ae.dataType == DoubleType =>
          Some(Divide(
            Cast(Sum(sumAttr).toAggregateExpression(), DoubleType),
            Cast(Sum(cntAttr).toAggregateExpression(), DoubleType)))
        case p: Percentile if route.measureNonNull && mergedStats.isDefined &&
            route.measure.matches(p.child) && isUnitFreq(p.frequencyExpression) =>
          p.percentageExpression match {
            case Literal(d: Double, DoubleType) if d == 0.5 =>
              Some(GetStructField(mergedStats.get, 1, Some("p50")))
            case Literal(d: Double, DoubleType) if d == 0.95 =>
              Some(GetStructField(mergedStats.get, 2, Some("p95")))
            case _ => None
          }
        case _ => None
      }
    }

    // EVERY aggregate function in the output must be individually mappable
    // onto tier partials — checking only the rewritten output's references
    // is NOT enough: an unmapped aggregate whose argument is a grouping
    // dimension (count(user_id) / sum(user_id) / count(DISTINCT user_id)
    // while grouped by user_id) would have its ARGUMENT substituted to the
    // tier attribute by the grouping-rewrite pass below and then pass the
    // reference check — silently aggregating TIER rows instead of raw
    // rows. Caught by TierRouteFuzzSpec on its first run.
    val allMapped = agg.aggregateExpressions.forall(ne =>
      ne.collect { case ae: AggregateExpression => ae }
        .forall(ae => mapAgg(ae).isDefined))
    if (!allMapped) return None
    val tierOutput = AttributeSet(tierPlan.output)
    val newAggExprs: Seq[NamedExpression] = agg.aggregateExpressions.map { ne =>
      val rewritten = ne.transformDown {
        case ae: AggregateExpression if mapAgg(ae).isDefined => mapAgg(ae).get
        case e if groupPairs.exists(_._1.semanticEquals(e)) =>
          groupPairs.find(_._1.semanticEquals(e)).get._2
      }
      if (!rewritten.references.subsetOf(tierOutput)) return None
      rewritten match {
        case a: Alias => a
        case other    => Alias(other, ne.name)(exprId = ne.exprId)
      }
    }
    val newGroupExprs = groupPairs.map(_._2).distinct

    val newCond: Option[Expression] = preds.map {
      case TimeGe(s)  => GreaterThanOrEqual(bucketAttr, Literal(s))
      case TimeLt(s)  => LessThan(bucketAttr, Literal(s))
      case DimPred(e) => e.transform {
        case a: AttributeReference => dimMap.getOrElse(a.name, return None)
      }
    }.reduceOption(And.apply)

    val filtered = newCond.map(Filter(_, tierPlan)).getOrElse(tierPlan)
    // explicit attribute-only Project so FileSourceStrategy prunes the tier
    // scan to the referenced partial columns even though the main pruning
    // batches have already run
    val needed = AttributeSet(newAggExprs.flatMap(_.references) ++
      newGroupExprs.flatMap(_.references) ++ newCond.toSeq.flatMap(_.references))
    val pruned = Project(tierPlan.output.filter(needed.contains), filtered)
    logInfo(s"tier-route: rewrote aggregate over ${route.rawPaths.mkString(",")} " +
      s"onto tier '${route.name}' (${route.tierSeconds}s)")
    Some(Aggregate(newGroupExprs, newAggExprs, pruned))
  }

  private def traverseOpt[A, B](xs: Seq[A])(f: A => Option[B]): Option[Seq[B]] = {
    val out = Seq.newBuilder[B]
    xs.foreach(x => f(x) match {
      case Some(b) => out += b
      case None    => return None
    })
    Some(out.result())
  }
}
