package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.execution.window.WindowExec

/** Physical-plan review — the automated form of this project's "is this
  * the plan you'd want at 100 TB" question. One walk over a query's
  * executed plan yields both the lint findings (`lint`) and a one-line
  * shape digest (`digest`); `graft.Plans` writes the digest of every
  * registry query to `PLANS.md`, LintSpec holds every finding of the
  * registry to a justified inventory, and PlanSpec pins the load-bearing
  * shapes as tests. A finding is advice, not an error — some plans
  * legitimately window over a bounded distinct-value frame — but every
  * finding is something a reviewer should be able to JUSTIFY.
  *
  * Rules:
  *  - `cartesian`: CartesianProduct / BroadcastNestedLoopJoin — O(n·m)
  *    pair generation; not flagged when one side is a one-row scalar
  *    aggregate (the broadcast-bounds pattern).
  *  - `global-window`: a Window with an EMPTY partition spec — every row
  *    flows to ONE task (the single-reducer sort); rank via a
  *    range-partitioned sort instead (see operators.Spearman).
  *  - `expand-distinct`: Expand feeding an aggregate — multi-distinct
  *    row multiplication; swap exact distincts for mergeable sketches
  *    (profile_stats → profile_stats_sketch).
  *  - `unpushed-filter`: a parquet scan whose pushed-filter list is
  *    empty while a Filter sits above it — the predicate shape defeated
  *    pushdown (casts or UDFs over the column are the usual cause).
  *  - `single-partition-shuffle`: an exchange whose target partitioning
  *    has 1 partition (global sort/limit funnels everything through one
  *    task); a scalar aggregate's final exchange is exempt.
  */
object Lint {

  final case class Finding(rule: String, node: String, detail: String)

  def lint(df: DataFrame): Seq[Finding] = findings(expand(df.queryExecution.executedPlan))

  /** One line of plan shape: exchange, scan, join, window and Expand
    * counts, then the lint rules that fired (`-` when none). */
  def digest(df: DataFrame): String = {
    val nodes = expand(df.queryExecution.executedPlan)
    def counts(keys: Seq[String]): String =
      if (keys.isEmpty) "-"
      else keys.groupBy(identity).toSeq.sortBy(_._1)
        .map { case (k, v) => if (v.size == 1) k else s"$k×${v.size}" }.mkString(",")
    // a part file Spark wrote (a glob read) is named by its directory:
    // its own name is new on every write
    def table(p: org.apache.hadoop.fs.Path): String =
      if (p.getName.startsWith("part-")) p.getParent.getName
      else p.getName.stripSuffix(".parquet")
    val scans = nodes.collect { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.map(table).mkString("+")
    }
    val joins = nodes.collect {
      case _: BroadcastHashJoinExec => "BHJ"
      case _: SortMergeJoinExec => "SMJ"
      case _: ShuffledHashJoinExec => "SHJ"
      case _: BroadcastNestedLoopJoinExec => "BNLJ"
      case _: CartesianProductExec => "cartesian"
    }
    val windows = nodes.collect { case w: WindowExec => w }
    s"shuffle=${nodes.count(_.isInstanceOf[ShuffleExchangeExec])}" +
      s" broadcast=${nodes.count(_.isInstanceOf[BroadcastExchangeExec])}" +
      s" scan=${counts(scans)} join=${counts(joins)}" +
      s" window=${windows.size}/${windows.count(_.partitionSpec.isEmpty)}" +
      s" expand=${nodes.count(_.isInstanceOf[ExpandExec])}" +
      s" lint=${counts(findings(nodes).map(_.rule))}"
  }

  /** Flatten the plan INCLUDING wrapper nodes `collect` cannot see
    * through: the AQE root holds its current plan as a member, not a
    * child, and query stages / reused exchanges wrap theirs the same
    * way. */
  private def expand(p: SparkPlan): Seq[SparkPlan] = p +: inner(p).flatMap(expand)

  private def inner(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case other => other.children
  }

  /** An aggregate with no grouping keys — at most one row per input
    * partition, one row after its final exchange — or a nested-loop
    * join of such frames, seen through projections, filters, exchanges
    * and the wrappers `expand` opens. */
  private def oneRow(p: SparkPlan): Boolean = p match {
    case a: BaseAggregateExec => a.groupingExpressions.isEmpty
    case j @ (_: CartesianProductExec | _: BroadcastNestedLoopJoinExec) =>
      j.children.forall(oneRow)
    case _: ProjectExec | _: FilterExec | _: Exchange | _: WholeStageCodegenExec |
        _: InputAdapter | _: AdaptiveSparkPlanExec | _: QueryStageExec |
        _: ReusedExchangeExec => inner(p).exists(oneRow)
    case _ => false
  }

  private def findings(nodes: Seq[SparkPlan]): Seq[Finding] = {
    def name(p: SparkPlan): String = p.getClass.getSimpleName
    def head(p: SparkPlan): String = p.toString.linesIterator.next().take(160)
    nodes.collect {
      case p @ (_: CartesianProductExec | _: BroadcastNestedLoopJoinExec)
          if !p.children.exists(oneRow) =>
        Finding("cartesian", name(p), head(p))
      case p: WindowExec if p.partitionSpec.isEmpty =>
        Finding("global-window", name(p),
          "window with no PARTITION BY: all rows sort on one task")
      case p: ExpandExec if p.projections.length > 1 =>
        Finding("expand-distinct", name(p),
          s"row multiplication x${p.projections.length} (multi-distinct shape)")
      case p: FileSourceScanExec
          if {
            // a substantive (non-IsNotNull) predicate reached the scan,
            // but only derived null checks — or nothing — got pushed:
            // the predicate shape defeated parquet pushdown
            val substantiveData = p.dataFilters.exists(f =>
              !f.toString.toLowerCase.startsWith("isnotnull"))
            val substantivePushed = p.metadata.get("PushedFilters")
              .exists(_.stripPrefix("[").stripSuffix("]").split(",")
                .map(_.trim).exists(t => t.nonEmpty && !t.startsWith("IsNotNull")))
            substantiveData && !substantivePushed
          } =>
        Finding("unpushed-filter", name(p),
          s"substantive filters not pushed: ${p.dataFilters.mkString(", ").take(120)}")
      case p: ShuffleExchangeExec
          if p.outputPartitioning.numPartitions == 1 && !oneRow(p.child) =>
        // a scalar aggregate's final exchange is single-partition BY
        // DESIGN and bounded (one partial row per map task crosses) —
        // flag only exchanges that funnel unbounded row streams
        Finding("single-partition-shuffle", name(p),
          "exchange funnels every row into one partition")
    }
  }

  /** Render findings the way a reviewer reads them. */
  def report(df: DataFrame): String = {
    val fs = lint(df)
    if (fs.isEmpty) "no findings"
    else fs.map(f => s"[${f.rule}] ${f.node}: ${f.detail}").mkString("\n")
  }
}
