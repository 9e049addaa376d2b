package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}

/** Bridge to `private[sql]` Spark internals the engine needs: executing a
  * hand-built LogicalPlan (the reference does this via Dataset.ofRows,
  * ExecutorImpl.scala:135) and registering expression-level functions.
  * Lives under org.apache.spark.sql so scalac grants package access; kept
  * minimal on purpose.
  */
object Internals {
  private def classic(spark: SparkSession): CSparkSession =
    spark.asInstanceOf[CSparkSession]

  /** Execute an (unanalyzed or analyzed) LogicalPlan as a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    CDataset.ofRows(classic(spark), plan)

  /** The session's own SQL parser (dialect parsers delegate to this). */
  def sessionParser(spark: SparkSession): ParserInterface =
    classic(spark).sessionState.sqlParser

  /** Register an expression-building function (beyond what udf.register can
    * express, e.g. zero-arg or plan-time expressions).
    */
  def registerExprFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    classic(spark).sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Incremental partition-at-a-time result iterator (the reference's
    * incremental-collect mode, ExecutorImpl.scala:185-215): rows stream to
    * the driver per partition instead of one full collect.
    */
  def executeToIterator(df: DataFrame): Iterator[org.apache.spark.sql.catalyst.InternalRow] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.executedPlan.executeToIterator()

  /** The rows of a result that is already in memory, without launching
    * a Spark job: a local table scan (catalog lookups fold to one), or a
    * whole-stage Project of foldable expressions over the one-row relation
    * (`SELECT 1`). None for any other plan; a UDF is never foldable, so
    * e.g. `pg_sleep` keeps its cancellable job.
    */
  def localRows(df: DataFrame): Option[Iterator[org.apache.spark.sql.catalyst.InternalRow]] = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.execution._
    df.asInstanceOf[CDataset[org.apache.spark.sql.Row]].queryExecution.executedPlan match {
      case scan: LocalTableScanExec => Some(scan.executeCollect().iterator)
      case WholeStageCodegenExec(ProjectExec(list, _: OneRowRelationExec))
          if list.forall { case Alias(e, _) => e.foldable; case _ => false } =>
        Some(Iterator.single(org.apache.spark.sql.catalyst.InternalRow.fromSeq(list.map(_.eval()))))
      case _ => None
    }
  }

  /** One-shot collect of InternalRows (cursor-re-entrant mode). */
  def executeCollect(df: DataFrame): Array[org.apache.spark.sql.catalyst.InternalRow] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.executedPlan.executeCollect()

  /** The analyzed LogicalPlan of a DataFrame (resolved attributes). */
  def analyzedPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[CDataset[org.apache.spark.sql.Row]].queryExecution.analyzed

  /** Marks this thread as running analysis with no execution to follow
    * (extended-protocol Parse/Describe, EXPLAIN). Driver-side expression
    * functions with session side effects (set_config, pg_notify) consult
    * this: PG applies such effects only at execution, but they resolve —
    * and would otherwise fire — during analysis.
    */
  private val analysisOnlyFlag = new ThreadLocal[java.lang.Boolean]

  def analysisOnly[T](body: => T): T = {
    val prev = analysisOnlyFlag.get()
    analysisOnlyFlag.set(java.lang.Boolean.TRUE)
    try body finally analysisOnlyFlag.set(prev)
  }

  def isAnalysisOnly: Boolean =
    java.lang.Boolean.TRUE == analysisOnlyFlag.get()

  /** Schema of the analyzed plan without executing (Describe-before-Bind). */
  def analyzedSchema(spark: SparkSession, plan: LogicalPlan): org.apache.spark.sql.types.StructType =
    analysisOnly { classic(spark).sessionState.executePlan(plan).analyzed.schema }

  /** One-analysis prepare for the extended protocol's cacheable path: the
    * caller guarantees the text is free of driver-folded session functions
    * (no analysisOnly guard needed), so the resolved plan can be reused by
    * Bind/Execute instead of re-analyzing per phase. Returns the analyzed
    * plan only when it is a pure query — a Command would EXECUTE eagerly
    * when a Dataset is later built from it, which must not happen before
    * the Execute message.
    */
  def analyzeForPrepare(spark: SparkSession, plan: LogicalPlan)
      : (org.apache.spark.sql.types.StructType, Option[LogicalPlan]) = {
    val analyzed = classic(spark).sessionState.executePlan(plan).analyzed
    val cacheable =
      !analyzed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Command] &&
        analyzed.schema.nonEmpty
    (analyzed.schema, if (cacheable) Some(analyzed) else None)
  }

  /** Make this session the thread's active one so SQLConf.get (used by the
    * parser and rules) sees its per-session settings — required when serving
    * many sessions from shared worker threads.
    */
  def setActiveSession(spark: SparkSession): Unit =
    CSparkSession.setActiveSession(classic(spark))

  /** Execute a query Dataset's OWN physical plan, discarding rows on the
    * executors (no driver materialization). A sink-based run (noop write)
    * would execute a separate write QueryExecution and leave this plan's
    * metrics at zero — EXPLAIN ANALYZE must measure the instance it prints.
    */
  def executeAndDiscard(df: DataFrame): Unit = {
    val qe = df.asInstanceOf[CDataset[org.apache.spark.sql.Row]].queryExecution
    qe.executedPlan.execute().foreach(_ => ())
  }

  /** The executed physical plan rendered one node per line with its
    * post-execution metric values — the body of PG-style `EXPLAIN ANALYZE`
    * output. Descends into the ADAPTIVE plan's final form and into query
    * stages, so what prints is what actually ran (AQE re-plans included).
    */
  def executedPlanWithMetrics(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val qe = df.asInstanceOf[CDataset[org.apache.spark.sql.Row]].queryExecution
    val out = Seq.newBuilder[String]
    def walk(p: SparkPlan, depth: Int): Unit = {
      // timing/size metrics read as "1.2s" / "45.3MiB" instead of raw
      // ms/ns/byte counts (SQLMetric stores the type tag, not the unit)
      def human(tpe: String, v: Long): String = tpe match {
        case "timing" => f"${v / 1e3}%.3fs"
        case "nsTiming" => f"${v / 1e9}%.3fs"
        case "size" =>
          if (v >= (1L << 30)) f"${v / (1024.0 * 1024 * 1024)}%.1fGiB"
          else if (v >= (1L << 20)) f"${v / (1024.0 * 1024)}%.1fMiB"
          else if (v >= (1L << 10)) f"${v / 1024.0}%.1fKiB"
          else s"${v}B"
        case _ => v.toString
      }
      val metrics = p.metrics.toSeq.sortBy(_._1).collect {
        case (k, m) if m.value != 0 => s"$k=${human(m.metricType, m.value)}"
      }
      val prefix = if (depth == 0) "" else "  " * (depth - 1) + "-> "
      out += (prefix + p.nodeName +
        (if (metrics.nonEmpty) metrics.mkString(" (", ", ", ")") else ""))
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1)
        case q: QueryStageExec => walk(q.plan, depth + 1)
        case _ => p.children.foreach(walk(_, depth + 1))
      }
    }
    walk(qe.executedPlan, 0)
    out.result()
  }

  /** Rows written by an already-executed command Dataset (INSERT/CTAS),
    * from the write node's "number of output rows" metric — PG's INSERT tag
    * carries the real count and pgjdbc's executeBatch reads update counts
    * from it. None when the plan has no write node (non-write commands).
    */
  def writtenRows(df: DataFrame): Option[Long] = {
    val qe = df.asInstanceOf[CDataset[org.apache.spark.sql.Row]].queryExecution
    val phys = qe.executedPlan match {
      case c: org.apache.spark.sql.execution.CommandResultExec => c.commandPhysicalPlan
      case p => p
    }
    phys.collectFirst {
      case d: org.apache.spark.sql.execution.command.DataWritingCommandExec =>
        d.metrics.get("numOutputRows").map(_.value)
      case w: org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec =>
        w.metrics.get("numOutputRows").map(_.value)
      // CTAS is a LeafRunnableCommand whose write-stats metrics live on the
      // command itself (it threads them into its nested insert execution)
      case e: org.apache.spark.sql.execution.command.ExecutedCommandExec
          if e.metrics.contains("numOutputRows") =>
        e.metrics.get("numOutputRows").map(_.value)
    }.flatten
  }

  /** Affected rows for row-level operations (UPDATE/DELETE/MERGE), from the
    * operation-specific metrics where the executed plan exposes them. A
    * copy-on-write plan's numOutputRows counts rows WRITTEN — including
    * untouched rows rewritten in affected files — so it must NOT stand in
    * for PG's matched-row tag count; callers fall back to 0 ("rows unknown")
    * when no operation-specific metric exists.
    */
  def affectedRows(df: DataFrame): Option[Long] = {
    val qe = df.asInstanceOf[CDataset[org.apache.spark.sql.Row]].queryExecution
    val phys = qe.executedPlan match {
      case c: org.apache.spark.sql.execution.CommandResultExec => c.commandPhysicalPlan
      case p => p
    }
    val names = Seq("numUpdatedRows", "numDeletedRows", "numInsertedRows",
      "numAffectedRows")
    val found = phys.collect {
      case p if names.exists(p.metrics.contains) =>
        names.flatMap(p.metrics.get).map(_.value).sum
    }
    found.headOption
  }
}
