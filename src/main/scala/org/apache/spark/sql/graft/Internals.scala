package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession,
  UserDefinedFunctionUtils}
import org.apache.spark.sql.execution.SparkSqlParser
import org.apache.spark.sql.expressions.{SparkUserDefinedFunction, UserDefinedFunction}

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

  /** The tables and temp views of the current database with their
    * metadata (type, schema), read from the session catalog without
    * running a command. A table dropped while listing is skipped.
    */
  def catalogTables(spark: SparkSession): Seq[org.apache.spark.sql.catalyst.catalog.CatalogTable] = {
    val cat = classic(spark).sessionState.catalog
    cat.listTables(cat.getCurrentDatabase).flatMap(id =>
      scala.util.Try(cat.getTempViewOrPermanentTableMetadata(id)).toOption)
  }

  /** Register an expression-building function (beyond what udf.register can
    * express, e.g. zero-arg or plan-time expressions).
    */
  def registerExprFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    classic(spark).sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Register functions given in the form
    * `SparkSessionExtensions.injectFunction` takes into this session.
    */
  def registerFunctions(spark: SparkSession,
      fns: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)]): Unit = {
    val registry = classic(spark).sessionState.functionRegistry
    fns.foreach { case (id, info, builder) => registry.registerFunction(id, info, builder) }
  }

  /** The expression `spark.udf.register(name, udf)` registers, over `children`. */
  def scalaUdf(udf: UserDefinedFunction, children: Seq[Expression]): Expression =
    UserDefinedFunctionUtils.toScalaUDF(udf.asInstanceOf[SparkUserDefinedFunction], children)

  /** The extensions object `spark` hands to each of its later
    * `newSession()`s. `spark`'s own session state, built lazily from the
    * same object, is built first, so what is injected later reaches only
    * those later sessions.
    */
  def extensions(spark: SparkSession): SparkSessionExtensions = {
    classic(spark).sessionState
    classic(spark).extensions
  }

  /** The SQL parser each later `newSession()` of `spark` gets. */
  def newSessionParser(spark: SparkSession): ParserInterface =
    extensions(spark).buildParser(spark, new SparkSqlParser())

  /** Incremental partition-at-a-time result iterator (the reference's
    * incremental-collect mode, ExecutorImpl.scala:185-215): Spark's
    * `SparkPlan.executeToIterator`, which runs one Spark job per partition
    * as the rows are read, and holds each partition on the driver as
    * compressed `UnsafeRow` bytes until its rows are read.
    */
  def executeToIterator(df: DataFrame): Iterator[org.apache.spark.sql.catalyst.InternalRow] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.executedPlan.executeToIterator()

  /** [[executeToIterator]]'s rows, partition after partition, computed on
    * the calling thread with no Spark job; None when the plan is not
    * eligible. Eligible: a plan of only `WholeStageCodegenExec`,
    * `InputAdapter`, `ColumnarToRowExec`, `ProjectExec`, `FilterExec`,
    * `FileSourceScanExec`, `BatchScanExec` and `RangeExec` nodes, with no
    * `PlanExpression` (subquery) and no `UserDefinedExpression` (so
    * `pg_sleep` keeps its cancellable job) in any expression: a scan with
    * no exchange, whose partitions need nothing from another task.
    *
    * Each partition is computed when the previous one's rows are used up,
    * under a `TaskContext` built here, and kept as [[executeToIterator]]
    * keeps it: size-prefixed `UnsafeRow` bytes in one compressed
    * `ChunkedByteBuffer`, decoded as the rows are read. What that takes:
    *  - the RDD is built (`plan.execute()`) before any context is set, and
    *    the context is removed before a row is handed out: while a context
    *    is set, `SQLConf.get` reads its local properties, not the session's
    *    conf, and a handler thread serves several connections. The context
    *    gets a copy of the thread's `SparkContext` local properties, as a
    *    task of a job would;
    *  - the block manager knows the attempt id while it computes: a parquet
    *    scan reads its Hadoop-conf broadcast under the context's id;
    *  - attempt ids count up from `Long.MinValue`, so they meet neither
    *    Spark's task ids (>= 0) nor `BlockInfo.NON_TASK_WRITER` (-1024),
    *    whose locks releasing a task's would drop;
    *  - the context completes (closing the scan's readers) or fails, and
    *    its execution memory and block locks are released, either way;
    *  - a [[TaskInterrupt]] installed by [[interruptibleBy]] marks the
    *    running context interrupted, and the scan stops with
    *    `TaskKilledException` as a killed task does.
    */
  def handlerThreadRows(df: DataFrame): Option[Iterator[org.apache.spark.sql.catalyst.InternalRow]] = {
    import org.apache.spark.sql.catalyst.expressions.{PlanExpression, UserDefinedExpression}
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val plan = df.asInstanceOf[CDataset[org.apache.spark.sql.Row]].queryExecution.executedPlan
    val eligible = !plan.exists { p =>
      val node = p match {
        case _: WholeStageCodegenExec | _: InputAdapter | _: ColumnarToRowExec | _: ProjectExec |
            _: FilterExec | _: FileSourceScanExec | _: BatchScanExec | _: RangeExec => true
        case _ => false
      }
      !node || p.expressions.exists(_.exists(e =>
        e.isInstanceOf[PlanExpression[_]] || e.isInstanceOf[UserDefinedExpression]))
    }
    if (!eligible) None
    else {
      val rdd = plan.execute()
      val nFields = plan.schema.length
      Some(rdd.partitions.iterator.flatMap(p => decodeRows(computePartition(rdd, p), nFields)))
    }
  }

  /** Cancels the partitions [[handlerThreadRows]] computes while it is
    * installed on their thread by [[interruptibleBy]]: the running one
    * stops, and a later one does not start.
    */
  final class TaskInterrupt {
    @volatile private var reason: String = _
    @volatile private var running: org.apache.spark.TaskContextImpl = _

    def interrupt(why: String): Unit = {
      reason = why
      val c = running
      if (c != null) c.markInterrupted(why)
    }

    // `enter` writes `running` before it reads `reason`, and `interrupt`
    // writes `reason` before it reads `running`: one sees the other's write
    private[Internals] def enter(c: org.apache.spark.TaskContextImpl): Unit = {
      running = c
      val r = reason
      if (r != null) c.markInterrupted(r)
    }

    private[Internals] def exit(): Unit = running = null
  }

  private val taskInterrupt = new ThreadLocal[TaskInterrupt]

  /** Run `body` with `i` interrupting the partitions it computes on this
    * thread through [[handlerThreadRows]].
    */
  def interruptibleBy[T](i: TaskInterrupt)(body: => T): T = {
    val prev = taskInterrupt.get()
    taskInterrupt.set(i)
    try body finally taskInterrupt.set(prev)
  }

  private val handlerAttemptIds = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)

  /** One partition of `rdd` as a task of its own would compute it, on this
    * thread, into [[executeToIterator]]'s compressed form.
    */
  private def computePartition(rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      part: org.apache.spark.Partition): org.apache.spark.util.io.ChunkedByteBuffer = {
    import org.apache.spark.{SparkEnv, TaskContext, TaskContextImpl}
    val env = SparkEnv.get
    val id = handlerAttemptIds.incrementAndGet()
    val memory = new org.apache.spark.memory.TaskMemoryManager(env.memoryManager, id)
    val ctx = new TaskContextImpl(0, 0, part.index, id, 0, rdd.partitions.length, memory,
      org.apache.spark.util.Utils.cloneProperties(rdd.sparkContext.getLocalProperties),
      env.metricsSystem)
    val interrupt = Option(taskInterrupt.get())
    env.blockManager.registerTask(id)
    TaskContext.setTaskContext(ctx)
    interrupt.foreach(_.enter(ctx))
    try {
      val bytes = try {
        ctx.killTaskIfInterrupted()
        encodeRows(rdd.iterator(part, ctx))
      } catch {
        case e: Throwable =>
          try ctx.markTaskFailed(e) catch { case t: Throwable => e.addSuppressed(t) }
          try ctx.markTaskCompleted(Some(e)) catch { case t: Throwable => e.addSuppressed(t) }
          throw e
      }
      ctx.markTaskCompleted(None)
      bytes
    } finally {
      interrupt.foreach(_.exit())
      TaskContext.unset()
      org.apache.spark.rdd.InputFileBlockHolder.unset()
      memory.cleanUpAllAllocatedMemory()
      env.blockManager.releaseAllLocksForTask(id)
    }
  }

  /** `SparkPlan.getByteArrayRdd`'s encoding: each row's size, then its
    * bytes, then -1, through `spark.io.compression.codec`.
    */
  private def encodeRows(rows: Iterator[org.apache.spark.sql.catalyst.InternalRow])
      : org.apache.spark.util.io.ChunkedByteBuffer = {
    val bytes = new org.apache.spark.util.io.ChunkedByteBufferOutputStream(1 << 20,
      java.nio.ByteBuffer.allocate)
    val out = new java.io.DataOutputStream(org.apache.spark.io.CompressionCodec
      .createCodec(org.apache.spark.SparkEnv.get.conf).compressedOutputStream(bytes))
    val scratch = new Array[Byte](4 << 10)
    rows.foreach { r =>
      val row = r.asInstanceOf[org.apache.spark.sql.catalyst.expressions.UnsafeRow]
      out.writeInt(row.getSizeInBytes)
      row.writeToStream(out, scratch)
    }
    out.writeInt(-1)
    out.close()
    bytes.toChunkedByteBuffer
  }

  /** The rows [[encodeRows]] wrote, each `UnsafeRow` on bytes of its own. */
  private def decodeRows(bytes: org.apache.spark.util.io.ChunkedByteBuffer, nFields: Int)
      : Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    val in = new java.io.DataInputStream(org.apache.spark.io.CompressionCodec
      .createCodec(org.apache.spark.SparkEnv.get.conf).compressedInputStream(bytes.toInputStream()))
    new Iterator[org.apache.spark.sql.catalyst.InternalRow] {
      private var nextSize = in.readInt()
      if (nextSize < 0) in.close()
      def hasNext: Boolean = nextSize >= 0
      def next(): org.apache.spark.sql.catalyst.InternalRow = {
        if (nextSize < 0) throw new NoSuchElementException
        val b = new Array[Byte](nextSize)
        in.readFully(b)
        val row = new org.apache.spark.sql.catalyst.expressions.UnsafeRow(nFields)
        row.pointTo(b, nextSize)
        nextSize = in.readInt()
        if (nextSize < 0) in.close()
        row
      }
    }
  }

  /** The rows of a result that is already in memory, without launching
    * a Spark job: a Project/Filter chain over a local table scan (catalog
    * lookups), evaluated in this JVM as Spark's ConvertToLocalRelation
    * folds one over a LocalRelation, or a whole-stage Project of foldable
    * expressions over the one-row relation (`SELECT 1`). None for any other
    * plan, and for a subquery in the chain; a UDF is never foldable, so
    * e.g. `SELECT pg_sleep(1)` keeps its cancellable job.
    */
  def localRows(df: DataFrame): Option[Iterator[org.apache.spark.sql.catalyst.InternalRow]] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, PlanExpression, Predicate, UnsafeProjection}
    import org.apache.spark.sql.execution._
    def local(p: SparkPlan): Option[Iterator[org.apache.spark.sql.catalyst.InternalRow]] = p match {
      case _ if p.expressions.exists(_.exists(_.isInstanceOf[PlanExpression[_]])) => None
      case scan: LocalTableScanExec => Some(scan.executeCollect().iterator)
      case FilterExec(cond, child) => local(child).map { rows =>
        val pred = Predicate.create(cond, child.output)
        pred.initialize(0)
        rows.filter(pred.eval)
      }
      case ProjectExec(list, child) => local(child).map { rows =>
        val proj = UnsafeProjection.create(list, child.output)
        proj.initialize(0)
        rows.map(proj(_).copy())
      }
      case _ => None
    }
    df.asInstanceOf[CDataset[org.apache.spark.sql.Row]].queryExecution.executedPlan match {
      case WholeStageCodegenExec(ProjectExec(list, _: OneRowRelationExec))
          if list.forall { case Alias(e, _) => e.foldable; case _ => false } =>
        Some(Iterator.single(org.apache.spark.sql.catalyst.InternalRow.fromSeq(list.map(_.eval()))))
      case WholeStageCodegenExec(p) => local(p)
      case p => local(p)
    }
  }

  /** A DataFrame over `rows` (UnsafeRows of `schema`) as one RDD
    * partition, every column nullable: inserting it runs one task, which
    * writes one file, and its plan holds no rows for the analyzer and
    * `explainString` to walk, as a `LocalRelation`'s does.
    */
  def oneTaskFrame(spark: SparkSession, rows: Seq[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    classic(spark).internalCreateDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema.asNullable)

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

  /** The analyzed plan, analyzed under [[analysisOnly]]: Parse, Bind
    * and Describe analyze ahead of the Execute that applies side effects.
    */
  def analyze(spark: SparkSession, plan: LogicalPlan): LogicalPlan =
    analysisOnly { classic(spark).sessionState.executePlan(plan).analyzed }

  /** Schema of the analyzed plan without executing (Describe-before-Bind). */
  def analyzedSchema(spark: SparkSession, plan: LogicalPlan): org.apache.spark.sql.types.StructType =
    analyze(spark, plan).schema

  /** A DataFrame over an analyzed plan that a transform has rebuilt (Bind
    * substituting values): marked analyzed, so the analyzer does not
    * visit it again.
    */
  def ofAnalyzed(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    plan.setAnalyzed()
    ofRows(spark, plan)
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
