package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Command, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Closed time interval in epoch milliseconds. */
final case class Span(start: Long, end: Long) {
  def len: Long = math.max(0L, end - start)
}

object Span {
  /** Sorted, disjoint cover of `xs`. */
  def union(xs: Iterable[Span]): Seq[Span] = {
    val out = mutable.ArrayBuffer[Span]()
    xs.filter(_.len > 0).toSeq.sortBy(_.start).foreach { s =>
      if (out.nonEmpty && s.start <= out.last.end)
        out(out.size - 1) = Span(out.last.start, math.max(out.last.end, s.end))
      else out += s
    }
    out.toSeq
  }

  def clip(xs: Seq[Span], w: Span): Seq[Span] =
    xs.map(s => Span(math.max(s.start, w.start), math.min(s.end, w.end))).filter(_.len > 0)
}

/** One Spark job of a traced op, with its stages' task totals. */
final case class JobRec(id: Int, start: Long, var end: Long = -1L, stages: Seq[Int] = Nil)

final class TaskTotals {
  var tasks = 0L; var failed = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var schedWaitMs = 0L
  var inRows = 0L; var inBytes = 0L; var shuffleWrite = 0L; var spill = 0L
}

final case class StageRec(id: Int, submit: Long, var complete: Long = -1L, totals: TaskTotals = new TaskTotals)

/** One QueryExecution: its tracker phases and its statement class. */
final case class QeRec(
    func: String, node: String, cls: String, catalog: Boolean, durS: Double,
    phases: Map[String, Span])

/** Everything the listeners saw during one traced op. */
final case class OpTrace(jobs: Seq[JobRec], stages: Seq[StageRec], qes: Seq[QeRec])

/** Listener-based tracer. Spark jobs and stages carry the traced op's
  * id through a local property; query executions are attributed to
  * the op during which the listener bus delivered them. Before and
  * after each traced op a one-task marker job is run: it goes through
  * the same listener queue, so once its end event arrives every event
  * posted before it has been delivered too. The markers run outside
  * the op's clock and are never counted. */
final class Tracer(spark: SparkSession) {
  private val OpKey = "perfbench.op"
  private val sc = spark.sparkContext

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val jobOp = new ConcurrentHashMap[Int, String]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val qes = new ConcurrentLinkedQueue[QeRec]()
  private val markers = new ConcurrentHashMap[String, CountDownLatch]()
  @volatile var enabled = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).orNull
      if (op != null) {
        jobOp.put(e.jobId, op)
        jobs.put(e.jobId, JobRec(e.jobId, e.time, stages = e.stageIds))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val r = jobs.get(e.jobId)
      if (r != null) r.end = e.time
      val op = jobOp.get(e.jobId)
      if (op != null) Option(markers.get(op)).foreach(_.countDown())
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).orNull
      if (op != null) {
        stageOp.put(e.stageInfo.stageId, op)
        stages.put(e.stageInfo.stageId,
          StageRec(e.stageInfo.stageId, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val r = stages.get(e.stageInfo.stageId)
      if (r != null) r.complete = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val r = stages.get(e.stageId)
      if (r == null) return
      val t = r.totals
      t.synchronized {
        t.tasks += 1
        if (!e.taskInfo.successful) t.failed += 1
        t.schedWaitMs += math.max(0L, e.taskInfo.launchTime - r.submit)
        val m = e.taskMetrics
        if (m != null) {
          t.runMs += m.executorRunTime
          t.cpuNs += m.executorCpuTime
          t.gcMs += m.jvmGCTime
          t.inRows += m.inputMetrics.recordsRead
          t.inBytes += m.inputMetrics.bytesRead
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      record(func, qe, durationNs)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      record(func, qe, 0L)
  }

  private def record(func: String, qe: QueryExecution, durationNs: Long): Unit =
    if (enabled) {
      val plan = qe.logical
      val phases = qe.tracker.phases.map { case (k, p) => k -> Span(p.startTimeMs, p.endTimeMs) }
      qes.add(QeRec(func, plan.nodeName, Tracer.classify(plan), Tracer.touchesCatalog(qe),
        durationNs / 1e9, phases))
    }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Runs `body` as traced op `op`; returns its result and its trace. */
  def traced[T](op: String)(body: => T): (T, OpTrace) = {
    fence(s"$op.before")
    qes.clear()
    enabled = true
    sc.setLocalProperty(OpKey, op)
    val out =
      try body
      finally sc.setLocalProperty(OpKey, null)
    fence(s"$op.after")
    enabled = false
    (out, collect(op))
  }

  /** Runs the marker job `marker` and waits for its end event. */
  private def fence(marker: String): Unit = {
    val latch = new CountDownLatch(1)
    markers.put(marker, latch)
    sc.setLocalProperty(OpKey, marker)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(OpKey, null)
    latch.await(30, TimeUnit.SECONDS)
    markers.remove(marker)
  }

  private def collect(op: String): OpTrace = {
    val myJobs = jobOp.asScala.collect { case (id, o) if o == op => id }.toSeq
    val myStages = stageOp.asScala.collect { case (id, o) if o == op => id }.toSeq
    val t = OpTrace(
      myJobs.flatMap(id => Option(jobs.get(id))).sortBy(_.id),
      myStages.flatMap(id => Option(stages.get(id))).sortBy(_.id),
      qes.asScala.toSeq)
    // forget the op and its markers, so memory stays flat over a run
    def mine(o: String) = o == op || o.startsWith(s"$op.")
    jobOp.asScala.collect { case (id, o) if mine(o) => id }.toSeq.foreach { id =>
      jobs.remove(id); jobOp.remove(id)
    }
    stageOp.asScala.collect { case (id, o) if mine(o) => id }.toSeq.foreach { id =>
      stages.remove(id); stageOp.remove(id)
    }
    qes.clear()
    t
  }

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Tracer {
  private def isWrite(name: String): Boolean =
    Set("AppendData", "OverwriteByExpression", "OverwritePartitionsDynamic", "ReplaceData",
      "WriteDelta", "InsertIntoStatement", "CreateTableAsSelect", "ReplaceTableAsSelect",
      "InsertIntoHadoopFsRelationCommand", "SaveIntoDataSourceCommand", "MergeIntoTable",
      "UpdateTable", "DeleteFromTable", "DeleteFromTableWithFilters", "MergeRows",
      "CreateDataSourceTableAsSelectCommand", "InsertIntoDataSourceCommand",
      "AppendDataExecV1", "WriteToDataSourceV2")(name)

  /** Statement class by the logical plan's root node: `write` for
    * DML, `refresh` for refresh/CALL commands, `ddl` for any other
    * command, `select` for a query. */
  def classify(plan: LogicalPlan): String = {
    val n = plan.nodeName
    if (isWrite(n) || plan.getClass.getSimpleName.contains("Insert")) "write"
    else if (n.toLowerCase.contains("refresh") || n == "Call" || n.startsWith("Call")) "refresh"
    else if (plan.isInstanceOf[Command]) "ddl"
    else "select"
  }

  /** True when any node of the plan holds a snapshot catalog. */
  def touchesCatalog(qe: QueryExecution): Boolean = {
    def isCat(x: Any): Boolean = x match {
      case _: graft.sources.SnapshotCatalog => true
      case Some(c)                          => isCat(c)
      case _                                => false
    }
    val plan = try qe.analyzed catch { case _: Throwable => qe.logical }
    plan.exists(_.productIterator.exists(isCat))
  }
}
