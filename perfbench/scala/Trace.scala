package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder, attached only through Spark's public
  * listener APIs: a `SparkListener` for jobs, stages, tasks, block
  * updates and SQL executions, and a `QueryExecutionListener` for each
  * action's Catalyst phases and the `TopKSearchRewrite` rule summary.
  * Events stay in memory and are written once, at exit; `score.py` turns
  * them into spans (op → build / action → job → stage → task) using the
  * job group every op sets.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val events = new ConcurrentLinkedQueue[String]()
  /** Catalyst record of the execution whose end event is being delivered.
    * The session's QueryExecutionListener bus was registered on the shared
    * listener queue before this listener, so for each SQL execution end the
    * bus thread calls `qeListener` first and `listener` right after; the
    * latter stamps the record with the execution id, which links it to the
    * op's job group through the execution's start event.
    */
  @volatile private var pendingQe: Option[String] = None
  private val persisted = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val persistedNow = new AtomicLong()
  private val persistedPeak = new AtomicLong()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val last = e.stageInfos.maxBy(_.stageId)
      events.add(obj("t" -> "job", "id" -> e.jobId, "group" -> group.getOrElse(""),
        "start" -> e.time, "name" -> last.name,
        "stages" -> e.stageIds.mkString("[", ",", "]").asRaw))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      events.add(obj("t" -> "jobend", "id" -> e.jobId, "end" -> e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      events.add(obj("t" -> "stage", "id" -> s.stageId, "ntasks" -> s.numTasks,
        "submit" -> s.submissionTime.getOrElse(0L), "end" -> s.completionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = Option(e.taskMetrics)
      def metric(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.fold(0L)(f)
      events.add(obj("t" -> "task", "stage" -> e.stageId, "launch" -> i.launchTime,
        "finish" -> i.finishTime,
        "run" -> metric(_.executorRunTime),
        "cpu_ns" -> metric(_.executorCpuTime),
        "gc" -> metric(_.jvmGCTime),
        "sw" -> metric(_.shuffleWriteMetrics.bytesWritten),
        "sr" -> metric(_.shuffleReadMetrics.totalBytesRead),
        "fetch_wait" -> metric(_.shuffleReadMetrics.fetchWaitTime),
        "spill" -> metric(_.diskBytesSpilled),
        "peak" -> metric(_.peakExecutionMemory),
        "in_rec" -> metric(_.inputMetrics.recordsRead),
        "in_bytes" -> metric(_.inputMetrics.bytesRead)))
    }
    /** Bytes held by persisted and locally checkpointed RDD blocks. */
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val id = s"${b.blockManagerId.executorId}/${b.blockId.name}"
        val bytes = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        val old = Option(persisted.put(id, bytes)).fold(0L)(_.longValue)
        val now = persistedNow.addAndGet(bytes - old)
        persistedPeak.accumulateAndGet(now, math.max)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        events.add(obj("t" -> "sql", "id" -> s.executionId,
          "group" -> s.jobGroupId.getOrElse(""), "time" -> s.time))
      case e: SparkListenerSQLExecutionEnd =>
        pendingQe.foreach(q => events.add(s"""{"exec":${e.executionId},${q.drop(1)}"""))
        pendingQe = None
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, failed = false)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe, failed = true)
    private def record(qe: QueryExecution, failed: Boolean): Unit = {
      val phases = qe.tracker.phases.map { case (name, p) =>
        s"${quote(name)}:[${p.startTimeMs},${p.endTimeMs}]"
      }.mkString("{", ",", "}")
      val topk = qe.tracker.rules.filter(_._1.endsWith("TopKSearchRewrite")).values
      pendingQe = Some(obj("t" -> "qe", "failed" -> failed,
        "phases" -> phases.asRaw,
        "topk_ns" -> topk.map(_.totalTimeNs).sum,
        "topk_fired" -> topk.map(_.numEffectiveInvocations).sum))
    }
  }

  def start(): Unit = {
    persistedPeak.set(persistedNow.get)
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    org.apache.spark.sql.graft.shim.waitListenerBus(spark.sparkContext)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(listener)
    events.add(obj("t" -> "persisted", "peak" -> persistedPeak.get))
  }

  def write(path: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), events.asScala.toSeq.asJava)
}

object Trace {
  /** Counts SQL statements (executions) while attached. */
  final class SqlCounter extends SparkListener {
    val count = new AtomicLong()
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLExecutionStart => count.incrementAndGet()
      case _ =>
    }
  }

  final case class Raw(s: String)
  implicit class RawOps(private val s: String) extends AnyVal {
    def asRaw: Raw = Raw(s)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** One flat JSON object; strings are quoted, `Raw` values are inlined. */
  def obj(fields: (String, Any)*): String = fields.map {
    case (k, v) =>
      val j = v match {
        case Raw(r) => r
        case s: String => quote(s)
        case x => x.toString
      }
      s"${quote(k)}:$j"
  }.mkString("{", ",", "}")

  /** Single-line, tab-free text for the ops table. */
  def clean(s: String): String = s.replaceAll("[\t\r\n]+", " ").take(500)
}
