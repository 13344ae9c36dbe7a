package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One call the harness made into a layer of the engine, inside an op. */
final case class Call(layer: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** One closed-loop operation: its class (write/read/query/maint), its
  * layer calls, and — in a traced run — the counters the listeners
  * attributed to it. */
final class Op(val id: Int, val kind: String, val cls: String) {
  var startNs = 0L
  var endNs = 0L
  var ok = true
  var error: String = ""
  val calls = mutable.ArrayBuffer.empty[Call]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  /** Spark job intervals (nanoTime domain) tied to this op. */
  val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
  def ms: Double = (endNs - startNs) / 1e6
  def add(k: String, v: Double): Unit =
    counters(k) = counters.getOrElse(k, 0.0) + v
}

/** Records ops and layer calls. With `traced`, it also registers Spark,
  * Catalyst and streaming listeners, tags each op's jobs with a local
  * property, flushes the listener bus between ops and attributes every
  * event of the window to the op that caused it. */
final class Ledger(spark: SparkSession, val traced: Boolean) {
  val ops = mutable.ArrayBuffer.empty[Op]
  private var current: Op = null
  private val OpProp = "perfbench.op"
  private val sc = spark.sparkContext

  // epoch ms -> nanoTime, for placing listener timestamps on op spans
  private val nsAtEpoch0 = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def epochToNs(ms: Long): Long = nsAtEpoch0 + ms * 1000000L

  // ---- listener state (traced runs only) ------------------------------
  private final case class JobRec(op: Int, startMs: Long, var endMs: Long,
                                  stages: Seq[Int])
  private val jobsById = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val taskSums = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
  import Ledger.{progress, qePhases}

  // task sums slots
  private val TRun = 0; private val TCpu = 1; private val TShR = 2
  private val TShW = 3; private val TSpill = 4; private val TRecIn = 5
  private val TTasks = 6

  private object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProp)))
        .map(_.toInt).getOrElse(-1)
      jobsById.put(e.jobId, JobRec(op, e.time, -1L, e.stageIds))
      e.stageIds.foreach(s => stageOp.put(s, op))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobsById.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val op: Int = Option(stageOp.get(e.stageId)).map(_.intValue).getOrElse(-1)
      val a = taskSums.computeIfAbsent(op, _ => new Array[Long](7))
      a.synchronized {
        a(TRun) += m.executorRunTime
        a(TCpu) += m.executorCpuTime / 1000000L
        a(TShR) += m.shuffleReadMetrics.totalBytesRead
        a(TShW) += m.shuffleWriteMetrics.bytesWritten
        a(TSpill) += m.diskBytesSpilled + m.memoryBytesSpilled
        a(TRecIn) += m.inputMetrics.recordsRead
        a(TTasks) += 1
      }
    }
  }

  if (traced) sc.addSparkListener(JobListener)

  private def flush(): Unit =
    org.apache.spark.graftshim.GraftCoreShims.waitListenerBusEmpty(sc)

  private def fsStats(): Map[String, Long] = {
    val all = FileSystem.getAllStatistics.asScala
    def sum(f: FileSystem.Statistics => Long): Long = all.map(f).sum
    Map(
      "fs.read_ops" -> sum(_.getReadOps),
      "fs.write_ops" -> sum(_.getWriteOps),
      "fs.list_ops" -> sum(_.getLargeReadOps),
      "fs.bytes_read" -> sum(_.getBytesRead),
      "fs.bytes_written" -> sum(_.getBytesWritten))
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Time one closed-loop op. A throwing body marks the op failed; the
    * exception is kept as its error and not rethrown. */
  def op[T](kind: String, cls: String)(body: => T): Option[T] = {
    val o = new Op(ops.size, kind, cls)
    var fs0: Map[String, Long] = Map.empty
    var gc0 = 0L
    if (traced) {
      flush()
      qePhases.clear(); progress.clear()
      fs0 = fsStats(); gc0 = gcMs()
      sc.setLocalProperty(OpProp, o.id.toString)
    }
    current = o
    o.startNs = System.nanoTime()
    val r =
      try Some(body)
      catch {
        case t: Throwable if scala.util.control.NonFatal(t) =>
          o.ok = false
          o.error = s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("")}"
            .replaceAll("\\s+", " ").take(300)
          None
      }
    o.endNs = System.nanoTime()
    current = null
    if (traced) {
      sc.setLocalProperty(OpProp, null)
      flush()
      attribute(o, fs0, gc0)
    }
    ops += o
    r
  }

  /** Add to a counter of the current op, or of the last one once it ended. */
  def note(k: String, v: Double): Unit =
    Option(current).orElse(ops.lastOption).foreach(_.add(k, v))

  /** Time one call into a layer of the engine, inside the current op. */
  def call[T](layer: String)(body: => T): T = {
    val s = System.nanoTime()
    try body
    finally if (current != null) current.calls += Call(layer, s, System.nanoTime())
  }

  private def attribute(o: Op, fs0: Map[String, Long], gc0: Long): Unit = {
    val fs1 = fsStats()
    fs1.foreach { case (k, v) => o.add(k, (v - fs0(k)).toDouble) }
    o.add("jvm.gc_ms", (gcMs() - gc0).toDouble)
    val mine = jobsById.values.asScala.filter(_.op == o.id).toSeq
    mine.foreach { j =>
      val end = if (j.endMs >= 0) j.endMs else j.startMs
      o.jobs += ((epochToNs(j.startMs), epochToNs(end)))
    }
    o.add("spark.jobs", mine.size)
    o.add("spark.stages", mine.map(_.stages.size).sum)
    o.add("spark.job_ms", mine.map(j => math.max(0L, j.endMs - j.startMs)).sum)
    jobsById.values.removeIf(_.op == o.id)
    val t = Option(taskSums.remove(o.id)).getOrElse(new Array[Long](7))
    o.add("spark.tasks", t(TTasks))
    o.add("spark.exec_run_ms", t(TRun))
    o.add("spark.exec_cpu_ms", t(TCpu))
    o.add("spark.shuffle_read_bytes", t(TShR))
    o.add("spark.shuffle_write_bytes", t(TShW))
    o.add("spark.spill_bytes", t(TSpill))
    o.add("spark.records_read", t(TRecIn))
    val qes = qePhases.asScala.toSeq
    o.add("catalyst.query_executions", qes.size)
    o.add("catalyst.analysis_ms", qes.map(_.getOrElse("analysis", 0L)).sum)
    o.add("catalyst.optimization_ms", qes.map(_.getOrElse("optimization", 0L)).sum)
    o.add("catalyst.planning_ms", qes.map(_.getOrElse("planning", 0L)).sum)
    val ps = progress.asScala.toSeq
    o.add("streaming.batches", ps.count(_.contains("addBatch")))
    o.add("streaming.query_planning_ms", ps.map(_.getOrElse("queryPlanning", 0L)).sum)
    o.add("streaming.get_batch_ms", ps.map(_.getOrElse("getBatch", 0L)).sum)
    o.add("streaming.add_batch_ms", ps.map(_.getOrElse("addBatch", 0L)).sum)
    o.add("streaming.wal_commit_ms", ps.map(_.getOrElse("walCommit", 0L)).sum)
    o.add("streaming.commit_offsets_ms", ps.map(_.getOrElse("commitOffsets", 0L)).sum)
    // stage ids of finished jobs are no longer needed
    stageOp.values.removeIf(_ == o.id)
  }
}

object Ledger {
  /** Session confs for a traced run. The Catalyst and streaming listeners
    * are named in the static confs, so Spark attaches them to every
    * session, including those a query derives with `newSession`. */
  val TracedConf: Seq[(String, String)] = Seq(
    "spark.sql.queryExecutionListeners" -> classOf[QePhaseListener].getName,
    "spark.sql.streaming.streamingQueryListeners" -> classOf[ProgressListener].getName)

  private[perfbench] val qePhases = new ConcurrentLinkedQueue[Map[String, Long]]()
  private[perfbench] val progress = new ConcurrentLinkedQueue[Map[String, Long]]()
}

/** Records the Catalyst phase times of every QueryExecution. */
class QePhaseListener extends QueryExecutionListener {
  private def phases(qe: QueryExecution): Unit =
    Ledger.qePhases.add(qe.tracker.phases.map { case (k, v) => k -> v.durationMs })
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
}

/** Records the `durationMs` phases of every micro-batch. */
class ProgressListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    Ledger.progress.add(e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
}
