package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener pair for the traced run. Every event is tagged with the op
  * that caused it through the job group the harness sets before each call
  * (`pb-<op>-<phase>`); events with no such group (warmup, checks) are
  * dropped. Records stay in memory until the harness takes them per op. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  /** The op whose query executions are being recorded. The harness drains
    * the listener bus before it moves this on, so query-execution events
    * (which carry no job group) land on the right op. */
  @volatile var currentOp: Int = -1

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val stageOp = mutable.HashMap.empty[Int, (Int, String)]
  private val qes = mutable.ArrayBuffer.empty[QeRec]
  private val blocks = mutable.HashMap.empty[(Int, String), Long]
  private var blockBytes = 0L
  private var peakBlockBytes = 0L

  private def opOf(props: java.util.Properties): Option[(Int, String)] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .collect { case GroupRe(op, phase) => (op.toInt, phase) }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    opOf(e.properties).foreach { case (op, phase) =>
      jobs(e.jobId) = JobRec(e.jobId, op, phase, e.time, -1L, e.stageIds)
      e.stageIds.foreach(s => stageOp(s) = (op, phase))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      opOf(e.properties).foreach(o => stageOp(e.stageInfo.stageId) = o)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { case (op, _) =>
      val s = stages.getOrElseUpdate((e.stageId, e.stageAttemptId),
        StageRec(e.stageId, op))
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inBytes += m.inputMetrics.bytesRead
        s.inRecords += m.inputMetrics.recordsRead
        if (m.inputMetrics.recordsRead > 0) s.scanTasks += 1
        s.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      stages.get((i.stageId, i.attemptNumber())).foreach { s =>
        s.start = i.submissionTime.getOrElse(-1L)
        s.end = i.completionTime.getOrElse(-1L)
      }
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val info = e.blockUpdatedInfo
      info.blockId.asRDDId.foreach { rdd =>
        val id = (rdd.rddId, rdd.name)
        val size =
          if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        blockBytes += size - blocks.getOrElse(id, 0L)
        if (size > 0) blocks(id) = size else blocks.remove(id)
        peakBlockBytes = math.max(peakBlockBytes, blockBytes)
      }
    }

  private def recordQe(qe: QueryExecution, ok: Boolean): Unit = synchronized {
    if (currentOp >= 0) {
      val phases = qe.tracker.phases.map { case (k, v) =>
        k -> (v.startTimeMs, v.endTimeMs) }
      val plan = PlanHash.of(qe)
      qes += QeRec(currentOp, phases, plan, ok)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = recordQe(qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = recordQe(qe, ok = false)

  /** Storage memory held by the blocks of the given cached RDDs. */
  def cachedBytes(rdds: collection.Set[Int]): Long = synchronized {
    blocks.collect { case ((rdd, _), size) if rdds(rdd) => size }.sum
  }

  /** Restarts the peak of cached bytes at the current level. */
  def resetPeak(): Unit = synchronized { peakBlockBytes = blockBytes }

  def peakCachedBytes: Long = synchronized(peakBlockBytes)

  /** Removes and returns everything recorded for `op`. */
  def take(op: Int): (Seq[JobRec], Seq[StageRec], Seq[QeRec]) = synchronized {
    val js = jobs.values.filter(_.op == op).toSeq
    js.foreach(j => jobs.remove(j.id))
    val ss = stages.filter(_._2.op == op).toSeq
    ss.foreach(s => stages.remove(s._1))
    val qs = qes.filter(_.op == op).toSeq
    qes --= qs
    (js, ss.map(_._2), qs)
  }
}

object Tracer {
  val GroupRe = "pb-(\\d+)-(\\w+)".r

  final case class JobRec(id: Int, op: Int, phase: String, start: Long,
                          var end: Long, stageIds: Seq[Int])

  final case class StageRec(id: Int, op: Int) {
    var start = -1L; var end = -1L
    var tasks = 0L; var scanTasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var inBytes = 0L; var inRecords = 0L; var outBytes = 0L
  }

  /** phase name -> (start, end) epoch ms */
  final case class QeRec(op: Int, phases: Map[String, (Long, Long)],
                         planHash: String,
                         ok: Boolean)
}

/** A hash of an executed plan that is stable across runs: expression ids,
  * plan ids and object addresses are masked before hashing. */
object PlanHash {
  private val volatileParts =
    "#\\d+L?|plan_id=\\d+|@[0-9a-f]{6,}|\\d{13,}|/[^\\s,\\]]*".r

  def of(qe: QueryExecution): String =
    try hash(qe.executedPlan.treeString)
    catch { case _: Throwable => "" }

  def hash(plan: String): String = {
    val text = volatileParts.replaceAllIn(plan, "_")
    val md = java.security.MessageDigest.getInstance("SHA-1")
    md.digest(text.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
  }
}
