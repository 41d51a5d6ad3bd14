package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-op Spark substrate counters, filled by the listeners below. */
final class OpCounters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskRunMs = 0L; var taskCpuNs = 0L; var schedDelayMs = 0L
  var inputBytes = 0L; var shuffleWriteBytes = 0L; var shuffleReadBytes = 0L
  var spillBytes = 0L; var outputBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val phasesMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val progress = mutable.ArrayBuffer.empty[Map[String, Long]]

  /** Length of the union of the job intervals, clipped to [lo, hi]. */
  def jobUnionMs(lo: Long, hi: Long): Long = {
    val iv = jobIntervals.map { case (a, b) => (a max lo, b min hi) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    for ((a, b) <- iv) {
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = curB max b
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Attributes Spark jobs, stages and tasks to benchmark ops. A job belongs
  * to the op named by its job group (`op-<id>`); a job with no such group
  * (a streaming micro-batch runs on the query's own thread) belongs to
  * `current`, the op in flight when the listener was attached. Events
  * arrive asynchronously; call [[Substrate.drain]] before reading. */
final class Substrate(current: () => Int) extends SparkListener {
  val byOp = mutable.Map.empty[Int, OpCounters]
  private val jobOp = mutable.Map.empty[Int, Int]
  private val stageOp = mutable.Map.empty[Int, Int]

  def counters(op: Int): OpCounters = synchronized(byOp.getOrElseUpdate(op, new OpCounters))

  private def opOfGroup(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .collect { case g if g.startsWith("op-") => g.stripPrefix("op-").toInt }
      .getOrElse(current())

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = opOfGroup(e.properties)
    if (op >= 0) {
      jobOp(e.jobId) = op
      val c = counters(op)
      c.jobs += 1
      c.stages += e.stageIds.size
      e.stageIds.foreach(s => stageOp(s) = op)
      c.jobIntervals += ((e.time, Long.MaxValue))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { op =>
      val iv = counters(op).jobIntervals
      val i = iv.lastIndexWhere(_._2 == Long.MaxValue)
      if (i >= 0) iv(i) = (iv(i)._1, e.time)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val c = counters(op)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        val total = e.taskInfo.finishTime - e.taskInfo.launchTime
        c.schedDelayMs += math.max(0L, total - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
      }
    }
  }
}

/** Planning phases of every query execution, from Spark's own
  * QueryPlanningTracker, attributed to the op in flight. */
final class PhaseListener(sub: Substrate, current: () => Int) extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit = {
    val op = current()
    if (op >= 0) sub.synchronized {
      val c = sub.counters(op)
      qe.tracker.phases.foreach { case (phase, s) => c.phasesMs(phase) += s.durationMs }
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** Micro-batch progress (durationMs phases, state operators) of the
  * streaming query, attributed to the op in flight. */
final class ProgressListener(sub: Substrate, current: () => Int) extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val op = current()
    if (op >= 0) {
      val p = e.progress
      import scala.jdk.CollectionConverters._
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val st = p.stateOperators
      val rec = d ++ Map(
        "numInputRows" -> p.numInputRows,
        "stateRows" -> st.map(_.numRowsTotal).sum,
        "stateCommitMs" -> st.map(_.commitTimeMs).sum)
      sub.synchronized(sub.counters(op).progress += rec)
    }
  }
}

/** Attaches the three listeners for one traced op and detaches them after
  * the listener bus has delivered the op's events. */
final class SubstrateSession(spark: SparkSession) {
  @volatile private var op = -1
  val sub = new Substrate(() => op)
  private val phases = new PhaseListener(sub, () => op)
  private val progress = new ProgressListener(sub, () => op)

  def attach(id: Int): Unit = {
    Substrate.drain(spark)
    op = id
    spark.sparkContext.addSparkListener(sub)
    spark.listenerManager.register(phases)
    spark.streams.addListener(progress)
  }

  def detach(): Unit = {
    Substrate.drain(spark)
    spark.sparkContext.removeSparkListener(sub)
    spark.listenerManager.unregister(phases)
    spark.streams.removeListener(progress)
    op = -1
  }
}

object Substrate {
  /** Block until every posted listener event has been delivered. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}
