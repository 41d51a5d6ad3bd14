package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** What one op hands back to the harness, all of it evaluated after the
  * op's clock has stopped: the user rows it accepted or served, its
  * correctness check, and (traced ops only) its per-layer counters. */
final case class OpOut(
    rows: Long,
    check: () => Boolean,
    layer: () => Map[String, Double] = () => Map.empty)

final case class Op(kind: String, run: () => OpOut)

final case class OpRecord(
    i: Int, kind: String, ms: Double, var ok: Boolean, rows: Long, traced: Boolean,
    startMs: Long, endMs: Long, layer: Map[String, Double], error: String)

/** A workload: set-up, a deterministic op stream, and end-of-run checks. */
trait Workload {
  /** Ops run before the clock starts (their checks still run). */
  def warmupOps: Int
  /** Timed op index after which the layout ratio is measured. */
  def bytesAt: Int
  /** Length of the workload's repeating op pattern. The timed phase ends
    * on a cycle boundary, so every run times the same mix of op kinds.
    * Traced runs trace every other op and flip the parity each cycle, so
    * every op kind is seen both traced and untraced within two cycles. */
  def cycle: Int = 1
  /** Ops the timed phase completes even past `--seconds`, so the median
    * is taken over enough samples. */
  def minTimedOps: Int = 12
  def setup(): Unit
  def hasNext: Boolean
  def next(): Op
  /** Called after every op in traced runs (state for layer diffs). */
  def observe(): Unit = ()
  /** `bytes_per_user_byte` of the current state. */
  def bytesRatio(): Double
  /** End-of-run checks; returns indices of ops found failed. */
  def finish(records: Seq[OpRecord]): Seq[Int] = Nil
  def close(): Unit = ()
}

final class Ctx(val spark: SparkSession, val plan: java.util.Properties) {
  def str(k: String): String = Option(plan.getProperty(k)).getOrElse(sys.error(s"plan lacks $k"))
  def int(k: String): Int = str(k).toInt
  val input: String = str("input")
  val work: String = str("work")
}

/** Benchmark JVM entry: `Main <plan.properties>`. Runs one workload and
  * writes the raw per-op records, spans and listener counters as one JSON
  * file; `run.py` turns them into metrics. */
object Main {
  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.default.parallelism", cpus.toString)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val plan = new java.util.Properties()
    val in = new java.io.FileInputStream(args(0))
    try plan.load(in) finally in.close()
    val work = plan.getProperty("work")
    val spark = session(plan.getProperty("cpus").toInt, work)
    val ctx = new Ctx(spark, plan)
    val wl: Workload = ctx.str("workload") match {
      case "ingest" => new Ingest(ctx)
      case "analytics" => new Analytics(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    try run(ctx, wl) finally { wl.close(); spark.stop(); phase("spark stopped") }
  }

  /** Log a phase boundary with the seconds since JVM start. */
  private def phase(what: String): Unit = System.err.println(f"[perfbench] $what at " +
    f"${(System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%.1f s")

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def run(ctx: Ctx, wl: Workload): Unit = {
    val spark = ctx.spark
    val seconds = ctx.int("seconds")
    val trace = ctx.int("trace") == 1
    val sc = spark.sparkContext

    wl.setup()
    var i = 0
    def runOne(traced: Boolean, sub: Option[SubstrateSession]): OpRecord = {
      val op = wl.next()
      val gc0 = gcMs
      sub.filter(_ => traced).foreach(_.attach(i))
      sc.setJobGroup(s"op-$i", op.kind, interruptOnCancel = false)
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val res = try Right(Trace.runOp(i, op.kind, traced)(op.run()))
        catch { case e: Throwable => Left(e) }
      val ms = (System.nanoTime() - t0) / 1e6
      val w1 = System.currentTimeMillis()
      sc.clearJobGroup()
      sub.filter(_ => traced).foreach(_.detach())
      val gc = (gcMs - gc0).toDouble
      val rec = res match {
        case Right(out) =>
          val layer = if (traced) out.layer() + ("jvm.gc_ms" -> gc) else Map.empty[String, Double]
          val (ok, err) = try (out.check(), "") catch { case e: Throwable => (false, e.toString) }
          OpRecord(i, op.kind, ms, ok, out.rows, traced, w0, w1, layer, err)
        case Left(e) =>
          System.err.println(s"[perfbench] op $i (${op.kind}) failed: $e")
          OpRecord(i, op.kind, ms, ok = false, 0L, traced, w0, w1, Map.empty, e.toString)
      }
      if (trace) wl.observe()
      if (!rec.ok) System.err.println(s"[perfbench] op $i (${op.kind}) check failed ${rec.error}")
      i += 1
      rec
    }

    val warm = ArrayBuffer.empty[OpRecord]
    while (warm.size < wl.warmupOps && wl.hasNext) warm += runOne(traced = false, None)
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val sub = if (trace) Some(new SubstrateSession(spark)) else None
    heapPools.foreach(_.resetPeakUsage())
    val timed = ArrayBuffer.empty[OpRecord]
    var measuredMs = 0.0
    var ratio = Double.NaN
    val wallCap = System.nanoTime() + (seconds * 4L + 60L) * 1000000000L
    val minOps = if (trace) wl.minTimedOps max (2 * wl.cycle) else wl.minTimedOps
    while (wl.hasNext && System.nanoTime() < wallCap &&
      (measuredMs < seconds * 1000.0 || timed.size < minOps || timed.size % wl.cycle != 0)) {
      val k = timed.size
      val rec = runOne(traced = trace && (k % wl.cycle + k / wl.cycle) % 2 == 1, sub)
      timed += rec
      measuredMs += rec.ms
      if (k + 1 == wl.bytesAt) ratio = wl.bytesRatio()
    }
    if (ratio.isNaN) ratio = wl.bytesRatio()
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    phase(s"timed phase done: ${timed.size} ops")
    val failedLate = wl.finish((warm ++ timed).toSeq).toSet
    phase("end-of-run checks done")
    (warm ++ timed).foreach(r => if (failedLate(r.i)) r.ok = false)
    sub.foreach(_ => Substrate.drain(spark))

    val out = new java.io.PrintWriter(ctx.str("out"), "UTF-8")
    try out.write(Json.obj(
      "setup_s" -> Json.num(setupS),
      "bytes_per_user_byte" -> Json.num(ratio),
      "warmup_attempted" -> Json.num(warm.size.toDouble),
      "warmup_failed" -> Json.num(warm.count(!_.ok).toDouble),
      "warmup_ms" -> Json.arr(warm.toSeq.map(r => Json.num(r.ms))),
      "ops" -> Json.arr(timed.toSeq.map(opJson)),
      "heap_peak_mb" -> Json.num(heapPeakMb),
      "spans" -> Json.arr(Trace.all.map(s => Json.obj(
        "op" -> Json.num(s.op.toDouble), "name" -> Json.str(s.name),
        "ms" -> Json.num((s.endNs - s.startNs) / 1e6),
        "parent" -> Json.num(s.parent.toDouble)))),
      "substrate" -> Json.arr(sub.toSeq.flatMap(_.sub.byOp.toSeq.sortBy(_._1)).map {
        case (op, c) =>
          val rec = timed.find(_.i == op)
          val (lo, hi) = rec.map(r => (r.startMs, r.endMs)).getOrElse((0L, 0L))
          Json.obj(
            "op" -> Json.num(op.toDouble),
            "jobs" -> Json.num(c.jobs.toDouble), "stages" -> Json.num(c.stages.toDouble),
            "tasks" -> Json.num(c.tasks.toDouble), "task_run_ms" -> Json.num(c.taskRunMs.toDouble),
            "task_cpu_ms" -> Json.num(c.taskCpuNs / 1e6),
            "sched_delay_ms" -> Json.num(c.schedDelayMs.toDouble),
            "job_union_ms" -> Json.num(c.jobUnionMs(lo, hi).toDouble),
            "input_bytes" -> Json.num(c.inputBytes.toDouble),
            "shuffle_write_bytes" -> Json.num(c.shuffleWriteBytes.toDouble),
            "shuffle_read_bytes" -> Json.num(c.shuffleReadBytes.toDouble),
            "spill_bytes" -> Json.num(c.spillBytes.toDouble),
            "output_bytes" -> Json.num(c.outputBytes.toDouble),
            "phases" -> Json.numMap(c.phasesMs.toMap.map { case (k, v) => k -> v.toDouble }),
            "progress" -> Json.arr(c.progress.toSeq.map(p =>
              Json.numMap(p.map { case (k, v) => k -> v.toDouble }))))
      })
    )) finally out.close()
  }

  private def opJson(r: OpRecord): String = Json.obj(
    "i" -> Json.num(r.i.toDouble), "kind" -> Json.str(r.kind), "ms" -> Json.num(r.ms),
    "ok" -> (if (r.ok) "true" else "false"), "rows" -> Json.num(r.rows.toDouble),
    "traced" -> (if (r.traced) "true" else "false"), "layer" -> Json.numMap(r.layer),
    "error" -> Json.str(r.error))
}

/** Minimal JSON writer for the run file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' || c > '~' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def numMap(m: Map[String, Double]): String = obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }: _*)
}
