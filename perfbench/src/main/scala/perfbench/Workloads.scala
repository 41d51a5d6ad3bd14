package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.Instant
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ds._
import graft.meta.TimeFly
import graft.streaming.EventsStream

/** Shared lake helpers. */
object Lake {
  val Keys: Seq[String] = Seq("l_orderkey", "l_linenumber")
  val LineCols: Seq[String] = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate", "ship_month")

  /** (files, bytes) of the visible data files under a dataset root. */
  def dataFiles(root: String): (Long, Long) = {
    val p = Paths.get(root)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val fs = s.filter(Files.isRegularFile(_)).filter { f =>
          p.relativize(f).toString.split('/').forall(seg =>
            !seg.startsWith(".") && (!seg.startsWith("_") || seg.contains("="))) &&
            f.getFileName.toString.endsWith(".parquet")
        }.toArray.map(_.asInstanceOf[java.nio.file.Path])
        (fs.length.toLong, fs.map(Files.size(_)).sum)
      } finally s.close()
    }
  }

  /** Listing probe through the library's own file listing. */
  def listProbe(spark: SparkSession, ds: GraftDataset): Map[String, Double] = {
    val t0 = System.nanoTime()
    val n = Trace.span("core.list")(ds.dataFileStatuses(spark).size)
    Map("core.list_ms" -> (System.nanoTime() - t0) / 1e6, "core.files_listed" -> n.toDouble)
  }

  /** Files the executed plan's scans read (FileSourceScanExec numFiles).
    * Adaptive query stages are leaves of the final plan, so the walk
    * descends into each stage's own plan to reach the scans below it. */
  def scannedFiles(df: DataFrame): Double = {
    def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case q: QueryStageExec => leaves(q.plan)
      case other => other +: (other.children.flatMap(leaves) ++
        other.subqueries.flatMap(leaves))
    }
    leaves(df.queryExecution.executedPlan)
      .filter(_.nodeName.startsWith("Scan"))
      .flatMap(_.metrics.get("numFiles")).map(_.value.toDouble).sum
  }
}

// ------------------------------------------------------------------ ingest
/** Batches advancing in ship date, written alternately with Delta and
  * Upsert. After every 2 writes: a maintenance block (snapshot,
  * compaction, delete, time-travel read), three pairs of analyst reads
  * beside the writes (a stats-pruned point lookup on l_orderkey and a
  * SQL aggregate over the registered view with AutoPrune), and one
  * micro-batch of the events feed. Reads and other sub-300 ms ops are
  * more than half the cycle, so the median falls inside their latencies
  * rather than on the boundary between two op kinds. */
final class Ingest(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val root = s"${ctx.work}/ingest_lake"
  private val tf = new TimeFly(spark, root)
  private val ds = GraftDataset(tf.currentPath.toString, partitioning = Seq("ship_month"),
    clusterBy = Seq("l_orderkey"))
  private val modes = ctx.str("ops").split(",").toSeq
  private val batchRows = ctx.str("batch_rows").split(",").map(_.toLong).toSeq
  private val probes = ctx.str("probes").split(",").map(_.toLong).toSeq
  private val feed = new EventsFeed(ctx)
  private def batchPath(b: Int) = f"${ctx.input}/ingest/batch_$b%04d.parquet"

  // the op stream: a Delta and an Upsert write, then snapshot, compact,
  // delete, time travel, three point lookups each followed by a SQL
  // aggregate (argument: the probe key's index), and one events slice
  private val stream: IndexedSeq[(String, Int)] = {
    val out = ArrayBuffer.empty[(String, Int)]
    modes.indices.foreach { b =>
      out += (modes(b) -> b)
      if ((b + 1) % 2 == 0) {
        val cyc = b / 2
        Seq("snapshot", "compact", "delete", "timetravel").foreach(k => out += (k -> cyc))
        (0 until 3).foreach(j => out ++= Seq("point" -> (3 * cyc + j), "sql" -> (3 * cyc + j)))
        out += ("stream" -> cyc)
      }
    }
    out.toIndexedSeq
  }
  private var pos = 0
  // one whole cycle runs before the clock starts; two are timed
  override val cycle = 13
  val warmupOps = cycle
  override val minTimedOps = 2 * cycle
  val bytesAt = cycle

  // state for the last-write-wins reconstruction: applied events in order
  private sealed trait Event
  private final case class Wrote(seq: Int, path: String) extends Event
  private final case class Deleted(month: Int, maxQty: Double) extends Event
  private val events = ArrayBuffer.empty[Event]
  private val snapshots = ArrayBuffer.empty[(String, Instant, Int)] // id, instant, events applied
  private var lastFiles = (0L, 0L)

  private def writer(mode: WriteMode) = DatasetWriter(ds, mode)
    .withClusterBy("l_orderkey").withDeltaSubset(Lake.Keys: _*).withDeltaWindow("l_shipdate")

  def setup(): Unit = {
    tf.init("ingest")
    val base = s"${ctx.input}/ingest/base.parquet"
    writer(WriteMode.Delta).write(spark, spark.read.parquet(base))
    events += Wrote(0, base)
    StatsIndex.build(spark, ds, Seq("l_orderkey", "l_shipdate"))
    AutoPrune.enable(spark)
    feed.setup()
  }

  def hasNext: Boolean = pos < stream.size

  private def plain: DataFrame = spark.read.parquet(ds.path)

  private def sameRows(a: Array[Row], b: Array[Row]): Boolean =
    a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted)

  override def observe(): Unit = lastFiles = Lake.dataFiles(ds.path)

  /** Write-path counters. Rows written is the writer's own count: for an
    * upsert that is every row of the partitions it rewrote, so the keep
    * ratio (the delta anti-join's useful share) is reported for Delta
    * writes only. */
  private def writeLayer(delta: Boolean, rowsIn: Long, written: Long): () => Map[String, Double] = () => {
    val (f0, b0) = lastFiles
    val (f1, b1) = Lake.dataFiles(ds.path)
    Map("ds.write_rows_in" -> rowsIn.toDouble, "ds.write_rows_written" -> written.toDouble,
      "ds.files_added" -> (f1 - f0).toDouble, "ds.bytes_added" -> (b1 - b0).toDouble,
      "ds.sidecar_bytes" -> Check.sidecarBytes(ds.path).toDouble) ++
      (if (delta) Map("ds.write_keep_ratio" -> written.toDouble / rowsIn) else Map.empty) ++
      Lake.listProbe(spark, ds)
  }

  private def snapshotInstant(cycle: Int) = Instant.parse("2030-01-01T00:00:00Z").plusSeconds(3600L * cycle)

  def next(): Op = {
    val (kind, arg) = stream(pos)
    pos += 1
    kind match {
      case "stream" => Op(kind, () => OpOut(feed.op(), () => true))
      case "delta" | "upsert" => Op(kind, () => {
        val mode = if (kind == "upsert") WriteMode.Upsert else WriteMode.Delta
        val n = Trace.span("ds.write")(writer(mode).write(spark, spark.read.parquet(batchPath(arg))))
        events += Wrote(arg + 1, batchPath(arg))
        OpOut(batchRows(arg), () => true, writeLayer(kind == "delta", batchRows(arg), n))
      })
      case "snapshot" => Op(kind, () => {
        val id = Trace.span("meta.snapshot") {
          val id = tf.addSnapshot(snapshotInstant(arg))
          // keep the three newest snapshots
          tf.availableSnapshots().dropRight(3).foreach(tf.deleteSnapshot)
          id
        }
        snapshots += ((id, snapshotInstant(arg), events.size))
        OpOut(0L, () => true, () => Map("meta.snapshot_bytes" ->
          Check.treeBytes(s"$root/snapshot/$id").toDouble) ++ Lake.listProbe(spark, ds))
      })
      case "compact" => Op(kind, () => {
        val st = Trace.span("ds.compact")(Repartition.compact(spark, ds))
        OpOut(0L, () => true, () => Map("ds.compact_files_in" -> st.filesBefore.toDouble,
          "ds.compact_files_out" -> st.filesAfter.toDouble) ++ Lake.listProbe(spark, ds))
      })
      case "delete" => Op(kind, () => {
        // small quantities in one older month: the month the first ship
        // dates of this cycle's first batch fall in
        val d = java.time.LocalDate.of(1992, 1, 1).plusDays((4L + 2L * arg) * 6L + 1L)
        val month = d.getYear * 100 + d.getMonthValue
        val maxQty = 5.0
        val pred = col("ship_month") === month && col("l_quantity") <= maxQty
        val n = Trace.span("ds.delete")(DatasetDelete.deleteWhere(spark, ds, pred))
        events += Deleted(month, maxQty)
        OpOut(0L, () => true, () => Map("ds.delete_rows" -> n.toDouble) ++ Lake.listProbe(spark, ds))
      })
      case "timetravel" => Op(kind, () => {
        // the oldest retained snapshot
        val live = tf.availableSnapshots().toSet
        val (id, at, applied) = snapshots.filter(s => live(s._1)).head
        val snapDs = Trace.span("meta.timetravel")(tf.read(Some(at.minusSeconds(1800))))
        val n = Trace.span("exec.count")(Trace.span("ds.df")(snapDs.df(spark)).count())
        OpOut(0L, () => snapDs.path.endsWith(id) && n > 0 &&
          Check.digest(snapDs.df(spark), Lake.LineCols) == expectedDigest(applied))
      })
      case "point" => Op(kind, () => {
        val pred = col("l_orderkey") === probes(arg)
        val p = Trace.span("ds.prune")(ds.pruned(spark, pred))
        val df = Trace.span("ds.df")(p.df(spark))
        val rows = Trace.span("exec.collect")(df.filter(pred).select(Lake.LineCols.map(col): _*)
          .collect())
        OpOut(0L, () => sameRows(rows,
          plain.filter(pred).select(Lake.LineCols.map(col): _*).collect()), () => {
          val probe = Lake.listProbe(spark, ds)
          val kept = if (p.files.isEmpty) probe("core.files_listed") else p.files.size.toDouble
          probe + ("ds.files_kept_ratio" -> kept / probe("core.files_listed"))
        })
      })
      case "sql" => Op(kind, () => {
        val (a, b) = (probes(arg), probes(arg) + 40)
        Trace.span("ds.register")(ds.register(spark, "lake"))
        val df = Trace.span("exec.sql")(spark.sql(
          "SELECT count(*) AS n, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS s " +
            s"FROM lake WHERE l_orderkey BETWEEN $a AND $b"))
        val rows = Trace.span("exec.collect")(df.collect())
        OpOut(0L, () => sameRows(rows,
          plain.filter(col("l_orderkey").between(a, b))
            .agg(count(lit(1)).as("n"), sum(col("l_extendedprice").cast("decimal(18,2)")).as("s"))
            .collect()), () => {
          val probe = Lake.listProbe(spark, ds)
          probe + ("ds.scan_files_ratio" -> Lake.scannedFiles(df) / probe("core.files_listed"))
        })
      })
    }
  }

  /** Last-write-wins reconstruction of the first `applied` events in
    * plain Spark: the newest version of each key, minus rows a later
    * delete matched. */
  private def expected(applied: Int): DataFrame = {
    val evs = events.take(applied).toSeq
    val writes = evs.collect { case w: Wrote => w }
    val all = writes.map(w => spark.read.parquet(w.path).withColumn("__seq", lit(w.seq)))
      .reduce(_ unionByName _)
    val w = Window.partitionBy(Lake.Keys.map(col): _*).orderBy(col("__seq").desc)
    var latest = all.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
    // a delete at position p removes rows last written before it
    evs.zipWithIndex.foreach {
      case (Deleted(month, q), p) =>
        val before = evs.take(p).collect { case x: Wrote => x.seq }.max
        latest = latest.filter(!(col("__seq") <= before && col("ship_month") === month &&
          col("l_quantity") <= q))
      case _ =>
    }
    latest.drop("__seq", "__rn")
  }

  private val digests = scala.collection.mutable.Map.empty[Int, (Long, BigDecimal)]
  private def expectedDigest(applied: Int) =
    digests.getOrElseUpdate(applied, Check.digest(expected(applied), Lake.LineCols))

  override def finish(records: Seq[OpRecord]): Seq[Int] = {
    val bad = ArrayBuffer.empty[Int]
    val lastWrite = records.filter(r => r.kind == "delta" || r.kind == "upsert").map(_.i).lastOption
    if (!feed.check()) bad ++= records.filter(_.kind == "stream").map(_.i).lastOption
    if (Check.digest(ds.df(spark), Lake.LineCols) != expectedDigest(events.size))
      bad ++= lastWrite
    val live = tf.availableSnapshots().toSet
    val snapOps = records.filter(_.kind == "snapshot").map(_.i)
    snapshots.zipWithIndex.foreach { case ((id, at, applied), k) =>
      if (live(id)) {
        val got = Check.digest(tf.read(Some(at.minusSeconds(1800))).df(spark), Lake.LineCols)
        if (got != expectedDigest(applied)) bad ++= snapOps.lift(k)
      }
    }
    bad.toSeq
  }

  def bytesRatio(): Double =
    Check.bytesRatio(spark, root, ds.df(spark), s"${ctx.work}/plain_ingest")

  override def close(): Unit = feed.close()
}

// ------------------------------------------------------------------ analytics
/** Read-only contract queries over the generated tables, forced through
  * a `noop` write; the seed permutes the key order on each pass. */
final class Analytics(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val dir = s"${ctx.input}/tables"
  private val ops = ctx.str("ops").split(",").toIndexedSeq
  private val pinned = ctx.str("pinned").split(",").filter(_.nonEmpty)
    .map { kv => val Array(k, v) = kv.split("="); k -> v }.toMap
  private val pinOut = Option(ctx.plan.getProperty("pin_out"))
  private var pos = 0
  // one pass over the keys warms up; two passes are timed
  override val cycle = ctx.int("keys")
  val warmupOps = cycle
  override val minTimedOps = 2 * cycle
  val bytesAt = Int.MaxValue
  // the input tables each key scans, for rows_per_s
  private val reads: Map[String, Seq[String]] = Map(
    "q1_pricing_summary" -> Seq("lineitem"),
    "q3_shipping_priority" -> Seq("customer", "orders", "lineitem"),
    "q9_profit_by_nation" -> Seq("lineitem", "orders", "supplier", "nation", "part"),
    "q18_large_orders" -> Seq("lineitem", "orders", "customer"),
    "q21_waiting_suppliers" -> Seq("lineitem", "orders", "supplier"),
    "j2_skew_join" -> Seq("lineitem", "orders"),
    "a6_percentiles" -> Seq("lineitem"),
    "x_corr_matrix" -> Seq("lineitem"),
    "x_dedup_ngram" -> Seq("documents"),
    "x_text_stats" -> Seq("documents"))
  private lazy val tableRows: Map[String, Long] = reads.values.flatten.toSet
    .map((t: String) => t -> spark.read.parquet(s"$dir/$t.parquet").count()).toMap

  def setup(): Unit = tableRows
  def hasNext: Boolean = pos < ops.size

  def next(): Op = {
    val key = ops(pos)
    pos += 1
    // the warm-up pass runs every key that the timed passes then check
    val warm = pos <= warmupOps
    Op(key, () => {
      val df = Trace.span("queries.build")(graft.SparkEntry.queries(key)(spark, dir))
      Trace.span("exec.noop")(df.write.format("noop").mode("overwrite").save())
      OpOut(reads(key).map(tableRows).sum, () => {
        // every timed op is checked: the op's own DataFrame, run again
        // after the clock stopped, must give the pinned digest
        val ok = warm || {
          val got = Check.digestString(Check.digest(df))
          pinOut.foreach(f => Files.writeString(Paths.get(f), s"$key=$got\n",
            java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND))
          pinOut.isDefined || pinned.get(key).contains(got) || {
            System.err.println(s"[perfbench] $key digest $got != pinned ${pinned.get(key)}"); false
          }
        }
        // drop what dedup/ANN pipelines persisted, as graft.Verify does
        spark.catalog.clearCache()
        ok
      })
    })
  }

  def bytesRatio(): Double = {
    val tables = reads.values.flatten.toSeq.distinct
    val plainDir = s"${ctx.work}/plain_tables"
    tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").coalesce(1).write.mode("overwrite")
      .option("compression", "zstd").parquet(s"$plainDir/$t"))
    tables.map(t => Check.treeBytes(s"$dir/$t.parquet")).sum.toDouble /
      tables.map(t => Check.treeBytes(s"$plainDir/$t")).sum
  }
}

// ------------------------------------------------------------------ events feed
/** The library's streaming path as a user calls it, driven from the
  * ingest workload: file-source events → `EventsStream.windowedAgg` →
  * `EventsStream.startDeltaSink` into a graft dataset beside the lake.
  * `startDeltaSink` runs with `Trigger.AvailableNow`, so one op lands one
  * slice file and runs the sink until it has caught up: query start, the
  * slice's micro-batch (which also emits the windows the watermark has
  * closed) and the sink's Delta write. */
final class EventsFeed(ctx: Ctx) {
  private val spark = ctx.spark
  private val landing = s"${ctx.work}/stream_landing"
  private val sink = s"${ctx.work}/stream_sink"
  private val ckpt = s"${ctx.work}/stream_ckpt"
  val sliceRows: IndexedSeq[Long] = ctx.str("slice_rows").split(",").map(_.toLong).toIndexedSeq
  private var next = 0
  private var last: StreamingQuery = _
  // the first query start, then the first sink writes and the first
  // windows closing run 1.5 to 6 times slower than later micro-batches;
  // set-up runs them
  private val setupSlices = 4

  private def agg: DataFrame =
    EventsStream.windowedAgg(EventsStream.readEvents(spark, landing, 1))

  private def land(): Long = {
    val name = f"slice_$next%05d.parquet"
    Files.move(Paths.get(s"${ctx.input}/stream/$name"), Paths.get(s"$landing/$name"),
      StandardCopyOption.ATOMIC_MOVE)
    next += 1
    sliceRows(next - 1)
  }

  private def runSink(): Unit = {
    last = EventsStream.startDeltaSink(agg, sink, ckpt)
    last.awaitTermination()
  }

  def setup(): Unit = {
    Files.createDirectories(Paths.get(landing))
    // one micro-batch per slice: the windows a slice's watermark closes
    // are emitted by the next slice's batch instead of an extra no-data
    // batch
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    (0 until setupSlices).foreach(_ => land())
    runSink()
  }

  /** Land the next slice and run the sink; returns the events landed. */
  def op(): Long = {
    val rows = land()
    Trace.span("streaming.sink")(runSink())
    rows
  }

  private def sinkDf: DataFrame =
    if (Files.exists(Paths.get(sink))) spark.read.parquet(sink)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      new org.apache.spark.sql.types.StructType()
        .add("window_start", "timestamp").add("event_type", "string")
        .add("n", "long").add("total_value", "double"))

  private val cols = Seq("window_start", "event_type", "n", "total_value")

  /** The sink must equal the same windowed aggregation computed in batch
    * over every landed file, restricted to the windows the watermark has
    * closed. */
  def check(): Boolean = {
    val wm = Option(last).flatMap(q => Option(q.lastProgress))
      .flatMap(p => Option(p.eventTime.get("watermark")))
      .map(s => java.sql.Timestamp.from(Instant.parse(s))).getOrElse(new java.sql.Timestamp(0L))
    val batch = EventsStream.windowedAgg(spark.read.schema(
      "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING")
      .parquet(landing))
      .filter(col("window_start") + expr("INTERVAL 1 HOUR") <= lit(wm))
    Check.digest(batch, cols) == Check.digest(sinkDf, cols)
  }

  def close(): Unit = if (last != null) { last.stop(); last.awaitTermination(30000) }
}
