package perfbench

import java.nio.file.{Files, Paths}

/** JVM half of the harness self-tests: listener attribution of jobs to
  * the op that ran them, the job-interval union, and the
  * `bytes_per_user_byte` accounting. `SelfTest <scratch dir>`; exits 1
  * on the first failed assertion. */
object SelfTest {
  private def expect(cond: Boolean, what: String): Unit = {
    println(s"[selftest] ${if (cond) "ok  " else "FAIL"} $what")
    if (!cond) sys.exit(1)
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = Main.session(2, dir)
    val sc = spark.sparkContext
    try {
      // -- attribution by job group, delivered after both ops finished
      var current = -1
      val sub = new Substrate(() => current)
      sc.addSparkListener(sub)
      sc.setJobGroup("op-1", "a", interruptOnCancel = false)
      // RDD actions: exactly one job each (SQL actions may split into
      // several adaptive jobs)
      sc.parallelize(1 to 100, 2).count(); sc.parallelize(1 to 100, 2).count()
      sc.setJobGroup("op-2", "b", interruptOnCancel = false)
      (1 to 3).foreach(_ => sc.parallelize(1 to 1000, 3).map(x => (x % 7, x)).reduceByKey(_ + _).count())
      sc.clearJobGroup()
      // a job without an op group (a streaming micro-batch's shape)
      // belongs to the op in flight
      current = 7
      sc.parallelize(1 to 10, 1).count()
      Substrate.drain(spark)
      current = -1
      sc.removeSparkListener(sub)
      expect(sub.counters(1).jobs == 2, s"op-1 ran 2 jobs (saw ${sub.counters(1).jobs})")
      expect(sub.counters(2).jobs == 3, s"op-2 ran 3 jobs (saw ${sub.counters(2).jobs})")
      expect(sub.counters(7).jobs == 1, s"ungrouped job goes to the op in flight (saw ${sub.counters(7).jobs})")
      expect(sub.counters(2).stages >= 6 && sub.counters(2).tasks > sub.counters(1).tasks,
        "op-2's shuffle stages and tasks are its own")
      expect(sub.counters(1).jobIntervals.forall { case (a, b) => b >= a && b != Long.MaxValue },
        "every job interval is closed")

      // -- attach/detach around one op
      val session = new SubstrateSession(spark)
      session.attach(11)
      sc.parallelize(1 to 50, 2).count()
      session.detach()
      sc.parallelize(1 to 50, 2).count() // after detach: not counted
      Substrate.drain(spark)
      expect(session.sub.counters(11).jobs == 1 && session.sub.byOp.keySet == Set(11),
        "an attached session counts only the op it was attached for")

      // -- job interval union
      val c = new OpCounters
      c.jobIntervals ++= Seq((0L, 10L), (5L, 20L), (30L, 40L))
      expect(c.jobUnionMs(0L, 35L) == 25L, s"job union clips and merges (saw ${c.jobUnionMs(0L, 35L)})")

      // -- bytes accounting
      val root = Paths.get(dir, "acct")
      def put(rel: String, n: Int): Unit = {
        val p = root.resolve(rel)
        Files.createDirectories(p.getParent)
        Files.write(p, new Array[Byte](n))
      }
      put("m=1/part-0.parquet", 1000)
      put("m=1/.part-0.parquet.crc", 16)
      put("_stats/seg-0", 200)
      put(".bloom", 50)
      put("snapshot/x/m=1/part-0.parquet", 1000)
      expect(Check.treeBytes(root.toString) == 2266L, "treeBytes counts data, sidecars, checksums, snapshots")
      expect(Check.sidecarBytes(root.toString) == 250L, "sidecarBytes counts hidden sidecars only")
      expect(Lake.dataFiles(root.toString) == ((2L, 2000L)), "dataFiles skips hidden files")
      val df = spark.range(5000).selectExpr("id", "id * 3 AS v")
      val same = Paths.get(dir, "same").toString
      df.coalesce(1).write.option("compression", "zstd").parquet(same)
      val r = Check.bytesRatio(spark, same, spark.read.parquet(same), Paths.get(dir, "plain").toString)
      expect(math.abs(r - 1.0) < 0.02, f"a dataset already in plain layout has ratio 1 (saw $r%.4f)")

      // -- scan_files_ratio: the scans below adaptive query stages count
      val lake = graft.ds.GraftDataset(Paths.get(dir, "lake").toString, partitioning = Seq("m"))
      graft.ds.DatasetWriter(lake, graft.ds.WriteMode.Delta).withDeltaSubset("id")
        .write(spark, spark.range(4000).selectExpr("id", "id % 4 AS m", "id * 0.5 AS v"))
      graft.ds.AutoPrune.enable(spark)
      lake.register(spark, "selftest_lake")
      val q = spark.sql("SELECT count(*) AS n, sum(v) AS s FROM selftest_lake WHERE id BETWEEN 10 AND 50")
      q.collect()
      val scanned = Lake.scannedFiles(q)
      val listed = lake.dataFileStatuses(spark).size
      expect(scanned > 0 && scanned <= listed,
        s"the executed SQL plan's scans read files (saw $scanned of $listed)")
    } finally spark.stop()
  }
}
