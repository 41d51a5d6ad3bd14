package graft.ds

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Try
import graft.SparkTestSession

/** A [[GraftTestFs]] under its own scheme that crashes one filesystem
  * step once armed: the k-th `rename` (or `delete`) whose path matches
  * throws, as if the process died there. Every later call succeeds, so
  * `vacuum` and the assertions run on the crashed state. State lives in
  * the companion: Spark's task threads reach the same instance through
  * Hadoop's FileSystem cache, or a fresh one that shares it. */
class CrashingTestFs extends GraftTestFs {
  override def getScheme: String = "graftcrash"
  override def getUri: java.net.URI = java.net.URI.create("graftcrash:///")
  override def rename(src: Path, dst: Path): Boolean = {
    CrashingTestFs.step("rename", src)
    super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    CrashingTestFs.step("delete", f)
    super.delete(f, recursive)
  }
}

object CrashingTestFs {
  private var op = ""
  private var left = 0
  private var matching: Path => Boolean = _ => true
  private var fired = false

  def arm(op: String, k: Int, matching: Path => Boolean = _ => true): Unit = synchronized {
    this.op = op; left = k; this.matching = matching; fired = false
  }

  /** Disarm; true iff the crash fired since [[arm]]. */
  def disarm(): Boolean = synchronized { op = ""; fired }

  private def step(o: String, p: Path): Unit = synchronized {
    if (o == op && !fired && matching(p)) {
      left -= 1
      if (left == 0) {
        fired = true
        throw new java.io.IOException(s"injected crash at $o $p")
      }
    }
  }
}

/** Crash consistency of the staged-rewrite commit and of the rewrites
  * that used to keep their own copy of it. The crash-point tests fail
  * every rename in turn (Spark's own commit renames included) and check
  * the guarantee `vacuum` gives: each directory holds exactly its
  * before rows or its after rows, and the lock is free. The fixtures move
  * no key across partitions — a crash there can leave a moved key absent
  * (never duplicated), which re-running the batch heals. */
class StagedRewriteSpec extends AnyFunSuite {
  lazy val spark = {
    val s = SparkTestSession.spark
    s.sparkContext.hadoopConfiguration.set("fs.graftcrash.impl", classOf[CrashingTestFs].getName)
    s
  }
  import spark.implicits._

  private def local(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
  }

  private def rowsOf(id: Long, v: String, p: Int) = (id, v, p)
  private val base = (1L to 12L).map(i => rowsOf(i, s"v$i", (i % 3).toInt))

  /** A two-batch fixture (two files per partition dir at least) with a
    * bloom index and a stats index, so every sidecar step runs. */
  private def template(partitioned: Boolean): String = {
    val path = local("graft_crash_tpl") + "/ds"
    val ds = GraftDataset(path, partitioning = if (partitioned) Seq("p") else Nil)
    val w = DatasetWriter(ds).withDeltaSubset("id").withBloomIndex
    w.write(spark, base.take(6).toDF("id", "v", "p").coalesce(1))
    w.write(spark, base.drop(6).toDF("id", "v", "p").coalesce(1))
    StatsIndex.build(spark, ds, Seq("id"))
    path
  }

  /** Rows per partition value (one group for a root-form dataset). */
  private def byDir(rows: Seq[(Long, String, Int)], partitioned: Boolean): Map[Int, Seq[String]] =
    rows.groupBy(r => if (partitioned) r._3 else -1)
      .map { case (p, rs) => p -> rs.map(r => s"${r._1},${r._2},${r._3}").sorted }

  private def live(ds: GraftDataset): Seq[(Long, String, Int)] =
    ds.df(spark).select(col("id"), col("v"), col("p").cast("int")).as[(Long, String, Int)]
      .collect().toSeq

  /** Crash at every rename of `op` in turn until it completes; returns
    * the number of crash points exercised. */
  private def crashEveryRename(name: String, partitioned: Boolean,
      after: Seq[(Long, String, Int)])(op: GraftDataset => Unit): Int = {
    val tpl = template(partitioned)
    val before = byDir(base, partitioned)
    val expected = byDir(after, partitioned)
    var k = 0
    var completed = false
    while (!completed) {
      k += 1
      assert(k <= 200, s"$name: no completion after 200 crash points")
      val path = local("graft_crash") + "/ds"
      copyTree(tpl, path)
      val ds = GraftDataset(s"graftcrash://$path",
        partitioning = if (partitioned) Seq("p") else Nil)
      CrashingTestFs.arm("rename", k)
      val outcome = Try(op(ds))
      completed = !CrashingTestFs.disarm()
      if (completed) assert(outcome.isSuccess, s"$name failed without a crash: $outcome")
      ds.vacuum(spark)
      val got = byDir(live(ds), partitioned)
      (before.keySet ++ expected.keySet ++ got.keySet).foreach { p =>
        val g = got.getOrElse(p, Nil)
        val ok = if (completed) g == expected.getOrElse(p, Nil)
          else g == before.getOrElse(p, Nil) || g == expected.getOrElse(p, Nil)
        assert(ok, s"$name, crash at rename $k: dir p=$p holds $g")
      }
      val fs = ds.fs(spark)
      val root = new Path(ds.path)
      val residue = fs.listStatus(root.getParent).map(_.getPath.getName)
        .filter(n => n.startsWith(".ds__") && (n.endsWith("_tmp") || n.endsWith("__swap_old")))
      assert(residue.isEmpty, s"$name, crash at rename $k: staging residue ${residue.toSeq}")
      // the next writer gets the lock at once: nothing was left held
      DatasetLock.withLock(fs, root, acquireTimeoutMs = 0L)(())
    }
    info(s"$name: ${k - 1} crash points, then a clean run")
    k
  }

  private val upsertBatch = Seq(rowsOf(1, "new1", 1), rowsOf(3, "new3", 0),
    rowsOf(13, "v13", 1), rowsOf(15, "v15", 3))
  private val upserted =
    base.filterNot(r => upsertBatch.exists(_._1 == r._1)) ++ upsertBatch
  private def upsert(ds: GraftDataset): Unit = {
    DatasetWriter(ds, WriteMode.Upsert).withDeltaSubset("id")
      .write(spark, upsertBatch.toDF("id", "v", "p"))
    ()
  }

  private val doomed = col("p") === 2 || col("id") === 3
  private val deleted = base.filterNot(r => r._3 == 2 || r._1 == 3)
  private def delete(ds: GraftDataset): Unit = {
    DatasetDelete.deleteWhere(spark, ds, doomed)
    ()
  }

  private def compact(ds: GraftDataset): Unit = {
    Repartition.compact(spark, ds)
    ()
  }

  test("crash at every rename of a partition-scoped upsert: each dir before or after") {
    assert(crashEveryRename("partition upsert", partitioned = true, upserted)(upsert) > 1)
  }

  test("crash at every rename of a root-swap upsert: root before or after") {
    assert(crashEveryRename("root upsert", partitioned = false, upserted)(upsert) > 1)
  }

  test("crash at every rename of a partition-scoped deleteWhere: each dir before or after") {
    assert(crashEveryRename("partition delete", partitioned = true, deleted)(delete) > 1)
  }

  test("crash at every rename of a root-swap deleteWhere: root before or after") {
    assert(crashEveryRename("root delete", partitioned = false, deleted)(delete) > 1)
  }

  test("crash at every rename of a partitioned compact: rows never change") {
    assert(crashEveryRename("partition compact", partitioned = true, base)(compact) > 1)
  }

  test("crash at every rename of a root compact: rows never change") {
    assert(crashEveryRename("root compact", partitioned = false, base)(compact) > 1)
  }

  test("crash at every rename of an in-place repartition: rows never change") {
    assert(crashEveryRename("in-place repartition", partitioned = true, base) { ds =>
      Repartition.run(spark, ds, ds)
      ()
    } > 1)
  }

  test("a crashed schema-unify rewrite leaves no duplicate rows after vacuum") {
    val path = local("graft_unify_crash") + "/ds"
    val ds = GraftDataset(s"graftcrash://$path")
    // two physical schemas: a:int (2 rows, rewritten) and a:long (1 row)
    DatasetWriter(ds).write(spark, spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(1), org.apache.spark.sql.Row(2)),
      StructType(Seq(StructField("a", IntegerType)))))
    DatasetWriter(ds).write(spark, spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(9L)),
      StructType(Seq(StructField("a", LongType)))))
    // crash at the first delete of an original file: the rewritten
    // copies are already promoted beside it
    CrashingTestFs.arm("delete", 1, _.getName.endsWith(".parquet"))
    val outcome = Try(DatasetWriter.unifySchemaRewrite(spark, ds))
    assert(CrashingTestFs.disarm() && outcome.isFailure, "the injected crash must fire")
    ds.vacuum(spark)
    assert(ds.df(spark).count() == 3, "vacuum must leave exactly the 3 logical rows")
    assert(ds.df(spark).select("a").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 9L))
  }

  test("deleteWhere and compact keep the time-batch layout") {
    val path = local("graft_timebatch_delete") + "/ds"
    val ds = GraftDataset(path)
    val day = 24L * 3600 * 1000
    def batch(ids: Seq[Long]) = ids.map(i => (i, new Timestamp(1704067200000L + (i % 3) * day)))
      .toDF("id", "ts")
    val w = DatasetWriter(ds, WriteMode.Append).withTimeBatch("ts", "1d")
    w.write(spark, batch(0L until 6L))
    val root = new java.io.File(path)
    def bucketDirs = root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("__time_bucket="))
    def rootFiles = root.listFiles().filter(f => f.isFile && f.getName.endsWith(".parquet"))
    val buckets = bucketDirs.map(_.getName).toSet
    assert(buckets.size == 3)

    assert(DatasetDelete.deleteWhere(spark, ds, col("id") === 1L) == 1)
    assert(bucketDirs.map(_.getName).toSet == buckets, "the time-bucket dirs must survive the delete")
    assert(rootFiles.isEmpty, s"no data files at the root: ${rootFiles.map(_.getName).toSeq}")
    assert(ds.df(spark).select("id").as[Long].collect().sorted.toSeq == Seq(0L, 2L, 3L, 4L, 5L))

    // a second time-batched write lands in the same layout, and compact
    // merges each bucket's files without flattening them either
    w.write(spark, batch(6L until 12L))
    val stats = Repartition.compact(spark, ds)
    assert(stats.partitionsCompacted == 3, stats.toString)
    assert(bucketDirs.map(_.getName).toSet == buckets)
    assert(bucketDirs.forall(_.listFiles().count(_.getName.endsWith(".parquet")) == 1))
    assert(rootFiles.isEmpty)
    assert(ds.df(spark).select("id").as[Long].collect().sorted.toSeq ==
      (0L until 12L).filterNot(_ == 1L))
  }
}
