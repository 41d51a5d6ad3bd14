package perfbench

import java.nio.file.{Files, Path => JPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Correctness and layout helpers. Everything here runs outside the
  * timed spans. */
object Check {

  /** Order-independent digest of a DataFrame: (row count, sum of a
    * per-row 64-bit hash). Doubles are rounded to 6 decimals first so
    * a change of summation order cannot flip the digest. */
  def digest(df: DataFrame, cols: Seq[String] = Nil): (Long, BigDecimal) = {
    val use = if (cols.isEmpty) df.columns.toSeq else cols
    val normalized = use.map { c =>
      df.schema(c).dataType match {
        case DoubleType | FloatType => round(col(c).cast("double"), 6).as(c)
        case _ => col(c)
      }
    }
    val r = df.select(normalized: _*)
      .agg(count(lit(1)), sum(xxhash64(use.map(col): _*).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  def digestString(d: (Long, BigDecimal)): String = s"${d._1}:${d._2}"

  /** Bytes of every regular file under `root`: data, sidecars, snapshot
    * copies, checksums. */
  def treeBytes(root: String): Long = {
    val p = java.nio.file.Paths.get(root)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong((f: JPath) => Files.size(f)).sum()
      finally s.close()
    }
  }

  /** Bytes of the hidden sidecar files of a dataset root (names starting
    * with `_` or `.` anywhere on the path below the root, minus the
    * checksums of data files). */
  def sidecarBytes(root: String): Long = {
    val p = java.nio.file.Paths.get(root)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).filter { f =>
        val rel = p.relativize(f).toString.split('/')
        rel.exists(seg => seg.startsWith("_") && !seg.contains("=")) ||
          (rel.last.startsWith(".") && !rel.last.endsWith(".parquet.crc"))
      }.mapToLong((f: JPath) => Files.size(f)).sum()
      finally s.close()
    }
  }

  /** `bytes_per_user_byte`: bytes under the dataset root divided by the
    * bytes of the same live rows written once as plain zstd parquet. */
  def bytesRatio(spark: SparkSession, root: String, live: DataFrame, scratch: String): Double = {
    live.coalesce(1).write.mode("overwrite").option("compression", "zstd").parquet(scratch)
    treeBytes(root).toDouble / treeBytes(scratch).toDouble
  }
}
