package graft.ds

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** THE in-place rewrite commit, shared by upsert, delete, compaction and
  * in-place repartition. Each operation decides only which rows survive
  * and what its [[BloomIndex]] sidecar becomes; [[commit]] runs the
  * protocol in named phases:
  *
  *  1. '''scope''' — the whole root, or the leaf partition directories
  *     the operation read ([[partitionScope]] derives them from one
  *     scan, so untouched partitions are never read, written or renamed).
  *  1. '''stage''' — the surviving and new rows go through the one
  *     [[DatasetWriter]] body into a hidden sibling `.name__<op>_tmp`.
  *     The rows scan the LIVE target lazily, so nothing live is touched
  *     until the staged write has fully materialized.
  *  1. '''bloom''' — the caller's index is persisted BEFORE promotion
  *     (into the staged root, or onto the live root for partition scope,
  *     whose swaps leave the root sidecar in place). The superset
  *     contract tolerates keys whose rows never land (false positives);
  *     the reverse — live rows the filter lacks — makes the next delta
  *     re-append them as duplicates.
  *  1. '''promote''' — root: [[swapInPlace]]. Partitions: directories
  *     the scope read but the stage did not re-create (every row deleted
  *     or moved to another partition) are deleted FIRST, then each
  *     staged directory is swapped in, or renamed in where it is new.
  *     A row-preserving scope ([[Scope.SameDirs]]) deletes and creates
  *     nothing: it swaps only the dirs the stage re-created under the
  *     same name.
  *  1. '''refresh''' — [[refresh]]: row-group-bloom contract, fresh
  *     bloom build, stats index (rebuilt after a root swap killed it,
  *     maintained otherwise), bloom occupancy rebuild.
  *
  * Crash consistency is per DIRECTORY, the lake's atomic unit (the same
  * granularity as Spark's dynamic partition overwrite). A crash leaves
  * each directory either old or new, individually consistent;
  * [[GraftDataset.vacuum]] restores a `.…__swap_old` backup whose live
  * directory is missing (a crash between a swap's two renames) and
  * deletes staging and leftover backups. Deleting emptied partitions
  * before promotion means a crash in between can make a key moved across
  * partitions briefly ABSENT — re-running the same batch restores it,
  * since the stage is recomputed from the batch — but never duplicated
  * across its old and new partitions, a wrong-answer state no re-run or
  * vacuum could detect. A re-run of a crashed delete converges (rows
  * already gone count zero); compaction never changes rows.
  *
  * The schema-unify rewrite keeps files in place instead of swapping
  * directories; [[promoteFiles]] and [[recoverFiles]] give it the same
  * before-or-after guarantee. */
private[ds] object StagedRewrite {

  val UpsertTmp = "__upsert_tmp"
  val DeleteTmp = "__delete_tmp"
  val CompactTmp = "__compact_tmp"
  val RepartitionTmp = "__repartition_tmp"
  val SwapOld = "__swap_old"
  /** Sibling suffixes [[GraftDataset.vacuum]] treats as crash residue.
    * `__repartition_old` is no longer written; it stays so vacuum still
    * recovers datasets an older in-place repartition crashed on. */
  val SiblingSuffixes: Seq[String] =
    Seq(UpsertTmp, SwapOld, RepartitionTmp, "__repartition_old", CompactTmp, DeleteTmp)
  /** Prefix of the schema-unify staging dirs inside a dataset root. */
  val UnifyTmpPrefix = "_unify_tmp_"
  /** Hive column a `withTimeBatch` write partitions on. */
  val TimeBucket = "__time_bucket"
  private val RecordName = "_promote"

  def sibling(p: Path, suffix: String): Path = new Path(p.getParent, s".${p.getName}$suffix")

  sealed trait Scope
  object Scope {
    case object Root extends Scope
    /** Scopes that promote leaf partition dirs one by one. */
    sealed trait Leaves extends Scope
    /** `read`: leaf dirs (relative to the root) whose rows fed the
      * stage. A read dir the stage did not re-create is deleted. */
    final case class Partitions(read: Set[String]) extends Leaves
    /** Row-preserving rewrite of the leaf dirs `dirs` (compaction): only
      * a dir the stage re-created under the SAME name is swapped in; no
      * dir is deleted or created. Partition type inference can re-spell
      * a value (`m=01` reads back as 1, which Spark writes as `m=1`), so
      * the stage may miss a dir or name it differently — that dir stays
      * exactly as it is. */
    final case class SameDirs(dirs: Set[String]) extends Leaves
  }

  sealed trait Bloom
  object Bloom {
    /** Rows were only kept, dropped or moved: the sidecar stays a superset as is. */
    case object Keep extends Bloom
    /** Persist `next` before promotion; after refresh, rebuild it over
      * the live rows if its occupancy is over budget. */
    final case class Update(next: Option[BloomIndex.Index]) extends Bloom
  }

  final case class Committed(rows: Long, dirs: Int)

  /** The dataset's directory layout: its declared partitioning, plus the
    * writer-derived [[TimeBucket]] when a `withTimeBatch` write left
    * `__time_bucket=` dirs below it. Layout-preserving rewrites stage
    * with it, or they would flatten the buckets into a data column. One
    * listing per level, down the first branch only. */
  def layout(fs: FileSystem, ds: GraftDataset): Seq[String] = {
    def bucketed(d: Path, depth: Int): Boolean = {
      val dirs = hiveDirs(fs, d)
      if (depth == 0) dirs.exists(_.getName.startsWith(TimeBucket + "="))
      else dirs.headOption.exists(bucketed(_, depth - 1))
    }
    val root = new Path(ds.path)
    val timed = !ds.partitioning.contains(TimeBucket) && fs.exists(root) &&
      bucketed(root, ds.partitioning.length)
    ds.partitioning ++ (if (timed) Seq(TimeBucket) else Nil)
  }

  /** Hive `col=value` directories directly under `p`. Dot-prefixed dirs
    * (swap backups, staging) are skipped: a leftover `.p=v__swap_old`
    * contains '=' but is NOT a partition. Underscore-prefixed ones are
    * partitions, exactly as Spark reads them (`__time_bucket=…`). */
  private def hiveDirs(fs: FileSystem, p: Path): Seq[Path] =
    fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
      .filter(c => c.getName.contains("=") && !c.getName.startsWith("."))

  /** Leaf partition directories `depth` levels under `p`. */
  def leafDirs(fs: FileSystem, p: Path, depth: Int): Seq[Path] =
    if (depth == 0) Seq(p) else hiveDirs(fs, p).flatMap(leafDirs(fs, _, depth - 1))

  /** Partition scope from one scan. Each `matched` row holds the
    * partition values, then the path of the file the row was read from
    * (`input_file_name()`, projected below any join — above a shuffle it
    * is ""). Returns the leaf dirs those files live in, and an
    * OR-of-equalities predicate over their values plus `extra` value
    * tuples, which Catalyst folds into PartitionFilters. Directory
    * identity comes from the files, so hive value encoding is never
    * re-implemented here. */
  def partitionScope(fs: FileSystem, root: Path, partCols: Seq[String],
      matched: Seq[Row], extra: Seq[Seq[Any]] = Nil): (Scope.Partitions, Column) = {
    val qroot = fs.makeQualified(root).toString + "/"
    val dirs = matched.map { r =>
      val file = r.getString(partCols.length)
      require(file.nonEmpty, "input_file_name() returned an empty path for a matched row")
      val parent = fs.makeQualified(new Path(file)).getParent.toString
      require(parent.startsWith(qroot), s"matched file $parent outside dataset root $qroot")
      parent.stripPrefix(qroot)
    }.toSet
    val pred = (matched.map(_.toSeq.take(partCols.length)) ++ extra).distinct
      .map(vs => partCols.zip(vs).map { case (c, v) => col(c) <=> lit(v) }.reduce(_ && _))
      .reduceOption(_ || _).getOrElse(lit(false))
    (Scope.Partitions(dirs), pred)
  }

  /** Stage `rows` with `stage` (its target path is replaced by the
    * staging dir, its mode by Overwrite), then promote over `target`
    * within `scope` and refresh the sidecars. The caller holds the
    * dataset lock. The row-group-bloom contract is the stage writer's
    * own, inherited from the live dataset as a plain write would: a root
    * swap promotes it with the staged files, partition scope persists
    * any change on the live root. `freshBloom` feeds [[refresh]]. */
  def commit(spark: SparkSession, target: GraftDataset, suffix: String, scope: Scope,
      stage: DatasetWriter, rows: DataFrame, bloom: Bloom = Bloom.Keep,
      freshBloom: Seq[String] = Nil): Committed = {
    val fs = target.fs(spark)
    val root = new Path(target.path)
    val tmp = sibling(root, suffix)
    fs.delete(tmp, true)
    val n = stage.copy(target = stage.target.copy(path = tmp.toString), mode = WriteMode.Overwrite,
      rowGroupBloom = stage.effectiveRowGroupBloom(fs)).writeUnlocked(spark, rows)
    def persisted(into: Path): Option[BloomIndex.Index] = bloom match {
      case Bloom.Keep => None
      case Bloom.Update(next) => next.map { idx => BloomIndex.write(fs, into.toString, idx); idx }
    }
    scope match {
      case Scope.Root =>
        // the sidecars live inside the root and would die in the swap:
        // the bloom index rides the staged dir; the stats index names
        // only files the swap kills — rebuild it over its columns
        if (bloom == Bloom.Keep)
          BloomIndex.load(fs, target.path).foreach(BloomIndex.write(fs, tmp.toString, _))
        val idx = persisted(tmp)
        val statCols = StatsIndex.loadCached(fs, target.path).map(_.cols)
        swapInPlace(fs, tmp, root)
        refresh(spark, target, None, freshBloom, statCols, idx)
        Committed(n, 1)
      case leafScope: Scope.Leaves =>
        val leaves = leafDirs(fs, tmp, stage.target.partitioning.length)
        val qtmp = fs.makeQualified(tmp).toString + "/"
        val staged = leaves.map(p => fs.makeQualified(p).toString.stripPrefix(qtmp))
        val (emptied, promote) = leafScope match {
          case Scope.Partitions(read) => (read -- staged, leaves.zip(staged))
          case Scope.SameDirs(dirs) => (Set.empty[String], leaves.zip(staged).filter(l => dirs(l._2)))
        }
        val idx = persisted(root)
        // emptied dirs go BEFORE promotion: a crash in between leaves a
        // moved key absent (re-run heals it), never duplicated
        emptied.foreach(rel => fs.delete(new Path(root, rel), true))
        promote.foreach { case (src, rel) =>
          val live = new Path(root, rel)
          if (fs.exists(live)) swapInPlace(fs, src, live)
          else {
            fs.mkdirs(live.getParent)
            require(fs.rename(src, live), s"cannot promote $src to $live")
          }
        }
        fs.delete(tmp, true)
        refresh(spark, target, stage.contractUpdate(stage.rowGroupBloom), freshBloom, None, idx)
        Committed(n, promote.size)
    }
  }

  /** Post-commit sidecar refresh, shared by every write:
    *  - `contract`: Some(cols) persists the row-group-bloom contract,
    *    Some(Nil) ends it, None leaves it (parquet only);
    *  - `freshBloom`: key columns of a bloom index to build now (a build
    *    scans the data that just landed);
    *  - `rebuildStats`: Some(cols) rebuilds a stats index a root swap
    *    killed; None maintains the live one (O(new files), no-op when
    *    none was built);
    *  - `updated`: the index persisted pre-commit, rebuilt over live
    *    rows if over budget. A crash before that leaves a degraded but
    *    correct filter, healed at the next maintained write. */
  def refresh(spark: SparkSession, ds: GraftDataset,
      contract: Option[Seq[(String, Option[Long])]], freshBloom: Seq[String],
      rebuildStats: Option[Seq[String]], updated: Option[BloomIndex.Index]): Unit = {
    val fs = ds.fs(spark)
    if (ds.format == "parquet") contract.foreach { c =>
      if (c.isEmpty) RowGroupBloom.delete(fs, ds.path) else RowGroupBloom.write(fs, ds.path, c)
    }
    if (freshBloom.nonEmpty) BloomIndex.build(spark, ds, freshBloom)
    rebuildStats match {
      case Some(cols) => StatsIndex.build(spark, ds, cols)
      case None => StatsIndex.maintain(spark, ds)
    }
    updated.foreach(BloomIndex.rebuildIfOverBudget(spark, ds, _))
  }

  /** Promote a staged directory: move `live` aside, promote `tmp`, drop
    * the backup — roll back if promotion fails. */
  private def swapInPlace(fs: FileSystem, tmp: Path, live: Path): Unit = {
    val backup = sibling(live, SwapOld)
    fs.delete(backup, true)
    if (!fs.rename(live, backup))
      throw new IllegalStateException(s"swap failed: cannot move $live aside")
    if (!fs.rename(tmp, live)) {
      fs.rename(backup, live) // roll back
      throw new IllegalStateException(s"swap failed: cannot promote $tmp")
    }
    fs.delete(backup, true)
  }

  /** File-level promotion for a rewrite that keeps files in their
    * directory (schema unify): record the moves and the doomed
    * originals in `tmp` FIRST, then rename every staged file into
    * place, then delete the originals, then `tmp`. Renames go before
    * deletes so no crash can lose rows; the record lets [[recoverFiles]]
    * undo the duplicates a crash in between would otherwise leave. */
  def promoteFiles(fs: FileSystem, tmp: Path, moves: Seq[(Path, Path)], doomed: Seq[Path]): Unit = {
    val lines = moves.map("+\t" + _._2) ++ doomed.map("-\t" + _)
    Sidecars.atomicWrite(fs, new Path(tmp, RecordName),
      lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8), "promote record")
    moves.foreach { case (src, dst) =>
      // rename returns false instead of throwing on some FSes — deleting
      // originals after a silent false would lose the rows
      require(fs.rename(src, dst), s"promote: rename $src -> $dst failed")
    }
    doomed.foreach(fs.delete(_, false))
    fs.delete(tmp, true)
  }

  /** Settle a crashed [[promoteFiles]] from its record, before `tmp` is
    * deleted: every promoted file landed → roll forward (delete the
    * originals still present); otherwise no original was deleted yet →
    * roll back (delete the promoted files that landed). No record: the
    * crash came before the first rename, and the originals are intact. */
  def recoverFiles(fs: FileSystem, tmp: Path): Unit = {
    val rec = new Path(tmp, RecordName)
    if (fs.exists(rec)) {
      val in = fs.open(rec)
      val lines = try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      val (promoted, doomed) = lines.split("\n").toSeq.filter(_.nonEmpty)
        .map(l => (l.head, new Path(l.drop(2)))).partition(_._1 == '+')
      val undo = if (promoted.forall(p => fs.exists(p._2))) doomed else promoted
      undo.foreach(p => fs.delete(p._2, false))
    }
  }
}
