package graft.ds

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Row-level DELETE — an extension past the reference (pydala datasets
  * only grow, get upserted, or get overwritten; see `dataset/writer.py`
  * modes), but the operation a 100 TB training-data lake cannot run
  * without: takedown/GDPR purges arrive as "remove these documents by
  * id" or "remove everything matching this predicate", and rewriting
  * the whole dataset per purge is O(lake).
  *
  * Scale shape: ONE pruned scan finds where doomed rows live (predicate
  * pushdown reaches the parquet scan for `deleteWhere`; the keyed variant
  * pays one semi-join). A hive-partitioned dataset rewrites only the
  * partitions holding doomed rows and drops those emptied entirely;
  * an unpartitioned one rewrites its root — O(dataset), the reason big
  * mutable datasets should be partitioned. The rewrite commits through
  * [[StagedRewrite]] (crash story there).
  *
  * Bloom sidecar: deleting rows can only SHRINK the live key set, so an
  * existing [[BloomIndex]] stays a superset — deleted keys linger as
  * false positives (an anti-join probe each). The delete bumps the
  * sidecar's deleted-count, so the occupancy trigger rebuilds the
  * filter over live rows once cumulative churn exceeds its budget.
  *
  * Predicate semantics follow SQL DELETE: rows where the predicate is
  * TRUE are removed; FALSE and NULL rows are kept. */
object DatasetDelete {

  /** Delete rows matching `predicate`. Returns rows deleted. */
  def deleteWhere(spark: SparkSession, target: GraftDataset, predicate: Column): Long = {
    val doom = coalesce(predicate, lit(false))
    deleteCore(spark, target,
      // filter BEFORE attaching input_file_name: the predicate pushes
      // into the scan (a nondeterministic projection below it would
      // block pushdown), and the file column still evaluates in the
      // scan stage — filter and project share the codegen stage
      doomedWithFile = df => df.filter(doom).withColumn("__f", input_file_name()),
      keptOf = df => df.filter(!doom))
  }

  /** Delete rows whose `keyCols` tuple appears in `keys` (null-safe:
    * a NULL key deletes NULL-keyed rows — the same `<=>` rule delta
    * and upsert use). Returns rows deleted.
    *
    * Bloom fast path: with a [[BloomIndex]] sidecar recorded over
    * exactly `keyCols`, the doomed keys probe the filter FIRST — keys
    * definitely absent from the dataset drop out before any data scan
    * (the same map-side probe the delta write uses). The common GDPR
    * sweep — a big id list with little or no overlap — then costs
    * O(keys): a no-overlap purge reads ZERO data files, and a small
    * overlap pays the semi/anti joins with only the surviving keys.
    * Safe because the filter is a superset of live keys (no false
    * negatives), and ordered correctly because the probe is forced
    * lazily INSIDE the dataset lock — a key added by a writer we
    * serialized behind is in the sidecar before we read it. */
  def deleteByKeys(spark: SparkSession, target: GraftDataset,
      keys: DataFrame, keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "deleteByKeys needs key columns")
    val k0 = keys.select(keyCols.map(col): _*).distinct()
    // lazy: first use happens inside deleteCore's lock (earlyEmpty or
    // the closures), never before. PERSISTED at that first use: the
    // key frame feeds earlyEmpty, the doomed semi-join (which picks
    // the partitions to rewrite) and the kept anti-join (which decides
    // the survivors) — re-evaluating a non-deterministic caller plan
    // between those jobs could delete rows the doomed scan never
    // counted (the same pin DatasetWriter applies to upsert batches),
    // and even deterministic keys would pay the distinct+probe 3×.
    lazy val k = (BloomIndex.load(target.fs(spark), target.path)
      .filter(_.cols == keyCols) match {
        case Some(idx) => k0.filter(BloomIndex.mightContain(spark, idx))
        case None => k0
      }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def cond(df: DataFrame) = keyCols.map(c => df(c) <=> k(c)).reduce(_ && _)
    try deleteCore(spark, target,
      // input_file_name MUST be projected below the join (it reads the
      // task's current input file, only set in the scan stage — above
      // a shuffled join it evaluates to "")
      doomedWithFile = df => {
        val withF = df.withColumn("__f", input_file_name())
        withF.join(k, cond(withF), "left_semi")
      },
      keptOf = df => df.join(k, cond(df), "left_anti"),
      // LIMIT-1 over the (probed) key list only — zero dataset IO when
      // every doomed key is definitely absent
      earlyEmpty = () => k.isEmpty)
    finally k.unpersist()
  }

  /** Shared machinery. `doomedWithFile(existing)` = rows to delete WITH
    * a `__f` input-file column valid at the scan; `keptOf(existing)` =
    * rows to keep; `earlyEmpty` = a cheap in-lock check that the doomed
    * set is provably empty (bloom-probed key list) BEFORE any dataset
    * scan is planned. Runs under the dataset lock — a delete racing an
    * upsert/compact would interleave staged renames. Stages with the
    * dataset's full layout, time buckets included. */
  private def deleteCore(spark: SparkSession, target: GraftDataset,
      doomedWithFile: DataFrame => DataFrame,
      keptOf: DataFrame => DataFrame,
      earlyEmpty: () => Boolean = () => false): Long = {
    val fs = target.fs(spark)
    val root = new Path(target.path)
    if (!fs.exists(root)) return 0L
    DatasetLock.withLock(fs, root) {
      if (target.dataFiles(spark).isEmpty || earlyEmpty()) 0L
      else {
        val existing = target.df(spark)
        val layout = StagedRewrite.layout(fs, target)
        val (doomed, scope, scan) =
          if (layout.isEmpty) (doomedWithFile(existing).count(), StagedRewrite.Scope.Root, existing)
          else {
            // ONE job: per (partition values, file) doomed-row counts —
            // the scope's dirs and predicate, and the return value
            val matched = doomedWithFile(existing)
              .groupBy(layout.map(col) :+ col("__f"): _*)
              .agg(count(lit(1)).as("__n"))
              .collect().toSeq
            val (s, pred) = StagedRewrite.partitionScope(fs, root, layout, matched)
            (matched.map(_.getLong(layout.length + 1)).sum, s, existing.filter(pred))
          }
        if (doomed > 0) {
          val staged = GraftDataset(target.path, format = target.format,
            partitioning = layout, compression = target.compression)
          StagedRewrite.commit(spark, target, StagedRewrite.DeleteTmp, scope,
            DatasetWriter(staged, clusterBy = target.clusterBy),
            keptOf(scan),
            StagedRewrite.Bloom.Update(BloomIndex.load(fs, target.path)
              .map(idx => idx.copy(deleted = idx.deleted + doomed))))
        }
        doomed
      }
    }
  }
}
