package graft.sinks

import org.apache.spark.sql.DataFrame

/**
 * B12 — file-format sinks (the reference's `file` connector writes ndjson;
 * connectors/http supports json|ndjson|array bodies). Spark-side these are
 * just the built-in distributed writers — each executor writes its own
 * partition files, no driver funnel, which is the 100 TB-safe shape.
 */
object FileSink {

  /** ndjson: one JSON object per line (reference `file` connector format). */
  def ndjson(df: DataFrame, path: String, overwrite: Boolean = true): Unit =
    writer(df, overwrite).json(path)

  def csv(df: DataFrame, path: String, header: Boolean = true, overwrite: Boolean = true): Unit =
    writer(df, overwrite).option("header", header.toString).csv(path)

  def parquet(df: DataFrame, path: String, overwrite: Boolean = true): Unit =
    writer(df, overwrite).parquet(path)

  /** ORC — the other columnar lake format (built into Spark; same
    * distributed per-partition writers and footer statistics as parquet,
    * so min/max pruning works identically). */
  def orc(df: DataFrame, path: String, overwrite: Boolean = true): Unit =
    writer(df, overwrite).orc(path)

  /** Snapshot write for sync bookkeeping: partitioned by sync so a later
    * diff prunes straight to one directory. */
  def snapshot(df: DataFrame, root: String, syncId: String, runId: String): String = {
    val path = s"$root/sync_id=$syncId/run_id=$runId"
    df.write.mode("overwrite").parquet(path)
    path
  }

  /** C43: range-LAYOUTED parquet write — the data-layout half of scan
    * performance: `repartitionByRange` on the sort keys gives each output
    * file a DISJOINT key range (range exchange with sampled boundaries),
    * `sortWithinPartitions` orders rows inside each file, so parquet
    * footer min/max stats become airtight: a filter on the leading sort
    * key prunes whole files (and row groups) instead of scanning the
    * corpus. This is what turns a 100 TB "read everything and filter"
    * into "open the two files whose range matches".
    *
    * `numFiles` sizes output explicitly (files ≈ total/numFiles rows);
    * at scale pick ~shuffle-partition-sized files. Deterministic content
    * per file is NOT guaranteed (range boundaries are sampled) — layout
    * is a physical property, results of reads are unchanged. */
  def rangeLayout(df: DataFrame, dir: String, sortCols: Seq[String],
                  numFiles: Int): Unit = {
    require(sortCols.nonEmpty && numFiles >= 1)
    import org.apache.spark.sql.functions.col
    df.repartitionByRange(numFiles, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").parquet(dir)
  }

  /** B42: snapshot RETENTION vacuum — the state-hygiene half of the
    * snapshot layout: diff-based syncs only ever read the LATEST run's
    * snapshot, so older runs are pure storage cost; keep the newest
    * `keepRuns` per sync and delete the rest. Run ids order by length,
    * then by name: the counter ids `SyncRunner.runDiff` writes (1, 2, …,
    * 10) sort numerically, and fixed-width timestamp ids sort by time.
    * Returns the deleted paths for the run log. Driver fs-metadata work
    * only — no data is read. */
  def vacuumSnapshots(spark: org.apache.spark.sql.SparkSession, root: String,
                      keepRuns: Int): Seq[String] = {
    require(keepRuns >= 1, "must keep at least the latest run")
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) return Seq.empty
    val deleted = Seq.newBuilder[String]
    fs.listStatus(rootPath).filter(_.isDirectory)
      .filter(_.getPath.getName.startsWith("sync_id=")).foreach { sync =>
        val runs = fs.listStatus(sync.getPath).filter(_.isDirectory)
          .filter(_.getPath.getName.startsWith("run_id="))
          .sortBy { r => val n = r.getPath.getName; (n.length, n) }(Ordering[(Int, String)].reverse)
        runs.drop(keepRuns).foreach { old =>
          fs.delete(old.getPath, true)
          deleted += old.getPath.toString
        }
      }
    deleted.result()
  }

  private def writer(df: DataFrame, overwrite: Boolean) =
    df.write.mode(if (overwrite) "overwrite" else "error")
}
