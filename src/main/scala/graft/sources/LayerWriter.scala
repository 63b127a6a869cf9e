package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persistence layer for the medallion tables (SURVEY.md §2.1 S13,
  * §7.5 scale posture).
  *
  * Fact-like tables are written partitioned by their date column —
  * this is THE load-bearing scale decision: at 100 TB, every Q2/Q5
  * style date-ranged query prunes to the touched partitions at plan
  * time (PartitionFilters in the scan, verified in PlanSpec), and
  * incremental loads append new date partitions without rewriting
  * history. Dimension tables stay unpartitioned single-digit-file
  * directories so Catalyst auto-broadcasts them.
  */
object LayerWriter {

  /** Write a fact table partitioned by `dateCol` (hive-style layout →
    * partition pruning on read). The frame is REBALANCED on the
    * partition column first (AQE `RebalancePartitions`): writer tasks
    * own whole dates, so the layout gets O(dates) files instead of
    * O(tasks × dates) — without this, every upstream task writes a
    * sliver of every date it touches and the commit protocol drowns
    * in small files (the classic partitioned-write anti-pattern at
    * 100 TB). Rebalance (not plain repartition) keeps BOTH failure
    * modes bounded: AQE merges small dates into shared writer tasks
    * AND splits a hot date across several tasks at the advisory
    * partition size, so a date holding 10% of a 100 TB fact still
    * writes in parallel as right-sized files. `maxRecordsPerFile`
    * additionally bounds rows per file. `format`: parquet (default)
    * or orc — both columnar with pushdown/pruning; csv/json for
    * interchange exports. */
  def writeFact(df: DataFrame, path: String, dateCol: String,
      maxRecordsPerFile: Long = 5000000L, format: String = "parquet"): Unit =
    df.hint("rebalance", dateCol)
      .write
      .mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(dateCol)
      .format(format)
      .save(path)

  /** Write a dimension table compacted to few files (broadcast-friendly). */
  def writeDim(df: DataFrame, path: String, files: Int = 1,
      format: String = "parquet"): Unit =
    df.coalesce(files).write.mode("overwrite").format(format).save(path)

  /** Compact a partitioned fact layout back to O(dates) files — the
    * maintenance job every incremental pipeline needs: repeated
    * append/dynamic-overwrite batches accumulate small files per
    * partition until scan task counts (and namenode/object-store
    * metadata) dominate query cost. Reads the layout, repartitions on
    * the partition column, writes to a temp sibling and swaps — never
    * overwriting the directory it is still reading (Spark would
    * corrupt its own input). Returns (files before, files after).
    * Crash-safe like [[graft.operators.Upsert.mergeIntoPath]]: at
    * worst the previous layout survives at `.old-compact`. Runs on
    * any Hadoop filesystem via [[SwapFs]] (atomic-rename caveat for
    * flat object stores documented there). */
  def compactFact(spark: SparkSession, path: String, dateCol: String,
      maxRecordsPerFile: Long = 5000000L): (Long, Long) = {
    val io = SwapFs.forPath(spark, path)
    // same single-writer fence as the merges: compaction against a
    // concurrently-merging target would interleave swap renames
    io.withLease(path) {
      val tgt = io.path(path)
      val tmp = io.path(path + ".tmp-compact")
      val old = io.path(path + ".old-compact")
      io.recoverSwap(tgt, old)
      val before = io.dataFileCount(tgt)
      io.delete(tmp)
      writeFact(spark.read.parquet(path), tmp.toString, dateCol, maxRecordsPerFile)
      io.swapIn(tmp, tgt, old)
      (before, io.dataFileCount(tgt))
    }
  }

  /** Write a table bucketed (and optionally sorted) on the join key —
    * the co-located-join layout: two tables bucketed on the same key
    * into the same bucket count join with NO shuffle exchange on
    * either side (and no sort, when sorted), because Catalyst treats
    * the bucket layout as a pre-existing hash partitioning. At 100 TB
    * this is how repeatedly-joined fact/fact pairs (events ⋈ users,
    * clicks ⋈ impressions) avoid re-shuffling petabytes on every run:
    * pay the shuffle once at write time, join for free forever after.
    * Bucketed layouts need table metadata, hence `saveAsTable` (the
    * session catalog) rather than a bare path. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String, buckets: Int,
      sortCols: Seq[String] = Nil, format: String = "parquet"): Unit = {
    require(buckets > 0, "writeBucketed needs a positive bucket count")
    val w = df.write.mode("overwrite").format(format).bucketBy(buckets, bucketCol)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Append one load batch into an existing partitioned fact —
    * dynamic partition overwrite of ONLY the batch's dates, so a
    * re-run of the same batch is idempotent and history is untouched.
    * Drops any merge key-range index (`_keyidx`) on the target first:
    * this writer changes partition contents without maintaining the
    * index, and a stale index must never survive to mis-prune a later
    * [[graft.operators.Upsert.mergePartitionedPath]] probe. */
  def overwriteBatchPartitions(df: DataFrame, path: String, dateCol: String): Unit = {
    val io = SwapFs.forPath(df.sparkSession, path)
    io.delete(io.path(path + "/_keyidx"))
    df.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(dateCol)
      .parquet(path)
  }
}
