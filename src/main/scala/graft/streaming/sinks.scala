package graft.streaming

import java.util.concurrent.Semaphore

import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** MergeTree-layout parquet sink — the Spark-native equivalent of the
  * reference's storage table `PARTITION BY toYYYYMM(time) ORDER BY
  * (inverter, time)` (tables.sql:32).
  *
  * Writes month-partitioned parquet with rows sorted by (key, ts)
  * within each file, so downstream scans get (a) partition pruning on
  * the month directory, (b) clustered reads + parquet min/max row-group
  * skipping on the sort key — the same two benefits MergeTree's layout
  * provides ClickHouse at 100 TB. `repartition(month, key)` keeps each
  * output partition's files non-overlapping without a global sort.
  */
object MergeTreeSink {
  /** MergeTree's INSERT model: each ingest lands as a NEW sorted part
    * per month (parquet Append — never touching existing parts), the
    * way every MergeTree insert creates a part. Parts accumulate until
    * [[optimizePartition]] merges them; [[write]] remains the
    * partition-replace re-materialization. */
  def appendPart(df: DataFrame, path: String, tsCol: String, keyCol: String): Unit = {
    df.withColumn("month", date_format(col(tsCol), "yyyyMM"))
      .repartition(col("month"), col(keyCol))
      .sortWithinPartitions(col("month"), col(keyCol), col(tsCol))
      .write.mode(SaveMode.Append)
      .partitionBy("month")
      .parquet(path)
  }

  /** ClickHouse `OPTIMIZE TABLE … PARTITION` analog — the background
    * merge MergeTree runs continuously: each [[write]] leaves one file
    * per (month, key-hash) task, so a partition accumulates small
    * files across ingests; this rewrites ONE month into `targetFiles`
    * range-clustered files (non-overlapping key ranges — tighter than
    * the hash layout it replaces), preserving (key, ts) sort and
    * swapping the partition atomically via the dynamic-overwrite
    * commit. The read is materialized (localCheckpoint, spills to
    * disk) before the overwrite so the job never scans the directory
    * it is replacing — the scope of that materialization is one month
    * partition, the same bounded unit MergeTree merges. */
  def optimizePartition(spark: org.apache.spark.sql.SparkSession, path: String,
                        month: String, tsCol: String, keyCol: String,
                        targetFiles: Int = 1): Unit = {
    val part = spark.read.parquet(path)
      .filter(col("month").cast("string") === month)
    val merged = part
      .repartitionByRange(targetFiles, col(keyCol), col(tsCol))
      .sortWithinPartitions(col(keyCol), col(tsCol))
      .localCheckpoint()
    merged
      .withColumn("month", col("month").cast("string"))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("month")
      .parquet(path)
  }

  def write(df: DataFrame, path: String, tsCol: String, keyCol: String): Unit = {
    df.withColumn("month", date_format(col(tsCol), "yyyyMM"))
      .repartition(col("month"), col(keyCol))
      .sortWithinPartitions(col("month"), col(keyCol), col(tsCol))
      .write.mode(SaveMode.Overwrite)
      // DYNAMIC partition overwrite: only the months present in this
      // write are replaced — MergeTree's partition-replace semantics.
      // The default static mode would wipe every existing month
      // directory on each incremental ingest to the same table path.
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("month")
      .parquet(path)
  }

  /** ClickHouse ReplacingMergeTree — the table engine whose background
    * merge DEDUPS rows sharing the sort key, keeping the highest
    * version (the upsert-by-merge pattern CH uses for mutable
    * dimensions and at-least-once ingest): rewrite ONE month keeping,
    * per (key, ts), the row with the maximal `versionCol` (equal
    * versions keep an arbitrary one — exactly CH's documented
    * contract; use a unique version for determinism). Same bounded
    * unit and atomic
    * dynamic-overwrite swap as [[optimizePartition]]; reads before
    * the merge see duplicates exactly as CH reads do without FINAL —
    * [[readFinal]] is the FINAL read. */
  def optimizeReplacing(spark: org.apache.spark.sql.SparkSession, path: String,
                        month: String, tsCol: String, keyCol: String,
                        versionCol: String, targetFiles: Int = 1): Unit = {
    import org.apache.spark.sql.expressions.Window
    val part = spark.read.parquet(path)
      .filter(col("month").cast("string") === month)
    val w = Window.partitionBy(col(keyCol), col(tsCol))
      .orderBy(col(versionCol).desc)
    val deduped = part
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
      .repartitionByRange(targetFiles, col(keyCol), col(tsCol))
      .sortWithinPartitions(col(keyCol), col(tsCol))
      .localCheckpoint()
    deduped
      .withColumn("month", col("month").cast("string"))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("month")
      .parquet(path)
  }

  /** ClickHouse's `FINAL` read on a Replacing table: merge-semantics
    * applied at read time over whatever parts exist (pre- or
    * post-merge reads agree — spec-pinned). One window on the sort
    * key; at scale the scan is month-pruned first like any query. */
  def readFinal(spark: org.apache.spark.sql.SparkSession, path: String,
                tsCol: String, keyCol: String, versionCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol), col(tsCol))
      .orderBy(col(versionCol).desc)
    spark.read.parquet(path)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** ClickHouse SummingMergeTree — the engine whose background merge
    * COLLAPSES rows sharing the sort key by summing the numeric
    * measure columns (pre-aggregated rollup tables): rewrite ONE
    * month to one row per (key, ts) with each `sumCols` summed
    * (decimal/long inputs keep the merge exact and associative — the
    * same reason the engine's partial merges are sound in CH).
    * Columns outside (key, ts, sumCols) are dropped — pre-project the
    * table to its rollup schema (CH keeps an arbitrary value for
    * them, which no exact contract can grade). Same atomic month
    * swap. */
  def optimizeSumming(spark: org.apache.spark.sql.SparkSession, path: String,
                      month: String, tsCol: String, keyCol: String,
                      sumCols: Seq[String], targetFiles: Int = 1): Unit = {
    val part = spark.read.parquet(path)
      .filter(col("month").cast("string") === month)
    val summed = part
      .groupBy(col("month"), col(keyCol), col(tsCol))
      .agg(sumCols.map(c => sum(col(c)).as(c)).head,
        sumCols.map(c => sum(col(c)).as(c)).tail: _*)
      .repartitionByRange(targetFiles, col(keyCol), col(tsCol))
      .sortWithinPartitions(col(keyCol), col(tsCol))
      .localCheckpoint()
    summed
      .withColumn("month", col("month").cast("string"))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("month")
      .parquet(path)
  }

  /** ClickHouse `ALTER TABLE … DELETE WHERE` — the mutation pass a
    * GDPR/right-to-be-forgotten request runs against a MergeTree
    * table. MergeTree implements it as a partition-scoped rewrite
    * (every part containing a match is rewritten without the rows;
    * untouched parts are left alone), and so does this: one pass
    * finds the months that actually contain matches (count aggregate,
    * partition-pruned parquet scan — only the predicate columns are
    * read), then ONLY those month partitions are re-materialized
    * without the matching rows through the same dynamic-overwrite
    * atomic swap [[optimizePartition]] uses. Months without matches
    * are never read for the rewrite and their files stay
    * byte-identical (spec-pinned). Returns the affected months.
    *
    * At 100 TB this is the only viable mutation shape: the rewrite
    * cost is proportional to the data that actually holds deleted
    * rows, and the month-partition granularity bounds each atomic
    * swap to the same unit MergeTree mutates. */
  def deleteWhere(spark: org.apache.spark.sql.SparkSession, path: String,
                  predicate: org.apache.spark.sql.Column,
                  tsCol: String, keyCol: String): Seq[String] = {
    val table = spark.read.parquet(path)
    val affected = table.filter(predicate)
      .groupBy(col("month").cast("string").as("m"))
      .count()
      .collect().map(_.getString(0)).toSeq.sorted // bounded: calendar months
    if (affected.nonEmpty) {
      // NULL-safe complement: filter(predicate) above kept only rows
      // where the predicate is TRUE, so the rows to KEEP are exactly
      // those where it is FALSE **or NULL** — a plain !predicate would
      // silently delete NULL-predicate rows (three-valued logic), the
      // classic data-loss bug for predicates over nullable columns.
      // coalesce(!p, true) makes "matched" and "kept" partition the
      // table exactly.
      val kept = table
        .filter(col("month").cast("string").isin(affected: _*))
        .filter(coalesce(!predicate, lit(true)))
        .repartition(col("month"), col(keyCol))
        .sortWithinPartitions(col("month"), col(keyCol), col(tsCol))
        .localCheckpoint() // never scan the directory being replaced
      kept
        .withColumn("month", col("month").cast("string"))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("month")
        .parquet(path)
      // Dynamic overwrite only replaces partitions PRESENT in the
      // written data — a month whose every row matched produces no
      // output files and its old directory would silently survive.
      // Drop those month directories explicitly (still the bounded
      // month-partition unit).
      val keptMonths = kept.select(col("month").cast("string"))
        .distinct().collect().map(_.getString(0)).toSet
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      affected.filterNot(keptMonths).foreach { m =>
        fs.delete(new org.apache.hadoop.fs.Path(path, s"month=$m"), true)
      }
    }
    affected
  }
}

/** Bounded-queue micro-batch ingestion sink — the Spark-native
  * re-expression of the reference's buffered insert loop: a bounded
  * asyncio queue feeding batch INSERTs with retry into a ClickHouse
  * Buffer table (solarman.py:36,192-225; tables.sql:34-61).
  *
  * Structured Streaming already provides the micro-batching, exactly-
  * once bookkeeping and backpressure; this sink adds the reference's
  * two operational behaviors: (1) a bounded number of in-flight batch
  * writes (Semaphore — mirrors `asyncio.Queue(maxsize)`), (2) per-batch
  * retry with bounded attempts (mirrors the reference's insert retry).
  * WHERE a batch lands is delegated to a [[BatchWriter]] — parquet
  * `batch=<id>` directories ([[ParquetBatchWriter]], the default) or a
  * SQL store via bounded multi-row INSERTs ([[JdbcBatchWriter]], the
  * reference's Buffer-table flush). The retry loop is sound because
  * the writer contract makes replays idempotent.
  */
class BufferedStreamSink(writer: BatchWriter, maxPending: Int, maxRetries: Int) {
  /** Parquet-directory sink (the original shape). */
  def this(path: String, maxPending: Int = 4, maxRetries: Int = 3) =
    this(new ParquetBatchWriter(path), maxPending, maxRetries)

  private val slots = new Semaphore(maxPending)
  // atomic: up to maxPending writeBatch calls may retry concurrently
  private val retriesSeen = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Visible for the spec: total retry attempts that occurred. */
  def retries: Int = retriesSeen.get()

  /** Batch writes in flight now (at most `maxPending`). */
  def pending: Int = maxPending - slots.availablePermits()

  def writeBatch(batch: Dataset[Row], batchId: Long): Unit = {
    slots.acquire()
    try {
      var attempt = 0
      var done = false
      while (!done) {
        try {
          writer.write(batch, batchId)
          done = true
        } catch {
          case e: Exception =>
            attempt += 1
            retriesSeen.incrementAndGet()
            if (attempt > maxRetries) throw e
        }
      }
    } finally slots.release()
  }

  /** Attach this sink to a stream with a processing-time trigger —
    * the reference's poll-interval cadence. */
  def start(df: DataFrame, checkpoint: String, intervalMs: Long = 1000L): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(intervalMs))
      .foreachBatch((b: Dataset[Row], id: Long) => writeBatch(b, id))
      .start()

  /** Drain-and-stop mode: process everything currently available in
    * bounded micro-batches, then terminate — the batch-backfill /
    * catch-up run of the same pipeline (checkpoint-compatible with
    * the continuous `start`). */
  def drainAvailable(df: DataFrame, checkpoint: String): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch((b: Dataset[Row], id: Long) => writeBatch(b, id))
      .start()
}
