package graft.streaming

import graft.index.{Grid, GridConfig}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** Structured-Streaming ingest for the vector store and the events table.
  * The reference is strictly batch-synchronous (SURVEY.md §2.2 streaming:
  * none), so this is the engine's streaming extension: micro-batch appends
  * via `foreachBatch` running the same snapshot algebra as the batch path,
  * plus watermarked windowed aggregation over event streams.
  *
  * Scale: `foreachBatch` appends are cell-bucketed before the write, so the
  * persisted store stays partition-pruned; the windowed aggregate is
  * incremental state in the streaming state store (no full recompute).
  */
object StreamingIngest {

  /** Micro-batch append of vector rows into a cell-partitioned parquet
    * store — each batch is bucketed with the same `cellId` expression as
    * the batch index build, so readers get identical pruning. */
  def vectorIngest(stream: DataFrame, cfg: GridConfig, storePath: String): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch
          .withColumn("cell_id", Grid.cellId(col("embedding"), cfg))
          .repartition(col("cell_id"))
          .write.mode("append").partitionBy("cell_id").parquet(storePath)
      }

  /** [[vectorIngest]] onto a QUANTILE-calibrated store (r11): identical
    * micro-batch shape, cells from the boundary table. Boundaries are
    * plan literals, so streamed bucketing ≡ the batch
    * [[graft.index.Grid.withCellId]] by construction; drift since
    * calibration is handled out-of-band by `QuantileGrid.maintain` (the
    * ingest never re-calibrates mid-stream — a moving geometry would
    * scatter one logical cell across files). */
  def vectorIngestQuantile(stream: DataFrame,
      cfg: graft.index.QuantileGridConfig,
      storePath: String): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch
          .withColumn("cell_id", graft.index.Grid.cellId(col("embedding"), cfg))
          .repartition(col("cell_id"))
          .write.mode("append").partitionBy("cell_id").parquet(storePath)
      }

  /** One micro-batch of the IDEMPOTENT ingest — factored out so the
    * replay contract is testable without a harness restart. */
  def writeVectorBatchIdempotent(batch: DataFrame, batchId: Long,
      cfg: GridConfig, storePath: String): Unit =
    batch
      .withColumn("batch_id", lit(batchId))
      .withColumn("cell_id", Grid.cellId(col("embedding"), cfg))
      .repartition(col("cell_id"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id", "cell_id")
      .parquet(storePath)

  /** EXACTLY-ONCE variant of [[vectorIngest]]: `foreachBatch` is
    * at-least-once — after a failure the same micro-batch replays with the
    * SAME batchId — so the blind append above can duplicate rows. Here
    * each batch lands in its own `batch_id=<n>` partition subtree under
    * dynamic partition OVERWRITE: a replay replaces its own previous
    * attempt byte-for-byte instead of appending next to it. Idempotence
    * without a transaction log, from partition layout alone; readers
    * still prune on the nested `cell_id` directories. */
  def vectorIngestIdempotent(stream: DataFrame, cfg: GridConfig,
      storePath: String): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        writeVectorBatchIdempotent(batch, bid, cfg, storePath)
      }

  /** Watermarked tumbling-window aggregation over an event stream:
    * per (window, event_type) counts and value sums; late rows beyond the
    * watermark are dropped. */
  def windowedEventStats(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("v_sum"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("v_sum"))

  /** Streaming exact dedup: drop rows whose key was already seen, with
    * state bounded by the watermark (Spark's dropDuplicatesWithinWatermark
    * — the streaming face of the exact-dedup north-star operator). At-least-
    * once sources become exactly-once-per-key downstream while the state
    * store holds only keys younger than the watermark. */
  def dedupWithinWatermark(events: DataFrame, idCols: Seq[String],
      tsCol: String = "ts", watermark: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCols)

  /** Streaming zone-map maintenance: each micro-batch's per-bucket min/max
    * folds into the persisted stats table via the lossless partial merge
    * (`ZoneMap.mergeStats`) — the stats a reader consults for skipping stay
    * current without ever rescanning the store. The batch's own stats are
    * bucket-count-sized, so the fold touches metadata-scale rows only
    * (StreamingZoneMapSpec proves the streamed fold ≡ one-shot recompute). */
  def zoneMapMaintain(stream: DataFrame, bucketExpr: org.apache.spark.sql.Column,
      valueExpr: org.apache.spark.sql.Column, statsPath: String): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // resolve through the Hadoop filesystem of the path (local, HDFS,
        // s3a, ...) — a driver-local java.io.File check would report
        // "missing" for every remote path and silently reseed the stats
        // from each batch's delta alone
        val target = new org.apache.hadoop.fs.Path(statsPath)
        val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val delta = graft.index.ZoneMap.stats(batch, bucketExpr, valueExpr)
        val merged =
          if (fs.exists(target)) {
            val old = spark.read.parquet(statsPath)
            graft.index.ZoneMap.mergeStats(old, delta)
          } else delta
        durableSwapWrite(spark, merged, statsPath)
      }

  /** Streaming count-min maintenance: each micro-batch's d×w cell-count
    * delta ([[graft.operators.Freq.countMinSketch]]) folds into the
    * persisted sketch by cell-wise addition — count-min is a monoid, so
    * the streamed fold is EXACTLY the one-shot sketch of everything
    * ingested (StreamingCmsSpec), and estimates stay current while only
    * metadata-scale rows (≤ d×w) are ever rewritten. */
  def countMinMaintain(stream: DataFrame, keyCol: String, depth: Int,
      width: Int, sketchPath: String): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val target = new org.apache.hadoop.fs.Path(sketchPath)
        val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val delta = graft.operators.Freq.countMinSketch(batch, keyCol, depth, width)
        val merged =
          if (fs.exists(target))
            graft.operators.Freq.mergeCountMin(spark.read.parquet(sketchPath), delta)
          else delta
        durableSwapWrite(spark, merged, sketchPath)
      }

  /** Streaming dedup ADMISSION against a persisted corpus store — the
    * crawl-ingestion flow: each micro-batch is first deduped within itself
    * (min-id per digest), then anti-joined against the store's digest
    * index, and only NOVEL documents append. The store converges to
    * exactly the first-seen canonical of every distinct text, no matter
    * how batches arrive (StreamingAdmitSpec pins streamed ≡ one-shot
    * exact dedup).
    *
    * Scale: the store is append-only parquet; the per-batch probe reads
    * only the digest column (column pruning at the scan) and the batch
    * side of the anti-join broadcasts. At 100 TB the digest column is the
    * store's dedup index — the same probe [[graft.operators.Dedup
    * .incrementalDedup]] runs batch-side. */
  def dedupAdmit(stream: DataFrame, storePath: String,
      textCol: String = "text", idCol: String = "doc_id"): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val target = new org.apache.hadoop.fs.Path(storePath)
        val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val withDigest = graft.operators.Dedup.exactDedup(batch, textCol, idCol)
          .withColumn("digest", md5(col(textCol)))
        val novel =
          if (fs.exists(target)) {
            // probe ORDER matters: an anti join builds its RIGHT side, so
            // batch-left-anti-store would broadcast/shuffle the whole store
            // digest set every micro-batch. Instead semi-join the store
            // against the (tiny, broadcast) batch digests first — the scan
            // streams map-side over the digest column — then anti-join the
            // batch against that batch-bounded matched set.
            val batchDigests = withDigest.select(col("digest"))
            val matched = spark.read.parquet(storePath).select(col("digest"))
              .join(broadcast(batchDigests), Seq("digest"), "left_semi")
            withDigest.join(broadcast(matched), Seq("digest"), "left_anti")
          } else withDigest
        novel.write.mode("append").parquet(storePath)
      }

  /** Collect-and-rewrite of a tiny metadata table with a crash-safe swap:
    * write to a sibling tmp dir, then rename over the target — overwrite-
    * in-place would delete the accumulated table before committing the
    * replacement. (For metadata-scale rows this beats a merge-on-read
    * log.) */
  private def durableSwapWrite(spark: SparkSession, df: DataFrame,
      path: String): Unit = {
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows = df.collect()
    val tmp = new org.apache.hadoop.fs.Path(path + ".tmp")
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), df.schema)
      .write.mode("overwrite").parquet(tmp.toString)
    fs.delete(target, true)
    if (!fs.rename(tmp, target))
      throw new java.io.IOException(
        s"durableSwapWrite: rename $tmp -> $target failed")
  }

  /** Run a streaming query over a bounded source to completion (test/demo
    * helper: `processAllAvailable` drains everything then returns). */
  def runToCompletion(writer: DataStreamWriter[org.apache.spark.sql.Row]): Unit = {
    val q: StreamingQuery = writer.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }
}
