package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.index.{IndexBuilder, IndexConfig, IndexManifest, Jobs}

/** Structured-Streaming index appender: each micro-batch becomes one new
  * immutable build wave (the reference's NRT "flush a new segment" story,
  * /root/reference/core/store/nrt.go, restated as streaming-native
  * foreachBatch). DocIds continue monotonically from the committed manifest;
  * waves are numbered from a streaming base so batch replays (same batchId)
  * overwrite their own wave idempotently — exactly-once append on top of
  * at-least-once foreachBatch.
  *
  * Scale notes: the per-batch work is the same bounded-group invert as the
  * batch builder (one shuffle per batch), then an incremental publish that
  * folds the wave's deltas into the committed dictionary and stats
  * (O(batch) + O(vocabulary), never a full index scan).
  */
object StreamingIndexer {
  val StreamingWaveBase = 100000

  /** Wire a streaming DataFrame with (repo, path, commit, lang, content)
    * into an existing index directory. Caller starts with `.start()` result.
    */
  def append(
      spark: SparkSession,
      stream: DataFrame,
      indexPath: String,
      config: IndexConfig = IndexConfig(),
      checkpoint: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val builder = new IndexBuilder(spark, config)
    val writer = stream.writeStream
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatch(spark, builder, batch, batchId, indexPath)
      }
    checkpoint.foreach(cp => writer.option("checkpointLocation", cp))
    writer.start()
  }

  /** One micro-batch → one wave. Exposed for testing/foreachBatch reuse.
    * With `config.explicitDocIdCol` set, the batch's own ids are used
    * verbatim (caller guarantees uniqueness vs the committed id space);
    * otherwise ids continue as ranks from the committed maxDocId. An empty
    * batch commits nothing: its unlisted wave dirs go at the next commit's
    * sweep.
    */
  def appendBatch(spark: SparkSession, builder: IndexBuilder, batch: DataFrame,
      batchId: Long, indexPath: String): Unit =
    Jobs.describe(spark.sparkContext, s"graft append batch $batchId to $indexPath") {
      val wave = StreamingWaveBase + batchId.toInt
      val staged = builder.config.explicitDocIdCol match {
        case Some(idCol) =>
          batch
            .withColumn("docId", col(idCol).cast("long"))
            .withColumn("segId", lit(wave))
            .select(builder.stagedColumns.map(col): _*)
        case None =>
          // append base = max assigned id + 1 (NOT the doc count — sparse
          // explicit id spaces would collide and silently corrupt postings)
          val base = IndexManifest.load(spark, indexPath).maxDocId + 1
          // docIds: deterministic rank within the batch, offset by the base.
          // The unpartitioned window is a deliberate single-task sort: a
          // micro-batch is bounded by the trigger; switch to the bucketed
          // two-pass assignment (IndexBuilder stage 1) if batches grow beyond
          // one task's comfort.
          import org.apache.spark.sql.expressions.Window
          val w = Window.orderBy("repo", "path")
          batch
            .withColumn("docId", row_number().over(w).cast("long") + lit(base - 1))
            .withColumn("segId", lit(wave))
            .select(builder.stagedColumns.map(col): _*)
      }
      // incremental: fold this wave's term stats into the committed dictionary
      // (O(batch) + O(vocab), never a full index scan — flat per-batch publish
      // cost however large the index has grown)
      if (builder.invertWave(staged, wave, indexPath) > 0)
        builder.publishIncremental(indexPath, wave)
    }
}
