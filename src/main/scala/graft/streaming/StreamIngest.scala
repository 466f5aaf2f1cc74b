package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.engine.Pipeline
import graft.lake.LakeTable

/** Structured-Streaming WAL tail: the always-on variant of the batch
  * [[graft.engine.Replayer]] (which is the `Trigger.AvailableNow`-style
  * drain). Files land in the WAL directory; the file source tails them with
  * checkpointed offsets; each micro-batch MERGEs into the lake table via
  * `foreachBatch`.
  *
  * Exactly-once composition (north_rule):
  *  - the file source re-delivers the SAME files under the SAME batchId
  *    after a crash (at-least-once execution, deterministic batch content);
  *  - `mergeEpoch(epoch = batchId)` is idempotent per epoch — a re-executed
  *    batchId whose manifest already committed is a no-op;
  *  - within and across batches, latest-wins ordering is by the event's own
  *    `(seq, commit)`, NOT arrival order — so out-of-order file delivery
  *    converges to the same state (an older event merging after a newer one
  *    loses to the target row's higher seq; tombstones are retained so a
  *    late pre-delete event cannot resurrect a deleted key).
  *
  * This mirrors the reference's nightly `sqlcmd` lookback pull
  * (/root/reference/MQ/mosaiq_visit_occurrence.sql:89-98) re-expressed as a
  * real change stream: overlap/duplicates tolerated not by key-dedupe hope
  * but by an exactly-once commit protocol.
  */
object StreamIngest {

  /** Guard for an exactly-once SKIP (mergeEpoch returned None because
    * `batchId <= watermark`): safe only when the skipped batch truly
    * re-delivers already-merged events. If the checkpoint directory was
    * recreated AFTER the WAL grew, Structured Streaming renumbers batches
    * from 0 and packs genuinely NEW events into low-numbered batchIds —
    * every one of them would silently no-op against the old manifest
    * watermark and be lost. A new event necessarily carries a seq above
    * the table's committed `lastSeq`, so one cheap aggregate over the
    * skipped batch catches the reset: fail the query instead of dropping
    * data (recovery: a fresh table root, or a backfill replay of the WAL
    * through [[graft.engine.Replayer]]). */
  private[streaming] def assertSkipIsReplay(table: LakeTable,
      batch: DataFrame, batchId: Long): Unit = {
    import org.apache.spark.sql.functions.{col, max}
    val batchMax = Option(batch.agg(max(col("seq"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(-1L)
    if (batchMax > table.lastSeq)
      throw new IllegalStateException(
        s"batch $batchId skipped as a duplicate epoch, but it carries " +
          s"seq $batchMax > the table's committed lastSeq ${table.lastSeq} " +
          "— the streaming checkpoint was reset against a grown WAL and " +
          "these are NEW events renumbered into an old batchId; failing " +
          "instead of silently dropping them (replay the WAL into a " +
          "fresh checkpoint+table, or catch the table up via a batch " +
          "backfill first)")
  }

  /** Start a streaming merge of `walDir` into `table`: [[startPipeline]]
    * with no domains.
    *
    * @param trigger `Trigger.AvailableNow()` to drain-and-stop (batch
    *                cadence, the reference's daily 22:00 run made exact) or
    *                a processing-time trigger for continuous tailing.
    * @param maxFilesPerTrigger bound per-batch file count (bounds state and
    *                           memory at 10^10-event scale).
    */
  def start(spark: SparkSession, walDir: String, schema: StructType,
            table: LakeTable, checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow(),
            maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    startPipeline(spark, walDir, schema, table, Seq.empty, Map.empty,
      checkpointDir, trigger, maxFilesPerTrigger)

  /** The streaming form of the MULTI-TABLE pipeline: each micro-batch runs
    * [[Pipeline.epochStep]] over the batch alone, epoch = batchId — it
    * merges the source table AND updates every domain table in dependency
    * order. epoch := batchId because Structured Streaming's replay
    * contract makes it the idempotency key; the event's own epoch column
    * is payload. Exactly-once composes per TABLE: a crash between domain
    * commits re-executes the whole batchId, and each table's lineage
    * registry skips its already-committed (table, epoch) pairs — the same
    * mid-pipeline resume the batch [[Pipeline.run]] gets from the
    * min-watermark restart, here provided by Structured Streaming's
    * deterministic re-delivery. A domain that lags the stream, or is
    * attached mid-stream, catches up from the source's own delta commits
    * (a fresh one by a full recompute), so no domain needs the batch.
    * `compactEvery` folds hot buckets of ALL tables every k batches
    * (incremental, O(hot buckets)). */
  def startPipeline(spark: SparkSession, walDir: String, schema: StructType,
                    source: LakeTable, domains: Seq[Pipeline.DomainDef],
                    tables: Map[String, LakeTable], checkpointDir: String,
                    trigger: Trigger = Trigger.AvailableNow(),
                    maxFilesPerTrigger: Option[Int] = None,
                    compactEvery: Int = 0): StreamingQuery = {
    Pipeline.validateTopology(domains, tables)
    val all = source +: domains.map(d => tables(d.name))
    val reader = spark.readStream.schema(schema)
    val src = maxFilesPerTrigger
      .map(n => reader.option("maxFilesPerTrigger", n)).getOrElse(reader)
      .parquet(walDir)
    src.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val ups = Pipeline.epochStep(batch.sparkSession, source, domains,
          tables, batchId, batch)
        // the SOURCE skip (the step's first update) is the checkpoint-reset
        // hazard; domain skips are derived recomputations, keyed off the
        // same source watermark
        if (ups.head.result.isEmpty) assertSkipIsReplay(source, batch, batchId)
        if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
          Pipeline.foldHotBuckets(batch.sparkSession, all, compactEvery)
        ()
      }
      .start()
  }
}
