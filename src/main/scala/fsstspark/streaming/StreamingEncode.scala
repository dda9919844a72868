package fsstspark.streaming

import fsstspark.pipeline.{Checkpoint, EncodePipeline, KV}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Incremental ingestion compression: a Structured Streaming file source
  * watches a directory of incoming page files; every micro-batch is
  * encoded with the zero-shuffle local pipeline and appended to the
  * checkpoint table via `foreachBatch`.
  *
  * The north rule is a batch job (SURVEY.md §2.3.j), so this is the
  * *optional* continuous-ingest front end: the batch pipeline is the
  * engine, streaming just feeds it micro-batches. Exactly-once at the
  * chunk level falls out of the same content-derived chunk ids — a batch
  * replayed after a crash re-encodes to identical ids, and
  * `resumeBytesLocal`'s id-set filter drops duplicates.
  */
/** Incremental "already ingested" chunk-id cache for [[StreamingEncode.startCatalog]]:
  * the first call loads the full ledger (manifest ∪ tombstones — a chunk
  * compacted away was ingested once and must stay deduplicated); every
  * later call diffs the catalog's committed-batch set against the batches
  * already folded in and reads ONLY the new batches' manifest partitions —
  * O(new batches) per micro-batch, not O(manifest). Sound under the
  * streaming single-writer contract: batch ids are append-only, and every
  * id a tombstone can name was already in some committed batch's manifest
  * (compaction only deletes chunks that were live), so new ids only ever
  * arrive through new batches.
  */
final class IngestedIdCache(io: fsstspark.io.TableIO, table: String, column: String) {
  private var seen: Set[String] = null
  private var ids: Array[Long] = Array.emptyLongArray // sorted
  /** Batches whose manifest rows the LAST [[doneIds]] call read — test
    * instrumentation for the O(new batches) contract.
    */
  private[streaming] var lastBatchesRead: Int = -1

  /** Sorted ingested-id array for this column (the broadcastable skip set
    * [[fsstspark.pipeline.EncodePipeline.encodeBytesLocal]] expects).
    */
  def doneIds(spark: SparkSession): Array[Long] = {
    import spark.implicits._
    if (!io.tableExists(spark, table)) {
      lastBatchesRead = 0
      if (seen == null) seen = Set.empty
      return ids
    }
    if (seen == null) {
      // cold load: the full ledger, once
      val committed = io.committedBatchIds(spark, table)
      val full = io.manifest(spark, table).select("chunk_id", "column")
        .unionByName(io.deletedChunks(spark, table))
        .filter(col("column") === column)
        .select("chunk_id").distinct().as[Long].collect()
      java.util.Arrays.sort(full)
      ids = full
      seen = committed.toSet
      lastBatchesRead = committed.length
    } else {
      val newBatches = io.committedBatchIds(spark, table).filterNot(seen)
      lastBatchesRead = newBatches.length
      if (newBatches.nonEmpty) {
        val fresh = io.manifestForBatches(spark, table, newBatches.toSeq)
          .filter(col("column") === column)
          .select("chunk_id").distinct().as[Long].collect()
        java.util.Arrays.sort(fresh)
        ids = merge(ids, fresh)
        seen ++= newBatches
      }
    }
    ids
  }

  private def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = new Array[Long](a.length + b.length)
    var i = 0
    var j = 0
    var k = 0
    while (i < a.length && j < b.length) {
      if (a(i) < b(j)) { out(k) = a(i); i += 1 }
      else if (a(i) > b(j)) { out(k) = b(j); j += 1 }
      else { out(k) = a(i); i += 1; j += 1 }
      k += 1
    }
    while (i < a.length) { out(k) = a(i); i += 1; k += 1 }
    while (j < b.length) { out(k) = b(j); j += 1; k += 1 }
    if (k == out.length) out else java.util.Arrays.copyOf(out, k)
  }
}

object StreamingEncode {

  /** Start encoding `srcDir` (parquet files with at least `keyCol` and
    * string/binary `valueCol`) into `checkpointTable`.
    */
  def start(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      keyCol: String,
      valueCol: String,
      column: String,
      checkpointTable: String,
      streamStateDir: String,
      targetChunkBytes: Long = 16L << 20
  ): StreamingQuery = {
    import spark.implicits._
    val stream = spark.readStream.schema(schema).parquet(srcDir)
      .select(col(keyCol).cast("string").as("key"),
        col(valueCol).cast("binary").as("value"))
      .as[KV]
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", streamStateDir)
      .foreachBatch { (batch: Dataset[KV], batchId: Long) =>
        // done-id filter makes a replayed batch a no-op (chunk ids are
        // content-derived, so the replay regenerates the same ids)
        Checkpoint.resumeBytesLocal(batch, column, checkpointTable, targetChunkBytes)
        ()
      }
      .start()
  }

  /** Stream straight into the chunk CATALOG ([[fsstspark.io.TableIO]]):
    * each micro-batch encodes through the zero-shuffle local pipeline and
    * appends as one catalog batch (manifest rows included), exactly-once
    * at chunk granularity — a replayed batch regenerates the same
    * content-derived ids, which are skipped against the catalog's existing
    * chunk set before any encode work. Every `compactEvery` batches the
    * column's under-sized chunks compact in place ([[fsstspark.pipeline.Compaction]]),
    * so a low-rate stream converges to target-size, key-clustered chunks
    * instead of accreting fragments forever.
    */
  def startCatalog(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      keyCol: String,
      valueCol: String,
      column: String,
      io: fsstspark.io.TableIO,
      table: String,
      streamStateDir: String,
      targetChunkBytes: Long = 16L << 20,
      compactEvery: Long = 0,
      minChunkBytes: Long = 0
  ): StreamingQuery = {
    import spark.implicits._
    val minBytes = if (minChunkBytes > 0) minChunkBytes else targetChunkBytes / 2
    val stream = spark.readStream.schema(schema).parquet(srcDir)
      .select(col(keyCol).cast("string").as("key"),
        col(valueCol).cast("binary").as("value"))
      .as[KV]
    // "already ingested" = live chunks PLUS tombstoned ones: a chunk
    // compacted away was ingested once, and a from-scratch replay must not
    // revive its pre-compaction id as new data. The cache loads the full
    // ledger once, then folds in ONLY new committed batches per
    // micro-batch (see [[IngestedIdCache]]) — never the data files, never
    // a repeated full-manifest collect.
    val cache = new IngestedIdCache(io, table, column)
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", streamStateDir)
      .foreachBatch { (batch: Dataset[KV], batchId: Long) =>
        val done = cache.doneIds(spark)
        // an empty micro-batch (or one whose chunks are all already
        // ingested) writes and commits nothing
        io.writeChunks(EncodePipeline.encodeBytesLocal(batch, column, targetChunkBytes, done), table)
        if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
          fsstspark.pipeline.Compaction.compactColumn(
            spark, io, table, column, minBytes, targetChunkBytes)
        ()
      }
      .start()
  }
}
