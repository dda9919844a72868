package fsstspark.io

import fsstspark.pipeline.ChunkResult
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

/** "Iceberg-shaped" chunk-table catalog (SURVEY.md §7.0).
  *
  * No Iceberg runtime ships in this sandbox, so the catalog is modeled
  * honestly as: data = parquet partitioned by (ingest batch, column name);
  * manifest = an explicit small parquet table with one row per
  * (file, column, chunk) carrying Iceberg's file/column-chunk granularity
  * metadata (row count, byte counts, key range). The pipeline programs
  * against this trait; a real Iceberg catalog drops in by implementing it.
  */
trait TableIO {
  def writeChunks(results: Dataset[ChunkResult], table: String): Unit
  def readChunks(spark: SparkSession, table: String): Dataset[ChunkResult]

  /** One row per (data file, column, chunk): lineage + pruning stats. */
  def manifest(spark: SparkSession, table: String): DataFrame

  /** Chunks whose key range may contain `key` — manifest-level pruning
    * (the read path of an Iceberg metadata filter).
    */
  def chunksForKey(spark: SparkSession, table: String, key: String): Dataset[ChunkResult]

  /** Chunks of `column` whose VALUE zone map may intersect `[lo, hi]` —
    * manifest-level pruning on a non-key column (Iceberg column-stats
    * skipping). Chunks without stats (byte columns, all-null chunks,
    * pre-stats writers) are conservatively returned. For double columns
    * pass bounds through [[fsstspark.util.SortableBits.fromDouble]].
    */
  def chunksForValueRange(spark: SparkSession, table: String, column: String,
      lo: Long, hi: Long): Dataset[ChunkResult]

  /** The table as of snapshot `asOf` (a batch id from
    * [[committedBatchIds]]/[[snapshots]]): chunks from batches committed
    * with id <= `asOf`, minus deletes whose gating batch is committed and
    * <= `asOf`. Batch ids embed their creation millis, so lexicographic
    * order IS time order. Legacy immediate tombstones (written before
    * deletes were snapshot-gated) apply to every snapshot. Vacuum
    * physically reclaims files, so snapshots older than the last vacuum
    * may be unreadable — Iceberg `expire_snapshots` semantics.
    */
  def readChunksAsOf(spark: SparkSession, table: String, asOf: String): Dataset[ChunkResult]

  /** One row per committed snapshot, oldest first: batch id, creation
    * millis parsed from the id, chunks added, and chunk deletes gated on
    * it (a delete-only snapshot adds zero chunks).
    */
  def snapshots(spark: SparkSession, table: String): DataFrame

  /** Logically delete chunks (Iceberg delete-file semantics): the ids land
    * in a tombstone table and every read path filters them. Data files are
    * immutable; physical reclamation is a separate GC concern.
    *
    * Tombstones are BATCH-SCOPED: a delete kills only chunk instances
    * from batches committed before it, so re-appending identical content
    * later (same content-derived chunk id) is a new, visible instance —
    * DELETE + re-INSERT round-trips. The [[deletedChunks]] ingest ledger
    * still lists every tombstoned id regardless of scope.
    */
  def removeChunks(spark: SparkSession, table: String, chunkIds: DataFrame): Unit

  /** ATOMIC swap: append `results` and delete `removeChunkIds` so readers
    * see either the old chunks or the new ones, never both and never
    * neither — the Iceberg snapshot-commit semantics compaction needs.
    */
  def replaceChunks(spark: SparkSession, table: String,
      results: Dataset[ChunkResult], removeChunkIds: DataFrame): Unit

  /** Whether the table has any committed data (readable without error). */
  def tableExists(spark: SparkSession, table: String): Boolean

  /** The tombstoned (chunk_id, column) pairs. Ingest dedup must treat
    * these as "already ingested": a chunk compacted away was present once,
    * and replaying its source must not revive it.
    */
  def deletedChunks(spark: SparkSession, table: String): DataFrame

  /** Opaque ids of the currently committed ingest batches (an append-only
    * set — a batch id never becomes uncommitted). Incremental consumers
    * diff this against the ids they have already folded in.
    */
  def committedBatchIds(spark: SparkSession, table: String): Array[String]

  /** Manifest rows restricted to the given batches, WITHOUT tombstone
    * filtering (an ingest ledger wants every id that ever landed) — the
    * O(new batches) read an incremental dedup cache performs per
    * micro-batch instead of rescanning the whole manifest.
    */
  def manifestForBatches(spark: SparkSession, table: String, batches: Seq[String]): DataFrame
}

/** Process-wide strictly-increasing wall-clock millis for batch ids:
  * shared across ParquetTableIO instances so every batch id minted in
  * this process is lexicographically AFTER all earlier ones even within
  * one millisecond or across an NTP step backwards.
  */
private[io] object BatchClock {
  private val last = new java.util.concurrent.atomic.AtomicLong(0L)
  def nextMillis(): Long =
    last.updateAndGet(prev => math.max(prev + 1, System.currentTimeMillis()))
  /** Advance past ids minted by a PREVIOUS process: a commit burst can
    * push minted millis ahead of the wall clock, and a restarted writer
    * re-seeded from `currentTimeMillis` alone could otherwise mint an id
    * that sorts BEFORE its predecessor's last commit.
    */
  def ensureAtLeast(ms: Long): Unit =
    last.updateAndGet(prev => math.max(prev, ms))
}

final class ParquetTableIO(root: String) extends TableIO {
  private def dataDir(table: String) = s"$root/$table/data"
  private def manifestDir(table: String) = s"$root/$table/manifest"
  private def tombDir(table: String) = s"$root/$table/tombstones"
  private def commitsDir(table: String) = s"$root/$table/commits"

  // ------------------------------------------------------ batch commits
  // A batch becomes visible only when its commit marker exists; the append
  // order is data → manifest rows → marker. A crash at any point leaves an
  // UNCOMMITTED batch that every read path ignores, so the ingest-dedup
  // set never contains a torn batch's chunks and a replay re-lands them
  // under a fresh batch id — no duplicates, no chunks stranded without
  // manifest rows (the poor-man's Iceberg snapshot commit, SURVEY.md §7.0;
  // orphaned uncommitted directories are inert garbage for a GC to sweep).

  private def fs(spark: SparkSession, path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Flip the commit marker — AFTER enforcing mint-order commit order.
    * Streaming offsets and the `<= asOf` snapshot filter both rely on
    * "lexicographic (mint) id order == commit order": a batch committing
    * AFTER a larger id already committed would be silently dropped by
    * any stream whose watermark already passed it, and would
    * retroactively mutate a pinned `VERSION AS OF` snapshot. That can
    * only happen when two writers run concurrently (the documented
    * single-writer contract is being violated) — fail the LATE commit
    * loudly so the violation surfaces as a write error instead of
    * silent data loss; the batch stays uncommitted (invisible) and the
    * write can be re-run, which mints a fresh, in-order id.
    */
  private def commitBatch(spark: SparkSession, table: String, batch: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(commitsDir(table))
    val f = fs(spark, commitsDir(table))
    f.mkdirs(dir)
    val late = committedBatches(spark, table).filter(_ > batch)
    if (late.nonEmpty)
      throw new IllegalStateException(
        s"catalog table '$table': batch '$batch' would commit OUT OF MINT ORDER — " +
          s"'${late.max}' is already committed. A concurrent writer violated the " +
          "single-writer contract; this batch remains uncommitted (invisible) — " +
          "re-run the write to mint a fresh id.")
    f.create(new org.apache.hadoop.fs.Path(dir, batch), true).close()
  }

  private def committedBatches(spark: SparkSession, table: String): Array[String] = {
    val dir = new org.apache.hadoop.fs.Path(commitsDir(table))
    val f = fs(spark, commitsDir(table))
    if (!f.exists(dir)) Array.empty
    else f.listStatus(dir).map(_.getPath.getName)
      .filterNot(n => n.startsWith(".") || n.startsWith("_")) // checksum/hidden sidecars
  }

  /** Semi-join `df` (carrying a `batch` column) down to `committed` —
    * callers take ONE [[committedBatches]] snapshot per read and thread it
    * into both the batch filter and the tombstone resolver, so a
    * concurrent [[replaceChunks]] commit landing mid-read cannot make the
    * gated deletes effective while the same batch's adds are still
    * excluded (the "never neither" half of the swap contract).
    */
  private def committedOnly(df: DataFrame, spark: SparkSession, committed: Array[String]): DataFrame = {
    import spark.implicits._
    df.join(broadcast(committed.toSeq.toDF("batch")), Seq("batch"), "left_semi")
  }

  /** A catalog written BEFORE batch-commit markers (data present, no
    * commits dir) must fail loudly: reading it as empty would silently
    * hide every chunk while ingest replays re-land all of them as
    * duplicates. Mirrors [[fsstspark.pipeline.Checkpoint.FormatVersion]]'s
    * hard-error contract; migrate with [[commitAllBatches]].
    */
  private def assertNotLegacy(spark: SparkSession, table: String): Unit = {
    val dataP = new org.apache.hadoop.fs.Path(dataDir(table))
    val f = fs(spark, dataDir(table))
    if (f.exists(dataP) && !f.exists(new org.apache.hadoop.fs.Path(commitsDir(table))))
      throw new IllegalStateException(
        s"catalog table '$table' predates batch-commit markers (data exists, no commits/); " +
          "reading it would hide all data — run commitAllBatches to migrate a catalog " +
          "known to be fully committed, or rebuild it")
  }

  /** Migration for pre-marker catalogs: mark every existing `batch=`
    * directory committed. Only for catalogs known fully committed under
    * the old format (the old format had no torn-batch detection to
    * consult). Returns the number of markers created.
    */
  def commitAllBatches(spark: SparkSession, table: String): Long = {
    val dataP = new org.apache.hadoop.fs.Path(dataDir(table))
    val f = fs(spark, dataDir(table))
    if (!f.exists(dataP)) return 0L
    val batches = f.listStatus(dataP).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch="))
    val already = committedBatches(spark, table).toSet
    val missing = batches.filterNot(already)
    missing.foreach(b => commitBatch(spark, table, b))
    missing.length.toLong
  }

  /** Explicit read schema (ChunkResult fields + the batch partition
    * column): lets a fully-vacuumed table — a data dir with zero parquet
    * files — read back as an EMPTY dataset instead of failing schema
    * inference.
    */
  private def chunkReadSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[ChunkResult].schema
      .add("batch", org.apache.spark.sql.types.StringType)

  /** Explicit manifest schema, used on EVERY manifest read: batch
    * partitions written before zone-map stats existed (round ≤3) lack
    * `value_min`/`value_max` and must read back as null (= not prunable)
    * rather than leaving the resolved schema to whichever footer
    * inference samples in a mixed-generation directory.
    */
  private val manifestSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("file", StringType), StructField("column", StringType),
      StructField("chunk_id", LongType), StructField("codec", StringType),
      StructField("n_rows", LongType), StructField("bytes_in", LongType),
      StructField("bytes_out", LongType), StructField("min_key", StringType),
      StructField("max_key", StringType), StructField("value_min", LongType),
      StructField("value_max", LongType), StructField("batch", StringType)))
  }

  private def readManifestRaw(spark: SparkSession, table: String): DataFrame =
    if (!manifestPresent(spark, table))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], manifestSchema)
    else spark.read.schema(manifestSchema).parquet(manifestDir(table))

  /** Whether the manifest directory exists — every manifest read, Spark
    * or driver-side, asks here first. Only a table with NO DATA may lack
    * one (DDL sidecar not yet inserted into, or commit markers from
    * data-less delete batches alone — the tombstone-seeded ledger state);
    * a table WITH data files but no manifest directory is corruption and
    * fails loudly rather than silently hiding every chunk (the
    * assertNotLegacy contract), as does a flat legacy manifest.
    */
  private def manifestPresent(spark: SparkSession, table: String): Boolean = {
    assertManifestNotLegacy(spark, table)
    fs(spark, manifestDir(table)).exists(new org.apache.hadoop.fs.Path(manifestDir(table))) || {
      require(committedBatches(spark, table).isEmpty ||
          !fs(spark, dataDir(table)).exists(new org.apache.hadoop.fs.Path(dataDir(table))),
        s"catalog table '$table' has data but no manifest directory — " +
          "run repairManifest to rebuild it from the data files")
      false
    }
  }

  /** The visible (non-hidden, non-sidecar) files directly under `dir`. */
  private def visibleFiles(f: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Iterator[org.apache.hadoop.fs.FileStatus] =
    f.listStatus(dir).iterator.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith(".") && !n.startsWith("_")
    }

  /** Manifests written before the manifest was batch-partitioned (flat
    * parquet files at the manifest root, `batch` derived from the file
    * path at read time) would read back with `batch` null under the
    * explicit schema and be dropped wholesale by the committed-batch
    * semi-join — every point lookup / range read silently empty, and the
    * first new append would create a mixed flat/partitioned layout that
    * fails partition discovery outright. Fail loudly instead (the same
    * contract as [[assertNotLegacy]]); `repairManifest` rebuilds the
    * manifest in the partitioned layout from the data files. One
    * listStatus per manifest read — metadata-scale.
    */
  private def assertManifestNotLegacy(spark: SparkSession, table: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(manifestDir(table))
    val f = fs(spark, manifestDir(table))
    if (f.exists(p) && visibleFiles(f, p).hasNext)
      throw new IllegalStateException(
        s"catalog table '$table' has a pre-batch-partitioned (flat) manifest; reading it " +
          "would silently drop its rows — run repairManifest to rebuild it in the " +
          "partitioned layout (a flat zero-row manifest left by an older full vacuum " +
          "migrates the same way)")
  }

  /** Time-ordered batch id: fixed-width creation millis first, so the
    * LEXICOGRAPHIC order of batch ids is their creation order — what
    * [[readChunksAsOf]]'s `<= asOf` snapshot filter relies on. The millis
    * component is forced STRICTLY increasing within the process
    * ([[BatchClock]]): two commits in the same wall-clock millisecond (or
    * across a backwards clock step) would otherwise order by the random
    * suffix, and a delete batch sorting below the append it follows makes
    * time travel show the delete already applied at the earlier snapshot.
    * Cross-PROCESS ties remain wall-clock ordered — covered by the
    * catalog's single-writer contract.
    */
  private def newBatchId(): String =
    f"b${BatchClock.nextMillis()}%013d-${java.util.UUID.randomUUID().toString.take(8)}"

  /** Mint a batch id strictly after every id this table has already
    * committed — closes the cross-RESTART window: if the previous writer
    * process minted ahead of the wall clock (commit burst) and this
    * process starts within that gap, seeding from the table's own commit
    * markers keeps new commits lexicographically after old ones. Ids that
    * don't parse as `b<millis13>-…` (none are minted today) are ignored.
    */
  private def mintBatchId(spark: SparkSession, table: String): String = {
    val existing = committedBatches(spark, table)
    var i = 0
    while (i < existing.length) {
      val b = existing(i)
      if (b.length >= 14 && b.charAt(0) == 'b' && b.substring(1, 14).forall(_.isDigit))
        BatchClock.ensureAtLeast(b.substring(1, 14).toLong)
      i += 1
    }
    newBatchId()
  }

  private def hasTombstones(spark: SparkSession, table: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(tombDir(table))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Tombstone read schema, always explicit: files written before the
    * gating column existed read `gated_by` as null — i.e. as IMMEDIATE
    * deletes, which is exactly what they were — and mixed old/new
    * directories resolve deterministically instead of by whichever footer
    * schema inference happens to pick.
    */
  private val tombSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("chunk_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("column", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("gated_by", org.apache.spark.sql.types.StringType)))

  /** EFFECTIVE tombstones under ONE committed-batch snapshot: immediate
    * deletes (gated_by null) plus deletes gated on a batch in
    * `committed`. A gated tombstone whose batch never committed is
    * inert — that is what makes [[replaceChunks]] an atomic swap: the
    * deletes and the adds become visible through the SAME commit marker.
    *
    * Each row carries `applies_before`: a tombstone kills only chunk
    * INSTANCES from batches that committed strictly BEFORE its gating
    * batch (batch ids are time-ordered). A later re-append of the same
    * content — whose content-derived chunk id necessarily repeats — is
    * a new instance and stays visible; without the scope, DELETE +
    * re-INSERT of identical rows silently swallowed the new data.
    * Legacy immediate tombstones (null gate) apply to every batch
    * (`applies_before` = '~', which sorts after every `b…` id).
    *
    * The comparison is on batch MINT order, which equals commit order
    * under the catalog's single-writer contract (operations are
    * serialized, so a batch minted before a delete also committed before
    * it). A hypothetical concurrent writer that minted before a delete
    * but committed after would be caught by the scope — one of the
    * interleavings the single-writer contract exists to exclude.
    */
  private def tombstones(spark: SparkSession, table: String, committed: Array[String]): DataFrame = {
    import spark.implicits._
    if (!hasTombstones(spark, table))
      Seq.empty[(Long, String, String)].toDF("chunk_id", "column", "applies_before")
    else spark.read.schema(tombSchema).parquet(tombDir(table))
      .filter(col("gated_by").isNull || col("gated_by").isin(committed.toSeq: _*))
      .select(col("chunk_id"), col("column"),
        coalesce(col("gated_by"), lit("~")).as("applies_before"))
  }

  /** `df` must carry its `batch` column: the anti-join keeps a row unless
    * a tombstone matches its (chunk_id, column) AND the row's batch
    * predates the tombstone's gate.
    */
  private def notTombstoned(df: DataFrame, spark: SparkSession, table: String,
      committed: Array[String]): DataFrame =
    if (!hasTombstones(spark, table)) df
    else {
      val t = broadcast(tombstones(spark, table, committed))
      df.join(t,
        df("chunk_id") === t("chunk_id") && df("column") === t("column") &&
          df("batch") < t("applies_before"),
        "left_anti")
    }

  /** Append a batch of chunks in ONE Spark job: the tasks that produce
    * `results` also write them ([[ChunkFileWriter.writeTask]] — one parquet
    * file per (task, column) under the batch's `batch=`/`column=`
    * directories) and return their manifest rows. The driver then writes
    * those rows as the batch's single manifest file and flips the commit
    * marker ([[commitWrittenBatch]]), so manifest maintenance is O(batch),
    * never O(table), and no data file is read back. Driver bound: one
    * manifest row (~150 B) per (chunk, column) is collected — the same
    * rows the SQL write collects as commit messages. An empty `results`
    * writes and commits nothing. The batch is invisible until its commit
    * marker lands (see above); a failed job aborts it.
    */
  override def writeChunks(results: Dataset[ChunkResult], table: String): Unit =
    writeAndCommit(results.sparkSession, table, results, None)

  /** Atomic swap: the new batch's data/manifest land uncommitted, the
    * deletes land GATED on that batch, and the single commit marker flips
    * both into visibility together. Crash before the marker → old chunks
    * visible, new batch + its tombstones inert; crash after → new state.
    * Never duplicates, never a gap. With no new chunks it still commits
    * the deletes.
    */
  override def replaceChunks(spark: SparkSession, table: String,
      results: Dataset[ChunkResult], removeChunkIds: DataFrame): Unit =
    writeAndCommit(spark, table, results, Some(removeChunkIds))

  private def writeAndCommit(spark: SparkSession, table: String,
      results: Dataset[ChunkResult], deletes: Option[DataFrame]): Unit = {
    val batch = beginBatch(spark, table)
    val dir = batchDataDir(table, batch)
    val conf = new SerializableConfiguration(hadoopConf(spark))
    val write = (chunks: Iterator[ChunkResult]) => ChunkFileWriter.writeTask(dir, conf.value, chunks)
    val rows =
      try results.rdd.mapPartitions(write).collect()
      catch {
        case t: Throwable =>
          abortBatch(spark, table, batch)
          throw t
      }
    commitWrittenBatch(spark, table, batch, rows.toSeq, deletes)
  }

  private def hadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.sessionState.newHadoopConf()

  // ------------------------------------------- task-written batches
  // Every write entry point shares one protocol: beginBatch mints the
  // id, tasks write through [[ChunkFileWriter]] into batchDataDir and
  // return manifest rows, commitWrittenBatch publishes them and flips the
  // marker. A crash anywhere before the marker leaves an invisible torn
  // batch; abortBatch deletes an uncommitted batch's files.

  /** Mint a batch for task-side writers. commits/ exists from the FIRST
    * byte of data: a crash during the very first batch (data written, no
    * marker yet) must read back as an empty table with an empty commit
    * set — not as a "legacy pre-marker catalog" (assertNotLegacy's
    * data-without-commits test), which would hard-error every read and
    * make the torn batch unrecoverable by replay.
    */
  def beginBatch(spark: SparkSession, table: String): String = {
    assertNotLegacy(spark, table)
    fs(spark, commitsDir(table)).mkdirs(new org.apache.hadoop.fs.Path(commitsDir(table)))
    mintBatchId(spark, table)
  }

  /** One batch's data directory: the root a [[ChunkFileWriter]] for the
    * batch writes under.
    */
  def batchDataDir(table: String, batch: String): String =
    s"${dataDir(table)}/batch=$batch"

  private def batchManifestDir(table: String, batch: String): String =
    s"${manifestDir(table)}/batch=$batch"

  /** Commit a batch whose data files the tasks have written: delete files
    * under the batch directory that no row names (dead or discarded task
    * attempts), write `rows` as the batch's one manifest file, tombstone
    * `deletes` (chunk_id, column) GATED on the batch, and flip the marker —
    * adds and deletes become visible together. No rows and no deletes is
    * an empty write: the batch is aborted and nothing commits.
    */
  def commitWrittenBatch(spark: SparkSession, table: String, batch: String,
      rows: Seq[ManifestEntry], deletes: Option[DataFrame]): Unit = {
    if (rows.isEmpty && deletes.isEmpty) {
      abortBatch(spark, table, batch)
      return
    }
    val conf = hadoopConf(spark)
    ChunkFileWriter.sweepOrphans(batchDataDir(table, batch), rows.map(_.file), conf)
    if (rows.nonEmpty) ChunkFileWriter.writeManifest(batchManifestDir(table, batch), rows, conf)
    deletes.foreach(writeTombstones(_, table, batch))
    commitBatch(spark, table, batch)
  }

  /** Append (chunk_id, column) deletes gated on `batch`'s marker. */
  private def writeTombstones(chunkIds: DataFrame, table: String, batch: String): Unit =
    chunkIds.select(col("chunk_id").cast("long"), col("column").cast("string"),
        lit(batch).as("gated_by"))
      .write.mode(SaveMode.Append).parquet(tombDir(table))

  /** A fresh id strictly after every id this table has committed —
    * public for non-batch catalog metadata that must order against the
    * commit log (e.g. the schema-evolution sidecar's per-column
    * "added after" watermark). Nothing is written or committed.
    */
  def newWatermark(spark: SparkSession, table: String): String =
    mintBatchId(spark, table)

  /** Abort an uncommitted batch: delete its (invisible) data and manifest
    * directories. Idempotent.
    */
  def abortBatch(spark: SparkSession, table: String, batch: String): Unit =
    Seq(batchDataDir(table, batch), batchManifestDir(table, batch)).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val f = fs(spark, d)
      if (f.exists(p)) f.delete(p, true)
    }

  /** Full manifest rebuild from the (committed) data files — an explicit
    * repair tool (Iceberg's `repair`/`rewrite_manifests` analogue), NOT
    * part of the append path.
    */
  def repairManifest(spark: SparkSession, table: String): Unit =
    // explicit schema: pre-stats data files read value_min/value_max null
    committedOnly(spark.read.schema(chunkReadSchema).parquet(dataDir(table)),
        spark, committedBatches(spark, table))
      .select(input_file_name().as("file"), col("column"), col("chunk_id"),
        col("codec"), col("n_rows"), col("bytes_in"), col("bytes_out"),
        col("min_key"), col("max_key"), col("value_min"), col("value_max"),
        col("batch"))
      // static: a session running partitionOverwriteMode=dynamic would
      // otherwise leave stale batch= partitions the rebuild didn't emit
      .write.partitionBy("batch").option("partitionOverwriteMode", "static")
      .mode(SaveMode.Overwrite).parquet(manifestDir(table))

  override def readChunks(spark: SparkSession, table: String): Dataset[ChunkResult] = {
    import spark.implicits._
    assertNotLegacy(spark, table)
    val committed = committedBatches(spark, table) // ONE snapshot for batch + tombstone filters
    notTombstoned(
      committedOnly(spark.read.schema(chunkReadSchema).parquet(dataDir(table)), spark, committed),
      spark, table, committed)
      .drop("batch")
      .as[ChunkResult]
  }

  override def readChunksAsOf(spark: SparkSession, table: String, asOf: String): Dataset[ChunkResult] = {
    import spark.implicits._
    assertNotLegacy(spark, table)
    // the snapshot's committed set: marker order is name order because
    // batch ids lead with fixed-width creation millis (newBatchId)
    val committed = committedBatches(spark, table).filter(_ <= asOf)
    notTombstoned(
      committedOnly(spark.read.schema(chunkReadSchema).parquet(dataDir(table)), spark, committed),
      spark, table, committed)
      .drop("batch")
      .as[ChunkResult]
  }

  override def snapshots(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    assertNotLegacy(spark, table)
    val committed = committedBatches(spark, table).sorted
    val base = committed.toSeq.toDF("batch")
    val mDirP = new org.apache.hadoop.fs.Path(manifestDir(table))
    val adds =
      if (!fs(spark, manifestDir(table)).exists(mDirP))
        Seq.empty[(String, Long)].toDF("batch", "n_chunks_added")
      else readManifestRaw(spark, table)
        .groupBy("batch").agg(count(lit(1)).as("n_chunks_added"))
    val dels =
      if (!hasTombstones(spark, table))
        Seq.empty[(String, Long)].toDF("batch", "n_deletes_gated")
      else spark.read.schema(tombSchema).parquet(tombDir(table))
        .filter(col("gated_by").isNotNull)
        .groupBy(col("gated_by").as("batch"))
        .agg(count(lit(1)).as("n_deletes_gated"))
    base.join(adds, Seq("batch"), "left").join(dels, Seq("batch"), "left")
      .select(col("batch"),
        substring(col("batch"), 2, 13).cast("long").as("commit_millis"),
        coalesce(col("n_chunks_added"), lit(0L)).as("n_chunks_added"),
        coalesce(col("n_deletes_gated"), lit(0L)).as("n_deletes_gated"))
      .orderBy("batch")
  }

  // ONE committed-batches snapshot spans the batch + tombstone filters
  // inside manifestOpt; batch is the manifest's own partition column
  // (uncommitted rows exist only after a crash between manifest append
  // and commit marker)
  override def manifest(spark: SparkSession, table: String): DataFrame =
    manifestOpt(spark, table, None)

  /** The manifest as of snapshot `asOf` — the metadata view matching
    * [[readChunksAsOf]]: batches committed with id <= `asOf`, minus
    * deletes gated on one of those batches (legacy null-gated tombstones
    * apply to every snapshot). The connector's snapshot-pinned scans plan
    * from this.
    */
  def manifestAsOf(spark: SparkSession, table: String, asOf: String): DataFrame =
    manifestOpt(spark, table, Some(asOf))

  /** One manifest code path for pinned AND current reads — callers with
    * an optional snapshot pin dispatch here so the two views can never
    * silently diverge.
    */
  def manifestOpt(spark: SparkSession, table: String, asOf: Option[String]): DataFrame = {
    val all = committedBatches(spark, table)
    val committed = asOf match {
      case Some(b) => all.filter(_ <= b)
      case None => all
    }
    manifestSnapshot(spark, table, committed)
  }

  /** The manifest view under an EXPLICIT committed-batches snapshot —
    * for callers (row-level DELETE) that must thread ONE snapshot through
    * a manifest collect and the subsequent data read so a commit landing
    * between the two cannot make them disagree.
    */
  def manifestSnapshot(spark: SparkSession, table: String,
      committed: Array[String]): DataFrame = {
    assertNotLegacy(spark, table)
    val m = readManifestRaw(spark, table)
    notTombstoned(committedOnly(m, spark, committed), spark, table, committed).drop("batch")
  }

  /** Committed batches with the COMMIT time (the marker file's
    * modification time) — distinct from the mint millis embedded in the
    * id: an external write mints its id at job start but commits at job
    * end, and `TIMESTAMP AS OF` must resolve against the moment the
    * batch became visible.
    */
  def committedBatchCommitTimes(spark: SparkSession, table: String): Array[(String, Long)] = {
    val dir = new org.apache.hadoop.fs.Path(commitsDir(table))
    val f = fs(spark, commitsDir(table))
    if (!f.exists(dir)) Array.empty
    else f.listStatus(dir)
      .filterNot(st => st.getPath.getName.startsWith(".") || st.getPath.getName.startsWith("_"))
      .map(st => (st.getPath.getName, st.getModificationTime))
  }

  /** Point-read path: the manifest (tiny, driver-collectable hit list)
    * selects both the FILES to open and the CHUNK IDS to keep, so the scan
    * touches only the data files that can contain the key — Iceberg
    * metadata-read semantics. The chunk-id predicate is a pushable `IN`
    * filter, so parquet row-group min/max statistics prune within each hit
    * file as well. At 100 TB this reads a handful of files; the r2 shape
    * listed and footer-read the ENTIRE data directory per lookup.
    */
  override def chunksForKey(spark: SparkSession, table: String, key: String): Dataset[ChunkResult] = {
    import spark.implicits._
    assertNotLegacy(spark, table)
    // ONE committed snapshot spans the manifest read AND the post-scan
    // tombstone filter — a replaceChunks commit landing mid-lookup
    // resolves to entirely-old or entirely-new, never neither
    val committed = committedBatches(spark, table)
    val m = readManifestRaw(spark, table)
    val hits = notTombstoned(committedOnly(m, spark, committed), spark, table, committed)
      .filter(col("min_key") <= key && col("max_key") >= key)
      .select("file", "chunk_id")
      .collect()
    readHitFiles(spark, table, committed, hits)
  }

  /** Shared tail of the manifest-pruned point/range readers: open ONLY the
    * hit files with a pushable chunk_id IN filter (row-group pruning
    * inside each file), re-applying the tombstone filter AFTER the scan —
    * a hit file can also hold a deleted (chunk, column) row whose
    * chunk_id survives through another column's manifest entry.
    */
  private def readHitFiles(spark: SparkSession, table: String,
      committed: Array[String],
      hits: Array[org.apache.spark.sql.Row]): Dataset[ChunkResult] =
    readChunksInFiles(spark, table, committed,
      hits.map(_.getString(0)).distinct.toIndexedSeq,
      hits.map(_.getLong(1)).distinct.toIndexedSeq)

  /** Manifest-pruned bulk read for rewrite paths (row-level DELETE): open
    * ONLY the manifest-named hit files instead of listing and scanning the
    * whole data directory — at 100 TB a rewrite touching a handful of
    * chunks must not plan a full-table scan just to semi-join most of it
    * away. Same tombstone re-filter discipline as the point readers.
    */
  def readChunksInFiles(spark: SparkSession, table: String,
      committed: Array[String], files: Seq[String],
      ids: Seq[Long]): Dataset[ChunkResult] = {
    import spark.implicits._
    if (files.isEmpty || ids.isEmpty) return spark.emptyDataset[ChunkResult]
    notTombstoned(
      spark.read.schema(chunkReadSchema)
        .option("basePath", dataDir(table)).parquet(files: _*)
        .filter(col("chunk_id").isin(ids: _*)),
      spark, table, committed)
      .drop("batch")
      .as[ChunkResult]
  }

  /** One committed-batches snapshot, for callers threading the same view
    * through a manifest collect and a subsequent [[readChunksInFiles]].
    */
  def committedSnapshot(spark: SparkSession, table: String): Array[String] =
    committedBatches(spark, table)

  override def chunksForValueRange(spark: SparkSession, table: String,
      column: String, lo: Long, hi: Long): Dataset[ChunkResult] = {
    assertNotLegacy(spark, table)
    val committed = committedBatches(spark, table)
    val m = readManifestRaw(spark, table)
    val hits = notTombstoned(committedOnly(m, spark, committed), spark, table, committed)
      .filter(col("column") === column)
      // null stats = not prunable (byte column / all-null chunk / pre-stats
      // writer): conservatively read
      .filter(col("value_min").isNull ||
        (col("value_min") <= hi && col("value_max") >= lo))
      .select("file", "chunk_id")
      .collect()
    readHitFiles(spark, table, committed, hits).filter(col("column") === column)
  }

  /** Deletes are themselves a committed snapshot (a data-less batch whose
    * tombstones are gated on its marker): current reads see the delete
    * exactly when the marker lands — same visibility as the old immediate
    * tombstone, but crash-atomic AND time-travelable, since
    * [[readChunksAsOf]] an earlier snapshot leaves the gating batch out of
    * its committed set. Legacy null-gated tombstones (pre-round-4) remain
    * readable: they apply to every snapshot.
    */
  override def removeChunks(spark: SparkSession, table: String, chunkIds: DataFrame): Unit = {
    assertNotLegacy(spark, table)
    fs(spark, commitsDir(table)).mkdirs(new org.apache.hadoop.fs.Path(commitsDir(table)))
    val batch = mintBatchId(spark, table)
    writeTombstones(chunkIds, table, batch)
    commitBatch(spark, table, batch)
  }

  override def tableExists(spark: SparkSession, table: String): Boolean =
    committedBatches(spark, table).nonEmpty

  override def committedBatchIds(spark: SparkSession, table: String): Array[String] =
    committedBatches(spark, table)

  override def manifestForBatches(spark: SparkSession, table: String,
      batches: Seq[String]): DataFrame =
    // batch is a partition column: the isin filter prunes to the NEW
    // batches' directories — the scan never touches old manifest files
    readManifestRaw(spark, table)
      .filter(col("batch").isin(batches: _*))
      .drop("batch")

  override def deletedChunks(spark: SparkSession, table: String): DataFrame =
    tombstones(spark, table, committedBatches(spark, table)).select("chunk_id", "column")

  /** The manifest parquet files of the given batches, one listStatus per
    * batch directory: the unit both the driver-side manifest read and the
    * distributed `$chunks` scan (one partition per file) work in.
    */
  def manifestFiles(spark: SparkSession, table: String,
      batches: Seq[String]): Array[(String, String)] = {
    if (!manifestPresent(spark, table)) return Array.empty
    val f = fs(spark, manifestDir(table))
    batches.iterator.flatMap { b =>
      val p = new org.apache.hadoop.fs.Path(batchManifestDir(table, b))
      if (!f.exists(p)) Iterator.empty
      else visibleFiles(f, p).map(st => (st.getPath.toString, b))
    }.toArray
  }

  /** The live manifest under the committed snapshot `committed`, read on
    * the DRIVER with parquet-mr — no Spark job. Same rows as
    * [[manifestSnapshot]]: every committed batch's manifest file is read,
    * and a row is dropped iff its batch sorts below the newest effective
    * tombstone gate for its (chunk_id, column) ([[TombstoneGate]]).
    * Driver cost: one listStatus per committed batch plus the rows
    * themselves, streamed — a caller that filters as it iterates holds
    * only the rows it keeps. Drain the iterator: the file being read
    * closes when its rows run out.
    */
  def liveManifestRows(spark: SparkSession, table: String,
      committed: Array[String]): Iterator[ManifestEntry] =
    manifestRows(spark, table, committed.toIndexedSeq,
      new TombstoneGate(effectiveTombstonesFor(spark, table, committed)))

  /** Every manifest row of `batches`, tombstones NOT applied — the driver
    * form of [[manifestForBatches]] (the append-log view a stream plans
    * from).
    */
  def batchManifestRows(spark: SparkSession, table: String,
      batches: Seq[String]): Iterator[ManifestEntry] =
    manifestRows(spark, table, batches, TombstoneGate.Open)

  private def manifestRows(spark: SparkSession, table: String, batches: Seq[String],
      gate: TombstoneGate): Iterator[ManifestEntry] = {
    assertNotLegacy(spark, table)
    val conf = hadoopConf(spark)
    manifestFiles(spark, table, batches).iterator.flatMap { case (f, b) =>
      new ManifestFileReader(f, b, conf, gate)
    }
  }

  /** The EFFECTIVE tombstones under a caller-pinned committed snapshot as
    * plain rows (chunk_id, column, applies_before), read on the driver
    * with parquet-mr — the rows [[tombstones]] yields, without a Spark
    * job. Metadata-sized (one row per delete); a [[TombstoneGate]] built
    * from them applies the batch-scoped filter per row.
    */
  def effectiveTombstonesFor(spark: SparkSession, table: String,
      committed: Array[String]): Array[(Long, String, String)] = {
    val dir = new org.apache.hadoop.fs.Path(tombDir(table))
    val f = fs(spark, tombDir(table))
    if (!f.exists(dir)) return Array.empty
    val conf = hadoopConf(spark)
    val inScope = committed.toSet
    visibleFiles(f, dir).flatMap(st =>
      ManifestFileReader.tombstones(st.getPath.toString, conf, inScope)).toArray
  }

  /** Physical reclamation, safe subset: delete data files whose EVERY
    * (chunk, column) row is tombstoned, then rebuild the manifest. No data
    * is copied, so there is no duplicate-visibility window — a crash
    * leaves some dead files on disk and a re-run finishes the job (partial
    * files keep their tombstone filtering; reclaiming them would need the
    * copy-and-swap a real Iceberg snapshot commit provides). The tombstone
    * list itself is RETAINED: it is also the ingest ledger — streaming
    * replay relies on compacted-away chunk ids staying "already ingested"
    * ([[deletedChunks]]). Returns the number of files deleted.
    */
  def vacuum(spark: SparkSession, table: String): Long = {
    assertNotLegacy(spark, table)
    if (!hasTombstones(spark, table)) return 0L
    // raw manifest (tombstones NOT filtered) → per-file live counts.
    // Dead rows via a SEMI-join under the batch-scoped tombstone
    // condition (a plain left join could duplicate a manifest row that
    // multiple tombstones match and inflate the dead count)
    val raw = readManifestRaw(spark, table)
    val t = broadcast(tombstones(spark, table, committedBatches(spark, table)))
    val total = raw.groupBy("file").agg(count(lit(1)).as("n"))
    val deadCounts = raw.join(t,
        raw("chunk_id") === t("chunk_id") && raw("column") === t("column") &&
          raw("batch") < t("applies_before"),
        "left_semi")
      .groupBy("file").agg(count(lit(1)).as("nDead"))
    val perFile = total.join(deadCounts, Seq("file"), "left")
      .select(col("file"), (col("n") === coalesce(col("nDead"), lit(0L))).as("allDead"))
      .collect()
    val dead = perFile.filter(_.getBoolean(1)).map(_.getString(0))
    if (dead.isEmpty) return 0L
    val anyLive = perFile.exists(!_.getBoolean(1))
    // a FULLY-dead table must get its (empty) manifest BEFORE the files
    // go: repairManifest cannot scan a data dir with zero parquet files,
    // and a crash mid-delete would otherwise leave a manifest naming
    // deleted files (the explicit read schema keeps readChunks working on
    // the emptied table)
    // partitionBy even though empty: a flat zero-row part file at the
    // manifest root would read as a legacy manifest (assertManifestNotLegacy)
    // and collide with the batch= layout on the next append. static mode
    // is forced: under partitionOverwriteMode=dynamic an EMPTY overwrite
    // deletes nothing and the stale manifest would keep naming the files
    // deleted just below
    if (!anyLive)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], raw.schema)
        .write.partitionBy("batch").option("partitionOverwriteMode", "static")
        .mode(SaveMode.Overwrite).parquet(manifestDir(table))
    val conf = spark.sparkContext.hadoopConfiguration
    var deleted = 0L
    dead.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      if (p.getFileSystem(conf).delete(p, false)) deleted += 1
    }
    if (anyLive) {
      // Incremental manifest maintenance: anti-join the manifest against
      // the dead-file list and rewrite — O(manifest rows), never the
      // O(table) data-dir footer rescan repairManifest pays. Rewrite lands
      // in a sibling dir and swaps in (crash between delete and rename
      // leaves a manifest-less table that repairManifest recovers —
      // the same window the Overwrite-based rebuild had).
      import spark.implicits._
      val mDir = manifestDir(table)
      val tmp = mDir + "_rewrite"
      readManifestRaw(spark, table)
        .join(broadcast(dead.toSeq.toDF("file")), Seq("file"), "left_anti")
        // static: a crashed earlier vacuum may have left partitions in the
        // _rewrite dir that dynamic mode would merge instead of replace
        .write.partitionBy("batch").option("partitionOverwriteMode", "static")
        .mode(SaveMode.Overwrite).parquet(tmp)
      val f = fs(spark, mDir)
      f.delete(new org.apache.hadoop.fs.Path(mDir), true)
      // Hadoop rename reports most failures by RETURN VALUE, not by
      // throwing — and at this point the old manifest is already gone, so
      // a swallowed false would leave the table silently manifest-less
      // while vacuum reports success
      require(f.rename(new org.apache.hadoop.fs.Path(tmp), new org.apache.hadoop.fs.Path(mDir)),
        s"vacuum: manifest swap rename $tmp -> $mDir failed; " +
          "the rewritten manifest is intact at the _rewrite path — rename it into place " +
          "or run repairManifest")
    }
    deleted
  }
}
