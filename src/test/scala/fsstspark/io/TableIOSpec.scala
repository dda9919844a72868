package fsstspark.io

import fsstspark.pipeline.{ChunkResult, Compaction, EncodePipeline, KV}
import fsstspark.pipeline.EncodePipeline.ColSpec
import fsstspark.queries.Queries
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Fails a write partway through: partition 0 runs to completion (its
  * files are published), then partition 1 yields one chunk and throws.
  * The latch orders the two tasks, so partition 0's files exist before
  * the job fails whatever the core count.
  */
private object MidWriteFailure {
  val partition0Done = new java.util.concurrent.CountDownLatch(1)
  def inject(it: Iterator[ChunkResult]): Iterator[ChunkResult] = {
    val ctx = TaskContext.get()
    if (ctx.partitionId() == 0) {
      ctx.addTaskCompletionListener[Unit](_ => partition0Done.countDown())
      it
    } else {
      partition0Done.await(60, java.util.concurrent.TimeUnit.SECONDS)
      it.take(1) ++ Iterator.continually[ChunkResult](
        throw new IllegalStateException("injected mid-partition failure")).take(1)
    }
  }
}

/** Catalog-format invariants that live below the pipeline surface:
  * batch-id ordering, legacy-layout detection, manifest layout stability
  * across full vacuums, and the task-written batch protocol (empty
  * writes, failed writes, in-progress files, manifest rows).
  */
class TableIOSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("fsstspark-tableio-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  private val sf = "/root/testdata/sf0.001"

  test("BatchClock: millis strictly increase even when minted faster than the wall clock ticks") {
    val vals = Array.fill(10000)(BatchClock.nextMillis())
    vals.sliding(2).foreach(p => assert(p(0) < p(1),
      "same-millisecond batch ids would order by their random suffix and break time travel"))
    // stays anchored to the wall clock (never runs ahead by more than the mint count)
    assert(vals.last <= System.currentTimeMillis() + vals.length)
  }

  test("legacy flat (pre-batch-partitioned) manifest fails loudly; repairManifest migrates") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("legacy-manifest").toString
    val io = new ParquetTableIO(root)
    val kv = Queries.docsKV(spark, sf)
    io.writeChunks(EncodePipeline.encodeBytesLocal(kv, "text", 32L << 10), "docs")
    val nChunks = io.readChunks(spark, "docs").count()
    assert(io.manifest(spark, "docs").count() == nChunks)
    // simulate the round-≤3 layout: one manifest part file flat at the
    // manifest root instead of under its batch= partition
    val mRoot = new java.io.File(s"$root/docs/manifest")
    val part = mRoot.listFiles().filter(_.isDirectory).flatMap(_.listFiles())
      .find(f => f.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath, new java.io.File(mRoot, "part-legacy.parquet").toPath)
    val e = intercept[IllegalStateException](io.manifest(spark, "docs").count())
    assert(e.getMessage.contains("repairManifest"),
      s"legacy manifest must point at the migration path, got: ${e.getMessage}")
    // the documented migration rebuilds the partitioned layout from data
    io.repairManifest(spark, "docs")
    assert(io.manifest(spark, "docs").count() == nChunks)
    val aKey = kv.select(min("key")).as[String].head()
    assert(EncodePipeline.decodeBytes(io.chunksForKey(spark, "docs", aKey))
      .filter(col("key") === aKey).count() == 1)
  }

  test("full vacuum leaves a manifest layout the next append extends cleanly") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("vacuum-all").toString
    val io = new ParquetTableIO(root)
    val kv = Queries.docsKV(spark, sf)
    io.writeChunks(EncodePipeline.encodeBytesLocal(kv, "text", 32L << 10), "docs")
    val all = io.readChunks(spark, "docs")
      .select(col("chunk_id"), col("column")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    io.removeChunks(spark, "docs", all.toDF("chunk_id", "column"))
    assert(io.vacuum(spark, "docs") > 0, "fully-dead table must reclaim files")
    assert(io.readChunks(spark, "docs").count() == 0)
    assert(io.manifest(spark, "docs").count() == 0)
    // the empty manifest must be in the partitioned layout: a flat
    // zero-row part file here would read as legacy AND collide with the
    // batch= directories this append creates. The appended content must
    // DIFFER from the vacuumed content — identical chunks would re-mint
    // the same content-derived ids, which stay tombstoned by design
    // (replay-safe ingest dedup)
    val half = kv.filter(xxhash64(col("key")) % 2 === 0)
    io.writeChunks(EncodePipeline.encodeBytesLocal(half, "text", 32L << 10), "docs")
    val n = io.readChunks(spark, "docs").count()
    assert(n > 0 && io.manifest(spark, "docs").count() == n)
    assert(EncodePipeline.verify(half, EncodePipeline.decodeBytes(io.readChunks(spark, "docs")))
      .filter(!col("matched")).count() == 0)
  }

  private def freshRoot(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Every committed manifest row, tombstones not applied, as a multiset
    * over all eleven fields.
    */
  private def manifestRows(io: ParquetTableIO, table: String): Map[Seq[Any], Int] =
    multiset(io.manifestForBatches(spark, table, io.committedBatchIds(spark, table).toSeq)
      .collect().iterator.map(_.toSeq))

  /** The rows the writer committed must be exactly what `repairManifest`
    * derives from the data files with `input_file_name()`.
    */
  private def assertManifestMatchesFiles(io: ParquetTableIO, table: String): Unit = {
    val written = manifestRows(io, table)
    assert(written.nonEmpty)
    io.repairManifest(spark, table)
    val derived = manifestRows(io, table)
    assert(written == derived,
      s"committed manifest differs from the data files: only written " +
        s"${(written.keySet -- derived.keySet).take(3)}; only derived ${(derived.keySet -- written.keySet).take(3)}")
  }

  private val ManifestFields = Seq("file", "column", "chunk_id", "codec", "n_rows", "bytes_in",
    "bytes_out", "min_key", "max_key", "value_min", "value_max")

  private def multiset(rows: Iterator[Seq[Any]]): Map[Seq[Any], Int] =
    rows.toSeq.groupBy(identity).map { case (k, v) => k -> v.length }

  /** The driver-side live manifest read must return exactly the rows of
    * the Spark view `manifestSnapshot`, as multisets over all eleven
    * fields, under the same committed snapshot.
    */
  private def assertDriverReadMatches(io: ParquetTableIO, table: String,
      committed: Array[String], state: String): Map[Seq[Any], Int] = {
    val driver = multiset(io.liveManifestRows(spark, table, committed).map(e =>
      Seq[Any](e.file, e.column, e.chunk_id, e.codec, e.n_rows, e.bytes_in, e.bytes_out,
        e.min_key, e.max_key, e.value_min.getOrElse(null), e.value_max.getOrElse(null))))
    val viaSpark = multiset(io.manifestSnapshot(spark, table, committed)
      .select(ManifestFields.map(col): _*).collect().iterator.map(_.toSeq))
    val same = driver == viaSpark
    assert(same,
      s"$state: only in the driver read ${(driver.keySet -- viaSpark.keySet).take(3)}; " +
        s"only in manifestSnapshot ${(viaSpark.keySet -- driver.keySet).take(3)}")
    driver
  }

  /** Regular files under `dir`, recursively. */
  private def filesUnder(dir: String): Seq[java.nio.file.Path] = {
    val d = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(d)) Nil
    else {
      val s = java.nio.file.Files.walk(d)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).toList
      finally s.close()
    }
  }

  /** Visible (non-hidden) files under `dir`, recursively. */
  private def visibleFiles(dir: String): Seq[java.nio.file.Path] =
    filesUnder(dir).filterNot { p => val n = p.getFileName.toString; n.startsWith(".") || n.startsWith("_") }

  test("written manifest rows equal the rows repairManifest derives: local encode, compaction, SQL INSERT") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // multi-partition, four-column partition-local encode
    val root = freshRoot("manifest-eq")
    val io = new ParquetTableIO(root)
    val pages = docs.repartition(3).select(
      lpad(col("doc_id").cast("string"), 8, "0").as("key"), col("text"),
      encode(concat(lit("<p>"), col("text")), "UTF-8").as("html"),
      (col("doc_id") * 1000L).as("ts"), (col("n_chars") / lit(3.0)).as("score"))
    io.writeChunks(EncodePipeline.encodeColumnsLocal(pages, col("key"), Seq(
      ColSpec("text", encode(col("text"), "UTF-8")), ColSpec("html", col("html")),
      ColSpec("ts", col("ts"), isLong = true), ColSpec("score", col("score"), isDouble = true)),
      16L << 10), "pages")
    assert(io.manifest(spark, "pages").select("file").distinct().count() >= 3 * 4,
      "fixture should write one file per (task, column)")
    assertManifestMatchesFiles(io, "pages")
    // compaction swap (replaceChunks) over a fragmented table
    val kv = docs.select(lpad(col("doc_id").cast("string"), 8, "0").as("key"),
      encode(col("text"), "UTF-8").as("value")).as[KV]
    io.writeChunks(EncodePipeline.encodeBytesLocal(kv.filter(col("key") < "00000250"), "text", 4L << 10), "docs")
    io.writeChunks(EncodePipeline.encodeBytesLocal(kv.filter(col("key") >= "00000250"), "text", 4L << 10), "docs")
    val res = Compaction.compactColumn(spark, io, "docs", "text",
      minChunkBytes = 1L << 20, targetChunkBytes = 64L << 10)
    assert(res.chunksWritten > 0)
    assertManifestMatchesFiles(io, "docs")
    // SQL INSERT INTO through the DSv2 write path
    val cat = s"fsst_eq_${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "fsstspark.sources.FsstCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE TABLE $cat.sqlt (key STRING, text STRING, n BIGINT) USING fsst")
    docs.repartition(2).select(lpad(col("doc_id").cast("string"), 8, "0").as("key"),
      col("text"), col("n_chars").as("n")).createOrReplaceTempView("eq_src")
    spark.sql(s"INSERT INTO $cat.sqlt SELECT * FROM eq_src")
    assertManifestMatchesFiles(io, "sqlt")
  }

  test("empty writes are a no-op; replaceChunks with no new chunks still commits its deletes") {
    import spark.implicits._
    val root = freshRoot("empty-write")
    val io = new ParquetTableIO(root)
    // on a fresh table: nothing written, nothing committed
    io.writeChunks(spark.emptyDataset[ChunkResult], "docs")
    assert(!io.tableExists(spark, "docs"))
    assert(visibleFiles(s"$root/docs").isEmpty)
    assert(!new java.io.File(s"$root/docs/data").exists() && !new java.io.File(s"$root/docs/manifest").exists())
    // on a populated table: no new snapshot
    val kv = Queries.docsKV(spark, sf)
    io.writeChunks(EncodePipeline.encodeBytesLocal(kv, "text", 32L << 10), "docs")
    val batches = io.committedBatchIds(spark, "docs").toSet
    val chunks = io.readChunks(spark, "docs").select("chunk_id", "column").as[(Long, String)].collect()
    io.writeChunks(spark.emptyDataset[ChunkResult], "docs")
    assert(io.committedBatchIds(spark, "docs").toSet == batches)
    assert(new java.io.File(s"$root/docs/data").list().length == batches.size)
    // a swap with nothing to add is a pure delete, committed as one snapshot
    val victims = chunks.take(2).toSeq
    io.replaceChunks(spark, "docs", spark.emptyDataset[ChunkResult], victims.toDF("chunk_id", "column"))
    val after = io.committedBatchIds(spark, "docs").toSet
    assert(after.size == batches.size + 1)
    val snap = io.snapshots(spark, "docs").filter(col("batch") === (after -- batches).head)
      .select("n_chunks_added", "n_deletes_gated").as[(Long, Long)].head()
    assert(snap == ((0L, 2L)))
    assert(io.readChunks(spark, "docs").count() == chunks.length - 2)
  }

  test("a write that fails mid-partition aborts its batch: no marker, no visible files, clean rerun") {
    import spark.implicits._
    val root = freshRoot("failed-write")
    val io = new ParquetTableIO(root)
    val kv = Queries.docsKV(spark, sf)
    io.writeChunks(EncodePipeline.encodeBytesLocal(kv, "text", 32L << 10), "docs")
    val batches = io.committedBatchIds(spark, "docs").toSet
    val before = io.readChunks(spark, "docs").select("chunk_id", "column", "bytes_out")
      .as[(Long, String, Long)].collect().sorted.toSeq
    val visibleBefore = (visibleFiles(s"$root/docs/data") ++ visibleFiles(s"$root/docs/manifest")).toSet
    val chunks = EncodePipeline.encodeBytesLocal(kv, "other", 8L << 10).collect()
    assert(chunks.length >= 4)
    val failing = spark.createDataset(chunks.toSeq).repartition(2)
      .mapPartitions((it: Iterator[ChunkResult]) => MidWriteFailure.inject(it))
    val e = intercept[Exception](io.writeChunks(failing, "docs"))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("injected mid-partition failure")))
    assert(io.committedBatchIds(spark, "docs").toSet == batches, "a failed write must not commit")
    assert((visibleFiles(s"$root/docs/data") ++ visibleFiles(s"$root/docs/manifest")).toSet == visibleBefore,
      "abort must delete the failed batch's data and manifest files")
    assert(io.readChunks(spark, "docs").select("chunk_id", "column", "bytes_out")
      .as[(Long, String, Long)].collect().sorted.toSeq == before)
    // the rerun lands cleanly as one new snapshot
    io.writeChunks(spark.createDataset(chunks.toSeq).repartition(2), "docs")
    assert(io.committedBatchIds(spark, "docs").length == batches.size + 1)
    assert(io.readChunks(spark, "docs").count() == before.length + chunks.length)
    assert(io.manifest(spark, "docs").count() == before.length + chunks.length)
  }

  test("a truncated in-progress file in an uncommitted batch is ignored by readChunks, manifest and repairManifest") {
    val root = freshRoot("torn-file")
    val io = new ParquetTableIO(root)
    val kv = Queries.docsKV(spark, sf)
    io.writeChunks(EncodePipeline.encodeBytesLocal(kv, "text", 32L << 10), "docs")
    val n = io.readChunks(spark, "docs").count()
    val rows = manifestRows(io, "docs")
    // an executor killed mid-write: a minted, never-committed batch whose
    // data and manifest files stop partway through, at in-progress names
    val torn = io.beginBatch(spark, "docs")
    val whole = java.nio.file.Files.readAllBytes(visibleFiles(s"$root/docs/data").head)
    for (dir <- Seq(s"${io.batchDataDir("docs", torn)}/column=text", s"$root/docs/manifest/batch=$torn")) {
      val d = java.nio.file.Paths.get(dir)
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.write(d.resolve(".part-0-7-deadbeef.parquet.inprogress"),
        java.util.Arrays.copyOf(whole, whole.length / 2))
    }
    assert(io.readChunks(spark, "docs").count() == n)
    assert(manifestRows(io, "docs") == rows)
    io.repairManifest(spark, "docs")
    assert(manifestRows(io, "docs") == rows)
    assert(io.readChunks(spark, "docs").count() == n)
  }

  test("commit sweeps files no manifest row names: lost task attempts and in-progress leftovers") {
    val root = freshRoot("orphan-sweep")
    val io = new ParquetTableIO(root)
    val kv = Queries.docsKV(spark, sf)
    val chunks = EncodePipeline.encodeBytesLocal(kv, "text", 32L << 10).collect()
    val batch = io.beginBatch(spark, "docs")
    val dir = io.batchDataDir("docs", batch)
    val conf = spark.sparkContext.hadoopConfiguration
    def attempt(prefix: String): Array[ManifestEntry] = {
      val w = new ChunkFileWriter(dir, conf, prefix)
      chunks.foreach(w.write)
      w.commit()
    }
    val rows = attempt("part-0-1")
    attempt("part-0-2") // a finished attempt whose result the driver never used
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/column=text/.part-0-3-dead.parquet.inprogress"),
      Array[Byte](1, 2, 3)) // an attempt killed mid-file
    io.commitWrittenBatch(spark, "docs", batch, rows.toSeq, None)
    assert(filesUnder(dir).map(_.getFileName.toString).filterNot(_.endsWith(".crc")).toSet ==
      rows.map(r => new org.apache.hadoop.fs.Path(r.file).getName).toSet)
    assert(io.readChunks(spark, "docs").count() == chunks.length)
  }

  test("the driver manifest read equals manifestSnapshot across tombstone, swap, pin and schema states") {
    import spark.implicits._
    val root = freshRoot("driver-manifest")
    val io = new ParquetTableIO(root)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val kv = docs.select(lpad(col("doc_id").cast("string"), 8, "0").as("key"),
      encode(col("text"), "UTF-8").as("value")).as[KV]
    io.writeChunks(EncodePipeline.encodeBytesLocal(kv.filter(col("key") < "00000250"), "text", 4L << 10), "docs")
    io.writeChunks(EncodePipeline.encodeBytesLocal(kv.filter(col("key") >= "00000250"), "text", 4L << 10), "docs")
    def committed = io.committedBatchIds(spark, "docs")
    def check(state: String): Set[Long] =
      assertDriverReadMatches(io, "docs", committed, state).keySet.map(_(2).asInstanceOf[Long])
    val ids = check("two appends").toSeq.sorted
    assert(ids.length >= 6, "fixture should cut several chunks")
    val tombDir = s"$root/docs/tombstones"

    // a legacy tombstone file, written before deletes carried a gate: an
    // immediate delete of every instance
    Seq((ids(0), "text")).toDF("chunk_id", "column").write.mode("append").parquet(tombDir)
    assert(!check("legacy null-gated tombstone").contains(ids(0)))

    // deletes gated on a batch that never commits stay inert
    val torn = io.beginBatch(spark, "docs")
    Seq((ids(1), "text", torn)).toDF("chunk_id", "column", "gated_by")
      .write.mode("append").parquet(tombDir)
    assert(check("gated tombstone of an uncommitted batch").contains(ids(1)))

    // a snapshot pinned before a DELETE still sees the deleted chunk
    val pin = committed.max
    io.removeChunks(spark, "docs", Seq((ids(2), "text")).toDF("chunk_id", "column"))
    assert(!check("after DELETE").contains(ids(2)))
    assert(assertDriverReadMatches(io, "docs", committed.filter(_ <= pin), "asOf before DELETE")
      .keySet.exists(_(2) == ids(2)))

    // a replaceChunks swap whose new chunks repeat the ids it deletes:
    // the gate kills the old instances and keeps the new ones
    val fresh = EncodePipeline.encodeBytesLocal(kv.filter(col("key") >= "00000250"), "text", 4L << 10)
    val freshIds = fresh.select("chunk_id").as[Long].collect().toSeq
    io.replaceChunks(spark, "docs", fresh, freshIds.map((_, "text")).toDF("chunk_id", "column"))
    assert(check("replaceChunks swap").intersect(freshIds.toSet) == freshIds.toSet)

    // per-column compaction: another swap, many victims, fresh ids
    assert(Compaction.compactColumn(spark, io, "docs", "text",
      minChunkBytes = 1L << 20, targetChunkBytes = 64L << 10).chunksWritten > 0)
    check("Compaction.compactColumn")

    // ALTER TABLE ADD COLUMN through the SQL catalog, and a manifest
    // generation written before zone-map stats existed
    val cat = s"fsst_drv_${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "fsstspark.sources.FsstCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE TABLE $cat.sqlt (key STRING, text STRING, n BIGINT) USING fsst")
    docs.select(lpad(col("doc_id").cast("string"), 8, "0").as("key"), col("text"),
      col("n_chars").as("n")).createOrReplaceTempView("drv_src")
    spark.sql(s"INSERT INTO $cat.sqlt SELECT * FROM drv_src WHERE key < '00000300'")
    val first = io.committedBatchIds(spark, "sqlt").max
    spark.sql(s"ALTER TABLE $cat.sqlt ADD COLUMNS (m BIGINT)")
    spark.sql(s"INSERT INTO $cat.sqlt SELECT key, text, n, n * 2 FROM drv_src WHERE key >= '00000300'")
    val sqlRows = assertDriverReadMatches(io, "sqlt", io.committedBatchIds(spark, "sqlt"), "ADD COLUMN")
    assert(sqlRows.keySet.exists(_(1) == "m") && sqlRows.keySet.exists(r => r(1) == "n" && r(9) != null))
    val firstDir = s"$root/sqlt/manifest/batch=$first"
    val preStats = spark.read.parquet(firstDir).drop("value_min", "value_max").collect()
    val preSchema = spark.read.parquet(firstDir).drop("value_min", "value_max").schema
    spark.createDataFrame(java.util.Arrays.asList(preStats: _*), preSchema)
      .coalesce(1).write.mode("overwrite").parquet(firstDir)
    val mixed = assertDriverReadMatches(io, "sqlt", io.committedBatchIds(spark, "sqlt"),
      "pre-zone-stats manifest generation")
    assert(mixed.keySet.exists(r => r(1) == "n" && r(9) == null))
  }
}
