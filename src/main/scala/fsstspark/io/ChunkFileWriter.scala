package fsstspark.io

import fsstspark.pipeline.ChunkResult
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

/** One manifest row: where one (column, chunk) landed plus its pruning
  * stats. `file` is the qualified URI string of the data file — the form
  * `input_file_name()` reports, so rows built by the writer and rows
  * rebuilt by [[ParquetTableIO.repairManifest]] compare equal.
  */
final case class ManifestEntry(
    file: String, column: String, chunk_id: Long, codec: String, n_rows: Long,
    bytes_in: Long, bytes_out: Long, min_key: String, max_key: String,
    value_min: Option[Long], value_max: Option[Long])

/** The catalog's one chunk-file writer, shared by every write entry point
  * (pipeline `writeChunks`, compaction `replaceChunks`, SQL
  * INSERT/OVERWRITE/row-level writes). A task hands it its ChunkResults;
  * each column's chunks go to ONE parquet file under
  * `<batchDir>/column=<name>/`, laid out exactly as a Spark
  * `partitionBy("batch", "column")` write would (the `column` and `batch`
  * values live in the path, not the file), so the typed readers'
  * partition discovery and the connector's projected blob reads see the
  * same files either way.
  *
  * Files are written under a `.`-prefixed in-progress name, which every
  * reader skips as hidden, and renamed to their `part-…parquet` name only
  * in [[commit]]: an executor killed mid-write leaves an invisible
  * partial file, never a truncated parquet file at a visible path. The
  * commit-time orphan sweep ([[ChunkFileWriter.sweepOrphans]]) removes both
  * kinds of leftover before the batch becomes visible.
  */
final class ChunkFileWriter(batchDir: String, conf: Configuration, prefix: String) {
  import ChunkFileWriter._

  private final class Open(val tmp: Path, val dst: Path, val file: String, val out: ParquetWriter[Group])
  private val open = new java.util.LinkedHashMap[String, Open]()
  private val groups = new SimpleGroupFactory(DataSchema)
  private val entries = Array.newBuilder[ManifestEntry]

  private def fileFor(column: String): Open = {
    var o = open.get(column)
    if (o == null) {
      val dir = new Path(s"$batchDir/column=${ExternalCatalogUtils.escapePathName(column)}")
      val name = s"$prefix-${java.util.UUID.randomUUID().toString.take(8)}.parquet"
      val dst = dir.getFileSystem(conf).makeQualified(new Path(dir, name))
      val tmp = new Path(dir, inProgress(name))
      o = new Open(tmp, dst, dst.toUri.toString, newWriter(tmp, DataSchema, conf))
      open.put(column, o)
    }
    o
  }

  def write(r: ChunkResult): Unit = {
    val o = fileFor(r.column)
    val m = ManifestEntry(o.file, r.column, r.chunk_id, r.codec, r.n_rows, r.bytes_in,
      r.bytes_out, r.min_key, r.max_key, r.value_min, r.value_max)
    val g = groups.newGroup()
    appendStats(g, m)
    g.append("key_blob", Binary.fromConstantByteArray(r.key_blob))
    g.append("value_blob", Binary.fromConstantByteArray(r.value_blob))
    o.out.write(g)
    entries += m
  }

  /** Close every file, publish it under its visible name, and return the
    * manifest rows of everything written.
    */
  def commit(): Array[ManifestEntry] = {
    open.values().forEach { o =>
      o.out.close()
      publish(o.tmp, o.dst, conf)
    }
    entries.result()
  }

  /** Best-effort removal of this writer's files, published or not: a
    * losing task attempt must not leave chunks the whole-directory readers
    * would see as duplicates once the batch commits.
    */
  def abort(): Unit = open.values().forEach { o =>
    try o.out.close() catch { case _: Exception => }
    Seq(o.tmp, o.dst).foreach { p =>
      try p.getFileSystem(conf).delete(p, false) catch { case _: Exception => }
    }
  }
}

object ChunkFileWriter {
  /** Data-file layout: ChunkResult minus `column` (a path value), with
    * the repetition a Spark parquet write of ChunkResult produces.
    */
  private val DataSchema: MessageType = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  required int64 chunk_id;
      |  optional binary codec (UTF8);
      |  required int64 n_rows;
      |  required int64 bytes_in;
      |  required int64 bytes_out;
      |  optional binary min_key (UTF8);
      |  optional binary max_key (UTF8);
      |  optional binary key_blob;
      |  optional binary value_blob;
      |  optional int64 value_min;
      |  optional int64 value_max;
      |}""".stripMargin)

  /** Manifest-file layout: [[ManifestEntry]]; `batch` is a path value. */
  private val ManifestSchema: MessageType = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary file (UTF8);
      |  optional binary column (UTF8);
      |  required int64 chunk_id;
      |  optional binary codec (UTF8);
      |  required int64 n_rows;
      |  required int64 bytes_in;
      |  required int64 bytes_out;
      |  optional binary min_key (UTF8);
      |  optional binary max_key (UTF8);
      |  optional int64 value_min;
      |  optional int64 value_max;
      |}""".stripMargin)

  private def inProgress(name: String): String = s".$name.inprogress"

  private def putString(g: Group, field: String, v: String): Unit =
    if (v != null) g.append(field, v)

  /** The fields data and manifest files share (nulls stay unset). */
  private def appendStats(g: Group, m: ManifestEntry): Unit = {
    g.append("chunk_id", m.chunk_id)
    putString(g, "codec", m.codec)
    g.append("n_rows", m.n_rows)
    g.append("bytes_in", m.bytes_in)
    g.append("bytes_out", m.bytes_out)
    putString(g, "min_key", m.min_key)
    putString(g, "max_key", m.max_key)
    m.value_min.foreach(v => g.append("value_min", v))
    m.value_max.foreach(v => g.append("value_max", v))
  }

  private def newWriter(path: Path, schema: MessageType, conf: Configuration): ParquetWriter[Group] =
    ExampleParquetWriter.builder(path).withConf(conf).withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()

  /** Hadoop renames report most failures by return value; a file left at
    * its in-progress name would silently drop its chunks from the batch.
    */
  private def publish(tmp: Path, dst: Path, conf: Configuration): Unit =
    require(tmp.getFileSystem(conf).rename(tmp, dst), s"could not publish $tmp as $dst")

  /** The body of one encode-and-write task: drain `chunks` into a
    * [[ChunkFileWriter]] and return its manifest rows; on failure the
    * task's own files are removed before the error propagates.
    */
  def writeTask(batchDir: String, conf: Configuration,
      chunks: Iterator[ChunkResult]): Iterator[ManifestEntry] = {
    val ctx = TaskContext.get()
    val w = new ChunkFileWriter(batchDir, conf, s"part-${ctx.partitionId()}-${ctx.taskAttemptId()}")
    try {
      chunks.foreach(w.write)
      w.commit().iterator
    } catch {
      case t: Throwable =>
        w.abort()
        throw t
    }
  }

  /** Write a batch's manifest rows as ONE parquet file under `dir`
    * (in-progress name first, like the data files).
    */
  def writeManifest(dir: String, rows: Seq[ManifestEntry], conf: Configuration): Unit = {
    val name = s"part-00000-${java.util.UUID.randomUUID()}.parquet"
    val tmp = new Path(dir, inProgress(name))
    val out = newWriter(tmp, ManifestSchema, conf)
    try {
      val groups = new SimpleGroupFactory(ManifestSchema)
      rows.foreach { m =>
        val g = groups.newGroup()
        putString(g, "file", m.file)
        putString(g, "column", m.column)
        appendStats(g, m)
        out.write(g)
      }
    } finally out.close()
    publish(tmp, new Path(dir, name), conf)
  }

  /** Delete every file under `dir` that no manifest row names: attempts
    * of tasks whose executor died (published or still in-progress), and
    * speculative duplicates whose results were discarded. Paths compare
    * by their decoded path component, so scheme and authority spelling
    * cannot make a named file look orphaned. The walk uses `listStatus`:
    * `listFiles` builds located statuses, which on the local filesystem
    * cost a forked `stat` per file (~6 ms each, measured).
    */
  def sweepOrphans(dir: String, named: Seq[String], conf: Configuration): Unit = {
    val dirP = new Path(dir)
    val fs = dirP.getFileSystem(conf)
    if (!fs.exists(dirP)) return
    val keep = named.iterator.map(f => java.net.URI.create(f).getPath).toSet
    def sweep(d: Path): Unit = fs.listStatus(d).foreach { st =>
      if (st.isDirectory) sweep(st.getPath)
      else if (!keep.contains(st.getPath.toUri.getPath)) fs.delete(st.getPath, false)
    }
    sweep(dirP)
  }
}
