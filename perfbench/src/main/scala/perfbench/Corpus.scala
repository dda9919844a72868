package perfbench

import fsstspark.io.ParquetTableIO
import fsstspark.pipeline.EncodePipeline
import fsstspark.pipeline.EncodePipeline.{ColSpec, ReadSpec}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Reference figures of a generated corpus, computed with plain Spark from
  * the source parquet (independent of fsstspark): row count, user bytes
  * per column, and per-column non-null counts and hash sums.
  */
final case class Ref(rows: Long, bytes: Map[String, Long], checksum: Seq[Long]) {
  def userBytes: Long = bytes.values.sum
  /** Bytes of the encoded value columns (the key column is excluded). */
  def valueBytes: Long = userBytes - bytes("url")
}

/** The corpus-level operations every workload shares: generating a
  * source, encoding it, and checksumming a table read through the
  * connector.
  */
object Corpus {
  final val StringColumns = "text,lang"

  /** The table's value columns; `url` is the row key. */
  val specs: Seq[ColSpec] = Seq(
    ColSpec("text", encode(col("text"), "UTF-8")),
    ColSpec("html", col("html")),
    ColSpec("warc_ts", unix_micros(col("warc_ts")), isLong = true),
    ColSpec("lang", encode(col("lang"), "UTF-8")))

  val readSpecs: Seq[ReadSpec] =
    Seq(ReadSpec("text"), ReadSpec("html"), ReadSpec("warc_ts", isLong = true), ReadSpec("lang"))

  def generate(spark: SparkSession, gen: PageGen, from: Long, until: Long, parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(from, until, 1, parts).map(id => gen.row(id)).toDF()
  }

  /** One parquet file per core. Spark then reads one file per partition;
    * with more files than cores the files-per-partition packing sits on a
    * size threshold, and a seed could flip the read from 4 to 5 partitions
    * (a 5th task running alone on a 4-core host).
    */
  def writeSource(spark: SparkSession, gen: PageGen, rows: Long, dir: String): Unit = {
    val n = spark.sparkContext.defaultParallelism
    generate(spark, gen, 0, rows, n).write.parquet(dir)
  }

  /** Per-column non-null counts, then per-column hash sums. */
  private def checksumCols(cols: Seq[Column]): Seq[Column] =
    cols.map(count(_)) ++ cols.map(c => sum(hash(c).cast("long")))

  def reference(spark: SparkSession, sourceDir: String): Ref = {
    val src = spark.read.parquet(sourceDir)
    val valueCols = Seq(col("url"), col("text"), col("html"), unix_micros(col("warc_ts")), col("lang"))
    val lens = Seq("url", "text", "html", "lang").map(c => sum(octet_length(col(c))))
    val r = src.agg(count(lit(1)), (lens ++ checksumCols(valueCols)): _*).head()
    val rows = r.getLong(0)
    val bytes = Map("url" -> r.getLong(1), "text" -> r.getLong(2), "html" -> r.getLong(3),
      "lang" -> r.getLong(4), "warc_ts" -> 8L * rows)
    Ref(rows, bytes, (5 until r.length).map(r.getLong))
  }

  def connector(spark: SparkSession, root: String, table: String): DataFrame =
    spark.read.format("fsst").option("root", root).option("table", table)
      .option("stringColumns", StringColumns).load()

  /** The full-table checksum query: aggregates a hash of every column, so
    * nothing is pushed down and every value is decoded.
    */
  def checksumQuery(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), checksumCols(Seq("key", "text", "html", "warc_ts", "lang").map(col)): _*)

  def checksumOf(r: Row): Seq[Long] = (1 until r.length).map(r.getLong)

  def encodeLocal(src: DataFrame, chunkBytes: Long = 16L << 20) =
    EncodePipeline.encodeColumnsLocal(src, col("url"), specs, chunkBytes)

  /** Hash-of-key chunking, with as many chunks as the local path's 16 MB
    * chunks would give (at least two per core).
    */
  def encodeShuffle(src: DataFrame, ref: Ref, nproc: Int) = {
    val nChunks = math.max(2 * nproc, math.ceil(ref.valueBytes / (16.0 * (1 << 20))).toInt)
    EncodePipeline.encodeColumns(src, col("url"), EncodePipeline.chunkIdByHash(col("url"), nChunks), specs)
  }

  /** Bytes and count of every regular file under `dir`. */
  def dirSize(dir: String): (Long, Long) = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try {
      val files = s.filter(p => java.nio.file.Files.isRegularFile(p)).toArray
      (files.map(p => java.nio.file.Files.size(p.asInstanceOf[java.nio.file.Path])).sum, files.length.toLong)
    } finally s.close()
  }

  def deleteDir(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
      finally s.close()
    }
  }

  /** Manifest totals per column: (rows, bytes_in). */
  def manifestTotals(spark: SparkSession, io: ParquetTableIO, table: String): Map[String, (Long, Long)] =
    io.manifest(spark, table).groupBy("column").agg(sum("n_rows"), sum("bytes_in")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
}
