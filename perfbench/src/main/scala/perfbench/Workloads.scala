package perfbench

import fsstspark.io.ParquetTableIO
import org.apache.spark.sql.{Row, SparkSession}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String,
    traces: String)

final class Ctx(val spark: SparkSession, val args: Args, val nproc: Int, val listener: TaskListener)

/** One workload. [[setup]] is timed as `setup_s`; [[op]] is the timed
  * operation, repeated for the measured window; [[check]] verifies one
  * operation's output, untimed.
  */
abstract class Workload(val ctx: Ctx) {
  protected def spark: SparkSession = ctx.spark
  val gen: PageGen
  /** User bytes the corpus aims at. */
  def targetBytes: Long
  /** Row count of the corpus. */
  lazy val rows: Long = PageGen.rowsFor(gen, targetBytes)
  /** Untimed operations before the measured window. */
  def warmupOps: Int = 6
  /** Timed operations every run makes at least, whatever `--seconds` says. */
  def minOps: Int = 3

  /** Directory holding the workload's tables (the catalog root). */
  var root: String = _
  var ref: Ref = _

  /** Generates the corpus and builds the workload's catalog under `dir`. */
  def setup(dir: String): Unit
  /** Reference figures of the last set-up corpus (untimed). */
  def reference(): Ref
  /** One operation. */
  def op(i: Int): Unit
  def check(i: Int): Option[String]
  /** Checks made once, after the measured window. */
  def finalCheck(): Option[String] = None
  /** The table the per-layer table probes and `stored_bytes_per_input_byte` look at. */
  def table: String
  /** Keys of [[table]], in key order. */
  def sortedKeys(): Array[String]
  /** The source parquet corpus, when the workload has one. */
  def sourceDir: Option[String]
  def io: ParquetTableIO = new ParquetTableIO(root)
}

object Workload {
  final val Names = Seq("rewrite", "rewrite_shuffle", "scan", "lookup")

  def apply(ctx: Ctx): Workload = ctx.args.workload match {
    case "rewrite" => new Rewrite(ctx, shuffle = false)
    case "rewrite_shuffle" => new Rewrite(ctx, shuffle = true)
    case "scan" => new Scan(ctx)
    case "lookup" => new Lookup(ctx)
    case w => throw new IllegalArgumentException(s"unknown workload '$w' (one of ${Names.mkString(", ")})")
  }

  /** The bulk corpus: pages of ~3–30 KB user bytes, 0.2% giant pages. */
  val BulkConfig = GenConfig(giantFraction = 0.002, sizeScale = 2.0)
  final val BulkBytes = 48L << 20
}

/** Shared by the source-parquet workloads. */
abstract class SourceWorkload(ctx: Ctx) extends Workload(ctx) {
  val gen = new PageGen(ctx.args.seed, Workload.BulkConfig)
  def targetBytes: Long = Workload.BulkBytes
  var src: String = _
  def sourceDir: Option[String] = Some(src)

  protected def writeSource(dir: String): Unit = {
    src = s"$dir/source"
    root = s"$dir/tables"
    Trace.span("bench.generate")(Corpus.writeSource(spark, gen, rows, src))
  }

  def reference(): Ref = Corpus.reference(spark, src)

  def sortedKeys(): Array[String] =
    spark.read.parquet(src).select("url").collect().map(_.getString(0)).sorted

  protected def checksumMismatch(got: Seq[Long]): Option[String] =
    if (got == ref.checksum) None
    else Some(s"checksum ${got.mkString(",")} != source ${ref.checksum.mkString(",")}")
}

/** Bulk table rewrite: source parquet → encode → `writeChunks` into a
  * fresh table, partition-local or through the hash-chunked shuffle.
  */
final class Rewrite(ctx: Ctx, shuffle: Boolean) extends SourceWorkload(ctx) {
  private var last = -1
  def table: String = s"out$last"

  def setup(dir: String): Unit = writeSource(dir)

  def op(i: Int): Unit = {
    val in = spark.read.parquet(src)
    val results = Trace.span(if (shuffle) "pipeline.encodeColumns" else "pipeline.encodeColumnsLocal") {
      if (shuffle) Corpus.encodeShuffle(in, ref, ctx.nproc) else Corpus.encodeLocal(in)
    }
    Trace.span("io.writeChunks")(io.writeChunks(results, s"out$i"))
  }

  def check(i: Int): Option[String] = {
    if (last >= 0) Corpus.deleteDir(s"$root/out$last")
    last = i
    val totals = Corpus.manifestTotals(spark, io, table)
    val badRows = Corpus.specs.map(_.name).filter(c => totals.get(c).map(_._1) != Some(ref.rows))
    val bytesIn = totals.values.map(_._2).sum
    if (badRows.nonEmpty) Some(s"manifest row counts differ from the source for ${badRows.mkString(",")}")
    else if (bytesIn != ref.valueBytes) Some(s"manifest bytes_in $bytesIn != source value bytes ${ref.valueBytes}")
    else None
  }

  override def finalCheck(): Option[String] =
    checksumMismatch(Corpus.checksumOf(Corpus.checksumQuery(Corpus.connector(spark, root, table)).head()))
}

/** Full-table read of a catalog built at set-up, through the connector. */
final class Scan(ctx: Ctx) extends SourceWorkload(ctx) {
  val table = "pages"
  // the planning of a read, on the calling thread, keeps getting faster for ~20 reads
  override def warmupOps: Int = 12
  private var last: Row = _

  def setup(dir: String): Unit = {
    writeSource(dir)
    Trace.span("io.writeChunks")(io.writeChunks(Corpus.encodeLocal(spark.read.parquet(src)), table))
  }

  def op(i: Int): Unit = {
    val q = Corpus.checksumQuery(Trace.span("sources.resolve")(Corpus.connector(spark, root, table)))
    Trace.span("sources.plan")(q.queryExecution.executedPlan)
    last = Trace.span("sources.exec")(q.head())
  }

  def check(i: Int): Option[String] = checksumMismatch(Corpus.checksumOf(last))
}

/** Closed-loop SQL lookups, one client, against a key-sorted catalog of
  * small chunks appended in several batches.
  */
final class Lookup(ctx: Ctx) extends Workload(ctx) {
  val gen = new PageGen(ctx.args.seed, GenConfig(giantFraction = 0.0, sizeScale = 1.0))
  def targetBytes: Long = 12L << 20
  override def warmupOps: Int = 10
  override def minOps: Int = 30
  final val Batches = 3
  final val ChunkBytes = 256L << 10
  val table = "pages"
  def sourceDir: Option[String] = None
  private var keys: Array[String] = _
  private var mix: QueryMix = _
  private var query: Query = _
  private var result: QueryRun = _

  /** Each batch is generated in this JVM, outside Spark tasks, and handed to Spark in key
    * order, so its partitions — and the chunks cut from them — hold
    * narrow key ranges.
    */
  def setup(dir: String): Unit = {
    root = s"$dir/tables"
    (0 until Batches).foreach { b =>
      val pages = Trace.span("bench.generate") {
        (rows * b / Batches until rows * (b + 1) / Batches).map(gen.row).sortBy(_.url)
      }
      Trace.span("io.writeChunks")(io.writeChunks(Corpus.encodeLocal(spark.createDataFrame(pages), ChunkBytes), table))
    }
  }

  def reference(): Ref = {
    val bytes = scala.collection.mutable.Map("url" -> 0L, "text" -> 0L, "html" -> 0L, "lang" -> 0L)
    keys = Array.tabulate(rows.toInt) { i =>
      val p = gen.row(i.toLong)
      bytes("url") += p.url.getBytes("UTF-8").length
      bytes("text") += p.text.getBytes("UTF-8").length
      bytes("html") += p.html.length
      bytes("lang") += p.lang.length
      p.url
    }
    java.util.Arrays.sort(keys.asInstanceOf[Array[Object]])
    mix = new QueryMix(ctx.args.seed, gen, keys, s"${Main.Catalog}.$table")
    Ref(rows, bytes.toMap + ("warc_ts" -> 8L * rows), Nil)
  }

  def sortedKeys(): Array[String] = keys

  def op(i: Int): Unit = {
    query = mix.next()
    result = QueryMix.run(spark, query.sql)
  }

  def check(i: Int): Option[String] = QueryMix.check(gen, query, result.rows)
}
