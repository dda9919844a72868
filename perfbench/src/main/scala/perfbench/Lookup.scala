package perfbench

import fsstspark.sources.ChunkGroupPartition
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** One SQL query of the lookup mix and the generator row ids it must return. */
final case class Query(kind: String, sql: String, expected: Array[Long])

/** What one query did: phase times and what its plan read. */
final case class QueryRun(resolveMs: Double, planMs: Double, execMs: Double, rows: Array[Row],
    chunksRead: Long, rowsDecoded: Long)

/** Seeded lookup mix over a table whose keys are `sortedUrls`. Every block
  * of ten queries holds, in seeded order, eight point lookups of present
  * keys, one point lookup of an absent key and one range of [[RangeKeys]]
  * consecutive keys, so every run sees the same composition.
  */
final class QueryMix(seed: Long, gen: PageGen, sortedUrls: Array[String], table: String) {
  private var r = PageGen.mix(seed ^ 0x1f83d9abfb41bd6bL)
  private val n = sortedUrls.length
  private val cols = "key, text, html, warc_ts, lang"
  private var block: List[Int] = Nil

  private def next(bound: Int): Int = {
    r = PageGen.mix(r)
    java.lang.Long.remainderUnsigned(r, bound.toLong).toInt
  }

  def next(): Query = {
    if (block.isEmpty) {
      val kinds = Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 2)
      (kinds.length - 1 to 1 by -1).foreach { i =>
        val j = next(i + 1)
        val t = kinds(i); kinds(i) = kinds(j); kinds(j) = t
      }
      block = kinds.toList
    }
    val kind = block.head
    block = block.tail
    if (kind == 0) {
      val u = sortedUrls(next(n))
      Query("hit", s"SELECT $cols FROM $table WHERE key = '$u'", Array(QueryMix.rowId(u)))
    } else if (kind == 1) {
      val u = gen.row(n + next(n).toLong).url // ids ≥ n are never written
      Query("miss", s"SELECT $cols FROM $table WHERE key = '$u'", Array.emptyLongArray)
    } else {
      val i = next(n - QueryMix.RangeKeys + 1)
      val hi = i + QueryMix.RangeKeys - 1
      Query("range", s"SELECT $cols FROM $table WHERE key >= '${sortedUrls(i)}' AND key <= '${sortedUrls(hi)}'",
        (i to hi).map(j => QueryMix.rowId(sortedUrls(j))).toArray)
    }
  }
}

object QueryMix {
  final val RangeKeys = 16

  /** Generated urls end in `/<rowId>`. */
  def rowId(url: String): Long = url.substring(url.lastIndexOf('/') + 1).toLong

  /** Runs one query in three timed phases: resolve (parse, table load,
    * analysis), plan (physical planning, including the connector's chunk
    * pruning) and exec (the Spark job). The planned scan's chunks are read
    * off the plan afterwards, outside the timed phases.
    */
  def run(spark: SparkSession, sql: String): QueryRun = {
    var t = System.nanoTime()
    def lap(): Double = { val now = System.nanoTime(); val d = (now - t) / 1e6; t = now; d }
    val df = Trace.span("sources.resolve")(spark.sql(sql))
    val resolveMs = lap()
    val plan = Trace.span("sources.plan")(df.queryExecution.executedPlan)
    val planMs = lap()
    val rows = Trace.span("sources.exec")(df.collect())
    val execMs = lap()
    val parts = scans(plan).flatMap(_.inputPartitions).collect { case p: ChunkGroupPartition => p }
    QueryRun(resolveMs, planMs, execMs, rows, parts.map(_.chunkIds.length.toLong).sum,
      parts.map(_.nRows.sum).sum)
  }

  def scans(p: SparkPlan): Seq[BatchScanExec] = p match {
    case b: BatchScanExec => Seq(b)
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case other => other.children.flatMap(scans)
  }

  private def micros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  /** Compares returned rows (key, text, html, warc_ts, lang) with the
    * generator's rows; returns a description of the first difference.
    */
  def check(gen: PageGen, q: Query, rows: Array[Row]): Option[String] = {
    val got = rows.sortBy(_.getString(0))
    val want = q.expected.map(gen.row).sortBy(_.url)
    if (got.length != want.length) Some(s"${q.kind}: ${got.length} rows, expected ${want.length}")
    else got.zip(want).collectFirst {
      case (g, w) if g.getString(0) != w.url || g.getString(1) != w.text ||
          !java.util.Arrays.equals(g.getAs[Array[Byte]](2), w.html) ||
          g.getLong(3) != micros(w.warc_ts) || g.getString(4) != w.lang =>
        s"${q.kind}: row ${w.url} differs from the generated row"
    }
  }
}
