package fsstspark.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

import fsstspark.io.ParquetTableIO
import fsstspark.pipeline.{ChunkResult, EncodePipeline}

/** Row-level `DELETE FROM` for boundary-crossing predicates — Iceberg
  * COPY-ON-WRITE delete semantics for the chunk catalog.
  *
  * Why copy-on-write and not position-delete files: the catalog has TWO
  * first-class read surfaces — the DSv2 connector and the typed
  * [[fsstspark.io.TableIO.readChunks]] / [[EncodePipeline.decodeColumns]]
  * path — and a position-delete sidecar applied only by the connector
  * would leave the typed path silently returning deleted rows. The
  * rewrite keeps every reader consistent by construction, and the old
  * chunks tombstone batch-scoped through [[ParquetTableIO.replaceChunks]],
  * so `VERSION AS OF` a pre-delete snapshot still reads them and a crash
  * anywhere leaves either the old or the new state (one commit marker
  * flips the rewritten chunks and the tombstones together).
  *
  * Scale shape: the victim set is pruned with the Catalyst form of the
  * connector scan's key and zone tests ([[FsstScan.pruneManifest]] —
  * key ranges + zone maps prune at parquet row-group level), so the
  * rewrite cost is O(chunks that may contain a match), never O(table).
  * The driver holds the victim id list (ids only — metadata-sized
  * relative to the decode/re-encode the rewrite itself performs, the
  * same snapshot-before-write discipline as
  * [[fsstspark.pipeline.Compaction]]); the decode → filter → re-encode
  * runs as distributed Dataset transforms with the predicate evaluated
  * by CATALYST (exact SQL semantics, including the null-condition rows
  * that DELETE keeps).
  */
private[sources] object FsstRowDelete {

  /** Can every filter be (a) evaluated exactly by Catalyst on the
    * decoded rows and (b) named against the table schema? Static —
    * decides `canDeleteWhere` for non-chunk-aligned predicates.
    */
  def supports(filters: Array[Filter], schema: StructType): Boolean =
    filters.forall(f => filterToColumn(f, schema).isDefined)

  /** Translate a DSv2 `Filter` into the equivalent Catalyst predicate
    * over the table's decoded columns. None for filter shapes outside
    * the supported algebra (nested fields, unknown columns).
    */
  def filterToColumn(f: Filter, schema: StructType): Option[Column] = {
    def known(a: String): Boolean = schema.fieldNames.contains(a) && !a.contains(".")
    def str(a: String): Boolean =
      schema.fields.exists(fd => fd.name == a && fd.dataType == StringType)
    f match {
      case _: AlwaysTrue => Some(lit(true))
      case _: AlwaysFalse => Some(lit(false))
      case EqualTo(a, v) if known(a) => Some(col(a) === lit(v))
      case EqualNullSafe(a, v) if known(a) => Some(col(a) <=> lit(v))
      case GreaterThan(a, v) if known(a) => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) if known(a) => Some(col(a) >= lit(v))
      case LessThan(a, v) if known(a) => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) if known(a) => Some(col(a) <= lit(v))
      case In(a, vs) if known(a) => Some(col(a).isin(vs.toIndexedSeq: _*))
      case IsNull(a) if known(a) => Some(col(a).isNull)
      case IsNotNull(a) if known(a) => Some(col(a).isNotNull)
      case StringStartsWith(a, p) if known(a) && str(a) => Some(col(a).startsWith(p))
      case StringEndsWith(a, p) if known(a) && str(a) => Some(col(a).endsWith(p))
      case StringContains(a, p) if known(a) && str(a) => Some(col(a).contains(p))
      case And(l, r) =>
        for (a <- filterToColumn(l, schema); b <- filterToColumn(r, schema)) yield a && b
      case Or(l, r) =>
        for (a <- filterToColumn(l, schema); b <- filterToColumn(r, schema)) yield a || b
      case Not(c) => filterToColumn(c, schema).map(!_)
      case _ => None
    }
  }

  /** Execute the copy-on-write delete. Throws
    * UnsupportedOperationException when a filter is untranslatable
    * (canDeleteWhere should have refused first).
    */
  def deleteRows(spark: SparkSession, root: String, table: String,
      schema: StructType, filters: Array[Filter]): Unit = {
    import spark.implicits._
    val io = new ParquetTableIO(root)
    val cond = filters.map(f => filterToColumn(f, schema).getOrElse(
      throw new UnsupportedOperationException(
        s"DELETE FROM fsst table: unsupported predicate $f — not chunk-aligned and not " +
          "evaluable on decoded rows")))
      .reduceOption(_ && _).getOrElse(lit(true))
    val valueFields = schema.fields.filter(_.name != "key")
    val valueCols = valueFields.map(_.name).toSeq
    val statCols = filters.flatMap(FsstScan.references).filter(c =>
      valueFields.exists(f => f.name == c &&
        (f.dataType == LongType || f.dataType == DoubleType))).toSet
    val doubleCols = valueFields.filter(_.dataType == DoubleType).map(_.name).toSet

    // candidate victims: chunk instances that MAY contain a matching row,
    // pruned inside the manifest parquet scan. Snapshotted to the driver
    // BEFORE any write — catalog reads re-resolve file listings lazily,
    // and a plan held across the append below would see (and tombstone)
    // the chunks this very rewrite writes. ONE committed snapshot spans
    // the manifest collect and the data read below.
    val committed = io.committedSnapshot(spark, table)
    val candRows = FsstScan.pruneManifest(io.manifestSnapshot(spark, table, committed),
        valueCols, filters, statCols, doubleCols)
      .select("chunk_id", "column", "bytes_in", "file")
      .collect()
    if (candRows.isEmpty) return // no chunk can match: delete is a no-op
    val victimIds = candRows.map(_.getLong(0)).distinct

    // duplicate live instances — checked against the UNPRUNED manifest,
    // not candRows: tombstones address (chunk_id, column) across every
    // gated batch, so a sibling instance of a victim id living in
    // another batch dies with it even when key/zone pruning excluded it
    // from the candidate set (bucket-mode ids repeat with DIFFERENT
    // content across batches — a pruned-away sibling would be deleted
    // without ever being read). Identical-content duplicates are the
    // same hazard via collapse. Refuse loudly either way; the shared
    // scoped-count helper never builds an unbounded In and the collect
    // sees at most one violating row.
    val dup = FsstScan.liveInstanceCounts(
        io.manifestSnapshot(spark, table, committed), Some(victimIds.toIndexedSeq))
      .filter(col("live") > 1).limit(1).collect()
    dup.headOption.foreach { r =>
      throw new IllegalStateException(
        s"row-level DELETE: chunk ${r.getLong(0)} has ${r.getLong(1)} live instances " +
          "(duplicate chunk ids across batches) — the copy-on-write rewrite's id-granular " +
          "tombstone would also delete the instance(s) it never read; compact the table first")
    }

    // schema-generation uniformity: a victim chunk missing one of the
    // current value columns (written before an ADD COLUMN) cannot
    // round-trip through the all-columns decode — refuse loudly
    candRows.groupBy(_.getLong(0)).foreach { case (id, rs) =>
      val cs = rs.map(_.getString(1)).toSet
      require(cs == valueCols.toSet,
        s"row-level DELETE: chunk $id stores columns ${cs.toSeq.sorted.mkString(",")} but " +
          s"the table declares ${valueCols.sorted.mkString(",")} — compact the table onto " +
          "one schema generation first")
    }

    // decode ALL columns of the victim chunks (a chunk is one row-group
    // across its columns — rewriting one column alone would desync the
    // others), evaluate the predicate with Catalyst, keep the rest.
    // DELETE semantics: a row whose condition is NULL is KEPT. The read
    // opens ONLY the manifest-named hit files — never the full data dir.
    val chunks = io.readChunksInFiles(spark, table, committed,
      candRows.map(_.getString(3)).distinct.toIndexedSeq, victimIds.toIndexedSeq)
    val specs = valueFields.map(f => EncodePipeline.ReadSpec(f.name,
      isLong = f.dataType == LongType, isDouble = f.dataType == DoubleType)).toSeq
    val decoded = EncodePipeline.decodeColumns(chunks, specs)
    val typed = valueFields.foldLeft(decoded) { (df, f) =>
      if (f.dataType == StringType) df.withColumn(f.name, col(f.name).cast("string")) else df
    }
    val kept = typed.filter(!coalesce(cond, lit(false)))

    // re-encode the kept rows re-clustered by key (tight manifest key
    // ranges, like Compaction), then swap atomically
    val targetChunkBytes = 16L << 20
    val bytes = candRows.map(_.getLong(2)).sum / math.max(1, valueCols.length)
    val parts = math.max(1, (bytes / (4 * targetChunkBytes)).toInt)
    val colSpecs = valueFields.map { f =>
      val v = if (f.dataType == StringType) col(f.name).cast("binary") else col(f.name)
      EncodePipeline.ColSpec(f.name, v,
        isLong = f.dataType == LongType, isDouble = f.dataType == DoubleType)
    }.toSeq
    val rewritten = EncodePipeline.encodeColumnsLocal(
      kept.repartitionByRange(parts, col("key")).sortWithinPartitions("key"),
      col("key"), colSpecs, targetChunkBytes).persist()
    try {
      val newIds = rewritten.select("chunk_id").distinct().as[Long].collect().toSet
      // content-identical rewrite (conservatively-pruned chunk with no
      // matching rows re-chunking to itself): neither rewrite nor tombstone
      val overlap = newIds.intersect(victimIds.toSet)
      val removeRows = candRows.iterator
        .filter(r => !overlap.contains(r.getLong(0)))
        .map(r => (r.getLong(0), r.getString(1))).toSeq.distinct
      if ((newIds -- overlap).nonEmpty) {
        val toWrite =
          if (overlap.isEmpty) rewritten
          else rewritten.filter(!col("chunk_id").isin(overlap.toSeq: _*)).as[ChunkResult]
        io.replaceChunks(spark, table, toWrite, removeRows.toDF("chunk_id", "column"))
      } else if (removeRows.nonEmpty) {
        // every kept row already lives in a content-identical chunk (or
        // nothing was kept): pure tombstone batch
        io.removeChunks(spark, table, removeRows.toDF("chunk_id", "column"))
      }
    } finally rewritten.unpersist()
  }
}
