package fsstspark.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Regenerates PLANS.md: formatted physical plans for the load-bearing
  * queries, with commentary on what each plan must exhibit (pushdown,
  * pruned schemas, broadcast joins, codegen spans). Run after plan-shape
  * changes: `sbt -batch "runMain fsstspark.tools.PlanDump"`.
  */
object PlanDump {
  private val commentary: Map[String, String] = Map(
    "q1_agg" -> """Whole plan is two WholeStageCodegen spans around one
      |shuffle: partial HashAggregate → Exchange on the group keys → final
      |HashAggregate. The parquet scan reads ONLY the five needed columns
      |(ReadSchema) — column pruning reached the scan.""".stripMargin,
    "q_join_agg" -> """customer broadcasts (BroadcastHashJoin + BroadcastExchange;
      |no shuffle of orders for the join); aggregation shuffles only the
      |grouped rows. Both scans show pruned ReadSchema.""".stripMargin,
    "q_topk_docs" -> """TakeOrderedAndProject — Spark's distributed top-k (per-partition
      |heap + driver merge), not a global sort.""".stripMargin,
    "chunk_stats" -> """The N5 stats pass: ONE aggregate (partial_count/sum/max +
      |distinct rewrite) over a pruned scan; a single Exchange on chunk_id.""".stripMargin,
    "pipe_local_roundtrip" -> """The zero-shuffle pipeline: scan → project →
      |MapPartitions (chunk+train+encode) → MapPartitions/SerializeFromObject
      |(decode) with NO Exchange until the final small aggregation — the
      |only shuffle in the whole job is the per-lang rollup join/agg.""".stripMargin,
    "pipe_resume_pending" -> """Resume semantics: the pending set is a
      |BroadcastHashJoin LeftAnti against the (tiny) completed-chunk-id set —
      |the full data is never shuffled to discover what is left to do.""".stripMargin,
    "lineitem_codec_selection" -> """Single-pass multi-column encode (encodeColumns):
      |ONE parquet scan of lineitem (ReadSchema lists exactly the seven
      |encoded columns + the key parts) and ONE Exchange on chunk_id feed
      |one MapPartitions that emits all seven per-chunk column results
      |(strings, longs, and raw-bit doubles) — the r1 shape had one scan
      |and one shuffle PER COLUMN of the same table.""".stripMargin,
    "pages_pipeline" -> """The north-rule flagship. One scan+shuffle encodes all four
      |columns (url/text/html bytes + warc_ts longs); the encode output is
      |persisted, so its five consumers (three byte decodes, the timestamp
      |decode, the metrics rollup) read an InMemoryTableScan of ONE encode
      |execution instead of re-running the mapPartitions per branch (r2
      |re-encoded ~5×). Every verification is a distributed join-compare of
      |decoded vs original keyed rows — NO driver-side collect anywhere.
      |Mismatch counts and metrics meet in a small final join.""".stripMargin,
    "pages_local_pipeline" -> """The 10^12-row rewrite shape: all four pages
      |columns encode in ONE MapPartitions directly over the scan — NO
      |Exchange anywhere between source and chunk results (partition-local
      |chunking; input layout is the lineage). The verification joins are
      |the only shuffles in the job, exactly as at cluster scale where the
      |rewrite itself must not move data.""".stripMargin,
    "q_point_lookup" -> """The 100 TB point-read path: the manifest (tiny)
      |selects both the hit FILES and the hit chunk ids on the driver; the
      |data scan opens ONLY those files, with a pushable chunk_id IN filter
      |(PushedFilters) for parquet row-group min/max pruning inside them —
      |the data directory is never listed or footer-read in full (r2
      |left-semi-joined a scan of the whole directory).""".stripMargin,
    "pages_readback" -> """The read half of the rewrite story (decodeColumns):
      |ONE Exchange moves COMPRESSED blobs (hash on chunk_id), one
      |MapGroups decodes a chunk's four columns and zips them over the
      |shared key order — column reassembly contributes ZERO joins (the
      |per-column alternative shuffles N copies of the DECODED rows through
      |N−1 equi-joins). The only join anywhere is the broadcast LeftSemi
      |committed-batch visibility filter on catalog METADATA; row identity
      |vs the source is checked by the DuckDB oracle, not re-joined here.""".stripMargin,
    "q_zone_pruning" -> """Zone-map pruning is METADATA work: the manifest
      |read resolves [value_min,value_max] intersections on the driver, so
      |the chunk scan underneath the decode opens only the ~5% of files
      |whose zone intersects the range (the plan's data scan is already
      |pruned; no filter over the full table appears anywhere). Decode +
      |range filter + two 1-row aggregates finish the job.""".stripMargin,
    "dsv2_readback" -> """The DataSource V2 connector read: a BatchScan over
      |the chunk catalog (schema inferred from manifest codec names). Each
      |InputPartition is a chunk group; the reader opens ONLY the projected
      |columns' files (data is partitioned by column, so projection =
      |physical file skipping), decodes each chunk once per column, and
      |zips rows inside the reader — column reassembly contributes zero
      |joins and zero exchanges; the only shuffle is the compare-order
      |sort.""".stripMargin,
    "dsv2_pushdown" -> """Connector zone-map pushdown: the ts range predicate
      |reaches the scan as a pushed filter, the connector's planner prunes
      |chunks against manifest [value_min,value_max] on the driver, and the
      |BatchScan's partitions already hold ONLY the ~5% surviving chunks
      |(the oracle reproduces the planned chunk/row counts from the bucket
      |arithmetic). Spark re-applies the filter as a residual — pruning is
      |chunk-granular, correctness row-granular.""".stripMargin,
    "q_key_range_pushdown" -> """Key-RANGE (>,<) pushdown through the
      |connector: the range predicates prune chunks inside the planner
      |against manifest [min_key,max_key] — and the pruning predicates are
      |THEMSELVES pushed into the manifest parquet scan as Catalyst
      |filters (the driver collects only surviving manifest rows), so
      |planning stays O(survivors) at any table size. The executed
      |BatchScan's partitions hold only the intersecting chunk groups;
      |counts are oracled from the 125-doc bucket arithmetic.""".stripMargin,
    "q_dict_pushdown" -> """Structural predicate pushdown: encode →
      |MapPartitions probe (dictionary membership decides per chunk; packed
      |indices only touched on dict hits) → ONE partial/final aggregate
      |pass over the per-chunk result frame. A single MapPartitions lineage
      |— the encode runs once with nothing persisted (the r4-review shape:
      |the earlier two-branch crossJoin double-ran the whole pipeline).""".stripMargin
  )

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of the load-bearing queries\n\n")
    sb.append("Auto-generated by `fsstspark.tools.PlanDump` (sf0.001, local[8]).\n")
    sb.append("Each section: what the plan must exhibit, then the formatted plan.\n")
    for ((name, note) <- commentary.toSeq.sortBy(_._1)) {
      val df = SparkEntry.queries(name)(spark, sf)
      sb.append(s"\n## $name\n\n")
      sb.append(note.linesIterator.map(_.trim).mkString(" ")).append("\n\n```\n")
      sb.append(df.queryExecution.explainString(FormattedMode).trim)
      sb.append("\n```\n")
    }
    appendRowLevelPlans(spark, sf, sb)
    java.nio.file.Files.writeString(java.nio.file.Paths.get("PLANS.md"), sb.toString)
    println(s"PLANS.md written (${commentary.size + 2} plans)")
    spark.stop()
  }

  /** The DML statements execute eagerly, so their plans never surface
    * through the returned audit DataFrames above — dump the executed
    * ReplaceData plans of an UPDATE and a (runtime-group-filtered) MERGE
    * over a scratch catalog table instead.
    */
  private def appendRowLevelPlans(spark: SparkSession, sf: String, sb: StringBuilder): Unit = {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("plandump-rl").toString
    val io = new fsstspark.io.ParquetTableIO(root)
    val docs = fsstspark.queries.Queries.documents(spark, sf).select(
      lpad(col("doc_id").cast("string"), 8, "0").as("k"), col("n_chars").as("n"))
    io.writeChunks(fsstspark.pipeline.EncodePipeline.encodeColumnsLocal(docs, col("k"), Seq(
      fsstspark.pipeline.EncodePipeline.ColSpec("n", col("n"), isLong = true)), 4L << 10), "docs")
    spark.conf.set("spark.sql.catalog.fsst_plandump", "fsstspark.sources.FsstCatalog")
    spark.conf.set("spark.sql.catalog.fsst_plandump.root", root)
    docs.filter(col("n") > 350).select(col("k"), col("n"))
      .createOrReplaceTempView("plandump_merge_src")
    val cases = Seq(
      ("row-level UPDATE (copy-on-write ReplaceData)",
       """The group-based rewrite: the operation scan carries every stored
         |column plus the _chunk_id metadata column; the zone predicate
         |prunes victim chunks statically; MergeRows/Project applies the
         |SET expressions; ReplaceDataExec re-encodes through the shared
         |DataWriter and commits adds + batch-gated victim tombstones
         |under one marker.""".stripMargin,
       "UPDATE fsst_plandump.docs SET n = n + 10 WHERE n >= 200 AND n < 300"),
      ("row-level MERGE (runtime group filtering)",
       """The ON join gives static pruning nothing, so Spark's
         |RowLevelOperationRuntimeGroupFiltering attaches a dynamicpruning
         |InSubquery on _chunk_id to the operation's BatchScan: the probe
         |(a normal pruned scan of the table semi-joined to the source)
         |collects the DISTINCT matched chunk ids at runtime and the scan
         |re-plans under exactly those groups — only touched chunks are
         |read, rewritten, and tombstoned. (The runtime filter attaches at
         |execution and FormattedMode does not render it on the BatchScan
         |node; the behavior is pinned empirically — on a 20-chunk table a
         |3-key MERGE gates 1 tombstone, and DataSourceSpec asserts a
         |2-key MERGE gates at most 2.)""".stripMargin,
       """MERGE INTO fsst_plandump.docs t USING plandump_merge_src s ON t.key = s.k
         |WHEN MATCHED THEN UPDATE SET n = t.n + 1000""".stripMargin))
    for ((title, note, stmt) <- cases) {
      val qe = spark.sessionState.executePlan(spark.sessionState.sqlParser.parsePlan(stmt))
      qe.assertExecutedPlanPrepared() // executes the command
      sb.append(s"\n## $title\n\n")
      sb.append(note.linesIterator.map(_.trim).mkString(" ")).append("\n\n```\n")
      sb.append(qe.explainString(FormattedMode).trim)
      sb.append("\n```\n")
    }
  }
}
