package graft
import fsstspark.queries.Queries
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every SQL-expressible query has a DuckDB oracle below (same column
  * names + explicit BIGINT casts so the driver's sorted-column hash
  * compare sees identical values). Codec-internal queries (blob sizes,
  * codec choices, sketches) are deliberately oracle-free — the driver
  * records a rows-only check and ScalaTest covers their semantics.
  */
object SparkEntry {

  /** Flagship: the north-rule pages pipeline end-to-end — all four
    * columns (url/text/html/warc_ts) encoded in one scan + one shuffle
    * through the auto-selector and round-trip-verified with distributed
    * join-compares. Driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    Queries.pagesPipeline(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // core compression pipeline (SURVEY.md §2.1 R1-R15 + §2.2 N6-N10)
    "pipe_roundtrip_text" -> (Queries.pipeRoundtripText _),
    "pipe_local_roundtrip" -> (Queries.pipeLocalRoundtrip _),
    "pipe_verify_join" -> (Queries.pipeVerifyJoin _),
    "pipe_resume_pending" -> (Queries.pipeResumePending _),
    "pipe_codec_mix" -> (Queries.pipeCodecMix _),
    // stats pass (N5)
    "chunk_stats" -> (Queries.chunkStats _),
    "chunk_profile" -> (Queries.chunkProfile _),
    // integer codecs over events/lineitem (N2-N4)
    "events_ts_roundtrip" -> (Queries.eventsTsRoundtrip _),
    "events_value_roundtrip" -> (Queries.eventsValueRoundtrip _),
    "events_codec_selection" -> (Queries.eventsCodecSelection _),
    "lineitem_decimal_roundtrip" -> (Queries.lineitemDecimalRoundtrip _),
    "lineitem_codec_selection" -> (Queries.lineitemCodecSelection _),
    // relational coverage (SURVEY.md §2.3)
    "q1_agg" -> (Queries.q1Agg _),
    "q_join_agg" -> (Queries.qJoinAgg _),
    "q_topk_docs" -> (Queries.qTopkDocs _),
    "q_point_lookup" -> (Queries.qPointLookup _),
    "catalog_compaction" -> (Queries.catalogCompaction _),
    "q_zone_pruning" -> (Queries.qZonePruning _),
    "catalog_time_travel" -> (Queries.catalogTimeTravel _),
    "q_window_runs" -> (Queries.qWindowRuns _),
    // the north-rule pages table end-to-end (shuffle-chunked + zero-shuffle)
    "pages_pipeline" -> (Queries.pagesPipeline _),
    "pages_local_pipeline" -> (Queries.pagesLocalPipeline _),
    "pages_readback" -> (Queries.pagesReadback _),
    // DataSource V2 connector: plain spark.read over the chunk catalog
    "dsv2_readback" -> (Queries.dsv2Readback _),
    "dsv2_pushdown" -> (Queries.dsv2Pushdown _),
    "dsv2_streaming" -> (Queries.dsv2Streaming _),
    "dsv2_eq_pushdown" -> (Queries.dsv2EqPushdown _),
    "dsv2_sql_catalog" -> (Queries.dsv2SqlCatalog _),
    "dsv2_sql_insert" -> (Queries.dsv2SqlInsert _),
    "dsv2_sql_ddl" -> (Queries.dsv2SqlDdl _),
    "dsv2_sql_delete" -> (Queries.dsv2SqlDelete _),
    "dsv2_sql_delete_rows" -> (Queries.dsv2SqlDeleteRows _),
    "dsv2_sql_update" -> (Queries.dsv2SqlUpdate _),
    "dsv2_sql_merge" -> (Queries.dsv2SqlMerge _),
    "dsv2_sql_alter" -> (Queries.dsv2SqlAlter _),
    "dsv2_sql_drop" -> (Queries.dsv2SqlDrop _),
    "dsv2_overwrite" -> (Queries.dsv2Overwrite _),
    "dsv2_meta_tables" -> (Queries.dsv2MetaTables _),
    "q_key_range_pushdown" -> (Queries.qKeyRangePushdown _),
    "q_dict_pushdown" -> (Queries.qDictPushdown _),
    "q_fsst_pushdown" -> (Queries.qFsstPushdown _),
    // streaming ingest front end
    "streaming_ingest" -> (Queries.streamingIngest _)
  )

  def oracleSql: Map[String, String] = Map(
    "pipe_roundtrip_text" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
         CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct
         FROM documents GROUP BY lang ORDER BY lang""",
    "pipe_local_roundtrip" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
         CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct
         FROM documents GROUP BY lang ORDER BY lang""",
    "pipe_verify_join" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(0 AS BIGINT) AS n_mismatch
         FROM documents GROUP BY lang ORDER BY lang""",
    "pipe_resume_pending" ->
      """SELECT DISTINCT CAST(doc_id % 32 AS BIGINT) AS chunk_id
         FROM documents WHERE (doc_id % 32) % 4 <> 0 ORDER BY chunk_id""",
    "chunk_profile" ->
      """SELECT CAST(doc_id % 32 AS BIGINT) AS chunk_id,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
         true AS hll_ok, true AS entropy_ok
         FROM documents GROUP BY 1 ORDER BY 1""",
    "chunk_stats" ->
      """SELECT CAST(doc_id % 32 AS BIGINT) AS chunk_id,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
         CAST(max(strlen(text)) AS BIGINT) AS max_len,
         CAST(count(DISTINCT text) AS BIGINT) AS n_distinct
         FROM documents GROUP BY 1 ORDER BY 1""",
    "events_ts_roundtrip" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(min(epoch_us(ts)) AS BIGINT) AS min_us,
         CAST(max(epoch_us(ts)) AS BIGINT) AS max_us,
         CAST(count(DISTINCT epoch_us(ts)) AS BIGINT) AS n_distinct
         FROM events GROUP BY event_type ORDER BY event_type""",
    "events_value_roundtrip" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(0 AS BIGINT) AS n_mismatch
         FROM events GROUP BY event_type ORDER BY event_type""",
    "lineitem_decimal_roundtrip" ->
      """SELECT CAST(count(*) AS BIGINT) AS n, CAST(0 AS BIGINT) AS n_mismatch
         FROM lineitem""",
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(round(sum(l_quantity) * 100) AS BIGINT) AS sum_qty_cents,
         CAST(round(sum(l_extendedprice) * 100) AS BIGINT) AS sum_price_cents,
         CAST(count(*) AS BIGINT) AS n_rows
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q_join_agg" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
         CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS sum_price_cents
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q_topk_docs" ->
      """SELECT doc_id, n_chars, lang FROM documents
         ORDER BY n_chars DESC, doc_id LIMIT 20""",
    "q_point_lookup" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
         WHERE doc_id IN (7, 23, 41) ORDER BY doc_id""",
    // compaction must preserve every byte while strictly reducing chunk
    // count (the fragmented fixture guarantees >1 under-floor chunk), and
    // vacuum must physically reclaim the fully-tombstoned original files.
    "catalog_compaction" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_mismatch,
         true AS compacted_ok, true AS vacuumed_ok FROM documents""",
    // zone-map pruning: chunk = 6h ts bucket; the hit set (chunks whose
    // per-bucket min/max ts intersects the 40%..45%-of-span range) and the
    // rows decoded from it must reproduce exactly from the bucket function
    // the DSv2 connector read path must be byte-identical to the typed
    // decodeColumns path — same oracle as pages_readback
    "dsv2_readback" ->
      """SELECT 'https://' || source || '/doc/' || doc_id AS url,
         true AS url_matches_key,
         text,
         md5('<html><body><h1>https://' || source || '/doc/' || doc_id ||
           '</h1><p>' || text || '</p></body></html>') AS html_md5,
         CAST(1577836800000000 + doc_id * 1000000 AS BIGINT) AS ts_us
         FROM documents ORDER BY url""",
    // reader-level equality pushdown (selectEquals) over the min lang
    "dsv2_eq_pushdown" ->
      """WITH t AS (SELECT min(lang) AS lang FROM documents)
         SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(strlen(text)) AS BIGINT) AS text_bytes,
                min(lpad(CAST(doc_id AS VARCHAR), 8, '0')) AS min_key,
                max(lpad(CAST(doc_id AS VARCHAR), 8, '0')) AS max_key,
                (SELECT lang FROM t) AS lang
         FROM documents WHERE lang = (SELECT lang FROM t)""",
    // SQL catalog + VERSION AS OF: snap1 = batch 1 (even ids), snap2 = all
    "dsv2_sql_catalog" ->
      """SELECT CAST(1 AS BIGINT) AS snap, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(strlen(text)) AS BIGINT) AS total_bytes
         FROM documents WHERE doc_id % 2 = 0
         UNION ALL
         SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
                CAST(sum(strlen(text)) AS BIGINT)
         FROM documents
         ORDER BY snap""",
    // chunk-aligned SQL DELETE: chunk 0 = docs 0..124, tombstoned whole
    "dsv2_sql_delete" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
         min(lpad(CAST(doc_id AS VARCHAR), 8, '0')) AS min_key,
         CAST(sum(strlen(text)) AS BIGINT) AS text_bytes
         FROM documents WHERE doc_id > 124""",
    // row-level DELETE: copy-on-write of n in [400, 700); time travel
    // to the pre-delete snapshot sees every original row
    "dsv2_sql_delete_rows" ->
      """SELECT
         CAST((SELECT count(*) FROM documents
               WHERE NOT (n_chars >= 400 AND n_chars < 700)) AS BIGINT) AS n_live,
         CAST((SELECT sum(n_chars) FROM documents
               WHERE NOT (n_chars >= 400 AND n_chars < 700)) AS BIGINT) AS sum_n,
         CAST((SELECT sum(strlen(text)) FROM documents
               WHERE NOT (n_chars >= 400 AND n_chars < 700)) AS BIGINT) AS text_bytes,
         CAST(0 AS BIGINT) AS n_leftover,
         CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_before""",
    // copy-on-write UPDATE: n*10 and text+'!' for n in [400,700)
    "dsv2_sql_update" ->
      """WITH upd AS (SELECT
           CASE WHEN n_chars >= 400 AND n_chars < 700
                THEN n_chars * 10 ELSE n_chars END AS n,
           strlen(text) + CASE WHEN n_chars >= 400 AND n_chars < 700
                THEN 1 ELSE 0 END AS text_len
         FROM documents)
         SELECT
         CAST((SELECT count(*) FROM upd) AS BIGINT) AS n_live,
         CAST((SELECT sum(n) FROM upd) AS BIGINT) AS sum_n,
         CAST((SELECT sum(text_len) FROM upd) AS BIGINT) AS text_bytes,
         CAST((SELECT count(*) FROM upd
               WHERE n >= 4000 AND n < 7000 AND n % 10 = 0) AS BIGINT) AS n_updated,
         CAST((SELECT sum(n_chars) FROM documents) AS BIGINT) AS sum_n_before""",
    // MERGE: n>=500 deleted, 350<n<500 updated (+1000), n<=200 inserted as N-keys
    "dsv2_sql_merge" ->
      """WITH fin AS (
           SELECT lpad(CAST(doc_id AS VARCHAR), 8, '0') AS key,
                  CASE WHEN n_chars > 350 THEN n_chars + 1000 ELSE n_chars END AS n
           FROM documents WHERE n_chars < 500
           UNION ALL
           SELECT 'N' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS key, n_chars AS n
           FROM documents WHERE n_chars <= 200)
         SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(n) AS BIGINT) AS sum_n,
         min(key) AS min_key, max(key) AS max_key,
         CAST(sum(CASE WHEN key LIKE 'N%' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted
         FROM fin""",
    // ADD COLUMN: even doc_ids predate the column (NULL), odd carry it
    "dsv2_sql_alter" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_n,
         CAST(sum(CASE WHEN doc_id % 2 <> 0 THEN n_chars END) AS BIGINT) AS sum_n,
         CAST(sum(strlen(text)) AS BIGINT) AS text_bytes,
         min(lpad(CAST(doc_id AS VARCHAR), 8, '0')) AS min_key
         FROM documents""",
    // DROP COLUMN text (purged) then re-ADD: only the odd half (inserted
    // after the re-ADD) carries text; the purged even half reads NULL
    "dsv2_sql_drop" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN doc_id % 2 <> 0 AND text IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_text,
         CAST(sum(CASE WHEN doc_id % 2 <> 0 THEN strlen(text) END) AS BIGINT) AS text_bytes,
         CAST(sum(n_chars) AS BIGINT) AS sum_n,
         min(lpad(CAST(doc_id AS VARCHAR), 8, '0')) AS min_key,
         max(lpad(CAST(doc_id AS VARCHAR), 8, '0')) AS max_key
         FROM documents""",
    // INSERT OVERWRITE with n > 500, n doubled; pre-overwrite snapshot intact
    "dsv2_overwrite" ->
      """SELECT
         CAST(sum(CASE WHEN n_chars > 500 THEN 1 ELSE 0 END) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN n_chars > 500 THEN n_chars * 2 END) AS BIGINT) AS sum_n,
         min(CASE WHEN n_chars > 500
             THEN lpad(CAST(doc_id AS VARCHAR), 8, '0') END) AS min_key,
         CAST(count(*) AS BIGINT) AS n_before
         FROM documents""",
    // distributed metadata tables over 250-doc chunks (one append batch)
    "dsv2_meta_tables" ->
      """WITH d AS (SELECT doc_id // 250 AS bk,
                    lpad(CAST(doc_id AS VARCHAR), 8, '0') AS k FROM documents),
         c AS (SELECT bk, count(*) AS cnt, min(k) AS mn, max(k) AS mx
               FROM d GROUP BY bk)
         SELECT CAST(count(*) AS BIGINT) AS n_chunk_rows,
                CAST(sum(cnt) AS BIGINT) AS sum_rows,
                min(mn) AS first_key, max(mx) AS last_key,
                CAST(1 AS BIGINT) AS n_snapshots
         FROM c""",
    // key-range pushdown over 125-doc chunks: bucket intersection with
    // the open interval (lo, hi) reproduces chunks_read/rows_decoded
    "q_key_range_pushdown" ->
      """WITH d AS (SELECT doc_id // 125 AS bk,
                    lpad(CAST(doc_id AS VARCHAR), 8, '0') AS k,
                    strlen(text) AS tb FROM documents),
         n AS (SELECT count(*) AS total FROM documents),
         b AS (SELECT lpad(CAST(total * 30 // 100 AS VARCHAR), 8, '0') AS lo,
                      lpad(CAST(total * 40 // 100 AS VARCHAR), 8, '0') AS hi FROM n),
         c AS (SELECT bk, count(*) AS cnt, min(k) AS mn, max(k) AS mx,
                      sum(tb) AS tbs FROM d GROUP BY bk),
         h AS (SELECT c.* FROM c, b WHERE c.mx > b.lo AND c.mn < b.hi),
         m AS (SELECT d.k, d.tb FROM d, b WHERE d.k > b.lo AND d.k < b.hi)
         SELECT CAST((SELECT count(*) FROM c) AS BIGINT) AS chunks_total,
                CAST((SELECT count(*) FROM h) AS BIGINT) AS chunks_read,
                CAST((SELECT sum(cnt) FROM h) AS BIGINT) AS rows_decoded,
                CAST((SELECT count(*) FROM m) AS BIGINT) AS n_match,
                (SELECT min(k) FROM m) AS min_key_match,
                (SELECT max(k) FROM m) AS max_key_match,
                CAST((SELECT sum(tb) FROM m) AS BIGINT) AS text_bytes""",
    // SQL DDL lifecycle: CREATE + INSERT + CTAS(n > 500)
    "dsv2_sql_ddl" ->
      """SELECT 'big' AS t, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(n_chars) AS BIGINT) AS agg
         FROM documents WHERE n_chars > 500
         UNION ALL
         SELECT 'docs' AS t, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(strlen(text)) AS BIGINT) AS agg
         FROM documents
         ORDER BY t""",
    // SQL INSERT through the DSv2 write path: final table = all documents
    "dsv2_sql_insert" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(DISTINCT lpad(CAST(doc_id AS VARCHAR), 8, '0')) AS BIGINT) AS n_keys,
         CAST(sum(strlen(text)) AS BIGINT) AS total_bytes
         FROM documents""",
    // streaming read of the catalog: exactly-once delivery of both appends
    "dsv2_streaming" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_keys,
         CAST(sum(1577836800000000 + doc_id * 1000000) AS BIGINT) AS sum_ts_us,
         CAST(sum(strlen(text)) AS BIGINT) AS text_bytes
         FROM documents""",
    // connector zone-map pushdown: same bucket arithmetic as q_zone_pruning
    "dsv2_pushdown" ->
      """WITH e AS (SELECT epoch_us(ts) AS t FROM events),
         m AS (SELECT min(t) AS mn, max(t) AS mx FROM e),
         b AS (SELECT mn + (mx - mn) * 40 // 100 AS lo,
                      mn + (mx - mn) * 45 // 100 AS hi FROM m),
         c AS (SELECT t // 21600000000 AS bk, min(t) AS cmn, max(t) AS cmx,
                      count(*) AS cnt FROM e GROUP BY 1),
         h AS (SELECT c.cnt FROM c, b WHERE c.cmn <= b.hi AND c.cmx >= b.lo)
         SELECT CAST((SELECT count(*) FROM c) AS BIGINT) AS chunks_total,
                CAST((SELECT count(*) FROM h) AS BIGINT) AS chunks_read,
                CAST((SELECT sum(cnt) FROM h) AS BIGINT) AS rows_decoded,
                CAST(count(*) AS BIGINT) AS n_match,
                CAST(min(t) AS BIGINT) AS min_t_match,
                CAST(max(t) AS BIGINT) AS max_t_match
         FROM e, b WHERE t >= b.lo AND t <= b.hi""",
    "q_zone_pruning" ->
      """WITH e AS (SELECT epoch_us(ts) AS t FROM events),
         m AS (SELECT min(t) AS mn, max(t) AS mx FROM e),
         b AS (SELECT mn + (mx - mn) * 40 // 100 AS lo,
                      mn + (mx - mn) * 45 // 100 AS hi FROM m),
         c AS (SELECT t // 21600000000 AS bk, min(t) AS cmn, max(t) AS cmx,
                      count(*) AS cnt FROM e GROUP BY 1),
         h AS (SELECT c.cnt FROM c, b WHERE c.cmn <= b.hi AND c.cmx >= b.lo)
         SELECT CAST((SELECT count(*) FROM c) AS BIGINT) AS chunks_total,
                CAST((SELECT count(*) FROM h) AS BIGINT) AS chunks_read,
                CAST((SELECT sum(cnt) FROM h) AS BIGINT) AS rows_decoded,
                CAST(count(*) AS BIGINT) AS n_match,
                CAST(min(t) AS BIGINT) AS min_t_match,
                CAST(max(t) AS BIGINT) AS max_t_match
         FROM e, b WHERE t >= b.lo AND t <= b.hi""",
    // time travel: snap1 = batch 1 only (even ids), snap2 = both batches,
    // snap3 (current) = after deleting batch 1's chunks 0..7
    // (doc_id%16 < 8); 3 snapshots = 2 appends + 1 gated delete
    "catalog_time_travel" ->
      """SELECT CAST(1 AS BIGINT) AS snap, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
                CAST(3 AS BIGINT) AS n_snapshots
         FROM documents WHERE doc_id % 2 = 0
         UNION ALL
         SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
                CAST(sum(strlen(text)) AS BIGINT), CAST(3 AS BIGINT)
         FROM documents
         UNION ALL
         SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
                CAST(sum(strlen(text)) AS BIGINT), CAST(3 AS BIGINT)
         FROM documents WHERE doc_id % 2 = 1 OR doc_id % 16 >= 8
         ORDER BY snap""",
    "q_window_runs" ->
      """SELECT chunk_id, CAST(sum(CASE WHEN prev IS NULL OR prev <> lang
         THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
         FROM (SELECT CAST(doc_id % 32 AS BIGINT) AS chunk_id, lang,
               lag(lang) OVER (PARTITION BY doc_id % 32 ORDER BY doc_id) AS prev
               FROM documents)
         GROUP BY chunk_id ORDER BY chunk_id""",
    // Exact byte/row/chunk accounting for the seven-column single-pass
    // encode (codec choices intentionally not pinned here — see the query
    // comment; events_codec_selection carries the golden selection).
    "lineitem_codec_selection" ->
      """WITH m AS (SELECT CAST(count(*) AS BIGINT) AS nr,
           CAST(sum(strlen(l_returnflag)) AS BIGINT) AS rf_b,
           CAST(sum(strlen(l_linestatus)) AS BIGINT) AS ls_b
           FROM lineitem)
         SELECT * FROM (
           SELECT 'l_extendedprice' AS "column", CAST(32 AS BIGINT) AS n_chunks,
                  nr AS n_rows, 8 * nr AS bytes_in FROM m
           UNION ALL SELECT 'l_linestatus', 32, nr, ls_b FROM m
           UNION ALL SELECT 'l_orderkey', 32, nr, 8 * nr FROM m
           UNION ALL SELECT 'l_partkey', 32, nr, 8 * nr FROM m
           UNION ALL SELECT 'l_quantity', 32, nr, 8 * nr FROM m
           UNION ALL SELECT 'l_returnflag', 32, nr, rf_b FROM m
           UNION ALL SELECT 'l_shipdate', 32, nr, 8 * nr FROM m)
         ORDER BY "column"""",
    // Golden codec selection, verified stable across sf0.001/0.01/0.1:
    // low-cardinality strings AND low-cardinality JSON-ish props → dict,
    // dense ids → bitpack, bounded-range timestamps → FoR. bytes_in:
    // byte columns count value bytes, long columns 8 B/row.
    "events_codec_selection" ->
      """WITH m AS (SELECT CAST(count(*) AS BIGINT) AS nr,
           CAST(sum(strlen(event_type)) AS BIGINT) AS et_b,
           CAST(sum(strlen(props)) AS BIGINT) AS pr_b
           FROM events)
         SELECT * FROM (
           SELECT 'event_type' AS "column", 'dict' AS codec, CAST(32 AS BIGINT) AS n_chunks,
                  nr AS n_rows, et_b AS bytes_in FROM m
           UNION ALL SELECT 'props', 'dict', 32, nr, pr_b FROM m
           UNION ALL SELECT 'ts', 'for', 32, nr, 8 * nr FROM m
           UNION ALL SELECT 'user_id', 'bitpack', 32, nr, 8 * nr FROM m)
         ORDER BY "column"""",
    // pages table is synthesized from documents with SQL-expressible
    // expressions (Queries.pagesFromDocs), so the whole pipeline's rows /
    // chunks / input bytes / mismatch counts have exact oracles.
    "pages_pipeline" ->
      """WITH m AS (SELECT CAST(count(DISTINCT doc_id % 16) AS BIGINT) AS nc,
           CAST(count(*) AS BIGINT) AS nr,
           CAST(sum(strlen('https://' || source || '/doc/' || doc_id)) AS BIGINT) AS url_b,
           CAST(sum(strlen(text)) AS BIGINT) AS text_b,
           CAST(sum(strlen('<html><body><h1>https://' || source || '/doc/' || doc_id ||
             '</h1><p>' || text || '</p></body></html>')) AS BIGINT) AS html_b
           FROM documents)
         SELECT * FROM (
           SELECT 'html' AS "column", nc AS n_chunks, nr AS n_rows, html_b AS bytes_in,
                  CAST(0 AS BIGINT) AS n_mismatch FROM m
           UNION ALL SELECT 'text', nc, nr, text_b, 0 FROM m
           UNION ALL SELECT 'url', nc, nr, url_b, 0 FROM m
           UNION ALL SELECT 'warc_ts', nc, nr, 8 * nr, 0 FROM m)
         ORDER BY "column"""",
    // the zero-shuffle whole-table rewrite: chunk membership is
    // layout-dependent (not oracled); rows/bytes/mismatch are exact.
    "pages_local_pipeline" ->
      """WITH m AS (SELECT CAST(count(*) AS BIGINT) AS nr,
           CAST(sum(strlen('https://' || source || '/doc/' || doc_id)) AS BIGINT) AS url_b,
           CAST(sum(strlen(text)) AS BIGINT) AS text_b,
           CAST(sum(strlen('<html><body><h1>https://' || source || '/doc/' || doc_id ||
             '</h1><p>' || text || '</p></body></html>')) AS BIGINT) AS html_b
           FROM documents)
         SELECT * FROM (
           SELECT 'html' AS "column", nr AS n_rows, html_b AS bytes_in,
                  CAST(0 AS BIGINT) AS n_mismatch FROM m
           UNION ALL SELECT 'text', nr, text_b, 0 FROM m
           UNION ALL SELECT 'url', nr, url_b, 0 FROM m
           UNION ALL SELECT 'warc_ts', nr, 8 * nr, 0 FROM m)
         ORDER BY "column"""",
    // equality predicate answered from dict chunk structure; matched
    // rows exact, efficiency booleans pinned true
    "q_dict_pushdown" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_matches,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_keys,
         min(lpad(CAST(doc_id AS VARCHAR), 8, '0')) AS min_key,
         max(lpad(CAST(doc_id AS VARCHAR), 8, '0')) AS max_key,
         true AS all_dict, true AS pushdown_ok
         FROM documents WHERE lang = 'de'""",
    // FSST equality probe: matches exact, probe touches <1/4 of the input
    "q_fsst_pushdown" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_matches,
         min(lpad(CAST(doc_id AS VARCHAR), 8, '0')) AS min_key,
         max(lpad(CAST(doc_id AS VARCHAR), 8, '0')) AS max_key,
         true AS all_fsst, true AS pushdown_ok
         FROM documents
         WHERE text = (SELECT text FROM documents WHERE doc_id = 7)""",
    // full-table reconstruction from the catalog (decodeColumns zero-join
    // read-back): every row byte-identical to the source
    "pages_readback" ->
      """SELECT 'https://' || source || '/doc/' || doc_id AS url,
         true AS url_matches_key,
         text,
         md5('<html><body><h1>https://' || source || '/doc/' || doc_id ||
           '</h1><p>' || text || '</p></body></html>') AS html_md5,
         CAST(1577836800000000 + doc_id * 1000000 AS BIGINT) AS ts_us
         FROM documents ORDER BY url""",
    "streaming_ingest" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_chunk_rows,
         CAST(sum(strlen(text)) AS BIGINT) AS bytes_in,
         CAST(0 AS BIGINT) AS n_mismatch FROM documents"""
  )
}
