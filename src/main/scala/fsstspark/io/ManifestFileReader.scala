package fsstspark.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport

/** The batch-scoped tombstone rule as a per-row test. From effective
  * tombstones (chunk_id, column, applies_before) it keeps the newest gate
  * per (chunk_id, column); a manifest row of batch `b` is dead iff `b`
  * sorts below that gate. This is the rule the catalog's anti-join
  * applies, folded into a map so a reader can test rows one at a time.
  */
final class TombstoneGate(tombs: Iterable[(Long, String, String)]) extends Serializable {
  private val newest = {
    val m = new java.util.HashMap[(Long, String), String]()
    tombs.foreach { case (id, column, gate) =>
      val cur = m.get((id, column))
      if (cur == null || cur < gate) m.put((id, column), gate)
    }
    m
  }

  def live(chunkId: Long, column: String, batch: String): Boolean = {
    val g = newest.get((chunkId, column))
    g == null || batch >= g
  }
}

object TombstoneGate {
  val Open: TombstoneGate = new TombstoneGate(Nil)
}

/** The rows of one batch's manifest file, read with parquet-mr — no
  * Spark job — and filtered through `gate`. The file's own schema is
  * read, so manifests written before zone-map stats existed surface
  * `value_min`/`value_max` as None. The file is closed when the rows
  * run out, or by [[close]].
  */
final class ManifestFileReader(file: String, batch: String, conf: Configuration,
    gate: TombstoneGate) extends Iterator[ManifestEntry] with java.io.Closeable {
  private val reader = ManifestFileReader.open(file, conf)
  private var open = true
  private var pending: ManifestEntry = advance()

  private def advance(): ManifestEntry = {
    while (open) {
      val g = try reader.read() catch { case t: Throwable => close(); throw t }
      if (g == null) close()
      else {
        val e = ManifestFileReader.entry(g)
        if (gate.live(e.chunk_id, e.column, batch)) return e
      }
    }
    null
  }

  override def hasNext: Boolean = pending != null
  override def next(): ManifestEntry = {
    if (pending == null) throw new NoSuchElementException(s"manifest file $file is exhausted")
    val e = pending
    pending = advance()
    e
  }
  override def close(): Unit = if (open) { open = false; reader.close() }
}

object ManifestFileReader {
  private def open(file: String, conf: Configuration): ParquetReader[Group] =
    ParquetReader.builder(new GroupReadSupport(), new Path(file))
      .withConf(new Configuration(conf)).build()

  private def has(g: Group, field: String): Boolean =
    g.getType.containsField(field) && g.getFieldRepetitionCount(field) > 0

  private def str(g: Group, field: String): String =
    if (has(g, field)) g.getBinary(field, 0).toStringUsingUTF8 else null

  private def lng(g: Group, field: String): Option[Long] =
    if (has(g, field)) Some(g.getLong(field, 0)) else None

  private def entry(g: Group): ManifestEntry =
    ManifestEntry(str(g, "file"), str(g, "column"), g.getLong("chunk_id", 0), str(g, "codec"),
      g.getLong("n_rows", 0), g.getLong("bytes_in", 0), g.getLong("bytes_out", 0),
      str(g, "min_key"), str(g, "max_key"), lng(g, "value_min"), lng(g, "value_max"))

  /** The effective rows of one tombstone file as (chunk_id, column,
    * applies_before): deletes gated on a batch `inScope` accepts, plus
    * immediate deletes — rows with no `gated_by`, including every row of
    * a file written before the gating column existed — as '~', which
    * sorts after every batch id.
    */
  private[io] def tombstones(file: String, conf: Configuration,
      inScope: String => Boolean): Array[(Long, String, String)] = {
    val out = Array.newBuilder[(Long, String, String)]
    val r = open(file, conf)
    try {
      var g = r.read()
      while (g != null) {
        val gate = str(g, "gated_by")
        val column = str(g, "column")
        // a null id or column never matches in the anti-join either
        if (has(g, "chunk_id") && column != null && (gate == null || inScope(gate)))
          out += ((g.getLong("chunk_id", 0), column, if (gate == null) "~" else gate))
        g = r.read()
      }
    } finally r.close()
    out.result()
  }
}
