package fsstspark.tools

import fsstspark.codec.fsst.{FsstTrainer, SymbolTable}
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets.UTF_8

/** Tiny CLI over the FSST codec's public API: trains on a file (line-split,
  * like the reference's corpus tests), encodes+decodes every line, verifies
  * bit-identity, and prints table/size/throughput metrics.
  *
  * Usage: runMain fsstspark.tools.FsstCli <file> [--whole] [--auto] [--repeat N]
  *   --whole  treat the file as a single value instead of line-split
  *   --auto   run the full chunk codec with auto-selection instead of raw FSST
  */
object FsstCli {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { System.err.println("usage: FsstCli <file> [--whole] [--auto] [--repeat N]"); sys.exit(2) }
    if (args.contains("--auto")) { runAuto(args); return }
    val path = Paths.get(args(0))
    if (!Files.exists(path)) { System.err.println(s"error: no such file: ${args(0)}"); sys.exit(2) }
    val raw = Files.readAllBytes(path)
    val values: Array[Array[Byte]] =
      if (args.contains("--whole")) Array(raw)
      else new String(raw, UTF_8).split("\n", -1).map(_.getBytes(UTF_8))

    val t0 = System.nanoTime()
    val table = FsstTrainer.train(values)
    val tTrain = System.nanoTime() - t0

    val tableBytes = table.serialize()
    val enc = SymbolTable.deserialize(tableBytes).newEncoder() // exercise the serde path too
    val dec = table.newDecoder()

    val repeat = args.sliding(2).collectFirst { case Array("--repeat", n) => n.toInt }.getOrElse(1)

    // Chunk-style usage: values share one output buffer (as the column codec
    // does); per-value offsets recorded on the side.
    var bytesIn = 0L
    values.foreach(v => bytesIn += v.length)
    val encBuf = new Array[Byte](fsstspark.codec.fsst.Fsst.maxEncodedSize(bytesIn.toInt))
    val offsets = new Array[Int](values.length + 1)
    var bytesOut = 0L
    var tEnc = 0L
    for (_ <- 0 until repeat) {
      val t1 = System.nanoTime()
      var p = 0
      var i = 0
      while (i < values.length) {
        p = enc.encode(values(i), 0, values(i).length, encBuf, p)
        offsets(i + 1) = p
        i += 1
      }
      bytesOut = p
      tEnc = System.nanoTime() - t1 // keep last (warmed) iteration
    }
    val decBuf = new Array[Byte](bytesIn.toInt + 8)
    var tDec = 0L
    var mismatches = 0
    for (_ <- 0 until repeat) {
      val t2 = System.nanoTime()
      var i = 0
      var dp = 0
      mismatches = 0
      while (i < values.length) {
        val start = dp
        dp = dec.decode(encBuf, offsets(i), offsets(i + 1) - offsets(i), decBuf, dp)
        if (dp - start != values(i).length) mismatches += 1
        i += 1
      }
      tDec = System.nanoTime() - t2
    }
    // full bit-identity check once, outside timing
    var cp = 0
    var i = 0
    while (i < values.length) {
      val v = values(i)
      var k = 0
      var ok = true
      while (k < v.length && ok) { ok = decBuf(cp + k) == v(k); k += 1 }
      if (!ok) mismatches += 1
      cp += v.length
      i += 1
    }

    def mbps(bytes: Long, ns: Long): Double = bytes / 1e6 / (math.max(ns, 1) / 1e9)
    println(f"file=${args(0)} values=${values.length} bytes_in=$bytesIn bytes_out=$bytesOut")
    println(f"table: n_symbols=${table.nSymbols} suffix_lim=${table.suffixLim} serialized=${tableBytes.length}B")
    println(f"ratio=${bytesOut.toDouble / math.max(bytesIn, 1)}%.4f (compressed/original, excl. table)")
    println(f"train=${tTrain / 1e6}%.1f ms  encode=${mbps(bytesIn, tEnc)}%.1f MB/s  decode=${mbps(bytesIn, tDec)}%.1f MB/s (single thread, last of $repeat reps)")
    println(s"roundtrip_mismatches=$mismatches")
    if (mismatches > 0) sys.exit(1)
  }

  /** Chunk-codec surface: auto-select a codec for the file's lines, report
    * choice + sizes, verify decode bit-identity.
    */
  private def runAuto(args: Array[String]): Unit = {
    import fsstspark.codec.BytesCodec
    val raw = Files.readAllBytes(Paths.get(args(0)))
    val values: Array[Array[Byte]] =
      if (args.contains("--whole")) Array(raw)
      else new String(raw, UTF_8).split("\n", -1).map(_.getBytes(UTF_8))
    val t0 = System.nanoTime()
    val e = BytesCodec.encodeAuto(values)
    val tEnc = System.nanoTime() - t0
    val t1 = System.nanoTime()
    val back = BytesCodec.decode(e.blob)
    val tDec = System.nanoTime() - t1
    var mismatches = 0
    values.indices.foreach { i =>
      if (!java.util.Arrays.equals(back(i), values(i))) mismatches += 1
    }
    println(f"file=${args(0)} values=${values.length} codec=${BytesCodec.names(e.codec)}")
    println(f"bytes_in=${e.bytesIn} blob=${e.blob.length} ratio=${e.blob.length.toDouble / math.max(e.bytesIn, 1)}%.4f")
    println(f"encode=${tEnc / 1e6}%.1f ms decode=${tDec / 1e6}%.1f ms")
    println(s"roundtrip_mismatches=$mismatches")
    if (mismatches > 0) sys.exit(1)
  }
}
