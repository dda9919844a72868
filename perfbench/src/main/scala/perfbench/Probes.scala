package perfbench

import fsstspark.codec.{BytesCodec, LongCodec}
import fsstspark.codec.fsst.{Fsst, FsstTrainer}
import fsstspark.pipeline.EncodePipeline
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** Per-layer metrics of a traced run. Every traced run reports the same
  * set, whatever the workload: layer self time and Spark task time of the
  * workload's own operations, probes of the workload's table (io,
  * sources, chunk layout), single-thread codec probes on sample chunks cut
  * from the workload's generated values, and pipeline probes on the bulk
  * corpus at two sizes.
  */
final class Probes(ctx: Ctx, w: Workload, host: Host, samples: Seq[Main.OpSample],
    tally: Tally) {
  private val spark = ctx.spark
  private val nproc = ctx.nproc
  private val out = ArrayBuffer.empty[(String, Double, String)]
  private def put(name: String, v: Double, unit: String): Unit = out += ((name, v, unit))
  final val Reps = 3

  private def seconds(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }
  private def medianSeconds(reps: Int = Reps)(body: => Any): Double =
    Stats.median((0 until reps).map(_ => seconds(body)))

  def all(): Seq[(String, Double, String)] = {
    layers()
    sparkTasks()
    Trace.op("probe.table")(table())
    Trace.op("probe.codec")(codec())
    Trace.op("probe.pipeline")(pipeline())
    out.toSeq
  }

  // ------------------------------------------------ the workload's own ops

  private def layers(): Unit = {
    val (on, off) = samples.partition(_.traced)
    val self = Trace.selfNsByLayer(on.map(_.opId).toSet)
    Seq("bench", "pipeline", "io", "sources").foreach { l =>
      put(s"self_ms.$l", self.getOrElse(l, 0L) / 1e6 / math.max(1, on.length), "ms")
    }
    put("trace.overhead_pct",
      (Stats.median(on.map(_.ms)) / Stats.median(off.map(_.ms)) - 1) * 100, "%")
    put("host.memcpy_gbps", host.memcpyGbps, "GB/s")
  }

  private def sparkTasks(): Unit = {
    TaskListener.drain(spark.sparkContext)
    val tasks = ctx.listener.tasksOf(samples.map(_.tag).toSet)
    val n = samples.length.toDouble
    put("spark.core_busy", tasks.map(_.runMs).sum / (samples.map(_.ms).sum * nproc), "ratio")
    put("spark.task_cpu_s", tasks.map(_.cpuMs).sum / 1e3 / n, "s")
    put("spark.gc_s", tasks.map(_.gcMs).sum / 1e3 / n, "s")
    put("spark.deserialize_s", tasks.map(_.deserializeMs).sum / 1e3 / n, "s")
    put("spark.scheduler_delay_s", tasks.map(_.schedulerDelayMs).sum / 1e3 / n, "s")
    put("spark.shuffle_fetch_wait_s", tasks.map(_.fetchWaitMs).sum / 1e3 / n, "s")
    put("spark.shuffle_write_mb", tasks.map(_.shuffleWriteBytes).sum / 1e6 / n, "MB")
    put("spark.tasks", tasks.length / n, "count")
    val skew = tasks.groupBy(_.tag).values.map { ts =>
      val d = ts.map(_.durationMs.toDouble)
      d.max / math.max(1.0, Stats.median(d))
    }.toSeq
    put("spark.task_max_over_p50", if (skew.isEmpty) 0.0 else Stats.median(skew), "ratio")
  }

  // ------------------------------------------------------ the table probes

  private def table(): Unit = {
    val io = w.io
    val t = w.table
    val m = Trace.span("io.manifest")(io.manifest(spark, t)
      .select("chunk_id", "column", "codec", "bytes_in", "bytes_out").collect())
    Seq("text", "html", "warc_ts", "lang").foreach { c =>
      val rs = m.filter(_.getString(1) == c)
      put(s"codec.blob_ratio.$c", rs.map(_.getLong(4)).sum.toDouble / math.max(1L, rs.map(_.getLong(3)).sum), "ratio")
    }
    (BytesCodec.names.values ++ LongCodec.names.values).toSeq.sorted.foreach { c =>
      put(s"codec.chunks.$c", m.count(_.getString(2) == c).toDouble, "count")
    }
    val chunkMb = m.groupBy(_.getLong(0)).values.map(_.map(_.getLong(3)).sum / 1e6).toSeq
    put("pipeline.chunks", chunkMb.length.toDouble, "count")
    put("pipeline.chunk_mb_p50", Stats.median(chunkMb), "MB")
    put("pipeline.chunk_mb_max", chunkMb.max, "MB")

    val (bytes, files) = Corpus.dirSize(s"${w.root}/$t")
    put("io.files_written", files.toDouble, "count")
    put("io.bytes_written", bytes.toDouble, "bytes")
    put("io.manifest_ms", medianSeconds()(Trace.span("io.manifest")(io.manifest(spark, t).collect())) * 1e3, "ms")
    put("io.committed_batches", Trace.span("io.committedBatchIds")(io.committedBatchIds(spark, t)).length, "count")

    // point lookups and narrow ranges through the SQL catalog
    spark.conf.set(s"spark.sql.catalog.${Main.Catalog}.stringColumns.$t", Corpus.StringColumns)
    val mix = new QueryMix(ctx.args.seed + 1, w.gen, w.sortedKeys(), s"${Main.Catalog}.$t")
    val runs = (0 until 24).map { i =>
      val q = mix.next()
      val r = TaskListener.tagged(spark.sparkContext, s"q$i")(QueryMix.run(spark, q.sql))
      tally.attempt(s"probe query $i")(QueryMix.check(w.gen, q, r.rows))
      r
    }
    TaskListener.drain(spark.sparkContext)
    put("sources.resolve_ms", Stats.median(runs.map(_.resolveMs)), "ms")
    put("sources.plan_ms", Stats.median(runs.map(_.planMs)), "ms")
    put("sources.exec_ms", Stats.median(runs.map(_.execMs)), "ms")
    put("sources.spark_jobs_per_query", runs.indices.map(i => ctx.listener.jobsOf(s"q$i")).sum.toDouble / runs.length, "count")
    put("sources.chunks_read_per_query", runs.map(_.chunksRead).sum.toDouble / runs.length, "count")
    put("sources.rows_decoded_per_row_returned",
      runs.map(_.rowsDecoded).sum.toDouble / math.max(1, runs.map(_.rows.length).sum), "ratio")

    val full = Corpus.checksumQuery(Corpus.connector(spark, w.root, t))
    put("sources.partitions", QueryMix.scans(full.queryExecution.executedPlan).map(_.inputPartitions.length).sum, "count")

    var decoded = 0L
    val decodeS = medianSeconds() {
      decoded = Trace.span("pipeline.decodeColumns")(EncodePipeline.decodeColumns(io.readChunks(spark, t),
        Corpus.readSpecs).agg(count(lit(1))).head().getLong(0))
    }
    tally.attempt("decodeColumns row count")(
      if (decoded == w.ref.rows) None else Some(s"decodeColumns gave $decoded rows, table has ${w.ref.rows}"))
    put("pipeline.decode_columns_gbps", w.ref.userBytes / 1e9 / decodeS, "GB/s")
  }

  // ------------------------------------------------------ the codec probes

  /** One sample chunk's columns, cut at the workload's chunk size. */
  private final case class Sample(url: Array[Array[Byte]], text: Array[Array[Byte]],
      html: Array[Array[Byte]], lang: Array[Array[Byte]], ts: Array[Long]) {
    def bytesCols: Seq[Array[Array[Byte]]] = Seq(url, text, html, lang)
  }

  private def samplesOf(chunkBytes: Long, totalBytes: Long): Seq[Sample] = {
    val chunks = ArrayBuffer.empty[Sample]
    var id = 0L
    while (chunks.length * chunkBytes < totalBytes) {
      val rows = ArrayBuffer.empty[GenPage]
      var b = 0L
      while (b < chunkBytes) {
        val p = w.gen.row(id)
        id += 1
        rows += p
        b += EncodePipeline.RowFloorBytes + p.text.length + p.html.length + p.lang.length + 8
      }
      chunks += Sample(rows.map(_.url.getBytes("UTF-8")).toArray, rows.map(_.text.getBytes("UTF-8")).toArray,
        rows.map(_.html).toArray, rows.map(_.lang.getBytes("UTF-8")).toArray,
        rows.map(p => p.warc_ts.getTime * 1000L).toArray)
    }
    chunks.toSeq
  }

  private def mb(cols: Seq[Array[Array[Byte]]]): Double = cols.map(_.map(_.length.toLong).sum).sum / 1e6

  /** Aggregate MB/s of `nproc` threads each running `body` once. */
  private def parallelMbps(mbPerThread: Double)(body: => Unit): Double = {
    val s = medianSeconds() {
      val ts = (0 until nproc).map(_ => new Thread(() => body))
      ts.foreach(_.start())
      ts.foreach(_.join())
    }
    nproc * mbPerThread / s
  }

  private def codec(): Unit = {
    val (chunkBytes, total) = w match {
      case l: Lookup => (l.ChunkBytes, 8L << 20)
      case _ => (16L << 20, 32L << 20)
    }
    val chunks = samplesOf(chunkBytes, total)
    val byteCols = chunks.flatMap(_.bytesCols)
    val byteMb = mb(byteCols)

    put("codec.stats_mbps_1t", byteMb / medianSeconds()(Trace.span("codec.stats")(byteCols.foreach(BytesCodec.stats))), "MB/s")
    var blobs: Seq[Array[Byte]] = Nil
    put("codec.encode_auto_mbps_1t",
      byteMb / medianSeconds()(Trace.span("codec.encodeAuto") { blobs = byteCols.map(BytesCodec.encodeAuto(_).blob) }), "MB/s")
    put("codec.encode_auto_mbps_nt", Trace.span("codec.encodeAuto")(parallelMbps(byteMb)(byteCols.foreach(BytesCodec.encodeAuto))), "MB/s")
    put("codec.decode_mbps_1t", byteMb / medianSeconds()(Trace.span("codec.decode")(blobs.foreach(BytesCodec.decode))), "MB/s")
    put("codec.decode_mbps_nt", Trace.span("codec.decode")(parallelMbps(byteMb)(blobs.foreach(BytesCodec.decode))), "MB/s")

    val longs = chunks.map(c => LongCodec.LongColumn(c.ts, new Array[Boolean](c.ts.length)))
    val longMb = longs.map(_.values.length * 8L).sum / 1e6
    var longBlobs: Seq[Array[Byte]] = Nil
    put("codec.long_encode_mbps_1t",
      longMb / medianSeconds()(Trace.span("codec.longEncodeAuto") { longBlobs = longs.map(LongCodec.encodeAuto(_).blob) }), "MB/s")
    put("codec.long_decode_mbps_1t", longMb / medianSeconds()(Trace.span("codec.longDecode")(longBlobs.foreach(LongCodec.decode))), "MB/s")

    val best = Trace.span("codec.encodeEach")(byteCols.map { v =>
      Seq(BytesCodec.encodeRaw(v), BytesCodec.encodeFsst(v), BytesCodec.encodeDict(v), BytesCodec.encodeRle(v))
        .map(_.length.toLong).min
    }.sum)
    put("codec.selector_regret", blobs.map(_.length.toLong).sum.toDouble / best, "ratio")

    // the FSST kernel alone, on the text-like columns
    val textCols = chunks.flatMap(c => Seq(c.text, c.html))
    val textMb = mb(textCols)
    var tables: Seq[fsstspark.codec.fsst.SymbolTable] = Nil
    put("fsst.train_ms_per_mb", medianSeconds()(Trace.span("codec.fsst.train") { tables = textCols.map(FsstTrainer.train) }) * 1e3 / textMb, "ms/MB")
    put("fsst.table_bytes", tables.map(_.serialize().length).sum.toDouble / tables.length, "bytes")
    val encoded = textCols.zip(tables).map { case (vals, t) =>
      val enc = t.newEncoder()
      vals.map { v =>
        val dst = new Array[Byte](Fsst.maxEncodedSize(v.length))
        java.util.Arrays.copyOf(dst, enc.encode(v, 0, v.length, dst, 0))
      }
    }
    put("fsst.encode_mbps_1t", textMb / medianSeconds()(Trace.span("codec.fsst.encode") {
      textCols.zip(tables).foreach { case (vals, t) =>
        val enc = t.newEncoder()
        val dst = new Array[Byte](Fsst.maxEncodedSize(vals.map(_.length).max))
        vals.foreach(v => enc.encode(v, 0, v.length, dst, 0))
      }
    }), "MB/s")
    put("fsst.decode_mbps_1t", textMb / medianSeconds()(Trace.span("codec.fsst.decode") {
      encoded.zip(tables).zip(textCols).foreach { case ((encs, t), vals) =>
        val dec = t.newDecoder()
        val dst = new Array[Byte](vals.map(_.length).max + 8)
        encs.foreach(e => dec.decode(e, 0, e.length, dst, 0))
      }
    }), "MB/s")
  }

  // --------------------------------------------------- the pipeline probes

  private def pipeline(): Unit = {
    val gen = new PageGen(ctx.args.seed, Workload.BulkConfig)
    val rows = PageGen.rowsFor(gen, Workload.BulkBytes)
    val dir = s"${ctx.args.work}/probe"
    val large = w.sourceDir.getOrElse {
      Corpus.writeSource(spark, gen, rows, s"$dir/large")
      s"$dir/large"
    }
    Corpus.writeSource(spark, gen, rows / 4, s"$dir/small")
    val refs = Seq(large, s"$dir/small").map(Corpus.reference(spark, _))
    val srcs = Seq(large, s"$dir/small").map(spark.read.parquet(_))

    val floorS = medianSeconds() {
      val sel = Seq(col("url").cast("string")) ++ Corpus.specs.map(_.value)
      srcs.head.select(sel: _*).mapPartitions { it =>
        var b = 0L
        it.foreach { r =>
          b += r.getString(0).length + r.getAs[Array[Byte]](1).length + r.getAs[Array[Byte]](2).length +
            8 + r.getAs[Array[Byte]](4).length
        }
        Iterator(b)
      }(Encoders.scalaLong).collect().sum
    }
    put("pipeline.scan_floor_gbps", refs.head.userBytes / 1e9 / floorS, "GB/s")

    val encodeS = srcs.map { s =>
      (0 until Reps).map(_ => seconds(Trace.span("pipeline.encodeColumnsLocal")(
        Corpus.encodeLocal(s)).agg(sum("bytes_in")).head()))
    }
    val localS = Stats.median(encodeS.head)
    put("pipeline.encode_local_s", localS, "s")
    val sc = spark.sparkContext
    put("pipeline.encode_shuffle_s", TaskListener.tagged(sc, "probe.shuffle")(medianSeconds()(
      Trace.span("pipeline.encodeColumns")(Corpus.encodeShuffle(srcs.head, refs.head, nproc)).agg(sum("bytes_in")).head())), "s")
    TaskListener.drain(sc)
    val shuffleTasks = ctx.listener.tasksOf(Set("probe.shuffle"))
    put("pipeline.shuffle_write_mb", shuffleTasks.map(_.shuffleWriteBytes).sum / 1e6 / Reps, "MB")
    put("pipeline.shuffle_fetch_wait_s", shuffleTasks.map(_.fetchWaitMs).sum / 1e3 / Reps, "s")
    val reduceTasks = shuffleTasks.filter(_.stage == shuffleTasks.map(_.stage).max).map(_.durationMs.toDouble)
    put("pipeline.shuffle_task_max_over_p50", reduceTasks.max / math.max(1.0, Stats.median(reduceTasks)), "ratio")
    val (fixed, perGb) = Stats.linearFit(
      refs.zip(encodeS).flatMap { case (r, ts) => ts.map(_ => r.userBytes / 1e9) },
      encodeS.flatten)
    put("pipeline.encode_fixed_s", fixed, "s")
    put("pipeline.encode_s_per_gb", perGb, "s/GB")
    val kernelGbps = nproc * out.find(_._1 == "codec.encode_auto_mbps_1t").get._2 / 1e3
    put("pipeline.encode_efficiency",
      refs.head.userBytes / 1e9 / localS / math.min(refs.head.userBytes / 1e9 / floorS, kernelGbps), "ratio")

    val io = new fsstspark.io.ParquetTableIO(s"$dir/tables")
    val results = Corpus.encodeLocal(srcs.head).cache()
    val cids = results.select("chunk_id").distinct().collect().map(_.getLong(0))
    var k = 0
    def fresh(): String = { k += 1; s"w$k" }
    put("io.write_s", medianSeconds()(Trace.span("io.writeChunks")(io.writeChunks(results, fresh()))), "s")
    val one = results.filter(col("chunk_id") === cids.min)
    put("io.write_fixed_ms", medianSeconds()(Trace.span("io.writeChunks")(io.writeChunks(one, fresh()))) * 1e3, "ms")
    results.unpersist()
    Corpus.deleteDir(dir)
  }
}
