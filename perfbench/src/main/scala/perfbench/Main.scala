package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** Counts operations attempted and those that failed or answered wrong;
  * prints every failure.
  */
final class Tally {
  var attempted = 0
  var failed = 0

  def attempt(what: String)(body: => Option[String]): Unit = {
    attempted += 1
    val err = try body catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    err.foreach { msg =>
      failed += 1
      System.err.println(s"perfbench: FAILED $what: ${msg.take(400)}")
    }
  }
}

/** One benchmark run: host record, set-up (repeated), one
  * untimed warm-up operation, the measured window, correctness checks,
  * and — with tracing on — the per-layer probes. Prints short JSON
  * records; the last line is the run's result.
  */
object Main {
  final val Catalog = "bench"
  final val SetupReps = 3

  final case class OpSample(ms: Double, traced: Boolean, opId: Int, tag: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), m.getOrElse("traces", need("work")))
  }

  def session(a: Args, nproc: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val nproc = Runtime.getRuntime.availableProcessors
    val host = Host.record()
    println(Stats.obj(Seq("record" -> Stats.str("host")) ++ host.fields))
    val spark = session(a, nproc)
    try run(new Ctx(spark, a, nproc, new TaskListener), host)
    finally spark.stop()
  }

  private def run(ctx: Ctx, host: Host): Unit = {
    val a = ctx.args
    val spark = ctx.spark
    val sc = spark.sparkContext
    sc.addSparkListener(ctx.listener)
    val w = Workload(ctx)
    Trace.enabled = a.trace

    // set-up, repeated: each rep builds everything from nothing in its own dir
    val setupS = (0 until SetupReps).map { i =>
      if (i > 0) Corpus.deleteDir(s"${a.work}/s${i - 1}")
      System.gc()
      val t0 = System.nanoTime()
      Trace.op("bench.setup")(w.setup(s"${a.work}/s$i"))
      (System.nanoTime() - t0) / 1e9
    }
    w.ref = w.reference()
    spark.conf.set(s"spark.sql.catalog.$Catalog", "fsstspark.sources.FsstCatalog")
    spark.conf.set(s"spark.sql.catalog.$Catalog.root", w.root)
    spark.conf.set(s"spark.sql.catalog.$Catalog.stringColumns.${w.table}", Corpus.StringColumns)
    println(Stats.obj(Seq("record" -> Stats.str("setup"), "workload" -> Stats.str(a.workload),
      "rows" -> w.ref.rows.toString, "setup_s" -> setupS.map(Stats.num).mkString("[", ",", "]")) ++
      w.ref.bytes.toSeq.sortBy(_._1).map { case (c, b) => s"bytes.$c" -> b.toString }))

    val tally = new Tally
    import tally.attempt

    // untimed operations first: the JIT keeps speeding an operation up for
    // its first few repetitions
    (1 to w.warmupOps).foreach(i => attempt(s"warm-up $i") { System.gc(); w.op(i); w.check(i) })

    val samples = ArrayBuffer.empty[OpSample]
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var i = w.warmupOps + 1
    while (i <= w.warmupOps + w.minOps || System.nanoTime() < deadline) {
      // a traced run alternates tracing on and off, so both halves see the same host
      val traced = a.trace && i % 2 == 1
      Trace.enabled = traced
      val tag = s"op$i"
      // every operation starts from a collected heap, so no operation pays
      // for a full collection of garbage its predecessors left
      System.gc()
      val t0 = System.nanoTime()
      val opId = try TaskListener.tagged(sc, tag)(Trace.op("bench.op")(w.op(i)))._2
      catch { case e: Exception => attempt(s"op $i")(Some(e.toString)); -1 }
      val ms = (System.nanoTime() - t0) / 1e6
      Trace.enabled = a.trace
      if (opId >= 0) {
        samples += OpSample(ms, traced, opId, tag)
        attempt(s"op $i")(w.check(i))
      }
      i += 1
    }
    attempt("final check")(w.finalCheck())

    val untraced = samples.filter(!_.traced).toSeq
    val e2e = endToEnd(w, untraced, setupS)
    println(Stats.obj(Seq("record" -> Stats.str("e2e"), "workload" -> Stats.str(a.workload),
      "samples" -> untraced.length.toString, "attempted" -> tally.attempted.toString,
      "error_rate" -> Stats.num(tally.failed.toDouble / tally.attempted)) ++
      userFacing(w, untraced, e2e).map { case (k, v) => k -> Stats.num(v) }))

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) e2e
      else {
        val layers = new Probes(ctx, w, host, samples.toSeq, tally).all()
        writeTrace(a, samples.toSeq, layers)
        layers
      }
    println(Stats.obj(Seq(
      "correct" -> (tally.failed == 0).toString,
      "attempted" -> tally.attempted.toString,
      "failed" -> tally.failed.toString,
      "metrics" -> Stats.obj(metrics.map { case (k, v, unit) =>
        k -> Stats.obj(Seq("value" -> Stats.num(v), "unit" -> Stats.str(unit)))
      }))))
  }

  /** Spans as JSON lines and the per-layer table as TSV, under `--traces`;
    * prints where they went and the tracing overhead.
    */
  private def writeTrace(a: Args, samples: Seq[OpSample], layers: Seq[(String, Double, String)]): Unit = {
    val base = java.nio.file.Paths.get(a.traces, s"${a.workload}-seed${a.seed}")
    val spans = java.nio.file.Paths.get(s"$base.spans.jsonl")
    val table = java.nio.file.Paths.get(s"$base.layers.tsv")
    Trace.writeJsonl(spans)
    java.nio.file.Files.write(table, ("metric\tvalue\tunit\n" +
      layers.map { case (k, v, u) => s"$k\t${Stats.num(v)}\t$u\n" }.mkString).getBytes("UTF-8"))
    val (on, off) = samples.partition(_.traced)
    println(Stats.obj(Seq("record" -> Stats.str("trace"), "spans" -> Stats.str(spans.toString),
      "layers" -> Stats.str(table.toString),
      "untraced_p50_ms" -> Stats.num(Stats.median(off.map(_.ms))),
      "traced_p50_ms" -> Stats.num(Stats.median(on.map(_.ms))))))
  }

  /** The end-to-end metrics listed in BENCHMARK.json: (name, value, unit). */
  def endToEnd(w: Workload, ops: Seq[OpSample], setupS: Seq[Double]): Seq[(String, Double, String)] = {
    val stored = Corpus.dirSize(s"${w.root}/${w.table}")._1
    Seq(
      ("setup_s", Stats.median(setupS), "s"),
      ("op_p50_ms", Stats.median(ops.map(_.ms)), "ms"),
      ("stored_bytes_per_input_byte", stored.toDouble / w.ref.userBytes, "ratio"))
  }

  /** Every end-to-end figure under the name its workload's users know it
    * by, including those too noisy to gate (tails over few samples, RSS).
    */
  private def userFacing(w: Workload, ops: Seq[OpSample],
      e2e: Seq[(String, Double, String)]): Seq[(String, Double)] = {
    val m = e2e.map(t => t._1 -> t._2).toMap
    val ms = ops.map(_.ms)
    val gbps = w.ref.userBytes / 1e9 / (m("op_p50_ms") / 1e3)
    val specific = w match {
      case _: Lookup => Seq("lookup_p50_ms" -> m("op_p50_ms"), "lookup_p90_ms" -> Stats.percentile(ms, 0.9))
      case _: Scan => Seq("scan_gbps" -> gbps)
      case _ => Seq("encode_gbps" -> gbps)
    }
    val tail = Stats.tailPercentile(ms.length).toSeq.flatMap(p => Seq("tail_pct" -> p * 100, "tail_ms" -> Stats.percentile(ms, p)))
    specific ++ tail ++ Seq("setup_s" -> m("setup_s"),
      "stored_bytes_per_input_byte" -> m("stored_bytes_per_input_byte"), "peak_rss_mb" -> Host.peakRssMb())
  }
}
