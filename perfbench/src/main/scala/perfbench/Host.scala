package perfbench

/** The host a run measured on, plus a control that does not depend on the
  * program: single-thread `System.arraycopy` bandwidth. A drop in the
  * control on unchanged code marks a degraded window.
  */
final case class Host(nproc: Int, memTotalMb: Long, load1: Double, heapMaxMb: Long, memcpyGbps: Double) {
  def fields: Seq[(String, String)] = Seq(
    "nproc" -> nproc.toString, "mem_total_mb" -> memTotalMb.toString,
    "load1" -> Stats.num(load1), "heap_max_mb" -> heapMaxMb.toString,
    "memcpy_gbps" -> Stats.num(memcpyGbps))
}

object Host {
  private def procField(file: String, key: String): Option[Long] = {
    val f = new java.io.File(file)
    if (!f.exists) None
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith(key)).map(_.split("\\s+")(1).toLong)
      finally src.close()
    }
  }

  def record(): Host = {
    val load = {
      val f = new java.io.File("/proc/loadavg")
      if (!f.exists) 0.0
      else { val s = scala.io.Source.fromFile(f); try s.mkString.split(' ')(0).toDouble finally s.close() }
    }
    Host(Runtime.getRuntime.availableProcessors,
      procField("/proc/meminfo", "MemTotal:").getOrElse(0L) / 1024, load,
      Runtime.getRuntime.maxMemory >> 20, memcpyGbps())
  }

  /** Median of 9 copies of a 64 MB buffer. */
  def memcpyGbps(): Double = {
    val n = 64 << 20
    val a = new Array[Byte](n)
    java.util.Arrays.fill(a, 1.toByte)
    val b = new Array[Byte](n)
    System.arraycopy(a, 0, b, 0, n)
    Stats.median((0 until 9).map { _ =>
      val t0 = System.nanoTime()
      System.arraycopy(a, 0, b, 0, n)
      n / 1e9 / ((System.nanoTime() - t0) / 1e9)
    })
  }

  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb(): Double = procField("/proc/self/status", "VmHWM:").getOrElse(0L) / 1024.0
}
