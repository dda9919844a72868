package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's own tests: deterministic corpora and the summary
  * statistics. `python3 perfbench/run.py --selftest`; exits non-zero on
  * the first failure.
  */
object SelfTest {
  private var passed = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    if (!cond) {
      System.err.println(s"FAIL $name")
      sys.exit(1)
    }
    passed += 1
    println(s"ok   $name")
  }

  private def near(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** SHA-256 over every field of rows [0, n). */
  private def digest(gen: PageGen, n: Int): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (0 until n).foreach { i =>
      val p = gen.row(i.toLong)
      Seq(p.url.getBytes("UTF-8"), p.text.getBytes("UTF-8"), p.html, p.lang.getBytes("UTF-8"),
        BigInt(p.warc_ts.getTime).toByteArray).foreach { b => md.update(b); md.update(0.toByte) }
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def main(args: Array[String]): Unit = {
    val bulk = Workload.BulkConfig
    check("same seed gives byte-identical corpora") {
      digest(new PageGen(7, bulk), 3000) == digest(new PageGen(7, bulk), 3000)
    }
    check("another seed gives another corpus") {
      digest(new PageGen(7, bulk), 200) != digest(new PageGen(8, bulk), 200)
    }
    check("a row depends only on (seed, row id)") {
      val g = new PageGen(3, bulk)
      val late = g.row(1234)
      (0 until 50).foreach(i => g.row(i.toLong))
      val again = g.row(1234)
      late.url == again.url && late.text == again.text && java.util.Arrays.equals(late.html, again.html)
    }
    check("urls are unique and end in their row id") {
      val g = new PageGen(5, GenConfig(0.0, 1.0))
      val urls = (0 until 5000).map(i => g.row(i.toLong).url)
      urls.distinct.length == urls.length && urls.zipWithIndex.forall { case (u, i) => QueryMix.rowId(u) == i }
    }
    check("giant fraction inflates about that share of pages") {
      val g = new PageGen(11, GenConfig(0.05, 1.0))
      val giants = (0 until 4000).count(i => g.row(i.toLong).text.length > 6000)
      giants == 200
    }
    check("zipf vocabulary: the commonest word is much more frequent than the median one") {
      val g = new PageGen(2, bulk)
      val words = (0 until 50).flatMap(i => g.row(i.toLong).text.toLowerCase.split("[ .]+").filter(_.nonEmpty))
      val counts = words.groupBy(identity).values.map(_.length).toSeq.sorted
      counts.last >= 10 * counts(counts.length / 2)
    }

    val xs = Seq(15.0, 20.0, 35.0, 40.0, 50.0)
    check("median of odd and even counts") {
      near(Stats.median(xs), 35.0) && near(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5)
    }
    check("percentile interpolates between closest ranks") {
      near(Stats.percentile(xs, 0.0), 15.0) && near(Stats.percentile(xs, 1.0), 50.0) &&
        near(Stats.percentile(xs, 0.4), 29.0) && near(Stats.percentile((1 to 101).map(_.toDouble), 0.9), 91.0)
    }
    check("tail percentile keeps ten samples beyond it") {
      Stats.tailPercentile(101) == Some(0.9) && Stats.tailPercentile(100) == Some(0.75) &&
        Stats.tailPercentile(1001) == Some(0.99) && Stats.tailPercentile(15).isEmpty &&
        Stats.tailPercentile(21) == Some(0.5)
    }
    check("linear fit recovers intercept and slope") {
      val (a, b) = Stats.linearFit(Seq(0.25, 0.25, 1.0, 1.0), Seq(1.15, 1.35, 3.4, 3.6))
      near(a, 0.5) && near(b, 3.0)
    }
    check("linear fit of an exact line") {
      val (a, b) = Stats.linearFit(Seq(1.0, 2.0, 3.0), Seq(5.0, 7.0, 9.0))
      near(a, 3.0) && near(b, 2.0)
    }
    check("numbers print locale-independently with 7 significant digits") {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      Stats.num(1234.56789) == "1234.568" && Stats.num(0.000123456789) == "0.0001234568" &&
        Stats.num(2.0) == "2" && Stats.num(0.0) == "0"
    }

    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2").getOrCreate()
    try {
      check("generated Spark corpus does not depend on partitioning") {
        val g = new PageGen(9, bulk)
        val a = Corpus.generate(spark, g, 0, 600, 2)
        val b = Corpus.generate(spark, g, 0, 600, 7)
        a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty && a.count() == 600
      }
    } finally spark.stop()
    println(s"$passed passed")
  }
}
