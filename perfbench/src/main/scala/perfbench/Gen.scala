package perfbench

/** One generated page: the five-column pages shape (url, warc_ts, html,
  * text, lang). `warc_ts` is a timestamp; the encoded table stores it as
  * epoch microseconds.
  */
final case class GenPage(
    url: String,
    warc_ts: java.sql.Timestamp,
    html: Array[Byte],
    text: String,
    lang: String
)

/** Corpus shape knobs: `giantFraction` of pages, evenly spaced, get 64×
  * the words (the giant-page tail); `sizeScale` multiplies every page's
  * word count.
  */
final case class GenConfig(giantFraction: Double, sizeScale: Double)

/** The benchmark's own deterministic page generator. It lives here rather
  * than in the program so that no program change can alter a workload.
  *
  * Every row is a pure function of `(seed, rowId)` through a counter-based
  * splitmix64 stream, so any partitioning of the row ids gives the same
  * rows. Words come from a fixed vocabulary of [[VocabSize]] pseudo-words
  * drawn with Zipf(1.0) frequencies, which puts FSST in the real-text
  * regime instead of the fully-captured small-vocabulary regime.
  */
final class PageGen(val seed: Long, val cfg: GenConfig) extends Serializable {
  import PageGen._

  // the vocabulary is part of the workload definition, not of the seed, so
  // every seed draws from the same word distribution
  private val vocab: Array[String] = {
    var r = mix(VocabSeed)
    Array.tabulate(VocabSize) { _ =>
      r = mix(r)
      val len = 2 + java.lang.Long.remainderUnsigned(r, 10L).toInt
      val w = new Array[Char](len)
      var i = 0
      while (i < len) {
        r = mix(r)
        w(i) = Letters.charAt(letterIndex(r))
        i += 1
      }
      new String(w)
    }
  }

  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(i => 1.0 / (i + 1))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  @inline private def unit(r: Long): Double = (r >>> 11).toDouble / (1L << 53).toDouble

  private def word(r: Long): String = {
    val i = java.util.Arrays.binarySearch(zipfCdf, unit(r))
    vocab(math.min(if (i >= 0) i else -i - 1, VocabSize - 1))
  }

  def row(rowId: Long): GenPage = {
    var r = mix(seed ^ (rowId * 0x2545f4914f6cdd1dL))
    val hostRank = (unit(r) * unit(r) * Hosts).toInt
    r = mix(r)
    val url = new java.lang.StringBuilder(96).append("https://www.")
      .append(vocab(hostRank % VocabSize)).append(vocab((hostRank * 7 + 3) % VocabSize))
      .append('.').append(Tlds(hostRank % Tlds.length))
    val depth = 1 + (r & 3).toInt
    var i = 0
    while (i < depth) {
      r = mix(r)
      url.append('/').append(word(r))
      i += 1
    }
    url.append('/').append(rowId)

    // giants are evenly spaced (the seed only shifts them), so every seed
    // and every partition of the row ids carries the same share of them
    val giant = cfg.giantFraction > 0 && {
      val period = math.round(1 / cfg.giantFraction)
      Math.floorMod(rowId + seed * 0x9e3779b9L, period) == 0
    }
    r = mix(r)
    val base = ((40 + java.lang.Long.remainderUnsigned(r, 360L).toInt) * cfg.sizeScale).toInt
    val nWords = math.max(1, if (giant) base * 64 else base)
    val text = new java.lang.StringBuilder(nWords * 7)
    val html = new java.lang.StringBuilder(nWords * 8 + 160)
    r = mix(r)
    html.append("<!doctype html><html lang=").append(Langs(langIndex(r)))
      .append("><head><meta charset=utf-8><title>").append(word(mix(r)))
      .append("</title></head><body><article><p>")
    var k = 0
    while (k < nWords) {
      r = mix(r)
      val w = word(r)
      val sentenceStart = k % 13 == 0
      if (k > 0) {
        text.append(if (sentenceStart) ". " else " ")
        html.append(if (sentenceStart) ".</p>\n<p class=\"s" + (k % 5) + "\">" else " ")
      }
      if (sentenceStart) {
        text.append(Character.toUpperCase(w.charAt(0))).append(w, 1, w.length)
        html.append(Character.toUpperCase(w.charAt(0))).append(w, 1, w.length)
      } else if ((r & 63) == 0) {
        html.append("<a href=\"/").append(w).append("\">").append(w).append("</a>")
        text.append(w)
      } else {
        text.append(w)
        html.append(w)
      }
      k += 1
    }
    text.append('.')
    html.append(".</p></article></body></html>")
    val lang = Langs(langIndex(mix(r)))
    val micros = (Epoch2025 + rowId * 7 + (mix(r ^ 1) & 3)) * 1000000L
    GenPage(url.toString, Micros.toTimestamp(micros), html.toString.getBytes("UTF-8"),
      text.toString, lang)
  }

  /** Mean user bytes per row (url + text + html + lang + 8 for warc_ts),
    * estimated from the first `n` rows — used to size corpora.
    */
  def meanRowBytes(n: Int = 2000): Double = {
    var total = 0L
    var i = 0
    while (i < n) { total += PageGen.userBytes(row(i.toLong)); i += 1 }
    total.toDouble / n
  }
}

object PageGen {
  final val VocabSize = 4096
  final val Hosts = 2000
  private final val VocabSeed = 0x5851f42d4c957f2dL
  private final val Letters = "etaoinshrdlucmfwypvbgkjqxz"
  private final val Tlds = Array("com", "org", "net", "io", "edu", "de", "fr")
  // English 40%, then a tail: the lang column is low-cardinality (dict/rle)
  private final val Langs = Array("en", "en", "en", "en", "de", "fr", "es", "zh", "ru", "pt")
  private final val Epoch2025 = 1735689600L

  @inline def mix(z0: Long): Long = { // splitmix64
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  // skewed toward the common letters, like text
  private def letterIndex(r: Long): Int = {
    val u = (r >>> 11).toDouble / (1L << 53).toDouble
    (u * u * Letters.length).toInt
  }

  private def langIndex(r: Long): Int = java.lang.Long.remainderUnsigned(r, Langs.length.toLong).toInt

  def userBytes(p: GenPage): Long =
    p.url.getBytes("UTF-8").length.toLong + p.text.getBytes("UTF-8").length + p.html.length +
      p.lang.length + 8

  /** Row count whose expected user bytes reach `targetBytes`. */
  def rowsFor(gen: PageGen, targetBytes: Long): Long =
    math.max(1000L, (targetBytes / gen.meanRowBytes()).toLong)
}

/** Timestamp <-> epoch microseconds without time-zone arithmetic. */
object Micros {
  def toTimestamp(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
}
