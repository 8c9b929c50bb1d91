package perfbench

/** The benchmark's own input generators. Every field is a pure function
  * of `(seed, rowId)` through a counter-based splitmix64 stream, so any
  * partitioning of the id range yields the same rows and the oracle can
  * recompute any row on the driver. Kept here, not in the engine, so an
  * engine change cannot change the workload.
  */
object Gen {
  final case class Page(url: String, warc_ts: Long, html: Array[Byte], text: String, lang: String)

  private val words: Array[String] = (
    "a able about above across after again against all almost alone along also always among an and " +
      "another any anyone are around as ask at away back be became because become been before began " +
      "behind being below best better between big both boy bring but by came can case certain change " +
      "child city close come could country course cut day did different do does done door down during " +
      "each early end enough even ever every eye face fact family far feel few field find first follow " +
      "for form found four free friend from full gave general get give go good got government great " +
      "group grow had hand hard has have he head hear help her here high him his home house how " +
      "however idea if important in into is it just keep kind knew know land large last later lead " +
      "leave left less let life light like line little live long look made make man many may me mean " +
      "men might mind more most mother move much must my name near need never new next night no not " +
      "nothing now number of off often old on once one only open or order other our out over own " +
      "part people place plan play point power present problem public put question quite read real " +
      "right room run said same saw say school second see seem set several shall she should show side " +
      "since small so some something state still story study such system take tell than that the " +
      "their them then there these they thing think this those though thought three through time to " +
      "together too took toward turn two under until up upon us use very want war was water way we " +
      "well went were what when where which while who why will with without word work world would " +
      "year yet you young your"
  ).split(' ')

  private val langs = Array("en", "en", "en", "en", "en", "de", "fr", "es", "ja", "ru", "pt", "it")
  private val tlds = Array("com", "org", "net", "io", "edu", "de")
  /** 2025-01-01T00:00:00Z in epoch millis. */
  final val Epoch: Long = 1735689600000L

  @inline def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  @inline private def below(r: Long, n: Int): Int = java.lang.Long.remainderUnsigned(r, n.toLong).toInt

  @inline private def unit(r: Long): Double = (r >>> 11).toDouble / (1L << 53).toDouble

  /** Zipf-like host popularity: the cube of a uniform favours low ids. */
  private def host(r: Long): Int = { val u = unit(r); (u * u * u * 2000).toInt }

  private def url(host: Int, r0: Long, rowId: Long, pathWords: Int): (String, Long) = {
    val sb = new java.lang.StringBuilder(64)
    sb.append("https://www.site").append(host).append('.').append(tlds(host % tlds.length))
    var r = r0
    var i = 0
    while (i < pathWords) {
      r = mix(r)
      sb.append('/').append(words(below(r, words.length)))
      i += 1
    }
    sb.append('/').append(java.lang.Long.toString(rowId, 36))
    (sb.toString, r)
  }

  /** A Common-Crawl-style page: text of `40..400 × wordsScale` words,
    * html wrapping the text, a low-cardinality lang and a timestamp that
    * grows with the row id. Every `1/skew`-th row id is a page 64× longer
    * (the giant-page tail); the positions are fixed rather than drawn, so
    * every seed has the same number of giant pages spread the same way
    * over partitions and only their content changes.
    */
  def page(seed: Long, rowId: Long, wordsScale: Double, skew: Double): Page = {
    val r0 = mix(seed ^ (rowId * 0x2545f4914f6cdd1dL))
    val h = host(r0)
    val (u, r1) = url(h, mix(r0), rowId, 1 + (r0 & 3).toInt)
    val period = if (skew > 0) math.round(1 / skew) else 0L
    val giant = period > 0 && rowId % period == period - 1
    var r = mix(r1)
    val base = ((40 + below(r, 360)) * wordsScale).toInt
    val n = if (giant) base * 64 else base
    val t = new java.lang.StringBuilder(n * 6)
    var k = 0
    while (k < n) {
      r = mix(r)
      if (k > 0) t.append(if (k % 11 == 0) ". " else " ")
      t.append(words(below(r, words.length)))
      k += 1
    }
    t.append('.')
    val text = t.toString
    r = mix(r)
    val lang = langs(below(r, langs.length))
    val html = new java.lang.StringBuilder(text.length + 160)
      .append("<!doctype html><html lang=\"").append(lang).append("\"><head><meta charset=\"utf-8\"><title>")
      .append(words(h % words.length)).append("</title></head><body><main><article><p>")
      .append(text).append("</p></article></main></body></html>").toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    Page(u, Epoch + rowId * 1000L + below(mix(r), 1000), html, text, lang)
  }

  /** Deterministic zipf-ish text of `bytes` bytes over a fixed 4096-word
    * pseudo-vocabulary: the kernel host control's fixed corpus, identical
    * in every run and every workload.
    */
  def controlCorpus(bytes: Int): Array[Byte] = {
    val rnd = new java.util.SplittableRandom(4637947L)
    val letters = "etaoinshrdlucmfwypvbgkjqxz"
    val vocab = Array.fill(4096) {
      val w = new Array[Char](2 + rnd.nextInt(10))
      var i = 0
      while (i < w.length) { w(i) = letters.charAt(rnd.nextInt(letters.length)); i += 1 }
      new String(w)
    }
    val sb = new java.lang.StringBuilder(bytes + 16)
    while (sb.length < bytes) {
      val u = rnd.nextDouble()
      sb.append(vocab((u * u * u * vocab.length).toInt)).append(' ')
    }
    sb.toString.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  }
}
