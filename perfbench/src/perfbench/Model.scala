package perfbench

import fsstspark.pipeline.EncodePipeline.{ColSpec, ReadSpec}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** The row shape of every table: Common-Crawl-style pages, generated,
  * encoded and read back the same way. Table columns are `key` (the url)
  * plus the stored columns in name order, as the connector presents them.
  */
final case class PagesShape(wordsScale: Double, skew: Double) {
  val name = "pages"
  /** Rows `[from, until)` as (url, warc_ts, lang, html, text). */
  def rows(spark: SparkSession, seed: Long, from: Long, until: Long, parts: Int): DataFrame = {
    val (ws, sk) = (wordsScale, skew)
    spark.range(from, until, 1, parts).map(id => Gen.page(seed, id, ws, sk))(Encoders.product[Gen.Page])
      .select("url", "warc_ts", "lang", "html", "text")
  }
  /** Encode specs over a `rows` frame. */
  val specs = Seq(
    ColSpec("html", col("html")),
    ColSpec("lang", encode(col("lang"), "UTF-8")),
    ColSpec("text", encode(col("text"), "UTF-8")),
    ColSpec("warc_ts", col("warc_ts"), isLong = true))
  val readSpecs = Seq(ReadSpec("html"), ReadSpec("lang"), ReadSpec("text"), ReadSpec("warc_ts", isLong = true))
  /** Stored columns in table order; the byte columns in `strings` read as strings. */
  val columns = Seq("html", "lang", "text", "warc_ts")
  val strings = Seq("lang", "text")
  /** A row as the model needs it. */
  def facts(seed: Long, id: Long): Facts = {
    val p = Gen.page(seed, id, wordsScale, skew)
    Facts(p.url, p.warc_ts, p.lang, p.text.getBytes(java.nio.charset.StandardCharsets.UTF_8), p.html)
  }
}

final case class Facts(url: String, ts: Long, lang: String, text: Array[Byte], html: Array[Byte])

/** Expected content of one table, derived from the generator and kept
  * current across inserts, updates and deletes. Row ids index every
  * array; ids at or past `nextId` do not exist yet.
  */
final class Model(val shape: PagesShape, val seed: Long, nBase: Int) {
  private var n = 0
  private var alive = new Array[Boolean](nBase)
  private var ts = new Array[Long](nBase)
  private var lang = new Array[Byte](nBase)
  private var keyLen = new Array[Int](nBase)
  private var textLen = new Array[Int](nBase)
  private var htmlLen = new Array[Int](nBase)
  private val urls = ArrayBuffer.empty[String]
  private val langs = ArrayBuffer.empty[String]
  /** Row ids inserted after the base table was built. */
  val inserted = ArrayBuffer.empty[Int]
  /** Row id -> current timestamp, for rows an update changed. */
  private val bumped = scala.collection.mutable.Map.empty[Int, Long]

  append(nBase)

  private def append(k: Int): Unit = {
    val from = n
    val fs = new Array[Facts](k)
    java.util.stream.IntStream.range(0, k).parallel()
      .forEach(i => fs(i) = shape.facts(seed, (from + i).toLong))
    if (alive.length < n + k) {
      val cap = math.max(n + k, alive.length * 2)
      alive = java.util.Arrays.copyOf(alive, cap); ts = java.util.Arrays.copyOf(ts, cap)
      lang = java.util.Arrays.copyOf(lang, cap); keyLen = java.util.Arrays.copyOf(keyLen, cap)
      textLen = java.util.Arrays.copyOf(textLen, cap); htmlLen = java.util.Arrays.copyOf(htmlLen, cap)
    }
    fs.foreach { f =>
      alive(n) = true
      ts(n) = f.ts
      var li = langs.indexOf(f.lang)
      if (li < 0) { langs += f.lang; li = langs.length - 1 }
      lang(n) = li.toByte
      keyLen(n) = f.url.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
      textLen(n) = f.text.length
      htmlLen(n) = f.html.length
      urls += f.url
      n += 1
    }
  }

  def nextId: Int = n
  def isAlive(id: Int): Boolean = id < nextId && alive(id)
  def url(id: Int): String = urls(id)
  def tsOf(id: Int): Long = ts(id)
  def langOf(id: Int): String = langs(lang(id))
  def liveIds: Iterator[Int] = Iterator.range(0, nextId).filter(i => alive(i))

  def insert(k: Int): (Int, Int) = {
    val from = nextId
    append(k)
    inserted ++= (from until from + k)
    (from, from + k)
  }
  def bumpTs(id: Int, delta: Long): Unit = {
    require(alive(id))
    ts(id) += delta
    bumped(id) = ts(id)
  }
  def delete(id: Int): Unit = { require(alive(id)); alive(id) = false }

  /** Bytes a user hands the table per live row: key, every stored value, 8 per long. */
  def userBytes: Long =
    liveIds.map(i => keyLen(i).toLong + langOf(i).length + 8 + textLen(i) + htmlLen(i)).sum
  /** User bytes of generator rows `[from, until)`, which need not exist yet. */
  def rowBytes(from: Int, until: Int): Long = (from until until).map { i =>
    val f = shape.facts(seed, i.toLong)
    f.url.getBytes("UTF-8").length.toLong + f.lang.length + 8 + f.text.length + f.html.length
  }.sum
  def liveCount: Long = liveIds.size.toLong
  def sumTs: Long = liveIds.map(ts(_)).sum
  def sumKeyLen: Long = liveIds.map(keyLen(_).toLong).sum
  def sumLangLen: Long = liveIds.map(langOf(_).length.toLong).sum
  def sumTextLen: Long = liveIds.map(textLen(_).toLong).sum
  def sumHtmlLen: Long = liveIds.map(htmlLen(_).toLong).sum

  /** Per stored column: (rows, value bytes) as a fresh write must record them. */
  def columnTotals: Map[String, (Long, Long)] = {
    val n = liveCount
    Map("html" -> (n, sumHtmlLen), "lang" -> (n, sumLangLen), "text" -> (n, sumTextLen),
      "warc_ts" -> (n, 8L * n))
  }

  /** The live rows as the table must hold them: the generator's rows
    * minus deletes, with updated timestamps.
    */
  def expectedFrame(spark: SparkSession, parts: Int): DataFrame = {
    import spark.implicits._
    val dead = Iterator.range(0, nextId).filterNot(i => alive(i)).map(url).toSeq.toDF("url")
    val fixed = bumped.toSeq.filter { case (i, _) => alive(i) }
      .map { case (i, t) => (url(i), t) }.toDF("url", "new_ts")
    shape.rows(spark, seed, 0, nextId, parts)
      .join(broadcast(dead), Seq("url"), "left_anti")
      .join(broadcast(fixed), Seq("url"), "left")
      .withColumn("warc_ts", coalesce(col("new_ts"), col("warc_ts")))
      .drop("new_ts")
  }
}
