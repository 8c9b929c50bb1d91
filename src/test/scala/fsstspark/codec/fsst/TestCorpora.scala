package fsstspark.codec.fsst

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.Locale
import scala.util.Random

/** Line-split text corpora for the codec tests, generated in-repo from
  * fixed seeds (FIXTURES.md §1), one value per line and no line breaks
  * inside a value. They cover the inputs FSST is built for — prose, log
  * lines, URLs and mixed UTF-8 text (doc.go:11-16) — so the tests need no
  * external data. Only `scala.util.Random` (a `java.util.Random`, whose
  * sequence the Java spec fixes) draws, so every host gets the same bytes.
  *
  * The Go reference's own corpora are an extra check: `reference(name)`
  * reads one of them where a checkout of the reference sits next to this
  * project (`../reference/testdata`, or the directory named by
  * `FSST_REFERENCE_TESTDATA`).
  */
object TestCorpora {

  /** English prose: 4000 paragraphs, one per line, of Zipf-weighted
    * common words with capitals and punctuation.
    */
  lazy val prose: Array[String] = {
    val rnd = new Random(0x5eed0001L)
    Array.fill(4000)(paragraph(rnd))
  }

  /** 2000 Apache error-log lines: `[Sun Dec 04 04:47:44 2005] [notice] …`. */
  lazy val apacheLog: Array[String] = {
    val rnd = new Random(0x5eed0002L)
    val clients = Array.fill(24)(ip(rnd))
    val fmt = DateTimeFormatter.ofPattern("EEE MMM dd HH:mm:ss yyyy", Locale.US)
    var ts = LocalDateTime.of(2005, 12, 4, 4, 47, 44)
    var pid = 6725
    Array.fill(2000) {
      ts = ts.plusSeconds(rnd.nextInt(30).toLong)
      pid += 1 + rnd.nextInt(3)
      val msg = rnd.nextInt(10) match {
        case 0 | 1 | 2 => s"[notice] jk2_init() Found child $pid in scoreboard slot ${6 + rnd.nextInt(5)}"
        case 3 | 4 => "[notice] workerEnv.init() ok /etc/httpd/conf/workers2.properties"
        case 5 | 6 => s"[error] mod_jk child workerEnv in error state ${6 + rnd.nextInt(3)}"
        case 7 => s"[error] [client ${clients(rnd.nextInt(clients.length))}] Directory index forbidden by rule: /var/www/html/"
        case 8 => s"[error] jk2_init() Can't find child $pid in scoreboard"
        case _ => "[notice] Apache/2.0.49 (Fedora) configured -- resuming normal operations"
      }
      s"[${ts.format(fmt)}] $msg"
    }
  }

  /** 2000 HDFS datanode/namenode log lines:
    * `081109 203615 148 INFO dfs.DataNode$PacketResponder: … blk_…`.
    */
  lazy val hdfsLog: Array[String] = {
    val rnd = new Random(0x5eed0003L)
    val nodes = Array.fill(32)(s"10.25${rnd.nextInt(2)}.${rnd.nextInt(256)}.${rnd.nextInt(256)}")
    val blocks = Array.fill(64)(rnd.nextLong())
    var t = LocalDateTime.of(2008, 11, 9, 20, 36, 15)
    val fmt = DateTimeFormatter.ofPattern("yyMMdd HHmmss", Locale.US)
    var task = 0
    Array.fill(2000) {
      t = t.plusSeconds(rnd.nextInt(4).toLong)
      // a block shows up in several lines: replace one pool entry at a time
      if (rnd.nextInt(4) == 0) blocks(rnd.nextInt(blocks.length)) = rnd.nextLong()
      val blk = s"blk_${blocks(rnd.nextInt(blocks.length))}"
      val node = nodes(rnd.nextInt(nodes.length))
      val size = if (rnd.nextInt(5) == 0) 1 + rnd.nextInt(67108864) else 67108864
      val msg = rnd.nextInt(5) match {
        case 0 => s"INFO dfs.DataNode$$PacketResponder: PacketResponder ${rnd.nextInt(3)} for block $blk terminating"
        case 1 => s"INFO dfs.DataNode$$PacketResponder: Received block $blk of size $size from /$node"
        case 2 =>
          s"INFO dfs.DataNode$$DataXceiver: Receiving block $blk src: /$node:${40000 + rnd.nextInt(20000)} " +
            s"dest: /${nodes(rnd.nextInt(nodes.length))}:50010"
        case 3 => s"INFO dfs.FSNamesystem: BLOCK* NameSystem.addStoredBlock: blockMap updated: $node:50010 is added to $blk size $size"
        case _ =>
          task += 1
          f"INFO dfs.FSNamesystem: BLOCK* NameSystem.allocateBlock: /user/hadoop/rand/_temporary/_task_200811092030_0001_m_$task%06d_0/part-$task%05d. $blk"
      }
      s"${t.format(fmt)} ${10 + rnd.nextInt(340)} $msg"
    }
  }

  /** 2000 URLs over a pool of hosts, with paths, files and query strings. */
  lazy val urls: Array[String] = {
    val rnd = new Random(0x5eed0004L)
    val tlds = Array("com", "org", "net", "io", "edu", "co.uk", "de")
    val hosts = Array.fill(60)(s"${pick(rnd, words)}${pick(rnd, words)}.${tlds(rnd.nextInt(tlds.length))}")
    val sections = Array("news", "blog", "products", "docs", "wiki", "forum", "search", "category", "user", "archive")
    Array.fill(2000) {
      val sb = new StringBuilder(if (rnd.nextInt(10) == 0) "http://" else "https://")
      if (rnd.nextInt(10) < 7) sb.append("www.")
      sb.append(hosts(rnd.nextInt(hosts.length)))
      sb.append('/').append(sections(rnd.nextInt(sections.length)))
      (0 until rnd.nextInt(4)).foreach(_ => sb.append('/').append(pick(rnd, words)))
      rnd.nextInt(4) match {
        case 0 => sb.append('/').append(pick(rnd, words)).append('-').append(rnd.nextInt(100000)).append(".html")
        case 1 => sb.append("/index.php?id=").append(rnd.nextInt(1000000)).append("&ref=").append(pick(rnd, words))
        case 2 => sb.append("?q=").append(pick(rnd, words)).append('+').append(pick(rnd, words)).append("&page=").append(1 + rnd.nextInt(20))
        case _ => sb.append('/')
      }
      sb.toString
    }
  }

  /** 1000 lines of mixed CJK and Latin UTF-8 text. */
  lazy val mixedText: Array[String] = {
    val rnd = new Random(0x5eed0005L)
    def clauses(): String =
      (0 until 1 + rnd.nextInt(4)).map(_ => (0 until 3 + rnd.nextInt(6)).map(_ => cjk.charAt(rnd.nextInt(cjk.length))).mkString)
        .mkString("", "，", "。")
    Array.tabulate(1000) { i =>
      rnd.nextInt(5) match {
        case 0 | 1 => clauses()
        case 2 | 3 => s"${clauses()} ${sentence(rnd)}"
        case _ => s"第${1 + i / 12}章 Chapter ${1 + i / 12}: ${sentence(rnd)}"
      }
    }
  }

  /** All in-repo corpora, by name. */
  lazy val all: Seq[(String, Array[String])] = Seq(
    "prose" -> prose,
    "apache_log" -> apacheLog,
    "hdfs_log" -> hdfsLog,
    "urls" -> urls,
    "mixed_text" -> mixedText
  )

  private val referenceDir: Path =
    Paths.get(sys.env.getOrElse("FSST_REFERENCE_TESTDATA", Paths.get("..", "reference", "testdata").toString))

  /** The whole text of the reference corpus file `name`, if present. */
  def reference(name: String): Option[String] = {
    val p = referenceDir.resolve(name)
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), UTF_8)) else None
  }

  /** Common English words, most frequent first; `zipfWord` weights rank r by 1/r. */
  private val words: Array[String] = (
    "the of and to a in that is was he for it with as his on be at by had not are but from or have an they which one " +
      "you were her all she there would their we him been has when who will more no if out so said what up its about into " +
      "than them can only other new some could time these two may then do first any my now such like our over man me even " +
      "most made after also did many before must through back years where much your way well down should because each just " +
      "those people too how little state good very make world still own see men work long get here between both life being " +
      "under never day same another know while last might us great old year off come since against go came right used take " +
      "three himself few house use during without again place american around however home small found thought went say part " +
      "once general high upon school every does got united left number course war until always away something fact though " +
      "water less public put think almost hand enough far took head yet government system better set told nothing night end " +
      "why called eyes find going look asked later knew point next program city business give group toward young days " +
      "let room president side social given present several order national possible rather second face per among form often " +
      "early white case become large big need four within felt along children saw best church ever least power development " +
      "light thing seemed family interest want members mind country area others done turned although open problem sense"
  ).split(' ')

  private val names = Array("London", "Paris", "Captain Ahab", "Mr. Smith", "Elizabeth", "Sunday", "January", "England", "Boston")

  private val cjk =
    "道可非常名無天地之始有萬物母故欲以觀其妙徼此兩者同出而異謂玄又眾門下皆知美為斯惡已善不相生難易成長短形高傾音聲和前後隨是聖人處" +
      "事行言教焉作辭功居夫唯去尚賢使民爭貴得貨盜見亂心治虛實腹弱志強骨知敢也則大小多少國家王上中水火山日月年人"

  private lazy val zipfCum: Array[Double] = words.indices.map(r => 1.0 / (r + 1)).scanLeft(0.0)(_ + _).tail.toArray

  private def zipfWord(rnd: Random): String = {
    val i = java.util.Arrays.binarySearch(zipfCum, rnd.nextDouble() * zipfCum.last)
    words(if (i >= 0) i else -i - 1)
  }

  private def pick(rnd: Random, a: Array[String]): String = a(rnd.nextInt(a.length))

  private def sentence(rnd: Random): String = {
    val n = 4 + rnd.nextInt(17)
    val sb = new StringBuilder
    (0 until n).foreach { k =>
      val w = if (rnd.nextInt(40) == 0) pick(rnd, names) else zipfWord(rnd)
      if (k == 0) sb.append(w.head.toUpper).append(w.tail)
      else sb.append(' ').append(w)
      if (k < n - 1 && rnd.nextInt(8) == 0) sb.append(',')
    }
    sb.append(rnd.nextInt(10) match { case 0 => '?'; case 1 => '!'; case _ => '.' }).toString
  }

  private def paragraph(rnd: Random): String = (0 until 1 + rnd.nextInt(5)).map(_ => sentence(rnd)).mkString(" ")

  private def ip(rnd: Random): String = Seq.fill(4)(rnd.nextInt(256)).mkString(".")
}
