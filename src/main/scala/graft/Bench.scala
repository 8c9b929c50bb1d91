package graft

import fsstspark.gen.PagesGen
import fsstspark.pipeline.{EncodePipeline, KV}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Driver-run benchmark: one JSON line with per-query seconds plus the
  * headline pages-corpus encode/decode throughput (the north-rule metric:
  * GB/s over Common-Crawl-style pages), then one compact JSON line with
  * the total, the headlines, the ratio and the host-control fields.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val nPages = sys.env.getOrElse("SPARK_GRAFT_PAGES", "20000").toLong
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // shuffle/spill on tmpfs when available: a single local disk does not
    // model a cluster's per-node NVMe and its writeback throttles the bench
    if (new java.io.File("/dev/shm").isDirectory)
      builder.config("spark.local.dir", "/dev/shm/fsst-bench-tmp")
    val spark = builder.getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")

    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      results(name) = (System.nanoTime() - t0) / 1e9
      r
    }

    // untimed session warmup (codegen, parquet reader, broadcast machinery)
    // so the first query doesn't absorb cold-start
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }

    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try time(name)(fn(spark, sfDir).count())
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: $e")
        e.getStackTrace.take(14).foreach(f => System.err.println(s"[bench]   at $f"))
        results(name) = -1
      }
    }

    // Headline: encode + decode throughput over the generated pages corpus
    // (text + html columns), isolated from generation cost via cache().
    val pages = PagesGen.pages(spark, nPages, seed = 42L, skew = 0.002,
      numPartitions = cpus.toInt * 2, wordsScale = 6.0).cache()
    pages.count()
    val textKv = pages.select(col("url").as("key"), encode(col("text"), "UTF-8").as("value")).as[KV]
    val htmlKv = pages.select(col("url").as("key"), col("html").as("value")).as[KV]
    val nChunks = math.max(64, (nPages / 2000).toInt)
    val chunk = EncodePipeline.chunkIdByHash(col("key"), nChunks)

    // untimed warmup of BOTH encode paths (JIT + codegen + shuffle machinery)
    EncodePipeline.encodeBytesLocal(textKv, "text", 4L << 20)
      .agg(sum("bytes_in")).head()
    EncodePipeline.encodeBytes(textKv, "text", chunk)
      .agg(sum("bytes_in")).head()

    // Headline blocks run REPS times each; the committed number is the
    // best rep and every rep's seconds are recorded — this host's
    // throughput swings up to 4× on identical code (BASELINE.md), so a
    // single-shot headline conflates host noise with regressions.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    def bestOf(name: String)(body: => Unit): Seq[Double] = {
      val times = (0 until reps).map { _ =>
        System.gc()
        val t0 = System.nanoTime()
        body
        (System.nanoTime() - t0) / 1e9
      }
      results(name) = times.min
      times
    }

    // zero-shuffle partition-local chunking (the Iceberg-rewrite job shape).
    // Both columns under ONE action: the two encode DAGs are independent,
    // so Spark schedules their stages concurrently instead of paying a
    // driver barrier between two jobs (the real multi-column pipeline —
    // encodeColumns — is single-pass for the same reason).
    var bytesLocal = 0L
    val localReps = bestOf("pages_encode_local") {
      bytesLocal = EncodePipeline.encodeBytesLocal(textKv, "text", 4L << 20)
        .union(EncodePipeline.encodeBytesLocal(htmlKv, "html", 4L << 20))
        .agg(sum("bytes_in")).head().getLong(0)
    }

    // hash-chunked shuffle path, timed WITHOUT cache materialization mixed
    // in (the r1 shape cached inside the timed block, so the number mixed
    // encode work with block-manager writes)
    var bytesIn = 0L
    var bytesOut = 0L
    val shuffleReps = bestOf("pages_encode") {
      val r = EncodePipeline.encodeBytes(textKv, "text", chunk)
        .union(EncodePipeline.encodeBytes(htmlKv, "html", chunk))
        .agg(sum("bytes_in"), sum("bytes_out")).head()
      bytesIn = r.getLong(0)
      bytesOut = r.getLong(1)
    }

    // decode timed against cached chunk blobs (untimed materialization),
    // so the number is decode work, not re-encode
    val encText = EncodePipeline.encodeBytes(textKv, "text", chunk).cache()
    val encHtml = EncodePipeline.encodeBytes(htmlKv, "html", chunk).cache()
    encText.count(); encHtml.count()
    var bytesDecoded = 0L
    val decodeReps = bestOf("pages_decode") {
      bytesDecoded = EncodePipeline.decodeBytes(encText.union(encHtml))
        .agg(sum(octet_length(col("value")))).head().getLong(0)
    }
    require(bytesDecoded == bytesIn, s"decode byte count mismatch: $bytesDecoded != $bytesIn")

    // Host-state control: single-thread kernel MB/s over a fixed
    // deterministic text-like buffer, measured AFTER the headlines (JIT
    // fully warm). The corpus is identical in every window, so the two
    // fields compare directly ACROSS windows: a drop on unchanged code
    // marks the window as degraded (shared-host memory bandwidth — see
    // BASELINE.md "Host-state control"), letting each bench carry its
    // own adjudication datum instead of relying on a separate run.
    val (hostEncMbps, hostDecMbps) = {
      import fsstspark.codec.fsst.{Fsst, FsstTrainer}
      val rnd = new scala.util.Random(4637947L)
      // ~4k pseudo-words, zipf-skewed: entropy in the real-text regime
      // (ratio ~0.5), not a 12-word toy the table captures entirely
      val letters = "etaoinshrdlucmfwypvbgkjqxz"
      val vocab = Array.tabulate(4096) { _ =>
        val len = 2 + rnd.nextInt(10)
        val w = new Array[Char](len)
        var i = 0
        while (i < len) { w(i) = letters(rnd.nextInt(letters.length)); i += 1 }
        new String(w)
      }
      val sb = new java.lang.StringBuilder(5 << 20)
      while (sb.length < (4 << 20)) {
        val r = rnd.nextDouble()
        sb.append(vocab((r * r * r * vocab.length).toInt)).append(' ')
      }
      val data = sb.toString.getBytes("UTF-8")
      val table = FsstTrainer.train(Array(data))
      val enc = table.newEncoder()
      val dec = table.newDecoder()
      val encDst = new Array[Byte](Fsst.maxEncodedSize(data.length))
      val decDst = new Array[Byte](data.length + 8)
      var encLen = 0
      var bestE = Double.MaxValue
      var bestD = Double.MaxValue
      for (_ <- 0 until 8) {
        var t0 = System.nanoTime()
        encLen = enc.encode(data, 0, data.length, encDst, 0)
        bestE = math.min(bestE, (System.nanoTime() - t0) / 1e9)
        t0 = System.nanoTime()
        val decLen = dec.decode(encDst, 0, encLen, decDst, 0)
        bestD = math.min(bestD, (System.nanoTime() - t0) / 1e9)
        require(decLen == data.length, s"host-probe roundtrip: $decLen != ${data.length}")
      }
      (data.length / 1e6 / bestE, data.length / 1e6 / bestD)
    }

    val encGbps = bytesLocal / 1e9 / results("pages_encode_local")
    val encShuffleGbps = bytesIn / 1e9 / results("pages_encode")
    val decGbps = bytesIn / 1e9 / results("pages_decode")
    val ratio = bytesOut.toDouble / bytesIn

    // Locale.ROOT: a comma-decimal default locale would print "0,301"
    // and break the JSON line
    def num(digits: Int, v: Double): String =
      String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))
    def repArr(ts: Seq[Double]): String = ts.map(num(3, _)).mkString("[", ",", "]")
    val qs = results.map { case (k, v) => "\"" + k + "\":" + num(3, v) }.mkString("{", ",", "}")
    // fixture-construction seconds for the catalog/DSv2 queries whose
    // timed body BUILDS its table before reading it (recorded inside
    // Queries): read-path seconds = queries[k] - fixture_sec[k], so a
    // read regression is visible instead of hidden under fixture noise
    val fixtures = {
      import scala.jdk.CollectionConverters._
      fsstspark.queries.Queries.fixtureSeconds.asScala.toSeq.sortBy(_._1)
        .filter { case (k, _) => results.contains(k) }
        .map { case (k, v) => "\"" + k + "\":" + num(3, v) }.mkString("{", ",", "}")
    }
    val total = num(3, results.values.filter(_ > 0).sum)
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir",""" +
        s""""fixture_sec":$fixtures,""" +
        s""""cpus":$cpus,"pages":$nPages,"pages_bytes_in":$bytesIn,"pages_bytes_out":$bytesOut,""" +
        s""""pages_ratio":${num(4, ratio)},"encode_gbps":${num(3, encGbps)},""" +
        s""""encode_shuffle_gbps":${num(3, encShuffleGbps)},"decode_gbps":${num(3, decGbps)},""" +
        s""""host_kernel_enc_mbps":${num(1, hostEncMbps)},"host_kernel_dec_mbps":${num(1, hostDecMbps)},""" +
        s""""headline_reps":{"local_sec":${repArr(localReps)},"shuffle_sec":${repArr(shuffleReps)},"decode_sec":${repArr(decodeReps)}}}""")
    // compact summary (< 512 B) after the full line, for log readers that
    // keep only the tail of the output
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","encode_gbps":${num(3, encGbps)},""" +
        s""""encode_shuffle_gbps":${num(3, encShuffleGbps)},"decode_gbps":${num(3, decGbps)},""" +
        s""""pages_ratio":${num(4, ratio)},"cpus":$cpus,""" +
        s""""host_kernel_enc_mbps":${num(1, hostEncMbps)},"host_kernel_dec_mbps":${num(1, hostDecMbps)}}""")
    spark.stop()
  }
}
