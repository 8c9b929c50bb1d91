package fsstspark.tools

import fsstspark.codec.fsst.{Fsst, FsstTrainer}
import fsstspark.gen.PagesGen
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Raw FSST kernel micro-benchmark (one thread): times the encode and
  * decode loops alone, into pre-allocated buffers. The corpus is cut into
  * values and every value is one encoder call and one decoder call, as
  * `BytesCodec.encodeFsstWith` calls the encoder; one symbol table is
  * trained per 16 MB chunk of values, the pipeline's default chunk target.
  *
  *   runMain fsstspark.tools.KernelBench           # text of 2,000 PagesGen pages
  *   runMain fsstspark.tools.KernelBench <file>    # the file's lines
  *
  * The default corpus is generated in-process (seed 42, words scale 6,
  * the page shape of the pages_rewrite benchmark), so it runs anywhere.
  */
object KernelBench {
  private val ChunkBytes = 16L << 20
  private val Repeats = 10

  def main(args: Array[String]): Unit = {
    val (name, values) =
      if (args.nonEmpty) (args(0), new String(Files.readAllBytes(Paths.get(args(0))), UTF_8)
        .split("\n", -1).map(_.getBytes(UTF_8)))
      else ("PagesGen text", Array.tabulate(2000)(i =>
        PagesGen.page(42L, i.toLong, 0.002, 6.0).text.getBytes(UTF_8)))
    val chunks = cut(values)
    val bytesIn = values.iterator.map(_.length.toLong).sum
    println(f"corpus: $name, ${values.length} values, ${bytesIn / 1e6}%.1f MB, ${chunks.length} chunk(s)")

    val tables = chunks.map(FsstTrainer.train(_))
    val trainMs = best(chunks.foreach(FsstTrainer.train(_))) * 1e3 / chunks.length
    println(f"train: $trainMs%.2f ms per chunk (best of $Repeats)")

    val encoders = tables.map(_.newEncoder())
    val decoders = tables.map(_.newDecoder())
    val maxLen = values.iterator.map(_.length).max
    val encoded = chunks.map(c => new Array[Byte](c.iterator.map(v => Fsst.maxEncodedSize(v.length)).sum))
    val ends = chunks.map(c => new Array[Int](c.length))
    val decDst = new Array[Byte](maxLen + 8)

    def encodeAll(): Unit = {
      var c = 0
      while (c < chunks.length) {
        val (vs, enc, dst, end) = (chunks(c), encoders(c), encoded(c), ends(c))
        var pos = 0
        var i = 0
        while (i < vs.length) {
          pos = enc.encode(vs(i), 0, vs(i).length, dst, pos)
          end(i) = pos
          i += 1
        }
        c += 1
      }
    }
    /** Decodes every value; the total decoded length. */
    def decodeAll(check: Boolean): Long = {
      var total = 0L
      var c = 0
      while (c < chunks.length) {
        val (vs, dec, src, end) = (chunks(c), decoders(c), encoded(c), ends(c))
        var start = 0
        var i = 0
        while (i < vs.length) {
          val n = dec.decode(src, start, end(i) - start, decDst, 0)
          if (check) require(n == vs(i).length &&
              java.util.Arrays.equals(decDst, 0, n, vs(i), 0, n), s"chunk $c value $i differs")
          total += n
          start = end(i)
          i += 1
        }
        c += 1
      }
      total
    }

    val encS = best(encodeAll())
    val bytesOut = ends.iterator.map(e => if (e.isEmpty) 0L else e.last.toLong).sum
    println(f"encode: ${bytesIn / 1e6 / encS}%.1f MB/s per value (best of $Repeats), " +
      f"ratio=${bytesOut.toDouble / bytesIn}%.4f")
    val decS = best(decodeAll(check = false))
    println(f"decode: ${bytesIn / 1e6 / decS}%.1f MB/s per value (best of $Repeats)")
    require(decodeAll(check = true) == bytesIn)
    println("roundtrip ok")
  }

  /** Values cut into consecutive chunks of at most [[ChunkBytes]] input bytes. */
  private def cut(values: Array[Array[Byte]]): Array[Array[Array[Byte]]] = {
    val out = Array.newBuilder[Array[Array[Byte]]]
    var from = 0
    var bytes = 0L
    for (i <- values.indices) {
      if (i > from && bytes + values(i).length > ChunkBytes) {
        out += values.slice(from, i); from = i; bytes = 0L
      }
      bytes += values(i).length
    }
    if (from < values.length) out += values.slice(from, values.length)
    out.result()
  }

  /** Best wall time, in seconds, of [[Repeats]] runs of `body`. */
  private def best(body: => Unit): Double =
    (0 until Repeats).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }.min
}
