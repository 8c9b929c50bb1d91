package fsstspark.codec

import org.scalatest.funsuite.AnyFunSuite
import fsstspark.codec.fsst.TestCorpora
import fsstspark.util.{BitPacker, ByteArrayBuilder}
import java.nio.charset.StandardCharsets.UTF_8

class CodecSpec extends AnyFunSuite {

  private def bytesRoundtrip(values: Array[Array[Byte]], encode: Array[Array[Byte]] => Array[Byte]): Unit = {
    val back = BytesCodec.decode(encode(values))
    assert(back.length == values.length)
    values.indices.foreach { i =>
      if (values(i) == null) assert(back(i) == null, s"index $i expected null")
      else assert(java.util.Arrays.equals(back(i), values(i)), s"index $i mismatch")
    }
  }

  /** The in-repo prose corpus, then the reference corpus `name` split on
    * newlines wherever it is present.
    */
  private def proseCorpora(name: String): Seq[Array[String]] =
    TestCorpora.prose +: TestCorpora.reference(name).map(_.split("\n")).toSeq

  private val textValues: Array[Array[Byte]] =
    (0 until 400).map(i => s"https://host-${i % 7}.example.com/path/$i?session=${i * 31}".getBytes(UTF_8)).toArray

  private val withNulls: Array[Array[Byte]] =
    (0 until 100).map(i => if (i % 7 == 0) null else s"value-$i".getBytes(UTF_8)).toArray

  test("bytes: raw/fsst/dict/rle roundtrip incl. nulls and empties") {
    val lowCard = (0 until 300).map(i => Seq("A", "N", "R")(i % 3).getBytes(UTF_8)).toArray
    val runs = (0 until 300).map(i => (if (i < 150) "X" else "Y").getBytes(UTF_8)).toArray
    val empties = Array("".getBytes(UTF_8), null, "".getBytes(UTF_8), "a".getBytes(UTF_8))
    for (vs <- Seq(textValues, withNulls, lowCard, runs, empties)) {
      bytesRoundtrip(vs, BytesCodec.encodeRaw)
      bytesRoundtrip(vs, BytesCodec.encodeFsst)
      bytesRoundtrip(vs, BytesCodec.encodeDict)
      bytesRoundtrip(vs, BytesCodec.encodeRle)
      bytesRoundtrip(vs, v => BytesCodec.encodeAuto(v).blob)
    }
  }

  test("bytes selector: low-cardinality picks dict or rle, never fsst (FIXTURES l_returnflag)") {
    val flags = (0 until 6000).map(i => Seq("A", "N", "R")(i * 2654435761L.toInt % 3 match {
      case x if x < 0 => -x; case x => x
    })).map(_.getBytes(UTF_8)).toArray
    val e = BytesCodec.encodeAuto(flags)
    assert(e.codec == BytesCodec.DICT || e.codec == BytesCodec.RLE, s"got ${e.codec}")
    assert(e.blob.length < 6000) // ~2 bits/value + dict
    bytesRoundtrip(flags, _ => e.blob)
  }

  test("bytes selector: natural text picks fsst and compresses") {
    proseCorpora("art_of_war.txt").foreach { text =>
      val lines = text.filter(_.nonEmpty).map(_.getBytes(UTF_8))
      val e = BytesCodec.encodeAuto(lines)
      assert(e.codec == BytesCodec.FSST, s"got ${BytesCodec.names(e.codec)}")
      assert(e.blob.length < e.bytesIn, s"${e.blob.length} !< ${e.bytesIn}")
      bytesRoundtrip(lines, _ => e.blob)
    }
  }

  test("bytes selector: constant column picks rle") {
    val c = Array.fill(10000)("same-value".getBytes(UTF_8))
    val e = BytesCodec.encodeAuto(c)
    assert(e.codec == BytesCodec.RLE, s"got ${BytesCodec.names(e.codec)}")
    assert(e.blob.length < 100)
  }

  test("bytes selector: incompressible binary never exceeds raw framing") {
    val rnd = new scala.util.Random(5)
    val vs = Array.fill(50)(Array.tabulate[Byte](1000)(_ => rnd.nextInt(256).toByte))
    val e = BytesCodec.encodeAuto(vs)
    assert(e.blob.length <= e.bytesIn + 2 * vs.length + 9)
    bytesRoundtrip(vs, _ => e.blob)
  }

  private def longRoundtrip(col: LongCodec.LongColumn, encode: LongCodec.LongColumn => Array[Byte]): Unit = {
    val back = LongCodec.decode(encode(col))
    assert(back.n == col.n)
    (0 until col.n).foreach { i =>
      assert(back.nulls(i) == col.nulls(i), s"null flag $i")
      if (!col.nulls(i)) assert(back.values(i) == col.values(i), s"value $i")
    }
  }

  private def mkCol(vs: Array[Long], nullEvery: Int = 0): LongCodec.LongColumn = {
    val nulls = Array.tabulate(vs.length)(i => nullEvery > 0 && i % nullEvery == 0)
    LongCodec.LongColumn(vs, nulls)
  }

  test("long: raw/for/bitpack/rle/delta roundtrip incl. nulls and extremes") {
    val cases = Seq(
      mkCol(Array.tabulate(1000)(i => 1700000000000000L + i * 1000L)), // timestamps
      mkCol(Array.tabulate(1000)(i => 1700000000000000L + i * 1000L), 13),
      mkCol(Array.tabulate(500)(i => (i % 5).toLong)),
      mkCol(Array(Long.MinValue, Long.MaxValue, 0L, -1L, 1L)),
      mkCol(Array.empty[Long]),
      mkCol(Array.fill(100)(42L), 3),
      mkCol(Array.tabulate(300)(i => -i * 7L), 7)
    )
    for (c <- cases) {
      longRoundtrip(c, LongCodec.encodeRaw)
      longRoundtrip(c, LongCodec.encodeFor)
      longRoundtrip(c, LongCodec.encodeRle)
      longRoundtrip(c, LongCodec.encodeDelta)
      longRoundtrip(c, LongCodec.encodeXor)
      longRoundtrip(c, LongCodec.encodeDictLong)
      if ((0 until c.n).forall(i => c.nulls(i) || c.values(i) >= 0))
        longRoundtrip(c, LongCodec.encodeBitpack)
      longRoundtrip(c, v => LongCodec.encodeAuto(v).blob)
    }
  }

  test("property: encodeAuto roundtrips 200 random byte-column shapes exactly") {
    val rnd = new scala.util.Random(20260817)
    for (trial <- 0 until 200) {
      val n = rnd.nextInt(300)
      val mode = trial % 5
      val values = Array.tabulate[Array[Byte]](n) { i =>
        if (rnd.nextInt(10) == 0) null
        else mode match {
          case 0 => Array.empty[Byte]
          case 1 => { val b = new Array[Byte](rnd.nextInt(200)); rnd.nextBytes(b); b } // incompressible
          case 2 => s"repeated-${i % 3}".getBytes(UTF_8) // low cardinality
          case 3 => Array.fill[Byte](rnd.nextInt(50))((i % 4).toByte) // runs + zeros
          case _ => s"text value number $i with shared structure".getBytes(UTF_8)
        }
      }
      bytesRoundtrip(values, v => BytesCodec.encodeAuto(v).blob)
    }
  }

  test("property: long encodeAuto roundtrips 200 random long-column shapes exactly") {
    val rnd = new scala.util.Random(8675309)
    for (trial <- 0 until 200) {
      val n = rnd.nextInt(400)
      val mode = trial % 5
      val values = Array.tabulate(n) { i =>
        mode match {
          case 0 => rnd.nextLong() // full range
          case 1 => rnd.nextInt(100).toLong // low cardinality
          case 2 => 1700000000000000L + i * 1000L + rnd.nextInt(3) // near-sorted
          case 3 => java.lang.Double.doubleToRawLongBits(100.0 + rnd.nextInt(50) * 0.25)
          case _ => if (rnd.nextBoolean()) Long.MinValue else Long.MaxValue
        }
      }
      val nulls = Array.tabulate(n)(_ => rnd.nextInt(8) == 0)
      val c = LongCodec.LongColumn(values, nulls)
      longRoundtrip(c, v => LongCodec.encodeAuto(v).blob)
    }
  }

  test("dict_long: scattered low-cardinality ids pick dict and pack at index width") {
    // 100 distinct values scattered across a ~1e8 range: FoR needs 27-bit
    // deltas, the dictionary needs 7-bit indices + 100 entries
    val scattered = mkCol(Array.tabulate(5000)(i => (i % 100).toLong * 1000003L + 7L), 17)
    val enc = LongCodec.encodeAuto(scattered)
    assert(enc.codec == LongCodec.DICT, s"expected dict_long, got ${LongCodec.names(enc.codec)}")
    assert(enc.blob.length < 5000 * 2, s"dict_long failed to pack: ${enc.blob.length}")
    longRoundtrip(scattered, v => LongCodec.encodeAuto(v).blob)
    // beyond the distinct cap the selector must not consider dict
    val highCard = mkCol(Array.tabulate(10000)(i => i.toLong * 982451653L))
    assert(LongCodec.encodeAuto(highCard).codec != LongCodec.DICT)
  }

  test("xor codec: doubles-as-bits roundtrip exactly (NaN payloads, ±0.0) and pack when similar") {
    import java.lang.Double.{doubleToRawLongBits => bits}
    // hostile bit patterns must round-trip exactly
    val hostile = mkCol(Array(bits(0.0), bits(-0.0), bits(Double.NaN),
      java.lang.Double.doubleToLongBits(Double.NaN) | 0xdeadL, // NaN with payload
      bits(Double.PositiveInfinity), bits(Double.MinPositiveValue), bits(1.0), bits(-1.0)), 3)
    longRoundtrip(hostile, LongCodec.encodeXor)
    // gauge-like doubles (same sign/exponent, slow drift) pick xor and pack < 8 B/value
    val gauge = mkCol(Array.tabulate(5000)(i => bits(100.0 + (i % 97) * 0.25)))
    val enc = LongCodec.encodeAuto(gauge)
    assert(enc.codec == LongCodec.XOR, s"expected xor, got ${LongCodec.names(enc.codec)}")
    assert(enc.blob.length < 8 * 5000 / 2, s"xor failed to compress: ${enc.blob.length}")
    longRoundtrip(gauge, v => LongCodec.encodeAuto(v).blob)
  }

  test("long selector: sorted timestamps pick delta and pack tiny (FIXTURES l_shipdate→FoR family)") {
    val ts = mkCol(Array.tabulate(10000)(i => 1735689600000000L + i * 1000000L))
    val e = LongCodec.encodeAuto(ts)
    assert(e.codec == LongCodec.DELTA || e.codec == LongCodec.FOR || e.codec == LongCodec.RLE,
      s"got ${LongCodec.names(e.codec)}")
    assert(e.blob.length < e.bytesIn / 8, s"${e.blob.length} vs ${e.bytesIn}")
    longRoundtrip(ts, _ => e.blob)
  }

  test("long selector: small non-negative ids pick a packed codec ≤ 2 bytes/value") {
    val ids = mkCol(Array.tabulate(5000)(i => (i % 1000).toLong))
    val e = LongCodec.encodeAuto(ids)
    assert(e.blob.length <= 2 * 5000 + 32, s"${e.blob.length}")
    longRoundtrip(ids, _ => e.blob)
  }

  test("bitpacker: widths 0..56 and 64 roundtrip") {
    val rnd = new scala.util.Random(11)
    for (w <- (0 to 56) ++ Seq(64)) {
      val vs = Array.tabulate(257)(_ => if (w == 0) 0L else rnd.nextLong() & (if (w == 64) -1L else (1L << w) - 1))
      val out = new ByteArrayBuilder()
      BitPacker.pack(vs, vs.length, w, out)
      assert(out.length == BitPacker.packedSize(vs.length, w))
      val back = new Array[Long](vs.length)
      BitPacker.unpack(out.result(), 0, vs.length, w, back)
      assert(back.sameElements(vs), s"width $w")
    }
  }

  test("Keys.compareUtf8 matches Spark's UTF8String binary order (incl. supplementary planes)") {
    import org.apache.spark.unsafe.types.UTF8String
    import fsstspark.util.Keys
    // the case Java compareTo gets wrong: U+FFFF must sort BELOW U+10000
    assert(Keys.compareUtf8("￿", "𐀀") < 0)
    assert("￿".compareTo("𐀀") > 0) // documents the Java discrepancy
    val rnd = new scala.util.Random(77)
    val pool = Seq("a", "z", "é", "ࠀ", "𐀀", "􏿿", "￿", "", "", "ab")
    for (_ <- 0 until 2000) {
      val a = Seq.fill(rnd.nextInt(4))(pool(rnd.nextInt(pool.length))).mkString
      val b = Seq.fill(rnd.nextInt(4))(pool(rnd.nextInt(pool.length))).mkString
      val expected = Integer.signum(UTF8String.fromString(a).compareTo(UTF8String.fromString(b)))
      assert(Integer.signum(Keys.compareUtf8(a, b)) == expected,
        s"order mismatch for ${a.map(_.toInt.toHexString)} vs ${b.map(_.toInt.toHexString)}")
    }
  }

  test("codec determinism: same values → identical blob") {
    val b1 = BytesCodec.encodeAuto(textValues)
    val b2 = BytesCodec.encodeAuto(textValues)
    assert(b1.codec == b2.codec && java.util.Arrays.equals(b1.blob, b2.blob))
  }

  // Decode safety on hostile input: checkpoint blobs live for years; a
  // flipped bit must raise a clean exception, never write past an array
  // through the kernels' unchecked Platform stores (the reference fuzzes
  // its decoder the same way, /root/reference/train_test.go:428-444).
  private def decodeMustBeClean(decode: Array[Byte] => Unit, blob: Array[Byte]): Unit =
    try { decode(blob); () } catch {
      case _: IllegalArgumentException => () // structural guard fired
      case _: IndexOutOfBoundsException => () // JVM bounds check on a checked path
      case _: NegativeArraySizeException => () // corrupt length surfaced at alloc
    } // anything else (OOM, internal errors) propagates and fails the test

  test("hostile input: bit-flipped byte-chunk blobs raise cleanly (all codecs)") {
    val rnd = new scala.util.Random(424242)
    val blobs = Seq(
      BytesCodec.encodeFsst(textValues), BytesCodec.encodeDict(textValues),
      BytesCodec.encodeRle(textValues), BytesCodec.encodeRaw(textValues))
    for (blob <- blobs) {
      // every header/table byte systematically + sampled payload positions
      val positions = (0 until math.min(blob.length, 256)) ++
        Seq.fill(400)(rnd.nextInt(blob.length))
      for (p <- positions; bit <- Seq(0, 3, 7)) {
        val c = blob.clone()
        c(p) = (c(p) ^ (1 << bit)).toByte
        decodeMustBeClean(b => { BytesCodec.decode(b); () }, c)
      }
      // truncations (a partially-written blob)
      for (cut <- Seq(1, 2, blob.length / 3, blob.length - 1))
        decodeMustBeClean(b => { BytesCodec.decode(b); () }, java.util.Arrays.copyOf(blob, cut))
    }
    // pure junk
    for (_ <- 0 until 300) {
      val junk = new Array[Byte](1 + rnd.nextInt(200))
      rnd.nextBytes(junk)
      decodeMustBeClean(b => { BytesCodec.decode(b); () }, junk)
    }
  }

  test("hostile input: bit-flipped long-chunk blobs raise cleanly (all codecs)") {
    val rnd = new scala.util.Random(171717)
    val cols = Seq(
      mkCol(Array.tabulate(500)(i => 1700000000000000L + i * 1000L), 13),
      mkCol(Array.tabulate(500)(i => (i % 7).toLong)),
      mkCol(Array.tabulate(500)(i => (i % 100).toLong * 1000003L)))
    val blobs = cols.flatMap(c => Seq(LongCodec.encodeAuto(c).blob, LongCodec.encodeRle(c),
      LongCodec.encodeXor(c), LongCodec.encodeDictLong(c)))
    for (blob <- blobs) {
      val positions = (0 until math.min(blob.length, 128)) ++
        Seq.fill(300)(rnd.nextInt(blob.length))
      for (p <- positions; bit <- Seq(0, 4, 7)) {
        val c = blob.clone()
        c(p) = (c(p) ^ (1 << bit)).toByte
        decodeMustBeClean(b => { LongCodec.decode(b); () }, c)
      }
      for (cut <- Seq(1, 2, blob.length / 2))
        decodeMustBeClean(b => { LongCodec.decode(b); () }, java.util.Arrays.copyOf(blob, cut))
    }
  }

  test("truncated blobs throw instead of fabricating zero-padded values") {
    // Arrays.copyOfRange silently zero-pads past the source end; the
    // ByteReader guard must turn a truncated value read into an exception
    val blob = BytesCodec.encodeRaw(textValues)
    val cut = java.util.Arrays.copyOf(blob, blob.length - 7) // truncate mid-value
    val e = intercept[IllegalArgumentException] { BytesCodec.decode(cut) }
    assert(e.getMessage.contains("corrupt"))
    // a dict blob truncated inside the dictionary entries also throws
    val dict = BytesCodec.encodeDict(textValues)
    intercept[IllegalArgumentException] { BytesCodec.decode(java.util.Arrays.copyOf(dict, 20)) }
  }

  test("property: decode(blob, rows) equals decode(blob) at rows for every codec") {
    val rnd = new scala.util.Random(20261020)
    val lowCard = (0 until 300).map(i => if (i % 11 == 0) null else Seq("A", "N", "R")(i % 3).getBytes(UTF_8)).toArray
    val runs = (0 until 300).map(i => if (i >= 140 && i < 160) null else (if (i < 150) "X" else "Y").getBytes(UTF_8)).toArray
    val empties = Array("".getBytes(UTF_8), null, "".getBytes(UTF_8), "a".getBytes(UTF_8))
    val encoders = Seq[(String, Array[Array[Byte]] => Array[Byte])]("raw" -> BytesCodec.encodeRaw,
      "fsst" -> BytesCodec.encodeFsst, "dict" -> BytesCodec.encodeDict, "rle" -> BytesCodec.encodeRle)
    for (vs <- Seq(textValues, withNulls, lowCard, runs, empties); (name, enc) <- encoders) {
      val blob = enc(vs)
      val full = BytesCodec.decode(blob)
      val n = vs.length
      val subsets = Seq(Array.emptyIntArray, Array(rnd.nextInt(n)), Array(0), Array(n - 1),
        Array.range(0, n)) ++
        Seq.fill(6)(Array.range(0, n).filter(_ => rnd.nextInt(4) == 0)) ++
        Seq(Array.range(0, n).filter(i => vs(i) == null))
      for (rows <- subsets) {
        val got = BytesCodec.decode(blob, rows)
        assert(got.length == rows.length, s"$name: ${got.length} values for ${rows.length} rows")
        rows.indices.foreach { j =>
          val want = full(rows(j))
          assert(if (want == null) got(j) == null else java.util.Arrays.equals(got(j), want),
            s"$name: row ${rows(j)} differs from the full decode")
        }
      }
      // rows out of range or out of order are refused, not misread
      for (bad <- Seq(Array(n), Array(-1), Array(1, 0), Array(0, 0)))
        intercept[IllegalArgumentException](BytesCodec.decode(blob, bad))
    }
  }

  /** An FSST blob rebuilt from its parts, with `lens(i)` = varint(encLen+1). */
  private def fsstBlob(n: Int, table: Array[Byte], orig: Long, lens: Array[Int],
      data: Array[Byte]): Array[Byte] = {
    val b = new ByteArrayBuilder(64)
    b.addByte(BytesCodec.FSST); b.addVarInt(n); b.addVarInt(table.length); b.addBytes(table)
    b.addVarLong(orig); lens.foreach(b.addVarInt); b.addBytes(data)
    b.result()
  }

  test("hostile input: the row-subset decode raises on every corrupt FSST blob the full decode does") {
    val blob = BytesCodec.encodeFsst(textValues)
    val r = new fsstspark.util.ByteReader(blob)
    r.readByte()
    val n = r.readVarInt()
    val table = r.readBytes(r.readVarInt())
    val orig = r.readVarLong()
    val lensAt = r.pos
    val lens = Array.fill(n)(r.readVarInt())
    val data = java.util.Arrays.copyOfRange(blob, r.pos, blob.length)
    assert(java.util.Arrays.equals(fsstBlob(n, table, orig, lens, data), blob), "parts rebuild the blob")
    val some = Array(0, n / 2, n - 1)
    def raises(what: String, corrupt: Array[Byte], rows: Array[Int]): Unit = {
      val e = intercept[Exception](BytesCodec.decode(corrupt, rows))
      assert(e.isInstanceOf[IllegalArgumentException] || e.isInstanceOf[IndexOutOfBoundsException],
        s"$what: unclean failure $e")
    }
    for (rows <- Seq(some, Array(n / 2), Array.emptyIntArray)) {
      // a truncated length list: the blob ends inside it
      raises("truncated length list", java.util.Arrays.copyOf(blob, lensAt + n / 3), rows)
      // an encoded length past the blob end, on a row the subset skips
      val longLen = lens.clone()
      longLen(n / 4) = data.length + 2
      raises("length past the blob end", fsstBlob(n, table, orig, longLen, data), rows)
      // an inflated declared size: more than 8 output bytes per blob byte
      raises("inflated declared size", fsstBlob(n, table, 8L * blob.length + 1, lens, data), rows)
    }
    // a deflated declared size: the selected value outgrows the buffer
    // sized from it, and the kernel's dst guard fires
    raises("deflated declared size", fsstBlob(n, table, 1, lens, data), Array(n / 2))
  }

  test("stats long-value escape: mostly-unique large values stop distinct hashing, low-card keeps dict") {
    val rnd = new scala.util.Random(33)
    // ~8 MB of unique ~1 MB documents: no chunk-local dict can win; the
    // probe escape must cap hashing near DictProbeBytes instead of paying
    // a full-chunk hash
    val big = Array.fill(8) { val b = new Array[Byte](1 << 20); rnd.nextBytes(b); b }
    val s = BytesCodec.stats(big)
    assert(s.distinctCapped, "all-unique large values must trip the probe escape")
    assert(s.distinctBytes <= BytesCodec.DictProbeBytes + (1 << 20),
      s"hashed ${s.distinctBytes} distinct bytes past the probe budget")
    // low-cardinality long values (the case the r1 advice protected):
    // duplicates appear immediately, the dict estimate survives and wins
    val a = new Array[Byte](1 << 20); rnd.nextBytes(a)
    val b = new Array[Byte](1 << 20); rnd.nextBytes(b)
    val rep = Array.tabulate[Array[Byte]](16)(i => if (i % 2 == 0) a else b)
    val s2 = BytesCodec.stats(rep)
    assert(!s2.distinctCapped && s2.distinct == 2)
    val e = BytesCodec.encodeAuto(rep)
    assert(e.codec == BytesCodec.DICT, s"got ${BytesCodec.names(e.codec)}")
    assert(e.blob.length < (3 << 20), s"dict blob ${e.blob.length}")
    bytesRoundtrip(rep, _ => e.blob)
  }

  test("selectEquals: dict membership / run headers answer equality without value decode") {
    // DICT: low-cardinality values
    val langs = Array("en", "de", "fr", "de", "en", "de", "zh", "es")
      .map(_.getBytes(UTF_8))
    val dictBlob = BytesCodec.encodeDict(langs)
    val (hits, read) = BytesCodec.selectEquals(dictBlob, "de".getBytes(UTF_8))
    assert(hits.toSeq == Seq(1, 3, 5))
    val bytesIn = langs.map(_.length.toLong).sum
    assert(read < bytesIn, s"dict pushdown read $read >= $bytesIn value bytes")
    // absent target: structural skip, only the dictionary is touched
    val (miss, readMiss) = BytesCodec.selectEquals(dictBlob, "xx".getBytes(UTF_8))
    assert(miss.isEmpty)
    assert(readMiss <= 10, s"structural skip still read $readMiss bytes")
    // RLE: run headers compared once per run; nulls skipped
    val runs = Array("aaa", "aaa", "aaa", null, null, "bb", "aaa").map(v =>
      if (v == null) null else v.getBytes(UTF_8))
    val rleBlob = BytesCodec.encodeRle(runs)
    val (rHits, rRead) = BytesCodec.selectEquals(rleBlob, "aaa".getBytes(UTF_8))
    assert(rHits.toSeq == Seq(0, 1, 2, 6))
    assert(rRead == 8, s"rle compared $rRead bytes, expected the collapsed 8") // 3+2+3
    // RAW falls back to decode+filter and agrees with a full scan
    val (rawHits, rawRead) = BytesCodec.selectEquals(BytesCodec.encodeRaw(langs), "de".getBytes(UTF_8))
    assert(rawHits.toSeq == Seq(1, 3, 5))
    assert(rawRead == bytesIn)
    // FSST answers via the encoded-probe compare and agrees too
    assert(BytesCodec.selectEquals(BytesCodec.encodeFsst(langs), "de".getBytes(UTF_8))._1.toSeq == Seq(1, 3, 5))
    // matches the ground truth on every codec via encodeAuto too
    val auto = BytesCodec.encodeAuto(langs)
    assert(BytesCodec.selectEquals(auto.blob, "de".getBytes(UTF_8))._1.toSeq == Seq(1, 3, 5))
  }

  test("selectEqualsIn: one pass equals the per-target union across every codec") {
    val rnd = new scala.util.Random(77)
    val vocab = Array("en", "de", "fr", "zh", "es", "pt", "it", "nl").map(_.getBytes(UTF_8))
    // values spanning dict-friendly, rle-friendly, fsst-friendly, raw shapes
    val shapes: Seq[Array[Array[Byte]]] = Seq(
      Array.tabulate(64)(i => vocab(rnd.nextInt(vocab.length))),              // dict
      Array.tabulate(64)(i => vocab(i / 16)),                                 // rle
      Array.tabulate(64)(i => s"the quick brown fox $i jumps".getBytes(UTF_8)), // fsst-ish
      Array.tabulate(16) { _ => val b = new Array[Byte](64); rnd.nextBytes(b); b } // raw
    )
    val encoders: Seq[Array[Array[Byte]] => Array[Byte]] = Seq(
      BytesCodec.encodeDict, BytesCodec.encodeRle, BytesCodec.encodeFsst,
      BytesCodec.encodeRaw, vs => BytesCodec.encodeAuto(vs).blob)
    for (values <- shapes; enc <- encoders) {
      val blob = enc(values)
      // target set: two present, one absent, one duplicate of the first
      val targets = Array(values(1), values(values.length - 1),
        "absent-value-xyz".getBytes(UTF_8), values(1))
      val (idx, ords, _) = BytesCodec.selectEqualsIn(blob, targets)
      // union + per-index ordinal must match per-target selectEquals, with
      // duplicate targets resolving to the FIRST ordinal
      val expect = scala.collection.mutable.TreeMap.empty[Int, Int]
      for (t <- targets.indices; i <- BytesCodec.selectEquals(blob, targets(t))._1)
        if (!expect.contains(i)) expect(i) = t
      assert(idx.toSeq == expect.keys.toSeq, s"indices differ for ${values.length}-value shape")
      assert(idx.zip(ords).toMap == expect.toMap, "target ordinals differ")
      // sanity: matched rows really equal their assigned target
      val decoded = BytesCodec.decode(blob)
      idx.zip(ords).foreach { case (i, o) =>
        assert(java.util.Arrays.equals(decoded(i), targets(o)))
      }
    }
  }

  test("selectEquals FSST: encoded-probe equality without decode on natural text") {
    proseCorpora("en_mobydick.txt").foreach { text =>
      val lines = text.filter(_.nonEmpty).take(4000)
      // plant duplicates of one probe line and interleave nulls
      val probeStr = lines(137)
      val values: Array[Array[Byte]] = (lines :+ probeStr :+ probeStr)
        .zipWithIndex.map { case (s, i) =>
          if (i % 97 == 43) null else s.getBytes(UTF_8)
        }
      val blob = BytesCodec.encodeFsst(values)
      val target = probeStr.getBytes(UTF_8)
      val (hits, read) = BytesCodec.selectEquals(blob, target)
      // ground truth from a full decode
      val expected = BytesCodec.decode(blob).zipWithIndex.collect {
        case (v, i) if v != null && java.util.Arrays.equals(v, target) => i
      }
      assert(hits.toSeq == expected.toSeq && hits.nonEmpty)
      // the length prefix skips most values: only length-colliding encoded
      // payloads (plus the table) are touched — far below a full decode
      val bytesIn = values.collect { case v if v != null => v.length.toLong }.sum
      assert(read * 4 < bytesIn, s"fsst probe read $read of $bytesIn input bytes")
      // absent target: still exact (no false positives from the probe path)
      val (miss, _) = BytesCodec.selectEquals(blob, "no such line in the corpus ___".getBytes(UTF_8))
      assert(miss.isEmpty)
    }
  }
}
