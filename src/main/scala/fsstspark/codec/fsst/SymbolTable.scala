package fsstspark.codec.fsst

import fsstspark.util.{ByteArrayBuilder, Bytes}

/** FSST — Fast Static Symbol Table (Boncz, Neumann, Leis; VLDB 2020).
  *
  * Spark-native re-implementation of the algorithm exposed by the reference
  * Go library `axiomhq/fsst` (see /root/reference). The *format invariants*
  * are preserved (255 learned symbols of 1..8 bytes, 1-byte codes with
  * code 255 = escape, compact serialization with version word 20190218 —
  * /root/reference/table.go:54,302-351), but the code is organised for the
  * JVM/Spark execution model: an immutable, thread-safe [[SymbolTable]]
  * that travels as broadcast/column bytes, with per-task mutable
  * [[FsstEncoder]]/[[FsstDecoder]] kernels (the reference `Table` is a
  * single mutable struct — /root/reference/table.go:14-51 — which is
  * explicitly not thread-safe and therefore the wrong shape for Spark).
  */
object Fsst {
  final val CodeMax = 512 // 9-bit training code space (/root/reference/symbol.go:9-13)
  final val CodeMask = CodeMax - 1
  final val CodeBase = 256 // learned symbols start here during training
  final val LenBits = 12 // packed (length<<12 | code) in byte/short tables
  final val HashTabSize = 2048 // /root/reference/symbol.go:15-16
  final val HashPrime = 2971215073L
  final val HashShift = 15
  final val EscapeCode = 255
  final val MaxSymbols = 255
  final val ChunkSize = 511 // encoder window (/root/reference/symbol.go:26)
  final val ChunkPad = 9
  final val Version = 20190218L // serialized format version (/root/reference/table.go:54)

  /** Hash-table slot marker for "free": impossible length 15 + code mask.
    * (/root/reference/symbol.go:20-22)
    */
  final val IclFree: Long = (15L << 28) | (CodeMask.toLong << 16)

  @inline def hash(w: Long): Long = { val x = w * HashPrime; x ^ (x >>> HashShift) }

  /** icl packing: [length:4 @28][code:12 @16][ignoredBits:16 @0]. */
  @inline def mkIcl(len: Int, code: Int, ignoredBits: Int): Long =
    (len.toLong << 28) | (code.toLong << 16) | ignoredBits.toLong
  @inline def iclLen(icl: Long): Int = (icl >>> 28).toInt
  @inline def iclCode(icl: Long): Int = ((icl >>> 16) & CodeMask).toInt
  @inline def iclIgnored(icl: Long): Int = (icl & 0xffff).toInt

  @inline def packCL(code: Int, len: Int): Char = ((len << LenBits) | code).toChar

  /** Worst-case encoded size: every byte escapes → 2 bytes out per byte in. */
  @inline def maxEncodedSize(inputLen: Int): Int = 2 * inputLen + 8
}

/** A finalized, immutable FSST symbol table.
  *
  * Codes are laid out as the reference's `finalize` produces them
  * (/root/reference/table.go:239-295): `[0..suffixLim)` 2-byte symbols with a
  * globally unique 2-byte prefix, then conflicting 2-byte symbols, then
  * lengths 3..8 sequentially, then 1-byte symbols in `[byteLim..nSymbols)`.
  *
  * @param symVal   symbol bytes, little-endian packed, index = code
  * @param symLen   symbol length in bytes (1..8), index = code
  * @param suffixLim end (exclusive) of the unique-prefix 2-byte code range
  */
final class SymbolTable(
    val symVal: Array[Long],
    val symLen: Array[Byte],
    val suffixLim: Int
) extends Serializable {
  require(symVal.length == symLen.length && symVal.length <= Fsst.MaxSymbols)

  def nSymbols: Int = symVal.length

  def lenHisto: Array[Int] = {
    val h = new Array[Int](8)
    var i = 0
    while (i < symLen.length) { h(symLen(i) - 1) += 1; i += 1 }
    h
  }

  /** Number of learned non-1-byte symbols == first code of the 1-byte range. */
  def byteLim: Int = nSymbols - lenHisto(0)

  def newEncoder(): FsstEncoder = new FsstEncoder(this)
  def newDecoder(): FsstDecoder = new FsstDecoder(this)

  /** Compact serialization, format-compatible with the reference
    * (/root/reference/table.go:302-351): version word
    * `(20190218<<32)|(suffixLim<<16)|(nSymbols<<8)|1`, 8-byte length
    * histogram, then raw symbol bytes in code order (which, by the
    * finalize layout, is lengths 2..8 then 1 — the exact schedule the
    * read side reconstructs, /root/reference/table.go:380-396).
    */
  def serialize(): Array[Byte] = {
    val histo = lenHisto
    var symBytes = 0
    var i = 0
    while (i < symLen.length) { symBytes += symLen(i); i += 1 }
    val out = new Array[Byte](16 + symBytes)
    val ver = (Fsst.Version << 32) | (suffixLim.toLong << 16) | (nSymbols.toLong << 8) | 1L
    Bytes.putLongLE(out, 0, ver)
    i = 0
    while (i < 8) { out(8 + i) = histo(i).toByte; i += 1 }
    var p = 16
    i = 0
    while (i < nSymbols) {
      val len = symLen(i)
      var k = 0
      while (k < len) { out(p) = (symVal(i) >>> (8 * k)).toByte; p += 1; k += 1 }
      i += 1
    }
    out
  }
}

object SymbolTable {

  /** Inverse of [[SymbolTable.serialize]] (/root/reference/table.go:354-416). */
  def deserialize(bytes: Array[Byte]): SymbolTable = {
    val ver = Bytes.getLongLE(bytes, 0)
    require((ver >>> 32) == Fsst.Version, s"fsst: unsupported table version ${ver >>> 32}")
    val suffixLim = ((ver >>> 16) & 0xff).toInt
    val n = ((ver >>> 8) & 0xff).toInt
    val histo = new Array[Int](8)
    var i = 0
    while (i < 8) { histo(i) = bytes(8 + i) & 0xff; i += 1 }
    // corrupt-table guard: the length schedule below trusts the histogram
    var hSum = 0
    i = 0
    while (i < 8) { hSum += histo(i); i += 1 }
    require(hSum == n, s"fsst: corrupt table — length histogram sum $hSum != nSymbols $n")
    // Code→length schedule implied by the finalize layout: lengths 2..8, then 1.
    val symLen = new Array[Byte](n)
    var pos = 0
    var l = 2
    while (l <= 8) {
      var c = histo(l - 1)
      while (c > 0) { symLen(pos) = l.toByte; pos += 1; c -= 1 }
      l += 1
    }
    var c1 = histo(0)
    while (c1 > 0) { symLen(pos) = 1; pos += 1; c1 -= 1 }
    val symVal = new Array[Long](n)
    var p = 16
    i = 0
    while (i < n) {
      symVal(i) = Bytes.getPartialLE(bytes, p, symLen(i))
      p += symLen(i)
      i += 1
    }
    new SymbolTable(symVal, symLen, suffixLim)
  }
}

/** Per-task encode kernel. NOT thread-safe (holds scratch buffers); create
  * one per Spark task via [[SymbolTable.newEncoder]].
  *
  * Single unified kernel instead of the reference's four specialized loops
  * (/root/reference/table.go:575-816): the "branched" and
  * "branched-no-suffix" variants differ only in the fast-path code limit
  * (byteLim vs suffixLim), and on the JVM the branchless variants are a
  * CPU-pipeline micro-optimisation C2 performs on its own (SURVEY.md §4.1),
  * so one loop parameterized by `lim` covers both.
  */
final class FsstEncoder(table: SymbolTable) {
  import Fsst._

  // byteCodes: 1-byte value -> packed (len|code); default = escape marker.
  private val byteCodes = new Array[Char](256)
  // shortCodes: 2-byte prefix -> packed (len|code); default mirrors byteCodes.
  private val shortCodes = new Array[Char](65536)
  // Direct-mapped hash table for 3..8-byte symbols, keyed on first 3 bytes.
  private val hashIcl = new Array[Long](HashTabSize)
  private val hashVal = new Array[Long](HashTabSize)
  // Per-slot precomputed compare mask: replaces the variable shift
  // `-1L >>> (icl & 0xffff)` in the hot probe with one array load —
  // measured +2% via a same-JVM interleaved A/B (strictly less work; the
  // extra 16 KB sits next to tables already ~200 KB).
  private val hashMask = new Array[Long](HashTabSize)
  // Fast-path code limit — the reference's noSuffixOpt strategy axis
  // (/root/reference/table.go:926-931, dispatch 575-587) expressed through
  // one parameter:
  //  * lim = suffixLim ("noSuffixOpt" regime: 2-byte symbols >65% of the
  //    table AND >95% of them prefix-unique): only unique-prefix 2-byte
  //    codes short-circuit, the rare conflicting ones take the hash probe
  //    for a possible longer match — full greediness, negligible cost.
  //  * lim = byteLim (the reference's default branched kernel,
  //    /root/reference/table.go:656-719): ANY learned 2-byte match is
  //    taken immediately without probing for a longer 3..8-byte match
  //    starting with the same two bytes — less greedy, skips the hash
  //    probe on the most common match length.
  // MEASURED ON JVM (KernelBench, en_mobydick, best-of-40): byteLim
  // 187.6 MB/s @ ratio 0.574 vs suffixLim 184 MB/s @ ratio 0.537 — the
  // reference's speed axis buys ~2% throughput for ~7% worse compression
  // here (the hash probe is not the JVM bottleneck; C2's branch layout
  // already hides it). We therefore pin the strictly-greedy suffixLim
  // path: ratio is the north-rule metric ("size ≤ reference"), and the
  // reference running its byteLim kernel on such tables emits the LARGER
  // output.
  private val lim: Int = table.suffixLim
  private val tail = new Array[Byte](ChunkSize + ChunkPad)

  // A loop in a constructor block is never JIT-compiled (HotSpot skips the
  // OSR compile of `<init>`), so the tables are built in a method.
  buildTables()

  /** Lookup structures from the finalized symbols. */
  private def buildTables(): Unit = {
    java.util.Arrays.fill(hashIcl, IclFree)
    var i = 0
    while (i < 256) { byteCodes(i) = packCL(CodeMask, 1); i += 1 }
    i = 0
    while (i < table.nSymbols) {
      if (table.symLen(i) == 1) byteCodes((table.symVal(i) & 0xff).toInt) = packCL(i, 1)
      i += 1
    }
    i = 0
    while (i < 65536) { shortCodes(i) = byteCodes(i & 0xff); i += 1 }
    i = 0
    while (i < table.nSymbols) {
      val len = table.symLen(i)
      if (len == 2) shortCodes((table.symVal(i) & 0xffff).toInt) = packCL(i, 2)
      else if (len >= 3) {
        val idx = (hash(table.symVal(i) & 0xffffff) & (HashTabSize - 1)).toInt
        if (hashIcl(idx) == IclFree) { // first-come wins, as at training time
          hashIcl(idx) = mkIcl(len, i, (8 - len) * 8)
          hashVal(idx) = table.symVal(i) // already masked: symVal holds len bytes only
          hashMask(idx) = -1L >>> ((8 - len) * 8)
        }
      }
      i += 1
    }
  }

  /** Encode `input[off, off+len)` into `dst` starting at `dstPos`; returns the
    * new position. `dst` must have capacity ≥ dstPos + maxEncodedSize(len).
    * Processes 511-byte windows clamped so every in-loop 8-byte load stays in
    * bounds; the final <8-byte tail goes through a padded scratch buffer
    * (/root/reference/table.go:516-554).
    */
  def encode(input: Array[Byte], off: Int, len: Int, dst: Array[Byte], dstPos: Int): Int = {
    var out = dstPos
    val end = off + len
    var pos = off
    while (pos + 8 <= end) {
      val chunkEnd = math.min(pos + ChunkSize, end - 7)
      out = encodeChunk(input, pos, chunkEnd, dst, out)
      pos = chunkEnd
    }
    if (pos < end) {
      val t = end - pos
      System.arraycopy(input, pos, tail, 0, t)
      java.util.Arrays.fill(tail, t, t + 8, 0.toByte)
      out = encodeChunk(tail, 0, t, dst, out)
    }
    out
  }

  def encodeAll(input: Array[Byte]): Array[Byte] = {
    val dst = new Array[Byte](maxEncodedSize(input.length))
    val n = encode(input, 0, input.length, dst, 0)
    java.util.Arrays.copyOf(dst, n)
  }

  /** Hot loop. Match order: learned-2-byte fast path → 3..8-byte hash probe
    * (masked compare; one slot per index by construction) → packed
    * shortCodes fallback (2-byte learned / 1-byte learned / escape).
    * Requires every load position p in [from,to) to satisfy p+8 ≤ src.length.
    * The window checks stay inline: hoisting them into a separate
    * check-free loop measured −7% (BASELINE.md r3).
    */
  private def encodeChunk(src: Array[Byte], from: Int, to: Int, dst: Array[Byte], dstPos0: Int): Int = {
    var pos = from
    var out = dstPos0
    val lim0 = lim
    val shortCodes = this.shortCodes
    val byteCodes = this.byteCodes
    val hashIcl = this.hashIcl
    val hashVal = this.hashVal
    val hashMask = this.hashMask
    while (pos < to) {
      val word = Bytes.getLongLE(src, pos)
      val code: Int = shortCodes((word & 0xffff).toInt)
      // (code & 0xff) < lim implies a learned 2-byte code: learned 1-byte
      // codes live in [byteLim..nSymbols) ≥ lim and the escape's low byte is 0xFF.
      if ((code & 0xff) < lim0 && pos + 2 <= to) {
        Bytes.putByte(dst, out, code.toByte); out += 1; pos += 2
      } else {
        val idx = (hash(word & 0xffffff) & (HashTabSize - 1)).toInt
        val icl = hashIcl(idx)
        val sLen = (icl >>> 28).toInt
        if (icl < IclFree && hashVal(idx) == (word & hashMask(idx)) && pos + sLen <= to) {
          Bytes.putByte(dst, out, (icl >>> 16).toByte); out += 1; pos += sLen
        } else {
          // Fallback: emit what shortCodes says — a conflicting 2-byte code,
          // a learned 1-byte code, or the escape marker — advancing by its
          // packed length (falling back to byteCodes at the window edge).
          var c = code
          var adv = c >>> LenBits
          if (pos + adv > to) { c = byteCodes((word & 0xff).toInt); adv = 1 }
          Bytes.putByte(dst, out, c.toByte); out += 1
          if ((c & CodeBase) != 0) { Bytes.putByte(dst, out, word.toByte); out += 1 }
          pos += adv
        }
      }
    }
    out
  }
}

/** Per-task decode kernel: the branch-minimized symbol-table lookup loop —
  * each code triggers one unconditional 8-byte store advanced by the true
  * symbol length (the reference's unrolled length-switch,
  * /root/reference/table.go:866-888, collapsed to a single wide store).
  * `dst` must therefore have 8 bytes of slack beyond the decoded length.
  * NOT thread-safe by convention (stateless today, scratch may come later).
  */
final class FsstDecoder(table: SymbolTable) {
  private val decLen = new Array[Int](256)
  private val decSym = new Array[Long](256)
  fillTables() // in a method: a constructor loop is never JIT-compiled

  private def fillTables(): Unit = {
    var i = 0
    while (i < table.nSymbols) { decLen(i) = table.symLen(i); decSym(i) = table.symVal(i); i += 1 }
  }

  /** Decode `src[off, off+len)` into dst at dstPos; returns new dstPos.
    * dst capacity must be ≥ dstPos + decodedSize + 8.
    *
    * Hostile-input safety: every store is guarded against `dst.length`, so
    * a corrupted blob whose codes decode to more than the caller-declared
    * size raises a clean exception instead of writing past the array
    * through the unchecked `Platform` stores (the reference survives
    * decoder fuzzing on malformed input, /root/reference/train_test.go:
    * 428-444 — it grows its buffer; our callers declare the exact size, so
    * overflow means corruption and must raise). The guard is one
    * always-predicted compare per code; KernelBench A/B shows it inside
    * run-to-run noise.
    */
  def decode(src: Array[Byte], off: Int, len: Int, dst: Array[Byte], dstPos: Int): Int = {
    var sp = off
    val end = off + len
    var out = dstPos
    val dstLim = dst.length - 8 // every store is ≤8 bytes wide
    while (sp < end) {
      val code = Bytes.getByte(src, sp) & 0xff
      sp += 1
      if (out > dstLim) throw new IllegalArgumentException(
        s"fsst: corrupt blob — decoded output exceeds destination capacity ${dst.length}")
      if (code < Fsst.EscapeCode) {
        Bytes.putLongLE(dst, out, decSym(code))
        out += decLen(code)
      } else if (sp < end) { // escape: next byte is a literal; truncated escape at EOF is a clean no-op
        Bytes.putByte(dst, out, Bytes.getByte(src, sp))
        out += 1
        sp += 1
      }
    }
    out
  }

  /** Convenience decode sized to the worst case (8 bytes out per code byte). */
  def decodeAll(src: Array[Byte]): Array[Byte] = {
    val dst = new Array[Byte](src.length * 8 + 8)
    val n = decode(src, 0, src.length, dst, 0)
    java.util.Arrays.copyOf(dst, n)
  }

  /** Decode straight to a String (the reference's `DecodeString`
    * convenience, /root/reference/table.go:914-918).
    */
  def decodeString(src: Array[Byte]): String = {
    val dst = new Array[Byte](src.length * 8 + 8)
    val n = decode(src, 0, src.length, dst, 0)
    new String(dst, 0, n, java.nio.charset.StandardCharsets.UTF_8)
  }
}
