package fsstspark.codec.fsst

import fsstspark.util.Bytes
import scala.collection.mutable

/** FSST symbol-table training: the iterative gain-counting construction from
  * the FSST paper, matching the reference's semantics —
  * deterministic ≤32 KB sampling (/root/reference/train.go:273-316), five
  * rounds with subsample fractions 8,38,68,98,128 (/root/reference/train.go:33),
  * greedy parse-and-count (/root/reference/train.go:71-114), candidate
  * gain = count × length with an 8× boost for single bytes and a
  * min-count threshold max(5·frac/128, 1) (/root/reference/train.go:157-260),
  * deterministic top-255 selection, and the code-layout finalize
  * (/root/reference/table.go:239-295).
  *
  * Deliberate divergences from the Go reference (invariants preserved, exact
  * ciphertext not required — SURVEY.md §7.2): top-K selection uses a full
  * sort with a total ordering (gain desc, val asc, len asc) instead of a
  * min-heap fed from randomized map iteration, making training fully
  * deterministic; counters are flat Int arrays (the nibble-packing is a
  * space trick the JVM doesn't need for a ≤32 KB sample).
  *
  * Training runs entirely inside one Spark task per column chunk — it never
  * crosses an executor boundary (SURVEY.md §3.5).
  */
object FsstTrainer {
  import Fsst._

  private final val SampleTarget = 1 << 14 // 16 KB (/root/reference/train.go:9)
  private final val SampleMax = 2 * SampleTarget
  private final val SampleLine = 512
  private final val RngSeed = 4637947L
  private final val SingleByteBoost = 8
  private final val SampleMask = 127

  def train(inputs: Iterable[Array[Byte]]): SymbolTable = train(inputs.toArray)

  def train(inputs: Array[Array[Byte]]): SymbolTable = {
    val sample = makeSample(inputs)
    val tt = new TrainTable
    val counts = new Counters
    var frac = 8
    var done = false
    while (!done) {
      counts.reset()
      compressCount(tt, counts, sample, frac)
      buildCandidates(tt, counts, frac)
      if (frac >= 128) done = true else frac += 30
    }
    tt.finalizeTable()
  }

  def trainStrings(inputs: Iterable[String]): SymbolTable =
    train(inputs.iterator.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray)

  /** Deterministic pseudo-random sample of ≤512-byte slices totalling ≤32 KB
    * (target 16 KB); inputs totalling <16 KB pass through unsampled.
    */
  private[fsstspark] def makeSample(inputs: Array[Array[Byte]]): Array[Array[Byte]] = {
    var total = 0L
    var i = 0
    while (i < inputs.length) { total += inputs(i).length; i += 1 }
    if (total < SampleTarget) return inputs

    val out = mutable.ArrayBuffer.empty[Array[Byte]]
    var pos = 0
    var rng = hash(RngSeed)
    var stop = false
    while (pos < SampleMax && !stop) {
      rng = hash(rng)
      var idx = java.lang.Long.remainderUnsigned(rng, inputs.length.toLong).toInt
      while (inputs(idx).length == 0) idx = (idx + 1) % inputs.length
      val numChunks = (inputs(idx).length + SampleLine - 1) / SampleLine
      rng = hash(rng)
      val off = SampleLine * java.lang.Long.remainderUnsigned(rng, numChunks.toLong).toInt
      val n = math.min(inputs(idx).length - off, SampleLine)
      if (pos + n > SampleMax) stop = true
      else {
        out += java.util.Arrays.copyOfRange(inputs(idx), off, off + n)
        pos += n
        if (pos >= SampleTarget) stop = true
      }
    }
    out.toArray
  }

  /** Single + pair frequency counters over the 9-bit training code space. */
  private final class Counters {
    val single = new Array[Int](CodeMax)
    val pair = new Array[Int](CodeMax * CodeMax)
    // touched pair keys (c1<<9 | c2), for sparse iteration + cheap reset
    var pairKeys = new Array[Int](1024)
    var nPairKeys = 0

    def reset(): Unit = {
      java.util.Arrays.fill(single, 0)
      var i = 0
      while (i < nPairKeys) { pair(pairKeys(i)) = 0; i += 1 }
      nPairKeys = 0
    }
    @inline def incSingle(c: Int): Unit = single(c) += 1
    @inline def incPair(c1: Int, c2: Int): Unit = {
      val k = (c1 << 9) | c2
      if (pair(k) == 0) {
        if (nPairKeys == pairKeys.length) pairKeys = java.util.Arrays.copyOf(pairKeys, nPairKeys * 2)
        pairKeys(nPairKeys) = k; nPairKeys += 1
      }
      pair(k) += 1
    }
  }

  /** Walk the sample as the encoder would with the current table, counting
    * symbol occurrences (and, before the last round, adjacent pairs).
    */
  private def compressCount(t: TrainTable, c: Counters, sample: Array[Array[Byte]], frac: Int): Unit = {
    var i = 0
    while (i < sample.length) {
      val line = sample(i)
      val skip = frac < 128 && (hash(i.toLong) & SampleMask) > frac
      if (!skip && line.length > 0) {
        val end = line.length
        var pos = 0
        var cur = t.findLongestSymbol(line, pos, end)
        pos += t.symLenOf(cur)
        var start = 0
        var break = false
        while (!break) {
          c.incSingle(cur)
          if (pos - start != 1) c.incSingle(line(start) & 0xff)
          if (pos == end) break = true
          else {
            start = pos
            var next = 0
            if (pos < end - 7) {
              val packed = t.findNextSymbolFast(line, pos)
              next = packed & CodeMask
              pos += packed >>> 16
            } else {
              next = t.findLongestSymbol(line, pos, end)
              pos += t.symLenOf(next)
            }
            if (frac < 128) {
              c.incPair(cur, next)
              if (pos - start > 1) c.incPair(cur, line(start) & 0xff)
            }
            cur = next
          }
        }
      }
      i += 1
    }
  }

  /** Score candidates from this round's counts, keep the top 255 by gain
    * (deterministic total order), and rebuild the table's symbol set.
    */
  private def buildCandidates(t: TrainTable, c: Counters, frac: Int): Unit = {
    val minCount = math.max((5 * frac) / 128, 1)
    // key = (val, len); value = accumulated gain
    val gains = mutable.HashMap.empty[(Long, Int), Long]

    @inline def accumulate(v: Long, len: Int, gain: Long): Unit = {
      val k = (v, len)
      gains.update(k, gains.getOrElse(k, 0L) + gain)
    }

    var code = 0
    val nCodes = CodeBase + t.nSymbols
    while (code < nCodes) {
      val count = c.single(code)
      if (count > 0) {
        val len = t.symLenOf(code)
        val weight = if (len == 1) count.toLong * SingleByteBoost else count.toLong
        if (weight >= minCount) accumulate(t.symValOf(code), len, weight * len)
      }
      code += 1
    }

    if (frac < 128) {
      var i = 0
      while (i < c.nPairKeys) {
        val k = c.pairKeys(i)
        val count = c.pair(k)
        if (count >= minCount) {
          val c1 = k >>> 9
          val c2 = k & CodeMask
          val len1 = t.symLenOf(c1)
          if (len1 < 8) { // never extend max-length symbols
            val len2 = t.symLenOf(c2)
            val mergedLen = math.min(len1 + len2, 8)
            val mergedVal = (t.symValOf(c2) << (8 * len1)) | t.symValOf(c1)
            // mask to mergedLen bytes so the (val,len) key is canonical
            val mask = if (mergedLen == 8) -1L else (1L << (8 * mergedLen)) - 1
            accumulate(mergedVal & mask, mergedLen, count.toLong * mergedLen)
          }
        }
        i += 1
      }
    }

    // Deterministic top-K: gain desc, then smaller val, then shorter len.
    val sorted = gains.toArray.sortWith { case (((v1, l1), g1), ((v2, l2), g2)) =>
      if (g1 != g2) g1 > g2
      else if (v1 != v2) java.lang.Long.compareUnsigned(v1, v2) < 0
      else l1 < l2
    }

    t.clearSymbols()
    var i = 0
    while (i < sorted.length && t.nSymbols < MaxSymbols) {
      val ((v, l), _) = sorted(i)
      t.addSymbol(v, l)
      i += 1
    }
  }

  /** Mutable training-time table: 9-bit code space with pseudo-symbols
    * 0..255, learned symbols at 256+, and the lookup structures the greedy
    * parse needs (byteCodes/shortCodes/direct-mapped hash).
    */
  private final class TrainTable {
    val symVal = new Array[Long](CodeMax)
    val symIcl = new Array[Long](CodeMax)
    var nSymbols = 0
    val lenHisto = new Array[Int](8)
    val byteCodes = new Array[Char](256)
    val shortCodes = new Array[Char](65536)
    val hashVal = new Array[Long](HashTabSize)
    val hashIcl = new Array[Long](HashTabSize)

    // in a method: a loop in a constructor block is never JIT-compiled
    // (HotSpot skips the OSR compile of `<init>`)
    initTables()

    private def initTables(): Unit = {
      var i = 0
      while (i < 256) {
        symVal(i) = i
        symIcl(i) = mkIcl(1, i, 56)
        byteCodes(i) = packCL(i, 1)
        i += 1
      }
      while (i < CodeMax) { symVal(i) = 0; symIcl(i) = mkIcl(1, CodeMask, 56); i += 1 }
      java.util.Arrays.fill(hashIcl, IclFree)
      i = 0
      while (i < 65536) { shortCodes(i) = packCL(i & 0xff, 1); i += 1 }
    }

    @inline def symLenOf(code: Int): Int = iclLen(symIcl(code))
    @inline def symValOf(code: Int): Long = symVal(code)

    def clearSymbols(): Unit = {
      var i = CodeBase
      val end = CodeBase + nSymbols
      while (i < end) {
        iclLen(symIcl(i)) match {
          case 1 =>
            val b = (symVal(i) & 0xff).toInt
            byteCodes(b) = packCL(b, 1)
          case 2 =>
            val s = (symVal(i) & 0xffff).toInt
            shortCodes(s) = packCL(s & 0xff, 1)
          case _ =>
            val idx = (hash(symVal(i) & 0xffffff) & (HashTabSize - 1)).toInt
            hashVal(idx) = 0
            hashIcl(idx) = IclFree
        }
        i += 1
      }
      java.util.Arrays.fill(lenHisto, 0)
      nSymbols = 0
    }

    def addSymbol(v: Long, len: Int): Boolean = {
      if (CodeBase + nSymbols >= CodeMax) return false
      val code = CodeBase + nSymbols
      len match {
        case 1 => byteCodes((v & 0xff).toInt) = packCL(code, 1)
        case 2 => shortCodes((v & 0xffff).toInt) = packCL(code, 2)
        case _ =>
          val idx = (hash(v & 0xffffff) & (HashTabSize - 1)).toInt
          if (hashIcl(idx) < IclFree) return false // slot taken: reject candidate
          hashIcl(idx) = mkIcl(len, code, (8 - len) * 8)
          hashVal(idx) = v & (-1L >>> ((8 - len) * 8))
      }
      symVal(code) = v
      symIcl(code) = mkIcl(len, code, (8 - len) * 8)
      nSymbols += 1
      lenHisto(len - 1) += 1
      true
    }

    /** Longest match for the (≤8-byte) value starting at line[pos]; safe at
      * line ends (partial load). Returns the matched training code.
      */
    def findLongestSymbol(line: Array[Byte], pos: Int, end: Int): Int = {
      val len = math.min(8, end - pos)
      val v = Bytes.getPartialLE(line, pos, len)
      val idx = (hash(v & 0xffffff) & (HashTabSize - 1)).toInt
      val entryIcl = hashIcl(idx)
      // entryIcl ≤ probe icl ⇔ entry.len ≤ available len (codes: entry<512=probe)
      if (entryIcl <= mkIcl(len, CodeMax, (8 - len) * 8) &&
          hashVal(idx) == (v & (-1L >>> (entryIcl & 0xffff)))) {
        return iclCode(entryIcl)
      }
      if (len >= 2) {
        val c = shortCodes((v & 0xffff).toInt) & CodeMask
        if (c >= CodeBase) return c
      }
      byteCodes((v & 0xff).toInt) & CodeMask
    }

    /** Fast match when ≥8 bytes remain: returns (advance<<16 | code). */
    def findNextSymbolFast(line: Array[Byte], pos: Int): Int = {
      val word = Bytes.getLongLE(line, pos)
      val idx = (hash(word & 0xffffff) & (HashTabSize - 1)).toInt
      val icl = hashIcl(idx)
      if (icl < IclFree && hashVal(idx) == (word & (-1L >>> (icl & 0xffff)))) {
        return (iclLen(icl) << 16) | iclCode(icl)
      }
      val sc = shortCodes((word & 0xffff).toInt) & CodeMask
      if (sc >= CodeBase) return (2 << 16) | sc
      (1 << 16) | (byteCodes((word & 0xff).toInt) & CodeMask)
    }

    /** Renumber codes into the layout the encoder's fast paths rely on:
      * unique-prefix 2-byte symbols first, then conflicting 2-byte (filled
      * downward), lengths 3..8 sequentially, 1-byte symbols on top.
      */
    def finalizeTable(): SymbolTable = {
      val n = nSymbols
      val outVal = new Array[Long](n)
      val outLen = new Array[Byte](n)
      val byteLim = n - lenHisto(0)
      val codeStart = new Array[Int](8)
      codeStart(0) = byteLim // 1-byte range
      codeStart(1) = 0 // 2-byte range start (partitioned below)
      var i = 1
      while (i < 7) { codeStart(i + 1) = codeStart(i) + lenHisto(i); i += 1 }

      var suffixLim = 0
      var conflictDown = codeStart(2) // = count of 2-byte symbols
      i = 0
      while (i < n) {
        val v = symVal(CodeBase + i)
        val len = iclLen(symIcl(CodeBase + i))
        var newCode = 0
        if (len == 2) {
          val first2 = (v & 0xffff).toInt
          var conflict = false
          var k = 0
          while (k < n && !conflict) {
            if (k != i) {
              val ov = symVal(CodeBase + k)
              val ol = iclLen(symIcl(CodeBase + k))
              if (ol > 1 && (ov & 0xffff).toInt == first2) conflict = true
            }
            k += 1
          }
          if (!conflict) { newCode = suffixLim; suffixLim += 1 }
          else { conflictDown -= 1; newCode = conflictDown }
        } else {
          newCode = codeStart(len - 1)
          codeStart(len - 1) += 1
        }
        outVal(newCode) = v
        outLen(newCode) = len.toByte
        i += 1
      }
      new SymbolTable(outVal, outLen, suffixLim)
    }
  }
}
