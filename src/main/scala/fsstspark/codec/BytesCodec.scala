package fsstspark.codec

import fsstspark.codec.fsst.{Fsst, FsstTrainer, SymbolTable}
import fsstspark.util.{BitPacker, ByteArrayBuilder, ByteReader, Bytes}
import scala.collection.mutable

/** Per-column-chunk encodings for string/binary columns.
  *
  * Blob layout (self-describing, little-endian varints):
  *   [codecId: u8] [nValues: varint] [codec payload]
  *
  * Null handling: value lengths are stored as varint(len+1) with 0 = NULL
  * (dict uses a reserved index). All codecs round-trip `null` entries.
  *
  * Codec ids: 0=RAW, 1=FSST, 2=DICT, 3=RLE. The auto-selector
  * ([[BytesCodec.encodeAuto]]) implements SURVEY.md N6: it computes
  * chunk statistics in one pass and picks the codec with the smallest
  * estimated footprint — with RAW as the universal fallback, which
  * guarantees output ≤ input + O(n) framing even on incompressible data.
  */
object BytesCodec {
  final val RAW = 0
  final val FSST = 1
  final val DICT = 2
  final val RLE = 3

  val names: Map[Int, String] = Map(RAW -> "raw", FSST -> "fsst", DICT -> "dict", RLE -> "rle")

  // Per-thread reusable scratch builders: each chunk encode used to
  // allocate (and promote to old gen, at 4-16 MB chunk sizes) two
  // chunk-sized builders; Spark executor threads are long-lived, so the
  // builders reach steady-state capacity after the first chunk and the
  // soak job's GC share drops accordingly. Tasks are single-threaded and
  // every public encode returns a fresh `result()` copy, so reuse never
  // escapes. (A and B exist because encodeFsstWith needs two live at once.)
  private val scratchA = ThreadLocal.withInitial[ByteArrayBuilder](() => new ByteArrayBuilder(1 << 16))
  private val scratchB = ThreadLocal.withInitial[ByteArrayBuilder](() => new ByteArrayBuilder(1 << 16))
  @inline private def freshA(sizeHint: Int): ByteArrayBuilder = {
    val b = scratchA.get(); b.setLength(0); b.ensure(sizeHint); b
  }
  @inline private def freshB(sizeHint: Int): ByteArrayBuilder = {
    val b = scratchB.get(); b.setLength(0); b.ensure(sizeHint); b
  }

  // ---------------------------------------------------------------- encode

  def encodeRaw(values: Array[Array[Byte]]): Array[Byte] = {
    val out = freshA(totalBytes(values).toInt + values.length * 2 + 16)
    out.addByte(RAW)
    out.addVarInt(values.length)
    var i = 0
    while (i < values.length) {
      val v = values(i)
      if (v == null) out.addVarInt(0)
      else { out.addVarInt(v.length + 1); out.addBytes(v) }
      i += 1
    }
    out.result()
  }

  /** FSST payload: [tableLen][table][totalOrigBytes][varint(encLen+1) per
    * value][concatenated encoded bytes]. One shared symbol table per chunk,
    * trained on the chunk's own deterministic sample.
    */
  def encodeFsst(values: Array[Array[Byte]]): Array[Byte] = {
    val table = FsstTrainer.train(values.filter(_ != null))
    encodeFsstWith(values, table)
  }

  def encodeFsstWith(values: Array[Array[Byte]], table: SymbolTable): Array[Byte] =
    encodeFsstWith(values, table, table.newEncoder())

  /** Overload reusing an already-built encoder (the selector's estimate
    * encoder — avoids building the ~190 KB lookup structures twice per
    * chunk).
    */
  def encodeFsstWith(values: Array[Array[Byte]], table: SymbolTable,
      enc: fsstspark.codec.fsst.FsstEncoder): Array[Byte] = {
    val tBytes = table.serialize()
    val orig = totalBytes(values)
    val out = freshA(orig.toInt / 2 + values.length + tBytes.length + 32)
    out.addByte(FSST)
    out.addVarInt(values.length)
    out.addVarInt(tBytes.length)
    out.addBytes(tBytes)
    out.addVarLong(orig)
    // encode every value into one scratch, recording lengths
    val lens = new Array[Int](values.length)
    val data = freshB(orig.toInt / 2 + 64)
    var i = 0
    while (i < values.length) {
      val v = values(i)
      if (v != null) {
        data.ensure(Fsst.maxEncodedSize(v.length))
        val n0 = data.length
        val n1 = enc.encode(v, 0, v.length, data.raw, n0)
        data.setLength(n1)
        lens(i) = n1 - n0
      }
      i += 1
    }
    i = 0
    while (i < values.length) {
      if (values(i) == null) out.addVarInt(0) else out.addVarInt(lens(i) + 1)
      i += 1
    }
    out.addBytes(data.raw, 0, data.length)
    out.result()
  }

  /** DICT payload: [nDict][dict entry lens+bytes][width u8][packed indices];
    * null = reserved index nDict.
    */
  def encodeDict(values: Array[Array[Byte]]): Array[Byte] = {
    val index = mutable.LinkedHashMap.empty[ByteKey, Int]
    val ids = new Array[Long](values.length)
    var i = 0
    while (i < values.length) {
      val v = values(i)
      if (v == null) ids(i) = -1
      else {
        val k = new ByteKey(v)
        ids(i) = index.getOrElseUpdate(k, index.size).toLong
      }
      i += 1
    }
    val nDict = index.size
    i = 0
    while (i < values.length) { if (ids(i) < 0) ids(i) = nDict; i += 1 }
    val out = freshA(64)
    out.addByte(DICT)
    out.addVarInt(values.length)
    out.addVarInt(nDict)
    index.keysIterator.foreach { k => out.addVarInt(k.bytes.length); out.addBytes(k.bytes) }
    val width = BitPacker.widthFor(nDict.toLong) // nDict = null sentinel must fit
    out.addByte(width)
    BitPacker.pack(ids, values.length, width, out)
    out.result()
  }

  /** RLE payload: runs of [runLen][varint(len+1)][bytes]. */
  def encodeRle(values: Array[Array[Byte]]): Array[Byte] = {
    val out = freshA(64)
    out.addByte(RLE)
    out.addVarInt(values.length)
    var i = 0
    while (i < values.length) {
      val v = values(i)
      var j = i + 1
      while (j < values.length && sameValue(values(j), v)) j += 1
      out.addVarInt(j - i)
      if (v == null) out.addVarInt(0)
      else { out.addVarInt(v.length + 1); out.addBytes(v) }
      i = j
    }
    out.result()
  }

  // ---------------------------------------------------------------- decode

  /** Decode-side row ceiling — mirrors
    * [[fsstspark.pipeline.EncodePipeline.MaxChunkRows]] (no cyclic dep on
    * the pipeline package): every encode path enforces this at write time,
    * so no legitimately written blob exceeds it.
    */
  final val MaxDecodedRows: Int = 1 << 26

  def decode(blob: Array[Byte]): Array[Array[Byte]] = decode(blob, null)

  /** The values at `rows` (strictly ascending row indices; null = every
    * row), in `rows` order: the FSST paper's random access. FSST decodes
    * only the selected values, each located from the length list; RAW
    * copies only their bytes; DICT and RLE index their decoded structure.
    * Every guard of the full decode still runs over the whole blob: each
    * length is checked against the blob end whether or not its value is
    * selected, and the FSST kernel's `dst` guard bounds each value.
    */
  def decode(blob: Array[Byte], rows: Array[Int]): Array[Array[Byte]] = {
    val r = new ByteReader(blob)
    val codec = r.readByte()
    val n = r.readVarInt()
    // corrupt-count guards, tightest-first: the hard write-time ceiling,
    // then codec-aware payload arithmetic BEFORE the O(n) allocations — a
    // flipped count byte must fail here, not allocate hundreds of MB of
    // array headers. RAW/FSST spend ≥1 blob byte per value (the per-value
    // length varint); RLE pre-scans its run list (each run ≥2 bytes,
    // bounded by the blob) and requires the run lengths to sum exactly to
    // n; DICT defers allocation until its packed-index section is
    // arithmetically validated below. The irreducible residue: an all-null
    // run-length blob legitimately packs millions of rows into a few
    // bytes, so a corrupt blob that mimics that exact header shape still
    // allocates what the legitimate chunk would have.
    require(n >= 0 && n <= MaxDecodedRows,
      s"corrupt bytes blob: value count $n implausible for ${blob.length}-byte blob")
    if (codec == RAW || codec == FSST) require(n <= blob.length,
      s"corrupt bytes blob: $n values need ≥$n length bytes, blob has ${blob.length}")
    if (codec == RLE) {
      val scan = new ByteReader(blob, r.pos)
      var total = 0L
      while (total < n) {
        val runLen = scan.readVarInt()
        require(runLen > 0 && runLen <= n - total,
          s"corrupt rle blob: run length $runLen at row $total/$n")
        val l = scan.readVarInt()
        if (l > 0) {
          require(l - 1 <= scan.remaining, s"corrupt rle blob: value of ${l - 1} bytes past blob end")
          scan.pos += l - 1
        }
        total += runLen
      }
    }
    if (codec == DICT) {
      // pre-scan the dict header so the packed-index section is
      // arithmetically consistent with n before any O(n) allocation
      val scan = new ByteReader(blob, r.pos)
      val nDict = scan.readVarInt()
      require(nDict >= 0 && nDict <= scan.remaining,
        s"corrupt dict blob: $nDict entries exceed ${scan.remaining} remaining bytes")
      var i = 0
      while (i < nDict) {
        val l = scan.readVarInt()
        require(l >= 0 && l <= scan.remaining, s"corrupt dict blob: entry $i of $l bytes past end")
        scan.pos += l
        i += 1
      }
      val width = scan.readByte()
      // the encoder's width is widthFor(nDict) ≥ 1 whenever the dict is
      // non-empty; width 0 with entries present is corruption, and width 0
      // with an empty dict is the all-null chunk (no payload to check)
      require(width > 0 || nDict == 0, s"corrupt dict blob: zero index width with $nDict entries")
      require(BitPacker.packedSize(n, width) <= scan.remaining,
        s"corrupt dict blob: $n×$width-bit indices exceed ${scan.remaining} remaining bytes")
    }
    if (rows != null) {
      var j = 0
      while (j < rows.length) {
        require(rows(j) >= 0 && rows(j) < n && (j == 0 || rows(j) > rows(j - 1)),
          s"row ${rows(j)} at position $j: rows must ascend strictly within the blob's $n values")
        j += 1
      }
    }
    // `j` counts the selected rows passed so far: row i is selected iff it
    // is rows(j), and every row is when rows == null (then j == i)
    val m = if (rows == null) n else rows.length
    @inline def selected(i: Int, j: Int): Boolean = rows == null || (j < m && rows(j) == i)
    val out = new Array[Array[Byte]](m)
    codec match {
      case RAW =>
        var i = 0
        var j = 0
        while (i < n) {
          val l = r.readVarInt()
          if (selected(i, j)) {
            if (l > 0) out(j) = r.readBytes(l - 1)
            j += 1
          } else if (l > 0) {
            require(l - 1 <= r.remaining, s"corrupt raw blob: value $i of ${l - 1} bytes past blob end")
            r.pos += l - 1
          }
          i += 1
        }
      case FSST =>
        val tLen = r.readVarInt()
        val table = SymbolTable.deserialize(r.readBytes(tLen))
        val orig = r.readVarLong()
        // hostile-blob guards: the decode kernel uses unchecked Platform
        // loads/stores, so the blob's self-declared sizes are validated
        // structurally BEFORE the kernel runs — a flipped bit raises here
        // (or in the kernel's own dst guard), never reads/writes out of
        // bounds. Max expansion is 8 output bytes per code byte.
        require(orig >= 0 && orig <= 8L * blob.length,
          s"corrupt fsst blob: declared size $orig out of range for ${blob.length}-byte blob")
        val lens = new Array[Int](n)
        var i = 0
        while (i < n) { lens(i) = r.readVarInt(); i += 1 }
        val dec = table.newDecoder()
        // decode the selected values into one buffer, then slice (one alloc
        // per value is unavoidable given the Array[Array[Byte]] contract).
        // Every row: the declared size. A subset: its worst case, 8 bytes
        // per code byte, capped by the declared size.
        val cap = if (rows == null) orig else {
          var codeBytes = 0L
          var j = 0
          while (j < m) { codeBytes += math.max(lens(rows(j)) - 1, 0); j += 1 }
          math.min(8L * codeBytes, orig)
        }
        val buf = new Array[Byte](cap.toInt + 8)
        var sp = r.pos
        i = 0
        var j = 0
        var dp = 0
        while (i < n) {
          val sel = selected(i, j)
          if (lens(i) > 0) {
            val encLen = lens(i) - 1
            require(encLen >= 0 && sp + encLen <= blob.length,
              s"corrupt fsst blob: value $i claims $encLen encoded bytes past blob end")
            if (sel) {
              val dEnd = dec.decode(blob, sp, encLen, buf, dp)
              out(j) = java.util.Arrays.copyOfRange(buf, dp, dEnd)
              dp = dEnd
            }
            sp += encLen
          }
          if (sel) j += 1
          i += 1
        }
        require(dp <= orig, s"corrupt fsst blob: decoded $dp bytes, declared $orig")
      case DICT =>
        val nDict = r.readVarInt()
        val dict = new Array[Array[Byte]](nDict)
        var i = 0
        while (i < nDict) { val l = r.readVarInt(); dict(i) = r.readBytes(l); i += 1 }
        val width = r.readByte()
        val ids = new Array[Long](n)
        BitPacker.unpack(blob, r.pos, n, width, ids)
        i = 0
        var j = 0
        while (i < n) {
          val id = ids(i).toInt
          // id == nDict is the null sentinel; anything beyond is corruption
          // and must fail loudly, not fabricate nulls
          require(id >= 0 && id <= nDict, s"corrupt dict blob: index $id of $nDict at row $i")
          if (selected(i, j)) {
            if (id < nDict) out(j) = dict(id)
            j += 1
          }
          i += 1
        }
      case RLE =>
        var i = 0
        var j = 0
        while (i < n) {
          val runLen = r.readVarInt()
          require(runLen > 0 && runLen <= n - i, s"corrupt rle blob: run length $runLen at row $i/$n")
          val l = r.readVarInt()
          val v = if (l > 0) r.readBytes(l - 1) else null
          i += runLen
          if (rows == null) while (j < i) { out(j) = v; j += 1 }
          else while (j < m && rows(j) < i) { out(j) = v; j += 1 }
        }
      case other => throw new IllegalArgumentException(s"unknown bytes codec id $other")
    }
    out
  }

  /** The value count a bytes blob declares in its header. */
  def valueCount(blob: Array[Byte]): Int = {
    val r = new ByteReader(blob)
    r.readByte()
    val n = r.readVarInt()
    require(n >= 0 && n <= MaxDecodedRows, s"corrupt bytes blob: value count $n")
    n
  }

  // ----------------------------------------------------- predicate pushdown

  /** Rows whose value equals `target` (non-null byte equality), answered
    * from codec STRUCTURE where the codec allows it:
    *
    *  - DICT — compare `target` against the (tiny) dictionary; absent →
    *    the whole chunk is skipped without touching the packed indices;
    *    present → one pass over the packed ids, zero value bytes
    *    materialized;
    *  - RLE — compare each RUN header's value once; a matching run yields
    *    all its row indices, so bytes compared ≈ the collapsed payload;
    *  - FSST — the greedy encoder is DETERMINISTIC per value given the
    *    table (each value's windows are measured from its own start), so
    *    equal values have byte-identical code streams: encode the target
    *    ONCE with the chunk's deserialized table and compare ENCODED
    *    bytes — no decode, and the per-value length prefix skips every
    *    value whose encoded length differs without touching its payload.
    *    (Codes are not substring-stable, so this covers whole-value
    *    equality only — never LIKE/contains.)
    *  - RAW — no structural shortcut, full decode + filter.
    *
    * Returns (matching row indices ascending, value-payload bytes read) —
    * the second component is the pushdown-efficiency metric a read path
    * surfaces (vs `bytes_in` for a full decode).
    */
  def selectEquals(blob: Array[Byte], target: Array[Byte]): (Array[Int], Long) = {
    require(target != null, "selectEquals target must be non-null")
    val r = new ByteReader(blob)
    val codec = r.readByte()
    val n = r.readVarInt()
    require(n >= 0 && n <= MaxDecodedRows,
      s"corrupt bytes blob: value count $n implausible for ${blob.length}-byte blob")
    // same payload-arithmetic guard as decode: RAW/FSST spend ≥1 blob byte
    // per value on the length varint, so a flipped count byte fails HERE
    // instead of driving the FSST arm's O(n) lens allocation (RAW also
    // re-checks inside the decode it delegates to)
    if (codec == RAW || codec == FSST) require(n <= blob.length,
      s"corrupt bytes blob: $n values need ≥$n length bytes, blob has ${blob.length}")
    codec match {
      case DICT =>
        val nDict = r.readVarInt()
        require(nDict >= 0 && nDict <= r.remaining, s"corrupt dict blob: $nDict entries")
        var tid = -1
        var bytesRead = 0L
        var i = 0
        while (i < nDict) {
          val len = r.readVarInt()
          require(len >= 0 && r.pos + len <= blob.length, s"corrupt dict blob: entry $i")
          bytesRead += len
          if (len == target.length && regionEquals(blob, r.pos, target)) tid = i
          r.pos += len
          i += 1
        }
        if (tid < 0) (Array.emptyIntArray, bytesRead) // chunk skipped structurally
        else {
          val width = r.readByte()
          require(width > 0 || nDict == 0, s"corrupt dict blob: zero width with $nDict entries")
          require(BitPacker.packedSize(n, width) <= r.remaining, "corrupt dict blob: packed ids")
          val ids = new Array[Long](n)
          BitPacker.unpack(blob, r.pos, n, width, ids)
          bytesRead += BitPacker.packedSize(n, width)
          val out = new java.util.ArrayList[Integer]()
          i = 0
          while (i < n) { if (ids(i) == tid) out.add(i); i += 1 }
          (toIntArray(out), bytesRead)
        }
      case RLE =>
        val out = new java.util.ArrayList[Integer]()
        var bytesRead = 0L
        var i = 0
        while (i < n) {
          val runLen = r.readVarInt()
          require(runLen > 0 && runLen <= n - i, s"corrupt rle blob: run length $runLen at row $i/$n")
          val l = r.readVarInt()
          if (l > 0) {
            val len = l - 1
            require(r.pos + len <= blob.length, s"corrupt rle blob: run value past end")
            bytesRead += len
            if (len == target.length && regionEquals(blob, r.pos, target)) {
              var k = 0
              while (k < runLen) { out.add(i + k); k += 1 }
            }
            r.pos += len
          }
          i += runLen
        }
        (toIntArray(out), bytesRead)
      case FSST =>
        val tLen = r.readVarInt()
        require(tLen >= 0 && tLen <= r.remaining, s"corrupt fsst blob: table length $tLen")
        val table = SymbolTable.deserialize(r.readBytes(tLen))
        val orig = r.readVarLong()
        require(orig >= 0 && orig <= 8L * blob.length,
          s"corrupt fsst blob: declared size $orig out of range for ${blob.length}-byte blob")
        val lens = new Array[Int](n)
        var i = 0
        while (i < n) { lens(i) = r.readVarInt(); i += 1 }
        val enc = table.newEncoder()
        val probe = new Array[Byte](Fsst.maxEncodedSize(target.length))
        val probeLen = enc.encode(target, 0, target.length, probe, 0)
        val out = new java.util.ArrayList[Integer]()
        var bytesRead = tLen.toLong // the table is the fixed probe cost
        var sp = r.pos
        i = 0
        while (i < n) {
          if (lens(i) > 0) {
            val encLen = lens(i) - 1
            require(encLen >= 0 && sp + encLen <= blob.length,
              s"corrupt fsst blob: value $i claims $encLen encoded bytes past blob end")
            if (encLen == probeLen) {
              bytesRead += encLen
              if (java.util.Arrays.equals(blob, sp, sp + encLen, probe, 0, probeLen))
                out.add(i)
            }
            sp += encLen
          }
          i += 1
        }
        (toIntArray(out), bytesRead)
      case _ =>
        // RAW: no structural shortcut — decode and filter
        val values = decode(blob)
        var bytesRead = 0L
        val out = new java.util.ArrayList[Integer]()
        var i = 0
        while (i < values.length) {
          val v = values(i)
          if (v != null) {
            bytesRead += v.length
            if (java.util.Arrays.equals(v, target)) out.add(i)
          }
          i += 1
        }
        (toIntArray(out), bytesRead)
    }
  }

  /** Multi-target [[selectEquals]] in ONE structural pass: rows whose
    * value equals SOME target, with the matching target's ordinal per
    * row. Same per-codec strategy, but the chunk is scanned once for the
    * whole IN-list instead of once per member — dict entries resolve to
    * a target ordinal during the single dictionary walk, RLE run headers
    * compare against all k targets per RUN, FSST deserializes the table
    * and scans the length prefixes once with all k probes pre-encoded,
    * RAW decodes once. Duplicate targets resolve to the first ordinal.
    *
    * Returns (matching row indices ascending, target ordinal per index,
    * value-payload bytes read).
    */
  def selectEqualsIn(blob: Array[Byte], targets: Array[Array[Byte]]): (Array[Int], Array[Int], Long) = {
    require(targets != null && targets.nonEmpty && targets.forall(_ != null),
      "selectEqualsIn targets must be non-null and non-empty")
    val r = new ByteReader(blob)
    val codec = r.readByte()
    val n = r.readVarInt()
    require(n >= 0 && n <= MaxDecodedRows,
      s"corrupt bytes blob: value count $n implausible for ${blob.length}-byte blob")
    if (codec == RAW || codec == FSST) require(n <= blob.length,
      s"corrupt bytes blob: $n values need ≥$n length bytes, blob has ${blob.length}")
    val k = targets.length
    @inline def ordOf(pos: Int, len: Int): Int = {
      var t = 0
      while (t < k) {
        if (targets(t).length == len && regionEquals(blob, pos, targets(t))) return t
        t += 1
      }
      -1
    }
    val idxOut = new java.util.ArrayList[Integer]()
    val ordOut = new java.util.ArrayList[Integer]()
    codec match {
      case DICT =>
        val nDict = r.readVarInt()
        require(nDict >= 0 && nDict <= r.remaining, s"corrupt dict blob: $nDict entries")
        val dictOrd = new Array[Int](nDict) // dict id -> target ordinal, -1 = no match
        var any = false
        var bytesRead = 0L
        var i = 0
        while (i < nDict) {
          val len = r.readVarInt()
          require(len >= 0 && r.pos + len <= blob.length, s"corrupt dict blob: entry $i")
          bytesRead += len
          dictOrd(i) = ordOf(r.pos, len)
          if (dictOrd(i) >= 0) any = true
          r.pos += len
          i += 1
        }
        if (!any) (Array.emptyIntArray, Array.emptyIntArray, bytesRead)
        else {
          val width = r.readByte()
          require(width > 0 || nDict == 0, s"corrupt dict blob: zero width with $nDict entries")
          require(BitPacker.packedSize(n, width) <= r.remaining, "corrupt dict blob: packed ids")
          val ids = new Array[Long](n)
          BitPacker.unpack(blob, r.pos, n, width, ids)
          bytesRead += BitPacker.packedSize(n, width)
          i = 0
          while (i < n) {
            val id = ids(i).toInt
            require(id >= 0 && id < nDict, s"corrupt dict blob: id $id at row $i")
            if (dictOrd(id) >= 0) { idxOut.add(i); ordOut.add(dictOrd(id)) }
            i += 1
          }
          (toIntArray(idxOut), toIntArray(ordOut), bytesRead)
        }
      case RLE =>
        var bytesRead = 0L
        var i = 0
        while (i < n) {
          val runLen = r.readVarInt()
          require(runLen > 0 && runLen <= n - i, s"corrupt rle blob: run length $runLen at row $i/$n")
          val l = r.readVarInt()
          if (l > 0) {
            val len = l - 1
            require(r.pos + len <= blob.length, s"corrupt rle blob: run value past end")
            bytesRead += len
            val ord = ordOf(r.pos, len)
            if (ord >= 0) {
              var j = 0
              while (j < runLen) { idxOut.add(i + j); ordOut.add(ord); j += 1 }
            }
            r.pos += len
          }
          i += runLen
        }
        (toIntArray(idxOut), toIntArray(ordOut), bytesRead)
      case FSST =>
        val tLen = r.readVarInt()
        require(tLen >= 0 && tLen <= r.remaining, s"corrupt fsst blob: table length $tLen")
        val table = SymbolTable.deserialize(r.readBytes(tLen))
        val orig = r.readVarLong()
        require(orig >= 0 && orig <= 8L * blob.length,
          s"corrupt fsst blob: declared size $orig out of range for ${blob.length}-byte blob")
        val lens = new Array[Int](n)
        var i = 0
        while (i < n) { lens(i) = r.readVarInt(); i += 1 }
        val enc = table.newEncoder()
        // every probe encoded once; compare encoded bytes per prefix match
        val probes = new Array[Array[Byte]](k)
        var t = 0
        while (t < k) {
          val buf = new Array[Byte](Fsst.maxEncodedSize(targets(t).length))
          val len = enc.encode(targets(t), 0, targets(t).length, buf, 0)
          probes(t) = java.util.Arrays.copyOf(buf, len)
          t += 1
        }
        var bytesRead = tLen.toLong
        var sp = r.pos
        i = 0
        while (i < n) {
          if (lens(i) > 0) {
            val encLen = lens(i) - 1
            require(encLen >= 0 && sp + encLen <= blob.length,
              s"corrupt fsst blob: value $i claims $encLen encoded bytes past blob end")
            var ord = -1
            t = 0
            while (ord < 0 && t < k) {
              if (probes(t).length == encLen) {
                bytesRead += encLen
                if (java.util.Arrays.equals(blob, sp, sp + encLen, probes(t), 0, encLen)) ord = t
              }
              t += 1
            }
            if (ord >= 0) { idxOut.add(i); ordOut.add(ord) }
            sp += encLen
          }
          i += 1
        }
        (toIntArray(idxOut), toIntArray(ordOut), bytesRead)
      case _ =>
        val values = decode(blob)
        var bytesRead = 0L
        var i = 0
        while (i < values.length) {
          val v = values(i)
          if (v != null) {
            bytesRead += v.length
            var ord = -1
            var t = 0
            while (ord < 0 && t < k) {
              if (java.util.Arrays.equals(v, targets(t))) ord = t
              t += 1
            }
            if (ord >= 0) { idxOut.add(i); ordOut.add(ord) }
          }
          i += 1
        }
        (toIntArray(idxOut), toIntArray(ordOut), bytesRead)
    }
  }

  @inline private def regionEquals(blob: Array[Byte], pos: Int, target: Array[Byte]): Boolean =
    java.util.Arrays.equals(blob, pos, pos + target.length, target, 0, target.length)

  private def toIntArray(l: java.util.ArrayList[Integer]): Array[Int] = {
    val out = new Array[Int](l.size())
    var i = 0
    while (i < out.length) { out(i) = l.get(i); i += 1 }
    out
  }

  // -------------------------------------------------------------- selector

  /** Chunk statistics for codec selection, one pass (SURVEY.md N5/N6). */
  final case class Stats(
      n: Int,
      nNulls: Int,
      totalBytes: Long,
      nRuns: Int,
      distinct: Int, // capped at DistinctCap
      distinctBytes: Long,
      distinctCapped: Boolean
  )

  final val DistinctCap = 4096
  /** Distinct-byte budget before the all-unique escape fires in [[stats]]. */
  final val DictProbeBytes = 4L << 20

  def stats(values: Array[Array[Byte]]): Stats = {
    // pass 1 (cheap): nulls, total bytes, run count
    var nulls = 0
    var total = 0L
    var runs = 0
    var i = 0
    while (i < values.length) {
      val v = values(i)
      if (v == null) nulls += 1 else total += v.length
      if (i == 0 || !sameValue(v, values(i - 1))) runs += 1
      i += 1
    }
    // pass 2: distinct tracking for dict sizing. Work is bounded two ways:
    //  * count cap — hashing stops the moment DistinctCap unique values
    //    have been seen (a high-cardinality chunk stops after ~4k values);
    //  * long-value escape — if no duplicate has appeared after
    //    DictProbeBytes of distinct bytes, a chunk-local dict cannot win
    //    (dict only beats raw/FSST through entry reuse), so hashing stops
    //    instead of paying a full-chunk hash on e.g. 16 MB of ~1 MB
    //    mostly-unique documents. "No duplicates" is measured in bytes
    //    (dict savings ≈ duplicated bytes), so a stray early repeat does
    //    not disarm the escape: hashing stops whenever distinct bytes
    //    exceed 4× the duplicate bytes observed so far AND the probe
    //    budget is spent. A genuinely low-cardinality chunk of long
    //    repeated values — where dict wins by a mile — accrues duplicate
    //    bytes every repeat and keeps its dict estimate.
    var dBytes = 0L
    var dupBytes = 0L
    val seen = mutable.HashSet.empty[ByteKey]
    var capped = false
    i = 0
    while (i < values.length && !capped) {
      val v = values(i)
      if (v != null) {
        val k = new ByteKey(v)
        if (seen.add(k)) {
          dBytes += v.length
          if (seen.size >= DistinctCap) capped = true
          else if (dBytes >= DictProbeBytes && dBytes > 4 * dupBytes) capped = true
        } else dupBytes += v.length
      }
      i += 1
    }
    Stats(values.length, nulls, total, runs, seen.size, dBytes, capped)
  }

  /** Estimated blob sizes for the structural codecs (no training needed). */
  def structuralEstimates(s: Stats): Map[Int, Long] = {
    val avgLen = s.totalBytes / math.max(s.n - s.nNulls, 1)
    val est = mutable.Map.empty[Int, Long]
    est(RAW) = s.totalBytes + 2L * s.n + 8
    est(RLE) = s.nRuns.toLong * (3 + avgLen) + 8
    if (!s.distinctCapped) {
      val width = BitPacker.widthFor(s.distinct.toLong)
      est(DICT) = s.distinctBytes + 2L * s.distinct + BitPacker.packedSize(s.n, width) + 16
    }
    est.toMap
  }

  final case class Encoded(codec: Int, blob: Array[Byte], bytesIn: Long)

  /** N6 cost-model auto-selection, deterministic; ties break toward the
    * smaller codec id. FSST is estimated by training one table on the
    * chunk's deterministic sample (the table is reused for the real encode
    * when FSST wins); training is skipped when a structural codec is
    * already beyond FSST's theoretical best (8:1) or values are tiny.
    */
  def encodeAuto(values: Array[Array[Byte]]): Encoded = {
    val s = stats(values)
    val est = mutable.Map.empty[Int, Long] ++ structuralEstimates(s)
    val bestStructural = est.values.min
    val avgLen = s.totalBytes.toDouble / math.max(s.n - s.nNulls, 1)
    var table: SymbolTable = null
    var tableEnc: fsstspark.codec.fsst.FsstEncoder = null
    if (avgLen >= 4 && bestStructural > s.totalBytes / 8) {
      val nonNull = if (s.nNulls == 0) values else values.filter(_ != null)
      table = FsstTrainer.train(nonNull)
      tableEnc = table.newEncoder()
      val sample = FsstTrainer.makeSample(nonNull)
      var sIn = 0L
      var sOut = 0L
      var estDst = new Array[Byte](2048)
      sample.foreach { v =>
        sIn += v.length
        val need = fsstspark.codec.fsst.Fsst.maxEncodedSize(v.length)
        if (estDst.length < need) estDst = new Array[Byte](need)
        sOut += tableEnc.encode(v, 0, v.length, estDst, 0)
      }
      val ratio = if (sIn == 0) 1.0 else sOut.toDouble / sIn
      est(FSST) = table.serialize().length.toLong + (ratio * s.totalBytes).toLong + s.n + 16
    }
    val chosen = est.toSeq.minBy { case (id, sz) => (sz, id) }._1
    val blob = chosen match {
      case RAW => encodeRaw(values)
      case FSST => encodeFsstWith(values, table, tableEnc)
      case DICT => encodeDict(values)
      case RLE => encodeRle(values)
    }
    // raw-store guarantee: never ship a blob bigger than raw framing
    val rawSize = s.totalBytes + 2L * s.n + 8
    if (chosen != RAW && blob.length > rawSize) Encoded(RAW, encodeRaw(values), s.totalBytes)
    else Encoded(chosen, blob, s.totalBytes)
  }

  // ---------------------------------------------------------------- helpers

  private def totalBytes(values: Array[Array[Byte]]): Long = {
    var t = 0L
    var i = 0
    while (i < values.length) { if (values(i) != null) t += values(i).length; i += 1 }
    t
  }

  @inline private def sameValue(a: Array[Byte], b: Array[Byte]): Boolean =
    (a eq b) || (a != null && b != null && java.util.Arrays.equals(a, b))

  /** Array[Byte] wrapper with value equality, for dict/distinct maps. */
  final class ByteKey(val bytes: Array[Byte]) {
    override val hashCode: Int = ByteKey.hash(bytes)
    override def equals(o: Any): Boolean = o match {
      case k: ByteKey => java.util.Arrays.equals(bytes, k.bytes)
      case _ => false
    }
  }

  object ByteKey {
    /** Eight bytes per step with a 64-bit multiply-xorshift mix, where
      * `Arrays.hashCode` takes one byte per step (the distinct probe of
      * [[stats]] hashes every value). Only hash-set speed depends on it:
      * `Arrays.equals` decides membership, and the dictionary keeps
      * insertion order, so the codec choice and the blob bytes do not.
      */
    def hash(b: Array[Byte]): Int = {
      var h = 0x9e3779b97f4a7c15L ^ b.length
      var i = 0
      while (i + 8 <= b.length) {
        h = (h ^ Bytes.getLongLE(b, i)) * 0xbf58476d1ce4e5b9L
        h ^= h >>> 31
        i += 8
      }
      if (i < b.length) {
        h = (h ^ Bytes.getPartialLE(b, i, b.length - i)) * 0xbf58476d1ce4e5b9L
        h ^= h >>> 31
      }
      h *= 0x94d049bb133111ebL
      (h ^ (h >>> 32)).toInt
    }
  }
}
