package fsstspark.pipeline

import fsstspark.codec.{BytesCodec, LongCodec}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** One keyed value of a column chunk: `key` identifies the row (url /
  * doc_id), `value` the column bytes. Null values round-trip.
  */
final case class KV(key: String, value: Array[Byte])

/** Long-typed variant for integer/timestamp columns. */
final case class LongKV(key: String, value: Long)

/** Output of one per-chunk encode task (SURVEY.md N8): the compressed
  * column chunk plus lineage + metrics. `value_blob` is a self-describing
  * [[BytesCodec]]/[[LongCodec]] blob (FSST blobs embed their trained symbol
  * table); `key_blob` stores the chunk's row keys in chunk order so decode
  * can re-emit keyed rows for the verification join (SURVEY.md N10).
  */
final case class ChunkResult(
    chunk_id: Long,
    column: String,
    codec: String,
    n_rows: Long,
    bytes_in: Long,
    bytes_out: Long,
    min_key: String,
    max_key: String,
    key_blob: Array[Byte],
    value_blob: Array[Byte],
    /** Zone map over the chunk's VALUES (Iceberg column-stats analogue,
      * propagated into the catalog manifest so value predicates prune
      * chunks at metadata level — [[fsstspark.io.TableIO.chunksForValueRange]]).
      * Long columns store plain min/max over non-null values; double
      * columns store min/max of [[fsstspark.util.SortableBits.fromDouble]]
      * (a monotone map, so range tests transfer exactly); byte/string
      * columns and all-null chunks store None (never prunable). Nullable
      * so chunks written before round 4 read back as None via the
      * explicit read schemas in TableIO/Checkpoint.
      */
    value_min: Option[Long] = None,
    value_max: Option[Long] = None
)

/** The per-column-chunk encode pipeline (SURVEY.md §7.2 step 2, N7/N8).
  *
  * Dataflow: assign a deterministic chunk id per row (a pure function of
  * the row KEY, never of partition index — reruns and resumes must
  * produce identical chunks, SURVEY.md §7.3) → shuffle rows to chunks
  * (`repartition` on chunk_id, the "salted repartition" that breaks value
  * skew: a hot key pattern spreads over `nChunks` reducers) → sort within
  * partitions so chunk content order is deterministic → one streaming
  * `mapPartitions` pass that trains + encodes each chunk entirely inside
  * its task (training never crosses an executor boundary, SURVEY.md §3.5).
  *
  * Scale notes: a chunk is the unit of compression and is buffered in one
  * task; callers size `nChunks` so bytes/chunk stays ~8–64 MB at target
  * scale. The sort is a standard external (spillable) sort; the shuffle is
  * the only one in the encode path.
  */
object EncodePipeline {

  /** Deterministic chunk id from the row key (cluster-order independent). */
  def chunkIdByHash(key: Column, nChunks: Int): Column =
    pmod(xxhash64(key), lit(nChunks.toLong))

  /** Per-row floor charged by the local chunk cutters alongside value
    * bytes. Every row costs key bytes, a key-blob entry, and buffered-row
    * overhead regardless of value size, so chunks of tiny/null/empty
    * values must still close at a bounded ROW count: without the floor an
    * all-null partition became ONE chunk of unbounded rows (unbounded task
    * memory for the keys, and a row count the decoders' corrupt-count
    * ceiling would reject as implausible). 32 B/row bounds a 16 MB chunk
    * at 512K rows; value-dominated chunks are unaffected (<6% size drift).
    */
  final val RowFloorBytes = 32L

  /** Hard per-chunk row ceiling, enforced at ENCODE time on every path —
    * matching the decoders' corrupt-count guard, so no legitimately
    * written blob can ever be rejected as implausible at read time. The
    * local cutters stay under it via [[RowFloorBytes]] (up to a 2 GB
    * target); the hash-partitioned paths depend on caller-sized `nChunks`,
    * so an undersized `nChunks` over a huge all-null/constant column fails
    * HERE with an actionable message instead of writing a chunk that (a)
    * already buffered 67M+ rows in one task and (b) could never decode.
    */
  final val MaxChunkRows: Int = 1 << 26

  @inline private def checkChunkRows(n: Int, cid: Long): Unit =
    require(n <= MaxChunkRows,
      s"chunk $cid holds $n rows > $MaxChunkRows — raise nChunks (hash mode) or lower targetChunkBytes")

  /** Encode a string/binary column given as keyed values. `chunkId` must be
    * a deterministic pure function of `key` (e.g. [[chunkIdByHash]], or
    * `pmod(col("key").cast("long"), n)` when keys are numeric and the
    * oracle needs a SQL-expressible chunking).
    *
    * Shuffle shape: rows go through the exchange AS ROWS — the map stage
    * is pure Tungsten (scan → UnsafeRow → shuffle write, zero JVM objects
    * per row), the reduce stage radix-sorts on the single long chunk_id
    * and streams one buffered chunk at a time into the encode kernel. A
    * map-side combiner packing each chunk's rows into byte blocks lost to
    * this shape at both measured scales (BASELINE.md round-4 shuffle A/B).
    */
  def encodeBytes(
      ds: Dataset[KV],
      column: String,
      chunkId: Column
  ): Dataset[ChunkResult] = {
    val spark = ds.sparkSession
    import spark.implicits._
    // Explicit partition count: without it AQE coalesces the exchange to
    // ~64MB partitions, capping the reduce stage (sort + train + encode —
    // the CPU-heavy part) at a handful of tasks regardless of cores.
    val parts = ds.sparkSession.sessionState.conf.numShufflePartitions
    // Sort on chunk_id alone (single-long radix sort) — deterministic
    // per-chunk order is restored by a cheap in-task sort of each chunk's
    // keys, instead of making Spark's external sorter compare string keys
    // for every row.
    ds.select(chunkId.cast("long").as("chunk_id"), col("key"), col("value"))
      .as[(Long, String, Array[Byte])]
      .repartition(parts, col("chunk_id"))
      .sortWithinPartitions("chunk_id")
      .mapPartitions { it =>
        groupByChunkRows(it).map { case (cid, keys, values) =>
          sortByKey(keys, values)
          mkResult(cid, column, keys, values)
        }
      }
  }

  /** THE run-grouping loop: streams rows sorted by chunk id into one
    * buffered chunk at a time — `keyOf` extracts the chunk id, `build`
    * folds the chunk's buffered rows into the emitted value. Single
    * implementation for every encode/decode grouping path (the rows are
    * already materialized by the upstream iterator, so buffering them
    * whole adds no allocation; one chunk resident at a time).
    */
  private def groupRuns[T, R](it: Iterator[T], keyOf: T => Long)(
      build: (Long, ArrayBuffer[T]) => R): Iterator[R] =
    new Iterator[R] {
      private val in = it.buffered
      def hasNext: Boolean = in.hasNext
      def next(): R = {
        val cid = keyOf(in.head)
        val buf = new ArrayBuffer[T]
        while (in.hasNext && keyOf(in.head) == cid) buf += in.next()
        build(cid, buf)
      }
    }

  private def groupByChunkRows(
      it: Iterator[(Long, String, Array[Byte])]
  ): Iterator[(Long, Array[String], Array[Array[Byte]])] =
    groupRuns(it, (r: (Long, String, Array[Byte])) => r._1) { (cid, buf) =>
      (cid, buf.map(_._2).toArray, buf.map(_._3).toArray)
    }

  /** In-place co-sort of a chunk's keys and values by (key, value bytes) —
    * the value tie-break makes chunk content order (and therefore blob
    * bytes and content-derived chunk ids) deterministic even when callers
    * feed duplicate keys, independent of shuffle arrival order.
    */
  private def sortByKey(keys: Array[String], values: Array[Array[Byte]]): Unit = {
    val idx = new Array[Integer](keys.length)
    var i = 0
    while (i < idx.length) { idx(i) = i; i += 1 }
    java.util.Arrays.sort(idx, (a: Integer, b: Integer) => {
      val c = fsstspark.util.Keys.compareUtf8(keys(a), keys(b))
      if (c != 0) c else compareBytes(values(a), values(b))
    })
    permute(idx, keys, values)
  }

  private def sortLongsByKey(keys: Array[String], values: Array[Long]): Unit = {
    val idx = new Array[Integer](keys.length)
    var i = 0
    while (i < idx.length) { idx(i) = i; i += 1 }
    java.util.Arrays.sort(idx, (a: Integer, b: Integer) => {
      val c = fsstspark.util.Keys.compareUtf8(keys(a), keys(b))
      if (c != 0) c else java.lang.Long.compare(values(a), values(b))
    })
    val k2 = keys.clone()
    val v2 = values.clone()
    i = 0
    while (i < idx.length) { keys(i) = k2(idx(i)); values(i) = v2(idx(i)); i += 1 }
  }

  @inline private def compareBytes(a: Array[Byte], b: Array[Byte]): Int =
    if (a eq b) 0
    else if (a == null) -1
    else if (b == null) 1
    else java.util.Arrays.compare(a, b)

  private def permute[V](idx: Array[Integer], keys: Array[String], values: Array[V]): Unit = {
    val k2 = keys.clone()
    val v2 = values.clone()
    var i = 0
    while (i < idx.length) { keys(i) = k2(idx(i)); values(i) = v2(idx(i)); i += 1 }
  }

  /** Zero-shuffle encode: chunks are consecutive runs of rows within each
    * input partition, cut at `targetChunkBytes` — the shape of an Iceberg
    * data-file rewrite (each task recompresses its own file/partition
    * range; nothing crosses the wire). This is the 100 TB path: the only
    * data movement is the scan itself. Chunk ids are content hashes
    * (first/last key + count), so a rerun over the same input produces
    * identical ids and [[Checkpoint]] resume can skip completed chunks.
    *
    * Use [[encodeBytes]] (hash-partitioned) when chunk membership must be
    * a pure function of the key regardless of input layout; use this when
    * input layout IS the lineage (file/partition ranges), which is how a
    * real table-rewrite job runs.
    */
  def encodeBytesLocal(
      ds: Dataset[KV],
      column: String,
      targetChunkBytes: Long = 16L << 20,
      completed: Array[Long] = Array.emptyLongArray
  ): Dataset[ChunkResult] = {
    val spark = ds.sparkSession
    import spark.implicits._
    // Completed ids travel as a broadcast sorted primitive array (8 B/id,
    // shared per executor) — NOT inside the task closure, where ~6M ids at
    // 100 TB / 16 MB chunks would serialize a multi-hundred-MB boxed set
    // into every task.
    val sorted = completed.clone()
    java.util.Arrays.sort(sorted)
    val done = spark.sparkContext.broadcast(sorted)
    ds.mapPartitions { it =>
      val doneIds = done.value
      localChunks(it, targetChunkBytes).flatMap { case (keys, values) =>
        val cid = localChunkId(keys)
        if (java.util.Arrays.binarySearch(doneIds, cid) >= 0) None
        else Some(mkResult(cid, column, keys, values))
      }
    }
  }

  /** Deterministic content-derived chunk id: an FNV-1a fold of EVERY key
    * in the chunk (plus the row count), so two distinct chunks that happen
    * to share first/last key cannot collide and be silently skipped by
    * checkpoint resume.
    */
  def localChunkId(keys: Array[String]): Long = {
    var h = 1469598103934665603L
    var k = 0
    while (k < keys.length) {
      val s = keys(k)
      var i = 0
      while (i < s.length) { h = (h ^ s.charAt(i)) * 1099511628211L; i += 1 }
      h = (h ^ 0xff) * 1099511628211L
      k += 1
    }
    h ^ keys.length
  }

  /** Per-chunk encode entry for EXTERNAL writers (the DSv2 write path):
    * one call emits a chunk's N per-column [[ChunkResult]]s using exactly
    * the codecs, content-derived ids, row caps, and zone-map rules of
    * [[encodeColumnsLocal]] — the write surface stays single-sourced.
    * Row order is preserved as given (all columns share it; the key
    * min/max range is computed, not assumed sorted). For column `ci`:
    * byte columns read `byteVals(ci)`, long/double columns read
    * `longVals(ci)`/`longNulls(ci)` (doubles as raw IEEE-754 bits).
    *
    * `idSalt` (nonzero) folds a writer-position discriminator into the
    * chunk id. The catalog requires (chunk_id, column) uniqueness WITHIN
    * a batch, and a table may legitimately hold the same rows twice
    * (duplicate inserts; a row-level rewrite of duplicate instances), so
    * a purely content-derived id would collide inside one batch and
    * abort the commit. The DSv2 writer doesn't need content-stable ids —
    * its retry idempotence comes from the manifest-named-files orphan
    * sweep at commit, not from id equality — so it salts with
    * (partitionId, chunk sequence). The pipeline paths (checkpoint
    * resume relies on content ids) pass 0 and keep the pure derivation.
    */
  private[fsstspark] def encodeChunkFromArrays(
      keys: Array[String],
      names: Array[String], isLong: Array[Boolean], isDouble: Array[Boolean],
      byteVals: Array[Array[Array[Byte]]],
      longVals: Array[Array[Long]], longNulls: Array[Array[Boolean]],
      idSalt: Long = 0L): Iterator[ChunkResult] = {
    require(keys.nonEmpty, "empty chunk")
    val cid = {
      val h = localChunkId(keys)
      if (idSalt == 0L) h else (h ^ idSalt) * 1099511628211L
    }
    val keyBlob = BytesCodec.encodeAuto(keys.map(_.getBytes("UTF-8"))).blob
    var mn = keys(0)
    var mx = keys(0)
    var i = 1
    while (i < keys.length) {
      if (fsstspark.util.Keys.lessUtf8(keys(i), mn)) mn = keys(i)
      if (fsstspark.util.Keys.lessUtf8(mx, keys(i))) mx = keys(i)
      i += 1
    }
    names.indices.iterator.map { ci =>
      if (isLong(ci))
        mkLongsResult(cid, names(ci), keys.length, mn, mx, keyBlob,
          longVals(ci), longNulls(ci), isDouble(ci))
      else
        mkBytesResult(cid, names(ci), keys.length, mn, mx, keyBlob, byteVals(ci))
    }
  }

  private def mkResult(cid: Long, column: String, keys: Array[String],
      values: Array[Array[Byte]]): ChunkResult = {
    val keyBlob = BytesCodec.encodeAuto(keys.map(_.getBytes("UTF-8"))).blob
    var mn = keys(0)
    var mx = keys(0)
    var i = 1
    while (i < keys.length) {
      if (fsstspark.util.Keys.lessUtf8(keys(i), mn)) mn = keys(i)
      if (fsstspark.util.Keys.lessUtf8(mx, keys(i))) mx = keys(i)
      i += 1
    }
    mkBytesResult(cid, column, keys.length, mn, mx, keyBlob, values)
  }

  private def mkBytesResult(cid: Long, column: String, n: Int, mn: String,
      mx: String, keyBlob: Array[Byte], values: Array[Array[Byte]]): ChunkResult = {
    checkChunkRows(n, cid)
    val enc = BytesCodec.encodeAuto(values)
    ChunkResult(cid, column, BytesCodec.names(enc.codec), n,
      enc.bytesIn, enc.blob.length, mn, mx, keyBlob, enc.blob)
  }

  /** Marks a chunk whose long values are raw IEEE-754 double bits. The
    * catalog row's codec name carries it (`xor_f64` vs `xor`) so
    * maintenance jobs (compaction) can re-derive the value KIND from the
    * catalog alone — zone-map space depends on it, and trusting every
    * call site to remember a flag is how stats silently end up in the
    * wrong order. The blob itself is unchanged (decode reads the blob's
    * own codec byte, never the name).
    */
  final val DoubleCodecSuffix = "_f64"

  private def mkLongsResult(cid: Long, column: String, n: Int, mn: String,
      mx: String, keyBlob: Array[Byte], values: Array[Long],
      nulls: Array[Boolean], doubleBits: Boolean = false): ChunkResult = {
    checkChunkRows(n, cid)
    val enc = LongCodec.encodeAuto(LongCodec.LongColumn(values, nulls))
    val (vMin, vMax) = valueStats(values, nulls, doubleBits)
    val name = LongCodec.names(enc.codec) + (if (doubleBits) DoubleCodecSuffix else "")
    ChunkResult(cid, column, name, n,
      enc.bytesIn, enc.blob.length, mn, mx, keyBlob, enc.blob, vMin, vMax)
  }

  /** Zone-map min/max over a long chunk's non-null values. `doubleBits`
    * values (raw IEEE-754 bits from a double column) pass through the
    * [[fsstspark.util.SortableBits]] monotone map first so the stored
    * bounds compare correctly as signed longs. All-null → (None, None).
    */
  private def valueStats(values: Array[Long], nulls: Array[Boolean],
      doubleBits: Boolean): (Option[Long], Option[Long]) = {
    var mn = Long.MaxValue
    var mx = Long.MinValue
    var any = false
    var i = 0
    while (i < values.length) {
      if (!nulls(i)) {
        val v =
          if (doubleBits) fsstspark.util.SortableBits.fromDoubleBits(values(i))
          else values(i)
        if (v < mn) mn = v
        if (v > mx) mx = v
        any = true
      }
      i += 1
    }
    if (any) (Some(mn), Some(mx)) else (None, None)
  }

  /** Cuts a partition's row stream into consecutive chunks of
    * ~targetChunkBytes (never empty; a single giant value forms its own
    * chunk — skew becomes task-internal, not task-killing).
    */
  private def localChunks(
      it: Iterator[KV], targetChunkBytes: Long
  ): Iterator[(Array[String], Array[Array[Byte]])] =
    new Iterator[(Array[String], Array[Array[Byte]])] {
      private val in = it
      def hasNext: Boolean = in.hasNext
      def next(): (Array[String], Array[Array[Byte]]) = {
        val keys = new ArrayBuffer[String]
        val values = new ArrayBuffer[Array[Byte]]
        var bytes = 0L
        while (in.hasNext && bytes < targetChunkBytes) {
          val kv = in.next()
          keys += kv.key
          values += kv.value
          bytes += RowFloorBytes + (if (kv.value == null) 0 else kv.value.length)
        }
        (keys.toArray, values.toArray)
      }
    }

  /** Encode an integer-like column (ids, epoch micros) — same
    * row-through-the-exchange shuffle shape as [[encodeBytes]].
    */
  def encodeLongs(
      ds: Dataset[LongKV],
      column: String,
      chunkId: Column
  ): Dataset[ChunkResult] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val parts = ds.sparkSession.sessionState.conf.numShufflePartitions
    ds.select(chunkId.cast("long").as("chunk_id"), col("key"), col("value"))
      .as[(Long, String, Long)]
      .repartition(parts, col("chunk_id"))
      .sortWithinPartitions("chunk_id")
      .mapPartitions { it =>
        groupLongsByChunk(it).map { case (cid, keys, values) =>
          sortLongsByKey(keys, values)
          val keyBlob = BytesCodec.encodeAuto(keys.map(_.getBytes("UTF-8")))
          mkLongsResult(cid, column, values.length, keys.head, keys.last,
            keyBlob.blob, values, new Array[Boolean](values.length))
        }
      }
  }

  private def groupLongsByChunk(
      it: Iterator[(Long, String, Long)]
  ): Iterator[(Long, Array[String], Array[Long])] =
    groupRuns(it, (r: (Long, String, Long)) => r._1) { (cid, buf) =>
      (cid, buf.map(_._2).toArray, buf.map(_._3).toArray)
    }

  /** One column of a multi-column encode pass: `value` must evaluate to
    * BinaryType by default, an integral/long type when `isLong`, or a
    * double when `isDouble` (doubles travel as raw IEEE-754 bits through
    * [[fsstspark.codec.LongCodec]] — the XOR codec exploits shared
    * sign/exponent bits; NaN payloads and ±0.0 round-trip exactly).
    */
  final case class ColSpec(name: String, value: Column, isLong: Boolean = false,
      isDouble: Boolean = false) {
    require(!(isLong && isDouble), s"column $name: isLong and isDouble are exclusive")
  }

  /** Single-pass multi-column encode (the shape a real table rewrite
    * needs): ONE scan of the source and ONE shuffle on chunk_id carry all
    * columns together; each chunk task sorts its rows once by key and
    * encodes every column through its auto-selector, emitting one
    * [[ChunkResult]] per (chunk, column). Compare N independent
    * [[encodeBytes]] calls, which re-scan and re-shuffle the table once
    * per column — N× the I/O for identical output.
    *
    * Keys must be non-null and unique per row (they are row identity for
    * the verify join); chunk content order is the key sort, so results
    * are deterministic regardless of shuffle arrival order.
    */
  def encodeColumns(
      df: DataFrame,
      key: Column,
      chunkId: Column,
      specs: Seq[ColSpec]
  ): Dataset[ChunkResult] = {
    val spark = df.sparkSession
    import spark.implicits._
    val parts = spark.sessionState.conf.numShufflePartitions
    val sel = Seq(chunkId.cast("long").as("chunk_id"), key.cast("string").as("key")) ++
      specs.zipWithIndex.map { case (sp, i) =>
        (if (sp.isLong) sp.value.cast("long")
         else if (sp.isDouble) sp.value.cast("double")
         else sp.value).as(s"c$i")
      }
    val names = specs.map(_.name).toArray
    val isLong = specs.map(sp => sp.isLong || sp.isDouble).toArray
    val isDouble = specs.map(_.isDouble).toArray
    df.select(sel: _*)
      .repartition(parts, col("chunk_id"))
      .sortWithinPartitions("chunk_id")
      .mapPartitions { rows =>
        groupRowsByChunk(rows).flatMap { case (cid, chunk) =>
          java.util.Arrays.sort(chunk, (a: org.apache.spark.sql.Row, b: org.apache.spark.sql.Row) =>
            fsstspark.util.Keys.compareUtf8(a.getString(1), b.getString(1)))
          val n = chunk.length
          val keys = new Array[String](n)
          var i = 0
          while (i < n) { keys(i) = chunk(i).getString(1); i += 1 }
          val keyBlob = BytesCodec.encodeAuto(keys.map(_.getBytes("UTF-8"))).blob
          val mn = keys(0)
          val mx = keys(n - 1)
          names.indices.iterator.map { ci =>
            val fi = 2 + ci
            if (isLong(ci)) {
              val values = new Array[Long](n)
              val nulls = new Array[Boolean](n)
              val dbl = isDouble(ci)
              var j = 0
              while (j < n) {
                if (chunk(j).isNullAt(fi)) nulls(j) = true
                else values(j) =
                  if (dbl) java.lang.Double.doubleToRawLongBits(chunk(j).getDouble(fi))
                  else chunk(j).getLong(fi)
                j += 1
              }
              mkLongsResult(cid, names(ci), n, mn, mx, keyBlob, values, nulls, dbl)
            } else {
              val values = new Array[Array[Byte]](n)
              var j = 0
              while (j < n) {
                if (!chunk(j).isNullAt(fi)) values(j) = chunk(j).getAs[Array[Byte]](fi)
                j += 1
              }
              mkBytesResult(cid, names(ci), n, mn, mx, keyBlob, values)
            }
          }
        }
      }
  }

  /** Streams rows sorted by chunk_id (field 0) into one buffered chunk at
    * a time.
    */
  private def groupRowsByChunk(
      it: Iterator[org.apache.spark.sql.Row]
  ): Iterator[(Long, Array[org.apache.spark.sql.Row])] =
    groupRuns(it, (r: org.apache.spark.sql.Row) => r.getLong(0)) { (cid, buf) =>
      (cid, buf.toArray)
    }


  /** Zero-shuffle multi-column encode: the Iceberg data-file REWRITE shape
    * for a whole table. Each task cuts its own partition's row stream into
    * consecutive chunks of ~`targetChunkBytes` (bytes summed across ALL
    * encoded columns; never empty, so one giant row forms its own chunk)
    * and emits one [[ChunkResult]] per (chunk, column) with a
    * content-derived chunk id — the only data movement in the whole job is
    * the scan itself. Compare [[encodeColumns]], which buys globally
    * key-deterministic chunk membership at the cost of one shuffle: at
    * 10^12 rows the rewrite job wants THIS shape, because input layout
    * (file/partition ranges) IS the lineage. `completed` chunk ids (from
    * [[Checkpoint]]) are skipped before any encode work, broadcast as a
    * sorted primitive array exactly like [[encodeBytesLocal]].
    */
  def encodeColumnsLocal(
      df: DataFrame,
      key: Column,
      specs: Seq[ColSpec],
      targetChunkBytes: Long = 16L << 20,
      completed: Array[Long] = Array.emptyLongArray
  ): Dataset[ChunkResult] = {
    val spark = df.sparkSession
    import spark.implicits._
    val sel = Seq(key.cast("string").as("key")) ++
      specs.zipWithIndex.map { case (sp, i) =>
        (if (sp.isLong) sp.value.cast("long")
         else if (sp.isDouble) sp.value.cast("double")
         else sp.value).as(s"c$i")
      }
    val names = specs.map(_.name).toArray
    val isLong = specs.map(sp => sp.isLong || sp.isDouble).toArray
    val isDouble = specs.map(_.isDouble).toArray
    val sorted = completed.clone()
    java.util.Arrays.sort(sorted)
    val done = spark.sparkContext.broadcast(sorted)
    df.select(sel: _*).mapPartitions { rows =>
      val doneIds = done.value
      localRowChunks(rows, names.length, isLong, targetChunkBytes).flatMap { chunk =>
        val n = chunk.length
        val keys = new Array[String](n)
        var i = 0
        while (i < n) { keys(i) = chunk(i).getString(0); i += 1 }
        val cid = localChunkId(keys)
        if (java.util.Arrays.binarySearch(doneIds, cid) >= 0) Iterator.empty
        else {
          val keyBlob = BytesCodec.encodeAuto(keys.map(_.getBytes("UTF-8"))).blob
          var mn = keys(0)
          var mx = keys(0)
          i = 1
          while (i < n) {
            if (fsstspark.util.Keys.lessUtf8(keys(i), mn)) mn = keys(i)
            if (fsstspark.util.Keys.lessUtf8(mx, keys(i))) mx = keys(i)
            i += 1
          }
          names.indices.iterator.map { ci =>
            val fi = 1 + ci
            if (isLong(ci)) {
              val values = new Array[Long](n)
              val nulls = new Array[Boolean](n)
              val dbl = isDouble(ci)
              var j = 0
              while (j < n) {
                if (chunk(j).isNullAt(fi)) nulls(j) = true
                else values(j) =
                  if (dbl) java.lang.Double.doubleToRawLongBits(chunk(j).getDouble(fi))
                  else chunk(j).getLong(fi)
                j += 1
              }
              mkLongsResult(cid, names(ci), n, mn, mx, keyBlob, values, nulls, dbl)
            } else {
              val values = new Array[Array[Byte]](n)
              var j = 0
              while (j < n) {
                if (!chunk(j).isNullAt(fi)) values(j) = chunk(j).getAs[Array[Byte]](fi)
                j += 1
              }
              mkBytesResult(cid, names(ci), n, mn, mx, keyBlob, values)
            }
          }
        }
      }
    }
  }

  /** Cuts a row stream into consecutive chunks of ~targetChunkBytes,
    * counting every encoded column's bytes (8 B per long/double, value
    * length per binary).
    */
  private def localRowChunks(
      it: Iterator[org.apache.spark.sql.Row],
      nCols: Int,
      isLong: Array[Boolean],
      targetChunkBytes: Long
  ): Iterator[Array[org.apache.spark.sql.Row]] =
    new Iterator[Array[org.apache.spark.sql.Row]] {
      private val in = it
      def hasNext: Boolean = in.hasNext
      def next(): Array[org.apache.spark.sql.Row] = {
        val rows = new ArrayBuffer[org.apache.spark.sql.Row]
        var bytes = 0L
        while (in.hasNext && bytes < targetChunkBytes) {
          val r = in.next()
          rows += r
          bytes += RowFloorBytes
          var ci = 0
          while (ci < nCols) {
            val fi = 1 + ci
            if (!r.isNullAt(fi))
              bytes += (if (isLong(ci)) 8L else r.getAs[Array[Byte]](fi).length.toLong)
            ci += 1
          }
        }
        rows.toArray
      }
    }

  /** One column of a multi-column decode pass: the stored type to surface
    * (`isDouble` restores raw IEEE-754 bits written by a
    * `ColSpec(isDouble = true)` encode).
    */
  final case class ReadSpec(name: String, isLong: Boolean = false, isDouble: Boolean = false) {
    require(!(isLong && isDouble), s"column $name: isLong and isDouble are exclusive")
  }

  /** Chunk-aligned multi-column read-back — the read half of
    * [[encodeColumns]]/[[encodeColumnsLocal]]: a chunk's N per-column
    * [[ChunkResult]]s group inside ONE task (`groupByKey(chunk_id)` — the
    * only exchange, and it moves COMPRESSED blobs), each column decodes
    * once, and the shared key order (chunk content order is the key sort,
    * identical across a chunk's columns by construction — enforced here by
    * key-blob byte identity) zips the columns back into full rows with
    * ZERO joins. The alternative — per-column [[decodeBytes]]/
    * [[decodeLongs]] plus N−1 equi-joins on key — shuffles N copies of the
    * DECODED rows; at a 100 TB table rewrite that is N× the exchange
    * volume for identical output.
    *
    * Output schema: `key` string plus one column per spec
    * (binary / long / double, null-preserving).
    */
  def decodeColumns(results: Dataset[ChunkResult], specs: Seq[ReadSpec]): DataFrame = {
    val spark = results.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types._
    val names = specs.map(_.name).toArray
    val isLong = specs.map(sp => sp.isLong || sp.isDouble).toArray
    val isDouble = specs.map(_.isDouble).toArray
    val nCols = names.length
    val schema = StructType(StructField("key", StringType, nullable = false) +:
      specs.map(sp => StructField(sp.name,
        if (sp.isDouble) DoubleType else if (sp.isLong) LongType else BinaryType)))
    val rowEnc = org.apache.spark.sql.Encoders.row(schema)
    results.filter(col("column").isin(names.toSeq: _*))
      .groupByKey(_.chunk_id)
      .flatMapGroups { (cid: Long, it: Iterator[ChunkResult]) =>
        val byCol = new java.util.HashMap[String, ChunkResult]()
        it.foreach { r =>
          require(byCol.put(r.column, r) == null, s"chunk $cid: duplicate column ${r.column}")
        }
        require(byCol.size == nCols,
          s"chunk $cid: expected columns [${names.mkString(",")}], found ${byCol.keySet}")
        val first = byCol.get(names(0))
        val keyBytes = BytesCodec.decode(first.key_blob)
        val n = keyBytes.length
        val keys = new Array[String](n)
        var i = 0
        while (i < n) { keys(i) = new String(keyBytes(i), "UTF-8"); i += 1 }
        val byteVals = new Array[Array[Array[Byte]]](nCols)
        val longVals = new Array[fsstspark.codec.LongCodec.LongColumn](nCols)
        var ci = 0
        while (ci < nCols) {
          val r = byCol.get(names(ci))
          // key-blob byte identity = the zip below is sound (same rows,
          // same order); a result set mixing chunkings/generations fails
          // loudly instead of mis-zipping columns
          require(java.util.Arrays.equals(r.key_blob, first.key_blob),
            s"chunk $cid: column ${names(ci)} has a different key blob than ${names(0)}")
          if (isLong(ci)) {
            val c = fsstspark.codec.LongCodec.decode(r.value_blob)
            require(c.n == n, s"chunk $cid: column ${names(ci)} has ${c.n} rows, keys have $n")
            longVals(ci) = c
          } else {
            val v = BytesCodec.decode(r.value_blob)
            require(v.length == n, s"chunk $cid: column ${names(ci)} has ${v.length} rows, keys have $n")
            byteVals(ci) = v
          }
          ci += 1
        }
        Iterator.tabulate(n) { ri =>
          val arr = new Array[Any](1 + nCols)
          arr(0) = keys(ri)
          var c = 0
          while (c < nCols) {
            arr(1 + c) =
              if (isLong(c)) {
                val lc = longVals(c)
                if (lc.nulls(ri)) null
                else if (isDouble(c)) java.lang.Double.longBitsToDouble(lc.values(ri))
                else lc.values(ri)
              } else byteVals(c)(ri)
            c += 1
          }
          org.apache.spark.sql.Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(arr))
        }
      }(rowEnc)
      .toDF()
  }

  /** Inverse of [[encodeBytes]]: keyed rows back out of the chunk blobs. */
  def decodeBytes(results: Dataset[ChunkResult]): Dataset[KV] = {
    val spark = results.sparkSession
    import spark.implicits._
    results.flatMap { r =>
      val keys = BytesCodec.decode(r.key_blob)
      val values = BytesCodec.decode(r.value_blob)
      require(keys.length == values.length, s"chunk ${r.chunk_id}: key/value count mismatch")
      Iterator.tabulate(keys.length)(i => KV(new String(keys(i), "UTF-8"), values(i)))
    }
  }

  /** Inverse of [[encodeLongs]]. */
  def decodeLongs(results: Dataset[ChunkResult]): Dataset[LongKV] = {
    val spark = results.sparkSession
    import spark.implicits._
    results.flatMap { r =>
      val keys = BytesCodec.decode(r.key_blob)
      val col = LongCodec.decode(r.value_blob)
      Iterator.tabulate(keys.length)(i => LongKV(new String(keys(i), "UTF-8"), col.values(i)))
    }
  }

  /** Null-preserving variant of [[decodeLongs]] for nullable long columns
    * (the codec blob carries a null bitmap; this surfaces it as `None`).
    */
  def decodeLongsNullable(results: Dataset[ChunkResult]): Dataset[(String, Option[Long])] = {
    val spark = results.sparkSession
    import spark.implicits._
    results.flatMap { r =>
      val keys = BytesCodec.decode(r.key_blob)
      val col = LongCodec.decode(r.value_blob)
      Iterator.tabulate(keys.length) { i =>
        (new String(keys(i), "UTF-8"),
          if (col.nulls(i)) None else Some(col.values(i)))
      }
    }
  }

  /** Inverse of a `ColSpec(isDouble = true)` column: raw bits back to
    * doubles, nulls preserved.
    */
  def decodeDoubles(results: Dataset[ChunkResult]): Dataset[(String, Option[Double])] = {
    val spark = results.sparkSession
    import spark.implicits._
    results.flatMap { r =>
      val keys = BytesCodec.decode(r.key_blob)
      val col = LongCodec.decode(r.value_blob)
      Iterator.tabulate(keys.length) { i =>
        (new String(keys(i), "UTF-8"),
          if (col.nulls(i)) None
          else Some(java.lang.Double.longBitsToDouble(col.values(i))))
      }
    }
  }

  /** Equality-predicate pushdown read: each chunk answers
    * `value == target` from its codec structure
    * ([[BytesCodec.selectEquals]] — dict membership / run headers; a
    * dict chunk not containing the target is skipped without touching its
    * packed indices), and only the MATCHED rows' keys surface. One row per
    * chunk: `(chunk_id, codec, n_rows, bytes_in, value_bytes_read,
    * matched_keys)` — `value_bytes_read` vs `bytes_in` is the pushdown
    * efficiency a caller can assert on (a selective predicate over
    * dict/RLE chunks touches a vanishing fraction of the value payload).
    */
  def filterEquals(results: Dataset[ChunkResult], target: Array[Byte]): DataFrame = {
    val spark = results.sparkSession
    import spark.implicits._
    results.map { r =>
      val (idx, bytesRead) = BytesCodec.selectEquals(r.value_blob, target)
      val matched =
        if (idx.isEmpty) Array.empty[String]
        else {
          val keys = BytesCodec.decode(r.key_blob)
          idx.map(i => new String(keys(i), "UTF-8"))
        }
      (r.chunk_id, r.codec, r.n_rows, r.bytes_in, bytesRead, matched)
    }.toDF("chunk_id", "codec", "n_rows", "bytes_in", "value_bytes_read", "matched_keys")
  }

  /** N10 join-and-compare: decoded vs original, per-key bit-identity.
    * Returns one row per key with a `matched` flag; callers assert
    * `filter(!matched)` is empty or aggregate a mismatch count.
    */
  def verify(original: Dataset[KV], decoded: Dataset[KV]): DataFrame = {
    val o = original.toDF("key", "original")
    val d = decoded.toDF("key", "decoded")
    o.join(d, Seq("key"), "full_outer")
      .select(col("key"),
        (col("original").isNotNull && col("decoded").isNotNull &&
          col("original") === col("decoded")).as("matched"))
  }

  /** [[verify]] for long-typed columns — the same distributed full-outer
    * join-compare; no driver-side collection at any scale.
    */
  def verifyLongs(original: Dataset[LongKV], decoded: Dataset[LongKV]): DataFrame = {
    val o = original.toDF("key", "original")
    val d = decoded.toDF("key", "decoded")
    o.join(d, Seq("key"), "full_outer")
      .select(col("key"),
        (col("original").isNotNull && col("decoded").isNotNull &&
          col("original") === col("decoded")).as("matched"))
  }

}
