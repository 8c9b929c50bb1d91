package fsstspark.sources

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import fsstspark.io.ParquetTableIO
import fsstspark.pipeline.{ChunkResult, EncodePipeline}

/** DSv2 WRITE path: `INSERT INTO fsst_cat.<table> …` /
  * `df.writeTo(…).append()` land in the chunk catalog through the same
  * local-encode shape as [[EncodePipeline.encodeColumnsLocal]] — each
  * task buffers its rows into ~targetChunkBytes chunks, encodes every
  * column with the production codecs (content-derived chunk ids, row
  * caps, zone maps: one shared [[EncodePipeline.encodeChunkFromArrays]]
  * entry), and writes ONE parquet file per (task, column) directly via
  * parquet-hadoop into the batch's data directory. ZERO shuffles — the
  * write is as distributed as the input.
  *
  * Commit protocol = the catalog's marker protocol: the driver mints the
  * batch id up front ([[ParquetTableIO.beginBatch]]), tasks return their
  * manifest rows as commit messages, and
  * [[ParquetTableIO.commitExternalBatch]] appends the manifest and flips
  * the marker — a crash anywhere earlier leaves an invisible torn batch,
  * and abort deletes the uncommitted files. `INSERT OVERWRITE` /
  * `TRUNCATE`+append compose the same pieces under ONE marker
  * ([[FsstWriteBuilder.overwrite]]): chunk-aligned victims tombstone
  * gated on the new batch, so adds and deletes become visible together.
  */
final class FsstWriteBuilder(root: String, table: String, tableSchema: StructType,
    info: LogicalWriteInfo) extends WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsOverwrite {

  // None = plain append; Some(victims) = overwrite: tombstone these
  // (chunk_id, column) rows in the SAME snapshot the new data commits in
  private var overwriteVictims: Option[org.apache.spark.sql.DataFrame] = None

  /** `INSERT OVERWRITE` / `writeTo(...).overwrite(cond)` — accepted when
    * the predicate is CHUNK-ALIGNED (the same coverage test as metadata
    * DELETE: every chunk fully inside or fully outside), including the
    * `TRUNCATE`/full-overwrite always-true case. The victims and the new
    * data flip visibility through ONE commit marker
    * ([[ParquetTableIO.commitExternalBatchWithDeletes]]), so a crash at
    * any point leaves the pre-overwrite state — never a half-overwrite.
    * The victim DataFrame is built BEFORE any data lands (its
    * committed-batch snapshot is taken now), so it can never name the
    * chunks this very write is adding.
    */
  override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
    overwriteVictims = Some(FsstScan.chunkAlignedVictims(ManifestView(root, table, None), filters).getOrElse(
      throw new UnsupportedOperationException(
        "INSERT OVERWRITE on an fsst table needs a chunk-aligned key predicate (or a full " +
          s"overwrite); ${filters.mkString(" AND ")} crosses chunk boundaries — " +
          "DELETE FROM (row-level) then INSERT, or compact first")))
    this
  }

  // lenient on purpose: returning false here surfaces Spark's generic
  // "does not support overwrite by expression"; overwrite() throws the
  // actionable chunk-alignment error instead
  override def canOverwrite(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean = true

  override def build(): Write = {
    val ws = info.schema()
    // Spark aligns INSERT/append columns to the table schema; verify
    // name+type equality so a drifted catalog fails loudly, not subtly
    require(ws.fields.map(f => (f.name, f.dataType)).sameElements(
      tableSchema.fields.map(f => (f.name, f.dataType))),
      s"write schema ${ws.simpleString} does not match fsst table schema " +
        tableSchema.simpleString)
    new Write with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
      override def requiredDistribution() = FsstWriteOrdering.distribution
      override def requiredOrdering() = FsstWriteOrdering.ordering
      override def toBatch: BatchWrite =
        new FsstBatchWrite(root, table, tableSchema, () => overwriteVictims)
    }
  }
}

/** Write-side clustering contract, Iceberg-style: ask Spark to sort each
  * task's rows by key BEFORE they reach the writer (ordering only — the
  * distribution stays unspecified, so NO shuffle is added; the sort is a
  * per-partition SortExec). The writer cuts chunks from the sorted
  * stream, so every chunk written through SQL gets a TIGHT, per-task
  * non-overlapping [min_key, max_key] — which is what the manifest's
  * key-range pruning (point lookups, range scans, DML victim planning)
  * feeds on at 100 TB. Without it, arrival-order buffering gives every
  * chunk near-full-table key ranges and pruning degenerates to
  * scan-everything.
  */
private[sources] object FsstWriteOrdering {
  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
  val distribution: Distribution = Distributions.unspecified()
  val ordering: Array[SortOrder] =
    Array(Expressions.sort(Expressions.column("key"), SortDirection.ASCENDING))
}

private[sources] final case class FsstWriterCommit(
    rows: Array[(String, String, Long, String, Long, Long, Long, String, String,
      Option[Long], Option[Long])]) extends WriterCommitMessage

/** `victimsAtCommit` resolves at COMMIT time: the overwrite path closes
  * over plan-time victims, while the row-level path
  * ([[FsstRowLevelOperation]]) resolves the victims its scan planned —
  * which may happen after this write is constructed.
  */
final class FsstBatchWrite(root: String, table: String, tableSchema: StructType,
    victimsAtCommit: () => Option[org.apache.spark.sql.DataFrame] = () => None)
    extends BatchWrite {
  private val spark = SparkSession.active
  private val io = new ParquetTableIO(root)
  private val batch = io.beginBatch(spark, table)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val colDirs = tableSchema.fields.filter(_.name != "key")
      .map(f => f.name -> io.batchColumnDir(table, batch, f.name)).toMap
    new FsstWriterFactory(tableSchema, colDirs,
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))
  }

  /** Committing an unreadable state bricks the table, so the commit
    * VALIDATES first: (1) duplicate (chunk_id, column) manifest rows —
    * writer ids are salted with (partition, sequence) precisely so
    * duplicate content cannot collide, which makes this a pure invariant
    * backstop (a hash collision or a future id-scheme bug); every later
    * scan would hard-fail on "duplicate chunk". (2) Orphan files inside
    * the batch directory not named by any manifest row — a task whose
    * EXECUTOR died never ran `DataWriter.abort`, and the
    * whole-directory readers (`readChunks`, `repairManifest`) would see
    * its chunks as duplicates. Duplicates fail the INSERT (batch
    * aborted, table untouched); orphans are deleted before the marker
    * flips.
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    import spark.implicits._
    val rows = messages.flatMap(_.asInstanceOf[FsstWriterCommit].rows)
    val dup = rows.groupBy(r => (r._3, r._2)).collectFirst { case (k, g) if g.length > 1 => k }
    dup.foreach { case (cid, colName) =>
      io.abortBatch(spark, table, batch)
      throw new IllegalStateException(
        s"fsst INSERT into '$table': chunk id $cid for column '$colName' appears twice in " +
          "one batch (salted writer ids collided — an id-scheme invariant violation) — " +
          "committing would make every scan fail; the batch was aborted.")
    }
    deleteOrphanFiles(rows.iterator.map(_._1).toSet)
    val manifest =
      if (rows.isEmpty) None
      else Some(rows.toSeq.toDF("file", "column", "chunk_id", "codec", "n_rows",
        "bytes_in", "bytes_out", "min_key", "max_key", "value_min", "value_max"))
    victimsAtCommit() match {
      case Some(victims) =>
        // overwrite/row-level commits even with zero new rows (it still
        // deletes); adds + deletes flip through ONE marker
        io.commitExternalBatchWithDeletes(spark, table, batch, manifest, victims)
      case None =>
        manifest match {
          case Some(m) => io.commitExternalBatch(spark, table, batch, m)
          case None => io.abortBatch(spark, table, batch) // empty insert = no-op
        }
    }
  }

  /** Remove files under the batch directory that no manifest row names
    * (dead-executor task attempts). Paths compare scheme-normalized.
    */
  private def deleteOrphanFiles(named: Set[String]): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val dirP = new org.apache.hadoop.fs.Path(io.batchDataDir(table, batch))
    val fs = dirP.getFileSystem(conf)
    if (!fs.exists(dirP)) return
    val namedNorm = named.map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath)
    val it = fs.listFiles(dirP, true)
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (!name.startsWith(".") && !name.startsWith("_") &&
          !namedNorm.contains(st.getPath.toUri.getPath))
        fs.delete(st.getPath, false)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    io.abortBatch(spark, table, batch)
}

final class FsstWriterFactory(schema: StructType, colDirs: Map[String, String],
    conf: SerializableConfiguration) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new FsstDataWriter(schema, colDirs, conf.value, partitionId, taskId)
}

/** Buffers a task's rows into ~targetChunkBytes chunks, encodes, and
  * appends each column's ChunkResult to that column's parquet file. The
  * parquet schema mirrors the Spark writer's layout exactly (repetition
  * included), so both the typed `readChunks` path and the connector's
  * projected blob reads see identical files.
  */
final class FsstDataWriter(schema: StructType, colDirs: Map[String, String],
    conf: Configuration, partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {

  private val TargetChunkBytes = 16L << 20
  private val fields = schema.fields
  require(fields.nonEmpty && fields(0).name == "key" && fields(0).dataType == StringType,
    s"fsst write schema must lead with the string key, got ${schema.simpleString}")
  private val valueFields = fields.drop(1)
  private val names = valueFields.map(_.name)
  private val isLong = valueFields.map(f => f.dataType == LongType || f.dataType == DoubleType)
  private val isDouble = valueFields.map(_.dataType == DoubleType)

  private var chunkSeq = 0L

  // row buffers (copied out of the reused InternalRow)
  private val keys = new java.util.ArrayList[String]()
  private val cols: Array[java.util.ArrayList[AnyRef]] =
    names.map(_ => new java.util.ArrayList[AnyRef]())
  private var bufferedBytes = 0L
  private val manifest = new java.util.ArrayList[(String, String, Long, String, Long,
    Long, Long, String, String, Option[Long], Option[Long])]()

  private val parquetSchema: MessageType = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  required int64 chunk_id;
      |  optional binary codec (UTF8);
      |  required int64 n_rows;
      |  required int64 bytes_in;
      |  required int64 bytes_out;
      |  optional binary min_key (UTF8);
      |  optional binary max_key (UTF8);
      |  optional binary key_blob;
      |  optional binary value_blob;
      |  optional int64 value_min;
      |  optional int64 value_max;
      |}""".stripMargin)
  private val groupFactory = new SimpleGroupFactory(parquetSchema)
  private val writers = new java.util.HashMap[String, (String, ParquetWriter[Group])]()

  private def writerFor(column: String): (String, ParquetWriter[Group]) = {
    var w = writers.get(column)
    if (w == null) {
      val file = s"${colDirs(column)}/part-$partitionId-$taskId-" +
        s"${java.util.UUID.randomUUID().toString.take(8)}.parquet"
      val c = new Configuration(conf)
      GroupWriteSupport.setSchema(parquetSchema, c)
      val pw: ParquetWriter[Group] = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file))
        .withConf(c)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .build()
      w = (file, pw)
      writers.put(column, w)
    }
    w
  }

  override def write(row: InternalRow): Unit = {
    // Row-level rewrites reach this writer through Spark's PROJECTED
    // writing task (the operation declares metadata attributes, so
    // DataAndMetadataWritingSparkTask projects the data columns before
    // the 2-arg write, whose default delegates here) — every caller
    // hands rows of exactly the write schema. The arity check is the
    // loud guard against Spark's UNPROJECTED fallback path (no metadata
    // projection → rows keep their leading __row_operation int), which
    // would otherwise corrupt ordinals silently.
    require(row.numFields == fields.length,
      s"fsst write: row has ${row.numFields} fields, expected ${fields.length} " +
        s"(${schema.simpleString})")
    require(!row.isNullAt(0), "fsst write: null key")
    val key = row.getUTF8String(0).toString // copy out of the reused row
    keys.add(key)
    bufferedBytes += key.length
    var ci = 0
    while (ci < names.length) {
      val fi = ci + 1
      val v: AnyRef =
        if (row.isNullAt(fi)) null
        else if (isDouble(ci)) java.lang.Long.valueOf(
          java.lang.Double.doubleToRawLongBits(row.getDouble(fi)))
        else if (isLong(ci)) java.lang.Long.valueOf(row.getLong(fi))
        else if (valueFields(ci).dataType == StringType) row.getUTF8String(fi).getBytes
        else row.getBinary(fi)
      cols(ci).add(v)
      bufferedBytes += (v match {
        case b: Array[Byte] => b.length
        case _ => 8
      })
      ci += 1
    }
    if (bufferedBytes >= TargetChunkBytes) flushChunk()
  }

  private def flushChunk(): Unit = {
    val n = keys.size()
    if (n == 0) return
    val keyArr = keys.toArray(new Array[String](n))
    val byteVals = new Array[Array[Array[Byte]]](names.length)
    val longVals = new Array[Array[Long]](names.length)
    val longNulls = new Array[Array[Boolean]](names.length)
    var ci = 0
    while (ci < names.length) {
      if (isLong(ci)) {
        val vs = new Array[Long](n)
        val ns = new Array[Boolean](n)
        var i = 0
        while (i < n) {
          val v = cols(ci).get(i)
          if (v == null) ns(i) = true else vs(i) = v.asInstanceOf[java.lang.Long]
          i += 1
        }
        longVals(ci) = vs; longNulls(ci) = ns
      } else {
        val vs = new Array[Array[Byte]](n)
        var i = 0
        while (i < n) { vs(i) = cols(ci).get(i).asInstanceOf[Array[Byte]]; i += 1 }
        byteVals(ci) = vs
      }
      ci += 1
    }
    // salt = (partition, per-writer chunk sequence): ids stay unique
    // within the batch even when the same rows are written twice (the
    // content-derived base id alone would collide and abort the commit)
    chunkSeq += 1
    val salt = (partitionId.toLong + 1L) << 24 | chunkSeq
    EncodePipeline.encodeChunkFromArrays(keyArr, names, isLong, isDouble,
      byteVals, longVals, longNulls, salt).foreach(appendResult)
    keys.clear(); cols.foreach(_.clear()); bufferedBytes = 0L
  }

  private def appendResult(r: ChunkResult): Unit = {
    val (file, pw) = writerFor(r.column)
    val g = groupFactory.newGroup()
    g.append("chunk_id", r.chunk_id)
    g.append("codec", r.codec)
    g.append("n_rows", r.n_rows)
    g.append("bytes_in", r.bytes_in)
    g.append("bytes_out", r.bytes_out)
    g.append("min_key", r.min_key)
    g.append("max_key", r.max_key)
    g.append("key_blob", Binary.fromConstantByteArray(r.key_blob))
    g.append("value_blob", Binary.fromConstantByteArray(r.value_blob))
    r.value_min.foreach(v => g.append("value_min", v))
    r.value_max.foreach(v => g.append("value_max", v))
    pw.write(g)
    manifest.add((file, r.column, r.chunk_id, r.codec, r.n_rows, r.bytes_in,
      r.bytes_out, r.min_key, r.max_key, r.value_min, r.value_max))
  }

  override def commit(): WriterCommitMessage = {
    flushChunk()
    writers.values().forEach(_._2.close())
    FsstWriterCommit(manifest.toArray(
      new Array[(String, String, Long, String, Long, Long, Long, String, String,
        Option[Long], Option[Long])](manifest.size())))
  }

  /** A LOSING task attempt must remove its own files: the job can still
    * COMMIT after a task retry (or a speculative duplicate losing the
    * race), and the whole-directory readers (`readChunks`,
    * `repairManifest`) would otherwise see the orphan attempt's chunks
    * as duplicates inside the committed batch. Job-level
    * `BatchWrite.abort` only covers the job-failure case.
    */
  override def abort(): Unit = {
    close()
    writers.values().forEach { case (file, _) =>
      try {
        val p = new org.apache.hadoop.fs.Path(file)
        p.getFileSystem(conf).delete(p, false)
      } catch { case _: Exception => }
    }
  }
  override def close(): Unit = writers.values().forEach { w =>
    try w._2.close() catch { case _: Exception => }
  }
}
