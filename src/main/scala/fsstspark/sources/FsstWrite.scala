package fsstspark.sources

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import fsstspark.io.{ChunkFileWriter, ManifestEntry, ParquetTableIO}
import fsstspark.pipeline.EncodePipeline

/** DSv2 WRITE path: `INSERT INTO fsst_cat.<table> …` /
  * `df.writeTo(…).append()` land in the chunk catalog through the same
  * local-encode shape as [[EncodePipeline.encodeColumnsLocal]] — each
  * task buffers its rows into ~targetChunkBytes chunks, encodes every
  * column with the production codecs (content-derived chunk ids, row
  * caps, zone maps: one shared [[EncodePipeline.encodeChunkFromArrays]]
  * entry), and writes the chunks through the catalog's
  * [[ChunkFileWriter]], one parquet file per (task, column) in the
  * batch's data directory. ZERO shuffles — the write is as distributed
  * as the input, and the write job is the statement's only Spark job.
  *
  * Commit protocol = the catalog's marker protocol, the same one
  * `writeChunks` runs: the driver mints the batch id up front
  * ([[ParquetTableIO.beginBatch]]), tasks return their manifest rows as
  * commit messages, and [[ParquetTableIO.commitBatch]] checks them,
  * writes the batch's manifest file on the driver and flips the marker
  * — a crash anywhere earlier leaves an invisible torn batch, and abort
  * deletes the uncommitted files. `INSERT OVERWRITE` /
  * `TRUNCATE`+append pass victims to the same commit
  * ([[FsstWriteBuilder.overwrite]]): chunk-aligned victims tombstone
  * gated on the new batch, so adds and deletes become visible together.
  */
final class FsstWriteBuilder(root: String, table: String, tableSchema: StructType,
    info: LogicalWriteInfo) extends WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsOverwrite {

  // None = plain append; Some(victims) = overwrite: tombstone these
  // (chunk_id, column) rows in the SAME snapshot the new data commits in
  private var overwriteVictims: Option[Array[(Long, String)]] = None

  /** `INSERT OVERWRITE` / `writeTo(...).overwrite(cond)` — accepted when
    * the predicate is CHUNK-ALIGNED (the same coverage test as metadata
    * DELETE: every chunk fully inside or fully outside), including the
    * `TRUNCATE`/full-overwrite always-true case. The victims and the new
    * data flip visibility through ONE commit marker
    * ([[ParquetTableIO.commitBatch]]), so a crash at
    * any point leaves the pre-overwrite state — never a half-overwrite.
    * The victims are planned BEFORE any data lands (from the
    * committed-batch snapshot of now), so they can never name the
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

private[sources] final case class FsstWriterCommit(entries: Array[ManifestEntry])
    extends WriterCommitMessage

/** `victimsAtCommit` resolves at COMMIT time: the overwrite path closes
  * over plan-time victims, while the row-level path
  * ([[FsstRowLevelOperation]]) resolves the victims its scan planned —
  * which may happen after this write is constructed. Some(victims)
  * commits even with zero new rows (it still deletes); an empty plain
  * INSERT commits nothing.
  */
final class FsstBatchWrite(root: String, table: String, tableSchema: StructType,
    victimsAtCommit: () => Option[Array[(Long, String)]] = () => None)
    extends BatchWrite {
  private val spark = SparkSession.active
  private val io = new ParquetTableIO(root)
  private val batch = io.beginBatch(spark, table)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new FsstWriterFactory(tableSchema, io.batchDataDir(table, batch),
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    io.commitBatch(spark, table, batch,
      messages.flatMap(_.asInstanceOf[FsstWriterCommit].entries), victimsAtCommit())

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    io.abortBatch(spark, table, batch)
}

final class FsstWriterFactory(schema: StructType, batchDir: String,
    conf: SerializableConfiguration) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new FsstDataWriter(schema, batchDir, conf.value, partitionId, taskId)
}

/** Buffers a task's rows into ~targetChunkBytes chunks, encodes, and
  * hands each column's ChunkResult to the task's [[ChunkFileWriter]].
  */
final class FsstDataWriter(schema: StructType, batchDir: String,
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
  private val files = new ChunkFileWriter(batchDir, conf, partitionId, taskId)

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
      byteVals, longVals, longNulls, salt).foreach(files.write)
    keys.clear(); cols.foreach(_.clear()); bufferedBytes = 0L
  }

  override def commit(): WriterCommitMessage = {
    flushChunk()
    FsstWriterCommit(files.commit())
  }

  override def abort(): Unit = files.abort()
  override def close(): Unit = files.close()
}
