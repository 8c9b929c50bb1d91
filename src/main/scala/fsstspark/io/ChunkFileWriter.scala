package fsstspark.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.types.StructType

import fsstspark.pipeline.ChunkResult

/** One task's chunk files for one catalog batch — the writer behind every
  * catalog write (`writeChunks`, `replaceChunks` and the connector's
  * INSERT, overwrite and row-level writes). Each chunk goes to the task's
  * parquet file for its column, `<batchDir>/column=<name>/part-…parquet`,
  * and [[commit]] hands back one [[ManifestEntry]] per chunk for the
  * driver's [[ParquetTableIO.commitBatch]].
  */
final class ChunkFileWriter(batchDir: String, conf: Configuration, partitionId: Int,
    taskId: Long) {
  import ChunkFileWriter._

  private val writers = new java.util.HashMap[String, (String, ParquetWriter[Group])]()
  private val entries = Array.newBuilder[ManifestEntry]

  private def writerFor(column: String): (String, ParquetWriter[Group]) = {
    var w = writers.get(column)
    if (w == null) {
      val path = new Path(s"$batchDir/column=$column/" +
        s"part-$partitionId-$taskId-${java.util.UUID.randomUUID().toString.take(8)}.parquet")
      // the form Spark's readers report (input_file_name(), inputFiles),
      // which repairManifest records too: a repair rebuilds identical rows
      val file = path.getFileSystem(conf).makeQualified(path).toUri.toString
      w = (file, open(path, conf, ChunkSchema))
      writers.put(column, w)
    }
    w
  }

  def write(r: ChunkResult): Unit = {
    val (file, pw) = writerFor(r.column)
    // a chunk file row is the ChunkResult minus its `column` partition
    pw.write(row(ChunkSchema, r.productIterator.patch(1, Iterator.empty, 1)))
    entries += ManifestEntry(file, r.column, r.chunk_id, r.codec, r.n_rows, r.bytes_in,
      r.bytes_out, r.min_key, r.max_key, r.value_min, r.value_max)
  }

  /** Closes every file; the manifest rows of the chunks written. */
  def commit(): Array[ManifestEntry] = {
    writers.values().forEach(_._2.close())
    entries.result()
  }

  /** A failed or losing task attempt removes its own files: the batch can
    * still commit after a task retry (or a speculative duplicate losing
    * the race), and the whole-directory readers (`readChunks`,
    * `repairManifest`) would otherwise see the attempt's chunks as
    * duplicates inside the committed batch. Files of an executor that
    * died are swept by the commit instead.
    */
  def abort(): Unit = {
    close()
    writers.values().forEach { case (file, _) =>
      try {
        val p = new Path(file)
        p.getFileSystem(conf).delete(p, false)
      } catch { case _: Exception => }
    }
  }

  def close(): Unit = writers.values().forEach { w =>
    try w._2.close() catch { case _: Exception => }
  }
}

object ChunkFileWriter {
  /** The schemas Spark's parquet writer gives these rows, so the typed
    * readers, `repairManifest` and the connector's projected blob reads
    * see one layout whichever path wrote a file.
    */
  private def parquetSchema(s: StructType): MessageType =
    new org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter()
      .convert(s)
  private lazy val ChunkSchema = parquetSchema(StructType(
    org.apache.spark.sql.Encoders.product[ChunkResult].schema.filter(_.name != "column")))
  private lazy val ManifestFileSchema = parquetSchema(StructType(
    ParquetTableIO.ManifestSchema.filter(_.name != "batch")))
  private lazy val TombstoneFileSchema = parquetSchema(ParquetTableIO.TombSchema)

  /** Writes every chunk of one partition into `batchDir` and returns
    * their manifest rows — the task body of a `writeChunks` job.
    */
  def writePartition(batchDir: String, conf: Configuration,
      chunks: Iterator[ChunkResult]): Iterator[ManifestEntry] = {
    val ctx = org.apache.spark.TaskContext.get()
    val w = new ChunkFileWriter(batchDir, conf, ctx.partitionId(), ctx.taskAttemptId())
    try {
      chunks.foreach(w.write)
      w.commit().iterator
    } catch {
      case e: Throwable => w.abort(); throw e
    }
  }

  /** One batch's manifest rows as ONE parquet file, written on the driver. */
  private[io] def writeManifest(path: Path, conf: Configuration,
      entries: Array[ManifestEntry]): Unit = {
    val pw = open(path, conf, ManifestFileSchema)
    try entries.foreach(e => pw.write(row(ManifestFileSchema, e.productIterator)))
    finally pw.close()
  }

  /** One batch's `victims` as ONE tombstone file gated on `batch`,
    * written on the driver.
    */
  private[io] def writeTombstones(path: Path, conf: Configuration,
      victims: Array[(Long, String)], batch: String): Unit = {
    val pw = open(path, conf, TombstoneFileSchema)
    try victims.foreach { case (id, c) =>
      pw.write(row(TombstoneFileSchema, Iterator(id, c, batch)))
    } finally pw.close()
  }

  /** A parquet row from values in schema order; null and None leave an
    * optional field absent.
    */
  private def row(schema: MessageType, values: Iterator[Any]): Group = {
    val g = new SimpleGroupFactory(schema).newGroup()
    values.zipWithIndex.foreach {
      case (v: Long, i) => g.add(i, v)
      case (Some(v: Long), i) => g.add(i, v)
      case (v: String, i) => g.add(i, v)
      case (v: Array[Byte], i) => g.add(i, Binary.fromConstantByteArray(v))
      case _ =>
    }
    g
  }

  /** Snappy, as Spark's parquet writer: the codec `stored_ratio` is read
    * on. A chunk's key and value blobs skip the dictionary: they are
    * mostly unique codec output of up to several MB each, which the
    * dictionary pass would hash in full only to fall back to PLAIN (the
    * manifest and tombstone schemas lack these columns). The file is
    * created through [[CatalogFiles]].
    */
  private def open(path: Path, conf: Configuration, schema: MessageType): ParquetWriter[Group] =
    ExampleParquetWriter.builder(CatalogFiles.outputFile(path, conf)).withConf(conf)
      .withType(schema).withCompressionCodec(CompressionCodecName.SNAPPY)
      .withDictionaryEncoding("key_blob", false).withDictionaryEncoding("value_blob", false)
      .build()
}
