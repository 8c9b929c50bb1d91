package fsstspark.io

import fsstspark.pipeline.{EncodePipeline, KV}
import fsstspark.queries.Queries
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Catalog-format invariants that live below the pipeline surface:
  * batch-id ordering, legacy-layout detection, and manifest layout
  * stability across full vacuums.
  */
class TableIOSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("fsstspark-tableio-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  private val sf = "/root/testdata/sf0.001"

  test("BatchClock: millis strictly increase even when minted faster than the wall clock ticks") {
    val vals = Array.fill(10000)(BatchClock.nextMillis())
    vals.sliding(2).foreach(p => assert(p(0) < p(1),
      "same-millisecond batch ids would order by their random suffix and break time travel"))
    // stays anchored to the wall clock (never runs ahead by more than the mint count)
    assert(vals.last <= System.currentTimeMillis() + vals.length)
  }

  test("legacy flat (pre-batch-partitioned) manifest fails loudly; repairManifest migrates") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("legacy-manifest").toString
    val io = new ParquetTableIO(root)
    val kv = Queries.docsKV(spark, sf)
    io.writeChunks(EncodePipeline.encodeBytesLocal(kv, "text", 32L << 10), "docs")
    val nChunks = io.readChunks(spark, "docs").count()
    assert(io.manifest(spark, "docs").count() == nChunks)
    // simulate the round-≤3 layout: one manifest part file flat at the
    // manifest root instead of under its batch= partition
    val mRoot = new java.io.File(s"$root/docs/manifest")
    val part = mRoot.listFiles().filter(_.isDirectory).flatMap(_.listFiles())
      .find(f => f.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath, new java.io.File(mRoot, "part-legacy.parquet").toPath)
    val e = intercept[IllegalStateException](io.manifest(spark, "docs").count())
    assert(e.getMessage.contains("repairManifest"),
      s"legacy manifest must point at the migration path, got: ${e.getMessage}")
    // the documented migration rebuilds the partitioned layout from data
    io.repairManifest(spark, "docs")
    assert(io.manifest(spark, "docs").count() == nChunks)
    val aKey = kv.select(min("key")).as[String].head()
    assert(EncodePipeline.decodeBytes(io.chunksForKey(spark, "docs", aKey))
      .filter(col("key") === aKey).count() == 1)
  }

  test("full vacuum leaves a manifest layout the next append extends cleanly") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("vacuum-all").toString
    val io = new ParquetTableIO(root)
    val kv = Queries.docsKV(spark, sf)
    io.writeChunks(EncodePipeline.encodeBytesLocal(kv, "text", 32L << 10), "docs")
    val all = io.readChunks(spark, "docs")
      .select(col("chunk_id"), col("column")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    io.removeChunks(spark, "docs", all.toDF("chunk_id", "column"))
    assert(io.vacuum(spark, "docs") > 0, "fully-dead table must reclaim files")
    assert(io.readChunks(spark, "docs").count() == 0)
    assert(io.manifest(spark, "docs").count() == 0)
    // the empty manifest must be in the partitioned layout: a flat
    // zero-row part file here would read as legacy AND collide with the
    // batch= directories this append creates. The appended content must
    // DIFFER from the vacuumed content — identical chunks would re-mint
    // the same content-derived ids, which stay tombstoned by design
    // (replay-safe ingest dedup)
    val half = kv.filter(xxhash64(col("key")) % 2 === 0)
    io.writeChunks(EncodePipeline.encodeBytesLocal(half, "text", 32L << 10), "docs")
    val n = io.readChunks(spark, "docs").count()
    assert(n > 0 && io.manifest(spark, "docs").count() == n)
    assert(EncodePipeline.verify(half, EncodePipeline.decodeBytes(io.readChunks(spark, "docs")))
      .filter(!col("matched")).count() == 0)
  }

  /** The `batch=` directories under a table's data and manifest roots. */
  private def batchDirs(root: String, table: String): Set[String] =
    Seq("data", "manifest").flatMap { d =>
      Option(new java.io.File(s"$root/$table/$d").listFiles()).toSeq.flatten
        .map(_.getName).filter(_.startsWith("batch=")).map(n => s"$d/$n")
    }.toSet

  test("a writeChunks that fails in one task leaves the table unchanged") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("failed-write").toString
    val io = new ParquetTableIO(root)
    val kv = Queries.docsKV(spark, sf)
    io.writeChunks(EncodePipeline.encodeBytesLocal(kv, "text", 32L << 10), "docs")
    val before = io.readChunks(spark, "docs").select("chunk_id", "column", "n_rows")
      .as[(Long, String, Long)].collect().sorted.toSeq
    val dirs = batchDirs(root, "docs")
    // four tasks: partition 2 fails at once, while the other three are
    // still encoding their first chunk (a slow encode, made slower here).
    // Spark fails the job without waiting for them, and each then writes
    val failing = EncodePipeline.encodeBytesLocal(kv.repartition(4).localCheckpoint().as[KV],
        "text", 32L << 10).mapPartitions { it =>
      if (org.apache.spark.TaskContext.getPartitionId() == 2)
        throw new IllegalStateException("injected encode failure")
      it.zipWithIndex.map { case (r, i) => if (i == 0) Thread.sleep(1000); r }
    }
    val e = intercept[Exception](io.writeChunks(failing, "docs"))
    assert(e.getMessage.contains("injected encode failure"), e.getMessage)
    Thread.sleep(3000) // past the slow chunks: whatever those tasks write is on disk now
    assert(io.readChunks(spark, "docs").select("chunk_id", "column", "n_rows")
      .as[(Long, String, Long)].collect().sorted.toSeq == before)
    assert(batchDirs(root, "docs") == dirs, "the failed write left its batch behind")
  }

  test("a batch naming one (chunk_id, column) twice is refused and aborted") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("dup-write").toString
    val io = new ParquetTableIO(root)
    val kv = Queries.docsKV(spark, sf)
    val enc = EncodePipeline.encodeBytesLocal(kv, "text", 32L << 10)
    io.writeChunks(enc.filter(col("chunk_id") % 2 === 0), "docs")
    val committed = io.committedBatchIds(spark, "docs").toSeq
    val n = io.readChunks(spark, "docs").count()
    val dirs = batchDirs(root, "docs")
    val odd = enc.filter(col("chunk_id") % 2 =!= 0)
    val e = intercept[IllegalStateException](io.writeChunks(odd.union(odd.limit(1)), "docs"))
    assert(e.getMessage.contains("appears twice"), e.getMessage)
    assert(io.committedBatchIds(spark, "docs").toSeq == committed)
    assert(io.readChunks(spark, "docs").count() == n)
    assert(batchDirs(root, "docs") == dirs, "the refused batch was not aborted")
  }

  /** The first `n` chunks of the docs corpus, written into a fresh batch
    * of `table` by one [[ChunkFileWriter]]: the batch, its manifest rows
    * and the chunks written. `twice` writes each chunk a second time
    * under the complement of its id.
    */
  private def chunkBatch(io: ParquetTableIO, table: String, n: Int, twice: Boolean = false)
      : (String, Array[ManifestEntry], Array[fsstspark.pipeline.ChunkResult]) = {
    val first = EncodePipeline.encodeBytesLocal(Queries.docsKV(spark, sf), "text", 8L << 10)
      .orderBy("chunk_id").take(n)
    val chunks = if (twice) first ++ first.map(c => c.copy(chunk_id = ~c.chunk_id)) else first
    val batch = io.beginBatch(spark, table)
    val w = new ChunkFileWriter(io.batchDataDir(table, batch),
      spark.sparkContext.hadoopConfiguration, 0, 0L)
    chunks.foreach(w.write)
    (batch, w.commit(), chunks)
  }

  test("a commit deletes unnamed files at any depth of its batch and keeps hidden ones") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val root = Files.createTempDirectory("orphan-sweep").toString
    val io = new ParquetTableIO(root)
    val (batch, entries, Array(chunk)) = chunkBatch(io, "docs", 1)
    val written = Paths.get(new java.net.URI(entries.head.file))
    // the chunk file sits one directory deep (column=text/); a copy under
    // a new visible name there is what a dead executor's attempt leaves
    val dir = written.getParent
    assert(dir.getParent == Paths.get(io.batchDataDir("docs", batch)))
    val copy = Files.copy(written, dir.resolve("part-orphan.parquet"))
    val hidden = Files.write(dir.resolve(".hidden"), Array[Byte](1, 2, 3))
    io.commitBatch(spark, "docs", batch, entries, None)
    assert(!Files.exists(copy), "the unnamed copy survived the commit")
    assert(Files.exists(hidden) && Files.exists(written))
    assert(io.readChunks(spark, "docs").select("chunk_id", "column").as[(Long, String)]
      .collect().toSeq == Seq((chunk.chunk_id, chunk.column)))
  }

  test("chunk files store key and value blobs without a dictionary and round-trip") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Files.createTempDirectory("blob-encoding").toString
    val io = new ParquetTableIO(root)
    // every blob twice: parquet's default encodings would dictionary-encode it
    val (_, entries, chunks) = chunkBatch(io, "docs", 8, twice = true)
    assert(chunks.length == 16 && entries.map(_.file).distinct.length == 1)
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new Path(entries.head.file)
    def footer(p: Path) = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try r.getFooter finally r.close()
    }
    def columns(p: Path) = footer(p).getBlocks.asScala.flatMap(_.getColumns.asScala)
      .map(c => c.getPath.toDotString -> c).toMap
    val rows = {
      val reader = GroupReader.open(path, conf)
      try Iterator.continually(reader.read()).takeWhile(_ != null).toVector
      finally reader.close()
    }
    assert(rows.map(_.getLong("chunk_id", 0)) == chunks.map(_.chunk_id).toVector)
    rows.zip(chunks).foreach { case (g, c) =>
      assert(g.getString("codec", 0) == c.codec && g.getLong("n_rows", 0) == c.n_rows)
      assert(g.getBinary("key_blob", 0).getBytes.sameElements(c.key_blob))
      assert(g.getBinary("value_blob", 0).getBytes.sameElements(c.value_blob))
    }
    // the same rows under parquet's default encodings (dictionary first)
    val schema = footer(path).getFileMetaData.getSchema
    val refPath = new Path(s"$root/reference.parquet")
    val pw = ExampleParquetWriter.builder(refPath).withConf(conf).withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try rows.foreach(pw.write) finally pw.close()
    val (got, ref) = (columns(path), columns(refPath))
    assert(got.keySet == ref.keySet)
    got.foreach { case (c, meta) =>
      if (c == "key_blob" || c == "value_blob") {
        assert(ref(c).hasDictionaryPage, s"fixture: $c would not be dictionary-encoded")
        assert(!meta.hasDictionaryPage && meta.getEncodings.asScala.forall(!_.usesDictionary),
          s"$c is dictionary-encoded: ${meta.getEncodings}")
      } else assert(meta.getEncodings == ref(c).getEncodings, s"$c encodings changed")
    }
    assert(got("codec").hasDictionaryPage)
  }
}
