package fsstspark.streaming

import fsstspark.gen.PagesGen
import fsstspark.pipeline.{Checkpoint, EncodePipeline, KV}
import fsstspark.textops.Multimodal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("fsstspark-streaming-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("streaming file-source ingest encodes incrementally, exactly-once chunks") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("stream").toString
    val src = s"$root/src"
    val ckpt = s"$root/chunks"
    val state = s"$root/state"

    def writeBatch(from: Long, until: Long): Unit =
      PagesGen.pages(spark, until, seed = 9).filter(col("warc_ts") >= lit(new java.sql.Timestamp((1735689600L + from) * 1000L)))
        .coalesce(2).write.mode("append").parquet(src)

    writeBatch(0, 200)
    val schema = spark.read.parquet(src).schema
    def runOnce(): Unit = {
      val q = StreamingEncode.start(spark, src, schema, "url", "text", "text",
        ckpt, state, targetChunkBytes = 32L << 10)
      q.awaitTermination()
    }
    runOnce()
    val n1 = Checkpoint.read(spark, ckpt).count()
    assert(n1 > 0)
    // second micro-batch: only new files are processed
    writeBatch(200, 400)
    runOnce()
    val all = Checkpoint.read(spark, ckpt)
    assert(all.count() > n1)
    assert(all.select("chunk_id").distinct().count() == all.count(), "duplicate chunks")
    // full corpus round-trips from the checkpoint table
    val expected = spark.read.parquet(src)
      .select(col("url").as("key"), encode(col("text"), "UTF-8").as("value")).as[KV]
    val dec = EncodePipeline.decodeBytes(all)
    assert(EncodePipeline.verify(expected, dec).filter(!col("matched")).count() == 0)
    // replaying the whole stream state from scratch adds nothing new
    val stateDir2 = s"$root/state2"
    val q2 = StreamingEncode.start(spark, src, schema, "url", "text", "text",
      ckpt, stateDir2, targetChunkBytes = 32L << 10)
    q2.awaitTermination()
    assert(Checkpoint.read(spark, ckpt).count() == all.count(), "replay created duplicates")
  }

  test("streaming into the catalog: exactly-once chunks, periodic compaction converges") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("stream-cat").toString
    val src = s"$root/src"
    val io = new fsstspark.io.ParquetTableIO(s"$root/catalog")

    def writeBatch(from: Long, until: Long): Unit =
      PagesGen.pages(spark, until, seed = 11).filter(col("warc_ts") >= lit(new java.sql.Timestamp((1735689600L + from) * 1000L)))
        .coalesce(2).write.mode("append").parquet(src)

    writeBatch(0, 150)
    val schema = spark.read.parquet(src).schema
    def runOnce(state: String): Unit = {
      val q = StreamingEncode.startCatalog(spark, src, schema, "url", "text", "text",
        io, "pages", state, targetChunkBytes = 64L << 10,
        compactEvery = 1, minChunkBytes = 16L << 10)
      q.awaitTermination()
    }
    runOnce(s"$root/state")
    val n1 = io.readChunks(spark, "pages").count()
    assert(n1 > 0)
    writeBatch(150, 300)
    runOnce(s"$root/state")
    val chunks = io.readChunks(spark, "pages")
    assert(chunks.select("chunk_id").distinct().count() == chunks.count(), "duplicate chunks")
    // full corpus round-trips from the catalog (through any compactions)
    val expected = spark.read.parquet(src)
      .select(col("url").as("key"), encode(col("text"), "UTF-8").as("value")).as[KV]
    assert(EncodePipeline.verify(expected, EncodePipeline.decodeBytes(chunks))
      .filter(!col("matched")).count() == 0)
    // manifest agrees with the live (post-tombstone) chunk set
    assert(io.manifest(spark, "pages").count() == chunks.count())
    // replaying the whole stream from fresh state adds nothing (ids skip)
    val before = chunks.count()
    runOnce(s"$root/state2")
    assert(io.readChunks(spark, "pages").count() == before, "replay created duplicates")
    // the streaming-built catalog is CONNECTOR-readable: single-column
    // appends leave the one column live in every instance (the trivial
    // anchor), so the SQL surface serves it — multi-column per-column-append
    // tables are the documented refusal, not this flagship shape
    val viaConnector = spark.read.format("fsst")
      .option("root", s"$root/catalog").option("table", "pages")
      .option("stringColumns", "text").load()
      .select(col("key").as("url"), col("text"))
    val srcRows = spark.read.parquet(src).select(col("url"), col("text"))
    // multiset equality both ways over (url, text): a diverging url set,
    // a changed text, a missing or a duplicated row all fail
    assert(viaConnector.exceptAll(srcRows).isEmpty && srcRows.exceptAll(viaConnector).isEmpty,
      "connector read of the streaming catalog must match the source")
  }

  test("multimodal feature extraction is deterministic and batch-shaped") {
    import spark.implicits._
    val pages = PagesGen.pages(spark, 100, seed = 4).cache()
    val f1 = Multimodal.extractFeatures(pages.toDF(), "url", "html", "image")
      .collect().map(f => f.key -> f).toMap
    val f2 = Multimodal.extractFeatures(pages.toDF().repartition(7), "url", "html", "image")
      .collect().map(f => f.key -> f).toMap
    assert(f1.keySet == f2.keySet && f1.size == 100)
    f1.foreach { case (k, a) =>
      val b = f2(k)
      assert(a.width == b.width && a.mean_intensity == b.mean_intensity &&
        a.feature.toSeq == b.feature.toSeq)
    }
    // features are usable by the ANN operator
    val feats = Multimodal.extractFeatures(pages.toDF(), "url", "html", "image")
      .select(xxhash64(col("key")).as("vec_id"), col("feature").as("embedding"))
    val top = fsstspark.textops.AnnSearch.bruteForceTopK(
      feats, feats.limit(3), "vec_id", "embedding", 5)
    assert(top.count() == 15)
    pages.unpersist()
  }

  test("frame sampling cuts deterministic windows") {
    import spark.implicits._
    val df = Seq(("a", Array.tabulate[Byte](41000)(i => (i % 251).toByte))).toDF("key", "payload")
    val frames = Multimodal.sampleFrames(df, "key", "payload", frameBytes = 4096, stride = 2)
    // 41000/4096 = 10 frames, stride 2 → indices 0,2,4,6,8
    assert(frames.count() == 5)
    assert(frames.select("frame_idx").as[Int].collect().sorted.toSeq == Seq(0, 2, 4, 6, 8))
    assert(frames.select(octet_length(col("frame"))).as[Int].collect().forall(_ == 4096))
  }

  test("IngestedIdCache reads O(new batches) per call, ids match a cold full load") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("ingest-cache").toString
    val io = new fsstspark.io.ParquetTableIO(root)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(lpad(col("doc_id").cast("string"), 8, "0").as("key"),
        encode(col("text"), "UTF-8").as("value")).as[KV]
    def enc(pred: org.apache.spark.sql.Column) =
      EncodePipeline.encodeBytesLocal(docs.filter(pred), "text", 8L << 10)

    val cache = new IngestedIdCache(io, "t", "text")
    // empty table: nothing to read
    assert(cache.doneIds(spark).isEmpty)

    io.writeChunks(enc(col("key") < "00000300"), "t")
    val ids1 = cache.doneIds(spark)
    assert(ids1.nonEmpty)
    assert(cache.lastBatchesRead == 1, s"cold load should read the 1 committed batch, read ${cache.lastBatchesRead}")
    // no new commits -> no manifest read at all
    assert(cache.doneIds(spark).sameElements(ids1))
    assert(cache.lastBatchesRead == 0)

    // second batch: only the NEW batch's manifest partition is read
    io.writeChunks(enc(col("key") >= "00000300"), "t")
    val ids2 = cache.doneIds(spark)
    assert(cache.lastBatchesRead == 1, s"incremental call should read exactly the 1 new batch, read ${cache.lastBatchesRead}")
    assert(ids2.length > ids1.length)
    assert(ids2.toSeq == ids2.toSeq.sorted, "done ids must stay sorted for the binary-search skip set")

    // a cold cache over the same table agrees exactly
    val cold = new IngestedIdCache(io, "t", "text")
    assert(cold.doneIds(spark).toSeq == ids2.toSeq)
    assert(cold.lastBatchesRead == 2)

    // tombstoned ids stay "ingested" for a cold load (ledger semantics)
    io.removeChunks(spark, "t", io.readChunks(spark, "t").select("chunk_id", "column").limit(2))
    val afterRemove = new IngestedIdCache(io, "t", "text")
    assert(afterRemove.doneIds(spark).toSeq == ids2.toSeq,
      "tombstoned chunk ids must remain in the ingest ledger")
  }
}
