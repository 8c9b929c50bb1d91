package fsstspark.sources

import fsstspark.io.ParquetTableIO
import fsstspark.pipeline.EncodePipeline
import fsstspark.pipeline.EncodePipeline.{ColSpec, ReadSpec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class DataSourceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("fsstspark-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  private val sf = "/root/testdata/sf0.001"

  /** Pages-shaped fixture with every surfaced type: string key, string +
    * binary byte columns, a long, and a double with planted nulls.
    */
  private def pagesDf: DataFrame = {
    spark.read.parquet(s"$sf/documents.parquet").select(
      concat(lit("https://"), col("source"), lit("/doc/"),
        lpad(col("doc_id").cast("string"), 8, "0")).as("url"),
      col("text"),
      encode(concat(lit("<html>"), col("text"), lit("</html>")), "UTF-8").as("html"),
      (col("doc_id") * 1000L).as("ts"),
      when(col("doc_id") % 5 === 0, lit(null).cast("double"))
        .otherwise(col("n_chars") / lit(3.0)).as("score"))
  }

  private val pageSpecs = Seq(
    ColSpec("text", encode(col("text"), "UTF-8")),
    ColSpec("html", col("html")),
    ColSpec("ts", col("ts"), isLong = true),
    ColSpec("score", col("score"), isDouble = true))

  private def writeTable(df: DataFrame, root: String, table: String,
      chunkBytes: Long = 64L << 10): ParquetTableIO = {
    val io = new ParquetTableIO(root)
    io.writeChunks(EncodePipeline.encodeColumnsLocal(df, col("url"), pageSpecs, chunkBytes), table)
    io
  }

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("dsv2-spec").toString

  test("format(fsst) round-trips all column types through plain spark.read") {
    val root = freshRoot()
    val df = pagesDf
    writeTable(df, root, "pages")
    val got = spark.read.format("fsst")
      .option("root", root).option("table", "pages")
      .option("stringColumns", "text").load()
    // schema: key first, stored columns sorted, types from codec names
    assert(got.schema.fields.map(f => (f.name, f.dataType)).toSeq == Seq(
      ("key", StringType), ("html", BinaryType), ("score", DoubleType),
      ("text", StringType), ("ts", LongType)))
    val joined = df.join(got, df("url") === got("key"), "full_outer")
    assert(joined.filter(col("url").isNull || col("key").isNull).count() == 0)
    val bad = joined.filter(
      !(df("text") <=> got("text")) || !(df("html") <=> got("html")) ||
        !(df("ts") <=> got("ts")) || !(df("score") <=> got("score"))).count()
    assert(bad == 0, "round-trip mismatch through the DSv2 reader")
    assert(got.count() == df.count())
  }

  test("load(path) splits root/table; missing table fails loudly") {
    val root = freshRoot()
    writeTable(pagesDf, root, "pages")
    assert(spark.read.format("fsst").option("stringColumns", "text")
      .load(s"$root/pages").count() == pagesDf.count())
    val e = intercept[Exception] {
      spark.read.format("fsst").option("root", root).option("table", "nope").load()
    }
    assert(e.getMessage.contains("no committed chunks"))
  }

  test("column pruning plans only the projected columns' files") {
    val root = freshRoot()
    writeTable(pagesDf, root, "pages")
    val tbl = FsstDataSource.resolve(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("root", root, "table", "pages")))
    val sb = new FsstScanBuilder(root, "pages", tbl.schema(), 8)
    sb.pruneColumns(StructType(Seq(StructField("text", BinaryType))))
    val parts = sb.build().asInstanceOf[FsstScan].planInputPartitions()
    assert(parts.nonEmpty)
    val files = parts.flatMap(_.asInstanceOf[ChunkGroupPartition].colFiles.map(_.file))
    assert(files.forall(_.contains("column=text")), s"non-text files planned: ${files.toSeq}")
    // and the projected read is still correct
    val texts = spark.read.format("fsst").option("root", root).option("table", "pages")
      .option("stringColumns", "text").load().select("text")
    assert(texts.distinct().count() == pagesDf.select("text").distinct().count())
  }

  test("key filters prune chunks at manifest level (sorted table, disjoint ranges)") {
    val root = freshRoot()
    val df = pagesDf.orderBy("url").coalesce(1)
    writeTable(df, root, "sorted", chunkBytes = 4L << 10) // many small chunks
    val tbl = FsstDataSource.resolve(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("root", root, "table", "sorted")))
    def planned(filters: Array[org.apache.spark.sql.sources.Filter]): Int = {
      val sb = new FsstScanBuilder(root, "sorted", tbl.schema(), 8)
      sb.pruneColumns(StructType(Seq(StructField("key", StringType), StructField("ts", LongType))))
      sb.pushFilters(filters)
      sb.build().asInstanceOf[FsstScan].planInputPartitions()
        .map(_.asInstanceOf[ChunkGroupPartition].chunkIds.length).sum
    }
    val total = planned(Array.empty)
    assert(total > 3, s"fixture too small: only $total chunks")
    val someUrl = df.select("url").collect()(total / 2).getString(0)
    val one = planned(Array(EqualTo("key", someUrl)))
    assert(one >= 1 && one < total, s"key EqualTo pruned $one of $total")
    // the pruned read still finds the row
    val got = spark.read.format("fsst").option("root", root).option("table", "sorted").load()
      .filter(col("key") === someUrl)
    assert(got.count() == 1)
  }

  test("zone maps prune long-range filters; doubles prune through SortableBits") {
    val root = freshRoot()
    val df = pagesDf.orderBy("ts").coalesce(1)
    writeTable(df, root, "byts", chunkBytes = 4L << 10)
    val tbl = FsstDataSource.resolve(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("root", root, "table", "byts")))
    def planned(filters: Array[org.apache.spark.sql.sources.Filter]): Int = {
      val sb = new FsstScanBuilder(root, "byts", tbl.schema(), 8)
      sb.pruneColumns(StructType(Seq(StructField("ts", LongType))))
      sb.pushFilters(filters)
      sb.build().asInstanceOf[FsstScan].planInputPartitions()
        .map(_.asInstanceOf[ChunkGroupPartition].chunkIds.length).sum
    }
    val total = planned(Array.empty)
    assert(total > 3, s"fixture too small: only $total chunks")
    val bounds = df.agg(min("ts"), max("ts")).collect()(0)
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val mid = lo + (hi - lo) / 2
    val narrow = planned(Array(
      GreaterThanOrEqual("ts", mid), LessThanOrEqual("ts", mid + (hi - lo) / 10)))
    assert(narrow < total, s"ts range pruned nothing: $narrow of $total")
    // result through the full DataFrame path matches a plain filter
    val got = spark.read.format("fsst").option("root", root).option("table", "byts").load()
      .filter(col("ts") >= mid && col("ts") <= mid + (hi - lo) / 10)
      .agg(count(lit(1)), sum("ts")).collect()(0)
    val want = df.filter(col("ts") >= mid && col("ts") <= mid + (hi - lo) / 10)
      .agg(count(lit(1)), sum("ts")).collect()(0)
    assert(got == want)
    // double zone maps: a score threshold above the max prunes everything
    val maxScore = df.agg(max("score")).collect()(0).getDouble(0)
    val sbD = new FsstScanBuilder(root, "byts", tbl.schema(), 8)
    sbD.pruneColumns(StructType(Seq(StructField("score", DoubleType))))
    sbD.pushFilters(Array(org.apache.spark.sql.sources.GreaterThan("score", maxScore + 1.0)))
    val prunedAll = sbD.build().asInstanceOf[FsstScan].planInputPartitions()
      .map(_.asInstanceOf[ChunkGroupPartition].chunkIds.length).sum
    assert(prunedAll == 0, s"score > max should prune every chunk, planned $prunedAll")
  }

  test("count(*) is answered from manifest row counts (no column files opened)") {
    val root = freshRoot()
    val df = pagesDf
    writeTable(df, root, "pages")
    val got = spark.read.format("fsst").option("root", root).option("table", "pages").load()
    assert(got.count() == df.count())
    // empty projection plans no column files at all
    val tbl = FsstDataSource.resolve(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("root", root, "table", "pages")))
    val sb = new FsstScanBuilder(root, "pages", tbl.schema(), 8)
    sb.pruneColumns(StructType(Seq.empty))
    val parts = sb.build().asInstanceOf[FsstScan].planInputPartitions()
    assert(parts.nonEmpty)
    assert(parts.forall(_.asInstanceOf[ChunkGroupPartition].colFiles.isEmpty))
    assert(parts.map(_.asInstanceOf[ChunkGroupPartition].nRows.sum).sum == df.count())
  }

  test("SQL over a temp view: pushdown + aggregation through spark.sql") {
    val root = freshRoot()
    val df = pagesDf
    writeTable(df, root, "pages")
    spark.read.format("fsst").option("root", root).option("table", "pages")
      .option("stringColumns", "text").load().createOrReplaceTempView("fsst_pages")
    val got = spark.sql(
      "SELECT count(*) AS n, sum(ts) AS s FROM fsst_pages WHERE ts >= 0").collect()(0)
    assert(got.getLong(0) == df.count())
    assert(got.getLong(1) == df.agg(sum("ts")).collect()(0).getLong(0))
    // key point lookup through SQL
    val k = df.select("url").orderBy("url").collect()(0).getString(0)
    assert(spark.sql(s"SELECT text FROM fsst_pages WHERE key = '$k'").count() == 1)
  }

  test("the PRODUCTION read path prunes: BatchScanExec partitions shrink under a range filter") {
    val root = freshRoot()
    val df = pagesDf.orderBy("ts").coalesce(1)
    writeTable(df, root, "prodprune", chunkBytes = 4L << 10)
    def plannedChunks(d: org.apache.spark.sql.DataFrame): Long =
      d.queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.head.inputPartitions.collect { case p: ChunkGroupPartition => p }
        .map(_.chunkIds.length.toLong).sum
    val full = spark.read.format("fsst").option("root", root).option("table", "prodprune").load()
    val total = plannedChunks(full.select("ts"))
    assert(total > 3, s"fixture too small: $total chunks")
    val bounds = df.agg(min("ts"), max("ts")).collect()(0)
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val mid = lo + (hi - lo) / 2
    val narrow = plannedChunks(
      full.select("ts").filter(col("ts") >= mid && col("ts") <= mid + (hi - lo) / 10))
    assert(narrow < total, s"production path pruned nothing: $narrow of $total")
  }

  test("a chunk id reused across append batches reads as two physical chunks") {
    import spark.implicits._
    val root = freshRoot()
    val io = new ParquetTableIO(root)
    val kv = pagesDf.select(col("url").as("key"), encode(col("text"), "UTF-8").as("value"))
      .as[fsstspark.pipeline.KV]
    // hash-mode chunk ids are bucket indexes 0..7 in EVERY batch: two
    // appends collide on every chunk_id
    val chunk = EncodePipeline.chunkIdByHash(col("key"), 8)
    io.writeChunks(EncodePipeline.encodeBytes(kv, "text", chunk), "dup")
    io.writeChunks(EncodePipeline.encodeBytes(kv, "text", chunk), "dup")
    val n = kv.count()
    val got = spark.read.format("fsst").option("root", root).option("table", "dup")
      .option("stringColumns", "text").load()
    assert(got.count() == 2 * n, "both batches' rows must be visible")
    val perKey = got.groupBy("key").count().filter(col("count") =!= 2).count()
    assert(perKey == 0, "every key appears once per batch")
    // content identical across the two instances
    assert(got.select("key", "text").distinct().count() == n)
  }

  test("COUNT/MIN/MAX push down to the manifest and the plan shows it") {
    val root = freshRoot()
    val df = pagesDf
    writeTable(df, root, "pages")
    val got = spark.read.format("fsst").option("root", root).option("table", "pages").load()
    val r = got.agg(count(lit(1)), min("ts"), max("ts"), min("key"), max("key"),
      min("score"), max("score")).collect()(0)
    val want = df.agg(count(lit(1)), min("ts"), max("ts"), min("url"), max("url"),
      min("score"), max("score")).collect()(0)
    assert(r == want, s"pushed aggregate row $r != $want")
    // the physical plan carries the pushed aggregates (no chunk decode)
    val planStr = got.agg(min("ts"), max("score")).queryExecution.executedPlan.toString
    assert(planStr.contains("PushedAggregates"), s"no aggregate pushdown in plan:\n$planStr")
    // a filter blocks pushdown (our filters are always post-scan residuals)
    // but the result stays correct through the row path
    val f = got.filter(col("ts") >= 0).agg(max("ts")).collect()(0)
    assert(f == df.filter(col("ts") >= 0).agg(max("ts")).collect()(0))
    val planF = got.filter(col("ts") >= 0).agg(max("ts"))
      .queryExecution.executedPlan.toString
    assert(!planF.contains("PushedAggregates"), "aggregate must not push under a residual filter")
    // regression: count() OVER an aggregate lets the optimizer strip the
    // inner agg's functions and push an Aggregation with ZERO expressions;
    // the builder must refuse it (accepting left aggRow folding nothing)
    assert(got.agg(count(lit(1)), min("ts")).count() == 1)
  }

  test("aggregate pushdown refused when a chunk lacks zone stats") {
    val root = freshRoot()
    // an ALL-NULL score chunk: orderBy puts the null-score docs together in
    // one small chunk, whose zone stats are then None
    val df = pagesDf.orderBy(col("score").asc_nulls_first).coalesce(1)
    writeTable(df, root, "nulls", chunkBytes = 4L << 10)
    val io = new ParquetTableIO(root)
    val nullStat = io.manifest(spark, "nulls")
      .filter(col("column") === "score" && col("value_min").isNull).count()
    assert(nullStat > 0, "fixture should produce an all-null score chunk")
    val got = spark.read.format("fsst").option("root", root).option("table", "nulls").load()
    val planStr = got.agg(min("score")).queryExecution.executedPlan.toString
    assert(!planStr.contains("PushedAggregates"), "must fall back when stats are incomplete")
    // and the fallback row path is still exact
    assert(got.agg(min("score"), max("score")).collect()(0) ==
      df.agg(min("score"), max("score")).collect()(0))
    // ts stats are complete on the same table → that aggregate still pushes
    val planTs = got.agg(min("ts")).queryExecution.executedPlan.toString
    assert(planTs.contains("PushedAggregates"))
  }

  test("readStream over the catalog: each micro-batch delivers exactly the new batches") {
    import org.apache.spark.sql.streaming.Trigger
    val root = freshRoot()
    val io = new ParquetTableIO(root)
    val df = pagesDf
    // ts = doc_id*1000: split on the doc_id parity, not ts parity
    val (b1, b2) = (df.filter((col("ts") / 1000) % 2 === 0), df.filter((col("ts") / 1000) % 2 =!= 0))
    io.writeChunks(EncodePipeline.encodeColumnsLocal(b1, col("url"), pageSpecs, 64L << 10), "pages")
    val base = freshRoot()
    val (ckpt, out) = (base + "/ckpt", base + "/out")
    def drain(): Unit = {
      val q = spark.readStream.format("fsst")
        .option("root", root).option("table", "pages").option("stringColumns", "text").load()
        .select("key", "ts")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    def delivered(): org.apache.spark.sql.DataFrame = spark.read.parquet(out)
    drain()
    val n1 = delivered().count()
    assert(n1 == b1.count(), s"first drain delivered $n1, want ${b1.count()}")
    // second append lands AFTER the first drain; the next run must deliver
    // ONLY the new batch (offset = committed batch watermark)
    io.writeChunks(EncodePipeline.encodeColumnsLocal(b2, col("url"), pageSpecs, 64L << 10), "pages")
    drain()
    val n2 = delivered().count()
    assert(n2 == df.count(), s"after second drain total is $n2, want ${df.count()}")
    // no duplicates: every key delivered exactly once
    val dup = delivered().groupBy("key").count().filter(col("count") > 1).count()
    assert(dup == 0, "streaming delivered a key twice")
    // a third drain with nothing new delivers nothing
    drain()
    assert(delivered().count() == df.count())
  }

  test("byte-column equality answers from chunk structure (selectEquals in the reader)") {
    val root = freshRoot()
    // add a low-cardinality lang column (dict codec) alongside text
    val df = spark.read.parquet(s"$sf/documents.parquet").select(
      concat(lit("https://"), col("source"), lit("/doc/"),
        lpad(col("doc_id").cast("string"), 8, "0")).as("url"),
      col("text"), col("lang"))
    val io = new ParquetTableIO(root)
    io.writeChunks(EncodePipeline.encodeColumnsLocal(df, col("url"), Seq(
      ColSpec("text", encode(col("text"), "UTF-8")),
      ColSpec("lang", encode(col("lang"), "UTF-8"))), 16L << 10), "docs")
    val got = spark.read.format("fsst").option("root", root).option("table", "docs")
      .option("stringColumns", "text,lang").load()
    val someLang = df.select(min("lang")).collect()(0).getString(0)
    val want = df.filter(col("lang") === someLang)
      .agg(count(lit(1)), sum(length(col("text")))).collect()(0)
    val res = got.filter(col("lang") === someLang)
      .agg(count(lit(1)), sum(length(col("text")))).collect()(0)
    assert(res == want, s"eq pushdown result $res != $want")
    // the filter is reported pushed (reader-level structural answer)
    val planStr = got.filter(col("lang") === someLang).queryExecution.executedPlan.toString
    assert(planStr.contains("EqualTo(lang"), s"lang equality not pushed:\n$planStr")
    // a value present in NO chunk returns zero rows (all chunks skipped
    // structurally — dict miss, no decode)
    assert(got.filter(col("lang") === "zz-none").count() == 0)
    // conjunction of two eq filters on different columns still exact
    val oneText = df.filter(col("lang") === someLang).select("text").collect()(0).getString(0)
    val n2 = got.filter(col("lang") === someLang && col("text") === oneText).count()
    assert(n2 == df.filter(col("lang") === someLang && col("text") === oneText).count())
  }

  test("a row scan carries sum(ts) exactly; min(ts) pushes down") {
    val root = freshRoot()
    writeTable(pagesDf, root, "pages")
    val got = spark.read.format("fsst").option("root", root).option("table", "pages").load()
    // sum is NOT a pushed aggregate, so the scan really carries the rows
    val sumDf = got.groupBy().sum("ts")
    assert(sumDf.collect()(0) == pagesDf.groupBy().sum("ts").collect()(0))
    // metadata-only scans (pushed aggregate) decode no chunk
    val aggPlan = got.agg(min("ts")).queryExecution.executedPlan.toString
    assert(aggPlan.contains("PushedAggregates"), s"no aggregate pushdown in plan:\n$aggPlan")
  }

  test("IN-lists on byte columns answer structurally; key prefixes prune chunks") {
    val root = freshRoot()
    val df = spark.read.parquet(s"$sf/documents.parquet").select(
      concat(lit("https://"), col("source"), lit("/doc/"),
        lpad(col("doc_id").cast("string"), 8, "0")).as("url"),
      col("text"), col("lang"))
    val io = new ParquetTableIO(root)
    io.writeChunks(EncodePipeline.encodeColumnsLocal(df.orderBy("url").coalesce(1),
      col("url"), Seq(
        ColSpec("text", encode(col("text"), "UTF-8")),
        ColSpec("lang", encode(col("lang"), "UTF-8"))), 8L << 10), "docs")
    val got = spark.read.format("fsst").option("root", root).option("table", "docs")
      .option("stringColumns", "text,lang").load()
    // IN-list: rows carry each member's own value (per-index target map)
    val langs = df.select("lang").distinct().orderBy("lang").collect().map(_.getString(0))
    val two = langs.take(2).toSeq
    val want = df.filter(col("lang").isin(two: _*)).groupBy("lang").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val res = got.filter(col("lang").isin(two: _*)).groupBy("lang").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(res == want, s"IN-list mismatch: $res != $want")
    // key prefix pruning: urls share per-source prefixes; a one-source
    // prefix must prune chunks on the sorted table
    val src = df.select("url").orderBy("url").collect()(0).getString(0).split("/doc/")(0)
    val tbl = FsstDataSource.resolve(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("root", root, "table", "docs")))
    def planned(filters: Array[org.apache.spark.sql.sources.Filter]): Int = {
      val sb = new FsstScanBuilder(root, "docs", tbl.schema(), 8)
      sb.pruneColumns(StructType(Seq(StructField("key", StringType))))
      sb.pushFilters(filters)
      sb.build().asInstanceOf[FsstScan].planInputPartitions()
        .map(_.asInstanceOf[ChunkGroupPartition].chunkIds.length).sum
    }
    val total = planned(Array.empty)
    val pruned = planned(Array(org.apache.spark.sql.sources.StringStartsWith("key", src)))
    assert(pruned < total, s"prefix pruned nothing: $pruned of $total")
    val nWant = df.filter(col("url").startsWith(src)).count()
    assert(got.filter(col("key").startsWith(src)).count() == nWant)
    // nextAfterPrefix edges
    assert(FsstScan.nextAfterPrefix("ab") == Some("ac"))
    assert(FsstScan.nextAfterPrefix("a퟿").contains("a"))
    assert(FsstScan.nextAfterPrefix(new String(Array(0x10FFFF), 0, 1)).isEmpty)
  }

  test("FsstCatalog: SQL names, SHOW TABLES, VERSION/TIMESTAMP AS OF time travel, unsupported DDL") {
    val root = freshRoot()
    val io = new ParquetTableIO(root)
    val df = pagesDf
    val (b1, b2) = (df.filter((col("ts") / 1000) % 2 === 0), df.filter((col("ts") / 1000) % 2 =!= 0))
    io.writeChunks(EncodePipeline.encodeColumnsLocal(b1, col("url"), pageSpecs, 64L << 10), "pages")
    Thread.sleep(100) // separate the two COMMIT times for the timestamp test
    io.writeChunks(EncodePipeline.encodeColumnsLocal(b2, col("url"), pageSpecs, 64L << 10), "pages")
    spark.conf.set("spark.sql.catalog.fsst_cat", "fsstspark.sources.FsstCatalog")
    spark.conf.set("spark.sql.catalog.fsst_cat.root", root)
    spark.conf.set("spark.sql.catalog.fsst_cat.stringColumns.pages", "text")
    // plain SQL name resolution + pushdown-capable scan
    assert(spark.sql("SELECT count(*) FROM fsst_cat.pages").collect()(0).getLong(0) == df.count())
    assert(spark.sql("SELECT max(ts) FROM fsst_cat.pages").collect()(0).getLong(0) ==
      df.agg(max("ts")).collect()(0).getLong(0))
    // per-table stringColumns option applied through the catalog
    assert(spark.sql("SELECT text FROM fsst_cat.pages LIMIT 1").schema.fields(0).dataType ==
      StringType)
    assert(spark.sql("SHOW TABLES IN fsst_cat").collect().map(_.getString(1)).toSet == Set("pages"))
    // VERSION AS OF the first commit sees ONLY batch 1
    val batches = io.committedBatchIds(spark, "pages").sorted
    assert(batches.length == 2)
    val n1 = spark.sql(s"SELECT count(*) FROM fsst_cat.pages VERSION AS OF '${batches(0)}'")
      .collect()(0).getLong(0)
    assert(n1 == b1.count(), s"snapshot 1 has $n1 rows, want ${b1.count()}")
    // TIMESTAMP AS OF between the two COMMIT times resolves to batch 1
    // (timestamps resolve on marker mtime — the moment the batch became
    // visible — not the mint millis inside the id)
    val commitTimes = io.committedBatchCommitTimes(spark, "pages").toMap
    val cutoff = commitTimes(batches(1)) - 1
    assert(commitTimes(batches(0)) <= cutoff, "commit times not separated; raise the sleep")
    val tsLit = java.time.Instant.ofEpochMilli(cutoff).toString.stripSuffix("Z")
    val nTs = spark.sql(
      s"SELECT count(*) FROM fsst_cat.pages TIMESTAMP AS OF '$tsLit'").collect()(0).getLong(0)
    assert(nTs == b1.count(), s"timestamp snapshot has $nTs rows, want ${b1.count()}")
    // a VERSION AS OF that names no committed batch errors instead of
    // silently resolving to a neighboring snapshot
    val eVer = intercept[Exception] {
      spark.sql("SELECT count(*) FROM fsst_cat.pages VERSION AS OF 'zzzz'").collect()
    }
    assert(eVer.getMessage.contains("not a committed batch") ||
      eVer.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      eVer.getMessage.toLowerCase.contains("cannot be found"), s"got: ${eVer.getMessage}")
    // unsupported DDL rejected loudly: ADD COLUMN takes only the storable
    // types, and renames rewrite data so they are refused outright
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE fsst_cat.pages ADD COLUMN extra INT")
    }
    assert(e.getMessage.contains("STRING/BINARY/BIGINT/DOUBLE"), s"got: ${e.getMessage}")
    val eRen = intercept[Exception] {
      spark.sql("ALTER TABLE fsst_cat.pages RENAME COLUMN text TO body")
    }
    assert(eRen.getMessage.toLowerCase.contains("does not support"), s"got: ${eRen.getMessage}")
  }

  test("DSv2 write clusters by key: shuffled input lands as non-overlapping chunks") {
    val root = freshRoot()
    val io = new ParquetTableIO(root)
    val cat = s"fsst_ord_${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "fsstspark.sources.FsstCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE TABLE $cat.docs (key STRING, n BIGINT, pad STRING) USING fsst")
    import spark.implicits._
    // deliberately scrambled key order, one partition (so every chunk is
    // cut from one task's stream): the write's required ordering must
    // sort before the writer, or chunk ranges overlap near-fully. Values
    // are fat enough that the writer's 16 MB buffer cuts several chunks.
    val pad = "x" * 12000
    val rows = (0 until 4000).map(i => (f"k${(i * 2654435761L) % 4000}%06d", i.toLong, pad))
    rows.toDF("key", "n", "pad").repartition(1).writeTo(s"$cat.docs").append()
    val m = io.manifest(spark, "docs").filter(col("column") === "n")
      .select("min_key", "max_key").orderBy("min_key").collect()
    assert(m.length >= 2, s"fixture must land several chunks, got ${m.length}")
    m.sliding(2).foreach { case Array(a, b) =>
      assert(a.getString(1) < b.getString(0),
        s"chunks overlap: [${a.getString(0)},${a.getString(1)}] then " +
          s"[${b.getString(0)},${b.getString(1)}] — the write-side key ordering is not applied")
    }
    // and the data round-trips completely
    assert(spark.table(s"$cat.docs").agg(sum("n")).collect()(0).getLong(0)
      == rows.map(_._2).sum)
  }

  test("DSv2 write path: INSERT INTO and writeTo append land as committed catalog batches") {
    val root = freshRoot()
    val io = new ParquetTableIO(root)
    val df = pagesDf
    io.writeChunks(EncodePipeline.encodeColumnsLocal(df, col("url"), pageSpecs, 64L << 10), "pages")
    spark.conf.set("spark.sql.catalog.fsst_wcat", "fsstspark.sources.FsstCatalog")
    spark.conf.set("spark.sql.catalog.fsst_wcat.root", root)
    val n = df.count()
    // table schema order: key, html, score, text, ts (text is BinaryType here)
    def shifted(prefix: String) = df.select(
      concat(lit(prefix), col("url")).as("key"), col("html"), col("score"),
      encode(col("text"), "UTF-8").as("text"), col("ts"))
    // SQL INSERT
    shifted("i1-").createOrReplaceTempView("fsst_extra")
    spark.sql("INSERT INTO fsst_wcat.pages SELECT * FROM fsst_extra")
    val t = spark.sql("SELECT count(*) FROM fsst_wcat.pages").collect()(0).getLong(0)
    assert(t == 2 * n, s"after INSERT: $t rows, want ${2 * n}")
    // df.writeTo append
    shifted("i2-").writeTo("fsst_wcat.pages").append()
    assert(spark.sql("SELECT count(*) FROM fsst_wcat.pages").collect()(0).getLong(0) == 3 * n)
    // content round-trips bit-identically through the connector
    val back = spark.read.format("fsst").option("root", root).option("table", "pages").load()
      .filter(col("key").startsWith("i1-"))
    val want = shifted("i1-")
    val joined = want.join(back, Seq("key"), "full_outer")
    assert(joined.filter(want("text").isNull || back("text").isNull).count() == 0)
    assert(joined.filter(
      !(want("html") <=> back("html")) || !(want("ts") <=> back("ts")) ||
        !(want("score") <=> back("score")) ||
        !(want("text") <=> back("text"))).count() == 0,
      "inserted rows mismatch on read-back")
    // the TYPED read path sees the same files (write format is identical)
    val typedRows = EncodePipeline.decodeLongsNullable(
      io.readChunks(spark, "pages").filter(col("column") === "ts")).count()
    assert(typedRows == 3 * n)
    // each write is its own snapshot: VERSION AS OF batch 1 still sees n rows
    val batches = io.committedBatchIds(spark, "pages").sorted
    assert(batches.length == 3)
    assert(spark.sql(
      s"SELECT count(*) FROM fsst_wcat.pages VERSION AS OF '${batches(0)}'")
      .collect()(0).getLong(0) == n)
    // zone maps flow through the external write: ts aggregate still pushes
    val planStr = spark.sql("SELECT max(ts) FROM fsst_wcat.pages")
      .queryExecution.executedPlan.toString
    assert(planStr.contains("PushedAggregates"), "stats missing from externally written batch")
    // a write with an unknown extra column is rejected in analysis
    val e = intercept[Exception] {
      shifted("i3-").withColumn("bogus", lit(1)).writeTo("fsst_wcat.pages").append()
    }
    assert(e.getMessage.toLowerCase.contains("too many data columns") ||
      e.getMessage.contains("bogus"), s"got: ${e.getMessage}")
    // missing NULLABLE columns are legal Spark append semantics (null-padded):
    // the write path must round-trip those nulls too
    df.limit(3).select(concat(lit("i4-"), col("url")).as("key"), col("ts"))
      .writeTo("fsst_wcat.pages").append()
    val nulls = spark.read.format("fsst").option("root", root).option("table", "pages").load()
      .filter(col("key").startsWith("i4-"))
    assert(nulls.count() == 3)
    assert(nulls.filter(col("html").isNull && col("score").isNull && col("text").isNull)
      .count() == 3, "null-padded columns must read back as nulls")
  }

  test("SQL DDL lifecycle: CREATE TABLE, INSERT bootstrap, CTAS, DROP") {
    val root = freshRoot()
    val cat = s"fsst_ddl_${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "fsstspark.sources.FsstCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    // CREATE on an empty catalog; the declared schema is authoritative
    spark.sql(s"CREATE TABLE $cat.docs (key STRING, text STRING, n BIGINT) USING fsst")
    assert(spark.sql(s"SHOW TABLES IN $cat").collect().map(_.getString(1)).toSet == Set("docs"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.docs").collect()(0).getLong(0) == 0)
    assert(spark.table(s"$cat.docs").schema.fields.map(_.dataType).toSeq ==
      Seq(StringType, StringType, LongType))
    // INSERT bootstraps the empty table through the write path
    val df = spark.read.parquet(s"$sf/documents.parquet").select(
      lpad(col("doc_id").cast("string"), 8, "0").as("key"),
      col("text"), col("n_chars").as("n"))
    df.createOrReplaceTempView("ddl_src")
    spark.sql(s"INSERT INTO $cat.docs SELECT * FROM ddl_src")
    assert(spark.sql(s"SELECT count(*) FROM $cat.docs").collect()(0).getLong(0) == df.count())
    // declared STRING column stays a string after data lands
    assert(spark.table(s"$cat.docs").schema("text").dataType == StringType)
    assert(spark.sql(s"SELECT sum(length(text)) FROM $cat.docs").collect()(0).getLong(0) ==
      df.agg(sum(length(col("text")))).collect()(0).getLong(0))
    // CTAS end-to-end
    spark.sql(s"CREATE TABLE $cat.docs2 USING fsst AS SELECT key, n FROM $cat.docs WHERE n > 100")
    val want = df.filter(col("n") > 100).count()
    assert(spark.sql(s"SELECT count(*) FROM $cat.docs2").collect()(0).getLong(0) == want)
    // invalid DDL rejected
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.bad (a INT, b STRING) USING fsst")
    }
    assert(e.getMessage.contains("key STRING"), s"got: ${e.getMessage}")
    // DROP removes the table entirely
    spark.sql(s"DROP TABLE $cat.docs2")
    assert(spark.sql(s"SHOW TABLES IN $cat").collect().map(_.getString(1)).toSet == Set("docs"))
    assert(!new java.io.File(s"$root/docs2").exists())
  }

  test("chunk-aligned DELETE FROM, TRUNCATE, and $snapshots/$chunks metadata tables") {
    val root = freshRoot()
    val df = pagesDf.orderBy("url").coalesce(1) // disjoint chunk key ranges
    val io = writeTable(df, root, "pages", chunkBytes = 8L << 10)
    val cat = s"fsst_del_${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "fsstspark.sources.FsstCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val n = df.count()
    // pick a chunk boundary: DELETE up to some chunk's max_key is exact
    val bounds = io.manifest(spark, "pages").filter(col("column") === "text")
      .select("max_key", "n_rows").orderBy("max_key").collect()
    assert(bounds.length > 3, "fixture too small")
    val cut = bounds(1).getString(0) // end of the 2nd chunk
    val nDeleted = bounds.take(2).map(_.getLong(1)).sum
    spark.sql(s"DELETE FROM $cat.pages WHERE key <= '$cut'")
    assert(spark.sql(s"SELECT count(*) FROM $cat.pages").collect()(0).getLong(0) == n - nDeleted)
    assert(spark.sql(s"SELECT min(key) FROM $cat.pages").collect()(0).getString(0) > cut)
    // a NON-aligned predicate executes as a COPY-ON-WRITE rewrite: the
    // boundary chunk is decoded, matching rows dropped, the rest
    // re-encoded and swapped in atomically
    val live = io.manifest(spark, "pages").filter(col("column") === "text")
      .select("min_key", "max_key").orderBy("min_key").collect()
    val liveChunk = live.find(r => r.getString(0) != r.getString(1))
      .getOrElse(fail("fixture yielded only single-key chunks; shrink chunkBytes"))
    // min+"\u0000" is strictly between min and max whenever min < max and
    // keys contain no NUL — fixture-spacing independent
    val mid = liveChunk.getString(0) + "\u0000"
    assert(mid > liveChunk.getString(0) && mid < liveChunk.getString(1))
    val nLive = spark.sql(s"SELECT count(*) FROM $cat.pages").collect()(0).getLong(0)
    val nKill = spark.sql(s"SELECT count(*) FROM $cat.pages WHERE key <= '$mid'")
      .collect()(0).getLong(0)
    assert(nKill > 0, "fixture: the boundary chunk should hold rows at its min key")
    spark.sql(s"DELETE FROM $cat.pages WHERE key <= '$mid'")
    assert(spark.sql(s"SELECT count(*) FROM $cat.pages").collect()(0).getLong(0)
      == nLive - nKill, "row-level DELETE removed the wrong rows")
    assert(spark.sql(s"SELECT count(*) FROM $cat.pages WHERE key <= '$mid'")
      .collect()(0).getLong(0) == 0)
    // metadata tables: commit log + live manifest view
    val snaps = spark.sql(s"SELECT * FROM $cat.`pages$$snapshots`").collect()
    assert(snaps.length == io.committedBatchIds(spark, "pages").length)
    val chunkRows = spark.sql(s"SELECT count(*) FROM $cat.`pages$$chunks`").collect()(0).getLong(0)
    assert(chunkRows == io.manifest(spark, "pages").count())
    // TRUNCATE tombstones everything; time travel still sees the history
    val firstBatch = io.committedBatchIds(spark, "pages").sorted.head
    spark.sql(s"TRUNCATE TABLE $cat.pages")
    assert(spark.sql(s"SELECT count(*) FROM $cat.pages").collect()(0).getLong(0) == 0)
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.pages VERSION AS OF '$firstBatch'")
      .collect()(0).getLong(0) == n)
    // regression: re-appending IDENTICAL content after TRUNCATE must be
    // visible — content-derived chunk ids repeat, and tombstones are
    // batch-scoped (they kill only instances that predate the delete)
    io.writeChunks(EncodePipeline.encodeColumnsLocal(df, col("url"), pageSpecs, 8L << 10), "pages")
    assert(spark.sql(s"SELECT count(*) FROM $cat.pages").collect()(0).getLong(0) == n,
      "re-inserted rows after TRUNCATE were swallowed by stale tombstones")
  }

  test("tombstoned chunks are invisible to the connector") {
    val root = freshRoot()
    val df = pagesDf
    val io = writeTable(df, root, "pages")
    val before = spark.read.format("fsst").option("root", root).option("table", "pages").load().count()
    assert(before == df.count())
    // tombstone ONE chunk across all of its columns
    val victim = io.manifest(spark, "pages").select("chunk_id").distinct()
      .orderBy("chunk_id").limit(1)
    val victimRows = io.manifest(spark, "pages")
      .join(victim, Seq("chunk_id"), "left_semi")
    val victimN = victimRows.filter(col("column") === "text")
      .agg(sum("n_rows")).collect()(0).getLong(0)
    io.removeChunks(spark, "pages", victimRows.select("chunk_id", "column"))
    val after = spark.read.format("fsst").option("root", root).option("table", "pages").load().count()
    assert(after == before - victimN, s"expected ${before - victimN} rows after tombstone, got $after")
  }

  test("scan planning pushes key predicates into the manifest parquet scan") {
    val root = freshRoot()
    val df = pagesDf.orderBy("url").coalesce(1)
    val io = writeTable(df, root, "sorted", chunkBytes = 4L << 10)
    val m = io.manifest(spark, "sorted")
    val someUrl = df.select("url").orderBy("url").collect()(5).getString(0)
    val filters: Array[org.apache.spark.sql.sources.Filter] = Array(EqualTo("key", someUrl))
    val pruned = FsstScan.pruneManifest(m, Seq("text"), filters, Set.empty, Set.empty)
    // a selective predicate collects ONLY surviving manifest rows — the
    // driver never sees the full manifest (the 100 TB planning contract)
    val collected = pruned.collect()
    val total = m.filter(col("column") === "text").count()
    assert(collected.nonEmpty && collected.length < total,
      s"pruneManifest collected ${collected.length} of $total text rows")
    // the EXECUTED manifest scan carries the key-bound predicates as
    // parquet PushedFilters (row-group pruning), not post-scan filters
    val planStr = pruned.queryExecution.executedPlan.toString
    assert(planStr.contains("PushedFilters") && planStr.contains("min_key"),
      s"manifest scan lacks pushed key filters:\n$planStr")
    // the full connector plan agrees with the driver-residual recheck
    val tbl = FsstDataSource.resolve(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("root", root, "table", "sorted")))
    val sb = new FsstScanBuilder(root, "sorted", tbl.schema(), 8)
    sb.pruneColumns(StructType(Seq(StructField("key", StringType), StructField("text", BinaryType))))
    sb.pushFilters(filters)
    val chunks = sb.build().asInstanceOf[FsstScan].planInputPartitions()
      .map(_.asInstanceOf[ChunkGroupPartition].chunkIds.length).sum
    assert(chunks == collected.length,
      s"planner kept $chunks chunks but the pruned manifest has ${collected.length} rows")
  }

  test("ALTER TABLE ADD COLUMN: old batches null-pad, new inserts carry it") {
    val root = freshRoot()
    val df = pagesDf
    writeTable(df, root, "pages")
    val cat = s"fsst_evo_${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "fsstspark.sources.FsstCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.conf.set(s"spark.sql.catalog.$cat.stringColumns.pages", "text")
    val n = df.count()
    spark.sql(s"ALTER TABLE $cat.pages ADD COLUMN rank BIGINT")
    // old rows read the new column as NULL (and the plain read still works)
    val t1 = spark.table(s"$cat.pages")
    assert(t1.schema.fieldNames.toSeq ==
      Seq("key", "html", "score", "text", "ts", "rank"))
    assert(t1.count() == n)
    assert(t1.filter(col("rank").isNotNull).count() == 0)
    // projecting ONLY the evolved column still surfaces every row
    assert(t1.select("key", "rank").count() == n)
    // an INSERT after the ALTER lands the column physically
    val extra = df.limit(7).select(
      concat(col("url"), lit("#v2")).as("key"), col("text"), col("html"),
      col("ts"), col("score"), (col("ts") * 2L).as("rank"))
    extra.writeTo(s"$cat.pages").append()
    val t2 = spark.table(s"$cat.pages")
    assert(t2.count() == n + 7)
    assert(t2.filter(col("rank").isNotNull).count() == 7)
    // filters and aggregates stay exact across the generation boundary
    val wantSum = extra.agg(sum("rank")).collect()(0).getLong(0)
    assert(t2.agg(sum("rank")).collect()(0).getLong(0) == wantSum)
    val someRank = extra.select("rank").orderBy("rank").collect()(3).getLong(0)
    assert(t2.filter(col("rank") === someRank).count() ==
      extra.filter(col("rank") === someRank).count())
    // MIN/MAX aggregate pushdown over the evolved column is exact (old
    // chunks carry no rows for it — SQL MIN/MAX ignore their nulls)
    val gotMin = spark.sql(s"SELECT min(rank) AS m FROM $cat.pages").collect()(0).getLong(0)
    assert(gotMin == extra.agg(min("rank")).collect()(0).getLong(0))
    // invalid evolutions refuse loudly
    assert(intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.pages ADD COLUMN bad INT")
    }.getMessage.contains("STRING/BINARY/BIGINT/DOUBLE"))
    assert(intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.pages ADD COLUMN rank BIGINT")
    }.getMessage.contains("already exists"))
  }

  test("row-level DELETE: copy-on-write, time travel, vacuum reclaims files") {
    val root = freshRoot()
    val io = new ParquetTableIO(root)
    val df = pagesDf.orderBy("ts").coalesce(1)
    // two batches split by ts so batch A's files die WHOLE after the
    // rewrite (vacuum can then physically reclaim them)
    val bounds = df.agg(min("ts"), max("ts")).collect()(0)
    val cut = bounds.getLong(0) + (bounds.getLong(1) - bounds.getLong(0)) / 2
    val dfA = df.filter(col("ts") <= cut)
    val dfB = df.filter(col("ts") > cut)
    io.writeChunks(EncodePipeline.encodeColumnsLocal(dfA, col("url"), pageSpecs, 8L << 10), "pages")
    io.writeChunks(EncodePipeline.encodeColumnsLocal(dfB, col("url"), pageSpecs, 8L << 10), "pages")
    val cat = s"fsst_rowdel_${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "fsstspark.sources.FsstCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val preBatch = io.committedBatchIds(spark, "pages").sorted.last
    val n = df.count()
    val maxA = dfA.agg(max("ts")).collect()(0).getLong(0)
    val nKill = df.filter(col("ts") < maxA).count()
    assert(nKill > 0 && nKill < n)
    // a VALUE predicate is never chunk-aligned → copy-on-write path
    spark.sql(s"DELETE FROM $cat.pages WHERE ts < $maxA")
    val t = spark.table(s"$cat.pages")
    assert(t.count() == n - nKill, "row-level DELETE removed the wrong number of rows")
    assert(t.filter(col("ts") < maxA).count() == 0)
    // kept rows round-trip bit-exactly (sum over a decoded long column)
    val wantSum = df.filter(col("ts") >= maxA).agg(sum("ts")).collect()(0).getLong(0)
    assert(t.agg(sum("ts")).collect()(0).getLong(0) == wantSum)
    // time travel to the pre-delete snapshot still sees every row
    assert(spark.sql(s"SELECT count(*) FROM $cat.pages VERSION AS OF '$preBatch'")
      .collect()(0).getLong(0) == n)
    // batch A's files are now fully tombstoned → physically reclaimable
    val freed = io.vacuum(spark, "pages")
    assert(freed > 0, "vacuum reclaimed no files after the copy-on-write rewrite")
    assert(spark.table(s"$cat.pages").count() == n - nKill)
    // a delete matching nothing is a clean no-op (no new snapshot)
    val batchesBefore = io.committedBatchIds(spark, "pages").length
    spark.sql(s"DELETE FROM $cat.pages WHERE ts < ${bounds.getLong(0)}")
    assert(io.committedBatchIds(spark, "pages").length == batchesBefore)
    assert(spark.table(s"$cat.pages").count() == n - nKill)
  }

  test("DELETE on duplicate live chunk instances routes to the group rewrite") {
    val root = freshRoot()
    val io = new ParquetTableIO(root)
    val df = pagesDf.orderBy("url").coalesce(1)
    // identical content twice: content-derived chunk ids collide, so the
    // table legitimately holds duplicate rows under duplicate (chunk_id,
    // column) instances. A value predicate is not chunk-aligned, so
    // canDeleteWhere refuses it and the group-based row-level path runs
    // it — which plans BOTH instances and rewrites both copies.
    io.writeChunks(EncodePipeline.encodeColumnsLocal(df, col("url"), pageSpecs, 8L << 10), "pages")
    io.writeChunks(EncodePipeline.encodeColumnsLocal(df, col("url"), pageSpecs, 8L << 10), "pages")
    val cat = s"fsst_dupdel_${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "fsstspark.sources.FsstCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val n = df.count()
    assert(spark.table(s"$cat.pages").count() == 2 * n)
    val maxTs = df.agg(max("ts")).collect()(0).getLong(0)
    val nKill = df.filter(col("ts") < maxTs).count()
    spark.sql(s"DELETE FROM $cat.pages WHERE ts < $maxTs")
    val t = spark.table(s"$cat.pages")
    assert(t.count() == 2 * (n - nKill), "both duplicate copies must lose the matching rows")
    assert(t.filter(col("ts") < maxTs).count() == 0)
  }

  test("row-level rewrite refuses a pruned-away sibling of a duplicate chunk id") {
    // bucket-mode ids: the same chunk id carries DIFFERENT content in two
    // batches. A zone-pruned UPDATE plans only the matching sibling; the
    // id-granular tombstone would also kill the unplanned one — the plan
    // must refuse instead of silently deleting it.
    val root = freshRoot()
    val io = new ParquetTableIO(root)
    import spark.implicits._
    def kv(lo: Int, hi: Int) = (lo until hi)
      .map(i => fsstspark.pipeline.KV(f"k$i%05d", f"v$i%05d".getBytes("UTF-8"))).toDS()
    // both batches use chunk id 0 (explicit bucket expr) with disjoint keys
    io.writeChunks(EncodePipeline.encodeBytes(kv(0, 100), "text", lit(0L)), "docs")
    io.writeChunks(EncodePipeline.encodeBytes(kv(100, 200), "text", lit(0L)), "docs")
    val cat = s"fsst_sib_${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "fsstspark.sources.FsstCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.conf.set(s"spark.sql.catalog.$cat.stringColumns.docs", "text")
    assert(spark.table(s"$cat.docs").count() == 200)
    // key predicate prunes batch2's instance (keys k00100+), keeps batch1's
    val ex = intercept[Throwable] {
      spark.sql(s"UPDATE $cat.docs SET text = 'x' WHERE key < 'k00050'")
    }
    val msgs = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("live instances") || msgs.contains("sibling"),
      s"expected the diverging-sibling refusal, got:\n$msgs")
    // the refusal left the table untouched
    assert(spark.table(s"$cat.docs").count() == 200)
  }

  test("SQL UPDATE: copy-on-write rewrite, untouched rows intact, time travel") {
    val root = freshRoot()
    val io = new ParquetTableIO(root)
    val df = pagesDf.orderBy("ts").coalesce(1)
    io.writeChunks(EncodePipeline.encodeColumnsLocal(df, col("url"), pageSpecs, 8L << 10), "pages")
    val cat = s"fsst_upd_${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "fsstspark.sources.FsstCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val pre = io.committedBatchIds(spark, "pages").sorted.last
    val mBefore = io.manifest(spark, "pages").count()
    val n = df.count()
    val bounds = df.agg(min("ts"), max("ts")).collect()(0)
    val cut = bounds.getLong(0) + (bounds.getLong(1) - bounds.getLong(0)) / 2
    val nHit = df.filter(col("ts") < cut).count()
    assert(nHit > 0 && nHit < n, "fixture: the cut must split the table")
    spark.sql(s"UPDATE $cat.pages SET ts = ts + 1000000000, score = score * 2 WHERE ts < $cut")
    val t = spark.table(s"$cat.pages")
    assert(t.count() == n, "UPDATE changed the row count")
    assert(t.filter(col("ts") < cut).count() == 0, "matching rows kept their old ts")
    // every column of every row — updated AND untouched — is bit-exact
    val want = df.select(col("url"),
      when(col("ts") < cut, col("ts") + 1000000000L).otherwise(col("ts")).as("ts2"),
      when(col("ts") < cut, col("score") * 2).otherwise(col("score")).as("score2"),
      col("text"), col("html"))
    val joined = want.join(t, want("url") === t("key"), "full_outer")
    assert(joined.filter(col("url").isNull || col("key").isNull).count() == 0)
    val bad = joined.filter(
      !(encode(want("text"), "UTF-8") <=> t("text")) || !(want("html") <=> t("html")) ||
        !(want("ts2") <=> t("ts")) || !(want("score2") <=> t("score"))).count()
    assert(bad == 0, "UPDATE corrupted a row")
    // zone-pruned: chunks that cannot match are NOT rewritten (the update
    // snapshot tombstones fewer manifest rows than the table holds)
    val snap = io.snapshots(spark, "pages").orderBy(col("batch").desc).limit(1).collect()(0)
    val gated = snap.getLong(snap.fieldIndex("n_deletes_gated"))
    assert(gated > 0 && gated < mBefore,
      s"UPDATE rewrote $gated of $mBefore chunk-column instances — expected a pruned subset")
    // time travel to the pre-update snapshot reads the original values
    assert(spark.sql(s"SELECT sum(ts) AS s FROM $cat.pages VERSION AS OF '$pre'")
      .collect()(0).getLong(0) == df.agg(sum("ts")).collect()(0).getLong(0))
  }

  test("_chunk_id metadata column: hidden from *, exact per-row group identity") {
    val root = freshRoot()
    val io = new ParquetTableIO(root)
    val df = pagesDf.orderBy("url").coalesce(1)
    io.writeChunks(EncodePipeline.encodeColumnsLocal(df, col("url"), pageSpecs, 8L << 10), "pages")
    val cat = s"fsst_meta_${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "fsstspark.sources.FsstCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    // hidden from SELECT *
    assert(!spark.table(s"$cat.pages").schema.fieldNames.contains("_chunk_id"))
    // selectable; every key sits inside its chunk's recorded key range
    val m = io.manifest(spark, "pages").filter(col("column") === "text")
      .select(col("chunk_id"), col("min_key"), col("max_key"), col("n_rows"))
    val t = spark.sql(s"SELECT key, _chunk_id FROM $cat.pages")
    assert(t.join(m, t("_chunk_id") === m("chunk_id"), "left_anti").count() == 0,
      "a row carried a chunk id the manifest does not know")
    val escaped = t.join(m, t("_chunk_id") === m("chunk_id"))
      .filter(col("key") < col("min_key") || col("key") > col("max_key")).count()
    assert(escaped == 0, "a row's key fell outside its chunk's recorded range")
    // per-chunk row counts reproduce from the metadata column alone —
    // a metadata-only projection plans the count path (no data files)
    val counted = spark.sql(s"SELECT _chunk_id, count(*) AS n FROM $cat.pages GROUP BY 1")
    assert(counted.join(m, counted("_chunk_id") === m("chunk_id"))
      .filter(col("n") =!= col("n_rows")).count() == 0)
    assert(counted.count() == m.count())
  }

  test("MERGE runtime group filtering: a selective source rewrites only touched chunks") {
    val root = freshRoot()
    val io = new ParquetTableIO(root)
    val docs = pagesDf.select(col("url"), col("ts")).orderBy("url").coalesce(1)
    io.writeChunks(EncodePipeline.encodeColumnsLocal(docs, col("url"),
      Seq(ColSpec("ts", col("ts"), isLong = true)), 2L << 10), "docs")
    val cat = s"fsst_rgf_${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "fsstspark.sources.FsstCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val mBefore = io.manifest(spark, "docs").count()
    val chunksBefore = io.manifest(spark, "docs").select("chunk_id").distinct().count()
    assert(chunksBefore >= 4, s"fixture needs several chunks, got $chunksBefore")
    // source: exactly TWO existing keys — the ON join gives the planner
    // nothing static, so only runtime group filtering can prune
    val twoKeys = docs.orderBy("url").limit(2).select(col("url").as("k"))
    twoKeys.createOrReplaceTempView("fsst_rgf_src")
    val n = docs.count()
    spark.sql(s"""MERGE INTO $cat.docs t USING fsst_rgf_src s ON t.key = s.k
                  WHEN MATCHED THEN UPDATE SET ts = t.ts + 1""")
    // correctness: exactly the two rows moved
    val t = spark.table(s"$cat.docs")
    assert(t.count() == n)
    val wantSum = docs.agg(sum("ts")).collect()(0).getLong(0) + 2
    assert(t.agg(sum("ts")).collect()(0).getLong(0) == wantSum)
    // scale shape: the rewrite tombstoned a PROPER subset of the manifest
    // (un-touched chunks were neither read nor rewritten); two keys fall
    // in at most two chunks = at most two manifest instances gated
    val snap = io.snapshots(spark, "docs").orderBy(col("batch").desc).limit(1).collect()(0)
    val gated = snap.getLong(snap.fieldIndex("n_deletes_gated"))
    assert(gated >= 1 && gated <= 2,
      s"MERGE gated $gated of $mBefore manifest instances — runtime group filtering " +
        "should have narrowed the rewrite to the (at most two) chunks holding the two keys")
  }

  test("MERGE whose source matches nothing tombstones nothing (empty probe)") {
    // regression: the runtime group filter re-plans the operation scan
    // under the probe's matched-id set; when that set is EMPTY the
    // victims recorded by the PRE-filter planning pass must not survive —
    // stale victims tombstoned every statically-planned chunk while the
    // rewrite wrote zero rows, silently deleting the whole table
    val root = freshRoot()
    val io = new ParquetTableIO(root)
    val docs = pagesDf.select(col("url"), col("ts")).orderBy("url").coalesce(1)
    io.writeChunks(EncodePipeline.encodeColumnsLocal(docs, col("url"),
      Seq(ColSpec("ts", col("ts"), isLong = true)), 4L << 10), "docs")
    val cat = s"fsst_emptyp_${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "fsstspark.sources.FsstCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val n = docs.count()
    val sumBefore = docs.agg(sum("ts")).collect()(0).getLong(0)
    // source keys share NO key with the target (X-prefixed): zero matches
    docs.limit(5).select(concat(lit("X"), col("url")).as("k"), col("ts").as("sts"))
      .createOrReplaceTempView("fsst_emptyp_src")
    spark.sql(s"""MERGE INTO $cat.docs t USING fsst_emptyp_src s ON t.key = s.k
                  WHEN MATCHED AND s.sts > 0 THEN DELETE
                  WHEN MATCHED THEN UPDATE SET ts = t.ts + 1
                  WHEN NOT MATCHED THEN INSERT (key, ts) VALUES (s.k, s.sts)""")
    val t = spark.table(s"$cat.docs")
    assert(t.count() == n + 5, "empty-probe MERGE lost or duplicated rows")
    assert(t.filter(!col("key").startsWith("X")).agg(sum("ts")).collect()(0).getLong(0)
      == sumBefore, "an original row was rewritten or tombstoned by a no-match MERGE")
    // the merge snapshot gated ZERO deletes
    val snap = io.snapshots(spark, "docs").orderBy(col("batch").desc).limit(1).collect()(0)
    assert(snap.getLong(snap.fieldIndex("n_deletes_gated")) == 0,
      "a no-match MERGE tombstoned chunks it never read")
  }

  test("MERGE INTO: update, delete, insert commit as ONE snapshot") {
    val root = freshRoot()
    val io = new ParquetTableIO(root)
    val docs = pagesDf.select(col("url"), col("ts")).orderBy("url").coalesce(1)
    io.writeChunks(EncodePipeline.encodeColumnsLocal(docs, col("url"),
      Seq(ColSpec("ts", col("ts"), isLong = true)), 4L << 10), "docs")
    val cat = s"fsst_mrg_${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "fsstspark.sources.FsstCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val bounds = docs.agg(min("ts"), max("ts")).collect()(0)
    val third = (bounds.getLong(1) - bounds.getLong(0)) / 3
    val (lo, hi) = (bounds.getLong(0) + third, bounds.getLong(0) + 2 * third)
    // source: matched rows in [lo, inf) — delete above hi, update the rest —
    // plus unmatched Z-keys (insert) mirroring rows below lo
    docs.filter(col("ts") >= lo).select(col("url").as("k"), col("ts").as("sts"))
      .union(docs.filter(col("ts") < lo)
        .select(concat(lit("Z"), col("url")).as("k"), col("ts").as("sts")))
      .createOrReplaceTempView("fsst_merge_spec_src")
    val batchesBefore = io.committedBatchIds(spark, "docs").length
    spark.sql(s"""MERGE INTO $cat.docs t USING fsst_merge_spec_src s ON t.key = s.k
                  WHEN MATCHED AND s.sts > $hi THEN DELETE
                  WHEN MATCHED THEN UPDATE SET ts = t.ts + 7
                  WHEN NOT MATCHED THEN INSERT (key, ts) VALUES (s.k, s.sts)""")
    // exactly ONE new snapshot carried deletes, updates, and inserts
    assert(io.committedBatchIds(spark, "docs").length == batchesBefore + 1)
    val want = docs.filter(col("ts") <= hi).select(col("url").as("key"),
        when(col("ts") >= lo, col("ts") + 7).otherwise(col("ts")).as("ts"))
      .union(docs.filter(col("ts") < lo)
        .select(concat(lit("Z"), col("url")).as("key"), col("ts")))
    val t = spark.table(s"$cat.docs")
    assert(t.count() == want.count(), "MERGE produced the wrong row count")
    assert(t.exceptAll(want).count() == 0 && want.exceptAll(t).count() == 0,
      "MERGE result does not match the expected table state")
  }

  test("DELETE with a subquery condition runs the group-based rewrite") {
    val root = freshRoot()
    val io = new ParquetTableIO(root)
    val df = pagesDf.orderBy("url").coalesce(1)
    io.writeChunks(EncodePipeline.encodeColumnsLocal(df, col("url"), pageSpecs, 8L << 10), "pages")
    val cat = s"fsst_subq_${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "fsstspark.sources.FsstCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val n = df.count()
    // victims: every 7th key — no chunk alignment, not even translatable
    df.filter(col("ts") % 7000 === 0).select(col("url").as("vk"))
      .createOrReplaceTempView("fsst_subq_victims")
    val nKill = spark.table("fsst_subq_victims").count()
    assert(nKill > 0 && nKill < n)
    spark.sql(s"DELETE FROM $cat.pages WHERE key IN (SELECT vk FROM fsst_subq_victims)")
    val t = spark.table(s"$cat.pages")
    assert(t.count() == n - nKill, "subquery DELETE removed the wrong number of rows")
    assert(t.join(spark.table("fsst_subq_victims"), t("key") === col("vk"), "left_semi")
      .count() == 0, "a deleted key survived")
    // kept rows remain bit-exact
    val wantSum = df.filter(col("ts") % 7000 =!= 0).agg(sum("ts")).collect()(0).getLong(0)
    assert(t.agg(sum("ts")).collect()(0).getLong(0) == wantSum)
  }

  test("UPDATE handles duplicate live chunk instances: both copies rewritten") {
    val root = freshRoot()
    val io = new ParquetTableIO(root)
    val docs = pagesDf.select(col("url"), col("ts")).orderBy("url").coalesce(1)
    // identical content twice: duplicate (chunk_id, column) instances live
    io.writeChunks(EncodePipeline.encodeColumnsLocal(docs, col("url"),
      Seq(ColSpec("ts", col("ts"), isLong = true)), 8L << 10), "docs")
    io.writeChunks(EncodePipeline.encodeColumnsLocal(docs, col("url"),
      Seq(ColSpec("ts", col("ts"), isLong = true)), 8L << 10), "docs")
    val cat = s"fsst_dupu_${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "fsstspark.sources.FsstCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val n = docs.count()
    val cut = docs.agg(max("ts")).collect()(0).getLong(0)
    spark.sql(s"UPDATE $cat.docs SET ts = ts + 13 WHERE ts < $cut")
    val t = spark.table(s"$cat.docs")
    assert(t.count() == 2 * n, "UPDATE collapsed the duplicate rows")
    val wantSum = 2 * docs.select(sum(when(col("ts") < cut, col("ts") + 13)
      .otherwise(col("ts")))).collect()(0).getLong(0)
    assert(t.agg(sum("ts")).collect()(0).getLong(0) == wantSum,
      "one duplicate instance escaped the rewrite")
  }

  test("INSERT OVERWRITE commits deletes and adds as ONE snapshot") {
    val root = freshRoot()
    val cat = s"fsst_ovw_${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "fsstspark.sources.FsstCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE TABLE $cat.t (key STRING, v BIGINT) USING fsst")
    spark.sql(s"INSERT INTO $cat.t VALUES ('a', 1), ('b', 2), ('c', 3)")
    val io = new ParquetTableIO(root)
    val pre = io.committedBatchIds(spark, "t").sorted.last
    spark.sql(s"INSERT OVERWRITE $cat.t VALUES ('x', 10), ('y', 20)")
    val got = spark.sql(s"SELECT key, v FROM $cat.t ORDER BY key").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("x", 10L), ("y", 20L)), s"overwrite left $got")
    // the pre-overwrite snapshot still reads the old rows (time travel)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF '$pre'")
      .collect()(0).getLong(0) == 3)
    // exactly ONE new snapshot carried both the deletes and the adds
    assert(io.committedBatchIds(spark, "t").count(_ > pre) == 1)
    // overwriting with an empty SELECT still deletes (and commits)
    spark.sql(s"INSERT OVERWRITE $cat.t SELECT key, v FROM $cat.t WHERE v > 1000")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").collect()(0).getLong(0) == 0)
    // a non-chunk-aligned overwrite predicate refuses loudly
    spark.sql(s"INSERT INTO $cat.t VALUES ('k1', 1), ('k2', 2)")
    import spark.implicits._
    val e = intercept[Exception] {
      Seq(("k1", 9L)).toDF("key", "v").writeTo(s"$cat.t").overwrite(col("v") === 1L)
    }
    assert(e.getMessage.contains("chunk-aligned"), s"got: ${e.getMessage}")
  }

  test("liveInstanceCounts: In-pushdown and join branches agree") {
    import spark.implicits._
    // manifest-shaped frame: chunk 1 is a duplicate instance (column 'a'
    // twice = two live siblings), chunk 2 is clean (two DIFFERENT columns
    // = one instance), chunk 3 is clean single-column
    val m = Seq((1L, "a"), (1L, "a"), (2L, "a"), (2L, "b"), (3L, "a"))
      .toDF("chunk_id", "column")
    def counts(ids: Seq[Long]): Map[Long, Long] =
      FsstScan.liveInstanceCounts(m, ids).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // small id set → pushed In predicate; scoping drops unlisted chunks
    assert(counts(Seq(1L, 3L)) == Map(1L -> 2L, 3L -> 1L))
    // id set past RuntimeIdPushdownLimit → the join branch; same answer
    val big = (1L to (FsstScan.RuntimeIdPushdownLimit + 5L)).toSeq
    assert(big.size > FsstScan.RuntimeIdPushdownLimit)
    assert(counts(big) == Map(1L -> 2L, 2L -> 1L, 3L -> 1L))
  }

  test("ALTER TABLE DROP COLUMN: purge, resurrection-safe re-ADD, residue recovery, guards") {
    val root = freshRoot()
    val cat = s"fsst_drop_${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "fsstspark.sources.FsstCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE TABLE $cat.t (key STRING, a BIGINT, b BIGINT) USING fsst")
    spark.sql(s"INSERT INTO $cat.t VALUES ('k1', 1, 10), ('k2', 2, 20)")
    spark.sql(s"ALTER TABLE $cat.t DROP COLUMN b")
    // the column leaves the schema and its data is tombstone-purged;
    // counts and aggregates stay exact across the pre-drop batch
    val t1 = spark.table(s"$cat.t")
    assert(t1.schema.fieldNames.toSeq == Seq("key", "a"))
    assert(t1.count() == 2)
    assert(spark.sql(s"SELECT count(*) AS c, min(a) AS m FROM $cat.t").collect()(0)
      .toSeq == Seq(2L, 1L))
    val io = new ParquetTableIO(root)
    assert(io.manifestOpt(spark, "t", None)
      .filter(col("column") === "b").isEmpty, "drop must purge b's manifest rows")
    // inserts after the drop land without the column; mixed generations read
    spark.sql(s"INSERT INTO $cat.t VALUES ('k3', 3)")
    assert(spark.table(s"$cat.t").count() == 3)
    assert(spark.sql(s"SELECT sum(a) AS s FROM $cat.t").collect()(0).getLong(0) == 6)
    // the purge makes re-ADD safe: the name returns with a fresh
    // watermark, old rows read NULL (the dropped 10/20 can NEVER
    // resurface — their rows are tombstoned, invisible to compaction)
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN b BIGINT")
    assert(spark.sql(s"SELECT count(b) AS c FROM $cat.t").collect()(0).getLong(0) == 0)
    spark.sql(s"INSERT INTO $cat.t VALUES ('k4', 4, 44)")
    assert(spark.sql(s"SELECT count(b) AS c, sum(b) AS s FROM $cat.t").collect()(0)
      .toSeq == Seq(1L, 44L))
    // live typed-path data under a name the schema never declared must
    // NOT be destroyed by a metadata DDL — ADD refuses loudly
    import spark.implicits._
    val typedC = EncodePipeline.encodeColumnsLocal(
      Seq(("rk1", 7L)).toDF("k", "c"), col("k"),
      Seq(ColSpec("c", col("c"), isLong = true)), 64L << 10)
    io.writeChunks(typedC, "t")
    assert(intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.t ADD COLUMN c BIGINT")
    }.getMessage.contains("never dropped"))
    // typed-path data appended AFTER a COMPLETED drop is new data, not
    // interrupted-purge residue (its batch sorts after the drop's
    // ledger watermark) — re-ADD refuses rather than destroys it
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN e BIGINT")
    spark.sql(s"ALTER TABLE $cat.t DROP COLUMN e")
    val typedE = EncodePipeline.encodeColumnsLocal(
      Seq(("rk2", 9L)).toDF("k", "e"), col("k"),
      Seq(ColSpec("e", col("e"), isLong = true)), 64L << 10)
    io.writeChunks(typedE, "t")
    assert(intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.t ADD COLUMN e BIGINT")
    }.getMessage.contains("not attributable to the interrupted drop"))
    // interrupted-purge recovery: replay DROP's exact crash window for
    // column f — ledger + schema written, purge never ran (the ledger
    // cut is f's max committed live batch, as DROP records it) — the
    // re-ADD purges the residue before declaring, so the stray 555 can
    // never surface
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN f BIGINT")
    spark.sql(s"INSERT INTO $cat.t VALUES ('k5', 5, 55, 555)")
    val preDrop = FsstCatalog.readDeclaredSchema(spark, root, "t").get
    val fCut = FsstCatalog.maxLiveBatch(spark, io, "t", Seq("f"))("f")
    FsstCatalog.writeDroppedLedger(spark, root, "t",
      FsstCatalog.readDroppedLedger(spark, root, "t") + ("f" -> fCut))
    FsstCatalog.writeDeclaredSchema(spark, root, "t",
      org.apache.spark.sql.types.StructType(preDrop.fields.filterNot(_.name == "f")))
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN f BIGINT")
    assert(spark.sql(s"SELECT count(f) AS n FROM $cat.t").collect()(0).getLong(0) == 0)
    assert(io.manifestOpt(spark, "t", None)
      .filter(col("column") === "f").isEmpty, "re-ADD must purge ledgered residue")
    // guards: the key, a missing column, and the last covering column
    assert(intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.t DROP COLUMN key")
    }.getMessage.contains("key"))
    // a missing column is rejected by Spark's analyzer before the catalog
    assert(intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.t DROP COLUMN nope")
    }.getMessage.contains("cannot be resolved"))
    assert(intercept[Exception] {
      // b and f (absent from the early batches whose live rows only a
      // covers) would be the only value columns left: purging a would
      // make those rows vanish — refused
      spark.sql(s"ALTER TABLE $cat.t DROP COLUMN a")
    }.getMessage.contains("rewrite the table onto one schema generation"))
  }

  test("per-column compaction cannot fake an anchor: scans and DROP refuse, never lose rows") {
    val root = freshRoot()
    val cat = s"fsst_cov_${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "fsstspark.sources.FsstCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE TABLE $cat.t (key STRING, a BIGINT) USING fsst")
    spark.sql(s"INSERT INTO $cat.t VALUES ('k1', 1), ('k2', 2)")
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN b BIGINT")
    spark.sql(s"INSERT INTO $cat.t VALUES ('k3', 3, 30)")
    assert(spark.table(s"$cat.t").count() == 3)
    // compact column a ONLY: all of a's rows move to one fresh batch
    // that carries nothing else. b's ADD watermark now predates every
    // live batch — the watermark arithmetic this guards against would
    // admit b as an anchor — but b is physically absent from the
    // rewrite batch, so anchoring on it loses k1/k2 (their rows live
    // solely as a-chunks there) and dropping a vanishes them entirely
    val io = new ParquetTableIO(root)
    val res = fsstspark.pipeline.Compaction.compactColumn(
      spark, io, "t", "a", minChunkBytes = 1L << 40)
    assert(res.chunksCompacted >= 2, s"fixture must rewrite a's chunks, got $res")
    // single-column reads stay exact: a lives wholly in the rewrite
    // batch (count()/count(*) would plan an empty projection, which
    // needs an anchor and refuses below — so read the values)
    val keyA = spark.table(s"$cat.t").select("key", "a").collect()
    assert(keyA.length == 3 && keyA.map(_.getLong(1)).sum == 6)
    // no column covers every live instance now: count, key-only, and
    // all-evolved scans refuse loudly instead of silently undercounting
    assert(intercept[Exception] {
      spark.sql(s"SELECT count(*) AS n FROM $cat.t").collect()
    }.getMessage.contains("rewrite the table onto one schema generation"))
    assert(intercept[Exception] {
      spark.table(s"$cat.t").select("b").collect()
    }.getMessage.contains("rewrite the table onto one schema generation"))
    // a multi-column zip across mismatched instances is impossible —
    // the per-instance completeness check stays loud
    assert(intercept[Exception] {
      spark.table(s"$cat.t").select("a", "b").collect()
    }.getMessage.contains("expected exactly one manifest row"))
    // DROP a would purge the rewrite batch — k1/k2 have no other live
    // column, so their rows would vanish; refused (the watermark proxy
    // allowed exactly this)
    assert(intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.t DROP COLUMN a")
    }.getMessage.contains("rewrite the table onto one schema generation"))
  }

  test("a torn sidecar swap recovers from the complete tmp; a torn tmp write reads as absent") {
    val root = freshRoot()
    val cat = s"fsst_torn_${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "fsstspark.sources.FsstCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE TABLE $cat.t (key STRING, v BIGINT) USING fsst")
    spark.sql(s"INSERT INTO $cat.t VALUES ('a', 1), ('b', 2)")
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN c1 BIGINT")
    spark.sql(s"INSERT INTO $cat.t VALUES ('c', 3, 30)")
    // simulate a second ALTER crashing mid-swap on a filesystem whose
    // overwrite-rename is delete-then-rename: the committed watermark
    // file is gone; the fully-written tmp (old columns + the new one,
    // whose schema update never landed → inert) remains
    import java.nio.file.{Files, Paths}
    val since = Paths.get(root, "t", "_schema_since.tsv")
    val tmp = Paths.get(root, "t", "._schema_since.tsv.tmp")
    val committed = new String(Files.readAllBytes(since), "UTF-8")
    Files.write(tmp, (committed + "\nc2\tzz_undeclared").getBytes("UTF-8"))
    Files.delete(since)
    // the read recovers c1's watermark from the tmp and promotes it —
    // pre-ALTER scans keep null-padding instead of failing ("expected
    // exactly one manifest row for column 'c1'")
    assert(FsstCatalog.readColumnSince(spark, root, "t").contains("c1"))
    assert(Files.exists(since), "recovery must promote the tmp")
    assert(spark.table(s"$cat.t").count() == 3)
    // an INVALID tmp with no committed file (the tmp write itself died
    // mid-stream — no committed state was ever at risk) reads as absent
    // and is NOT promoted
    Files.delete(since)
    Files.write(tmp, "c1".getBytes("UTF-8")) // no tab separator
    assert(FsstCatalog.readColumnSince(spark, root, "t").isEmpty)
    assert(!Files.exists(since))
  }

  // ------------------------------------------- driver manifest snapshot

  /** `body` with table `pages` under `root` past the driver's batch limit:
    * data-less commit markers, with ids sorting before every real batch so
    * that no `VERSION AS OF` pin moves, send every plan through the
    * distributed manifest jobs.
    */
  private def aboveLimit[T](root: String)(body: => T): T = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pads = (0 to ParquetTableIO.DriverManifestMaxBatches).map(i =>
      new Path(f"$root/pages/commits/b0000000000000-pad$i%05d"))
    pads.foreach(fs.create(_, true).close())
    try body
    finally pads.foreach(fs.delete(_, false))
  }

  /** Spark jobs `body` starts from this thread. A listener counts job
    * starts carrying a local-property tag; a sentinel job run after
    * `body` shows that the asynchronous listener bus has delivered every
    * earlier job start.
    */
  private def jobsOf(body: => Unit): Int = {
    import scala.jdk.CollectionConverters._
    val tag = "fsst.test.job"
    val id = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag))).foreach(seen.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      def tagged(t: String)(f: => Unit): Unit = {
        sc.setLocalProperty(tag, t)
        try f finally sc.setLocalProperty(tag, null)
      }
      tagged(id)(body)
      tagged(id + "-end")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(id + "-end") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(id + "-end"), "listener bus never delivered the sentinel job")
      seen.asScala.count(_ == id)
    } finally sc.removeSparkListener(listener)
  }

  private def catalogOn(root: String, prefix: String): String = {
    val cat = s"${prefix}_${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "fsstspark.sources.FsstCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.conf.set(s"spark.sql.catalog.$cat.stringColumns.pages", "text")
    cat
  }

  /** Three committed batches of the pages fixture (split by doc id), each
    * sorted by url, then one whole chunk tombstoned.
    */
  private def threeBatchesAndATombstone(root: String): (ParquetTableIO, DataFrame) = {
    val io = new ParquetTableIO(root)
    val df = pagesDf
    (0 until 3).foreach { i =>
      io.writeChunks(EncodePipeline.encodeColumnsLocal(
        df.filter((col("ts") / 1000) % 3 === i).orderBy("url").coalesce(1),
        col("url"), pageSpecs, 8L << 10), "pages")
    }
    val victim = io.manifest(spark, "pages").select("chunk_id").distinct()
      .orderBy("chunk_id").limit(1)
    io.removeChunks(spark, "pages",
      io.manifest(spark, "pages").join(victim, Seq("chunk_id"), "left_semi")
        .select("chunk_id", "column"))
    val live = spark.read.format("fsst").option("root", root).option("table", "pages")
      .option("stringColumns", "text").load()
    (io, live)
  }

  test("a SQL point read of a small table runs exactly one Spark job") {
    val root = freshRoot()
    val (io, live) = threeBatchesAndATombstone(root)
    assert(io.committedBatchIds(spark, "pages").length >= 4, "3 appends + 1 delete batch")
    assert(io.manifestRows(spark, "pages", None).isDefined, "fixture must fit the snapshot")
    val cat = catalogOn(root, "fsst_jobs")
    val keys = live.select("key").orderBy("key").collect().map(_.getString(0))
    val key = keys(keys.length / 2)
    val query = s"SELECT key, ts, text FROM $cat.pages WHERE key = '$key'"
    var rows = Array.empty[org.apache.spark.sql.Row]
    val jobs = jobsOf { rows = spark.sql(query).collect() }
    assert(jobs == 1, s"point read ran $jobs Spark jobs; planning must run none")
    assert(rows.length == 1 && rows(0).getString(0) == key)
    // above the limit the same read plans through manifest jobs
    val jobsAbove = aboveLimit(root)(jobsOf(spark.sql(query).collect()))
    assert(jobsAbove > 1, s"the above-limit path ran only $jobsAbove jobs")
  }

  /** `n` rows of the pages fixture under fresh keys, as a local relation
    * in the column order of `table` (reading it runs no Spark job).
    */
  private def localInsertView(table: String, view: String, prefix: String, n: Int): Unit = {
    val cols = spark.table(table).schema.fieldNames.toSeq
    val src = pagesDf.orderBy("url").limit(n)
      .withColumn("key", concat(lit(prefix), col("url")))
      .select(cols.map(col): _*)
    spark.createDataFrame(java.util.Arrays.asList(src.collect(): _*), src.schema)
      .createOrReplaceTempView(view)
  }

  test("a writeChunks batch and a SQL INSERT each run exactly one Spark job") {
    val root = freshRoot()
    val io = new ParquetTableIO(root)
    val src = pagesDf.repartition(4).localCheckpoint()
    val enc = EncodePipeline.encodeColumnsLocal(src, col("url"), pageSpecs, 8L << 10)
    assert(enc.rdd.getNumPartitions == 4)
    val writeJobs = jobsOf(io.writeChunks(enc, "pages"))
    assert(writeJobs == 1, s"writeChunks ran $writeJobs Spark jobs; encode and write are one")
    val cat = catalogOn(root, "fsst_writejobs")
    def count(): Long = spark.sql(s"SELECT count(*) FROM $cat.pages").collect()(0).getLong(0)
    val n = count()
    assert(n == pagesDf.count())
    localInsertView(s"$cat.pages", "fsst_insert64", "ins-", 64)
    val insertJobs = jobsOf(spark.sql(s"INSERT INTO $cat.pages SELECT * FROM fsst_insert64").collect())
    assert(insertJobs == 1, s"a 64-row INSERT ran $insertJobs Spark jobs; the write job is the one")
    assert(count() == n + 64)
  }

  test("repairManifest rebuilds the rows writeChunks and SQL INSERT recorded") {
    val root = freshRoot()
    val io = writeTable(pagesDf, root, "pages", 8L << 10)
    val cat = catalogOn(root, "fsst_repair")
    localInsertView(s"$cat.pages", "fsst_insert_repair", "ins-", 64)
    spark.sql(s"INSERT INTO $cat.pages SELECT * FROM fsst_insert_repair")
    assert(io.committedBatchIds(spark, "pages").length == 2)
    def rows(): Seq[String] = io.manifest(spark, "pages").collect().map(_.mkString("|")).sorted.toSeq
    val written = rows()
    assert(written.length == io.readChunks(spark, "pages").count())
    io.repairManifest(spark, "pages")
    val repaired = rows()
    val changed = written.diff(repaired)
    assert(changed.isEmpty && repaired.size == written.size,
      s"repair changed ${changed.size} of ${written.size} manifest rows, " +
        s"e.g. ${changed.headOption} -> ${repaired.diff(written).headOption}")
  }

  test("a single-key SQL DELETE runs no more Spark jobs than a single-key UPDATE") {
    val root = freshRoot()
    val (_, live) = threeBatchesAndATombstone(root)
    val cat = catalogOn(root, "fsst_dmljobs")
    val keys = live.select("key").orderBy("key").collect().map(_.getString(0))
    val (updKey, delKey) = (keys(keys.length / 3), keys(2 * keys.length / 3))
    def count(): Long = spark.sql(s"SELECT count(*) FROM $cat.pages").collect()(0).getLong(0)
    val n = count()
    val updateJobs = jobsOf(spark.sql(
      s"UPDATE $cat.pages SET ts = ts + 1 WHERE key = '$updKey'").collect())
    val deleteJobs = jobsOf(spark.sql(s"DELETE FROM $cat.pages WHERE key = '$delKey'").collect())
    // the tombstone file is written on the driver: no job of its own
    assert(updateJobs == 3, s"single-key UPDATE ran $updateJobs Spark jobs")
    assert(deleteJobs <= updateJobs,
      s"single-key DELETE ran $deleteJobs Spark jobs, UPDATE $updateJobs")
    assert(count() == n - 1)
    assert(spark.sql(s"SELECT count(*) FROM $cat.pages WHERE key = '$delKey'")
      .collect()(0).getLong(0) == 0)
  }

  test("the driver snapshot sees a swapped table directory, a vacuum, a repair and an in-place rewrite") {
    import org.apache.hadoop.fs.Path
    val root = freshRoot()
    val cat = catalogOn(root, "fsst_fresh")
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def count(): Long = spark.sql(s"SELECT count(*) FROM $cat.pages").collect()(0).getLong(0)
    def sumTs(): Long = spark.sql(s"SELECT sum(ts) FROM $cat.pages").collect()(0).getLong(0)
    val df = pagesDf
    val (a, b) = (df.filter((col("ts") / 1000) % 2 === 0), df.filter((col("ts") / 1000) % 2 =!= 0))
    val (nA, nB) = (a.count(), b.count())
    val io = new ParquetTableIO(root)
    // 1. table directory swapped on disk: A moves aside, B is written in
    // its place, then A is swapped back
    io.writeChunks(EncodePipeline.encodeColumnsLocal(a, col("url"), pageSpecs, 8L << 10), "pages")
    assert(count() == nA)
    assert(fs.rename(new Path(s"$root/pages"), new Path(s"$root/pages_a")))
    io.writeChunks(EncodePipeline.encodeColumnsLocal(b, col("url"), pageSpecs, 8L << 10), "pages")
    assert(count() == nB, "read after the directory swap must see the new table")
    assert(fs.delete(new Path(s"$root/pages"), true))
    assert(fs.rename(new Path(s"$root/pages_a"), new Path(s"$root/pages")))
    assert(count() == nA, "read after swapping back must see the old table again")
    // 2. vacuum: B appended, then A's rows deleted row-level (a value
    // predicate) so A's files die whole; vacuum deletes them and
    // rewrites the manifest
    io.writeChunks(EncodePipeline.encodeColumnsLocal(b, col("url"), pageSpecs, 8L << 10), "pages")
    assert(count() == nA + nB)
    spark.sql(s"DELETE FROM $cat.pages WHERE ts % 2000 = 0")
    assert(count() == nB)
    assert(io.vacuum(spark, "pages") > 0, "vacuum reclaimed nothing")
    assert(count() == nB && sumTs() == b.agg(sum("ts")).collect()(0).getLong(0),
      "read after vacuum must not plan reclaimed files")
    // 3. repair: a manifest partition lost on disk hides its batch; the
    // rebuilt manifest shows it again
    io.writeChunks(EncodePipeline.encodeColumnsLocal(a, col("url"), pageSpecs, 8L << 10), "pages")
    val last = io.committedBatchIds(spark, "pages").max
    assert(count() == nA + nB)
    assert(fs.delete(new Path(s"$root/pages/manifest/batch=$last"), true))
    assert(count() == nB, "a missing manifest partition hides its batch")
    io.repairManifest(spark, "pages")
    assert(count() == nA + nB, "read after repairManifest must see the rebuilt manifest")
    // 4. a manifest file rewritten in place under the same path (here cut
    // to one row): the snapshot must not trust the cached decode
    val before = io.manifest(spark, "pages").count()
    val mf = fs.listStatus(new Path(s"$root/pages/manifest/batch=$last")).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).head
    val tmp = s"$root/manifest_cut"
    spark.read.parquet(mf.toString).limit(1).coalesce(1).write.parquet(tmp)
    val cut = fs.listStatus(new Path(tmp)).map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    assert(fs.delete(mf, false) && fs.rename(cut, mf))
    val after = io.manifest(spark, "pages").count()
    assert(after < before)
    val snapshotRows = io.manifestRows(spark, "pages", None).get.live.length
    assert(snapshotRows == after, "the snapshot served the cached decode of a rewritten file")
    assert(count() == aboveLimit(root)(count()))
  }

  test("VERSION AS OF an older batch reads that snapshot after further commits") {
    val root = freshRoot()
    val (io, live) = threeBatchesAndATombstone(root)
    val cat = catalogOn(root, "fsst_pin")
    val batches = io.committedBatchIds(spark, "pages").sorted
    def countAt(b: String): Long =
      spark.sql(s"SELECT count(*) FROM $cat.pages VERSION AS OF '$b'").collect()(0).getLong(0)
    def keysAt(b: String): Set[String] =
      spark.sql(s"SELECT key FROM $cat.pages VERSION AS OF '$b' WHERE ts >= 0")
        .collect().map(_.getString(0)).toSet
    val first = batches.head
    val (n1, k1) = (countAt(first), keysAt(first))
    // more commits: an append and a row-level delete
    val extra = pagesDf.orderBy("url").limit(9).select(concat(col("url"), lit("#2")).as("url"),
      col("text"), col("html"), col("ts"), col("score"))
    val cut = 20000L
    val want = live.filter(col("ts") >= cut).count() + extra.filter(col("ts") >= cut).count()
    io.writeChunks(EncodePipeline.encodeColumnsLocal(extra, col("url"), pageSpecs, 8L << 10),
      "pages")
    spark.sql(s"DELETE FROM $cat.pages WHERE ts < $cut")
    assert(countAt(first) == n1 && keysAt(first) == k1, "the pinned snapshot moved")
    assert(spark.sql(s"SELECT count(*) FROM $cat.pages").collect()(0).getLong(0) == want)
    // each pin equals the distributed manifest at that pin
    io.committedBatchIds(spark, "pages").foreach { b =>
      val snapshotRows = io.manifestRows(spark, "pages", Some(b)).get.live.length
      assert(snapshotRows == io.manifestAsOf(spark, "pages", b).count(), s"rows differ at $b")
    }
  }

  test("the driver snapshot and the above-limit path plan identical partitions and aggregates") {
    import org.apache.spark.sql.sources._
    val root = freshRoot()
    val (io, _) = threeBatchesAndATombstone(root)
    val cat = catalogOn(root, "fsst_equiv")
    val firstBatch = io.committedBatchIds(spark, "pages").min
    // an evolved column, landed physically by one later insert
    spark.sql(s"ALTER TABLE $cat.pages ADD COLUMN rank BIGINT")
    pagesDf.limit(7).select(concat(col("url"), lit("#v2")).as("key"), col("text"), col("html"),
      col("ts"), col("score"), (col("ts") * 2L).as("rank")).writeTo(s"$cat.pages").append()
    assert(io.manifestRows(spark, "pages", None).isDefined)
    assert(aboveLimit(root)(io.manifestRows(spark, "pages", None)).isEmpty)
    def table(asOf: Option[String]): FsstTable = {
      val opts = new java.util.HashMap[String, String]()
      opts.put("root", root)
      opts.put("table", "pages")
      asOf.foreach(opts.put("asOf", _))
      FsstDataSource.resolve(new org.apache.spark.sql.util.CaseInsensitiveStringMap(opts))
    }
    type Plan = (Seq[(Seq[Long], Seq[Long], Seq[ColFile], Boolean)], Long, Long)
    def plan(asOf: Option[String], cols: Seq[String], filters: Array[Filter],
        runtime: Array[Filter] = Array.empty): Plan = {
      val tbl = table(asOf)
      val sb = tbl.newScanBuilder(
        org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()).asInstanceOf[FsstScanBuilder]
      sb.pruneColumns(StructType(cols.map(c =>
        tbl.schema().fields.find(_.name == c).getOrElse(StructField(c, LongType)))))
      sb.pushFilters(filters)
      val scan = sb.build().asInstanceOf[FsstScan]
      if (runtime.nonEmpty) scan.filter(runtime)
      val parts = scan.planInputPartitions().toSeq.map { case p: ChunkGroupPartition =>
        (p.chunkIds.toSeq, p.nRows.toSeq, p.colFiles.toSeq, p.readValues)
      }
      val st = scan.estimateStatistics()
      (parts, st.numRows().getAsLong, st.sizeInBytes().getAsLong)
    }
    val keys = spark.read.format("fsst").option("root", root).option("table", "pages").load()
      .select("key").orderBy("key").collect().map(_.getString(0))
    val (k1, k2, k3) = (keys(keys.length / 5), keys(keys.length / 2), keys(4 * keys.length / 5))
    val prefix = k2.split("/doc/")(0)
    val tsAll = pagesDf.agg(min("ts"), max("ts")).collect()(0)
    val (lo, hi) = (tsAll.getLong(0), tsAll.getLong(1))
    val mid = lo + (hi - lo) / 2
    val chunkIds = io.manifest(spark, "pages").select("chunk_id").distinct().orderBy("chunk_id")
      .collect().map(r => java.lang.Long.valueOf(r.getLong(0)))
    val base = Seq("key", "ts", "text")
    val cases: Seq[(String, () => Plan)] = Seq(
      "no filter" -> (() => plan(None, base, Array.empty)),
      "key eq" -> (() => plan(None, base, Array(EqualTo("key", k2)))),
      "key range" -> (() => plan(None, base,
        Array(GreaterThanOrEqual("key", k1), LessThan("key", k3)))),
      "key prefix" -> (() => plan(None, Seq("key"), Array(StringStartsWith("key", prefix)))),
      "key IN" -> (() => plan(None, base, Array(In("key", Array[Any](k1, k3))))),
      "zone ranges" -> (() => plan(None, Seq("key", "score"), Array(
        GreaterThanOrEqual("ts", mid), LessThanOrEqual("ts", mid + (hi - lo) / 10),
        GreaterThan("score", 1.0)))),
      "_chunk_id runtime ids" -> (() => plan(None, Seq("key", "text", FsstScan.ChunkIdCol),
        Array.empty, Array(In(FsstScan.ChunkIdCol, chunkIds.take(3).toArray[Any])))),
      // more ids than the distributed view pushes into the manifest scan:
      // three live ids padded with ids no chunk has
      "_chunk_id runtime ids above the pushdown limit" -> (() => plan(None,
        Seq("key", FsstScan.ChunkIdCol), Array.empty, Array(In(FsstScan.ChunkIdCol,
          (chunkIds.take(3) ++ (1 to FsstScan.RuntimeIdPushdownLimit).map(i =>
            java.lang.Long.valueOf(1000000000L + i))).toArray[Any])))),
      "empty projection" -> (() => plan(None, Seq.empty, Array(GreaterThan("key", k1)))),
      "all-evolved projection" -> (() => plan(None, Seq("rank"), Array.empty)),
      "asOf" -> (() => plan(Some(firstBatch), base, Array(LessThan("key", k3)))))
    val driverPlans = cases.map { case (name, run) => name -> run() }
    val distributedPlans = aboveLimit(root)(cases.map { case (name, run) => name -> run() })
    driverPlans.zip(distributedPlans).foreach { case ((name, driver), (_, distributed)) =>
      assert(driver == distributed, s"$name: driver snapshot and above-limit plans differ")
      assert(driver._1.nonEmpty || name == "asOf", s"$name: fixture planned nothing")
    }
    // pushed aggregates, current and pinned
    def aggs(asOf: Option[String]) = {
      val r = spark.read.format("fsst").option("root", root).option("table", "pages")
      val d = asOf.fold(r)(r.option("asOf", _)).load()
        .agg(count(lit(1)), min("ts"), max("ts"), min("key"), max("key"),
          min("score"), max("score"))
      assert(d.queryExecution.executedPlan.toString.contains("PushedAggregates"))
      d.collect()(0)
    }
    val pins = Seq(None, Some(firstBatch))
    assert(pins.map(aggs) == aboveLimit(root)(pins.map(aggs)), "pushed aggregates differ")
    // the chunk-aligned DELETE decision: the same victims, or None on both
    val chunkKeys = io.manifest(spark, "pages").filter(col("column") === "text")
      .select("min_key", "max_key").collect().map(r => (r.getString(0), r.getString(1)))
    val (splitLo, splitHi) = chunkKeys.find { case (a, b) => a < b }
      .getOrElse(fail("fixture yielded only single-key chunks"))
    assert(splitLo + "\u0000" < splitHi)
    val (kMin, kMax) = (chunkKeys.map(_._1).min, chunkKeys.map(_._2).max)
    val deletes: Seq[(String, Array[Filter])] = Seq(
      "key =" -> Array(EqualTo("key", k2)),
      "key <" -> Array(LessThan("key", kMin)),
      "key <=" -> Array(LessThanOrEqual("key", kMax)),
      "key >" -> Array(GreaterThan("key", kMax)),
      "key >=" -> Array(GreaterThanOrEqual("key", kMin)),
      "key prefix" -> Array(StringStartsWith("key", "https://")),
      "And" -> Array(And(GreaterThanOrEqual("key", kMin), LessThanOrEqual("key", kMax))),
      "AlwaysTrue" -> Array(AlwaysTrue()),
      "a key that splits a chunk" -> Array(LessThanOrEqual("key", splitLo + "\u0000")),
      "a value predicate" -> Array(LessThan("ts", mid)))
    def victims(filters: Array[Filter]): Option[Set[(Long, String)]] =
      FsstScan.chunkAlignedVictims(ManifestView(root, "pages", None), filters).map(_.toSet)
    val driverVictims = deletes.map { case (_, f) => victims(f) }
    val distributedVictims = aboveLimit(root)(deletes.map { case (_, f) => victims(f) })
    deletes.map(_._1).zip(driverVictims.zip(distributedVictims)).foreach {
      case (name, (driver, distributed)) =>
        assert(driver == distributed, s"$name: chunk-aligned victims differ")
    }
    val liveRows = io.manifest(spark, "pages").select("chunk_id", "column").distinct().count()
    assert(driverVictims.flatten.map(_.size.toLong).toSet == Set(0L, liveRows),
      "fixture: expected both no-victim and whole-table aligned deletes")
    assert(driverVictims.takeRight(2) == Seq(None, None))
  }

  test("a manifest past either driver limit plans through the distributed path") {
    import org.apache.hadoop.fs.Path
    val root = freshRoot()
    val io = writeTable(pagesDf, root, "pages")
    def read() = spark.read.format("fsst").option("root", root).option("table", "pages").load()
    def count(): Long = read().count()
    val n = count()
    def keysNow = read().select("key").collect().map(_.getString(0)).toSet
    val keys = keysNow
    assert(io.manifestRows(spark, "pages", None).isDefined)
    // batches: data-less commit markers past the batch limit
    aboveLimit(root) {
      assert(io.committedBatchIds(spark, "pages").length > ParquetTableIO.DriverManifestMaxBatches)
      assert(io.manifestRows(spark, "pages", None).isEmpty)
      assert(count() == n && keysNow == keys)
    }
    assert(io.manifestRows(spark, "pages", None).isDefined)
    // bytes: an inert tombstone file (gated by a batch that never
    // commits) past the byte limit
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.range(400000).select(col("id").as("chunk_id"), expr("uuid()").as("column"),
        lit("b9999999999999-inert").as("gated_by"))
      .coalesce(1).write.mode("append").parquet(s"$root/pages/tombstones")
    assert(fs.getContentSummary(new Path(s"$root/pages/tombstones")).getLength >
      ParquetTableIO.DriverManifestMaxBytes)
    assert(io.manifestRows(spark, "pages", None).isEmpty)
    assert(count() == n && keysNow == keys)
  }

  /** Flips the byte at offset `at` of a local file. */
  private def flipAt(file: String, at: Long): Unit = {
    val f = new java.io.RandomAccessFile(
      new java.io.File(new org.apache.hadoop.fs.Path(file).toUri), "rw")
    try {
      f.seek(at)
      val b = f.read()
      f.seek(at)
      f.write(b ^ 0xff)
    } finally f.close()
  }

  /** `column`'s metadata in the first row group of a parquet file. */
  private def columnMeta(file: String, column: String) = {
    import scala.jdk.CollectionConverters._
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), spark.sparkContext.hadoopConfiguration))
    try reader.getFooter.getBlocks.get(0).getColumns.asScala
      .find(_.getPath.toDotString == column).get
    finally reader.close()
  }

  /** Flips the byte at the middle of `column`'s column chunk in the first
    * row group of a local parquet file, located through the file's footer.
    */
  private def flipMidByte(file: String, column: String): Unit = {
    val cc = columnMeta(file, column)
    flipAt(file, cc.getStartingPos + cc.getTotalSize / 2)
  }

  /** Flips the first byte of `column`'s minimum statistic where the file's
    * footer holds it: the row-group statistic a pushed-down filter reads.
    */
  private def flipFooterStatistic(file: String, column: String): Unit = {
    val needle = columnMeta(file, column).getStatistics.getMinBytes
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(file).toUri))
    val footerLen = java.nio.ByteBuffer.wrap(bytes, bytes.length - 8, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    val footerStart = bytes.length - 8 - footerLen
    val at = (footerStart to bytes.length - 8 - needle.length).reverseIterator
      .find(i => java.util.Arrays.equals(bytes, i, i + needle.length, needle, 0, needle.length))
    assert(at.isDefined, s"the footer of $file holds no statistic of $column")
    flipAt(file, at.get.toLong)
  }

  /** `rows` must fail, and on a checksum: a corrupt catalog file never
    * reads as rows.
    */
  private def failsOnChecksum(what: String)(rows: => Array[org.apache.spark.sql.Row]): Unit = {
    val e = intercept[Exception](rows)
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage).toLowerCase)
    assert(messages.exists(_.contains("checksum")), s"$what failed, but not on a checksum: $e")
  }

  private val pageReadSpecs = Seq(ReadSpec("text"), ReadSpec("html"),
    ReadSpec("ts", isLong = true), ReadSpec("score", isDouble = true))

  /** The one parquet file under `dir` (at any depth). */
  private def onlyParquet(dir: String): String = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    val files = try walk.iterator.asScala.map(_.toString).filter(_.endsWith(".parquet")).toList
      finally walk.close()
    assert(files.length == 1, s"expected one parquet file under $dir: $files")
    new java.io.File(files.head).toURI.toString
  }

  test("a flipped byte in a chunk, manifest or tombstone file fails every read") {
    def read(root: String) = spark.read.format("fsst").option("root", root)
      .option("table", "pages").option("stringColumns", "text").load()
    val firstKey = pagesDf.agg(min("url")).first().getString(0)
    // a chunk file: the middle of one text file's value_blob column chunk
    val root = freshRoot()
    val io = writeTable(pagesDf, root, "pages")
    val victim = io.manifest(spark, "pages").filter(col("column") === "text").first()
    val key = victim.getAs[String]("min_key")
    flipMidByte(victim.getAs[String]("file"), "value_blob")
    failsOnChecksum("chunk file: connector scan")(read(root).select("key", "text").collect())
    failsOnChecksum("chunk file: connector point lookup")(
      read(root).filter(col("key") === key).select("key", "text").collect())
    failsOnChecksum("chunk file: readChunks + decodeColumns")(
      EncodePipeline.decodeColumns(io.readChunks(spark, "pages"), pageReadSpecs).collect())
    // a manifest file, flipped before any read has decoded it: once in a
    // column chunk, once in the footer's min_key statistic, which
    // chunksForKey's pushed-down filter reads
    for ((where, flip) <- Seq[(String, String => Unit)](
        "column chunk" -> (flipMidByte(_, "file")),
        "footer" -> (flipFooterStatistic(_, "min_key")))) {
      val mRoot = freshRoot()
      val mIo = writeTable(pagesDf, mRoot, "pages")
      flip(onlyParquet(s"$mRoot/pages/manifest"))
      failsOnChecksum(s"manifest $where: connector scan")(
        read(mRoot).select("key", "text").collect())
      failsOnChecksum(s"manifest $where: connector point lookup")(
        read(mRoot).filter(col("key") === firstKey).select("key", "text").collect())
      failsOnChecksum(s"manifest $where: chunksForKey + decodeColumns")(
        EncodePipeline.decodeColumns(mIo.chunksForKey(spark, "pages", firstKey), pageReadSpecs)
          .collect())
      failsOnChecksum(s"manifest $where: Spark read")(mIo.manifest(spark, "pages").collect())
    }
    // a tombstone file's footer: its gated_by statistic, which the
    // tombstone read's pushed-down filter reads; a skipped row group
    // would bring the deleted chunk back
    val tRoot = freshRoot()
    val tIo = writeTable(pagesDf, tRoot, "pages")
    tIo.removeChunks(spark, "pages", tIo.manifest(spark, "pages")
      .filter(col("chunk_id") === tIo.manifest(spark, "pages").agg(min("chunk_id")).first()
        .getLong(0))
      .select("chunk_id", "column"))
    flipFooterStatistic(onlyParquet(s"$tRoot/pages/tombstones"), "gated_by")
    failsOnChecksum("tombstone footer: connector scan")(
      read(tRoot).select("key", "text").collect())
    failsOnChecksum("tombstone footer: readChunks + decodeColumns")(
      EncodePipeline.decodeColumns(tIo.readChunks(spark, "pages"), pageReadSpecs).collect())
  }

  test("local catalog writes fork no chmod and leave the .crc sidecars Hadoop writes") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = freshRoot()
    val conf = spark.sparkContext.hadoopConfiguration
    val saved = Seq("fs.file.impl", "fs.file.impl.disable.cache").map(k => k -> conf.get(k))
    ChmodCountingFs.paths.clear()
    conf.set("fs.file.impl", classOf[ChmodCountingFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    val control = new org.apache.hadoop.fs.Path(root, "control")
    try {
      writeTable(pagesDf, root, "pages", 8L << 10)
      val cat = catalogOn(root, "fsst_nochmod")
      localInsertView(s"$cat.pages", "fsst_insert_nochmod", "ins-", 16)
      spark.sql(s"INSERT INTO $cat.pages SELECT * FROM fsst_insert_nochmod")
      val keys = spark.sql(s"SELECT key FROM $cat.pages ORDER BY key").collect()
        .map(_.getString(0))
      spark.sql(s"UPDATE $cat.pages SET ts = ts + 1 WHERE key = '${keys(keys.length / 3)}'")
      spark.sql(s"DELETE FROM $cat.pages WHERE key = '${keys(2 * keys.length / 3)}'")
      // the counter sees a create through Hadoop's local file system
      control.getFileSystem(conf).create(control, false).close()
    } finally saved.foreach {
      case (k, null) => conf.unset(k)
      case (k, v) => conf.set(k, v)
    }
    val chmods = ChmodCountingFs.paths.asScala.toList
    assert(chmods.exists(_.endsWith("/control")), s"the chmod counter saw no create: $chmods")
    val underTable = chmods.filter(_.startsWith(s"$root/pages"))
    assert(underTable.isEmpty, s"catalog writes forked chmod: ${underTable.take(3)}")
    // every file the writes made has the sidecar Hadoop writes for its bytes
    val files = {
      val walk = Files.walk(Paths.get(root, "pages"))
      try walk.iterator.asScala.filter(f => Files.isRegularFile(f) &&
        !f.getFileName.toString.startsWith(".")).toList
      finally walk.close()
    }
    assert(files.exists(_.toString.contains("/commits/")) &&
      files.exists(_.toString.contains("/manifest/")) &&
      files.exists(_.toString.contains("/tombstones/")) &&
      files.exists(_.toString.contains("/data/")), s"missing kinds of catalog file: $files")
    val local = org.apache.hadoop.fs.FileSystem.getLocal(conf)
    val copies = freshRoot()
    files.zipWithIndex.foreach { case (f, i) =>
      val crc = f.resolveSibling(s".${f.getFileName}.crc")
      assert(Files.exists(crc), s"$f has no .crc sidecar")
      val out = local.create(new org.apache.hadoop.fs.Path(copies, s"f$i"), false)
      try out.write(Files.readAllBytes(f)) finally out.close()
      assert(java.util.Arrays.equals(Files.readAllBytes(crc),
        Files.readAllBytes(Paths.get(copies, s".f$i.crc"))), s"$crc differs from Hadoop's")
    }
  }
}

/** Hadoop's local file system, recording every path it sets a permission
  * on: without the native Hadoop library each is a forked `chmod`.
  */
class ChmodCountingFs extends org.apache.hadoop.fs.LocalFileSystem(new ChmodCountingRawFs)

class ChmodCountingRawFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def setPermission(p: org.apache.hadoop.fs.Path,
      permission: org.apache.hadoop.fs.permission.FsPermission): Unit = {
    ChmodCountingFs.paths.add(p.toUri.getPath)
    super.setPermission(p, permission)
  }
}

object ChmodCountingFs {
  val paths = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
