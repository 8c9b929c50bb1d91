package fsstspark.tools

import fsstspark.gen.PagesGen
import fsstspark.pipeline.{EncodePipeline, KV}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Two-parallelism scaling evidence for the north rule's N→4N criterion
  * (no real cluster in sandbox — driver instruction: run the same job at
  * local[N] and local[4N] on identical input and report throughput at
  * both plus scaling efficiency).
  *
  * The measured job is the production shape: scan a parquet pages table
  * (vectorized reader, column pruning) → per-partition chunk → train +
  * encode → metrics aggregate. The corpus is generated deterministically
  * once and written to parquet; every parallelism level reads the same
  * files. Three job shapes are reported:
  *  - `scan`    — same scan + row conversion, no codec (the floor)
  *  - `local`   — zero-shuffle partition-local chunking (Iceberg
  *                data-file rewrite shape; the 10^12-row path)
  *  - `shuffle` — hash-partitioned global chunking (one shuffle + sort)
  *
  * Per level: fresh SparkSession, untimed warmup pass (JIT/codegen),
  * then `reps` timed passes; best is reported (least interference).
  * Efficiency = (T_N / T_4N) / 4 — 1.0 is perfectly linear.
  *
  * Usage: runMain fsstspark.tools.ScalingBench [nPages] [cpusCsv] [reps] [corpusDir] [modesCsv]
  * Run each cpu level in its own JVM and put corpusDir + SPARK_LOCAL_DIRS
  * on tmpfs so disk writeback doesn't serialize runs.
  */
object ScalingBench {
  def main(args: Array[String]): Unit = {
    val nPages = if (args.length > 0) args(0).toLong else 100000L
    val cpuLevels = (if (args.length > 1) args(1) else "8,32").split(",").map(_.trim.toInt)
    val reps = if (args.length > 2) args(2).toInt else 3
    val corpusDir = (if (args.length > 3) args(3) else "/dev/shm/fsst-corpus") +
      s"/pages_${nPages}"
    val wantModes = (if (args.length > 4) args(4) else "scan,local,shuffle")
      .split(",").map(_.trim).toSet

    // generate-once: deterministic corpus shared by all levels
    if (!new java.io.File(corpusDir + "/_SUCCESS").exists()) {
      val spark = SparkSession.builder().master("local[32]")
        .appName("fsstspark-corpus-gen")
        .config("spark.sql.shuffle.partitions", 32)
        .config("spark.ui.enabled", "false").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      PagesGen.pages(spark, nPages, seed = 42L, skew = 0.002,
        numPartitions = 128, wordsScale = 6.0)
        .write.mode("overwrite").parquet(corpusDir)
      spark.stop()
      println(s"[scaling] corpus written: $corpusDir")
    }

    // encoded catalog shared by the read modes (dsv2 connector vs typed
    // decodeColumns): built once from the same corpus
    val catalogRoot = corpusDir + "_catalog_v2"
    // pages catalog only for the modes that read it — a scan/encode-only
    // run must not pay the full corpus encode
    val readModes = Set("dsv2", "dsv2_typed", "dsv2_long", "dsv2_write", "pipeline_write")
    if (wantModes.exists(readModes) &&
        !new java.io.File(s"$catalogRoot/pages/commits").exists()) {
      val spark = SparkSession.builder().master("local[32]")
        .appName("fsstspark-catalog-gen")
        .config("spark.sql.shuffle.partitions", 32)
        .config("spark.ui.enabled", "false").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val io = new fsstspark.io.ParquetTableIO(catalogRoot)
      io.writeChunks(EncodePipeline.encodeColumnsLocal(
        spark.read.parquet(corpusDir), col("url"),
        Seq(EncodePipeline.ColSpec("text", encode(col("text"), "UTF-8")),
          EncodePipeline.ColSpec("html", col("html")),
          EncodePipeline.ColSpec("ts", unix_micros(col("warc_ts")), isLong = true)),
        4L << 20), "pages")
      spark.stop()
      println(s"[scaling] catalog written: $catalogRoot")
    }
    val out = scala.collection.mutable.LinkedHashMap.empty[(Int, String), (Double, Long)]
    for (cpus <- cpuLevels) {
      val spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .appName(s"fsstspark-scaling-$cpus")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.files.maxPartitionBytes", s"${16 * 1024 * 1024}")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      import spark.implicits._
      spark.sparkContext.setLogLevel("ERROR")

      def pages = spark.read.parquet(corpusDir)
      def textKv = pages.select(col("url").as("key"), encode(col("text"), "UTF-8").as("value")).as[KV]
      def htmlKv = pages.select(col("url").as("key"), col("html").as("value")).as[KV]
      val nChunks = math.max(cpus * 8, (nPages / 2000).toInt)
      def chunk = EncodePipeline.chunkIdByHash(col("key"), nChunks)
      // corpus byte total for the write modes, computed ONCE untimed (a
      // full scan — inside the timed body it would dominate the number)
      lazy val corpusWriteBytes: Long = pages
        .agg(sum(octet_length(encode(col("text"), "UTF-8"))) +
          sum(octet_length(col("html"))) + count(lit(1)) * 8L)
        .head().getLong(0)

      val modes: Seq[(String, () => Long)] = Seq(
        "scan" -> (() => {
          def consume(kv: org.apache.spark.sql.Dataset[KV]): Long =
            kv.mapPartitions { it =>
              var s = 0L
              it.foreach(r => s += (if (r.value == null) 0 else r.value.length))
              Iterator.single(s)
            }.reduce(_ + _)
          consume(textKv) + consume(htmlKv)
        }),
        "local" -> (() =>
          EncodePipeline.encodeBytesLocal(textKv, "text", 4L << 20)
            .agg(sum("bytes_in")).head().getLong(0) +
          EncodePipeline.encodeBytesLocal(htmlKv, "html", 4L << 20)
            .agg(sum("bytes_in")).head().getLong(0)),
        "shuffle" -> (() =>
          EncodePipeline.encodeBytes(textKv, "text", chunk)
            .agg(sum("bytes_in")).head().getLong(0) +
          EncodePipeline.encodeBytes(htmlKv, "html", chunk)
            .agg(sum("bytes_in")).head().getLong(0)),
        // full-table decode through the DataSource V2 connector (reported
        // bytes = decoded output, the read-side throughput denominator)
        "dsv2" -> (() =>
          spark.read.format("fsst")
            .option("root", catalogRoot).option("table", "pages").load()
            .agg(sum(octet_length(col("text"))) + sum(octet_length(col("html"))))
            .head().getLong(0)),
        // same catalog through the typed decodeColumns path (the baseline
        // the connector must not trail)
        "dsv2_typed" -> (() =>
          EncodePipeline.decodeColumns(
            new fsstspark.io.ParquetTableIO(catalogRoot).readChunks(spark, "pages"),
            Seq(EncodePipeline.ReadSpec("text"), EncodePipeline.ReadSpec("html")))
            .agg(sum(octet_length(col("text"))) + sum(octet_length(col("html"))))
            .head().getLong(0)),
        // long-column scan through the connector — sum() is NOT a pushed
        // aggregate, so the scan carries every value; bytes = 8/row
        "dsv2_long" -> (() => // % keeps the 200k-row sum inside a long
          8L * spark.read.format("fsst")
            .option("root", catalogRoot).option("table", "pages").load()
            .groupBy().agg(sum(col("ts") % 1000000L), count(col("ts"))).head().getLong(1)),
        // DSv2 WRITE path: writeTo().append() the whole corpus into a fresh
        // catalog table (per-task encode + executor-written chunk files +
        // marker commit); bytes = input text+html+ts
        "dsv2_write" -> (() => {
          val wroot = corpusDir + s"_writebench/${java.util.UUID.randomUUID().toString.take(8)}"
          // seed the table so the catalog can infer its schema
          val seedIo = new fsstspark.io.ParquetTableIO(wroot)
          val src = spark.read.parquet(corpusDir).select(
            col("url").as("key"), encode(col("text"), "UTF-8").as("text"),
            col("html"), unix_micros(col("warc_ts")).as("ts"))
          seedIo.writeChunks(EncodePipeline.encodeColumnsLocal(
            src.limit(100), col("key"),
            Seq(EncodePipeline.ColSpec("text", col("text")),
              EncodePipeline.ColSpec("html", col("html")),
              EncodePipeline.ColSpec("ts", col("ts"), isLong = true)), 4L << 20), "pages")
          val cat = s"fsst_wb_${math.abs(wroot.hashCode)}"
          spark.conf.set(s"spark.sql.catalog.$cat", "fsstspark.sources.FsstCatalog")
          spark.conf.set(s"spark.sql.catalog.$cat.root", wroot)
          // schema order: key, html, text, ts
          src.select(col("key"), col("html"), col("text"), col("ts"))
            .writeTo(s"$cat.pages").append()
          // reclaim the rep's tmpfs table (fresh root per rep; ~ms on tmpfs)
          val p = new org.apache.hadoop.fs.Path(wroot)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
          corpusWriteBytes
        }),
        // the pipeline equivalent of dsv2_write: encodeColumnsLocal +
        // writeChunks into a fresh catalog (the write bench's baseline)
        "pipeline_write" -> (() => {
          val wroot = corpusDir + s"_writebench/${java.util.UUID.randomUUID().toString.take(8)}"
          val io = new fsstspark.io.ParquetTableIO(wroot)
          val src = spark.read.parquet(corpusDir).select(
            col("url").as("key"), encode(col("text"), "UTF-8").as("text"),
            col("html"), unix_micros(col("warc_ts")).as("ts"))
          io.writeChunks(EncodePipeline.encodeColumnsLocal(src, col("key"),
            Seq(EncodePipeline.ColSpec("text", col("text")),
              EncodePipeline.ColSpec("html", col("html")),
              EncodePipeline.ColSpec("ts", col("ts"), isLong = true)), 16L << 20), "pages")
          val p = new org.apache.hadoop.fs.Path(wroot)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
          corpusWriteBytes
        })
      )
      for ((mode, runOnce) <- modes if wantModes(mode)) {
        val bytesIn = runOnce() // warmup, untimed
        def gcMillis: Long = {
          var t = 0L
          java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
            .forEach(b => t += b.getCollectionTime)
          t
        }
        val raw = (1 to reps).map { _ =>
          // let the ContextCleaner reap previous reps' shuffle files so
          // writeback of dead data doesn't throttle the timed run
          System.gc()
          Thread.sleep(500)
          val g0 = gcMillis
          val t0 = System.nanoTime()
          runOnce()
          val dt = (System.nanoTime() - t0) / 1e9
          (dt, (gcMillis - g0) / 1000.0)
        }
        println(f"[scaling]   $mode%s rep detail: ${raw.map { case (t, g) => f"$t%.2fs(gc $g%.2f)" }.mkString(", ")}")
        val times = raw.map(_._1).sorted
        val best = times.head
        out((cpus, mode)) = (best, bytesIn)
        println(f"[scaling] local[$cpus%d] $mode%s: best=$best%.2fs over ${bytesIn / 1e6}%.1f MB → ${bytesIn / 1e9 / best}%.3f GB/s (runs: ${times.map(t => f"$t%.2f").mkString(", ")})")
      }
      spark.stop()
    }
    val cs = cpuLevels.sorted
    if (cs.length >= 2) {
      for (mode <- out.keysIterator.map(_._2).toSeq.distinct) {
        val (tLow, _) = out((cs.head, mode))
        val (tHigh, bytes) = out((cs.last, mode))
        val factor = cs.last.toDouble / cs.head
        val eff = (tLow / tHigh) / factor
        println(f"""{"scaling":{"mode":"$mode%s","n_low":${cs.head},"n_high":${cs.last},"t_low_sec":$tLow%.3f,"t_high_sec":$tHigh%.3f,"bytes":$bytes,"gbps_low":${bytes / 1e9 / tLow}%.3f,"gbps_high":${bytes / 1e9 / tHigh}%.3f,"speedup":${tLow / tHigh}%.3f,"efficiency":$eff%.3f}}""")
      }
    }
  }
}
