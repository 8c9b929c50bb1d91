package fsstspark.io

import fsstspark.pipeline.ChunkResult
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** "Iceberg-shaped" chunk-table catalog (SURVEY.md §7.0).
  *
  * No Iceberg runtime ships in this sandbox, so the catalog is modeled
  * honestly as: data = parquet partitioned by (ingest batch, column name);
  * manifest = an explicit small parquet table with one row per
  * (file, column, chunk) carrying Iceberg's file/column-chunk granularity
  * metadata (row count, byte counts, key range). The pipeline programs
  * against this trait; a real Iceberg catalog drops in by implementing it.
  */
trait TableIO {
  def writeChunks(results: Dataset[ChunkResult], table: String): Unit
  def readChunks(spark: SparkSession, table: String): Dataset[ChunkResult]

  /** One row per (data file, column, chunk): lineage + pruning stats. */
  def manifest(spark: SparkSession, table: String): DataFrame

  /** Chunks whose key range may contain `key` — manifest-level pruning
    * (the read path of an Iceberg metadata filter).
    */
  def chunksForKey(spark: SparkSession, table: String, key: String): Dataset[ChunkResult]

  /** Chunks of `column` whose VALUE zone map may intersect `[lo, hi]` —
    * manifest-level pruning on a non-key column (Iceberg column-stats
    * skipping). Chunks without stats (byte columns, all-null chunks,
    * pre-stats writers) are conservatively returned. For double columns
    * pass bounds through [[fsstspark.util.SortableBits.fromDouble]].
    */
  def chunksForValueRange(spark: SparkSession, table: String, column: String,
      lo: Long, hi: Long): Dataset[ChunkResult]

  /** The table as of snapshot `asOf` (a batch id from
    * [[committedBatchIds]]/[[snapshots]]): chunks from batches committed
    * with id <= `asOf`, minus deletes whose gating batch is committed and
    * <= `asOf`. Batch ids embed their creation millis, so lexicographic
    * order IS time order. Legacy immediate tombstones (written before
    * deletes were snapshot-gated) apply to every snapshot. Vacuum
    * physically reclaims files, so snapshots older than the last vacuum
    * may be unreadable — Iceberg `expire_snapshots` semantics.
    */
  def readChunksAsOf(spark: SparkSession, table: String, asOf: String): Dataset[ChunkResult]

  /** One row per committed snapshot, oldest first: batch id, creation
    * millis parsed from the id, chunks added, and chunk deletes gated on
    * it (a delete-only snapshot adds zero chunks).
    */
  def snapshots(spark: SparkSession, table: String): DataFrame

  /** Logically delete chunks (Iceberg delete-file semantics): the ids land
    * in a tombstone table and every read path filters them. Data files are
    * immutable; physical reclamation is a separate GC concern.
    *
    * Tombstones are BATCH-SCOPED: a delete kills only chunk instances
    * from batches committed before it, so re-appending identical content
    * later (same content-derived chunk id) is a new, visible instance —
    * DELETE + re-INSERT round-trips. The [[deletedChunks]] ingest ledger
    * still lists every tombstoned id regardless of scope.
    */
  def removeChunks(spark: SparkSession, table: String, chunkIds: DataFrame): Unit

  /** ATOMIC swap: append `results` and delete `removeChunkIds` so readers
    * see either the old chunks or the new ones, never both and never
    * neither — the Iceberg snapshot-commit semantics compaction needs.
    */
  def replaceChunks(spark: SparkSession, table: String,
      results: Dataset[ChunkResult], removeChunkIds: DataFrame): Unit

  /** Whether the table has any committed data (readable without error). */
  def tableExists(spark: SparkSession, table: String): Boolean

  /** The tombstoned (chunk_id, column) pairs. Ingest dedup must treat
    * these as "already ingested": a chunk compacted away was present once,
    * and replaying its source must not revive it.
    */
  def deletedChunks(spark: SparkSession, table: String): DataFrame

  /** Opaque ids of the currently committed ingest batches (an append-only
    * set — a batch id never becomes uncommitted). Incremental consumers
    * diff this against the ids they have already folded in.
    */
  def committedBatchIds(spark: SparkSession, table: String): Array[String]

  /** Manifest rows restricted to the given batches, WITHOUT tombstone
    * filtering (an ingest ledger wants every id that ever landed) — the
    * O(new batches) read an incremental dedup cache performs per
    * micro-batch instead of rescanning the whole manifest.
    */
  def manifestForBatches(spark: SparkSession, table: String, batches: Seq[String]): DataFrame
}

/** Process-wide strictly-increasing wall-clock millis for batch ids:
  * shared across ParquetTableIO instances so every batch id minted in
  * this process is lexicographically AFTER all earlier ones even within
  * one millisecond or across an NTP step backwards.
  */
private[io] object BatchClock {
  private val last = new java.util.concurrent.atomic.AtomicLong(0L)
  def nextMillis(): Long =
    last.updateAndGet(prev => math.max(prev + 1, System.currentTimeMillis()))
  /** Advance past ids minted by a PREVIOUS process: a commit burst can
    * push minted millis ahead of the wall clock, and a restarted writer
    * re-seeded from `currentTimeMillis` alone could otherwise mint an id
    * that sorts BEFORE its predecessor's last commit.
    */
  def ensureAtLeast(ms: Long): Unit =
    last.updateAndGet(prev => math.max(prev, ms))
}

/** One manifest row decoded on the driver — the columns of
  * [[ParquetTableIO.manifest]], in its order. Zone bounds are None for
  * chunks without stats (byte columns, all-null chunks, pre-stats
  * writers).
  */
final case class ManifestEntry(file: String, column: String, chunkId: Long, codec: String,
    nRows: Long, bytesIn: Long, bytesOut: Long, minKey: String, maxKey: String,
    valueMin: Option[Long], valueMax: Option[Long])

object ManifestEntry {
  /** From a row of the manifest DataFrame (or any frame whose first
    * columns follow its order).
    */
  def fromRow(r: org.apache.spark.sql.Row): ManifestEntry =
    ManifestEntry(r.getString(0), r.getString(1), r.getLong(2), r.getString(3), r.getLong(4),
      r.getLong(5), r.getLong(6), r.getString(7), r.getString(8),
      if (r.isNullAt(9)) None else Some(r.getLong(9)),
      if (r.isNullAt(10)) None else Some(r.getLong(10)))
}

/** A table's manifest on the driver under ONE committed-batch set
  * ([[ParquetTableIO.manifestRows]]). `live` holds exactly the rows
  * `manifestOpt` returns for the same pin; `ingested` holds every row of
  * the in-scope batches with no tombstone filtering (the
  * `manifestForBatches` ledger view).
  */
final class ManifestRows private[io] (val live: Array[ManifestEntry],
    parts: Seq[Array[ManifestEntry]]) {
  def ingested: Array[ManifestEntry] = parts.iterator.flatMap(_.iterator).toArray
}

/** A decoded manifest or tombstone file ([[ManifestCache]]). */
private[io] sealed trait DecodedFile { def size: Int }
private[io] final case class ManifestPart(batch: String, rows: Array[ManifestEntry])
    extends DecodedFile { def size: Int = rows.length }
/** `gatedBy` None = a legacy immediate delete. */
private[io] final case class Tombstone(chunkId: Long, column: String, gatedBy: Option[String])
private[io] final case class TombstonePart(rows: Array[Tombstone]) extends DecodedFile {
  def size: Int = rows.length
}

/** Manifest and tombstone files already decoded on the driver, so that
  * [[ParquetTableIO.manifestRows]] reads only files it has not seen. An
  * entry is trusted only while a fresh listing shows the same path,
  * length and modification time: a commit by another process, a vacuum,
  * a repair or a table directory swapped on disk all change the listing,
  * and no write path has to invalidate anything. Per table the cache
  * keeps exactly the files of its latest listing, so vacuumed or
  * rewritten files leave it on the next read; a table whose listing is
  * empty (gone) or that has not been read for [[IdleMillis]] is dropped —
  * a workload that writes a fresh table per job holds at most a minute
  * of them. Over all tables the cache holds at most [[MaxRows]] decoded
  * rows: past that, the least recently read tables leave first.
  */
private[io] object ManifestCache {
  val IdleMillis: Long = 60L * 1000
  /** Decoded manifest and tombstone rows held over all tables, about
    * 100 MB at the ~510 B per row measured for
    * [[ParquetTableIO.DriverManifestMaxBytes]]; a dense manifest at that
    * limit holds about 150 k rows. The table just read always stays.
    */
  val MaxRows: Long = 200000L

  private final case class Cached(length: Long, mtime: Long, decoded: DecodedFile)
  private final case class TableFiles(usedAt: Long, rows: Long, files: Map[String, Cached])
  private val tables = scala.collection.mutable.HashMap.empty[String, TableFiles]

  /** Drops the tables not read for [[IdleMillis]]; callers hold the lock. */
  private def sweep(now: Long): Unit = tables.filterInPlace((_, t) => now - t.usedAt < IdleMillis)

  /** The decoded contents of `listed`, in listing order; `decode` runs
    * only for files not cached under the same length and mtime.
    */
  def load(tableDir: String, listed: Seq[org.apache.hadoop.fs.FileStatus],
      decode: org.apache.hadoop.fs.FileStatus => DecodedFile): Seq[DecodedFile] = {
    val now = System.currentTimeMillis()
    val known = synchronized {
      sweep(now)
      tables.get(tableDir).map(_.files).getOrElse(Map.empty)
    }
    val fresh = listed.map { st =>
      val path = st.getPath.toString
      path -> (known.get(path) match {
        case Some(c) if c.length == st.getLen && c.mtime == st.getModificationTime => c
        case _ => Cached(st.getLen, st.getModificationTime, decode(st))
      })
    }
    synchronized {
      if (fresh.isEmpty) tables.remove(tableDir)
      else {
        tables(tableDir) = TableFiles(now, fresh.iterator.map(_._2.decoded.size.toLong).sum,
          fresh.toMap)
        var total = tables.valuesIterator.map(_.rows).sum
        tables.toSeq.filter(_._1 != tableDir).sortBy(_._2.usedAt).iterator
          .takeWhile(_ => total > MaxRows)
          .foreach { case (dir, t) => tables.remove(dir); total -= t.rows }
      }
    }
    fresh.map(_._2.decoded)
  }

  def forget(tableDir: String): Unit = synchronized {
    sweep(System.currentTimeMillis())
    tables.remove(tableDir)
  }
}

object ParquetTableIO {
  /** Largest manifest, in bytes of committed manifest plus tombstone
    * parquet, that [[ParquetTableIO.manifestRows]] plans from on the
    * driver; larger manifests plan through the distributed manifest jobs.
    * Set from a point-lookup probe on a 4-core host (local[4]): a dense
    * manifest (722 chunk rows per batch) of 5.2 MB decodes to 185 k rows
    * taking 94 MB of heap (~510 B per row); planning it took 440 ms from
    * the cached snapshot and 3.9 s on the first, decoding read, against
    * 3.9 s on the distributed path. At 4 MB the first read stays at or
    * below the distributed cost and a table holds at most ~75 MB of
    * decoded rows.
    */
  val DriverManifestMaxBytes: Long = 4L << 20

  /** Most committed batches planned on the driver. Checked against the
    * commit markers before any batch directory is listed, so a table
    * with many small batches (a long micro-batch stream) pays no extra
    * listing on its way to the distributed path. The same probe with
    * one small manifest file per batch (4.4 KB) passes the byte limit
    * at about 900 batches; at 1024 batches it planned in 0.63 s cached
    * and 8.8 s decoding, against 15.5 s distributed.
    */
  val DriverManifestMaxBatches: Int = 1024

  /** Explicit manifest schema, used on EVERY manifest read: batch
    * partitions written before zone-map stats existed (round ≤3) lack
    * `value_min`/`value_max` and must read back as null (= not prunable)
    * rather than leaving the resolved schema to whichever footer
    * inference samples in a mixed-generation directory. A manifest file
    * holds every column but the `batch` partition.
    */
  private[io] val ManifestSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("file", StringType), StructField("column", StringType),
      StructField("chunk_id", LongType), StructField("codec", StringType),
      StructField("n_rows", LongType), StructField("bytes_in", LongType),
      StructField("bytes_out", LongType), StructField("min_key", StringType),
      StructField("max_key", StringType), StructField("value_min", LongType),
      StructField("value_max", LongType), StructField("batch", StringType)))
  }

  /** Tombstone schema, explicit on every read: files written before the
    * gating column existed read `gated_by` as null — i.e. as IMMEDIATE
    * deletes, which is exactly what they were — and mixed old/new
    * directories resolve deterministically instead of by whichever footer
    * schema inference happens to pick.
    */
  private[io] val TombSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("chunk_id", LongType), StructField("column", StringType),
      StructField("gated_by", StringType)))
  }

  /** Longest wait, after a write job failed, for its remaining tasks to
    * stop before the batch is aborted.
    */
  private[io] val FailedWriteWaitMillis: Long = 30L * 1000
}

final class ParquetTableIO(root: String) extends TableIO {
  private def dataDir(table: String) = s"$root/$table/data"
  private def manifestDir(table: String) = s"$root/$table/manifest"
  private def tombDir(table: String) = s"$root/$table/tombstones"
  private def tombFile(table: String, batch: String) = s"${tombDir(table)}/part-$batch.parquet"
  private def commitsDir(table: String) = s"$root/$table/commits"

  // ------------------------------------------------------ batch commits
  // A batch becomes visible only when its commit marker exists; the write
  // order is chunk files (tasks) → manifest file → tombstones → marker
  // (the last three on the driver, [[commitBatch]]). A crash at any point
  // leaves an UNCOMMITTED batch that every read path ignores, so the
  // ingest-dedup set never contains a torn batch's chunks and a replay
  // re-lands them under a fresh batch id — no duplicates, no chunks
  // stranded without manifest rows (the poor-man's Iceberg snapshot
  // commit, SURVEY.md §7.0; a failed write aborts its batch, and
  // directories a crash leaves uncommitted are inert garbage for a GC to
  // sweep).

  private def fs(spark: SparkSession, path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Flip the commit marker — AFTER enforcing mint-order commit order.
    * Streaming offsets and the `<= asOf` snapshot filter both rely on
    * "lexicographic (mint) id order == commit order": a batch committing
    * AFTER a larger id already committed would be silently dropped by
    * any stream whose watermark already passed it, and would
    * retroactively mutate a pinned `VERSION AS OF` snapshot. That can
    * only happen when two writers run concurrently (the documented
    * single-writer contract is being violated) — fail the LATE commit
    * loudly so the violation surfaces as a write error instead of
    * silent data loss; the batch stays uncommitted (invisible) and the
    * write can be re-run, which mints a fresh, in-order id.
    */
  private def markCommitted(spark: SparkSession, table: String, batch: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(commitsDir(table))
    val f = fs(spark, commitsDir(table))
    f.mkdirs(dir)
    val late = committedBatches(spark, table).filter(_ > batch)
    if (late.nonEmpty)
      throw new IllegalStateException(
        s"catalog table '$table': batch '$batch' would commit OUT OF MINT ORDER — " +
          s"'${late.max}' is already committed. A concurrent writer violated the " +
          "single-writer contract; this batch remains uncommitted (invisible) — " +
          "re-run the write to mint a fresh id.")
    f.create(new org.apache.hadoop.fs.Path(dir, batch), true).close()
  }

  private def committedBatches(spark: SparkSession, table: String): Array[String] = {
    val dir = new org.apache.hadoop.fs.Path(commitsDir(table))
    val f = fs(spark, commitsDir(table))
    if (!f.exists(dir)) Array.empty
    else f.listStatus(dir).map(_.getPath.getName)
      .filterNot(n => n.startsWith(".") || n.startsWith("_")) // checksum/hidden sidecars
  }

  /** Filter `df` (carrying a `batch` column) down to `committed` —
    * callers take ONE [[committedBatches]] snapshot per read and thread it
    * into both the batch filter and the tombstone resolver, so a
    * concurrent [[replaceChunks]] commit landing mid-read cannot make the
    * gated deletes effective while the same batch's adds are still
    * excluded (the "never neither" half of the swap contract). `batch`
    * is the partition column of every frame passed here, so the `IN`
    * prunes directories at listing time and costs no Spark job; an empty
    * `committed` reads as empty.
    */
  private def committedOnly(df: DataFrame, committed: Array[String]): DataFrame =
    df.filter(col("batch").isin(committed.toSeq: _*))

  /** A catalog written BEFORE batch-commit markers (data present, no
    * commits dir) must fail loudly: reading it as empty would silently
    * hide every chunk while ingest replays re-land all of them as
    * duplicates. Mirrors [[fsstspark.pipeline.Checkpoint.FormatVersion]]'s
    * hard-error contract; migrate with [[commitAllBatches]].
    */
  private def assertNotLegacy(spark: SparkSession, table: String): Unit = {
    val dataP = new org.apache.hadoop.fs.Path(dataDir(table))
    val f = fs(spark, dataDir(table))
    if (f.exists(dataP) && !f.exists(new org.apache.hadoop.fs.Path(commitsDir(table))))
      throw new IllegalStateException(
        s"catalog table '$table' predates batch-commit markers (data exists, no commits/); " +
          "reading it would hide all data — run commitAllBatches to migrate a catalog " +
          "known to be fully committed, or rebuild it")
  }

  /** Migration for pre-marker catalogs: mark every existing `batch=`
    * directory committed. Only for catalogs known fully committed under
    * the old format (the old format had no torn-batch detection to
    * consult). Returns the number of markers created.
    */
  def commitAllBatches(spark: SparkSession, table: String): Long = {
    val dataP = new org.apache.hadoop.fs.Path(dataDir(table))
    val f = fs(spark, dataDir(table))
    if (!f.exists(dataP)) return 0L
    val batches = f.listStatus(dataP).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch="))
    val already = committedBatches(spark, table).toSet
    val missing = batches.filterNot(already)
    missing.foreach(b => markCommitted(spark, table, b))
    missing.length.toLong
  }

  /** Explicit read schema (ChunkResult fields + the batch partition
    * column): lets a fully-vacuumed table — a data dir with zero parquet
    * files — read back as an EMPTY dataset instead of failing schema
    * inference.
    */
  private def chunkReadSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[ChunkResult].schema
      .add("batch", org.apache.spark.sql.types.StringType)

  private def readManifestRaw(spark: SparkSession, table: String): DataFrame = {
    assertManifestNotLegacy(spark, table)
    val p = new org.apache.hadoop.fs.Path(manifestDir(table))
    if (!fs(spark, manifestDir(table)).exists(p)) {
      assertNoManifestOk(spark, table, committedBatches(spark, table))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        ParquetTableIO.ManifestSchema)
    } else spark.read.schema(ParquetTableIO.ManifestSchema).parquet(manifestDir(table))
  }

  /** A missing manifest directory: only a table with NO DATA reads as an
    * empty manifest (DDL sidecar not yet inserted into, or commit markers
    * from data-less delete batches alone — the tombstone-seeded ledger
    * state); a table WITH data files but no manifest directory is
    * corruption and must fail loudly, not silently hide every chunk (the
    * assertNotLegacy contract).
    */
  private def assertNoManifestOk(spark: SparkSession, table: String,
      committed: Array[String]): Unit =
    require(committed.isEmpty ||
        !fs(spark, dataDir(table)).exists(new org.apache.hadoop.fs.Path(dataDir(table))),
      s"catalog table '$table' has data but no manifest directory — " +
        "run repairManifest to rebuild it from the data files")

  /** Names Spark's file listing skips (checksums, markers, temp files). */
  private def visible(name: String): Boolean =
    !name.startsWith(".") && !name.startsWith("_") && !name.endsWith("._COPYING_")

  /** Manifests written before the manifest was batch-partitioned (flat
    * parquet files at the manifest root, `batch` derived from the file
    * path at read time) would read back with `batch` null under the
    * explicit schema and be dropped wholesale by the committed-batch
    * semi-join — every point lookup / range read silently empty, and the
    * first new append would create a mixed flat/partitioned layout that
    * fails partition discovery outright. Fail loudly instead (the same
    * contract as [[assertNotLegacy]]); `repairManifest` rebuilds the
    * manifest in the partitioned layout from the data files. One
    * listStatus per manifest read — metadata-scale.
    */
  private def assertManifestNotLegacy(spark: SparkSession, table: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(manifestDir(table))
    val f = fs(spark, manifestDir(table))
    if (f.exists(p)) assertPartitioned(table, f.listStatus(p))
  }

  /** [[assertManifestNotLegacy]] over a listing of the manifest root. */
  private def assertPartitioned(table: String, top: Array[org.apache.hadoop.fs.FileStatus]): Unit =
    if (top.exists(st => st.isFile && visible(st.getPath.getName)))
      throw new IllegalStateException(
        s"catalog table '$table' has a pre-batch-partitioned (flat) manifest; reading it " +
          "would silently drop its rows — run repairManifest to rebuild it in the " +
          "partitioned layout (a flat zero-row manifest left by an older full vacuum " +
          "migrates the same way)")

  /** Time-ordered batch id: fixed-width creation millis first, so the
    * LEXICOGRAPHIC order of batch ids is their creation order — what
    * [[readChunksAsOf]]'s `<= asOf` snapshot filter relies on. The millis
    * component is forced STRICTLY increasing within the process
    * ([[BatchClock]]): two commits in the same wall-clock millisecond (or
    * across a backwards clock step) would otherwise order by the random
    * suffix, and a delete batch sorting below the append it follows makes
    * time travel show the delete already applied at the earlier snapshot.
    * Cross-PROCESS ties remain wall-clock ordered — covered by the
    * catalog's single-writer contract.
    */
  private def newBatchId(): String =
    f"b${BatchClock.nextMillis()}%013d-${java.util.UUID.randomUUID().toString.take(8)}"

  /** Mint a batch id strictly after every id this table has already
    * committed — closes the cross-RESTART window: if the previous writer
    * process minted ahead of the wall clock (commit burst) and this
    * process starts within that gap, seeding from the table's own commit
    * markers keeps new commits lexicographically after old ones. Ids that
    * don't parse as `b<millis13>-…` (none are minted today) are ignored.
    */
  private def mintBatchId(spark: SparkSession, table: String): String = {
    val existing = committedBatches(spark, table)
    var i = 0
    while (i < existing.length) {
      val b = existing(i)
      if (b.length >= 14 && b.charAt(0) == 'b' && b.substring(1, 14).forall(_.isDigit))
        BatchClock.ensureAtLeast(b.substring(1, 14).toLong)
      i += 1
    }
    newBatchId()
  }

  private def hasTombstones(spark: SparkSession, table: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(tombDir(table))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** EFFECTIVE tombstones under ONE committed-batch snapshot: immediate
    * deletes (gated_by null) plus deletes gated on a batch in
    * `committed`. A gated tombstone whose batch never committed is
    * inert — that is what makes [[replaceChunks]] an atomic swap: the
    * deletes and the adds become visible through the SAME commit marker.
    *
    * Each row carries `applies_before`: a tombstone kills only chunk
    * INSTANCES from batches that committed strictly BEFORE its gating
    * batch (batch ids are time-ordered). A later re-append of the same
    * content — whose content-derived chunk id necessarily repeats — is
    * a new instance and stays visible; without the scope, DELETE +
    * re-INSERT of identical rows silently swallowed the new data.
    * Legacy immediate tombstones (null gate) apply to every batch
    * (`applies_before` = '~', which sorts after every `b…` id).
    *
    * The comparison is on batch MINT order, which equals commit order
    * under the catalog's single-writer contract (operations are
    * serialized, so a batch minted before a delete also committed before
    * it). A hypothetical concurrent writer that minted before a delete
    * but committed after would be caught by the scope — one of the
    * interleavings the single-writer contract exists to exclude.
    */
  private def tombstones(spark: SparkSession, table: String, committed: Array[String]): DataFrame = {
    import spark.implicits._
    if (!hasTombstones(spark, table))
      Seq.empty[(Long, String, String)].toDF("chunk_id", "column", "applies_before")
    else spark.read.schema(ParquetTableIO.TombSchema).parquet(tombDir(table))
      .filter(col("gated_by").isNull || col("gated_by").isin(committed.toSeq: _*))
      .select(col("chunk_id"), col("column"),
        coalesce(col("gated_by"), lit("~")).as("applies_before"))
  }

  /** `df` must carry its `batch` column: the anti-join keeps a row unless
    * a tombstone matches its (chunk_id, column) AND the row's batch
    * predates the tombstone's gate.
    */
  private def notTombstoned(df: DataFrame, spark: SparkSession, table: String,
      committed: Array[String]): DataFrame =
    if (!hasTombstones(spark, table)) df
    else {
      val t = broadcast(tombstones(spark, table, committed))
      df.join(t,
        df("chunk_id") === t("chunk_id") && df("column") === t("column") &&
          df("batch") < t("applies_before"),
        "left_anti")
    }

  /** Append a batch of chunks: ONE Spark job writes every chunk into the
    * batch's own `batch=` directory through [[ChunkFileWriter]] and
    * returns the chunks' manifest rows to the driver, which writes them
    * as one manifest file and flips the marker ([[commitBatch]]) —
    * manifest maintenance is O(batch), never O(table), and no step
    * re-reads the files just written. The batch is invisible until its
    * commit marker lands (see above); a failed job aborts it.
    */
  override def writeChunks(results: Dataset[ChunkResult], table: String): Unit =
    writeBatch(results.sparkSession, table, results, None)

  /** Atomic swap: the new batch's data/manifest land uncommitted, the
    * deletes land GATED on that batch, and the single commit marker flips
    * both into visibility together. Crash before the marker → old chunks
    * visible, new batch + its tombstones inert; crash after → new state.
    * Never duplicates, never a gap.
    */
  override def replaceChunks(spark: SparkSession, table: String,
      results: Dataset[ChunkResult], removeChunkIds: DataFrame): Unit =
    writeBatch(spark, table, results, Some(victimRows(removeChunkIds)))

  private def writeBatch(spark: SparkSession, table: String, results: Dataset[ChunkResult],
      victims: Option[Array[(Long, String)]]): Unit = {
    val batch = beginBatch(spark, table)
    val dir = batchDataDir(table, batch)
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val entries =
      try writeJob(spark, batch)(
        results.rdd.mapPartitions(ChunkFileWriter.writePartition(dir, conf.value, _)).collect())
      catch { case e: Throwable => abortBatch(spark, table, batch); throw e }
    commitBatch(spark, table, batch, entries, victims)
  }

  /** Runs a write's Spark job under a job tag of its own. Spark fails a
    * job (a `SparkException`) as soon as one task fails, while its other
    * tasks may still run and write chunk files; so the job's tasks are
    * then cancelled and awaited (for at most
    * [[ParquetTableIO.FailedWriteWaitMillis]]) before the caller aborts
    * the batch, or they would leave files in the directory the abort just
    * removed.
    */
  private def writeJob[T](spark: SparkSession, batch: String)(job: => T): T = {
    import org.apache.spark.JobExecutionStatus.RUNNING
    val sc = spark.sparkContext
    val tag = s"fsst-write-$batch"
    sc.addJobTag(tag)
    try job
    catch {
      case e: org.apache.spark.SparkException =>
        sc.cancelJobsWithTag(tag)
        // the status store learns of job and task ends asynchronously:
        // wait until it has the job, ended, with no task still running
        val st = sc.statusTracker
        def running = {
          val jobs = st.getJobIdsForTag(tag).flatMap(st.getJobInfo(_))
          jobs.isEmpty || jobs.exists(j => j.status == RUNNING ||
            j.stageIds.exists(s => st.getStageInfo(s).exists(_.numActiveTasks > 0)))
        }
        val deadline = System.currentTimeMillis() + ParquetTableIO.FailedWriteWaitMillis
        while (running && System.currentTimeMillis() < deadline) Thread.sleep(10)
        throw e
    } finally sc.removeJobTag(tag)
  }

  // ------------------------------------------------ batch write surface
  // Every catalog write runs the same three steps: beginBatch mints the
  // id, tasks write chunk files under batchDataDir through
  // [[ChunkFileWriter]] (a writeChunks job here, the connector's DSv2
  // write in [[fsstspark.sources]]) and return their manifest rows, and
  // the driver's commitBatch lands the manifest and flips the marker. A
  // crash anywhere before the marker leaves an invisible torn batch.

  /** Mint a batch for a write. commits/ exists from the FIRST byte of
    * data: a crash during the very first batch (data written, no marker
    * yet) must read back as an empty table with an empty commit set — not
    * as a "legacy pre-marker catalog" (assertNotLegacy's
    * data-without-commits test), which would hard-error every read and
    * make the torn batch unrecoverable by replay.
    */
  def beginBatch(spark: SparkSession, table: String): String = {
    assertNotLegacy(spark, table)
    fs(spark, commitsDir(table)).mkdirs(new org.apache.hadoop.fs.Path(commitsDir(table)))
    mintBatchId(spark, table)
  }

  /** One batch's data directory: [[ChunkFileWriter]] writes under it. */
  def batchDataDir(table: String, batch: String): String =
    s"${dataDir(table)}/batch=$batch"

  /** Commit a batch whose chunk files are on disk, with `entries` their
    * manifest rows and `victims` (chunk_id, column) rows to delete in the
    * SAME snapshot (`replaceChunks`, INSERT OVERWRITE, row-level DML). In
    * order, on the driver:
    *  1. refuse a (chunk_id, column) named twice — every later scan would
    *     fail on "duplicate chunk" — and delete files in the batch
    *     directory that no entry names (attempts of an executor that died
    *     never ran their own abort, and the whole-directory readers would
    *     see their chunks as duplicates);
    *  2. write the entries as one manifest file under the batch's
    *     manifest partition, with no Spark job;
    *  3. write the victims as one tombstone file gated on this batch,
    *     also with no Spark job;
    *  4. flip the commit marker, so adds and deletes become visible
    *     together.
    * A failure at any step aborts the batch: the table is untouched (gated
    * tombstones of an uncommitted batch are inert). No entries and no
    * victims = nothing to commit: the batch is aborted, no empty snapshot.
    */
  def commitBatch(spark: SparkSession, table: String, batch: String,
      entries: Array[ManifestEntry], victims: Option[Array[(Long, String)]]): Unit =
    try {
      entries.groupBy(e => (e.chunkId, e.column)).collectFirst {
        case ((cid, c), g) if g.length > 1 =>
          throw new IllegalStateException(
            s"catalog table '$table': chunk id $cid for column '$c' appears twice in batch " +
              s"'$batch' — committing would make every scan fail; the batch was aborted.")
      }
      deleteOrphanFiles(spark, table, batch, entries)
      if (entries.isEmpty && victims.isEmpty) abortBatch(spark, table, batch)
      else {
        if (entries.nonEmpty)
          ChunkFileWriter.writeManifest(new org.apache.hadoop.fs.Path(
            s"${manifestDir(table)}/batch=$batch/part-${java.util.UUID.randomUUID()}.parquet"),
            spark.sparkContext.hadoopConfiguration, entries)
        victims.filter(_.nonEmpty).foreach(vs => ChunkFileWriter.writeTombstones(
          new org.apache.hadoop.fs.Path(tombFile(table, batch)),
          spark.sparkContext.hadoopConfiguration, vs, batch))
        markCommitted(spark, table, batch)
      }
    } catch { case e: Throwable => abortBatch(spark, table, batch); throw e }

  /** Remove files under the batch directory, at any depth, that no entry
    * names. Paths compare scheme-normalized. The walk uses `listStatus`:
    * `listFiles` builds a `LocatedFileStatus` per file, whose permission
    * and owner a local file system without the native Hadoop library
    * reads by forking `ls -ld`.
    */
  private def deleteOrphanFiles(spark: SparkSession, table: String, batch: String,
      entries: Array[ManifestEntry]): Unit = {
    val dirP = new org.apache.hadoop.fs.Path(batchDataDir(table, batch))
    val f = fs(spark, dataDir(table))
    if (!f.exists(dirP)) return
    val named = entries.iterator.map(e => new org.apache.hadoop.fs.Path(e.file).toUri.getPath).toSet
    def sweep(dir: org.apache.hadoop.fs.Path): Unit = f.listStatus(dir).foreach { st =>
      if (st.isDirectory) sweep(st.getPath)
      else if (visible(st.getPath.getName) && !named.contains(st.getPath.toUri.getPath))
        f.delete(st.getPath, false)
    }
    sweep(dirP)
  }

  /** (chunk_id, column) rows collected to the driver for [[commitBatch]]:
    * one per deleted (chunk, column), the size of the manifest rows a
    * batch commits. A local DataFrame collects with no Spark job; a null
    * id or column matches no manifest row, so it is dropped.
    */
  private def victimRows(victims: DataFrame): Array[(Long, String)] =
    victims.select(col("chunk_id").cast("long"), col("column").cast("string")).na.drop()
      .collect().map(r => (r.getLong(0), r.getString(1)))

  /** A fresh id strictly after every id this table has committed —
    * public for non-batch catalog metadata that must order against the
    * commit log (e.g. the schema-evolution sidecar's per-column
    * "added after" watermark). Nothing is written or committed.
    */
  def newWatermark(spark: SparkSession, table: String): String =
    mintBatchId(spark, table)

  /** Abort an uncommitted (hence invisible) batch: delete its data
    * directory, manifest partition and tombstone file. Idempotent.
    */
  def abortBatch(spark: SparkSession, table: String, batch: String): Unit = {
    val f = fs(spark, dataDir(table))
    Seq(batchDataDir(table, batch), s"${manifestDir(table)}/batch=$batch",
        tombFile(table, batch)).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      if (f.exists(p)) f.delete(p, true)
    }
  }

  /** Full manifest rebuild from the (committed) data files — an explicit
    * repair tool (Iceberg's `repair`/`rewrite_manifests` analogue), NOT
    * part of the append path.
    */
  def repairManifest(spark: SparkSession, table: String): Unit =
    // explicit schema: pre-stats data files read value_min/value_max null
    committedOnly(spark.read.schema(chunkReadSchema).parquet(dataDir(table)),
        committedBatches(spark, table))
      .select(input_file_name().as("file"), col("column"), col("chunk_id"),
        col("codec"), col("n_rows"), col("bytes_in"), col("bytes_out"),
        col("min_key"), col("max_key"), col("value_min"), col("value_max"),
        col("batch"))
      // static: a session running partitionOverwriteMode=dynamic would
      // otherwise leave stale batch= partitions the rebuild didn't emit
      .write.partitionBy("batch").option("partitionOverwriteMode", "static")
      .mode(SaveMode.Overwrite).parquet(manifestDir(table))

  override def readChunks(spark: SparkSession, table: String): Dataset[ChunkResult] = {
    import spark.implicits._
    assertNotLegacy(spark, table)
    val committed = committedBatches(spark, table) // ONE snapshot for batch + tombstone filters
    notTombstoned(
      committedOnly(spark.read.schema(chunkReadSchema).parquet(dataDir(table)), committed),
      spark, table, committed)
      .drop("batch")
      .as[ChunkResult]
  }

  override def readChunksAsOf(spark: SparkSession, table: String, asOf: String): Dataset[ChunkResult] = {
    import spark.implicits._
    assertNotLegacy(spark, table)
    // the snapshot's committed set: marker order is name order because
    // batch ids lead with fixed-width creation millis (newBatchId)
    val committed = committedBatches(spark, table).filter(_ <= asOf)
    notTombstoned(
      committedOnly(spark.read.schema(chunkReadSchema).parquet(dataDir(table)), committed),
      spark, table, committed)
      .drop("batch")
      .as[ChunkResult]
  }

  override def snapshots(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    assertNotLegacy(spark, table)
    val committed = committedBatches(spark, table).sorted
    val base = committed.toSeq.toDF("batch")
    val mDirP = new org.apache.hadoop.fs.Path(manifestDir(table))
    val adds =
      if (!fs(spark, manifestDir(table)).exists(mDirP))
        Seq.empty[(String, Long)].toDF("batch", "n_chunks_added")
      else readManifestRaw(spark, table)
        .groupBy("batch").agg(count(lit(1)).as("n_chunks_added"))
    val dels =
      if (!hasTombstones(spark, table))
        Seq.empty[(String, Long)].toDF("batch", "n_deletes_gated")
      else spark.read.schema(ParquetTableIO.TombSchema).parquet(tombDir(table))
        .filter(col("gated_by").isNotNull)
        .groupBy(col("gated_by").as("batch"))
        .agg(count(lit(1)).as("n_deletes_gated"))
    base.join(adds, Seq("batch"), "left").join(dels, Seq("batch"), "left")
      .select(col("batch"),
        substring(col("batch"), 2, 13).cast("long").as("commit_millis"),
        coalesce(col("n_chunks_added"), lit(0L)).as("n_chunks_added"),
        coalesce(col("n_deletes_gated"), lit(0L)).as("n_deletes_gated"))
      .orderBy("batch")
  }

  // ONE committed-batches snapshot spans the batch + tombstone filters
  // inside manifestOpt; batch is the manifest's own partition column
  // (uncommitted rows exist only after a crash between manifest append
  // and commit marker)
  override def manifest(spark: SparkSession, table: String): DataFrame =
    manifestOpt(spark, table, None)

  /** The manifest as of snapshot `asOf` — the metadata view matching
    * [[readChunksAsOf]]: batches committed with id <= `asOf`, minus
    * deletes gated on one of those batches (legacy null-gated tombstones
    * apply to every snapshot). The connector's snapshot-pinned scans plan
    * from this.
    */
  def manifestAsOf(spark: SparkSession, table: String, asOf: String): DataFrame =
    manifestOpt(spark, table, Some(asOf))

  /** One manifest code path for pinned AND current reads — callers with
    * an optional snapshot pin dispatch here so the two views can never
    * silently diverge.
    */
  def manifestOpt(spark: SparkSession, table: String, asOf: Option[String]): DataFrame = {
    val all = committedBatches(spark, table)
    val committed = asOf match {
      case Some(b) => all.filter(_ <= b)
      case None => all
    }
    manifestSnapshot(spark, table, committed)
  }

  /** The manifest view under an EXPLICIT committed-batches snapshot —
    * for callers (row-level DELETE) that must thread ONE snapshot through
    * a manifest collect and the subsequent data read so a commit landing
    * between the two cannot make them disagree.
    */
  def manifestSnapshot(spark: SparkSession, table: String,
      committed: Array[String]): DataFrame = {
    assertNotLegacy(spark, table)
    val m = readManifestRaw(spark, table)
    notTombstoned(committedOnly(m, committed), spark, table, committed).drop("batch")
  }

  /** The manifest on the driver without a Spark job: `live` is exactly
    * what [[manifestOpt]] returns for `asOf` at this moment. Every call
    * lists the commit markers, the committed batches' manifest
    * directories and the tombstone files, decodes with the plain parquet
    * reader only the files [[ManifestCache]] has not seen, then applies
    * [[manifestSnapshot]]'s committed-batch and batch-scoped tombstone
    * rules in Scala. Validity rests on the listing alone, so a commit,
    * vacuum or repair by any process shows in the next call.
    *
    * None — callers then plan through the distributed [[manifestOpt]],
    * which keeps driver memory at O(surviving chunks) — when the table
    * has more than [[ParquetTableIO.DriverManifestMaxBatches]] committed
    * batches (decided from the commit markers, before any batch directory
    * is listed), when its files pass [[ParquetTableIO.DriverManifestMaxBytes]]
    * (listing stops there), or when a directory holds nested directories
    * this reader does not model.
    */
  def manifestRows(spark: SparkSession, table: String, asOf: Option[String]): Option[ManifestRows] = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val tableDir = s"$root/$table"
    import ParquetTableIO.{DriverManifestMaxBatches, DriverManifestMaxBytes}
    def aboveLimit = { ManifestCache.forget(tableDir); None }
    assertNotLegacy(spark, table)
    val committed = committedBatches(spark, table)
    if (committed.length > DriverManifestMaxBatches) return aboveLimit
    val f = fs(spark, tableDir)
    def listVisible(dir: Path): Array[FileStatus] =
      if (!f.exists(dir)) Array.empty else f.listStatus(dir).filter(st => visible(st.getPath.getName))
    val mDir = new Path(manifestDir(table))
    if (!f.exists(mDir)) assertNoManifestOk(spark, table, committed)
    val top = listVisible(mDir)
    assertPartitioned(table, top)
    val committedSet = committed.toSet
    val tombFiles = listVisible(new Path(tombDir(table)))
    var bytes = tombFiles.iterator.map(_.getLen).sum
    val manifestFiles = Array.newBuilder[(FileStatus, String)]
    val batchDirs = top.iterator.filter(st => st.getPath.getName.startsWith("batch=") &&
      committedSet(st.getPath.getName.stripPrefix("batch=")))
    while (bytes <= DriverManifestMaxBytes && batchDirs.hasNext) {
      val dir = batchDirs.next()
      listVisible(dir.getPath).foreach { st =>
        manifestFiles += st -> dir.getPath.getName.stripPrefix("batch=")
        bytes += st.getLen
      }
    }
    val manifestListed = manifestFiles.result()
    val files = manifestListed.map(_._1) ++ tombFiles
    if (bytes > DriverManifestMaxBytes || files.exists(_.isDirectory)) return aboveLimit
    val batchOf = manifestListed.iterator.map { case (st, b) => st.getPath.toString -> b }.toMap
    val decoded = ManifestCache.load(tableDir, files.toSeq, st =>
      batchOf.get(st.getPath.toString) match {
        case Some(b) => ManifestPart(b, readManifestFile(spark, st.getPath))
        case None => TombstonePart(readTombstoneFile(spark, st.getPath))
      })
    val inScope = asOf.fold(committedSet)(b => committedSet.filter(_ <= b))
    // per (chunk_id, column): the latest gate among effective tombstones —
    // a row dies iff its batch sorts before it (the anti-join condition
    // of notTombstoned, in the same UTF-8 byte order)
    val gate = scala.collection.mutable.HashMap.empty[(Long, String), String]
    decoded.foreach {
      case TombstonePart(ts) => ts.foreach { t =>
        t.gatedBy.fold(Option("~"))(g => Some(g).filter(inScope)).foreach { g =>
          val k = (t.chunkId, t.column)
          if (gate.get(k).forall(fsstspark.util.Keys.compareUtf8(_, g) < 0)) gate(k) = g
        }
      }
      case _ =>
    }
    val parts = decoded.collect { case p: ManifestPart if inScope(p.batch) => p }
    val live = parts.iterator.flatMap(p => p.rows.iterator.filter(e =>
      gate.get((e.chunkId, e.column)).forall(fsstspark.util.Keys.compareUtf8(p.batch, _) >= 0)))
    Some(new ManifestRows(live.toArray, parts.map(_.rows)))
  }

  /** All rows of one parquet file through the plain parquet reader — the
    * way the connector reads chunk files, with no Spark job.
    */
  private def readParquet[T: scala.reflect.ClassTag](spark: SparkSession,
      path: org.apache.hadoop.fs.Path)(row: org.apache.parquet.example.data.Group => T): Array[T] = {
    val reader = GroupReader.open(path, spark.sparkContext.hadoopConfiguration)
    val out = Array.newBuilder[T]
    try {
      var g = reader.read()
      while (g != null) { out += row(g); g = reader.read() }
    } finally reader.close()
    out.result()
  }

  /** Null for an absent value or a field the file's writer predates
    * (pre-stats manifests lack the zone columns, pre-gating tombstones
    * `gated_by`) — what the explicit read schemas make of them.
    */
  private def present(g: org.apache.parquet.example.data.Group, name: String): Boolean =
    g.getType.containsField(name) && g.getFieldRepetitionCount(name) > 0

  private def readManifestFile(spark: SparkSession,
      path: org.apache.hadoop.fs.Path): Array[ManifestEntry] = {
    // file, column and codec repeat on every row of a file
    val pool = scala.collection.mutable.HashMap.empty[String, String]
    def str(g: org.apache.parquet.example.data.Group, name: String): String =
      if (!present(g, name)) null
      else { val v = g.getString(name, 0); pool.getOrElseUpdate(v, v) }
    def opt(g: org.apache.parquet.example.data.Group, name: String): Option[Long] =
      if (present(g, name)) Some(g.getLong(name, 0)) else None
    readParquet(spark, path)(g => ManifestEntry(str(g, "file"), str(g, "column"),
      g.getLong("chunk_id", 0), str(g, "codec"), g.getLong("n_rows", 0),
      g.getLong("bytes_in", 0), g.getLong("bytes_out", 0), str(g, "min_key"),
      str(g, "max_key"), opt(g, "value_min"), opt(g, "value_max")))
  }

  /** A tombstone with a null id or column matches no manifest row (SQL
    * equality), so it is dropped here.
    */
  private def readTombstoneFile(spark: SparkSession,
      path: org.apache.hadoop.fs.Path): Array[Tombstone] =
    readParquet(spark, path)(g =>
      if (!present(g, "chunk_id") || !present(g, "column")) None
      else Some(Tombstone(g.getLong("chunk_id", 0), g.getString("column", 0),
        if (present(g, "gated_by")) Some(g.getString("gated_by", 0)) else None)))
      .flatten

  /** Committed batches with the COMMIT time (the marker file's
    * modification time) — distinct from the mint millis embedded in the
    * id: an external write mints its id at job start but commits at job
    * end, and `TIMESTAMP AS OF` must resolve against the moment the
    * batch became visible.
    */
  def committedBatchCommitTimes(spark: SparkSession, table: String): Array[(String, Long)] = {
    val dir = new org.apache.hadoop.fs.Path(commitsDir(table))
    val f = fs(spark, commitsDir(table))
    if (!f.exists(dir)) Array.empty
    else f.listStatus(dir)
      .filterNot(st => st.getPath.getName.startsWith(".") || st.getPath.getName.startsWith("_"))
      .map(st => (st.getPath.getName, st.getModificationTime))
  }

  /** Point-read path: the manifest (tiny, driver-collectable hit list)
    * selects both the FILES to open and the CHUNK IDS to keep, so the scan
    * touches only the data files that can contain the key — Iceberg
    * metadata-read semantics. The chunk-id predicate is a pushable `IN`
    * filter, so parquet row-group min/max statistics prune within each hit
    * file as well. At 100 TB this reads a handful of files; the r2 shape
    * listed and footer-read the ENTIRE data directory per lookup.
    */
  override def chunksForKey(spark: SparkSession, table: String, key: String): Dataset[ChunkResult] = {
    import spark.implicits._
    assertNotLegacy(spark, table)
    // ONE committed snapshot spans the manifest read AND the post-scan
    // tombstone filter — a replaceChunks commit landing mid-lookup
    // resolves to entirely-old or entirely-new, never neither
    val committed = committedBatches(spark, table)
    val m = readManifestRaw(spark, table)
    val hits = notTombstoned(committedOnly(m, committed), spark, table, committed)
      .filter(col("min_key") <= key && col("max_key") >= key)
      .select("file", "chunk_id")
      .collect()
    readHitFiles(spark, table, committed, hits)
  }

  /** Shared tail of the manifest-pruned point/range readers: open ONLY the
    * hit files with a pushable chunk_id IN filter (row-group pruning
    * inside each file), re-applying the tombstone filter AFTER the scan —
    * a hit file can also hold a deleted (chunk, column) row whose
    * chunk_id survives through another column's manifest entry.
    */
  private def readHitFiles(spark: SparkSession, table: String,
      committed: Array[String],
      hits: Array[org.apache.spark.sql.Row]): Dataset[ChunkResult] =
    readChunksInFiles(spark, table, committed,
      hits.map(_.getString(0)).distinct.toIndexedSeq,
      hits.map(_.getLong(1)).distinct.toIndexedSeq)

  /** Manifest-pruned bulk read: open ONLY the manifest-named hit files
    * instead of listing and scanning the whole data directory — at 100 TB
    * a read touching a handful of chunks must not plan a full-table scan
    * just to semi-join most of it away. Same tombstone re-filter
    * discipline as the point readers.
    */
  private def readChunksInFiles(spark: SparkSession, table: String,
      committed: Array[String], files: Seq[String],
      ids: Seq[Long]): Dataset[ChunkResult] = {
    import spark.implicits._
    if (files.isEmpty || ids.isEmpty) return spark.emptyDataset[ChunkResult]
    notTombstoned(
      spark.read.schema(chunkReadSchema)
        .option("basePath", dataDir(table)).parquet(files: _*)
        .filter(col("chunk_id").isin(ids: _*)),
      spark, table, committed)
      .drop("batch")
      .as[ChunkResult]
  }

  /** One committed-batches snapshot, for callers threading the same view
    * through several reads (the `$chunks` table's plan and tombstone list).
    */
  def committedSnapshot(spark: SparkSession, table: String): Array[String] =
    committedBatches(spark, table)

  override def chunksForValueRange(spark: SparkSession, table: String,
      column: String, lo: Long, hi: Long): Dataset[ChunkResult] = {
    assertNotLegacy(spark, table)
    val committed = committedBatches(spark, table)
    val m = readManifestRaw(spark, table)
    val hits = notTombstoned(committedOnly(m, committed), spark, table, committed)
      .filter(col("column") === column)
      // null stats = not prunable (byte column / all-null chunk / pre-stats
      // writer): conservatively read
      .filter(col("value_min").isNull ||
        (col("value_min") <= hi && col("value_max") >= lo))
      .select("file", "chunk_id")
      .collect()
    readHitFiles(spark, table, committed, hits).filter(col("column") === column)
  }

  /** Deletes are themselves a committed snapshot (a data-less batch whose
    * tombstones are gated on its marker): current reads see the delete
    * exactly when the marker lands — same visibility as the old immediate
    * tombstone, but crash-atomic AND time-travelable, since
    * [[readChunksAsOf]] an earlier snapshot leaves the gating batch out of
    * its committed set. Legacy null-gated tombstones (pre-round-4) remain
    * readable: they apply to every snapshot.
    */
  override def removeChunks(spark: SparkSession, table: String, chunkIds: DataFrame): Unit =
    commitBatch(spark, table, beginBatch(spark, table), Array.empty, Some(victimRows(chunkIds)))

  override def tableExists(spark: SparkSession, table: String): Boolean =
    committedBatches(spark, table).nonEmpty

  override def committedBatchIds(spark: SparkSession, table: String): Array[String] =
    committedBatches(spark, table)

  override def manifestForBatches(spark: SparkSession, table: String,
      batches: Seq[String]): DataFrame =
    // batch is a partition column: the isin filter prunes to the NEW
    // batches' directories — the scan never touches old manifest files
    readManifestRaw(spark, table)
      .filter(col("batch").isin(batches: _*))
      .drop("batch")

  override def deletedChunks(spark: SparkSession, table: String): DataFrame =
    tombstones(spark, table, committedBatches(spark, table)).select("chunk_id", "column")

  /** The manifest parquet files of the given batches, one listStatus per
    * batch directory — the distributed `$chunks` metadata scan plans one
    * partition per file, so the manifest is READ ON EXECUTORS and the
    * driver only ever lists file names.
    */
  def manifestFiles(spark: SparkSession, table: String,
      batches: Seq[String]): Array[(String, String)] = {
    assertManifestNotLegacy(spark, table)
    val f = fs(spark, manifestDir(table))
    batches.iterator.flatMap { b =>
      val p = new org.apache.hadoop.fs.Path(s"${manifestDir(table)}/batch=$b")
      if (!f.exists(p)) Iterator.empty
      else f.listStatus(p).iterator.filter(st => st.isFile && visible(st.getPath.getName))
        .map(st => (st.getPath.toString, b))
    }.toArray
  }

  /** The EFFECTIVE tombstones under the current committed snapshot as
    * plain rows (chunk_id, column, applies_before) — metadata-sized (one
    * row per delete, far smaller than the manifest), collected so a
    * distributed metadata reader can apply the batch-scoped filter
    * per-row without a join.
    */
  def effectiveTombstones(spark: SparkSession, table: String): Array[(Long, String, String)] =
    effectiveTombstonesFor(spark, table, committedBatches(spark, table))

  /** [[effectiveTombstones]] under a caller-pinned committed snapshot —
    * for readers that must see ONE consistent view across a separately
    * planned file list and this tombstone list.
    */
  def effectiveTombstonesFor(spark: SparkSession, table: String,
      committed: Array[String]): Array[(Long, String, String)] = {
    import spark.implicits._
    tombstones(spark, table, committed).as[(Long, String, String)].collect()
  }

  /** Physical reclamation, safe subset: delete data files whose EVERY
    * (chunk, column) row is tombstoned, then rebuild the manifest. No data
    * is copied, so there is no duplicate-visibility window — a crash
    * leaves some dead files on disk and a re-run finishes the job (partial
    * files keep their tombstone filtering; reclaiming them would need the
    * copy-and-swap a real Iceberg snapshot commit provides). The tombstone
    * list itself is RETAINED: it is also the ingest ledger — streaming
    * replay relies on compacted-away chunk ids staying "already ingested"
    * ([[deletedChunks]]). Returns the number of files deleted.
    */
  def vacuum(spark: SparkSession, table: String): Long = {
    assertNotLegacy(spark, table)
    if (!hasTombstones(spark, table)) return 0L
    // raw manifest (tombstones NOT filtered) → per-file live counts.
    // Dead rows via a SEMI-join under the batch-scoped tombstone
    // condition (a plain left join could duplicate a manifest row that
    // multiple tombstones match and inflate the dead count)
    val raw = readManifestRaw(spark, table)
    val t = broadcast(tombstones(spark, table, committedBatches(spark, table)))
    val total = raw.groupBy("file").agg(count(lit(1)).as("n"))
    val deadCounts = raw.join(t,
        raw("chunk_id") === t("chunk_id") && raw("column") === t("column") &&
          raw("batch") < t("applies_before"),
        "left_semi")
      .groupBy("file").agg(count(lit(1)).as("nDead"))
    val perFile = total.join(deadCounts, Seq("file"), "left")
      .select(col("file"), (col("n") === coalesce(col("nDead"), lit(0L))).as("allDead"))
      .collect()
    val dead = perFile.filter(_.getBoolean(1)).map(_.getString(0))
    if (dead.isEmpty) return 0L
    val anyLive = perFile.exists(!_.getBoolean(1))
    // a FULLY-dead table must get its (empty) manifest BEFORE the files
    // go: repairManifest cannot scan a data dir with zero parquet files,
    // and a crash mid-delete would otherwise leave a manifest naming
    // deleted files (the explicit read schema keeps readChunks working on
    // the emptied table)
    // partitionBy even though empty: a flat zero-row part file at the
    // manifest root would read as a legacy manifest (assertManifestNotLegacy)
    // and collide with the batch= layout on the next append. static mode
    // is forced: under partitionOverwriteMode=dynamic an EMPTY overwrite
    // deletes nothing and the stale manifest would keep naming the files
    // deleted just below
    if (!anyLive)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], raw.schema)
        .write.partitionBy("batch").option("partitionOverwriteMode", "static")
        .mode(SaveMode.Overwrite).parquet(manifestDir(table))
    val conf = spark.sparkContext.hadoopConfiguration
    var deleted = 0L
    dead.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      if (p.getFileSystem(conf).delete(p, false)) deleted += 1
    }
    if (anyLive) {
      // Incremental manifest maintenance: anti-join the manifest against
      // the dead-file list and rewrite — O(manifest rows), never the
      // O(table) data-dir footer rescan repairManifest pays. Rewrite lands
      // in a sibling dir and swaps in (crash between delete and rename
      // leaves a manifest-less table that repairManifest recovers —
      // the same window the Overwrite-based rebuild had).
      import spark.implicits._
      val mDir = manifestDir(table)
      val tmp = mDir + "_rewrite"
      readManifestRaw(spark, table)
        .join(broadcast(dead.toSeq.toDF("file")), Seq("file"), "left_anti")
        // static: a crashed earlier vacuum may have left partitions in the
        // _rewrite dir that dynamic mode would merge instead of replace
        .write.partitionBy("batch").option("partitionOverwriteMode", "static")
        .mode(SaveMode.Overwrite).parquet(tmp)
      val f = fs(spark, mDir)
      f.delete(new org.apache.hadoop.fs.Path(mDir), true)
      // Hadoop rename reports most failures by RETURN VALUE, not by
      // throwing — and at this point the old manifest is already gone, so
      // a swallowed false would leave the table silently manifest-less
      // while vacuum reports success
      require(f.rename(new org.apache.hadoop.fs.Path(tmp), new org.apache.hadoop.fs.Path(mDir)),
        s"vacuum: manifest swap rename $tmp -> $mDir failed; " +
          "the rewritten manifest is intact at the _rewrite path — rename it into place " +
          "or run repairManifest")
    }
    deleted
  }
}
