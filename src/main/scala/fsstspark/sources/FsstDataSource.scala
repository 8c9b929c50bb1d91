package fsstspark.sources

import java.util.OptionalLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import fsstspark.codec.{BytesCodec, LongCodec}
import fsstspark.io.{GroupReader, ManifestEntry, ParquetTableIO}
import fsstspark.pipeline.EncodePipeline
import fsstspark.util.{Keys, SortableBits}

/** DataSource V2 read connector over the chunk catalog: exposes a table
  * written by [[fsstspark.pipeline.EncodePipeline.encodeColumns]] /
  * `encodeColumnsLocal` + [[fsstspark.io.ParquetTableIO]] to plain
  * `spark.read` / `spark.sql`, completing the "a user could switch"
  * story — no fsstspark API calls needed to query an encoded table.
  *
  * {{{
  *   spark.read.format("fsst")
  *     .option("root", catalogRoot).option("table", "pages")
  *     .option("stringColumns", "url,text")   // surface UTF-8 byte cols as string
  *     .load()                                 // or .load(s"$catalogRoot/pages")
  * }}}
  *
  * Output schema: `key string` + one column per stored column, typed from
  * the catalog itself — chunk codec names are self-describing
  * (`xor_f64` → double, a [[LongCodec.names]] name → long, a
  * [[BytesCodec.names]] name → binary; the two name sets are disjoint).
  *
  * Scale shape (the reason this is not a parquet view):
  *  - '''Column pruning is physical''': data files are partitioned by
  *    `(batch, column)`, so a projection never opens the other columns'
  *    files at all — checked by `DataSourceSpec`.
  *  - '''Filter pushdown prunes chunks at METADATA level''': key
  *    predicates test the manifest's `min_key`/`max_key` (UTF-8
  *    code-point order, [[Keys.compareUtf8]] — the order the encode
  *    pipeline records), value predicates test the zone maps
  *    (`value_min`/`value_max`; doubles through the order-preserving
  *    [[SortableBits.fromDouble]]). Surviving chunk ids become a parquet
  *    record filter (`chunk_id IN …`) so row-group statistics prune
  *    inside hit files too. Pruning is conservative (may keep a chunk
  *    with no matching rows), so every filter is also returned as a
  *    post-scan residual for Spark to re-evaluate — exactly the parquet
  *    source's contract.
  *  - '''Statistics''' ([[SupportsReportStatistics]]) come from manifest
  *    sums over the surviving chunks, so Catalyst can pick broadcast
  *    joins over small encoded tables.
  *  - An empty projection (`count(*)`) is answered from manifest row
  *    counts without opening any data file.
  *
  * Planning rule: a table with at most
  * [[ParquetTableIO.DriverManifestMaxBatches]] committed batches whose
  * manifest and tombstone files total at most
  * [[ParquetTableIO.DriverManifestMaxBytes]] is planned from the
  * driver-side snapshot ([[ParquetTableIO.manifestRows]]) — no Spark job
  * for metadata, so a point read runs exactly one job. A larger manifest
  * keeps the pushed-down collect of the pruned hit list — the
  * same metadata-sized collect as [[ParquetTableIO.chunksForKey]] (one
  * row per surviving chunk × read column, no blobs). Both paths apply the
  * committed-batch and tombstone rules of [[ParquetTableIO.manifest]], so
  * a torn or swapped-out batch is invisible here exactly as on the typed
  * read path.
  */
final class FsstDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "fsst"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FsstDataSource.resolve(options).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    // Spark hands back inferSchema's result — build the table from it
    // instead of re-running resolve's manifest jobs (and racing a batch
    // commit between the two calls into a schema mismatch)
    val opts = new CaseInsensitiveStringMap(properties)
    if (schema != null && schema.nonEmpty) {
      val o = FsstDataSource.parseOptions(opts)
      new FsstTable(o.root, o.table, schema, o.chunksPerPartition, o.asOf,
        FsstCatalog.readColumnSince(SparkSession.active, o.root, o.table))
    } else FsstDataSource.resolve(opts)
  }

  override def supportsExternalMetadata(): Boolean = false
}

object FsstDataSource {
  /** Open a catalog table: schema inference + option handling. Public —
    * this is also the programmatic way to reach the scan planner (tests
    * and the driver queries assert pruning through it). Byte columns are
    * surfaced as StringType when listed in `stringColumns` (the encode
    * side stored them via `encode(col, "UTF-8")`).
    */
  /** Parsed connector options. `asOf` pins the scan to a committed
    * snapshot (a batch id — what SQL `VERSION AS OF` resolves to).
    */
  private[sources] final case class FsstOptions(root: String, table: String,
      stringCols: Set[String], chunksPerPartition: Int, asOf: Option[String])

  private[sources] def parseOptions(options: CaseInsensitiveStringMap): FsstOptions = {
    val path = Option(options.get("path"))
    val (root, table) = (Option(options.get("root")), Option(options.get("table"))) match {
      case (Some(r), Some(t)) => (r, t)
      case _ =>
        val p = path.getOrElse(throw new IllegalArgumentException(
          "fsst source needs options root+table, or a load(path) of form <root>/<table>"))
        val cut = p.stripSuffix("/").lastIndexOf('/')
        require(cut > 0, s"fsst load path '$p' has no <root>/<table> split")
        (p.stripSuffix("/").substring(0, cut), p.stripSuffix("/").substring(cut + 1))
    }
    val stringCols = Option(options.get("stringColumns"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty[String])
    val chunksPerPartition = Option(options.get("chunksPerPartition")).map(_.toInt).getOrElse(8)
    require(chunksPerPartition > 0, "chunksPerPartition must be positive")
    FsstOptions(root, table, stringCols, chunksPerPartition, Option(options.get("asOf")))
  }

  def resolve(options: CaseInsensitiveStringMap): FsstTable = {
    val o = parseOptions(options)
    val (root, table) = (o.root, o.table)
    val spark = SparkSession.active
    val io = new ParquetTableIO(root)
    // a DDL-declared schema is AUTHORITATIVE: a created-but-still-empty
    // table resolves (so INSERT INTO can bootstrap it), and declared
    // string columns stay strings after data lands (manifest inference
    // would surface them as binary).
    // Read order mirrors alterTable's WRITE order inverted: the ALTER
    // writes watermark-then-schema, so reading schema-then-watermark
    // makes a concurrent resolve land on the harmless side (old schema +
    // new stray watermark = inert) instead of the bricking side (new
    // column declared with no watermark ⇒ every pre-ALTER scan fails).
    val declaredSchema = FsstCatalog.readDeclaredSchema(spark, root, table)
    val columnSince = FsstCatalog.readColumnSince(spark, root, table)
    declaredSchema match {
      case Some(declared) =>
        o.asOf.foreach { b =>
          require(io.committedBatchIds(spark, table).contains(b),
            s"fsst table '$table': snapshot '$b' is not a committed batch id " +
              "(list them via ParquetTableIO.snapshots)")
        }
        // a snapshot predating an added column's watermark reads it as
        // all-null (the chunks in scope all null-pad) — Iceberg's
        // read-with-current-schema time-travel semantics
        return new FsstTable(root, table, declared, o.chunksPerPartition, o.asOf,
          columnSince)
      case None =>
    }
    require(io.tableExists(spark, table),
      s"fsst table '$table' at '$root' has no committed chunks")
    // a snapshot pin must NAME a committed batch: the `<= asOf` manifest
    // filter would otherwise silently resolve a typo to a neighboring
    // snapshot (or the full table) instead of erroring
    o.asOf.foreach { b =>
      require(io.committedBatchIds(spark, table).contains(b),
        s"fsst table '$table': snapshot '$b' is not a committed batch id " +
          "(list them via ParquetTableIO.snapshots)")
    }
    // one codec name per column suffices for typing: value KIND is constant
    // per column (mixed byte/long codecs in one column is table corruption,
    // which the reader's codec-id validation rejects loudly).
    // A snapshot pin infers its schema from that snapshot's manifest —
    // from the driver-side rows when the manifest is small, else with a
    // distributed aggregate.
    def colsOfRows(rows: Array[ManifestEntry]) =
      rows.groupMapReduce(_.column)(_.codec)((a, _) => a).toArray.sortBy(_._1)
    def colsOf(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("column").agg(org.apache.spark.sql.functions.first("codec").as("codec"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
      .sortBy(_._1)
    val snapshot = io.manifestRows(spark, table, o.asOf)
    var cols = snapshot.fold(colsOf(io.manifestOpt(spark, table, o.asOf)))(s => colsOfRows(s.live))
    // a fully-TRUNCATED table still resolves: deletes don't change column
    // types, so typing falls back to the manifest without tombstone
    // filtering (the ingest-ledger view) — restricted to the snapshot's
    // batches when pinned, or a `VERSION AS OF` an all-deleted snapshot
    // would type itself from columns added AFTER the snapshot
    if (cols.isEmpty) cols = snapshot match {
      case Some(s) => colsOfRows(s.ingested)
      case None =>
        val batches = io.committedBatchIds(spark, table)
        val inScope = o.asOf match {
          case Some(b) => batches.filter(_ <= b)
          case None => batches
        }
        colsOf(io.manifestForBatches(spark, table, inScope.toIndexedSeq))
    }
    // reachable even though tableExists passed: a catalog holding only
    // data-less delete batches has commit markers but no manifest rows
    require(cols.nonEmpty, s"fsst table '$table' at '$root' has no readable columns")
    require(!cols.exists(_._1 == "key"), "stored column named 'key' collides with the key field")
    val longNames = LongCodec.names.values.toSet
    val fields = StructField("key", StringType, nullable = false) +: cols.map { case (name, codec) =>
      val dt =
        if (codec.endsWith(EncodePipeline.DoubleCodecSuffix)) DoubleType
        else if (longNames.contains(codec)) LongType
        else if (o.stringCols.contains(name)) StringType
        else BinaryType
      StructField(name, dt, nullable = true)
    }
    // columnSince rides the inferred path too: today a watermark always
    // coexists with a declared schema (alterTable writes the watermark
    // first, then the schema), but a manifest carrying every column
    // PLUS a stray watermark must still null-pad correctly rather than
    // hard-fail on pre-evolution batches
    new FsstTable(root, table, StructType(fields), o.chunksPerPartition, o.asOf,
      columnSince)
  }
}

final class FsstTable(root: String, tableName: String, tableSchema: StructType,
    chunksPerPartition: Int, asOf: Option[String] = None,
    columnSince: Map[String, String] = Map.empty)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** `_chunk_id` — the storage group a row lives in, surfaced as a
    * METADATA column (Iceberg's `_file` analogue at this catalog's group
    * granularity). Hidden from `SELECT *`, selectable explicitly, and the
    * group identity row-level operations runtime-filter on:
    * [[FsstScan]] implements `SupportsRuntimeFiltering` over it and
    * [[FsstRowLevelOperation]] declares it required, which is what lets
    * Spark's `RowLevelOperationRuntimeGroupFiltering` narrow a MERGE's
    * rewrite to the groups its source rows actually touch. A table
    * declaring its own `_chunk_id` DATA column shadows it (Spark hides
    * the metadata column; the scan keeps treating the name as stored).
    */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = FsstScan.ChunkIdCol
      override def dataType(): org.apache.spark.sql.types.DataType = LongType
      // nullable (the default): a MERGE's NOT MATCHED inserts carry NULL
      // for the metadata attrs of rows that have no source chunk yet
      override def comment(): String = "id of the encoded chunk holding this row"
    })

  override def name(): String =
    s"fsst.`$root`.`$tableName`" + asOf.map(b => s" AS OF $b").getOrElse("")
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FsstScanBuilder(root, tableName, tableSchema, chunksPerPartition, asOf, columnSince)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo):
      org.apache.spark.sql.connector.write.WriteBuilder = {
    require(asOf.isEmpty, "cannot write to a snapshot-pinned fsst table")
    new FsstWriteBuilder(root, tableName, tableSchema, info)
  }

  /** SQL `UPDATE` / `MERGE INTO` / every `DELETE` that is not
    * chunk-aligned — the group-based copy-on-write rewrite
    * ([[FsstRowLevelOperation]]). Chunk-aligned DELETE predicates never
    * execute here: `OptimizeMetadataOnlyDeleteFromTable` converts them
    * back to [[deleteWhere]] because [[canDeleteWhere]] accepts them.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo):
      org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(asOf.isEmpty, "cannot modify a snapshot-pinned fsst table")
    () => new FsstRowLevelOperation(root, tableName, tableSchema, chunksPerPartition,
      info.command(), columnSince)
  }

  /** `DELETE FROM`, two tiers (both snapshot-atomic and time-travelable):
    *  - METADATA delete when the key predicate covers whole chunks
    *    exactly (every chunk fully inside or fully outside): victims
    *    tombstone through the catalog's snapshot-gated delete batch —
    *    no data file is read. `TRUNCATE TABLE` is the always-true case.
    *    [[canDeleteWhere]] accepts only these; the check reads a
    *    [[ManifestView]], so a table within the driver-snapshot limits
    *    decides it with no Spark job.
    *  - Every other DELETE is refused here, so Spark plans `ReplaceData`
    *    through the group-based copy-on-write [[FsstRowLevelOperation]]
    *    that UPDATE and MERGE use: a probe collects the matched
    *    `_chunk_id`s, the operation scan is runtime-filtered to those
    *    chunks, Catalyst drops the matching rows, and the kept rows
    *    re-encode and commit with the victims' tombstones under one
    *    marker. Chunks the predicate cannot match are never rewritten.
    */
  // canDeleteWhere → deleteWhere run on the same Table instance within
  // one DELETE: cache the victims so the manifest is read ONCE, and
  // so a concurrent commit between the two calls cannot flip an
  // accepted delete into a mid-execution failure (the plan-time answer
  // is the one executed — standard snapshot-at-plan semantics)
  @volatile private var cachedDelete: Option[(Seq[Filter], Option[Array[(Long, String)]])] = None

  private def victimsFor(filters: Array[Filter]): Option[Array[(Long, String)]] =
    cachedDelete match {
      case Some((k, v)) if k == filters.toSeq => v
      case _ =>
        val v = FsstScan.chunkAlignedVictims(ManifestView(root, tableName, None), filters)
        cachedDelete = Some((filters.toSeq, v))
        v
    }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    asOf.isEmpty && victimsFor(filters).isDefined

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(asOf.isEmpty, "cannot delete from a snapshot-pinned fsst table")
    val victims = victimsFor(filters).getOrElse(throw new UnsupportedOperationException(
      s"DELETE FROM fsst table: ${filters.mkString(" AND ")} is not chunk-aligned — " +
        "SQL DELETE runs it as a copy-on-write rewrite of the matching chunks"))
    // a delete matching nothing commits nothing (no empty delete batch)
    if (victims.nonEmpty) {
      val (spark, io) = (SparkSession.active, new ParquetTableIO(root))
      io.commitBatch(spark, tableName, io.beginBatch(spark, tableName), Array.empty, Some(victims))
    }
    // the plan-time answer is now stale: a reused Table instance must
    // recompute for any further DELETE with the same filters
    cachedDelete = None
  }
}

/** One pushed aggregate, reduced to what the manifest can answer:
  * `COUNT(*)` = sum of chunk row counts; `MIN`/`MAX` over the key or a
  * zone-mapped long/double column = fold of the chunk stats. Exact, not
  * an estimate: zone maps store true min/max over non-null values (SQL
  * MIN/MAX ignore nulls) and key ranges are true bounds in the same
  * UTF-8 code-point order Spark compares strings in.
  */
private[sources] sealed trait AggSpec extends Serializable
private[sources] case object CountStarSpec extends AggSpec
private[sources] final case class MinMaxSpec(column: String, isMin: Boolean,
    dataType: DataType) extends AggSpec

final class FsstScanBuilder(root: String, table: String, tableSchema: StructType,
    chunksPerPartition: Int, asOf: Option[String] = None,
    columnSince: Map[String, String] = Map.empty,
    rowLevel: Option[FsstRowLevelOperation] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownAggregates {

  /** Anchor-eligible columns (live in EVERY live chunk instance) —
    * memoized across the builder's two aggSpecs probes
    * (supportCompletePushDown, then pushAggregation).
    */
  private lazy val everyInstanceColsV: Seq[String] = {
    val declared = tableSchema.fieldNames.drop(1).toSeq
    view.everyInstanceCols(declared, declared)
  }

  /** One manifest view for both aggregate probes and the scan built
    * here, so a query lists and reads the manifest once for all of them.
    */
  private lazy val view: ManifestView = ManifestView(root, table, asOf)

  private var required: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty
  private var sawFilters = false
  private var agg: Option[(StructType, Array[AggSpec])] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    // after an aggregate pushdown the read schema IS the agg schema;
    // otherwise preserve our field order/types (Spark's set may reorder).
    // The `_chunk_id` METADATA column is kept (appended last) unless the
    // table shadows it with a stored column of the same name.
    if (agg.isEmpty) {
      val names = requiredSchema.fieldNames.toSet
      val stored = tableSchema.fields.filter(f => names.contains(f.name))
      val meta =
        if (names.contains(FsstScan.ChunkIdCol) &&
            !tableSchema.fieldNames.contains(FsstScan.ChunkIdCol))
          Array(StructField(FsstScan.ChunkIdCol, LongType))
        else Array.empty[StructField]
      required = StructType(stored ++ meta)
    }

  /** Keep the filters usable for metadata pruning; hand EVERY filter back
    * as a residual — chunk-granular pruning is conservative, so Spark
    * must re-evaluate exactly (same split as the parquet source).
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val longOrDouble = tableSchema.fields
      .filter(f => f.dataType == LongType || f.dataType == DoubleType).map(_.name).toSet
    sawFilters = filters.nonEmpty
    pushed = filters.filter(FsstScan.prunable(_, longOrDouble))
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** COUNT(*) / MIN / MAX answered entirely from the manifest — a
    * full-table aggregate at 100 TB becomes a metadata read. Complete
    * (exact) pushdown only: refused whenever any filter is present
    * (Spark would not offer it then either — every filter of ours is a
    * post-scan residual), the aggregation has group-bys, any function is
    * something else, or a referenced column has a chunk without stats
    * (all-null chunk or pre-stats writer — MIN/MAX would need the data).
    */
  private def aggSpecs(aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation):
      Option[Array[AggSpec]] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    // a row-level operation scan must surface full rows of matched groups.
    // An EMPTY aggregate list is real: an outer count() over our audit
    // aggregates lets the optimizer strip the inner agg's functions and
    // push an Aggregation with zero expressions — refusing it hands the
    // (trivial) aggregate back to Spark; accepting it would leave aggRow
    // folding nothing.
    if (rowLevel.isDefined || sawFilters || aggregation.groupByExpressions.nonEmpty ||
        aggregation.aggregateExpressions.isEmpty) return None
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[StructField] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 =>
          tableSchema.fields.find(_.name == nr.fieldNames()(0))
        case _ => None
      }
    val specs: Array[Option[AggSpec]] = aggregation.aggregateExpressions.map {
      case _: CountStar => Some(CountStarSpec)
      case m: Min => colOf(m.column).collect {
        case f if f.name == "key" || f.dataType == LongType || f.dataType == DoubleType =>
          MinMaxSpec(f.name, isMin = true, f.dataType)
      }
      case m: Max => colOf(m.column).collect {
        case f if f.name == "key" || f.dataType == LongType || f.dataType == DoubleType =>
          MinMaxSpec(f.name, isMin = false, f.dataType)
      }
      case _ => None
    }
    if (specs.exists(_.isEmpty)) None
    else {
      val flat = specs.map(_.get)
      // COUNT(*) and key MIN/MAX fold over an ANCHOR column's manifest
      // rows, which must exist in every batch — refuse when no such
      // column exists (key-only declared tables, or every original
      // column dropped with only post-ALTER columns left AND batches
      // predating their watermarks)
      val needsAnchor = flat.exists {
        case CountStarSpec => true
        case MinMaxSpec(c, _, _) => c == "key"
      }
      if (needsAnchor && everyInstanceColsV.isEmpty) return None
      val statCols = flat.collect { case MinMaxSpec(c, _, _) if c != "key" => c }.distinct
      if (statCols.isEmpty || statsComplete(statCols.toIndexedSeq)) Some(flat) else None
    }
  }

  /** Every chunk of every referenced column must carry zone stats, or the
    * fold would silently drop an all-null/pre-stats chunk's contribution.
    * Memoized across the support/push call pair.
    */
  private lazy val statsCompleteCache = mutable.Map.empty[Seq[String], Boolean]
  private def statsComplete(cols: Seq[String]): Boolean =
    statsCompleteCache.getOrElseUpdate(cols.sorted, view.statsComplete(cols))

  override def supportCompletePushDown(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    aggSpecs(aggregation).isDefined

  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    aggSpecs(aggregation) match {
      case Some(specs) =>
        val fields = specs.map {
          case CountStarSpec => StructField("count(*)", LongType, nullable = false)
          case MinMaxSpec(c, isMin, dt) =>
            StructField(s"${if (isMin) "min" else "max"}($c)", dt, nullable = true)
        }
        agg = Some((StructType(fields.toSeq), specs))
        true
      case None => false
    }

  override def build(): Scan =
    new FsstScan(root, table, tableSchema, required, pushed, chunksPerPartition, () => view,
      agg, asOf, columnSince, rowLevel)
}

/** One fetched column of a partition: every chunk in the group has its
  * (key_blob, value_blob) row for `column` inside `file`. `file == ""`
  * marks a column ABSENT from this partition's chunks (the chunks
  * predate the column's schema-evolution watermark) — the reader emits
  * NULL for it.
  */
final case class ColFile(column: String, file: String)

/** A group of chunks sharing one data file per fetched column. `nRows`
  * aligns with `chunkIds` (manifest row counts — the metadata-only
  * `count(*)` path). `readValues` = false for key-only scans: the reader
  * then projects value_blob out of the parquet read entirely (the anchor
  * column's compressed values are never pulled off disk).
  */
final case class ChunkGroupPartition(chunkIds: Array[Long], nRows: Array[Long],
    colFiles: Array[ColFile], readValues: Boolean = true) extends InputPartition

/** The single row of a fully-pushed aggregate, computed on the driver
  * from the manifest. Values are plain JVM types (String for key
  * bounds — converted to UTF8String in the reader).
  */
final case class AggRowPartition(values: Array[Any]) extends InputPartition

final class FsstScan(root: String, table: String, tableSchema: StructType,
    required: StructType, filters: Array[Filter], chunksPerPartition: Int,
    manifestView: () => ManifestView,
    agg: Option[(StructType, Array[AggSpec])] = None,
    asOf: Option[String] = None, columnSince: Map[String, String] = Map.empty,
    rowLevel: Option[FsstRowLevelOperation] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering {

  /** The ONE manifest view of this scan, shared with its builder's
    * aggregate probes: anchor admission, the plan, every runtime-filter
    * re-plan, the row-level victims guard and the aggregate fold all see
    * the same committed set. A per-column compaction committing between
    * an admission and a fold over a SECOND view could silently shift the
    * anchor's row set under the fold.
    */
  private lazy val view: ManifestView = manifestView()

  /** Anchor-eligible columns over `view`. */
  private def anchorCols: Seq[String] = {
    val declared = tableSchema.fieldNames.drop(1).toSeq
    view.everyInstanceCols(declared, declared)
  }

  // ------------------------------------------ runtime group filtering
  // Spark's RowLevelOperationRuntimeGroupFiltering (and DPP on an
  // explicit `_chunk_id` join) narrows this scan AT EXECUTION to the
  // chunk ids a probe query actually matched: BatchScanExec calls
  // `filter(...)` then re-plans input partitions. The id set pushes
  // into the manifest parquet read, so a selective MERGE plans (and its
  // row-level write later tombstones) only the touched groups — without
  // this, a MERGE's ON join gives the planner nothing static to prune
  // with and every chunk would be rewritten.
  @volatile private var runtimeChunkIds: Option[Set[Long]] = None
  @volatile private var cachedPlan: (Array[ChunkGroupPartition], Long, Long) = _

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // advertised ONLY when this scan outputs the metadata column: Spark's
    // join-DPP rule (PartitionPruning) resolves these refs against the
    // scan relation's OUTPUT and throws on a miss, so a plain pruned scan
    // must advertise nothing. Row-level operation scans always qualify —
    // the operation's requiredMetadataAttributes forces `_chunk_id` into
    // the projection, which is what RowLevelOperationRuntimeGroupFiltering
    // resolves against. (A table shadowing the name with a DATA column
    // keeps it out of `required`'s metadata set via pruneColumns, and the
    // stored column is not group identity — advertise nothing then too.)
    if (agg.isEmpty && required.fieldNames.contains(FsstScan.ChunkIdCol) &&
        !tableSchema.fieldNames.contains(FsstScan.ChunkIdCol))
      Array(org.apache.spark.sql.connector.expressions.Expressions.column(FsstScan.ChunkIdCol))
    else Array.empty

  override def filter(runtime: Array[Filter]): Unit = {
    val idSets = runtime.collect {
      case In(FsstScan.ChunkIdCol, vs) =>
        vs.iterator.collect { case l: java.lang.Long => l.longValue() }.toSet
      case EqualTo(FsstScan.ChunkIdCol, l: java.lang.Long) => Set(l.longValue())
    }
    if (idSets.nonEmpty) {
      val merged = idSets.reduce(_ intersect _)
      runtimeChunkIds = Some(runtimeChunkIds.fold(merged)(_ intersect merged))
      cachedPlan = null // re-plan under the narrowed id set
    }
  }

  override def readSchema(): StructType = agg.map(_._1).getOrElse(required)
  override def toBatch: Batch = this
  override def description(): String = {
    val fs = if (filters.isEmpty) "" else filters.mkString(" PrunedBy: [", ", ", "]")
    val ag = agg.map(a => s" PushedAggregates: [${a._1.fieldNames.mkString(",")}]").getOrElse("")
    s"FsstScan $root/$table cols=[${readSchema().fieldNames.mkString(",")}]$fs$ag"
  }

  /** Aggregate mode: fold the manifest stats into the one result row —
    * no data file is ever opened. Small manifests fold on the driver from
    * the snapshot rows; larger ones fold as a DISTRIBUTED aggregation
    * over the manifest (the driver collects exactly one row).
    * Exactness argument: COUNT(*) sums n_rows (nulls included, as SQL
    * counts them) over one column's chunks (every chunk carries each row
    * exactly once per column); MIN/MAX over the key fold the true
    * per-chunk key bounds — Spark's string MIN/MAX compare in UTF8String
    * binary order, which is the UTF-8 code-point order the encode side
    * recorded ([[Keys.compareUtf8]]); MIN/MAX over a long/double column
    * fold true non-null bounds (SQL MIN/MAX ignore nulls — all-null
    * chunks carry no stats and are skipped), doubles through the
    * order-preserving SortableBits map — and the builder refused the
    * pushdown if ANY chunk lacked stats.
    */
  private def aggRow(specs: Array[AggSpec]): Array[Any] = {
    // COUNT/key-bound folds ride a column present in EVERY live chunk
    // instance (aggSpecs refused the pushdown when none existed at
    // probe time; a concurrent rewrite since then surfaces here loudly)
    val anchor = anchorCols
      .headOption.getOrElse(throw new IllegalStateException(
        s"table '$table': aggregate fold with no every-instance anchor column — " +
          "refused at probe time, or the layout changed under the fold " +
          "(concurrent per-column rewrite); retry the query"))
    view.fold(specs, anchor).zip(specs).map {
      case (v: java.lang.Long, MinMaxSpec(_, _, DoubleType)) =>
        java.lang.Double.valueOf(SortableBits.toDouble(v))
      case (v, _) => v
    }
  }

  /** Driver-side plan: prune the manifest with the pushed filters, then
    * group surviving chunks by their per-column file tuple. Chunks group
    * by (chunk_id, batch) — the batch parsed from the data file path — so
    * a chunk id REUSED across append batches (hash-mode ids are bucket
    * indexes in every batch) reads as the separate physical chunks it is;
    * the typed decodeColumns path rejects that state, the connector
    * serves it. Cached — `estimateStatistics` and `planInputPartitions`
    * both use it.
    *
    * SCALE SHAPE: a manifest within [[ParquetTableIO.DriverManifestMaxBytes]]
    * and [[ParquetTableIO.DriverManifestMaxBatches]] plans from the
    * driver-side snapshot ([[ParquetTableIO.manifestRows]]) with no
    * metadata Spark job; [[FsstScan.planFromManifest]]'s key/zone tests
    * do the pruning.
    * A larger manifest keeps the pushed-down collect: the column
    * projection, key-range predicates, and zone predicates are applied
    * as CATALYST filters on the manifest DataFrame BEFORE the collect
    * ([[FsstScan.pruneManifest]]) — the manifest is parquet, so they
    * prune at row-group level exactly like [[ParquetTableIO.chunksForKey]],
    * and the driver collects O(surviving chunks × fetched columns) rows,
    * never O(chunks × columns); planFromManifest re-applies the same
    * predicates as an idempotent residual. The two paths differ only in
    * where planFromManifest's rows come from ([[ManifestView]]).
    */
  private def plan: (Array[ChunkGroupPartition], Long, Long) = {
    val p = cachedPlan
    if (p != null) p
    else { val fresh = computePlan(); cachedPlan = fresh; fresh }
  }

  private def computePlan(): (Array[ChunkGroupPartition], Long, Long) = {
    // the scan-wide view spans the whole planning pass — anchor
    // admission, the plan, AND the duplicate-sibling victims guard below
    // (a second view could judge the guard against a committed set the
    // plan never saw)
    val res = computePlanInner()
    // record the planned victims for the row-level write's commit: every
    // (chunk_id, column) manifest row of every planned instance. Distinct
    // collapses duplicate-id instances across batches — ONE batch-gated
    // tombstone kills them all, and all were read. Assigned on EVERY
    // planning pass (including the empty one): runtime group filtering
    // RE-plans this scan, and victims MUST mirror the plan that actually
    // executed — a probe that matched nothing means nothing was read, so
    // nothing may be tombstoned (stale victims from the pre-filter pass
    // would silently delete unread chunks).
    rowLevel.foreach { op =>
      val victims = res._1.iterator.flatMap(p =>
        p.colFiles.iterator.filter(_.file.nonEmpty).flatMap(cf =>
          p.chunkIds.iterator.map(id => (id, cf.column)))).toArray.distinct
      // tombstones are id-granular across all gated batches, so EVERY
      // live instance of a victim id must have been planned (and thus
      // read + rewritten). Identical-content duplicates always prune
      // identically and pass; bucket-mode ids can repeat with DIFFERENT
      // content across batches, where key/zone pruning may keep one
      // sibling and drop the other — committing would delete the
      // never-read sibling. Skipped when nothing pruned (no pushed
      // filters, no runtime ids ⇒ every live instance is planned by
      // construction — the unfiltered MERGE pre-pass pays nothing).
      if (victims.nonEmpty && (filters.nonEmpty || runtimeChunkIds.isDefined)) {
        val plannedPerId: Map[Long, Int] = res._1.iterator.flatMap(_.chunkIds.iterator)
          .toArray.groupBy(identity).view.mapValues(_.length).toMap
        view.overPlanned(plannedPerId).foreach { case (id, live) =>
          throw new IllegalStateException(
            s"row-level $table rewrite: chunk $id has $live live " +
              s"instances but pruning planned only ${plannedPerId(id)} — the id-granular " +
              "tombstone would delete the unplanned sibling(s) without rewriting them " +
              "(duplicate chunk ids with diverging content across batches); compact the " +
              "table first")
        }
      }
      op.plannedVictims = Some(victims)
    }
    res
  }

  private def computePlanInner(): (Array[ChunkGroupPartition], Long, Long) = {
    // an EMPTY runtime id set means the probe matched no groups at all —
    // nothing to read, nothing to rewrite
    if (runtimeChunkIds.exists(_.isEmpty)) return (Array.empty, 0L, 0L)
    val stored = FsstScan.storedFields(required, tableSchema)
    val valueFields = stored.fieldNames.filter(_ != "key").toSeq
    // a row-level rewrite replaces whole chunks, so the scan MUST carry
    // every stored column — Spark plans ReplaceData over full rows; a
    // pruned projection here would mean silently dropping the unfetched
    // columns of every rewritten chunk
    rowLevel.foreach { _ =>
      val allVals = tableSchema.fieldNames.filter(_ != "key").toSet
      require(valueFields.toSet == allVals,
        s"row-level operation scan fetches [${valueFields.mkString(",")}] but the table " +
          s"stores [${allVals.toSeq.sorted.mkString(",")}]")
    }
    // stats columns: every filtered long/double column, even if not projected
    val statCols = filters.flatMap(FsstScan.references).filter(c =>
      tableSchema.fields.exists(f => f.name == c &&
        (f.dataType == LongType || f.dataType == DoubleType))).toSet
    val doubleCols = tableSchema.fields.filter(_.dataType == DoubleType).map(_.name).toSet
    // the runtime id set is EXACT on chunk_id; it narrows only the rows
    // planned from (the distributed view pushes only small sets into the
    // manifest scan), and every collected row is re-checked below, so
    // victims are exact either way. Anchor admission, the smallest-column
    // choice and the live-declared-rows guard see the whole view, so both
    // views decide them on the same rows whatever the id count.
    def inRuntime(e: ManifestEntry) = runtimeChunkIds.forall(_.contains(e.chunkId))
    // a counting/anchor column must be live in EVERY live chunk
    // instance — instance-exact, not watermark arithmetic (per-column
    // rewrites break the proxy; see [[FsstScan.everyInstanceCols]]).
    // lazy: a plain value projection never runs the coverage check
    lazy val anchors = anchorCols
    if (valueFields.isEmpty && statCols.isEmpty && !stored.fieldNames.contains("key") &&
        anchors.nonEmpty) {
      // empty projection, no value filters: count rows straight off the
      // manifest (any single column counts each chunk's rows exactly once);
      // keySurvives is the exact key test (the distributed view also
      // pushes it into the manifest parquet scan)
      val rows = view.rows(Seq(anchors.head), runtimeChunkIds, filters, Set.empty, doubleCols)
        .filter(e => FsstScan.keySurvives(e.minKey, e.maxKey, filters) && inRuntime(e))
        .sortBy(e => (e.chunkId, e.nRows))
      val parts = rows.grouped(chunksPerPartition).map { g =>
        ChunkGroupPartition(g.map(_.chunkId), g.map(_.nRows), Array.empty)
      }.toArray
      (parts, rows.map(_.nRows).sum, 0L)
    } else {
      // key-only scans anchor on the globally smallest every-batch
      // column (by manifest bytes). A projection of ONLY evolved columns
      // rides a base column so pre-evolution chunks still surface
      // (null-padded).
      val evolved = columnSince.keySet
      lazy val baseAnchor: Option[String] = view.smallestColumn(anchors)
      val (fetch, readValues) =
        if (valueFields.nonEmpty)
          (if (valueFields.forall(evolved.contains)) valueFields ++ baseAnchor.toSeq
           else valueFields, true)
        else (baseAnchor.toSeq, false)
      // an anchorless plan over live DECLARED rows would silently LOSE
      // rows — key-only/count scans would read zero, an all-evolved
      // projection would drop every pre-watermark instance. Fail loudly
      // instead (reachable only through states the ALTER guards refuse
      // to create, e.g. interrupted DDL). Residue rows of undeclared
      // columns don't count: with no declared rows the empty result IS
      // correct.
      def liveDeclaredRows: Boolean = {
        val declared = tableSchema.fieldNames.drop(1).toSeq
        declared.nonEmpty && view.hasRows(declared)
      }
      if ((fetch.isEmpty || (valueFields.nonEmpty && valueFields.forall(evolved.contains) &&
          baseAnchor.isEmpty)) && liveDeclaredRows)
        throw new IllegalStateException(
          s"table '$table': no declared value column is live in every chunk " +
            "instance — cannot anchor a key-only/count scan or null-pad an " +
            "all-evolved projection; rewrite the table onto one schema generation " +
            "(full-table UPDATE or INSERT OVERWRITE)")
      val needed = (fetch ++ statCols).distinct
      val mAll = view.rows(needed, runtimeChunkIds, filters, statCols, doubleCols)
        .filter(inRuntime)
      FsstScan.planFromManifest(mAll, stored, tableSchema, filters,
        chunksPerPartition, table, Some((fetch, readValues)), columnSince)
    }
  }

  override def planInputPartitions(): Array[InputPartition] = agg match {
    case Some((_, specs)) => Array(AggRowPartition(aggRow(specs)))
    case None => plan._1.asInstanceOf[Array[InputPartition]]
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new SerializableConfiguration(
      SparkSession.active.sessionState.newHadoopConf())
    // row-level mode: the reader must emit EVERY row of the planned
    // chunks — selectEquals drops non-matching rows, which a group
    // rewrite would then delete. Filters prune groups only.
    val eq = if (rowLevel.isDefined) Array.empty[ColEquals]
      else FsstScan.byteEqFilters(filters, tableSchema)
    new FsstReaderFactory(readSchema(), conf, eq)
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(if (agg.isDefined) 64L else math.max(plan._3, 1L))
    override def numRows(): OptionalLong =
      OptionalLong.of(if (agg.isDefined) 1L else plan._2)
  }

  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(asOf.isEmpty,
      "a snapshot-pinned fsst table cannot be streamed — the pin freezes the commit log")
    new FsstMicroBatchStream(root, table, tableSchema, required, filters, chunksPerPartition,
      columnSince)
  }
}

/** Stream offset = the greatest committed batch id included so far.
  * Batch ids lead with fixed-width creation millis
  * ([[ParquetTableIO]]), so lexicographic id order IS commit order and a
  * plain string watermark totally orders the log. `""` = before
  * everything.
  */
final case class FsstOffset(batch: String)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json: String = batch
}

/** Streaming read of the catalog: `spark.readStream.format("fsst")`.
  *
  * The catalog's commit log IS the source-of-truth offset sequence —
  * each micro-batch emits exactly the rows of batches committed in
  * `(start, end]`, planned from [[fsstspark.io.TableIO.manifestForBatches]]
  * (directory-pruned to the new batches; the manifest is partitioned by
  * batch, so per-micro-batch planning cost is O(new batches), never
  * O(table)). Combined with [[fsstspark.streaming.StreamingEncode.startCatalog]]
  * on the write side this gives an end-to-end streaming pipeline through
  * the encoded catalog.
  *
  * Semantics: an APPEND LOG of the catalog, deliberately WITHOUT
  * tombstone filtering — a batch's rows are emitted exactly once, when
  * its marker lands, and are not retracted if a later compaction
  * tombstones the chunk (the compaction's own rewrite batch would
  * otherwise double-deliver the same rows). Consumers wanting the
  * current table state use the batch read; consumers of the stream get
  * exactly-once delivery of every ingested row. Filters prune new
  * batches' chunks the same way the batch scan prunes
  * ([[FsstScan.planFromManifest]]).
  */
final class FsstMicroBatchStream(root: String, table: String, tableSchema: StructType,
    required: StructType, filters: Array[Filter], chunksPerPartition: Int,
    columnSince: Map[String, String] = Map.empty)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  private def spark = SparkSession.active
  private val io = new ParquetTableIO(root)
  // Trigger.AvailableNow pins the end offset at stream start so the run
  // drains to a FIXED point and terminates even while writers keep
  // committing
  @volatile private var availableNowCap: Option[String] = None

  private def currentMax: String = {
    val ids = io.committedBatchIds(spark, table)
    if (ids.isEmpty) "" else ids.max
  }

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(currentMax)

  override def initialOffset(): org.apache.spark.sql.connector.read.streaming.Offset =
    FsstOffset("")
  override def latestOffset(): org.apache.spark.sql.connector.read.streaming.Offset =
    FsstOffset(availableNowCap.getOrElse(currentMax))
  // SupportsAdmissionControl (via SupportsTriggerAvailableNow): no rate
  // limiting — a micro-batch takes every batch committed so far (or up to
  // the AvailableNow pin); Spark calls this overload when present
  override def latestOffset(start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit):
      org.apache.spark.sql.connector.read.streaming.Offset =
    latestOffset()
  override def deserializeOffset(json: String): org.apache.spark.sql.connector.read.streaming.Offset =
    FsstOffset(json)
  override def commit(end: org.apache.spark.sql.connector.read.streaming.Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      end: org.apache.spark.sql.connector.read.streaming.Offset): Array[InputPartition] = {
    val s0 = start.asInstanceOf[FsstOffset].batch
    val e0 = end.asInstanceOf[FsstOffset].batch
    val batches = io.committedBatchIds(spark, table).filter(b => b > s0 && b <= e0).sorted
    if (batches.isEmpty) return Array.empty
    val mAll = io.manifestForBatches(spark, table, batches.toIndexedSeq)
      .collect().map(ManifestEntry.fromRow)
    FsstScan.planFromManifest(mAll, required, tableSchema, filters, chunksPerPartition, table,
      None, columnSince)
      ._1.asInstanceOf[Array[InputPartition]]
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    // same eq-pushdown as the batch scan
    new FsstReaderFactory(required, conf, FsstScan.byteEqFilters(filters, tableSchema))
  }
}

/** The manifest facts one scan plans from, under ONE committed set.
  * [[ManifestView.Driver]] answers from the driver-side snapshot rows
  * ([[ParquetTableIO.manifestRows]]) with no Spark job;
  * [[ManifestView.Distributed]] runs pushed-down jobs over the manifest
  * DataFrame for manifests above the collect limit. Either way
  * [[FsstScan.planFromManifest]] does the grouping and the exact
  * key/zone tests.
  */
private[sources] sealed trait ManifestView {
  /** [[FsstScan.everyInstanceCols]] over this view. */
  def everyInstanceCols(candidates: Seq[String], universe: Seq[String]): Seq[String]
  /** The smallest of `among` by manifest bytes ([[FsstScan.smallestColumn]]). */
  def smallestColumn(among: Seq[String]): Option[String]
  def hasRows(columns: Seq[String]): Boolean
  /** Rows of `columns` (and of the chunk ids `ids`, when given) that may
    * survive `filters` — a superset of the exact
    * planFromManifest/keySurvives result; the distributed view narrows
    * only id sets small enough to push, so callers re-check the ids.
    */
  def rows(columns: Seq[String], ids: Option[Set[Long]], filters: Array[Filter],
      statCols: Set[String], doubleCols: Set[String]): Array[ManifestEntry]
  /** A chunk id (with its live instance count) that has more live
    * instances than `planned` gives it.
    */
  def overPlanned(planned: Map[Long, Int]): Option[(Long, Long)]
  /** No chunk of `cols` lacks zone stats. */
  def statsComplete(cols: Seq[String]): Boolean
  /** The pushed aggregates, before the double decode: COUNT(*) as Long,
    * key bounds as String, zone bounds as Long; null when nothing to fold.
    */
  def fold(specs: Array[AggSpec], anchor: String): Array[Any]
  /** [[FsstScan.chunkAlignedVictims]] over this view. */
  def alignedVictims(filters: Array[Filter]): Option[Array[(Long, String)]]
}

private[sources] object ManifestView {
  /** The driver snapshot when the manifest is small enough, else the
    * distributed view — both honor the `asOf` pin.
    */
  def apply(root: String, table: String, asOf: Option[String]): ManifestView = {
    val spark = SparkSession.active
    val io = new ParquetTableIO(root)
    io.manifestRows(spark, table, asOf) match {
      case Some(s) => Driver(s.live)
      case None => Distributed(io.manifestOpt(spark, table, asOf))
    }
  }

  final case class Driver(m: Array[ManifestEntry]) extends ManifestView {
    def everyInstanceCols(candidates: Seq[String], universe: Seq[String]): Seq[String] =
      FsstScan.everyInstanceCols(m, candidates, universe)
    def smallestColumn(among: Seq[String]): Option[String] =
      FsstScan.smallestColumn(m.filter(e => among.contains(e.column)))
    def hasRows(columns: Seq[String]): Boolean = m.exists(e => columns.contains(e.column))
    def rows(columns: Seq[String], ids: Option[Set[Long]], filters: Array[Filter],
        statCols: Set[String], doubleCols: Set[String]): Array[ManifestEntry] = {
      val keep = columns.toSet
      m.filter(e => keep(e.column) && ids.forall(_.contains(e.chunkId)))
    }
    def overPlanned(planned: Map[Long, Int]): Option[(Long, Long)] =
      m.iterator.filter(e => planned.contains(e.chunkId)).toSeq
        .groupMapReduce(e => (e.chunkId, e.column))(_ => 1L)(_ + _)
        .groupMapReduce(_._1._1)(_._2)(math.max)
        .find { case (id, live) => live > planned(id) }
    def statsComplete(cols: Seq[String]): Boolean =
      !m.exists(e => cols.contains(e.column) && e.valueMin.isEmpty)
    def fold(specs: Array[AggSpec], anchor: String): Array[Any] = {
      def of(c: String) = m.iterator.filter(_.column == c)
      def pick(isMin: Boolean)(a: String, b: String) =
        if ((Keys.compareUtf8(a, b) <= 0) == isMin) a else b
      specs.map {
        case CountStarSpec => java.lang.Long.valueOf(of(anchor).map(_.nRows).sum)
        case MinMaxSpec("key", isMin, _) =>
          of(anchor).map(e => if (isMin) e.minKey else e.maxKey).filter(_ != null)
            .reduceOption(pick(isMin)).orNull
        case MinMaxSpec(c, isMin, _) =>
          of(c).flatMap(e => if (isMin) e.valueMin else e.valueMax)
            .reduceOption((a, b) => if (isMin) math.min(a, b) else math.max(a, b))
            .map(java.lang.Long.valueOf).orNull
      }
    }
    def alignedVictims(filters: Array[Filter]): Option[Array[(Long, String)]] = {
      val full = FsstScan.fullyTrue(filters).getOrElse(return None)
      val (victims, rest) = m.partition(e => FsstScan.keySurvives(e.minKey, e.maxKey, filters))
      // alignment: a chunk that MAY hold a matching key is FULLY covered
      if (!victims.forall(full)) return None
      // duplicate-id agreement: tombstones kill the id, so no instance of
      // a victim id may be a non-victim
      val ids = victims.iterator.map(_.chunkId).toSet
      if (rest.exists(e => ids(e.chunkId))) return None
      Some(victims.map(e => (e.chunkId, e.column)).distinct)
    }
  }

  final case class Distributed(m: org.apache.spark.sql.DataFrame) extends ManifestView {
    import org.apache.spark.sql.functions.{coalesce, col, lit, max, min, sum, when}
    def everyInstanceCols(candidates: Seq[String], universe: Seq[String]): Seq[String] =
      FsstScan.everyInstanceCols(m, candidates, universe)
    def smallestColumn(among: Seq[String]): Option[String] =
      FsstScan.smallestColumn(m.filter(col("column").isin(among: _*)))
    def hasRows(columns: Seq[String]): Boolean =
      !m.filter(col("column").isin(columns: _*)).limit(1).isEmpty
    def rows(columns: Seq[String], ids: Option[Set[Long]], filters: Array[Filter],
        statCols: Set[String], doubleCols: Set[String]): Array[ManifestEntry] = {
      val narrowed = ids.filter(_.size <= FsstScan.RuntimeIdPushdownLimit)
        .fold(m)(s => m.filter(col("chunk_id").isInCollection(s)))
      FsstScan.pruneManifest(narrowed, columns, filters, statCols, doubleCols)
        .collect().map(ManifestEntry.fromRow)
    }
    // a distributed live-vs-planned join that collects at most the one
    // violating row
    def overPlanned(planned: Map[Long, Int]): Option[(Long, Long)] = {
      val spark = m.sparkSession
      import spark.implicits._
      FsstScan.liveInstanceCounts(m, planned.keys.toSeq)
        .join(planned.toSeq.toDF("chunk_id", "planned"), "chunk_id")
        .filter(col("live") > col("planned"))
        .limit(1).collect().headOption.map(r => (r.getLong(0), r.getLong(1)))
    }
    def statsComplete(cols: Seq[String]): Boolean =
      m.filter(col("column").isin(cols: _*)).filter(col("value_min").isNull).isEmpty
    def fold(specs: Array[AggSpec], anchor: String): Array[Any] = {
      val aggExprs = specs.zipWithIndex.map {
        case (CountStarSpec, i) =>
          coalesce(sum(when(col("column") === anchor, col("n_rows"))), lit(0L)).as(s"a$i")
        case (MinMaxSpec("key", isMin, _), i) =>
          (if (isMin) min(when(col("column") === anchor, col("min_key")))
           else max(when(col("column") === anchor, col("max_key")))).as(s"a$i")
        case (MinMaxSpec(c, isMin, _), i) =>
          (if (isMin) min(when(col("column") === c, col("value_min")))
           else max(when(col("column") === c, col("value_max")))).as(s"a$i")
      }
      val row = m.agg(aggExprs.head, aggExprs.tail.toIndexedSeq: _*).head()
      specs.indices.map(i => if (row.isNullAt(i)) null else row.get(i)).toArray
    }
    // the alignment check and the duplicate-id agreement check are each a
    // filter + limit-1 probe (the pruning predicates push into the
    // manifest parquet scan); the victims are then collected, one row per
    // deleted (chunk, column), for the driver's tombstone write
    def alignedVictims(filters: Array[Filter]): Option[Array[(Long, String)]] = {
      val full = FsstScan.fullyTrueCond(filters).getOrElse(return None)
      val keys = m.select("chunk_id", "column", "min_key", "max_key")
      val mayMatch = FsstScan.keyPruneCond(filters)
      if (!keys.filter(mayMatch && !full).isEmpty) return None
      val victims = keys.filter(mayMatch)
      if (!keys.filter(!mayMatch)
          .join(victims.select("chunk_id").distinct(), Seq("chunk_id"), "left_semi")
          .isEmpty) return None
      Some(victims.select("chunk_id", "column").distinct().collect()
        .map(r => (r.getLong(0), r.getString(1))))
    }
  }
}

private[sources] object FsstScan {
  /** Name of the `_chunk_id` metadata column ([[FsstTable.metadataColumns]]). */
  val ChunkIdCol = "_chunk_id"

  /** Largest runtime chunk-id set pushed into the manifest parquet scan
    * as an In predicate; bigger sets (a barely-selective probe) filter
    * driver-side on the statically-pruned collect instead — same exact
    * result, no giant expression in the parquet reader.
    */
  val RuntimeIdPushdownLimit = 10000

  /** Per-chunk-id MAX live-instance count over any column, scoped to
    * `ids` — the row-level sibling check of a table planned through the
    * distributed view ([[ManifestView.Distributed.overPlanned]]; the
    * driver view counts its snapshot rows in Scala). Output columns:
    * (`chunk_id`, `live`). The scoping never builds an unbounded In
    * expression: small id sets push as a predicate, large ones join
    * against a parallelized id frame.
    * Callers filter and `limit(1)` BEFORE collecting, so the driver
    * only ever sees violators.
    *
    * Design note: the guard exists because tombstones address a chunk
    * by id (plus a batch GATE), not by instance — a rewrite of one live
    * instance of a duplicated id would also kill its unrewritten
    * sibling. The root-cause alternative is instance-addressed
    * tombstones carrying the victim's own batch, which would let
    * row-level DML operate on duplicate-id tables and delete the guard;
    * it touches the tombstone schema, every read path's filter, vacuum,
    * and compaction, and duplicate ids with DIVERGING content
    * only arise on hash-bucket-mode append tables (SQL-written ids are
    * salted unique, local-mode ids are content-derived), so the loud
    * refusal + "compact first" answer is the deliberate trade.
    */
  def liveInstanceCounts(m: org.apache.spark.sql.DataFrame,
      ids: Seq[Long]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, count, max}
    val scoped =
      if (ids.size <= RuntimeIdPushdownLimit) m.filter(col("chunk_id").isInCollection(ids))
      else {
        val spark = m.sparkSession
        import spark.implicits._
        m.join(ids.toDF("chunk_id"), "chunk_id")
      }
    scoped.groupBy(col("chunk_id"), col("column")).agg(count("*").as("n"))
      .groupBy(col("chunk_id")).agg(max(col("n")).as("live"))
  }

  /** `candidates` that hold a live manifest row in EVERY live
    * (chunk_id, batch) instance holding rows of any `universe` column —
    * the EXACT admission test for anchor columns (key-only scans,
    * metadata COUNT, COUNT/key-MIN-MAX pushdown, stream planning) and
    * for the DROP COLUMN coverage guard (candidates = the remaining
    * columns, universe = the pre-drop declared set). Within one
    * instance every column shares one row set (they come from one
    * encode call), so a column present in every instance surfaces every
    * logical row, and in admitted states each logical row lives in
    * exactly one instance — COUNT via the anchor is exact.
    *
    * Instance-exactness is the point: watermark arithmetic ("evolved
    * column whose ADD predates every live batch") is NOT a safe proxy,
    * because per-column rewrites — [[fsstspark.pipeline.Compaction]]
    * compacts ONE column into a fresh batch carrying nothing else —
    * create post-watermark batches the evolved column is physically
    * absent from; an anchor admitted by arithmetic but missing from an
    * instance silently loses that instance's rows from key-only/count
    * scans. One small distributed aggregate over the (metadata-sized,
    * batch-partitioned) manifest; callers memoize per plan.
    */
  def everyInstanceCols(m: org.apache.spark.sql.DataFrame,
      candidates: Seq[String], universe: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.functions.{col, countDistinct, struct, when}
    if (candidates.isEmpty || universe.isEmpty) return Seq.empty
    // a lone candidate that IS the universe trivially covers every
    // instance the universe defines — no job (the common single-column
    // table never pays the aggregate)
    if (candidates.sizeIs == 1 && universe == candidates) return candidates
    val inst = struct(col("chunk_id"), batchFromFileCol)
    val aggs = countDistinct(inst).as("total") +:
      candidates.zipWithIndex.map { case (c, i) =>
        countDistinct(when(col("column") === c, inst)).as(s"c$i") }
    val row = m.filter(col("column").isin(universe: _*))
      .agg(aggs.head, aggs.tail: _*).head()
    val total = row.getLong(0)
    candidates.zipWithIndex.collect {
      case (c, i) if row.getLong(i + 1) == total => c
    }
  }

  /** [[everyInstanceCols]] over driver-side manifest rows — the same
    * counts, with instances keyed by [[batchFromPath]].
    */
  def everyInstanceCols(m: Array[ManifestEntry],
      candidates: Seq[String], universe: Seq[String]): Seq[String] = {
    if (candidates.isEmpty || universe.isEmpty) return Seq.empty
    if (candidates.sizeIs == 1 && universe == candidates) return candidates
    val u = universe.toSet
    val perCol = m.iterator.filter(e => u(e.column))
      .map(e => (e.column, (e.chunkId, batchFromPath(e.file)))).toSeq
      .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
    val total = perCol.valuesIterator.flatten.toSet.size
    candidates.filter(c => perCol.get(c).fold(0)(_.size) == total)
  }

  /** `required` minus the metadata columns — the STORED fields a plan
    * fetches from disk (metadata values are emitted by the reader from
    * the partition's own chunk list, never read).
    */
  def storedFields(required: StructType, tableSchema: StructType): StructType =
    StructType(required.fields.filter(f =>
      f.name != ChunkIdCol || tableSchema.fieldNames.contains(ChunkIdCol)))

  /** The ingest batch a data file belongs to, parsed from its
    * `batch=` partition directory ([[ParquetTableIO]] writes data under
    * `data/batch=<id>/column=<name>/`). Distinguishes physical chunks
    * whose chunk_id repeats across batches.
    */
  def batchFromPath(file: String): String = {
    val i = file.indexOf("batch=")
    if (i < 0) "" // repaired/foreign layout: fall back to one instance per id
    else {
      val end = file.indexOf('/', i)
      if (end < 0) file.substring(i + 6) else file.substring(i + 6, end)
    }
  }

  /** [[batchFromPath]] as a Catalyst column over the manifest's `file` —
    * the ONE Catalyst-side spelling of the parse, so driver-side and
    * in-plan instance identity can never drift (no-match yields "",
    * matching batchFromPath's repaired/foreign-layout fallback).
    */
  def batchFromFileCol: org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.regexp_extract(
      org.apache.spark.sql.functions.col("file"), "batch=([^/]*)", 1)

  /** Shared planning tail of the batch scan and the micro-batch stream:
    * prune + group manifest rows (positional schema `file, column,
    * chunk_id, n_rows, bytes_out, min_key, max_key, value_min,
    * value_max`) into chunk-group partitions. Key-only scans anchor on
    * ONE stored column for key blobs + row counts — chosen as the
    * SMALLEST column by manifest bytes, so e.g. a key scan of the pages
    * table rides the lang column, not html — and skip value bytes
    * entirely (`readValues = false`). The batch scan passes its
    * (already pruned) fetch set via `fetchOverride`; the stream lets
    * this derive it from the micro-batch's rows.
    *
    * Schema evolution (`columnSince` — per-column "added after"
    * watermark): a fetch column MISSING from an instance whose batch
    * predates its watermark is legal and reads as all-NULL
    * (`ColFile.file` = "" marks it absent for the reader); missing
    * under any other circumstance stays a loud error. Without a
    * watermark map the connector requires every batch to carry every
    * fetched column — catalogs built by per-column appends (e.g.
    * repeated single-column `encodeBytesLocal` + `writeChunks`) are
    * served by the typed per-column read path, not the connector.
    */
  def planFromManifest(mAll: Array[ManifestEntry], required: StructType,
      tableSchema: StructType, filters: Array[Filter], chunksPerPartition: Int,
      table: String, fetchOverride: Option[(Seq[String], Boolean)] = None,
      columnSince: Map[String, String] = Map.empty): (Array[ChunkGroupPartition], Long, Long) = {
    // metadata columns are reader-emitted, never fetched from disk
    val valueFields =
      storedFields(required, tableSchema).fieldNames.filter(_ != "key").toSeq
    val doubleCols = tableSchema.fields.filter(_.dataType == DoubleType).map(_.name).toSet
    val statCols = filters.flatMap(references).filter(c =>
      tableSchema.fields.exists(f => f.name == c &&
        (f.dataType == LongType || f.dataType == DoubleType))).toSet
    if (mAll.isEmpty) return (Array.empty, 0L, 0L)
    val evolved = columnSince.keySet
    val declared = tableSchema.fieldNames.drop(1).toSeq
    val declaredSet = declared.toSet
    def instanceOf(e: ManifestEntry) = (e.chunkId, batchFromPath(e.file))
    val (fetch, readValues) = fetchOverride.getOrElse {
      // the anchor must be live in EVERY instance in view that holds
      // declared rows — instance-exact over the collected rows (this
      // path's mAll is the full micro-batch view), so residue rows of
      // undeclared dropped columns neither anchor nor veto, and a
      // column physically absent from a per-column-rewrite batch is
      // never admitted by watermark arithmetic
      def anchor: Option[String] = {
        val ok = everyInstanceCols(mAll, declared, declared).toSet
        smallestColumn(mAll.filter(e => ok(e.column)))
      }
      if (valueFields.nonEmpty)
        (if (valueFields.forall(evolved.contains)) valueFields ++ anchor.toSeq
         else valueFields, true)
      else (anchor.toSeq, false)
    }
    // a fetch that misses a DECLARED instance ENTIRELY (no row for any
    // fetched column among instances that hold declared rows) would
    // silently lose that instance's rows — fail loudly. Exact check for
    // the non-override (stream) path, whose mAll is the full batch; the
    // batch scan's mAll is already pruned to `needed`, so its
    // plan-level guard lives in computePlanInner. Residue-only
    // instances of undeclared columns are legitimately invisible.
    val fetchSet = fetch.toSet
    def lostInstance: Boolean = fetchOverride.isEmpty &&
      mAll.filter(e => declaredSet.contains(e.column)).groupBy(instanceOf)
        .exists { case (_, rows) => !rows.exists(e => fetchSet.contains(e.column)) }
    if ((fetch.isEmpty && mAll.exists(e => declaredSet.contains(e.column))) || lostInstance)
      throw new IllegalStateException(
        s"table '$table': no fetchable column is live in every chunk instance " +
          "in view — cannot anchor this scan; rewrite the table onto one schema " +
          "generation (full-table UPDATE or INSERT OVERWRITE)")
    if (fetch.isEmpty) return (Array.empty, 0L, 0L)
    val needed = (fetch ++ statCols).distinct.toSet
    // (chunk_id, batch) -> per-column manifest rows: one PHYSICAL chunk.
    // Grouping by id alone would merge chunks whose id repeats across
    // append batches (hash-mode ids are bucket indexes in every batch)
    // and silently drop all but one file's rows.
    val byInstance = mAll.filter(e => needed.contains(e.column)).groupBy(instanceOf)
    val survivors = byInstance.filter { case (_, rows) =>
      keySurvives(rows(0).minKey, rows(0).maxKey, filters) &&
        rows.forall(e => valueSurvives(e.column, e.valueMin, e.valueMax,
          doubleCols.contains(e.column), filters))
    }
    val groups = mutable.LinkedHashMap.empty[Seq[String], mutable.ArrayBuffer[(Long, Long)]]
    var totalRows = 0L
    var totalBytes = 0L
    survivors.toArray.sortBy(_._1).foreach { case ((cid, batch), rows) =>
      val perCol = rows.groupBy(_.column)
      fetch.foreach { c =>
        val n = perCol.get(c).map(_.length).getOrElse(0)
        // a column added by schema evolution is legitimately absent from
        // batches predating its watermark — the reader null-pads it
        val absentOk = n == 0 && columnSince.get(c).exists(since => batch < since)
        require(n == 1 || absentOk, s"chunk $cid (batch $batch) of table '$table': " +
          s"expected exactly one manifest row for column '$c', found $n — the " +
          "connector zips columns within one (chunk_id, batch) instance, so tables " +
          "built by per-column appends or per-column rewrites (batches without a " +
          "full column tuple) cannot serve this multi-column scan; read single " +
          "columns via the typed API, or rewrite the table onto one schema " +
          "generation (full-table UPDATE or INSERT OVERWRITE)")
      }
      val tuple = fetch.map(c => perCol.get(c).fold("")(_.head.file))
      groups.getOrElseUpdate(tuple, mutable.ArrayBuffer.empty) += ((cid, rows(0).nRows))
      totalRows += rows(0).nRows
      totalBytes += rows.iterator.filter(e => fetchSet.contains(e.column)).map(_.bytesOut).sum
    }
    val parts = groups.iterator.flatMap { case (files, chunks) =>
      chunks.grouped(chunksPerPartition).map { g =>
        ChunkGroupPartition(g.map(_._1).toArray, g.map(_._2).toArray,
          fetch.zip(files).map { case (c, f) => ColFile(c, f) }.toArray, readValues)
      }
    }.toArray
    (parts, totalRows, totalBytes)
  }

  // ------------------------------------------------- Catalyst pruning
  // The same key-range / zone-map tests keySurvives/valueSurvives apply
  // driver-side, re-expressed as Catalyst Columns over the manifest
  // DataFrame, so the pruning runs INSIDE the manifest parquet scan
  // (row-group stats on min_key/max_key/value_min/value_max) and the
  // driver only ever collects surviving rows. Exactness transfer: Spark
  // compares StringType in UTF8String binary order, which IS the UTF-8
  // code-point order of [[Keys.compareUtf8]] (property-tested in
  // KeysSpec), and zone bounds compare as the same signed longs.

  /** Catalyst form of [[keySurvives]] over manifest columns
    * `min_key`/`max_key`. Conservative identically: non-key filters and
    * non-string operands translate to TRUE.
    */
  def keyPruneCond(filters: Array[Filter]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    filters.map[org.apache.spark.sql.Column] {
      case EqualTo("key", v: String) => col("min_key") <= lit(v) && col("max_key") >= lit(v)
      case GreaterThan("key", v: String) => col("max_key") > lit(v)
      case GreaterThanOrEqual("key", v: String) => col("max_key") >= lit(v)
      case LessThan("key", v: String) => col("min_key") < lit(v)
      case LessThanOrEqual("key", v: String) => col("min_key") <= lit(v)
      case In("key", vs) =>
        // exists-semantics: any non-string member makes the whole filter
        // unprunable (TRUE), exactly like keySurvives
        vs.map[org.apache.spark.sql.Column] {
          case v: String => col("min_key") <= lit(v) && col("max_key") >= lit(v)
          case _ => lit(true)
        }.reduceOption(_ || _).getOrElse(lit(true))
      case StringStartsWith("key", p) =>
        nextAfterPrefix(p) match {
          case Some(q) => col("max_key") >= lit(p) && col("min_key") < lit(q)
          case None => col("max_key") >= lit(p)
        }
      case _ => lit(true)
    }.foldLeft(lit(true))(_ && _)
  }

  /** Catalyst form of [[valueSurvives]] for ONE column's manifest rows
    * (`value_min`/`value_max` non-null assumed — the caller guards).
    */
  private def zoneSurviveCond(c: String, isDouble: Boolean,
      filters: Array[Filter]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    def hit(v: Any): org.apache.spark.sql.Column = longSpace(v, isDouble)
      .map(x => col("value_min") <= lit(x) && col("value_max") >= lit(x))
      .getOrElse(lit(true))
    filters.map[org.apache.spark.sql.Column] {
      case EqualTo(`c`, v) => hit(v)
      case GreaterThan(`c`, v) =>
        longSpace(v, isDouble).map(x => col("value_max") > lit(x)).getOrElse(lit(true))
      case GreaterThanOrEqual(`c`, v) =>
        longSpace(v, isDouble).map(x => col("value_max") >= lit(x)).getOrElse(lit(true))
      case LessThan(`c`, v) =>
        longSpace(v, isDouble).map(x => col("value_min") < lit(x)).getOrElse(lit(true))
      case LessThanOrEqual(`c`, v) =>
        longSpace(v, isDouble).map(x => col("value_min") <= lit(x)).getOrElse(lit(true))
      case In(`c`, vs) =>
        vs.map(hit).reduceOption(_ || _).getOrElse(lit(true))
      case _ => lit(true)
    }.foldLeft(lit(true))(_ && _)
  }

  /** A manifest row FAILS its zone test (the chunk instance provably
    * holds no matching row). None when no filtered long/double column —
    * the common case skips the anti-join entirely.
    */
  private def zoneFailCond(filters: Array[Filter], statCols: Set[String],
      doubleCols: Set[String]): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.col
    if (statCols.isEmpty) None
    else Some(statCols.toSeq.sorted.map { c =>
      col("column") === c && col("value_min").isNotNull && col("value_max").isNotNull &&
        !zoneSurviveCond(c, doubleCols.contains(c), filters)
    }.reduce(_ || _))
  }

  /** The globally smallest stored column by manifest bytes — the anchor
    * a key-only scan rides. One distributed aggregate; the driver
    * collects a single row. None on an empty manifest.
    */
  def smallestColumn(m: org.apache.spark.sql.DataFrame): Option[String] = {
    import org.apache.spark.sql.functions.{col, sum}
    m.groupBy("column").agg(sum("bytes_out").as("b"))
      .orderBy(col("b"), col("column")).limit(1)
      .collect().headOption.map(_.getString(0))
  }

  /** [[smallestColumn]] over driver-side manifest rows. */
  def smallestColumn(m: Array[ManifestEntry]): Option[String] =
    if (m.isEmpty) None
    else Some(m.groupMapReduce(_.column)(_.bytesOut)(_ + _).minBy(t => (t._2, t._1))._1)

  /** Push the column projection, key predicates, and zone predicates
    * into the manifest DataFrame. A chunk instance whose ANY fetched/
    * filtered column fails its zone test is removed WHOLE via an
    * anti-join on (chunk_id, batch-from-file-path) — filtering rows
    * individually would orphan the instance's other columns' rows and
    * trip planFromManifest's completeness check.
    */
  def pruneManifest(m: org.apache.spark.sql.DataFrame, needed: Seq[String],
      filters: Array[Filter], statCols: Set[String],
      doubleCols: Set[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, regexp_extract}
    val base = m.filter(col("column").isin(needed: _*)).filter(keyPruneCond(filters))
    zoneFailCond(filters, statCols, doubleCols) match {
      case None => base
      case Some(fail) =>
        val inst = regexp_extract(col("file"), "batch=([^/]*)", 1)
        val dead = base.filter(fail)
          .select(col("chunk_id").as("__dead_id"), inst.as("__dead_b")).distinct()
        base.join(dead,
          base("chunk_id") === col("__dead_id") && inst === col("__dead_b"),
          "left_anti")
    }
  }

  /** Whole-value equality / IN-list filters on byte/string columns,
    * handed to the READER: [[BytesCodec.selectEquals]] answers them from
    * chunk structure (dict membership / RLE run headers / FSST
    * encoded-probe), skipping non-matching chunks without decoding and
    * emitting only matching rows — and since every matched row's value
    * IS one specific target, the filtered column itself is never decoded
    * at all (IN-lists map each matched index to its target).
    */
  def byteEqFilters(filters: Array[Filter], tableSchema: StructType): Array[ColEquals] = {
    def isByteCol(c: String) = tableSchema.fields.exists(f => f.name == c && f.name != "key" &&
      (f.dataType == BinaryType || f.dataType == StringType))
    def bytesOf(v: Any): Option[Array[Byte]] = v match {
      case s: String => Some(s.getBytes("UTF-8"))
      case b: Array[Byte] => Some(b)
      case _ => None
    }
    filters.collect {
      case EqualTo(c, v) if isByteCol(c) => bytesOf(v).map(t => ColEquals(c, Array(t)))
      case In(c, vs) if isByteCol(c) && vs.nonEmpty =>
        val ts = vs.flatMap(bytesOf)
        // every IN member must convert, else the reader would silently
        // drop rows matching the unconverted member
        if (ts.length == vs.length) Some(ColEquals(c, ts)) else None
    }.flatten
  }

  /** Catalyst form of "the predicate is TRUE for EVERY key in
    * [min_key, max_key]" — the chunk-aligned-delete coverage test. None
    * when some filter TYPE is not decidable from key metadata (the
    * decidability is static — per filter type/column, not per row).
    */
  private[sources] def fullyTrueCond(filters: Array[Filter]): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    def one(f: Filter): Option[org.apache.spark.sql.Column] = f match {
      case _: AlwaysTrue => Some(lit(true))
      case EqualTo("key", v: String) =>
        Some(col("min_key") === lit(v) && col("max_key") === lit(v))
      case GreaterThan("key", v: String) => Some(col("min_key") > lit(v))
      case GreaterThanOrEqual("key", v: String) => Some(col("min_key") >= lit(v))
      case LessThan("key", v: String) => Some(col("max_key") < lit(v))
      case LessThanOrEqual("key", v: String) => Some(col("max_key") <= lit(v))
      case StringStartsWith("key", p) =>
        // [p, nextAfterPrefix(p)) is exactly the prefix-p interval
        Some(nextAfterPrefix(p) match {
          case Some(q) => col("min_key") >= lit(p) && col("max_key") < lit(q)
          case None => col("min_key") >= lit(p) && col("min_key").startsWith(p)
        })
      case And(l, r) => for (a <- one(l); b <- one(r)) yield a && b
      case _ => None // not decidable from metadata → not chunk-aligned
    }
    filters.foldLeft(Option(lit(true))) { (acc, f) =>
      for (a <- acc; b <- one(f)) yield a && b
    }
  }

  /** [[fullyTrueCond]] over driver-side manifest rows, comparing in
    * [[Keys.compareUtf8]] order — the order Spark compares the manifest's
    * key strings in, so both views decide every chunk alike.
    */
  private[sources] def fullyTrue(filters: Array[Filter]): Option[ManifestEntry => Boolean] = {
    def cmp(a: String, b: String): Int = Keys.compareUtf8(a, b)
    def one(f: Filter): Option[ManifestEntry => Boolean] = f match {
      case _: AlwaysTrue => Some(_ => true)
      case EqualTo("key", v: String) => Some(e => e.minKey == v && e.maxKey == v)
      case GreaterThan("key", v: String) => Some(e => cmp(e.minKey, v) > 0)
      case GreaterThanOrEqual("key", v: String) => Some(e => cmp(e.minKey, v) >= 0)
      case LessThan("key", v: String) => Some(e => cmp(e.maxKey, v) < 0)
      case LessThanOrEqual("key", v: String) => Some(e => cmp(e.maxKey, v) <= 0)
      case StringStartsWith("key", p) =>
        Some(nextAfterPrefix(p) match {
          case Some(q) => e => cmp(e.minKey, p) >= 0 && cmp(e.maxKey, q) < 0
          case None => e => cmp(e.minKey, p) >= 0 && e.minKey.startsWith(p)
        })
      case And(l, r) => for (a <- one(l); b <- one(r)) yield e => a(e) && b(e)
      case _ => None
    }
    filters.foldLeft(Option[ManifestEntry => Boolean](_ => true)) { (acc, f) =>
      for (a <- acc; b <- one(f)) yield e => a(e) && b(e)
    }
  }

  /** The (chunk_id, column) victims of a CHUNK-ALIGNED delete, or None
    * when the predicate does not align. Exactness: every chunk (and
    * every duplicate-id instance — tombstones are id-granular, so all
    * instances of an id must agree) is either FULLY inside the predicate
    * (its whole [min_key, max_key] range satisfies every filter) or
    * fully outside (no key can match). Only key predicates are decidable
    * from metadata — keys are non-null and ranges are exact bounds; a
    * value predicate cannot prove a chunk fully-covered (null counts are
    * not recorded), so any non-key filter refuses.
    *
    * The [[ManifestView.Driver]] view decides from its snapshot rows
    * with no Spark job; the [[ManifestView.Distributed]] view runs two
    * limit-1 manifest probes and collects the victims, one row per
    * (chunk, column) — as many as the manifest rows a commit holds.
    */
  def chunkAlignedVictims(view: ManifestView,
      filters: Array[Filter]): Option[Array[(Long, String)]] =
    view.alignedVictims(if (filters.isEmpty) Array[Filter](new AlwaysTrue()) else filters)

  /** Filters this source can use for chunk pruning. */
  def prunable(f: Filter, longOrDouble: Set[String]): Boolean = f match {
    case EqualTo(a, v) => a == "key" || longOrDouble.contains(a) ||
      v.isInstanceOf[String] || v.isInstanceOf[Array[Byte]]
    case GreaterThan(a, _) => a == "key" || longOrDouble.contains(a)
    case GreaterThanOrEqual(a, _) => a == "key" || longOrDouble.contains(a)
    case LessThan(a, _) => a == "key" || longOrDouble.contains(a)
    case LessThanOrEqual(a, _) => a == "key" || longOrDouble.contains(a)
    case In(a, vs) => vs.nonEmpty && (a == "key" || longOrDouble.contains(a) ||
      vs.forall(v => v.isInstanceOf[String] || v.isInstanceOf[Array[Byte]]))
    case StringStartsWith("key", _) => true
    case _ => false
  }

  /** Smallest string (code-point order) strictly greater than EVERY
    * string with prefix `p`: increment p's last code point (skipping the
    * surrogate gap). None when no such bound exists (all-max prefix).
    */
  private[sources] def nextAfterPrefix(p: String): Option[String] = {
    val cps = p.codePoints().toArray
    var i = cps.length - 1
    while (i >= 0 && cps(i) >= 0x10FFFF) i -= 1
    if (i < 0) None
    else {
      var next = cps(i) + 1
      if (next >= 0xD800 && next <= 0xDFFF) next = 0xE000
      val out = cps.take(i + 1); out(i) = next
      Some(new String(out, 0, i + 1))
    }
  }

  def references(f: Filter): Seq[String] = f match {
    case EqualTo(a, _) => Seq(a)
    case GreaterThan(a, _) => Seq(a)
    case GreaterThanOrEqual(a, _) => Seq(a)
    case LessThan(a, _) => Seq(a)
    case LessThanOrEqual(a, _) => Seq(a)
    case In(a, _) => Seq(a)
    case _ => Seq.empty
  }

  /** Key-range pruning in the catalog's key order ([[Keys.compareUtf8]] =
    * UTF8String binary order — matches what the encode side recorded).
    */
  def keySurvives(minKey: String, maxKey: String, filters: Array[Filter]): Boolean =
    filters.forall {
      case EqualTo("key", v: String) =>
        Keys.compareUtf8(minKey, v) <= 0 && Keys.compareUtf8(maxKey, v) >= 0
      case GreaterThan("key", v: String) => Keys.compareUtf8(maxKey, v) > 0
      case GreaterThanOrEqual("key", v: String) => Keys.compareUtf8(maxKey, v) >= 0
      case LessThan("key", v: String) => Keys.compareUtf8(minKey, v) < 0
      case LessThanOrEqual("key", v: String) => Keys.compareUtf8(minKey, v) <= 0
      case In("key", vs) => vs.exists {
        case v: String => Keys.compareUtf8(minKey, v) <= 0 && Keys.compareUtf8(maxKey, v) >= 0
        case _ => true
      }
      // keys with prefix p lie in [p, nextAfterPrefix(p)): the chunk
      // survives iff its [min,max] range intersects that interval
      case StringStartsWith("key", p) =>
        Keys.compareUtf8(maxKey, p) >= 0 && nextAfterPrefix(p).forall(q =>
          Keys.compareUtf8(minKey, q) < 0)
      case _ => true
    }

  /** Long-space filter value: integral widens; doubles go through the same
    * order-preserving [[SortableBits.fromDouble]] the zone maps used at
    * encode time, so range tests transfer exactly. Non-numeric → None
    * (not prunable on this column).
    */
  private def longSpace(v: Any, isDouble: Boolean): Option[Long] = v match {
    case null => None
    case l: Long => Some(if (isDouble) SortableBits.fromDouble(l.toDouble) else l)
    case i: Int => Some(if (isDouble) SortableBits.fromDouble(i.toDouble) else i.toLong)
    case s: Short => Some(if (isDouble) SortableBits.fromDouble(s.toDouble) else s.toLong)
    case b: Byte => Some(if (isDouble) SortableBits.fromDouble(b.toDouble) else b.toLong)
    case d: Double => if (isDouble) Some(SortableBits.fromDouble(d)) else None
    case f: Float => if (isDouble) Some(SortableBits.fromDouble(f.toDouble)) else None
    case _ => None
  }

  /** Zone-map pruning for one column's stats. `None` stats (byte column,
    * all-null chunk, pre-stats writer) are conservatively kept.
    */
  def valueSurvives(column: String, lo: Option[Long], hi: Option[Long],
      isDouble: Boolean, filters: Array[Filter]): Boolean =
    (lo, hi) match {
      case (Some(mn), Some(mx)) => filters.forall {
        case EqualTo(`column`, v) => longSpace(v, isDouble).forall(x => mn <= x && mx >= x)
        case GreaterThan(`column`, v) => longSpace(v, isDouble).forall(x => mx > x)
        case GreaterThanOrEqual(`column`, v) => longSpace(v, isDouble).forall(x => mx >= x)
        case LessThan(`column`, v) => longSpace(v, isDouble).forall(x => mn < x)
        case LessThanOrEqual(`column`, v) => longSpace(v, isDouble).forall(x => mn <= x)
        case In(`column`, vs) =>
          vs.exists(v => longSpace(v, isDouble).forall(x => mn <= x && mx >= x))
        case _ => true
      }
      case _ => true
    }
}

/** One byte-equality / IN-list filter the reader answers structurally:
  * a row matches iff its value equals SOME target.
  */
final case class ColEquals(column: String, targets: Array[Array[Byte]])

final class FsstReaderFactory(schema: StructType, conf: SerializableConfiguration,
    eqFilters: Array[ColEquals] = Array.empty)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case AggRowPartition(values) => new PartitionReader[InternalRow] {
        private var done = false
        override def next(): Boolean = { val r = !done; done = true; r }
        override def get(): InternalRow = new GenericInternalRow(values.map {
          case s: String => UTF8String.fromString(s)
          case v => v
        })
        override def close(): Unit = ()
      }
      case p: ChunkGroupPartition => new ChunkGroupReader(schema, p, conf.value, eqFilters)
    }
}

/** One decoded (and eq-filtered) chunk, as the row reader emits it:
  * `emit` = row indices to surface, arrays indexed by the
  * partition's colFiles order (an entry is null when that column is
  * eq-answered or of the other kind).
  */
private[sources] final case class DecodedChunk(
    cid: Long,
    nRows: Int,
    /** row indices to surface; null = every row (no eq filter applied) */
    emit: Array[Int],
    keys: Array[Array[Byte]],
    bytesCols: Array[Array[Array[Byte]]],
    longCols: Array[LongCodec.LongColumn],
    /** per eq-answered column: matched row index → the target it equals */
    eqTargets: java.util.HashMap[String, java.util.HashMap[Integer, Array[Byte]]]) {
  def emitCount: Int = if (emit == null) nRows else emit.length
  @inline def rowAt(j: Int): Int = if (emit == null) j else emit(j)
}

/** Decodes one chunk group: per fetched column, the chunks' blob rows
  * come out of ONE parquet file (projection = 2–3 fields, `chunk_id IN`
  * record filter so row-group stats skip other chunks); each chunk then
  * decodes once per column under the same key-blob identity guard as
  * [[EncodePipeline.decodeColumns]]. Memory is bounded by
  * chunksPerPartition × nCols × chunk size, not file size.
  */
private[sources] final class ChunkGroupDecoder(schema: StructType, part: ChunkGroupPartition,
    conf: Configuration, eqFilters: Array[ColEquals]) {

  val fields: Array[StructField] = schema.fields
  /** PRESENT columns only — an absent (schema-evolution null-padded)
    * column never resolves here, so emitters fall to their null path.
    */
  val colOf: Map[String, Int] = part.colFiles.zipWithIndex
    .collect { case (cf, i) if cf.file.nonEmpty => cf.column -> i }.toMap

  /** The projected read conf, one copy per decoder: `readValues` is fixed
    * per partition, and copying a `Configuration` per chunk file opened
    * cost more than reading a small one. Repetition mirrors the Spark
    * writer: primitive Long → required, Array[Byte] → optional (parquet
    * projection checks repetition exactly). Key-only scans project
    * value_blob out entirely — the anchor column's compressed values never
    * leave the parquet pages.
    */
  private lazy val projectedConf: Configuration = {
    val c = new Configuration(conf)
    c.set(ReadSupport.PARQUET_READ_SCHEMA,
      if (part.readValues)
        "message proj { required int64 chunk_id; optional binary key_blob; optional binary value_blob; }"
      else
        "message proj { required int64 chunk_id; optional binary key_blob; }")
    c
  }

  private def loadColumn(cf: ColFile): java.util.HashMap[java.lang.Long, (Array[Byte], Array[Byte])] = {
    val ids = part.chunkIds.map(java.lang.Long.valueOf).toSet.asJava
    val pred = FilterApi.in(FilterApi.longColumn("chunk_id"), new java.util.HashSet(ids))
    val reader = GroupReader.open(new org.apache.hadoop.fs.Path(cf.file), projectedConf,
      FilterCompat.get(pred))
    val out = new java.util.HashMap[java.lang.Long, (Array[Byte], Array[Byte])]()
    try {
      var g = reader.read()
      while (g != null) {
        val cid = g.getLong("chunk_id", 0)
        val value = if (part.readValues) g.getBinary("value_blob", 0).getBytes else null
        require(out.put(cid, (g.getBinary("key_blob", 0).getBytes, value)) == null,
          s"file ${cf.file}: duplicate chunk $cid for column ${cf.column}")
        g = reader.read()
      }
    } finally reader.close()
    out
  }

  def decodedChunks(): Iterator[DecodedChunk] = {
    val present = part.colFiles.filter(_.file.nonEmpty)
    require(present.nonEmpty || part.colFiles.isEmpty,
      "chunk group with every column absent — planner must anchor on a present column")
    val byCol = present.map(cf => cf.column -> loadColumn(cf)).toMap
    val wantKey = fields.exists(_.name == "key")
    val eqApplicable = eqFilters.filter(e => colOf.contains(e.column))
    part.chunkIds.iterator.zipWithIndex.flatMap { case (cid, chunkIdx) =>
      // indexed by colFiles position; null for absent (null-padded) columns
      val blobs = part.colFiles.map { cf =>
        if (cf.file.isEmpty) null
        else {
          val b = byCol(cf.column).get(cid)
          require(b != null, s"chunk $cid: no row for column ${cf.column} in ${cf.file}")
          b
        }
      }
      val first = blobs(colOf(present(0).column))
      blobs.foreach { b =>
        require(b == null || java.util.Arrays.equals(b._1, first._1),
          s"chunk $cid: key blobs differ across columns — mixed chunkings")
      }
      // structural equality pushdown: selectEquals answers byte-column
      // EqualTo from chunk STRUCTURE (dict membership / RLE run headers /
      // FSST encoded-probe — exact, never a superset), so a chunk with no
      // match is skipped without decoding anything, a matching chunk
      // emits only its matching rows, and the filtered column itself is
      // never decoded (a matched row's value IS the target)
      var selected: Array[Int] = null // null = every row
      var skipChunk = false
      val eqTarget = new java.util.HashMap[String, java.util.HashMap[Integer, Array[Byte]]]()
      eqApplicable.foreach { e =>
        if (!skipChunk) {
          // one structural pass resolves the whole IN-list: a row matches
          // iff it equals SOME target, and each matched index maps to its
          // target, so the column never decodes
          val (idx, ords, _) = BytesCodec.selectEqualsIn(blobs(colOf(e.column))._2, e.targets)
          val perIdx = new java.util.HashMap[Integer, Array[Byte]]()
          var j = 0
          while (j < idx.length) { perIdx.put(idx(j), e.targets(ords(j))); j += 1 }
          eqTarget.put(e.column, perIdx)
          selected =
            if (selected == null) idx
            else selected.filter(i => perIdx.containsKey(i))
          if (selected.isEmpty) skipChunk = true
        }
      }
      if (skipChunk) Iterator.empty
      else {
        // decode each fetched column once (eq-filtered columns excluded;
        // absent evolution-padded columns skipped — they emit NULL)
        val decodedBytes = new Array[Array[Array[Byte]]](blobs.length)
        val decodedLongs = new Array[LongCodec.LongColumn](blobs.length)
        var n = -1
        fields.foreach { f =>
          if (f.name != "key" && !eqTarget.containsKey(f.name)) {
            colOf.get(f.name).foreach { i =>
              if (f.dataType == LongType || f.dataType == DoubleType) {
                val c = LongCodec.decode(blobs(i)._2)
                decodedLongs(i) = c
                require(n < 0 || n == c.n, s"chunk $cid: column ${f.name} row count mismatch")
                n = c.n
              } else {
                val v = BytesCodec.decode(blobs(i)._2)
                decodedBytes(i) = v
                require(n < 0 || n == v.length, s"chunk $cid: column ${f.name} row count mismatch")
                n = v.length
              }
            }
          }
        }
        val keys: Array[Array[Byte]] = if (wantKey) {
          val k = BytesCodec.decode(first._1)
          require(n < 0 || n == k.length, s"chunk $cid: key/value row count mismatch")
          n = k.length
          k
        } else null
        if (n < 0) n = part.nRows(chunkIdx).toInt // only eq columns fetched
        // emit == null = every row (the common no-eq-filter path pays no
        // index array and no indirection)
        if (selected != null) require(selected.isEmpty || selected.last < n,
          s"chunk $cid: selectEquals index ${selected.last} out of $n rows")
        Iterator.single(DecodedChunk(cid, n, selected, keys, decodedBytes, decodedLongs, eqTarget))
      }
    }
  }
}

/** Row-based emitter over [[ChunkGroupDecoder]]. */
final class ChunkGroupReader(schema: StructType, part: ChunkGroupPartition,
    conf: Configuration, eqFilters: Array[ColEquals] = Array.empty)
    extends PartitionReader[InternalRow] {

  private val fields = schema.fields
  private val rows: Iterator[InternalRow] =
    if (fields.isEmpty) {
      // Long-counted: a partition can legally hold > Int.MaxValue rows
      // (chunksPerPartition × MaxChunkRows) and .toInt would truncate
      val total = part.nRows.sum
      new Iterator[InternalRow] {
        private var i = 0L
        override def hasNext: Boolean = i < total
        override def next(): InternalRow = { i += 1; new GenericInternalRow(0) }
      }
    } else if (part.colFiles.isEmpty) {
      // a metadata-only projection (just `_chunk_id`) rides the count-path
      // partitions: ids and row counts come straight off the manifest,
      // no data file is opened
      if (fields.forall(_.name == FsstScan.ChunkIdCol))
        part.chunkIds.iterator.zip(part.nRows.iterator).flatMap { case (cid, n) =>
          val row: InternalRow = new GenericInternalRow(Array.fill[Any](fields.length)(cid))
          Iterator.fill(n.toInt)(row)
        }
      else Iterator.empty // projection needs stored columns but none planned
    } else {
      val dec = new ChunkGroupDecoder(schema, part, conf, eqFilters)
      dec.decodedChunks().flatMap { d =>
        Iterator.tabulate(d.emitCount) { j =>
          val ri = d.rowAt(j)
          val arr = new Array[Any](fields.length)
          var fi = 0
          while (fi < fields.length) {
            val f = fields(fi)
            arr(fi) =
              if (f.name == FsstScan.ChunkIdCol) d.cid
              else if (f.name == "key") UTF8String.fromBytes(d.keys(ri))
              else if (d.eqTargets.containsKey(f.name)) {
                val t = d.eqTargets.get(f.name).get(ri)
                if (f.dataType == StringType) UTF8String.fromBytes(t) else t
              } else dec.colOf.get(f.name) match {
                case None => null // column absent here (added after this batch)
                case Some(i) =>
                  f.dataType match {
                    case LongType =>
                      val c = d.longCols(i)
                      if (c.nulls(ri)) null else c.values(ri)
                    case DoubleType =>
                      val c = d.longCols(i)
                      if (c.nulls(ri)) null else java.lang.Double.longBitsToDouble(c.values(ri))
                    case StringType =>
                      val b = d.bytesCols(i)(ri)
                      if (b == null) null else UTF8String.fromBytes(b)
                    case _ =>
                      d.bytesCols(i)(ri)
                  }
              }
            fi += 1
          }
          new GenericInternalRow(arr)
        }
      }
    }

  private var current: InternalRow = _
  override def next(): Boolean = {
    if (rows.hasNext) { current = rows.next(); true } else false
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
