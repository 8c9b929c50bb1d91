package fsstspark.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{Column, Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import fsstspark.io.ParquetTableIO

/** Read-only Spark `TableCatalog` over one chunk-catalog root: registers
  * the encoded tables as first-class SQL names, including SQL TIME
  * TRAVEL over the catalog's snapshot-addressable commit log.
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.fsst_cat", "fsstspark.sources.FsstCatalog")
  *   spark.conf.set("spark.sql.catalog.fsst_cat.root", "/data/catalogs/web")
  *   spark.conf.set("spark.sql.catalog.fsst_cat.stringColumns.pages", "url,text,lang")
  *
  *   spark.sql("SELECT count(*) FROM fsst_cat.pages WHERE key LIKE 'https://a%'")
  *   spark.sql("SELECT * FROM fsst_cat.pages VERSION AS OF 'b0000018c...'")
  *   spark.sql("SELECT * FROM fsst_cat.pages TIMESTAMP AS OF '2026-08-17 10:00:00'")
  * }}}
  *
  * `VERSION AS OF` takes a batch id (from [[ParquetTableIO.snapshots]]);
  * `TIMESTAMP AS OF` resolves to the newest batch committed at or before
  * the timestamp — batch ids lead with their creation millis, so the
  * mapping is a pure prefix parse. All pushdowns (column pruning, key/
  * zone/equality predicates, COUNT/MIN/MAX aggregates) work identically
  * on pinned snapshots: the scan simply plans from that snapshot's
  * manifest view. Writes go through the library's encode pipeline
  * (`encodeColumns[Local]` + `TableIO`), not SQL DDL — create/alter/
  * drop are rejected loudly.
  */
final class FsstCatalog extends TableCatalog {
  private var catalogName: String = _
  private var root: String = _
  private var options: CaseInsensitiveStringMap = _

  override def initialize(name: String, opts: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    options = opts
    root = Option(opts.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name needs spark.sql.catalog.$name.root = <chunk catalog root>"))
  }

  override def name(): String = catalogName

  /** Single-level namespace: every table directly under root — committed
    * data OR a DDL-created (possibly still empty) schema sidecar.
    */
  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (namespace.nonEmpty) throw new NoSuchNamespaceException(namespace)
    val spark = SparkSession.active
    val io = new ParquetTableIO(root)
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) return Array.empty
    fs.listStatus(rootPath).filter(_.isDirectory).map(_.getPath.getName)
      // '$' is reserved for metadata-table addressing: a directory with a
      // '$' in its name is unaddressable through SQL (rename it on disk
      // to migrate), so listing it would advertise an unloadable table
      .filter(t => !t.contains('$') && (io.tableExists(spark, t) ||
        FsstCatalog.declaredSchemaExists(spark, root, t)))
      .map(t => Identifier.of(Array.empty, t))
  }

  private def tableOptions(table: String, asOf: Option[String]): CaseInsensitiveStringMap = {
    val m = new java.util.HashMap[String, String]()
    m.put("root", root)
    m.put("table", table)
    // per-table option passthrough: spark.sql.catalog.<cat>.<opt>.<table>
    Seq("stringColumns", "chunksPerPartition").foreach { opt =>
      Option(options.get(s"$opt.$table")).foreach(v => m.put(opt, v))
    }
    asOf.foreach(m.put("asOf", _))
    new CaseInsensitiveStringMap(m)
  }

  /** Iceberg-style metadata tables: `SELECT * FROM cat.`t$snapshots``
    * (commit log) and ``t$chunks`` (the live manifest view). Nothing is
    * materialized at load: `$snapshots` (one row per commit marker —
    * inherently tiny) computes its rows when the scan PLANS, and
    * `$chunks` is a genuinely DISTRIBUTED scan over the manifest parquet
    * files (one partition per file, rows read on executors with the
    * batch-scoped tombstone filter applied per-row) — at 100 TB the
    * manifest is O(chunks × columns) rows and must never transit the
    * driver.
    */
  private def metaTable(base: String, kind: String): Table = {
    // kind is validated by load() (unknown suffixes are NoSuchTable there)
    if (kind == "chunks") new FsstChunksTable(root, base)
    else new FsstLocalTable(s"$base$$snapshots", FsstCatalog.SnapshotsSchema, () => {
      val spark = SparkSession.active
      new ParquetTableIO(root).snapshots(spark, base).collect().map(_.toSeq).toSeq
    })
  }

  private def load(ident: Identifier, asOf: Option[String]): Table = {
    if (ident.namespace.nonEmpty) throw new NoSuchTableException(ident)
    val dollar = ident.name.indexOf('$')
    if (dollar > 0) {
      // metadata views describe the CURRENT catalog state; silently
      // returning current rows under VERSION/TIMESTAMP AS OF would be
      // wrong-answer time travel
      require(asOf.isEmpty, s"time travel is not supported on metadata table '${ident.name}'")
      val base = ident.name.substring(0, dollar)
      if (!tableExists(Identifier.of(Array.empty, base))) throw new NoSuchTableException(ident)
      val kind = ident.name.substring(dollar + 1)
      if (kind != "snapshots" && kind != "chunks") throw new NoSuchTableException(ident)
      return metaTable(base, kind)
    }
    try FsstDataSource.resolve(tableOptions(ident.name, asOf))
    catch {
      // only genuine "table/snapshot missing" becomes NoSuchTable — a bad
      // option value (non-numeric or zero chunksPerPartition, a
      // non-committed VERSION AS OF) must surface as the config error it is
      case e: IllegalArgumentException
          if e.getMessage != null && e.getMessage.contains("no committed chunks") =>
        throw new NoSuchTableException(ident)
    }
  }

  override def loadTable(ident: Identifier): Table = load(ident, None)

  /** SQL `VERSION AS OF '<batch id>'`. */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Some(version))

  /** SQL `TIMESTAMP AS OF ...` — Spark hands micros since epoch; the
    * snapshot is the newest batch whose COMMIT landed at or before it.
    * Commit time = the marker file's modification time, NOT the mint
    * millis embedded in the id: an external write mints its id at job
    * start but only becomes visible at job end, and a reproducibility
    * read must see the state the table actually had at that moment.
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    if (ident.namespace.nonEmpty) throw new NoSuchTableException(ident)
    require(!ident.name.contains('$'),
      s"time travel is not supported on metadata table '${ident.name}'")
    val spark = SparkSession.active
    val io = new ParquetTableIO(root)
    val cutoffMillis = Math.floorDiv(timestampMicros, 1000L)
    val hit = io.committedBatchCommitTimes(spark, ident.name)
      .filter(_._2 <= cutoffMillis)
      .sortBy(_._1).lastOption
    hit match {
      case Some((b, _)) => load(ident, Some(b))
      case None => throw new NoSuchTableException(ident)
    }
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace.isEmpty && {
      val spark = SparkSession.active
      new ParquetTableIO(root).tableExists(spark, ident.name) ||
        FsstCatalog.declaredSchemaExists(spark, root, ident.name)
    }

  /** `CREATE TABLE cat.t (key STRING, …) USING fsst` — writes the
    * declared schema as a sidecar so the (still empty) table resolves
    * and can be INSERTed into; the first data batch then lands through
    * the normal write path. CTAS works end-to-end: Spark creates the
    * table, appends the query result, and drops it on failure.
    */
  override def createTable(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], properties: java.util.Map[String, String]): Table =
    createTable(ident,
      StructType(columns.map(c => StructField(c.name, c.dataType, c.nullable)).toSeq),
      partitions, properties)

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String]): Table = {
    if (ident.namespace.nonEmpty) throw new NoSuchNamespaceException(ident.namespace)
    require(!ident.name.contains('$'),
      s"'$$' is reserved for metadata-table addressing (t$$snapshots); invalid name '${ident.name}'")
    require(partitions.isEmpty,
      "fsst tables are chunk-partitioned by the engine; PARTITIONED BY is not supported")
    require(schema.fields.length >= 2 && schema.fields(0).name == "key" &&
      schema.fields(0).dataType == StringType,
      "an fsst table needs `key STRING` first plus at least one value column, got " +
        schema.simpleString)
    schema.fields.drop(1).foreach { f =>
      require(Seq(StringType, BinaryType, LongType, DoubleType).contains(f.dataType),
        s"column ${f.name}: fsst stores STRING/BINARY/BIGINT/DOUBLE, got ${f.dataType.sql}")
    }
    val spark = SparkSession.active
    require(!tableExists(ident), s"fsst table '${ident.name}' already exists")
    FsstCatalog.writeDeclaredSchema(spark, root, ident.name, schema)
    new FsstTable(root, ident.name, schema, 8)
  }

  /** DROP TABLE deletes the table directory — data, manifest, commit
    * markers, tombstones, and the schema sidecar.
    */
  override def dropTable(ident: Identifier): Boolean = {
    if (ident.namespace.nonEmpty) return false
    val spark = SparkSession.active
    val p = new org.apache.hadoop.fs.Path(s"$root/${ident.name}")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.delete(p, true)
  }

  private def readOnly(op: String): Nothing =
    throw new UnsupportedOperationException(
      s"fsst catalog '$catalogName' does not support $op — column renames/type changes " +
        "rewrite data and are catalog-maintenance operations, not SQL DDL")

  /** `ALTER TABLE t ADD COLUMN c <type>` — metadata-only schema
    * evolution: the declared-schema sidecar gains the column plus a
    * per-column WATERMARK (a fresh id ordering strictly after every
    * committed batch), and reads null-pad the column for chunks from
    * batches that predate it. INSERTs after the ALTER land the column
    * normally. Everything else (rename, retype, reorder) is rejected —
    * those rewrite data.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (ident.namespace.nonEmpty) throw new NoSuchTableException(ident)
    require(!ident.name.contains('$'),
      s"cannot ALTER metadata table '${ident.name}'")
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val spark = SparkSession.active
    val io = new ParquetTableIO(root)
    // declared schema, or bake the inferred one in on first evolution
    var schema = FsstCatalog.readDeclaredSchema(spark, root, ident.name)
      .getOrElse(FsstDataSource.resolve(tableOptions(ident.name, None)).schema())
    var since = FsstCatalog.readColumnSince(spark, root, ident.name)
    val ledger = FsstCatalog.readDroppedLedger(spark, root, ident.name)
    var purge = Set.empty[String]
    def manifestEmpty: Boolean =
      !io.tableExists(spark, ident.name) ||
        io.manifestOpt(spark, ident.name, None).isEmpty
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          s"fsst tables have no nested columns: ${add.fieldNames.mkString(".")}")
        val colName = add.fieldNames()(0)
        require(colName != "key", "cannot add a column named 'key'")
        require(!schema.fieldNames.contains(colName), s"column '$colName' already exists")
        require(!colName.exists(c => c == '$' || c == '\t' || c == '\n' || c == '/'),
          s"invalid column name '$colName'")
        require(add.isNullable,
          s"added column '$colName' must be nullable — existing rows read NULL")
        require(Seq(StringType, BinaryType, LongType, DoubleType).contains(add.dataType),
          s"column $colName: fsst stores STRING/BINARY/BIGINT/DOUBLE, got ${add.dataType.sql}")
        // live manifest rows under the added name are one of two very
        // different things. (a) Residue of a DROPPED column whose purge
        // was interrupted (ledger entry AND every live batch predates
        // the drop's watermark): purge it NOW — before the column is
        // declared — else compaction could re-cluster the old chunks
        // past the new watermark and RESURRECT dropped data. (b) Live
        // data the declared schema never knew — a typed-path append,
        // whether the name was never dropped OR the append landed after
        // a COMPLETED drop (batch at-or-after the drop watermark):
        // destroying that on a metadata DDL would be silent data loss —
        // refuse loudly.
        if (io.tableExists(spark, ident.name)) {
          FsstCatalog.maxLiveBatch(spark, io, ident.name, Seq(colName))
              .get(colName).foreach { mx =>
            require(ledger.contains(colName),
              s"column '$colName' has live data written outside the declared schema " +
                "(typed-path append) and was never dropped — ADD will not purge it; " +
                "use a different name, or remove the data via the typed API first")
            // the ledger cut is the column's newest COMMITTED live batch
            // at drop time — every later mint sorts after it in any
            // process (mintBatchId seeds from committed ids), so the
            // comparison is restart- and clock-skew-safe where a
            // free-floating minted watermark would not be. A batch that
            // parses to "" (repaired/foreign layout) is UNATTRIBUTABLE
            // and must refuse — "" would sort at-or-below every cut and
            // silently classify as residue otherwise.
            require(mx.nonEmpty && mx <= ledger(colName),
              s"column '$colName' has live data not attributable to the interrupted " +
                s"drop (batch '$mx' vs drop cut '${ledger(colName)}') — appended or " +
                "rewritten (e.g. compacted) since the drop, or a foreign layout " +
                "without batch= paths; ADD will not purge it; remove it via the " +
                "typed API first")
            purgeResidue(spark, io, ident.name, Set(colName))
          }
        }
        schema = schema.add(StructField(colName, add.dataType, nullable = true))
        // watermark sorts after every committed batch: exactly the
        // already-committed batches null-pad; the next INSERT carries it
        since = since + (colName -> io.newWatermark(spark, ident.name))
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          s"fsst tables have no nested columns: ${del.fieldNames.mkString(".")}")
        val colName = del.fieldNames()(0)
        require(colName != "key", "cannot drop the key column")
        if (!schema.fieldNames.contains(colName)) {
          if (!del.ifExists)
            throw new IllegalArgumentException(s"column '$colName' does not exist")
        } else {
          val remaining = schema.fields.filterNot(_.name == colName)
          // some remaining column must hold a live row in EVERY live
          // chunk instance that holds rows of any PRE-drop declared
          // column — including instances holding ONLY the dropped
          // column, whose rows the purge would otherwise make vanish
          // entirely (keys live inside column blobs; a chunk with all
          // value columns tombstoned is dead) — and key-only/count
          // scans need that same column as their anchor. The test is
          // instance-exact ([[FsstScan.everyInstanceCols]]): watermark
          // arithmetic is NOT a safe proxy, because per-column
          // compaction rewrites one column into fresh batches that
          // carry nothing else. Rewriting every row onto one schema
          // generation (full-table UPDATE / INSERT OVERWRITE) genuinely
          // legalizes the drop.
          require(manifestEmpty || FsstScan.everyInstanceCols(
              io.manifestOpt(spark, ident.name, None),
              remaining.iterator.drop(1).map(_.name).toSeq,
              schema.fields.iterator.drop(1).map(_.name).toSeq).nonEmpty,
            s"cannot drop '$colName': no single remaining value column covers every " +
              "live chunk instance — the purge could vanish uncovered rows, and " +
              "key-only/count scans would lose their anchor; rewrite the table onto " +
              "one schema generation first (full-table UPDATE or INSERT OVERWRITE)")
          schema = StructType(remaining)
          // the ADD watermark entry is RETAINED (it is inert once the
          // column leaves the schema): removing it would give a
          // concurrent schema-then-watermark reader the brick side —
          // old schema with the column still declared, new watermark
          // file without its entry
          purge = purge + colName
        }
      case other => readOnly(s"ALTER TABLE (${other.getClass.getSimpleName})")
    }
    // watermarks FIRST: a stray watermark for a column not in the
    // declared schema is inert, but a declared column with no watermark
    // makes every scan of pre-ALTER batches fail ("expected exactly one
    // manifest row") — a crash between the two writes must land on the
    // harmless side. DROP changes only the schema (watermarks retained).
    // The dropped LEDGER is written before the schema for the same
    // reason: an entry for a still-declared column is inert (ADD refuses
    // "already exists"), while schema-then-ledger could leave an
    // undeclared column with live rows and no ledger entry — which a
    // later re-ADD would refuse as typed-path data instead of purging.
    FsstCatalog.writeColumnSince(spark, root, ident.name, since)
    if (purge.nonEmpty) {
      // the cut line per dropped column: its newest COMMITTED live
      // batch right now (residue ⊆ batches ≤ cut; any later append in
      // any process mints above it — mintBatchId seeds from committed
      // ids, so unlike a minted-but-never-committed watermark the cut
      // survives restarts and clock skew). "-" = nothing was live OR
      // only unattributable ""-batch rows were (foreign layout): no
      // later data can ever classify as residue.
      val maxLive = FsstCatalog.maxLiveBatch(spark, io, ident.name, purge.toSeq)
      FsstCatalog.writeDroppedLedger(spark, root, ident.name,
        ledger ++ purge.iterator.map(c =>
          c -> maxLive.get(c).filter(_.nonEmpty).getOrElse("-")))
    }
    FsstCatalog.writeDeclaredSchema(spark, root, ident.name, schema)
    // LAST: purge dropped columns' data as batch-gated tombstones — a
    // metadata-only delete, after which vacuum reclaims the files and
    // the name can be re-added (the tombstoned rows can never resurface,
    // not even through compaction, which only sees live rows). A crash
    // before this leaves a functional table; a later re-ADD of the name
    // sees the ledger entry and purges the residue itself before
    // declaring the column.
    if (purge.nonEmpty && io.tableExists(spark, ident.name))
      purgeResidue(spark, io, ident.name, purge)
    loadTable(ident)
  }

  /** Tombstone every live manifest row of `cols` as one batch-gated
    * metadata delete — the dropped-column purge (shared by DROP itself
    * and ADD's interrupted-purge recovery).
    */
  private def purgeResidue(spark: SparkSession, io: ParquetTableIO,
      table: String, cols: Set[String]): Unit = {
    val residue = io.manifestOpt(spark, table, None)
      .filter(org.apache.spark.sql.functions.col("column").isin(cols.toSeq: _*))
      .select("chunk_id", "column").distinct()
    if (!residue.isEmpty) io.removeChunks(spark, table, residue)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    readOnly("RENAME TABLE")
}

/** A tiny LAZY table for driver-computable metadata views: `rows` runs
  * when the scan plans (every query execution sees fresh catalog
  * state), never at load.
  */
private[sources] final class FsstLocalTable(tname: String, tschema: StructType,
    rows: () => Seq[Seq[Any]])
    extends Table with org.apache.spark.sql.connector.catalog.SupportsRead {
  import org.apache.spark.sql.connector.read._
  override def name(): String = tname
  override def schema(): StructType = tschema
  override def capabilities(): java.util.Set[org.apache.spark.sql.connector.catalog.TableCapability] =
    java.util.EnumSet.of(org.apache.spark.sql.connector.catalog.TableCapability.BATCH_READ)
  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan with Batch {
        override def readSchema(): StructType = tschema
        override def toBatch: Batch = this
        override def planInputPartitions(): Array[InputPartition] =
          Array(LocalRowsPartition(rows()))
        override def createReaderFactory(): PartitionReaderFactory =
          new PartitionReaderFactory {
            override def createReader(p: InputPartition):
                PartitionReader[org.apache.spark.sql.catalyst.InternalRow] =
              new PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
                private val it = p.asInstanceOf[LocalRowsPartition].rows.iterator
                private var cur: org.apache.spark.sql.catalyst.InternalRow = _
                override def next(): Boolean = {
                  if (!it.hasNext) return false
                  cur = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                    it.next().map {
                      case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
                      case v => v
                    }.toArray)
                  true
                }
                override def get(): org.apache.spark.sql.catalyst.InternalRow = cur
                override def close(): Unit = ()
              }
          }
      }
    }
}

private[sources] final case class LocalRowsPartition(rows: Seq[Seq[Any]])
    extends org.apache.spark.sql.connector.read.InputPartition

/** `t$chunks` — the live manifest view as a DISTRIBUTED scan: one input
  * partition per manifest parquet file (driver cost = one file listing),
  * rows read on executors via parquet-hadoop, tombstone filtering
  * applied per-row from the broadcast-small effective-tombstone list
  * (batch-scoped: a row dies iff its batch predates the newest gate for
  * its (chunk_id, column)). Reads the file's OWN schema — pre-zone-stats
  * manifest generations simply surface null stats.
  */
private[sources] final class FsstChunksTable(root: String, base: String)
    extends Table with org.apache.spark.sql.connector.catalog.SupportsRead {
  import org.apache.spark.sql.connector.read._
  override def name(): String = s"$base$$chunks"
  override def schema(): StructType = FsstCatalog.ChunksSchema
  override def capabilities(): java.util.Set[org.apache.spark.sql.connector.catalog.TableCapability] =
    java.util.EnumSet.of(org.apache.spark.sql.connector.catalog.TableCapability.BATCH_READ)
  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan with Batch {
        // ONE committed-batches snapshot spans the partition planning and
        // the tombstone list: a rewrite committing between the two calls
        // would otherwise gate away pre-commit instances whose
        // replacement files were never planned — a torn metadata view
        // that transiently drops live chunks
        private lazy val committed: Array[String] = {
          val spark = SparkSession.active
          new ParquetTableIO(root).committedSnapshot(spark, base)
        }
        override def readSchema(): StructType = FsstCatalog.ChunksSchema
        override def toBatch: Batch = this
        override def planInputPartitions(): Array[InputPartition] = {
          val spark = SparkSession.active
          val io = new ParquetTableIO(root)
          io.manifestFiles(spark, base, committed.toIndexedSeq)
            .map { case (f, b) =>
              FsstChunksPartition(f, b): InputPartition
            }
        }
        override def createReaderFactory(): PartitionReaderFactory = {
          val spark = SparkSession.active
          val io = new ParquetTableIO(root)
          new FsstChunksReaderFactory(
            new org.apache.spark.util.SerializableConfiguration(
              spark.sessionState.newHadoopConf()),
            io.effectiveTombstonesFor(spark, base, committed))
        }
      }
    }
}

private[sources] final case class FsstChunksPartition(file: String, batch: String)
    extends org.apache.spark.sql.connector.read.InputPartition

private[sources] final class FsstChunksReaderFactory(
    conf: org.apache.spark.util.SerializableConfiguration,
    tombs: Array[(Long, String, String)])
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  override def createReader(p: org.apache.spark.sql.connector.read.InputPartition):
      org.apache.spark.sql.connector.read.PartitionReader[org.apache.spark.sql.catalyst.InternalRow] =
    new FsstChunksReader(p.asInstanceOf[FsstChunksPartition], conf.value, tombs)
}

private[sources] final class FsstChunksReader(part: FsstChunksPartition,
    conf: org.apache.hadoop.conf.Configuration, tombs: Array[(Long, String, String)])
    extends org.apache.spark.sql.connector.read.PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
  import org.apache.spark.unsafe.types.UTF8String

  // newest gate per (chunk_id, column): a row is dead iff batch < gate
  private val gate = {
    val m = new java.util.HashMap[(Long, String), String]()
    tombs.foreach { t =>
      val k = (t._1, t._2)
      val cur = m.get(k)
      if (cur == null || cur < t._3) m.put(k, t._3)
    }
    m
  }
  private val reader =
    fsstspark.io.GroupReader.open(new org.apache.hadoop.fs.Path(part.file), conf)
  private var cur: org.apache.spark.sql.catalyst.InternalRow = _

  override def next(): Boolean = {
    var g = reader.read()
    while (g != null) {
      val cid = g.getLong("chunk_id", 0)
      val colName = g.getBinary("column", 0).toStringUsingUTF8
      val gateB = gate.get((cid, colName))
      if (gateB == null || part.batch >= gateB) {
        cur = toRow(g, cid, colName)
        return true
      }
      g = reader.read()
    }
    false
  }

  private def toRow(g: org.apache.parquet.example.data.Group, cid: Long,
      colName: String): org.apache.spark.sql.catalyst.InternalRow = {
    def has(f: String): Boolean =
      g.getType.containsField(f) && g.getFieldRepetitionCount(f) > 0
    def str(f: String): Any =
      if (has(f)) UTF8String.fromBytes(g.getBinary(f, 0).getBytes) else null
    def lng(f: String): Any = if (has(f)) java.lang.Long.valueOf(g.getLong(f, 0)) else null
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      UTF8String.fromString(colName), cid, str("codec"),
      g.getLong("n_rows", 0), g.getLong("bytes_in", 0), g.getLong("bytes_out", 0),
      str("min_key"), str("max_key"), lng("value_min"), lng("value_max")))
  }

  override def get(): org.apache.spark.sql.catalyst.InternalRow = cur
  override def close(): Unit = reader.close()
}

object FsstCatalog {
  import org.apache.spark.sql.types.LongType

  /** Schema of `t$snapshots` — mirrors [[ParquetTableIO.snapshots]]. */
  private[sources] val SnapshotsSchema: StructType = StructType(Seq(
    StructField("batch", StringType), StructField("commit_millis", LongType),
    StructField("n_chunks_added", LongType), StructField("n_deletes_gated", LongType)))

  /** Schema of `t$chunks` — the manifest view minus file/batch. */
  private[sources] val ChunksSchema: StructType = StructType(Seq(
    StructField("column", StringType), StructField("chunk_id", LongType, nullable = false),
    StructField("codec", StringType), StructField("n_rows", LongType, nullable = false),
    StructField("bytes_in", LongType, nullable = false),
    StructField("bytes_out", LongType, nullable = false),
    StructField("min_key", StringType), StructField("max_key", StringType),
    StructField("value_min", LongType), StructField("value_max", LongType)))

  /** DDL-declared schema sidecar: `<root>/<table>/_schema.json`. When
    * present it is the AUTHORITATIVE table schema (a table created with
    * `text STRING` keeps surfacing strings after data lands — manifest
    * inference would see bytes); absent, the schema infers from chunk
    * codec names as before.
    */
  private def schemaPath(root: String, table: String) =
    new org.apache.hadoop.fs.Path(s"$root/$table/_schema.json")

  /** Existence-only probe: listTables/tableExists must not read+parse
    * every sidecar (and a corrupt one must not break listing the whole
    * catalog).
    */
  def declaredSchemaExists(spark: SparkSession, root: String, table: String): Boolean = {
    val p = schemaPath(root, table)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  def readDeclaredSchema(spark: SparkSession, root: String, table: String): Option[StructType] =
    readSidecar(spark, schemaPath(root, table),
      s => scala.util.Try(DataType.fromJson(s).isInstanceOf[StructType]).getOrElse(false))
      .map(s => DataType.fromJson(s).asInstanceOf[StructType])

  /** Temp-then-rename so a crash mid-write cannot leave a truncated
    * sidecar that breaks every later resolve of the table.
    */
  def writeDeclaredSchema(spark: SparkSession, root: String, table: String,
      schema: StructType): Unit =
    writeSidecar(spark, schemaPath(root, table), schema.json)

  /** Schema-evolution watermarks: `<root>/<table>/_schema_since.tsv`,
    * one `column<TAB>watermark` line per ADDED column. A chunk from a
    * batch sorting BEFORE the watermark null-pads the column; batches
    * after carry it physically. Plain TSV (column names reject tabs at
    * ALTER time) — no parser to version.
    */
  private def sincePath(root: String, table: String) =
    new org.apache.hadoop.fs.Path(s"$root/$table/_schema_since.tsv")

  def readColumnSince(spark: SparkSession, root: String, table: String): Map[String, String] =
    readSidecar(spark, sincePath(root, table),
      s => scala.util.Try { parseSince(s); true }.getOrElse(false))
      .map(parseSince).getOrElse(Map.empty)

  private def parseSince(content: String): Map[String, String] =
    content.split('\n').iterator
      .map(_.trim).filter(_.nonEmpty)
      .map { line =>
        val cut = line.indexOf('\t')
        require(cut > 0, s"corrupt schema-evolution sidecar line: '$line'")
        (line.substring(0, cut), line.substring(cut + 1))
      }.toMap

  def writeColumnSince(spark: SparkSession, root: String, table: String,
      since: Map[String, String]): Unit =
    writeTsvSidecar(spark, sincePath(root, table), since)

  /** Names DROP COLUMN has ever dropped (value = the cut line: the
    * column's newest COMMITTED live batch at drop time, or "-" when
    * none was live). A re-ADD purges live rows only when every live
    * batch sorts at-or-before the cut (interrupted-purge residue) and
    * refuses anything newer — typed-path data appended after the drop,
    * or residue a compaction rewrote past the cut (safe but
    * unrecoverable automatically). `<root>/<table>/_dropped.tsv`.
    * Entries are retained forever — inert for any declared or absent
    * column.
    */
  private def droppedPath(root: String, table: String) =
    new org.apache.hadoop.fs.Path(s"$root/$table/_dropped.tsv")

  /** Newest committed live batch per column, RAW — "" when a column's
    * newest file path has no `batch=` segment (repaired/foreign layout,
    * matching [[FsstScan.batchFromPath]]'s fallback). The ONE spelling
    * of the cut-line quantity: DROP stores it in the ledger (mapping ""
    * to the '-' sentinel) and re-ADD compares against it (refusing "").
    * Columns with no live rows are absent from the result.
    */
  private[sources] def maxLiveBatch(spark: SparkSession, io: ParquetTableIO,
      table: String, cols: Seq[String]): Map[String, String] =
    if (!io.tableExists(spark, table)) Map.empty
    else io.manifestOpt(spark, table, None)
      .filter(org.apache.spark.sql.functions.col("column").isin(cols: _*))
      .groupBy(org.apache.spark.sql.functions.col("column"))
      .agg(org.apache.spark.sql.functions.max(FsstScan.batchFromFileCol).as("mx"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

  def readDroppedLedger(spark: SparkSession, root: String, table: String): Map[String, String] =
    readSidecar(spark, droppedPath(root, table),
      s => scala.util.Try { parseSince(s); true }.getOrElse(false))
      .map(parseSince).getOrElse(Map.empty)

  def writeDroppedLedger(spark: SparkSession, root: String, table: String,
      dropped: Map[String, String]): Unit =
    writeTsvSidecar(spark, droppedPath(root, table), dropped)

  /** Never CREATE a sidecar for an empty map (most tables carry
    * neither), but an update that empties the map must OVERWRITE the
    * existing file (empty content reads as Map.empty).
    */
  private def writeTsvSidecar(spark: SparkSession, p: org.apache.hadoop.fs.Path,
      entries: Map[String, String]): Unit = {
    val exists = p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    if (entries.nonEmpty || exists)
      writeSidecar(spark, p,
        entries.toSeq.sorted.map { case (c, w) => s"$c\t$w" }.mkString("\n"))
  }

  private def tmpPath(p: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}.tmp")

  /** Sidecar read with torn-update recovery. The committed file wins and
    * is returned UNVALIDATED (a corrupt committed sidecar must stay a
    * loud parse failure at the caller). When it is MISSING but a tmp from
    * [[writeSidecar]] exists, the update was torn mid-swap on a
    * filesystem without atomic overwrite-rename: the tmp was fully
    * written and closed before the swap started, so if `valid` accepts it
    * the reader promotes it to the committed name and proceeds — a
    * crashed second ALTER can no longer strand the table with a declared
    * column and no watermark. An INVALID tmp (the write itself died
    * mid-stream, so no committed state was ever at risk) reads as absent.
    * Promotion races are benign: rename failure just means another reader
    * won; the surviving committed file has the same content.
    */
  private def readSidecar(spark: SparkSession, p: org.apache.hadoop.fs.Path,
      valid: String => Boolean): Option[String] = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def slurp(f: org.apache.hadoop.fs.Path): String = {
      val in = fs.open(f)
      try {
        val bytes = new Array[Byte](fs.getFileStatus(f).getLen.toInt)
        in.readFully(bytes)
        new String(bytes, "UTF-8")
      } finally in.close()
    }
    if (fs.exists(p)) Some(slurp(p))
    else {
      val tmp = tmpPath(p)
      if (!fs.exists(tmp)) None
      else scala.util.Try(slurp(tmp)).toOption.filter(valid) match {
        case some @ Some(_) => fs.rename(tmp, p); some
        case None => None
      }
    }
  }

  private def writeSidecar(spark: SparkSession, p: org.apache.hadoop.fs.Path,
      content: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val tmp = tmpPath(p)
    val fs = p.getFileSystem(conf)
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    // overwrite-rename via FileContext: atomic on HDFS; filesystems that
    // implement it as delete-then-rename keep a residual window, which
    // [[readSidecar]]'s tmp promotion recovers (the tmp is complete by
    // construction here — the swap only starts after close succeeds)
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      fs.makeQualified(p).toUri, conf)
    fc.rename(fs.makeQualified(tmp), fs.makeQualified(p),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }
}
