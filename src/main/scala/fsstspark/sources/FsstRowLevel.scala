package fsstspark.sources

import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** GROUP-BASED (copy-on-write) row-level operation for the chunk
  * catalog — the DSv2 surface behind SQL `UPDATE`, `MERGE INTO`, and
  * every `DELETE` that is not chunk-aligned, subquery conditions
  * included (Iceberg's copy-on-write mode). Only chunk-aligned DELETE
  * predicates skip this path: Spark's `OptimizeMetadataOnlyDeleteFromTable`
  * routes them to [[FsstTable.deleteWhere]], which tombstones whole
  * chunks without reading them.
  *
  * Contract split between the two halves Spark asks for:
  *  - '''scan''' ([[newScanBuilder]]): must return EVERY row of every
  *    group (chunk) that MAY contain a match — pushed filters prune
  *    whole groups only, never individual rows. The builder runs in
  *    `rowLevel` mode, which (a) keeps the manifest key/zone pruning
  *    (per-chunk, conservative — exactly group-granular), (b) disables
  *    the reader-level equality pushdown ([[BytesCodec.selectEquals]]
  *    drops non-matching ROWS, which would delete the unmatched rows of
  *    an affected group on rewrite), and (c) refuses aggregate pushdown.
  *    The scan records the (chunk_id, column) manifest rows it planned
  *    as [[plannedVictims]].
  *  - '''write''' ([[newWriteBuilder]]): receives the affected groups'
  *    rows back (updated / merged / filtered by Catalyst — subqueries
  *    included, since the condition is evaluated by the engine, not
    *    translated), re-encodes them through the shared
  *    [[FsstBatchWrite]] task path (the catalog's
  *    [[fsstspark.io.ChunkFileWriter]]), and commits adds + tombstones
  *    for the planned victims under ONE marker through the catalog's one
  *    commit ([[fsstspark.io.ParquetTableIO.commitBatch]]: the manifest
  *    file and the tombstone file are written on the driver) —
  *    a crash anywhere leaves the pre-operation state, and `VERSION AS
  *    OF` a pre-operation snapshot still reads the old chunks
  *    (batch-scoped tombstones).
  *
  * Duplicate live instances of a chunk id (identical content inserted
  * twice) are handled, not refused: the scan plans BOTH instances (they
  * group by (chunk_id, batch)), both copies of the rows flow through the
  * rewrite, and the tombstone kills every instance older than the gating
  * batch.
  *
  * 100 TB shape: scan planning is the connector's filter-pushed manifest
  * pruning (O(surviving chunks) to the driver); the rewrite itself is
  * distributed decode → Catalyst → distributed re-encode with zero extra
  * shuffles; untouched chunks are never read or rewritten.
  */
final class FsstRowLevelOperation(root: String, table: String, tableSchema: StructType,
    chunksPerPartition: Int, cmd: RowLevelOperation.Command,
    columnSince: Map[String, String]) extends RowLevelOperation {

  /** The (chunk_id, column) manifest rows the operation's scan planned —
    * set when [[FsstScan]] materializes its plan, read by the write's
    * commit. Columns absent from a pre-evolution batch (no manifest row)
    * are legitimately missing here: there is nothing to tombstone.
    */
  @volatile private[sources] var plannedVictims: Option[Array[(Long, String)]] = None

  override def command(): RowLevelOperation.Command = cmd

  /** `_chunk_id` rides the whole operation as a metadata column. Two
    * jobs: (1) it makes the operation eligible for Spark's
    * `RowLevelOperationRuntimeGroupFiltering` — the probe subquery
    * (a normal pruned scan of the table joined to the operation's
    * condition) collects the DISTINCT matched chunk ids and the
    * operation scan is runtime-filtered to exactly those groups, so a
    * selective MERGE rewrites only the chunks its source touches instead
    * of every chunk (the ON join gives static pruning nothing);
    * (2) metadata attributes being present switches Spark to the
    * projected writing task, so [[FsstDataWriter]] receives clean rows
    * of the write schema (the `__row_operation` prefix the unprojected
    * path leaks is projected away).
    */
  override def requiredMetadataAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(FsstScan.ChunkIdCol))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FsstScanBuilder(root, table, tableSchema, chunksPerPartition, None, columnSince,
      rowLevel = Some(this))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val ws = info.schema()
    require(ws.fields.map(f => (f.name, f.dataType)).sameElements(
      tableSchema.fields.map(f => (f.name, f.dataType))),
      s"row-level $cmd write schema ${ws.simpleString} does not match fsst table schema " +
        tableSchema.simpleString)
    new WriteBuilder {
      override def build(): Write = new Write
          with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
        // same write-side key clustering as plain INSERT
        // ([[FsstWriteOrdering]]): the rewrite's output chunks keep
        // tight key ranges, so a rewritten table prunes as well as a
        // freshly-encoded one
        override def requiredDistribution() = FsstWriteOrdering.distribution
        override def requiredOrdering() = FsstWriteOrdering.ordering
        // victims resolve AT COMMIT (the scan has certainly planned by
        // then; write builders can be constructed before scan planning).
        // None when the scan planned zero groups: a MERGE whose target
        // groups all pruned away still appends its NOT MATCHED inserts —
        // plain-append commit semantics (and a no-match no-insert
        // operation aborts the empty batch: no empty snapshot).
        override def toBatch: BatchWrite =
          new FsstBatchWrite(root, table, tableSchema, () => plannedVictims.filter(_.nonEmpty))
      }
    }
  }

  override def description(): String = s"FsstRowLevelOperation($cmd, $root/$table)"
}
