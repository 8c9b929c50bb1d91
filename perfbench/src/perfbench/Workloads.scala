package perfbench

import fsstspark.io.ParquetTableIO
import fsstspark.pipeline.{ChunkResult, EncodePipeline}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** One workload: built several times during setup (the last build is
  * kept), warmed, then driven one closed-loop step at a time. Every table
  * is also reachable through the SQL catalog `perfbench_<name>` (one per
  * workload, since a session caches a catalog's root), and every workload
  * runs the same layer pass in a traced run.
  */
abstract class Workload(ctx: Ctx, val shape: PagesShape) {
  def name: String
  def build(rep: Int): Unit
  /** Runs after the last build, before warm-up. */
  def prepare(): Unit
  /** Untimed operations that warm every layer the workload touches. */
  def warm(): Seq[Sample]
  /** The operation kinds of one full cycle of the loop, in order; a run
    * makes at least as many operations as the cycle has slots.
    */
  def cycle: Seq[String]
  /** The next operation of the closed loop. */
  def step(traced: Boolean): Sample
  /** Untimed end-of-run checks. */
  def finish(): Seq[Sample]
  def endToEnd(samples: Seq[Sample]): Seq[Metric]
  def context: Seq[(String, Any)]

  protected val spark = ctx.spark
  protected def catalog: String = s"perfbench_$name"

  protected def configureCatalog(root: String, table: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$catalog", "fsstspark.sources.FsstCatalog")
    spark.conf.set(s"spark.sql.catalog.$catalog.root", root)
    spark.conf.set(s"spark.sql.catalog.$catalog.stringColumns.$table", shape.strings.mkString(","))
  }

  /** The encode job whose chunks the layer pass replays. */
  protected def encodeJob(): Dataset[ChunkResult]
  protected def tablesRoot: String
  protected def io: ParquetTableIO
  /** The table the sources pass reads and mutates, with its model. */
  protected def sourcesTable(): (String, Model)
  protected def insertRows: Int

  /** The traced run's layer pass over the workload's own data. */
  def layers(): Seq[Metric] = {
    val layerTable = "layer_pass"
    val base = new Model(shape, ctx.seed, baseRows)
    val userBytes = base.userBytes
    val valueBytes = base.columnTotals.values.map(_._2).sum
    val (pipeM, pipeS, pipeOk) = Layers.pipeline(ctx, () => encodeJob(), userBytes, valueBytes)
    val (mainTable, mainModel) = sourcesTable()
    val ioM = Layers.io(ctx, io, tablesRoot, () => encodeJob(), layerTable, mainTable)
    ctx.tracer.nextOp()
    val cols = Layers.chunks(ctx, io, layerTable)
    val (fsstM, fsstOk) = Layers.fsst(ctx, cols)
    val (codecM, busy, codecOk) = Layers.codec(ctx, cols)
    val ops = new CatalogOps(ctx, catalog, tablesRoot, mainTable, mainModel, insertRows)
    val (srcM, srcSamples) = Layers.sources(ctx, ops, io)
    layerChecks = Seq(pipeOk, fsstOk, codecOk).map(ok => Sample("layer_check", 0, ok, traced = true)) ++
      srcSamples
    pipeM ++ Seq(Metric("pipeline.overhead_s", pipeS - busy / ctx.nproc, "s")) ++ ioM ++ fsstM ++
      codecM ++ srcM
  }

  /** Correctness samples of the last layer pass. */
  var layerChecks: Seq[Sample] = Nil
  protected def baseRows: Int
}

object Workload {
  /** Median over the successful samples of `kind` of GB moved per second. */
  def gbps(samples: Seq[Sample], kind: String): Double =
    Stats.median(samples.filter(s => s.ok && s.kind == kind).map(s => s.bytes / 1e9 / s.seconds).toIndexedSeq)

  /** Latencies in ms of the successful samples whose kind is in `kinds`. */
  def ms(samples: Seq[Sample], kinds: Seq[String]): IndexedSeq[Double] =
    samples.filter(s => s.ok && kinds.contains(s.kind)).map(_.seconds * 1e3).toIndexedSeq

  /** Mean latency of one operation of `cycle`: each kind's median latency
    * weighted by how often the cycle runs it (kinds with no successful
    * sample left out).
    */
  def opMsMean(samples: Seq[Sample], cycle: Seq[String]): Metric = {
    val perKind = cycle.groupBy(identity).toSeq.flatMap { case (k, ks) =>
      val xs = ms(samples, Seq(k))
      if (xs.isEmpty) None else Some((ks.length, Stats.median(xs)))
    }
    Metric("op_ms_mean", perKind.map { case (n, m) => n * m }.sum / perKind.map(_._1).sum, "ms")
  }
}

/** Whole-table rewrites: each encodes the parquet corpus written during
  * setup with `encodeColumnsLocal` into a fresh catalog table, which the
  * scan and point lookup that follow read.
  */
final class PagesRewrite(ctx: Ctx, shape: PagesShape, nRows: Int, val insertRows: Int)
    extends Workload(ctx, shape) {
  val name = "pages_rewrite"
  protected val tablesRoot: String = ctx.dir("tables")
  protected val io = new ParquetTableIO(tablesRoot)
  protected val baseRows: Int = nRows
  private var corpus = ""
  private var model: Model = _
  private var seq = 0
  private var last = ""
  /** Reads of the table last written. */
  private var ops: CatalogOps = _

  def build(rep: Int): Unit = {
    if (corpus.nonEmpty) Disk.delete(corpus)
    corpus = ctx.dir(s"corpus-$rep")
    shape.rows(spark, ctx.seed, 0, nRows, ctx.parts).write.parquet(corpus)
  }

  def prepare(): Unit = {
    model = new Model(shape, ctx.seed, nRows)
    configureCatalog(tablesRoot, "layer_pass")
  }

  protected def encodeJob(): Dataset[ChunkResult] =
    EncodePipeline.encodeColumnsLocal(spark.read.parquet(corpus), col("url"), shape.specs)

  /** Rewrite, scan and lookup times level off after about four of each. */
  def warm(): Seq[Sample] = Seq.fill(4)(cycle.map(run(_, traced = false))).flatten

  val cycle: Seq[String] = Seq(PagesRewrite.Rewrite, Ops.Scan, Ops.Point)

  private lazy val userBytes = model.userBytes
  private lazy val totals = model.columnTotals
  private var steps = 0

  /** Steps cycle through a whole-table rewrite into a fresh table (its
    * manifest checked against the model), a full connector scan of that
    * table and a connector point lookup of a seeded key in it. A traced
    * run takes each step twice, traced then untraced, so every traced
    * operation has an untraced twin.
    */
  def step(traced: Boolean): Sample = {
    val kind = cycle((if (ctx.trace) steps / 2 else steps) % cycle.length)
    steps += 1
    run(kind, traced)
  }

  private def run(kind: String, traced: Boolean): Sample =
    if (kind == PagesRewrite.Rewrite) rewrite(traced) else ops.run(kind, traced)

  private def rewrite(traced: Boolean): Sample = {
    val tr = if (traced) ctx.tracer else ctx.untraced
    val table = s"t$seq"
    seq += 1
    tr.nextOp()
    val (res, secs) = Time.seconds(scala.util.Try(tr.span("bench", "op.rewrite") {
      val enc = tr.span("pipeline", "plan")(encodeJob())
      tr.span("io", "writeChunks")(io.writeChunks(enc, table))
    }))
    res.failed.foreach(e => Main.warn(s"rewrite failed: $e"))
    val ok = res.isSuccess && {
      val got = io.manifest(spark, table).groupBy("column").agg(sum("n_rows"), sum("bytes_in")).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      if (got != totals) Main.warn(s"rewrite $table recorded $got, want $totals")
      got == totals
    }
    if (last.nonEmpty) Disk.delete(s"$tablesRoot/$last")
    last = table
    ops = new CatalogOps(ctx, catalog, tablesRoot, table, model, insertRows, pointsViaConnector = true,
      salt = seq)
    Sample(PagesRewrite.Rewrite, secs, ok, traced, userBytes)
  }

  /** Untimed bit-identity check: a full decode of the last table equals
    * the source corpus row for row.
    */
  def finish(): Seq[Sample] = {
    val got = EncodePipeline.decodeColumns(io.readChunks(spark, last), shape.readSpecs)
    val src = spark.read.parquet(corpus)
    val want = src.select(Seq(col("url").as("key")) ++ shape.columns.map { c =>
      if (shape.strings.contains(c)) encode(col(c), "UTF-8").as(c) else col(c)
    }: _*)
    val j = want.as("w").join(got.as("g"), col("w.key") === col("g.key"), "full_outer")
    val bad = j.filter(shape.columns.map(c => !(col(s"w.$c") <=> col(s"g.$c"))).reduce(_ || _) ||
      col("w.key").isNull || col("g.key").isNull).count()
    if (bad != 0) Main.warn(s"bit-identity check: $bad rows differ between $last and the corpus")
    Seq(Sample("bit_identity", 0, bad == 0, traced = false))
  }

  def endToEnd(samples: Seq[Sample]): Seq[Metric] = Seq(
    Metric("write_gbps", Workload.gbps(samples, PagesRewrite.Rewrite), "GB/s"),
    Metric("scan_gbps", Workload.gbps(samples, Ops.Scan), "GB/s"),
    Metric("select_ms_p50", Stats.median(Workload.ms(samples, Seq(Ops.Point))), "ms"),
    Workload.opMsMean(samples, cycle),
    Metric("stored_ratio", Disk.usage(s"$tablesRoot/$last")._1.toDouble / userBytes, "ratio"))

  protected def sourcesTable(): (String, Model) = ("layer_pass", new Model(shape, ctx.seed, nRows))

  def context: Seq[(String, Any)] = Seq(
    "shape" -> shape.name, "input_rows" -> nRows, "input_user_bytes" -> userBytes,
    "input_parquet_bytes" -> Disk.usage(corpus)._1, "table_bytes" -> Disk.usage(s"$tablesRoot/$last")._1,
    "catalog_root" -> tablesRoot)
}

object PagesRewrite {
  val Rewrite = "rewrite"
}

/** A catalog session: setup writes a pages table sorted by key; each
  * operation is the next one of a fixed cycle of full scans, selective
  * reads, small inserts and single-key DML, with seeded parameters.
  */
final class CatalogMixed(ctx: Ctx, shape: PagesShape, nBase: Int, chunkBytes: Long, deck: IndexedSeq[String],
    val insertRows: Int) extends Workload(ctx, shape) {
  val name = "catalog_mixed"
  private val table = "pages"
  protected val baseRows: Int = nBase
  private var root = ""
  private var corpus = ""
  protected def tablesRoot: String = root
  protected def io = new ParquetTableIO(root)
  private var model: Model = _
  private var ops: CatalogOps = _
  private var next = 0

  def build(rep: Int): Unit = {
    if (root.nonEmpty) { Disk.delete(root); Disk.delete(corpus) }
    root = ctx.dir(s"catalog-$rep")
    corpus = ctx.dir(s"corpus-$rep")
    shape.rows(spark, ctx.seed, 0, nBase, ctx.parts).write.parquet(corpus)
    new ParquetTableIO(root).writeChunks(encodeJob(), table)
  }

  protected def encodeJob(): Dataset[ChunkResult] =
    EncodePipeline.encodeColumnsLocal(spark.read.parquet(corpus).orderBy("url"), col("url"), shape.specs,
      chunkBytes)

  def prepare(): Unit = {
    configureCatalog(root, table)
    model = new Model(shape, ctx.seed, nBase)
    ops = new CatalogOps(ctx, catalog, root, table, model, insertRows)
  }

  /** Every kind but DELETE, whose copy-on-write path UPDATE warms; scans
    * six times and inserts eight, as their times keep falling until then.
    */
  def warm(): Seq[Sample] = {
    import Ops._
    Seq(Scan, Point, Insert, Prefix, Scan, Lang, Insert, Range, Scan, Insert, Update, Scan, Insert,
      Insert, Point, Scan, Insert, Point, Insert, Scan, Insert)
      .map(k => ops.run(k, traced = false))
  }

  def cycle: Seq[String] = deck

  /** Operations cycle through `deck` in order. Keys, prefixes, languages
    * and ranges come from the seeded generator. A traced step repeats its
    * slot untraced next, so each traced operation has an untraced twin.
    */
  def step(traced: Boolean): Sample = {
    val kind = deck(next % deck.length)
    if (!traced) next += 1
    ops.run(kind, traced)
  }

  def finish(): Seq[Sample] = Seq(Sample("full_check", 0, ops.fullCheck(), traced = false))

  /** scan_gbps, write_gbps (small-insert throughput), select_ms_p50,
    * op_ms_mean and stored_ratio, then latency figures printed on the
    * workload line only: inserts, DML, and the select tail when there are
    * enough selects for one.
    */
  def endToEnd(samples: Seq[Sample]): Seq[Metric] = {
    val selects = Workload.ms(samples, Ops.Selects)
    val tail = Stats.tail(selects)
    selectTail = tail.map(_._1)
    selectSamples = selects.length
    Seq(
      Metric("scan_gbps", Workload.gbps(samples, Ops.Scan), "GB/s"),
      Metric("write_gbps", Workload.gbps(samples, Ops.Insert), "GB/s"),
      Metric("select_ms_p50", Stats.median(selects), "ms"),
      Workload.opMsMean(samples, cycle),
      Metric("stored_ratio", Disk.usage(s"$root/$table")._1.toDouble / model.userBytes, "ratio")) ++
      Seq("insert_ms_p50" -> Seq(Ops.Insert), "dml_ms_p50" -> Ops.Dml)
        .map { case (n, kinds) => n -> Workload.ms(samples, kinds) }
        .collect { case (n, xs) if xs.nonEmpty => Metric(n, Stats.median(xs), "ms") } ++
      tail.map { case (_, v) => Metric("select_ms_tail", v, "ms") }
  }

  private var selectTail: Option[Int] = None
  private var selectSamples = 0

  protected def sourcesTable(): (String, Model) = (table, model)

  def context: Seq[(String, Any)] = Seq(
    "shape" -> shape.name, "base_rows" -> nBase, "live_rows" -> model.liveCount,
    "inserted_rows" -> model.inserted.length, "live_user_bytes" -> model.userBytes,
    "input_parquet_bytes" -> Disk.usage(corpus)._1, "table_bytes" -> Disk.usage(s"$root/$table")._1,
    "chunk_bytes_target" -> chunkBytes, "select_tail_percentile" -> selectTail,
    "select_samples" -> selectSamples, "catalog_root" -> root)
}
