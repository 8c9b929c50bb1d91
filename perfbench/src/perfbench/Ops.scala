package perfbench

import fsstspark.sources.ChunkGroupPartition
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** One finished operation. `bytes` is the work it moved: decoded bytes
  * for a scan, user bytes for a write.
  */
final case class Sample(kind: String, seconds: Double, ok: Boolean, traced: Boolean, bytes: Long = 0L)

/** Plan-level facts of one query, read from its executed plan. */
final case class PlanFacts(planSeconds: Double, execSeconds: Double, chunks: Long, rows: Long,
    returned: Long)

object Ops {
  val Scan = "scan"
  val Point = "point"
  val Prefix = "prefix"
  val Lang = "lang"
  val Range = "ts_range"
  val Insert = "insert"
  val Update = "update"
  val Delete = "delete"
  val Selects: Seq[String] = Seq(Point, Prefix, Lang, Range)
  val Dml: Seq[String] = Seq(Update, Delete)
  val All: Seq[String] = Seq(Scan) ++ Selects ++ Seq(Insert) ++ Dml
}

/** Runs connector and SQL operations against one catalog table and checks
  * every answer against the [[Model]], which it keeps current across
  * inserts and DML. Point lookups go through SQL, or through the
  * connector when `pointsViaConnector` (for tables the catalog was not
  * configured for). `salt` varies the seeded keys between instances.
  */
final class CatalogOps(ctx: Ctx, val catalog: String, val root: String, val table: String,
    val model: Model, insertRows: Int, pointsViaConnector: Boolean = false, salt: Long = 0L)
    extends AdaptiveSparkPlanHelper {
  import Ops._
  private val spark = ctx.spark
  private val rnd = new java.util.SplittableRandom(ctx.seed * 0x9e3779b97f4a7c15L + 17 + salt)
  private val fq = s"$catalog.$table"
  private val shape = model.shape
  private var insertSeq = 0

  private def quote(s: String): String = "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** The connector read used by full scans. */
  def connector: DataFrame = spark.read.format("fsst").option("root", root).option("table", table)
    .option("stringColumns", shape.strings.mkString(",")).load()

  private def liveId(): Int = {
    var id = rnd.nextInt(model.nextId)
    while (!model.isAlive(id)) id = rnd.nextInt(model.nextId)
    id
  }

  /** A prepared operation: what to run, how to check it, and what the
    * model learns when it succeeds.
    */
  private final case class Prepared(query: Option[() => DataFrame], command: Option[String],
      check: Array[Row] => Boolean, commit: () => Unit, bytes: Long)

  private def prepare(kind: String): Prepared = kind match {
    case Scan =>
      val bytesCols = Seq("key", "lang", "text", "html")
      val aggs = count(lit(1)) +: sum(col("warc_ts")) +: bytesCols.map(c => sum(octet_length(col(c))))
      val want = Seq(model.liveCount, model.sumTs, model.sumKeyLen, model.sumLangLen, model.sumTextLen,
        model.sumHtmlLen)
      val decoded = want.drop(2).sum + 8L * model.liveCount
      Prepared(Some(() => connector.agg(aggs.head, aggs.tail: _*)), None,
        rows => rows.length == 1 && want.indices.forall(i => rows(0).getLong(i) == want(i)),
        () => (), decoded)
    case Point =>
      val id =
        if (model.inserted.nonEmpty && rnd.nextInt(4) == 0) model.inserted(rnd.nextInt(model.inserted.length))
        else rnd.nextInt(model.nextId)
      val url = model.url(id)
      val cols = Seq("key", "warc_ts", "lang", "text", "html")
      val alive = model.isAlive(id)
      val (ts, lang) = if (alive) (model.tsOf(id), model.langOf(id)) else (0L, "")
      val query =
        if (pointsViaConnector) () => connector.where(col("key") === url).select(cols.map(col): _*)
        else () => spark.sql(s"SELECT ${cols.mkString(", ")} FROM $fq WHERE key = ${quote(url)}")
      Prepared(Some(query), None,
        rows => if (!alive) rows.isEmpty else rows.length == 1 && {
          val r = rows(0)
          val f = shape.facts(model.seed, id)
          r.getString(0) == url && r.getLong(1) == ts && r.getString(2) == lang &&
          java.util.Arrays.equals(r.getString(3).getBytes("UTF-8"), f.text) &&
          java.util.Arrays.equals(r.getAs[Array[Byte]](4), f.html)
        }, () => (), 0L)
    case Prefix =>
      val u = model.url(liveId())
      val p = u.substring(0, u.indexOf('/', "https://".length) + 1)
      var (n, t) = (0L, 0L)
      model.liveIds.foreach(i => if (model.url(i).startsWith(p)) { n += 1; t += model.tsOf(i) })
      Prepared(Some(() => spark.sql(
        s"SELECT count(*), coalesce(sum(warc_ts), 0) FROM $fq WHERE key LIKE ${quote(p + "%")}")), None,
        rows => rows(0).getLong(0) == n && rows(0).getLong(1) == t, () => (), 0L)
    case Lang =>
      val l = model.langOf(liveId())
      var (n, t) = (0L, 0L)
      model.liveIds.foreach(i => if (model.langOf(i) == l) { n += 1; t += model.tsOf(i) })
      Prepared(Some(() => spark.sql(
        s"SELECT count(*), coalesce(sum(warc_ts), 0) FROM $fq WHERE lang = ${quote(l)}")), None,
        rows => rows(0).getLong(0) == n && rows(0).getLong(1) == t, () => (), 0L)
    case Range =>
      val width = math.max(2, model.nextId / 100)
      val a = rnd.nextInt(math.max(1, model.nextId - width))
      val (lo, hi) = (model.tsOf(a), model.tsOf(a + width - 1))
      var (n, k) = (0L, 0L)
      model.liveIds.foreach { i =>
        val t = model.tsOf(i)
        if (t >= lo && t <= hi) { n += 1; k += model.url(i).getBytes("UTF-8").length }
      }
      Prepared(Some(() => spark.sql(
        s"SELECT count(*), coalesce(sum(octet_length(key)), 0) FROM $fq WHERE warc_ts BETWEEN $lo AND $hi")),
        None, rows => rows(0).getLong(0) == n && rows(0).getLong(1) == k, () => (), 0L)
    case Insert =>
      val from = model.nextId
      val view = s"perfbench_insert_$insertSeq"
      insertSeq += 1
      val cols = Seq(col("url").as("key")) ++ shape.columns.map(col)
      shape.rows(spark, model.seed, from, from + insertRows, 1).select(cols: _*).createOrReplaceTempView(view)
      Prepared(None, Some(s"INSERT INTO $fq SELECT * FROM $view"), _ => true,
        () => { model.insert(insertRows); spark.catalog.dropTempView(view) },
        model.rowBytes(from, from + insertRows))
    case Update =>
      val id = liveId()
      Prepared(None, Some(s"UPDATE $fq SET warc_ts = warc_ts + 1 WHERE key = ${quote(model.url(id))}"),
        _ => true, () => model.bumpTs(id, 1L), 0L)
    case Delete =>
      val id = liveId()
      Prepared(None, Some(s"DELETE FROM $fq WHERE key = ${quote(model.url(id))}"),
        _ => true, () => model.delete(id), 0L)
  }

  /** Run one operation of `kind` (traced when the tracer is on and
    * `traced`), timing only the engine call. A wrong answer or an
    * exception is a failed sample.
    */
  def run(kind: String, traced: Boolean): Sample = {
    val p = prepare(kind)
    val tracer = if (traced) ctx.tracer else ctx.untraced
    tracer.nextOp()
    val t0 = System.nanoTime()
    val result = scala.util.Try(tracer.span("bench", s"op.$kind") {
      p.query match {
        case Some(q) =>
          val df = tracer.span("sources", s"plan.$kind")(plan(q()))
          tracer.span("sources", s"exec.$kind")(df.collect())
        case None => tracer.span("sources", s"exec.$kind")(spark.sql(p.command.get).collect())
      }
    })
    val secs = (System.nanoTime() - t0) / 1e9
    val ok = result.map(p.check).recover { case e =>
      Main.warn(s"$kind failed: $e"); false
    }.get
    if (!ok && result.isSuccess) Main.warn(s"$kind returned a wrong answer")
    if (ok) p.commit()
    Sample(kind, secs, ok, traced, p.bytes)
  }

  private def plan(df: DataFrame): DataFrame = { df.queryExecution.executedPlan; df }

  /** One operation of `kind` with its plan and execution timed apart
    * (commands plan through EXPLAIN, whose time is then subtracted) and
    * the scan's planned chunk groups read from the executed plan.
    */
  def runDetailed(kind: String): (Sample, PlanFacts) = {
    val p = prepare(kind)
    val tr = ctx.tracer
    tr.nextOp()
    tr.span("bench", s"op.$kind") {
      p.query match {
        case Some(q) =>
          val t0 = System.nanoTime()
          val df = tr.span("sources", s"plan.$kind")(plan(q()))
          val t1 = System.nanoTime()
          val rows = scala.util.Try(tr.span("sources", s"exec.$kind")(df.collect()))
          val t2 = System.nanoTime()
          val parts = collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b }
            .flatMap(_.inputPartitions).collect { case g: ChunkGroupPartition => g }
          val ok = rows.map(p.check).getOrElse(false)
          if (ok) p.commit() else Main.warn(s"$kind failed: ${rows.failed.map(_.toString).getOrElse("wrong answer")}")
          val returned = rows.toOption.map { rs =>
            if (kind == Point) rs.length.toLong else rs.headOption.fold(0L)(_.getLong(0))
          }.getOrElse(0L)
          (Sample(kind, (t2 - t0) / 1e9, ok, traced = true),
            PlanFacts((t1 - t0) / 1e9, (t2 - t1) / 1e9, parts.map(_.chunkIds.length.toLong).sum,
              parts.map(_.nRows.sum).sum, returned))
        case None =>
          val cmd = p.command.get
          val t0 = System.nanoTime()
          tr.span("sources", s"plan.$kind")(spark.sql("EXPLAIN " + cmd).collect())
          val t1 = System.nanoTime()
          val res = scala.util.Try(tr.span("sources", s"exec.$kind")(spark.sql(cmd).collect()))
          val t2 = System.nanoTime()
          if (res.isSuccess) p.commit() else Main.warn(s"$kind failed: ${res.failed.get}")
          (Sample(kind, (t2 - t1) / 1e9, res.isSuccess, traced = true),
            PlanFacts((t1 - t0) / 1e9, math.max(0.0, (t2 - t1 - (t1 - t0)) / 1e9), 0L, 0L, 0L))
      }
    }
  }

  /** Untimed full comparison of the table with the model: every live row
    * present once with identical values, nothing else.
    */
  def fullCheck(): Boolean = {
    val want = model.expectedFrame(spark, ctx.parts).withColumnRenamed("url", "key")
    val got = connector
    val j = want.as("w").join(got.as("g"), col("w.key") === col("g.key"), "full_outer")
    val bad = shape.columns.map(c => !(col(s"w.$c") <=> col(s"g.$c"))).reduce(_ || _) ||
      col("w.key").isNull || col("g.key").isNull
    val mismatches = j.filter(bad).count()
    val n = got.count()
    if (mismatches != 0 || n != model.liveCount)
      Main.warn(s"full check of $table: $mismatches mismatching rows, $n rows, want ${model.liveCount}")
    mismatches == 0 && n == model.liveCount
  }
}
