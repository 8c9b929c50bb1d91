package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Benchmark entry point: runs one workload (or `all`) in `local[nproc]` from
  * this single process, prints one compact JSON line per workload with
  * its metrics and run context, and as the last line the result object.
  *
  * {{{
  * perfbench.Main --workload pages_rewrite|catalog_mixed|all
  *                --seed N --seconds S --trace 0|1
  * }}}
  */
object Main {
  val Workloads: Seq[String] = Seq("pages_rewrite", "catalog_mixed")
  /** Shuffle fetch wait counts remote fetches only, so in local mode it
    * always reads 0; it is printed on the workload line but kept off the
    * result line, where a time that never changes is meaningless.
    */
  val LineOnly: Set[String] = Set("pipeline.shuffle_fetch_wait_s")
  /** The end-to-end metrics every workload reports on the result line. */
  val EndToEnd: Seq[String] =
    Seq("setup_s", "write_gbps", "stored_ratio", "scan_gbps", "select_ms_p50", "op_ms_mean", "peak_heap_mb")
  /** Data builds per run during setup; setup_s counts their median. */
  val BuildReps = 3

  def warn(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Int = 10, trace: Boolean = false)

  private def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case Nil => o
    case other => throw new IllegalArgumentException(s"unknown arguments: ${other.mkString(" ")}")
  }

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "pages_rewrite" =>
      new PagesRewrite(ctx, PagesShape(wordsScale = 6.0, skew = 0.002), nRows = 4000, insertRows = 16)
    case "catalog_mixed" =>
      import Ops._
      val deck = IndexedSeq(Scan, Point, Insert, Prefix, Update, Point, Scan, Insert, Lang, Point, Range,
        Delete, Insert, Point, Scan, Insert)
      new CatalogMixed(ctx, PagesShape(wordsScale = 2.0, skew = 0.002), nBase = 4000,
        chunkBytes = 512L << 10, deck, insertRows = 64)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    val names = if (o.workload == "all") Workloads else Seq(o.workload)
    require(names.forall(Workloads.contains), s"--workload must be one of ${(Workloads :+ "all").mkString(", ")}")
    require(o.seconds >= 1, "--seconds must be at least 1")
    val nproc = Runtime.getRuntime.availableProcessors
    val work = new File(".bench_work", s"${o.workload}-${o.seed}-${ProcessHandle.current().pid()}").getAbsoluteFile
    work.mkdirs()
    val (spark, sessionS) = Time.seconds(SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", (2 * nproc).toString)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      // the UI is off; keep its bookkeeping small so peak_heap_mb shows the engine
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    try {
      val results = names.map { n =>
        val ctx = new Ctx(spark, new File(work, n), o.seed, nproc, o.trace)
        val r = runOne(ctx, n, o, sessionS)
        println(r.line)
        r
      }
      val metrics = results.flatMap { r =>
        r.metrics.map(m => (if (names.length > 1) s"${r.name}.${m.name}" else m.name) -> m)
      }
      val attempted = results.map(_.attempted).sum
      val failed = results.map(_.failed).sum
      println(Json.obj(Seq(
        "correct" -> (failed == 0),
        "attempted" -> attempted,
        "failed" -> failed,
        "metrics" -> metrics.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) }
          .toMap.to(scala.collection.immutable.TreeMap))))
    } finally {
      spark.stop()
      Disk.delete(work.getPath)
    }
  }

  final case class Result(name: String, line: String, metrics: Seq[Metric], attempted: Int, failed: Int)

  def runOne(ctx: Ctx, name: String, o: Opts, sessionS: Double): Result = {
    val w = workload(name, ctx)
    val t0 = System.nanoTime()
    val builds = (0 until BuildReps).map(r => Time.seconds(w.build(r))._2)
    w.prepare()
    val (warm, warmS) = Time.seconds(w.warm())
    ctx.heap.collect()
    val setupS = sessionS + (System.nanoTime() - t0) / 1e9 - builds.sum + Stats.median(builds)

    val samples = ArrayBuffer.empty[Sample]
    val deadline = System.nanoTime() + o.seconds * 1000000000L
    var i = 0
    while (i < w.cycle.length || System.nanoTime() < deadline) {
      samples += w.step(traced = o.trace && i % 2 == 0)
      i += 1
    }
    ctx.heap.collect()
    val (checks, finishS) = Time.seconds(w.finish())
    val (host, hostOk) = Layers.hostControl()

    val metrics =
      if (!o.trace) {
        Seq(Metric("setup_s", setupS, "s")) ++ w.endToEnd((samples ++ checks).toSeq) ++
          Seq(Metric("peak_heap_mb", ctx.heap.peakMb, "MB"))
      } else {
        val layer = w.layers()
        val overhead = {
          val byKind = samples.groupBy(_.kind).values.flatMap { ss =>
            val (t, u) = ss.filter(_.ok).partition(_.traced)
            if (t.isEmpty || u.isEmpty) None
            else Some((Stats.median(t.map(_.seconds).toIndexedSeq), Stats.median(u.map(_.seconds).toIndexedSeq)))
          }
          byKind.map(_._1).sum / byKind.map(_._2).sum - 1.0
        }
        val self = ctx.tracer.selfSeconds
        layer ++ host ++ Seq(Metric("trace.overhead_frac", overhead, "frac")) ++
          Seq("bench", "codec.fsst", "codec", "pipeline", "io", "sources")
            .map(l => Metric(s"trace.self_s.$l", self.getOrElse(l, 0.0), "s"))
      }
    val all = warm ++ samples ++ checks ++ w.layerChecks :+ Sample("host_control", 0, hostOk, traced = false)
    val failed = all.count(!_.ok)
    val spansFile = if (o.trace) {
      val dir = new File(".bench_out")
      dir.mkdirs()
      val f = new File(dir, s"spans-$name-${o.seed}.jsonl")
      ctx.tracer.drain()
      ctx.tracer.dump(f)
      Some(f.getPath)
    } else None

    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val context = Seq(
      "nproc" -> ctx.nproc, "master" -> ctx.spark.sparkContext.master,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "old_gen_pool" -> ctx.heap.pool, "old_gen_after_gc_mb" -> ctx.heap.readingsMb,
      "jvm_flags" -> rt.getInputArguments.asScala.filterNot(_.startsWith("--add-opens")).toSeq,
      "java" -> System.getProperty("java.version"), "spark" -> ctx.spark.version,
      "seed" -> o.seed, "seconds" -> o.seconds,
      "work_dir" -> ctx.work.getPath, "work_fs" -> Disk.fsType(ctx.work.getPath),
      "session_s" -> sessionS, "build_s" -> builds, "warmup_s" -> warmS, "finish_s" -> finishS,
      "op_ms" -> samples.groupBy(_.kind).map { case (k, v) => k -> v.map(s => math.rint(s.seconds * 1e4) / 10) }
        .to(scala.collection.immutable.TreeMap),
      "loop" -> "closed, one client", "spans" -> spansFile) ++
      host.map(m => m.name -> m.value) ++ w.context
    val shown = metrics :+ Metric("failed_frac", failed.toDouble / all.length, "frac")
    val line = Json.obj(Seq(
      "workload" -> name, "trace" -> (if (o.trace) 1 else 0),
      "metrics" -> shown.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap
        .to(scala.collection.immutable.TreeMap),
      "failed_frac" -> failed.toDouble / all.length, "attempted" -> all.length, "failed" -> failed,
      "context" -> context.toMap.to(scala.collection.immutable.TreeMap)))
    val reported =
      if (o.trace) metrics.filterNot(m => LineOnly(m.name))
      else EndToEnd.map(n => metrics.find(_.name == n).getOrElse(sys.error(s"$name did not measure $n")))
    Result(name, line, reported, all.length, failed)
  }
}
