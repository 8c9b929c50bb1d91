package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One traced interval on the driver thread. `layer` is the engine module
  * the span calls into (`bench` for the benchmark's own work); `parent` is
  * the enclosing span's id (-1 at the root) and `op` the operation it
  * belongs to.
  */
final class Span(val id: Int, val name: String, val layer: String, val start: Long,
    val parent: Int, val op: Int) {
  var end: Long = -1L
}

/** Spark task metrics attributed to one span. */
final class TaskStats {
  var jobs = 0
  var tasks = 0
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  /** (stage id, task duration ms) per finished task. */
  val durations = mutable.ArrayBuffer.empty[(Int, Long)]

  def add(o: TaskStats): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; fetchWaitMs += o.fetchWaitMs
    spillBytes += o.spillBytes; durations ++= o.durations
  }

  /** Longest over median task duration within the stage that ran the most
    * tasks (the stage that does the job's work).
    */
  def skew: Double = {
    if (durations.isEmpty) return 1.0
    val stage = durations.groupBy(_._1).maxBy { case (s, ts) => (ts.size, s) }._2.map(_._2).sorted
    val med = Stats.median(stage.map(_.toDouble).toIndexedSeq)
    if (med <= 0) 1.0 else stage.last / med
  }
}

/** Attributes task metrics to the span that launched the job. The span id
  * travels as a Spark local property, so attribution survives the
  * asynchronous listener bus.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val bySpan = new java.util.concurrent.ConcurrentHashMap[Int, TaskStats]()

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanProperty))).map(_.toInt)

  private def stats(span: Int): TaskStats = bySpan.computeIfAbsent(span, _ => new TaskStats)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties).foreach { s =>
      stats(s).synchronized(stats(s).jobs += 1)
      e.stageIds.foreach(id => stageSpan.put(id, s))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    spanOf(e.properties).foreach(s => stageSpan.put(e.stageInfo.stageId, s))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (!stageSpan.containsKey(e.stageId)) return
    val s = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    val st = stats(s)
    st.synchronized {
      st.tasks += 1
      st.durations += ((e.stageId, e.taskInfo.duration))
      if (m != null) {
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        st.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

/** In-memory span recorder. Disabled, `span` only runs its body. */
final class Tracer(val enabled: Boolean, spark: SparkSession) {
  private val all = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var op = -1
  val listener = new SpanListener
  if (enabled) spark.sparkContext.addSparkListener(listener)

  def spans: Seq[Span] = all.toSeq

  /** Start a new operation id; spans opened until the next call carry it. */
  def nextOp(): Int = { op += 1; op }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(all.size, name, layer, System.nanoTime(), stack.headOption.fold(-1)(_.id), op)
      all += s
      stack = s :: stack
      spark.sparkContext.setLocalProperty(Tracer.SpanProperty, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        spark.sparkContext.setLocalProperty(Tracer.SpanProperty,
          stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Wait until every posted listener event has been delivered. */
  def drain(): Unit = if (enabled) org.apache.spark.perfbenchaccess.BusAccess.drain(spark.sparkContext)

  /** Task stats of a span and all spans nested in it. */
  def subtree(root: Span): TaskStats = {
    val ids = mutable.Set(root.id)
    val out = new TaskStats
    all.iterator.drop(root.id).foreach { s =>
      if (s.id == root.id || ids.contains(s.parent)) {
        ids += s.id
        Option(listener.bySpan.get(s.id)).foreach(out.add)
      }
    }
    out
  }

  /** Self time per layer: each span's duration minus the part its child
    * spans cover (children run sequentially on the same thread).
    */
  def selfSeconds: Map[String, Double] = {
    val childNs = new Array[Long](all.size)
    all.foreach(s => if (s.parent >= 0 && s.end > 0) childNs(s.parent) += s.end - s.start)
    all.filter(_.end > 0).groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => (s.end - s.start - childNs(s.id)) / 1e9).sum
    }
  }

  /** One JSON object per span: name, layer, start/end (ns since the first
    * span), parent, operation id, and the span's own task metrics.
    */
  def dump(file: java.io.File): Unit = {
    val t0 = all.headOption.fold(0L)(_.start)
    val w = new java.io.PrintWriter(file, "UTF-8")
    try all.foreach { s =>
      val st = Option(listener.bySpan.get(s.id))
      w.println(Json.obj(Seq("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "start_ns" -> (s.start - t0), "end_ns" -> (s.end - t0), "parent" -> s.parent, "op" -> s.op,
        "jobs" -> st.fold(0)(_.jobs), "tasks" -> st.fold(0)(_.tasks),
        "task_cpu_ns" -> st.fold(0L)(_.cpuNs))))
    }
    finally w.close()
  }
}

object Tracer {
  final val SpanProperty = "perfbench.span"
}

object Stats {
  def median(xs: IndexedSeq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Highest whole percentile p from 99 down to 50 with at least ten
    * samples above it, and the sample at that percentile. None when even
    * p50 has fewer than ten above it, that is below twenty samples.
    */
  def tail(xs: IndexedSeq[Double]): Option[(Int, Double)] = {
    val s = xs.sorted
    val n = s.length
    def rank(p: Int) = math.ceil(p / 100.0 * n).toInt
    (99 to 50 by -1).find(p => n - rank(p) >= 10).map(p => (p, s(math.max(0, rank(p) - 1))))
  }
}
