package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Everything one workload run shares: the session, its private work
  * directory, the seed, the core count and the tracers.
  */
final class Ctx(val spark: SparkSession, val work: File, val seed: Long, val nproc: Int,
    val trace: Boolean) {
  val tracer = new Tracer(trace, spark)
  val untraced = new Tracer(false, spark)
  val heap = new HeapWatch
  /** Partitions for generated inputs and shuffles. */
  def parts: Int = 2 * nproc
  def dir(name: String): String = new File(work, name).getAbsolutePath
}

/** A named measurement as printed: value and unit. */
final case class Metric(name: String, value: Double, unit: String)

/** Largest old-generation occupancy right after a full collection,
  * read from the memory-pool beans at fixed points between operations
  * (after setup and after the loop), so in-flight data of an operation
  * that a collection happens to catch does not count.
  */
final class HeapWatch {
  private val old = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == java.lang.management.MemoryType.HEAP)
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  val readingsMb = scala.collection.mutable.ArrayBuffer.empty[Double]
  def collect(): Unit = {
    // the second collection frees what Spark's cleaner released after the first
    System.gc()
    Thread.sleep(300)
    System.gc()
    old.foreach(p => Option(p.getCollectionUsage).foreach(u => readingsMb += u.getUsed / 1048576.0))
  }
  def peakMb: Double = readingsMb.max
  def pool: String = old.fold("none")(_.getName)
}

object Disk {
  /** (bytes, files) under `path`, leaving out Hadoop's `.crc` checksum sidecars. */
  def usage(path: String): (Long, Long) = {
    val root = new File(path)
    if (!root.exists()) return (0L, 0L)
    val files = java.nio.file.Files.walk(root.toPath).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc")).toSeq
    (files.map(p => java.nio.file.Files.size(p)).sum, files.length.toLong)
  }

  def delete(path: String): Unit = {
    val root = new File(path).toPath
    if (java.nio.file.Files.exists(root))
      java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
  }

  /** File system type of `path`, e.g. tmpfs or ext4. */
  def fsType(path: String): String =
    scala.util.Try(java.nio.file.Files.getFileStore(new File(path).toPath).`type`()).getOrElse("unknown")
}

object Time {
  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
