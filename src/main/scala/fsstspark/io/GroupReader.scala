package fsstspark.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Parquet `Group` readers over the caller's already-loaded Hadoop
  * configuration. parquet-mr's `ParquetReader.builder(readSupport, path)`
  * builds a fresh `Configuration()` however the reader is configured
  * afterwards, and that reloads Hadoop's default resources through a
  * classpath scan: about 10 ms per file opened, more than reading a small
  * manifest or chunk file takes. Every plain-reader site (manifest and
  * tombstone files, connector chunk files, the `$chunks` metadata table)
  * opens its files here instead.
  */
object GroupReader {
  /** A reader of `path` under `conf`; `conf` also carries the read schema
    * (`ReadSupport.PARQUET_READ_SCHEMA`) when the caller projects.
    */
  def open(path: Path, conf: Configuration,
      filter: FilterCompat.Filter = FilterCompat.NOOP): ParquetReader[Group] =
    new Builder(path, conf).withFilter(filter).build()

  private final class Builder(path: Path, conf: Configuration)
      extends ParquetReader.Builder[Group](HadoopInputFile.fromPath(path, conf),
        new HadoopParquetConfiguration(conf)) {
    override protected def getReadSupport(): ReadSupport[Group] = new GroupReadSupport()
  }
}
