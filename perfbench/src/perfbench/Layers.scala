package perfbench

import fsstspark.codec.{BytesCodec, LongCodec}
import fsstspark.codec.fsst.{Fsst, FsstTrainer}
import fsstspark.io.ParquetTableIO
import fsstspark.pipeline.ChunkResult
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** One column of one stored chunk, decoded on the driver. `codec` is the
  * codec the table recorded (`key` columns record none).
  */
final case class ChunkColumn(chunk: Long, column: String, codec: String,
    bytes: Array[Array[Byte]], longs: LongCodec.LongColumn) {
  def bytesIn: Long =
    if (longs != null) 8L * longs.n else bytes.iterator.filter(_ != null).map(_.length.toLong).sum
}

/** The per-layer pass of a traced run. Every layer is called on its own,
  * over the workload's own data, inside spans named after the layer.
  */
object Layers {
  private val LongCodecs = LongCodec.names.values.toSet

  /** All columns of every live chunk of `table`, keys included. */
  def chunks(ctx: Ctx, io: ParquetTableIO, table: String): Seq[ChunkColumn] = {
    val rs = ctx.tracer.span("io", "readChunks")(io.readChunks(ctx.spark, table).collect())
    rs.groupBy(_.chunk_id).toSeq.sortBy(_._1).flatMap { case (cid, cols) =>
      ChunkColumn(cid, "key", "", BytesCodec.decode(cols.head.key_blob), null) +:
        cols.sortBy(_.column).map { r =>
          if (LongCodecs(r.codec)) ChunkColumn(cid, r.column, r.codec, null, LongCodec.decode(r.value_blob))
          else ChunkColumn(cid, r.column, r.codec, BytesCodec.decode(r.value_blob), null)
        }
    }
  }

  /** L0: the FSST kernel on one thread over every byte column chunk. */
  def fsst(ctx: Ctx, cols: Seq[ChunkColumn]): (Seq[Metric], Boolean) = {
    val tr = ctx.tracer
    var (trainNs, encNs, decNs, in, out, n) = (0L, 0L, 0L, 0L, 0L, 0)
    var ok = true
    cols.filter(c => c.bytes != null).foreach { c =>
      val vals = c.bytes.filter(_ != null)
      val total = vals.iterator.map(_.length.toLong).sum
      if (vals.nonEmpty && total > 0) {
        n += 1
        val (table, trainS) = Time.seconds(tr.span("codec.fsst", "train")(FsstTrainer.train(vals)))
        // buffers are allocated outside the timed encode and decode loops
        val enc = table.newEncoder()
        val buf = new Array[Byte](vals.iterator.map(v => Fsst.maxEncodedSize(v.length)).sum)
        val ends = new Array[Int](vals.length)
        val (_, encS) = Time.seconds(tr.span("codec.fsst", "encode") {
          var pos = 0
          var i = 0
          while (i < vals.length) { pos = enc.encode(vals(i), 0, vals(i).length, buf, pos); ends(i) = pos; i += 1 }
        })
        val dec = table.newDecoder()
        val dst = new Array[Byte](vals.iterator.map(_.length).max + 8)
        val (_, decS) = Time.seconds(tr.span("codec.fsst", "decode") {
          var i = 0
          var start = 0
          while (i < vals.length) {
            val len = dec.decode(buf, start, ends(i) - start, dst, 0)
            if (len != vals(i).length || !java.util.Arrays.equals(dst, 0, len, vals(i), 0, len)) ok = false
            start = ends(i)
            i += 1
          }
        })
        trainNs += (trainS * 1e9).toLong; encNs += (encS * 1e9).toLong; decNs += (decS * 1e9).toLong
        in += total; out += ends.last
      }
    }
    if (!ok) Main.warn("fsst replay: a value did not round-trip")
    (Seq(
      Metric("codec.fsst.train_ms_per_chunk", trainNs / 1e6 / math.max(n, 1), "ms"),
      Metric("codec.fsst.encode_mbps", in / 1e6 / (encNs / 1e9), "MB/s"),
      Metric("codec.fsst.decode_mbps", in / 1e6 / (decNs / 1e9), "MB/s"),
      Metric("codec.fsst.ratio", out.toDouble / in, "ratio")), ok)
  }

  /** L1: `encodeAuto` and `decode` per chunk column on `nproc` threads, and
    * `selectEquals` per byte chunk on one thread. Returns the metrics, the
    * summed busy seconds of the encode tasks, and whether every chunk chose
    * the codec the table recorded and round-tripped.
    */
  def codec(ctx: Ctx, cols: Seq[ChunkColumn]): (Seq[Metric], Double, Boolean) = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.nproc)
    val ok = new java.util.concurrent.atomic.AtomicBoolean(true)
    def fail(msg: String): Unit = { Main.warn(msg); ok.set(false) }
    try {
      def onPool[T](work: Seq[() => T]): Seq[T] =
        work.map(w => pool.submit(() => w())).map(_.get())
      val (encoded, encWall) = Time.seconds(ctx.tracer.span("codec", "encodeAuto") {
        onPool(cols.map { c => () =>
          val t0 = System.nanoTime()
          val (id, blob) =
            if (c.longs != null) { val e = LongCodec.encodeAuto(c.longs); (e.codec, e.blob) }
            else { val e = BytesCodec.encodeAuto(c.bytes); (e.codec, e.blob) }
          (c, id, blob, System.nanoTime() - t0)
        })
      })
      encoded.foreach { case (c, id, _, _) =>
        val name = if (c.longs != null) LongCodec.names(id) else BytesCodec.names(id)
        if (c.codec.nonEmpty && c.codec != name)
          fail(s"chunk ${c.chunk} column ${c.column}: replay chose $name, table has ${c.codec}")
      }
      val (_, decWall) = Time.seconds(ctx.tracer.span("codec", "decode") {
        onPool(encoded.map { case (c, _, blob, _) => () =>
          val same =
            if (c.longs != null) {
              val d = LongCodec.decode(blob)
              java.util.Arrays.equals(d.values, c.longs.values) && java.util.Arrays.equals(d.nulls, c.longs.nulls)
            } else {
              val d = BytesCodec.decode(blob)
              d.length == c.bytes.length && d.indices.forall(i => java.util.Arrays.equals(d(i), c.bytes(i)))
            }
          if (!same) fail(s"chunk ${c.chunk} column ${c.column}: decode differs from the input")
        })
      })
      // selectEquals against each value chunk's first non-null value
      var (selNs, selN) = (0L, 0)
      ctx.tracer.span("codec", "selectEquals") {
        encoded.filter { case (c, _, _, _) => c.bytes != null && c.column != "key" }.foreach {
          case (c, _, blob, _) =>
            c.bytes.find(_ != null).foreach { target =>
              val t0 = System.nanoTime()
              val (idx, _) = BytesCodec.selectEquals(blob, target)
              selNs += System.nanoTime() - t0
              selN += 1
              val want = c.bytes.indices.filter(i => java.util.Arrays.equals(c.bytes(i), target))
              if (!idx.toSeq.equals(want)) fail(s"chunk ${c.chunk} column ${c.column}: selectEquals mismatch")
            }
        }
      }
      val in = cols.map(_.bytesIn).sum
      val out = encoded.map(_._3.length.toLong).sum
      val byCodec = encoded.filter(_._1.column != "key").groupBy { case (c, id, _, _) =>
        if (c.longs != null) LongCodec.names(id) else BytesCodec.names(id)
      }.map { case (k, v) => k -> v.size }
      val counts = (BytesCodec.names.values ++ LongCodec.names.values).toSeq.sorted.map { n =>
        Metric(s"codec.chunks.$n", byCodec.getOrElse(n, 0).toDouble, "count")
      }
      val busy = encoded.map(_._4).sum / 1e9
      (Seq(
        Metric("codec.encode_gbps", in / 1e9 / encWall, "GB/s"),
        Metric("codec.decode_gbps", in / 1e9 / decWall, "GB/s"),
        Metric("codec.ratio", out.toDouble / in, "ratio"),
        Metric("codec.select_equals_us_per_chunk", selNs / 1e3 / math.max(selN, 1), "us")) ++ counts,
        busy, ok.get)
    } finally pool.shutdown()
  }

  /** L2: the workload's encode job with a no-IO action. Returns the
    * metrics, the job's wall seconds and whether its byte total matches.
    */
  def pipeline(ctx: Ctx, job: () => Dataset[ChunkResult], userBytes: Long,
      valueBytes: Long): (Seq[Metric], Double, Boolean) = {
    val tr = ctx.tracer
    tr.nextOp()
    var span: Span = null
    val (row, secs) = Time.seconds(tr.span("pipeline", "encode") {
      span = tr.spans.last
      job().agg(sum("bytes_in"), count(lit(1))).head()
    })
    tr.drain()
    val st = tr.subtree(span)
    val ok = row.getLong(0) == valueBytes
    if (!ok) Main.warn(s"pipeline job encoded ${row.getLong(0)} value bytes, want $valueBytes")
    (Seq(
      Metric("pipeline.encode_gbps", userBytes / 1e9 / secs, "GB/s"),
      Metric("pipeline.task_cpu_s", st.cpuNs / 1e9, "s"),
      Metric("pipeline.gc_s", st.gcMs / 1e3, "s"),
      Metric("pipeline.shuffle_write_bytes", st.shuffleWriteBytes.toDouble, "bytes"),
      Metric("pipeline.shuffle_fetch_wait_s", st.fetchWaitMs / 1e3, "s"),
      Metric("pipeline.spill_bytes", st.spillBytes.toDouble, "bytes"),
      Metric("pipeline.task_skew", st.skew, "ratio")), secs, ok)
  }

  /** L3 write side: `writeChunks` of already-encoded, cached results into
    * `table`, then a manifest read of `mainTable`.
    */
  def io(ctx: Ctx, io: ParquetTableIO, root: String, job: () => Dataset[ChunkResult], table: String,
      mainTable: String): Seq[Metric] = {
    val tr = ctx.tracer
    tr.nextOp()
    val cached = tr.span("bench", "materialize") {
      val c = job().persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      c.count()
      c
    }
    val (_, writeS) = Time.seconds(tr.span("io", "writeChunks")(io.writeChunks(cached, table)))
    cached.unpersist(blocking = true)
    val (bytes, files) = Disk.usage(s"$root/$table")
    tr.nextOp()
    val (rows, manifestS) = Time.seconds(tr.span("io", "manifest")(io.manifest(ctx.spark, mainTable).count()))
    val batches = tr.span("io", "committedBatchIds")(io.committedBatchIds(ctx.spark, mainTable).length)
    Seq(
      Metric("io.write_s", writeS, "s"),
      Metric("io.bytes_written", bytes.toDouble, "bytes"),
      Metric("io.files_written", files.toDouble, "count"),
      Metric("io.manifest_ms", manifestS * 1e3, "ms"),
      Metric("io.manifest_rows", rows.toDouble, "count"),
      Metric("io.committed_batches", batches.toDouble, "count"))
  }

  /** L3 read side: one operation of every kind through the connector and
    * SQL, with plan and execution timed apart and task counts per
    * operation.
    */
  def sources(ctx: Ctx, ops: CatalogOps, io: ParquetTableIO): (Seq[Metric], Seq[Sample]) = {
    val tr = ctx.tracer
    val liveChunks = io.manifest(ctx.spark, ops.table).select("chunk_id").distinct().count()
    val results = Ops.All.map { kind =>
      val before = io.committedBatchIds(ctx.spark, ops.table).toSet
      val (sample, facts) = ops.runDetailed(kind)
      tr.drain()
      val root = tr.spans.filter(s => s.parent < 0 && s.name == s"op.$kind").last
      val st = tr.subtree(root)
      val rewritten =
        if (Ops.Dml.contains(kind)) {
          val added = io.committedBatchIds(ctx.spark, ops.table).filterNot(before).toSeq
          io.manifestForBatches(ctx.spark, ops.table, added).count()
        } else 0L
      (kind, sample, facts, st, rewritten)
    }
    val perOp = results.flatMap { case (kind, _, f, st, _) =>
      Seq(
        Metric(s"sources.plan_ms.$kind", f.planSeconds * 1e3, "ms"),
        Metric(s"sources.exec_ms.$kind", f.execSeconds * 1e3, "ms"),
        Metric(s"sources.jobs_per_op.$kind", st.jobs.toDouble, "count"),
        Metric(s"sources.tasks_per_op.$kind", st.tasks.toDouble, "count"))
    }
    val sel = results.filter(r => Ops.Selects.contains(r._1)).map(_._3)
    val planned = sel.map(_.chunks).sum
    (perOp ++ Seq(
      Metric("sources.chunks_planned_per_select", planned.toDouble / sel.length, "count"),
      Metric("sources.pruned_frac", 1.0 - planned.toDouble / (liveChunks * sel.length), "frac"),
      Metric("sources.rows_decoded_per_row_returned",
        sel.map(_.rows).sum.toDouble / math.max(1L, sel.map(_.returned).sum), "ratio"),
      Metric("sources.dml_chunks_rewritten",
        results.filter(r => Ops.Dml.contains(r._1)).map(_._5).sum.toDouble / Ops.Dml.length, "count")),
      results.map(_._2))
  }

  /** The fixed-corpus kernel control: single-thread FSST MB/s over a 4 MB
    * zipf text identical in every run, best of eight. It moves only with
    * the host, so it judges the window a run came from.
    */
  def hostControl(): (Seq[Metric], Boolean) = {
    val data = Gen.controlCorpus(4 << 20)
    val table = FsstTrainer.train(Array(data))
    val enc = table.newEncoder()
    val dec = table.newDecoder()
    val encDst = new Array[Byte](Fsst.maxEncodedSize(data.length))
    val decDst = new Array[Byte](data.length + 8)
    var (bestE, bestD) = (Double.MaxValue, Double.MaxValue)
    var ok = true
    for (_ <- 0 until 8) {
      val (encLen, e) = Time.seconds(enc.encode(data, 0, data.length, encDst, 0))
      val (decLen, d) = Time.seconds(dec.decode(encDst, 0, encLen, decDst, 0))
      ok &&= decLen == data.length && java.util.Arrays.equals(decDst, 0, decLen, data, 0, decLen)
      bestE = math.min(bestE, e)
      bestD = math.min(bestD, d)
    }
    (Seq(Metric("host.kernel_enc_mbps", data.length / 1e6 / bestE, "MB/s"),
      Metric("host.kernel_dec_mbps", data.length / 1e6 / bestD, "MB/s")), ok)
  }
}
