package fsstspark.queries

import fsstspark.pipeline.{Checkpoint, ChunkResult, EncodePipeline, KV, LongKV}
import fsstspark.stats.ChunkStats
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The named queries exported through `graft.SparkEntry` (driver contract).
  * Each SQL-expressible query has a DuckDB oracle in [[Oracles]]; codec
  * internals (blob sizes, codec choice) are verified by ScalaTest instead.
  *
  * Chunk ids in oracle-facing queries are `doc_id % 32` — deterministic
  * AND SQL-expressible on both engines. Production pipelines use
  * [[EncodePipeline.chunkIdByHash]] (xxhash64 of the key) instead; the
  * pipeline is agnostic to the chunking expression.
  */
object Queries {
  final val NChunks = 32

  /** Fixture-construction seconds per query (keyed by the SparkEntry
    * query name): the catalog/DSv2 queries build their fixture — encode
    * + catalog write, eager — inside the query function, so their BENCH
    * totals are fixture-dominated. Recording the build phase separately
    * lets the bench report read-path seconds (total − fixture) round
    * over round instead of hiding read regressions under fixture noise.
    */
  val fixtureSeconds = new java.util.concurrent.ConcurrentHashMap[String, Double]()

  private def timedFixture[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    fixtureSeconds.put(name, (System.nanoTime() - t0) / 1e9)
    r
  }

  // ------------------------------------------------------------ sources

  def documents(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** documents.text as keyed binary values (key = doc_id). */
  def docsKV(s: SparkSession, dir: String): Dataset[KV] = {
    import s.implicits._
    documents(s, dir)
      .select(col("doc_id").cast("string").as("key"),
        encode(col("text"), "UTF-8").as("value"))
      .as[KV]
  }

  def docChunk: Column = pmod(col("key").cast("long"), lit(NChunks.toLong))

  // ------------------------------------------- core pipeline (R1-R15, N8, N10)

  /** Encode→decode documents.text and aggregate the DECODED bytes per
    * lang; hash-matches the oracle computed over the ORIGINAL column, so a
    * single corrupted byte anywhere fails the compare.
    */
  def pipeRoundtripText(s: SparkSession, dir: String): DataFrame = {
    val enc = EncodePipeline.encodeBytes(docsKV(s, dir), "text", docChunk)
    val dec = EncodePipeline.decodeBytes(enc)
    dec.join(documents(s, dir).select(col("doc_id").cast("string").as("key"), col("lang")), "key")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(octet_length(col("value"))).as("total_bytes"),
        countDistinct(md5(col("value"))).as("n_distinct"))
      .orderBy("lang")
  }

  /** Zero-shuffle (partition-local chunking) variant of the round-trip —
    * the Iceberg-rewrite-shaped scale path; same oracle as the hash-chunked
    * one because decoded bytes must be identical either way.
    */
  def pipeLocalRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val enc = EncodePipeline.encodeBytesLocal(docsKV(s, dir), "text", 64L << 10)
    val dec = EncodePipeline.decodeBytes(enc)
    dec.join(documents(s, dir).select(col("doc_id").cast("string").as("key"), col("lang")), "key")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(octet_length(col("value"))).as("total_bytes"),
        countDistinct(md5(col("value"))).as("n_distinct"))
      .orderBy("lang")
  }

  /** N10 join-and-compare surfaced as a per-lang mismatch count (must be 0). */
  def pipeVerifyJoin(s: SparkSession, dir: String): DataFrame = {
    val original = docsKV(s, dir)
    val dec = EncodePipeline.decodeBytes(EncodePipeline.encodeBytes(original, "text", docChunk))
    EncodePipeline.verify(original, dec)
      .join(documents(s, dir).select(col("doc_id").cast("string").as("key"), col("lang")), "key")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("matched"), 0L).otherwise(1L)).as("n_mismatch"))
      .orderBy("lang")
  }

  /** N9 resume semantics: chunks simulated-complete (chunk%4==0) are
    * actually encoded; the pending set is the left_anti join against their
    * emitted lineage — the exact query a restart runs.
    */
  def pipeResumePending(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val kv = docsKV(s, dir)
    val all = kv.select(docChunk.cast("long").as("chunk_id")).distinct()
    val done = EncodePipeline
      .encodeBytes(kv.filter(pmod(docChunk, lit(4)) === 0).as[KV], "text", docChunk)
      .select(col("chunk_id")).distinct()
    all.join(done, Seq("chunk_id"), "left_anti").orderBy("chunk_id")
  }

  /** N6 selector outcome per codec over the documents chunks (rows-only
    * check; exact choices asserted in ScalaTest).
    */
  def pipeCodecMix(s: SparkSession, dir: String): DataFrame =
    EncodePipeline.encodeBytes(docsKV(s, dir), "text", docChunk)
      .groupBy("codec")
      .agg(count(lit(1)).as("n_chunks"), sum("n_rows").as("n_rows"),
        sum("bytes_in").as("bytes_in"), sum("bytes_out").as("bytes_out"))
      .orderBy("codec")

  // ----------------------------------------------------- stats pass (N5)

  def chunkStats(s: SparkSession, dir: String): DataFrame =
    ChunkStats.basic(documents(s, dir), pmod(col("doc_id"), lit(NChunks.toLong)), col("text"))
      .select(col("chunk_id"), col("n_rows"), col("total_bytes"),
        col("max_len").cast("long").as("max_len"), col("n_distinct"))
      .orderBy("chunk_id")

  /** Selector-facing profile with the sketch outputs surfaced as
    * oracle-checkable booleans: the HLL++ estimate must sit within 15% of
    * the exact distinct count (default rsd is 5%), and byte entropy of
    * English-ish text must land in [3.0, 6.0] bits/byte — wide enough to
    * be scale-stable, tight enough that a broken histogram merge or
    * sketch fails the compare. Exact columns (rows/bytes) oracle exactly.
    */
  def chunkProfile(s: SparkSession, dir: String): DataFrame =
    ChunkStats.profile(documents(s, dir), pmod(col("doc_id"), lit(NChunks.toLong)), col("text"))
      .join(ChunkStats.basic(documents(s, dir), pmod(col("doc_id"), lit(NChunks.toLong)), col("text"))
        .select(col("chunk_id"), col("n_distinct")), "chunk_id")
      .select(col("chunk_id"), col("n_rows"), col("total_bytes"),
        (abs(col("approx_distinct") - col("n_distinct")) <=
          col("n_distinct") * 0.15).as("hll_ok"),
        col("entropy_bits_per_byte").between(3.0, 6.0).as("entropy_ok"))
      .orderBy("chunk_id")

  // ------------------------------------------- long codecs (N3, N4, FoR/delta)

  def eventsTsRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = s.read.parquet(s"$dir/events.parquet")
    val kvl = ev.select(col("event_id").cast("string").as("key"),
      unix_micros(col("ts").cast("timestamp")).as("value")).as[LongKV]
    val enc = EncodePipeline.encodeLongs(kvl, "ts", docChunk)
    val dec = EncodePipeline.decodeLongs(enc)
    dec.join(ev.select(col("event_id").cast("string").as("key"), col("event_type")), "key")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), min("value").as("min_us"), max("value").as("max_us"),
        countDistinct(col("value")).as("n_distinct"))
      .orderBy("event_type")
  }

  /** Auto-selection across heterogeneous lineitem columns — all seven
    * (two string, three long/timestamp, two double) encoded in ONE scan +
    * ONE shuffle ([[EncodePipeline.encodeColumns]]; the r1 shape
    * re-scanned and re-shuffled lineitem once per column). Row counts and
    * input bytes are DuckDB-oracled; the chosen codec per column is part
    * of the compared output (a golden selection — stable because every
    * hash chunk sees the same value distribution).
    */
  def lineitemCodecSelection(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .withColumn("key", monotonicallyStableKey())
    val enc = EncodePipeline.encodeColumns(li, col("key"), rowChunk, Seq(
      EncodePipeline.ColSpec("l_returnflag", encode(col("l_returnflag"), "UTF-8")),
      EncodePipeline.ColSpec("l_linestatus", encode(col("l_linestatus"), "UTF-8")),
      EncodePipeline.ColSpec("l_orderkey", col("l_orderkey"), isLong = true),
      EncodePipeline.ColSpec("l_partkey", col("l_partkey"), isLong = true),
      EncodePipeline.ColSpec("l_shipdate",
        unix_micros(col("l_shipdate").cast("timestamp")), isLong = true),
      EncodePipeline.ColSpec("l_quantity", col("l_quantity"), isDouble = true),
      EncodePipeline.ColSpec("l_extendedprice", col("l_extendedprice"), isDouble = true)))
    // bytes_out and the chosen codec are deliberately absent from this
    // oracled output: bytes_out is kernel-version-dependent, and the
    // codec choice for l_quantity/l_shipdate legitimately flips between
    // xor and dict_long with chunk size (dictionary amortization) — the
    // per-chunk selector doing its job, not a golden constant. The stable
    // golden-selection oracle lives in events_codec_selection; per-codec
    // behavior is asserted in CodecSpec.
    enc.groupBy("column")
      .agg(countDistinct(col("chunk_id")).as("n_chunks"), sum("n_rows").as("n_rows"),
        sum("bytes_in").as("bytes_in"))
      .orderBy("column")
  }

  /** Double-column round-trip (events.value through raw-bit LongCodec):
    * decoded doubles must be BIT-identical per key — `<=>` catches any
    * NaN/sign/rounding drift. Counts oracle exactly; values verify by the
    * zero-mismatch invariant.
    */
  def eventsValueRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val ev = s.read.parquet(s"$dir/events.parquet")
    val enc = EncodePipeline.encodeColumns(ev, col("event_id"), docChunkOf(col("event_id")),
      Seq(EncodePipeline.ColSpec("value", col("value"), isDouble = true)))
    val dec = EncodePipeline.decodeDoubles(enc).toDF("key", "decoded")
    ev.select(col("event_id").cast("string").as("key"), col("value"), col("event_type"))
      .join(dec, Seq("key"), "full_outer")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") <=> col("decoded"), 0L).otherwise(1L)).as("n_mismatch"))
      .orderBy("event_type")
  }

  private def docChunkOf(id: Column): Column = pmod(id.cast("long"), lit(NChunks.toLong))

  /** Golden auto-selection over events — one pass, four columns, showing
    * the selector route each type to its codec (low-cardinality strings
    * AND low-cardinality JSON-ish props → dict, dense ids → bitpack,
    * bounded-range timestamps → FoR). The double `value` column is
    * deliberately absent: its for/xor/raw choice is legitimately
    * chunk-content-dependent (no stable golden); its round-trip
    * correctness is oracled by events_value_roundtrip.
    */
  def eventsCodecSelection(s: SparkSession, dir: String): DataFrame = {
    val ev = s.read.parquet(s"$dir/events.parquet")
    val enc = EncodePipeline.encodeColumns(ev, col("event_id"), docChunkOf(col("event_id")), Seq(
      EncodePipeline.ColSpec("ts", unix_micros(col("ts").cast("timestamp")), isLong = true),
      EncodePipeline.ColSpec("user_id", col("user_id"), isLong = true),
      EncodePipeline.ColSpec("event_type", encode(col("event_type"), "UTF-8")),
      EncodePipeline.ColSpec("props", encode(col("props"), "UTF-8"))))
    enc.groupBy("column", "codec")
      .agg(count(lit(1)).as("n_chunks"), sum("n_rows").as("n_rows"),
        sum("bytes_in").as("bytes_in"))
      .orderBy("column", "codec")
  }

  /** DecimalType surface: decimals encode EXACTLY through the long codecs
    * as unscaled integers — `dec * 10^scale → long` is exact decimal
    * arithmetic (never a double detour), and the inverse cast restores
    * the value bit-for-bit. This query locks the pattern: encode
    * lineitem's price as decimal(12,2) cents, decode, and require zero
    * mismatches against the original decimal column.
    */
  def lineitemDecimalRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .withColumn("key", monotonicallyStableKey())
      .withColumn("price_dec", col("l_extendedprice").cast("decimal(12,2)"))
    val enc = EncodePipeline.encodeColumns(li, col("key"), rowChunk, Seq(
      EncodePipeline.ColSpec("price_cents",
        (col("price_dec") * 100).cast("long"), isLong = true)))
    // The synthetic lineitem violates TPC-H's (orderkey, linenumber)
    // primary key (≈24% duplicate pairs), so a per-key equi-join would
    // row-multiply; compare the per-key VALUE MULTISETS instead — group
    // counts per (key, cents) on both sides must agree exactly.
    val orig = li.select(col("key"), (col("price_dec") * 100).cast("long").as("cents"))
      .groupBy("key", "cents").agg(count(lit(1)).as("n_orig"))
    val dec = EncodePipeline.decodeLongs(enc).toDF("key", "cents")
      .groupBy("key", "cents").agg(count(lit(1)).as("n_dec"))
    orig.join(dec, Seq("key", "cents"), "full_outer")
      .agg(sum(coalesce(col("n_orig"), lit(0L))).as("n"),
        sum(when(col("n_orig") <=> col("n_dec"), 0L).otherwise(1L)).as("n_mismatch"))
  }

  /** Deterministic row key for lineitem. NOTE: the synthetic testdata
    * violates TPC-H's (orderkey, linenumber) primary key (≈24% of pairs
    * repeat), so this key is stable but NOT unique — safe for chunking
    * and aggregation queries, but per-key equi-join verification must use
    * multiset compares (see [[lineitemDecimalRoundtrip]]); chunk content
    * stays deterministic regardless via the encode pipeline's
    * (key, value) tie-break sort.
    */
  private def monotonicallyStableKey(): Column =
    concat_ws("_", col("l_orderkey"), col("l_linenumber"))
  private def rowChunk: Column = pmod(xxhash64(col("key")), lit(NChunks.toLong))

  // --------------------------------------- relational coverage (§2.3 b,d,e,f,c,g)

  def q1Agg(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(round(sum("l_quantity") * 100).cast("long").as("sum_qty_cents"),
        round(sum("l_extendedprice") * 100).cast("long").as("sum_price_cents"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag", "l_linestatus")

  def qJoinAgg(s: SparkSession, dir: String): DataFrame = {
    val o = s.read.parquet(s"$dir/orders.parquet")
    val c = s.read.parquet(s"$dir/customer.parquet")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice") * 100).cast("long").as("sum_price_cents"))
      .orderBy("c_mktsegment")
  }

  def qTopkDocs(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).select("doc_id", "n_chars", "lang")
      .orderBy(desc("n_chars"), asc("doc_id")).limit(20)

  /** Run-length stats via a window (§2.3 e + run-length input to N6). */
  def qWindowRuns(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(pmod(col("doc_id"), lit(NChunks.toLong))).orderBy("doc_id")
    documents(s, dir)
      .select(pmod(col("doc_id"), lit(NChunks.toLong)).as("chunk_id"), col("doc_id"), col("lang"))
      .withColumn("prev", lag("lang", 1).over(Window.partitionBy("chunk_id").orderBy("doc_id")))
      .groupBy("chunk_id")
      .agg(sum(when(col("prev").isNull || col("prev") =!= col("lang"), 1L).otherwise(0L)).as("n_runs"))
      .orderBy("chunk_id")
  }

  // ------------------------------------------ training-data ops (dedup/text)

  def dedupExact(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), countDistinct(md5(col("text"))).as("n_unique"))
      .orderBy("lang")

  def textTokens(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), "\\s+"))).as("n_tokens"),
        sum(length(col("text"))).as("total_chars"))
      .orderBy("lang")

  /** documents plus deterministic planted near-duplicates (1-in-10 docs
    * copied with a short appended tail) — the fixture both dedup queries
    * run on, so near-dup counts are non-trivial and reproducible.
    */
  def docsWithNearDups(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val dups = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000)
      .withColumn("text", concat(col("text"), lit(" trailing marker words")))
    docs.unionByName(dups)
  }

  def dedupMinhash(s: SparkSession, dir: String): DataFrame =
    fsstspark.textops.Dedup.minhashPairs(
      docsWithNearDups(s, dir), "doc_id", "text", threshold = 0.7)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 3).as("jaccard"))
      .orderBy("id_a", "id_b") // compare-order only; the library emits unsorted pairs

  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    fsstspark.textops.Dedup.simhashPairs(
      docsWithNearDups(s, dir), "doc_id", "text", maxHamming = 3)
      .orderBy("id_a", "id_b") // compare-order only

  /** The planted near-duplicates restricted to their known ids — an exact
    * DuckDB oracle for near-dup RECALL: the pipeline must recover every
    * (doc_id, doc_id+1000000) pair it planted. Natural (unplanned) near-dup
    * pairs stay in the un-oracled [[dedupMinhash]]/[[dedupSimhash]] output.
    */
  // Dedup emits ids in lexicographic order (ids are opaque strings —
  // urls in production); normalize to numeric (lo, hi) before matching
  // the planted offset.
  private def plantedPairs(pairs: DataFrame, offset: Long): DataFrame =
    pairs
      .select(least(col("id_a").cast("long"), col("id_b").cast("long")).as("id_a"),
        greatest(col("id_a").cast("long"), col("id_b").cast("long")).as("id_b"))
      .filter(col("id_b") === col("id_a") + offset)
      .orderBy("id_a")

  def dedupMinhashPlanted(s: SparkSession, dir: String): DataFrame =
    plantedPairs(fsstspark.textops.Dedup.minhashPairs(
      docsWithNearDups(s, dir), "doc_id", "text", threshold = 0.7), 1000000L)

  /** SimHash's planted fixture perturbs formatting only (trailing
    * whitespace): the token stream — and therefore the fingerprint — is
    * unchanged while the raw bytes differ, so every planted pair sits at
    * hamming 0 and total recall is a hard guarantee the oracle can pin.
    * (An appended-words perturbation is NOT simhash-recoverable in
    * general: adding t tokens shifts each bit-sum by ≤t, and for a
    * T-token doc the expected |bit-sum| is ~√T, so flipped bits scale far
    * past any fixed hamming cutoff — that tolerance envelope is
    * characterized in TextOpsSpec instead.)
    */
  def dedupSimhashPlanted(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val dups = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 2000000)
      .withColumn("text", concat(col("text"), lit("  ")))
    plantedPairs(fsstspark.textops.Dedup.simhashPairs(
      docs.unionByName(dups), "doc_id", "text", maxHamming = 3), 2000000L)
  }

  /** Embedding-cosine near-dup over the embeddings table with planted
    * exact-copy vectors (vec_id+1000000): only the planted pairs can
    * reach cosine ≥ 0.95 (the synthetic embeddings are near-uniform, top
    * natural cosine ≈ 0.3), so the FULL output is oracle-exact — recall
    * (every planted pair found through the SRP buckets) and precision
    * (no natural pair passes) in one check.
    */
  def dedupEmbedding(s: SparkSession, dir: String): DataFrame = {
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    val withDups = emb.unionByName(
      emb.filter(col("vec_id") % 10 === 0)
        .withColumn("vec_id", col("vec_id") + 1000000))
    fsstspark.textops.Dedup.embeddingPairs(withDups, "vec_id", "embedding",
        threshold = 0.95)
      .select(col("id_a"), col("id_b"))
      .orderBy("id_a", "id_b") // compare-order only
  }

  /** The dropped-bucket accounting surfaced as an oracle-checkable query:
    * every doc_id % 5 == 0 document is rewritten to identical boilerplate,
    * so each of the 16 minhash bands has EXACTLY one bucket over the
    * 50-member cap holding those n/5 docs. Minhash band buckets hash four
    * 64-bit minhashes, so a benign bucket over the cap would require a
    * 50-doc clique of near-identical natural texts (none exists in word
    * soup at any sf), and unrelated collisions can only GROW a hot
    * bucket — count 16 and the ≥n/5 member floor are scale-stable.
    * (SimHash drop accounting is NOT oracled here: its 16-bit blocks over
    * Zipf-correlated bits legitimately form natural hot buckets whose
    * count grows with corpus size; TextOpsSpec covers it.)
    */
  def dedupDroppedBuckets(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
      .withColumn("text", when(col("doc_id") % 5 === 0,
        lit("identical boilerplate page body repeated across the crawl"))
        .otherwise(col("text")))
    val floor = docs.filter(col("doc_id") % 5 === 0).count()
    fsstspark.textops.Dedup.minhashDedup(
        docs, "doc_id", "text", maxBucketSize = 50).droppedBuckets
      .groupBy("method")
      .agg(count(lit(1)).as("n_dropped_buckets"),
        (min(col("n_members")) >= floor).as("members_floor_ok"))
      .orderBy("method")
  }

  /** The n-gram Jaccard metric end-to-end on the planted near-dup pairs:
    * candidate GENERATION at scale belongs to minhash/simhash/embedding
    * LSH; this query verifies the exact word-shingle Jaccard computation
    * itself — every planted pair must clear the similarity floor
    * ((T-2)/(T+1) ≥ 0.75 at the corpus' shortest planted doc).
    */
  def dedupNgram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = docsWithNearDups(s, dir)
    val a = docs.select(col("doc_id").as("id_a"), col("text").as("text_a"))
    val b = docs.select((col("doc_id") - 1000000).as("join_id"),
      col("doc_id").as("id_b"), col("text").as("text_b"))
    a.join(b, col("id_a") === col("join_id"))
      .select(col("id_a"), col("id_b"), col("text_a"), col("text_b"))
      .as[(Long, Long, String, String)]
      .map { case (ia, ib, ta, tb) =>
        (ia, ib, fsstspark.textops.Dedup.exactJaccard(
          fsstspark.textops.Dedup.shingles(ta), fsstspark.textops.Dedup.shingles(tb)))
      }
      .toDF("id_a", "id_b", "jaccard")
      .filter(col("jaccard") >= 0.3)
      .select("id_a", "id_b").orderBy("id_a")
  }

  /** Rows-only by necessity: the testdata `lang` column is random
    * metadata over language-free synthetic word soup (verified: the same
    * English-ish token stream under every label), so there is no ground
    * truth to oracle the heuristic against here; accuracy on genuine
    * stopword-bearing sentences is asserted in TextOpsSpec.
    */
  def textAnalysis(s: SparkSession, dir: String): DataFrame =
    fsstspark.textops.TextAnalysis.analyze(documents(s, dir), "doc_id", "text")
      .groupBy("predicted_lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
        sum("n_fingerprints").as("n_fingerprints"))
      .orderBy("predicted_lang")

  def annBruteforce(s: SparkSession, dir: String): DataFrame = {
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    fsstspark.textops.AnnSearch.bruteForceTopK(
        emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
      .select(col("query_id").cast("long").as("query_id"),
        col("id").cast("long").as("id"), col("rank").cast("long").as("rank"))
      .orderBy("query_id", "rank") // compare-order only
  }

  /** Approximate-ANN correctness surfaced as an oracle-checkable number:
    * recall@10 of the approximate method against the (independently
    * DuckDB-oracled) brute-force top-10, thresholded per query. The
    * threshold carries a wide margin below locally measured recall so the
    * check is stable across scale factors while still failing hard if the
    * bucketing/probing logic regresses.
    */
  private def annRecall(s: SparkSession, dir: String,
      approx: (DataFrame, DataFrame) => DataFrame, minHits: Int): DataFrame = {
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
    val res = approx(emb, q)
      .select(col("query_id").cast("long").as("query_id"), col("id").cast("long").as("id"))
    val bf = fsstspark.textops.AnnSearch.bruteForceTopK(emb, q, "vec_id", "embedding", k = 10)
      .select(col("query_id").cast("long").as("query_id"), col("id").cast("long").as("id"))
    val hits = res.join(bf, Seq("query_id", "id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    q.select(col("vec_id").cast("long").as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        (coalesce(col("n_hits"), lit(0L)) >= minHits).as("recall_ok"))
      .orderBy("query_id")
  }

  // Thresholds from a one-off recall probe across sf0.001/0.01/0.1 (the
  // probe is gone; its source is in git history at a074797): worst-case
  // hits@10 are 6 (LSH, 32 tables) and 8 (IVF, 24/32 probes) — the
  // asserted minima keep a ≥2-hit margin while still failing hard on any
  // bucketing/probing regression. (The sf embeddings are near-uniform —
  // hard mode for ANN; planted-cluster recall ≥0.9 is in TextOpsSpec.)
  def annLsh(s: SparkSession, dir: String): DataFrame =
    annRecall(s, dir, (emb, q) => fsstspark.textops.AnnSearch.lshTopK(
      emb, q, "vec_id", "embedding", k = 10, nBits = 6, nTables = 32), minHits = 4)

  def annIvf(s: SparkSession, dir: String): DataFrame =
    annRecall(s, dir, (emb, q) => fsstspark.textops.AnnSearch.ivfTopK(
      emb, q, "vec_id", "embedding", k = 10, nCentroids = 32, nProbe = 24), minHits = 6)

  /** The north-rule input shape (url, warc_ts, html, text, lang —
    * BASELINE.json input_hint) synthesized deterministically from the
    * driver's `documents` table with pure SQL-expressible expressions, so
    * every downstream byte count has a DuckDB oracle. `doc_id` is kept
    * for SQL-expressible chunking. (PagesGen remains the generator for
    * bench/scale corpora, where realism matters more than oracle reach.)
    */
  def pagesFromDocs(s: SparkSession, dir: String): DataFrame = {
    val url = concat(lit("https://"), col("source"), lit("/doc/"), col("doc_id").cast("string"))
    documents(s, dir).select(
      col("doc_id"),
      url.as("url"),
      timestamp_micros(lit(1577836800000000L) + col("doc_id") * lit(1000000L)).as("warc_ts"),
      encode(concat(lit("<html><body><h1>"), url, lit("</h1><p>"), col("text"),
        lit("</p></body></html>")), "UTF-8").as("html"),
      col("text"), col("lang"))
  }

  /** The north-rule pipeline end-to-end: every pages column encoded in ONE
    * scan + ONE shuffle ([[EncodePipeline.encodeColumns]]), round-trip
    * verified via distributed join-compares only (no driver-side collect
    * anywhere — the byte columns through [[EncodePipeline.verify]], the
    * timestamp column through [[EncodePipeline.verifyLongs]]), metrics per
    * column. Fully DuckDB-oracled: chunk ids, row counts and input bytes
    * are SQL-expressible functions of `documents`, and n_mismatch must be
    * zero.
    */
  def pagesPipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pages = pagesFromDocs(s, dir)
    val chunk = pmod(col("doc_id"), lit(16L))
    val byteCols = Seq(
      "url" -> encode(col("url"), "UTF-8"),
      "text" -> encode(col("text"), "UTF-8"),
      "html" -> col("html"))
    val specs = byteCols.map { case (n, v) => EncodePipeline.ColSpec(n, v) } :+
      EncodePipeline.ColSpec("warc_ts", unix_micros(col("warc_ts")), isLong = true)
    // The encode feeds five consumers (three byte-column decodes, the
    // timestamp decode, and the metrics rollup); AQE reuses the shuffle
    // EXCHANGE but the mapPartitions encode above it would re-run once per
    // branch — persist so the flagship encodes exactly once. (MEMORY_AND_DISK
    // default: encoded chunks are ~⅓ input size and spillable.) The cache
    // intentionally lives as long as the returned lazy DataFrame (the
    // driver materializes each query once per session); a long-lived
    // service reusing this query should `.unpersist()` after consuming, or
    // route through a checkpoint-table write-then-read instead.
    val enc = EncodePipeline.encodeColumns(pages, col("url"), chunk, specs).persist()
    // per-column mismatch counts, all as one lazy distributed dataflow
    val byteMismatch = byteCols.map { case (n, v) =>
      val orig = pages.select(col("url").as("key"), v.as("value")).as[KV]
      val dec = EncodePipeline.decodeBytes(enc.filter(col("column") === n))
      EncodePipeline.verify(orig, dec)
        .select(lit(n).as("column"), col("matched"))
    }.reduce(_ unionByName _)
    val tsOrig = pages.select(col("url").as("key"), unix_micros(col("warc_ts")).as("value")).as[LongKV]
    val tsDec = EncodePipeline.decodeLongs(enc.filter(col("column") === "warc_ts"))
    val mismatch = byteMismatch
      .unionByName(EncodePipeline.verifyLongs(tsOrig, tsDec)
        .select(lit("warc_ts").as("column"), col("matched")))
      .groupBy("column")
      .agg(sum(when(col("matched"), 0L).otherwise(1L)).as("n_mismatch"))
    enc.groupBy("column")
      .agg(countDistinct(col("chunk_id")).as("n_chunks"), sum("n_rows").as("n_rows"),
        sum("bytes_in").as("bytes_in"))
      .join(mismatch, Seq("column"), "left")
      .select(col("column"), col("n_chunks"), col("n_rows"), col("bytes_in"),
        coalesce(col("n_mismatch"), lit(0L)).as("n_mismatch"))
      .orderBy("column")
  }

  /** The north-rule pipeline in its 100 TB shape: ZERO-shuffle whole-table
    * rewrite ([[EncodePipeline.encodeColumnsLocal]]) — every pages column
    * encoded in one scan with partition-local chunking (input layout IS
    * the lineage), then the same distributed round-trip verification as
    * [[pagesPipeline]]. Chunk membership is layout-dependent, so chunk
    * counts are NOT in the oracled output; per-column rows, input bytes
    * and the zero-mismatch invariant are exact DuckDB oracles.
    */
  def pagesLocalPipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pages = pagesFromDocs(s, dir)
    val byteCols = Seq(
      "url" -> encode(col("url"), "UTF-8"),
      "text" -> encode(col("text"), "UTF-8"),
      "html" -> col("html"))
    val specs = byteCols.map { case (n, v) => EncodePipeline.ColSpec(n, v) } :+
      EncodePipeline.ColSpec("warc_ts", unix_micros(col("warc_ts")), isLong = true)
    // persist: five consumers, one encode execution (see pagesPipeline's
    // note on the cache's lifecycle)
    val enc = EncodePipeline.encodeColumnsLocal(pages, col("url"), specs, 256L << 10).persist()
    val byteMismatch = byteCols.map { case (n, v) =>
      val orig = pages.select(col("url").as("key"), v.as("value")).as[KV]
      val dec = EncodePipeline.decodeBytes(enc.filter(col("column") === n))
      EncodePipeline.verify(orig, dec)
        .select(lit(n).as("column"), col("matched"))
    }.reduce(_ unionByName _)
    val tsOrig = pages.select(col("url").as("key"), unix_micros(col("warc_ts")).as("value")).as[LongKV]
    val tsDec = EncodePipeline.decodeLongs(enc.filter(col("column") === "warc_ts"))
    val mismatch = byteMismatch
      .unionByName(EncodePipeline.verifyLongs(tsOrig, tsDec)
        .select(lit("warc_ts").as("column"), col("matched")))
      .groupBy("column")
      .agg(sum(when(col("matched"), 0L).otherwise(1L)).as("n_mismatch"))
    enc.groupBy("column")
      .agg(sum("n_rows").as("n_rows"), sum("bytes_in").as("bytes_in"))
      .join(mismatch, Seq("column"), "left")
      .select(col("column"), col("n_rows"), col("bytes_in"),
        coalesce(col("n_mismatch"), lit(0L)).as("n_mismatch"))
      .orderBy("column")
  }

  /** Predicate pushdown INTO encoded chunks: the low-cardinality `lang`
    * column encodes as dict chunks, and an equality predicate is answered
    * from dictionary membership + the packed index section
    * ([[EncodePipeline.filterEquals]] / [[fsstspark.codec.BytesCodec.selectEquals]])
    * — zero value bytes materialized, chunks without the target skipped
    * structurally. Matched row count/keys are DuckDB-oracled; the metric
    * row asserts every chunk chose dict and the bytes the read touched
    * are under a quarter of the stored value payload.
    */
  def qDictPushdown(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val kv = documents(s, dir)
      .select(lpad(col("doc_id").cast("string"), 8, "0").as("key"),
        encode(col("lang"), "UTF-8").as("value")).as[KV]
    val enc = EncodePipeline.encodeBytesLocal(kv, "lang", 32L << 10)
    val res = EncodePipeline.filterEquals(enc, "de".getBytes("UTF-8"))
    // ONE aggregation pass consumes the per-chunk frame: match stats come
    // from the matched_keys arrays in place (array_min/max of an empty
    // array is null, which min/max skip), so the encode+probe pipeline
    // executes exactly once with nothing persisted
    res.agg(
      sum(size(col("matched_keys"))).as("n_matches"),
      // per-chunk distinct, summed: chunks are key-disjoint here (keys are
      // unique doc ids), so this equals the oracle's global distinct
      // without funnelling every matched key through one aggregation
      // buffer the way a collect_list/flatten global distinct would
      sum(size(array_distinct(col("matched_keys")))).as("n_keys"),
      min(array_min(col("matched_keys"))).as("min_key"),
      max(array_max(col("matched_keys"))).as("max_key"),
      (count(lit(1)) === sum(when(col("codec") === "dict", 1L).otherwise(0L))).as("all_dict"),
      (sum("value_bytes_read") * 4 < sum("bytes_in")).as("pushdown_ok"))
  }

  /** Whole-value equality pushdown into FSST chunks: the greedy encoder is
    * deterministic per value given the chunk's table, so the probe value
    * encodes ONCE per chunk and matches by comparing ENCODED bytes — no
    * decode, and the per-value length prefix skips everything whose
    * encoded length differs ([[fsstspark.codec.BytesCodec.selectEquals]]).
    * Matches are DuckDB-oracled; `pushdown_ok` pins that the probe touched
    * <¼ of the input bytes, `all_fsst` that the selector actually chose
    * FSST for every natural-text chunk (the path under test).
    */
  def qFsstPushdown(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val kv = documents(s, dir)
      .select(lpad(col("doc_id").cast("string"), 8, "0").as("key"),
        encode(col("text"), "UTF-8").as("value")).as[KV]
    val enc = EncodePipeline.encodeBytesLocal(kv, "text", 64L << 10)
    val probe = documents(s, dir).filter(col("doc_id") === 7)
      .select(encode(col("text"), "UTF-8")).head().getAs[Array[Byte]](0)
    val res = EncodePipeline.filterEquals(enc, probe)
    // single aggregation pass (see qDictPushdown): the FSST train+encode
    // runs once, nothing persisted, no post-hoc unpersist lifecycle
    res.agg(
      sum(size(col("matched_keys"))).as("n_matches"),
      min(array_min(col("matched_keys"))).as("min_key"),
      max(array_max(col("matched_keys"))).as("max_key"),
      (count(lit(1)) === sum(when(col("codec") === "fsst", 1L).otherwise(0L))).as("all_fsst"),
      (sum("value_bytes_read") * 4 < sum("bytes_in")).as("pushdown_ok"))
  }

  /** The read half of the 100 TB rewrite story: all four pages columns
    * land in the chunk CATALOG via the zero-shuffle rewrite, then the
    * whole table reconstructs through
    * [[EncodePipeline.decodeColumns]] — a chunk's four ChunkResults group
    * in ONE task (the only exchange moves compressed blobs) and zip back
    * into full rows over the shared key order, ZERO joins for column
    * reassembly. Fully DuckDB-oracled: every reconstructed row must match
    * the source byte-for-byte (url, text, html via md5, timestamp micros).
    */
  def pagesReadback(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("readback-q").toString
    val io = new fsstspark.io.ParquetTableIO(root)
    val pages = pagesFromDocs(s, dir)
    val specs = Seq(
      EncodePipeline.ColSpec("url", encode(col("url"), "UTF-8")),
      EncodePipeline.ColSpec("text", encode(col("text"), "UTF-8")),
      EncodePipeline.ColSpec("html", col("html")),
      EncodePipeline.ColSpec("warc_ts", unix_micros(col("warc_ts")), isLong = true))
    timedFixture("pages_readback") {
      io.writeChunks(
        EncodePipeline.encodeColumnsLocal(pages, col("url"), specs, 256L << 10), "pages")
    }
    EncodePipeline.decodeColumns(io.readChunks(s, "pages"), Seq(
        EncodePipeline.ReadSpec("url"), EncodePipeline.ReadSpec("text"),
        EncodePipeline.ReadSpec("html"), EncodePipeline.ReadSpec("warc_ts", isLong = true)))
      .select(decode(col("url"), "UTF-8").as("url"),
        (decode(col("url"), "UTF-8") === col("key")).as("url_matches_key"),
        decode(col("text"), "UTF-8").as("text"),
        md5(col("html")).as("html_md5"),
        col("warc_ts").as("ts_us"))
      .orderBy("url") // compare-order only
  }

  /** Pages read back through the DataSource V2 connector
    * (`spark.read.format("fsst")`): same catalog as [[pagesReadback]],
    * but the read side is the plain Spark SQL surface — schema inferred
    * from the catalog (codec names are self-describing), byte columns
    * surfaced as strings via the `stringColumns` option, zero fsstspark
    * API calls after the write. Hash-matching the same oracle as
    * `pages_readback` pins the connector path byte-identical to the
    * typed [[EncodePipeline.decodeColumns]] path.
    */
  def dsv2Readback(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("dsv2-readback-q").toString
    val io = new fsstspark.io.ParquetTableIO(root)
    val pages = pagesFromDocs(s, dir)
    val specs = Seq(
      EncodePipeline.ColSpec("url", encode(col("url"), "UTF-8")),
      EncodePipeline.ColSpec("text", encode(col("text"), "UTF-8")),
      EncodePipeline.ColSpec("html", col("html")),
      EncodePipeline.ColSpec("warc_ts", unix_micros(col("warc_ts")), isLong = true))
    timedFixture("dsv2_readback") {
      io.writeChunks(
        EncodePipeline.encodeColumnsLocal(pages, col("url"), specs, 256L << 10), "pages")
    }
    s.read.format("fsst").option("root", root).option("table", "pages")
      .option("stringColumns", "url,text").load()
      .select(col("url"),
        (col("url") === col("key")).as("url_matches_key"),
        col("text"),
        md5(col("html")).as("html_md5"),
        col("warc_ts").as("ts_us"))
      .orderBy("url") // compare-order only
  }

  /** Zone-map pushdown through the DataSource V2 connector: the same
    * ts-bucket catalog as [[qZonePruning]], but both the pruning decision
    * and the data path run through `spark.read.format("fsst")` — the
    * range predicate is pushed into the scan, chunks prune at MANIFEST
    * level inside the connector's planner, and the planned chunk/row
    * counts are reproduced exactly in DuckDB from the bucket arithmetic
    * (so a connector that stopped pruning, or pruned a live chunk, fails
    * the hash compare).
    */
  def dsv2Pushdown(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("dsv2-pushdown-q").toString
    val io = new fsstspark.io.ParquetTableIO(root)
    val W = 21600000000L // 6 h in micros — same buckets as q_zone_pruning
    val ev = s.read.parquet(s"$dir/events.parquet")
      .select(unix_micros(col("ts").cast("timestamp")).as("t"), col("event_id"))
    val kv = ev.select(
        concat(lpad(col("t").cast("string"), 20, "0"), lit("#"),
          col("event_id").cast("string")).as("key"),
        col("t").as("value")).as[LongKV]
    val chunk = expr(s"cast(substring(key, 1, 20) as bigint) div $W")
    timedFixture("dsv2_pushdown") {
      io.writeChunks(EncodePipeline.encodeLongs(kv, "ts", chunk), "events")
    }
    val r = ev.agg(min("t"), max("t")).head()
    val (mn, mx) = (r.getLong(0), r.getLong(1))
    val lo = mn + (mx - mn) * 40 / 100 // pure long arithmetic (see qZonePruning)
    val hi = mn + (mx - mn) * 45 / 100
    val total = io.manifest(s, "events").filter(col("column") === "ts").count()
    // the PRODUCTION read path: Spark must push the range filter into the
    // connector itself — chunks_read/rows_decoded come from the planned
    // scan's own partitions, so a broken pushFilters wiring (filters never
    // reaching the source) breaks the hash compare, not just performance
    val filtered = s.read.format("fsst").option("root", root).option("table", "events").load()
      .filter(col("ts").between(lo, hi))
    val scanExec = filtered.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.headOption.getOrElse(throw new IllegalStateException(
      "dsv2_pushdown: no BatchScanExec in the physical plan"))
    val parts = scanExec.inputPartitions.collect {
      case p: fsstspark.sources.ChunkGroupPartition => p
    }
    val chunksRead = parts.map(_.chunkIds.length.toLong).sum
    val rowsDecoded = parts.map(_.nRows.sum).sum
    filtered
      .agg(count(lit(1)).as("n_match"), min("ts").as("min_t_match"),
        max("ts").as("max_t_match"))
      .select(lit(total).as("chunks_total"), lit(chunksRead).as("chunks_read"),
        lit(rowsDecoded).as("rows_decoded"), col("n_match"),
        col("min_t_match"), col("max_t_match"))
  }

  /** Whole-value equality pushdown through the connector's READER:
    * the lang predicate reaches [[fsstspark.codec.BytesCodec.selectEquals]]
    * inside the scan — dict-codec chunks answer membership from their
    * dictionary (a miss skips the chunk with nothing decoded; a hit
    * emits only matching rows, and the filtered column itself is never
    * decoded since a matched value IS the target). Result fully
    * DuckDB-oracled against `documents`.
    */
  def dsv2EqPushdown(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("dsv2-eq-q").toString
    val io = new fsstspark.io.ParquetTableIO(root)
    val docs = documents(s, dir).select(
      lpad(col("doc_id").cast("string"), 8, "0").as("k"),
      col("text"), col("lang"))
    timedFixture("dsv2_eq_pushdown") {
      io.writeChunks(EncodePipeline.encodeColumnsLocal(docs, col("k"), Seq(
        EncodePipeline.ColSpec("text", encode(col("text"), "UTF-8")),
        EncodePipeline.ColSpec("lang", encode(col("lang"), "UTF-8"))), 64L << 10), "docs")
    }
    val target = docs.agg(min("lang")).head().getString(0)
    s.read.format("fsst").option("root", root).option("table", "docs")
      .option("stringColumns", "text,lang").load()
      .filter(col("lang") === target)
      .agg(count(lit(1)).as("n_rows"),
        sum(octet_length(encode(col("text"), "UTF-8"))).as("text_bytes"),
        min("key").as("min_key"), max("key").as("max_key"))
      .withColumn("lang", lit(target))
  }

  /** The SQL-catalog surface end-to-end: the chunk catalog registers as
    * a Spark `TableCatalog` ([[fsstspark.sources.FsstCatalog]]), and the
    * query runs PURE SQL — name resolution, pushdown-capable scans, and
    * snapshot time travel via `VERSION AS OF` (batch ids). Two commits
    * land; the query reads snapshot 1 and the current table through
    * `spark.sql` only, fully DuckDB-oracled from the commit-membership
    * predicates.
    */
  def dsv2SqlCatalog(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("dsv2-cat-q").toString
    val io = new fsstspark.io.ParquetTableIO(root)
    def part(pred: Column) = documents(s, dir).filter(pred).select(
      lpad(col("doc_id").cast("string"), 8, "0").as("k"), col("text"))
    val specs = Seq(EncodePipeline.ColSpec("text", encode(col("text"), "UTF-8")))
    timedFixture("dsv2_sql_catalog") {
      io.writeChunks(EncodePipeline.encodeColumnsLocal(
        part(col("doc_id") % 2 === 0), col("k"), specs, 128L << 10), "docs")
      io.writeChunks(EncodePipeline.encodeColumnsLocal(
        part(col("doc_id") % 2 =!= 0), col("k"), specs, 128L << 10), "docs")
    }
    // catalog name unique per invocation: Spark's CatalogManager caches
    // the instance per name, so a reused name would pin the FIRST run's
    // temp root for the whole session
    val cat = s"fsst_qcat_${math.abs(root.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", "fsstspark.sources.FsstCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    val batches = io.committedBatchIds(s, "docs").sorted
    val snap1 = s.sql(
      s"""SELECT CAST(1 AS BIGINT) AS snap, count(*) AS n_rows,
          sum(octet_length(text)) AS total_bytes
          FROM $cat.docs VERSION AS OF '${batches(0)}'""")
    val current = s.sql(
      s"""SELECT CAST(2 AS BIGINT) AS snap, count(*) AS n_rows,
         sum(octet_length(text)) AS total_bytes FROM $cat.docs""")
    snap1.unionAll(current).orderBy("snap")
  }

  /** The DSv2 WRITE path end-to-end through pure SQL: half the documents
    * land via the library pipeline, the other half via
    * `INSERT INTO <catalog>.<table>` (per-task local encode, parquet
    * chunk files written by executors, marker-protocol commit), and the
    * combined table is audited through the same SQL surface — fully
    * DuckDB-oracled against `documents`.
    */
  def dsv2SqlInsert(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("dsv2-insert-q").toString
    val io = new fsstspark.io.ParquetTableIO(root)
    def part(pred: Column) = documents(s, dir).filter(pred).select(
      lpad(col("doc_id").cast("string"), 8, "0").as("k"),
      encode(col("text"), "UTF-8").as("text"))
    timedFixture("dsv2_sql_insert") {
      io.writeChunks(EncodePipeline.encodeColumnsLocal(
        part(col("doc_id") % 2 === 0), col("k"),
        Seq(EncodePipeline.ColSpec("text", col("text"))), 128L << 10), "docs")
    }
    // unique per invocation — Spark caches catalog instances by name
    val cat = s"fsst_wq_${math.abs(root.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", "fsstspark.sources.FsstCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    part(col("doc_id") % 2 =!= 0).withColumnRenamed("k", "key")
      .createOrReplaceTempView("fsst_insert_src")
    s.sql(s"INSERT INTO $cat.docs SELECT key, text FROM fsst_insert_src")
    s.sql(s"""SELECT count(*) AS n_rows, count(DISTINCT key) AS n_keys,
             sum(octet_length(text)) AS total_bytes FROM $cat.docs""")
  }

  /** The SQL DDL lifecycle end-to-end: CREATE TABLE declares the schema
    * (sidecar — the empty table resolves and strings stay strings),
    * INSERT bootstraps it through the write path, and CTAS derives a
    * second table from the first, all via `spark.sql`. Both tables'
    * audits reproduce in DuckDB from `documents`.
    */
  def dsv2SqlDdl(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("dsv2-ddl-q").toString
    val cat = s"fsst_ddlq_${math.abs(root.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", "fsstspark.sources.FsstCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.sql(s"CREATE TABLE $cat.docs (key STRING, text STRING, n BIGINT) USING fsst")
    documents(s, dir).select(
        lpad(col("doc_id").cast("string"), 8, "0").as("key"),
        col("text"), col("n_chars").as("n"))
      .createOrReplaceTempView("fsst_ddl_src")
    s.sql(s"INSERT INTO $cat.docs SELECT * FROM fsst_ddl_src")
    s.sql(s"CREATE TABLE $cat.big USING fsst AS " +
      s"SELECT key, n FROM $cat.docs WHERE n > 500")
    s.sql(
      s"""SELECT 'big' AS t, count(*) AS n_rows, sum(n) AS agg FROM $cat.big
          UNION ALL
          SELECT 'docs' AS t, count(*) AS n_rows, sum(octet_length(encode(text, 'UTF-8'))) AS agg
          FROM $cat.docs
          ORDER BY t""")
  }

  /** Chunk-aligned `DELETE FROM` through SQL: the table is chunked on a
    * SQL-expressible boundary (125 docs per chunk), so a key-range
    * DELETE that lands exactly on a chunk edge is a pure METADATA
    * operation (a snapshot-gated tombstone batch, no data rewritten) —
    * and the surviving table reproduces in DuckDB from the same
    * boundary predicate.
    */
  def dsv2SqlDelete(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("dsv2-delete-q").toString
    val io = new fsstspark.io.ParquetTableIO(root)
    val docs = documents(s, dir).select(
      col("doc_id"),
      lpad(col("doc_id").cast("string"), 8, "0").as("k"),
      encode(col("text"), "UTF-8").as("text"))
    timedFixture("dsv2_sql_delete") {
      io.writeChunks(EncodePipeline.encodeColumns(docs, col("k"),
        col("doc_id") / lit(125), // integer division via cast in encodeColumns
        Seq(EncodePipeline.ColSpec("text", col("text")))), "docs")
    }
    val cat = s"fsst_delq_${math.abs(root.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", "fsstspark.sources.FsstCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    val cut = f"${124}%08d" // end of chunk 0 (docs 0..124)
    s.sql(s"DELETE FROM $cat.docs WHERE key <= '$cut'")
    s.sql(s"""SELECT count(*) AS n_rows, min(key) AS min_key,
              sum(octet_length(text)) AS text_bytes FROM $cat.docs""")
  }

  /** Streaming read of the catalog through the connector
    * (`spark.readStream.format("fsst")`): two appends land in the chunk
    * catalog, one Trigger.AvailableNow run drains the commit log into a
    * parquet sink (offset = committed batch watermark), and the sink is
    * audited — every page delivered exactly once with its timestamp
    * intact, fully DuckDB-oracled against `documents`.
    */
  def dsv2Streaming(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val root = java.nio.file.Files.createTempDirectory("dsv2-stream-q").toString
    val io = new fsstspark.io.ParquetTableIO(root)
    val pages = pagesFromDocs(s, dir)
    val specs = Seq(
      EncodePipeline.ColSpec("text", encode(col("text"), "UTF-8")),
      EncodePipeline.ColSpec("warc_ts", unix_micros(col("warc_ts")), isLong = true))
    // two commits: the stream must deliver BOTH batches' rows exactly once
    timedFixture("dsv2_streaming") {
      io.writeChunks(EncodePipeline.encodeColumnsLocal(
        pages.filter(col("doc_id") % 2 === 0), col("url"), specs, 128L << 10), "pages")
      io.writeChunks(EncodePipeline.encodeColumnsLocal(
        pages.filter(col("doc_id") % 2 =!= 0), col("url"), specs, 128L << 10), "pages")
    }
    val out = s"$root/stream-out"
    val q = s.readStream.format("fsst")
      .option("root", root).option("table", "pages").option("stringColumns", "text").load()
      .select("key", "text", "warc_ts")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", s"$root/stream-ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(300000)
    s.read.parquet(out).agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("key")).as("n_keys"),
      sum("warc_ts").as("sum_ts_us"),
      sum(octet_length(encode(col("text"), "UTF-8"))).as("text_bytes"))
  }

  /** Multimodal plumbing over the pages' binary html column: batched
    * feature extraction (deterministic fake decoder — see
    * [[fsstspark.textops.Multimodal]]) summarized per media type.
    */
  def multimodalFeatures(s: SparkSession, dir: String): DataFrame = {
    val pages = pagesFromDocs(s, dir)
    // media_type/n_items/total_bytes are DuckDB-oracled (the batched
    // per-partition plumbing must deliver every payload byte); the decode
    // seam itself (widths, features) is covered by ScalaTest — the real
    // decoder is an honest stub, no media libs ship in this container.
    fsstspark.textops.Multimodal.extractFeatures(pages, "url", "html", "image")
      .groupBy("media_type")
      .agg(count(lit(1)).as("n_items"), sum("n_bytes").as("total_bytes"))
      .orderBy("media_type")
  }

  /** Streaming ingest front end: pages land as files, each micro-batch is
    * encoded via the local pipeline into the checkpoint table
    * (exactly-once at chunk granularity). Summarized per (column, codec).
    */
  def streamingIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("stream-q").toString
    pagesFromDocs(s, dir).coalesce(2)
      .write.mode("overwrite").parquet(s"$root/src")
    val schema = s.read.parquet(s"$root/src").schema
    val q = fsstspark.streaming.StreamingEncode.start(s, s"$root/src", schema,
      "url", "text", "text", s"$root/chunks", s"$root/state", targetChunkBytes = 64L << 10)
    q.awaitTermination()
    val chunks = Checkpoint.read(s, s"$root/chunks")
    val dec = EncodePipeline.decodeBytes(chunks)
    val orig = pagesFromDocs(s, dir)
      .select(col("url").as("key"), encode(col("text"), "UTF-8").as("value")).as[KV]
    // rows/bytes/mismatch are DuckDB-oracled against `documents` (the
    // stream source is the deterministic docs-derived pages table);
    // chunk/codec granularity stays in ScalaTest — file batching is not
    // SQL-expressible.
    EncodePipeline.verify(orig, dec)
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("matched"), 0L).otherwise(1L)).as("n_mismatch"))
      .crossJoin(chunks.agg(sum("bytes_in").as("bytes_in"), sum("n_rows").as("n_chunk_rows")))
      .select(col("n_rows"), col("n_chunk_rows"), col("bytes_in"), col("n_mismatch"))
  }

  /** The 100 TB point-read path: chunks land in the Iceberg-shaped
    * catalog ([[fsstspark.io.ParquetTableIO]]: partitioned data files +
    * manifest), and a key lookup prunes at the MANIFEST level (min/max
    * key ranges) so only the chunks that can contain the key are read and
    * decoded — never the whole table. DuckDB-oracled: decoded text must
    * equal the source rows byte-for-byte.
    */
  def qPointLookup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("tableio-q").toString
    val io = new fsstspark.io.ParquetTableIO(root)
    // zero-padded keys make string min/max ranges order-consistent
    val kv = documents(s, dir)
      .select(lpad(col("doc_id").cast("string"), 8, "0").as("key"),
        encode(col("text"), "UTF-8").as("value")).as[KV]
    timedFixture("q_point_lookup") {
      io.writeChunks(EncodePipeline.encodeBytesLocal(kv, "text", 32L << 10), "docs")
    }
    val hits = Seq(7L, 23L, 41L).map { k =>
      val key = f"$k%08d"
      EncodePipeline.decodeBytes(io.chunksForKey(s, "docs", key))
        .filter(col("key") === key)
    }.reduce(_ unionByName _)
    hits.select(col("key").cast("long").as("doc_id"),
      decode(col("value"), "UTF-8").as("text")).orderBy("doc_id")
  }

  /** Catalog compaction end-to-end (Iceberg `rewrite_data_files` shape):
    * build a deliberately fragmented catalog (8 KB chunks — the streaming
    * micro-batch accretion pattern), compact to 128 KB with tombstone
    * deletes, and verify the table reads back bit-identical with strictly
    * fewer chunks. Rows and the zero-mismatch invariant are DuckDB-oracled;
    * chunk counts are layout-dependent and surfaced as a boolean.
    */
  def catalogCompaction(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("compact-q").toString
    val io = new fsstspark.io.ParquetTableIO(root)
    val kv = documents(s, dir)
      .select(lpad(col("doc_id").cast("string"), 8, "0").as("key"),
        encode(col("text"), "UTF-8").as("value")).as[KV]
    timedFixture("catalog_compaction") {
      io.writeChunks(EncodePipeline.encodeBytesLocal(kv, "text", 8L << 10), "docs")
    }
    val before = io.readChunks(s, "docs").count()
    val res = fsstspark.pipeline.Compaction.compactColumn(
      s, io, "docs", "text", minChunkBytes = 1L << 20, targetChunkBytes = 128L << 10)
    val after = io.readChunks(s, "docs").count()
    // physical reclamation: every pre-compaction file is fully tombstoned,
    // so vacuum must delete files while reads stay bit-identical
    val nDeleted = io.vacuum(s, "docs")
    EncodePipeline.verify(kv, EncodePipeline.decodeBytes(io.readChunks(s, "docs")))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("matched"), 0L).otherwise(1L)).as("n_mismatch"))
      .select(col("n_rows"), col("n_mismatch"),
        lit(after < before && res.chunksCompacted == before).as("compacted_ok"),
        lit(nDeleted > 0).as("vacuumed_ok"))
  }

  /** Zone-map chunk skipping end-to-end (Iceberg column-stats pruning):
    * cluster events into 6-hour ts buckets (chunk id = bucket, derived
    * from the key so it is SQL-expressible), encode `ts` into the catalog,
    * then answer a 5%-of-span range query reading ONLY the chunks whose
    * manifest `value_min`/`value_max` zone intersects the range. The
    * pruning arithmetic itself is oracled: chunks_total / chunks_read /
    * rows_decoded reproduce in DuckDB from the same bucket function, so a
    * zone map that silently widened (no pruning) or narrowed (lost rows)
    * both fail the hash compare.
    */
  def qZonePruning(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("zonemap-q").toString
    val io = new fsstspark.io.ParquetTableIO(root)
    val W = 21600000000L // 6 h in micros; ~120 buckets over the 30-day span
    val ev = s.read.parquet(s"$dir/events.parquet")
      .select(unix_micros(col("ts").cast("timestamp")).as("t"), col("event_id"))
    // key embeds the zero-padded ts so chunk id (= the ts bucket) stays a
    // pure function of the key, as the encode contract requires
    val kv = ev.select(
        concat(lpad(col("t").cast("string"), 20, "0"), lit("#"),
          col("event_id").cast("string")).as("key"),
        col("t").as("value")).as[LongKV]
    val chunk = expr(s"cast(substring(key, 1, 20) as bigint) div $W")
    timedFixture("q_zone_pruning") {
      io.writeChunks(EncodePipeline.encodeLongs(kv, "ts", chunk), "events")
    }
    val r = ev.agg(min("t"), max("t")).head()
    val (mn, mx) = (r.getLong(0), r.getLong(1))
    // 40%..45% of span in PURE LONG arithmetic — a double product here
    // ((mx-mn)*0.40) can round across an integer boundary differently
    // than DuckDB's exact DECIMAL multiply and flip a boundary row; the
    // span is ~2.6e12 µs so *45 is nowhere near Long overflow
    val lo = mn + (mx - mn) * 40 / 100
    val hi = mn + (mx - mn) * 45 / 100
    val total = io.manifest(s, "events").filter(col("column") === "ts").count()
    val pruned = io.chunksForValueRange(s, "events", "ts", lo, hi)
    val stats = pruned.agg(count(lit(1)).as("chunks_read"),
      sum("n_rows").as("rows_decoded"))
    val matched = EncodePipeline.decodeLongs(pruned)
      .filter(col("value").between(lo, hi))
      .agg(count(lit(1)).as("n_match"), min("value").as("min_t_match"),
        max("value").as("max_t_match"))
    stats.crossJoin(matched) // two 1-row aggregates
      .select(lit(total).as("chunks_total"), col("chunks_read"),
        col("rows_decoded"), col("n_match"), col("min_t_match"),
        col("max_t_match"))
  }

  /** Snapshot time travel over the chunk catalog: two appends, then a
    * snapshot-gated delete of half of batch 1's chunks; the query decodes
    * the table AS OF each snapshot. Every decoded byte reproduces in
    * DuckDB from the batch/ delete membership predicates, so a snapshot
    * that leaked a later batch, missed one, or applied the delete too
    * early all fail the hash compare; n_snapshots pins the delete itself
    * appearing as a snapshot.
    */
  def catalogTimeTravel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("timetravel-q").toString
    val io = new fsstspark.io.ParquetTableIO(root)
    def kvOf(pred: Column) = documents(s, dir).filter(pred)
      .select(lpad(col("doc_id").cast("string"), 8, "0").as("key"),
        encode(col("text"), "UTF-8").as("value")).as[KV]
    val docId = col("key").cast("long")
    // batch 1: even ids → chunks 0..15; batch 2: odd ids → chunks 16..31
    val (snap1, snap2) = timedFixture("catalog_time_travel") {
      io.writeChunks(EncodePipeline.encodeBytes(
        kvOf(col("doc_id") % 2 === 0), "text", pmod(docId, lit(16L))), "docs")
      val s1 = io.committedBatchIds(s, "docs").max
      io.writeChunks(EncodePipeline.encodeBytes(
        kvOf(col("doc_id") % 2 === 1), "text", pmod(docId, lit(16L)) + lit(16L)), "docs")
      val s2 = io.committedBatchIds(s, "docs").max
      io.removeChunks(s, "docs",
        s.range(0, 8).select(col("id").as("chunk_id"), lit("text").as("column")))
      (s1, s2)
    }
    val nSnaps = io.snapshots(s, "docs").count() // 2 appends + 1 delete
    def stateOf(ds: org.apache.spark.sql.Dataset[ChunkResult], snap: Long) =
      EncodePipeline.decodeBytes(ds)
        .agg(count(lit(1)).as("n_rows"), sum(octet_length(col("value"))).as("total_bytes"))
        .select(lit(snap).as("snap"), col("n_rows"), col("total_bytes"),
          lit(nSnaps).as("n_snapshots"))
    stateOf(io.readChunksAsOf(s, "docs", snap1), 1L)
      .unionByName(stateOf(io.readChunksAsOf(s, "docs", snap2), 2L))
      .unionByName(stateOf(io.readChunks(s, "docs"), 3L))
      .orderBy("snap")
  }

  def textQuality(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("total_chars"),
        sum(length(col("text")) - length(regexp_replace(col("text"), "[.!?]", ""))).as("n_sentence_punct"),
        sum(length(col("text")) - length(regexp_replace(col("text"), "\\s", ""))).as("n_whitespace"))
      .orderBy("lang")

  /** Row-level `DELETE FROM` through SQL — the group-based
    * COPY-ON-WRITE operation ([[fsstspark.sources.FsstRowLevelOperation]],
    * the one UPDATE uses): a VALUE predicate can never be chunk-aligned,
    * so the chunks a probe matched decode, drop their matching rows,
    * re-encode, and commit with the victims' tombstones under one marker.
    * The audit reads the survivors AND time-travels to the pre-delete
    * snapshot; every number reproduces in DuckDB from `documents`.
    */
  def dsv2SqlDeleteRows(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("dsv2-rowdel-q").toString
    val io = new fsstspark.io.ParquetTableIO(root)
    val docs = documents(s, dir).select(
      lpad(col("doc_id").cast("string"), 8, "0").as("k"),
      encode(col("text"), "UTF-8").as("text"),
      col("n_chars").as("n"))
    timedFixture("dsv2_sql_delete_rows") {
      io.writeChunks(EncodePipeline.encodeColumnsLocal(docs, col("k"), Seq(
        EncodePipeline.ColSpec("text", col("text")),
        EncodePipeline.ColSpec("n", col("n"), isLong = true)), 64L << 10), "docs")
    }
    val cat = s"fsst_rdq_${math.abs(root.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", "fsstspark.sources.FsstCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    val pre = io.committedBatchIds(s, "docs").sorted.last
    s.sql(s"DELETE FROM $cat.docs WHERE n >= 400 AND n < 700")
    s.sql(s"""SELECT
      (SELECT count(*) FROM $cat.docs) AS n_live,
      (SELECT sum(n) FROM $cat.docs) AS sum_n,
      (SELECT sum(octet_length(text)) FROM $cat.docs) AS text_bytes,
      (SELECT count(*) FROM $cat.docs WHERE n >= 400 AND n < 700) AS n_leftover,
      (SELECT count(*) FROM $cat.docs VERSION AS OF '$pre') AS n_before""")
  }

  /** SQL `UPDATE` through the GROUP-BASED copy-on-write operation
    * ([[fsstspark.sources.FsstRowLevelOperation]]): the affected chunks
    * are pruned via the manifest, decoded whole, Catalyst applies the
    * SET expressions to matching rows (non-matching rows of the same
    * chunk pass through bit-identical), and the rewrite commits adds +
    * victim tombstones under ONE marker. The audit reads the updated
    * table and time-travels to the pre-update snapshot; every number
    * reproduces in DuckDB as a CASE projection over `documents`.
    */
  def dsv2SqlUpdate(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("dsv2-upd-q").toString
    val io = new fsstspark.io.ParquetTableIO(root)
    val docs = documents(s, dir).select(
      lpad(col("doc_id").cast("string"), 8, "0").as("k"),
      encode(col("text"), "UTF-8").as("text"),
      col("n_chars").as("n"))
    timedFixture("dsv2_sql_update") {
      io.writeChunks(EncodePipeline.encodeColumnsLocal(docs, col("k"), Seq(
        EncodePipeline.ColSpec("text", col("text")),
        EncodePipeline.ColSpec("n", col("n"), isLong = true)), 64L << 10), "docs")
    }
    val cat = s"fsst_updq_${math.abs(root.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", "fsstspark.sources.FsstCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    val pre = io.committedBatchIds(s, "docs").sorted.last
    s.sql(s"""UPDATE $cat.docs
              SET n = n * 10, text = concat(text, encode('!', 'UTF-8'))
              WHERE n >= 400 AND n < 700""")
    s.sql(s"""SELECT
      (SELECT count(*) FROM $cat.docs) AS n_live,
      (SELECT sum(n) FROM $cat.docs) AS sum_n,
      (SELECT sum(octet_length(text)) FROM $cat.docs) AS text_bytes,
      (SELECT count(*) FROM $cat.docs WHERE n >= 4000 AND n < 7000 AND n % 10 = 0) AS n_updated,
      (SELECT sum(n) FROM $cat.docs VERSION AS OF '$pre') AS sum_n_before""")
  }

  /** `MERGE INTO` through the same group-based rewrite — all three
    * actions in one statement over one snapshot: matched rows with
    * n >= 500 DELETE, other matched rows UPDATE (n + 1000), unmatched
    * source rows INSERT under fresh `N…` keys. DuckDB reproduces the
    * final state as a UNION of the three row populations.
    */
  def dsv2SqlMerge(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("dsv2-mrg-q").toString
    val io = new fsstspark.io.ParquetTableIO(root)
    val docs = documents(s, dir).select(
      lpad(col("doc_id").cast("string"), 8, "0").as("k"),
      col("n_chars").as("n"))
    timedFixture("dsv2_sql_merge") {
      io.writeChunks(EncodePipeline.encodeColumnsLocal(docs, col("k"), Seq(
        EncodePipeline.ColSpec("n", col("n"), isLong = true)), 16L << 10), "docs")
    }
    val cat = s"fsst_mrgq_${math.abs(root.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", "fsstspark.sources.FsstCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    // source: every doc with n > 350 (matches its target row) plus an
    // unmatched N-prefixed row for every doc with n <= 200 — thresholds
    // sit inside the synthetic n_chars range (~[?,560]) so all THREE
    // merge actions fire at every SF (n >= 500 deletes, 350 < n < 500
    // updates, n <= 200 inserts)
    docs.filter(col("n") > 350).select(col("k"), col("n"))
      .union(docs.filter(col("n") <= 200).select(concat(lit("N"), col("k")).as("k"), col("n")))
      .createOrReplaceTempView("fsst_merge_src")
    s.sql(s"""MERGE INTO $cat.docs t USING fsst_merge_src s ON t.key = s.k
              WHEN MATCHED AND s.n >= 500 THEN DELETE
              WHEN MATCHED THEN UPDATE SET n = t.n + 1000
              WHEN NOT MATCHED THEN INSERT (key, n) VALUES (s.k, s.n)""")
    s.sql(s"""SELECT count(*) AS n_rows, sum(n) AS sum_n, min(key) AS min_key,
              max(key) AS max_key,
              sum(CASE WHEN key LIKE 'N%' THEN 1 ELSE 0 END) AS n_inserted
              FROM $cat.docs""")
  }

  /** `ALTER TABLE ADD COLUMN` end-to-end: batch 1 predates the column
    * (its rows read NULL), batch 2 carries it physically; counts, the
    * null split, and the sums reproduce in DuckDB from the even/odd
    * doc_id membership.
    */
  def dsv2SqlAlter(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("dsv2-alter-q").toString
    val cat = s"fsst_altq_${math.abs(root.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", "fsstspark.sources.FsstCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.sql(s"CREATE TABLE $cat.docs (key STRING, text STRING) USING fsst")
    val src = documents(s, dir).select(
      col("doc_id"),
      lpad(col("doc_id").cast("string"), 8, "0").as("key"),
      col("text"), col("n_chars").as("n"))
    src.filter(col("doc_id") % 2 === 0).createOrReplaceTempView("fsst_alter_src_a")
    s.sql(s"INSERT INTO $cat.docs SELECT key, text FROM fsst_alter_src_a")
    s.sql(s"ALTER TABLE $cat.docs ADD COLUMN n BIGINT")
    src.filter(col("doc_id") % 2 =!= 0).createOrReplaceTempView("fsst_alter_src_b")
    s.sql(s"INSERT INTO $cat.docs SELECT key, text, n FROM fsst_alter_src_b")
    s.sql(s"""SELECT count(*) AS n_rows, count(n) AS n_with_n, sum(n) AS sum_n,
              sum(octet_length(encode(text, 'UTF-8'))) AS text_bytes,
              min(key) AS min_key FROM $cat.docs""")
  }

  /** `ALTER TABLE DROP COLUMN`: the column leaves the schema and its
    * data is tombstone-purged (metadata-only; vacuum reclaims the
    * files); pre-drop batches keep answering; re-ADDing the name is
    * SAFE — the purged values can never resurface, so rows from before
    * the re-ADD read NULL while new INSERTs carry it. Audited against
    * `documents`: text is dropped after the even half lands, re-added,
    * and the odd half lands with it — count(text) must see ONLY the odd
    * half.
    */
  def dsv2SqlDrop(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("dsv2-drop-q").toString
    val cat = s"fsst_dropq_${math.abs(root.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", "fsstspark.sources.FsstCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    timedFixture("dsv2_sql_drop") {
      s.sql(s"CREATE TABLE $cat.docs (key STRING, text STRING, n BIGINT) USING fsst")
      val src = documents(s, dir).select(
        col("doc_id"),
        lpad(col("doc_id").cast("string"), 8, "0").as("key"),
        col("text"), col("n_chars").as("n"))
      src.filter(col("doc_id") % 2 === 0).createOrReplaceTempView("fsst_drop_src_a")
      s.sql(s"INSERT INTO $cat.docs SELECT key, text, n FROM fsst_drop_src_a")
      src.filter(col("doc_id") % 2 =!= 0).createOrReplaceTempView("fsst_drop_src_b")
    }
    s.sql(s"ALTER TABLE $cat.docs DROP COLUMN text")
    s.sql(s"ALTER TABLE $cat.docs ADD COLUMN text STRING")
    s.sql(s"INSERT INTO $cat.docs SELECT key, n, text FROM fsst_drop_src_b")
    s.sql(s"""SELECT count(*) AS n_rows, count(text) AS n_text,
              sum(octet_length(encode(text, 'UTF-8'))) AS text_bytes, sum(n) AS sum_n,
              min(key) AS min_key, max(key) AS max_key FROM $cat.docs""")
  }

  /** `INSERT OVERWRITE` as ONE snapshot: the full-table overwrite
    * tombstones the old chunks gated on the same batch the new rows
    * commit in, so time travel to the pre-overwrite snapshot still
    * reads the original table. Audited against `documents`.
    */
  def dsv2Overwrite(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("dsv2-ovw-q").toString
    val io = new fsstspark.io.ParquetTableIO(root)
    val cat = s"fsst_ovwq_${math.abs(root.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", "fsstspark.sources.FsstCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    val pre = timedFixture("dsv2_overwrite") {
      s.sql(s"CREATE TABLE $cat.docs (key STRING, n BIGINT) USING fsst")
      documents(s, dir).select(
          lpad(col("doc_id").cast("string"), 8, "0").as("key"),
          col("n_chars").as("n"))
        .createOrReplaceTempView("fsst_ovw_src")
      s.sql(s"INSERT INTO $cat.docs SELECT key, n FROM fsst_ovw_src")
      io.committedBatchIds(s, "docs").sorted.last
    }
    s.sql(s"INSERT OVERWRITE $cat.docs SELECT key, n * 2 AS n FROM fsst_ovw_src WHERE n > 500")
    s.sql(s"""SELECT count(*) AS n_rows, sum(n) AS sum_n, min(key) AS min_key,
              (SELECT count(*) FROM $cat.docs VERSION AS OF '$pre') AS n_before
              FROM $cat.docs""")
  }

  /** Key-RANGE (`>`,`<`) pruning through the PRODUCTION connector scan:
    * the table is chunked on a SQL-expressible boundary (125 docs per
    * chunk, tight key ranges), the range filter pushes into the source,
    * and chunks_read/rows_decoded come from the executed
    * BatchScanExec's own partitions — the bucket-intersection
    * arithmetic reproduces exactly in DuckDB.
    */
  def qKeyRangePushdown(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("keyrange-q").toString
    val io = new fsstspark.io.ParquetTableIO(root)
    val docs = documents(s, dir).select(
      col("doc_id"),
      lpad(col("doc_id").cast("string"), 8, "0").as("k"),
      encode(col("text"), "UTF-8").as("text"))
    timedFixture("q_key_range_pushdown") {
      io.writeChunks(EncodePipeline.encodeColumns(docs, col("k"),
        col("doc_id") / lit(125), Seq(EncodePipeline.ColSpec("text", col("text")))), "docs")
    }
    val n = documents(s, dir).count()
    val lo = f"${n * 30 / 100}%08d"
    val hi = f"${n * 40 / 100}%08d"
    val total = io.manifest(s, "docs").filter(col("column") === "text").count()
    val filtered = s.read.format("fsst").option("root", root).option("table", "docs").load()
      .filter(col("key") > lo && col("key") < hi)
    val scanExec = filtered.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.headOption.getOrElse(throw new IllegalStateException(
      "q_key_range: no BatchScanExec in the physical plan"))
    val parts = scanExec.inputPartitions.collect {
      case p: fsstspark.sources.ChunkGroupPartition => p
    }
    val chunksRead = parts.map(_.chunkIds.length.toLong).sum
    val rowsDecoded = parts.map(_.nRows.sum).sum
    filtered
      .agg(count(lit(1)).as("n_match"), min("key").as("min_key_match"),
        max("key").as("max_key_match"), sum(octet_length(col("text"))).as("text_bytes"))
      .select(lit(total).as("chunks_total"), lit(chunksRead).as("chunks_read"),
        lit(rowsDecoded).as("rows_decoded"), col("n_match"),
        col("min_key_match"), col("max_key_match"), col("text_bytes"))
  }

  /** The Iceberg-style metadata tables as a DISTRIBUTED scan:
    * ``docs$chunks`` reads the manifest parquet files on executors (one
    * partition per file) and ``docs$snapshots`` lists the commit log;
    * with SQL-expressible chunking (250 docs per chunk) every stat
    * reproduces in DuckDB.
    */
  def dsv2MetaTables(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("dsv2-meta-q").toString
    val io = new fsstspark.io.ParquetTableIO(root)
    val docs = documents(s, dir).select(
      col("doc_id"),
      lpad(col("doc_id").cast("string"), 8, "0").as("k"),
      encode(col("text"), "UTF-8").as("text"))
    timedFixture("dsv2_meta_tables") {
      io.writeChunks(EncodePipeline.encodeColumns(docs, col("k"),
        col("doc_id") / lit(250), Seq(EncodePipeline.ColSpec("text", col("text")))), "docs")
    }
    val cat = s"fsst_metq_${math.abs(root.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", "fsstspark.sources.FsstCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.sql(s"""SELECT count(*) AS n_chunk_rows, sum(n_rows) AS sum_rows,
              min(min_key) AS first_key, max(max_key) AS last_key,
              (SELECT count(*) FROM $cat.`docs$$snapshots`) AS n_snapshots
              FROM $cat.`docs$$chunks`""")
  }
}
