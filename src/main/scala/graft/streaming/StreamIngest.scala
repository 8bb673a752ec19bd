package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.sources.Upsert

/** Streaming ingest (SURVEY.md §2.10): the reference has no streaming
  * runtime — "streams" are periodic batch collections made idempotent by a
  * content-hash UNIQUE constraint (schema.sql:85,139; gate at
  * collect_signals.py:221-222,267-268). Two mappings are offered:
  *
  *  1. `dedupedForeachBatch` — EXACT parity: every micro-batch anti-joins
  *     the accumulated seen-hash set (Upsert.storeGate), then appends. This
  *     reproduces "duplicates dropped by hash forever", not windowed.
  *  2. `watermarkedDedup` — the native Structured Streaming shape:
  *     `dropDuplicates` on the hash with a long watermark on the ingest-time
  *     column. Approximate w.r.t. the reference (state is bounded by the
  *     watermark) but fully engine-managed — the 100 TB-friendly variant.
  *
  * Time semantics preserved from the reference: event time = published_at
  * (nullable), ingest time = collected_at (non-null default now) — windowed
  * reads key on collected_at BECAUSE published_at can be null
  * (hr_baselines.py:60-61).
  */
object StreamIngest {

  /** Add the reference's ingest metadata: content hash + collected_at. */
  def withIngestMeta(df: DataFrame, contentCols: Seq[String]): DataFrame =
    df.withColumn("content_hash", sha2(concat_ws("§", contentCols.map(col): _*), 256))
      .withColumn("collected_at", current_timestamp())

  /** Exact-parity idempotent sink: per micro-batch, drop rows whose hash is
    * already in the parquet store at `storePath` (cross-run state), dedup
    * within the batch deterministically, then append. */
  def dedupedForeachBatch(stream: DataFrame, storePath: String,
      checkpoint: String, orderCol: String): DataStreamWriter[Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val inBatch = Upsert.dedupInBatch(batch.toDF(), "content_hash",
          Seq(col(orderCol).asc))
        // the store's hash column is read with the batch's own field as
        // its schema: no inference job per micro-batch
        Upsert.storeGate(inBatch, storePath, batch.schema("content_hash"))
          .write.mode("append").parquet(storePath)
        ()
      }

  /** Bloom-gated variant of [[dedupedForeachBatch]] — the 100 TB shape of
    * exact cross-run idempotency. The plain gate re-scans the accumulated
    * store's hash column EVERY micro-batch, so per-batch cost grows with
    * corpus age; here a persisted Bloom filter (BloomFilterAgg bytes +
    * an 8-byte store-row-count stamp) screens the batch first:
    * filter-negative rows are DEFINITELY new (no false negatives) and skip
    * the store scan entirely, and only the positive slice — true dupes
    * plus the ~1e-3 FP tail — anti-joins the store. For a mostly-new
    * stream (the crawl/ingest norm) the per-batch store read drops from
    * O(corpus) to O(dupes + FP·batch).
    *
    * Crash safety: the STORE is the source of truth and the filter is a
    * derived accelerator. Batch commit order is append-store-then-write-
    * filter; the filter's stamp is the store row count it covers. A crash
    * between the two leaves stamp < store count, which the next batch
    * detects (parquet count() is a metadata read) and repairs by
    * rebuilding the filter from the store in one column scan — so a stale
    * filter can never cause a false "definitely new". The filter write
    * itself is tmp+rename (atomic on one filesystem). */
  def bloomGatedForeachBatch(stream: DataFrame, storePath: String,
      filterPath: String, checkpoint: String, orderCol: String,
      numBits: Int = 1 << 23, numHashes: Int = 5): DataStreamWriter[Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val spark = batch.sparkSession
        import org.apache.spark.sql.graft.BloomFunctions
        val hashField = batch.schema("content_hash")
        val inBatch = Upsert.dedupInBatch(batch.toDF(), "content_hash",
            Seq(col(orderCol).asc))
          .withColumn("_kh", xxhash64(col("content_hash")))
        // existence is a filesystem fact, not an exception pattern: a
        // transient READ failure on an existing store must fail the batch
        // (retried by the engine), never silently disable dedup
        val store =
          if (Upsert.pathExists(spark, storePath))
            Some(Upsert.storeHashes(spark, storePath, hashField))
          else None
        val (fresh, priorBits) = store match {
          case None => (inBatch, None) // first batch: nothing seen yet
          case Some(st) =>
            // loadOrRebuildFilter guarantees the returned bits match
            // (numBits, numHashes) and cover the current store count, so
            // the post-append OR below can never mix filter geometries
            val filter = loadOrRebuildFilter(
              spark, st, filterPath, numBits, numHashes)
            // broadcast the 1-row filter, not a per-task literal (the
            // lesson measured in q_bloom_dedup_gate: a lit() filter rides
            // in every task binary)
            val fdf = spark.createDataset(Seq(filter))(
              org.apache.spark.sql.Encoders.BINARY).toDF("_bloom_f")
            val probed = inBatch.crossJoin(broadcast(fdf))
              .withColumn("_maybe",
                BloomFunctions.bloomMightContain(col("_bloom_f"), col("_kh")))
              .drop("_bloom_f")
            val definitelyNew = probed.filter(!col("_maybe")).drop("_maybe")
            val verified = Upsert.storeGate(
              probed.filter(col("_maybe")).drop("_maybe"), storePath, hashField)
            (definitelyNew.unionByName(verified), Some(filter))
        }
        fresh.cache() // tiny (one micro-batch); consumed twice just below
        try {
          fresh.drop("_kh").write.mode("append").parquet(storePath)
          val addBits = fresh.agg(BloomFunctions
              .bloomBuild(col("_kh"), numBits, numHashes).as("f"))
            .head().getAs[Array[Byte]]("f")
          // same geometry by construction — plain bitwise OR
          val merged = priorBits match {
            case Some(p) =>
              val m = addBits.clone()
              var i = 8; while (i < m.length) { m(i) = (m(i) | p(i)).toByte; i += 1 }
              m
            case None => addBits
          }
          writeFilter(spark, filterPath, merged,
            Upsert.storeHashes(spark, storePath, hashField).count())
        } finally fresh.unpersist()
        ()
      }

  /** Read the persisted filter if it is well-formed (length, geometry
    * header) AND its stamp covers the store's current row count;
    * otherwise rebuild from the store (one hash-column scan). Truncated
    * or geometry-mismatched files fall through to the rebuild — never to
    * an exception, and never to trusting a filter whose bits don't cover
    * the store. */
  private[streaming] def loadOrRebuildFilter(spark: org.apache.spark.sql.SparkSession,
      store: DataFrame, filterPath: String,
      numBits: Int, numHashes: Int): Array[Byte] = {
    import org.apache.spark.sql.graft.{BloomBits, BloomFunctions}
    val storeCount = store.count() // parquet metadata read
    val expectedLen = 8 + (numBits >>> 3) + 8 // header + bits + stamp
    val cached = readFilterBytes(spark, filterPath) match {
      case Some(all) if all.length == expectedLen &&
          BloomBits.readIntLE(all, 0) == numBits &&
          BloomBits.readIntLE(all, 4) == numHashes =>
        val stamp = java.nio.ByteBuffer.wrap(all, all.length - 8, 8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
        if (stamp == storeCount) Some(java.util.Arrays.copyOf(all, all.length - 8))
        else None // stale (lost update / concurrent writer): rebuild
      case _ => None // missing, truncated, or different geometry: rebuild
    }
    cached.getOrElse {
      val rebuilt = store
        .select(xxhash64(col("content_hash")).as("_kh"))
        .agg(BloomFunctions.bloomBuild(col("_kh"), numBits, numHashes).as("f"))
        .head().getAs[Array[Byte]]("f")
      writeFilter(spark, filterPath, rebuilt, storeCount)
      rebuilt
    }
  }

  // -- filter persistence goes through Hadoop FileSystem like every other
  //    path in the pipeline, so the gate works on hdfs:// and s3a:// too,
  //    not only the driver's local disk

  private def hadoopFs(spark: org.apache.spark.sql.SparkSession,
      path: String): (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def readFilterBytes(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[Array[Byte]] = {
    val (fs, p) = hadoopFs(spark, path)
    if (!fs.exists(p)) None
    else {
      // the filter is DERIVED state: an unreadable file (truncation,
      // checksum mismatch after external corruption) must route to the
      // rebuild path, never fail the batch — unlike the STORE read above,
      // whose failures must propagate
      try {
        val in = fs.open(p)
        try {
          val len = fs.getFileStatus(p).getLen
          if (len > Int.MaxValue) None
          else {
            val buf = new Array[Byte](len.toInt)
            in.readFully(0, buf)
            Some(buf)
          }
        } finally in.close()
      } catch { case _: java.io.IOException => None }
    }
  }

  /** tmp + rename (atomic on HDFS/local; best-effort on object stores);
    * layout [bloom bytes][8B LE store-count stamp]. */
  private def writeFilter(spark: org.apache.spark.sql.SparkSession,
      filterPath: String, bits: Array[Byte], stamp: Long): Unit = {
    val out = java.nio.ByteBuffer.allocate(bits.length + 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put(bits).putLong(stamp)
    val (fs, target) = hadoopFs(spark, filterPath)
    val tmp = new org.apache.hadoop.fs.Path(filterPath + ".tmp")
    val os = fs.create(tmp, true)
    try os.write(out.array()) finally os.close()
    if (fs.exists(target)) fs.delete(target, false)
    if (!fs.rename(tmp, target)) {
      throw new java.io.IOException(s"rename $tmp -> $target failed")
    }
  }

  /** Stream-static enrichment: join each micro-batch against a broadcast
    * dimension frame (the reference hydrates company metadata per collected
    * signal — company_service.py joins on ticker). The static side is
    * re-resolved per micro-batch by Structured Streaming, so a refreshed
    * dim table is picked up without restarting the query; broadcast keeps
    * the stream side shuffle-free. */
  def enrich(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key), "left")

  /** Engine-managed variant: watermarked stream dedup on the content hash. */
  def watermarkedDedup(stream: DataFrame, watermark: String = "30 days"): DataFrame =
    stream.withWatermark("collected_at", watermark)
      .dropDuplicates("content_hash")

  /** Strictly state-bounded variant: `dropDuplicatesWithinWatermark`
    * guarantees dedup only for duplicates arriving within the watermark
    * delay of each other, and in exchange EVICTS hash state once the
    * watermark passes — the shape to run at 100 TB/day, where
    * `dropDuplicates` state (keyed on every hash ever seen inside the
    * watermark, compared by event time) grows without that bound. A hash
    * recurring after eviction is re-emitted; the exact-parity forever-dedup
    * is `dedupedForeachBatch`. */
  def boundedDedup(stream: DataFrame, watermark: String = "1 hour"): DataFrame =
    stream.withWatermark("collected_at", watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** 7-day tumbling per-(entity, window) signal summary
    * (signal_summaries.py:82-96 → window() on ingest time). Works on both
    * a static DataFrame and a stream (append mode after watermark). */
  def tumblingSummary(df: DataFrame, entityCol: String,
      tsCol: String = "collected_at", width: String = "7 days"): DataFrame =
    df.groupBy(col(entityCol), window(col(tsCol), width).as("w"))
      .agg(count(lit(1)).as("signal_count"),
        countDistinct("content_hash").as("distinct_signals"))
      .select(col(entityCol), col("w.start").as("window_start"),
        col("signal_count"), col("distinct_signals"))
}
