package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.slf4j.LoggerFactory

/** Streaming form of the ingest pipeline: the reference's scheduled
  * 12-hour incremental run (`/root/reference/ci/resources.yml:20-23`)
  * expressed as ONE Structured Streaming query over the custom
  * `graft-audit` DSv2 source ([[graft.sources.AuditStreamSourceProvider]])
  * instead of an external scheduler re-invoking a batch job.
  *
  * Shape: `readStream.format("graft-audit")` admits one pending day per
  * micro-batch (oldest first); `foreachBatch` runs the same executor-side
  * compress→envelope-encrypt→put kernel as the batch day-loop
  * ([[IngestJob.uploadFiles]]); `Trigger.AvailableNow` drains the backlog
  * then terminates. The checkpointed offset log IS the watermark — a
  * restart resumes from the last committed day — and each committed day is
  * mirrored into the reference-format progress file so batch and stream
  * stay interchangeable.
  *
  * Failure semantics match the reference's commit-or-abort day loop
  * (audit_data_ingest.py:50-68): any failed file in a day raises, the
  * micro-batch aborts, its offset is never committed, and the next run
  * re-processes the whole day (at-least-once, fresh key+nonce per
  * attempt).
  */
object IngestStream {
  private val log = LoggerFactory.getLogger(getClass)

  /** The streaming source DataFrame of `(path, content, day)`. */
  def source(spark: SparkSession, cfg: IngestConfig): DataFrame =
    spark.readStream
      .format("graft-audit")
      .option("srcDir", cfg.srcDir)
      .option("progressFile", cfg.progressFile)
      .load()

  /** Process one micro-batch (≈ one day): encrypt+upload every file, then
    * commit-or-abort. Defensive about multi-day batches (possible only if
    * a foreign ReadLimit coalesces days): files carry their own day, so
    * keys stay correct regardless.
    */
  private[ingest] def processBatch(cfg: IngestConfig, batch: DataFrame, batchId: Long): Unit = {
    import batch.sparkSession.implicits._
    val srcRootNorm = new org.apache.hadoop.fs.Path(cfg.srcDir).toUri.getPath
    val files = batch
      .select("path", "content", "day")
      .as[(String, Array[Byte], java.sql.Date)]
      .map { case (path, content, day) => (path, content, day.toLocalDate.toString) }
    val (ok, failed, samples, maxDay) = IngestJob.uploadFiles(files, cfg, dayStr => s"$srcRootNorm/$dayStr")
    if (failed > 0) {
      val detail = samples.map(f => s"${f.path}: ${f.error}").mkString("; ")
      throw new RuntimeException(s"Batch $batchId: $failed file(s) failed: $detail")
    }
    // Mirror the completed day into the reference-format progress file
    // HERE rather than only in the source's commit() callback: Spark
    // delivers source.commit(end) while constructing the NEXT batch, so
    // the final day of an AvailableNow drain would never reach the mirror.
    // Writing it just before the offset commit keeps at-least-once (a
    // crash in between re-runs the day; puts are idempotent by key).
    maxDay.foreach(d => Watermark.commit(cfg.progressFile, java.time.LocalDate.parse(d)))
    log.info(s"Batch $batchId committed: $ok file(s), watermark mirror -> $maxDay")
  }

  /** Run one `Trigger.AvailableNow` drain of the backlog: every pending
    * day in order, one micro-batch each, then terminate. Restart-safe via
    * `checkpointDir`; throws on a poisoned day (offset stays on the last
    * good day).
    */
  def runAvailableNow(spark: SparkSession, cfg: IngestConfig, checkpointDir: String): Unit = {
    val query = source(spark, cfg).writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((df: DataFrame, id: Long) => processBatch(cfg, df, id))
      .start()
    try {
      query.awaitTermination()
      reconcileMirror(spark, cfg, checkpointDir)
    } finally if (query.isActive) query.stop()
  }

  /** The north-star pipeline as ONE call: Kafka-wire-format source →
    * compress → envelope-encrypt → object store
    * ([[graft.sources.KafkaLogSourceProvider]] in,
    * the same executor-side loop as the day drain out). Differences from
    * the day-based drain, by design:
    *  - the CHECKPOINTED OFFSET MAP is the only watermark (Kafka
    *    semantics); the reference-format day progress file is not
    *    mirrored — records of many days interleave within one batch, so
    *    "last completed day" is not a meaningful commit point here;
    *  - object keys are `{prefix}{day}/{topic}-{partition}-{offset}.gz.enc`
    *    — day from the record's CreateTime, name from the record's
    *    coordinates, so replays after a crash re-put the SAME key
    *    (at-least-once into an idempotent sink, fresh ciphertext per
    *    attempt like the reference's re-run semantics).
    */
  def runKafkaAvailableNow(
      spark: SparkSession,
      cfg: IngestConfig,
      kafkaRoot: String,
      checkpointDir: String,
      maxRecordsPerTrigger: Option[Long] = None
  ): Unit = {
    val reader = spark.readStream.format("graft-kafkalog").option("root", kafkaRoot)
    val src = maxRecordsPerTrigger
      .fold(reader)(n => reader.option("maxRecordsPerTrigger", n.toString))
      .load()
    val query = src.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((df: DataFrame, id: Long) => processKafkaBatch(cfg, df, id))
      .start()
    try query.awaitTermination()
    finally if (query.isActive) query.stop()
  }

  private[ingest] def processKafkaBatch(cfg: IngestConfig, batch: DataFrame, batchId: Long): Unit = {
    import batch.sparkSession.implicits._
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions.{col, concat_ws, count, date_format, when}
    // Tombstones (null value — Kafka's delete marker for compacted
    // topics) carry no payload to ingest; dropping them here keeps
    // Zlib.compress from NPEing and the batch from wedging on retry. They
    // are counted by an observation on the upload pass itself, so the
    // batch is read once.
    val tombstones = Observation(s"kafka-tombstones-$batchId")
    val records = batch
      .observe(tombstones, count(when(col("value").isNull, 1)).as("n"))
      .where(col("value").isNotNull)
      .select(
        // no '/' in the synthesized name: uploadFiles keys on the last
        // path segment, and the record coordinates must survive whole
        concat_ws("-", col("topic"), col("partition"), col("offset")).as("path"),
        col("value").as("content"),
        date_format(col("timestamp"), "yyyy-MM-dd").as("day")
      )
      .as[(String, Array[Byte], String)]
    val (ok, failed, samples, _) = IngestJob.uploadFiles(records, cfg, _ => "")
    val skipped = tombstones.get("n").asInstanceOf[Long]
    if (skipped > 0)
      log.info(s"Kafka batch $batchId: skipped $skipped tombstone record(s) (null value)")
    if (failed > 0) {
      val detail = samples.map(f => s"${f.path}: ${f.error}").mkString("; ")
      throw new RuntimeException(s"Kafka batch $batchId: $failed record(s) failed: $detail")
    }
    log.info(s"Kafka batch $batchId committed: $ok record(s)")
  }

  /** Align the reference-format progress file with the checkpoint's LAST
    * COMMITTED end offset. The per-batch mirror in [[processBatch]] derives
    * the day from observed rows, so a trailing day directory with ZERO
    * files (a valid, admitted batch) never reaches it — leaving the mirror
    * behind the checkpoint and making a later batch-mode run re-list that
    * (empty) day. The committed end offset IS the admitted day, so after a
    * drain we read it back from the checkpoint: `commits/<maxBatchId>`
    * proves the batch completed; `offsets/<maxBatchId>`'s source line is
    * the [[graft.sources]] day offset (`{"day":"YYYY-MM-DD"}`). Mirror
    * only moves FORWARD — a replayed or stale checkpoint can never drag
    * the watermark back.
    */
  private[ingest] def reconcileMirror(spark: SparkSession, cfg: IngestConfig, checkpointDir: String): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    val commitsPath = new org.apache.hadoop.fs.Path(checkpointDir, "commits")
    val fs = commitsPath.getFileSystem(hc)
    if (!fs.exists(commitsPath)) return
    val lastBatch = fs
      .listStatus(commitsPath)
      .iterator
      .map(_.getPath.getName)
      .filter(_.forall(_.isDigit))
      .map(_.toLong)
      .foldLeft(-1L)(math.max)
    if (lastBatch < 0) return
    val offsetFile = new org.apache.hadoop.fs.Path(checkpointDir, s"offsets/$lastBatch")
    val in = fs.open(offsetFile)
    val content =
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    // Offset-log layout: "v1" \n metadata json \n one offset json per source.
    val dayLine = content.linesIterator.toSeq.drop(2).headOption
    for {
      line <- dayLine
      m <- """"day"\s*:\s*"(\d{4}-\d{2}-\d{2})"""".r.findFirstMatchIn(line)
      day = java.time.LocalDate.parse(m.group(1))
      if Watermark.read(cfg.progressFile).forall(_.isBefore(day))
    } {
      Watermark.commit(cfg.progressFile, day)
      log.info(s"Progress mirror reconciled to checkpoint end offset: $day")
    }
  }
}
