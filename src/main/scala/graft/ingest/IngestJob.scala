package graft.ingest

import java.time.LocalDate
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.util.SerializableConfiguration
import org.slf4j.LoggerFactory
import scala.collection.mutable

/** Engine config — the reference's 11 CLI args minus the ones Spark makes
  * obsolete (tmp dir, process count; audit_data_ingest.py:236-285).
  *
  * @param srcDir        root of dated day directories
  * @param storeFactory  sink object store (S3 in prod, local dir in tests)
  * @param s3Prefix      object key prefix; concatenated to the day WITHOUT
  *                      an inserted separator, exactly like the reference
  *                      (`f"{s3_prefix}{day}/{basename}"`, :173) — callers
  *                      must end it with `/` if they want one
  * @param masterKeyId   value of the `datakeyencryptionkeyid` metadata key
  * @param publicKeyB64  b64 X.509 RSA public key (static-config default;
  *                      see `keyProvider` for the rotating-fetch seam)
  * @param progressFile  watermark file path
  * @param aesMode       payload cipher: [[Envelope.AesMode.Gcm]] (hardened
  *                      default) or [[Envelope.AesMode.Eax]] (byte-level
  *                      reference parity, audit_data_ingest.py:115,120)
  * @param putRetries    max attempts per store operation — the reference's
  *                      boto3 `max_attempts` (:190-197, default 10 at :262)
  * @param keyProvider   when set, overrides `publicKeyB64`: consulted once
  *                      per day on the driver (the reference's per-day SSM
  *                      fetch, :78), enabling key rotation between days
  */
final case class IngestConfig(
    srcDir: String,
    storeFactory: ObjectStoreFactory,
    s3Prefix: String,
    masterKeyId: String,
    publicKeyB64: String,
    progressFile: String,
    aesMode: Envelope.AesMode = Envelope.AesMode.Gcm,
    putRetries: Int = 3,
    keyProvider: Option[KeyProvider] = None
) {

  /** Wrapping key for the next day-batch: provider fetch if configured
    * (the reference's once-per-day hoist), else the static config key.
    */
  def wrappingKeyB64(): String = keyProvider.map(_.wrappingKeyB64()).getOrElse(publicKeyB64)
}

/** Outcome for one file; days commit only when no file failed. */
final case class FileResult(path: String, key: String, ok: Boolean, error: String)

/** Per-day outcome: executor-side aggregated counts plus a bounded sample
  * of failures (first [[IngestJob.MaxFailureSamples]] per task) — at 10⁹
  * files/day the driver sees one tiny row per task, never one per file.
  */
final case class DayResult(day: LocalDate, filesOk: Long, filesFailed: Long, failureSamples: Seq[FileResult]) {
  def ok: Boolean = filesFailed == 0L
}

final case class IngestSummary(days: Seq[DayResult]) {
  def filesOk: Long = days.map(_.filesOk).sum
}

/** The pipeline: scan dated dirs -> prune days <= watermark -> per day:
  * map(compress ∘ envelope-encrypt) -> sink objects+metadata -> commit
  * watermark (audit_data_ingest.py:36-68 re-expressed as Spark jobs).
  *
  * Faithfulness notes:
  *  - Days run strictly sequentially, oldest first; the watermark advances
  *    only after a fully-successful day, otherwise the run aborts (:50-68).
  *    => at-least-once: a half-failed day is re-run whole; re-encryption
  *    uses a fresh key+nonce so bytes differ between attempts, same as the
  *    reference (SURVEY.md §2.3).
  *  - Per-file failure isolation: one bad file fails its day but every
  *    sibling is still attempted (:96-104) — the map wraps each file in
  *    try/catch and counts it; nothing short-circuits. Exception:
  *    [[TransientCredentialsException]] aborts the task (and the run) so
  *    [[IngestCli]] can exit clean for the scheduler to retry (:303-308).
  *  - Key layout `{prefix}{day}/{relpath}.gz.enc` (:117,173) where relpath
  *    is the file's path relative to the day directory — for the flat
  *    layout the reference uses this IS the basename; for nested inputs it
  *    keeps the sub-path, so two files with the same basename in different
  *    subdirectories can never silently overwrite each other.
  *  - Store operations run through [[RetryingObjectStore]] (`putRetries`
  *    attempts, capped exponential backoff) — the reference's boto3
  *    standard retry mode (:190-197).
  *
  * Scale notes (100 TB posture): no driver-side staging or collect of
  * content — the driver lists each day once (path and length only) and
  * ships that listing, bin-packed by bytes, as ONE RDD job per day; the
  * executors read and upload the files from `mapPartitions`, and only
  * ONE aggregated status row per task comes back (counts + a bounded
  * failure sample), so the gather is O(#tasks) regardless of file count.
  * No DataFrame, file-source scan or Catalyst plan is built per day, and
  * there is no shuffle anywhere.
  */
object IngestJob {
  private val log = LoggerFactory.getLogger(getClass)

  /** Max failure rows reported per task (and overall per day). */
  val MaxFailureSamples = 20

  /** One day's upload outcome: (ok count, failed count, failure sample). */
  private type Tally = (Long, Long, Seq[FileResult])

  def run(spark: SparkSession, cfg: IngestConfig): IngestSummary = {
    val watermark = Watermark.read(cfg.progressFile)
    val days = AuditSource.pendingDays(spark, cfg.srcDir, watermark)
    log.info(s"Watermark=$watermark; ${days.size} pending day(s)")
    val results = days.map { dp =>
      log.info(s"Processing day ${dp.day} at ${dp.path}")
      val dayResult = processDay(spark, cfg, dp)
      if (dayResult.ok) {
        Watermark.commit(cfg.progressFile, dp.day)
      } else {
        val failed = dayResult.failureSamples.map(f => s"${f.path}: ${f.error}").mkString("; ")
        throw new RuntimeException(
          s"Failed to process day ${dp.day} (${dayResult.filesFailed} file(s) failed): $failed"
        )
      }
      dayResult
    }
    IngestSummary(results)
  }

  /** Whole-backlog variant: EVERY pending day in ONE Spark job, with the
    * watermark still committed in day order. The reference's loop
    * (audit_data_ingest.py:50-68) schedules one job per day; with a long
    * backlog of small days that pays per-job scheduling overhead per day
    * and caps parallelism at one day's bytes. Here the files of all
    * pending days are listed on the driver and packed into one job,
    * statuses aggregate executor-side PER DAY (one tiny
    * `(day, counts, samples)` row per task×day), and the driver then walks
    * days oldest-first committing the watermark for each clean day until
    * the first dirty one, which aborts the run exactly like the loop.
    * Driver state is the listing of every pending day, so a multi-year
    * backlog should be chunked by the caller into bounded runs, which the
    * day-ordered watermark makes safe.
    *
    * Documented divergences from the sequential loop, both safe under
    * at-least-once:
    *  - files of days AFTER a failed day have already been uploaded; the
    *    watermark never advances past the failure, so a re-run re-puts
    *    them (idempotent by key, fresh encryption bytes — the same
    *    visibility model as partially-uploaded days, which object stores
    *    already expose);
    *  - the wrapping key is fetched once per RUN, not once per day, so
    *    key rotation granularity in backlog mode is the run.
    */
  def runBacklog(spark: SparkSession, cfg: IngestConfig): IngestSummary = {
    val watermark = Watermark.read(cfg.progressFile)
    val days = AuditSource.pendingDays(spark, cfg.srcDir, watermark)
    log.info(s"Watermark=$watermark; ${days.size} pending day(s) in one backlog job")
    val perDay = uploadDays(spark, cfg, days)
    val results = mutable.ArrayBuffer[DayResult]()
    for (dp <- days) {
      val dayResult = dayResultOf(perDay, dp)
      results += dayResult
      if (dayResult.ok) {
        Watermark.commit(cfg.progressFile, dp.day)
      } else {
        val detail = dayResult.failureSamples.map(f => s"${f.path}: ${f.error}").mkString("; ")
        throw new RuntimeException(
          s"Failed to process day ${dp.day} (${dayResult.filesFailed} file(s) failed): $detail " +
            "(watermark held at the last clean day; later days re-run on retry)"
        )
      }
    }
    IngestSummary(results.toSeq)
  }

  /** Path of `filePath` relative to the (normalized) day directory; falls
    * back to the basename if the prefix does not match (foreign URI form).
    */
  private[ingest] def relativePath(dayDirNorm: String, filePath: String): String = {
    val norm = new Path(filePath).toUri.getPath
    if (norm.startsWith(dayDirNorm + "/")) norm.substring(dayDirNorm.length + 1)
    else norm.substring(norm.lastIndexOf('/') + 1)
  }

  /** Alternative sink path: the same per-day transform written through the
    * DataSource V2 `graft-objects` writer ([[graft.sources.ObjectStoreSinkProvider]]).
    * Differences vs [[processDay]]: a failing file fails its TASK (Spark
    * retries it, then fails the day) instead of being gathered into a
    * status report — all-or-nothing per day still holds, but the
    * best-effort-attempt-every-sibling reporting of the reference
    * (:96-104) is traded for the declarative writer. Only local-dir
    * stores are supported (the provider constructs the store from the
    * `root` option).
    */
  def processDayV2(spark: SparkSession, cfg: IngestConfig, dp: DayPartition): Unit = {
    import spark.implicits._
    val dayStr = dp.day.toString
    val prefix = cfg.s3Prefix
    val keyId = cfg.masterKeyId
    val pubB64 = cfg.wrappingKeyB64()
    val mode = cfg.aesMode
    val dayDirNorm = new Path(dp.path).toUri.getPath
    AuditSource
      .readDay(spark, dp.path)
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        val pubKey = Envelope.publicKeyFromBase64(pubB64)
        it.map { case (path, content) =>
          val rel = relativePath(dayDirNorm, path)
          val obj = Envelope.encrypt(Zlib.compress(content), pubKey, keyId, mode)
          (s"$prefix$dayStr/$rel.gz.enc", obj.ciphertext, obj.metadata)
        }
      }
      .toDF("key", "data", "metadata")
      .write
      .format("graft-objects")
      .options(graft.sources.StoreOptions.optionsFor(cfg.storeFactory))
      .mode("append")
      .save()
  }

  /** One day = one Spark job; every file attempted, statuses aggregated
    * executor-side (ok/failed counts + first-N failure samples per task).
    */
  def processDay(spark: SparkSession, cfg: IngestConfig, dp: DayPartition): DayResult =
    dayResultOf(uploadDays(spark, cfg, Seq(dp)), dp)

  private def dayResultOf(perDay: Map[String, Tally], dp: DayPartition): DayResult = {
    val (ok, failed, samples) = perDay.getOrElse(dp.day.toString, (0L, 0L, Nil))
    DayResult(dp.day, filesOk = ok, filesFailed = failed, failureSamples = samples)
  }

  /** Upload every file of `days` in ONE `parallelize(...).mapPartitions`
    * job over the driver's listing ([[AuditSource.listFiles]]), bin-packed
    * by bytes ([[AuditSource.parallelize]]). Each file is read inside the
    * kernel's per-file `try`, so a file that vanished since the listing
    * fails its day, not its task. Days with no files run no job.
    */
  private def uploadDays(spark: SparkSession, cfg: IngestConfig, days: Seq[DayPartition]): Map[String, Tally] = {
    val sc = spark.sparkContext
    val files = AuditSource.listFiles(sc.hadoopConfiguration, days)
    if (files.isEmpty) return Map.empty
    val conf = new SerializableConfiguration(sc.hadoopConfiguration)
    val kernel = uploadKernel(cfg, days.map(dp => dp.day.toString -> new Path(dp.path).toUri.getPath).toMap)
    val perTask = AuditSource.parallelize(sc, files).mapPartitions { it =>
      kernel(it.map { case (path, len, epochDay) =>
        (path, LocalDate.ofEpochDay(epochDay).toString, () => AuditSource.readFile(conf.value, path, len))
      })
    }
    mergeDays(perTask.collect())
  }

  /** The kernel over streamed `(path, content, dayStr)` rows — the
    * `--streaming` and Kafka sinks ([[IngestStream]]).
    *
    * @param dayDirNormFor maps a day string to the normalized directory
    *        prefix stripped from file paths when forming object keys
    * @return (okCount, failedCount, bounded failure samples, max day seen)
    */
  private[ingest] def uploadFiles(
      files: Dataset[(String, Array[Byte], String)],
      cfg: IngestConfig,
      dayDirNormFor: String => String
  ): (Long, Long, Seq[FileResult], Option[String]) = {
    import files.sparkSession.implicits._
    val kernel = uploadKernel(cfg, dayDirNormFor)
    val perDay = mergeDays(
      files.mapPartitions(it => kernel(it.map { case (path, content, day) => (path, day, () => content) })).collect()
    )
    val all = perDay.values
    (all.map(_._1).sum, all.map(_._2).sum, all.flatMap(_._3).toSeq.sortBy(_.path).take(MaxFailureSamples),
      perDay.keys.maxOption)
  }

  /** The ONE executor-side compress→envelope-encrypt→put loop, shared by
    * every ingest mode, as a per-partition function over
    * `(path, dayStr, content)`. Content is a thunk, forced inside the
    * per-file `try`: one bad file (unreadable, unencryptable, unputtable)
    * is counted and sampled while every sibling is still attempted
    * (:96-104); only [[TransientCredentialsException]] aborts the task
    * (and the run) so [[IngestCli]] can exit clean for the scheduler to
    * retry (:303-308). The wrapping key is fetched ONCE per call on the
    * driver (per day in the day loop — the reference's per-day SSM hoist,
    * :78), parsed once per task, with one store client per task.
    *
    * @return one `(day, ok, failed, failure samples)` row per day the
    *         partition touched
    */
  private def uploadKernel(
      cfg: IngestConfig,
      dayDirNormFor: String => String
  ): Iterator[(String, String, () => Array[Byte])] => Iterator[(String, Long, Long, Seq[FileResult])] = {
    val prefix = cfg.s3Prefix
    val keyId = cfg.masterKeyId
    val pubB64 = cfg.wrappingKeyB64()
    val mode = cfg.aesMode
    val factory: ObjectStoreFactory = RetryingObjectStoreFactory(cfg.storeFactory, cfg.putRetries)
    val maxSamples = MaxFailureSamples
    files => {
      val pubKey = Envelope.publicKeyFromBase64(pubB64)
      val store = factory.create()
      val acc = mutable.LinkedHashMap[String, (Array[Long], mutable.ArrayBuffer[FileResult])]()
      files.foreach { case (path, dayStr, content) =>
        val key = s"$prefix$dayStr/${relativePath(dayDirNormFor(dayStr), path)}.gz.enc"
        val (counts, samples) = acc.getOrElseUpdate(dayStr, (new Array[Long](2), mutable.ArrayBuffer()))
        try {
          val obj = Envelope.encrypt(Zlib.compress(content()), pubKey, keyId, mode)
          store.put(key, obj.ciphertext, obj.metadata)
          counts(0) += 1
        } catch {
          case e: TransientCredentialsException => throw e // abort run; CLI exits clean (ref :303-308)
          case e: Throwable =>
            counts(1) += 1
            if (samples.size < maxSamples) samples += FileResult(path, key, ok = false, error = e.toString)
        }
      }
      acc.iterator.map { case (day, (counts, samples)) => (day, counts(0), counts(1), samples.toSeq) }
    }
  }

  /** Driver-side merge of the kernel's per-task rows into one tally per
    * day; the gather is O(#tasks × #days-touched-per-task) tiny rows.
    */
  private def mergeDays(rows: Array[(String, Long, Long, Seq[FileResult])]): Map[String, Tally] =
    rows.groupBy(_._1).map { case (day, rs) =>
      day -> (rs.map(_._2).sum, rs.map(_._3).sum, rs.flatMap(_._4).toSeq.sortBy(_.path).take(MaxFailureSamples))
    }
}
