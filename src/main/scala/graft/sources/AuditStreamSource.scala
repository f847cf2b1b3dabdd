package graft.sources

import java.time.LocalDate
import java.util
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration
import org.slf4j.LoggerFactory
import graft.ingest.{AuditSource, Watermark}

/** DataSource V2 STREAMING source over the reference's dated-directory
  * audit drop (audit_data_ingest.py:129-150) — the pipeline's incremental
  * 12-hour loop (`/root/reference/ci/resources.yml:20-23`) re-expressed as
  * a native Structured Streaming source instead of an external scheduler
  * re-running a batch job.
  *
  * `spark.readStream.format("graft-audit").option("srcDir", dir).load()`
  * yields rows of `(path string, content binary, day date)`.
  *
  * Semantics, mapped onto streaming machinery:
  *  - **Offset = the watermark.** An offset is the last fully-committed
  *    day (`{"day":"YYYY-MM-DD"}` / `{"day":null}` for "nothing yet"), so
  *    Spark's checkpointed offset log IS the reference's progress file —
  *    restart resumes from the last committed day with no extra state.
  *  - **One micro-batch per day, oldest first** (admission control): each
  *    `latestOffset(start, limit)` admits exactly the next pending day, so
  *    a batch failure leaves the watermark on the last good day and the
  *    whole failed day re-runs — the reference's day-commit-or-abort loop
  *    (audit_data_ingest.py:50-68), at-least-once.
  *  - **Strict `>` pruning**: days at-or-before the start offset are never
  *    listed into a batch ([[Watermark.isPending]], ref :26-33).
  *  - **`Trigger.AvailableNow`**: [[SupportsTriggerAvailableNow]] pins the
  *    ceiling day at query start, so one invocation drains the backlog and
  *    terminates — the reference's scheduled-run shape.
  *  - An optional `progressFile` option mirrors each committed day into
  *    the reference-format watermark file ([[SparkDataStream.commit]]),
  *    keeping the batch day-loop and the stream interchangeable.
  *
  * 100 TB posture: the driver holds only day names and file metadata
  * (path, length) for the ONE day being admitted; content bytes are read
  * by executors straight from the source filesystem. Files are bin-packed
  * into input partitions by size (`maxPartitionBytes`, default 128 MiB) —
  * parallelism scales with day bytes, not file count. The listing and
  * the whole-file reader are the day loop's own ([[AuditSource.listFiles]],
  * [[AuditSource.readFile]]), so every mode lands the same files:
  * every regular file, zero-length and hidden names included.
  */
class AuditStreamSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-audit"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    AuditStreamSourceProvider.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]
  ): Table = new AuditStreamTable(new CaseInsensitiveStringMap(properties))
}

object AuditStreamSourceProvider {
  val schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("content", BinaryType, nullable = false),
    StructField("day", DateType, nullable = false)
  ))
}

private[sources] class AuditStreamTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  private val srcDir = {
    val d = options.get("srcdir")
    require(d != null && d.nonEmpty, "graft-audit source requires option 'srcDir'")
    d
  }

  override def name(): String = s"graft-audit($srcDir)"
  override def schema(): StructType = AuditStreamSourceProvider.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)

  override def newScanBuilder(scanOptions: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = AuditStreamSourceProvider.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new AuditMicroBatchStream(srcDir, options)
        // Batch form: ALL days after the watermark in one scan — the
        // manifest/analytics view of the same source
        // (`spark.read.format("graft-audit")`), sharing the streaming
        // reader's listing, bin-packing, and whole-file reader. ONE batch
        // per Scan: Spark's planner may call toBatch more than once while
        // building/cloning the physical plan, and each listing is a real
        // RPC against the source filesystem.
        private lazy val batch = new AuditBatchScan(srcDir, options)
        override def toBatch: Batch = batch
      }
    }
}

/** One-shot batch scan of every pending day (strict `>` the optional
  * `startDay`/`progressFile` watermark, like the stream's initial offset).
  */
private[sources] class AuditBatchScan(srcDir: String, options: CaseInsensitiveStringMap) extends Batch {
  // ONE stream per scan, ONE day-listing per plan (the previous shape
  // built a fresh stream per method call and listed the source three
  // times per scan; IngestStreamSpec pins the listing count now).
  private val stream = new AuditMicroBatchStream(srcDir, options)
  private lazy val planned: Array[InputPartition] = stream.planAllPending()

  override def planInputPartitions(): Array[InputPartition] = planned

  override def createReaderFactory(): PartitionReaderFactory = stream.createReaderFactory()
}

/** Offset: the last fully-committed day (None = nothing committed). */
private[sources] case class AuditDayOffset(day: Option[LocalDate]) extends Offset {
  override def json(): String = day match {
    case Some(d) => s"""{"day":"$d"}"""
    case None => """{"day":null}"""
  }
}

private[sources] object AuditDayOffset {
  private val DayPat = """\{\s*"day"\s*:\s*"(\d{4}-\d{2}-\d{2})"\s*\}""".r
  private val NullPat = """\{\s*"day"\s*:\s*null\s*\}""".r

  def fromJson(json: String): AuditDayOffset = json.trim match {
    case DayPat(d) => AuditDayOffset(Some(LocalDate.parse(d)))
    case NullPat() => AuditDayOffset(None)
    case other => throw new IllegalArgumentException(s"Corrupt graft-audit offset: '$other'")
  }
}

/** One input partition: a bin-packed batch of whole files from one batch's
  * day range. Files are never split — each is an opaque unit the transform
  * compresses/encrypts whole, like the reference's per-file loop.
  */
private[sources] case class AuditFilesPartition(files: Seq[(String, Long, Int)])
    extends InputPartition // (path, length, epochDay)

private[sources] class AuditMicroBatchStream(srcDir: String, options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  private val log = LoggerFactory.getLogger(getClass)
  private def spark = SparkSession.active

  private val progressFile = Option(options.get("progressfile")).filter(_.nonEmpty)
  private val startDay = Option(options.get("startday")).filter(_.nonEmpty).map(LocalDate.parse)
  private val maxPartitionBytes =
    Option(options.get("maxpartitionbytes")).map(_.toLong).getOrElse(128L * 1024 * 1024)

  /** Ceiling pinned by Trigger.AvailableNow at query start: the newest day
    * listed then; later-arriving days wait for the next run, exactly like
    * one scheduled run of the reference. `availableNowPinned` distinguishes
    * "prepare ran and listed NOTHING" (admit nothing — a day landing
    * mid-run must wait) from "not an AvailableNow run" (no bound): a bare
    * `Option` ceiling can't represent both as `None`.
    */
  @volatile private var availableNowCeiling: Option[LocalDate] = None
  @volatile private var availableNowPinned: Boolean = false

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowCeiling = AuditSource.listDays(spark, srcDir).lastOption.map(_.day)
    availableNowPinned = true
    log.info(s"AvailableNow ceiling pinned at $availableNowCeiling")
  }

  override def initialOffset(): Offset = {
    // Precedence: explicit startDay option, else the reference-format
    // progress file when present (batch-loop -> stream migration), else
    // everything is pending.
    val wm = startDay.orElse(progressFile.flatMap(Watermark.read))
    AuditDayOffset(wm)
  }

  override def deserializeOffset(json: String): Offset = AuditDayOffset.fromJson(json)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Admit exactly ONE day per micro-batch: the oldest pending day after
    * `start`, bounded by the AvailableNow ceiling. Returning `start`
    * unchanged signals "no new data".
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val wm = start.asInstanceOf[AuditDayOffset].day
    val all = AuditSource.pendingDays(spark, srcDir, wm)
    val pending =
      if (!availableNowPinned) all
      else availableNowCeiling match {
        case Some(c) => all.filter(d => !d.day.isAfter(c))
        case None => Nil // pinned on an empty source: nothing admitted this run
      }
    pending.headOption match {
      case Some(next) => AuditDayOffset(Some(next.day))
      case None => start
    }
  }

  override def latestOffset(): Offset =
    throw new IllegalStateException("latestOffset(Offset, ReadLimit) should be called instead")

  override def reportLatestOffset(): Offset =
    AuditDayOffset(AuditSource.listDays(spark, srcDir).lastOption.map(_.day))

  /** Plan the files of every day in (start, end] — normally exactly one
    * day — bin-packed into ~maxPartitionBytes partitions. Driver state is
    * O(#files-in-batch) metadata; bytes stay on the executors.
    */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val startWm = start.asInstanceOf[AuditDayOffset].day
    val endDay = end.asInstanceOf[AuditDayOffset].day.getOrElse(return Array.empty)
    val days = AuditSource
      .pendingDays(spark, srcDir, startWm)
      .filter(d => !d.day.isAfter(endDay))
    planDays(days, s"(${startWm.getOrElse("-")}, $endDay]")
  }

  /** Batch form ([[AuditBatchScan]]): EVERY pending day planned from one
    * day-listing — no separate initial/latest-offset listings.
    */
  private[sources] def planAllPending(): Array[InputPartition] = {
    val wm = initialOffset().asInstanceOf[AuditDayOffset].day
    planDays(AuditSource.pendingDays(spark, srcDir, wm), s"(${wm.getOrElse("-")}, *]")
  }

  private def planDays(days: Seq[graft.ingest.DayPartition], range: String): Array[InputPartition] = {
    val files = AuditSource.listFiles(spark.sparkContext.hadoopConfiguration, days)
    val bins = AuditMicroBatchStream.binPack(files, maxPartitionBytes)
    log.info(s"Batch $range: ${files.size} file(s) in ${bins.length} partition(s)")
    bins.map(b => AuditFilesPartition(b): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    AuditPartitionReaderFactory(new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))

  /** Batch committed (offsets durably in the checkpoint log): mirror the
    * day into the reference-format progress file so batch and streaming
    * runs stay interchangeable (audit_data_ingest.py:71-73).
    */
  override def commit(end: Offset): Unit =
    for {
      pf <- progressFile
      day <- end.asInstanceOf[AuditDayOffset].day
    } Watermark.commit(pf, day)

  override def stop(): Unit = ()
}

private[graft] object AuditMicroBatchStream {

  /** Best-fit-decreasing bin-packing by file size, O(n log bins) via a
    * remaining-capacity index — a first-fit linear scan over bins is
    * O(n x bins), which at a realistic 10⁶-files/128 MiB-bins day is
    * ~10¹² operations on the driver. Oversized files (> cap) get their
    * own bin; packing quality: one huge file never drags a long tail of
    * small ones into its task.
    */
  private[graft] def binPack(
      files: Seq[(String, Long, Int)],
      cap: Long
  ): Array[Seq[(String, Long, Int)]] = {
    val bins = scala.collection.mutable.ArrayBuffer[scala.collection.mutable.ArrayBuffer[(String, Long, Int)]]()
    val used = scala.collection.mutable.ArrayBuffer[Long]()
    // remaining capacity -> bin indices with exactly that much room
    val byRemaining = new java.util.TreeMap[java.lang.Long, java.util.ArrayDeque[Integer]]()
    def index(rem: Long, i: Int): Unit =
      if (rem > 0)
        byRemaining.computeIfAbsent(rem, _ => new java.util.ArrayDeque[Integer]()).add(i)
    files.sortBy(-_._2).foreach { f =>
      val fit = byRemaining.ceilingEntry(f._2) // smallest remaining >= size = best fit
      if (fit == null) {
        bins += scala.collection.mutable.ArrayBuffer(f)
        used += f._2
        index(cap - f._2, bins.size - 1)
      } else {
        val i: Int = fit.getValue.poll()
        if (fit.getValue.isEmpty) byRemaining.remove(fit.getKey)
        bins(i) += f
        used(i) += f._2
        index(cap - used(i), i)
      }
    }
    bins.map(_.toSeq).toArray
  }
}

private[sources] case class AuditPartitionReaderFactory(conf: SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new AuditFileReader(partition.asInstanceOf[AuditFilesPartition], conf)
}

/** Reads each whole file into one row ([[AuditSource.readFile]]); one
  * open stream at a time, constant memory beyond the current file's bytes.
  */
private[sources] class AuditFileReader(partition: AuditFilesPartition, conf: SerializableConfiguration)
    extends PartitionReader[InternalRow] {
  private val it = partition.files.iterator
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (!it.hasNext) return false
    val (pathStr, len, epochDay) = it.next()
    val buf = AuditSource.readFile(conf.value, pathStr, len)
    current = new GenericInternalRow(Array[Any](UTF8String.fromString(pathStr), buf, epochDay))
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
