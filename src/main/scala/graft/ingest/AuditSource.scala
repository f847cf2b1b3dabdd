package graft.ingest

import java.time.LocalDate
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration
import org.slf4j.LoggerFactory
import graft.sources.AuditMicroBatchStream

/** One dated partition of the audit source: the day and its directory. */
final case class DayPartition(day: LocalDate, path: String)

/** Source side of the pipeline: dated child directories of a root, each
  * holding opaque binary files (audit_data_ingest.py:129-150).
  *
  * The reference shells out to `hdfs dfs -ls -C` and filters dir names in
  * Python (:134-148). Here the listing is a single `FileSystem.listStatus`
  * RPC on the driver (works for file://, hdfs://, s3a:// alike), and each
  * day's files are listed there too ([[listFiles]]); the data itself is
  * read by executors straight from the source ([[readFile]]) — the
  * reference's whole-day copyToLocal staging step (:153-166) is dropped by
  * design.
  */
object AuditSource {
  private val log = LoggerFactory.getLogger(getClass)

  /** Test-visible count of day-listing RPCs (IngestStreamSpec pins the
    * per-scan listing cost); never used for control flow.
    */
  val listDayCalls = new java.util.concurrent.atomic.AtomicLong(0)

  /** List dated child dirs, skipping non-dated names with a warning
    * (audit_data_ingest.py:30-32), sorted ascending so commit order is
    * chronological (the reference silently relies on `hdfs -ls` sort
    * order, :144-150 — we sort explicitly).
    */
  def listDays(spark: SparkSession, srcDir: String): Seq[DayPartition] = {
    listDayCalls.incrementAndGet()
    val p = new Path(srcDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) throw new java.io.FileNotFoundException(s"Source dir not found: $srcDir")
    fs.listStatus(p)
      .iterator
      .filter(_.isDirectory)
      .flatMap { st =>
        val name = st.getPath.getName
        Watermark.parseDay(name) match {
          case Some(day) => Some(DayPartition(day, st.getPath.toString))
          case None =>
            log.warn(s"Skipping non-dated directory: ${st.getPath}")
            None
        }
      }
      .toSeq
      .sortBy(_.day)
  }

  /** Days strictly after the watermark (strict `>`, audit_data_ingest.py:33). */
  def pendingDays(spark: SparkSession, srcDir: String, watermark: Option[LocalDate]): Seq[DayPartition] =
    listDays(spark, srcDir).filter(d => Watermark.isPending(d.day, watermark))

  /** Every regular file under `dir`, recursively, as `(path, length)` —
    * zero-length and `_`/`.`-prefixed names included, like the
    * reference's `os.walk` (audit_data_ingest.py:83). One
    * `FileSystem.listStatus` RPC per directory; the one listing rule of
    * every ingest mode.
    */
  def listFiles(conf: Configuration, dir: String): Seq[(String, Long)] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    def walk(p: Path): Iterator[(String, Long)] = fs.listStatus(p).iterator.flatMap { st =>
      if (st.isDirectory) walk(st.getPath)
      else if (st.isFile) Iterator.single((st.getPath.toString, st.getLen))
      else Iterator.empty
    }
    walk(root).toVector
  }

  /** The files of `days` as `(path, length, epochDay)` — the shape
    * [[graft.sources.AuditMicroBatchStream.binPack]] packs.
    */
  def listFiles(conf: Configuration, days: Seq[DayPartition]): Seq[(String, Long, Int)] =
    days.flatMap { dp =>
      val epochDay = dp.day.toEpochDay.toInt
      listFiles(conf, dp.path).map { case (path, len) => (path, len, epochDay) }
    }

  /** Read one listed file whole (the reference reads whole files too,
    * audit_data_ingest.py:118). Fails loudly past the JVM array limit or
    * when the file shrank since it was listed, rather than truncating.
    */
  def readFile(conf: Configuration, pathStr: String, len: Long): Array[Byte] = {
    require(len <= Int.MaxValue, s"$pathStr is $len bytes — exceeds the 2 GiB single-row limit")
    val path = new Path(pathStr)
    val buf = new Array[Byte](len.toInt)
    val in = path.getFileSystem(conf).open(path)
    try {
      var off = 0
      while (off < buf.length) {
        val n = in.read(buf, off, buf.length - off)
        if (n < 0) throw new java.io.EOFException(s"$pathStr truncated at $off/${buf.length}")
        off += n
      }
    } finally in.close()
    buf
  }

  /** Listed files bin-packed by bytes into at most `defaultParallelism`
    * partitions; the driver ships `(path, length, epochDay)` only.
    */
  def parallelize(sc: SparkContext, files: Seq[(String, Long, Int)]): RDD[(String, Long, Int)] = {
    val n = sc.defaultParallelism
    val cap = math.max(1L, (files.iterator.map(_._2).sum + n - 1) / n)
    val bins = AuditMicroBatchStream.binPack(files, cap)
    sc.parallelize(bins.toSeq, math.max(1, math.min(n, bins.length))).flatMap(identity)
  }

  /** One day's files as a DataFrame of `(path string, content binary)`,
    * over the same listing and reader as the ingest modes.
    */
  def readDay(spark: SparkSession, dayDir: String): DataFrame = {
    val sc = spark.sparkContext
    val conf = new SerializableConfiguration(sc.hadoopConfiguration)
    val files = listFiles(sc.hadoopConfiguration, dayDir).map { case (path, len) => (path, len, 0) }
    val rows = parallelize(sc, files).map { case (path, len, _) => Row(path, readFile(conf.value, path, len)) }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("content", BinaryType, nullable = false)
    )))
  }
}
