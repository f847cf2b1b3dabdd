package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, length, sha2}

import graft.ingest.IngestReader

/** The read_back workload's program: `IngestReader.read` over a landed
  * store, writing one `key<TAB>sha256<TAB>length` line per decrypted row
  * so the benchmark can compare every row with its source.
  *
  * Usage: ReadBack <store root> <prefix> <private key file> <out tsv>
  * Spark master from `SPARK_MASTER`, as for the ingest CLI.
  */
object ReadBack {
  def main(args: Array[String]): Unit = {
    val Array(root, prefix, privFile, out) = args
    val priv = new String(Files.readAllBytes(Paths.get(privFile)), UTF_8).trim
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("perfbench-read-back")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try {
      Trace.emit("read_start", "time" -> System.currentTimeMillis())
      val rows = IngestReader
        .read(spark, root, prefix, priv)
        .select(col("key"), sha2(col("content"), 256), length(col("content")))
        .collect()
      Trace.emit("read_end", "time" -> System.currentTimeMillis())
      val lines = rows.map(r => s"${r.getString(0)}\t${r.getString(1)}\t${r.getInt(2)}")
      Files.write(Paths.get(out), lines.mkString("", "\n", if (lines.isEmpty) "" else "\n").getBytes(UTF_8))
    } finally spark.stop()
  }
}
