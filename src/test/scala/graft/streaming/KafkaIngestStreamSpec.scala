package graft.streaming

import graft.SparkSpec
import graft.ingest._
import graft.sources.KafkaLogFormat
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.util.Base64
import scala.jdk.CollectionConverters._

/** The literal north star as ONE library call: Kafka-wire-format source →
  * compress → envelope-encrypt → object-store sink
  * ([[IngestStream.runKafkaAvailableNow]]). Pins key layout, decrypt
  * round-trip, and offset-checkpoint resume (appended records only).
  */
class KafkaIngestStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private lazy val (pub, priv) = Envelope.generateKeyPair()

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  // CreateTime pinned inside 2021-07-15 UTC so the day partition is known
  private val dayMs = 1626332400000L
  private def rec(offset: Long, v: String) =
    KafkaLogFormat.Record(offset, dayMs + offset, null, v.getBytes("UTF-8"))

  private def cfgFor(out: java.nio.file.Path) = IngestConfig(
    srcDir = "/unused-for-kafka",
    storeFactory = LocalDirObjectStoreFactory(out.toString),
    s3Prefix = "audit/",
    masterKeyId = "test-hsm-key-id",
    publicKeyB64 = Base64.getEncoder.encodeToString(pub.getEncoded),
    progressFile = Files.createTempDirectory("kwm").resolve("progress.txt").toString
  )

  test("kafka drain: key layout, metadata, decrypt round-trip; restart puts only appended records") {
    val root = Files.createTempDirectory("kingest")
    val tp = new Path(root.resolve("audit-0").toString)
    fs.mkdirs(tp)
    KafkaLogFormat.writeSegment(fs, tp, (0L until 3L).map(o => rec(o, s"payload-$o")))
    val out = Files.createTempDirectory("kingest-out")
    val checkpoint = Files.createTempDirectory("kingest-ckpt").toString
    val cfg = cfgFor(out)

    IngestStream.runKafkaAvailableNow(spark, cfg, root.toString, checkpoint)

    val store = cfg.storeFactory.create()
    val keys = store.listKeys("audit/")
    assert(keys.toSet == (0 until 3).map(o => s"audit/2021-07-15/audit-0-$o.gz.enc").toSet)
    val md = store.getMetadata("audit/2021-07-15/audit-0-1.gz.enc")
    assert(md.keySet == Set("iv", "ciphertext", "datakeyencryptionkeyid"))
    val plain = Zlib.decompress(
      Envelope.decrypt(EncryptedObject(store.get("audit/2021-07-15/audit-0-1.gz.enc"), md), priv))
    assert(new String(plain, "UTF-8") == "payload-1")

    // two records land; the restart reads ONLY them (offset-map resume)
    KafkaLogFormat.writeSegment(fs, tp, (3L until 5L).map(o => rec(o, s"payload-$o")))
    IngestStream.runKafkaAvailableNow(spark, cfg, root.toString, checkpoint)
    assert(store.listKeys("audit/").size == 5)
    val p4 = Zlib.decompress(Envelope.decrypt(EncryptedObject(
      store.get("audit/2021-07-15/audit-0-4.gz.enc"),
      store.getMetadata("audit/2021-07-15/audit-0-4.gz.enc")), priv))
    assert(new String(p4, "UTF-8") == "payload-4")
  }

  test("tombstones land no key and are counted on the upload pass: one Spark job per micro-batch") {
    val root = Files.createTempDirectory("ktomb")
    val tps = Seq("audit-0", "audit-1")
    def isTombstone(o: Long) = o % 3 == 2
    for (tp <- tps) {
      val dir = new Path(root.resolve(tp).toString)
      fs.mkdirs(dir)
      KafkaLogFormat.writeSegment(fs, dir, (0L until 6L).map { o =>
        if (isTombstone(o)) KafkaLogFormat.Record(o, dayMs + o, null, value = null) else rec(o, s"$tp-payload-$o")
      })
    }
    val out = Files.createTempDirectory("ktomb-out")
    val checkpoint = Files.createTempDirectory("ktomb-ckpt").toString
    val cfg = cfgFor(out)

    val jobsByBatch = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val batch = Option(js.properties).map(_.getProperty("streaming.sql.batchId")).orNull
        jobsByBatch.merge(String.valueOf(batch), 1, (a, b) => a + b)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try IngestStream.runKafkaAvailableNow(spark, cfg, root.toString, checkpoint, maxRecordsPerTrigger = Some(4L))
    finally {
      Thread.sleep(2000) // let the async listener bus drain
      spark.sparkContext.removeSparkListener(listener)
    }

    val store = cfg.storeFactory.create()
    val live = for (tp <- tps; o <- 0L until 6L if !isTombstone(o)) yield (tp, o)
    assert(store.listKeys("audit/").toSet == live.map { case (tp, o) => s"audit/2021-07-15/$tp-$o.gz.enc" }.toSet)
    for ((tp, o) <- live) {
      val k = s"audit/2021-07-15/$tp-$o.gz.enc"
      val plain = Zlib.decompress(Envelope.decrypt(EncryptedObject(store.get(k), store.getMetadata(k)), priv))
      assert(new String(plain, "UTF-8") == s"$tp-payload-$o")
    }

    // the last committed batch's end offsets are the log end of both partitions
    val lastBatch = new java.io.File(checkpoint, "commits").list().filter(_.forall(_.isDigit)).map(_.toLong).max
    val offsetLog = new String(Files.readAllBytes(java.nio.file.Paths.get(checkpoint, "offsets", lastBatch.toString)))
    assert(offsetLog.linesIterator.drop(2).next().replaceAll("\\s", "") == """{"audit-0":6,"audit-1":6}""")

    val perBatch = jobsByBatch.asScala.map { case (b, n) => b -> n.intValue }.toMap
    assert(lastBatch >= 2, s"maxRecordsPerTrigger=4 over 12 records should take 3 batches, got ${lastBatch + 1}")
    assert(perBatch == (0L to lastBatch).map(b => b.toString -> 1).toMap, s"Spark jobs per micro-batch: $perBatch")
  }

  test("--kafka-root CLI flag requires --streaming") {
    val base = Array(
      "--src-dir", "/s", "--key-id", "k", "--progress-file", "/p.txt", "--out-root", "/o",
      "--public-key-file", {
        val f = Files.createTempFile("pub", ".key")
        Files.write(f, Base64.getEncoder.encodeToString(pub.getEncoded).getBytes)
        f.toString
      }
    )
    val Left(err) = IngestCli.parseArgs(base ++ Array("--kafka-root", "/k")): @unchecked
    assert(err.contains("--kafka-root requires --streaming"))
    val Right(parsed) = IngestCli.parseArgs(
      base ++ Array("--kafka-root", "/k", "--streaming", "/ckpt")): @unchecked
    assert(parsed.kafkaRoot.contains("/k") && parsed.streamingCheckpoint.contains("/ckpt"))
  }
}
