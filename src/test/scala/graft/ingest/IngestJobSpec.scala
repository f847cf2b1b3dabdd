package graft.ingest

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.Base64
import scala.util.Random

/** Failure-injection store: refuses keys containing "poison". */
final case class PoisonedStoreFactory(root: String) extends ObjectStoreFactory {
  override def create(): ObjectStore = new LocalDirObjectStore(root) {
    override def put(key: String, data: Array[Byte], metadata: Map[String, String]): Unit = {
      if (key.contains("poison")) throw new RuntimeException(s"injected failure for $key")
      super.put(key, data, metadata)
    }
  }
}

/** Deletes `victim` from the source whenever a task opens its store —
  * after the driver listed the day, before that task reads any file.
  */
final case class VanishingSourceStoreFactory(root: String, victim: String) extends ObjectStoreFactory {
  override def create(): ObjectStore = {
    Files.deleteIfExists(java.nio.file.Paths.get(victim))
    new LocalDirObjectStore(root)
  }
}

/** E2E mirror of the reference's test_hello (tests/test_audit_data_ingest.py:18-26)
  * with the stronger round-trip assertion FIXTURES.md §1.4 calls for.
  */
class IngestJobSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private lazy val (pub, priv) = Envelope.generateKeyPair()
  private def pubB64 = Base64.getEncoder.encodeToString(pub.getEncoded)

  /** Build the FIXTURES.md §3 layout: 3 dated dirs x 5 files (incl 0-byte
    * and ~1MB), 1 non-dated dir. Returns (srcDir, file contents by relpath).
    */
  private def makeSource(): (Path, Map[String, Array[Byte]]) = {
    val src = Files.createTempDirectory("audit-src")
    val rnd = new Random(1)
    val days = Seq("2020-10-10", "2020-10-11", "2020-10-12")
    val contents = scala.collection.mutable.Map[String, Array[Byte]]()
    for (day <- days) {
      val d = Files.createDirectories(src.resolve(day))
      for (i <- 1 to 5) {
        val bytes =
          if (i == 4) Array.emptyByteArray // 0-byte file
          else if (i == 5) { val b = new Array[Byte](1024 * 1024); rnd.nextBytes(b); b } // ~1MB
          else s"""{"id": "000$i", "type": "donut", "name": "Cake-$day"}""".getBytes("UTF-8")
        Files.write(d.resolve(s"audit-data-$i.json"), bytes)
        contents(s"$day/audit-data-$i.json") = bytes
      }
    }
    val junk = Files.createDirectories(src.resolve("not-a-date"))
    Files.write(junk.resolve("ignored.txt"), "nope".getBytes)
    (src, contents.toMap)
  }

  private def cfgFor(src: Path, out: Path, progress: Path, prefix: String = "audit/") =
    IngestConfig(
      srcDir = src.toString,
      storeFactory = LocalDirObjectStoreFactory(out.toString),
      s3Prefix = prefix,
      masterKeyId = "test-hsm-key-id",
      publicKeyB64 = pubB64,
      progressFile = progress.toString
    )

  /** Runs `body` and counts the Spark jobs it started. */
  private def countingJobs[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val out =
      try body
      finally {
        Thread.sleep(2000) // let the async listener bus drain
        spark.sparkContext.removeSparkListener(listener)
      }
    (out, jobs.get())
  }

  test("run: the 3-day fixture schedules exactly 3 Spark jobs, one per day and nothing else") {
    val (src, _) = makeSource()
    val out = Files.createTempDirectory("audit-out")
    val cfg = cfgFor(src, out, Files.createTempDirectory("wm").resolve("progress.txt"))
    val (summary, jobs) = countingJobs(IngestJob.run(spark, cfg))
    assert(summary.filesOk == 15)
    assert(jobs == 3, s"day loop scheduled $jobs Spark job(s) for 3 days; expected exactly 3")
  }

  test("every regular file lands, hidden and zero-length names included, in run, runBacklog and the stream") {
    val (src, contents) = makeSource()
    val day = src.resolve("2020-10-11")
    Files.write(day.resolve(".hidden"), "not skipped".getBytes)
    Files.write(day.resolve(".empty"), Array.emptyByteArray)
    Files.write(day.resolve("_SUCCESS"), Array.emptyByteArray)
    val expected = contents.keySet.map(rel => s"audit/$rel.gz.enc") ++
      Seq(".hidden", ".empty", "_SUCCESS").map(n => s"audit/2020-10-11/$n.gz.enc")

    def landedBy(ingest: IngestConfig => Unit): Set[String] = {
      val cfg = cfgFor(src, Files.createTempDirectory("audit-out"), Files.createTempDirectory("wm").resolve("p.txt"))
      ingest(cfg)
      val store = cfg.storeFactory.create()
      val k = "audit/2020-10-11/.hidden.gz.enc"
      val plain = Zlib.decompress(Envelope.decrypt(EncryptedObject(store.get(k), store.getMetadata(k)), priv))
      assert(new String(plain) == "not skipped")
      store.listKeys("audit/").toSet
    }
    assert(landedBy(cfg => IngestJob.run(spark, cfg)) == expected)
    assert(landedBy(cfg => IngestJob.runBacklog(spark, cfg)) == expected)
    assert(landedBy(cfg =>
      IngestStream.runAvailableNow(spark, cfg, Files.createTempDirectory("ckpt").toString)) == expected)
  }

  test("a file that vanishes between listing and read fails its day, not its task; siblings land") {
    val (src, _) = makeSource()
    val victim = src.resolve("2020-10-10").resolve("vanish.json")
    Files.write(victim, "here at listing time".getBytes)
    val out = Files.createTempDirectory("audit-out")
    val progress = Files.createTempDirectory("wm").resolve("progress.txt")
    val cfg = cfgFor(src, out, progress)
      .copy(storeFactory = VanishingSourceStoreFactory(out.toString, victim.toString))

    val e = intercept[RuntimeException](IngestJob.run(spark, cfg))
    assert(e.getMessage.contains("Failed to process day 2020-10-10 (1 file(s) failed)"), e.getMessage)
    assert(e.getMessage.contains("vanish.json") && e.getMessage.contains("FileNotFoundException"), e.getMessage)
    assert(LocalDirObjectStoreFactory(out.toString).create().listKeys("audit/2020-10-10/").size == 5)
    assert(Watermark.read(progress.toString).isEmpty)
  }

  test("runBacklog: whole 3-day backlog lands in ONE Spark job, watermark committed day-ordered") {
    val (src, contents) = makeSource()
    val out = Files.createTempDirectory("backlog-out")
    val progress = Files.createTempDirectory("wm").resolve("progress.txt")
    val cfg = cfgFor(src, out, progress)

    val (summary, jobs) = countingJobs(IngestJob.runBacklog(spark, cfg))

    assert(summary.days.map(_.day.toString) == Seq("2020-10-10", "2020-10-11", "2020-10-12"))
    assert(summary.filesOk == 15)
    assert(Watermark.read(cfg.progressFile).contains(LocalDate.parse("2020-10-12")))
    assert(jobs == 1, s"backlog scheduled $jobs Spark job(s); expected exactly 1")

    // layout + content parity with the day-loop, incl. the 0-byte file
    val store = cfg.storeFactory.create()
    val keys = store.listKeys("audit/")
    assert(keys.size == 15)
    assert(keys.contains("audit/2020-10-10/audit-data-4.json.gz.enc"))
    val k = "audit/2020-10-11/audit-data-1.json.gz.enc"
    val plain = Zlib.decompress(Envelope.decrypt(EncryptedObject(store.get(k), store.getMetadata(k)), priv))
    assert(plain.sameElements(contents("2020-10-11/audit-data-1.json")))
  }

  test("runBacklog: dirty middle day holds the watermark at the last clean day; re-run completes") {
    val (src, _) = makeSource()
    Files.write(src.resolve("2020-10-11").resolve("poison.json"), "bad".getBytes)
    val out = Files.createTempDirectory("backlog-out")
    val progress = Files.createTempDirectory("wm").resolve("progress.txt")
    val bad = cfgFor(src, out, progress).copy(storeFactory = PoisonedStoreFactory(out.toString))

    val e = intercept[RuntimeException](IngestJob.runBacklog(spark, bad))
    assert(e.getMessage.contains("2020-10-11"))
    // commit stopped at the clean day BEFORE the dirty one
    assert(Watermark.read(progress.toString).contains(LocalDate.parse("2020-10-10")))
    // single-job divergence from the loop (documented): later days were
    // attempted — their objects exist but stay unwatermarked
    val store = bad.storeFactory.create()
    assert(store.listKeys("audit/2020-10-12/").size == 5)

    // healthy store, same progress file: days 2+3 re-run, backlog completes
    val good = cfgFor(src, out, progress)
    val summary2 = IngestJob.runBacklog(spark, good)
    assert(summary2.days.map(_.day.toString) == Seq("2020-10-11", "2020-10-12"))
    assert(Watermark.read(progress.toString).contains(LocalDate.parse("2020-10-12")))
    assert(store.listKeys("audit/2020-10-11/").size == 6) // 5 fixtures + poison.json
  }

  test("distributed read-back: IngestReader decrypts every landed object to the original bytes") {
    val (src, contents) = makeSource()
    val out = Files.createTempDirectory("audit-out")
    val progress = Files.createTempDirectory("wm").resolve("progress.txt")
    val cfg = cfgFor(src, out, progress)
    IngestJob.run(spark, cfg)

    val privB64 = java.util.Base64.getEncoder.encodeToString(priv.getEncoded)
    val rows = IngestReader
      .read(spark, out.toString, "audit/", privB64)
      .collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1))
      .toMap
    assert(rows.size == 15)
    for ((rel, orig) <- contents)
      assert(rows(s"audit/$rel.gz.enc").sameElements(orig), s"read-back mismatch for $rel")
  }

  test("full run: all days processed, key layout + metadata + round-trip, watermark committed") {
    val (src, contents) = makeSource()
    val out = Files.createTempDirectory("audit-out")
    val progress = Files.createTempDirectory("wm").resolve("progress.txt")
    val cfg = cfgFor(src, out, progress)

    val summary = IngestJob.run(spark, cfg)

    assert(summary.days.size == 3) // non-dated dir skipped
    assert(summary.filesOk == 15)
    val store = cfg.storeFactory.create()
    val keys = store.listKeys("audit/")
    assert(keys.size == 15)
    // Key layout {prefix}{day}/{basename}.gz.enc — no inserted separator (ref :173)
    assert(keys.contains("audit/2020-10-10/audit-data-1.json.gz.enc"))
    assert(keys.forall(_.endsWith(".gz.enc")))

    // Every object: exactly 3 metadata keys; decrypt+inflate == original bytes
    for ((rel, orig) <- contents) {
      val key = s"audit/$rel.gz.enc"
      val md = store.getMetadata(key)
      assert(md.keySet == Set("iv", "ciphertext", "datakeyencryptionkeyid"), key)
      assert(md("datakeyencryptionkeyid") == "test-hsm-key-id")
      val plain = Zlib.decompress(Envelope.decrypt(EncryptedObject(store.get(key), md), priv))
      assert(plain.sameElements(orig), s"round-trip mismatch for $key")
    }

    // Watermark = last completed day
    assert(Watermark.read(progress.toString).contains(LocalDate.parse("2020-10-12")))
  }

  test("pre-seeded watermark at middle day: only strictly newer days processed") {
    val (src, _) = makeSource()
    val out = Files.createTempDirectory("audit-out")
    val progress = Files.createTempDirectory("wm").resolve("progress.txt")
    Watermark.commit(progress.toString, LocalDate.parse("2020-10-11"))

    val summary = IngestJob.run(spark, cfgFor(src, out, progress))

    assert(summary.days.map(_.day.toString) == Seq("2020-10-12")) // strict >
    val keys = LocalDirObjectStoreFactory(out.toString).create().listKeys("")
    assert(keys.size == 5)
    assert(keys.forall(_.startsWith("audit/2020-10-12/")))
  }

  test("failure isolation: poisoned file fails its day, siblings still attempted, no commit") {
    val (src, _) = makeSource()
    // poison one file of day 1
    Files.write(src.resolve("2020-10-10").resolve("poison.json"), "bad".getBytes)
    val out = Files.createTempDirectory("audit-out")
    val progress = Files.createTempDirectory("wm").resolve("progress.txt")
    val cfg = cfgFor(src, out, progress).copy(storeFactory = PoisonedStoreFactory(out.toString))

    val e = intercept[RuntimeException](IngestJob.run(spark, cfg))
    assert(e.getMessage.contains("2020-10-10"))
    assert(e.getMessage.contains("poison"))

    // all 5 healthy siblings of the failed day were still uploaded (best-effort, ref :96-104)
    val keys = LocalDirObjectStoreFactory(out.toString).create().listKeys("audit/2020-10-10/")
    assert(keys.size == 5)
    // watermark never advanced — the day did not commit (ref :65-68)
    assert(Watermark.read(progress.toString).isEmpty)
  }

  test("idempotent re-run after failure: fixed source completes remaining days (at-least-once)") {
    val (src, _) = makeSource()
    val poison = src.resolve("2020-10-11").resolve("poison.json")
    Files.write(poison, "bad".getBytes)
    val out = Files.createTempDirectory("audit-out")
    val progress = Files.createTempDirectory("wm").resolve("progress.txt")
    val bad = cfgFor(src, out, progress).copy(storeFactory = PoisonedStoreFactory(out.toString))

    intercept[RuntimeException](IngestJob.run(spark, bad))
    assert(Watermark.read(progress.toString).contains(LocalDate.parse("2020-10-10"))) // day 1 committed

    Files.delete(poison)
    val summary = IngestJob.run(spark, cfgFor(src, out, progress))
    assert(summary.days.map(_.day.toString) == Seq("2020-10-11", "2020-10-12"))
    assert(Watermark.read(progress.toString).contains(LocalDate.parse("2020-10-12")))
    assert(LocalDirObjectStoreFactory(out.toString).create().listKeys("").size == 15)
  }

  test("EAX mode end-to-end: objects decrypt via AES-EAX with 16-byte nonce (reference parity)") {
    val (src, contents) = makeSource()
    val out = Files.createTempDirectory("audit-out")
    val progress = Files.createTempDirectory("wm").resolve("progress.txt")
    val cfg = cfgFor(src, out, progress).copy(aesMode = Envelope.AesMode.Eax)

    val summary = IngestJob.run(spark, cfg)
    assert(summary.filesOk == 15)

    val store = cfg.storeFactory.create()
    for ((rel, orig) <- contents) {
      val key = s"audit/$rel.gz.enc"
      val md = store.getMetadata(key)
      assert(Base64.getDecoder.decode(md("iv")).length == Envelope.EaxNonceBytes, key)
      val plain = Zlib.decompress(
        Envelope.decrypt(EncryptedObject(store.get(key), md), priv, Envelope.AesMode.Eax)
      )
      assert(plain.sameElements(orig), s"EAX round-trip mismatch for $key")
    }
  }

  test("nested files with identical basenames get distinct keys (no silent overwrite)") {
    val src = Files.createTempDirectory("audit-src-nested")
    val day = Files.createDirectories(src.resolve("2021-03-03"))
    Files.write(day.resolve("a.log"), "top".getBytes)
    Files.write(Files.createDirectories(day.resolve("sub1")).resolve("a.log"), "one".getBytes)
    Files.write(Files.createDirectories(day.resolve("sub2")).resolve("a.log"), "two".getBytes)
    val out = Files.createTempDirectory("audit-out")
    val progress = Files.createTempDirectory("wm").resolve("progress.txt")
    val cfg = cfgFor(src, out, progress)

    val summary = IngestJob.run(spark, cfg)
    assert(summary.filesOk == 3)

    val store = cfg.storeFactory.create()
    val keys = store.listKeys("audit/2021-03-03/")
    assert(keys.toSet == Set(
      "audit/2021-03-03/a.log.gz.enc",
      "audit/2021-03-03/sub1/a.log.gz.enc",
      "audit/2021-03-03/sub2/a.log.gz.enc"
    ))
    val got = keys.map { k =>
      new String(Zlib.decompress(Envelope.decrypt(EncryptedObject(store.get(k), store.getMetadata(k)), priv)))
    }
    assert(got.sorted == Seq("one", "top", "two"))
  }

  test("key rotation: keyProvider is consulted per day and later days use the rotated key") {
    val (src, _) = makeSource()
    val out = Files.createTempDirectory("audit-out")
    val progress = Files.createTempDirectory("wm").resolve("progress.txt")
    // Rotates to a second keypair after the first fetch.
    val (pub2, priv2) = Envelope.generateKeyPair()
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val rotating = new KeyProvider {
      override def wrappingKeyB64(): String = {
        val n = calls.incrementAndGet()
        val k = if (n == 1) pub else pub2
        Base64.getEncoder.encodeToString(k.getEncoded)
      }
    }
    val cfg = cfgFor(src, out, progress).copy(keyProvider = Some(rotating))
    IngestJob.run(spark, cfg)
    assert(calls.get() == 3) // one fetch per day
    val store = cfg.storeFactory.create()
    // day 1 decrypts with key 1, day 3 with the rotated key 2
    val k1 = "audit/2020-10-10/audit-data-1.json.gz.enc"
    val k3 = "audit/2020-10-12/audit-data-1.json.gz.enc"
    Zlib.decompress(Envelope.decrypt(EncryptedObject(store.get(k1), store.getMetadata(k1)), priv))
    Zlib.decompress(Envelope.decrypt(EncryptedObject(store.get(k3), store.getMetadata(k3)), priv2))
  }

  test("processDayV2 targets an S3 store through the factory seam (--v2-sink + --s3-bucket)") {
    val (src, contents) = makeSource()
    val fake = new FakeS3Server("bkt", pageSize = 1000)
    try {
      val cfg = cfgFor(src, Files.createTempDirectory("unused"),
        Files.createTempDirectory("wm").resolve("p.txt"))
        .copy(storeFactory = S3ObjectStoreFactory(fake.endpoint, "eu-west-2", "bkt", "AKIDEXAMPLE", "sk"))
      val dp = AuditSource.pendingDays(spark, cfg.srcDir, None).head
      IngestJob.processDayV2(spark, cfg, dp) // pre-fix: ClassCastException on the local-dir cast
      val store = cfg.storeFactory.create()
      val keys = store.listKeys("audit/2020-10-10/")
      assert(keys.size == 5)
      val k = "audit/2020-10-10/audit-data-1.json.gz.enc"
      val plain = Zlib.decompress(Envelope.decrypt(EncryptedObject(store.get(k), store.getMetadata(k)), priv))
      assert(plain.sameElements(contents("2020-10-10/audit-data-1.json")))
    } finally fake.stop()
  }

  test("missing source dir raises (ref failure-path test)") {
    val out = Files.createTempDirectory("audit-out")
    val progress = Files.createTempDirectory("wm").resolve("progress.txt")
    val cfg = cfgFor(Files.createTempDirectory("gone").resolve("nope"), out, progress)
    assertThrows[Exception](IngestJob.run(spark, cfg))
  }
}
