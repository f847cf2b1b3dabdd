package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.PublicKey
import java.util.Base64
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.ingest._
import graft.sources.KafkaLogFormat

/** Isolated layer pass: times each ingest layer's public function on one
  * workload's own inputs, on one thread unless a metric says `.tN`.
  *
  * Usage: LayerPass <days|kafka> <input dir> <public key file>
  *          <private key file> <scratch dir> <out json> [<s3 endpoint url>]
  *
  * Every timed loop is preceded by an untimed warm-up (class loading,
  * JIT) and recorded as a span of its own through [[Trace.span]]. Byte-proportional
  * layers see at most [[ByteCap]] bytes of the inputs so the pass stays
  * short on the large-file workload.
  */
object LayerPass {
  val ByteCap: Long = 16L << 20
  private val metrics = scala.collection.mutable.LinkedHashMap[String, Double]()

  private def put(name: String, v: Double): Unit = metrics(name) = v

  /** Total ns of one timed sweep of `op` over `items`, after an untimed
    * warm-up over the first 200 of them.
    */
  private def timeEach[A](name: String, items: Seq[A])(op: A => Unit): Long = {
    items.take(200).foreach(op)
    Trace.span(name) {
      val t0 = System.nanoTime()
      items.foreach(op)
      System.nanoTime() - t0
    }
  }

  private def repeat(n: Int)(op: => Unit): Unit = {
    var i = 0
    while (i < n) { op; i += 1 }
  }

  private def capped(payloads: Seq[Array[Byte]]): Seq[Array[Byte]] = {
    var total = 0L
    payloads.takeWhile { p => total += p.length; total - p.length < ByteCap }
  }

  private def dayPayloads(src: Path): Seq[Array[Byte]] =
    Files.walk(src).iterator().asScala
      .filter(p => Files.isRegularFile(p) && Watermark.parseDay(src.relativize(p).getName(0).toString).isDefined)
      .toSeq.sortBy(_.toString).map(p => Files.readAllBytes(p))

  private def kafkaPayloads(root: Path): Seq[Array[Byte]] = {
    val fs = new org.apache.hadoop.fs.Path(root.toUri).getFileSystem(new org.apache.hadoop.conf.Configuration())
    Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".log")).toSeq.sortBy(_.toString).flatMap { seg =>
      val in = fs.open(new org.apache.hadoop.fs.Path(seg.toUri))
      try KafkaLogFormat.readSegment(in, Files.size(seg), seg.toString, skipPayloadsOnly = false)
        .map(_.value).filter(_ != null).toVector
      finally in.close()
    }
  }

  private def codecLayers(payloads: Seq[Array[Byte]]): Seq[Array[Byte]] = {
    val src = capped(payloads)
    val bytes = src.map(_.length.toLong).sum.max(1L)
    val tc = timeEach("Zlib.compress", src)(p => Zlib.compress(p))
    val compressed = src.map(p => Zlib.compress(p))
    put("Zlib.compress_ns_per_byte", tc.toDouble / bytes)
    put("Zlib.compress_ns_per_call", tc.toDouble / src.size)
    put("Zlib.ratio", compressed.map(_.length.toLong).sum.toDouble / bytes)
    val td = timeEach("Zlib.decompress", compressed)(c => Zlib.decompress(c))
    put("Zlib.decompress_ns_per_byte", td.toDouble / bytes)
    compressed
  }

  private def keygen(threads: Int, perThread: Int): Double = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val start = new CountDownLatch(1)
      val done = new CountDownLatch(threads)
      (1 to threads).foreach { _ =>
        pool.submit(new Runnable {
          def run(): Unit = { start.await(); repeat(perThread)(Envelope.generateDataKey()); done.countDown() }
        })
      }
      val t0 = System.nanoTime()
      start.countDown()
      done.await()
      (System.nanoTime() - t0).toDouble / perThread // wall ns per op, as each thread sees it
    } finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
  }

  private def envelopeLayers(compressed: Seq[Array[Byte]], pub: PublicKey, privDer: Array[Byte]): Unit = {
    val nproc = Runtime.getRuntime.availableProcessors()
    keygen(1, 20000)
    put("Envelope.keygen_ns_per_op.t1", Trace.span("Envelope.keygen.t1")(keygen(1, 50000)))
    keygen(nproc, 20000)
    put("Envelope.keygen_ns_per_op.tN", Trace.span("Envelope.keygen.tN")(keygen(nproc, 50000)))

    val keys = (1 to 400).map(_ => Envelope.generateDataKey())
    val tw = timeEach("Envelope.wrapKey", keys)(k => Envelope.wrapKey(k, pub))
    put("Envelope.wrap_ns_per_op", tw.toDouble / keys.size)
    val priv = Envelope.privateKeyFromDer(privDer)
    val wrapped = keys.take(150).map(k => Envelope.wrapKey(k, pub))
    val tu = timeEach("Envelope.unwrapKey", wrapped)(w => Envelope.unwrapKey(w, priv))
    put("Envelope.unwrap_ns_per_op", tu.toDouble / wrapped.size)

    val key = Envelope.generateDataKey()
    val nonce = Envelope.generateNonce()
    val eaxNonce = Envelope.generateNonce(Envelope.EaxNonceBytes)
    val tiny = Seq.fill(20000)(new Array[Byte](16))
    put("Envelope.gcm_ns_per_call",
      timeEach("Envelope.aesEncrypt.16B", tiny)(p => Envelope.aesEncrypt(p, key, nonce)).toDouble / tiny.size)
    val bytes = compressed.map(_.length.toLong).sum.max(1L)
    put("Envelope.gcm_ns_per_byte",
      timeEach("Envelope.aesEncrypt", compressed)(p => Envelope.aesEncrypt(p, key, nonce)).toDouble / bytes)
    val tinyEax = tiny.take(5000)
    put("Eax.ns_per_call",
      timeEach("Eax.encrypt.16B", tinyEax)(p => Eax.encrypt(key, eaxNonce, p)).toDouble / tinyEax.size)
    put("Eax.ns_per_byte",
      timeEach("Eax.encrypt", compressed)(p => Eax.encrypt(key, eaxNonce, p)).toDouble / bytes)
  }

  private def objects(compressed: Seq[Array[Byte]], pub: PublicKey): Seq[(String, EncryptedObject)] =
    compressed.zipWithIndex.map { case (c, i) =>
      f"data/audit/2024-03-${1 + i % 4}%02d/obj-$i%06d.gz.enc" -> Envelope.encrypt(c, pub, "perfbench-key")
    }

  private def localStoreLayers(objs: Seq[(String, EncryptedObject)], scratch: Path): Unit = {
    val warmRoot = scratch.resolve("store-warm")
    val warm = new LocalDirObjectStore(warmRoot.toString)
    objs.take(200).foreach { case (k, o) => warm.put(k, o.ciphertext, o.metadata) }
    val root = scratch.resolve("store")
    val store = new LocalDirObjectStore(root.toString)
    val bytes = objs.map(_._2.ciphertext.length.toLong).sum.max(1L)
    val tp = Trace.span("LocalDirObjectStore.put") {
      val t0 = System.nanoTime()
      objs.foreach { case (k, o) => store.put(k, o.ciphertext, o.metadata) }
      System.nanoTime() - t0
    }
    put("LocalDirObjectStore.put_ns_per_op", tp.toDouble / objs.size)
    put("LocalDirObjectStore.put_ns_per_byte", tp.toDouble / bytes)
    val files = Files.walk(root).iterator().asScala.count(p => Files.isRegularFile(p))
    put("LocalDirObjectStore.files_per_put", files.toDouble / objs.size)
    val tg = timeEach("LocalDirObjectStore.get", objs.map(_._1))(k => store.get(k))
    put("LocalDirObjectStore.get_ns_per_op", tg.toDouble / objs.size)
    store.listKeys("data/")
    val tl = Trace.span("LocalDirObjectStore.listKeys") {
      val t0 = System.nanoTime()
      val n = store.listKeys("data/").size
      require(n == objs.size, s"listKeys saw $n keys, put ${objs.size}")
      System.nanoTime() - t0
    }
    put("LocalDirObjectStore.listKeys_ms_per_1k", tl / 1e6 / (objs.size / 1000.0))
  }

  private def s3Layers(objs: Seq[(String, EncryptedObject)], endpoint: String): Unit = {
    val store = S3ObjectStoreFactory(endpoint, "eu-west-2", "layer-pass", "perfbench", "perfbench").create()
    val t = timeEach("S3ObjectStore.put", objs) { case (k, o) => store.put(k, o.ciphertext, o.metadata) }
    put("S3ObjectStore.put_ns_per_op", t.toDouble / objs.size)
  }

  private def watermarkLayer(scratch: Path): Unit = {
    val file = scratch.resolve("wm").resolve("progress").toString
    val days = (0 until 2000).map(i => java.time.LocalDate.of(2024, 3, 1).plusDays(i % 365))
    val t = timeEach("Watermark.commit", days)(d => Watermark.commit(file, d))
    put("Watermark.commit_ns_per_op", t.toDouble / days.size)
  }

  private def auditSourceLayers(src: Path, nproc: Int): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench-layer-pass")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try {
      val days = AuditSource.listDays(spark, src.toString)
      AuditSource.readDay(spark, days.head.path)
      val tl = Trace.span("AuditSource.listDays") {
        val t0 = System.nanoTime(); AuditSource.listDays(spark, src.toString); System.nanoTime() - t0
      }
      put("AuditSource.listDays_ms", tl / 1e6)
      val files = days.map(d => Files.walk(Paths.get(new java.net.URI(d.path))).iterator().asScala
        .count(p => Files.isRegularFile(p))).sum
      val tr = Trace.span("AuditSource.readDay") {
        val t0 = System.nanoTime()
        days.foreach(d => AuditSource.readDay(spark, d.path))
        System.nanoTime() - t0
      }
      put("AuditSource.readDay_ms_per_file", tr / 1e6 / files)
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val Array(kind, input, pubFile, privFile, scratchDir, out) = args.take(6)
    val endpoint = args.lift(6)
    val pub = Envelope.publicKeyFromBase64(new String(Files.readAllBytes(Paths.get(pubFile)), UTF_8).trim)
    val privDer = Base64.getDecoder.decode(new String(Files.readAllBytes(Paths.get(privFile)), UTF_8).trim)
    val scratch = Paths.get(scratchDir)
    val nproc = Runtime.getRuntime.availableProcessors()
    val payloads = kind match {
      case "days" => dayPayloads(Paths.get(input))
      case "kafka" => kafkaPayloads(Paths.get(input))
    }
    val compressed = codecLayers(payloads)
    envelopeLayers(compressed, pub, privDer)
    val objs = objects(compressed, pub)
    localStoreLayers(objs, scratch)
    endpoint.foreach(e => s3Layers(objs, e))
    watermarkLayer(scratch)
    if (kind == "days") auditSourceLayers(Paths.get(input), nproc)
    Files.write(
      Paths.get(out),
      metrics.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}").getBytes(UTF_8)
    )
    Trace.write()
  }
}
