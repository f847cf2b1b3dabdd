package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Loopback S3 endpoint for the kafka_drain workload: path-style
  * PutObject (the only call the ingest sink makes), objects persisted
  * under a store directory as `<bucket>/<key>` plus a `<key>.meta.json`
  * of the `x-amz-meta-*` headers.
  *
  * Throttling is deterministic: in buckets whose name starts with
  * `drain`, the first PUT of a key whose hash(seed, key) falls under
  * `throttleShare` is answered 503 SlowDown; a key is never throttled
  * twice in one bucket, and every drain bucket sees the same keys
  * throttled. Requests without a SigV4 Authorization header get 403.
  *
  * Usage: S3Endpoint <store dir> <port file> <seed> <throttle share> <threads>
  * `GET /__stats` returns counts; `POST /__shutdown` returns them and exits.
  */
object S3Endpoint {
  private val counts = new ConcurrentHashMap[String, LongAdder]()
  private val throttled = ConcurrentHashMap.newKeySet[String]()

  private def count(name: String, n: Long = 1): Unit =
    counts.computeIfAbsent(name, _ => new LongAdder).add(n)

  private def stats(): String =
    counts.asScala.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${v.sum}""" }.mkString("{", ",", "}")

  def shouldThrottle(seed: String, share: Double, bucket: String, key: String): Boolean = {
    val h = MessageDigest.getInstance("SHA-256").digest(s"$seed/$key".getBytes(UTF_8))
    val u = java.nio.ByteBuffer.wrap(h, 0, 4).getInt.toLong & 0xffffffffL
    bucket.startsWith("drain") && u < share * 4294967296.0
  }

  private def reply(ex: HttpExchange, status: Int, body: Array[Byte]): Unit = {
    if (body.isEmpty) ex.sendResponseHeaders(status, -1)
    else {
      ex.sendResponseHeaders(status, body.length)
      ex.getResponseBody.write(body)
    }
    ex.close()
  }

  def main(args: Array[String]): Unit = {
    val Array(storeDir, portFile, seed, shareStr, threadsStr) = args
    val store = Paths.get(storeDir)
    val share = shareStr.toDouble
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 512)
    val pool = Executors.newFixedThreadPool(threadsStr.toInt)
    server.setExecutor(pool)
    server.createContext("/", (ex: HttpExchange) => {
      try handle(ex, store, seed, share, server, pool)
      catch {
        case e: Throwable =>
          count("error")
          reply(ex, 500, s"<Error><Code>InternalError</Code><Message>$e</Message></Error>".getBytes(UTF_8))
      }
    })
    server.start()
    warmUp(server.getAddress.getPort, threadsStr.toInt, store)
    val tmp = Paths.get(portFile + ".tmp")
    Files.write(tmp, server.getAddress.getPort.toString.getBytes(UTF_8))
    Files.move(tmp, Paths.get(portFile), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Serve a few thousand PUTs to a `warmup` bucket before announcing the
    * port, so the drain does not pay for this JVM's interpreter and JIT.
    */
  private def warmUp(port: Int, threads: Int, store: Path): Unit = {
    val body = new Array[Byte](1024)
    val workers = (0 until threads).map { t =>
      val th = new Thread(() => {
        (0 until 1500).foreach { i =>
          val c = new java.net.URL(s"http://127.0.0.1:$port/warmup/$t/$i").openConnection()
            .asInstanceOf[java.net.HttpURLConnection]
          c.setRequestMethod("PUT")
          c.setRequestProperty("Authorization", "AWS4-HMAC-SHA256 warm-up")
          c.setRequestProperty("x-amz-meta-iv", "warm-up")
          c.setDoOutput(true)
          c.setFixedLengthStreamingMode(body.length)
          c.getOutputStream.write(body)
          c.getResponseCode
          c.disconnect()
        }
      })
      th.start()
      th
    }
    workers.foreach(_.join())
    org.apache.commons.io.FileUtils.deleteDirectory(store.resolve("warmup").toFile)
    counts.clear()
  }

  private def handle(
      ex: HttpExchange,
      store: Path,
      seed: String,
      share: Double,
      server: HttpServer,
      pool: java.util.concurrent.ExecutorService
  ): Unit = {
    val method = ex.getRequestMethod
    val path = ex.getRequestURI.getPath
    if (path == "/__stats") return reply(ex, 200, stats().getBytes(UTF_8))
    if (path == "/__shutdown") {
      reply(ex, 200, stats().getBytes(UTF_8))
      new Thread(() => { server.stop(0); pool.shutdown(); sys.exit(0) }).start()
      return
    }
    val auth = Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
    if (!auth.startsWith("AWS4-HMAC-SHA256 ")) {
      count(s"$method 403")
      return reply(ex, 403, "<Error><Code>AccessDenied</Code></Error>".getBytes(UTF_8))
    }
    val slash = path.indexOf('/', 1)
    val bucket = path.substring(1, if (slash < 0) path.length else slash)
    val key = if (slash < 0) "" else path.substring(slash + 1)
    val file = store.resolve(bucket).resolve(key)
    val meta = store.resolve(bucket).resolve(key + ".meta.json")
    method match {
      case "PUT" =>
        val body = ex.getRequestBody.readAllBytes()
        count(s"PUT.$bucket")
        if (shouldThrottle(seed, share, bucket, key) && throttled.add(s"$bucket/$key")) {
          count(s"PUT 503")
          count(s"throttled.$bucket")
          return reply(ex, 503, "<Error><Code>SlowDown</Code><Message>Please reduce your request rate.</Message></Error>"
            .getBytes(UTF_8))
        }
        val headers = ex.getRequestHeaders.asScala.toSeq.collect {
          case (k, vs) if k.toLowerCase.startsWith("x-amz-meta-") && !vs.isEmpty =>
            k.toLowerCase.stripPrefix("x-amz-meta-") -> vs.get(0)
        }.sorted
        Files.createDirectories(file.getParent)
        Files.write(file, body)
        Files.write(meta, headers.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}").getBytes(UTF_8))
        count(s"stored_bytes.$bucket", body.length + headers.map { case (k, v) => ("x-amz-meta-" + k).length + v.length }.sum)
        count(s"PUT 200")
        ex.getResponseHeaders.add("ETag", "\"" + md5Hex(body) + "\"")
        reply(ex, 200, Array.emptyByteArray)
      case other =>
        count(s"$other 405")
        reply(ex, 405, Array.emptyByteArray)
    }
  }

  private def md5Hex(body: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(body).map("%02x".format(_)).mkString
}
