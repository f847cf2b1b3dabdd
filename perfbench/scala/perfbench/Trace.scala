package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileSystems, Files, Path, Paths, StandardWatchEventKinds}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A value emitted verbatim (already JSON). */
final case class Raw(json: String)

/** In-memory event log for a traced run, written once at application end.
  *
  * The two listeners below attach to an unmodified program through the
  * `spark.extraListeners` and `spark.sql.streaming.streamingQueryListeners`
  * system properties; they share this object because in local mode the
  * driver, the executors and both listener buses live in one JVM. Events
  * are raw (times in epoch ms); `trace.py` builds the span tree from them.
  *
  * System properties:
  *  - `perfbench.trace.out`      file the events are written to (JSON lines)
  *  - `perfbench.trace.progress` progress file whose commits mark day ends
  */
object Trace {
  private val events = new ConcurrentLinkedQueue[String]()
  @volatile private var written = false

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** Record one event; values are numbers, or strings when quoted by the caller. */
  def emit(kind: String, fields: (String, Any)*): Unit = {
    val body = (("kind" -> kind) +: fields).map {
      case (k, Raw(j)) => s""""$k":$j"""
      case (k, v: String) => s""""$k":"${esc(v)}""""
      case (k, None) => s""""$k":null"""
      case (k, Some(v)) => s""""$k":$v"""
      case (k, v) => s""""$k":$v"""
    }
    events.add(body.mkString("{", ",", "}"))
  }

  /** Time a block as an isolated-pass span of its own. */
  def span[T](name: String)(body: => T): T = {
    val t0 = System.currentTimeMillis()
    try body
    finally emit("layer", "name" -> name, "start" -> t0, "end" -> System.currentTimeMillis())
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0

  def write(): Unit = synchronized {
    if (!written) {
      written = true
      sys.props.get("perfbench.trace.out").foreach { out =>
        emit("jvm", "gc_s" -> gcSeconds(), "cores" -> Runtime.getRuntime.availableProcessors())
        Files.write(Paths.get(out), events.asScala.mkString("", "\n", "\n").getBytes(UTF_8))
      }
    }
  }

  /** Watch the progress file's directory and record every commit (the
    * program writes a temp file and renames it over the target).
    */
  private[perfbench] def watchProgress(file: Path): Thread = {
    val dir = file.toAbsolutePath.getParent
    Files.createDirectories(dir)
    val watcher = FileSystems.getDefault.newWatchService()
    dir.register(watcher, StandardWatchEventKinds.ENTRY_CREATE, StandardWatchEventKinds.ENTRY_MODIFY)
    val t = new Thread(() => {
      var last = ""
      try {
        while (true) {
          val key = watcher.take()
          val now = System.currentTimeMillis()
          key.pollEvents()
          key.reset()
          val day =
            try new String(Files.readAllBytes(file), UTF_8).trim
            catch { case _: java.io.IOException => "" }
          if (day.nonEmpty && day != last) {
            emit("commit", "time" -> now, "day" -> day)
            last = day
          }
        }
      } catch { case _: InterruptedException | _: java.nio.file.ClosedWatchServiceException => () }
    }, "perfbench-progress-watch")
    t.setDaemon(true)
    t.start()
    t
  }
}

/** Job, stage and task events, plus watermark commits. */
class TraceListener extends SparkListener {
  private val watcher = sys.props.get("perfbench.trace.progress").map(p => Trace.watchProgress(Paths.get(p)))

  override def onApplicationStart(e: SparkListenerApplicationStart): Unit =
    Trace.emit("app_start", "time" -> e.time)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    Trace.emit(
      "job_start",
      "job" -> e.jobId,
      "time" -> e.time,
      "stages" -> Raw(e.stageIds.mkString("[", ",", "]")),
      "batch" -> props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).map(_.toLong)
    )
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Trace.emit("job_end", "job" -> e.jobId, "time" -> e.time, "ok" -> (e.jobResult == JobSucceeded))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    Trace.emit(
      "stage",
      "stage" -> s.stageId,
      "attempt" -> s.attemptNumber(),
      "start" -> s.submissionTime.getOrElse(0L),
      "end" -> s.completionTime.getOrElse(0L),
      "tasks" -> s.numTasks
    )
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    Trace.emit(
      "task",
      "stage" -> e.stageId,
      "start" -> i.launchTime,
      "end" -> i.finishTime,
      "run_ms" -> m.map(_.executorRunTime).getOrElse(0L),
      "cpu_ns" -> m.map(_.executorCpuTime).getOrElse(0L),
      "deser_ms" -> m.map(_.executorDeserializeTime).getOrElse(0L),
      "ser_ms" -> m.map(_.resultSerializationTime).getOrElse(0L),
      "get_ms" -> (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L),
      "ok" -> i.successful
    )
  }

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
    Trace.emit("app_end", "time" -> e.time)
    watcher.foreach(_.interrupt())
    Trace.write()
  }
}

/** Micro-batch spans from `StreamingQueryProgress.durationMs`. */
class StreamTraceListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    Trace.emit("query_start", "time" -> System.currentTimeMillis())

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => s""""$k":${v.longValue}""" }.mkString("{", ",", "}")
    Trace.emit(
      "batch",
      "batch" -> p.batchId,
      "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "rows" -> p.numInputRows,
      "duration_ms" -> Raw(d)
    )
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    Trace.emit("query_end", "time" -> System.currentTimeMillis())
}
