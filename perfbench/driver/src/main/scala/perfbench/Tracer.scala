package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Span recorder for the traced run.
  *
  * `span(layer, name)` times one call into a layer of the program and
  * tags every Spark job it starts with the span id through the job
  * group local property (streaming queries inherit it from the thread
  * that starts them). Three listeners record what Spark did: jobs,
  * stages and tasks (SparkListener), finished SQL executions
  * (QueryExecutionListener) and micro-batch progress
  * (StreamingQueryListener). Everything stays in memory until `write`,
  * which emits one JSON object per line.
  *
  * With `enabled = false`, `span` only runs its body: no listener is
  * registered and nothing is recorded.
  */
final class Tracer(val enabled: Boolean, runId: String) {
  private val mapper = new ObjectMapper()
  private val ids = new AtomicLong(0)
  private val records = new ConcurrentLinkedQueue[java.util.Map[String, Any]]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private var session: SparkSession = _
  private val listeners = mutable.Buffer.empty[AnyRef]
  private val FlushGroup = "perfbench-flush"
  private val flushJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val flushed = new java.util.concurrent.CountDownLatch(1)

  private def emit(fields: (String, Any)*): Unit =
    records.add(mutable.LinkedHashMap(("run", runId) +: fields: _*).asJava)

  /** Streaming-side gauges the listener cannot see (backlog). */
  var progressHook: () => Map[String, Any] = () => Map.empty

  def attach(spark: SparkSession): Unit = if (enabled) {
    detach()
    session = spark
    val sl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (group == FlushGroup) flushJobs.add(e.jobId)
        emit("kind" -> "job", "event" -> "start", "job" -> e.jobId, "t" -> e.time,
          "group" -> group, "stages" -> e.stageIds.asJava)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        emit("kind" -> "job", "event" -> "end", "job" -> e.jobId, "t" -> e.time)
        if (flushJobs.remove(e.jobId)) flushed.countDown()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        emit("kind" -> "stage", "stage" -> i.stageId, "attempt" -> i.attemptNumber(),
          "tasks" -> i.numTasks,
          "submitted" -> i.submissionTime.getOrElse(-1L),
          "completed" -> i.completionTime.getOrElse(-1L),
          "run_ms" -> (if (m == null) 0L else m.executorRunTime),
          "shuffle_read" -> (if (m == null) 0L
            else m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead),
          "shuffle_write" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
          "spill" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled),
          "input_bytes" -> (if (m == null) 0L else m.inputMetrics.bytesRead))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        emit("kind" -> "task", "stage" -> e.stageId, "ms" -> e.taskInfo.duration,
          "input_bytes" -> (if (m == null) 0L else m.inputMetrics.bytesRead))
      }
    }
    val ql = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        emit("kind" -> "sql", "func" -> funcName, "t" -> System.currentTimeMillis(),
          "ms" -> durationNs / 1e6)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        emit("kind" -> "sql", "func" -> funcName, "t" -> System.currentTimeMillis(),
          "failed" -> true)
    }
    val stl = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val end = p.sources.headOption.map(_.endOffset).orNull
        emit(Seq("kind" -> "progress", "query" -> p.name, "batch" -> p.batchId,
          "t" -> System.currentTimeMillis(), "rows" -> p.numInputRows,
          "duration" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.asJava,
          "end_offset" -> end) ++ progressHook().toSeq: _*)
      }
    }
    spark.sparkContext.addSparkListener(sl)
    spark.listenerManager.register(ql)
    spark.streams.addListener(stl)
    listeners ++= Seq(sl, ql, stl)
  }

  def detach(): Unit = if (session != null) {
    listeners.foreach {
      case l: SparkListener => session.sparkContext.removeSparkListener(l)
      case l: QueryExecutionListener => session.listenerManager.unregister(l)
      case l: StreamingQueryListener => session.streams.removeListener(l)
    }
    listeners.clear()
    session = null
  }

  /** Time `body` as one call into `layer`; its Spark jobs carry the span id. */
  def span[T](layer: String, name: String, attrs: (String, Any)*)(body: => T): T =
    if (session == null) body // off, or not attached yet
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      val sc = session.sparkContext
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      sc.setLocalProperty("spark.jobGroup.id", s"span-$id")
      stack.set(id :: parents)
      val start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val ns = System.nanoTime() - t0
        stack.set(parents)
        sc.setLocalProperty("spark.jobGroup.id", prevGroup)
        emit(Seq("kind" -> "span", "id" -> id, "parent" -> parents.headOption.getOrElse(0L),
          "layer" -> layer, "name" -> name, "start" -> start,
          "end" -> (start + ns / 1000000L), "ms" -> ns / 1e6) ++ attrs: _*)
      }
    }

  /** Attribute jobs of another job group (a streaming query's run id)
    * to the current span. */
  def link(group: String): Unit =
    if (session != null) emit("kind" -> "link", "span" -> stack.get().headOption.getOrElse(0L),
      "group" -> group)

  def write(path: String): Unit = if (enabled) {
    // the listener bus delivers in order: once a marker job's end has
    // arrived, every earlier job, stage and task event has too
    Option(session).foreach { s =>
      s.sparkContext.setLocalProperty("spark.jobGroup.id", FlushGroup)
      s.sparkContext.parallelize(Seq(1), 1).count()
      s.sparkContext.setLocalProperty("spark.jobGroup.id", null)
      flushed.await(10, java.util.concurrent.TimeUnit.SECONDS)
    }
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try records.asScala.foreach { r => w.write(mapper.writeValueAsString(r)); w.write('\n') }
    finally w.close()
  }
}
