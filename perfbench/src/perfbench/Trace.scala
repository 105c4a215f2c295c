package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer, seen from outside. `attrs` holds the
  * counters measured at the same boundary (Spark listener totals for
  * the jobs that started while this span was the innermost open one,
  * plus whatever the workload records). */
final class Span(val id: Int, val parent: Int, val op: Int, val name: String,
    val start: Long) {
  var end: Long = -1L
  val attrs: mutable.Map[String, Double] = mutable.Map.empty
  def add(k: String, v: Double): Unit = attrs(k) = attrs.getOrElse(k, 0.0) + v
}

/** In-memory span recorder plus the Spark/Catalyst listeners that
  * attribute engine work to spans. Off, every method is a pass-through
  * and no listener is registered, so untimed and timed runs execute the
  * same engine calls.
  *
  * Attribution: the bus is drained when a span opens and before it
  * closes, so every job, stage, task and query-execution event is
  * processed while the span that caused it is the innermost open one —
  * including jobs a streaming query runs on its own thread while the
  * client waits in `processAllAvailable`. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  @volatile private var current: Span = null
  private var op = -1
  private var tracing = false

  private def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Run `body` as span `name` (child of the open span). */
  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      drain()
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val s = new Span(spans.size, parent, op, name, System.nanoTime())
      spans += s; stack = s :: stack; current = s
      try body
      finally {
        drain()
        s.end = System.nanoTime()
        stack = stack.tail; current = stack.headOption.orNull
      }
    }

  /** Root span of operation `idx`; also resets the per-op job clock. */
  def operation[T](idx: Int, kind: String)(body: => T): T =
    if (!on) body
    else {
      op = idx; tracing = true
      jobWindows.synchronized(jobWindows.clear())
      try span(s"op.$kind")(body)
      finally {
        tracing = false; op = -1
        val root = spans.filter(s => s.op == idx && s.parent == -1).last
        // wall time of the op spent with no Spark job running
        val wallMs = (root.end - root.start) / 1e6
        root.add("spark.driver_only_ms", math.max(0.0, wallMs - jobUnionMs()))
      }
    }

  /** Add a counter to the innermost open span. */
  def attr(name: String, v: Double): Unit =
    if (tracing && stack.nonEmpty) stack.head.add(name, v)

  private val jobWindows = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStartMs = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private def jobUnionMs(): Double = {
    val w = jobWindows.synchronized(jobWindows.sortBy(_._1).toList)
    var total = 0L; var hiEnd = Long.MinValue
    w.foreach { case (s, e) =>
      if (s >= hiEnd) { total += e - s; hiEnd = e }
      else if (e > hiEnd) { total += e - hiEnd; hiEnd = e }
    }
    total.toDouble
  }

  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val execSeen = mutable.Set.empty[(Int, String)]

  private def here: Option[Span] = Option(current)

  private object Engine extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = here.foreach { s =>
      s.add("spark.jobs", 1)
      jobStartMs.put(e.jobId, e.time)
      e.stageIds.foreach(id => stageSpan.put(id, s))
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach { x =>
          if (execSeen.synchronized(execSeen.add((s.op, x)))) s.add("spark.executions", 1)
        }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStartMs.remove(e.jobId)).foreach(st =>
        jobWindows.synchronized(jobWindows += ((st.longValue, e.time))))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).orElse(here)
        .foreach(_.add("spark.stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).orElse(here).foreach { s =>
        s.add("spark.tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          s.add("spark.executor_run_ms", m.executorRunTime.toDouble)
          s.add("spark.executor_cpu_ms", m.executorCpuTime / 1e6)
          s.add("spark.gc_ms", m.jvmGCTime.toDouble)
          s.add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          s.add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          s.add("spark.spill_bytes", m.diskBytesSpilled.toDouble)
          val delay = e.taskInfo.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            e.taskInfo.gettingResultTime
          s.add("spark.scheduler_delay_ms", math.max(0L, delay).toDouble)
        }
      }
  }

  private object Catalyst extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      here.foreach { s =>
        val ph = qe.tracker.phases
        Seq("analysis", "optimization", "planning").foreach(p =>
          ph.get(p).foreach(x => s.add(s"catalyst.${p}_ms", x.durationMs.toDouble)))
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  if (on) {
    spark.sparkContext.addSparkListener(Engine)
    spark.listenerManager.register(Catalyst)
  }

  /** Spans as JSON lines: id, parent, op, name, start/end ns, attrs. */
  def writeSpans(path: java.io.File): Unit = {
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.write(Map(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end, "attrs" -> s.attrs.toMap)))
    } finally w.close()
  }
}

object Json {
  private val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }
  def write(v: Any): String = mapper.writeValueAsString(v)
}
