package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory tracer for the benchmark.
  *
  * A span wraps one call the benchmark makes into a layer's public
  * function (`call`), one sink action (`sink`), one output check
  * (`check`) or one whole operation (`op`). Spans record name, kind,
  * start, end, parent and op id. While a span is open its id rides the
  * Spark thread-local property [[Prop]], so every job launched inside
  * it — including jobs the stream thread launches inside a
  * foreachBatch span — is attributed to the innermost open span.
  * Engine counters come from a `SparkListener`, Catalyst phase times
  * from a `QueryExecutionListener` and micro-batch phase times from a
  * `StreamingQueryListener`. Everything stays in memory until
  * [[report]] and [[writeJson]] at the end of the run.
  *
  * With tracing off every wrapper just runs its body.
  */
object Trace {
  val Prop = "perfbench.span"

  final case class Span(id: Int, name: String, kind: String, parent: Int,
                        op: Long, thread: String, start: Long) {
    @volatile var end: Long = 0L
    def durNs: Long = end - start
  }

  /** Counters kept per span id (the listener side). */
  final class Counters {
    val jobs = new AtomicLong
    val tasks = new AtomicLong
    val shuffleWrite = new AtomicLong
    val spill = new AtomicLong
    val bytesWritten = new AtomicLong
  }

  @volatile private var enabled = false
  @volatile var opId: Long = -1L
  private val nextId = new AtomicInteger
  private val spans = mutable.ArrayBuffer[Span]()
  private val open = new ThreadLocal[Span]
  private val perSpan = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  private val totals = new ConcurrentHashMap[String, AtomicLong]()
  private val streamMs = new ConcurrentHashMap[String, AtomicLong]()
  private val planNs = new AtomicLong
  private val storagePeak = new AtomicLong
  private var sc: SparkContext = _

  private def add(m: ConcurrentHashMap[String, AtomicLong], k: String, v: Long): Unit =
    m.computeIfAbsent(k, _ => new AtomicLong).addAndGet(v): Unit
  private def total(k: String): Long = Option(totals.get(k)).fold(0L)(_.get)
  private def counters(id: Int): Counters = perSpan.computeIfAbsent(id, _ => new Counters)

  /** Forget everything recorded so far (a fresh set-up repetition). */
  def reset(): Unit = spans.synchronized {
    spans.clear(); perSpan.clear(); stageSpan.clear(); stageSubmit.clear()
    totals.clear(); streamMs.clear(); planNs.set(0); storagePeak.set(0)
  }

  /** Register the three listeners on `spark` and start recording. */
  def attach(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(new EngineListener)
    spark.listenerManager.register(new PlanListener)
    spark.streams.addListener(new StreamListener)
    enabled = true
  }

  /** Time spent in output checks, traced or not; set-up time excludes it. */
  val checkNs = new AtomicLong

  def call[T](name: String)(body: => T): T = span(name, "call")(body)
  def sink[T](name: String)(body: => T): T = span(name, "sink")(body)
  def check[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try span(name, "check")(body) finally checkNs.addAndGet(System.nanoTime() - t0)
  }
  def op[T](name: String)(body: => T): T = span(name, "op")(body)

  private def span[T](name: String, kind: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = open.get
      val s = Span(nextId.incrementAndGet(), name, kind,
        if (parent == null) -1 else parent.id, opId,
        Thread.currentThread().getName, System.nanoTime())
      spans.synchronized { spans += s }
      open.set(s)
      val prev = sc.getLocalProperty(Prop)
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        open.set(parent)
        sc.setLocalProperty(Prop, prev)
        if (kind == "sink") sampleStorage()
      }
    }

  private def sampleStorage(): Unit = {
    val used = sc.getExecutorMemoryStatus.values.map { case (max, rem) => max - rem }.sum
    storagePeak.accumulateAndGet(used, math.max): Unit
  }

  private final class EngineListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add(totals, "jobs", 1)
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toInt)
      sid match {
        case Some(id) =>
          counters(id).jobs.incrementAndGet()
          e.stageIds.foreach(st => stageSpan.put(st, id))
        case None => add(totals, "unattributed_jobs", 1)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmit.put(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add(totals, "stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add(totals, "tasks", 1)
      if (e.taskInfo.attemptNumber > 0) add(totals, "task_retries", 1)
      Option(stageSubmit.get(e.stageId)).foreach(t =>
        add(totals, "sched_wait_ms", math.max(0L, e.taskInfo.launchTime - t)))
      val m = e.taskMetrics
      val span = Option(stageSpan.get(e.stageId)).map(counters)
      span.foreach(_.tasks.incrementAndGet())
      if (m != null) {
        val shuffle = m.shuffleWriteMetrics.bytesWritten
        val spill = m.memoryBytesSpilled + m.diskBytesSpilled
        add(totals, "task_cpu_ns", m.executorCpuTime)
        add(totals, "shuffle_write_bytes", shuffle)
        add(totals, "spill_bytes", spill)
        span.foreach { c =>
          c.shuffleWrite.addAndGet(shuffle); c.spill.addAndGet(spill)
          c.bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
        }
      }
    }
  }

  private final class PlanListener extends QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val ps = qe.tracker.phases
      Seq("analysis", "optimization", "planning").flatMap(ps.get)
        .foreach(p => planNs.addAndGet(p.durationMs * 1000000L))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  private final class StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      e.progress.durationMs.asScala.foreach { case (k, v) => add(streamMs, k, v.longValue) }
  }

  val StreamPhases: Seq[String] =
    Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "triggerExecution")

  /** Every per-layer number of the run, keyed `<span>.<counter>` plus
    * the engine totals. Drains the listener bus first. */
  def report(): mutable.LinkedHashMap[String, Double] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    val all = spans.synchronized(spans.toVector)
    val childNs = mutable.Map[Int, Long]().withDefaultValue(0L)
    all.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.durNs)
    val out = mutable.LinkedHashMap[String, Double]()
    def put(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v
    var spanJobs = 0L
    var callJobs = 0L
    for (s <- all) {
      val c = counters(s.id)
      spanJobs += c.jobs.get
      s.kind match {
        case "call" =>
          callJobs += c.jobs.get
          put(s"${s.name}.calls", 1)
          put(s"${s.name}.self_ms", (s.durNs - childNs(s.id)) / 1e6)
          put(s"${s.name}.jobs", c.jobs.get.toDouble)
        case "sink" =>
          put(s"${s.name}.calls", 1)
          put(s"${s.name}.exec_ms", s.durNs / 1e6)
          put(s"${s.name}.jobs", c.jobs.get.toDouble)
          put(s"${s.name}.tasks", c.tasks.get.toDouble)
          put(s"${s.name}.shuffle_write_bytes", c.shuffleWrite.get.toDouble)
          put(s"${s.name}.spill_bytes", c.spill.get.toDouble)
          put(s"${s.name}.bytes_written", c.bytesWritten.get.toDouble)
        case "check" =>
          put("check.jobs", c.jobs.get.toDouble)
          put("check.self_ms", (s.durNs - childNs(s.id)) / 1e6)
        case _ =>
          put("op.jobs", c.jobs.get.toDouble)
      }
    }
    val jobs = total("jobs")
    out("spark.jobs") = jobs.toDouble
    out("spark.span_jobs") = spanJobs.toDouble
    out("spark.unattributed_jobs") = total("unattributed_jobs").toDouble
    out("spark.stages") = total("stages").toDouble
    out("spark.tasks") = total("tasks").toDouble
    out("spark.task_retries") = total("task_retries").toDouble
    out("spark.task_cpu_ms") = total("task_cpu_ns") / 1e6
    out("spark.sched_wait_ms") = total("sched_wait_ms").toDouble
    out("spark.shuffle_write_bytes") = total("shuffle_write_bytes").toDouble
    out("spark.spill_bytes") = total("spill_bytes").toDouble
    out("spark.build_job_share") = if (jobs == 0) 0.0 else callJobs.toDouble / jobs
    out("spark.storage_peak_mb") = storagePeak.get / 1048576.0
    out("catalyst.plan_ms") = planNs.get / 1e6
    StreamPhases.foreach(p =>
      out(s"streaming.${p}_ms") = Option(streamMs.get(p)).fold(0L)(_.get).toDouble)
    out
  }

  /** The raw spans, for offline inspection. */
  def writeJson(path: String, metrics: collection.Map[String, Double]): Unit = {
    val all = spans.synchronized(spans.toVector)
    val sb = new StringBuilder("{\"spans\": [\n")
    sb ++= all.map { s =>
      val c = counters(s.id)
      s"""{"id": ${s.id}, "name": "${s.name}", "kind": "${s.kind}", """ +
        s""""parent": ${s.parent}, "op": ${s.op}, "thread": "${Json.esc(s.thread)}", """ +
        s""""start_ns": ${s.start}, "end_ns": ${s.end}, "jobs": ${c.jobs.get}, """ +
        s""""tasks": ${c.tasks.get}}"""
    }.mkString(",\n")
    sb ++= "],\n\"counters\": " + Json.obj(metrics) + "}\n"
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, sb.toString.getBytes("UTF-8")): Unit
  }
}
