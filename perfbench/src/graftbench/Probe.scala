package graftbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, PreparedStatement}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.DoubleAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.{HttpTransport, TransportFactory, VcoSource}

/** Outside-in layer counters: every number comes from timing or
  * counting calls at a layer's public boundary, never from inside the
  * program. One object holds all four probes:
  *
  *  - [[Probe.CountingTransport]] wraps the JSON-RPC Transport
  *    (`sources`);
  *  - [[Probe.ProxyDriver]] is a JDBC driver for `jdbc:probe:<url>` that
  *    delegates to the real driver and times batches, commits and
  *    connection opens (`sinks`);
  *  - [[Probe.Scheduler]] is a SparkListener (`spark.*`);
  *  - [[Probe.Catalyst]] is a QueryExecutionListener (analysis,
  *    optimization and planning time).
  *
  * Counters are read only after [[org.apache.spark.BenchBridge]] has
  * drained the listener bus.
  */
object Probe {

  private val counters = new ConcurrentHashMap[String, DoubleAdder]()

  def add(name: String, v: Double): Unit =
    counters.computeIfAbsent(name, _ => new DoubleAdder).add(v)

  def snapshot(): Map[String, Double] =
    counters.asScala.map { case (k, v) => k -> v.sum() }.toMap

  def delta(before: Map[String, Double],
      after: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }

  /** A span on a task thread: parented to its stage, which
    * [[Trace.resolve]] later maps onto the stage's job.
    */
  private def taskSpan[T](layer: String, name: String)(body: => T): T =
    if (!Trace.on) body
    else {
      val tc = TaskContext.get()
      val parent = if (tc == null) Trace.currentId else -(tc.stageId().toLong + 1)
      val t0 = System.nanoTime()
      try body
      finally Trace.record(Trace.Span(Trace.newId(), parent, layer, name,
        t0, System.nanoTime()))
    }

  // ------------------------------------------------------------ sources

  /** Times and counts every Transport call. A call that repeats the
    * (method, params) of a failed call is a retry.
    */
  class CountingTransport(inner: VcoSource.Transport)
      extends VcoSource.Transport {
    override def call(method: String,
        paramsJson: String): Either[String, Seq[String]] =
      taskSpan("sources", method) {
        val key = method + "\u0000" + paramsJson
        if (Probe.failed.remove(key) != null) add("sources.retries", 1)
        val t0 = System.nanoTime()
        val res = inner.call(method, paramsJson)
        add("sources.call_ms", (System.nanoTime() - t0) / 1e6)
        add("sources.calls", 1)
        res match {
          case Right(lines) => add("sources.bytes", lines.map(_.length + 1).sum)
          case Left(_) =>
            add("sources.errors", 1)
            Probe.failed.put(key, java.lang.Boolean.TRUE)
        }
        res
      }
  }

  private val failed = new ConcurrentHashMap[String, java.lang.Boolean]()

  /** Forget failed calls, so a call in the next phase is not a retry. */
  def forgetFailures(): Unit = failed.clear()

  /** Where the transports point; set once the fixture server is up. */
  @volatile var endpoint: String = ""
  val Token = "bench-token"

  def transport(path: String = ""): VcoSource.Transport =
    new CountingTransport(new HttpTransport(endpoint + path, Token))

  /** Zero-arg factory the `graft-vco` DSv2 reader instantiates. */
  class Factory extends TransportFactory {
    override def create(): VcoSource.Transport = transport()
  }

  // -------------------------------------------------------------- sinks

  val ProxyPrefix = "jdbc:probe:"
  private val TableOf = "(?is)\\s*(?:MERGE|INSERT)\\s+(?:IGNORE\\s+)?INTO\\s+(\\w+).*".r
  private val writeTasks = ConcurrentHashMap.newKeySet[java.lang.Long]()

  class ProxyDriver extends Driver {
    override def acceptsURL(url: String): Boolean =
      url != null && url.startsWith(ProxyPrefix)
    override def connect(url: String,
        info: java.util.Properties): Connection =
      if (!acceptsURL(url)) null
      else {
        val tc = TaskContext.get()
        if (tc != null && !writeTasks.add(tc.taskAttemptId())) add("sinks.reconnects", 1)
        else if (tc != null) add("sinks.write_tasks", 1)
        val t0 = System.nanoTime()
        val c = DriverManager.getConnection("jdbc:" + url.stripPrefix(ProxyPrefix), info)
        add("sinks.jdbc_ms", (System.nanoTime() - t0) / 1e6)
        proxy(classOf[Connection], c, new ConnHandler(c))
      }
    override def getMajorVersion: Int = 1
    override def getMinorVersion: Int = 0
    override def getPropertyInfo(url: String,
        info: java.util.Properties): Array[DriverPropertyInfo] = Array.empty
    override def jdbcCompliant(): Boolean = false
    override def getParentLogger: java.util.logging.Logger =
      java.util.logging.Logger.getGlobal
  }

  private def proxy[T](cls: Class[T], target: AnyRef, h: InvocationHandler): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](cls), h)
      .asInstanceOf[T]

  private def invoke(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  private def timed(table: String, body: => AnyRef): AnyRef = {
    val t0 = System.nanoTime()
    try body
    finally {
      val ms = (System.nanoTime() - t0) / 1e6
      add("sinks.jdbc_ms", ms)
      add(s"sinks.table_ms.$table", ms)
    }
  }

  private class ConnHandler(c: Connection) extends InvocationHandler {
    @volatile private var table = "unknown"
    override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
      m.getName match {
        case "prepareStatement" =>
          args(0).asInstanceOf[String] match {
            case TableOf(t) => table = t
            case _ => ()
          }
          val t = table
          val ps = timed(t, Probe.invoke(c, m, args)).asInstanceOf[PreparedStatement]
          proxy(classOf[PreparedStatement], ps, new StmtHandler(ps, t))
        case "commit" =>
          taskSpan("sinks", s"commit $table")(timed(table, Probe.invoke(c, m, args)))
        case _ => Probe.invoke(c, m, args)
      }
  }

  private class StmtHandler(ps: PreparedStatement, table: String)
      extends InvocationHandler {
    private var pending = 0
    override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
      m.getName match {
        case "addBatch" => pending += 1; Probe.invoke(ps, m, args)
        case "executeBatch" =>
          add("sinks.batches", 1)
          add("sinks.rows_sent", pending)
          pending = 0
          taskSpan("sinks", s"batch $table")(timed(table, Probe.invoke(ps, m, args)))
        case _ => Probe.invoke(ps, m, args)
      }
  }

  /** Registers the proxy driver once per JVM. */
  lazy val registerDriver: Unit = DriverManager.registerDriver(new ProxyDriver)

  // -------------------------------------------------------------- spark

  private val JobSpanBase: Long = 1L << 40
  private val stageJob = new ConcurrentHashMap[java.lang.Long, java.lang.Long]()
  def jobSpanOfStage(stageId: Long): Long =
    Option(stageJob.get(stageId)).map(j => JobSpanBase + j).getOrElse(0L)

  class Scheduler extends SparkListener {
    private val jobStart = new ConcurrentHashMap[Integer, (Long, Long)]()
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      add("spark.jobs", 1)
      j.stageIds.foreach(s => stageJob.put(s.toLong, j.jobId.toLong))
      val parent = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .flatMap(_.toLongOption).getOrElse(0L)
      jobStart.put(j.jobId, (parent, System.nanoTime()))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(j.jobId)).foreach { case (parent, t0) =>
        // job start and end reach the bus moments after the scheduler
        // acts; both ends see the same delay, so the span is its length
        Trace.record(Trace.Span(JobSpanBase + j.jobId, parent, "spark",
          s"job ${j.jobId}", t0, System.nanoTime()))
      }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      add("spark.stages", 1)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      add("spark.tasks", 1)
      val m = t.taskMetrics
      if (m != null) {
        add("spark.task_run_ms", m.executorRunTime)
        add("spark.task_cpu_ms", m.executorCpuTime / 1e6)
        add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  class Catalyst extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum
      add("spark.catalyst_ms", ms.toDouble)
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }
}
