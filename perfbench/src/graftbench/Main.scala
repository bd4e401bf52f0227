package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.BenchBridge
import org.apache.spark.sql.SparkSession

/** Benchmark harness, one workload per process, closed loop: one
  * client runs whole runs back to back until `--seconds` have passed,
  * at least one run. Every run starts from reset state (outside the
  * timed window). The first run of a process is the one a scheduled
  * refresh pays: the JVM is fresh, so it includes the JIT's work.
  *
  * With `--trace 1` the process makes two runs: untraced (its layer
  * counters are reported, comparable with the untraced processes), then
  * traced (its spans give each layer's self time, and the tracer times
  * its own bookkeeping: the tracing overhead). The traced run over the
  * untraced one is the drift ratio: JIT warm-up keeps it below 1, and
  * state that accumulates across runs in one JVM pushes it up; run.py
  * fails the process when late runs read slower than early runs by more
  * than the run-time bound.
  *
  * Prints one `RESULT {json}` line.
  *
  * Usage: graftbench.Main --workload intake|queries
  *   --seconds N --trace 0|1 --work DIR --t0-ms EPOCH_MS
  */
object Main {

  /** The `queries` workload: one registered query per cost class of
    * the profiled heavy gates — driver job cadence (q457, graph-ANN
    * insert then beam serve), compute (q242), a single task (q336),
    * eager driver-side build (q310), and the intake's edge transform
    * at 7.5× the intake's edges with no sink (q47).
    */
  val Queries: Seq[String] = Seq("q457_graph_ann_insert",
    "q242_prefix_filter_join", "q47_edge_gold", "q336_warc_parse",
    "q310_partition_evolution")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Resets the kernel's peak-RSS mark; where that is not allowed the
    * mark stays the process's lifetime peak. */
  private def resetPeakRss(): Unit =
    try Files.writeString(Paths.get("/proc/self/clear_refs"), "5")
    catch { case NonFatal(_) => () }

  /** The program's live memory: heap in use after a full collection
    * plus non-heap (metaspace, code cache). Unlike the resident set,
    * which the fixed-size heap dominates, it grows with what the
    * program keeps, such as cached tables. */
  private def liveMb(): Double = {
    System.gc()
    // Spark's ContextCleaner frees broadcast and shuffle blocks only
    // after a collection has cleared their references; give it time,
    // then collect what it released
    Thread.sleep(250)
    System.gc()
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (mem.getHeapMemoryUsage.getUsed + mem.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  /** One workload: `run` returns the timed seconds of one run and its
    * layer values; `finish` makes the untimed end-of-process checks.
    */
  private trait Workload {
    def run(): (Double, Map[String, Double])
    def finish(): Unit = ()
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val t0Ms = opt("t0-ms").toLong
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val om = new ObjectMapper()

    val spark = graft.Sessions.localBuilder(cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    sc.addSparkListener(new Probe.Scheduler)
    spark.listenerManager.register(new Probe.Catalyst)
    Trace.publish = id =>
      sc.setLocalProperty("spark.jobGroup.id", if (id == 0) null else id.toString)

    def resetSession(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      BenchBridge.drainListeners(sc)
    }

    val failures = ArrayBuffer.empty[String]
    var attempted = 0
    // largest live memory seen at a phase or query boundary of the
    // current run, taken outside the timed window before state reset
    var live = 0.0
    def markLive(): Unit = live = math.max(live, liveMb())
    var fixture: Fixture = null

    def intake(): Workload = {
      val plan = om.readTree(Paths.get(work, "plan.json").toFile)
      val expect = om.readTree(Paths.get(work, "expect.json").toFile)
      fixture = new Fixture(Paths.get(work, "fleet.json"), plan)
      Probe.endpoint = fixture.url
      Probe.registerDriver
      val in = new Intake(spark, fixture, plan, expect)
      in.resetDatabase()
      new Workload {
        def run(): (Double, Map[String, Double]) = {
          in.resetDatabase()
          fixture.resetAttempts()
          resetSession()
          var total = 0.0
          val layers = scala.collection.mutable.Map.empty[String, Double]
          var prev: Option[in.Snap] = None
          val runBefore = Probe.snapshot()
          for ((gen, name) <- Seq("A" -> "load", "B" -> "refresh")) {
            attempted += 1
            val before = Probe.snapshot()
            try {
              val secs = in.phase(gen)
              markLive()
              BenchBridge.drainListeners(sc)
              total += secs
              val d = Probe.delta(before, Probe.snapshot())
              d.foreach { case (k, v) =>
                if (!k.startsWith("spark.")) layers(s"$k.$name") = v
              }
              layers(s"${name}_s") = secs
              layers(s"sources.calls_per_vco.$name") =
                d.getOrElse("sources.calls", 0.0) / in.vcoCount
              layers(s"sinks.useful_ratio.$name") =
                in.usefulRows(name) / math.max(1.0, d.getOrElse("sinks.rows_sent", 0.0))
              val snap = in.snapshot()
              val bad = in.check(name, snap, prev)
              if (bad.nonEmpty) {
                failures += s"$name: ${bad.mkString("; ")}"
                return (total, layers.toMap)
              }
              prev = Some(snap)
            } catch {
              case NonFatal(e) =>
                failures += s"$name: $e"
                return (total, layers.toMap)
            }
          }
          layers ++= Probe.delta(runBefore, Probe.snapshot()).filter(_._1.startsWith("spark."))
          (total, layers.toMap)
        }
        // one untimed replay of generation B must change zero rows; it
        // costs a whole phase, so only the traced process makes it
        override def finish(): Unit = if (traced) {
          attempted += 1
          try {
            val refreshed = in.snapshot()
            in.phase("B")
            val replay = in.snapshot()
            val changed = in.Tables.map(t => t -> in.changedKeys(refreshed, replay, t).size)
              .filter(_._2 != 0)
            if (changed.nonEmpty) failures += s"replay of B changed rows: $changed"
          } catch { case NonFatal(e) => failures += s"replay: $e" }
        }
      }
    }

    def queries(): Workload = {
      val q = new Queries(spark, s"$work/data", s"$work/out", Queries)
      Files.writeString(Paths.get(work, "oracles.json"),
        om.writeValueAsString(q.oracles.asJava))
      var index = 0
      new Workload {
        def run(): (Double, Map[String, Double]) = {
          val before = Probe.snapshot()
          attempted += q.names.size
          // the first mark sees the state the previous run left
          val secs = q.pass(index, () => { markLive(); resetSession() }, failures += _)
          markLive()
          index += 1
          BenchBridge.drainListeners(sc)
          (secs, Probe.delta(before, Probe.snapshot()))
        }
      }
    }

    try {
      val w = if (workload == "intake") intake() else queries()
      // engine warm-up: session start-up and a first shuffle job
      spark.range(0, 100000).selectExpr("id % 7 AS k", "id")
        .groupBy("k").count().collect()
      resetSession()
      val setupS = (System.currentTimeMillis() - t0Ms) / 1000.0

      val runS = ArrayBuffer.empty[Double]
      val rss = ArrayBuffer.empty[Double]
      val lives = ArrayBuffer.empty[Double]
      val layers = ArrayBuffer.empty[Map[String, Double]]
      var tracedS = 0.0
      var self = Map.empty[String, Double]
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var i = 0
      while (if (traced) i < 2 else i == 0 || System.nanoTime() < deadline) {
        val tracedRun = traced && i == 1
        Trace.on = tracedRun
        resetPeakRss()
        live = 0.0
        val (secs, l) =
          if (tracedRun) Trace.span("run", s"run $i")(w.run()) else w.run()
        // job spans arrive through the listener bus: drain it first
        BenchBridge.drainListeners(sc)
        Trace.on = false
        rss += peakRssMb()
        if (tracedRun) {
          tracedS = secs
          Trace.resolve(Probe.jobSpanOfStage)
          self = Trace.selfMs(Trace.all)
        } else {
          runS += secs
          lives += live
          layers += l + ("spark.core_util" ->
            l.getOrElse("spark.task_run_ms", 0.0) / (secs * 1000 * cores))
        }
        i += 1
      }
      w.finish()

      val perLayer: Map[String, Double] =
        if (!traced) Map.empty
        else {
          Trace.writeJsonl(Paths.get(work, "spans.jsonl"))
          layers.head ++ self.map { case (k, v) => s"self_ms.$k" -> v } ++ Map(
            "trace.overhead_s" -> Trace.bookkeepingS,
            "drift.late_over_early" -> tracedS / runS(0))
        }
      val result = Map(
        "attempted" -> attempted,
        "failures" -> failures.toSeq,
        "runs" -> runS.toSeq,
        // every run in order, the traced one too: the drift check's input
        "run_seq" -> (if (traced) runS.toSeq :+ tracedS else runS.toSeq),
        "end_to_end" -> Map(
          "setup_s" -> setupS,
          "run_s" -> median(runS.toSeq),
          "peak_rss_mb" -> median(rss.toSeq),
          "live_mb" -> median(lives.toSeq)),
        "per_layer" -> perLayer)
      println("RESULT " + new ObjectMapper()
        .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
        .writeValueAsString(result))
    } finally {
      if (fixture != null) fixture.stop()
      spark.stop()
    }
  }
}
