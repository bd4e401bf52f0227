package graftbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** A query workload: registered queries run back to back over the
  * seeded tables in `dataDir`. Each query is timed in two parts: the
  * query-function call (eager build work done before the final plan
  * exists) and the write of its result (execution). Every timed result
  * is written as parquet, so the benchmark checks each one against the
  * DuckDB oracle afterwards.
  */
class Queries(spark: SparkSession, dataDir: String, outDir: String,
    val names: Seq[String]) {

  private val fns = names.map(n => n -> SparkEntry.queries.getOrElse(n,
    throw new IllegalArgumentException(s"unknown query $n")))

  def oracles: Map[String, String] =
    SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }

  /** One pass over every query; `reset` runs untimed between queries
    * and `failed` receives each query that throws. Returns the timed
    * seconds of the pass.
    */
  def pass(index: Int, reset: () => Unit, failed: String => Unit): Double =
    fns.map { case (name, fn) =>
      reset()
      val before = Probe.snapshot()
      val t0 = System.nanoTime()
      try Trace.span("query", name) {
        val df = Trace.span("queries.build", name)(fn(spark, dataDir))
        val t1 = System.nanoTime()
        Probe.add(s"queries.$name.build_ms", (t1 - t0) / 1e6)
        df.write.mode("overwrite").parquet(s"$outDir/$name/p$index")
        Probe.add(s"queries.$name.exec_ms", (System.nanoTime() - t1) / 1e6)
      } catch { case scala.util.control.NonFatal(e) => failed(s"$name p$index: $e") }
      val secs = (System.nanoTime() - t0) / 1e9
      org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
      val d = Probe.delta(before, Probe.snapshot())
      Probe.add(s"queries.$name.jobs", d.getOrElse("spark.jobs", 0.0))
      Probe.add(s"queries.$name.task_cpu_ms", d.getOrElse("spark.task_cpu_ms", 0.0))
      secs
    }.sum
}
