package graft.perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Layer spans of the traced run: name, start, end, parent span and job
  * id, kept in memory and written out when the run ends. Self time is a
  * span's duration minus its children's. */
final class Trace {
  final class Span(val name: String, val parent: Int, val job: Int, val start: Long) {
    var end: Long = start
    def ms: Double = (end - start) / 1e6
  }
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var jobId = -1
  val counters = mutable.LinkedHashMap.empty[String, Double]
  val reasons = mutable.LinkedHashMap.empty[String, Int]

  /** A root span: one traced job. */
  def job[T](f: => T): T = { jobId += 1; span("job")(f) }

  def span[T](name: String)(f: => T): T = {
    val s = new Span(name, stack.headOption.getOrElse(-1), jobId, System.nanoTime())
    spans += s
    stack = (spans.length - 1) :: stack
    try f finally { s.end = System.nanoTime(); stack = stack.tail }
  }

  def add(name: String, v: Double): Unit = counters(name) = counters.getOrElse(name, 0.0) + v
  def jobs: Int = jobId + 1

  def selfMs(s: Span): Double = {
    val i = spans.indexOf(s)
    s.ms - spans.filter(_.parent == i).map(_.ms).sum
  }
  /** Σ self time of the spans whose name satisfies `p`, in ms. */
  def selfMs(p: String => Boolean): Double = spans.filter(s => p(s.name)).map(selfMs).sum
  def jobMs: Double = spans.filter(_.name == "job").map(_.ms).sum

  def toJson: String = Json.obj("failure_reasons" -> reasons, "spans" -> spans.map { s =>
    mutable.LinkedHashMap("name" -> s.name, "parent" -> s.parent, "job" -> s.job,
      "start_ms" -> s.start / 1e6, "end_ms" -> s.end / 1e6, "self_ms" -> selfMs(s))
  })
}

/** Spark runtime counters from one SparkListener plus one
  * QueryExecutionListener, registered by the benchmark on its session. */
final class RuntimeStats extends SparkListener with QueryExecutionListener {
  private object Plans extends AdaptiveSparkPlanHelper
  private val c = mutable.LinkedHashMap.empty[String, Double]
  private val stageRun = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private var planMark = 0.0

  private def add(k: String, v: Double): Unit = c(k) = c.getOrElse(k, 0.0) + v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(add("jobs", 1))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized(add("stages", 1))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("executor_run_ms", m.executorRunTime)
      add("executor_cpu_ms", m.executorCpuTime / 1e6)
      add("gc_ms", m.jvmGCTime)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("input_bytes", m.inputMetrics.bytesRead)
      add("output_bytes", m.outputMetrics.bytesWritten)
      stageRun.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  private def record(qe: QueryExecution): Unit = {
    val planMs = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    val exchanges = Plans.collect(qe.executedPlan) { case x: ShuffleExchangeLike => x }.size
    synchronized {
      add("plan_ms", planMs)
      add("exchanges", exchanges)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)

  def get(k: String): Double = synchronized(c.getOrElse(k, 0.0))
  def markPlans(): Unit = planMark = get("plan_ms")
  def planMsSinceMark: Double = get("plan_ms") - planMark

  /** max ÷ median executor run time of the tasks in the costliest stage. */
  def taskSkew: Double = synchronized {
    if (stageRun.isEmpty) 0.0
    else {
      val t = stageRun.values.maxBy(_.sum).sorted
      val med = t(t.length / 2).toDouble
      if (med <= 0) 0.0 else t.last / med
    }
  }
  def reset(): Unit = synchronized { c.clear(); stageRun.clear() }
}

/** JSON rendering of result records (maps, sequences, numbers). */
object Json {
  def value(v: Any): String =
    org.json4s.jackson.Serialization.write(v.asInstanceOf[AnyRef])(org.json4s.DefaultFormats)
  def obj(kv: (String, Any)*): String = value(mutable.LinkedHashMap(kv: _*))
}
