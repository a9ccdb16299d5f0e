package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.graft.{MetricsBridge, TaskMetricsTap}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts every finished Spark job. Installed in every run: the
  * cache-honesty guard compares job counts between measured units. */
final class JobCounter extends SparkListener {
  private val n = new AtomicLong
  override def onJobEnd(e: SparkListenerJobEnd): Unit = n.incrementAndGet()
  def get: Long = n.get
}

/** One SQL execution seen by the [[QueryExecutionListener]]: its
  * duration, and the output path when it was a file write. */
final case class Execution(durationNs: Long, outputPath: Option[String])

/** The listeners of the traced run: the drain-fenced task-metrics tap,
  * and every SQL execution (also those a streaming query runs in its
  * own cloned session). Nothing inside the program is instrumented. */
final class Taps(spark: SparkSession, val jobs: JobCounter) {
  private val sc = spark.sparkContext
  val tasks: TaskMetricsTap = MetricsBridge.install(sc)
  private val execs = new ConcurrentLinkedQueue[Execution]

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      execs.add(Execution(durationNs, outputPath(qe)))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  })

  private def outputPath(qe: QueryExecution): Option[String] =
    qe.analyzed.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString }

  /** Deliver every queued listener event, then read all counters. */
  def snapshot(): Snapshot = {
    MetricsBridge.drain(sc)
    val m = tasks.snapshot()
    Snapshot(System.nanoTime(), m(5), m(0), m(2) + m(3), m(4), jobs.get)
  }

  /** Executions delivered since the last call (callers fence with [[snapshot]]). */
  def takeExecutions(): Seq[Execution] =
    Iterator.continually(execs.poll()).takeWhile(_ != null).toSeq
}

/** Cumulative counters at one instant: (time, cpu ns, shuffle bytes read,
  * spill bytes, gc ms, jobs). */
final case class Snapshot(ns: Long, cpuNs: Long, shuffleBytes: Long, spillBytes: Long,
                          gcMs: Long, jobs: Long)

/** A closed span: a layer call made by the benchmark, with the counter
  * deltas over its interval and any counts noted inside it. */
final case class Span(id: Int, name: String, parent: Int, unit: Int,
                      start: Snapshot, end: Snapshot, notes: Map[String, Double]) {
  def wallS: Double = (end.ns - start.ns) / 1e9
}

/** In-memory span recorder. Spans nest by call order; each opens and
  * closes with a drain-fenced [[Snapshot]], so task metrics of its jobs
  * land inside it. The whole record is written once, at the end. */
final class Tracer(val taps: Taps, val cores: Int) {
  private val closed = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[(Int, String, Int, Snapshot, mutable.Map[String, Double])]()
  private var nextId = 0

  def span[T](name: String, unit: Int)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open.push((id, name, unit, taps.snapshot(), mutable.Map()))
    try body
    finally {
      val (_, _, _, start, notes) = open.pop()
      closed += Span(id, name, parent, unit, start, taps.snapshot(), notes.toMap)
    }
  }

  /** Attach a count to the innermost open span. */
  def note(key: String, value: Double): Unit = open.head._5(key) = value

  def spans: Seq[Span] = closed.toSeq.sortBy(_.id)

  /** Duration minus the part of the interval its child spans cover. */
  def selfS(s: Span): Double = {
    val kids = closed.toSeq.filter(_.parent == s.id).map(k => (k.start.ns, k.end.ns))
    val covered = Stats.unionLength(kids)
    s.wallS - covered / 1e9
  }

  /** The standard per-span metrics (time, task-metric deltas, jobs, busy
    * share) plus the span's notes, keyed by `name`. Layer spans have no
    * children, so their self time is their time; the trace keeps it. */
  def metricsOf(s: Span, timeKey: String, timeScale: Double): Seq[(String, Double)] = {
    val wall = s.wallS
    val cpu = (s.end.cpuNs - s.start.cpuNs) / 1e9
    Seq(
      timeKey -> wall * timeScale,
      s"${s.name}.cpu_s" -> cpu,
      s"${s.name}.shuffle_bytes" -> (s.end.shuffleBytes - s.start.shuffleBytes).toDouble,
      s"${s.name}.spill_bytes" -> (s.end.spillBytes - s.start.spillBytes).toDouble,
      s"${s.name}.gc_ms" -> (s.end.gcMs - s.start.gcMs).toDouble,
      s"${s.name}.jobs" -> (s.end.jobs - s.start.jobs).toDouble,
      s"${s.name}.busy_share" -> (if (wall > 0) cpu / (wall * cores) else 0.0)
    ) ++ s.notes.toSeq.map { case (k, v) => s"${s.name}.$k" -> v }
  }

  /** Every span as a JSON-ready record. */
  def records: Seq[ListMap[String, Any]] = spans.map { s =>
    ListMap(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "unit" -> s.unit,
      "start_ms" -> s.start.ns / 1e6, "end_ms" -> s.end.ns / 1e6,
      "self_ms" -> selfS(s) * 1e3,
      "cpu_s" -> (s.end.cpuNs - s.start.cpuNs) / 1e9,
      "jobs" -> (s.end.jobs - s.start.jobs),
      "notes" -> s.notes)
  }
}

object Tracer {
  def apply(spark: SparkSession, jobs: JobCounter, cores: Int): Tracer =
    new Tracer(new Taps(spark, jobs), cores)
}
