package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.graft.MetricsBridge
import org.apache.spark.sql.SparkSession

/** One measured unit: an ETL pass, an ingest batch or a request.
  * `guard` names the cache-honesty rule it broke, if any. */
final case class UnitRec(id: Int, latencyNs: Long, items: Long, jobs: Long,
                         guard: Option[String] = None, traced: Boolean = false) {
  def ms: Double = latencyNs / 1e6
}

/** The measured region: its units and its wall time. */
final case class Region(units: Seq[UnitRec], wallNs: Long)

/** What one run shares with its workload: the session, a private work
  * directory, the seed, the core count and the job counter. */
final class Ctx(val spark: SparkSession, val work: File, val seed: Long,
                val cores: Int, val jobs: JobCounter) {
  private var dirs = 0

  /** A new, empty directory under the run's work directory. */
  def fresh(name: String): String = {
    dirs += 1
    val d = new File(work, s"$name-$dirs")
    require(d.mkdirs(), s"cannot create $d")
    d.getAbsolutePath
  }

  /** Spark jobs finished so far, read once every queued listener event
    * has been delivered: job-end events reach the counter asynchronously,
    * so an unfenced read right after the work can miss its last job. */
  def jobsDone(): Long = {
    MetricsBridge.drain(spark.sparkContext)
    jobs.get
  }

  /** Full GC until the ContextCleaner has released every RDD the
    * collected plans held; returns the persistent-RDD count left. */
  def settle(): Int = {
    val sc = spark.sparkContext
    var prev = -1
    var n = sc.getPersistentRDDs.size
    var rounds = 0
    while (rounds < 20 && n != prev) {
      prev = n
      System.gc()
      Thread.sleep(150)
      n = sc.getPersistentRDDs.size
      rounds += 1
    }
    n
  }

  /** Heap in use, in MB (call right after [[settle]]). */
  def heapMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
}

object Harness {
  def secondsSince(ns: Long): Double = (System.nanoTime() - ns) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secondsSince(t0))
  }

  /** Run units back to back until `seconds` have passed (at least one).
    * After each unit the cache-honesty guard checks that it left no
    * persisted RDD behind and ran as many jobs as the first unit. */
  def serial(ctx: Ctx, seconds: Double, baseline: Int, tracer: Option[Tracer])
            (unit: Int => UnitRec): Region = {
    val out = mutable.ArrayBuffer[UnitRec]()
    val t0 = System.nanoTime()
    while (out.size < minUnits(tracer) || secondsSince(t0) < seconds) {
      val u = unit(out.size)
      val left = ctx.settle() - baseline
      val firstJobs = out.find(_.traced == u.traced).getOrElse(u).jobs
      val guard =
        if (left != 0) Some(s"left $left persisted RDDs")
        else if (u.jobs != firstJobs) Some(s"ran ${u.jobs} jobs, first unit ran $firstJobs")
        else None
      out += u.copy(guard = u.guard.orElse(guard))
    }
    Region(out.toSeq, System.nanoTime() - t0)
  }

  /** A traced run traces every other unit, so that its traced and
    * untraced units spread alike over the region. */
  def alternate(tracer: Option[Tracer], i: Int): Option[Tracer] = tracer.filter(_ => i % 2 == 1)

  /** A region has at least one unit, a traced one also a traced unit. */
  def minUnits(tracer: Option[Tracer]): Int = if (tracer.isDefined) 2 else 1

  /** Total size of the files under `path`. */
  def bytesUnder(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new File(path))
  }

  /** Median of a per-unit quantity over units that have it. */
  def medianOf(values: Iterable[Double]): Double =
    if (values.isEmpty) 0.0 else Stats.median(values.toSeq)
}
