package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.SparkSession

/** The pinned expectations of the ETL check (`run.py --pin` writes them). */
final case class Pinned(u1Sha256: String, u1Rows: Long, u2: Seq[Long])

object Pinned {
  def load(path: String): Pinned = {
    val n = new ObjectMapper().readTree(new File(path))
    Pinned(n.get("u1_sha256").asText, n.get("u1_rows").asLong,
      n.get("u2").elements().asScala.map(_.asLong).toSeq)
  }
}

/** Metric names and units, as BENCHMARK.json declares them. */
final case class Declared(endToEnd: Seq[(String, String)], perLayer: Seq[(String, String)])

object Declared {
  def load(path: String): Declared = {
    val n = new ObjectMapper().readTree(new File(path))
    def list(key: String) = n.get(key).elements().asScala
      .map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    Declared(list("end_to_end"), list("per_layer"))
  }
}

/** Runs one workload in this JVM and prints, as the last stdout line, the
  * result object; a `detail` line (and in a traced run a `trace` line)
  * precede it. Launched by run.py, which owns building, the work
  * directory and its removal. */
object Main {
  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Write the ETL inputs and the DuckDB oracle SQL of the u1/u2 queries,
    * for `run.py --pin`. */
  def emitInputs(dir: String): Unit = {
    val spark = session(2, new File(dir))
    try {
      Inputs.writeCustomer(spark, dir)
      Seq("u1_unified_pipeline", "u2_quality_report").foreach { q =>
        Files.write(new File(dir, s"$q.sql").toPath,
          graft.queries.PipelineQueries.oracles(q).getBytes(UTF_8))
      }
    } finally spark.stop()
  }

  /** Halt when the launching process is gone, so that a killed run.py
    * never leaves a JVM behind. */
  private def exitWithParent(): Unit = {
    val parent = ProcessHandle.current().parent()
    val t = new Thread(() => {
      while (parent.map[Boolean](_.isAlive).orElse(false)) Thread.sleep(500)
      Runtime.getRuntime.halt(3)
    })
    t.setDaemon(true)
    t.start()
  }

  def main(args: Array[String]): Unit = {
    exitWithParent()
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (a.contains("emit-inputs")) { emitInputs(a("emit-inputs")); return }
    val work = new File(a("work"))
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val declared = Declared.load(a("benchmark"))

    val spark = session(cores, work)
    val jobs = new JobCounter
    spark.sparkContext.addSparkListener(jobs)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val ctx = new Ctx(spark, work, seed, cores, jobs)
    val w: Workload = name match {
      case "etl_batch" => new EtlBatch(ctx, Pinned.load(a("pinned")))
      case "ingest_stream" => new IngestStream(ctx)
      case "api_serve" => new ApiServe(ctx, traced)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val ok = try run(w, ctx, name, seconds, traced, sessionS, declared) finally {
      w.close()
      spark.stop()
    }
    sys.exit(if (ok) 0 else 1)
  }

  private def run(w: Workload, ctx: Ctx, name: String, seconds: Double, traced: Boolean,
                  sessionS: Double, declared: Declared): Boolean = {
    // set-up: inputs once, the base state `buildReps` times (median), warm-up
    val (_, inputsS) = Harness.timed(w.inputs())
    val builds = (1 to w.buildReps).map(_ => Harness.timed(w.build())._2)
    val (warmUnits, warmupS) = Harness.timed(w.warmup())
    val setupS = sessionS + inputsS + Stats.median(builds) + warmupS
    val baseline = ctx.settle()

    // measured region; a traced run traces every other unit
    val tracer = if (traced) Some(Tracer(ctx.spark, ctx.jobs, ctx.cores)) else None
    val region = w.measure(seconds, tracer, baseline)
    val untraced = region.copy(units = region.units.filterNot(_.traced))
    val tracedRegion = tracer.map(_ => region.copy(units = region.units.filter(_.traced)))
    val persistedEnd = ctx.settle() - baseline
    val heapMb = ctx.heapMb()

    // output checks, after every timing
    val (failures, checkS) = Harness.timed(w.check())
    val units = region.units
    val failedIds = failures.map(_._1).toSet
    val regionFailed = failedIds.contains(Workload.WholeRegion) || persistedEnd != 0
    val failedUnits = units.filter(u => regionFailed || u.guard.isDefined || failedIds.contains(u.id))
    val correct = failures.isEmpty && failedUnits.isEmpty && persistedEnd == 0

    val ms = untraced.units.map(_.ms)
    val (tailLabel, tailMs) = Stats.tail(ms)
    val endToEnd = Map(
      "setup_s" -> setupS,
      "latency_p50_ms" -> Stats.median(ms),
      "latency_tail_ms" -> tailMs,
      "throughput_per_s" -> w.throughput(untraced),
      "retained_heap_mb" -> heapMb)
    val perLayer = (tracer, tracedRegion) match {
      case (Some(t), Some(tr)) =>
        (w.perLayer(t) :+ ("trace.overhead_ms" ->
          (Stats.median(tr.units.map(_.ms)) - Stats.median(ms)))).toMap
      case _ => Map.empty[String, Double]
    }

    println(Json(ListMap("detail" -> ListMap(
      "workload" -> name, "seed" -> ctx.seed, "cores" -> ctx.cores, "traced" -> traced,
      "setup" -> ListMap("session_s" -> sessionS, "inputs_s" -> inputsS, "builds_s" -> builds,
        "warmup_s" -> warmupS, "warmup_units" -> warmUnits),
      "units" -> untraced.units.size, "unit_ms" -> ms,
      "traced_units" -> tracedRegion.map(_.units.size).getOrElse(0),
      "tail_percentile" -> tailLabel, "items" -> w.itemName,
      "named" -> ListMap(w.named(untraced) ++ Seq(
        "setup_s" -> setupS,
        "failed_share" -> failedUnits.size.toDouble / units.size,
        "retained_heap_mb" -> heapMb,
        "persisted_rdds_end" -> persistedEnd): _*),
      "guard" -> units.flatMap(u => u.guard.map(g => s"unit ${u.id}: $g")).take(20),
      "failures" -> failures.map(_._2).take(20),
      "check_s" -> checkS))))
    tracer.foreach(t => println(Json(ListMap("trace" -> ListMap(
      "workload" -> name, "cores" -> ctx.cores, "spans" -> t.records)))))

    // every declared metric; a layer this workload never calls reads 0
    val metrics = if (traced) declared.perLayer.map { case (n, u) => n -> (perLayer.getOrElse(n, 0.0), u) }
                  else declared.endToEnd.map { case (n, u) => n -> (endToEnd(n), u) }
    val undeclared = perLayer.keySet -- declared.perLayer.map(_._1)
    require(undeclared.isEmpty, s"per-layer metrics missing from BENCHMARK.json: $undeclared")
    println(Json(ListMap(
      "correct" -> correct, "attempted" -> units.size, "failed" -> failedUnits.size,
      "metrics" -> ListMap(metrics.map { case (n, (v, u)) =>
        n -> ListMap("value" -> v, "unit" -> u) }: _*))))
    correct
  }
}
