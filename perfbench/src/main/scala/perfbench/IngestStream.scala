package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.operators.Dedup
import graft.sources.StoreManifest
import graft.streaming.IncrementalDedup

/** `ingest_stream`: closed-loop micro-batches through
  * `IncrementalDedup.runOnce` with a label store. Set-up bootstraps the
  * signature store from the corpus (stream batch 0); each step lands one
  * seeded batch file and times from landing until `runOnce` returns. */
final class IngestStream(ctx: Ctx) extends Workload {
  import ctx.spark

  val itemName = "docs"
  val buildReps = 2
  val batchDocs = 500
  val warmupBatches = 1

  private val corpus = Inputs.corpusRows()
  private var root: String = _
  private val landed = mutable.ArrayBuffer[Seq[Row]]() // landed batch n → stream batch n + 1
  private val texts = mutable.ArrayBuffer[String]() ++ corpus.map(_.getString(1))
  private val measuredIds = mutable.Map[Int, Int]()      // stream batch → unit id

  private def dir(name: String) = s"$root/$name"

  def inputs(): Unit = ()

  /** Land `rows` atomically: write one parquet file beside the input
    * directory, then move it in. */
  private def land(name: String, rows: Seq[Row]): Unit = {
    val staged = s"${dir("landing")}/$name"
    Inputs.write(spark, rows, Inputs.docSchema, staged)
    val part = new File(staged).listFiles().find(f => f.getName.endsWith(".parquet")).get
    Files.move(part.toPath, new File(dir("in"), s"$name.parquet").toPath)
  }

  private def runOnce(): Unit =
    IncrementalDedup.runOnce(spark, Inputs.docSchema, dir("in"), "doc_id", "text",
      dir("sigs"), dir("pairs"), dir("ckpt"), labelsStoreDir = Some(dir("labels")))

  /** A fresh store bootstrapped from the corpus. */
  def build(): Unit = {
    root = ctx.fresh("ingest")
    new File(dir("in")).mkdirs()
    land("corpus", corpus)
    runOnce()
  }

  /** Land the next seeded batch and run it; returns (latency ns, jobs). */
  private def step(): (Long, Long) = {
    val n = landed.size
    val rows = Inputs.batchRows(ctx.seed, n, batchDocs, texts.toIndexedSeq)
    land(f"batch-$n%04d", rows)
    landed += rows
    texts ++= rows.map(_.getString(1))
    val j0 = ctx.jobsDone()
    val t0 = System.nanoTime()
    runOnce()
    val ns = System.nanoTime() - t0
    (ns, ctx.jobsDone() - j0)
  }

  def warmup(): Int = {
    (0 until warmupBatches).foreach(_ => step())
    warmupBatches
  }

  private val traceNotes = mutable.Map[Int, Map[String, Double]]()

  def measure(seconds: Double, tracer: Option[Tracer], baseline: Int): Region = {
    val base = measuredIds.size
    Harness.serial(ctx, seconds, baseline, tracer) { i =>
      val id = base + i
      val traced = Harness.alternate(tracer, i)
      val (ns, jobs) = traced match {
        case None => step()
        case Some(t) =>
          t.taps.snapshot()
          t.taps.takeExecutions()
          val r = t.span("streaming.batch", id)(step())
          val execs = t.taps.takeExecutions()
          traceNotes(id) = batchNotes(execs, landed.size)
          r
      }
      measuredIds(landed.size) = id
      UnitRec(id, ns, batchDocs, jobs, traced = traced.isDefined)
    }
  }

  /** Per-batch counts of the traced run, read after the batch returned. */
  private def batchNotes(execs: Seq[Execution], streamBatch: Int): Map[String, Double] = {
    def writeS(store: String) = execs
      .filter(_.outputPath.exists(_.contains(s"/$store/")))
      .map(_.durationNs).sum / 1e9
    val sigs = StoreManifest.readLive(spark, dir("sigs")).map(_.count()).getOrElse(0L)
    Map(
      "streaming.sql_s" -> execs.map(_.durationNs).sum / 1e9,
      "streaming.pairs_write_s" -> writeS("pairs"),
      "streaming.sigs_write_s" -> writeS("sigs"),
      "streaming.labels_write_s" -> writeS("labels"),
      "streaming.pairs_per_batch" ->
        spark.read.parquet(s"${dir("pairs")}/batch_id=$streamBatch").count().toDouble,
      "streaming.store_rows" -> sigs.toDouble,
      "streaming.store_bytes" ->
        (Harness.bytesUnder(dir("sigs")) + Harness.bytesUnder(dir("labels"))).toDouble)
  }

  def perLayer(t: Tracer): Seq[(String, Double)] = {
    val perUnit = t.spans.filter(_.name == "streaming.batch").map { s =>
      val notes = traceNotes(s.unit)
      (t.metricsOf(s, "streaming.batch_s", 1.0).map {
        case ("streaming.batch.jobs", v) => "streaming.jobs_per_batch" -> v
        case kv => kv
      } ++ notes :+ ("streaming.overhead_s" -> (s.wallS - notes("streaming.sql_s")))).toMap
    }
    val names = perUnit.flatMap(_.keys).distinct
    names.map(n => n -> Harness.medianOf(perUnit.flatMap(_.get(n))))
  }

  /** Union of batch pairs against a batch recompute over corpus ∪ all
    * landed batches, stream batch by stream batch; final labels against
    * the connected components of the recomputed pairs. */
  def check(): Seq[(Int, String)] = {
    val all = corpus ++ landed.flatten
    val docs = spark.createDataFrame(spark.sparkContext.parallelize(all, ctx.cores), Inputs.docSchema)
    val oracle = Dedup.minhashPairs(docs, "doc_id", "text", 3, 16, 4, 50).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    def streamBatchOf(id: Long): Int = if (id < Inputs.batchIdBase) 0 else Inputs.batchOf(id) + 1
    val expected = oracle.groupBy { case (a, b, _) => math.max(streamBatchOf(a), streamBatchOf(b)) }
    val pairFailures = (0 to landed.size).flatMap { b =>
      val got = spark.read.parquet(s"${dir("pairs")}/batch_id=$b").collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Int]("jaccard100"))).toSet
      val want = expected.getOrElse(b, Set.empty)
      if (got == want) None
      else Some((measuredIds.getOrElse(b, -2 - b),
        s"stream batch $b: ${got.size} pairs, recompute has ${want.size}; " +
          s"${(got -- want).size} extra, ${(want -- got).size} missing"))
    }
    val idLike = spark.range(1).select(col("id").as("id_a"))
    val labels = IncrementalDedup.resolveLabels(spark, dir("labels"), Long.MaxValue, idLike)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("cluster")).toMap
    val components = Inputs.components(oracle.toSeq.map { case (a, b, _) => (a, b) })
    val labelFailures =
      if (labels == components) Nil
      else Seq(Workload.WholeRegion -> (s"labels: ${labels.size} nodes, components of recomputed " +
        s"pairs: ${components.size} nodes, " +
        s"${labels.count { case (k, v) => !components.get(k).contains(v) }} differ"))
    pairFailures ++ labelFailures
  }

  def named(r: Region): Seq[(String, Any)] = Seq(
    "ingest_batch_s_p50" -> Stats.median(r.units.map(_.latencyNs / 1e9)),
    "ingest_docs_per_s" -> throughput(r),
    "batch_docs" -> batchDocs)
}
