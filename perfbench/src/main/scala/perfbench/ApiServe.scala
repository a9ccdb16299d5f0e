package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.JsonNodeFactory

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.api.{QueryApi, QueryHttpServer}
import graft.sources.Layout

/** One request of the serving mix and the response it got. */
final case class Exchange(unit: Int, req: Request, status: Int, body: String, ns: Long)

/** `api_serve`: two closed-loop client connections against
  * `QueryHttpServer`, serving the unified table set-up built and sank
  * once. The seed picks the request sequence. */
final class ApiServe(ctx: Ctx, tracedRun: Boolean) extends Workload {
  import ctx.spark

  val itemName = "requests"
  val buildReps = 3
  val clients = 2
  val warmupRequests = 24
  val warmupSeconds = 3.0

  private var table: String = _
  private var served: DataFrame = _
  private var server: QueryHttpServer = _
  private var port = 0
  private val exchanges = new ConcurrentLinkedQueue[Exchange]
  private val expectedJobs = mutable.Map[String, Set[Long]]()
  private val next = new AtomicInteger(0)

  /** The served table: the ETL chain's unified table, built and sunk once. */
  def inputs(): Unit = {
    val data = ctx.fresh("serve-data")
    Inputs.writeCustomer(spark, data, Inputs.servedCustomers)
    table = ctx.fresh("serve-table")
    Chain.buildAndSink(spark, data, table)
  }

  /** A serving deployment's start: read the persisted table, start the edge. */
  def build(): Unit = {
    close()
    served = Layout.readPartitioned(spark, table)
    server = new QueryHttpServer(served)
    port = server.start()
  }

  override def close(): Unit = if (server != null) { server.stop(); server = null }

  private def newClient(): HttpClient =
    HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  /** One request; a transport error is recorded as status -1. */
  private def send(client: HttpClient, unit: Int, req: Request): Exchange = {
    val t0 = System.nanoTime()
    try {
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${req.path}")).build(),
        HttpResponse.BodyHandlers.ofString())
      Exchange(unit, req, resp.statusCode, resp.body, System.nanoTime() - t0)
    } catch {
      case e: java.io.IOException => Exchange(unit, req, -1, e.toString, System.nanoTime() - t0)
    }
  }

  /** Serial warm-up requests, which also record each request kind's job
    * count (what the measured region's job total is held to), then the
    * two clients for `warmupSeconds`. Warm-up requests come from their own
    * part of the seeded sequence and have negative unit ids. */
  def warmup(): Int = {
    val client = newClient()
    (0 until warmupRequests).foreach { i =>
      val req = Request.of(ctx.seed, warmupBase + i)
      val j0 = ctx.jobsDone()
      exchanges.add(send(client, -warmupBase - i, req))
      expectedJobs(req.kind) = expectedJobs.getOrElse(req.kind, Set()) + (ctx.jobsDone() - j0)
    }
    warmupRequests + concurrent(warmupSeconds, warm = true).units.size
  }

  private val warmupBase = 1 << 29
  private val warmNext = new AtomicInteger(warmupBase + warmupRequests)

  /** Requests completed over the region's wall time. */
  override def throughput(r: Region): Double = r.units.size / (r.wallNs / 1e9)

  /** A traced run measures with one serial client, so that every job
    * belongs to exactly one request. */
  def measure(seconds: Double, tracer: Option[Tracer], baseline: Int): Region =
    if (tracedRun) serial(seconds, tracer) else concurrent(seconds)

  /** The warm-up's job count for a request kind, when it was constant. */
  private def exactJobs(kind: String): Option[Long] =
    expectedJobs.get(kind).filter(_.size == 1).map(_.head)

  private def concurrent(seconds: Double, warm: Boolean = false): Region = {
    val counter = if (warm) warmNext else next
    val got = new ConcurrentLinkedQueue[Exchange]
    val j0 = ctx.jobsDone()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until clients).map { _ =>
      new Thread(() => {
        val client = newClient()
        while (System.nanoTime() < deadline) {
          val i = counter.getAndIncrement()
          got.add(send(client, if (warm) -i else i, Request.of(ctx.seed, i)))
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val wall = System.nanoTime() - t0
    val jobs = ctx.jobsDone() - j0
    val done = got.asScala.toSeq.sortBy(e => math.abs(e.unit))
    done.foreach(exchanges.add)
    // jobs cannot be told apart between concurrent requests: hold the
    // region's total to the per-kind counts of the serial warm-up (when
    // those were constant), or at least one job per request
    val exact = done.forall(e => exactJobs(e.req.kind).isDefined)
    val want = if (exact) done.map(e => exactJobs(e.req.kind).get).sum else done.size.toLong
    val jobsOk = if (exact) jobs == want else jobs >= want
    val units = done.map { e =>
      UnitRec(e.unit, e.ns, 1, -1,
        if (jobsOk) None else Some(s"region ran $jobs jobs, requests expect $want"))
    }
    Region(units, wall)
  }

  /** One client, one request at a time; a traced request also runs once
    * through `QueryApi` directly, in its own span. */
  private def serial(seconds: Double, tracer: Option[Tracer]): Region = {
    val client = newClient()
    val units = mutable.ArrayBuffer[UnitRec]()
    val t0 = System.nanoTime()
    while (units.size < Harness.minUnits(tracer) || Harness.secondsSince(t0) < seconds) {
      val i = next.getAndIncrement()
      val req = Request.of(ctx.seed, i)
      val traced = Harness.alternate(tracer, units.size)
      // the direct call runs a twin (same kind, another parameter): running
      // the identical query just before the request measurably speeds it up
      traced.foreach(t => t.span(s"api.direct.${req.kind}", i)(
        Request.twin(ctx.seed, i).direct(served).collect()))
      val j0 = ctx.jobsDone()
      val e = traced match {
        case Some(t) => t.span(s"api.http.${req.kind}", i)(send(client, i, req))
        case None => send(client, i, req)
      }
      exchanges.add(e)
      val jobs = ctx.jobsDone() - j0
      val guard = exactJobs(req.kind).filter(_ != jobs)
        .map(w => s"ran $jobs jobs, the warm-up's ${req.kind} requests ran $w")
      units += UnitRec(i, e.ns, 1, jobs, guard, traced.isDefined)
    }
    Region(units.toSeq, System.nanoTime() - t0)
  }

  /** Every response against the answer derived from the collected rows. */
  def check(): Seq[(Int, String)] = {
    val rows = served.collect().toSeq
    exchanges.asScala.toSeq.flatMap { e =>
      val (status, body) = Request.expected(e.req, rows)
      val ok = e.status == status &&
        scala.util.Try(Request.mapper.readTree(e.body)).toOption.contains(body)
      if (ok) None
      else Some(e.unit -> s"${e.req.path}: got ${e.status} ${e.body.take(120)}; want $status ${body.toString.take(120)}")
    }
  }

  def perLayer(t: Tracer): Seq[(String, Double)] = {
    val kinds = Seq("lookup", "search", "by_state")
    val spans = t.spans
    val perKind = kinds.flatMap { k =>
      def of(prefix: String, timeKey: String) = {
        val ms = spans.filter(_.name == s"$prefix.$k").map(s => t.metricsOf(s, timeKey, 1e3).toMap)
        ms.flatMap(_.keys).distinct.map(n => n -> Harness.medianOf(ms.flatMap(_.get(n))))
      }
      of("api.direct", s"api.direct_ms.$k") ++ of("api.http", s"api.http_ms.$k")
    }
    val http = spans.filter(_.name.startsWith("api.http."))
    val direct = spans.filter(_.name.startsWith("api.direct.")).map(s => s.unit -> s.wallS).toMap
    perKind ++ Seq(
      "api.http_overhead_ms" -> Harness.medianOf(http.map(s => (s.wallS - direct(s.unit)) * 1e3)),
      "api.jobs_per_request" ->
        (if (http.isEmpty) 0.0 else http.map(s => s.end.jobs - s.start.jobs).sum.toDouble / http.size))
  }

  def named(r: Region): Seq[(String, Any)] = {
    val ms = r.units.map(_.ms)
    val (label, tail) = Stats.tail(ms)
    Seq("serve_p50_ms" -> Stats.median(ms), "serve_tail_ms" -> tail,
      "serve_tail_percentile" -> label, "serve_rps" -> throughput(r),
      "clients" -> (if (tracedRun) 1 else clients))
  }
}

/** A request of the serving mix: 60% point lookups (one in ten for an
  * absent key), 30% name searches, 10% state filters. */
final case class Request(kind: String, path: String, param: String) {
  /** The same query through `QueryApi`, without HTTP. */
  def direct(u: DataFrame): DataFrame = kind match {
    case "lookup" => QueryApi.byKey(u, param).limit(1)
    case "search" => QueryApi.search(u, param).select(Request.slim.map(col): _*).limit(Request.maxRows)
    case _ => QueryApi.byState(u, param).select(Request.slim.map(col): _*).limit(Request.maxRows)
  }
}

object Request {
  val slim = Seq("abn", "entity_name", "company_name")
  val maxRows = 100
  val mapper = new ObjectMapper()
  private val words = Seq("pty", "group", "Associates", "CUSTOMER#00000", "the customer#")

  /** A request of the same kind as request `i`, from another part of the
    * seeded sequence. */
  def twin(seed: Long, i: Int): Request = {
    val kind = of(seed, i).kind
    Iterator.from(1).map(k => of(seed, (1 << 28) + 64 * i + k)).find(_.kind == kind).get
  }

  def of(seed: Long, i: Int): Request = {
    val r = new java.util.SplittableRandom(seed * 1000003L + i)
    val roll = r.nextInt(10)
    if (roll < 6) {
      val abn =
        if (r.nextInt(10) == 0) (Inputs.servedCustomers + r.nextInt(1000000)).toString
        else r.nextInt(Inputs.servedCustomers).toString
      Request("lookup", s"/companies/$abn", abn)
    } else if (roll < 9) {
      val q =
        if (r.nextInt(5) == 0) words(r.nextInt(words.size))
        else {
          val digits = f"${r.nextInt(Inputs.servedCustomers)}%09d"
          val len = 4 + r.nextInt(3)
          digits.substring(9 - len - r.nextInt(2))
        }
      Request("search", "/companies/search?name=" + java.net.URLEncoder.encode(q, "UTF-8"), q)
    } else {
      val st = r.nextInt(25).toString
      Request("by_state", s"/companies/by_state?state=$st", st)
    }
  }

  private def nodeOf(r: Row, cols: Seq[String]): JsonNode = {
    val o = JsonNodeFactory.instance.objectNode()
    cols.foreach { c =>
      r.getAs[Any](c) match {
        case null => o.putNull(c)
        case s: String => o.put(c, s)
        case n: Int => o.put(c, n)
        case other => o.put(c, other.toString)
      }
    }
    o
  }

  /** The (status, body) the route must answer, from the table's rows in
    * scan order. */
  def expected(req: Request, rows: Seq[Row]): (Int, JsonNode) = {
    def str(r: Row, c: String) = Option(r.getAs[String](c))
    def array(hits: Seq[Row]) = {
      val a = JsonNodeFactory.instance.arrayNode()
      hits.take(maxRows).foreach(r => a.add(nodeOf(r, slim)))
      (200, a: JsonNode)
    }
    req.kind match {
      case "lookup" =>
        rows.find(r => str(r, "abn").contains(req.param)) match {
          case Some(r) => (200, nodeOf(r, r.schema.fieldNames.toSeq))
          case None => (404, mapper.readTree("""{"error": "Company not found"}"""))
        }
      case "search" =>
        val q = req.param.toLowerCase(java.util.Locale.ROOT)
        array(rows.filter(r => Seq("entity_name", "company_name")
          .exists(c => str(r, c).exists(_.toLowerCase(java.util.Locale.ROOT).contains(q)))))
      case _ => array(rows.filter(r => str(r, "state").contains(req.param)))
    }
  }
}
