package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.AnimalsPipeline
import graft.sources._
import graft.sinks.HttpBatchSink

/** End-to-end port of the reference's pipeline test
  * (`/root/reference/tests/test_pipeline.py`): canned 2-page listing,
  * 3 details, asserts id set, transform shape, ms-epoch conversion, null
  * born_at handling, and the 3-rows @ batch 2 → 2 batches sink split.
  */
object FakeAnimalsTransport {
  val posts = new ConcurrentLinkedQueue[String]()
  val detailCalls = new AtomicInteger(0)

  val pages: Map[Int, String] = Map(
    1 -> """{"page": 1, "total_pages": 2, "items": [{"id": 1, "name": "Dog"}, {"id": 2, "name": "Cat"}]}""",
    2 -> """{"page": 2, "total_pages": 2, "items": [{"id": 3, "name": "Mouse"}]}"""
  )
  val details: Map[Long, String] = Map(
    1L -> """{"id": 1, "name": "Dog", "friends": "Kangaroo, Sea Lions", "born_at": null}""",
    2L -> """{"id": 2, "name": "Cat", "friends": "", "born_at": 1348692957651}""",
    3L -> """{"id": 3, "name": "Mouse", "friends": "Dog", "born_at": null}"""
  )
}

class FakeAnimalsTransport extends HttpTransport {
  import FakeAnimalsTransport._
  override def request(method: String, path: String, body: Option[String], headers: Map[String, String]): HttpResponse = {
    require(headers.contains("X-Request-Id"), "tracing header missing")
    (method, path) match {
      case ("GET", p) if p.startsWith("/animals/v1/animals?page=") =>
        HttpResponse(200, pages(p.stripPrefix("/animals/v1/animals?page=").toInt))
      case ("GET", p) if p.matches("/animals/v1/animals/\\d+") =>
        detailCalls.incrementAndGet()
        HttpResponse(200, details(p.split("/").last.toLong))
      case ("POST", HttpBatchSink.HomePath) =>
        posts.add(body.getOrElse("")); HttpResponse(200, """{"message": "ok"}""")
      case other => HttpResponse(404, s"no route $other")
    }
  }
}

/** Scripted transport: fails with 500 once, then succeeds — the reference's
  * retry test (`tests/test_http_client.py:31-47`). */
object FlakyTransport { val calls = new AtomicInteger(0) }
class FlakyTransport extends HttpTransport {
  override def request(m: String, p: String, b: Option[String], h: Map[String, String]): HttpResponse =
    if (FlakyTransport.calls.incrementAndGet() == 1) HttpResponse(500, "boom")
    else HttpResponse(200, """{"ok": 1}""")
}

object CountingTransport { val calls = new AtomicInteger(0) }
class Failing422Transport extends HttpTransport {
  override def request(m: String, p: String, b: Option[String], h: Map[String, String]): HttpResponse = {
    CountingTransport.calls.incrementAndGet()
    HttpResponse(422, """{"detail": [{"msg": "invalid"}]}""")
  }
}

/** Scripted listing with one page of sequential ids per entry of
  * `pageSizes`; details are synthesized from the id. Counts page GETs by
  * page, tracks requests in flight, records every client's timeouts, and
  * can answer one page with a single 503. */
object ListingTransport {
  @volatile var pageSizes: Seq[Int]   = Seq(1)
  @volatile var serviceMs: Long       = 0L
  @volatile var failOncePage: Int     = 0
  val pageGets    = new java.util.concurrent.ConcurrentHashMap[Int, AtomicInteger]()
  val inflight    = new AtomicInteger(0)
  val inflightMax = new AtomicInteger(0)
  val timeouts    = new ConcurrentLinkedQueue[HttpTimeouts]()
  val posts       = new ConcurrentLinkedQueue[String]()

  def reset(sizes: Seq[Int], serviceMs: Long = 0L, failOncePage: Int = 0): Unit = {
    pageSizes = sizes; this.serviceMs = serviceMs; this.failOncePage = failOncePage
    pageGets.clear(); timeouts.clear(); posts.clear()
    inflight.set(0); inflightMax.set(0)
  }

  def ids: Seq[Long] = (1L to pageSizes.sum.toLong)
  def gets(page: Int): Int = Option(pageGets.get(page)).fold(0)(_.get)
  def totalPageGets: Int = pageGets.values().stream().mapToInt(_.get).sum()

  def page(p: Int): String = {
    val first = pageSizes.take(p - 1).sum
    val items = (first + 1 to first + pageSizes.lift(p - 1).getOrElse(0)).map(i => s"""{"id": $i, "name": "a$i"}""")
    s"""{"page": $p, "total_pages": ${pageSizes.size}, "items": ${items.mkString("[", ",", "]")}}"""
  }
}

class ListingTransport extends HttpTransport {
  import ListingTransport._
  override def configure(t: HttpTimeouts): Unit = timeouts.add(t)
  override def request(method: String, path: String, body: Option[String], headers: Map[String, String]): HttpResponse = {
    inflightMax.accumulateAndGet(inflight.incrementAndGet(), math.max)
    try {
      if (serviceMs > 0) Thread.sleep(serviceMs)
      (method, path) match {
        case ("GET", p) if p.startsWith("/animals/v1/animals?page=") =>
          val n = p.stripPrefix("/animals/v1/animals?page=").toInt
          if (pageGets.computeIfAbsent(n, _ => new AtomicInteger).incrementAndGet() == 1 && n == failOncePage)
            HttpResponse(503, "unavailable")
          else HttpResponse(200, page(n))
        case ("GET", p) if p.matches("/animals/v1/animals/\\d+") =>
          val id = p.split("/").last.toLong
          HttpResponse(200, s"""{"id": $id, "name": "a$id", "friends": "x, y", "born_at": ${id * 1000}}""")
        case ("POST", HttpBatchSink.HomePath) =>
          posts.add(body.getOrElse("")); HttpResponse(200, """{"message": "ok"}""")
        case other => HttpResponse(404, s"no route $other")
      }
    } finally inflight.decrementAndGet()
  }
}

class RestPipelineSpec extends AnyFunSuite {
  lazy val spark = GraftSession.get("local[4]", 4)
  private val transport = classOf[FakeAnimalsTransport].getName
  private val asOf      = lit("2026-01-01 00:00:00").cast(TimestampType)
  private val fastPolicy = RetryPolicy(retries = 3, baseDelayMs = 1, capDelayMs = 2, jitterMs = 1)

  test("paginated DSv2 source lists all ids across pages") {
    val ids = AnimalsPipeline.listed(spark, transport).select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L)) // set-equality, order-insensitive (test_pipeline.py:35-40)
  }

  test("full pipeline: scan -> enrich -> transform -> batched sink") {
    FakeAnimalsTransport.posts.clear()
    val result = AnimalsPipeline.run(spark, transport, asOf, concurrency = 2, batchSize = 2, policy = fastPolicy)
    assert(result.postedBatches == 2) // 3 rows @ size 2 (test_pipeline.py:52-55)

    val bodies = FakeAnimalsTransport.posts.toArray(Array.empty[String]).mkString("\n")
    assert(bodies.contains(""""friends":["Kangaroo","Sea Lions"]"""))
    assert(bodies.contains(""""born_at":"2012-09-26T20:55:57.651000Z"""))
    // key-omission for invalid born_at (pipeline.py:78-79): Dog has no born_at key
    assert(bodies.contains("""{"id":1,"name":"Dog","friends":["Kangaroo","Sea Lions"]}"""))
    assert(bodies.contains("""{"id":3,"name":"Mouse","friends":["Dog"]}"""))
  }

  test("transform output matches the reference's expected records") {
    val details = RestEnrich.details(
      AnimalsPipeline.listed(spark, transport), transport, parallelism = 2, policy = fastPolicy)
    val out  = graft.etl.AnimalsTransform.transform(details, asOf)
    val rows = out.collect().map(r => (r.getLong(0), r.getString(1), r.getSeq[String](2), Option(r.getString(3)))).toSet
    assert(rows == Set(
      (1L, "Dog", Seq("Kangaroo", "Sea Lions"), None),
      (2L, "Cat", Seq(), Some("2012-09-26T20:55:57.651000Z")),
      (3L, "Mouse", Seq("Dog"), None)
    ))
  }

  test("retry: 500 then 200 succeeds on second attempt") {
    FlakyTransport.calls.set(0)
    val client = new RetryingHttpClient(new FlakyTransport, fastPolicy)
    assert(client.get("/x").status == 200)
    assert(FlakyTransport.calls.get() == 2)
  }

  test("fail-fast on 4xx: single attempt, typed error") {
    class T404 extends HttpTransport {
      val n = new AtomicInteger(0)
      override def request(m: String, p: String, b: Option[String], h: Map[String, String]) = {
        n.incrementAndGet(); HttpResponse(404, "nope")
      }
    }
    val t = new T404
    val e = intercept[ClientHttpException](new RetryingHttpClient(t, fastPolicy).get("/x"))
    assert(e.status == 404 && t.n.get() == 1)
  }

  test("422 raises the typed validation channel with parsed detail") {
    CountingTransport.calls.set(0)
    val e = intercept[ValidationHttpException](
      new RetryingHttpClient(new Failing422Transport, fastPolicy).post("/x", "[]"))
    assert(e.detail.contains("invalid"))
    assert(CountingTransport.calls.get() == 1) // no retry on 422
  }

  test("retries exhausted surfaces last status and attempt count") {
    class T500 extends HttpTransport {
      override def request(m: String, p: String, b: Option[String], h: Map[String, String]) =
        HttpResponse(503, "unavailable")
    }
    val e = intercept[RetriesExhaustedException](new RetryingHttpClient(new T500, fastPolicy).get("/x"))
    assert(e.status == 503 && e.attempts == 3)
  }

  test("observe() reports the invalid-born quality counter") {
    import spark.implicits._
    val details = Seq(
      (1L, "A", "x, y", Some(1348692957651L)), // valid ms epoch
      (2L, "B", "", Some(4102444800L)),        // 2100 — future vs asOf → invalid
      (3L, "C", "z", None),                    // null — not counted as invalid
      (4L, "D", "", Some(-5L))                 // negative → invalid
    ).toDF("id", "name", "friends", "born_at")
    val obs = org.apache.spark.sql.Observation()
    val out = graft.etl.AnimalsTransform.transformObserved(details, asOf, obs)
    out.collect()
    val m = obs.get
    assert(m("invalid_born_at") == 2L)
    assert(m("rows") == 4L)
  }

  test("batch size clamps to [1, 100] as the reference does") {
    assert(HttpBatchSink.clampBatchSize(0) == 1)
    assert(HttpBatchSink.clampBatchSize(-5) == 1)
    assert(HttpBatchSink.clampBatchSize(1000) == 100)
    assert(HttpBatchSink.clampBatchSize(50) == 50)
  }

  private val listing = classOf[ListingTransport].getName

  private def postedIds(): Seq[Long] =
    ListingTransport.posts.toArray(Array.empty[String]).toSeq
      .flatMap(b => "\"id\":(\\d+)".r.findAllMatchIn(b).map(_.group(1).toLong))

  test("range partitions list every id exactly once") {
    // short last page; a page longer than page 1; an empty listing; an empty
    // page 1 before full ones; k greater than the item count
    val shapes = Seq(
      Seq(3, 3, 1) -> 2, Seq(3, 3, 1) -> 4, Seq(2, 5, 2) -> 3, Seq(0) -> 4,
      Seq(0, 3, 2) -> 2, Seq(2, 1) -> 8, Seq(4, 4, 4, 4, 3) -> 3)
    shapes.foreach { case (sizes, k) =>
      ListingTransport.reset(sizes)
      val df  = AnimalsPipeline.listed(spark, listing, concurrency = k, policy = fastPolicy)
      val ids = df.select("id").collect().map(_.getLong(0)).toSeq
      assert(ids.sorted == ListingTransport.ids, s"pages $sizes, k = $k")
      val n = sizes.size * math.max(1, sizes.head)
      assert(df.rdd.getNumPartitions == math.min(k, n), s"pages $sizes, k = $k")
    }
    // the same rule, exhaustively over small shapes without Spark
    for {
      sizes <- Seq(Seq(0), Seq(1), Seq(3, 3, 1), Seq(2, 5, 2), Seq(0, 3, 2), Seq(4, 1, 6, 4), Seq(5, 5, 5, 5))
      k     <- 1 to 12
    } {
      val pages = sizes.indices.map { i =>
        val first = sizes.take(i).sum
        (first + 1 to first + sizes(i)).map(j => AnimalsJson.ListedAnimal(j.toLong, s"a$j", None))
      }
      val parts = RangePartition.plan(k, sizes.size, pages.head)
      val got   = parts.toSeq.flatMap(_.items(p => pages(p - 1)).map(_.id))
      assert(got == (1L to sizes.sum.toLong), s"pages $sizes, k = $k")
    }
  }

  test("one page-1 GET per run, at most total_pages + k - 1 page GETs") {
    val sizes = Seq(4, 4, 4, 4, 3)
    for (k <- Seq(1, 3, 4, 8)) {
      ListingTransport.reset(sizes)
      AnimalsPipeline.run(spark, listing, asOf, concurrency = k, batchSize = 100, policy = fastPolicy)
      assert(postedIds().sorted == ListingTransport.ids, s"k = $k")
      assert(ListingTransport.gets(1) == 1, s"k = $k")
      assert(ListingTransport.totalPageGets <= sizes.size + k - 1, s"k = $k")
    }
  }

  test("requests in flight never exceed concurrency over a whole run") {
    for (k <- Seq(1, 3)) {
      ListingTransport.reset(Seq.fill(6)(8), serviceMs = 3)
      AnimalsPipeline.run(spark, listing, asOf, concurrency = k, batchSize = 5, policy = fastPolicy)
      assert(postedIds().sorted == ListingTransport.ids)
      assert(ListingTransport.inflightMax.get() <= k, s"k = $k")
    }
  }

  test("run executes one job with no exchange") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new ConcurrentLinkedQueue[QueryExecution]()
    val jobs  = new AtomicInteger(0)
    val qel = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = plans.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plans.add(qe)
    }
    val jl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListingTransport.reset(Seq(5, 5, 5))
    org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext)
    spark.listenerManager.register(qel)
    spark.sparkContext.addSparkListener(jl)
    try {
      AnimalsPipeline.run(spark, listing, asOf, concurrency = 2, batchSize = 100, policy = fastPolicy)
      org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext)
    } finally {
      spark.listenerManager.unregister(qel)
      spark.sparkContext.removeSparkListener(jl)
    }
    assert(plans.size == 1 && jobs.get() == 1)
    val plan = plans.peek().executedPlan
    assert(plan.collect { case e: Exchange => e }.isEmpty, plan.treeString)
    assert(plan.treeString.contains("animals_rest"), plan.treeString)
  }

  test("the listing uses the caller's retry policy and timeouts") {
    val timeouts = HttpTimeouts(connectTimeoutMs = 1234, readTimeoutMs = 5678)
    ListingTransport.reset(Seq(2, 2, 2, 2), failOncePage = 2)
    val e = intercept[Exception](
      AnimalsPipeline.run(spark, listing, asOf, concurrency = 2, policy = fastPolicy.copy(retries = 1)))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(_.isInstanceOf[RetriesExhaustedException]), e)

    ListingTransport.reset(Seq(2, 2, 2, 2), failOncePage = 2)
    AnimalsPipeline.run(spark, listing, asOf, concurrency = 2, policy = fastPolicy, timeouts = timeouts)
    assert(postedIds().sorted == ListingTransport.ids)
    assert(ListingTransport.gets(2) == 2) // the 503, then its retry
    assert(!ListingTransport.timeouts.isEmpty)
    assert(ListingTransport.timeouts.toArray.forall(_ == timeouts))
  }

  test("transform converts each epoch once per row: the micros subtree is not repeated") {
    import org.apache.spark.sql.catalyst.expressions.IntegralDivide
    val details = spark.range(3).select( // not a local relation, which the optimizer would fold
      col("id"), lit("A").as("name"), lit("x").as("friends"), (col("id") * 1348692957651L).as("born_at"))
    val plan    = graft.etl.AnimalsTransform.transform(details, asOf).queryExecution.optimizedPlan
    // epochToMicros holds one `div` (the ns band); inlined, the ISO string repeats it 16 times
    assert(plan.flatMap(_.expressions).flatMap(_.collect { case d: IntegralDivide => d }).size == 1, plan.treeString)
  }

  test("EtlConfig resolves flag > env > default with the reference's keys") {
    import graft.etl.EtlConfig
    // pure defaults = config.py's defaults
    assert(EtlConfig.resolve(Nil, Map.empty) == EtlConfig())
    assert(EtlConfig().timeouts == HttpTimeouts(5000, 30000))
    // env overrides defaults (timeouts are float seconds, like the reference)
    val env = Map("CONCURRENCY" -> "4", "READ_TIMEOUT" -> "12.5")
    assert(
      EtlConfig.resolve(Nil, env) == EtlConfig(concurrency = 4, readTimeoutMs = 12500)
    )
    // CLI flag beats env
    val c = EtlConfig.resolve(Seq("--concurrency", "9", "--batch-size", "7"), env)
    assert(c.concurrency == 9 && c.batchSize == 7 && c.readTimeoutMs == 12500)
    assert(c.policy.attempts == 6)
  }
}
