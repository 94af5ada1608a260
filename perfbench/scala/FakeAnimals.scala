package perfbench

import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import graft.sinks.HttpBatchSink
import graft.sources.{HttpResponse, HttpTransport, RestAnimalsSource}

/** One animal of the seeded corpus: the detail record the fake service
  * serves, and the record the pipeline must POST for it (`None` when the
  * service answers its detail GET with a permanent 404, a designed drop).
  * The expectation is taken from how the input was built, not computed by
  * re-running the engine's transform. */
final case class Animal(
    id: Long,
    name: String,
    friends: Option[String],
    bornAt: Option[Long],
    expected: Option[ExpectedAnimal])

final case class ExpectedAnimal(friends: Seq[String], bornAtIso: Option[String])

/** Seeded generator of animals with ragged friends lists and `born_at`
  * epochs in s, ms, µs and ns, plus negative, future and null ones. */
object AnimalsCorpus {

  /** The pipeline's "future" cutoff; every valid epoch lies before it. */
  val AsOfMicros: Long = 1767225600000000L // 2026-01-01T00:00:00Z

  private val Species = Vector(
    "Dog", "Cat", "Mouse", "Kangaroo", "Sea Lions", "Red Panda", "Owl", "Snow Leopard",
    "Otter", "Fox", "Badger", "Heron", "Grey Wolf", "Lynx", "Bison", "Tree Frog",
    "Hedgehog", "Puffin", "Koala", "Wombat", "Polar Bear", "Gecko", "Ibis", "Tapir")

  // 2002-01-01 .. 2025-12-31: every unit's magnitude is unambiguous here
  // (ms, µs and ns values all sit above their detection thresholds).
  private val ValidFromMicros = 1009843200000000L
  private val ValidToMicros   = 1767139200000000L

  def generate(seed: Long, firstId: Long, n: Int, dropRate: Double): Vector[Animal] = {
    val rnd = new java.util.SplittableRandom(seed * 1000003L + firstId)
    (0 until n).map { i =>
      val id   = firstId + i
      val name = s"${Species(rnd.nextInt(Species.size))} ${id}"
      val (friends, expFriends) = friendsOf(rnd)
      val (born, expBorn)       = bornAtOf(rnd)
      val drop                  = rnd.nextDouble() < dropRate
      Animal(id, name, friends, born, if (drop) None else Some(ExpectedAnimal(expFriends, expBorn)))
    }.toVector
  }

  private def friendsOf(rnd: java.util.SplittableRandom): (Option[String], Seq[String]) =
    rnd.nextInt(20) match {
      case 0 => (None, Nil)
      case 1 => (Some(""), Nil)
      case 2 => (Some(" " * (1 + rnd.nextInt(3))), Nil)
      case _ =>
        val names  = Seq.fill(1 + rnd.nextInt(5))(Species(rnd.nextInt(Species.size)))
        def pad    = " " * rnd.nextInt(3)
        val pieces = names.flatMap { f =>
          val junk = rnd.nextInt(6) match {
            case 0 => Seq("")      // empty piece: "a,,b"
            case 1 => Seq(pad + " ") // whitespace-only piece: "a, ,b"
            case _ => Nil
          }
          junk :+ (pad + f + pad)
        }
        (Some(pieces.mkString(",")), names)
    }

  private def bornAtOf(rnd: java.util.SplittableRandom): (Option[Long], Option[String]) = {
    val valid = ValidFromMicros + (rnd.nextDouble() * (ValidToMicros - ValidFromMicros)).toLong
    rnd.nextInt(20) match {
      case 0 | 1 => (None, None)
      case 2     => (Some(-1L - rnd.nextInt(1000000000)), None)
      case 3 => // future: 1 day .. ~10 years after the cutoff, in a random unit
        val us = AsOfMicros + 86400000000L + (rnd.nextDouble() * 3.0e14).toLong
        (Some(inUnit(us, rnd.nextInt(4), rnd)), None)
      case _ =>
        val unit = rnd.nextInt(4)
        val us = unit match {
          case 0 => valid / 1000000L * 1000000L
          case 1 => valid / 1000L * 1000L
          case _ => valid
        }
        (Some(inUnit(us, unit, rnd)), Some(iso(us)))
    }
  }

  private def inUnit(us: Long, unit: Int, rnd: java.util.SplittableRandom): Long = unit match {
    case 0 => us / 1000000L
    case 1 => us / 1000L
    case 2 => us
    case _ => us * 1000L + rnd.nextInt(1000) // sub-µs digits are truncated
  }

  /** Python's `datetime.isoformat()` with a `Z`: fraction omitted when zero,
    * else exactly six digits. */
  def iso(us: Long): String = {
    val t    = LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L), 0, ZoneOffset.UTC)
    val base = t.format(IsoSeconds)
    val frac = Math.floorMod(us, 1000000L)
    if (frac == 0) base + "Z" else f"$base.$frac%06dZ"
  }
  private val IsoSeconds = DateTimeFormatter.ofPattern("uuuu-MM-dd'T'HH:mm:ss")
}

/** In-process fake of the animals REST service. The engine loads
  * [[FakeAnimalsTransport]] by class name on every executor; all of them
  * reach this one object, since the benchmark runs Spark in local mode.
  *
  * Each request costs a fixed service time. A seeded share of detail-GET
  * and POST attempts answers with a transient 503 (never a request's third
  * or later attempt, so retries always recover); page requests are not
  * faulted, because `AnimalsPipeline.listed` builds its page client with the
  * default 250 ms backoff, which the caller cannot set. */
object FakeAnimalsService {
  private val mapper = new ObjectMapper()

  @volatile var seed: Long              = 0L
  @volatile var serviceNanos: Long      = 1000000L
  @volatile var transientRate: Double   = 0.0
  @volatile var corpus: Map[Long, Animal] = Map.empty
  @volatile private var listing: Vector[Animal] = Vector.empty
  @volatile var traced: Boolean         = false

  val PageSize = 100

  // per-run counters
  val pageAttempts, detailAttempts, postAttempts = new AtomicLong
  val transientFailures, posts                  = new AtomicLong
  val sourceBusyNanos, sinkBusyNanos            = new AtomicLong
  val inflight, inflightMax                     = new AtomicInteger
  private val attemptsByRequest = new ConcurrentHashMap[String, AtomicInteger]()
  /** While traced: request id -> (first attempt start, final response end) and its route. */
  val requestTimes = new ConcurrentHashMap[String, Array[Long]]()
  val requestRoute = new ConcurrentHashMap[String, String]()
  val postedBodies = new ConcurrentLinkedQueue[String]()

  def load(animals: Seq[Animal]): Unit = corpus = corpus ++ animals.map(a => a.id -> a)

  /** Serve `animals` as the listing of the next pipeline run and reset the
    * per-run counters. */
  def startRun(animals: Vector[Animal]): Unit = {
    listing = animals
    Seq(pageAttempts, detailAttempts, postAttempts, transientFailures, posts,
      sourceBusyNanos, sinkBusyNanos).foreach(_.set(0))
    inflight.set(0); inflightMax.set(0)
    attemptsByRequest.clear(); requestTimes.clear(); requestRoute.clear(); postedBodies.clear()
  }

  def requests: Long = attemptsByRequest.size.toLong

  private def transient(key: String, attempt: Int): Boolean =
    attempt <= 2 && transientRate > 0 && {
      val h = scala.util.hashing.MurmurHash3.stringHash(key, (seed * 31 + attempt).toInt)
      (h & 0x7fffffff) / Int.MaxValue.toDouble < transientRate
    }

  def handle(method: String, path: String, body: Option[String], headers: Map[String, String]): HttpResponse = {
    val rid     = headers.getOrElse("X-Request-Id", "")
    val attempt = attemptsByRequest.computeIfAbsent(rid, _ => new AtomicInteger).incrementAndGet()
    val start   = System.nanoTime()
    val now     = inflight.incrementAndGet()
    inflightMax.accumulateAndGet(now, math.max)
    try {
      LockSupport.parkNanos(serviceNanos)
      route(method, path, body, attempt)
    } finally {
      inflight.decrementAndGet()
      val end = System.nanoTime()
      (if (method == "POST") sinkBusyNanos else sourceBusyNanos).addAndGet(end - start)
      if (traced) {
        requestTimes.compute(rid, (_, t) => if (t == null) Array(start, end) else { t(1) = end; t })
        requestRoute.putIfAbsent(rid, if (method == "POST") "post" else if (path.contains("?page=")) "page" else "detail")
      }
    }
  }

  private def route(method: String, path: String, body: Option[String], attempt: Int): HttpResponse = {
    val list = RestAnimalsSource.ListPath
    (method, path) match {
      case ("GET", p) if p.startsWith(list + "?page=") =>
        pageAttempts.incrementAndGet()
        HttpResponse(200, page(p.stripPrefix(list + "?page=").toInt))
      case ("GET", p) if p.startsWith(list + "/") =>
        detailAttempts.incrementAndGet()
        val id = p.stripPrefix(list + "/").toLong
        if (transient(p, attempt)) fail()
        else corpus.get(id) match {
          case Some(a) if a.expected.isDefined => HttpResponse(200, detail(a))
          case _                               => HttpResponse(404, """{"detail": "not found"}""")
        }
      case ("POST", HttpBatchSink.HomePath) =>
        postAttempts.incrementAndGet()
        val b = body.getOrElse("[]")
        if (transient(b.take(64), attempt)) fail()
        else {
          postedBodies.add(b)
          posts.incrementAndGet()
          HttpResponse(200, """{"message": "ok"}""")
        }
      case _ => HttpResponse(404, """{"detail": "no route"}""")
    }
  }

  private def fail(): HttpResponse = {
    transientFailures.incrementAndGet()
    HttpResponse(503, """{"detail": "try again"}""")
  }

  private def page(p: Int): String = {
    val total = math.max(1, (listing.size + PageSize - 1) / PageSize)
    val root  = mapper.createObjectNode()
    root.put("page", p).put("total_pages", total)
    val items = root.putArray("items")
    listing.slice((p - 1) * PageSize, p * PageSize).foreach { a =>
      val it = items.addObject().put("id", a.id).put("name", a.name)
      a.bornAt.foreach(b => it.put("born_at", b))
    }
    mapper.writeValueAsString(root)
  }

  private def detail(a: Animal): String = {
    val o = mapper.createObjectNode().put("id", a.id).put("name", a.name)
    // null and absent keys both occur in the wild; alternate by id
    a.friends match {
      case Some(f)              => o.put("friends", f)
      case None if a.id % 2 == 0 => o.putNull("friends")
      case None                  => ()
    }
    a.bornAt match {
      case Some(b)              => o.put("born_at", b)
      case None if a.id % 3 == 0 => o.putNull("born_at")
      case None                  => ()
    }
    mapper.writeValueAsString(o)
  }

  /** Compare what was POSTed during this run with the expectation for
    * `animals`. Returns (failures, first few problems): a record missing,
    * POSTed twice, POSTed with a wrong value, or POSTed although it is a
    * designed drop, counts as one failure; so does every unknown id. */
  def verify(animals: Vector[Animal]): (Long, Seq[String]) = {
    val seen = new java.util.HashMap[Long, ObjectNode]()
    val dup  = scala.collection.mutable.Set.empty[Long]
    postedBodies.asScala.foreach { b =>
      mapper.readTree(b).elements().asScala.foreach { n =>
        val o  = n.asInstanceOf[ObjectNode]
        val id = o.get("id").asLong()
        if (seen.put(id, o) != null) dup += id
      }
    }
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    val ids      = animals.map(_.id).toSet
    animals.foreach { a =>
      (a.expected, Option(seen.get(a.id))) match {
        case (None, None)    => ()
        case (None, Some(_)) => problems += s"${a.id}: designed drop was posted"
        case (Some(_), None) => problems += s"${a.id}: missing"
        case (Some(e), Some(o)) =>
          if (dup(a.id)) problems += s"${a.id}: posted more than once"
          else if (!matches(a, e, o)) problems += s"${a.id}: wrong record $o"
      }
    }
    seen.keySet.asScala.filterNot(ids).foreach(id => problems += s"$id: unknown id posted")
    (problems.size.toLong, problems.take(5).toSeq)
  }

  private def matches(a: Animal, e: ExpectedAnimal, o: ObjectNode): Boolean = {
    val keys    = o.fieldNames().asScala.toSet
    val friends = Option(o.get("friends")).filter(_.isArray).map(_.elements().asScala.map(_.asText()).toSeq)
    keys == (Set("id", "name", "friends") ++ e.bornAtIso.map(_ => "born_at")) &&
    o.get("name").asText() == a.name &&
    friends.contains(e.friends) &&
    e.bornAtIso.forall(iso => o.get("born_at").asText() == iso)
  }
}

/** The transport the engine instantiates by class name. */
class FakeAnimalsTransport extends HttpTransport {
  override def request(method: String, path: String, body: Option[String], headers: Map[String, String]): HttpResponse =
    FakeAnimalsService.handle(method, path, body, headers)
}
