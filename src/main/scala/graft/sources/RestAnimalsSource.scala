package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 implementation of the reference's paginated listing scan
  * (S1, `/root/reference/src/animals_etl/pipeline.py:8-29`), Spark-first:
  *
  *  - the driver probes page 1 once (pipeline.py:13-14's "first page sync"
  *    step) and plans `concurrency` **item-range partitions** over the
  *    listing's global slots (see [[RangePartition]]); page 1's parsed items
  *    ship inside the partitions that own them, so no reader re-fetches it;
  *  - each reader fetches only the pages its range overlaps, through the
  *    retrying client (R1-R4 live in [[RetryingHttpClient]], per request,
  *    exactly like the reference);
  *  - one partition per unit of concurrency lets a narrow downstream stage
  *    (the detail lookups, the sink) run in the same tasks: `concurrency`
  *    partitions keep at most `concurrency` requests in flight, the
  *    reference's semaphore (R5), with no exchange;
  *  - rows flow as InternalRow into normal Catalyst planning, so projection
  *    and downstream filters optimize as usual.
  *
  * Usage:
  * {{{
  *   spark.read.format("graft.sources.RestAnimalsSource")
  *     .option("transport", "fqn.of.HttpTransportImpl")
  *     .option("concurrency", "8")
  *     .option("retries", "6")
  *     .load()
  * }}}
  */
class RestAnimalsSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = RestAnimalsSource.Schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]
  ): Table = new RestAnimalsTable(properties.asScala.toMap)
}

object RestAnimalsSource {
  val Schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = true),
    StructField("born_at", LongType, nullable = true)
  ))

  val ListPath = "/animals/v1/animals"

  def policyFromOptions(opts: Map[String, String]): RetryPolicy =
    RetryPolicy(
      retries = opts.getOrElse("retries", "6").toInt,
      baseDelayMs = opts.getOrElse("backoff.base.ms", "250").toLong,
      capDelayMs = opts.getOrElse("backoff.cap.ms", "4000").toLong,
      jitterMs = opts.getOrElse("backoff.jitter.ms", "500").toLong
    )

  /** Timeout options (R6), defaults = reference config.py:11-12. */
  def timeoutsFromOptions(opts: Map[String, String]): HttpTimeouts =
    HttpTimeouts(
      connectTimeoutMs = opts.getOrElse("timeout.connect.ms", "5000").toLong,
      readTimeoutMs = opts.getOrElse("timeout.read.ms", "30000").toLong
    )

  /** The option keys [[policyFromOptions]] and [[timeoutsFromOptions]]
    * read, for a caller's policy and timeouts (the retryable status set is
    * not carried; the listing uses the default one). */
  def clientOptions(policy: RetryPolicy, timeouts: HttpTimeouts): Map[String, String] =
    Map(
      "retries"            -> policy.retries.toString,
      "backoff.base.ms"    -> policy.baseDelayMs.toString,
      "backoff.cap.ms"     -> policy.capDelayMs.toString,
      "backoff.jitter.ms"  -> policy.jitterMs.toString,
      "timeout.connect.ms" -> timeouts.connectTimeoutMs.toString,
      "timeout.read.ms"    -> timeouts.readTimeoutMs.toString
    )

  def clientFromOptions(opts: Map[String, String]): RetryingHttpClient =
    new RetryingHttpClient(
      HttpTransport.byName(opts("transport")),
      policyFromOptions(opts),
      timeoutsFromOptions(opts)
    )
}

class RestAnimalsTable(options: Map[String, String]) extends Table with SupportsRead {
  override def name(): String                 = "animals_rest"
  override def schema(): StructType           = RestAnimalsSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(caseInsensitive: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = options ++ caseInsensitive.asScala
    new ScanBuilder {
      override def build(): Scan = new RestAnimalsScan(merged)
    }
  }
}

/** Partition `[lo, hi)` of the listing's global slots. Page p holds the
  * slots `[(p-1)·slotsPerPage, p·slotsPerPage)`, where `slotsPerPage` is
  * page 1's item count: items past a page's last slot (a page longer than
  * page 1) belong to the owner of that last slot, and slots past a short
  * page's end hold nothing, so every item is emitted exactly once.
  * `firstPage` holds page 1's items in `[lo, hi)`, parsed by the driver. */
final case class RangePartition(
    lo: Long,
    hi: Long,
    slotsPerPage: Int,
    totalPages: Int,
    firstPage: Seq[AnimalsJson.ListedAnimal]
) extends InputPartition {

  /** The pages this range overlaps. */
  def pages: Range.Inclusive =
    (lo / slotsPerPage).toInt + 1 to math.min(totalPages.toLong, (hi - 1) / slotsPerPage + 1).toInt

  /** This partition's items, in listing order; `fetch(p)` returns page p's
    * items and is called once for each overlapped page after page 1. */
  def items(fetch: Int => Seq[AnimalsJson.ListedAnimal]): Iterator[AnimalsJson.ListedAnimal] =
    pages.iterator.flatMap(p => if (p == 1) firstPage else owned(p, fetch(p)))

  private def owned(page: Int, items: Seq[AnimalsJson.ListedAnimal]): Seq[AnimalsJson.ListedAnimal] = {
    val first = (page - 1).toLong * slotsPerPage
    def mine(slot: Long) = slot >= lo && slot < hi
    val overflow = mine(first + slotsPerPage - 1)
    items.zipWithIndex.collect { case (a, j) if (if (j < slotsPerPage) mine(first + j) else overflow) => a }
  }
}

object RangePartition {

  /** Ranges over a listing of `totalPages` pages whose page 1 is `first`:
    * `min(k, N)` ranges of near-equal size, N = pages × slots per page (an
    * empty page 1 counts as one slot per page). */
  def plan(k: Int, totalPages: Int, first: Seq[AnimalsJson.ListedAnimal]): Array[RangePartition] = {
    val pages = math.max(1, totalPages)
    val slots = math.max(1, first.size)
    val n     = pages.toLong * slots
    val parts = math.max(1L, math.min(k.toLong, n))
    (0L until parts).map { i =>
      val (lo, hi) = (i * n / parts, (i + 1) * n / parts)
      def onFirst(slot: Long) = math.min(slot, first.size.toLong).toInt
      RangePartition(lo, hi, slots, pages, first.slice(onFirst(lo), onFirst(hi)))
    }.toArray
  }
}

class RestAnimalsScan(options: Map[String, String]) extends Scan with Batch {
  override def readSchema(): StructType = RestAnimalsSource.Schema
  override def toBatch: Batch           = this

  /** Row-based only: Spark then never plans the partitions just to ask. */
  override def columnarSupportMode(): Scan.ColumnarSupportMode = Scan.ColumnarSupportMode.UNSUPPORTED

  /** Driver-side probe: one GET for page 1 sizes the scan. Memoized, since
    * Spark asks a scan for its partitions more than once per plan. */
  private lazy val partitions: Array[InputPartition] = {
    val client = RestAnimalsSource.clientFromOptions(options)
    val first  = AnimalsJson.parsePage(client.get(s"${RestAnimalsSource.ListPath}?page=1").body)
    val k      = options.getOrElse("concurrency", "8").toInt
    RangePartition.plan(k, first.totalPages, first.items).map(p => p: InputPartition)
  }

  override def planInputPartitions(): Array[InputPartition] = partitions

  override def createReaderFactory(): PartitionReaderFactory = new RestRangeReaderFactory(options)
}

class RestRangeReaderFactory(options: Map[String, String]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val range = partition.asInstanceOf[RangePartition]
    new PartitionReader[InternalRow] {
      private lazy val client = RestAnimalsSource.clientFromOptions(options)
      private val rows: Iterator[InternalRow] =
        range
          .items(p => AnimalsJson.parsePage(client.get(s"${RestAnimalsSource.ListPath}?page=$p").body).items)
          .map(a => InternalRow(a.id, UTF8String.fromString(a.name), a.bornAt.map(Long.box).orNull))
      private var current: InternalRow = _
      override def next(): Boolean = {
        if (rows.hasNext) { current = rows.next(); true } else false
      }
      override def get(): InternalRow = current
      override def close(): Unit     = ()
    }
  }
}
