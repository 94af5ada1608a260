package graft.sources

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types._

/** Keyed point-lookup fan-out (S2,
  * `/root/reference/src/animals_etl/pipeline.py:31-55`): enrich an id column
  * by concurrent per-key GETs.
  *
  * Spark mapping: a narrow `mapPartitions` with one retrying client per
  * partition, looking its ids up one after another; in-flight request
  * concurrency = number of simultaneously running partitions, so the
  * partition count of the input is the semaphore (R5). The listing scan
  * already plans `concurrency` partitions, so the pipeline runs [[lookup]]
  * straight on it, in the scan's own tasks; [[details]] repartitions an
  * arbitrary id frame first. Failed lookups are logged and dropped (P2),
  * matching the reference's error-tolerant semantics.
  */
object RestEnrich {

  val DetailSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = true),
    StructField("friends", StringType, nullable = true),
    StructField("born_at", LongType, nullable = true)
  ))

  def detailPath(id: Long): String = s"/animals/v1/animals/$id"

  /** ids: any DataFrame with a LONG `id` column → detail records, failures
    * dropped. `parallelism` bounds fan-out (reference `--concurrency`). */
  def details(
      ids: DataFrame,
      transportClass: String,
      parallelism: Int = 8,
      policy: RetryPolicy = RetryPolicy(),
      timeouts: HttpTimeouts = HttpTimeouts()
  ): DataFrame =
    lookup(ids.select("id").repartition(math.max(1, parallelism)), transportClass, policy, timeouts)

  /** [[details]] over `ids` as partitioned: one sequential lookup stream
    * per partition, no exchange. */
  def lookup(
      ids: DataFrame,
      transportClass: String,
      policy: RetryPolicy = RetryPolicy(),
      timeouts: HttpTimeouts = HttpTimeouts()
  ): DataFrame =
    ids
      .select("id")
      .mapPartitions { (it: Iterator[Row]) =>
        val client = new RetryingHttpClient(HttpTransport.byName(transportClass), policy, timeouts)
        val part   = org.apache.spark.TaskContext.getPartitionId()
        var done   = 0L
        it.flatMap { row =>
          val id = row.getLong(0)
          val res =
            try {
              AnimalsJson
                .parseDetail(client.get(detailPath(id)).body)
                .map(d => Row(d.id, d.name, d.friends.orNull, d.bornAt.map(Long.box).orNull))
            } catch {
              case scala.util.control.NonFatal(e) =>
                // reference logs and drops the row (pipeline.py:39-43)
                System.err.println(s"[warn] get_animal($id) failed: ${e.getMessage}")
                None
            }
          // progress cadence parity (pipeline.py:53-54): every 100 lookups,
          // per partition (partitions are the unit of concurrency here)
          done += 1
          if (done % 100 == 0)
            System.err.println(s"[progress] partition $part fetched $done details…")
          res
        }
      }(Encoders.row(DetailSchema))
}
