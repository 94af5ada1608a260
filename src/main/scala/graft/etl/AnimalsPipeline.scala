package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.sinks.HttpBatchSink
import graft.sources.{HttpTimeouts, RestAnimalsSource, RestEnrich, RetryPolicy}

/** The reference's full E-T-L composed Spark-first
  * (`/root/reference/src/animals_etl/cli.py:40-43`): paginated scan →
  * keyed-lookup enrichment → transform → batched POST. Unlike the
  * reference's four materialization barriers, each run is one Spark job with
  * no exchange: the scan plans `concurrency` item-range partitions, and the
  * detail lookups, the transform and the POSTs run narrow in the same
  * `concurrency` tasks, so at most `concurrency` requests are in flight
  * (the reference's semaphore). The sink action is the only query planned.
  */
object AnimalsPipeline {

  final case class Result(postedBatches: Long)

  /** The listing as `concurrency` item-range partitions; its page requests
    * use `policy` and `timeouts`. */
  def listed(
      spark: SparkSession,
      transportClass: String,
      concurrency: Int = 8,
      policy: RetryPolicy = RetryPolicy(),
      timeouts: HttpTimeouts = HttpTimeouts()
  ): DataFrame =
    spark.read
      .format("graft.sources.RestAnimalsSource")
      .option("transport", transportClass)
      .option("concurrency", concurrency.toString)
      .options(RestAnimalsSource.clientOptions(policy, timeouts))
      .load()

  def run(
      spark: SparkSession,
      transportClass: String,
      asOf: Column,
      concurrency: Int = 8,
      batchSize: Int = 100,
      policy: RetryPolicy = RetryPolicy(),
      timeouts: HttpTimeouts = HttpTimeouts()
  ): Result = {
    val ids         = listed(spark, transportClass, concurrency, policy, timeouts)
    val details     = RestEnrich.lookup(ids, transportClass, policy, timeouts)
    val transformed = AnimalsTransform.transform(details, asOf)
    Result(HttpBatchSink.post(transformed, transportClass, batchSize, policy, timeouts))
  }

  /** Env/CLI-configured entry point — the reference's `cli.py` run shape. */
  def run(spark: SparkSession, transportClass: String, asOf: Column, config: EtlConfig): Result =
    run(spark, transportClass, asOf, config.concurrency, config.batchSize, config.policy, config.timeouts)
}
