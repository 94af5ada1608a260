package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.FaunaFunctions._

/** Schemas for the animals pipeline, from the reference's TypedDicts
  * (`/root/reference/src/animals_etl/models.py:17-42`). All fields nullable —
  * the reference declares every field optional at runtime (`total=False`).
  */
object AnimalSchemas {
  /** Listing item (models.py:17-20). */
  val baseAnimal: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("born_at", LongType)
  ))

  /** Paginated page envelope (models.py:23-26) — nested array-of-struct. */
  val animalPage: StructType = StructType(Seq(
    StructField("page", IntegerType),
    StructField("total_pages", IntegerType),
    StructField("items", ArrayType(baseAnimal))
  ))

  /** Detail record, input to the transform (models.py:29-33). */
  val animalDetail: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("friends", StringType),
    StructField("born_at", LongType)
  ))
}

/** Typed record mirroring `AnimalDetail` for Dataset-based stages. */
case class AnimalDetail(id: Long, name: String, friends: Option[String], born_at: Option[Long])

/** Transformed record (`AnimalTransformed`, models.py:36-40). `born_at` is an
  * Option — the reference omits the key when invalid; Spark rows model that
  * as NULL, and key-omission is reproduced only at a JSON sink
  * (`to_json(..., ignoreNullFields=true)`).
  */
case class AnimalTransformed(id: Long, name: String, friends: Seq[String], born_at: Option[String])

/** The reference's transform stage (P1-P5, F1-F3) as a narrow, fully
  * codegen'd DataFrame => DataFrame — one pipelined pass, no barrier, unlike
  * the reference's full materialization between stages
  * (`/root/reference/src/animals_etl/pipeline.py:57-86`).
  */
object AnimalsTransform {

  /** Flatten a page envelope into one row per listing item with a long `id`
    * (S3, pipeline.py:15,24): explode(items) + cast.
    */
  def flattenPages(pages: DataFrame): DataFrame =
    pages
      .select(explode(col("items")).as("item"))
      .select(
        col("item.id").cast(LongType).as("id"),
        col("item.name").as("name"),
        col("item.born_at").cast(LongType).as("born_at")
      )

  /** P1 projection + F1-F3 scalar transforms + P3/P4/P5 guards. `asOf` pins
    * the reference's wall-clock "future" cutoff for reproducibility.
    * Attaches an `observe("quality", ...)` metric mirroring the reference's
    * invalid-born_at counter (pipeline.py:66,82-83).
    */
  def transform(details: DataFrame, asOf: Column): DataFrame =
    transformVia(details, asOf)(metrics => _.observe("quality", metrics.head, metrics.tail: _*))

  /** Error-row filter (P2): drop rows whose keyed lookup failed (null id). */
  def dropFailedLookups(details: DataFrame): DataFrame =
    details.na.drop(Seq("id"))

  /** [[transform]] with an [[org.apache.spark.sql.Observation]] handle so
    * callers can block on the quality metrics after their action — the
    * engine-side replacement for the reference's printed counter
    * (pipeline.py:82-83). */
  def transformObserved(
      details: DataFrame,
      asOf: Column,
      obs: org.apache.spark.sql.Observation
  ): DataFrame =
    transformVia(details, asOf)(metrics => _.observe(obs, metrics.head, metrics.tail: _*))

  /** born_at goes epoch → micros → checked timestamp → ISO string in three
    * stacked projections. Each layer's result feeds the next one several
    * times, so CollapseProject keeps them apart and every row computes each
    * step once; inlined, the ISO string repeats the epoch conversion 16×. */
  private def transformVia(details: DataFrame, asOf: Column)(
      observe: Seq[Column] => DataFrame => DataFrame
  ): DataFrame = {
    val born = details
      .withColumn("born_us", epochToMicros(col("born_at")))
      .withColumn("born_ts", normalizeMicros(col("born_us"), asOf))
      .withColumn("born_iso", formatIsoUtc(col("born_ts")))
    val quality = Seq(
      count(when(col("born_at").isNotNull && col("born_iso").isNull, 1)).as("invalid_born_at"),
      count(lit(1)).as("rows")
    )
    observe(quality)(born)
      .select(
        col("id").cast(LongType).as("id"),
        col("name"),
        splitFriends(col("friends")).as("friends"),
        col("born_iso").as("born_at")
      )
  }
}
