package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{lit, timestamp_micros}

import graft.{GraftSession, SparkEntry}
import graft.etl.AnimalsPipeline
import graft.sources.RetryPolicy

/** Checks of the benchmark's own machinery, run by
  * perfbench/tests/test_harness.py:
  *
  *  - the ETL ground truth: a tiny corpus through the real pipeline with
  *    many injected 503s and 404s verifies clean, and the verifier catches
  *    a missing, a duplicated and a wrong record;
  *  - job-to-phase attribution: q77's PageRank iterations run while its
  *    DataFrame is built, q02's query runs only when executed.
  *
  * Usage: perfbench.SelfTest <tables dir>; exits non-zero if any check
  * failed.
  */
object SelfTest {
  private var failures = 0
  private def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what ${if (ok) "" else detail}")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get("local[2]", 2)
    try {
      isoGoldens()
      etlGroundTruth(spark)
      attribution(spark, args(0))
    } finally spark.stop()
    if (failures > 0) { println(s"$failures check(s) failed"); System.exit(1) }
    System.exit(0)
  }

  private def isoGoldens(): Unit = {
    check("iso ms fraction", AnimalsCorpus.iso(1348692957651000L) == "2012-09-26T20:55:57.651000Z")
    check("iso whole second", AnimalsCorpus.iso(1577836800000000L) == "2020-01-01T00:00:00Z")
  }

  private def etlGroundTruth(spark: SparkSession): Unit = {
    val svc    = FakeAnimalsService
    val animals = AnimalsCorpus.generate(seed = 7, firstId = 1, n = 300, dropRate = 0.1)
    svc.seed = 7
    svc.transientRate = 0.3
    svc.serviceNanos = 0L
    svc.load(animals)
    svc.startRun(animals)
    AnimalsPipeline.run(
      spark, classOf[FakeAnimalsTransport].getName, timestamp_micros(lit(AnimalsCorpus.AsOfMicros)),
      concurrency = 2, batchSize = 100, policy = RetryPolicy(retries = 6, baseDelayMs = 1, capDelayMs = 2, jitterMs = 1))
    val (failed, problems) = svc.verify(animals)
    check("etl: every record as expected", failed == 0, problems.mkString("; "))
    check("etl: 503s were injected and retried", svc.transientFailures.get > 0 && svc.requests < svc.detailAttempts.get + svc.pageAttempts.get + svc.postAttempts.get)
    check("etl: designed drops exist", animals.count(_.expected.isEmpty) > 0)
    check("etl: corpus has every born_at kind",
      animals.exists(_.bornAt.isEmpty) && animals.exists(_.bornAt.exists(_ < 0)) &&
        animals.exists(a => a.bornAt.exists(_ > 0) && a.expected.exists(_.bornAtIso.isEmpty)) &&
        Seq(1e9, 1e12, 1e15, 1e18).forall(lo => animals.exists(_.bornAt.exists(b => b >= lo && b < lo * 1000))))

    val bodies = svc.postedBodies.asScala.toVector
    val kept   = animals.filter(_.expected.isDefined)
    def verifyWith(edit: Vector[String] => Vector[String]): Long = {
      svc.postedBodies.clear(); edit(bodies).foreach(svc.postedBodies.add); svc.verify(animals)._1
    }
    check("verifier: duplicate caught", verifyWith(b => b :+ s"[${bodies.head.drop(1).takeWhile(_ != '}')}}]") == 1)
    check("verifier: missing caught", verifyWith(b => b.map(_.replace(s"""{"id":${kept.head.id},""", """{"id":-1,"""))) == 2)
    check("verifier: wrong value caught", verifyWith(b => b.map(_.replace(s""""name":"${kept.last.name}"""", """"name":"x""""))) == 1)
    svc.postedBodies.clear()
  }

  private def attribution(spark: SparkSession, dir: String): Unit = {
    val l = new LayerListener
    spark.sparkContext.addSparkListener(l)
    def phases(name: String): Map[String, Long] = {
      val b0 = System.currentTimeMillis()
      val df = SparkEntry.queries(name)(spark, dir)
      val b1 = System.currentTimeMillis()
      val qe = df.queryExecution
      qe.executedPlan
      val b2 = System.currentTimeMillis()
      qe.toRdd.count()
      val b3 = System.currentTimeMillis()
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      l.collect(Array(b0, b1, b2, b3)).phases.map { case (k, c) => k -> c.jobs }
    }
    val q77 = phases(SparkEntry.queries.keys.find(_.startsWith("q77_")).get)
    check("q77: PageRank jobs attributed to builder", q77("builder") >= 3, q77.toString)
    // q02's DataFrame is lazy: its only builder job is the parquet footer
    // read of `spark.read.parquet` on its one table.
    val q02 = phases("q02_filter_revenue")
    check("q02: query jobs attributed to exec", q02("builder") <= 1 && q02("exec") >= 1, q02.toString)
    spark.sparkContext.removeSparkListener(l)
  }
}
