package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Pins the lifecycle round-trip cuts as Spark job budgets. r19 made
  * commit/hwm markers FS-direct (no spark.range(1) write job) and the
  * FileManifest and BM25 meta driver-side text IO; s19's tick then
  * dropped its schema-inference reads, its empty-tick literal collect
  * and its range-sort drain of three driver-held rows. Each removed
  * round trip is one fewer Spark job. Measured at sf0.01/local[8]
  * (JobCountProbe):
  *
  *   s19_incremental_listing  24 -> 14 -> 9
  *   v17_bm25_indexed         50 -> 39
  *   d15_lsh_index_probe      26 -> 22
  *   v14_ivf_recenter         43 -> 39
  *   g12_vector_tick          38 -> 35
  *   d18_neardup_ingest       37 -> 36
  *
  * The r19 bounds carry headroom (+4..5) for SF/core/AQE variance
  * while still failing if a marker/manifest job class returns (each
  * class re-adds 3-11 jobs). s19's 9 is structural — four landing
  * writes, two ticks' aggregates at two jobs each, one drain — and the
  * same at sf0.001 and sf0.01; its bound allows +1 only, for the
  * documents load when the spec's session has not read the table yet,
  * since each of its removed classes re-adds just 1-3 jobs. sf0.001
  * keeps the spec cheap.
  */
class JobCountSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def jobsOf(name: String): Long = {
    val ctr = new AtomicLong(0L)
    val l = new SparkListener {
      override def onJobStart(ev: SparkListenerJobStart): Unit = {
        ctr.incrementAndGet(): Unit
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd
        .foreachPartition(
          (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) =>
            it.foreach(_ => ()))
      org.apache.spark.graftbridge.Bus.drain(spark.sparkContext)
      ctr.get()
    } finally {
      spark.sparkContext.removeSparkListener(l)
      Frames.scrubSession(spark)
    }
  }

  private val roundTrips = "a lifecycle round-trip class " +
    "(marker write job / manifest parquet job / tick stage write)"

  for ((name, bound, returned) <- Seq(
      ("s19_incremental_listing", 10L, "a tick round-trip class " +
        "(schema-inference job / driver-row collect / range-sort drain; " +
        "a serial landing keeps the count)"),
      ("v17_bm25_indexed", 44L, roundTrips),
      ("d15_lsh_index_probe", 27L, roundTrips),
      ("v14_ivf_recenter", 44L, roundTrips),
      ("g12_vector_tick", 40L, roundTrips))) {
    test(s"$name runs within its post-r19 job budget (<= $bound)") {
      val n = jobsOf(name)
      assert(n <= bound, s"$name ran $n jobs (> $bound) — $returned " +
        "has returned, or the query gained real jobs")
    }
  }
}
