package graft.ingestion

import graft.SparkSpec
import graft.core.JobRecorder

/** Plan-shape budget for the end-to-end SEG-Y ingest composition
  * (`q_segy_file_ingest`): the round-10 audit found 29 driver-sequential
  * jobs; the fused shape is 17: fixture write 5, the QC per-cell pass 2
  * (its reduction rides an observation), store write 3 (range sampling,
  * exchange, write), one job per dim table written from the QC pass's
  * driver vectors (3, concurrent), and the folded check action 4. Job
  * count is data-size-independent, so a regression here is a STRUCTURAL
  * one — a new per-dim scan, a resurrected `.orderBy` on a driver-sized
  * vector, an unfolded check — and this spec fails before the bench ever
  * sees it. (RegistrySpec's pattern applied to plans.)
  */
class IngestJobBudgetSpec extends SparkSpec {

  test("q_segy_file_ingest submits a bounded, data-size-independent job count") {
    val jobs = JobRecorder.record(spark) {
      graft.SparkEntry.queries("q_segy_file_ingest")(spark, "/root/testdata/sf0.001")
        .count()
    }._2.jobs
    // 17 + 4 jobs of headroom for AQE stage-count jitter across Spark
    // versions; 29 (the unfused shape) must fail
    assert(jobs <= 21, s"ingest composition submitted $jobs jobs (budget 21) " +
      "— a per-table scan or driver-sequential aggregate crept back in")
    assert(jobs >= 5, s"listener saw only $jobs jobs — harness broken?")
  }
}
