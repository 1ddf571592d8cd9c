package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke coverage for the Bench sidecar's streaming measurement: both
  * sink modes must drain a small rate-controlled run to completion and
  * report sane figures — a broken mode would otherwise surface only as
  * a missing "stream" key in the driver's BENCH line. */
class StreamBenchSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  for (mode <- Seq("upsert", "stateful"))
  test(s"StreamBench drains and reports, mode=$mode") {
    val r = StreamBench.run(spark, rate = 500, durationS = 2, mode = mode)
    assert(r.rows == 1000L, s"all generated frames must be stored, got ${r.rows}")
    assert(r.batches >= 1 && r.wallS > 0)
    assert(r.rowsPerS > 0 && !r.p95S.isNaN && r.p95S > 0,
      s"latency figures must be populated: $r")
    assert(r.p50S <= r.p95S && r.p95S <= r.maxS)
  }

  test("StreamBench drains and reports, mode=gate (LM admission split)") {
    // gate routes every doc (rows = all decisions) and must SPLIT the
    // feed — runGateOnce itself asserts 0 < admitted < routed. Since
    // r11 the gate rides the same WAL doc feed as the tick modes
    // (generates EXACTLY total frames, maxFramesPerBatch-capped), so
    // the old unbounded-rate-source overshoot tolerance is gone: the
    // bound is == again, and the per-batch series Bench prints must be
    // populated.
    val r = StreamBench.run(spark, rate = 500, durationS = 2, mode = "gate")
    assert(r.rows == 1000L, s"every generated doc must be routed admit/reject, got ${r.rows}")
    assert(r.batches >= 1 && r.wallS > 0 && r.rowsPerS > 0)
    assert(!r.p95S.isNaN && r.p50S <= r.p95S && r.p95S <= r.maxS)
    assert(r.perBatch.nonEmpty && r.perBatch.map(_._2).sum == 1000L,
      s"gate must record its per-batch (latency, decisions) series: $r")
  }

  test("StreamBench rejects unknown modes") {
    assertThrows[IllegalArgumentException](
      StreamBench.run(spark, rate = 100, durationS = 1, mode = "nope"))
  }
}
