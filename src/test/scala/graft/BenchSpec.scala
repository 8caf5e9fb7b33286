package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("the board round comes from BENCH_rNN.json only") {
    // the repo listing when the round-22 board ran: CORRECTNESS_r22.json,
    // PERF_r22.json and VERIFY_r22.json had landed, BENCH_r22.json had not
    val r22 = (1 to 21).map(r => f"BENCH_r$r%02d.json") ++
      (1 to 22).map(r => f"CORRECTNESS_r$r%02d.json") ++
      Seq(6, 9, 10, 11, 12, 13, 14, 15, 17, 18, 19, 20)
        .map(r => s"CORRECTNESS_sf01_r$r.json") ++
      (11 to 22).map(r => s"BENCH_SUMMARY_r$r.json") ++
      (17 to 20).map(r => s"BENCH_SUMMARY_r${r}_close.json") ++
      Seq("BENCH_SUMMARY_r16b.json", "BENCH_r21_c8.json", "PERF_r21.json",
        "PERF_r22.json", "VERIFY_r21.json", "VERIFY_r22.json", "VERDICT.md",
        "ADVICE.md", "README.md")
    assert(Bench.round(r22) == 22)
    assert(Bench.round(r22 :+ "BENCH_r22.json") == 23)
    assert(Bench.round(Seq("README.md")) == 0)
  }
}
