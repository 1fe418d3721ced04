package graft

import java.nio.file.Files

class ProbeSpec extends SparkSpec {

  test("Probe.run: round-robin records with phase timings and job " +
      "counts, one plan file per name") {
    val names = Seq("q01_pricing_summary", "q02_topk_orders")
    val planDir = Files.createTempDirectory("graft-probe-plans")
    try {
      val runs = Probe.run(spark, names, rounds = 2,
        "/root/testdata/sf0.001", Some(planDir.toString))
      assert(runs.map(r => (r.round, r.name)) ===
        Seq(1 -> names(0), 1 -> names(1), 2 -> names(0), 2 -> names(1)))
      runs.foreach { r =>
        assert(r.constructS >= 0 && r.executeS >= 0, r)
        assert(r.executeJobs >= 1, r)
      }
      names.foreach { n =>
        assert(Files.readString(planDir.resolve(s"$n.txt"))
          .contains("Physical Plan"), n)
      }
    } finally {
      Files.list(planDir).forEach(p => Files.delete(p))
      Files.delete(planDir)
    }
  }
}
