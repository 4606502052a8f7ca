package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** Pins where the bench gate's baseline comes from: the committed
  * `BENCH_LOCAL_r<N>.json` with the largest N, never a `_run<K>` recording,
  * and never silently nothing. */
class BenchBaselineSpec extends AnyFunSuite {

  private def dirWith(files: (String, Double)*): Path = {
    val dir = Files.createTempDirectory("bench-baseline")
    files.foreach { case (name, wall) =>
      Files.writeString(dir.resolve(name),
        s"""{"queries":{"q1_agg":$wall},"shuffle_write":{"q1_agg":${wall.toLong}}}""")
    }
    dir
  }

  test("the newest BENCH_LOCAL_r<N>.json wins over older rounds and _run recordings") {
    val dir = dirWith("BENCH_LOCAL_r17.json" -> 17.0, "BENCH_LOCAL_r18.json" -> 18.0,
      "BENCH_LOCAL_r18_run3.json" -> 183.0, "BENCH_LOCAL_r9.json" -> 9.0)
    val base = Bench.loadBaseline(dir.toFile)
    assert(base.wall == Map("q1_agg" -> 18.0))
    assert(base.shuffle == Map("q1_agg" -> 18L))
  }

  test("the committed baseline covers exactly the registered queries") {
    val base = Bench.loadBaseline(new java.io.File("."))
    val names = SparkEntry.queries.keySet
    assert(base.wall.keySet == names)
    assert(base.shuffle.keySet == names)
  }

  test("a directory without a numbered baseline fails loudly, naming the file") {
    val dir = dirWith("BENCH_LOCAL_r18_run1.json" -> 1.0, "BENCH_r18.json" -> 2.0)
    val e = intercept[IllegalArgumentException](Bench.loadBaseline(dir.toFile))
    assert(e.getMessage.contains("BENCH_LOCAL_r<N>.json"), e.getMessage)
  }

  test("a baseline without its shuffle_write map fails loudly") {
    val dir = Files.createTempDirectory("bench-baseline")
    Files.writeString(dir.resolve("BENCH_LOCAL_r19.json"), """{"queries":{"q1_agg":1.0}}""")
    val e = intercept[IllegalArgumentException](Bench.loadBaseline(dir.toFile))
    assert(e.getMessage.contains("shuffle_write"), e.getMessage)
  }
}
