package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The bench record rules, checked without a Spark job. */
class BenchSpec extends AnyFunSuite {

  private def withDir(body: Path => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-bench")
    try body(dir)
    finally {
      Files.list(dir).iterator.asScala.toList.foreach(Files.delete)
      Files.delete(dir)
    }
  }

  test("minMerge never raises an entry, keeps absent ones and adds new ones") {
    val old = Map("q1_a" -> 1.0, "q2_b" -> 2.0, "q3_c" -> 3.0)
    val cur = Map("q1_a" -> 0.5, "q2_b" -> 2.5, "q4_d" -> 4.0, "q5_e" -> -1.0)
    assert(Bench.minMerge(old, cur) ==
      Map("q1_a" -> 0.5, "q2_b" -> 2.0, "q3_c" -> 3.0, "q4_d" -> 4.0))
  }

  test("hostScale is the 25th-percentile ratio clamped to [1, 2]") {
    val floors = (1 to 40).map(i => f"q$i%03d_x" -> 1.0).toMap
    def scale(ratio: Int => Double) =
      Bench.hostScale(floors.map { case (n, f) => n -> f * ratio(n.drop(1).take(3).toInt) }, floors)
    // ratios 1.01 … 1.40: index 40 / 4 = 10 of the sorted list is 1.11
    assert(math.abs(scale(i => 1.0 + i / 100.0) - 1.11) < 1e-9)
    assert(scale(_ => 0.5) == 1.0)
    assert(scale(_ => 3.0) == 2.0)
    // a burst over a quarter of the suite leaves the low quantile alone
    assert(math.abs(scale(i => if (i > 30) 5.0 else 1.2) - 1.2) < 1e-9)
  }

  test("hostScale reads 1.0 with fewer than 20 ratios") {
    val floors = (1 to 30).map(i => f"q$i%03d_x" -> (if (i <= 19) 1.0 else 0.01)).toMap
    // 19 usable ratios: the floors under 50 ms do not count
    assert(Bench.hostScale(floors.map { case (n, f) => n -> 1.5 * f }, floors) == 1.0)
    val usable = floors.map { case (n, _) => n -> 1.0 }
    assert(Bench.hostScale(usable.map { case (n, f) => n -> 1.5 * f }, usable) == 1.5)
  }

  test("over2x needs 2x the scaled floor and the 0.15 s absolute margin") {
    assert(Bench.over2x(2.1, 1.0, 1.0))
    assert(!Bench.over2x(2.1, 1.0, 1.1))
    assert(Bench.over2x(2.3, 1.0, 1.1))
    // 2.5x a 0.1 s floor is only 0.15 s over it
    assert(!Bench.over2x(0.25, 0.1, 1.0))
    assert(Bench.over2x(0.26, 0.1, 1.0))
    assert(!Bench.over2x(-1.0, 1.0, 1.0))
  }

  test("retry waves use the gate's host-scaled threshold, worst ratio first") {
    val floors = Map("q1_a" -> 1.0, "q2_b" -> 1.0, "q3_c" -> 1.0, "q4_d" -> 1.0, "q5_e" -> 1.0)
    val values = Map("q1_a" -> 2.4, "q2_b" -> 3.2, "q3_c" -> 4.5, "q4_d" -> -1.0, "q5_e" -> 1.0)
    // at host_scale 1.5 the gate needs 3x: 2.4x is not retried
    assert(Bench.retrySuspects(values, floors, 1.5) == Seq("q3_c", "q2_b"))
    assert(Bench.retrySuspects(values, floors, 1.0) == Seq("q3_c", "q2_b", "q1_a"))
    assert(Bench.retrySuspects(values, Map.empty, 1.0).isEmpty)
  }

  test("an 8-core pass leaves the 32-core protocol record in bench_last.json") {
    withDir { dir =>
      val sf = "/data/sf0.1"
      val c32 = """{"metric":"total","value":141.4}"""
      val c8 = """{"metric":"total","value":129.5}"""
      Bench.writeRecord(dir, c32, 32, Bench.isProtocol(sf, subset = false, parallelism = 32))
      Bench.writeRecord(dir, c8, 8, Bench.isProtocol(sf, subset = false, parallelism = 8))
      def read(name: String) = Files.readString(dir.resolve(name)).trim
      assert(read("bench_last.json") == c32)
      assert(read("bench_last_c32.json") == c32)
      assert(read("bench_last_c8.json") == c8)
    }
  }

  test("the retry reference is the committed floors, not the last record's ratios") {
    withDir { dir =>
      Files.writeString(dir.resolve("bench_floors.json"),
        "{\n\"q123_semantic_prune\":2.056,\n\"q214_giant_cluster\":1.948\n}\n")
      // a full record: its var and over2x maps repeat every query name
      // with a ratio, and the last match of each name is a ratio
      Files.writeString(dir.resolve("bench_last.json"),
        """{"queries":{"q123_semantic_prune":2.07,"q214_giant_cluster":1.99},""" +
          """"var":{"q123_semantic_prune":1.09,"q214_giant_cluster":1.11}}""")
      assert(Bench.retryFloors(dir) ==
        Map("q123_semantic_prune" -> 2.056, "q214_giant_cluster" -> 1.948))
    }
  }
}
