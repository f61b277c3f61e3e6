package graft.raster

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.ResamplingAlg

class OverviewSpec extends SparkSpec {
  import spark.implicits._

  private val ndv = -1.0
  // one 2×2 block: 1,2 / 3,ndv  and another: all ndv
  private def base = Seq(
    (0, 0, 1.0), (1, 0, 2.0), (0, 1, 3.0), (1, 1, ndv),
    (2, 0, ndv), (3, 0, ndv), (2, 1, ndv), (3, 1, ndv))
    .toDF("px", "py", "v")
    .select(lit(0).as("rid"), lit(1).as("band"), col("px"), col("py"), col("v"))

  test("average level ignores nodata; all-ndv block stays ndv (D7)") {
    val lvl = Overview.buildLevel(base, ResamplingAlg.Average, ndv)
      .orderBy("px").select("px", "v").as[(Int, Double)].collect().toMap
    assert(lvl(0) == 2.0) // (1+2+3)/3
    assert(lvl(1) == ndv)
  }

  test("nearest level samples the even (top-left) child, shuffle-free") {
    val lvl = Overview.buildLevel(base, ResamplingAlg.Nearest, ndv)
      .orderBy("px").select("px", "v").as[(Int, Double)].collect().toMap
    assert(lvl(0) == 1.0 && lvl(1) == ndv)
    // plan is a filter+project — no Exchange operator
    val plan = Overview.buildLevel(base, ResamplingAlg.Nearest, ndv)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  test("mode level: majority value, ties to smallest") {
    val block = Seq((0, 0, 7.0), (1, 0, 7.0), (0, 1, 3.0), (1, 1, 9.0))
      .toDF("px", "py", "v")
      .select(lit(0).as("rid"), lit(1).as("band"), col("px"), col("py"), col("v"))
    assert(Overview.buildLevel(block, ResamplingAlg.Mode, ndv)
      .select("v").as[Double].head() == 7.0)
    val tie = Seq((0, 0, 7.0), (1, 0, 7.0), (0, 1, 3.0), (1, 1, 3.0))
      .toDF("px", "py", "v")
      .select(lit(0).as("rid"), lit(1).as("band"), col("px"), col("py"), col("v"))
    assert(Overview.buildLevel(tie, ResamplingAlg.Mode, ndv)
      .select("v").as[Double].head() == 3.0)
  }

  test("pyramid of the A7 constant raster keeps its constant per level") {
    val const = PixelFrame.constant(spark, 16, 16, 42.0)
    val pyr = Overview.buildPyramid(const, levels = 3, ResamplingAlg.Average, ndv)
    val perLevel = pyr.groupBy("ovr")
      .agg(countDistinct("v").as("nv"), count(lit(1)).as("n"), max("v").as("mx"))
      .orderBy("ovr").as[(Int, Long, Long, Double)].collect()
    assert(perLevel.length == 4)
    for ((ovr, nv, n, mx) <- perLevel) {
      assert(nv == 1 && mx == 42.0)
      assert(n == (16 >> ovr).toLong * (16 >> ovr))
    }
  }

  test("pyramid level counts follow the 2^k contract (gdalos_trans.py:72-79)") {
    val d = PixelFrame.dem(spark, 32, 32)
    val pyr = Overview.buildPyramid(d, 2, ResamplingAlg.Average, PixelFrame.Dem.Ndv)
    val counts = pyr.groupBy("ovr").count().orderBy("ovr").as[(Int, Long)].collect().toMap
    assert(counts == Map(0 -> 1024L, 1 -> 256L, 2 -> 64L))
  }

  test("pyramid materializes each level once: no O(L^2) re-aggregation lineage") {
    import org.apache.spark.sql.execution.ExplainMode
    val dem = PixelFrame.dem(spark, 64, 64)
    // materialized: only the LAST level's aggregation appears in the
    // plan (earlier levels are checkpointed scans)
    val mat = Overview.buildPyramid(dem, 4, ResamplingAlg.Average, PixelFrame.Dem.Ndv)
    val matAggs = "HashAggregate".r.findAllIn(
      mat.queryExecution.explainString(ExplainMode.fromString("simple"))).length
    // un-materialized: level k's branch re-aggregates 1..k times
    val lazyP = Overview.buildPyramid(dem, 4, ResamplingAlg.Average, PixelFrame.Dem.Ndv,
      materialize = false)
    val lazyAggs = "HashAggregate".r.findAllIn(
      lazyP.queryExecution.explainString(ExplainMode.fromString("simple"))).length
    assert(matAggs <= 2, s"materialized pyramid should aggregate once, saw $matAggs")
    assert(lazyAggs >= 10, s"lazy pyramid should show the O(L^2) blowup, saw $lazyAggs")
    // identical results either way
    val a = mat.groupBy("ovr").count().orderBy("ovr").collect().toSeq
    val b = lazyP.groupBy("ovr").count().orderBy("ovr").collect().toSeq
    assert(a == b)
  }
}
