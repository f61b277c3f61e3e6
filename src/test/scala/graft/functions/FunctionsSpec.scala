package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Jobs
import graft.plans.ProgressListener
import graft.raster.{Combine, PixelFrame}

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("Calc: gdal_calc A..Z expression surface (I1)") {
    val a = PixelFrame.constant(spark, 4, 4, 10.0)
    val b = PixelFrame.dem(spark, 4, 4)
    val out = Calc.calc(Map("A" -> a, "B" -> b), "greatest(A, B) * 2 + 1")
    val atOrigin = out.filter($"px" === 0 && $"py" === 0).select("v").as[Double].head()
    assert(atOrigin == 21.0) // dem(0,0) is ndv<10 → greatest = 10 → 21
    val at31 = out.filter($"px" === 3 && $"py" === 1).select("v").as[Double].head()
    assert(at31 == (3 * 7 + 13).toDouble * 2 + 1) // dem 34 > 10
    assertThrows[IllegalArgumentException](Calc.calc(Map("a" -> a), "a"))
  }

  test("Calc user_namespace functions work inside expressions (I1/H1)") {
    Calc.registerUserFunction(spark, "halve", (x: Double) => x / 2)
    val a = PixelFrame.constant(spark, 2, 2, 10.0)
    val out = Calc.calc(Map("A" -> a), "halve(A) + 1")
    assert(out.select("v").as[Double].collect().forall(_ == 6.0))
  }

  test("UniqueIndexAgg matches the built-in vsUnique composition (I2)") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import org.apache.spark.sql.Encoders
    val stack = PixelFrame.vsStack(spark, n = 4, w = 16, h = 16)
    val agg = udaf(new UniqueIndexAgg(), Encoders.product[UniqueIn])
    val viaAgg = stack
      .groupBy("band", "px", "py")
      .agg(agg($"rid", $"v").as("v"))
    val viaBuiltins = Combine.vsUnique(stack)
    assert(viaAgg.except(viaBuiltins).count() == 0
      && viaBuiltins.except(viaAgg).count() == 0)
  }

  test("Jobs.expand crosses sequence-valued args (I3, gdalos_trans.py:263-281)") {
    val jobs = Jobs.expand(Map(
      "filename" -> Seq("a.tif", "b.tif"),
      "extent" -> Seq(1, 2, 3),
      "of" -> "cog"))
    assert(jobs.length == 6)
    assert(jobs.forall(_("of") == "cog"))
    assert(jobs.map(j => (j("filename"), j("extent"))).distinct.length == 6)
    assert(Jobs.expand(Map("x" -> 1)) == Seq(Map("x" -> 1)))
  }

  test("Jobs ordering, slice, cap (F3/F5)") {
    assert(Jobs.orderBySize(Seq(1, 5, 3))(_.toDouble) == Seq(5, 3, 1))
    assert(Jobs.slice(1 to 10, Some(2), Some(8)) == (3 to 8))
    assert(Jobs.slice(1 to 10, None, None, Some(3)) == Seq(1, 4, 7, 10))
    assert(Jobs.capInputs(1 to 300, 254).length == 254)
  }

  test("UTM Catalyst expressions: SQL surface matches the driver-side Proj (H4)") {
    GraftFunctions.register(spark)
    val row = spark.sql(
      "SELECT utm_forward_e(32.5, 34.75, 36.0) AS e, utm_forward_n(32.5, 34.75, 36.0) AS n")
      .head()
    val (expE, expN) = graft.core.Proj.utm(36).forward(32.5, 34.75)
    assert(row.getDouble(0) == expE && row.getDouble(1) == expN)
    // SQL round trip through the inverse expressions
    val rt = spark.sql(
      s"""SELECT utm_inverse_lat(${row.getDouble(0)}, ${row.getDouble(1)}, 36.0) AS lat,
         |       utm_inverse_lon(${row.getDouble(0)}, ${row.getDouble(1)}, 36.0) AS lon""".stripMargin)
      .head()
    assert(math.abs(rt.getDouble(0) - 32.5) < 1e-9 && math.abs(rt.getDouble(1) - 34.75) < 1e-9)
    // integer args are cast by the registered builder
    assert(spark.sql("SELECT utm_forward_e(0, 33, 36)").head().getDouble(0) == 500000.0)
  }

  test("UTM expression runs inside whole-stage codegen over a column") {
    GraftFunctions.register(spark)
    val df = spark.range(100).selectExpr(
      "id", "utm_forward_e(CAST(id AS DOUBLE) % 60 - 30, 33.0, 36.0) AS e")
    // '*' prefixes mark whole-stage-codegen spans in the compact plan
    assert(df.queryExecution.executedPlan.toString.contains("*(1) Project"))
    val got = df.filter($"id" === 40).head().getDouble(1)
    assert(got == graft.core.Proj.utm(36).forward(10.0, 33.0)._1)
  }

  test("ProgressListener counts jobs/tasks (I4)") {
    val l = ProgressListener.attach(spark)
    try {
      spark.range(1000).select(sum("id")).collect()
      // listener bus is async — poll until events are delivered
      val deadline = System.nanoTime() + 10e9.toLong
      while (l.jobsEnded.get < 1 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(l.jobsStarted.get >= 1 && l.jobsEnded.get >= 1)
      assert(l.tasksEnded.get >= 1)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
