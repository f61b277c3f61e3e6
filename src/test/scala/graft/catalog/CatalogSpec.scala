package graft.catalog

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CatalogSpec extends SparkSpec {
  import spark.implicits._

  private def cat(rows: (Int, String, Double, Double, Double, Double, Double)*) =
    rows.toSeq.toDF("rid", "path", "minx", "miny", "maxx", "maxy", "resx")

  test("filterContained drops strictly contained extents (C8, gdalos_vrt.py:73-87)") {
    val c = cat(
      (0, "a.tif", 0, 0, 10, 10, 1),
      (1, "b.tif", 2, 2, 8, 8, 1),   // inside a → dropped
      (2, "c.tif", 5, 5, 15, 15, 1), // overlaps a, not contained → kept
      (3, "d.tif", 3, 3, 4, 4, 1))   // inside b (dropped) and a → dropped (transitivity)
    val kept = Catalog.filterContained(c).select("rid").as[Int].collect().toSet
    assert(kept == Set(0, 2))
  }

  test("filterContained equal-extent tie keeps the lower rid") {
    val c = cat((0, "a.tif", 0, 0, 10, 10, 1), (1, "b.tif", 0, 0, 10, 10, 1))
    assert(Catalog.filterContained(c).select("rid").as[Int].collect().toSeq == Seq(0))
  }

  test("groupByLevel assigns log2 resolution levels (A5, gdalos_vrt.py:99-152)") {
    val c = cat(
      (0, "a.tif", 0, 0, 10, 10, 1),
      (1, "b.tif", 20, 0, 30, 10, 2),
      (2, "c.tif", 40, 0, 50, 10, 4))
    val lv = Catalog.groupByLevel(c).select("rid", "level").as[(Int, Int)].collect().toMap
    assert(lv == Map(0 -> 0, 1 -> 1, 2 -> 2))
  }

  test("route picks the nearest UTM-zone center (C5, gdalos_selector.py:44-65)") {
    val c = cat(
      (0, "srtm_w84u36.tif", 0, 0, 1, 1, 1),  // center 36*6-183 = 33
      (1, "srtm_w84u37.tif", 0, 0, 1, 1, 1))  // center 39
    val pts = Seq((0, 33.5), (1, 38.9), (2, 36.0)).toDF("point_id", "x")
    val routed = Catalog.route(pts, c)
      .select("point_id", "rid").as[(Int, Int)].collect().toMap
    assert(routed(0) == 0 && routed(1) == 1)
    assert(routed(2) == 0) // equidistant → lower rid (deterministic tie)
  }

  test("route runs 0 Spark jobs on a local point and a local catalog") {
    val c = Seq((0, "srtm_w84u36.tif"), (1, "srtm_w84u37.tif")).toDF("rid", "path")
    val pts = Seq((0, 38.0, 31.0)).toDF("point_id", "x", "y")
    val (got, jobs) = jobsOf(Catalog.route(pts, c).collect())
    assert(jobs == 0, s"route ran $jobs Spark jobs")
    assert(got.map(_.toSeq).toSeq == Seq(Seq(0, 38.0, 31.0, 1, "srtm_w84u37.tif", 39.0)))
  }

  test("route over distributed points equals a brute force over (|x - center|, rid), " +
    "exact midpoints included") {
    // x = 2·id − 30 lands on every midpoint 0, 6, … between zone centers
    val pts = spark.range(40).select(col("id").cast("int").as("point_id"),
      (col("id") * 2.0 - 30).as("x"))
    val c = Catalog.synthetic(spark, 16)
    val zone = "w84u([0-9]+)".r.unanchored
    val cat = c.select("rid", "path").as[(Int, String)].collect().toSeq
      .map { case (rid, p @ zone(z)) => (rid, p, z.toDouble * 6 - 183) }
    val want = (0 until 40).map { id =>
      val x = id * 2.0 - 30
      val (rid, path, center) = cat.minBy { case (rid, _, c) => (math.abs(x - c), rid) }(
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int))
      (id, x, rid, path, center)
    }
    val got = Catalog.route(pts, c).as[(Int, Double, Int, String, Double)]
      .collect().sortBy(_._1).toSeq
    assert(got == want)
  }

  test("route skips catalog rows without a zone; with none zoned it routes no point") {
    val pts = Seq((0, 20.0), (1, 40.0)).toDF("point_id", "x")
    val mixed = Seq((0, "plain.tif"), (1, "srtm_w84u36.tif")).toDF("rid", "path")
    assert(Catalog.route(pts, mixed).select("point_id", "rid").as[(Int, Int)]
      .collect().toSet == Set((0, 1), (1, 1)))
    val plain = Seq((1, "plain.tif")).toDF("rid", "path")
    assert(Catalog.route(pts, plain).collect().isEmpty)
    assert(Catalog.route(pts, plain).columns.toSeq ==
      Seq("point_id", "x", "rid", "path", "center"))
  }

  test("mosaicFirstWins: lowest rid covers overlaps (G2)") {
    val tiles = Seq((0, 1, 0, 0, 10.0), (1, 1, 0, 0, 20.0), (1, 1, 1, 0, 30.0))
      .toDF("rid", "band", "px", "py", "v")
    val m = Catalog.mosaicFirstWins(tiles).orderBy("px")
      .select("v", "src_rid").as[(Double, Int)].collect().toSeq
    assert(m == Seq((10.0, 0), (30.0, 1)))
  }

  test("dedupOvrPaths drops .ovr rows whose parent is present (G3)") {
    val c = cat(
      (0, "a.tif", 0, 0, 1, 1, 1),
      (1, "a.tif.ovr", 0, 0, 1, 1, 2),   // parent present → dropped
      (2, "b.tif.ovr", 0, 0, 1, 1, 2))   // orphan → kept
    assert(Catalog.dedupOvrPaths(c).select("rid").as[Int].collect().toSet == Set(0, 2))
  }

  test("sortByAreaDesc (F1)") {
    val c = cat((0, "s.tif", 0, 0, 1, 1, 1), (1, "l.tif", 0, 0, 10, 10, 1))
    assert(Catalog.sortByAreaDesc(c).select("rid").as[Int].collect().toSeq == Seq(1, 0))
  }

  test("synthetic catalog exercises containment + levels") {
    val c = Catalog.synthetic(spark, 24).cache()
    assert(c.count() == 24)
    assert(Catalog.filterContained(c).count() < 24) // some contained rows exist
  }
}
