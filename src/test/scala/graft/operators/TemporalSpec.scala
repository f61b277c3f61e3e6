package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.llm.Dedup

class TemporalSpec extends SparkSpec {
  import spark.implicits._

  test("asofJoinBackward: latest at-or-before per key, nulls when none, ties inclusive") {
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (1L, 5L, "c"), (2L, 50L, "d"))
      .toDF("k", "lt", "lpay")
    val right = Seq((1L, 10L, 100.0), (1L, 15L, 200.0), (3L, 1L, 999.0))
      .toDF("k", "rt", "rpay")
    val out = Temporal.asofJoinBackward(left, right, Seq("k"), "lt", "rt")
      .select("k", "lt", "lpay", "rt", "rpay").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) -1.0 else r.getDouble(4))).toSet
    assert(out == Set(
      (1L, 10L, "a", 10L, 100.0),  // tie: right row at equal time IS visible
      (1L, 20L, "b", 15L, 200.0),  // latest of the two priors
      (1L, 5L, "c", -1L, -1.0),    // before any right row → null payload
      (2L, 50L, "d", -1L, -1.0)))  // key with no right rows at all
  }

  test("asofJoinBackward rejects column collisions") {
    val l = Seq((1L, 1L)).toDF("k", "t")
    val r = Seq((1L, 1L)).toDF("k", "t")
    assertThrows[IllegalArgumentException](
      Temporal.asofJoinBackward(l, r, Seq("k"), "t", "t"))
  }

  test("rangeJoin: [start, end) bounds, bucket-crossing and long intervals") {
    val points = Seq((1L, 0L, "p0"), (1L, 10L, "p10"), (1L, 19L, "p19"),
      (1L, 20L, "p20"), (1L, 35L, "p35"), (2L, 10L, "q10"))
      .toDF("k", "t", "pid")
    // width 10: [10,20) sits in one cell, [15,25) crosses a boundary,
    // [0,35) spans four cells (longer than the width — still correct)
    val intervals = Seq((1L, 10L, 20L, "A"), (1L, 15L, 25L, "B"), (1L, 0L, 35L, "C"))
      .toDF("k", "s", "e", "iid")
    val out = Temporal.rangeJoin(points, intervals, Seq("k"), "t", "s", "e", 10L)
      .select("pid", "iid").as[(String, String)].collect().toSet
    assert(out == Set(
      ("p10", "A"),               // start inclusive
      ("p19", "A"), ("p19", "B"), // end exclusive for A at 20
      ("p20", "B"),               // crossing interval, second cell
      ("p0", "C"), ("p10", "C"), ("p19", "C"), ("p20", "C")))
    // p35: e=35 exclusive → no match; q10: key 2 has no intervals
  }

  test("rangeJoin: exact cells beyond 2^53 µs (double division is inexact there)") {
    // At v ≈ 2^62 with width 1000, float(v - v%w)/w truncates to the
    // WRONG integer (e.g. v = 8012626005604971747 → exact cell
    // ...604971, double gives ...604970). The integral-div cell must
    // keep boundary semantics bit-exact at the full long range, for
    // positive and pre-1970-style negative timestamps alike.
    val hi = 8012626005604971747L // exact cell 8012626005604971, double path -1
    val points = Seq(
      (1L, hi, "pHi"),             // inside [hi-747, hi+253)
      (1L, hi + 253L, "pOut"),     // == end → excluded
      (2L, -hi, "pNeg"),           // negative side, inside its interval
      (2L, -hi - 1L, "pNegOut"))   // just below start → excluded
      .toDF("k", "t", "pid")
    val intervals = Seq(
      (1L, hi - 747L, hi + 253L, "HI"),
      (2L, -hi, -hi + 10L, "NEG"))
      .toDF("k", "s", "e", "iid")
    val out = Temporal.rangeJoin(points, intervals, Seq("k"), "t", "s", "e", 1000L)
      .select("pid", "iid").as[(String, String)].collect().toSet
    assert(out == Set(("pHi", "HI"), ("pNeg", "NEG")))
  }

  test("rangeJoin replicates intervals only to covered cells (no dup matches)") {
    // a point matched by an interval listed in 2 cells must appear once
    val points = Seq((1L, 12L, "p")).toDF("k", "t", "pid")
    val intervals = Seq((1L, 5L, 25L, "I")).toDF("k", "s", "e", "iid")
    val out = Temporal.rangeJoin(points, intervals, Seq("k"), "t", "s", "e", 10L)
    assert(out.count() == 1)
  }

  test("connectedComponents: chains close transitively, components stay separate") {
    // component {1,2,3,4} via a chain; {10,11}; {20,21,22} via a triangle
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connectedComponents: reliable checkpoint() path yields identical labels") {
    // the checkpoint dir is a GLOBAL context setting; another suite
    // (LlmSpec's sf0.01 reliable-CC test) may have bound it already —
    // reuse it then, since connectedComponents refuses to rebind
    val dir = spark.sparkContext.getCheckpointDir.getOrElse(
      tempDir("cc_ckpt").toString)
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("id_a", "id_b")
    val local = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    val reliable = Dedup.connectedComponents(pairs, checkpointDir = Some(dir))
      .as[(Long, Long)].collect().toMap
    assert(reliable == local)
    // the reliable path actually materialized checkpoint files
    assert(new java.io.File(
      new org.apache.hadoop.fs.Path(dir).toUri.getPath).listFiles().nonEmpty)
  }

  test("connectedComponents: hot-star graph with heavy pair duplication (spill-safe dedup)") {
    // the q198 shape: one celebrity node every other node pairs with,
    // every pair emitted many times (LSH emits a pair once per
    // colliding band). The round-19 sort-based dedup must (a) produce
    // the same labels as before and (b) keep the edge RDD partitioned
    // by src so the loop's joins stay narrow — asserted via the
    // partitioner surviving to the edges RDD inside the helper.
    val n = 500L
    val dup = 7
    val pairs = (1L until n).flatMap(i => Seq.fill(dup)((0L, i)))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs).as[(Long, Long)].collect()
    assert(cc.length == n)
    assert(cc.forall(_._2 == 0L), "every spoke labels to the hub's id 0")
  }

  test("KeyedRdds.distinctEdgesBySrc: global distinct, src placement, partitioner-compatible") {
    import org.apache.spark.HashPartitioner
    val part = new HashPartitioner(5)
    val raw = spark.sparkContext.parallelize(
      Seq((3L, 4L), (3L, 4L), (1L, 2L), (3L, 5L), (1L, 2L), (1L, 2L),
        (7L, 7L), (3L, 4L)), 3)
    val ded = graft.core.KeyedRdds.distinctEdgesBySrc(raw, part)
    assert(ded.collect().sorted.toSeq ==
      Seq((1L, 2L), (3L, 4L), (3L, 5L), (7L, 7L)))
    // the dedup's partitioner must compare equal to the loop's plain
    // HashPartitioner (that equality is what keeps per-round joins
    // narrow) and must place rows where that partitioner expects them
    assert(ded.partitioner.contains(part))
    val misplaced = ded.mapPartitionsWithIndex { (pi, it) =>
      it.filter { case (s, _) => part.getPartition(s) != pi }
    }.count()
    assert(misplaced == 0L, "rows must sit in their src's hash partition")
  }

  test("connectedComponents: empty pair set yields empty labeling") {
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(pairs).count() == 0)
  }

  test("connectedComponents: long path needs diameter rounds, still converges") {
    // path 0-1-2-...-19: worst-case diameter for min propagation
    val pairs = (0L until 19L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs).as[(Long, Long)].collect()
    assert(cc.length == 20 && cc.forall(_._2 == 0L))
    // path compression: identical labels on the same worst case
    val ccz = Dedup.connectedComponents(pairs, compress = true)
      .as[(Long, Long)].collect()
    assert(ccz.length == 20 && ccz.forall(_._2 == 0L))
  }

  test("connectedComponents equals a driver-side union-find on random graphs") {
    // reference: union-find over the same pairs, each node labeled by
    // its component minimum
    def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(x => x -> find(x)).toMap
    }
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 8) {
      val n = 8 + rnd.nextInt(20)
      val nEdges = 1 + rnd.nextInt(2 * n)
      val raw = Seq.fill(nEdges)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      if (raw.nonEmpty) {
        val pairs = raw.toDF("id_a", "id_b")
        val want = unionFind(raw)
        for (compress <- Seq(false, true)) {
          val got = Dedup.connectedComponents(pairs, compress = compress)
            .as[(Long, Long)].collect().toMap
          assert(got == want, s"trial $trial (compress = $compress): $raw")
        }
      }
    }
    // a 40-edge chain: worst case for plain min propagation
    val chain = (0L until 40L).map(i => (i + 1, i)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(chain, compress = true)
      .as[(Long, Long)].collect()
    assert(cc.length == 41 && cc.forall(_._2 == 0L))
    assert(Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"), compress = true).count() == 0)
  }

  test("burstCells: dense axis counts silent cells as zero; burst fires only with a full baseline") {
    // key A: 1 event/cell in cells 0..5, then 4 events in cell 6 (burst);
    // cell 7 empty (ratio vs baseline that now includes the burst)
    val ev = ((0L until 6L).map(c => ("A", c * 10L)) ++
      Seq.fill(4)(("A", 60L)) :+ (("A", 80L)))
      .toDF("k", "t_us")
    val got = graft.operators.Temporal.burstCells(ev, "k", "t_us",
        cellUs = 10L, trail = 6, threshold = 2.0)
      .orderBy("c")
      .collect()
    // cells 0..5: no full 6-cell baseline -> NULL mean, burst false
    for (i <- 0 until 6) {
      assert(got(i).isNullAt(3) && !got(i).getBoolean(5))
    }
    // cell 6: baseline mean 1.0, n=4 -> ratio 4.0, burst
    assert(got(6).getDouble(3) == 1.0 && got(6).getDouble(4) == 4.0 && got(6).getBoolean(5))
    // cell 7: silent (dense axis), baseline (1+1+1+1+1+4)/6=1.5, n=0 -> ratio 0
    assert(got(7).getLong(2) == 0L && got(7).getDouble(3) == 1.5 &&
      got(7).getDouble(4) == 0.0 && !got(7).getBoolean(5))
  }

  test("retentionCohorts: first-seen bucket cohorts, offset matrix, exact rates") {
    val ev = Seq(
      (1L, 3L), (1L, 12L), (1L, 35L),  // user 1: cohort 0, active buckets 0,1,3
      (2L, 7L), (2L, 8L),              // user 2: cohort 0, bucket 0 only (dup row collapses)
      (3L, 15L), (3L, 27L))            // user 3: cohort 1, buckets 1,2
      .toDF("user_id", "t_us")
    val got = graft.operators.Temporal.retentionCohorts(
        ev, "user_id", "t_us", bucketUs = 10L, maxOffset = 7)
      .orderBy("cohort", "offset")
      .as[(Long, Int, Long, Long, Double)].collect()
    assert(got.toSeq == Seq(
      (0L, 0, 2L, 2L, 1.0),
      (0L, 1, 1L, 2L, 0.5),
      (0L, 3, 1L, 2L, 0.5),
      (1L, 0, 1L, 1L, 1.0),
      (1L, 1, 1L, 1L, 1.0)))
  }

  test("funnel: strict order and re-armed window gate each stage; rates vs head and prev") {
    val ev = Seq(
      (1L, 10L, "view"), (1L, 20L, "click"), (1L, 30L, "purchase"), // full path
      (2L, 10L, "view"), (2L, 5L, "click"), (2L, 40L, "purchase"),  // click BEFORE view: chain broken
      (3L, 10L, "click"), (3L, 20L, "purchase"),                    // never viewed: not in funnel
      (4L, 10L, "view"), (4L, 111L, "click"))                       // click outside the 100-us window
      .toDF("user_id", "t_us", "event_type")
    val got = graft.operators.Temporal.funnel(ev, "user_id", "t_us",
        "event_type", Seq("view", "click", "purchase"), windowUs = 100L)
      .orderBy("stage_idx")
      .as[(Int, String, Long, Double, Double)].collect()
    assert(got.toSeq == Seq(
      (1, "view", 3L, 1.0, 1.0),
      (2, "click", 1L, 1.0 / 3, 1.0 / 3),
      (3, "purchase", 1L, 1.0 / 3, 1.0)))
  }
}
