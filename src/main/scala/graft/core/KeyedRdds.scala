package graft.core

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD

/** Building blocks for partitioner-reusing iterative RDD loops
  * (connected components, PageRank): a pair-edge table is placed by
  * its SOURCE key exactly once, and every subsequent per-round join
  * against a table hash-partitioned the same way is narrow — the only
  * per-round shuffle left is the O(nodes) update `reduceByKey`.
  */
object KeyedRdds {

  private def nonNegativeMod(h: Int, n: Int): Int = {
    val m = h % n
    if (m < 0) m + n else m
  }

  /** A partitioner that places `(src, dst)` TUPLE keys by `src` alone
    * yet `equals` a plain `HashPartitioner(n)` (equality is on
    * partition count), and places plain keys exactly like one. The
    * point: `repartitionAndSortWithinPartitions` over composite
    * `(src, dst)` keys lands every copy of an edge in `src`'s hash
    * partition with duplicates SORTED ADJACENT, and the resulting RDD
    * — after stripping back to `(src, dst)` rows with
    * `preservesPartitioning` — still compares equal to the loop's
    * `HashPartitioner`, so the per-round joins stay narrow.
    *
    * Placement consistency (the invariant `preservesPartitioning`
    * asserts): for a tuple key `(s, d)` this computes
    * `nonNegativeMod(s.hashCode, n)` — the exact partition
    * `HashPartitioner(n)` assigns the bare key `s` — so re-keying the
    * rows by `s` after the shuffle leaves every row where the plain
    * hash partitioner expects it.
    *
    * Package-private: an RDD still keyed by `(src, dst)` tuples under
    * this partitioner must not escape [[distinctEdgesBySrc]]. It
    * `equals` a plain `HashPartitioner(n)`, so Spark would treat a
    * join of those tuple keys against a plainly partitioned RDD as
    * narrow while the two place equal keys in different partitions.
    */
  private[core] def srcHashPartitioner(n: Int): HashPartitioner =
    new HashPartitioner(n) {
      override def getPartition(key: Any): Int = key match {
        case (s, _) => nonNegativeMod(s.hashCode, numPartitions)
        case other  => super.getPartition(other)
      }
    }

  /** Globally-distinct directed edges placed by `src` under `part`,
    * deduplicated WITHOUT per-task hash state: partition by src, sort
    * by `(src, dst)` inside the shuffle (spillable sort — bounded task
    * memory however hot one src key is), and drop adjacent repeats
    * streaming. Global distinct falls out because every copy of
    * `(s, d)` shares `s` and therefore a partition. The result's
    * partitioner equals `part`, so `join(other, part)` downstream is
    * narrow.
    */
  def distinctEdgesBySrc(edges: RDD[(Long, Long)],
                         part: Partitioner): RDD[(Long, Long)] = {
    val srcPart = srcHashPartitioner(part.numPartitions)
    edges
      .map(e => (e, null: Null))
      .repartitionAndSortWithinPartitions(srcPart)
      .mapPartitions({ it =>
        var haveLast = false
        var lastS = 0L
        var lastD = 0L
        it.flatMap { case ((s, d), _) =>
          if (haveLast && s == lastS && d == lastD) Iterator.empty
          else {
            haveLast = true; lastS = s; lastD = d
            Iterator.single((s, d))
          }
        }
      }, preservesPartitioning = true)
  }
}
