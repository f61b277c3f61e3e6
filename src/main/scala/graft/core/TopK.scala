package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}

/** Per-key top-k, the "keep each key's k best" tail of every retrieval,
  * ANN and first-per-group face: `row_number()` over `keys` ordered by
  * `order`, cut at `rankCol <= k`. The optimizer turns the cut into a
  * `WindowGroupLimit` that prunes each partition to k rows per key
  * before the window's shuffle. `order` must be total within a key
  * (end it with a unique id), or the cut is not deterministic.
  */
object TopK {
  def per(keys: Seq[String], order: Seq[Column], k: Int,
          rankCol: String = "rank"): DataFrame => DataFrame =
    _.withColumn(rankCol,
        row_number().over(Window.partitionBy(keys.map(col): _*).orderBy(order: _*)))
      .filter(col(rankCol) <= k)
}
