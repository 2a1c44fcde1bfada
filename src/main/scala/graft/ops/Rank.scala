package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one per-group cut: keep the first `k` rows of each `by` group
  * under `order` — every top-k, argmin and argmax in the ops goes
  * through here.
  *
  * Tie-break contract: every `order` list ends in a key that is
  * unique within the group (an id, a token, a position), so the rank
  * — and with it the kept rows — is a function of the data, never of
  * partition layout or arrival order.
  *
  * Why a `row_number` window and not `min_by`/`max_by`: the window
  * honours each key's own direction and null/NaN placement (most
  * argmin sites mix a descending score with an ascending tie-break,
  * which one aggregate key cannot express without re-encoding), it
  * cuts at any `k`, including a per-row bound, and Spark plans a
  * literal `k` as a partial `WindowGroupLimit` ahead of the exchange,
  * so the window costs no more shuffle than the aggregate would.
  *
  * The rank stays on the result as a bigint column named `as`
  * (1 = first); `k` is compared against it row by row. */
object Rank {
  def top(df: DataFrame, by: Seq[Column], order: Seq[Column], k: Column,
          as: String = "rank"): DataFrame =
    df.withColumn(as,
        row_number().over(Window.partitionBy(by: _*).orderBy(order: _*)).cast("long"))
      .filter(col(as) <= k)
}
