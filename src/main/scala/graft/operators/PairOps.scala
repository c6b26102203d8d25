package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Posting-list pairs: the catalog's replacement for a self-join on a
  * shared key. Each group's members are collected into one list and the
  * unordered member pairs are enumerated inside the row, so the pairs
  * ride the collect's partitioning and no side of a join is shuffled.
  *
  * Size contract: a list of n members emits C(n, 2) pairs, so a caller
  * caps n before the collect (a df cap filter, a bounded aggregate or a
  * per-group row limit); the cap, not the corpus size, bounds each row's
  * fan-out and each task's skew.
  */
object PairOps {

  /** The `(list[i], list[j])` structs for every i < j, in array order,
    * with fields named `a` and `b`. An empty, one-element or null list
    * gives no pair (a null list gives null, which explodes to no row).
    * `pair` maps the two members to the two fields inside the lambda
    * (a struct member's field, or an ordered `least`/`greatest`), so no
    * projected array is built before pairing. */
  def pairs(list: Column, a: String, b: String,
            pair: (Column, Column) => (Column, Column) = (x, y) => (x, y)): Column =
    flatten(transform(list, (x, i) => transform(slice(list, i + 2, size(list)), y => {
      val (l, r) = pair(x, y)
      struct(l.as(a), r.as(b))
    })))

  /** How many lists each pair shares: [[pairs]] of `lists`' column
    * `list`, exploded and counted per (a, b) into column `out`. The
    * count aggregates map-side, so each task ships one row per distinct
    * pair it saw. Callers apply their own threshold to `out`. */
  def pairCounts(lists: DataFrame, list: String, a: String, b: String,
                 out: String): DataFrame =
    lists.select(explode(pairs(col(list), a, b)).as("p"))
      .select(col(s"p.$a").as(a), col(s"p.$b").as(b))
      .groupBy(col(a), col(b)).agg(count(lit(1)).as(out))
}
