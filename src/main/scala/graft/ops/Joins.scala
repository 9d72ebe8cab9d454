package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** The one join-size policy for NODE-SIZED build sides: label, rank,
  * vocabulary, signature, text and LSH bucket/embedding tables whose
  * rows scale with the corpus's node count, joined against a stream
  * (candidate pairs, edges, doc-term rows) that is larger still.
  *
  * At or below [[BroadcastMaxRows]] the build side broadcasts (thin
  * rows, ≲ 50-100 MB built relation), so the big stream side never
  * exchanges. Above it the join is hinted SHUFFLE_HASH: thin
  * per-partition hash tables at any corpus size, never the
  * SortMergeJoin the planner's stats flip to at 100× (candidate-mass
  * sorts that spill). The row count is TAKEN by the caller, never
  * guessed: the planner cannot see these sizes (`clusterPairs`' label
  * tables are `LogicalRDD`s with default stats, and a stats-less
  * aggregate sort-merged t14's vocab join), and "small at the tested
  * sf" is a runtime property (the d15/d16 lesson).
  *
  * d15/d16's `verifyJoin` is the one exception: its sets side is
  * partition-sized, so above its bound it also repartitions both sides
  * to a size-derived count. */
object Joins {

  /** Counted-row bound at or below which a node-sized side broadcasts. */
  val BroadcastMaxRows = 200000L

  /** `df` as the build side of a join: broadcast when its counted `rows`
    * are at most [[BroadcastMaxRows]], hinted SHUFFLE_HASH above. */
  def small(df: DataFrame, rows: Long): DataFrame =
    if (rows <= BroadcastMaxRows) broadcast(df) else df.hint("SHUFFLE_HASH")
}
