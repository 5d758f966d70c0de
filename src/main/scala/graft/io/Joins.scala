package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Guarded broadcast for DATA-DEPENDENT dictionaries.
  *
  * A literal `broadcast(dict)` hint is only safe when the dictionary
  * has a bound that holds at ANY corpus size. Induced vocabularies do
  * not: a `\W+`/BPE-ish token vocabulary follows Heaps' law and runs
  * to 10⁸–10⁹ distinct terms on a web-scale corpus — a multi-GB
  * driver-side build, the same failure mode as a corpus `collect()`.
  * The reference never faces this because it is single-node
  * (solaius/data_pipeline2 keeps whole documents in process memory);
  * on a cluster the decision must be made from the RUNTIME size.
  *
  * [[boundedBroadcast]] PINS the dictionary (dictionary-sized by
  * contract, and the count plus the join would otherwise each
  * recompute the aggregate), counts the pinned rows, and
  *   - under the bound: broadcasts — the skew-proof plan, since
  *     dictionary keys (stopwords, frequent tokens) are exactly the
  *     hot keys a shuffle would pile onto one partition;
  *   - over the bound: returns the pinned frame unhinted so the join
  *     SHUFFLES — at that size the broadcast is the bigger risk, and
  *     AQE's skew-join split handles the hot keys.
  *
  * Construction is deliberately EAGER (a Spark job runs when the plan
  * is BUILT — the runtime size decision cannot be made declaratively);
  * the pin lands in the returned plan and belongs to the caller's
  * [[Pins.scope]].
  *
  * Default bound: 4M rows ≈ low-hundreds-of-MB broadcast for short
  * string keys + a long — inside executor memory at the target
  * configs, far under driver OOM territory.
  */
object Joins {

  val DefaultMaxBroadcastRows: Long = 4L * 1000 * 1000

  def boundedBroadcast(dict: DataFrame,
                       maxRows: Long = DefaultMaxBroadcastRows): DataFrame = {
    val pinned = Pins.pin(dict)
    if (pinned.count() <= maxRows) broadcast(pinned) else pinned
  }
}
