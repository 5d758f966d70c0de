package graft.io

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession, classic}
import org.apache.spark.sql.execution.LogicalRDD

/** Caller-owned lifecycle for `localCheckpoint` pins.
  *
  * Several operators ([[graft.text.TextStats.dedupParagraphs]],
  * [[graft.text.TextStats.oovSignals]],
  * [[graft.text.TextStats.tokenizeToIds]],
  * [[graft.text.TextStats.tfidfTopTerms]],
  * [[graft.text.Curation.temperatureSample]]) pin a shared intermediate
  * with `localCheckpoint(true)` so two aggregation branches read ONE
  * scan instead of two. The pin is MEMORY_AND_DISK storage owned by the
  * session; without an explicit release every invocation leaks it for
  * the session's lifetime. Contract (same shape as
  * `Dedup.connectedComponents`'s per-round unpersist): run your
  * terminal action, then release.
  */
object Pins {

  /** Unpersist every localCheckpoint pin embedded in `df`'s plan — the
    * targeted release for a single operator result. Only call AFTER the
    * terminal action: the pinned blocks ARE the data (a local
    * checkpoint cannot be recomputed once dropped).
    * `foreachWithSubqueries` also descends into subquery-expression
    * plans (a plain foreach would silently leave a pin reachable only
    * through a ScalarSubquery/InSubquery pinned forever).
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreachWithSubqueries {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Run `body`, then unpersist every RDD pinned DURING it — the
    * transaction-scratch sweep the ingest and delete paths share: a
    * long-lived session running repeated store transactions must not
    * accumulate their localCheckpoint pins (each transaction's scratch
    * — id sets, pre-prune captures — is dead once it returns).
    */
  def sweepingNew[A](spark: SparkSession)(body: => A): A = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try body
    finally spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => before.contains(id) }
      .values.foreach(_.unpersist(blocking = false))
  }

  /** Unpersist everything pinned in the session — the between-queries
    * sweep for harnesses (Verify/Bench) whose queries are isolated and
    * fully consumed before the next starts. Pass `blocking = true` from
    * timing harnesses: an async teardown overlaps (and noises) the next
    * timed sample.
    */
  def sweepAll(spark: SparkSession, blocking: Boolean = false): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking))

  /** `pinned` with each pin's size and row-count estimates capped at
    * `Long.MaxValue`. A checkpoint keeps the estimate of the plan it
    * replaced, and a join's estimate is the product of its children's,
    * so a loop that pins each round and joins the pin several times
    * multiplies the estimate's bit length every round:
    * `Dedup.connectedComponents` (four joins on the last pin a round)
    * spent minutes in those BigInt products, inside each round's
    * checkpoint. No plan choice changes: an estimate past
    * `Long.MaxValue` is past every broadcast threshold either way.
    */
  def capStats(pinned: DataFrame): DataFrame = {
    val spark = pinned.sparkSession.asInstanceOf[classic.SparkSession]
    val cap = BigInt(Long.MaxValue)
    // built directly, not through `transform`: the copy differs from
    // the pin only in its second parameter list, which case-class
    // equality ignores, so `transform` would keep the original node
    val capped = pinned.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val s = lr.computeStats()
        lr.copy()(spark,
                  Some(s.copy(sizeInBytes = s.sizeInBytes.min(cap),
                              rowCount = s.rowCount.map(_.min(cap)))),
                  Some(lr.constraints))
      case p => throw new IllegalArgumentException(
        s"capStats expects a checkpointed frame, got ${p.nodeName}")
    }
    new classic.Dataset[Row](spark, capped, Encoders.row(pinned.schema))
  }
}
