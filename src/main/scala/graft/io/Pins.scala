package graft.io

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession, classic}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one place the engine pins a frame and frees a pin.
  *
  * A pin materializes an intermediate once so that several readers
  * share one scan (a store transaction's id sets and captures, an
  * operator's tokenized table, a loop's round state). Its blocks ARE
  * the data: a local checkpoint cannot be recomputed once dropped, and
  * `Dataset.unpersist` does not drop it. Two calls cover every pin:
  *
  *  - [[pin]] checkpoints the frame, caps its size estimate
  *    ([[capStats]]) and registers the pin in the innermost open
  *    [[scope]] of the calling thread.
  *  - [[scope]] runs a body and then frees exactly the pins registered
  *    inside it, on return and on throw. Scopes nest; each thread has
  *    its own stack of them, so a scope never frees another thread's
  *    pins. A pin made while no scope is open lives for the session.
  *
  * An operator whose returned frame reads its own pin opens no scope:
  * the pin belongs to the caller's scope and is freed when that scope
  * ends, after the caller's terminal action. A loop's round pins are
  * freed the same way, all together when the enclosing scope ends.
  *
  * The reliable form (`reliable = true` while the context has a
  * checkpoint dir) persists MEMORY_AND_DISK, checkpoints to that dir,
  * and deletes the checkpoint files when freed. Only
  * `Dedup.connectedComponents` asks for it so far: a reliable
  * checkpoint writes every pin to the checkpoint dir, a cost not yet
  * measured for the other pins.
  */
object Pins {

  private final class Pin(val rdd: RDD[_], val reliable: Boolean)

  private val scopes = new ThreadLocal[List[ArrayBuffer[Pin]]] {
    override def initialValue(): List[ArrayBuffer[Pin]] = Nil
  }

  /** `df` checkpointed and registered in the innermost open scope.
    * `eager = false` leaves materialization to the caller's next
    * action (a loop whose convergence count doubles as the round's
    * materializing job).
    */
  def pin(df: DataFrame, eager: Boolean = true,
          reliable: Boolean = false): DataFrame = {
    val useReliable = reliable && df.sparkSession.sparkContext.getCheckpointDir.isDefined
    val pinned = capStats(
      if (useReliable) df.checkpoint(eager = false) else df.localCheckpoint(eager))
    val rdd = pinned.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd
    if (useReliable) {
      // checkpoint() alone would re-read the files on every scan
      rdd.persist(StorageLevel.MEMORY_AND_DISK)
      if (eager) rdd.count()
    }
    scopes.get.headOption.foreach(_ += new Pin(rdd, useReliable))
    pinned
  }

  /** Run `body`, then free every pin registered inside it (nested
    * scopes free their own first). `blocking = true` waits for the
    * blocks to be dropped: a timing harness passes it so an async
    * teardown does not overlap the next timed sample.
    */
  def scope[A](body: => A, blocking: Boolean = false): A = {
    val mine = ArrayBuffer.empty[Pin]
    val outer = scopes.get
    scopes.set(mine :: outer)
    try body
    finally {
      scopes.set(outer)
      mine.foreach { p =>
        p.rdd.unpersist(blocking)
        if (p.reliable) p.rdd.getCheckpointFile.foreach { f =>
          val path = new org.apache.hadoop.fs.Path(f)
          path.getFileSystem(p.rdd.sparkContext.hadoopConfiguration).delete(path, true)
        }
      }
    }
  }

  /** Unpersist everything persisted in the session, whatever made it.
    * The engine frees through [[scope]]; this stays for outside
    * harnesses that sweep between samples.
    */
  def sweepAll(spark: SparkSession, blocking: Boolean = false): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking))

  /** `pinned` with its size and row-count estimates capped at
    * `Long.MaxValue`. A checkpoint keeps the estimate of the plan it
    * replaced, and a join's estimate is the product of its children's,
    * so a loop that pins each round and joins the pin several times
    * multiplies the estimate's bit length every round:
    * `Dedup.connectedComponents` (four joins on the last pin a round)
    * spent minutes in those BigInt products, inside each round's
    * checkpoint. No plan choice changes: an estimate past
    * `Long.MaxValue` is past every broadcast threshold either way.
    */
  private def capStats(pinned: DataFrame): DataFrame = {
    val spark = pinned.sparkSession.asInstanceOf[classic.SparkSession]
    val cap = BigInt(Long.MaxValue)
    // built directly, not through `transform`: the copy differs from
    // the pin only in its second parameter list, which case-class
    // equality ignores, so `transform` would keep the original node
    val lr = pinned.queryExecution.analyzed.asInstanceOf[LogicalRDD]
    val s = lr.computeStats()
    val capped = lr.copy()(spark,
                           Some(s.copy(sizeInBytes = s.sizeInBytes.min(cap),
                                       rowCount = s.rowCount.map(_.min(cap)))),
                           Some(lr.constraints))
    new classic.Dataset[Row](spark, capped, Encoders.row(pinned.schema))
  }
}
