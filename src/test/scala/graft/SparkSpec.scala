package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs, built by [[graft.Session]]. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val Sf001 = "/root/testdata/sf0.001"
  val Sf01 = "/root/testdata/sf0.01"
  override def afterAll(): Unit = () // session shared across suites

  /** Plan text of an operator that runs a step eagerly: the executed
    * plans of the queries `op` ran while building its frame, then the
    * returned frame's plan.
    */
  protected def planText(op: => DataFrame): String = {
    val (df, ran) = SparkSpec.executedPlans(spark)(op)
    (ran :+ df.queryExecution.executedPlan.toString).mkString("\n")
  }

  /** Byte-identity snapshot of a stored index tree: relative path →
    * file length, data files only. Shared by the index-maintenance
    * specs (IVF, IVF-PQ, postings) to assert untouched partitions keep
    * their exact files across append/remove/compact.
    */
  protected def snapshot(root: String): Map[String, Long] = {
    val base = new java.io.File(root)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    walk(base).filter(_.getName.startsWith("part-"))
      .map(f => base.toPath.relativize(f.toPath).toString -> f.length()).toMap
  }

  /** Recursive file-tree copy — the fixture-planting twin of
    * `Tables.rmTree`, shared by the crash/stale-aside specs that
    * stage a table's duplicate (e.g. a `.trash` aside) without
    * touching the original's inodes.
    */
  protected def copyTree(src: java.io.File, dst: java.io.File): Unit =
    if (src.isDirectory) {
      java.nio.file.Files.createDirectories(dst.toPath)
      Option(src.listFiles()).getOrElse(Array.empty)
        .foreach(f => copyTree(f, new java.io.File(dst, f.getName)))
    } else java.nio.file.Files.copy(src.toPath, dst.toPath)

  /** Driver-side twin of `Dedup.hashBucket`/`splitAssign` (md5 hex
    * prefix → 80/10/10), for specs that need to know a fixture id's
    * split without running Spark.
    */
  protected def splitName(id: Long): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
    val b = java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16) % 100
    if (b < 80) "train" else if (b < 90) "val" else "test"
  }
}

object SparkSpec {
  /** The production session (`graft.Session`) — every spec runs the
    * exact config Main, Bench and Verify use — plus a scratch
    * warehouse dir. */
  lazy val session: SparkSession = Session.builder(4)
    .config("spark.sql.warehouse.dir",
            java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .getOrCreate()

  /** `body`'s result and the short call sites of the jobs it started. */
  def jobSites[A](spark: SparkSession)(body: => A): (A, Seq[String]) = {
    val sites = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        sites.add(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      ListenerBusDrain(spark.sparkContext)
      (out, sites.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** `body`'s result and the executed plans of the queries it ran. */
  def executedPlans[A](spark: SparkSession)(body: => A): (A, Seq[String]) = {
    val ran = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        ran.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val out = body
      ListenerBusDrain(spark.sparkContext)
      (out, ran.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
