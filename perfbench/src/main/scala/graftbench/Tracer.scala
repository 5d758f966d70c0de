package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer tracer built from outside the engine: a `SparkListener` and a
  * `QueryExecutionListener` registered on the benchmark's own session,
  * plus spans the benchmark opens around each public call it makes.
  * Events and spans stay in memory; attribution happens once, in
  * [[report]], after the listener bus has drained.
  *
  * All times are wall-clock milliseconds (the domain Spark stamps its
  * job, task and planning-phase events in). Per span:
  *  - plan: analysis + optimization + planning phases of every query
  *    execution whose analysis started inside the span;
  *  - job time: the union of the span's job intervals, clipped to it;
  *  - driver: span wall time minus job time, so driver + job = wall;
  *  - exec: executor run time of the tasks that finished inside it.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  val cores: Int = spark.sparkContext.defaultParallelism

  private val jobStarts = new ConcurrentLinkedQueue[(Int, Long, String)]
  private val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]
  private val tasks = new ConcurrentLinkedQueue[TaskRec]
  private val blocks = new ConcurrentLinkedQueue[(Long, Int, Long)]
  private val plans = new ConcurrentLinkedQueue[(Long, Long)]
  private val spans = new ConcurrentLinkedQueue[SpanRec]
  @volatile private var enabled = true

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      // the result stage's name is the job's short call site
      val site = if (e.stageInfos.isEmpty) ""
                 else e.stageInfos.maxBy(_.stageId).name
      jobStarts.add((e.jobId, e.time, site))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (enabled) jobEnds.add((e.jobId, e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (enabled && e.taskMetrics != null) {
        val m = e.taskMetrics
        tasks.add(TaskRec(e.taskInfo.finishTime, m.executorRunTime,
          m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled))
      }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (enabled) {
      val i = e.blockUpdatedInfo
      i.blockId.asRDDId.foreach { rdd =>
        if (i.storageLevel.isValid)
          blocks.add((System.currentTimeMillis(), rdd.rddId, i.memSize + i.diskSize))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = if (enabled) {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty)
        plans.add((ph.map(_.startTimeMs).min, ph.map(p => p.endTimeMs - p.startTimeMs).sum))
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Pause or resume recording (the in-run tracing-overhead A/B). */
  def setEnabled(on: Boolean): Unit = {
    drain()
    enabled = on
  }

  /** Time `body` as span `name` (`<module>.<op>`); returns its result
    * and wall seconds.
    */
  def span[A](name: String)(body: => A): (A, Double) = {
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val r = body
    val wall = (System.nanoTime() - n0) / 1e9
    if (enabled) spans.add(SpanRec(name, t0, System.currentTimeMillis(), wall))
    (r, wall)
  }

  def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Aggregate per span-name prefix: quantities summed over every span
    * whose name equals `name` or starts with `name + "."` (every span
    * for an empty name).
    */
  def report(name: String): Stats = {
    drain()
    val ends = jobEnds.asScala.toMap
    val jobs = jobStarts.asScala.toSeq.map { case (id, s, site) =>
      (s, ends.getOrElse(id, s), site)
    }
    val mine = spans.asScala.toSeq.filter(s => name.isEmpty || s.name == name || s.name.startsWith(name + "."))
    val st = new Stats
    mine.foreach { sp =>
      def in(t: Long) = t >= sp.start && t <= sp.end
      st.spans += 1
      st.wall += sp.wall
      st.plan += plans.asScala.filter(p => in(p._1)).map(_._2).sum / 1e3
      val js = jobs.filter(j => in(j._1))
      st.jobs += js.size
      val clipped = js.map(j => (j._1, math.min(j._2, sp.end))).sortBy(_._1)
      var union = 0L; var curS = -1L; var curE = -1L
      clipped.foreach { case (s, e) =>
        if (s > curE) { union += math.max(0L, curE - curS); curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      union += math.max(0L, curE - curS)
      // ms-resolution job stamps can overshoot a sub-ms span: cap at wall
      val jobS = math.min(union / 1e3, sp.wall)
      st.jobTime += jobS
      st.driver += sp.wall - jobS
      st.pinS += js.filter(j => j._3.startsWith("localCheckpoint") || j._3.startsWith("checkpoint"))
        .map(j => (math.min(j._2, sp.end) - j._1) / 1e3).sum
      val ts = tasks.asScala.filter(t => in(t.finish))
      st.tasks += ts.size
      st.taskS += ts.map(_.runMs).sum / 1e3
      st.readMb += ts.map(_.read).sum / MB
      st.shuffleMb += ts.map(_.shuffle).sum / MB
      st.spillMb += ts.map(_.spill).sum / MB
      val bs = blocks.asScala.filter(b => in(b._1))
      st.pinRdds ++= bs.map(_._2)
      st.pinMb += bs.map(_._3).sum / MB
    }
    st.cores = cores
    st
  }
}

object Tracer {
  val MB = 1024.0 * 1024.0
  final case class TaskRec(finish: Long, runMs: Long, read: Long, shuffle: Long, spill: Long)
  final case class SpanRec(name: String, start: Long, end: Long, wall: Double)

  final class Stats {
    var spans = 0
    var wall, plan, driver, jobTime, taskS, readMb, shuffleMb, spillMb, pinMb, pinS = 0.0
    var jobs, tasks = 0L
    var cores = 1
    val pinRdds = scala.collection.mutable.Set.empty[Int]
    def util: Double = if (jobTime > 0) taskS / (jobTime * cores) else 0.0
  }
}
