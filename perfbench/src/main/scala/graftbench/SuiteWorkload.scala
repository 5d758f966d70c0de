package graftbench

import scala.collection.mutable

import graftbench.BenchMain.{Args, Result, median, quantile}

/** `suite`: a fixed slice of `SparkEntry.queries` over tables the
  * benchmark generates from the seed. Each query is forced by
  * `count()`; `Pins.sweepAll(blocking = true)` runs between samples,
  * outside the timed window, as graft.Bench does. Passes rotate over the
  * slice so a load spike hits one sample of many queries; the first
  * pass is the warm-up and records each query's row count, which every
  * later sample must reproduce.
  */
object SuiteWorkload {

  /** Query slice by group (name prefixes). `loop` is the re-planning
    * family: k-means/PQ training, boosting, label propagation.
    */
  val Groups: Seq[(String, Seq[String])] = Seq(
    "rel" -> Seq("q01_", "q05_"),
    "loop" -> Seq("q135_", "q163_"),
    "other" -> Seq("q36_", "q97_"))

  val MinPasses = 2

  def run(a: Args): Result = {
    val res = new Result
    val ckpt = a.work.resolve("checkpoints")
    val (spark, setupS, setups) = BenchMain.timedSessions(a, Some(ckpt.toString))
    try {
      val dir = a.work.resolve("tables").toString
      val tg = System.nanoTime()
      res.detail("inputs") = Map("near_dup_share" -> Gen.suiteTables(spark, dir, a.seed))
      res.detail("tables_gen_s") = (System.nanoTime() - tg) / 1e9
      val registry = graft.SparkEntry.queries
      val queries = Groups.flatMap { case (g, prefixes) =>
        prefixes.map { p =>
          val hit = registry.keys.filter(_.startsWith(p)).toSeq.sorted.headOption
          (g, hit.getOrElse(p + "missing"), hit.map(registry))
        }
      }
      val tracer = if (a.trace) Some(new Tracer(spark)) else None
      val counts = mutable.Map.empty[String, Long]
      val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
      val tracedPassTotals = mutable.ArrayBuffer.empty[Double]
      val plainPassTotals = mutable.ArrayBuffer.empty[Double]

      def pass(i: Int, traced: Boolean): Double = {
        var total = 0.0
        queries.foreach { case (g, name, fn) =>
          val (out, dt) = tracer match {
            case Some(t) if traced => t.span(s"queries.$g.$name")(runOne(spark, dir, fn))
            case _ =>
              val t0 = System.nanoTime(); val r = runOne(spark, dir, fn)
              (r, (System.nanoTime() - t0) / 1e9)
          }
          graft.io.Pins.sweepAll(spark, blocking = true)
          out match {
            case Left(err) => res.check(false, s"$name: $err")
            case Right(n) if i == 0 =>
              counts(name) = n
              res.check(true, "")
            case Right(n) =>
              res.check(n == counts.getOrElse(name, -1L),
                s"$name: $n rows, warm-up had ${counts.getOrElse(name, -1L)}")
              samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += dt
              total += dt
          }
        }
        total
      }

      tracer.foreach(_.setEnabled(false))
      pass(0, traced = false)
      // timed passes: at least MinPasses, and more while another is
      // predicted to end within the time budget; a traced run alternates
      // traced and untraced passes (the in-run tracing-overhead A/B),
      // starting traced
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      var i = 1
      while (i <= MinPasses || elapsed * i / (i - 1) <= a.seconds) {
        val traced = tracer.isDefined && i % 2 == 1
        tracer.foreach(_.setEnabled(traced))
        val tot = pass(i, traced)
        if (traced) tracedPassTotals += tot else plainPassTotals += tot
        i += 1
      }
      val measured = (System.nanoTime() - t0) / 1e9
      val passes = i - 1

      val medians = queries.map { case (_, n, _) => median(samples.getOrElse(n, Nil).toSeq) }
      res.e2e("setup_s") = setupS
      res.e2e("work_s") = medians.sum
      res.e2e("op_p50_s") = quantile(medians, 0.5)
      res.e2e("op_p90_s") = quantile(medians, 0.9)
      res.e2e("ops_per_s") = samples.values.map(_.size).sum / measured
      res.detail("setup_samples_s") = setups
      res.detail("passes") = passes
      res.detail("query_median_s") =
        mutable.LinkedHashMap(queries.map(_._2).zip(medians): _*)
      res.detail("row_counts") = counts

      tracer.foreach { t =>
        t.setEnabled(true)
        val tracedPasses = tracedPassTotals.size.toDouble
        Groups.foreach { case (g, _) =>
          val s = t.report(s"queries.$g")
          Seq("wall_s" -> s.wall, "plan_s" -> s.plan, "driver_s" -> s.driver,
              "jobs" -> s.jobs.toDouble, "tasks" -> s.tasks.toDouble, "task_s" -> s.taskS,
              "shuffle_mb" -> s.shuffleMb, "spill_mb" -> s.spillMb)
            .foreach { case (q, v) => res.layer(s"queries.$g.$q") = v / tracedPasses }
          res.layer(s"queries.$g.util") = s.util
        }
        val all = t.report("queries")
        res.layer("io.pin.pins") = all.pinRdds.size / tracedPasses
        res.layer("io.pin.pin_mb") = all.pinMb / tracedPasses
        res.layer("io.pin.s") = all.pinS / tracedPasses
        res.layer("trace.overhead_share") =
          if (plainPassTotals.nonEmpty)
            median(tracedPassTotals.toSeq) / median(plainPassTotals.toSeq) - 1.0
          else 0.0
        t.detach()
      }
    } finally {
      spark.stop()
    }
    res
  }

  private def runOne(spark: org.apache.spark.sql.SparkSession, dir: String,
                     fn: Option[(org.apache.spark.sql.SparkSession, String) =>
                       org.apache.spark.sql.DataFrame]): Either[String, Long] =
    fn match {
      case None => Left("query not in SparkEntry.queries")
      case Some(f) =>
        try Right(f(spark, dir).count())
        catch {
          case scala.util.control.NonFatal(e) =>
            Left(Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
              .linesIterator.nextOption().getOrElse("").take(120))
        }
    }
}
