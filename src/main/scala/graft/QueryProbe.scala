package graft

import scala.util.control.NonFatal

/** Dev-only measurement harness for the optimization rounds (guide §1):
  * times individual declared queries under Bench's session posture
  * ([[Posture.bench]]) so per-query iteration doesn't need a 35-minute
  * full bench, and captures
  * `.explain("formatted")` for the plan-evidence files under plans/.
  *
  * Usage: runMain graft.QueryProbe <time|explain|noop> <sfDir> <outDirOrRuns> <q1,q2,...>
  *  - time:    min-of-N (N = arg3) wall seconds per query via .count(),
  *             after one unbilled [[Bench.warmup]] pass (JIT/codegen).
  *  - noop:    same, but the timed action is a noop-sink write (computes
  *             every column of every row — guide §1.4); bench continuity
  *             keeps .count() as the shipped metric, this mode is for
  *             diagnosing optimizer-pruning artifacts during the round.
  *  - explain: write <outDir>/<query>.txt with the formatted plan.
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val sfDir = args(1)
    val spark = Posture.bench()
    val names = args(3).split(",").toSeq

    mode match {
      case "explain" =>
        val outDir = args(2)
        new java.io.File(outDir).mkdirs()
        for (q <- names) {
          val plan = SparkEntry.queries(q)(spark, sfDir)
            .queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$outDir/$q.txt"),
            plan.getBytes("UTF-8"))
          println(s"[probe] wrote $outDir/$q.txt")
        }
      case "drain" =>
        // time mode + a streaming listener printing each micro-batch's
        // durationMs breakdown (addBatch / getBatch / queryPlanning /
        // walCommit / stateOperators) — guide §1/§7: find where the
        // wall time of a drain actually goes before touching it.
        spark.streams.addListener(
          new org.apache.spark.sql.streaming.StreamingQueryListener {
            def onQueryStarted(e: org.apache.spark.sql.streaming
              .StreamingQueryListener.QueryStartedEvent): Unit =
              println(s"[drain] started ${e.id} at ${System.nanoTime() / 1e9}")
            def onQueryProgress(e: org.apache.spark.sql.streaming
              .StreamingQueryListener.QueryProgressEvent): Unit =
              println(s"[drain] batch=${e.progress.batchId} " +
                s"durations=${e.progress.durationMs} " +
                s"rows=${e.progress.numInputRows}")
            def onQueryTerminated(e: org.apache.spark.sql.streaming
              .StreamingQueryListener.QueryTerminatedEvent): Unit =
              println(s"[drain] terminated at ${System.nanoTime() / 1e9}")
          })
        val n = args(2).toInt
        for (q <- names) {
          val runs = (1 to n).flatMap { _ =>
            val dt = timed(q)(SparkEntry.queries(q)(spark, sfDir).count())
            dt.foreach(t => println(f"[probe] $q run done in $t%.3f s"))
            dt
          }
          println(summary(q, runs))
        }
      case "plantime" =>
        // r14: splits DRIVER planning cost (analysis + optimization +
        // physical planning, forced via executedPlan) from execution —
        // guide §7.3: a very large union plan can spend its time in
        // Catalyst, not in tasks. Each iteration builds a FRESH frame
        // so nothing is memoized across runs.
        val n = args(2).toInt
        for (q <- names) {
          Bench.warmup(spark, sfDir, Seq(q))
          val runs = (1 to n).map { _ =>
            val t0 = System.nanoTime()
            val df = SparkEntry.queries(q)(spark, sfDir)
            df.queryExecution.executedPlan
            (System.nanoTime() - t0) / 1e9
          }
          println(f"[probe] plantime $q%-32s min=${runs.min}%7.3f  runs=" +
            runs.map(r => f"$r%.3f").mkString(","))
        }
      case "time" | "noop" =>
        val n = args(2).toInt
        Bench.warmup(spark, sfDir, names)
        val results = names.map { q =>
          val runs = (1 to n).flatMap { _ =>
            spark.sparkContext.setJobDescription(s"probe: $q")
            timed(q) {
              val df = SparkEntry.queries(q)(spark, sfDir)
              if (mode == "noop")
                df.write.format("noop").mode("overwrite").save()
              else df.count()
            }
          }
          (q, runs)
        }
        for ((q, runs) <- results)
          println(summary(q, runs) + "  runs=" + runs.map(r => f"$r%.3f").mkString(","))
      case other => sys.error(s"unknown mode $other")
    }
    spark.stop()
  }

  /** Wall seconds of `body`; a run that throws gets no time and prints
    * `FAILED`.
    */
  private def timed(q: String)(body: => Any): Option[Double] = {
    val t0 = System.nanoTime()
    try { body; Some((System.nanoTime() - t0) / 1e9) }
    catch { case NonFatal(e) =>
      println(s"[probe] $q FAILED: ${String.valueOf(e.getMessage).take(200)}")
      None
    }
  }

  /** The min over the runs that finished, or `FAILED` when none did. */
  private def summary(q: String, runs: Seq[Double]): String =
    if (runs.isEmpty) f"[probe] $q%-32s FAILED"
    else f"[probe] $q%-32s min=${runs.min}%7.3f"
}
