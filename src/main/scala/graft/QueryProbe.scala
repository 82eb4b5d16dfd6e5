package graft

/** Dev-only measurement harness: times individual declared queries under
  * Bench's session posture ([[Posture.bench]]) so per-query iteration
  * doesn't need a full bench, and captures `.explain("formatted")` for
  * the plan-evidence files under plans/.
  *
  * Usage: runMain graft.QueryProbe <time|noop|explain> <sfDir> <runsOrOutDir> <q1,q2,...>
  *  - time:    N (= arg3) runs per query through [[Bench.time]] with a
  *             count action, after one unbilled [[Bench.warmup]] pass
  *             (JIT/codegen). Prints per query the min wall seconds, the
  *             min seconds from building the frame to its executed plan
  *             (driver planning: analysis, optimization, physical
  *             planning — a large union plan can spend its time there,
  *             not in tasks), and every run's wall seconds.
  *  - noop:    same, but the timed action computes every column of every
  *             row ([[Bench.NoopWrite]]); the bench keeps `.count()` as
  *             the shipped metric, this mode shows what optimizer pruning
  *             hides from it.
  *  - explain: write <outDir>/<query>.txt with the formatted plan.
  *
  * A query that throws gets no time: it prints `FAILED`, the others still
  * run, and the probe exits 1 after the loop.
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val mode = args(0)
    require(Set("time", "noop", "explain").contains(mode),
            s"unknown mode $mode: expected time|noop|explain")
    val sfDir = args(1)
    val names = args(3).split(",").toSeq
    val spark = Posture.bench()

    val failed = if (mode == "explain") {
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
      Nil
    } else {
      Bench.warmup(spark, sfDir, names)
      val (timed, failed) = Bench.time(
        spark, names.map(q => q -> SparkEntry.queries(q)), sfDir,
        args(2).toInt, if (mode == "noop") Bench.NoopWrite else Bench.Count)
      val byName = timed.map(t => t.name -> t).toMap
      for (q <- names) println(byName.get(q).fold(f"[probe] $q%-32s FAILED") { t =>
        f"[probe] $q%-32s min=${t.wall.min}%7.3f  plan_min=${t.plan.min}%7.3f  runs=" +
          t.wall.map(r => f"$r%.3f").mkString(",")
      })
      failed
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[probe] ${failed.size} queries failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
