package graft

/** Run one declared query under Bench's session config and print a
  * per-Spark-job decomposition: wall time, stage count, task count,
  * input records, shuffle read/write bytes and the job's label, so a
  * query's seconds can be attributed to its actions without the UI.
  * Each pass is two [[Trace]] windows, `<query>/construct` (the
  * builder's side-effect jobs: registry writes, temp stages) and
  * `<query>/sink` (the noop sink, then `clearCache`, so no pass is
  * served by a relation an earlier pass persisted).
  *
  * Usage: ProfileQuery <sfDir> <name> [passes]
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    // resolved before the session: a typo fails without building one
    val Seq(name) =
      Queries.names("ProfileQuery", args(1), SparkEntry.queries.keySet)
    val passes = if (args.length > 2) args(2).toInt else 2
    val spark = Sessions.local(Sessions.cpus(32))

    def mb(b: Long): String = f"${b / 1048576.0}%8.2f"
    (1 to passes).foreach { pass =>
      val (df, built) = Trace.window(spark, s"$name/construct") {
        SparkEntry.queries(name)(spark, sfDir)
      }
      val (_, sunk) = Trace.window(spark, s"$name/sink") {
        try df.write.format("noop").mode("overwrite").save()
        finally spark.catalog.clearCache()
      }
      val jobs = built.jobs ++ sunk.jobs
      println(f"== pass $pass: construct ${built.ms / 1e3}%.3f s, " +
        f"noop-sink ${sunk.ms / 1e3}%.3f s, " +
        f"total ${(built.ms + sunk.ms) / 1e3}%.3f s, jobs ${jobs.size}, " +
        s"input records ${built.inputRecords + sunk.inputRecords}")
      println(f"${"job"}%4s ${"ms"}%7s ${"stg"}%4s ${"tasks"}%6s " +
        f"${"records"}%10s ${"shRMB"}%9s ${"shWMB"}%9s  desc")
      jobs.sortBy(-_.ms).take(30).foreach { j =>
        println(f"${j.id}%4d ${j.ms}%7d ${j.stageIds.size}%4d ${j.tasks}%6d " +
          f"${j.records}%10d ${mb(j.shuffleReadBytes)}%9s " +
          f"${mb(j.shuffleWriteBytes)}%9s  ${j.label.take(70)}")
      }
    }
    spark.stop()
  }
}
