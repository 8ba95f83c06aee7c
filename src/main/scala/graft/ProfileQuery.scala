package graft
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Optimization-round tooling: run one declared query under Bench's
  * session config and print a per-Spark-job decomposition — wall time,
  * stage count, task count, shuffle read/write bytes, input bytes —
  * so a query's seconds can be attributed to its actions (the §1
  * "empirical" loop without the UI, which is disabled in this
  * sandbox). Construction (side-effect builds: registry writes, temp
  * stages) is timed separately from the final noop sink.
  *
  * Usage: ProfileQuery <sfDir> <name> [passes]
  */
object ProfileQuery {
  final case class JobRow(id: Int, desc: String, ms: Long, stages: Int,
    tasks: Int, shufR: Long, shufW: Long, input: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    // resolved before the session: a typo fails without building one
    val Seq(name) =
      Queries.names("ProfileQuery", args(1), SparkEntry.queries.keySet)
    val passes = if (args.length > 2) args(2).toInt else 2
    val spark = Sessions.local(Sessions.cpus(32))

    // ALL listener state guarded by ONE lock: listener callbacks run
    // on the bus thread while the main thread clears/reads between
    // passes (ADVICE r16 — the 300 ms sleep was the only sync before,
    // and per-pass rows could be lost or misattributed). `stages` is
    // now populated too.
    val lock = new Object
    val jobs = mutable.ArrayBuffer[JobRow]()
    val starts = mutable.Map[Int, (Long, String)]()
    val stageOfJob = mutable.Map[Int, Int]()
    // tasks, shufR, shufW, input, stages
    val agg = mutable.Map[Int, (Int, Long, Long, Long, Int)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        lock.synchronized {
          starts(js.jobId) =
            (System.nanoTime(), Option(js.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .getOrElse(""))
          js.stageIds.foreach(sid => stageOfJob(sid) = js.jobId)
          agg(js.jobId) = (0, 0L, 0L, 0L, 0)
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        lock.synchronized {
          val si = sc.stageInfo
          stageOfJob.get(si.stageId).foreach { jid =>
            val (t, r, w, i, st) = agg.getOrElse(jid, (0, 0L, 0L, 0L, 0))
            val m = si.taskMetrics
            agg(jid) = (t + si.numTasks,
              r + m.shuffleReadMetrics.totalBytesRead,
              w + m.shuffleWriteMetrics.bytesWritten,
              i + m.inputMetrics.bytesRead,
              st + 1)
          }
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        lock.synchronized {
          starts.remove(je.jobId).foreach { case (t0, desc) =>
            val (t, r, w, i, st) = agg.getOrElse(je.jobId, (0, 0L, 0L, 0L, 0))
            jobs += JobRow(je.jobId, desc,
              (System.nanoTime() - t0) / 1000000, st, t, r, w, i)
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)

    def mb(b: Long): String = f"${b / 1048576.0}%8.2f"
    (1 to passes).foreach { pass =>
      lock.synchronized { jobs.clear(); starts.clear()
        stageOfJob.clear(); agg.clear() }
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      // drain the async bus fully — a sleep races late events
      org.apache.spark.sql.graft.Bridge
        .waitListenerBusEmpty(spark.sparkContext)
      val snapshot = lock.synchronized { jobs.toVector }
      println(f"== pass $pass: construct ${(t1 - t0) / 1e9}%.3f s, " +
        f"noop-sink ${(t2 - t1) / 1e9}%.3f s, " +
        f"total ${(t2 - t0) / 1e9}%.3f s, jobs ${snapshot.size}")
      println(f"${"job"}%4s ${"ms"}%7s ${"stg"}%4s ${"tasks"}%6s " +
        f"${"inMB"}%9s ${"shRMB"}%9s ${"shWMB"}%9s  desc")
      snapshot.sortBy(-_.ms).take(30).foreach { j =>
        println(f"${j.id}%4d ${j.ms}%7d ${j.stages}%4d ${j.tasks}%6d " +
          f"${mb(j.input)}%9s ${mb(j.shufR)}%9s ${mb(j.shufW)}%9s  " +
          f"${j.desc.take(70)}")
      }
    }
    spark.stop()
  }
}
