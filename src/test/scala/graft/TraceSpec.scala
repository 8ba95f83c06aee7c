package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** [[Trace]] windows count what Spark's own status API reports, and
  * the engine keeps a single listener class. */
class TraceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a window's jobs, stages and tasks are the status tracker's for its label") {
    val label = "trace/status"
    val (_, w) = Trace.window(spark, label) {
      spark.range(0, 20000, 1, 4).groupBy((col("id") % 7).as("g")).count()
        .write.format("noop").mode("overwrite").save()
    }
    val st = spark.sparkContext.statusTracker
    assert(w.label === label)
    assert(w.jobs.map(_.id).sorted === st.getJobIdsForGroup(label).toSeq.sorted)
    assert(w.jobs.nonEmpty && w.jobs.forall(_.label === label))
    // a stage run by an earlier job is listed, skipped, by a later one:
    // the window's stages are the listed ones whose tasks completed
    val listed = w.jobs.flatMap(j => st.getJobInfo(j.id).get.stageIds.toSeq)
    val ran = listed.distinct.flatMap(st.getStageInfo(_))
      .filter(_.numCompletedTasks > 0)
    assert(w.jobs.flatMap(_.stageIds).sorted === ran.map(_.stageId).sorted)
    assert(w.stages === ran.size)
    w.jobs.foreach { j =>
      assert(j.stageIds.toSet.subsetOf(st.getJobInfo(j.id).get.stageIds.toSet))
      assert(j.tasks === j.stageIds.map(st.getStageInfo(_).get.numCompletedTasks).sum)
    }
    assert(w.tasks === ran.map(_.numCompletedTasks).sum)
    assert(w.shuffleWriteBytes > 0 && w.shuffleReadBytes > 0)
  }

  test("a full noop scan counts exactly the table's rows as input records") {
    val orders = TestSpark.table("orders")
    val n = orders.count()
    val (_, w) = Trace.window(spark, "trace/scan") {
      orders.write.format("noop").mode("overwrite").save()
    }
    assert(n > 0)
    assert(w.inputRecords === n)
    assert(w.jobs.map(_.records).sum === n)
  }

  test("a three-batch AvailableNow stream reports batches 0 to 2") {
    val src = Files.createTempDirectory("trace_stream_src").toString
    (0 until 3).foreach { i =>
      spark.range(i * 10L, i * 10L + 10L).coalesce(1)
        .write.mode("append").parquet(src)
    }
    val (_, w) = Trace.window(spark, "trace/stream") {
      spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .writeStream.format("noop").queryName("trace_three")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    assert(w.batches.map(_.id).sorted === Seq(0L, 1L, 2L))
    assert(w.batches.forall(b => b.query == "trace_three" && b.ms >= 0))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(src))
  }

  test("a window labels its jobs, Par's threads inherit the label, and windows do not nest") {
    val sc = spark.sparkContext
    val before = sc.getLocalProperty("spark.jobGroup.id")
    val (seen, _) = Trace.window(spark, "trace/outer") {
      val e = intercept[IllegalStateException] {
        Trace.window(spark, "trace/inner")(())
      }
      assert(e.getMessage.contains("do not nest"))
      operators.Par.mapSeq(Seq(1, 2))(_ => sc.getLocalProperty("spark.jobGroup.id")) :+
        sc.getLocalProperty("spark.job.description")
    }
    assert(seen === Seq("trace/outer", "trace/outer", "trace/outer"))
    assert(sc.getLocalProperty("spark.jobGroup.id") === before)
    // the failed inner open left the context free for the next window
    assert(Trace.window(spark, "trace/after")(1)._1 === 1)
  }

  test("src holds exactly one listener class, graft.Trace") {
    // the pattern is assembled so this file does not match it
    val kinds = "(SparkListener|StreamingQueryListener)"
    val listener = (s"ext${""}ends .*$kinds|new $kinds").r
    val files = Files.walk(Paths.get("src")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val hits = files.flatMap { (f: Path) =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if listener.findFirstIn(line).isDefined => s"$f:${i + 1}"
      }
    }
    assert(hits.size === 1, hits.mkString("\n"))
    assert(hits.head.startsWith("src/main/scala/graft/Trace.scala:"), hits.head)
  }
}
