package graft

/** Optimization-round tooling: dump `.explain("formatted")` for a list
  * of declared queries to files (`plans/rNN/<query>_<tag>.txt`), so
  * plan-shape claims in OPTIMIZATION_rNN.md are checkable without a
  * Spark runtime. Builds its session with [[Sessions]], as Bench
  * does, so the dumped plan is the benched plan by construction.
  *
  * Usage: PlanDump <sfDir> <outDir> <tag> <name1,name2,...|all>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag, namesCsv) = args.take(4)
    val names = queryNames(namesCsv)
    val spark = Sessions.local(Sessions.cpus(32))
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"),
          txt.getBytes("UTF-8"))
        println(s"[plandump] $name ok")
      } catch { case e: Throwable =>
        println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }

  /** The queries `namesCsv` names, `all` being the benched ones. An
    * unknown name fails here, before the session is built. */
  private[graft] def queryNames(namesCsv: String): Seq[String] =
    if (namesCsv == "all") Queries.registry.filter(_.bench).map(_.name)
    else Queries.names("PlanDump", namesCsv, SparkEntry.queries.keySet)
}
