package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark: runs the headline queries on
  * `SPARK_GRAFT_SF_DIR` and prints one JSON line. Results are forced
  * through the `noop` sink (full computation of every output column —
  * unlike `count()`, which would let Catalyst prune the aggregates
  * away).
  *
  * Protocol: one untimed warmup pass on the smallest scale factor pays
  * the per-plan one-time costs (whole-stage codegen compilation, JIT of
  * the generated classes), one more untimed pass on the TARGET scale
  * factor pays its page-cache first touch and footer reads; then three
  * timed passes on the target scale factor, reporting the per-query
  * minimum — the standard steady-state measurement for a long-lived
  * engine under bursty host noise.
  *
  * Context decorrelation (round 9): with 50+ queries sharing one JVM,
  * a query's number is partly its NEIGHBORS' — cache residue and GC
  * debt from whatever ran just before it. Two rounds of drift triage
  * ended with isolated re-runs overturning the shared-context numbers
  * (q161: 6.52 in context, 3.70 isolated), so the bench now (a) runs
  * each timed pass in a DIFFERENT deterministic order (seeded
  * Fisher–Yates on the pass index — a query's three samples see three
  * different predecessors, and min-of-3 discards the unlucky
  * contexts), and (b) takes an untimed System.gc() breather before
  * each timed query so one query's garbage is not another's pause.
  * Orders are fixed per (name-set, pass), so runs stay reproducible.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    val spark = Sessions.local(Sessions.cpus(32))

    // SPARK_GRAFT_BENCH_ONLY=q36_esi_etl,... isolates queries under the
    // same protocol (warmup + min-of-3) — for profiling, not the driver
    val benched = Queries.registry.filter(_.bench).map(_.name)
    val names = Queries.onlyNames("SPARK_GRAFT_BENCH_ONLY", benched)
      .fold(benched)(benched.filter)
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
      names.foreach(run(spark, _, warmDir, "warm")) // untimed
    // one untimed pass on the TARGET dir too: codegen/JIT warm on the
    // small dir above, but the target files' page-cache first touch
    // and footer reads still landed on pass 1 of whichever query ran
    // first — the r10 artifact showed eight entries with pass spreads
    // ≥5 on sub-2s minimums for exactly that reason. One target-dir
    // execution per query moves the first-touch cost out of the timed
    // window entirely.
    names.foreach(run(spark, _, sfDir, "target")) // untimed
    // three timed passes, per-query minimum: the host shows bursty
    // co-tenant noise (identical binaries vary 2-3×), and min-of-N is
    // the standard steady-state estimator under asymmetric noise.
    // Each pass runs in a different deterministic order (see object
    // doc) so a query's min is not pinned to one fixed predecessor.
    val passes = (1 to 3).map { pass =>
      val order = new scala.util.Random(0x9E3779B9L * pass)
        .shuffle(names.toVector)
      order.map { n =>
        System.gc() // untimed breather: don't bill one query's garbage
        n -> run(spark, n, sfDir, s"timed$pass")._1
      }.toMap
    }
    val results = names.map(n => n -> passes.map(_(n)).min)

    def d3(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + d3(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // self-diagnosing drift telemetry: per-query max/min across the
    // timed passes (a large spread marks a context-noisy number — its
    // min is still the estimate, but a reader comparing rounds can see
    // WHICH entries were unstable without a forensic re-run), plus the
    // JVM shape so two benches are comparable or visibly not
    val spread = names.map { n =>
      val v = passes.map(_(n))
      s"\"" + n + "\":" + BigDecimal(v.max / math.max(v.min, 1e-9))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP)
    }.mkString("{", ",", "}")
    val heapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    // two layers of capture-proofing (the r10 driver artifact kept
    // only the LAST 2000 chars of output, which cut the head off a
    // ~3.3k-char single-line JSON — 50 of 64 medians lost):
    //  * the AUTHORITATIVE final line is kept COMPACT — 3-decimal
    //    per-query values, no spread map — so the whole queries map
    //    fits a 2000-char tail;
    //  * the full record (spread, full-precision values) goes to the
    //    earlier "provisional" line, and to SPARK_GRAFT_BENCH_OUT as a
    //    file when set (the committed BENCH_LOCAL_r*.json runs).
    val json =
      s"""{"metric":"total","value":${d3(total)},"unit":"sec",""" +
        s""""queries":$qs,"heap_mb":$heapMb,"passes":3,"sf":"$sfDir"}"""
    val full = json.patch(json.length - 1,
      s""","spread":$spread,"estimator":"min-of-3 after untimed target-dir warmup"}""",
      1)
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (full + "\n").getBytes("UTF-8"))
    }
    // the authoritative JSON line must be the LAST thing on the
    // combined stream: a tail-capture harness greps it from the end,
    // and Spark's stop() writes shutdown INFO lines AFTER anything
    // printed before it — every earlier round's driver capture lost
    // the line exactly that way (BENCH_r*.json: parsed null, tail full
    // of BlockManager logs). The pre-stop safety copy (in case stop()
    // hangs) carries the full record and is marked "provisional" so a
    // parse-every-line consumer can dedupe instead of double-counting.
    println(full.patch(1, "\"provisional\":true,", 0))
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    println(json)
    System.out.flush()
  }

  /** A failed query's time: a regression must not read as a speedup,
    * so breakage inflates the tracked number instead. */
  private val FailedSentinel = 1e6

  /** One run of query `name` on `dir` in a [[Trace]] window labelled
    * `<name>/<phase>`: the seconds its build and noop sink took
    * (FailedSentinel on failure), then `clearCache`, untimed. A
    * relation the run persisted would otherwise serve the next run of
    * the same plan from memory, and the bench would time a cache hit. */
  private[graft] def run(spark: SparkSession, name: String, dir: String,
      phase: String): (Double, Trace.Window) =
    Trace.window(spark, s"$name/$phase") {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED on $dir: ${e.getMessage}")
        FailedSentinel
      } finally spark.catalog.clearCache()
    }
}
