package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.etl.{Cleaning, Curation, EsiEtl}
import graft.olap.{AggNavigator, AggRoute, Mdx}
import graft.sources.CsvSource

/** The two workloads. Sizes are chosen so one run (set-up, warmup,
  * timed window, checks) fits the benchmark's time budget on 4 cores;
  * see NOTES.md for the numbers behind them. */
object Workloads {

  /** Six yearly files per ESI delivery. */
  val Years: Seq[Int] = 2017 to 2022
  /** Set-up repetitions per run; `setup_s` is their median. */
  val SetupReps = 3
  /** Untimed loads before esi_load's window. With two, the timed loads
    * still got faster load by load (5.6 -> 5.0 -> 4.9 s). */
  val WarmupLoads = 3
  /** Untimed drills per template before cube_serve's window. With two,
    * the first third of the window was ~30% slower than the rest. */
  val WarmupDrills = 4

  val EsiRowsPerFile = 15000
  val CubeFactRows = 250000L
  val DeliveryRows = 4000
  val CorpusDocs = 5000

  def run(h: Harness): Unit = h.cfg.workload match {
    case "esi_load" => esiLoad(h)
    case "cube_serve" => cubeServe(h)
    case w => throw new IllegalArgumentException(s"unknown workload '$w'")
  }

  private def work(h: Harness, rel: String): String = s"${h.cfg.work}/$rel"

  /** A fresh path holding delivery `src`'s files (hard links): the load
    * reads bytes no earlier load in this JVM read under that path. */
  private def freshDelivery(src: Seq[CsvSource.FileSpec], dir: String): Seq[CsvSource.FileSpec] = {
    Files.createDirectories(Paths.get(dir))
    src.map { s =>
      val p = Paths.get(s.path)
      val link = Paths.get(dir, p.getFileName.toString)
      Files.createLink(link, p)
      s.copy(path = link.toString)
    }
  }

  /** One bulk load: scan, clean, build the star schema, save it. */
  private def load(h: Harness, specs: Seq[CsvSource.FileSpec], out: String): Unit = {
    val t = h.tracer
    val raw = t.call("sources", "CsvSource.scanAll") {
      CsvSource.scanAll(h.spark, specs, EsiEtl.esiSchema)
    }
    val cleaned = t.call("etl", "EsiEtl.clean")(EsiEtl.clean(raw))
    val wh = t.call("etl", "EsiEtl.buildWarehouse")(EsiEtl.buildWarehouse(cleaned))
    t.call("etl", "EsiEtl.save")(EsiEtl.save(wh, out))
  }

  // ---------------------------------------------------------------- esi_load

  private def esiLoad(h: Harness): Unit = {
    val deliveries = (0 until SetupReps).map { d =>
      h.setupUnit {
        EsiGen.write(work(h, s"deliveries/d$d"), h.cfg.seed * 31 + d, EsiRowsPerFile, Years)
      }
    }
    h.info("raw_rows_per_load") = deliveries.head._2.rawRows
    h.info("csv_mb_per_load") = deliveries.head._1.map(s => new java.io.File(s.path).length).sum / Tracer.MB
    // a drifting window is a noisy one: warm the JIT before timing
    for (w <- 0 until WarmupLoads) h.warmup {
      load(h, freshDelivery(deliveries(w % deliveries.size)._1, work(h, s"loads/warmup$w/in")), work(h, s"loads/warmup$w/wh"))
    }
    h.startWindow()
    var i = 0
    while (!h.windowOver) {
      val (specs, expected) = deliveries(i % deliveries.size)
      val dir = work(h, s"loads/l$i")
      val fresh = freshDelivery(specs, s"$dir/in")
      h.op("load", s"l$i", "rows_in" -> expected.rawRows, "rows_out" -> expected.factRows,
          "expected" -> expected.toMap, "warehouse" -> s"$dir/wh") { _ =>
        load(h, fresh, s"$dir/wh")
        Map.empty
      }
      i += 1
    }
    h.endWindow()
  }

  // -------------------------------------------------------------- cube_serve

  final case class Served(staged: String, aggRoot: String, reg: AggNavigator.Registry,
      delivery: String, deliveryRows: Long)

  /** Set-up unit of cube_serve: stage a seeded star-joined fact, register
    * the rollups over it, and cut one monthly delivery: a slice of the
    * fact moved to the year after the cube's last. */
  private def buildCube(h: Harness, u: Int): Served = {
    val spark = h.spark
    val t = h.tracer
    val base = work(h, s"cube/u$u")
    val staged = s"$base/fact"
    t.call("sources", "stage.fact") {
      CubeMix.wideFact(spark, h.cfg.seed * 17 + u, CubeFactRows, Years).write.parquet(staged)
    }
    val aggRoot = s"$base/aggs"
    val reg = t.call("olap", "AggNavigator.registerShared") {
      AggNavigator.registerShared(spark.read.parquet(staged), CubeMix.grains, CubeMix.measures, aggRoot)
    }
    val delivery = s"$base/delivery"
    val deliveryRows = t.call("sources", "delivery.write") {
      spark.read.parquet(staged).sample(withReplacement = false, DeliveryRows.toDouble / CubeFactRows, h.cfg.seed + u)
        .withColumn("anio_movi", lit(Years.last + 1))
        .withColumn("mes_movi", lit(1))
        .withColumn("fecha_completa",
          Cleaning.concatDate(col("anio_movi"), col("mes_movi"), col("dia_movi")))
        .write.parquet(delivery)
      spark.read.parquet(delivery).count()
    }
    Served(staged, aggRoot, reg, delivery, deliveryRows)
  }

  /** One closed-loop reader over the cube. The writer path (append +
    * refresh of one delivery) and one curation of a small corpus run in
    * set-up, so the `olap` refresh and `Curation` layers are measured
    * (per layer, and inside `setup_s`) without a workload of their own. */
  private def cubeServe(h: Harness): Unit = {
    val spark = h.spark
    val t = h.tracer
    val served = (0 until SetupReps).map(u => h.setupUnit(buildCube(h, u))).last
    val factRows = CubeFactRows + served.deliveryRows
    h.info("fact_rows") = factRows
    h.info("base_files") = new java.io.File(served.staged).listFiles.map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted.toSeq
    h.info("delivery") = served.delivery
    var reg = served.reg

    val answers = mutable.HashMap[String, String]()
    val oracle = mutable.ArrayBuffer[Map[String, Any]]()
    def read(d: CubeMix.Drill, timed: Boolean): Unit = {
      var result: Array[Row] = null
      var df: DataFrame = null
      val body: Int => Map[String, Any] = { _ =>
        df = if (d.sql) {
          t.call("sources", "fact.view") {
            spark.read.parquet(served.staged).createOrReplaceTempView(CubeMix.FactView)
          }
          if (h.cfg.trace) t.call("olap", "sql.parse")(spark.sessionState.sqlParser.parsePlan(d.text))
          t.call("olap", "spark.sql")(spark.sql(d.text))
        } else {
          if (h.cfg.trace) t.call("olap", "Mdx.parse")(Mdx.parse(d.text))
          t.call("olap", "Mdx.run")(Mdx.run(d.text, CubeMix.catalog(spark, served.staged, reg), CubeMix.schema))
        }
        t.call("plans", "executedPlan")(df.queryExecution.executedPlan)
        result = t.call("exec", "collect")(df.collect())
        Map.empty
      }
      if (!timed) { h.warmup(body(0)); return }
      val rec = h.op("read", d.template, "covered" -> d.covered, "drill" -> d.text,
        "rows_in" -> factRows)(body)
      if (rec("ok") == true) {
        val roots = CubeMix.scannedRoots(df)
        rec("routed") = roots.nonEmpty && roots.forall(_.contains(served.aggRoot))
        rec("rows_out") = result.length.toLong
        // the first answer per drill goes to DuckDB; repeats must match it
        val fp = Harness.fingerprint(result)
        answers.get(d.text) match {
          case Some(first) =>
            if (first != fp) h.fail(rec, "answer differs from the first run of the same drill")
          case None =>
            answers(d.text) = fp
            oracle += Map("trace" -> rec("trace"), "text" -> d.text, "duck" -> d.duck,
              "answer" -> Harness.answer(df.columns.toSeq, result))
        }
      }
    }

    // the writer path: append the delivery to the fact, refresh the
    // rollups with it as the batch id, and re-route the fact to the
    // refreshed registry (AggRoute keeps each rollup's schema from route
    // time, and a refresh may widen the stored partial types)
    val absorb = h.warmup {
      val delta = spark.read.parquet(served.delivery)
      t.call("sources", "fact.append")(delta.write.mode("append").parquet(served.staged))
      reg = t.call("olap", "AggNavigator.refresh") {
        AggNavigator.refresh(reg, spark.read.parquet(served.delivery), Some(0L))
      }
      t.call("olap", "AggRoute.route")(AggRoute.route(served.staged, reg))
    }
    h.info("refresh_delta_bytes") = dirBytes(served.delivery)
    if (h.cfg.trace) h.info("refresh_bytes") = t.callOutputBytes(absorb, "AggNavigator.refresh")
    // the Curation layer: one curate + export of a small seeded corpus
    val corpus = DocGen.generate(h.cfg.seed * 13, CorpusDocs)
    var curated: (DataFrame, Array[Row]) = null
    h.warmup {
      val path = work(h, "corpus")
      writeCorpus(h, corpus, path)
      curated = curate(h, spark.read.parquet(path))
    }
    // drill warmup, right before the window: the first drills of a shape
    // in a JVM pay its code generation and JIT
    val warm = new CubeMix.Stream(h.cfg.seed + 1, Years)
    for (_ <- 0 until WarmupDrills)
      Iterator.continually(warm.next()).distinctBy(_.template).take(CubeMix.templateCount)
        .foreach(read(_, timed = false))

    val stream = new CubeMix.Stream(h.cfg.seed, Years)
    h.startWindow()
    while (!h.windowOver) read(stream.next(), timed = true)
    h.endWindow()

    // the audit's direct fact aggregate must not itself be routed
    AggRoute.unroute(spark, served.staged)
    val audit = AggNavigator.audit(reg, spark.read.parquet(served.staged)).collect()
    h.check("AggNavigator.audit reports every rollup consistent",
      audit.nonEmpty && audit.forall(_.getAs[Boolean]("consistent")),
      audit.map(r => s"${r.getString(0)}=${r.getAs[Boolean]("consistent")}").mkString(","))
    val got = spark.read.parquet(served.staged).count()
    h.check("fact rows = base + delivered rows", got == factRows, s"got=$got want=$factRows")
    checkCuration(h, corpus, curated._1, curated._2)
    h.info("oracle") = oracle.toList
  }

  private def dirBytes(dir: String): Long =
    Option(new java.io.File(dir).listFiles).map(_.filter(_.isFile).map(_.length).sum).getOrElse(0L)

  // ---------------------------------------------------------------- curation

  private val Weights = Map("en" -> 0.5, "de" -> 0.2, "fr" -> 0.2, "zh" -> 0.1)
  private val Budget = 40000L

  private def writeCorpus(h: Harness, c: DocGen.Corpus, path: String): Unit = {
    val spark = h.spark
    import spark.implicits._
    h.tracer.call("sources", "corpus.write") {
      c.docs.map(d => (d.id, d.text, d.lang, d.source, d.nChars))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .repartition(h.cfg.cores).write.parquet(path)
    }
  }

  /** `curate` with q177's arguments, then the 8-shard export profile. */
  private def curate(h: Harness, docs: DataFrame): (DataFrame, Array[Row]) = {
    val t = h.tracer
    val accepted = t.call("etl", "Curation.curate") {
      Curation.curate(docs, idCol = "doc_id", textCol = "text", domainCol = "lang",
        costCol = "n_chars", threshold = 0.9, minQuality = 0.3,
        benchmark = docs.filter(col("doc_id") < DocGen.BenchmarkIds), decontaminateN = DocGen.Gram,
        weights = Weights, budget = Budget, corpusPredicate = col("doc_id") >= DocGen.BenchmarkIds,
        scratchAutoBytes = 0L)
    }
    val profile = t.call("etl", "Curation.exportProfile") {
      Curation.exportProfile(accepted, "doc_id", "n_chars", 8).collect()
    }
    (accepted, profile)
  }

  /** The curation contract, checked against what the generator knows. */
  private def checkCuration(h: Harness, corpus: DocGen.Corpus, accepted: DataFrame,
      profile: Array[Row]): Unit = {
    val byId = corpus.docs.map(d => d.id -> d).toMap
    val ordered = Weights.toSeq.sortBy(_._1)
    val wsum = ordered.map(_._2).sum
    val quota = ordered.map { case (l, w) => l -> math.floor(Budget * w / wsum).toLong }.toMap
    val rows = accepted.select("doc_id", "lang", "n_chars").collect()
    val ids = rows.map(_.getLong(0))
    val perLang = rows.groupBy(_.getString(1)).view.mapValues(_.map(_.getLong(2)).sum).toMap
    // the quota contract of budgetMixSample: a doc is kept while the
    // chars of its md5-ordered predecessors in its language are under
    // quota, so only the last kept doc may cross it
    val overQuota = rows.groupBy(_.getString(1)).exists { case (l, rs) =>
      val last = rs.maxBy(r => (Harness.md5Hex(r.getLong(0).toString), r.getLong(0)))
      !quota.contains(l) || perLang(l) - last.getLong(2) >= quota(l)
    }
    h.info("curated_docs") = ids.length
    h.check("curation keeps each language within its char quota", !overQuota, perLang)
    h.check("curation accepts no doc id twice", ids.distinct.length == ids.length)
    h.check("curation drops every contaminated doc", !ids.exists(corpus.contaminated.contains),
      s"${corpus.contaminated.size} contaminated in ${corpus.docs.size} docs")
    h.check("curation accepts no two docs with one text",
      ids.map(byId(_).text).distinct.length == ids.length)
    h.check("export profile adds up to the accepted set",
      profile.map(_.getAs[Long]("n_docs")).sum == ids.length)
  }
}
