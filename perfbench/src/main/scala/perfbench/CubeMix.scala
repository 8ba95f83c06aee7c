package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.EsiEtl
import graft.olap.{AggNavigator, Cube, CubeQuery}

/** The served cube (the q214/q239 shape) and the seeded drill mix run
  * against it.
  *
  * The cube is the star-joined fact staged once as parquet, with the
  * three q214 rollups registered by `AggNavigator.registerShared`. The
  * mix covers every MDX shape `Mdx` supports plus Grafana-style SQL
  * over the fact view, which `AggRoute` rewrites when a rollup covers
  * it. Six of every ten drills are covered by a rollup, four fall
  * through to the fact, and year members are skewed toward recent
  * years. Each drill carries the DuckDB SQL that must give the same
  * answer over the staged parquet (view `fact`). */
object CubeMix {

  val CubeName = "movimientos"
  val FactView = "mov_fact"

  /** The q214 rollup grains and measures. */
  val grains: Seq[(String, Seq[String])] = Seq(
    "fecha_dia" -> Seq("fact", "anio_movi", "mes_movi", "dia_movi"),
    "fecha_mes" -> Seq("fact", "anio_movi", "mes_movi"),
    "perfil" -> Seq("fact", "via_tran", "nac_migr", "sex_migr"))

  val measures: Seq[AggNavigator.Measure] = Seq(
    AggNavigator.CountAll("cantidad_movimientos"),
    AggNavigator.ExactAvg("promedio_edades", "edad"))

  /** Hierarchies of `Schema_Trabajo_Final.xml` (the q203 cube). */
  val hierarchies: Seq[Cube.Hierarchy] = Seq(
    Cube.Hierarchy("fecha", Seq("anio_movi", "mes_movi", "dia_movi")),
    Cube.Hierarchy("frontera", Seq("pro_jefm", "can_jefm", "jef_migr")),
    Cube.Hierarchy("transporte", Seq("via_tran")),
    Cube.Hierarchy("nacionalidad", Seq("nac_migr")),
    Cube.Hierarchy("sexo", Seq("sex_migr")),
    Cube.Hierarchy("ocupacion", Seq("ocu_migr")))

  /** A seeded star-joined fact in the q203 wide shape (fact tag, the
    * five surrogate ids, `edad`, and every dimension attribute), drawn
    * from the ESI generator's value pools with the same skews. Built
    * directly in Spark: the serving workloads measure the cube, and a
    * CSV load per set-up repetition would not fit the run budget. */
  def wideFact(spark: SparkSession, seed: Long, rows: Long, years: Seq[Int]): DataFrame = {
    def pick(values: Seq[String], idx: org.apache.spark.sql.Column) =
      element_at(array(values.map(lit): _*), (idx + 1).cast("int"))
    def u(k: Int) = rand(seed * 131 + k)
    val nat = least(floor(abs(randn(seed * 131 + 4)) * 6), lit(EsiGen.nationalities.length - 1))
    val via = when(u(5) < 0.7, lit(0)).otherwise(floor(u(6) * (EsiGen.vias.length - 1)) + 1)
    val fr = floor(u(7) * EsiGen.fronteras.length)
    val occ = floor(u(8) * EsiGen.occupations.length)
    val sex = floor(u(9) * 2)
    spark.range(0, rows, 1, 4)
      .select(
        when(u(0) < 0.5, lit("inmigrante")).otherwise(lit("emigrante")).as("fact"),
        pick(years.map(_.toString), floor(u(1) * years.size)).cast("int").as("anio_movi"),
        (floor(u(2) * 12) + 1).cast("int").as("mes_movi"),
        (floor(u(3) * 28) + 1).cast("int").as("dia_movi"),
        nat.as("nat"), via.as("via"), fr.as("fr"), occ.as("occ"), sex.as("sex"),
        when(u(10) < 0.06, lit(null)).otherwise(floor(u(11) * 91)).cast("int").as("edad"))
      .select(
        col("fact"),
        (col("sex") * 100 + col("nat") + 1).cast("long").as("id_persona"),
        (col("via") + 1).cast("long").as("id_transporte"),
        (col("fr") + 1).cast("long").as("id_frontera"),
        (col("occ") + 1).cast("long").as("id_ocupacion"),
        ((col("anio_movi") * 12 + col("mes_movi")) * 31 + col("dia_movi")).cast("long").as("id_fecha"),
        col("edad"),
        pick(Seq("Hombre", "Mujer"), col("sex")).as("sex_migr"),
        pick(EsiGen.nationalities.map(_._1).toSeq, col("nat")).as("nac_migr"),
        pick(EsiGen.vias.toSeq, col("via")).as("via_tran"),
        pick(EsiGen.fronteras.map(_._1).toSeq, col("fr")).as("jef_migr"),
        pick(EsiGen.fronteras.map(_._2).toSeq, col("fr")).as("pro_jefm"),
        pick(EsiGen.fronteras.map(_._3).toSeq, col("fr")).as("can_jefm"),
        graft.etl.Cleaning.classify(pick(EsiGen.occupations.toSeq, col("occ")), EsiEtl.ocuDictionary)
          .as("ocu_class"),
        pick(EsiGen.occupations.toSeq, col("occ")).as("ocu_migr"),
        graft.etl.Cleaning.concatDate(col("anio_movi"), col("mes_movi"), col("dia_movi"))
          .as("fecha_completa"),
        col("anio_movi"), col("mes_movi"), col("dia_movi"))
  }

  /** One drill: `text` is MDX (`sql = false`) or Spark SQL over
    * [[FactView]]; `duck` answers the same question in DuckDB. */
  final case class Drill(template: String, text: String, sql: Boolean,
      duck: String, covered: Boolean)

  private val Cols =
    "{[Measures].[cantidad_movimientos], [Measures].[promedio_edades]} ON COLUMNS"
  private val DuckMeasures =
    "count(*) AS cantidad_movimientos, " +
      "round(CAST(sum(CAST(edad AS DECIMAL(18,2))) AS DOUBLE) / count(edad), 6) AS promedio_edades"

  /** Weighted templates: (name, weight, covered, build(year, rng)). */
  private val templates: Seq[(String, Int, Boolean, (Int, SplittableRandom) => (String, Boolean, String))] = Seq(
    ("month_drill", 15, true, (y, _) => (
      s"SELECT $Cols, {[fecha].[mes_movi].Members} ON ROWS FROM [$CubeName] " +
        s"WHERE ([fecha].[anio_movi].[$y])", false,
      s"SELECT anio_movi, mes_movi, $DuckMeasures FROM fact WHERE anio_movi = $y GROUP BY 1, 2")),
    ("day_drill", 10, true, (y, _) => (
      s"SELECT $Cols, {[fecha].[dia_movi].Members} ON ROWS FROM [$CubeName] " +
        s"WHERE ([fecha].[anio_movi].[$y])", false,
      s"SELECT anio_movi, mes_movi, dia_movi, $DuckMeasures FROM fact WHERE anio_movi = $y GROUP BY 1, 2, 3")),
    ("set_union", 10, true, (_, _) => (
      s"SELECT $Cols, {[transporte].[via_tran].Members, [nacionalidad].[nac_migr].Members, " +
        s"[sexo].[sex_migr].Members} ON ROWS FROM [$CubeName]", false,
      "SELECT via_tran, nac_migr, sex_migr, CAST(4*GROUPING(via_tran) + 2*GROUPING(nac_migr) " +
        s"+ GROUPING(sex_migr) AS BIGINT) AS gid, $DuckMeasures FROM fact " +
        "GROUP BY GROUPING SETS ((via_tran), (nac_migr), (sex_migr))")),
    ("calc_member", 10, true, (_, _) => (
      "WITH MEMBER [Measures].[carga_estimada] AS " +
        "'round([Measures].[cantidad_movimientos] * [Measures].[promedio_edades] / 100.0, 6)' " +
        "SELECT {[Measures].[cantidad_movimientos], [Measures].[promedio_edades], " +
        s"[Measures].[carga_estimada]} ON COLUMNS, {[transporte].[via_tran].Members} ON ROWS FROM [$CubeName]",
      false,
      s"SELECT via_tran, cantidad_movimientos, promedio_edades, " +
        "round(cantidad_movimientos * promedio_edades / 100.0, 6) AS carga_estimada " +
        s"FROM (SELECT via_tran, $DuckMeasures FROM fact GROUP BY 1)")),
    ("sql_month", 15, true, (y, _) => (
      s"SELECT fact, anio_movi, mes_movi, count(*) AS cantidad_movimientos, " +
        "round(CAST(sum(CAST(edad AS DECIMAL(18,2))) AS DOUBLE) / count(edad), 6) AS promedio_edades " +
        s"FROM $FactView WHERE anio_movi >= $y GROUP BY fact, anio_movi, mes_movi", true,
      s"SELECT fact, anio_movi, mes_movi, $DuckMeasures FROM fact WHERE anio_movi >= $y GROUP BY 1, 2, 3")),
    ("xjoin_slicer", 10, false, (_, r) => {
      val sex = if (r.nextInt(2) == 0) "Hombre" else "Mujer"
      (s"SELECT $Cols, CROSSJOIN({[fecha].[anio_movi].Members}, {[transporte].[via_tran].Members}) " +
        s"ON ROWS FROM [$CubeName] WHERE ([sexo].[sex_migr].[$sex])", false,
        s"SELECT anio_movi, via_tran, $DuckMeasures FROM fact WHERE sex_migr = '$sex' GROUP BY 1, 2")
    }),
    ("topcount", 10, false, (_, _) => (
      s"SELECT $Cols, TOPCOUNT(CROSSJOIN({[fecha].[anio_movi].Members}, " +
        "{[nacionalidad].[nac_migr].Members}), 5, [Measures].[cantidad_movimientos]) ON ROWS " +
        s"FROM [$CubeName]", false,
      s"SELECT anio_movi, nac_migr, $DuckMeasures FROM fact GROUP BY 1, 2 " +
        "ORDER BY cantidad_movimientos DESC NULLS LAST, anio_movi ASC NULLS FIRST, " +
        "nac_migr ASC NULLS FIRST LIMIT 5")),
    ("filter_order", 10, false, (_, _) => (
      s"SELECT $Cols, ORDER(FILTER(CROSSJOIN({[fecha].[anio_movi].Members}, " +
        "{[sexo].[sex_migr].Members}), '[Measures].[cantidad_movimientos] >= 1000'), " +
        s"[Measures].[promedio_edades], BDESC) ON ROWS FROM [$CubeName]", false,
      s"SELECT * FROM (SELECT anio_movi, sex_migr, $DuckMeasures FROM fact GROUP BY 1, 2) " +
        "WHERE cantidad_movimientos >= 1000")),
    ("sql_frontera", 10, false, (y, _) => (
      s"SELECT pro_jefm, count(*) AS cantidad_movimientos, " +
        "round(CAST(sum(CAST(edad AS DECIMAL(18,2))) AS DOUBLE) / count(edad), 6) AS promedio_edades " +
        s"FROM $FactView WHERE anio_movi = $y GROUP BY pro_jefm", true,
      s"SELECT pro_jefm, $DuckMeasures FROM fact WHERE anio_movi = $y GROUP BY 1")))

  val templateCount: Int = templates.size

  /** The seeded drill stream. Templates are dealt from shuffled decks
    * holding each template in proportion to its weight (20 cards), so
    * every run serves the same mix and the seed varies the order and
    * the members; years are skewed toward recent ones (weight (i+1)²
    * for the i-th oldest). */
  final class Stream(seed: Long, years: Seq[Int]) {
    private val r = new SplittableRandom(seed)
    private val deck = templates.flatMap(t => Seq.fill(t._2 / 5)(t)).toArray
    private var dealt = deck.length
    private val yearWeights = years.indices.map(i => (i + 1) * (i + 1))
    private def year(): Int = {
      var x = r.nextInt(yearWeights.sum)
      var i = 0
      while (x >= yearWeights(i)) { x -= yearWeights(i); i += 1 }
      years(i)
    }
    def next(): Drill = {
      if (dealt == deck.length) {
        var i = deck.length - 1
        while (i > 0) {
          val j = r.nextInt(i + 1)
          val tmp = deck(i); deck(i) = deck(j); deck(j) = tmp
          i -= 1
        }
        dealt = 0
      }
      val (name, _, covered, build) = deck(dealt)
      dealt += 1
      val (text, sql, duck) = build(year(), r)
      Drill(name, text, sql, duck, covered)
    }
  }

  /** The MDX catalog: the cube over the staged fact, served through a
    * rollup registry. */
  def catalog(spark: SparkSession, staged: String, reg: AggNavigator.Registry)
      : Map[String, CubeQuery.CubeRef] =
    Map(CubeName -> CubeQuery.CubeRef(() => spark.read.parquet(staged), registry = Some(reg)))

  val schema: Map[String, Seq[Cube.Hierarchy]] = Map(CubeName -> hierarchies)

  /** Root paths of the file relations an optimized plan scans. */
  def scannedRoots(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Nil
        }
    }.flatten
}
