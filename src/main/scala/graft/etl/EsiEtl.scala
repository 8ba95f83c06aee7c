package graft.etl

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.olap.StarSchema

/** The reference warehouse ETL, end-to-end, Spark-first.
  *
  * Mirrors `etl_final.ktr` (the 21-step PDI graph) as one declarative
  * DataFrame program (SURVEY §3.2): six typed CSV scans union into a
  * cleaning chain (sentinel nulling, month-name mapping, trim/lower,
  * date concat), five dimensions are built as distinct+surrogate-key
  * tables and broadcast-joined back, and a null-safe router splits rows
  * into the two fact tables. PDI's per-row JDBC CombinationLookups
  * collapse into five tiny dimension builds — no row-at-a-time
  * round-trips, and each CSV row is parsed exactly once per load.
  */
object EsiEtl {

  /** Raw ESI CSV schema — 25 declared columns (`etl_final.ktr:631-907`);
    * everything a string except the two ints, `edad` cast later (B2). */
  val esiSchema: StructType = StructType(Seq(
    StructField("tip_movi", StringType),
    StructField("tip_naci", StringType),
    StructField("anio_movi", IntegerType),
    StructField("mes_movi", StringType),
    StructField("dia_movi", IntegerType),
    StructField("sex_migr", StringType),
    StructField("nac_migr", StringType),
    StructField("subcont_nac", StringType),
    StructField("cont_nac", StringType),
    StructField("via_tran", StringType),
    StructField("mot_viam", StringType),
    StructField("pais_prod", StringType),
    StructField("subcont_prod", StringType),
    StructField("cont_prod", StringType),
    StructField("lug_prod", StringType),
    StructField("pais_res", StringType),
    StructField("subcont_res", StringType),
    StructField("cont_res", StringType),
    StructField("jef_migr", StringType),
    StructField("pro_jefm", StringType),
    StructField("can_jefm", StringType),
    StructField("cla_migr", StringType),
    StructField("ocu_migr", StringType),
    StructField("edad", StringType),
    StructField("ocu_class", StringType)))

  /** Occupation classifier dictionary — the MECHANISM of the reference's
    * ~200-entry mapping (`Datos/preprocessing.py:209-301`) with a
    * representative seed dictionary; extend freely. Keys are normalized
    * (lower, accent-stripped). */
  val ocuDictionary: Map[String, String] = Map(
    "ingeniero" -> "Profesionales", "medico" -> "Profesionales",
    "abogado" -> "Profesionales", "profesor" -> "Profesionales",
    "comerciante" -> "No profesionales", "agricultor" -> "No profesionales",
    "chofer" -> "No profesionales", "panadero" -> "Artesanos",
    "carpintero" -> "Artesanos", "estudiante" -> "Estudiantes",
    "menor de edad" -> "Menores de edad", "jubilado" -> "Jubilados",
    "sin especificar" -> "Sin especificar")

  /** Cleaning chain — PDI steps Value mapper → Select values →
    * limpiezaDatos → cadena a numero mes → Concat fields → Select
    * values 2 (`etl_final.ktr:2502-3607`), all codegen'd expressions. */
  def clean(raw: DataFrame): DataFrame =
    raw
      // try_cast, not cast: under ANSI mode (Spark 4 default) a plain
      // cast THROWS on non-numeric remnants — but this chain's contract
      // is PDI's: unmatched ValueMapper values pass through as strings
      // and the numeric cast then nulls (not kills) them
      // (SURVEY §7.4.3); same for an edad that isn't the exact sentinel
      .withColumn("edad",
        Cleaning.sentinelToNull(col("edad"), "sin especificar").try_cast("int"))
      .withColumn("tip_movi", Cleaning.trimLower(col("tip_movi")))
      .withColumn("jef_migr", trim(col("jef_migr")))
      .withColumn("mes_movi",
        Cleaning.valueMap(Cleaning.trimLower(col("mes_movi")),
          Cleaning.spanishMonths).try_cast("int"))
      .withColumn("ocu_class",
        Cleaning.classify(col("ocu_migr"), ocuDictionary))
      .withColumn("fecha_completa",
        Cleaning.concatDate(col("anio_movi"), col("mes_movi"), col("dia_movi")))

  /** The five conformed dimensions (FIXTURES §2). */
  val dimSpecs: Seq[(String, Seq[String], String)] = Seq(
    ("dim_persona", Seq("sex_migr", "nac_migr"), "id_persona"),
    ("dim_transporte", Seq("via_tran"), "id_transporte"),
    ("dim_frontera", Seq("jef_migr", "pro_jefm", "can_jefm"), "id_frontera"),
    ("dim_ocupacion", Seq("ocu_class", "ocu_migr"), "id_ocupacion"),
    ("dim_fecha", Seq("fecha_completa", "anio_movi", "mes_movi", "dia_movi"),
      "id_fecha"))

  /** The star schema as frames. `stream` is the persisted narrow
    * relation the dims and both facts were derived from; [[save]]
    * releases it. A warehouse read back by [[load]] carries none. */
  final case class Warehouse(dims: Map[String, DataFrame],
      factInmigrante: DataFrame, factEmigrante: DataFrame,
      stream: Option[DataFrame] = None)

  /** Build the full star schema from a cleaned frame: five dimension
    * builds, broadcast FK resolution in one pass over the stream, then
    * the null-safe entrada/salida router (PDI FilterRows semantics,
    * SURVEY §7.4.2: false branch receives non-'entrada' AND null).
    *
    * The five distinct natural-key sets are computed in ONE shuffle via
    * `GROUPING SETS` (the Expand replicates each row once per dim
    * map-side, but partial aggregation collapses to ~dim cardinality
    * before the exchange — shuffle bytes stay tiny). The alternative —
    * five independent `distinct()` builds — re-scans and re-cleans the
    * full stream five times; at 100 TB that's five full passes instead
    * of one. The per-set result is dim-sized (small by definition) and
    * each dim is carved out of it by `grouping_id`.
    *
    * The probe and both facts read ONE persisted narrow projection of
    * `cleaned`: the router column, the measure and the dim keys. The
    * probe's action builds it, so the scan + cleaning chain runs once
    * per load; the facts' FK joins and the router's two branches
    * (Router.split's caller duty) read it back. The caller releases it
    * through [[save]].
    */
  def buildWarehouse(cleaned: DataFrame,
      maxDriverDimRows: Long = 2000000L): Warehouse = {
    val keyCols = dimSpecs.flatMap(_._2).distinct
    val stream = cleaned.select((Seq("tip_movi", "edad") ++ keyCols).map(col): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val distincts = stream
      .groupingSets(dimSpecs.map(_._2.map(col)), keyCols.map(col): _*)
      .agg(grouping_id().cast("long").as("__gid"))
    def gidOf(keys: Seq[String]): Long =
      keyCols.zipWithIndex.foldLeft(0L) { case (acc, (c, i)) =>
        if (keys.contains(c)) acc else acc | (1L << (keyCols.size - 1 - i))
      }
    // Dims are driver-small by the star-schema contract (distinct
    // attribute tuples, not facts) — so the normal path is ONE unsorted
    // collect of all five key sets, split by grouping_id and sorted in
    // the driver (a distributed orderBy+collect would execute the
    // aggregation twice: once for the range-partitioner sample, once
    // for real). Ids are 1..N in the canonical sort order (nulls
    // first) — deterministic across runs and cluster layouts.
    //
    // GUARDRAIL: the contract is checked, not assumed — and for free.
    // The collect is capped at maxDriverDimRows + 1: a result UNDER the
    // cap IS the complete key set (the limit never truncated), so the
    // normal path pays exactly one action and no key-set cache; a
    // result AT the cap proves a jumbo key set, and the build falls
    // back to the distributed SurrogateKeys.assignIds path (sort +
    // zipWithIndex, same id semantics) instead of silently OOMing the
    // driver — the one aggregate recompute there is the price of the
    // rare case, not the common one.
    val spark = cleaned.sparkSession
    // overflow-safe: clamp BEFORE the +1 (maxDriverDimRows near
    // Long.MaxValue must mean "driver path whenever collectable", not
    // wrap to a zero cap); an Array cannot exceed ~Int.MaxValue rows
    // anyway, so the clamp loses nothing
    val probeCap = (math.min(maxDriverDimRows, Int.MaxValue - 2L) + 1).toInt
    val probe = distincts.limit(probeCap).collect()
    val dims: Map[String, DataFrame] = if (probe.length >= probeCap) {
      val cachedKeys = distincts
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val built = dimSpecs.map { case (name, keys, id) =>
        // persist each dim so the cached aggregate can be released —
        // leaving it pinned for the session would leak the whole
        // key-set cache on every over-cap build
        name -> SurrogateKeys.assignIds(
          cachedKeys.filter(col("__gid") === gidOf(keys))
            .select(keys.map(col): _*),
          keys, id)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }.toMap
      built.values.foreach(_.count()) // materialize before unpersist
      cachedKeys.unpersist()
      built
    } else {
      val all = probe
      val byGid = all.groupBy(_.getLong(keyCols.size)) // __gid is the last column
      val keyIdx = keyCols.zipWithIndex.toMap
      def cmp(a: Row, b: Row, idxs: Seq[Int]): Boolean = {
        for (i <- idxs) {
          val (x, y) = (a.get(i), b.get(i))
          if (x == null && y != null) return true
          if (x != null && y == null) return false
          if (x != null) {
            // strings compare by CODE POINT, not Java's UTF-16 units:
            // Spark sorts UTF8String binary (= code-point order), and
            // the distributed fallback must assign the same ids for
            // supplementary-plane values
            val c = (x, y) match {
              case (xs: String, ys: String) =>
                java.util.Arrays.compare(
                  xs.codePoints().toArray, ys.codePoints().toArray)
              case _ => x.asInstanceOf[Comparable[Any]].compareTo(y)
            }
            if (c != 0) return c < 0
          }
        }
        false
      }
      val built = dimSpecs.map { case (name, keys, id) =>
        val idxs = keys.map(keyIdx)
        val rows = byGid.getOrElse(gidOf(keys), Array.empty[Row])
          .sortWith(cmp(_, _, idxs)).zipWithIndex
          .map { case (r, i) => Row.fromSeq(idxs.map(r.get) :+ (i + 1L)) }
        val schema = StructType(
          keys.map(k => distincts.schema(keyIdx(k))) :+
            StructField(id, LongType, nullable = false))
        // one partition: a local relation splits into up to
        // defaultParallelism slices, i.e. that many part files per dim
        // write and tasks per broadcast, for a few hundred rows
        name -> spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1)
      }.toMap
      built
    }
    val resolved = dimSpecs.foldLeft(stream) { case (acc, (name, keys, id)) =>
      SurrogateKeys.resolve(acc, dims(name), keys, id)
    }
    val factCols = Seq("tip_movi", "edad") ++ dimSpecs.map(_._3)
    val (in, out) = Router.split(resolved.select(factCols.map(col): _*),
      col("tip_movi") === "entrada")
    Warehouse(dims, in.drop("tip_movi"), out.drop("tip_movi"), Some(stream))
  }

  /** The ML wide-table extract (FIXTURES §3): both facts star-joined to
    * all dims with `{dim}_{col}` aliasing, lineage column, `edad` and
    * `ocu_class` omitted — reproducing the reference's extract contract
    * (`machineLearning.py:101-125,155-164`). */
  def wideExtract(wh: Warehouse): DataFrame = {
    val dims = dimSpecs.map { case (name, _, id) =>
      StarSchema.Dim(
        if (name == "dim_ocupacion") wh.dims(name).drop("ocu_class")
        else wh.dims(name),
        id, name)
    }
    def side(fact: DataFrame, tag: String) =
      StarSchema.wideTable(fact.drop("edad"), dims)
        .withColumn("source_fact", lit(tag))
    side(wh.factInmigrante, "fact_inmigrante")
      .unionByName(side(wh.factEmigrante, "fact_emigrante"))
  }

  /** Warehouse parquet persistence — partitioned by nothing for dims,
    * the facts by `id_fecha`-derived year would be the 100 TB layout;
    * here a plain snappy parquet per table (A7/A8 analog). The seven
    * writes are independent (disjoint paths, one shared cached input),
    * so they run concurrently, the two facts submitted first as the
    * longest; the warehouse's `stream` is released once they finish or
    * one fails. */
  def save(wh: Warehouse, dir: String): Unit = {
    val facts = Seq("fact_inmigrante" -> wh.factInmigrante,
      "fact_emigrante" -> wh.factEmigrante)
    try graft.operators.Par.mapSeq(facts ++ wh.dims.toSeq) { case (name, df) =>
      val w = df.write.mode("overwrite")
      (if (wh.dims.contains(name)) w.option("compression", "snappy") else w)
        .parquet(s"$dir/$name")
    } finally wh.stream.foreach(_.unpersist())
  }

  def load(spark: SparkSession, dir: String): Warehouse =
    Warehouse(
      dimSpecs.map { case (n, _, _) => n -> spark.read.parquet(s"$dir/$n") }.toMap,
      spark.read.parquet(s"$dir/fact_inmigrante"),
      spark.read.parquet(s"$dir/fact_emigrante"))
}
