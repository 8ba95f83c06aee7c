package graft.etl

import java.nio.charset.Charset
import java.nio.file.{Files, Paths}

import graft.{TestSpark, Trace}
import graft.sources.CsvSource
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end ETL parity spec on a reference-shaped fixture
  * (FIXTURES.md §1 quirks: per-file encoding, `;` separator, a
  * wrong-arity row, accents, the `sin especificar` sentinel, an
  * unmapped occupation, a null natural-key tuple). */
class EsiEtlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val header = EsiEtl.esiSchema.fields.map(_.name).mkString(",")

  private def row(tip: String = "entrada", anio: String = "2018",
      mes: String = "enero", dia: String = "5", sexo: String = "Hombre",
      nac: String = "Ecuador", via: String = "Vía Aérea",
      jef: String = " Aeropuerto Mariscal Sucre ", pro: String = "Pichincha",
      can: String = "Quito", ocu: String = "INGENIERO", edad: String = "30")
      : String =
    Seq(tip, "nacional", anio, mes, dia.toString, sexo, nac, "sa", "america",
      via, "turismo", "Ecuador", "sa", "america", "Quito", "Ecuador", "sa",
      "america", jef, pro, can, "clase", ocu, edad, "").mkString(",")

  /** The three fixture files in a new temp dir; returns their specs. */
  private def writeFixture(): Seq[CsvSource.FileSpec] = {
    val dir = Files.createTempDirectory("esi_fixture").toString
    // 2018: UTF-8, comma; includes sentinel age + accented via + unmapped ocu
    Files.write(Paths.get(s"$dir/esi_2018.csv"),
      (Seq(header,
        row(),
        row(tip = "SALIDA ", mes = "febrero", ocu = "panadero"),
        row(mes = "diciembre", edad = "sin especificar", ocu = "astronauta"),
        row(tip = "", sexo = "", nac = "")) // empty/null natural keys
        .mkString("\n")).getBytes(Charset.forName("UTF-8")))
    // 2021: semicolon separator
    Files.write(Paths.get(s"$dir/esi_2021.csv"),
      (Seq(header.replace(",", ";"),
        row(anio = "2021", mes = "marzo").replace(",", ";"),
        row(anio = "2021", tip = "salida", mes = "abril").replace(",", ";"))
        .mkString("\n")).getBytes(Charset.forName("UTF-8")))
    // 2020: ISO-8859-1 encoded accents + one wrong-arity row whose first
    // cell embeds the true CSV line (the reference's repair case)
    val goodLine = row(anio = "2020", mes = "mayo", nac = "Perú")
    val brokenLine = "\"" + row(anio = "2020", mes = "junio") + "\""
    Files.write(Paths.get(s"$dir/ESI_2020.csv"),
      (Seq(header, goodLine, brokenLine).mkString("\n"))
        .getBytes(Charset.forName("ISO-8859-1")))
    Seq(CsvSource.FileSpec(s"$dir/esi_2018.csv"),
      CsvSource.FileSpec(s"$dir/esi_2021.csv", sep = ";"),
      CsvSource.FileSpec(s"$dir/ESI_2020.csv", encoding = "ISO-8859-1"))
  }

  /** Data lines in the fixture files (headers excluded). */
  private val fixtureLines = 8

  private lazy val raw = CsvSource.scanAll(spark, writeFixture(), EsiEtl.esiSchema)

  private lazy val cleaned = EsiEtl.clean(raw).cache()
  private lazy val wh = EsiEtl.buildWarehouse(cleaned)

  test("scanAll reads all files incl. repaired wrong-arity row") {
    assert(raw.count() === fixtureLines) // 4 + 2 + 2 (broken row repaired)
    assert(raw.filter($"anio_movi" === 2020).count() === 2)
    // ISO-8859-1 accents survived
    assert(raw.filter($"nac_migr" === "Perú").count() === 1)
  }

  test("cleaning: sentinel age to null, months mapped, trim/lower applied") {
    assert(cleaned.filter($"edad".isNull && $"anio_movi" === 2018).count() === 1)
    val months = cleaned.select("mes_movi").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(months === Set(1, 2, 12, 3, 4, 5, 6))
    assert(cleaned.filter($"tip_movi" === "salida").count() === 2) // "SALIDA " cleaned
    assert(cleaned.filter($"jef_migr".startsWith(" ")).count() === 0)
  }

  test("occupation classify: known mapped, unknown passes through") {
    val classes = cleaned.select("ocu_class").collect().map(_.getString(0))
    assert(classes.count(_ == "Profesionales") === 6)
    assert(classes.contains("astronauta")) // unmapped passes through
    val unmapped = Cleaning.unmappedValues(cleaned, "ocu_migr", EsiEtl.ocuDictionary)
      .collect().map(_.getString(0))
    assert(unmapped.toSeq.contains("astronauta"))
  }

  test("fecha_completa has the yyyy/M/d unpadded shape") {
    assert(cleaned.filter($"fecha_completa" === "2018/1/5").count() === 2)
  }

  test("warehouse: router splits on entrada with nulls to emigrante") {
    val inN = wh.factInmigrante.count()
    val outN = wh.factEmigrante.count()
    assert(inN + outN === 8)
    assert(inN === 5)
    assert(outN === 3) // 2 salidas + 1 null tip_movi (null-kill guard)
  }

  test("facts carry edad + five resolved surrogate FKs, never null") {
    val fkCols = EsiEtl.dimSpecs.map(_._3)
    assert(wh.factInmigrante.columns.toSet === (Seq("edad") ++ fkCols).toSet)
    fkCols.foreach { k =>
      assert(wh.factInmigrante.filter(col(k).isNull).count() === 0, k)
    }
  }

  test("guardrail: over-cap dim build falls back to the distributed path with identical dims") {
    // cap of 1 forces EVERY key set over the driver limit
    val guarded = EsiEtl.buildWarehouse(cleaned, maxDriverDimRows = 1L)
    EsiEtl.dimSpecs.foreach { case (name, keys, id) =>
      val a = wh.dims(name).collect().map(_.toSeq).toSet
      val b = guarded.dims(name).collect().map(_.toSeq).toSet
      assert(b === a, s"dim $name must be identical under the fallback")
    }
    assert(guarded.factInmigrante.count() === wh.factInmigrante.count())
  }

  test("star join round-trips: joining back reproduces natural keys") {
    val persona = wh.dims("dim_persona")
    val joined = wh.factInmigrante.join(persona, "id_persona")
    assert(joined.filter($"sex_migr" === "Hombre").count() ===
      wh.factInmigrante.count()) // all fixture rows are Hombre
  }

  test("wide extract matches the reference column contract") {
    val wide = EsiEtl.wideExtract(wh)
    val expected = Set(
      "id_persona", "id_transporte", "id_frontera", "id_ocupacion", "id_fecha",
      "dim_persona_sex_migr", "dim_persona_nac_migr",
      "dim_transporte_via_tran", "dim_frontera_jef_migr",
      "dim_frontera_pro_jefm", "dim_frontera_can_jefm",
      "dim_ocupacion_ocu_migr", "dim_fecha_fecha_completa",
      "dim_fecha_anio_movi", "dim_fecha_mes_movi", "dim_fecha_dia_movi",
      "source_fact")
    assert(wide.columns.toSet === expected) // edad + ocu_class omitted
    assert(wide.count() === 8)
    assert(wide.filter($"source_fact" === "fact_emigrante").count() === 3)
  }

  test("a load parses each CSV line once, releases its cache and saves the frames it built") {
    // fresh paths: a plan over the suite's files would be served from
    // the cached `cleaned` and parse no CSV at all
    val specs = writeFixture()
    val sc = spark.sparkContext
    val rddsBefore = sc.getPersistentRDDs.keySet
    val (built, buildWin) = Trace.window(spark, "esi/build")(
      EsiEtl.buildWarehouse(EsiEtl.clean(
        CsvSource.scanAll(spark, specs, EsiEtl.esiSchema))))
    val buildRead = buildWin.inputRecords
    val cachedIds = sc.getPersistentRDDs.keySet -- rddsBefore
    assert(cachedIds.size === 1, "the narrow relation is the load's one cache")
    val cachedParts = sc.getRDDStorageInfo.filter(i => cachedIds(i.id))
      .map(_.numCachedPartitions).sum
    assert(cachedParts > 0)
    // a cache read counts one record per column batch, one batch per
    // partition here. The probe parses every line once while AQE
    // materializes the cache as its own stage, then reads it back
    assert(buildRead === fixtureLines + cachedParts)
    val dir = Files.createTempDirectory("esi_wh_once").toString
    val saveRead = Trace.window(spark, "esi/save")(EsiEtl.save(built, dir))
      ._2.inputRecords
    // the save parses nothing: each fact write reads the cache once
    assert(saveRead === 2L * cachedParts)
    assert(sc.getPersistentRDDs.keySet === rddsBefore)
    val loaded = EsiEtl.load(spark, dir)
    val pairs = EsiEtl.dimSpecs.map { case (n, _, _) => (n, built.dims(n), loaded.dims(n)) } ++
      Seq(("fact_inmigrante", built.factInmigrante, loaded.factInmigrante),
        ("fact_emigrante", built.factEmigrante, loaded.factEmigrante))
    pairs.foreach { case (name, frame, saved) =>
      assert(frame.exceptAll(saved).isEmpty && saved.exceptAll(frame).isEmpty,
        s"$name as saved differs from its frame")
    }
    assert(loaded.factInmigrante.count() + loaded.factEmigrante.count() === fixtureLines)
    // driver-built dims are one partition: one part file per table
    EsiEtl.dimSpecs.foreach { case (n, _, _) =>
      val parts = new java.io.File(s"$dir/$n").list().filter(_.startsWith("part-"))
      assert(parts.length === 1, s"$n part files: ${parts.mkString(",")}")
    }
  }

  test("save/load round-trip preserves the warehouse") {
    val dir = Files.createTempDirectory("esi_wh").toString
    EsiEtl.save(wh, dir)
    val loaded = EsiEtl.load(spark, dir)
    assert(loaded.factInmigrante.count() === wh.factInmigrante.count())
    assert(loaded.dims("dim_fecha").count() === wh.dims("dim_fecha").count())
  }

  test("the same cleaning plan runs unchanged under Structured Streaming") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("esi_stream").toString
    raw.write.mode("overwrite").parquet(dir)
    val q = EsiEtl.clean(spark.readStream.schema(raw.schema).parquet(dir))
      .writeStream.format("memory").queryName("esi_clean_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("esi_clean_stream")
    assert(got.count() === 8)
    assert(got.filter($"tip_movi" === "salida").count() === 2)
    assert(got.filter($"edad".isNull).count() ===
      cleaned.filter($"edad".isNull).count())
    assert(got.filter($"fecha_completa" === "2018/1/5").count() === 2)
  }
}
