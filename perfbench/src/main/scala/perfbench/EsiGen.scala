package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.Charset
import java.util.SplittableRandom

import graft.sources.CsvSource

/** Seeded ESI delivery: six yearly CSV files with the reference's
  * quirks, plus the counts a correct load must reproduce.
  *
  * Quirks (per file unless noted):
  *  - file 2 is ISO-8859-1, the others UTF-8; file 4 uses `;` as its
  *    separator;
  *  - ~0.1% of rows arrive WRAPPED: the whole line quoted as one cell.
  *    Three in four wrapped rows hold a correct 25-field line and are
  *    recoverable by `CsvSource.repair`; the rest lost a field before
  *    wrapping and must be dropped (the generator counts them);
  *  - `edad` carries the `sin especificar` sentinel on ~6% of rows;
  *  - `tip_movi`, month names and `jef_migr` come in mixed case and
  *    padding; occupations are accented, mapped and unmapped.
  *
  * Dimension key values never repeat across files with different
  * spellings except where cleaning folds them (trim, month map), so
  * the expected distinct counts below are exact. */
object EsiGen {

  final case class Expected(rawRows: Long, unrecoverable: Long,
      inmigrante: Long, emigrante: Long, dims: Map[String, Long]) {
    def factRows: Long = inmigrante + emigrante
    def toMap: Map[String, Any] = Map("raw_rows" -> rawRows,
      "unrecoverable" -> unrecoverable, "fact_inmigrante" -> inmigrante,
      "fact_emigrante" -> emigrante, "dims" -> dims)
  }

  private val tipMovi = Array(" Entrada ", "Entrada", "ENTRADA", "salida", "Salida ", "SALIDA")
  private val months = Array("Enero", "febrero", " MARZO", "abril", "Mayo ", "junio",
    "Julio", "agosto", "Septiembre", "octubre", "NOVIEMBRE", "diciembre")
  private[perfbench] val nationalities = Array(
    ("Perú", "Sudamérica", "América"), ("Colombia", "Sudamérica", "América"),
    ("Venezuela", "Sudamérica", "América"), ("Ecuador", "Sudamérica", "América"),
    ("Chile", "Sudamérica", "América"), ("Argentina", "Sudamérica", "América"),
    ("Bolivia", "Sudamérica", "América"), ("Brasil", "Sudamérica", "América"),
    ("México", "Centroamérica", "América"), ("Panamá", "Centroamérica", "América"),
    ("Cuba", "El Caribe", "América"), ("Haití", "El Caribe", "América"),
    ("Estados Unidos de América", "Norteamérica", "América"),
    ("Canadá", "Norteamérica", "América"), ("España", "Europa Meridional", "Europa"),
    ("Italia", "Europa Meridional", "Europa"), ("Alemania", "Europa Occidental", "Europa"),
    ("Francia", "Europa Occidental", "Europa"), ("Reino Unido", "Europa Septentrional", "Europa"),
    ("China", "Asia Oriental", "Asia"), ("Japón", "Asia Oriental", "Asia"),
    ("India", "Asia Meridional", "Asia"), ("Rusia", "Europa Oriental", "Europa"),
    ("Nigeria", "África Occidental", "África"))
  private[perfbench] val vias = Array("Aérea", "Terrestre", "Marítima", "Fluvial")
  private val motivos = Array("Turismo", "Negocios", "Estudios", "Residencia", "Eventos", "Otro")
  private[perfbench] val fronteras = Array(
    ("Jefatura Quito", "Pichincha", "Quito"), ("Jefatura Guayaquil", "Guayas", "Guayaquil"),
    ("Jefatura Rumichaca", "Carchi", "Tulcán"), ("Jefatura Huaquillas", "El Oro", "Huaquillas"),
    ("Jefatura Macará", "Loja", "Macará"), ("Jefatura Manta", "Manabí", "Manta"),
    ("Jefatura San Miguel", "Sucumbíos", "Lago Agrio"), ("Jefatura Cuenca", "Azuay", "Cuenca"),
    ("Jefatura Esmeraldas", "Esmeraldas", "Esmeraldas"), ("Jefatura Galápagos", "Galápagos", "San Cristóbal"))
  private val clases = Array("Inmigrante", "No inmigrante", "Turista", "Refugiado")
  private[perfbench] val occupations = Array(
    "Médico", "INGENIERO", "Abogado", "profesor", "Comerciante", "agricultor",
    "Chofer", "Panadero", "Carpintero", "Estudiante", "Menor de edad", "Jubilado",
    "Sin especificar", "Pescador", "Técnico en informática", "Albañil",
    "Enfermera", "Músico", "Economista", "Ama de casa", "Mecánico", "Periodista")

  /** Write one delivery under `dir` (six files `esi_<year>.csv`) and
    * return its specs and expected counts. `rowsPerFile` counts data
    * lines, wrapped ones included. */
  def write(dir: String, seed: Long, rowsPerFile: Int, years: Seq[Int]): (Seq[CsvSource.FileSpec], Expected) = {
    require(years.size == 6, "an ESI delivery is six yearly files")
    new java.io.File(dir).mkdirs()
    val parts = years.zipWithIndex.map { case (year, i) =>
      val encoding = if (i == 2) "ISO-8859-1" else "UTF-8"
      val sep = if (i == 4) ";" else ","
      val path = s"$dir/esi_$year.csv"
      val r = new SplittableRandom(seed * 1000003L + year)
      (CsvSource.FileSpec(path, encoding, sep), writeFile(path, encoding, sep, year, rowsPerFile, r))
    }
    val stats = parts.map(_._2)
    val expected = Expected(
      rawRows = stats.map(_.raw).sum,
      unrecoverable = stats.map(_.dropped).sum,
      inmigrante = stats.map(_.entrada).sum,
      emigrante = stats.map(_.salida).sum,
      dims = Map(
        "dim_persona" -> stats.flatMap(_.persona).distinct.size.toLong,
        "dim_transporte" -> stats.flatMap(_.via).distinct.size.toLong,
        "dim_frontera" -> stats.flatMap(_.frontera).distinct.size.toLong,
        "dim_ocupacion" -> stats.flatMap(_.ocupacion).distinct.size.toLong,
        "dim_fecha" -> stats.flatMap(_.fecha).distinct.size.toLong))
    (parts.map(_._1), expected)
  }

  private final class FileStats {
    var raw = 0L; var dropped = 0L; var entrada = 0L; var salida = 0L
    val persona = new scala.collection.mutable.HashSet[(Int, Int)]
    val via = new scala.collection.mutable.HashSet[Int]
    val frontera = new scala.collection.mutable.HashSet[Int]
    val ocupacion = new scala.collection.mutable.HashSet[Int]
    val fecha = new scala.collection.mutable.HashSet[(Int, Int, Int)]
  }

  private def writeFile(path: String, encoding: String, sep: String, year: Int,
      rows: Int, r: SplittableRandom): FileStats = {
    val st = new FileStats
    val out = new BufferedOutputStream(new FileOutputStream(path), 1 << 20)
    val cs = Charset.forName(encoding)
    val header = graft.etl.EsiEtl.esiSchema.fieldNames.mkString(sep)
    out.write((header + "\n").getBytes(cs))
    val fields = new Array[String](25)
    val line = new java.lang.StringBuilder(256)
    var i = 0
    while (i < rows) {
      val tip = r.nextInt(tipMovi.length)
      val month = r.nextInt(12)
      val day = 1 + r.nextInt(28)
      val sex = r.nextInt(2)
      // skewed nationality mix: a few dominate, as in the real series
      val nat = math.min(nationalities.length - 1,
        (math.abs(r.nextGaussian()) * 6).toInt)
      val via = if (r.nextInt(10) < 7) 0 else 1 + r.nextInt(vias.length - 1)
      val fr = r.nextInt(fronteras.length)
      val occ = r.nextInt(occupations.length)
      val (natName, subcont, cont) = nationalities(nat)
      val prod = nationalities(r.nextInt(nationalities.length))
      val res = nationalities(r.nextInt(nationalities.length))
      val (jef, pro, can) = fronteras(fr)
      fields(0) = tipMovi(tip)
      fields(1) = if (r.nextInt(3) == 0) "Ecuatoriano" else "Extranjero"
      fields(2) = year.toString
      fields(3) = months(month)
      fields(4) = day.toString
      fields(5) = if (sex == 0) "Hombre" else "Mujer"
      fields(6) = natName
      fields(7) = subcont
      fields(8) = cont
      fields(9) = vias(via)
      fields(10) = motivos(r.nextInt(motivos.length))
      fields(11) = prod._1
      fields(12) = prod._2
      fields(13) = prod._3
      fields(14) = prod._1 + " " + (1 + r.nextInt(9))
      fields(15) = res._1
      fields(16) = res._2
      fields(17) = res._3
      fields(18) = if (r.nextInt(4) == 0) s" $jef " else jef
      fields(19) = pro
      fields(20) = can
      fields(21) = clases(r.nextInt(clases.length))
      fields(22) = occupations(occ)
      fields(23) = if (r.nextInt(100) < 6) "sin especificar" else r.nextInt(91).toString
      fields(24) = ""
      line.setLength(0)
      val wrapped = r.nextInt(1000) == 0
      val broken = wrapped && r.nextInt(4) == 0
      var k = 0
      while (k < 25) {
        // a broken wrapped row lost its `mot_viam` field upstream
        if (!(broken && k == 10)) {
          if (line.length > 0) line.append(sep)
          line.append(fields(k))
        }
        k += 1
      }
      val text = if (wrapped) "\"" + line.toString + "\"" else line.toString
      out.write((text + "\n").getBytes(cs))
      st.raw += 1
      if (broken) st.dropped += 1
      else {
        if (tip < 3) st.entrada += 1 else st.salida += 1
        st.persona += ((sex, nat))
        st.via += via
        st.frontera += fr
        st.ocupacion += occ
        st.fecha += ((year, month, day))
      }
      i += 1
    }
    out.close()
    st
  }
}
