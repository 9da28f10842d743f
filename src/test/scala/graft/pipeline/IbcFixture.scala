package graft.pipeline

import java.nio.file.{Files, Path}

/** Seeded generator for an IBC-shaped municipal indicators CSV
  * (FIXTURES.md A1): UTF-8 BOM, `;` separator, pt-BR decimals
  * (decimal comma, thousands dots), names that embed the separator and
  * so are quoted, about 75 % of `Cobertura área agricultável` empty,
  * and whole values written bare (`44`). The same seed writes the same
  * bytes. The expected manifest facts are counted while the rows are
  * generated, never read back from the pipeline's output.
  */
object IbcFixture {

  private val Header: Seq[String] = Seq("Ano", "Código Município", "Município", "UF", "IBC",
    "Cobertura Pop. 4G5G", "Densidade SMP", "HHI SMP", "Densidade SCM", "HHI SCM",
    "Adensamento Estações", "Fibra", "Cobertura área agricultável")

  /** Normalized names, in header order (configs/indicadores_municipios.json). */
  val Columns: Seq[String] = Seq("ano", "codigo_municipio", "municipio", "uf", "ibc",
    "cobertura_pop_4g5g", "densidade_smp", "hhi_smp", "densidade_scm", "hhi_scm",
    "adensamento_estacoes", "fibra", "cobertura_area_agricultavel")

  private val Ufs = Seq("AC", "AM", "BA", "MG", "PR", "RO", "RS", "SP")
  private val Syllables = Seq("São", "Santa", "Alta", "Nova", "Rio", "Serra", "Porto",
    "Floresta", "Açu", "Guará", "Itá", "Piraí")

  /** What the pipeline must report, plus one row of each hazard. */
  final case class Facts(
      rows: Long,
      nulls: Map[String, Long],
      thousandsRow: (String, Double),
      quotedRow: (String, String),
      bareRow: (String, Double))

  /** pt-BR rendering: thousands dots, decimal comma, whole values bare. */
  private def ptDecimal(value: Double, places: Int): String = {
    val fixed = java.math.BigDecimal.valueOf(value).setScale(places, java.math.RoundingMode.HALF_UP)
    val whole = fixed.toBigInteger.toString
    val frac = fixed.remainder(java.math.BigDecimal.ONE).abs.unscaledValue.toString
    val grouped = whole.reverse.grouped(3).mkString(".").reverse
    if (fixed.signum == 0 || fixed.stripTrailingZeros.scale <= 0) grouped
    else grouped + "," + ("0" * (places - frac.length) + frac)
  }

  /** Write `rows` rows to `path`. Every 20th row has a density in the
    * thousands, every 25th name embeds `;`, every 10th HHI is a bare `44`. */
  def write(path: Path, seed: Long, rows: Int): Facts = {
    val rnd = new scala.util.Random(seed)
    var emptyAgri = 0L
    var thousands: (String, Double) = null
    var quoted: (String, String) = null
    var bare: (String, Double) = null
    val lines = (0 until rows).map { r =>
      val code = (1100015 + 37 * r).toString
      val uf = Ufs(r % Ufs.size)
      val base = Seq.fill(1 + rnd.nextInt(3))(Syllables(rnd.nextInt(Syllables.size))).mkString(" ")
      val name = if (r % 25 == 3) s"$base; Distrito - $uf" else s"$base - $uf"
      val densSmp = math.round((if (r % 20 == 7) 1000 + rnd.nextDouble() * 8000
        else 5 + rnd.nextDouble() * 175) * 100) / 100.0
      val hhiSmp = if (r % 10 == 1) 44 else 20 + rnd.nextInt(81)
      val agri =
        if (rnd.nextDouble() < 0.75) { emptyAgri += 1; "" }
        else ptDecimal(math.round(rnd.nextDouble() * 1000000) / 10000.0, 4)
      if (thousands == null && densSmp >= 1000) thousands = code -> densSmp
      if (quoted == null && name.contains(";")) quoted = code -> name
      if (bare == null && hhiSmp == 44) bare = code -> 44.0
      Seq(
        (2024 - r % 4).toString, code, if (name.contains(";")) "\"" + name + "\"" else name, uf,
        ptDecimal(math.round((10 + rnd.nextDouble() * 80) * 100) / 100.0, 2),
        ptDecimal(math.round(rnd.nextDouble() * 1000000) / 10000.0, 4),
        ptDecimal(densSmp, 2),
        hhiSmp.toString,
        ptDecimal(math.round(rnd.nextDouble() * 4000) / 100.0, 2),
        (10 + rnd.nextInt(91)).toString,
        ptDecimal(math.round(rnd.nextDouble() * 6000) / 100.0, 2),
        if (rnd.nextDouble() < 0.6) "0" else (1 + rnd.nextInt(100)).toString,
        agri).mkString(";")
    }
    val text = (("\uFEFF" + Header.mkString(";")) +: lines).mkString("", "\n", "\n")
    Files.write(path, text.getBytes("UTF-8"))
    Facts(rows.toLong, Columns.map(c => c -> (if (c == "cobertura_area_agricultavel") emptyAgri else 0L)).toMap,
      thousands, quoted, bare)
  }
}
