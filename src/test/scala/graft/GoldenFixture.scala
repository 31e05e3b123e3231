package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable

/** The golden ETL fixture: the paper's upload when it is present, else a
  * deterministic stand-in with the same profile (FIXTURES.md §1), so the
  * golden suites run in any checkout.
  *
  * The stand-in is one sheet "Planilha2" with the 20 raw headers and
  * 1,200 rows: 1,198 customers with distinct CPFs written formatted, and
  * 2 more rows repeating a CPF digits-only, each after its original:
  * one with an earlier signup, one with a later one, so neither a
  * first-row nor a last-row rule picks both earliest-signup survivors;
  * both repeats' signups stay inside the profiled range. It carries
  * exactly the 16 (Plano, valor) pairs, valor 70.00 … 169.90 with both
  * ends present, phones as numeric cells, CEP and Número mixed
  * numeric/string, full state names ("São Paulo" among them), 5
  * Vencimento values and the fixture's per-column null counts; phones,
  * cell phones and emails are all present. The profiled date ranges are
  * met exactly: customer 0 has the earliest birth date (1901-06-29) and
  * signup (2020-07-16), customer 1 the latest (2095-04-11, 2023-05-25),
  * and neither birth date is nulled. Written with JDK zip + hand-built
  * SpreadsheetML.
  */
object GoldenFixture {

  private val ReferenceUpload = "/root/reference/uploads/dados_importacao.xlsx"

  /** Rows and distinct customers of the stand-in. */
  private val Rows = 1200
  private val Customers = 1198

  /** Customers repeated by a digits-only row, with the repeat's signup
    * shift in days. */
  private val Repeats = Map(400 -> -30, 900 -> 30)

  lazy val path: String =
    if (Files.exists(Paths.get(ReferenceUpload))) ReferenceUpload
    else {
      val p = Files.createTempDirectory("golden-fixture").resolve("dados_importacao.xlsx")
      write(p, rows(seed = 1L))
      p.toString
    }

  private val Headers: Seq[String] = Seq("Nome/Razão Social", "Nome Fantasia",
    "CPF/CNPJ", "Data Nasc.", "Data Cadastro cliente", "Celulares",
    "Telefones", "Emails", "Endereço", "Número", "Complemento", "Bairro",
    "CEP", "Cidade", "UF", "Plano", "Plano Valor", "Vencimento", "Status",
    "Isento")

  /** Nulls per 1,200 rows of each nullable column (FIXTURES.md §1). */
  private val Nulls: Map[String, Int] = Map("Nome Fantasia" -> 1199,
    "Data Nasc." -> 479, "Celulares" -> 135, "Telefones" -> 448,
    "Emails" -> 33, "Endereço" -> 2, "Complemento" -> 75, "CEP" -> 1,
    "Isento" -> 1194)

  /** The 16 (Plano, valor) pairs, valor 70.00 … 169.90 in steps of 6.66. */
  private val Plans: IndexedSeq[(String, BigDecimal)] = {
    val speeds = Seq("50MB", "100MB", "200MB", "300MB", "400MB", "500MB", "600MB", "1GB")
    for ((s, i) <- speeds.zipWithIndex; (k, j) <- Seq("FIBRA_99_NOVO", "FIBRA_PLUS").zipWithIndex)
      yield (s"${s}_PLA_ITA_$k", BigDecimal("70.00") + BigDecimal("6.66") * (2 * i + j))
  }.toIndexedSeq

  private val First = IndexedSeq("Nicolas", "Antonio", "Maria", "Ana", "João",
    "Pedro", "Lucas", "Juliana", "Fernanda", "Rafael", "Camila", "Gabriel",
    "Beatriz", "Thiago", "Larissa", "Bruno", "Letícia", "Diego")
  private val Last = IndexedSeq("Melo", "Silva", "Souza", "Costa", "Santos",
    "Oliveira", "Pereira", "Rodrigues", "Almeida", "Nascimento", "Lima", "Araújo")
  private val Streets = IndexedSeq("Rua das Flores", "Avenida Brasil",
    "Rua São João", "Travessa Sete", "Alameda Santos", "Rua Direita")
  private val Bairros = IndexedSeq("Centro", "Jardim América", "Vila Nova",
    "Santa Efigênia", "Liberdade", "Savassi")
  private val Estados = IndexedSeq("Acre", "Alagoas", "Amapá", "Amazonas",
    "Bahia", "Ceará", "Distrito Federal", "Espírito Santo", "Goiás",
    "Maranhão", "Mato Grosso", "Mato Grosso do Sul", "Minas Gerais", "Pará",
    "Paraíba", "Paraná", "Pernambuco", "Piauí", "Rio de Janeiro",
    "Rio Grande do Norte", "Rio Grande do Sul", "Rondônia", "Roraima",
    "Santa Catarina", "São Paulo", "Sergipe", "Tocantins")

  /** A cell: a number, a string, or absent. */
  private type Cell = Option[Either[Double, String]]

  // Excel 1900-system serials: 1899-12-30 is day 0
  private def serial(y: Int, m: Int, d: Int): Long =
    java.time.LocalDate.of(y, m, d).toEpochDay + 25569L

  /** An 11-digit CPF with valid check digits; the 9-digit base is a
    * bijection of `id` (7919 is coprime with 10^9). */
  private def cpf(seed: Long, id: Int): String = {
    val base = Math.floorMod(id * 7919L + seed * 104729L, 1000000000L)
    val d = f"$base%09d".map(_ - '0')
    def check(ds: Seq[Int]): Int = {
      val r = ds.indices.map(i => ds(i) * (ds.length + 1 - i)).sum % 11
      if (r < 2) 0 else 11 - r
    }
    val d1 = check(d)
    (d :+ d1 :+ check(d :+ d1)).mkString
  }

  /** The sheet's data rows, one map from raw header to cell per row. */
  private def rows(seed: Long): IndexedSeq[Map[String, Cell]] = {
    val r = new SplittableRandom(seed)
    def pick[T](xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))
    def str(s: String): Cell = Some(Right(s))
    def num(v: Double): Cell = Some(Left(v))
    val cadLo = serial(2020, 7, 16)
    val cadHi = serial(2023, 5, 25)
    val nascLo = serial(1901, 6, 29)
    val nascHi = serial(2095, 4, 11)

    val customers = mutable.ArrayBuffer.tabulate(Customers) { id =>
      val digits = cpf(seed, id)
      val first = pick(First)
      val last = pick(Last)
      val ddd = 11 + r.nextInt(88)
      val (plano, valor) = Plans(if (id < Plans.size) id else r.nextInt(Plans.size))
      val cep = 10000000L + r.nextInt(89999999)
      // customers 0 and 1 carry the profiled extremes, signed up at noon so
      // the day shows the same in any time zone; a repeated customer's
      // signup leaves room for its repeat's shift
      val nasc = id match {
        case 0 => nascLo
        case 1 => nascHi
        case _ => nascLo + r.nextLong(nascHi - nascLo + 1)
      }
      val cad = id match {
        case 0 => cadLo + 0.5
        case 1 => cadHi + 0.5
        case _ =>
          val margin = math.abs(Repeats.getOrElse(id, 0))
          cadLo + margin + r.nextLong(cadHi - cadLo - 2 * margin + 1) + r.nextInt(24) / 24.0
      }
      Map[String, Cell](
        "Nome/Razão Social" -> str(s"$first $last"),
        "Nome Fantasia" -> str(s"Loja $last"),
        "CPF/CNPJ" -> str(s"${digits.take(3)}.${digits.slice(3, 6)}.${digits.slice(6, 9)}-${digits.drop(9)}"),
        "Data Nasc." -> num(nasc.toDouble),
        "Data Cadastro cliente" -> num(cad),
        "Celulares" -> num((5500000000000L + ddd * 1000000000L + 900000000L + r.nextInt(100000000)).toDouble),
        "Telefones" -> num((550000000000L + ddd * 100000000L + 30000000L + r.nextInt(60000000)).toDouble),
        "Emails" -> str(s"${first.toLowerCase.filter(c => c >= 'a' && c <= 'z')}${r.nextInt(100)}@da.br"),
        "Endereço" -> str(pick(Streets)),
        "Número" -> (if (r.nextInt(10) < 7) num(1 + r.nextInt(2000)) else str("S/N")),
        "Complemento" -> str(s"quadra ${r.nextInt(99)},lote ${r.nextInt(30)}"),
        "Bairro" -> str(pick(Bairros)),
        "CEP" -> (if (r.nextBoolean()) num(cep.toDouble) else str(f"${cep / 1000}%05d-${cep % 1000}%03d")),
        "Cidade" -> str("Almeida"),
        "UF" -> str(Estados(if (id < Estados.size) id else r.nextInt(Estados.size))),
        "Plano" -> str(plano),
        "Plano Valor" -> num(valor.toDouble),
        "Vencimento" -> num(5 * (1 + r.nextInt(5))),
        "Status" -> str(if (id < 115) "Ativo" else "Velocidade Reduzida"),
        "Isento" -> str("Sim"))
    }
    def repeat(of: Int): Map[String, Cell] = {
      val c = customers(of)
      val (Some(Right(cpfFormatted)), Some(Left(cad))) =
        (c("CPF/CNPJ"), c("Data Cadastro cliente")): @unchecked
      c ++ Map("CPF/CNPJ" -> str(cpfFormatted.filter(_.isDigit)),
        "Data Cadastro cliente" -> num(cad + Repeats(of)))
    }
    val out = customers.clone()
    out.insert(1000, repeat(900))
    out.insert(600, repeat(400))
    // the fixture's exact null counts, at seeded positions; rows 0 and 1
    // (customers 0 and 1) keep their extreme birth dates
    val nulled = out.map(_.to(mutable.Map))
    Nulls.toSeq.sortBy(_._1).foreach { case (h, n) =>
      shuffled(r, Rows).filterNot(i => h == "Data Nasc." && i < 2).take(n)
        .foreach(i => nulled(i)(h) = None)
    }
    nulled.map(_.toMap).toIndexedSeq
  }

  private def shuffled(r: SplittableRandom, n: Int): IndexedSeq[Int] = {
    val a = Array.range(0, n)
    for (i <- n - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq
  }

  /** Writes `rows` as a one-sheet workbook "Planilha2" with shared strings. */
  private def write(path: Path, rows: Seq[Map[String, Cell]]): Unit = {
    val sst = mutable.LinkedHashMap.empty[String, Int]
    val sheet = new java.lang.StringBuilder(rows.size * 700)
    def row(rowNo: Int, cells: Seq[Cell]): Unit = {
      sheet.append(s"""<row r="$rowNo">""")
      cells.zipWithIndex.foreach {
        case (Some(Right(v)), i) =>
          sheet.append(s"""<c r="${colName(i)}$rowNo" t="s"><v>${sst.getOrElseUpdate(v, sst.size)}</v></c>""")
        case (Some(Left(v)), i) =>
          val txt = if (v == math.rint(v)) v.toLong.toString else v.toString
          sheet.append(s"""<c r="${colName(i)}$rowNo"><v>$txt</v></c>""")
        case (None, _) => // absent cells are skipped; every cell carries its reference
      }
      sheet.append("</row>")
    }
    row(1, Headers.map(h => Some(Right(h))))
    rows.zipWithIndex.foreach { case (cells, i) => row(i + 2, Headers.map(cells)) }
    val ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    val rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    val parts = Seq(
      "xl/workbook.xml" ->
        s"""<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="$ns" xmlns:r="$rel"><sheets><sheet name="Planilha2" sheetId="1" r:id="rId1"/></sheets></workbook>""",
      "xl/_rels/workbook.xml.rels" ->
        s"""<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="$rel/worksheet" Target="worksheets/sheet1.xml"/><Relationship Id="rId2" Type="$rel/sharedStrings" Target="sharedStrings.xml"/></Relationships>""",
      "xl/sharedStrings.xml" ->
        (s"""<?xml version="1.0" encoding="UTF-8"?><sst xmlns="$ns" count="${sst.size}" uniqueCount="${sst.size}">""" +
          sst.keys.map(v => s"<si><t>${v.replace("&", "&amp;").replace("<", "&lt;")}</t></si>").mkString + "</sst>"),
      "xl/worksheets/sheet1.xml" ->
        s"""<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns="$ns"><sheetData>$sheet</sheetData></worksheet>""")
    val zos = new ZipOutputStream(Files.newOutputStream(path))
    try parts.foreach { case (name, content) =>
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes(UTF_8))
      zos.closeEntry()
    } finally zos.close()
  }

  private def colName(i: Int): String =
    if (i < 26) ('A' + i).toChar.toString else colName(i / 26 - 1) + ('A' + i % 26).toChar
}
