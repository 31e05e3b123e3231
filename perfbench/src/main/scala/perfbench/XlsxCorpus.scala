package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable

/** Seeded generator of import spreadsheets shaped like the paper's
  * upload (FIXTURES.md §1): one sheet "Planilha2", the same 20 headers,
  * about 0.17 % rows repeating a CPF (written once formatted and once
  * digits-only), 16 (Plano, valor) pairs, phones as numeric cells, CEP
  * mixed numeric/string, full state names, and the fixture's null
  * shares. Written with JDK zip + hand-built SpreadsheetML only.
  *
  * A customer is a pure function of (seed, customer id), so a returning
  * customer in a later file repeats the original values exactly, and
  * the benchmark can preload the same customers through plain JDBC.
  */
object XlsxCorpus {

  val Headers: Seq[String] = Seq("Nome/Razão Social", "Nome Fantasia",
    "CPF/CNPJ", "Data Nasc.", "Data Cadastro cliente", "Celulares",
    "Telefones", "Emails", "Endereço", "Número", "Complemento", "Bairro",
    "CEP", "Cidade", "UF", "Plano", "Plano Valor", "Vencimento", "Status",
    "Isento")

  /** The 16 (Plano, valor) pairs. */
  val Plans: IndexedSeq[(String, BigDecimal)] = {
    val speeds = Seq("50MB", "100MB", "200MB", "300MB", "400MB", "500MB",
      "600MB", "1GB")
    val kinds = Seq("FIBRA_99_NOVO", "FIBRA_PLUS")
    for ((s, i) <- speeds.zipWithIndex; (k, j) <- kinds.zipWithIndex)
      yield (s"${s}_PLA_ITA_$k", BigDecimal(70) + BigDecimal(i * 12 + j * 6) + BigDecimal("0.90"))
  }.toIndexedSeq

  private val First = IndexedSeq("Nicolas", "Antonio", "Maria", "Ana",
    "João", "Pedro", "Lucas", "Juliana", "Fernanda", "Rafael", "Camila",
    "Gabriel", "Beatriz", "Thiago", "Larissa", "Bruno", "Letícia", "Diego",
    "Isabela", "Rodrigo")
  private val Last = IndexedSeq("Melo", "Silva", "Souza", "Costa", "Santos",
    "Oliveira", "Pereira", "Rodrigues", "Almeida", "Nascimento", "Lima",
    "Araújo", "Fernandes", "Carvalho", "Gomes", "Martins", "Rocha", "Ribeiro")
  private val Streets = IndexedSeq("Rua das Flores", "Avenida Brasil",
    "Rua São João", "Travessa Sete", "Rua do Comércio", "Alameda Santos",
    "Rua Boa Vista", "Avenida Paulista", "Rua Direita", "Rua Nova")
  private val Bairros = IndexedSeq("Centro", "Jardim América", "Vila Nova",
    "Boa Viagem", "Santa Efigênia", "Liberdade", "Savassi", "Pituba")
  private val Cidades = IndexedSeq("Almeida", "Almeida", "Almeida",
    "Nascimento", "Costa")
  private val Estados = IndexedSeq("Acre", "Alagoas", "Amapá", "Amazonas",
    "Bahia", "Ceará", "Distrito Federal", "Espírito Santo", "Goiás",
    "Maranhão", "Mato Grosso", "Mato Grosso do Sul", "Minas Gerais", "Pará",
    "Paraíba", "Paraná", "Pernambuco", "Piauí", "Rio de Janeiro",
    "Rio Grande do Norte", "Rio Grande do Sul", "Rondônia", "Roraima",
    "Santa Catarina", "São Paulo", "Sergipe", "Tocantins")
  private val Domains = IndexedSeq("da.br", "gmail.com", "hotmail.com",
    "uol.com.br", "bol.com.br")

  /** One customer as the spreadsheet carries it. A `None` cell is absent
    * from the sheet; numbers are written as numeric cells. */
  final case class Customer(id: Long, nome: String, fantasia: Option[String],
      cpfDigits: String, nasc: Option[Long], cadastro: Double,
      celular: Option[Long], telefone: Option[Long], email: Option[String],
      endereco: Option[String], numero: Either[Long, String],
      complemento: Option[String], bairro: String,
      cep: Option[Either[Long, String]], cidade: String, uf: String,
      plan: Int, vencimento: Int, status: String, isento: Option[String]) {

    def cpfFormatted: String =
      s"${cpfDigits.substring(0, 3)}.${cpfDigits.substring(3, 6)}." +
        s"${cpfDigits.substring(6, 9)}-${cpfDigits.substring(9)}"

    /** Non-null contact cells (Telefones, Celulares, Emails). */
    def contacts: Int = Seq(telefone, celular, email).count(_.isDefined)
  }

  // Excel 1900-system serials: 1899-12-30 is day 0
  private def serial(y: Int, m: Int, d: Int): Long =
    java.time.LocalDate.of(y, m, d).toEpochDay + 25569L
  private val NascLo = serial(1901, 6, 29)
  private val NascHi = serial(2095, 4, 11)
  private val CadLo = serial(2020, 7, 16)
  private val CadHi = serial(2023, 5, 25)

  /** CPF with valid check digits; the 9-digit base is a bijection of the
    * customer id (7919 is coprime with 10^9), so ids never collide. */
  def cpf(seed: Long, id: Long): String = {
    val base = Math.floorMod(id * 7919L + Math.floorMod(seed * 104729L, 1000000000L),
      1000000000L)
    val d = f"$base%09d".map(_ - '0').toArray
    def check(ds: Array[Int]): Int = {
      val w = ds.length + 1
      val r = ds.indices.map(i => ds(i) * (w - i)).sum % 11
      if (r < 2) 0 else 11 - r
    }
    val d1 = check(d)
    val d2 = check(d :+ d1)
    d.mkString + d1 + d2
  }

  def customer(seed: Long, id: Long): Customer = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (id * 0xBF58476D1CE4E5B9L))
    def pick[T](xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))
    def share(nullsPer1200: Int): Boolean = r.nextInt(1200) >= nullsPer1200
    val first = pick(First)
    val last = pick(Last)
    val ddd = 11 + r.nextInt(88)
    Customer(
      id = id,
      nome = s"$first $last",
      fantasia = if (r.nextInt(1200) == 0) Some(s"Loja $last") else None,
      cpfDigits = cpf(seed, id),
      nasc = if (share(479)) Some(NascLo + r.nextLong(NascHi - NascLo + 1)) else None,
      cadastro = (CadLo + r.nextLong(CadHi - CadLo + 1)).toDouble + r.nextInt(24) / 24.0,
      // 55 DDD 9XXXXXXXX / 55 DDD XXXXXXXX, as Excel stores them: numbers
      celular = if (share(135)) Some(5500000000000L + ddd * 1000000000L +
        900000000L + r.nextInt(100000000)) else None,
      telefone = if (share(448)) Some(550000000000L + ddd * 100000000L +
        30000000L + r.nextInt(60000000)) else None,
      email = if (share(33)) Some(
        java.text.Normalizer.normalize(first.toLowerCase, java.text.Normalizer.Form.NFD)
          .replaceAll("[^a-z]", "") + r.nextInt(100) + "@" + pick(Domains)) else None,
      endereco = if (share(2)) Some(pick(Streets)) else None,
      numero = if (r.nextInt(10) < 7) Left(1L + r.nextInt(2000))
               else Right(if (r.nextBoolean()) "S/N" else s"${1 + r.nextInt(999)}A"),
      complemento = if (share(75))
        Some(if (r.nextBoolean()) s"quadra ${r.nextInt(99)},lote ${r.nextInt(30)}"
             else s"apto ${100 + r.nextInt(900)}") else None,
      bairro = pick(Bairros),
      cep = if (share(1)) Some {
        val c = 10000000L + r.nextInt(89999999)
        if (r.nextBoolean()) Left(c) else Right(f"${c / 1000}%05d-${c % 1000}%03d")
      } else None,
      cidade = pick(Cidades),
      uf = pick(Estados),
      plan = r.nextInt(Plans.size),
      vencimento = 5 * (1 + r.nextInt(5)),
      status = if (r.nextInt(1200) < 115) "Ativo" else "Velocidade Reduzida",
      isento = if (r.nextInt(1200) < 6) Some("Sim") else None)
  }

  /** One sheet row: the customer and how its CPF is written. */
  final case class Row(c: Customer, cpfDigitsOnly: Boolean)

  /** What a correct import of a file must report, given which customers
    * the sink already holds. */
  final case class Expected(distinctCpfs: Int, newClientes: Int, contatos: Long)

  /** Rows for one file: `ids` customers in order, plus ~2 per 1,200
    * repeats of earlier rows (digits-only CPF, otherwise identical)
    * inserted at seeded positions, for `n` rows in total. */
  def fileRows(seed: Long, fileNo: Int, ids: IndexedSeq[Long], n: Int): IndexedSeq[Row] = {
    val dups = math.max(1, math.round(n * 2.0 / 1200).toInt)
    require(ids.size + dups == n, s"need ${n - dups} ids, got ${ids.size}")
    val r = new SplittableRandom(seed * 31 + fileNo)
    val out = mutable.ArrayBuffer.from(ids.map(id => Row(customer(seed, id), cpfDigitsOnly = false)))
    (0 until dups).foreach { _ =>
      val src = out(r.nextInt(out.size))
      out.insert(r.nextInt(out.size + 1), Row(src.c, cpfDigitsOnly = true))
    }
    out.toIndexedSeq
  }

  /** The paper-sized file's invariants: 1,200 rows carry 1,198 distinct
    * digit-stripped CPFs and all 16 (Plano, valor) pairs. */
  def selfCheck(rows: Seq[Row]): Unit = if (rows.size == 1200) {
    val cpfs = rows.map(r => (if (r.cpfDigitsOnly) r.c.cpfDigits else r.c.cpfFormatted)
      .filter(_.isDigit)).distinct.size
    val pairs = rows.map(r => Plans(r.c.plan)).distinct.size
    require(cpfs == 1198 && pairs == Plans.size,
      s"generator self-check: $cpfs distinct CPFs, $pairs (Plano, valor) pairs")
  }

  def expected(rows: Seq[Row], sinkCpfs: Long => Boolean): Expected = {
    val survivors = rows.map(_.c).distinctBy(_.id)
    Expected(survivors.size, survivors.count(c => !sinkCpfs(c.id)),
      survivors.map(_.contacts.toLong).sum)
  }

  /** Writes `rows` as a one-sheet workbook; returns the SHA-256 of the
    * uncompressed parts (zip timestamps fixed, so it also names the
    * bytes). */
  def write(path: Path, rows: Seq[Row]): String = {
    Files.createDirectories(path.getParent)
    val sst = mutable.LinkedHashMap.empty[String, Int]
    val sheet = new java.lang.StringBuilder(rows.size * 700)
    // absent cells are skipped, so every cell carries its reference
    def cells(rowNo: Int, values: Seq[Option[Either[Double, String]]]): Unit = {
      sheet.append(s"""<row r="$rowNo">""")
      values.zipWithIndex.foreach {
        case (Some(Right(v)), i) =>
          sheet.append(s"""<c r="${colName(i)}$rowNo" t="s"><v>${sst.getOrElseUpdate(v, sst.size)}</v></c>""")
        case (Some(Left(v)), i) =>
          val txt = if (v == math.rint(v)) v.toLong.toString else v.toString
          sheet.append(s"""<c r="${colName(i)}$rowNo"><v>$txt</v></c>""")
        case (None, _) =>
      }
      sheet.append("</row>")
    }
    def str(v: String) = Some(Right(v))
    def num(v: Double) = Some(Left(v))
    sheet.append("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
    sheet.append("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    cells(1, Headers.map(str))
    rows.zipWithIndex.foreach { case (Row(c, digitsOnly), i) =>
      val (plano, valor) = Plans(c.plan)
      cells(i + 2, Seq(str(c.nome), c.fantasia.map(Right(_)),
        str(if (digitsOnly) c.cpfDigits else c.cpfFormatted),
        c.nasc.map(d => Left(d.toDouble)), num(c.cadastro),
        c.celular.map(v => Left(v.toDouble)), c.telefone.map(v => Left(v.toDouble)),
        c.email.map(Right(_)), c.endereco.map(Right(_)),
        Some(c.numero.left.map(_.toDouble)), c.complemento.map(Right(_)),
        str(c.bairro), c.cep.map(_.left.map(_.toDouble)), str(c.cidade),
        str(c.uf), str(plano), num(valor.toDouble), num(c.vencimento.toDouble),
        str(c.status), c.isento.map(Right(_))))
    }
    sheet.append("</sheetData></worksheet>")
    val sheetXml = sheet.toString

    val sstXml = new java.lang.StringBuilder()
    sstXml.append("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
    sstXml.append(s"""<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${sst.size}" uniqueCount="${sst.size}">""")
    sst.keys.foreach(v => sstXml.append("<si><t>").append(xmlEscape(v)).append("</t></si>"))
    sstXml.append("</sst>")

    val parts = Seq(
      "[Content_Types].xml" ->
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/><Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/><Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/><Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/></Types>""",
      "xl/workbook.xml" ->
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="Planilha2" sheetId="1" r:id="rId1"/></sheets></workbook>""",
      "xl/_rels/workbook.xml.rels" ->
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/><Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/></Relationships>""",
      "xl/sharedStrings.xml" -> sstXml.toString,
      "xl/worksheets/sheet1.xml" -> sheetXml)

    val md = MessageDigest.getInstance("SHA-256")
    val zos = new ZipOutputStream(new BufferedOutputStream(new FileOutputStream(path.toFile), 1 << 16))
    try parts.foreach { case (name, content) =>
      val bytes = content.getBytes(UTF_8)
      md.update(name.getBytes(UTF_8))
      md.update(bytes)
      val e = new ZipEntry(name)
      e.setTime(315532800000L) // 1980-01-01: same bytes for the same seed
      zos.putNextEntry(e)
      zos.write(bytes)
      zos.closeEntry()
    } finally zos.close()
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def xmlEscape(v: String): String =
    v.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private def colName(i: Int): String =
    if (i < 26) ('A' + i).toChar.toString else colName(i / 26 - 1) + ('A' + i % 26).toChar
}
