package etlbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.Charset
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import scala.util.Random

/** Seeded generator of the three inputs `EtlMain.run` reads, in the
  * shapes of FIXTURES.md §A, plus an expected-totals manifest computed
  * row by row in plain Scala (no Spark), so the benchmark can check the
  * program's outputs against an independent model of the reference
  * rules:
  *
  *  - §A1 base: 32 `;`-separated columns, ISO-8859-1, day-first
  *    timestamps in mixed formats, NA tokens, a known number of
  *    malformed dates, and every status path including the
  *    cancelled-in-the-past-without-arrival ⇒ NO-SHOW precedence quirk,
  *    the exact 24 h late-cancel edge and post-hoc cancels;
  *  - §A2 price table: tab-separated with a non-canonical header
  *    (positional fallback), `R$`/thousands/comma money, accented and
  *    spaced key variants, and (procedure, insurer) pairs left unpriced;
  *  - §A3 occupancy table: doctor-name variants that collapse to one key
  *    after normalization, and a doctor with zero slots.
  *
  * The same seed gives byte-identical files and the same manifest.
  */
object Gen {

  /** The fixed `asOf` anchor every pass uses (noon, so a one-day extract
    * has both past and future appointments). */
  val AsOf: LocalDateTime = LocalDateTime.of(2024, 7, 1, 12, 0)
  val AsOfSql: String = "2024-07-01 12:00:00"

  /** Input size and the appointment-start window. */
  final case class Shape(rows: Int, firstDay: LocalDate, days: Int)

  final case class Inputs(base: Path, prices: Path, occupancy: Path)

  final case class Manifest(
      rows: Long,
      status: Map[String, Long],
      confirmed: Long,
      noShowConfirmed: Long,
      potentialCents: Long,
      realizedCents: Long,
      unmatchedPriceRows: Long,
      malformedDates: Long,
      baseBytes: Long) {
    def count(s: String): Long = status.getOrElse(s, 0L)
    def cancelled: Long = count("CANCELADO") + count("CANCELAMENTO_TARDIO")

    def toJson: String = {
      val st = Statuses.map(s => s""""$s": ${count(s)}""").mkString(", ")
      s"""{"rows": $rows, "status": {$st}, "confirmed": $confirmed, """ +
        s""""no_show_confirmed": $noShowConfirmed, "potential_cents": $potentialCents, """ +
        s""""realized_cents": $realizedCents, "unmatched_price_rows": $unmatchedPriceRows, """ +
        s""""malformed_dates": $malformedDates, "base_bytes": $baseBytes}"""
    }
  }

  val Statuses: Seq[String] =
    Seq("ATENDIDO", "NO-SHOW", "CANCELAMENTO_TARDIO", "CANCELADO", "AGENDADO")

  // ---- key domains (identical for every workload and seed) ----

  val Units: IndexedSeq[String] = IndexedSeq("Centro", "Jardim América",
    "São José", "Boa Vista", "Santa Luzia", "Vila Nova", "Piedade",
    "Madalena", "Graças", "Espinheiro").map("Unidade " + _)

  private val Stems = IndexedSeq(
    "Consulta" -> "Consulta", "Retorno" -> "Consulta",
    "Eletrocardiograma" -> "Exame", "Ecocardiograma" -> "Exame",
    "Ultrassonografia" -> "Exame", "Raio-X" -> "Exame",
    "Tomografia" -> "Exame", "Ressonância" -> "Exame",
    "Mamografia" -> "Exame", "Densitometria" -> "Exame",
    "Endoscopia" -> "Procedimento", "Colonoscopia" -> "Procedimento",
    "Hemograma" -> "Laboratório", "Glicemia" -> "Laboratório",
    "Audiometria" -> "Exame", "Espirometria" -> "Exame",
    "Fisioterapia" -> "Terapia", "Acupuntura" -> "Terapia",
    "Vacinação" -> "Procedimento", "Pequena Cirurgia" -> "Procedimento")
  private val Qualifiers = IndexedSeq("Cardiológica", "Pediátrica",
    "Ortopédica", "Ginecológica", "Clínica Geral")

  /** 100 procedures with their service category. */
  val Procedures: IndexedSeq[(String, String)] =
    for ((stem, cat) <- Stems; q <- Qualifiers) yield (s"$stem $q", cat)

  val Insurers: IndexedSeq[String] = IndexedSeq("Unimed", "Bradesco Saúde",
    "SulAmérica", "Amil", "Hapvida", "Particular")

  private val FirstNames = IndexedSeq("João", "Maria", "José", "Ana",
    "Antônio", "Francisca", "Luís", "Márcia", "Sérgio", "Cláudia", "Fábio",
    "Lúcia", "André", "Patrícia", "Rogério", "Vânia", "Otávio", "Cecília",
    "Flávio", "Inês")
  private val LastNames = IndexedSeq("Silva", "Araújo", "Gonçalves",
    "Conceição", "Magalhães", "Simões", "Brandão", "Assunção", "Falcão",
    "Guimarães", "Lemos", "Peixoto", "Queiroz", "Romão", "Tavares")

  /** 300 doctors, named as in the nominal base. */
  val Doctors: IndexedSeq[String] =
    for (f <- FirstNames; l <- LastNames)
      yield (if (f.endsWith("a")) "Dra. " else "Dr. ") + s"$f $l"

  private val Referrals = IndexedSeq("Google", "Instagram", "Indicação Médica",
    "Convênio", "Amigos", "Fachada")
  private val Users = IndexedSeq("recepcao01", "recepcao02", "callcenter",
    "portal", "app")

  /** Values no accepted date format parses; each counts once. */
  val MalformedDates: IndexedSeq[String] = IndexedSeq("32/01/2024 10:00",
    "15/13/2024 08:30", "2024-13-01 10:00:00", "sem registro", "00/00/0000")

  private val NaTokens = IndexedSeq("", "", "", " ", "NA", "N/A")
  private val Latin1 = Charset.forName("ISO-8859-1")

  /** Accent-free, upper-cased, space-padded spelling of a key: a
    * different string that the join's key normalization maps back to
    * the same key. */
  private def variant(s: String, r: Random): String = {
    val plain = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
      .replaceAll("\\p{M}", "")
    val cased = if (r.nextBoolean()) plain.toUpperCase else plain.toLowerCase
    val spaced = if (r.nextBoolean()) cased.replace(" ", "  ") else cased
    (if (r.nextBoolean()) " " else "") + spaced + (if (r.nextBoolean()) ". " else "")
  }

  private def p2(i: Int): String = if (i < 10) "0" + i else i.toString

  private def dayFirst(t: LocalDateTime): String =
    s"${p2(t.getDayOfMonth)}/${p2(t.getMonthValue)}/${t.getYear}"
  private def iso(t: LocalDateTime): String =
    s"${t.getYear}-${p2(t.getMonthValue)}-${p2(t.getDayOfMonth)}"
  private def hm(t: LocalDateTime): String = s"${p2(t.getHour)}:${p2(t.getMinute)}"

  /** A timestamp in one of the accepted day-first or ISO formats. */
  private def renderTs(t: LocalDateTime, r: Random): String = {
    val x = r.nextInt(20)
    if (x < 15) s"${dayFirst(t)} ${hm(t)}"
    else if (x < 17) s"${dayFirst(t)} ${hm(t)}:00"
    else s"${iso(t)} ${hm(t)}:00"
  }

  /** A date-only value (birth, registration), day-first or ISO. */
  private def renderDate(t: LocalDateTime, r: Random): String =
    if (r.nextInt(4) == 0) iso(t) else dayFirst(t)

  private def money(cents: Long, r: Random): String = {
    val reais = cents / 100
    val frac = p2((cents % 100).toInt)
    val grouped = reais.toString.reverse.grouped(3).mkString(".").reverse
    r.nextInt(5) match {
      case 0 => s"R$$ $grouped,$frac"
      case 1 => s"$reais,$frac"
      case 2 => s"$grouped,$frac"
      case 3 => s"R$$$reais,$frac"
      case _ => s"  $grouped,$frac "
    }
  }

  private def sha256Hex(s: String): String = {
    val d = MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  private def epoch(t: LocalDateTime): Long = t.toEpochSecond(ZoneOffset.UTC)

  /** Writes the three inputs under `dir` and returns them with the
    * manifest (also written to `dir/manifest.json`). */
  def generate(dir: Path, shape: Shape, seed: Long): (Inputs, Manifest) = {
    Files.createDirectories(dir)
    val r = new Random(seed)
    val asOf = epoch(AsOf)

    // §A2 price table: ~10% of (procedure, insurer) pairs unpriced
    val price = new Array[Long](Procedures.size * Insurers.size)
    val prices = dir.resolve("TabelaConvenio.txt")
    val pw = writer(prices)
    try {
      pw.write("PROCEDIMENTO\tCONVENIO\tVALOR\n")
      for (p <- Procedures.indices; c <- Insurers.indices) {
        if (r.nextInt(10) != 0) {
          val cents = 5000L + r.nextInt(250000)
          price(p * Insurers.size + c) = cents
          val proc = if (r.nextInt(3) == 0) variant(Procedures(p)._1, r) else Procedures(p)._1
          val conv = if (r.nextInt(3) == 0) variant(Insurers(c), r) else Insurers(c)
          pw.write(s"$proc\t$conv\t${money(cents, r)}\n")
        }
      }
    } finally pw.close()

    // §A3 occupancy: most doctors, 1-3 spellings each; doctor 0 has no slots
    val occupancy = dir.resolve("OcupacaoAgenda.csv")
    val ow = writer(occupancy)
    try {
      ow.write("Nome_Medico;qtde_horarios_disponiveis\n")
      ow.write(s"${Doctors(0)};0\n")
      for (d <- Doctors.indices.tail if r.nextInt(8) != 0; k <- 0 to r.nextInt(3)) {
        val name = if (k == 0) Doctors(d) else variant(Doctors(d), r)
        ow.write(s"$name;${10 + r.nextInt(190)}\n")
      }
    } finally ow.close()

    // §A1 base
    val base = dir.resolve("base_anonima_final.csv")
    val patients = Array.tabulate(math.max(1, shape.rows / 3))(i => s"pac-$seed-$i")
    val patientIds = new Array[String](patients.length)
    val status = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    var confirmed, noShowConfirmed, potential, realized, unmatched, malformed = 0L
    val firstDay = shape.firstDay.atStartOfDay()

    val bw = writer(base)
    try {
      bw.write(Columns.mkString(";") + "\n")
      val sb = new java.lang.StringBuilder(1024)
      for (_ <- 0 until shape.rows) {
        val unit = Units(r.nextInt(Units.size))
        val doc = r.nextInt(Doctors.size)
        val proc = r.nextInt(Procedures.size)
        val conv = r.nextInt(Insurers.size)
        val pat = r.nextInt(patients.length)
        if (patientIds(pat) == null) patientIds(pat) = sha256Hex(patients(pat))

        // appointment start: hours 5..21 cover every shift edge
        val inicio = firstDay.plusDays(r.nextInt(shape.days).toLong)
          .withHour(5 + r.nextInt(17)).withMinute(15 * r.nextInt(4))
        val past = epoch(inicio) < asOf
        val marcacao = inicio.minusDays(1L + r.nextInt(60)).withHour(7 + r.nextInt(12))
        var chegada, atendimento, fim, cancel: Option[LocalDateTime] = None
        val x = r.nextInt(100)
        if (past) {
          if (x < 62) { // attended
            val c = inicio.minusMinutes(r.nextInt(31).toLong)
            val a = inicio.plusMinutes(r.nextInt(51).toLong - 10)
            chegada = Some(c); atendimento = Some(a)
            if (r.nextInt(20) != 0) fim = Some(a.plusMinutes(10L + r.nextInt(51)))
          } else if (x < 77) () // plain no-show
          else if (x < 85) // cancelled, never came: NO-SHOW outranks CANCELADO
            cancel = Some(inicio.minusHours(1L + r.nextInt(100)))
          else if (x < 90) { // came, then cancelled after the start
            chegada = Some(inicio.minusMinutes(5))
            cancel = Some(inicio.plusHours(1L + r.nextInt(48)))
          } else if (x < 93) chegada = Some(inicio.minusMinutes(10))
          else {
            chegada = Some(inicio.minusMinutes(3))
            cancel = Some(inicio.minusHours(24L + r.nextInt(200)))
          }
        } else {
          if (x < 70) ()
          else if (x < 88) cancel = Some(inicio.minusHours(24L + r.nextInt(240)))
          else if (x < 90) cancel = Some(inicio.minusHours(24)) // exactly 24 h: not late
          else cancel = Some(inicio.minusMinutes(1L + r.nextInt(24 * 60 - 1)))
        }
        val confirmacao =
          if (r.nextInt(10) < 6) Some(inicio.minusHours(1L + r.nextInt(72))) else None
        val birth =
          if (r.nextInt(12) == 0) None
          else if (r.nextInt(10) == 0) { // age-band edges around asOf
            val age = IndexedSeq(12, 13, 17, 18, 39, 40, 59, 60)(r.nextInt(8))
            Some(AsOf.toLocalDate.minusYears(age.toLong).plusDays(r.nextInt(3) - 1L).atStartOfDay())
          } else Some(AsOf.toLocalDate.minusDays(r.nextInt(95 * 365).toLong).atStartOfDay())
        val registro =
          if (r.nextInt(10) < 3) marcacao.withHour(6) else marcacao.minusDays(1L + r.nextInt(900))

        // render the ten parsed date columns; a malformed value parses to null
        def date(v: Option[LocalDateTime], dateOnly: Boolean): (String, Option[LocalDateTime]) =
          v match {
            case None => (NaTokens(r.nextInt(NaTokens.size)), None)
            case Some(_) if r.nextInt(500) == 0 =>
              malformed += 1
              (MalformedDates(r.nextInt(MalformedDates.size)), None)
            case Some(t) => (if (dateOnly) renderDate(t, r) else renderTs(t, r), v)
          }
        val (sInicio, pInicio) = date(Some(inicio), dateOnly = false)
        val (sFinal, _) = date(Some(inicio.plusMinutes(30)), dateOnly = false)
        val (sMarc, _) = date(Some(marcacao), dateOnly = false)
        val (sBirth, _) = date(birth, dateOnly = true)
        val (sReg, _) = date(Some(registro), dateOnly = r.nextBoolean())
        val (sConf, pConf) = date(confirmacao, dateOnly = false)
        val (sCheg, pCheg) = date(chegada, dateOnly = false)
        val (sAtend, pAtend) = date(atendimento, dateOnly = false)
        val (sFim, _) = date(fim, dateOnly = false)
        val (sCanc, pCanc) = date(cancel, dateOnly = false)

        // the reference rules over the values the program will parse
        val ini = pInicio.map(epoch)
        val st =
          if (pAtend.isDefined) "ATENDIDO"
          else if (pCheg.isEmpty && ini.exists(_ < asOf)) "NO-SHOW"
          else if (pCanc.isDefined && ini.exists(i => i - epoch(pCanc.get) < 24 * 3600))
            "CANCELAMENTO_TARDIO"
          else if (pCanc.isDefined) "CANCELADO"
          else "AGENDADO"
        status(st) += 1
        if (pConf.isDefined) {
          confirmed += 1
          if (st == "NO-SHOW") noShowConfirmed += 1
        }
        val cents = price(proc * Insurers.size + conv)
        if (cents == 0) unmatched += 1
        potential += cents
        if (st == "ATENDIDO") realized += cents

        def na: String = NaTokens(r.nextInt(NaTokens.size))
        def opt(v: => String, pNull: Int): String = if (r.nextInt(100) < pNull) na else v
        val procName =
          if (r.nextInt(20) == 0) variant(Procedures(proc)._1, r).trim else Procedures(proc)._1
        val convName = if (r.nextInt(20) == 0) variant(Insurers(conv), r).trim else Insurers(conv)
        val cols = Array(
          unit, procName, Doctors(doc), patientIds(pat), convName,
          opt(money(5000L + r.nextInt(30000), r).trim.replace("R$", "").trim, 30),
          sInicio, sFinal, sMarc,
          IndexedSeq("A", "E", "C", "B")(r.nextInt(4)),
          Users(r.nextInt(Users.size)), Procedures(proc)._2,
          if (r.nextInt(50) == 0) "S" else "N",
          opt(if (r.nextBoolean()) "M" else "F", 8),
          sBirth, opt(Referrals(r.nextInt(Referrals.size)), 15), sReg,
          Users(r.nextInt(Users.size)),
          sConf, IndexedSeq("A", "N", "C")(r.nextInt(3)),
          if (confirmacao.isDefined) Users(r.nextInt(Users.size)) else na,
          opt("Executado", 50), opt(renderTs(inicio, r), 50),
          sCheg, chegada.map(c => renderTs(c.plusMinutes(2), r)).getOrElse(na),
          sAtend, sFim, if (atendimento.isDefined) "Finalizado" else na,
          sCanc, if (cancel.isDefined) Users(r.nextInt(Users.size)) else na,
          if (cancel.isDefined) "Cancelado" else na,
          if (cancel.isDefined) renderTs(inicio, r) else na)
        sb.setLength(0)
        var i = 0
        while (i < cols.length) {
          if (i > 0) sb.append(';')
          sb.append(cols(i))
          i += 1
        }
        sb.append('\n')
        bw.append(sb)
      }
    } finally bw.close()

    val m = Manifest(shape.rows.toLong, status.toMap, confirmed, noShowConfirmed,
      potential, realized, unmatched, malformed, Files.size(base))
    Files.write(dir.resolve("manifest.json"), (m.toJson + "\n").getBytes("UTF-8"))
    (Inputs(base, prices, occupancy), m)
  }

  private def writer(p: Path): BufferedWriter =
    new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(p), Latin1), 1 << 20)

  /** The §A1 32-column header, in order. */
  val Columns: Seq[String] = Seq(
    "Unidade", "Procedimento", "ID_Medico_Anon", "ID_Paciente_Anon", "Convenio",
    "Valor", "Agendamento Inicio", "Agendamento Final", "Data_Marcacao",
    "Status_Marcacao", "Usuario_Responsavel", "Categoria_Servico", "Bloqueio",
    "Pacientes_Sexo", "Pacientes_DataNascimento", "Pacientes_Indicacao",
    "Pacientes_DataRegistro", "Pacientes_UsuarioRegistrou",
    "Confirmacoes_Data_Confirmacao", "Confirmacoes_Status_Confirmacao",
    "Confirmacoes_Usuario_Confirmou", "Confirmacoes_Status_Execucao",
    "Confirmacoes_DataEHora_Atendimento", "Atendimentos_DataEHora_Chegada",
    "Atendimentos_DataEHora_Registro", "Atendimentos_DataEHora_Atendimento",
    "Atendimentos_DataEHora_Final", "Atendimentos_Status_Atendimento",
    "Cancelamentos_DataDeCancelamento", "Cancelamentos_Usuario_Cancelou",
    "Cancelamentos_Status_Execucao", "Cancelamentos_DataEHora_Atendimento")
}
