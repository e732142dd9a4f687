package perfbench

import java.io.{ByteArrayOutputStream, File}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.util.SplittableRandom
import java.util.zip.Deflater

/** Minimal text PDF writer: catalog, page tree, one Helvetica/WinAnsi font
  * and one FlateDecode content stream per page with one text show per
  * line — the shape simple PDF producers emit and the engine's extractor
  * reads. */
object Pdf {
  val LinesPerPage = 48

  def render(lines: Seq[String]): Array[Byte] = {
    val pages = lines.grouped(LinesPerPage).toVector
    val out = new ByteArrayOutputStream()
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
    def put(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    def obj(id: Int, body: String): Unit = { offsets += out.size(); put(s"$id 0 obj $body endobj\n") }
    val n = pages.size
    val fontId = 3 + 2 * n
    put("%PDF-1.4\n")
    obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    obj(2, s"<< /Type /Pages /Kids [${(0 until n).map(i => s"${3 + i} 0 R").mkString(" ")}] /Count $n >>")
    for (i <- 0 until n)
      obj(3 + i, s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 $fontId 0 R >> >> /Contents ${3 + n + i} 0 R >>")
    for ((page, i) <- pages.zipWithIndex) {
      val shows = page.zipWithIndex.map { case (l, j) =>
        (if (j == 0) "40 760 Td" else "0 -15 Td") + s" (${escape(l)}) Tj"
      }.mkString("BT\n/F1 9 Tf\n", "\n", "\nET")
      val data = deflate(shows.getBytes(ISO_8859_1))
      offsets += out.size()
      put(s"${3 + n + i} 0 obj << /Length ${data.length} /Filter /FlateDecode >> stream\n")
      out.write(data)
      put("\nendstream endobj\n")
    }
    obj(fontId, "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding /WinAnsiEncoding >>")
    val xref = out.size()
    put(s"xref\n0 ${offsets.size + 1}\n0000000000 65535 f \n")
    offsets.foreach(o => put(f"$o%010d 00000 n \n"))
    put(s"trailer << /Size ${offsets.size + 1} /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
    out.toByteArray
  }

  private def escape(s: String): String = s.flatMap {
    case c @ ('(' | ')' | '\\') => "\\" + c
    case c if c < 128 => c.toString
    case c => f"\\${c.toInt}%03o"
  }

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(data); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }
}

object Files2 {
  def write(f: File, bytes: Array[Byte], mtimeMs: Long): Long = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, bytes)
    Files.setLastModifiedTime(f.toPath, FileTime.fromMillis(mtimeMs))
    bytes.length.toLong
  }

  def deleteTree(f: File): Unit = if (f.exists()) {
    val p = f.toPath
    val all = new java.util.ArrayList[Path]()
    Files.walk(p).forEach(x => all.add(x))
    all.sort(java.util.Comparator.reverseOrder[Path]())
    all.forEach(x => Files.deleteIfExists(x))
  }

  def copyTree(from: File, to: File): Unit =
    Files.walk(from.toPath).forEach { src =>
      val dst = to.toPath.resolve(from.toPath.relativize(src))
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst, java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    }

  /** (relative path → (bytes, mtime)) of every regular file under `root`. */
  def listing(root: File): Map[String, (Long, Long)] =
    if (!root.exists()) Map.empty
    else {
      val b = Map.newBuilder[String, (Long, Long)]
      Files.walk(root.toPath).filter(Files.isRegularFile(_)).forEach { p =>
        b += root.toPath.relativize(p).toString ->
          (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }
      b.result()
    }
}

/** A merchant line template and the category the engine's BB rule table
  * assigns to it (first match wins, then the fallback cascade). `credit`
  * flips the sign: a payment or refund on a bill, a credit on a statement. */
final case class Merchant(text: String, categoria: String, credit: Boolean = false)

object Vocab {
  val merchants: Vector[Merchant] = Vector(
    Merchant("UBER *TRIP HELP.UBER.COM", "Transporte"),
    Merchant("IFD*RESTAURANTE SABOR", "Alimentação"),
    Merchant("RAPPI*LANCHES", "Alimentação"),
    Merchant("SUPERMERCADO PINHEIRO", "Mercado"),
    Merchant("MERCADOLIVRE*LOJA OFICIAL", "Compras"),
    Merchant("LOJA CENTRAL PARC 03/10", "Compras"),
    Merchant("OPENAI *CHATGPT SUBSCR", "Assinaturas"),
    Merchant("GOOGLE *YOUTUBE PREMIUM", "Assinaturas"),
    Merchant("AMAZON MARKETPLACE", "Assinaturas"),
    Merchant("POSTO SOBRAL E PALACIO", "Transporte"),
    Merchant("ITC PARKING SHOPPING", "Transporte"),
    Merchant("RIOMAR FORTALEZA CINEMA", "Lazer"),
    Merchant("PODIUM BT ARENA", "Lazer"),
    Merchant("WELLHUB GYMPASS", "Saúde"),
    Merchant("UDEMY CURSO ONLINE", "Educação"),
    Merchant("TOKIO MARINE AUTO", "Seguros"),
    Merchant("TARIFA PACOTE SERVICOS", "Financeiro"),
    Merchant("ANUIDADE DIFERENCIADA", "Financeiro"),
    Merchant("MERCADO PAGO *VENDEDOR", "Financeiro"),
    Merchant("PAGAMENTO DE BOLETO CONDOMINIO", "Financeiro", credit = true),
    Merchant("ESTORNO COMPRA", "Financeiro", credit = true),
    Merchant("NETFLIX.COM", "Outros"),
    Merchant("FARMACIA PAGUE MENOS", "Outros"),
    Merchant("PADARIA PAO DOURADO", "Outros"),
    Merchant("PIX RECEBIDO CLIENTE", "Outros", credit = true))

  val formsCategories: Vector[String] =
    Vector("1. Alimentação", "2. Moradia", "3. Lazer", "4. Saúde")

  val formsItems: Vector[String] =
    Vector("Feira, frutas e verduras", "Conta de agua", "Cinema", "Remedios")

  val kinds: Vector[String] =
    Vector("fatura_bb", "extrato_bb", "fatura_bradesco", "extrato_bradesco")

  def folder(kind: String): (String, String) = kind match {
    case "fatura_bb" => ("bb", "faturas")
    case "extrato_bb" => ("bb", "extratos")
    case "fatura_bradesco" => ("bradesco", "faturas")
    case "extrato_bradesco" => ("bradesco", "extratos")
  }

  /** pt-BR money rendering of a non-negative amount in cents: 1.234,56 */
  def brl(cents: Long): String = {
    val r = java.text.NumberFormat.getIntegerInstance(java.util.Locale.ROOT)
      .format(cents / 100).replace(',', '.')
    f"$r,${cents % 100}%02d"
  }
}

/** One generated transaction: `key` is the engine-side trusted key
  * (`kind:descricao`), `cents` the signed amount the parser must yield. */
final case class Txn(kind: String, descricao: String, competencia: String,
    day: Int, cents: Long, categoria: String, versionMs: Long) {
  def key: String = s"$kind:$descricao"
}

/** Document renderers: the lines of one bill or statement holding `txns`,
  * in the line formats of the four BB/Bradesco families. */
object Docs {
  private val holder = "SERGIO MAIA RAULINO"

  def lines(kind: String, txns: Seq[Txn]): Seq[String] = {
    def ddmm(t: Txn) = f"${t.day}%02d/${t.competencia.substring(5)}"
    def yyyy(t: Txn) = t.competencia.substring(0, 4)
    kind match {
      case "fatura_bb" =>
        Seq("OUROCARD VISA INFINITE", s"$holder (Cartão 4821)") ++ txns.map { t =>
          val v = if (t.cents < 0) "-" + Vocab.brl(-t.cents) else Vocab.brl(t.cents)
          s"${ddmm(t)} ${t.descricao}${if (t.day % 3 == 0) " BR" else ""} R$$ $v"
        }
      case "extrato_bb" =>
        Seq(s"Cliente $holder", "Agência: 4041-X Conta: 18506-X", "Pix - Enviado") ++
          txns.zipWithIndex.map { case (t, i) =>
            val sign = if (t.cents < 0) "-" else "+"
            f"${ddmm(t)}/${yyyy(t)} ${10000 + i % 90000}%05d ${100000 + i}%06d ${t.descricao} " +
              s"${Vocab.brl(math.abs(t.cents))} ($sign)"
          }
      case "fatura_bradesco" =>
        Seq("Fatura Mensal Bradesco", s"$holder Cartão 4066 XXXX XXXX 9953") ++ txns.map { t =>
          val v = if (t.cents < 0) Vocab.brl(-t.cents) + "-" else Vocab.brl(t.cents)
          s"${ddmm(t)} ${t.descricao} $v"
        }
      case "extrato_bradesco" =>
        Seq("Extrato de: Conta Corrente") ++ txns.zipWithIndex.map { case (t, i) =>
          val sign = if (t.cents < 0) "- " else ""
          f"${ddmm(t)}/${yyyy(t).substring(2)} ${t.descricao} ${2000000 + i}%07d " +
            s"$sign${Vocab.brl(math.abs(t.cents))}"
        }
    }
  }

  /** Landing path in the `01_clientes/<client>/01_bancos/<bank>/<doc_type>/<yyyy>/<mm>/` convention. */
  def landingFile(root: File, client: String, kind: String, competencia: String,
      name: String): File = {
    val (bank, docType) = Vocab.folder(kind)
    new File(root, s"01_clientes/$client/01_bancos/$bank/$docType/" +
      s"${competencia.substring(0, 4)}/${competencia.substring(5)}/$name.pdf")
  }
}

/** Ground truth of one incremental batch over the history. */
final case class MedallionTruth(
    lines: Long,                  // transaction rows the batch lands (PDF lines + forms rows)
    landedBytes: Long,            // bytes of the history's documents plus the batch's
    corrections: Seq[Txn],        // restated history rows the batch carries
    latest: Map[String, Txn]) {   // key → latest version (the one-shot answer)
  /** competência → categoria → cents over the latest versions. */
  def totals: Map[String, Map[String, Long]] =
    latest.values.groupBy(_.competencia).map { case (m, ts) =>
      m -> ts.groupBy(_.categoria).map { case (c, xs) => c -> xs.map(_.cents).sum }
    }
}

/** Seeded transaction stream. */
final class TxnGen(seed: Long) {
  private val rnd = new SplittableRandom(seed)
  private var nextCode = 1000000L + (seed & 0xffff) * 100

  def txn(kind: String, competencia: String, day: Int, versionMs: Long): Txn = {
    val m = Vocab.merchants(rnd.nextInt(Vocab.merchants.size))
    val amount = 100L + rnd.nextInt(150000)
    // bills carry purchases positive; statements carry purchases as debits
    val purchaseSign = if (kind.startsWith("fatura")) 1 else -1
    val cents = amount * purchaseSign * (if (m.credit) -1 else 1)
    nextCode += 1
    Txn(kind, s"${m.text} $nextCode", competencia, day, cents, m.categoria, versionMs)
  }

  def restate(t: Txn, versionMs: Long): Txn = {
    val delta = 1L + rnd.nextInt(5000)
    t.copy(cents = t.cents + (if (t.cents < 0) -delta else delta), versionMs = versionMs)
  }

  /** One forms CSV in the export's quirky header layout (two header
    * names hold newlines, CRLF rows, quoted BRL values): `rows` expenses
    * submitted on `day`, due in that day's competência. */
  def forms(day: Int, rows: Int): (Array[Byte], Seq[Txn]) = {
    val competencia = Dates.competencia(day)
    val (yyyy, mm) = (competencia.substring(0, 4), competencia.substring(5))
    val dd = f"${Dates.dayOfMonth(day)}%02d"
    val sb = new StringBuilder
    sb ++= "Carimbo de data/hora,LANÇAMENTO FEITO POR:,DATA DO PAGAMENTO,\"VENCIMENTO\nColocar " +
      "sempre o mês da prestação de conta\",DESCRIÇÃO,\"Valor:\nExemplo: R$40,00\",TIPO DE CUSTO,CATEGORIA\r\n"
    val txns = (0 until rows).map { i =>
      val c = rnd.nextInt(Vocab.formsCategories.size)
      val cents = 100L + rnd.nextInt(50000)
      nextCode += 1
      val desc = s"${Vocab.formsItems(c)} $nextCode"
      val hh = f"${8 + i % 12}%02d"
      sb ++= s"$dd/$mm/$yyyy $hh:15:00,Valesca,$dd/$mm/$yyyy,01/$mm/$yyyy," +
        "\"" + desc + "\",\"R$ " + Vocab.brl(cents) + "\",Variavel," + Vocab.formsCategories(c) + "\r\n"
      val ver = java.time.LocalDate.parse(s"$yyyy-$mm-$dd").atTime(8 + i % 12, 15)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      Txn("forms", desc, competencia, Dates.dayOfMonth(day), cents, Vocab.formsCategories(c), ver)
    }
    (sb.toString.getBytes(UTF_8), txns)
  }

  def nextInt(n: Int): Int = rnd.nextInt(n)
}

object Dates {
  val Epoch: java.time.LocalDate = java.time.LocalDate.of(2025, 1, 1)
  def competencia(day: Int): String = {
    val d = Epoch.plusDays(day.toLong)
    f"${d.getYear}%04d-${d.getMonthValue}%02d"
  }
  def dayOfMonth(day: Int): Int = math.min(28, Epoch.plusDays(day.toLong).getDayOfMonth)
  /** Landing time of day `day`'s documents: 22:00 UTC that day. */
  def versionMs(day: Int): Long =
    Epoch.plusDays(day.toLong).atTime(22, 0).toInstant(java.time.ZoneOffset.UTC).toEpochMilli
}

/** Incremental input: a history of `historyDays` daily loads (loaded into
  * the trusted table during set-up; its documents are rendered only to
  * size the landed bytes) and `batches` daily landings after it. Each
  * batch lands one single-page PDF per family with `rowsPerDoc` new
  * transactions, one forms CSV with `formsRows` rows, and
  * `correctionsPerBatch` lines that re-state a history transaction of the
  * same family and competência at the batch's newer version. */
object IncrementalGen {
  final case class Size(historyDays: Int, rowsPerDoc: Int, formsRows: Int, batches: Int,
      correctionsPerBatch: Int)

  val Client = "cruz_raulino_familia"

  final case class Batch(day: Int, pdfs: Seq[(String, Array[Byte])], forms: Array[Byte],
      formsRows: Int, txns: Seq[Txn], corrections: Seq[Txn]) {
    def bytes: Long = pdfs.map(_._2.length.toLong).sum + forms.length
    def lines: Long = txns.size.toLong + corrections.size
    def versionMs: Long = Dates.versionMs(day)
    def competencia: String = Dates.competencia(day)
  }

  final case class Input(history: Seq[Txn], historyBytes: Long, batches: Seq[Batch]) {
    def truth(b: Batch): MedallionTruth = {
      val latest = scala.collection.mutable.HashMap.empty[String, Txn]
      history.foreach(t => latest(t.key) = t)
      (b.txns ++ b.corrections).foreach(t => latest(t.key) = t)
      MedallionTruth(b.lines, historyBytes + b.bytes, b.corrections, latest.toMap)
    }
  }

  def generate(seed: Long, size: Size): Input = {
    val g = new TxnGen(seed)
    def dayTxns(day: Int, kind: String) =
      (0 until size.rowsPerDoc).map(_ =>
        g.txn(kind, Dates.competencia(day), Dates.dayOfMonth(day), Dates.versionMs(day)))
    var historyBytes = 0L
    val history = (0 until size.historyDays).flatMap { day =>
      Vocab.kinds.flatMap { kind =>
        val ts = dayTxns(day, kind)
        historyBytes += Pdf.render(Docs.lines(kind, ts)).length
        ts
      }
    }
    val byMonthKind = history.groupBy(t => (t.competencia, t.kind))
    val batches = (0 until size.batches).map { i =>
      val day = size.historyDays + i
      val fresh = Vocab.kinds.map(k => k -> dayTxns(day, k)).toMap
      val picked = scala.collection.mutable.HashSet.empty[String]
      val corrections = (0 until size.correctionsPerBatch).flatMap { c =>
        val kind = Vocab.kinds(c % Vocab.kinds.size)
        // a history row of the batch's competência, each key once a batch
        val pool = byMonthKind.getOrElse((Dates.competencia(day), kind), Vector.empty)
          .filterNot(t => picked(t.key))
        if (pool.isEmpty) None
        else {
          val t = pool(g.nextInt(pool.size))
          picked += t.key
          Some(g.restate(t, Dates.versionMs(day)))
        }
      }
      val pdfs = Vocab.kinds.map(k => k -> Pdf.render(Docs.lines(k, fresh(k) ++ corrections.filter(_.kind == k))))
      val (forms, formsTxns) = g.forms(day, size.formsRows)
      Batch(day, pdfs, forms, formsTxns.size, fresh.values.flatten.toSeq ++ formsTxns, corrections)
    }
    Input(history, historyBytes, batches)
  }

  /** Land a batch: its PDFs in the landing tree and its forms CSV in the
    * client's forms folder, each with the batch's mtime. */
  def land(root: File, b: Batch): Unit = {
    b.pdfs.foreach { case (kind, pdf) =>
      Files2.write(Docs.landingFile(root, Client, kind, b.competencia, f"${kind}_d${b.day}%04d"),
        pdf, b.versionMs)
    }
    Files2.write(new File(root, f"02_forms/$Client/forms_gastos_compartilhados_d${b.day}%04d.csv"),
      b.forms, b.versionMs)
  }
}

/** Curation corpus: documents with planted exact-duplicate families,
  * near-duplicate pairs, low-quality documents and query contamination,
  * plus 64-d embeddings (one per document of the embedded prefix) with
  * planted clusters, a labeled seed set and planted semantic copies. */
object CurationGen {
  final case class Size(docs: Int, exactFamilies: Int, nearPairs: Int, lowQuality: Int,
      queries: Int, embedded: Int, clusters: Int, seedEvery: Int)

  final case class Truth(docs: Long, inputBytes: Long,
      exactFamilies: Seq[Seq[Long]], nearPairs: Seq[(Long, Long)],
      lowQuality: Seq[Long], contaminated: Seq[Long])

  val Dim = 64
  private val stop = Vector("the", "a", "of", "and", "to", "in", "is")

  def generate(dir: File, seed: Long, s: Size): Truth = {
    val rnd = new SplittableRandom(seed * 31 + 7)
    val vocab = (0 until 4000).map(i => s"w${Integer.toString(i * 7919 % 100003, 36)}").toVector
    val rare = (0 until 400).map(i => s"q${Integer.toString(i * 104729 % 1000003, 36)}x").toVector
    def sentence(n: Int): Vector[String] = Vector.fill(n)(
      if (rnd.nextInt(4) == 0) stop(rnd.nextInt(stop.size)) else vocab(rnd.nextInt(vocab.size)))
    val texts = scala.collection.mutable.LinkedHashMap.empty[Long, String]
    var id = 0L
    def add(t: String): Long = { id += 1; texts(id) = t; id }

    val queries = (0 until s.queries).map(_ => Vector.fill(12)(rare(rnd.nextInt(rare.size))).mkString(" "))
    val contaminated = queries.map(q => add((sentence(60) ++ q.split(' ') ++ sentence(60)).mkString(" ")))
    val exactFamilies = (0 until s.exactFamilies).map { _ =>
      val base = sentence(90 + rnd.nextInt(60))
      val a = add(base.mkString(" "))
      val copies = (0 until 1 + rnd.nextInt(2)).map { c =>
        add((if (c == 0) base.map(_.toUpperCase) else base).mkString(if (c == 0) " " else "  "))
      }
      a +: copies
    }
    val nearPairs = (0 until s.nearPairs).map { _ =>
      val base = sentence(100 + rnd.nextInt(60))
      val edited = base.map(w => if (rnd.nextInt(50) == 0) vocab(rnd.nextInt(vocab.size)) else w)
      (add(base.mkString(" ")), add(edited.mkString(" ")))
    }
    val lowQuality = (0 until s.lowQuality).map(_ =>
      add(Vector.fill(6)(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    while (id < s.docs) add(sentence(80 + rnd.nextInt(90)).mkString(" "))

    // shuffle ids so planted families are spread over the corpus
    val order = texts.keys.toArray
    for (i <- order.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
    }
    val newId = order.zipWithIndex.map { case (old, i) => old -> (i + 1).toLong }.toMap

    val docsOut = new StringBuilder
    order.foreach { old =>
      docsOut ++= s"""{"doc_id":${newId(old)},"text":"${texts(old)}"}\n"""
    }
    var bytes = write(new File(dir, "docs/part-0.jsonl"), docsOut.toString)
    bytes += write(new File(dir, "queries/part-0.jsonl"),
      queries.zipWithIndex.map { case (q, i) => s"""{"query_id":${i + 1},"text":"$q"}""" }.mkString("", "\n", "\n"))

    // embeddings: cluster centers; every `seedEvery`-th vector is a labeled
    // seed; clusters with an odd index are low quality ("lq")
    val centers = Vector.fill(s.clusters)(unit(Array.fill(Dim)(rnd.nextGaussian().toFloat)))
    val embOut = new StringBuilder
    val embedded = math.min(s.embedded, s.docs)
    var prev: Array[Float] = null
    for (v <- 1 to embedded) {
      val c = rnd.nextInt(s.clusters)
      // every 50th vector is a near copy of the previous one (a semantic duplicate)
      val e =
        if (v % 50 == 0 && prev != null) unit(prev.map(x => x + 0.002f * rnd.nextGaussian().toFloat))
        else unit(centers(c).map(x => x + 0.06f * rnd.nextGaussian().toFloat))
      prev = e
      val label = if (nearestCenter(e, centers) % 2 == 1) "lq" else "hq"
      val seedFlag = v % s.seedEvery == 0
      embOut ++= s"""{"vec_id":$v,"seed":$seedFlag,"label":"$label","embedding":[${e.map(x => f"$x%.5f").mkString(",")}]}"""
      embOut += '\n'
    }
    bytes += write(new File(dir, "embeddings/part-0.jsonl"), embOut.toString)
    Truth(texts.size.toLong, bytes,
      exactFamilies.map(_.map(newId)), nearPairs.map { case (a, b) => (newId(a), newId(b)) },
      lowQuality.map(newId), contaminated.map(newId))
  }

  private def write(f: File, s: String): Long =
    Files2.write(f, s.getBytes(UTF_8), System.currentTimeMillis())

  private def unit(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / n)
  }

  private def nearestCenter(e: Array[Float], cs: Vector[Array[Float]]): Int =
    cs.indices.maxBy(i => cs(i).indices.map(j => cs(i)(j) * e(j)).sum)
}
