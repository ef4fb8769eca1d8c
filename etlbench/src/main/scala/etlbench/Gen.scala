package etlbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.{Files, Path}
import java.util.Random
import scala.collection.mutable

/** Seeded input generators. Every byte they write is a function of the
  * seed alone (java.util.Random is specified bit-for-bit), so one seed
  * gives byte-identical files on any JVM. Each generator also returns,
  * and writes next to its inputs as `truth.json`, the facts the output
  * checks compare against.
  */
object Gen {
  val Latin1: Charset = StandardCharsets.ISO_8859_1

  val AneelHeader: String =
    "SigTipoGeracao;DscOrigemCombustivel;DscFonteCombustivel;DscFaseUsina;" +
    "DscTipoOutorga;IdcGeracaoQualificada;SigUFPrincipal;DscMuninicpios;CodCEG;" +
    "NomEmpreendimento;DscPropriRegimePariticipacao;DatEntradaOperacao;" +
    "MdaPotenciaOutorgadaKw;MdaPotenciaFiscalizadaKw;MdaGarantiaFisicaKw"

  private val tipos = Vector(
    ("UHE", "Hídrica", "Potencial hidráulico"), ("PCH", "Hídrica", "Potencial hidráulico"),
    ("CGH", "Hídrica", "Potencial hidráulico"), ("EOL", "Eólica", "Cinética do vento"),
    ("UFV", "Solar", "Radiação solar"), ("UTE", "Fóssil", "Gás natural"),
    ("UTE", "Biomassa", "Bagaço de cana"), ("UTE", "Fóssil", "Óleo diesel"),
    ("UTN", "Nuclear", "Urânio"))
  private val fases = Vector("Operação", "Construção", "Construção não iniciada")
  private val outorgas = Vector("Concessão", "Autorização", "Registro")
  private val idcs = Vector("S", "N", "")
  private val ufs = Vector("AC", "AL", "AM", "AP", "BA", "CE", "DF", "ES", "GO",
    "MA", "MG", "MS", "MT", "PA", "PB", "PE", "PI", "PR", "RJ", "RN", "RO", "RR",
    "RS", "SC", "SE", "SP", "TO")
  private val syll = Vector("ba", "ca", "ção", "da", "é", "fe", "gu", "ita", "já",
    "lo", "má", "no", "pó", "qua", "ri", "são", "tu", "vi", "xá", "zé")
  private val regimes = Vector("Produtor Independente de Energia",
    "Autoprodução de Energia", "Serviço Público", "Registro", "Privado")
  private val badDates = Vector("n/d", "2019-13-45", "31/12/2019", "2021-02-30T00:00:00", "")
  private val badNumbers = Vector("abc", "", "1,2,3", "--")

  private def word(r: Random, n: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < n) { sb ++= syll(r.nextInt(syll.size)); i += 1 }
    sb.setCharAt(0, sb.charAt(0).toUpper)
    sb.toString
  }

  /** Skewed index in [0, n): a few values are common, most are rare. */
  private def skewed(r: Random, n: Int): Int = {
    val u = r.nextDouble()
    math.min(n - 1, (n * u * u * u).toInt)
  }

  /** Zero-padded decimal digits, independent of the JVM locale. */
  def pad(n: Long, width: Int): String = {
    val d = n.toString
    "0" * math.max(0, width - d.length) + d
  }

  /** Brazilian-formatted number: thousands dots, decimal comma. */
  def brNumber(cents: Long): String = {
    val ip = (cents / 100).toString
    val grouped = ip.reverse.grouped(3).mkString(".").reverse
    s"$grouped,${pad(cents % 100, 2)}"
  }

  final case class AneelRow(gen: (String, String, String), status: (String, String, String),
                            loc: (String, String), ceg: String, nome: String, regime: String,
                            date: String, cents: Array[Long], raw: Array[String]) {
    def line: String = Seq(gen._1, gen._2, gen._3, status._1, status._2, status._3,
      loc._1, loc._2, ceg, nome, regime, date, raw(0), raw(1), raw(2)).mkString(";")
  }

  /** Dimension vocabularies scaled to a row count: about 1 generation
    * combo per 120 rows, 27 statuses, 1 location per 2 rows and 90%
    * distinct CodCEG — the cardinality shape of the ANEEL SIGA extract.
    */
  final class AneelVocab(r: Random, rows: Int) {
    val combos: Vector[(String, String, String)] = {
      val n = math.max(30, rows / 120)
      val seen = mutable.LinkedHashSet.empty[(String, String, String)]
      while (seen.size < n) {
        val (t, o, f) = tipos(r.nextInt(tipos.size))
        seen += ((t, o, s"$f ${word(r, 2)}"))
      }
      seen.toVector
    }
    val statuses: Vector[(String, String, String)] =
      for (f <- fases; o <- outorgas; i <- idcs) yield (f, o, i)
    val locations: Vector[(String, String)] = {
      val n = math.max(30, rows / 2)
      val seen = mutable.LinkedHashSet.empty[(String, String)]
      while (seen.size < n) seen += ((ufs(r.nextInt(ufs.size)), word(r, 3 + r.nextInt(2))))
      seen.toVector
    }
    val cegs: Vector[String] = Vector.tabulate(math.max(1, rows * 9 / 10))(i =>
      s"CEG.${i % 7}.${pad(i, 7)}")
    def name(r: Random): String = s"Usina ${word(r, 2 + r.nextInt(2))}"
    def regime(r: Random): String = regimes(r.nextInt(regimes.size))
  }

  /** A well-formed or, with probability `badRate`, malformed row. */
  private def aneelRow(r: Random, v: AneelVocab, ceg: String, badRate: Double,
                       combos: Vector[(String, String, String)],
                       statuses: Vector[(String, String, String)],
                       locations: Vector[(String, String)]): AneelRow = {
    val g = combos(skewed(r, combos.size))
    val s = statuses(r.nextInt(statuses.size))
    val l = locations(r.nextInt(locations.size))
    val bad = r.nextDouble() < badRate
    val badDate = bad && r.nextBoolean()
    val badNum = bad && !badDate
    val day = java.time.LocalDate.of(1950, 1, 1).plusDays(r.nextInt(27394))
    val date = if (badDate) badDates(r.nextInt(badDates.size)) else s"${day}T00:00:00"
    val cents = Array.fill(3)(r.nextInt(300000000).toLong)
    val raw = cents.map(brNumber)
    if (badNum) {
      val k = r.nextInt(3)
      cents(k) = 0L
      raw(k) = badNumbers(r.nextInt(badNumbers.size))
    }
    AneelRow(g, s, l, ceg, v.name(r), v.regime(r), date, cents, raw)
  }

  private def parseDay(date: String): Option[Int] =
    if (date.length >= 10 && date.substring(0, 10).matches("\\d{4}-\\d{2}-\\d{2}"))
      scala.util.Try(java.time.LocalDate.parse(date.substring(0, 10)).toEpochDay.toInt).toOption
    else None

  private def writeLines(p: Path, cs: Charset, lines: Iterator[String]): Unit = {
    Files.createDirectories(p.getParent)
    val w = new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(p), cs), 1 << 16)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  /** What the star built from an ANEEL file must contain. */
  final case class StarTruth(rows: Long, geracao: Int, status: Int, localizacao: Int,
                             empreendimento: Int, malformedDates: Long,
                             minDay: Int, maxDay: Int, sumCents: Vector[Long]) {
    def json: String = Json.obj(
      "rows" -> rows, "dim_geracao" -> geracao, "dim_status" -> status,
      "dim_localizacao" -> localizacao, "dim_empreendimento" -> empreendimento,
      "malformed_dates" -> malformedDates,
      "min_date" -> java.time.LocalDate.ofEpochDay(minDay).toString,
      "max_date" -> java.time.LocalDate.ofEpochDay(maxDay).toString,
      "measure_sums_cents" -> sumCents)
  }

  private def starTruth(rows: Seq[AneelRow]): StarTruth = {
    val days = rows.flatMap(r => parseDay(r.date))
    StarTruth(rows.size.toLong,
      rows.map(_.gen).distinct.size,
      rows.map(r => (r.status._1, r.status._2, if (r.status._3.isEmpty) "N/A" else r.status._3))
        .distinct.size,
      rows.map(_.loc).distinct.size,
      rows.map(_.ceg).distinct.size,
      rows.size.toLong - days.size, days.min, days.max,
      Vector.tabulate(3)(k => rows.iterator.map(_.cents(k)).sum))
  }

  private def aneelRows(r: Random, v: AneelVocab, rows: Int): Vector[AneelRow] =
    Vector.tabulate(rows) { i =>
      // 90% of rows take a fresh CodCEG; the rest repeat an earlier one
      val ceg = if (i < v.cegs.size) v.cegs(i) else v.cegs(r.nextInt(v.cegs.size))
      aneelRow(r, v, ceg, 0.02, v.combos, v.statuses, v.locations)
    }

  private def writeAneel(p: Path, rows: Seq[AneelRow], r: Random): Unit = {
    // file order is shuffled so repeated CodCEG are not adjacent
    val order = rows.indices.toArray
    var i = order.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t; i -= 1
    }
    writeLines(p, Latin1, Iterator(AneelHeader) ++ order.iterator.map(rows(_).line))
  }

  /** star_full input: one ANEEL CSV of `rows` rows (`aneel.csv`). */
  def starFull(dir: Path, seed: Long, rows: Int): StarTruth = {
    val r = new Random(seed)
    val v = new AneelVocab(r, rows)
    val data = aneelRows(r, v, rows)
    writeAneel(dir.resolve("aneel.csv"), data, r)
    val t = starTruth(data)
    writeLines(dir.resolve("truth.json"), StandardCharsets.UTF_8, Iterator(t.json))
    t
  }

  /** star_delta inputs: the base ANEEL CSV (`base.csv`, its truth in
    * `truth.json`), the event history of dim_empreendimento
    * (`emp_history.csv`), and, generated on demand and strictly in order,
    * one nightly batch per call to [[Delta.batch]].
    */
  final class Delta(dir: Path, seed: Long, baseRows: Int, val historyEnd: Int) {
    private val r = new Random(seed)
    private val v = new AneelVocab(r, baseRows)
    val basePath: Path = dir.resolve("base.csv")
    val historyPath: Path = dir.resolve("emp_history.csv")
    val base: Vector[AneelRow] = aneelRows(r, v, baseRows)
    writeAneel(basePath, base, r)
    val baseTruth: StarTruth = starTruth(base)
    writeLines(dir.resolve("truth.json"), StandardCharsets.UTF_8, Iterator(baseTruth.json))
    // batches draw known values from what the base really contains, so
    // only the planted new ones miss the stored dimensions
    private val baseGens = base.map(_.gen).distinct
    private val baseStatuses = base.map(_.status).distinct
    private val baseLocs = base.map(_.loc).distinct
    private val newCombos = Vector.fill(64)((tipos(0)._1, tipos(0)._2, s"Nova ${word(r, 3)}"))
      .filterNot(baseGens.toSet)
    private val newLocs = Vector.fill(64)(("SP", s"Novo ${word(r, 3)}")).filterNot(baseLocs.toSet)
    /** Current (name, regime) per key — the open SCD2 row. */
    private val current = mutable.LinkedHashMap.empty[String, (String, String)]
    /** Expected SCD2 rows and keys so far. */
    var scdRows = 0L
    val keys: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty[String]

    // history: 1-3 regime starts per key, every one changing the attrs,
    // all strictly before `historyEnd`
    writeLines(historyPath, Latin1,
      Iterator("CodCEG;ts;NomEmpreendimento;DscPropriRegimePariticipacao") ++
        base.map(_.ceg).distinct.iterator.flatMap { ceg =>
          keys += ceg
          var day = historyEnd - 400 - r.nextInt(3000)
          (0 until 1 + r.nextInt(3)).map { k =>
            val attrs = (s"${v.name(r)} $k", v.regime(r))
            current(ceg) = attrs
            scdRows += 1
            day += 1 + r.nextInt(100)
            s"$ceg;$day;${attrs._1};${attrs._2}"
          }
        })

    var factRows: Long = base.size.toLong
    val sumCents: Array[Long] = baseTruth.sumCents.toArray

    /** Batch `i` (from 1, strictly in order): about 1% of keys change,
      * 1 row in 10 is a brand-new key, 1 in 50 a new generation combo and
      * 1 in 50 a new location (those resolve to the -1 sentinel). Every
      * event is dated `historyEnd + i`, strictly after all history.
      */
    def batch(i: Int): BatchTruth = {
      val br = new Random(seed * 1000003L + i)
      val n = math.max(10, keys.size / 100)
      val picked = mutable.LinkedHashSet.empty[String]
      var newKeys = 0
      while (picked.size < n) {
        if (br.nextInt(10) == 0) {
          picked += s"NEW.${pad(i, 5)}.${pad(picked.size, 5)}"; newKeys += 1
        } else picked += keys(br.nextInt(keys.size))
      }
      var missGen, missLoc, changed = 0L
      val rows = picked.toVector.map { ceg =>
        val g = if (br.nextInt(50) == 0) { missGen += 1; newCombos } else baseGens
        val l = if (br.nextInt(50) == 0) { missLoc += 1; newLocs } else baseLocs
        val row = aneelRow(br, v, ceg, 0.0, g, baseStatuses, l)
        val keep = current.get(ceg).filter(_ => br.nextInt(5) < 2)
        val attrs = keep.getOrElse((row.nome, row.regime))
        if (!current.get(ceg).contains(attrs)) changed += 1
        if (!current.contains(ceg)) keys += ceg
        current(ceg) = attrs
        row.copy(nome = attrs._1, regime = attrs._2)
      }
      scdRows += changed
      factRows += rows.size
      for (k <- 0 until 3) sumCents(k) += rows.iterator.map(_.cents(k)).sum
      val p = dir.resolve(s"batch_${pad(i, 5)}.csv")
      writeLines(p, Latin1, Iterator(AneelHeader) ++ rows.iterator.map(_.line))
      BatchTruth(p, historyEnd + i, rows.size, newKeys, missGen, missLoc)
    }
  }

  final case class BatchTruth(path: Path, day: Int, rows: Int, newKeys: Int,
                              missingGeracao: Long, missingLocalizacao: Long)

  /** What curation must find in a generated corpus. Ids of originals are
    * smaller than the ids of their copies, so a min-id survivor rule keeps
    * the original. Near copies come in two kinds, each caught by one leg
    * of the dedup: `textNear` copies share almost all their text with the
    * original but not its embedding (only MinHash finds them), `embNear`
    * copies share the embedding but little text (only the semantic dedup
    * finds them).
    */
  final case class CorpusTruth(docs: Int, exactDups: Set[Long], textNear: Set[Long],
                               embNear: Set[Long], junk: Set[Long]) {
    def nearDups: Set[Long] = textNear ++ embNear
    def originals: Set[Long] = (1L to docs).toSet -- exactDups -- nearDups -- junk
    def json: String = Json.obj("docs" -> docs,
      "exact_dup_ids" -> exactDups.toVector.sorted,
      "text_near_dup_ids" -> textNear.toVector.sorted,
      "embedding_near_dup_ids" -> embNear.toVector.sorted,
      "low_quality_ids" -> junk.toVector.sorted)
  }

  /** llm_curate input: `corpus.jsonl`, one {"id","text","vec"} object per
    * line. Text is drawn from a Zipf vocabulary with English stopwords;
    * 5% of docs are verbatim copies; 5% are text-near copies (one token in
    * 40, at least one, replaced; the embedding moved to cosine ~0.9 of the
    * original's, outside a 0.99 semantic threshold); 5% are
    * embedding-near copies (half the tokens replaced; the embedding within
    * cosine ~0.9999 of the original's); 3% are short low-quality junk.
    */
  def corpus(dir: Path, seed: Long, docs: Int): CorpusTruth = {
    val r = new Random(seed)
    val vocab = Vector.tabulate(8000)(_ => word(r, 1 + r.nextInt(3)).toLowerCase)
    val stop = Vector("the", "a", "of", "and", "to")
    val zipf = {
      val w = Array.tabulate(vocab.size)(i => 1.0 / math.pow(i + 1, 1.1))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def token(): String =
      if (r.nextInt(5) == 0) stop(r.nextInt(stop.size))
      else {
        val i = java.util.Arrays.binarySearch(zipf, r.nextDouble())
        vocab(math.min(vocab.size - 1, if (i >= 0) i else -i - 1))
      }
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val nExact = docs / 20
    val nTextNear = docs / 20
    val nEmbNear = docs / 20
    val nJunk = docs * 3 / 100
    val nBase = docs - nExact - nTextNear - nEmbNear - nJunk
    val texts = new Array[String](docs)
    val vecs = new Array[Array[Float]](docs)
    val origin = Array.fill(docs)(-1) // the base doc a copy was made from
    for (i <- 0 until nBase) {
      texts(i) = Array.fill(30 + r.nextInt(60))(token()).mkString(" ")
      vecs(i) = unit(Array.fill(64)(r.nextGaussian().toFloat))
    }
    // a copy of a random base doc, `replaced(n)` of its n tokens redrawn
    // and each embedding component moved by Gaussian noise of `noise`
    def copy(i: Int, replaced: Int => Int, noise: Float): Unit = {
      val o = r.nextInt(nBase)
      origin(i) = o
      val toks = texts(o).split(' ')
      for (_ <- 0 until replaced(toks.length)) toks(r.nextInt(toks.length)) = token()
      texts(i) = toks.mkString(" ")
      vecs(i) = if (noise == 0f) vecs(o) else unit(vecs(o).map(x => x + noise * r.nextGaussian().toFloat))
    }
    val textNearAt = nBase + nExact
    val embNearAt = textNearAt + nTextNear
    val junkAt = embNearAt + nEmbNear
    for (i <- nBase until textNearAt) copy(i, _ => 0, 0f)
    for (i <- textNearAt until embNearAt) copy(i, n => math.max(1, n / 40), 0.06f)
    for (i <- embNearAt until junkAt) copy(i, n => n / 2, 0.002f)
    for (i <- junkAt until docs) {
      // one made-up word repeated: short and without diversity or stopwords
      val junk = "zq" + word(r, 2).toLowerCase
      texts(i) = Array.fill(3 + r.nextInt(4))(junk).mkString(" ")
      vecs(i) = unit(Array.fill(64)(r.nextGaussian().toFloat))
    }
    // ids are ranks of random keys, a copy's key drawn above its original's:
    // the ids depend on the seed, and an original's id is below its copies'
    val keys = new Array[Double](docs)
    for (i <- 0 until docs) keys(i) =
      if (origin(i) < 0) r.nextDouble() else keys(origin(i)) + (1 - keys(origin(i))) * r.nextDouble()
    val idOf = new Array[Long](docs)
    (0 until docs).sortBy(keys(_)).zipWithIndex.foreach { case (k, rank) => idOf(k) = rank + 1L }
    val ids = (i: Int) => idOf(i)
    val order = (0 until docs).toArray
    var i = docs - 1
    while (i > 0) {
      val j = r.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t; i -= 1
    }
    writeLines(dir.resolve("corpus.jsonl"), StandardCharsets.UTF_8, order.iterator.map { k =>
      val v = vecs(k).map(x => "%.5f".formatLocal(java.util.Locale.ROOT, x)).mkString("[", ",", "]")
      s"""{"id":${ids(k)},"text":${Json.str(texts(k))},"vec":$v}"""
    })
    def idsOf(from: Int, until: Int) = (from until until).map(ids(_)).toSet
    val t = CorpusTruth(docs, idsOf(nBase, textNearAt), idsOf(textNearAt, embNearAt),
      idsOf(embNearAt, junkAt), idsOf(junkAt, docs))
    writeLines(dir.resolve("truth.json"), StandardCharsets.UTF_8, Iterator(t.json))
    t
  }
}

/** Just enough JSON output for truth files, spans and the result line. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}: ${value(x)}" }.mkString("{", ", ", "}")
    case it: Iterable[_] => it.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, x) => s"${str(k)}: ${value(x)}" }.mkString("{", ", ", "}")
}
