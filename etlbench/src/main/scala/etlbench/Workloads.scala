package etlbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Graft, Pipelines}
import graft.functions.naIfEmpty
import graft.operators.{Components, Dedup, Merge, Similarity, TextAnalysis}
import graft.sources.Formats
import graft.star.{FactBuilder, Scd2, StarSchemaJob}

/** What a workload needs from the harness. */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long) {
  def span[A](name: String)(body: => A): A = tracer.span(name)(body)
  /** A session of its own with the library's tuning, the way every entry
    * point of the library starts.
    */
  def tunedSession(): SparkSession = Graft.tune(spark.newSession())
}

/** One benchmark workload. The harness calls [[generate]] once (untimed),
  * [[setup]] (timed, repeated; the last one is the state the loop runs
  * on), then for every closed-loop iteration [[prepare]] (untimed),
  * [[job]] (timed: the whole user-visible operation, with its outputs
  * written), [[checks]] (untimed) and [[cleanup]] (untimed).
  */
trait Workload {
  /** Write the seeded input files into `dir`. */
  def generate(dir: Path): Unit
  /** The program's work before the first job: open a tuned session and
    * prepare, under `state`, what the jobs start from.
    */
  def setup(state: Path): Unit
  /** Untimed jobs before the timed loop, until JIT compilation settles. */
  def warmupJobs: Int = 2
  /** Per-layer metrics only this workload has, as (name, unit). */
  def ownLayerMetrics: Seq[(String, String)] = Nil
  def prepare(i: Int): Unit = ()
  def job(i: Int): Unit
  /** Named pass/fail output checks of iteration `i`. */
  def checks(i: Int): Seq[(String, Boolean)]
  def cleanup(i: Int): Unit = ()
  /** On-disk bytes the job is given, the base of scan amplification. */
  def inputBytes: Long
  /** Extra per-layer measurements of a traced iteration, taken outside
    * the timed job.
    */
  def profile(i: Int): Map[String, Double] = Map.empty
}

object Workloads {
  val names: Seq[String] = Seq("star_full", "star_delta", "llm_curate")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "star_full" => new StarFull(ctx, rows = 15000)
    case "star_delta" => new StarDelta(ctx, baseRows = 5000)
    case "llm_curate" => new LlmCurate(ctx, docs = 6000)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else if (Files.isRegularFile(p)) Files.size(p)
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  /** Data rows of every part file of a CSV table the job wrote. */
  def csvRows(dir: Path): Seq[Array[String]] = {
    val s = Files.list(dir)
    val parts = try s.iterator.asScala.filter(_.getFileName.toString.startsWith("part-"))
      .toSeq.sortBy(_.toString) finally s.close()
    parts.flatMap(p => Files.readAllLines(p, Gen.Latin1).asScala.drop(1)
      .map(_.split(";", -1)))
  }

  /** "1234,56" (the fact's decimal-comma format) to cents; empty is 0. */
  def cents(s: String): Long =
    if (s.isEmpty) 0L else math.round(s.replace(',', '.').toDouble * 100)
}

/** The reference job: one ANEEL CSV to five dimension CSVs and one fact
  * CSV, rebuilt from scratch each iteration.
  */
final class StarFull(ctx: Ctx, rows: Int) extends Workload {
  import Workloads._
  private var spark: SparkSession = _
  private var csv: Path = _
  private var state: Path = _
  private var truth: Gen.StarTruth = _
  private def out(i: Int) = state.resolve(s"out_$i")
  private val dimNames = Seq("dim_geracao", "dim_status", "dim_localizacao",
    "dim_empreendimento", "dim_tempo")

  def generate(d: Path): Unit = { csv = d.resolve("aneel.csv"); truth = Gen.starFull(d, ctx.seed, rows) }

  /** The reference job keeps no state between runs: its set-up is the
    * session and the source, whose header `readSource` reads to name the
    * columns.
    */
  def setup(s: Path): Unit = {
    state = s
    spark = ctx.tunedSession()
    val cols = StarSchemaJob.readSource(spark, csv.toString).columns
    require(cols.sameElements(Gen.AneelHeader.split(";")), s"unexpected header ${cols.mkString(";")}")
  }

  def inputBytes: Long = Files.size(csv)

  /** Its short jobs were still getting faster by 5-10% a job after two. */
  override def warmupJobs: Int = 4

  def job(i: Int): Unit = {
    val src = ctx.span("sources.read")(StarSchemaJob.readSource(spark, csv.toString))
    val star = ctx.span("star.build")(StarSchemaJob.build(src))
    val dims = Seq(star.dimGeracao, star.dimStatus, star.dimLocalizacao,
      star.dimEmpreendimento, star.dimTempo)
    dimNames.zip(dims).foreach { case (n, df) =>
      ctx.span("star.write_csv")(StarSchemaJob.writeCsv(df, out(i).resolve(n).toString))
    }
    ctx.span("star.fact_write") {
      StarSchemaJob.writeCsv(StarSchemaJob.formatFactForCsv(star.fato),
        out(i).resolve("fato_geracao").toString)
    }
    ctx.span("star.release")(star.release())
  }

  def checks(i: Int): Seq[(String, Boolean)] = {
    val tables = (dimNames :+ "fato_geracao").map(n => n -> csvRows(out(i).resolve(n))).toMap
    val fato = tables("fato_geracao")
    def keys(t: String) = tables(t).map(_(0).toLong).toSet
    val fkSets = Seq(0 -> keys("dim_geracao"), 1 -> keys("dim_status"),
      2 -> keys("dim_localizacao"))
    val tempo = tables("dim_tempo").map(r => java.time.LocalDate.parse(r(1)).toEpochDay).sorted
    Seq(
      "six tables written" -> (tables.size == 6 && tables.forall(_._2.nonEmpty)),
      "fact rows == input rows" -> (fato.size == truth.rows),
      "no -1 foreign key" -> fato.forall(r => r(0) != "-1" && r(1) != "-1" && r(2) != "-1"),
      "every foreign key is in its dimension" ->
        fkSets.forall { case (c, ks) => fato.forall(r => ks.contains(r(c).toLong)) },
      "FK_DataOperacao = 0 count == planted malformed dates" ->
        (fato.count(_(4) == "0") == truth.malformedDates),
      "measure sums == generated sums" -> (0 until 3).forall(k =>
        fato.iterator.map(r => cents(r(5 + k))).sum == truth.sumCents(k)),
      "dimension sizes == distinct generated keys" -> (
        tables("dim_geracao").size == truth.geracao &&
        tables("dim_status").size == truth.status &&
        tables("dim_localizacao").size == truth.localizacao &&
        tables("dim_empreendimento").size == truth.empreendimento),
      "dim_tempo is contiguous over the valid dates" -> (tempo.nonEmpty &&
        tempo.head == truth.minDay && tempo.last == truth.maxDay &&
        tempo.size == truth.maxDay - truth.minDay + 1 &&
        tempo.zip(tempo.tail).forall { case (a, b) => b == a + 1 }))
  }

  override def cleanup(i: Int): Unit = delete(out(i))
}

/** The nightly incremental load against star state stored as parquet. */
final class StarDelta(ctx: Ctx, baseRows: Int) extends Workload {
  import Workloads._
  private var spark: SparkSession = _
  private var state: Path = _
  private var gen: Gen.Delta = _
  private var batch: Gen.BatchTruth = _
  private var current = 0
  /** Per batch: batch rows whose generation combo / location the stored
    * dimensions lack, by a plain anti-join.
    */
  private val antiJoinMisses = scala.collection.mutable.Map.empty[Int, (Long, Long)]
  private val attrs = Seq("NomEmpreendimento", "DscPropriRegimePariticipacao")
  private val genKey = Seq("SigTipoGeracao", "DscOrigemCombustivel", "DscFonteCombustivel")
  private val statusKey = Seq("DscFaseUsina", "DscTipoOutorga", "IdcGeracaoQualificada")
  private val locKey = Seq("SigUFPrincipal", "DscMuninicpios")
  private def p(name: String) = state.resolve(name).toString
  private def dimEmp(i: Int) = p(s"dim_empreendimento_v$i")
  private def agg(i: Int) = p(s"agg_geracao_ano_v$i")

  /** The BI aggregate: installed power and plant count per generation
    * type and year, in exact types so repeated refreshes stay exact.
    */
  private def aggOf(fato: DataFrame): DataFrame =
    fato.groupBy(col("ID_Geracao"), (col("FK_DataOperacao") / 10000).cast("int").as("Ano"))
      .agg(sum(col("MdaPotenciaOutorgadaKw").cast("decimal(20,2)")).as("potencia_kw"),
        sum(col("QtdEmpreendimentos").cast("long")).as("qtd"))

  def generate(d: Path): Unit = gen = new Gen.Delta(d, ctx.seed, baseRows, historyEnd = 20000)

  /** Store the star of the base file and the type-2 history of
    * dim_empreendimento as parquet.
    */
  def setup(s: Path): Unit = {
    state = s
    spark = ctx.tunedSession()
    val star = StarSchemaJob.build(StarSchemaJob.readSource(spark, gen.basePath.toString))
    star.dimGeracao.write.parquet(p("dim_geracao"))
    star.dimStatus.write.parquet(p("dim_status"))
    star.dimLocalizacao.write.parquet(p("dim_localizacao"))
    star.fato.write.parquet(p("fato"))
    star.release()
    aggOf(spark.read.parquet(p("fato"))).write.parquet(agg(0))
    val history = spark.read.option("sep", ";").option("header", "true")
      .option("encoding", "ISO-8859-1")
      .schema("CodCEG STRING, ts INT, NomEmpreendimento STRING, DscPropriRegimePariticipacao STRING")
      .csv(gen.historyPath.toString)
    Scd2.build(history, Seq("CodCEG"), col("ts"), Nil, attrs).write.parquet(dimEmp(0))
    antiJoinMisses.clear()
  }

  override def ownLayerMetrics: Seq[(String, String)] = Seq("star.scd2_apply_s" -> "s",
    "star.resolve_fk_s" -> "s", "operators.merge_refresh_s" -> "s")

  def inputBytes: Long = Files.size(batch.path) + Seq(dimEmp(current - 1),
    p("dim_geracao"), p("dim_status"), p("dim_localizacao"), agg(current - 1))
    .map(x => dirBytes(java.nio.file.Paths.get(x))).sum

  override def prepare(i: Int): Unit = { current = i; batch = gen.batch(i) }

  def job(i: Int): Unit = {
    val src = ctx.span("sources.read")(StarSchemaJob.readSource(spark, batch.path.toString))
    val prior = ctx.span("sources.read")(spark.read.parquet(dimEmp(i - 1)))
    ctx.span("star.scd2_apply") {
      val changes = src.select(col("CodCEG"), lit(batch.day).as("ts"),
        col("NomEmpreendimento"), col("DscPropriRegimePariticipacao"))
      Scd2.applyChanges(prior, changes, Seq("CodCEG"), col("ts"), Nil, attrs)
        .write.parquet(dimEmp(i))
    }
    val (dg, ds, dl) = ctx.span("sources.read") {
      (spark.read.parquet(p("dim_geracao")), spark.read.parquet(p("dim_status")),
        spark.read.parquet(p("dim_localizacao")))
    }
    // the fact columns StarSchemaJob.build derives, for the batch's rows
    val fact = ctx.span("star.resolve_fk") {
      val f = FactBuilder.resolveAll(
          src.withColumn("IdcGeracaoQualificada", naIfEmpty(col("IdcGeracaoQualificada"))),
          Seq((dg, "ID_Geracao", genKey, "ID_Geracao"), (ds, "ID_Status", statusKey, "ID_Status"),
            (dl, "ID_Localizacao", locKey, "ID_Localizacao")))
        .select(col("ID_Geracao"), col("ID_Status"), col("ID_Localizacao"), col("CodCEG"),
          graft.functions.parseDateKey(col("DatEntradaOperacao")).as("FK_DataOperacao"),
          graft.functions.parseBrDouble(col("MdaPotenciaOutorgadaKw")).as("MdaPotenciaOutorgadaKw"),
          graft.functions.parseBrDouble(col("MdaPotenciaFiscalizadaKw")).as("MdaPotenciaFiscalizadaKw"),
          graft.functions.parseBrDouble(col("MdaGarantiaFisicaKw")).as("MdaGarantiaFisicaKw"),
          lit(1).as("QtdEmpreendimentos"))
      f.write.mode("append").parquet(p("fato"))
      f
    }
    val snapshot = ctx.span("sources.read")(spark.read.parquet(agg(i - 1)))
    ctx.span("operators.merge_refresh") {
      Merge.refreshAgg(snapshot, aggOf(fact), Seq("ID_Geracao", "Ano"), Seq("potencia_kw", "qtd"))
        .write.parquet(agg(i))
    }
  }

  def checks(i: Int): Seq[(String, Boolean)] = {
    val scd = spark.read.parquet(dimEmp(i)).select("CodCEG", "version", "is_current").collect()
    val byKey = scd.groupBy(_.getString(0))
    val src = StarSchemaJob.readSource(spark, batch.path.toString)
    // independent of FactBuilder: plain anti-joins of the batch's natural
    // keys against the stored dimensions
    val missGen = src.join(spark.read.parquet(p("dim_geracao")), genKey, "left_anti").count()
    val missLoc = src.join(spark.read.parquet(p("dim_localizacao")), locKey, "left_anti").count()
    antiJoinMisses(i) = (missGen, missLoc)
    val fato = spark.read.parquet(p("fato"))
    val f = fato.agg(count(lit(1)), sum(when(col("ID_Geracao") === -1, 1).otherwise(0)),
      sum(when(col("ID_Localizacao") === -1, 1).otherwise(0)),
      sum(when(col("ID_Status") === -1, 1).otherwise(0))).head()
    val a = spark.read.parquet(agg(i)).agg(sum("potencia_kw"), sum("qtd")).head()
    Seq(
      "each key has exactly one current row" ->
        byKey.forall(_._2.count(_.getInt(2) == 1) == 1),
      "versions are contiguous from 1" -> byKey.forall { case (_, rs) =>
        rs.map(_.getInt(1)).sorted.sameElements(1 to rs.length) },
      "SCD2 rows and keys == generated regimes and keys" ->
        (scd.length == gen.scdRows && byKey.size == gen.keys.size),
      "anti-join misses == planted new combos and locations" ->
        (missGen == batch.missingGeracao && missLoc == batch.missingLocalizacao),
      "fact -1 counts == anti-join misses" ->
        (f.getLong(1) == antiJoinMisses.values.map(_._1).sum &&
          f.getLong(2) == antiJoinMisses.values.map(_._2).sum && f.getLong(3) == 0),
      "fact rows == base + batches" -> (f.getLong(0) == gen.factRows),
      "aggregate sums == base + batches" ->
        (a.getDecimal(0).movePointRight(2).longValueExact == gen.sumCents(0) &&
          a.getLong(1) == gen.factRows))
  }

  override def cleanup(i: Int): Unit = {
    delete(java.nio.file.Paths.get(dimEmp(i - 1)))
    delete(java.nio.file.Paths.get(agg(i - 1)))
    Files.deleteIfExists(batch.path)
  }
}

/** LLM-corpus curation: quality gate, exact and near dedup, then semantic
  * dedup of the survivors' embeddings.
  */
final class LlmCurate(ctx: Ctx, docs: Int) extends Workload {
  import Workloads._
  private var spark: SparkSession = _
  private var jsonl: Path = _
  private var state: Path = _
  private[etlbench] var truth: Gen.CorpusTruth = _
  private def corpus = state.resolve("corpus.parquet").toString
  private def curated(i: Int) = state.resolve(s"curated_$i").toString
  private def survivors(i: Int) = state.resolve(s"survivors_$i").toString
  private val SemanticThreshold = 0.99
  /** Floors for the two near-duplicate legs. Both legs are banded LSH, so
    * they miss a few planted pairs; the floors sit below every measured
    * seed's share (seed 1: 0.94 and 0.96), and a skipped leg removes none.
    */
  private val MinTextNearRecall = 0.85
  private val MinEmbNearRecall = 0.85
  /** Dedup quality of the last checked iteration: the share of all
    * planted duplicates removed, the share of removed docs (junk aside)
    * that were planted duplicates, and the share of each near-copy kind
    * its own leg removed.
    */
  var recall, precision, textNearRecall, embNearRecall = 0.0

  def generate(d: Path): Unit = { jsonl = d.resolve("corpus.jsonl"); truth = Gen.corpus(d, ctx.seed, docs) }

  /** Ingest the JSON-lines corpus into the parquet the jobs read. */
  def setup(s: Path): Unit = {
    state = s
    spark = ctx.tunedSession()
    Formats.readJsonl(spark, jsonl.toString,
        org.apache.spark.sql.types.StructType.fromDDL("id LONG, text STRING, vec ARRAY<FLOAT>"))
      .write.parquet(corpus)
  }

  def inputBytes: Long = dirBytes(java.nio.file.Paths.get(corpus))

  /** Its first two jobs take about twice and 1.3 times as long as later ones. */
  override def warmupJobs: Int = 3

  def job(i: Int): Unit = {
    val in = ctx.span("sources.read")(spark.read.parquet(corpus))
    ctx.span("Pipelines.curate") {
      Pipelines.curate(in, "id", "text", carry = Seq("vec")).write.parquet(curated(i))
    }
    val kept = ctx.span("sources.read")(spark.read.parquet(curated(i)))
    ctx.span("operators.semantic_dedup") {
      Similarity.semanticDedup(kept.select("id", "vec"), SemanticThreshold)
        .filter(col("id") === col("comp")).select("id")
        .write.parquet(survivors(i))
    }
  }

  def checks(i: Int): Seq[(String, Boolean)] = {
    def ids(p: String) = spark.read.parquet(p).select("id").collect().map(_.getLong(0)).toSet
    val afterCurate = ids(curated(i))
    val kept = ids(survivors(i))
    def share(planted: Set[Long], survived: Set[Long]) =
      planted.count(id => !survived(id)).toDouble / planted.size
    val dups = truth.exactDups ++ truth.nearDups
    val removed = (1L to truth.docs).filterNot(kept).toSet -- truth.junk
    recall = share(dups, kept)
    precision = if (removed.isEmpty) 0.0 else removed.count(dups).toDouble / removed.size
    textNearRecall = share(truth.textNear, afterCurate)
    embNearRecall = share(truth.embNear, kept)
    Seq(
      "survivors are a subset of curate's output" -> kept.subsetOf(afterCurate),
      "curate's output is a subset of the input" ->
        afterCurate.forall(id => id >= 1 && id <= truth.docs),
      "curate removes every planted exact duplicate" -> !truth.exactDups.exists(afterCurate),
      f"curate removes at least $MinTextNearRecall%.2f of the text-near copies" ->
        (textNearRecall >= MinTextNearRecall),
      f"semantic dedup removes at least $MinEmbNearRecall%.2f of the embedding-near copies" ->
        (embNearRecall >= MinEmbNearRecall),
      "no original doc is removed" -> truth.originals.subsetOf(kept),
      "no planted low-quality doc survives" -> !truth.junk.exists(afterCurate))
  }

  override def cleanup(i: Int): Unit = {
    delete(java.nio.file.Paths.get(curated(i)))
    delete(java.nio.file.Paths.get(survivors(i)))
  }

  /** The stages Pipelines.curate composes, called one by one on the same
    * input, each materialized, so each operator's time and Spark counters
    * stand alone. Outside the timed job: these spans are the profile of
    * curate's insides, not part of job_s.
    */
  override def profile(i: Int): Map[String, Double] = {
    val in = spark.read.parquet(corpus)
    val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = { val c = df.localCheckpoint(eager = true); pinned += c; c }
    try {
      val q = ctx.span("operators.quality") {
        pin(TextAnalysis.qualityScore(in, "id", "text", carry = Seq("text"))
          .filter(col("quality") >= 0.3).select("id", "text"))
      }
      val exact = ctx.span("operators.exact_dedup") {
        pin(Dedup.exact(q, Seq("text"), Seq(col("id"))))
      }
      val pairs = ctx.span("operators.minhash_pairs") {
        pin(Dedup.minhashLsh(exact, "id", "text", jaccardThreshold = 0.4).select("id1", "id2"))
      }
      ctx.span("operators.components") {
        Components.minLabelAdaptive(pairs, "id1", "id2", exact.select("id"), "id")
          .agg(sum(xxhash64(col("id"), col("comp")))).head()
      }
      val found = pairs.agg(count(lit(1))).head().getLong(0).toDouble
      Map("operators.pairs_found" -> found,
        "operators.pairs_per_planted" -> found / truth.textNear.size)
    } finally pinned.foreach(graft.Blocks.free)
  }
}
