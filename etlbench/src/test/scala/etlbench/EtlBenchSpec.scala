package etlbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own code: its generators are deterministic in the seed
  * and its output checks catch corrupted outputs.
  */
class EtlBenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val root = Paths.get(sys.props.getOrElse("etlbench.test.dir", "target/test-work"))
    .toAbsolutePath
  private lazy val spark: SparkSession = Main.session(root.resolve("spark"))

  override def afterAll(): Unit = spark.stop()

  private def fresh(name: String): Path = {
    val d = root.resolve(name)
    Workloads.delete(d)
    d
  }

  private def digests(dir: Path): Map[String, String] = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map { p =>
      dir.relativize(p).toString ->
        MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
    }.toMap finally s.close()
  }

  private def generate(seed: Long, d: Path): Map[String, String] = {
    Gen.starFull(d.resolve("full"), seed, rows = 500)
    val delta = new Gen.Delta(d.resolve("delta"), seed, baseRows = 500, historyEnd = 20000)
    delta.batch(1)
    delta.batch(2)
    Gen.corpus(d.resolve("corpus"), seed, docs = 400)
    digests(d)
  }

  private def ctx(seed: Long) = Ctx(spark, new Tracer(spark.sparkContext, false, "test"), seed)

  private def failing(checks: Seq[(String, Boolean)]): Seq[String] =
    checks.filterNot(_._2).map(_._1)

  private def rewriteFirstPart(dir: Path)(edit: Vector[String] => Vector[String]): Unit = {
    val part = Files.list(dir).iterator.asScala
      .find(_.getFileName.toString.startsWith("part-")).get
    val lines = Files.readAllLines(part, Gen.Latin1).asScala.toVector
    Files.write(part, edit(lines).asJava, Gen.Latin1)
  }

  test("the same seed gives byte-identical inputs, another seed different ones") {
    val a = generate(7, fresh("gen-a"))
    val b = generate(7, fresh("gen-b"))
    val c = generate(8, fresh("gen-c"))
    assert(a.keySet == Set("full/aneel.csv", "full/truth.json", "delta/base.csv",
      "delta/truth.json", "delta/emp_history.csv", "delta/batch_00001.csv", "delta/batch_00002.csv",
      "corpus/corpus.jsonl", "corpus/truth.json"))
    assert(a == b)
    a.foreach { case (f, h) => assert(c(f) != h, s"$f does not depend on the seed") }
  }

  test("star_full checks pass on the job's output and reject corrupted tables") {
    val d = fresh("star_full")
    val w = new StarFull(ctx(3), rows = 2000)
    w.generate(d.resolve("input"))
    w.setup(d.resolve("state"))
    w.job(1)
    assert(failing(w.checks(1)).isEmpty)

    rewriteFirstPart(d.resolve("state/out_1/fato_geracao")) { ls =>
      ls.updated(1, "-1" + ls(1).dropWhile(_ != ';'))
    }
    assert(failing(w.checks(1)).contains("no -1 foreign key"))

    rewriteFirstPart(d.resolve("state/out_1/dim_tempo"))(ls => ls.patch(5, Nil, 1))
    assert(failing(w.checks(1)).contains("dim_tempo is contiguous over the valid dates"))
  }

  test("star_delta checks pass after a batch and reject a second current row") {
    val d = fresh("star_delta")
    val w = new StarDelta(ctx(4), baseRows = 2000)
    w.generate(d.resolve("input"))
    w.setup(d.resolve("state"))
    w.prepare(1)
    w.job(1)
    assert(failing(w.checks(1)).isEmpty)

    val dim = d.resolve("state/dim_empreendimento_v1").toString
    spark.read.parquet(dim).filter(col("is_current") === 1).limit(1).localCheckpoint()
      .write.mode("append").parquet(dim)
    assert(failing(w.checks(1)).contains("each key has exactly one current row"))
  }

  test("llm_curate checks pass and reject lost or over-deleted dedup output") {
    val d = fresh("llm_curate")
    val w = new LlmCurate(ctx(5), docs = 1500)
    w.generate(d.resolve("input"))
    w.setup(d.resolve("state"))
    w.job(1)
    assert(failing(w.checks(1)).isEmpty)
    assert(w.recall > 0.9 && w.precision == 1.0)

    val s = spark
    import s.implicits._
    val survivors = d.resolve("state/survivors_1").toString
    val curated = d.resolve("state/curated_1").toString
    val kept = spark.read.parquet(survivors).as[Long].collect().toSeq
    def rewrite(path: String, ids: Seq[Long]): Unit = {
      val rows = ids.toDF("id").localCheckpoint()
      rows.write.mode("overwrite").parquet(path)
    }

    // a dedup that deletes everything keeps no exact duplicate either
    rewrite(survivors, Nil)
    assert(failing(w.checks(1)).contains("no original doc is removed"))

    // an original lost on the way
    rewrite(survivors, kept.filterNot(_ == w.truth.originals.min))
    assert(failing(w.checks(1)) == Seq("no original doc is removed"))

    // the semantic leg skipped: its near copies survive
    rewrite(survivors, spark.read.parquet(curated).select("id").as[Long].collect().toSeq)
    assert(failing(w.checks(1)).exists(_.startsWith("semantic dedup removes")))

    // the MinHash leg skipped: curate keeps the text-near copies
    rewrite(curated, spark.read.parquet(curated).select("id").as[Long].collect().toSeq ++
      w.truth.textNear)
    assert(failing(w.checks(1)).exists(_.startsWith("curate removes at least")))

    // an exact duplicate kept by curate
    rewrite(curated, spark.read.parquet(curated).select("id").as[Long].collect().toSeq :+
      w.truth.exactDups.min)
    assert(failing(w.checks(1)).contains("curate removes every planted exact duplicate"))
  }
}
