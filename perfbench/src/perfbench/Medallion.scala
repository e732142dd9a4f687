package perfbench

import java.io.File
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.jobs.FinTrackJob
import graft.lake.{ControlTable, EntityTransformer, LogTableFormat, TrustedLoad}
import graft.parse.ParsePipeline
import graft.rules.Categorizer
import graft.sources.Sources

/** The composed Medallion run — landing → raw → trusted → refined — as
  * one call per engine layer, each layer's output materialized at its
  * boundary the way a medallion persists its tiers. */
object Medallion {
  val Entity = "fintrack_trusted.lancamentos"
  val Input = "raw.lancamentos"
  val Budget: Seq[(String, Double)] = Seq("Alimentação" -> 1500.0, "Mercado" -> 2000.0,
    "Transporte" -> 600.0, "Lazer" -> 400.0, "Assinaturas" -> 200.0)

  /** The trusted entity: the raw lançamentos, keyed by `txn_id`. */
  object Trusted extends EntityTransformer {
    val entityName = Entity
    val inputs = Seq(Input)
    val primaryKey = Seq("txn_id")
    val columns = Seq("txn_id", "landing_object_key", "kind", "competencia",
      "descricao", "valor", "categoria", "versao")
    def transform(dfs: Map[String, DataFrame]): DataFrame =
      dfs(Input).select(columns.map(col): _*)
  }

  final case class Lake(root: File) {
    val trusted: String = new File(root, "trusted").getPath
    val control: String = new File(root, "control").getPath
    val reports: String = new File(root, "reports").getPath
  }

  def readControl(spark: SparkSession, lake: Lake): DataFrame =
    if (new File(lake.control).exists()) spark.read.schema(ControlTable.schema).parquet(lake.control)
    else ControlTable.empty(spark)

  /** sources: PDFs landed after the raw watermark → texts with their
    * landing metadata; forms CSVs → rows in the raw shape. */
  def sources(spark: SparkSession, tr: Tracer, landing: File, lake: Lake,
      formsClients: Seq[String]): (DataFrame, Option[DataFrame]) = tr.layer("sources") {
    val after = ControlTable.currentWatermark(readControl(spark, lake), Entity, Input)
    // landingFiles only accepts the <yyyy>/<mm> tree: its year/month casts
    // throw on any other path, so the forms folder is read on its own
    val all = Sources.landingFiles(spark, new File(landing, "01_clientes").getPath)
    val fresh = after.fold(all)(wm => all.filter(col("modificationTime") > lit(wm)))
    val meta = fresh.select(col("path"), col("kind"), col("year"), col("month"),
      col("modificationTime").as("versao"))
    val texts = tr.cut(Sources.extractPdfTextsWithDiagnostics(fresh)
      .join(broadcast(meta), "path")
      .select(col("path").as("landing_object_key"), col("kind"),
        format_string("%04d-%02d", col("year"), col("month")).as("competencia"),
        col("versao"), col("text"), (size(col("skipped_filters")) > 0).as("incomplete")))
    val forms = formsClients.map { c =>
      Sources.readFormsCsv(spark, new File(landing, s"02_forms/$c").getPath, c)
        .select(concat(lit("forms:"), col("descricao")).as("txn_id"),
          col("landing_object_key"), lit("forms").as("kind"),
          date_format(col("vencimento"), "yyyy-MM").as("competencia"),
          col("descricao"), col("valor"), col("categoria"), col("carimbo").as("versao"))
    }.reduceOption(_ unionByName _).map(tr.cut)
    tr.untimed {
      if (tr.traced) {
        val r = fresh.agg(count(lit(1)), coalesce(sum(col("length")), lit(0L))).head()
        val csvs = formsClients.flatMap(c => Files2.listing(new File(landing, s"02_forms/$c")).values)
        tr.count("sources.files", (r.getLong(0) + csvs.size).toDouble)
        tr.count("sources.input_bytes", (r.getLong(1) + csvs.map(_._1).sum).toDouble)
        tr.count("sources.pdf_incomplete", texts.filter(col("incomplete")).count().toDouble)
      }
    }
    (texts, forms)
  }

  /** parse: the four document families' line machines (the BB bill
    * pipeline applies the rule chain itself). */
  def parse(tr: Tracer, texts: DataFrame): DataFrame = tr.layer("parse") {
    def family(k: String) = texts.filter(col("kind") === k).select("landing_object_key", "text")
    val noCat = lit(null).cast(StringType).as("categoria")
    val rows = Seq(
      ParsePipeline.bbBills(family("fatura_bb"))
        .select(col("landing_object_key"), col("descricao"), col("valor"), col("categoria")),
      ParsePipeline.extratos(family("extrato_bb"))
        .select(col("landing_object_key"), col("historico_full").as("descricao"), col("valor"), noCat),
      ParsePipeline.bradescoBills(family("fatura_bradesco"))
        .select(col("landing_object_key"), col("descricao"), col("valor"), noCat),
      ParsePipeline.bradescoExtratos(family("extrato_bradesco"))
        .select(col("landing_object_key"), col("historico").as("descricao"), col("valor"), noCat)
    ).reduce(_ unionByName _)
    val meta = texts.select("landing_object_key", "kind", "competencia", "versao")
    tr.cut(rows.join(broadcast(meta), "landing_object_key")
      .withColumn("txn_id", concat_ws(":", col("kind"), col("descricao"))))
  }

  /** rules: the BB rule table over every uncategorized row. */
  def rules(tr: Tracer, parsed: DataFrame, forms: Option[DataFrame]): DataFrame = tr.layer("rules") {
    val all = forms.fold(parsed)(f => parsed.unionByName(f))
    val out = tr.cut(all.withColumn("categoria",
      coalesce(col("categoria"), Categorizer.categorize(col("descricao")).getField("categoria"))))
    tr.untimed {
      if (tr.traced) {
        val r = out.agg(count(lit(1)), sum(when(col("categoria") === "Outros", 1L).otherwise(0L))).head()
        tr.count("rules.fallback_ratio", if (r.getLong(0) == 0) 0.0 else r.getLong(1).toDouble / r.getLong(0))
      }
    }
    out
  }

  /** lake: the trusted load (watermark read, dedup by key, newer-wins
    * MERGE into the log-structured table) and the control-table append. */
  def lake(spark: SparkSession, tr: Tracer, categorized: DataFrame, lake: Lake,
      runAt: Timestamp): Long = {
    val before = tr.untimed(if (tr.traced) Some(traceLake(spark, lake)) else None)
    val rows = tr.layer("lake") {
      val control = readControl(spark, lake)
      val res = TrustedLoad.run(Trusted, _ => categorized, control, Map(Input -> "versao"),
        "versao", lake.trusted, runAt, LogTableFormat)
      res.control.exceptAll(control).write.mode("append").parquet(lake.control)
      res.rows
    }
    tr.untimed {
      before.foreach { case (files0, listing0) =>
        val (files1, listing1) = traceLake(spark, lake)
        tr.count("lake.rows_merged", rows.toDouble)
        tr.count("lake.bytes_written", writtenBytes(listing0, listing1).toDouble)
        tr.count("lake.files_rewritten", (files0 -- files1).size.toDouble)
        tr.count("lake.files_live", files0.size.toDouble)
      }
    }
    rows
  }

  private def traceLake(spark: SparkSession, lake: Lake): (Set[String], Map[String, (Long, Long)]) = {
    val live =
      if (LogTableFormat.exists(spark, lake.trusted))
        LogTableFormat.read(spark, lake.trusted).inputFiles.toSet
      else Set.empty[String]
    (live, Files2.listing(new File(lake.trusted)))
  }

  /** Bytes of files that are new or changed in `after` relative to `before`. */
  def writtenBytes(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Long =
    after.collect { case (p, (n, t)) if !before.get(p).contains((n, t)) => n }.sum

  /** jobs: refresh the refined reports of every competência the batch
    * touched — monthly summary and budget comparison over the trusted
    * table as it stands after the write. */
  def reports(spark: SparkSession, tr: Tracer, categorized: DataFrame, lake: Lake): Unit = {
    val months = tr.layer("jobs") {
      val months = categorized.select("competencia").distinct().collect().map(_.getString(0)).sorted
      val trusted = LogTableFormat.read(spark, lake.trusted)
      months.foreach { m =>
        val monthly = FinTrackJob.monthlySummary(trusted.filter(col("competencia") === m))
        val compare = FinTrackJob.compareBudget(monthly, Budget)
        tr.plan(monthly); tr.plan(compare)
        FinTrackJob.writeReports(s"${lake.reports}/$m",
          "monthly_by_category" -> monthly, "budget_vs_actual" -> compare)
      }
      months
    }
    tr.untimed {
      if (tr.traced) tr.count("jobs.report_rows", months.map(m =>
        Seq("monthly_by_category", "budget_vs_actual").map(r => csvRows(new File(s"${lake.reports}/$m/$r")).size).sum
      ).sum.toDouble)
    }
  }

  /** Data rows of the single-file CSV report in `dir`, as field lists. */
  def csvRows(dir: File): Seq[Seq[String]] =
    Option(dir.listFiles()).toSeq.flatten.filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
      .flatMap { f =>
        val lines = java.nio.file.Files.readAllLines(f.toPath, java.nio.charset.StandardCharsets.UTF_8)
        scala.jdk.CollectionConverters.ListHasAsScala(lines).asScala.drop(1).filter(_.nonEmpty)
          .map(_.split(",", -1).toSeq)
      }

  /** One landing → refined pass over whatever is newer than the watermark. */
  def run(spark: SparkSession, tr: Tracer, landing: File, lk: Lake,
      formsClients: Seq[String], runAt: Timestamp): Stages = {
    val (texts, forms) = sources(spark, tr, landing, lk, formsClients)
    val parsed = parse(tr, texts)
    val categorized = rules(tr, parsed, forms)
    lake(spark, tr, categorized, lk, runAt)
    reports(spark, tr, categorized, lk)
    Stages(parsed, forms)
  }

  final case class Stages(parsed: DataFrame, forms: Option[DataFrame])

  // ---- checks -----------------------------------------------------------

  /** The trusted table equals the one-shot latest-version answer, and
    * every refined monthly report on disk equals the ground-truth totals. */
  def checkLake(spark: SparkSession, tr: Tracer, lake: Lake, truth: MedallionTruth): Map[String, Long] = {
    val got = LogTableFormat.read(spark, lake.trusted)
      .select("txn_id", "competencia", "categoria", "valor").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2), math.round(r.getDouble(3) * 100))))
      .toMap
    val want = truth.latest.map { case (k, t) => k -> ((t.competencia, t.categoria, t.cents)) }
    val diff = (want.keySet ++ got.keySet).filter(k => want.get(k) != got.get(k))
    tr.check("trusted_equals_latest_versions", diff.isEmpty,
      s"${diff.size} keys differ, e.g. ${diff.take(3).map(k => s"$k want=${want.get(k)} got=${got.get(k)}").mkString("; ")}")
    val written = Option(new File(lake.reports).list()).toSeq.flatten.toSet
    val bad = truth.totals.toSeq.sortBy(_._1).filter(m => written(m._1)).flatMap { case (m, cats) =>
      val report = csvRows(new File(s"${lake.reports}/$m/monthly_by_category"))
        .map(f => f(0) -> math.round(f(1).toDouble * 100)).toMap
      if (report == cats) None else Some(s"$m want=$cats got=$report")
    }
    tr.check("refined_totals_equal_truth", bad.isEmpty, bad.take(2).mkString("; "))
    got.map { case (k, v) => k -> v._3 }
  }

  /** History rows as the raw frame the trusted load reads. */
  def rawFrame(spark: SparkSession, txns: Seq[Txn]): DataFrame = {
    val schema = StructType(Seq(
      StructField("txn_id", StringType), StructField("landing_object_key", StringType),
      StructField("kind", StringType), StructField("competencia", StringType),
      StructField("descricao", StringType), StructField("valor", DoubleType),
      StructField("categoria", StringType), StructField("versao", TimestampType)))
    val rows = txns.map(t => Row(t.key, "history", t.kind, t.competencia, t.descricao,
      t.cents / 100.0, t.categoria, new Timestamp(t.versionMs)))
    spark.createDataFrame(scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
  }
}

/** Small daily batches against a trusted table ~100× a batch's size.
  * Every pass starts from the pre-built state and lands one batch, the
  * next of the seeded sequence, so passes do the same kind of work. */
final class Incremental(dir: File, seed: Long, size: IncrementalGen.Size) extends Workload {
  private val landing = new File(dir, "landing")
  private val state = new File(dir, "state")
  private val lakeRoot = new File(dir, "lake")
  private val input = IncrementalGen.generate(seed, size)
  private var next = 0
  private def batch = input.batches(next % input.batches.size)

  /** Pre-built state: the history loaded into the trusted table, with its
    * control-table row. */
  def prepare(spark: SparkSession): Unit = {
    Files2.deleteTree(state)
    val raw = Medallion.rawFrame(spark, input.history).localCheckpoint()
    Medallion.lake(spark, new Tracer(spark, "prepare"), raw, Medallion.Lake(state),
      new Timestamp(Dates.versionMs(size.historyDays - 1)))
  }

  def pass(spark: SparkSession, tr: Tracer): PassOut = {
    val b = batch
    val truth = input.truth(b)
    next += 1
    Files2.deleteTree(landing)
    Files2.deleteTree(lakeRoot)
    Files2.copyTree(state, lakeRoot)
    IncrementalGen.land(landing, b)
    val lake = Medallion.Lake(lakeRoot)
    val before = Files2.listing(lakeRoot)
    val t0 = tr.now
    val st = tr.span("batch")(Medallion.run(spark, tr, landing, lake, Seq(IncrementalGen.Client),
      new Timestamp(b.versionMs)))
    val ns = tr.now - t0
    tr.untimed {
      val after = Files2.listing(lakeRoot)
      val dedupRecall = if (!tr.checks) 1.0 else {
        val rows = st.parsed.count() + st.forms.map(_.count()).getOrElse(0L)
        tr.count("parse.rows_out", st.parsed.count().toDouble)
        tr.count("parse.lines", (b.lines - b.formsRows).toDouble)
        tr.check("parse_yield_is_one", rows == truth.lines,
          s"parsed $rows of ${truth.lines} landed rows")
        val trusted = Medallion.checkLake(spark, tr, lake, truth)
        val wm = ControlTable.currentWatermark(Medallion.readControl(spark, lake),
          Medallion.Entity, Medallion.Input)
        tr.check("watermark_is_batch_max", wm.map(_.getTime).contains(b.versionMs),
          s"watermark $wm, batch ${new Timestamp(b.versionMs)}")
        if (truth.corrections.isEmpty) 1.0
        else truth.corrections.count(c => trusted.get(c.key).contains(c.cents)).toDouble /
          truth.corrections.size
      }
      PassOut(ns, Seq(ns), truth.lines, b.bytes, truth.landedBytes, Medallion.writtenBytes(before, after),
        after.values.map(_._1).sum, dedupRecall)
    }
  }
}
