package perfbench

import java.io.File
import java.util.Locale

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Figures of one timed pass: its time, the landing→output latency of
  * each batch it ran, the rows and bytes it landed, the landed bytes of
  * everything its output root holds data of (earlier loads included),
  * bytes written during it and live at its end under that root, and the
  * share of planted duplicates it removed. */
final case class PassOut(runNs: Long, batchNs: Seq[Long], inputRows: Long, landedBytes: Long,
    heldBytes: Long, writtenBytes: Long, liveBytes: Long, dedupRecall: Double)

trait Workload {
  /** State the timed passes start from, built during set-up. */
  def prepare(spark: SparkSession): Unit
  /** One timed pass followed by its (untimed) checks. */
  def pass(spark: SparkSession, tr: Tracer): PassOut
}

/** Benchmark main: generates the workload's inputs from the seed, starts
  * a session and warms the process up with one pass over a tiny input,
  * sets up (session restart + pre-built state) several times, then runs
  * passes of the workload for the requested seconds and prints one JSON
  * result line. With `--trace 1` passes alternate untraced and traced,
  * and the result carries the per-layer figures. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      smoke: Boolean, work: File, cores: Int)

  val Workloads = Seq("medallion_incremental", "corpus_curation")
  val SetupReps = 3

  def parseArgs(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w; one of ${Workloads.mkString(", ")}")
    Opts(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      m.get("size").contains("smoke"), new File(need("work")),
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
  }

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(o.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The workload over freshly generated inputs under `dir`. */
  def workload(name: String, dir: File, seed: Long, smoke: Boolean): Workload = name match {
    case "medallion_incremental" => new Incremental(dir, seed,
      if (smoke) IncrementalGen.Size(historyDays = 10, rowsPerDoc = 5, formsRows = 3, batches = 2, correctionsPerBatch = 1)
      else IncrementalGen.Size(historyDays = 100, rowsPerDoc = 40, formsRows = 10, batches = 20, correctionsPerBatch = 2))
    case "corpus_curation" => new Curation(dir, seed,
      if (smoke) CurationGen.Size(docs = 400, exactFamilies = 10, nearPairs = 10, lowQuality = 10,
        queries = 5, embedded = 300, clusters = 8, seedEvery = 4)
      else CurationGen.Size(docs = 2500, exactFamilies = 80, nearPairs = 80, lowQuality = 80,
        queries = 25, embedded = 1200, clusters = 32, seedEvery = 4))
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it (the
    * maximum when there are fewer than eleven): (value, percentile). */
  private def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size < 11) (s.last, 100.0)
    else {
      val i = s.size - 11
      (s(i), 100.0 * (i + 1) / s.size)
    }
  }

  private def peakRssMb(): Double = {
    val f = new File("/proc/self/status")
    if (!f.exists()) Double.NaN
    else scala.io.Source.fromFile(f).getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN)
  }

  def main(args: Array[String]): Unit = {
    Locale.setDefault(Locale.ROOT)
    val o = parseArgs(args)
    o.work.mkdirs()
    val runId = s"${o.workload}-seed${o.seed}${if (o.trace) "-trace" else ""}"

    val g0 = System.nanoTime()
    val w = workload(o.workload, new File(o.work, "inputs"), o.seed, o.smoke)
    val warm = workload(o.workload, new File(o.work, "warmup"), o.seed + 1, smoke = true)
    println(f"generate_s: ${(System.nanoTime() - g0) / 1e9}%.3f")

    // cold start: first session and an in-process warm-up pass over the
    // tiny input, once per process (printed; setup.cold_s when tracing)
    val c0 = System.nanoTime()
    var spark = session(o)
    warm.prepare(spark)
    val wt = new Tracer(spark, "warmup")
    wt.checks = false
    warm.pass(spark, wt)
    val coldS = (System.nanoTime() - c0) / 1e9
    println(f"cold start (session + warm-up pass): $coldS%.3f s")

    // set-up, repeated: session restart + the workload's pre-built state
    val setupS = (0 until SetupReps).map { _ =>
      spark.stop()
      val t0 = System.nanoTime()
      spark = session(o)
      w.prepare(spark)
      (System.nanoTime() - t0) / 1e9
    }
    println(s"setup_s samples: ${setupS.map(s => f"$s%.3f").mkString(" ")}")

    // timed window: closed loop, one pass at a time
    val tr = new Tracer(spark, runId)
    val outs = mutable.ArrayBuffer.empty[(Int, Boolean, PassOut)]
    val minPasses = if (o.trace) 2 else 1
    val w0 = System.nanoTime()
    var p = 0
    while ((System.nanoTime() - w0) / 1e9 < o.seconds || outs.size < minPasses) {
      val traced = o.trace && p % 2 == 1
      tr.beginPass(p, traced)
      try outs += ((p, traced, w.pass(spark, tr)))
      catch { case e: Exception =>
        System.err.println(s"pass $p failed: $e")
        e.printStackTrace()
        if (p >= 3 && outs.isEmpty) throw e
      } finally tr.endPass()
      System.gc() // lets the context cleaner drop the pass's checkpoint blocks
      p += 1
    }
    val windowS = (System.nanoTime() - w0) / 1e9
    val recall = w match {
      case c: Curation =>
        val r = tr.untimed(c.annRecall(spark))
        println(s"kept_set_digest: ${c.keptDigest}")
        r
      case _ => 1.0 // no approximate search runs in the medallion workloads
    }

    val untraced = outs.toSeq.filterNot(_._2).map(_._3)
    val traced = outs.toSeq.filter(_._2).map(_._3)
    val main = if (o.trace) traced else untraced
    val runS = main.map(_.runNs / 1e9)
    val batches = main.flatMap(_.batchNs.map(_ / 1e9))
    val (tailV, tailP) = if (batches.isEmpty) (Double.NaN, 0.0) else tail(batches)
    println(f"passes: ${outs.size} in $windowS%.1f s; batch_tail_s is p$tailP%.1f of ${batches.size} batch samples")

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("setup_s", median(setupS), "s"),
        ("run_s", median(runS), "s"),
        ("input_rows_per_s", median(main.map(p => p.inputRows / (p.runNs / 1e9))), "rows/s"),
        ("batch_p50_s", median(batches), "s"),
        ("batch_tail_s", tailV, "s"),
        ("ok_ratio", 1.0 - tr.failed.toDouble / math.max(1L, tr.attempted), "ratio"),
        ("write_amp", median(main.map(p => p.writtenBytes.toDouble / p.landedBytes)), "ratio"),
        ("space_amp", median(main.map(p => p.liveBytes.toDouble / p.heldBytes)), "ratio"),
        ("peak_rss_mb", peakRssMb(), "MB"),
        ("dedup_recall", median(main.map(_.dedupRecall)), "ratio"),
        ("ann_recall_at_10", recall, "ratio"))
      else layerMetrics(tr, outs.map(o => o._1 -> (o._2, o._3)).toMap) :+ (("setup.cold_s", coldS, "s"))

    val correct = tr.failed == 0 && metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
    if (o.trace) tr.writeSpans(new File(o.work, s"../traces/$runId.jsonl"))
    val json = metrics.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
      s""""$n": {"value": $num, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": $correct, "attempted": ${math.max(1L, tr.attempted)}, "failed": ${tr.failed}, "metrics": $json}""")
    spark.stop()
    if (!correct) sys.exit(3)
  }

  /** Per-layer figures as per-pass means over the traced passes, plus the
    * tracing overhead (median traced minus median untraced pass time). */
  def layerMetrics(tr: Tracer,
      outs: Map[Int, (Boolean, PassOut)]): Seq[(String, Double, String)] = {
    val passes = tr.passListeners.keys.toSeq.sorted.filter(outs.contains)
    val n = passes.size.toDouble
    val self = tr.selfTimes
    val passWall = passes.map(p => outs(p)._2.runNs / 1e9).sum
    def mean(f: Int => Double): Double = passes.map(f).sum / n
    def cnt(name: String): Double = mean(p => tr.counts.getOrElse((p, name), 0.0))
    val generic = for (l <- Layers.all; (m, u) <- Layers.generic) yield {
      def acc(f: LayerListener#Acc => Double): Double =
        mean(p => tr.passListeners(p).get(l).map(f).getOrElse(0.0))
      val v = m match {
        case "wall_s" => mean(p => self.getOrElse((p, l), 0.0))
        case "share" => passes.map(p => self.getOrElse((p, l), 0.0)).sum / passWall
        case "plan_s" => mean(p => tr.planNs.getOrElse((p, l), 0L) / 1e9)
        case "jobs" => acc(_.jobs.toDouble)
        case "tasks" => acc(_.tasks.toDouble)
        case "task_busy_s" => acc(_.busyMs / 1e3)
        case "task_wait_s" => acc(_.waitMs / 1e3)
        case "task_skew" => acc(_.skew)
        case "shuffle_write_bytes" => acc(_.shuffleWrite.toDouble)
        case "spill_bytes" => acc(_.spill.toDouble)
        case "result_bytes" => acc(_.resultBytes.toDouble)
        case "failed_tasks" => acc(_.failedTasks.toDouble)
      }
      (s"$l.$m", v, u)
    }
    val specific = Layers.specific.map { case (name, u) =>
      val v = name match {
        case "parse.yield" =>
          val lines = cnt("parse.lines")
          if (lines == 0) 0.0 else cnt("parse.rows_out") / lines
        case "lake.files_rewritten_ratio" =>
          val live = cnt("lake.files_live")
          if (live == 0) 0.0 else cnt("lake.files_rewritten") / live
        case "ext.dedup.verified_ratio" =>
          val c = cnt("ext.dedup.candidate_pairs")
          if (c == 0) 0.0 else cnt("ext.dedup.verified_pairs") / c
        case "ext.similarity.collected_rows" =>
          mean(p => tr.passListeners(p).get("ext.similarity").map(_.collectedRows.toDouble).getOrElse(0.0))
        case other => cnt(other)
      }
      (name, v, u)
    }
    val un = outs.values.filterNot(_._1).map(_._2.runNs / 1e9).toSeq
    val tra = outs.values.filter(_._1).map(_._2.runNs / 1e9).toSeq
    generic ++ specific :+ ("trace.overhead_s", median(tra) - median(un), "s")
  }
}
