package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{CollectLimitExec, QueryExecution, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** The engine modules the benchmark times, in pipeline order. */
object Layers {
  val all: Seq[String] = Seq("sources", "parse", "rules", "lake", "jobs",
    "ext.textstats", "ext.dedup", "ext.similarity", "ext.retrieval")

  /** Counts each layer reports besides the generic listener figures. */
  val specific: Seq[(String, String)] = Seq(
    "sources.files" -> "count", "sources.input_bytes" -> "bytes",
    "sources.pdf_incomplete" -> "count",
    "parse.rows_out" -> "rows", "parse.yield" -> "ratio",
    "rules.fallback_ratio" -> "ratio",
    "lake.rows_merged" -> "rows", "lake.bytes_written" -> "bytes",
    "lake.files_rewritten_ratio" -> "ratio",
    "jobs.report_rows" -> "rows",
    "ext.dedup.candidate_pairs" -> "pairs", "ext.dedup.verified_ratio" -> "ratio",
    "ext.similarity.candidates_per_query" -> "count",
    "ext.similarity.collected_rows" -> "rows",
    "ext.retrieval.postings_rows" -> "rows")

  /** Generic per-layer figures: (suffix, unit). */
  val generic: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "share" -> "ratio", "plan_s" -> "s", "jobs" -> "count",
    "tasks" -> "count", "task_busy_s" -> "s", "task_wait_s" -> "s",
    "task_skew" -> "ratio", "shuffle_write_bytes" -> "bytes",
    "spill_bytes" -> "bytes", "result_bytes" -> "bytes", "failed_tasks" -> "count")
}

/** Spark-side figures per layer, keyed by the job group the tracer sets
  * around each layer call. Fed by the listener bus thread; read on the
  * driver thread after [[org.apache.spark.BenchBus.drain]]. */
final class LayerListener extends SparkListener with QueryExecutionListener {
  final class Acc {
    var jobs, tasks, failedTasks, busyMs, waitMs, shuffleWrite, spill, resultBytes,
        collectedRows = 0L
    val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
    /** max ÷ median task time of the stage with the most task time. */
    def skew: Double = if (stageTaskMs.isEmpty) 0.0 else {
      val ts = stageTaskMs.values.maxBy(_.sum).sorted
      val med = ts(ts.size / 2)
      if (med <= 0) 1.0 else ts.last.toDouble / med
    }
  }

  private val accs = mutable.HashMap.empty[String, Acc]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  // the group of the last job started: query-execution events carry no
  // job group, but the driver runs one action at a time and the bus
  // delivers an execution's jobs before its end event
  private var lastGroup: Option[String] = None

  def get(layer: String): Option[Acc] = synchronized(accs.get(layer))

  private def acc(g: String): Acc = accs.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      acc(g).jobs += 1
      e.stageIds.foreach(stageGroup(_) = g)
    }
    lastGroup = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val a = acc(g)
      a.tasks += 1
      if (!e.taskInfo.successful) a.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.busyMs += m.executorRunTime
        val info = e.taskInfo
        val gettingResult =
          if (info.gettingResult && info.finishTime > 0) info.finishTime - info.gettingResultTime else 0L
        // the Spark UI's scheduler delay
        a.waitMs += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - gettingResult)
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.resultBytes += m.resultSize
        a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      }
    }
  }

  private val driverActions =
    Set("collect", "collectAsList", "head", "take", "takeAsList", "first", "tail",
      "isEmpty", "count", "toLocalIterator")

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (driverActions(funcName)) synchronized {
      lastGroup.foreach(g => acc(g).collectedRows += rowsOut(qe.executedPlan))
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Rows the plan's root emitted: the top-most node that counts its
    * output rows, capped by a collect-side limit above it. */
  private def rowsOut(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => rowsOut(a.executedPlan)
    case q: QueryStageExec => rowsOut(q.plan)
    case l: CollectLimitExec => math.min(l.limit.toLong, rowsOut(l.child))
    case t: TakeOrderedAndProjectExec => math.min(t.limit.toLong, rowsOut(t.child))
    case _ =>
      p.metrics.get("numOutputRows").map(_.value)
        .getOrElse(p.children.map(rowsOut).sum)
  }
}

/** Pass clock, layer accounting and (when tracing) spans and plan timing.
  *
  * Time read from [[now]] excludes [[untimed]] blocks: the trace-only
  * counts and the checks run there, so they never inflate a pass or a
  * batch. Every layer call counts as one attempted operation; a call that
  * throws counts as failed. */
final class Tracer(spark: SparkSession, runId: String) {
  /** Whether the current pass records spans, plans and listener figures. */
  var traced = false

  final case class Span(id: Int, name: String, parent: Int, pass: Int, start: Long, end: Long)

  private var paused = 0L
  def now: Long = System.nanoTime() - paused

  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    val g = Option(spark.sparkContext.getLocalProperty("spark.jobGroup.id"))
    if (traced) spark.sparkContext.setJobGroup("untimed", "untimed", false)
    try body
    finally {
      g match {
        case Some(x) if traced => spark.sparkContext.setJobGroup(x, x, false)
        case _ => if (traced) spark.sparkContext.clearJobGroup()
      }
      paused += System.nanoTime() - t0
    }
  }

  var attempted = 0L
  var failed = 0L
  /** Whether passes run their correctness checks (the warm-up does not). */
  var checks = true

  /** Records one check result; a failed check prints why and counts. */
  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"CHECK FAILED $name $detail")
    }
    ok
  }

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var pass = -1
  private var open = Map.empty[Int, (String, Int, Long)]

  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val id = spans.size + open.size
      val parent = stack.headOption.getOrElse(-1)
      open += id -> ((name, parent, now))
      stack = id :: stack
      try body
      finally {
        val (n, p, s) = open(id)
        open -= id
        stack = stack.tail
        spans += Span(id, n, p, pass, s, now)
      }
    }

  private var currentLayer: String = null
  val planNs = mutable.HashMap.empty[(Int, String), Long]

  def layer[T](name: String)(body: => T): T = {
    attempted += 1
    if (traced) spark.sparkContext.setJobGroup(name, name, false)
    currentLayer = name
    try span(name)(body)
    catch { case e: Throwable => failed += 1; throw e }
    finally {
      currentLayer = null
      if (traced) spark.sparkContext.clearJobGroup()
    }
  }

  /** Materializes a layer's output at its boundary (an eager local
    * checkpoint). When tracing, the physical plan is forced first and its
    * planning time charged to the layer. */
  def cut(df: DataFrame): DataFrame = { plan(df); df.localCheckpoint() }

  def plan(df: DataFrame): Unit = if (traced && currentLayer != null) {
    val t0 = now
    df.queryExecution.executedPlan
    val k = (pass, currentLayer)
    planNs(k) = planNs.getOrElse(k, 0L) + (now - t0)
  }

  // ---- traced passes --------------------------------------------------

  /** Per traced pass: the listener that saw it and its layer counts. */
  val passListeners = mutable.HashMap.empty[Int, LayerListener]
  val counts = mutable.HashMap.empty[(Int, String), Double]

  def count(name: String, v: Double): Unit =
    if (traced) counts((pass, name)) = counts.getOrElse((pass, name), 0.0) + v

  def beginPass(p: Int, trace: Boolean): Unit = {
    pass = p
    traced = trace
    if (traced) {
      val l = new LayerListener
      passListeners(p) = l
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l)
    }
  }

  def endPass(): Unit = if (traced) {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val l = passListeners(pass)
    spark.sparkContext.removeSparkListener(l)
    spark.listenerManager.unregister(l)
  }

  /** Self time per (pass, span name): duration minus child coverage. */
  def selfTimes: Map[(Int, String), Double] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.end - c.start).sum }
    spans.groupBy(s => (s.pass, s.name)).map { case (k, ss) =>
      k -> ss.map(s => (s.end - s.start - childNs.getOrElse(s.id, 0L)) / 1e9).sum
    }
  }

  def writeSpans(f: java.io.File): Unit = {
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.sortBy(_.start).foreach { s =>
      w.println(s"""{"run":"$runId","pass":${s.pass},"id":${s.id},"name":"${s.name}",""" +
        s""""parent":${s.parent},"start_ns":${s.start},"end_ns":${s.end}}""")
    } finally w.close()
  }
}
