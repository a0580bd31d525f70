package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.WriteFilesExec
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SparkInternals
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval of one op; epoch microseconds. `parent` is -1 for an
  * op's root span. */
final case class Span(id: Long, parent: Long, op: Long, name: String, layer: String,
                      startUs: Long, endUs: Long)

/** One physical operator of an executed plan. `module` is the repo module
  * that built the operator's expressions (from Spark's DataFrame call-site
  * origins), `metrics` its SQL metrics with timings in seconds. */
final case class PlanNode(id: Int, parent: Int, name: String, module: String, codegenStage: Int,
                          metrics: Map[String, Double], pushedFilters: Int, format: String,
                          root: String)

final case class QueryRec(execId: Long, funcName: String, durationS: Double,
                          phases: Map[String, (Long, Long)], nodes: Seq[PlanNode]) {
  def startUs: Long = phases.values.map(_._1).minOption.getOrElse(0L)
}

final class StageRec(val stageId: Int) {
  var op: Long = -1
  var execId: Long = -1
  var scopes: Set[String] = Set.empty
  /** Repo module of the call that submitted the stage (from its call site). */
  var caller: String = ""
  var tasks = 0
  var busyS, gcS, delayS = 0.0
  var shuffleWrite, shuffleRead, spill, peakMem = 0L
}

final case class JobRec(jobId: Int, op: Long, startUs: Long, endUs: Long, stageIds: Seq[Int])

/** Benchmark-side tracing: spans around the program's public calls, plus
  * Spark's own listeners for jobs, stages, tasks and executed plans. Nothing
  * here runs inside the program; when inactive, [[span]] is a plain call.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val baseNano = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNano) / 1000L

  @volatile private var active = false
  private var spanSeq = 0L
  private var stack: List[Span] = Nil
  private var currentOp = -1L
  val spans = ArrayBuffer[Span]()

  private val jobs = mutable.Map[Int, JobRec]()
  private val stages = mutable.Map[Int, StageRec]()
  private val queries = ArrayBuffer[(QueryExecution, QueryRec)]()
  private val execTimes = mutable.Map[Long, (Long, Long)]()
  private val execIds = new java.util.IdentityHashMap[QueryExecution, Long]()

  /** Time `body` as a span of `layer`; a no-op wrapper when inactive. */
  def span[A](name: String, layer: String)(body: => A): A =
    if (!active) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(-1L)
      spanSeq += 1
      val s0 = Span(spanSeq, parent, currentOp, name, layer, nowUs, 0L)
      stack = s0 :: stack
      try body
      finally {
        stack = stack.tail
        spans += s0.copy(endUs = nowUs)
      }
    }

  def op[A](id: Long, name: String)(body: => A): A = {
    currentOp = id
    try span(name, "op")(body) finally currentOp = -1
  }

  private def opOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Harness.OpProperty))).map(_.toLong).getOrElse(-1L)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = JobRec(e.jobId, opOf(e.properties), e.time * 1000L, -1L, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endUs = e.time * 1000L))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val s = stages.getOrElseUpdate(e.stageInfo.stageId, new StageRec(e.stageInfo.stageId))
      s.op = opOf(e.properties)
      s.execId = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      s.caller = e.stageInfo.details.linesIterator.map(_.trim.stripPrefix("at ").takeWhile(_ != '('))
        .find(_.startsWith("graft.")).map(Plans.moduleOfClass).getOrElse("")
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = stages.getOrElseUpdate(e.stageInfo.stageId, new StageRec(e.stageInfo.stageId))
      s.scopes ++= e.stageInfo.rddInfos.flatMap(_.scope.map(_.name))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val s = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId))
        val i = e.taskInfo
        s.tasks += 1
        s.busyS += m.executorRunTime / 1e3
        s.gcS += m.jvmGCTime / 1e3
        val gettingResult = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
        s.delayS += math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - gettingResult) / 1e3
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.diskBytesSpilled
        s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart => execTimes(s.executionId) = (s.time * 1000L, -1L)
        case s: SparkListenerSQLExecutionEnd =>
          execTimes.get(s.executionId).foreach(t => execTimes(s.executionId) = (t._1, s.time * 1000L))
          Option(SparkInternals.queryExecution(s)).foreach(execIds.put(_, s.executionId))
        case _ =>
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, durationNs / 1e9)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe, 0.0)
  }

  private def record(funcName: String, qe: QueryExecution, durationS: Double): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs * 1000L, p.endTimeMs * 1000L) }
    val rec = QueryRec(-1L, funcName, durationS, phases, Plans.nodes(qe.executedPlan))
    synchronized { queries += qe -> rec }
  }

  def install(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    active = true
  }

  def uninstall(): Unit = {
    drain()
    active = false
    spark.listenerManager.unregister(queryListener)
    sc.removeSparkListener(sparkListener)
  }

  def drain(): Unit = SparkInternals.drainListenerBus(sc)

  def opTraces(ops: Seq[OpRecord]): Seq[OpTrace] = synchronized {
    val roots = spans.filter(_.parent == -1L).map(s => s.op -> s).toMap
    val byOpSpans = spans.groupBy(_.op)
    val byOpJobs = jobs.values.groupBy(_.op)
    val byOpStages = stages.values.groupBy(_.op)
    val sortedRoots = roots.values.toSeq.sortBy(_.startUs)
    def opAt(us: Long): Long =
      // Spark stamps events in whole milliseconds
      sortedRoots.find(r => r.startUs - 1000L <= us && us <= r.endUs).map(_.op).getOrElse(-1L)
    val recs = queries.toSeq.map { case (qe, r) => r.copy(execId = if (execIds.containsKey(qe)) execIds.get(qe) else -1L) }
    val byOpQueries = recs.groupBy(q => opAt(execTimes.get(q.execId).map(_._1).getOrElse(q.startUs)))
    ops.flatMap(o => roots.get(o.id).map { r =>
      OpTrace(r, byOpSpans.getOrElse(o.id, Nil).filter(_.parent != -1L).toSeq,
        byOpJobs.getOrElse(o.id, Nil).toSeq, byOpStages.getOrElse(o.id, Nil).toSeq,
        byOpQueries.getOrElse(o.id, Nil).toSeq)
    })
  }

  /** All spans of the given ops, with Spark jobs and planning phases as
    * children of the innermost benchmark span that was open when they
    * started; plus each layer's self time (span minus its children). */
  def spanTree(traces: Seq[OpTrace]): (Seq[Span], Map[String, Double]) = {
    var seq = spanSeq
    val all = ArrayBuffer[Span]()
    traces.foreach { t =>
      val own = t.root +: t.calls
      def parentAt(us: Long): Long =
        own.filter(s => s.startUs <= us && us <= s.endUs).maxByOption(_.startUs).fold(t.root.id)(_.id)
      all ++= own
      t.queries.foreach(q => q.phases.toSeq.sortBy(_._2._1).foreach { case (ph, (a, b)) =>
        seq += 1; all += Span(seq, parentAt(a), t.root.op, s"plan.$ph", "plan", a, b)
      })
      t.jobs.filter(_.endUs > 0).foreach { j =>
        seq += 1; all += Span(seq, parentAt(j.startUs), t.root.op, s"job ${j.jobId}", "spark", j.startUs, j.endUs)
      }
    }
    val children = all.groupBy(_.parent)
    val self = mutable.Map[String, Double]().withDefaultValue(0.0)
    all.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startUs, k.endUs))
      self(s.layer) += ((s.endUs - s.startUs) - Intervals.covered(kids.toSeq, s.startUs, s.endUs)) / 1e6
    }
    (all.toSeq, self.toMap)
  }
}

/** Everything the tracer recorded for one op. */
final case class OpTrace(root: Span, calls: Seq[Span], jobs: Seq[JobRec], stages: Seq[StageRec],
                         queries: Seq[QueryRec]) {
  def wallS: Double = (root.endUs - root.startUs) / 1e6
  def planS(phase: String): Double = queries.flatMap(_.phases.get(phase)).map(p => (p._2 - p._1) / 1e6).sum
  def jobIntervals: Seq[(Long, Long)] = jobs.filter(_.endUs > 0).map(j => (j.startUs, j.endUs))
  def planIntervals: Seq[(Long, Long)] = queries.flatMap(_.phases.values)
  /** Op wall time outside every job and every planning phase. */
  def driverGapS: Double =
    wallS - Intervals.covered(jobIntervals ++ planIntervals, root.startUs, root.endUs) / 1e6
  def nodes: Seq[PlanNode] = queries.flatMap(_.nodes)
  /** Task busy seconds of each stage, split over the repo modules whose
    * operators ran in it (by operator count); stages with no attributed
    * operator count as "spark". */
  def moduleBusy: Map[String, Double] = {
    val byExec = queries.map(q => q.execId -> q.nodes).toMap
    val acc = mutable.Map[String, Double]().withDefaultValue(0.0)
    stages.foreach { s =>
      val ns = byExec.getOrElse(s.execId, Nil)
      val inStage = ns.filter { n =>
        (n.codegenStage >= 0 && s.scopes.contains(s"WholeStageCodegen (${n.codegenStage})")) ||
          (n.codegenStage < 0 && s.scopes.contains(n.name))
      }.filter(_.module.nonEmpty)
      if (inStage.isEmpty) acc(if (s.execId < 0 && s.caller.nonEmpty) s.caller else "spark") += s.busyS
      else inStage.groupBy(_.module).foreach { case (m, xs) => acc(m) += s.busyS * xs.size / inStage.size }
    }
    acc.toMap
  }
}

object Intervals {
  /** Microseconds of [lo, hi] covered by the union of `xs`. */
  def covered(xs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Executed-plan walk: flattens AQE stages, records each operator's SQL
  * metrics and the repo module that built its expressions. */
object Plans {
  def nodes(root: SparkPlan): Seq[PlanNode] = {
    val out = ArrayBuffer[PlanNode]()
    def visit(p: SparkPlan, parent: Int, cg: Int): Unit = p match {
      case a: AdaptiveSparkPlanExec => visit(a.executedPlan, parent, cg)
      case q: QueryStageExec => visit(q.plan, parent, -1)
      case _: ReusedExchangeExec => ()
      case i: InputAdapter => visit(i.child, parent, -1)
      case _ =>
        val id = out.size
        val stage = p match { case w: WholeStageCodegenExec => w.codegenStageId; case _ => cg }
        val metrics = p.metrics.map { case (k, m) =>
          k -> (m.metricType match {
            case "timing" => m.value / 1e3
            case "nsTiming" => m.value / 1e9
            case _ => m.value.toDouble
          })
        }
        val (pushed, format, rootPath) = p match {
          case s: FileSourceScanExec =>
            (topLevelItems(s.metadata.getOrElse("PushedFilters", "[]")),
              s.relation.fileFormat.toString, s.relation.location.rootPaths.headOption.fold("")(_.toString))
          case _ => (0, "", "")
        }
        out += PlanNode(id, parent, p.nodeName, moduleOf(p), if (p.isInstanceOf[WholeStageCodegenExec]) -1 else stage,
          metrics, pushed, format, rootPath)
        p.children.foreach(visit(_, id, stage))
        p.subqueries.foreach(visit(_, id, -1))
    }
    visit(root, -1, -1)
    out.toSeq
  }

  /** Sinks carry no expressions; they are the "sink" module. */
  private def isSink(p: SparkPlan): Boolean = p match {
    case _: DataWritingCommandExec | _: WriteFilesExec | _: V2TableWriteExec => true
    case _ => false
  }

  /** Majority repo module over the call-site origins of `p`'s expressions:
    * `graft.operators.Dedup$...` -> `operators.Dedup`. */
  def moduleOf(p: SparkPlan): String =
    if (isSink(p)) "sink"
    else {
      val mods = p.expressions.flatMap(_.collect { case e => e.origin.stackTrace }).flatten.flatMap { st =>
        st.iterator.map(_.getClassName).find(c => c.startsWith("graft.") && !c.startsWith("graft.functions."))
      }.map(moduleOfClass)
      if (mods.isEmpty) "" else mods.groupBy(identity).maxBy(_._2.size)._1
    }

  /** `graft.operators.Dedup$.method` -> `operators.Dedup`. */
  def moduleOfClass(c: String): String = {
    val parts = c.stripPrefix("graft.").split('.')
    val pkg = parts.takeWhile(p => p.nonEmpty && p.head.isLower)
    (pkg :+ parts.drop(pkg.length).headOption.getOrElse("").takeWhile(_ != '$')).mkString(".")
  }

  private def topLevelItems(s: String): Int = {
    val body = s.trim.stripPrefix("[").stripSuffix("]").trim
    if (body.isEmpty) 0
    else {
      var depth = 0
      var n = 1
      body.foreach {
        case '(' | '[' => depth += 1
        case ')' | ']' => depth -= 1
        case ',' if depth == 0 => n += 1
        case _ =>
      }
      n
    }
  }
}
