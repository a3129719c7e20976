package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types.StringType
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Listener totals for one attribution key (a phase, a span or a query run). */
final class Totals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runNs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "run_s" -> runNs / 1e9, "cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
    "shuffle_write_mb" -> shuffleWriteBytes / 1e6, "spill_mb" -> spillBytes / 1e6)
}

/** Local properties the harness sets on the client thread; every job it
  * submits carries them, so the listener can attribute the job's work. */
object Props {
  val Phase = "perfbench.phase"
  val Span = "perfbench.span"
  val Run = "perfbench.run"
}

/** One SparkListener for the whole run. Job, stage and task totals are
  * attributed by phase, by innermost span and by query run; task run
  * times are kept per stage for the traced scan-skew probe; RDD block
  * updates give the peak of cached and checkpointed bytes. */
final class Probe extends SparkListener {
  private case class JobTag(phase: String, span: String, run: String)

  private val jobTags = new ConcurrentHashMap[Int, JobTag]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val byPhase = new ConcurrentHashMap[String, Totals]()
  val bySpan = new ConcurrentHashMap[String, Totals]()
  val byRun = new ConcurrentHashMap[String, Totals]()
  /** stage id -> task run times (ms), only for stages of spans named in [[keepStagesOf]]. */
  val stageTasks = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  /** span -> ids of its jobs' stages, in submission order */
  val spanStages = new ConcurrentHashMap[String, mutable.ArrayBuffer[Int]]()
  @volatile var keepStagesOf: String => Boolean = _ => false

  private val blocks = new ConcurrentHashMap[String, Long]()
  @volatile private var blockBytes = 0L
  @volatile var blockPeak = 0L

  private def totals(m: ConcurrentHashMap[String, Totals], k: String): Totals =
    if (k == null) null else m.computeIfAbsent(k, _ => new Totals)

  private def each(t: JobTag)(f: Totals => Unit): Unit =
    Seq(totals(byPhase, t.phase), totals(bySpan, t.span), totals(byRun, t.run))
      .filter(_ != null).foreach(x => x.synchronized(f(x)))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    def prop(k: String) = if (p == null) null else p.getProperty(k)
    val tag = JobTag(Option(prop(Props.Phase)).getOrElse("other"), prop(Props.Span), prop(Props.Run))
    jobTags.put(e.jobId, tag)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    if (tag.span != null && keepStagesOf(tag.span))
      spanStages.computeIfAbsent(tag.span, _ => mutable.ArrayBuffer.empty[Int])
        .synchronized { spanStages.get(tag.span) ++= e.stageIds.sorted }
    each(tag)(_.jobs += 1)
  }

  private def tagOfStage(stageId: Int): Option[JobTag] =
    Option(stageJob.get(stageId)).flatMap(j => Option(jobTags.get(j)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    tagOfStage(e.stageInfo.stageId).foreach(each(_)(_.stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    tagOfStage(e.stageId).foreach { tag =>
      each(tag) { t =>
        t.tasks += 1
        t.runNs += m.executorRunTime * 1000000L
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.diskBytesSpilled
      }
      if (tag.span != null && keepStagesOf(tag.span))
        stageTasks.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
          .synchronized { stageTasks.get(e.stageId) += m.executorRunTime }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case id: RDDBlockId =>
        val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        synchronized {
          val old = Option(blocks.get(id.name)).getOrElse(0L)
          if (now > 0) blocks.put(id.name, now) else blocks.remove(id.name)
          blockBytes += now - old
          blockPeak = math.max(blockPeak, blockBytes)
        }
      case _ =>
    }
  }

  def phase(name: String): Totals = Option(byPhase.get(name)).getOrElse(new Totals)
  def span(name: String): Totals = Option(bySpan.get(name)).getOrElse(new Totals)
}

/** Plan counters from every successful query execution (traced run). */
final class PlanProbe extends QueryExecutionListener {
  @volatile var counting = false
  var executions = 0L
  var planningMs = 0.0
  var jqExtractAnalyzed = 0L
  var jqExtractOptimized = 0L
  var stringParses = 0L

  private def exprs(p: LogicalPlan): Seq[Expression] =
    p.collectWithSubqueries { case n => n.expressions.flatMap(_.collect { case e => e }) }.flatten

  private def isJq(e: Expression): Boolean = e match {
    case _: graft.jq.JqExtract | _: graft.jq.JqDocs | _: graft.jq.JqEval |
         _: graft.jq.JqMulti | _: graft.jq.JqEvalMeta => true
    case _ => false
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (counting) synchronized {
      executions += 1
      planningMs += Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
      jqExtractAnalyzed += exprs(qe.analyzed).count(_.isInstanceOf[graft.jq.JqExtract])
      val opt = exprs(qe.optimizedPlan)
      jqExtractOptimized += opt.count(_.isInstanceOf[graft.jq.JqExtract])
      stringParses += opt.count(e => isJq(e) && e.children.exists(_.dataType == StringType))
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** One finished span: times are ns since the tracer started. */
final case class SpanRec(name: String, startNs: Long, endNs: Long, parent: String, query: String)

/** Named spans, set as a SparkContext local property so every job the
  * span submits is attributed to it. Records are kept only when tracing. */
final class Tracer(val enabled: Boolean) {
  val records = mutable.ArrayBuffer.empty[SpanRec]
  private val origin = System.nanoTime()
  private var stack: List[String] = Nil
  var sc: SparkContext = _
  var query: String = null

  def apply[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val parent = stack.headOption.orNull
      stack = name :: stack
      sc.setLocalProperty(Props.Span, name)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        records += SpanRec(name, t0 - origin, t1 - origin, parent, query)
        stack = stack.tail
        sc.setLocalProperty(Props.Span, stack.headOption.orNull)
      }
    }

  /** Total wall seconds and call count of the spans named `name`. */
  def wall(name: String): (Double, Int) = {
    val rs = records.filter(_.name == name)
    (rs.map(r => r.endNs - r.startNs).sum / 1e9, rs.size)
  }
}
