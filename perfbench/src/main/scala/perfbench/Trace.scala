package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Named per-layer sums for one window of execution (a phase, a query, a
  * pass). Every metric of [[Layers.names]] is present, zero if nothing
  * moved it. */
final class Layers {
  val m: mutable.LinkedHashMap[String, Double] =
    mutable.LinkedHashMap.from(Layers.names.map(_ -> 0.0))
  def add(k: String, v: Double): Unit = synchronized { m(k) = m(k) + v }
  def max(k: String, v: Double): Unit = synchronized { m(k) = math.max(m(k), v) }
  def reset(): Unit = synchronized { m.keys.foreach(m(_) = 0.0) }
}

object Layers {
  /** Raw sums the harness records; ratios are derived from them later. */
  val names: Seq[String] = Seq(
    "api.plan_s", "api.eager_jobs", "plan.catalyst_s",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.task_failures",
    "sched.action_task_s", "sched.action_wall_s",
    "scan.count", "scan.rows", "scan.bytes", "scan.s",
    "segment.rows_in", "segment.rows_out", "segment.rows_kept",
    "exchange.count", "exchange.write_bytes", "exchange.read_bytes",
    "exchange.write_s", "exchange.fetch_wait_s", "exchange.broadcast_count",
    "exchange.broadcast_bytes", "join.smj_count", "join.bhj_count",
    "join.rows_in", "join.rows_out",
    "agg.s", "sort.s", "stage.pipeline_s", "spill.bytes",
    "mem.peak_exec_bytes", "pinned.checkpoints", "pinned.bytes",
    "output.rows", "output.write_bytes", "output.write_s",
    "jvm.gc_s", "jvm.codegen_s", "jvm.codegen_warm_compiles")
}

/** One traced interval. Spans of one query execution share `exec`. */
final case class Span(id: Int, parent: Int, name: String, query: String,
                      pass: Int, exec: Int, startMs: Double, endMs: Double)

object Spans {
  /** Span duration minus the part of it that its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var curA = Double.NaN; var curB = Double.NaN
      iv.foreach { case (a, b) =>
        if (curA.isNaN || a > curB) {
          if (!curA.isNaN) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (!curA.isNaN) covered += curB - curA
      s.id -> ((s.endMs - s.startMs) - covered)
    }.toMap
  }
}

/** Collects what Spark reports about the jobs the harness starts: executor
  * CPU always (an end-to-end metric), and when `tracing` is on the
  * scheduler, task and storage counters of [[Layers]], job spans, and the
  * query executions that ran inside a public API call. Jobs are attributed
  * through the local properties the harness sets before each phase, so
  * the asynchronous event delivery cannot misplace them. */
final class Recorder(now: () => Double) extends SparkListener
    with QueryExecutionListener {
  val cpuNs = new AtomicLong(0)
  @volatile var tracing = false
  val cur = new Layers
  private val stagePhase = new java.util.concurrent.ConcurrentHashMap[Int, String]
  private val jobSpan = mutable.Map.empty[Int, (Int, String, Int, Int, Double)]
  private val jobSpans = mutable.ArrayBuffer.empty[Span]
  private val rddBytes = mutable.Map.empty[(Int, String), Long]
  private val eagerExecs = mutable.ArrayBuffer.empty[QueryExecution]
  private val ids = new java.util.concurrent.atomic.AtomicInteger(1 << 20)

  private def prop(p: java.util.Properties, k: String): String =
    Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val phase = prop(e.properties, "perfbench.phase")
    e.stageIds.foreach(stagePhase.put(_, phase))
    if (tracing) {
      cur.add("sched.jobs", 1)
      if (phase == "api") cur.add("api.eager_jobs", 1)
      val parent = prop(e.properties, "perfbench.span").toIntOption.getOrElse(-1)
      val exec = prop(e.properties, "perfbench.exec").toIntOption.getOrElse(-1)
      val pass = prop(e.properties, "perfbench.pass").toIntOption.getOrElse(-1)
      synchronized {
        jobSpan(e.jobId) = (parent, prop(e.properties, "perfbench.query"),
          pass, exec, now())
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (parent, q, pass, exec, t0) =>
      jobSpans += Span(ids.getAndIncrement(), parent, "job", q, pass, exec, t0, now())
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (tracing) cur.add("sched.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val tm = e.taskMetrics
    if (tm != null) cpuNs.addAndGet(tm.executorCpuTime)
    if (!tracing) return
    cur.add("sched.tasks", 1)
    if (e.reason != Success) cur.add("sched.task_failures", 1)
    if (tm == null) return
    val phase = stagePhase.getOrDefault(e.stageId, "")
    if (phase == "action") cur.add("sched.action_task_s", tm.executorRunTime / 1e3)
    cur.add("exchange.write_bytes", tm.shuffleWriteMetrics.bytesWritten.toDouble)
    cur.add("exchange.write_s", tm.shuffleWriteMetrics.writeTime / 1e9)
    cur.add("exchange.read_bytes", tm.shuffleReadMetrics.totalBytesRead.toDouble)
    cur.add("exchange.fetch_wait_s", tm.shuffleReadMetrics.fetchWaitTime / 1e3)
    cur.add("spill.bytes", tm.diskBytesSpilled.toDouble)
    cur.max("mem.peak_exec_bytes", tm.peakExecutionMemory.toDouble)
    if (phase == "write")
      cur.add("output.write_bytes", tm.outputMetrics.bytesWritten.toDouble)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    if (tracing) e.blockUpdatedInfo.blockId match {
      case RDDBlockId(rdd, split) if e.blockUpdatedInfo.storageLevel.isValid =>
        val b = e.blockUpdatedInfo
        synchronized { rddBytes((rdd, split.toString)) = b.memSize + b.diskSize }
      case _ =>
    }

  /** Pinned (persisted or checkpointed) RDDs and their bytes since the
    * last call. */
  def takePinned(): (Int, Long) = synchronized {
    val r = (rddBytes.keys.map(_._1).toSet.size, rddBytes.values.sum)
    rddBytes.clear(); r
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (tracing) synchronized { eagerExecs += qe }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def takeEager(): Seq[QueryExecution] = synchronized {
    val r = eagerExecs.toSeq; eagerExecs.clear(); r
  }
  def takeJobSpans(): Seq[Span] = synchronized {
    val r = jobSpans.toSeq; jobSpans.clear(); r
  }
}

/** Buckets the per-node SQL metrics of an executed physical plan into the
  * layers of [[Layers]]. With AQE the final plan, its query stages and
  * subqueries are walked; reused exchanges are not counted twice. */
object PlanLayers {
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _: ReusedExchangeExec | _: ReusedSubqueryExec => Nil
    case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
  }

  private def metric(p: SparkPlan, k: String): Double =
    p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)

  /** Rows a node produced: its own counter, else the nearest row-preserving
    * descendant's. */
  def rowsOut(p: SparkPlan): Double = p.metrics.get("numOutputRows") match {
    case Some(m) => m.value.toDouble
    case None => p match {
      case a: AdaptiveSparkPlanExec => rowsOut(a.executedPlan)
      case s: QueryStageExec => rowsOut(s.plan)
      case r: ReusedExchangeExec => rowsOut(r.child)
      case e: ShuffleExchangeExec if e.metrics.contains("shuffleRecordsWritten") =>
        metric(e, "shuffleRecordsWritten")
      case _ if p.children.size == 1 => rowsOut(p.children.head)
      case _ => 0.0
    }
  }

  /** Segment assignment: the explode that maps each row to its windows —
    * the `__seg_id` range explode of `graft.segment.Segmenter` or the
    * packed assignment kernels of the keyed path. Text shingle explodes
    * are not segments. */
  def isSegment(g: GenerateExec): Boolean =
    g.generatorOutput.exists(_.name.startsWith("__seg")) ||
      g.generator.exists(e => e.getClass.getName.startsWith("graft.expr.") &&
        Set("AssignPacked", "SegmentsPacked").contains(e.getClass.getSimpleName))

  /** The node under a chain of row-preserving wrappers. */
  private def below(p: SparkPlan): SparkPlan = p match {
    case x @ (_: ProjectExec | _: WholeStageCodegenExec | _: InputAdapter)
        if x.children.size == 1 => below(x.children.head)
    case o => o
  }

  def bucket(plan: SparkPlan, l: Layers): Unit = {
    val all = nodes(plan)
    val filteredSegs = mutable.Set.empty[GenerateExec]
    all.foreach {
      case f: FilterExec => below(f.child) match {
        case g: GenerateExec if isSegment(g) =>
          filteredSegs += g; l.add("segment.rows_kept", rowsOut(f))
        case _ =>
      }
      case _ =>
    }
    all.foreach {
      case s: FileSourceScanExec =>
        l.add("scan.count", 1); l.add("scan.rows", metric(s, "numOutputRows"))
        l.add("scan.bytes", metric(s, "filesSize"))
        l.add("scan.s", metric(s, "scanTime") / 1e3)
      case g: GenerateExec if isSegment(g) =>
        l.add("segment.rows_in", rowsOut(g.child))
        l.add("segment.rows_out", rowsOut(g))
        if (!filteredSegs.contains(g)) l.add("segment.rows_kept", rowsOut(g))
      case _: ShuffleExchangeExec => l.add("exchange.count", 1)
      case b: BroadcastExchangeExec =>
        l.add("exchange.broadcast_count", 1)
        l.add("exchange.broadcast_bytes", metric(b, "dataSize"))
      case j: SortMergeJoinExec =>
        l.add("join.smj_count", 1); join(j, l)
      case j: BroadcastHashJoinExec =>
        l.add("join.bhj_count", 1); join(j, l)
      case j: BinaryExecNode if j.getClass.getSimpleName.contains("Join") => join(j, l)
      case a: BaseAggregateExec => l.add("agg.s", metric(a, "aggTime") / 1e3)
      case s: SortExec => l.add("sort.s", metric(s, "sortTime") / 1e3)
      case w: WholeStageCodegenExec =>
        l.add("stage.pipeline_s", metric(w, "pipelineTime") / 1e3)
      case _ =>
    }
  }

  private def join(j: SparkPlan, l: Layers): Unit = {
    l.add("join.rows_in", j.children.map(rowsOut).sum)
    l.add("join.rows_out", rowsOut(j))
  }

  /** Analysis + optimisation + planning time of one query execution. */
  def catalystS(qe: QueryExecution): Double =
    qe.tracker.phases.values.map(_.durationMs).sum / 1e3
}
