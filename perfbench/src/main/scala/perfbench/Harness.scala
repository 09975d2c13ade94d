package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow, XXH64}

import graft.SparkEntry

/** The JVM side of the benchmark: one driver at `local[cores]` runs a
  * workload's queries back to back as a closed loop with one client. It
  * sets up the session once, then runs one cold pass, which writes every
  * query's result for the oracle check, one warm-up pass, and measured
  * warm passes until `seconds` have passed since the cold pass began (at
  * least `MinWarmPasses`). Raw measurements go to `<work>/raw.json`;
  * `run.py` turns them into metrics.
  *
  * Each step is a call into the library's public surface — the query's
  * `SparkEntry.queries` closure, then the action that materialises every
  * output row (in warm passes an order-free digest over
  * `queryExecution.toRdd`, in the cold pass a parquet write) — with
  * the same boundary hygiene as `graft.Bench` between steps. When the mix
  * holds q65, each of its executions is followed by the corpus write. With
  * `trace=1`, every second measured warm pass is traced: layer counters, SQL
  * metrics of the executed plans and spans are recorded, and the untraced
  * passes around it give the time the tracing overhead is measured against.
  *
  * Usage: Harness key=value... (data, work, queries, tables, cores,
  * seconds, trace)
  */
object Harness {
  private val Q65 = "q65_dedup_keep_one"
  val WriteStep = "sink_write_q65"
  /** Measured warm passes a run makes at least (a traced run: 3, so that
    * untraced passes bracket its traced one). */
  val MinWarmPasses = 2

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  final case class Step(query: String, wallS: Double, apiS: Double, ok: Boolean,
                        error: String, digest: String, rows: Long)

  private def failed(q: String, e: Throwable): Step = {
    System.err.println(s"[perfbench] $q failed: ${e.getClass.getName}: ${e.getMessage}")
    Step(q, 0, 0, ok = false, s"${e.getClass.getName}: ${e.getMessage}", "", -1)
  }

  def main(args: Array[String]): Unit = {
    val a = args.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val data = a("data"); val work = a("work")
    val queries = a("queries").split(',').toSeq.filter(_.nonEmpty)
    val tables = a("tables").split(',').toSeq.filter(_.nonEmpty)
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val writeStep = queries.contains(Q65)
    // warm pass 1 is a warm-up: the JIT is still compiling the hot paths
    // the cold pass found, so it is recorded but not measured
    val minWarm = 1 + (if (trace) 3 else MinWarmPasses)
    Files.createDirectories(Paths.get(work))
    val unknown = queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    // ---- set-up: process start until the session is ready and the
    // inputs are registered ----------------------------------------------
    val procStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = session(cores, work)
    val inputRows = tables.map { t =>
      val df = spark.read.parquet(s"$data/$t.parquet")
      df.createOrReplaceTempView(t)
      df.count()
    }.sum
    val setupS = (nowMs() - procStart) / 1e3
    val sc = spark.sparkContext
    val rec = new Recorder(() => nowMs())
    sc.addSparkListener(rec)
    spark.listenerManager.register(rec)

    // post-GC heap, from the collectors' own notifications
    @volatile var heapArmed = false
    val heapPeak = new java.util.concurrent.atomic.AtomicLong(0)
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: javax.management.NotificationEmitter =>
        em.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (heapArmed && n.getType == com.sun.management.GarbageCollectionNotificationInfo
              .GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
            heapPeak.accumulateAndGet(used, (x: Long, y: Long) => math.max(x, y))
          }
        }, null, null)
      case _ =>
    }

    val spans = mutable.ArrayBuffer.empty[Span]
    var nextId = 0
    def spanId(traced: Boolean): Int = if (traced) { nextId += 1; nextId } else -1
    def phase(name: String, pass: Int, q: String, exec: Int, spanId: Int): Unit = {
      sc.setLocalProperty("perfbench.phase", name)
      sc.setLocalProperty("perfbench.query", q)
      sc.setLocalProperty("perfbench.pass", pass.toString)
      sc.setLocalProperty("perfbench.exec", exec.toString)
      sc.setLocalProperty("perfbench.span", spanId.toString)
    }
    def drainAndBucket(): Unit = {
      PerfbenchBus.drain(sc)
      rec.takeEager().foreach { qe =>
        PlanLayers.bucket(qe.executedPlan, rec.cur)
        rec.cur.add("plan.catalyst_s", PlanLayers.catalystS(qe))
      }
    }
    def gcS(): Double =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
    def compiles(): Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def compileS(): Double =
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e9

    var execId = 0
    val sinkRoot = s"$work/sink"

    /** The corpus write: q65's kept documents through `Sink.writeShards`
      * into a fresh directory, while q65's checkpoints are still pinned. */
    def write(q65: DataFrame, pass: Int, traced: Boolean, root: Int, exec: Int): Step = {
      val t0 = nowMs()
      val wid = spanId(traced)
      phase("write", pass, WriteStep, exec, wid)
      val r = try {
        val kept = spark.table("documents").join(q65, Seq("doc_id"), "left_semi")
        graft.scale.Sink.writeShards(kept, s"$sinkRoot/p$pass", Seq("lang"),
          Seq("doc_id"), filesPerPartition = 2)
        Step(WriteStep, 0, 0, ok = true, "", "", -1)
      } catch { case e: Throwable => failed(WriteStep, e) }
      val t1 = nowMs()
      if (traced) {
        spans += Span(wid, root, "write", WriteStep, pass, exec, t0, t1)
        rec.cur.add("output.write_s", (t1 - t0) / 1e3)
        drainAndBucket()
      }
      r.copy(wallS = (t1 - t0) / 1e3)
    }

    /** One query: its public closure, then the action; in the corpus
      * workload q65 is followed by the write. Never throws. */
    def step(q: String, pass: Int, traced: Boolean): Seq[Step] = {
      execId += 1
      val exec = execId
      val g0 = gcS(); val t0 = nowMs()
      val root = spanId(traced)
      var apiS = 0.0
      var df: DataFrame = null
      val r = try {
        phase("api", pass, q, exec, root)
        df = SparkEntry.queries(q)(spark, data)
        val t1 = nowMs(); apiS = (t1 - t0) / 1e3
        if (traced) {
          spans += Span(spanId(traced), root, "api", q, pass, exec, t0, t1)
          drainAndBucket()
        }
        val t2 = nowMs()
        val aid = spanId(traced)
        phase("action", pass, q, exec, aid)
        // the cold pass is a one-shot job: it writes its result, which is
        // what the oracle checks; warm passes digest every output row
        val (dg, rows) =
          if (pass == 0) { df.write.parquet(s"$work/check/$q"); ("", -1L) }
          else digest(df)
        val t3 = nowMs()
        if (traced) {
          spans += Span(aid, root, "action", q, pass, exec, t2, t3)
          rec.cur.add("sched.action_wall_s", (t3 - t2) / 1e3)
          rec.cur.add("output.rows", math.max(rows, 0L).toDouble)
          drainAndBucket()
          PlanLayers.bucket(df.queryExecution.executedPlan, rec.cur)
          rec.cur.add("plan.catalyst_s", PlanLayers.catalystS(df.queryExecution))
        }
        Step(q, 0, apiS, ok = true, "", dg, rows)
      } catch { case e: Throwable => df = null; failed(q, e).copy(apiS = apiS) }
      val t8 = nowMs()
      val w = if (writeStep && q == Q65 && df != null) Seq(write(df, pass, traced, root, exec))
        else Nil
      val t9 = nowMs()
      if (traced) {
        spans += Span(root, -1, "query", q, pass, exec, t0, t9)
        rec.cur.add("api.plan_s", apiS)
        rec.cur.add("jvm.gc_s", gcS() - g0)
        val (n, bytes) = rec.takePinned()
        rec.cur.add("pinned.checkpoints", n); rec.cur.add("pinned.bytes", bytes.toDouble)
      }
      sc.setLocalProperty("perfbench.phase", "hygiene")
      // boundary hygiene, as graft.Bench: free this step's checkpoints and
      // let the cleaner drop dead shuffles before the next step starts
      graft.core.Pinned.release(blocking = true)
      System.gc()
      r.copy(wallS = (t8 - t0) / 1e3) +: w
    }

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    def runPass(pass: Int, traced: Boolean): Unit = {
      PerfbenchBus.drain(sc)
      rec.tracing = traced
      rec.cur.reset()
      val cpu0 = rec.cpuNs.get; val cg0 = compiles(); val cgs0 = compileS()
      val t0 = nowMs()
      val done = queries.flatMap(step(_, pass, traced))
      val elapsed = (nowMs() - t0) / 1e3
      PerfbenchBus.drain(sc)
      rec.tracing = false
      if (traced) spans ++= rec.takeJobSpans()
      passes += Map("pass" -> pass, "cold" -> (pass == 0), "warmup" -> (pass == 1),
        "traced" -> traced,
        "wall_s" -> done.map(_.wallS).sum, "elapsed_s" -> elapsed,
        "cpu_s" -> (rec.cpuNs.get - cpu0) / 1e9,
        "compiles" -> (compiles() - cg0), "compile_s" -> (compileS() - cgs0),
        "layers" -> (if (traced) rec.cur.m.toMap else Map.empty),
        "steps" -> done.map(s => Map("query" -> s.query, "wall_s" -> s.wallS,
          "api_s" -> s.apiS, "ok" -> s.ok, "error" -> s.error,
          "digest" -> s.digest, "rows" -> s.rows)))
    }

    val tRun = nowMs()
    val marks = mutable.LinkedHashMap("setup_done" -> (tRun - procStart) / 1e3)
    runPass(0, traced = false)
    marks("cold_done") = (nowMs() - procStart) / 1e3
    settleJit()
    marks("jit_settled") = (nowMs() - procStart) / 1e3
    heapArmed = true
    var p = 1
    while (p <= minWarm || (nowMs() - tRun) / 1e3 < seconds) {
      runPass(p, traced = trace && p % 2 == 1 && p > 1)
      p += 1
    }
    heapArmed = false
    marks("warm_done") = (nowMs() - procStart) / 1e3

    // ---- output check input (untimed): the cold pass wrote each result
    // for the DuckDB oracle; its read-back digest must equal every warm
    // pass's digest
    val check = queries.map { q =>
      q -> (try {
        val (dg, rows) = digest(spark.read.parquet(s"$work/check/$q"))
        Map("ok" -> true, "digest" -> dg, "rows" -> rows, "error" -> "")
      } catch { case e: Throwable =>
        Map("ok" -> false, "digest" -> "", "rows" -> -1L,
          "error" -> s"${e.getClass.getName}: ${e.getMessage}")
      })
    }.toMap
    // each pass's shards must read back as many rows as q65 kept
    val sinkCheck = if (!writeStep) Nil else (0 until p).map { pass =>
      val got = try spark.read.parquet(s"$sinkRoot/p$pass").count()
        catch { case _: Throwable => -1L }
      Map("pass" -> pass, "expected" -> check.get(Q65).fold(-1L)(_("rows").asInstanceOf[Long]),
        "read_back" -> got)
    }
    val oracle = queries.map(q => q -> SparkEntry.oracleSql.getOrElse(q, "")).toMap

    val families = Kernels.usedBy(queries)
    val expr = if (trace && families.nonEmpty) Kernels.time(Kernels.events(spark, data), families)
      else Map.empty[String, Double]

    marks("done") = (nowMs() - procStart) / 1e3
    val self = Spans.selfTimes(spans.toSeq)
    val selfByName = spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => self(s.id)).sum / 1e3 }
    if (trace) Files.writeString(Paths.get(s"$work/spans.json"), Json(spans.map(s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "query" -> s.query,
        "pass" -> s.pass, "exec" -> s.exec, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "self_ms" -> self(s.id)))))

    Files.writeString(Paths.get(s"$work/raw.json"), Json(Map(
      "cores" -> cores, "heap_max_mb" -> (Runtime.getRuntime.maxMemory >> 20),
      "setup_s" -> setupS, "input_rows" -> inputRows,
      "peak_heap_mb" -> heapPeak.get / 1048576.0,
      "passes" -> passes, "check" -> check, "sink_check" -> sinkCheck,
      "oracle_sql" -> oracle, "expr" -> expr, "span_self_s" -> selfByName,
      "marks_s" -> marks)))
    spark.stop()
  }

  /** Waits (up to 5 s) until the JIT compiler has been idle for 300 ms,
    * so background compilation of the cold pass's hot code does not
    * compete with the warm passes for the cores. */
  def settleJit(): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime()
    var last = jit.getTotalCompilationTime
    var idle = 0
    while (idle < 3 && System.nanoTime() - t0 < 5e9) {
      Thread.sleep(100)
      val now = jit.getTotalCompilationTime
      if (now - last < 5) idle += 1 else idle = 0
      last = now
    }
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // as graft.Bench: keep every generated class of the mix cached, so
      // warm passes never recompile
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // as graft.Bench: a straggler task-end racing the GC of a discarded
    // checkpoint plan logs a harmless accumulator error with a stack trace
    Seq("org.apache.spark.scheduler.DAGScheduler",
      "org.apache.spark.util.AccumulatorContext").foreach(l =>
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        l, org.apache.logging.log4j.Level.FATAL))
    s
  }

  /** Order-free digest of every output row plus the row count; computing
    * it materialises each row of the executed plan. */
  def digest(df: DataFrame): (String, Long) = {
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      lazy val proj = UnsafeProjection.create(schema)
      var h = 0L; var n = 0L
      it.foreach { r =>
        val u = r match { case u: UnsafeRow => u; case o => proj(o) }
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        n += 1
      }
      Iterator((h, n))
    }.collect()
    (f"${parts.map(_._1).sum}%016x", parts.map(_._2).sum)
  }
}

/** Minimal JSON writer for the raw artifact. */
object Json {
  def apply(x: Any): String = x match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, v) => quote(k.toString) + ":" + apply(v) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o => quote(o.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
