package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.WholeStageCodegenExec

import graft.Q
import graft.functions.{Scalars, Sketches, Udx}
import graft.operators._
import graft.sources.{Bucketing, BuildTimer, SourcesSinks}
import graft.streaming.StreamQueries

/** Benchmark harness. Drives the program only through `SparkEntry.queries`,
  * `SparkEntry.oracleSql`, each module's `X.all` and `sources.BuildTimer`.
  *
  *   Harness catalog <out.json>   query -> owning module + DuckDB oracle SQL
  *   Harness run <spec.tsv>       run one workload JVM (see perfbench/run.py)
  */
object Harness {
  val modules: Seq[(String, Seq[Q])] = Seq(
    "Relational" -> Relational.all, "Aggregates" -> Aggregates.all,
    "Windows" -> Windows.all, "Scalars" -> Scalars.all,
    "StreamQueries" -> StreamQueries.all, "Llm" -> Llm.all, "Udx" -> Udx.all,
    "Multimodal" -> Multimodal.all, "SourcesSinks" -> SourcesSinks.all,
    "Skew" -> Skew.all, "Bucketing" -> Bucketing.all,
    "Sketches" -> Sketches.all, "Layout" -> Layout.all,
    "Analytics" -> Analytics.all)

  lazy val owner: Map[String, String] =
    modules.flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap

  def main(args: Array[String]): Unit = args.toList match {
    case "catalog" :: out :: Nil => catalog(out)
    case "run" :: spec :: Nil => new Run(Spec.load(spec)).apply()
    case _ =>
      System.err.println("usage: Harness catalog <out.json> | Harness run <spec.tsv>")
      sys.exit(2)
  }

  def catalog(out: String): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    val body = graft.SparkEntry.queries.keys.toSeq.sorted.map { q =>
      s"${Json.str(q)}: {${Json.kv("module", owner.getOrElse(q, "?"))}, " +
        s"${Json.str("oracle")}: ${oracle.get(q).map(Json.str).getOrElse("null")}}"
    }
    Files.write(Paths.get(out), body.mkString("{\n", ",\n", "\n}\n").getBytes(UTF_8))
  }
}

/** The run spec written by run.py: `key<TAB>value` lines and
  * `step<TAB>query<TAB>inputDir` lines, indexed in order.
  */
final case class Step(query: String, dir: String)

final case class Spec(kv: Map[String, String], steps: Vector[Step]) {
  def apply(k: String): String = kv(k)
  def int(k: String): Int = kv(k).toInt
  def flag(k: String): Boolean = kv.get(k).contains("1")
}

object Spec {
  def load(path: String): Spec = {
    val lines = Files.readAllLines(Paths.get(path), UTF_8).asScala.map(_.split("\t", -1).toList)
    Spec(
      lines.collect { case k :: v :: Nil => k -> v }.toMap,
      lines.collect { case "step" :: q :: d :: Nil => Step(q, d) }.toVector)
  }
}

/** One timed query call. Times are System.nanoTime stamps. */
final class Call(val id: Int, val client: Int, val step: Step, val warm: Boolean) {
  var issued, constructed, planned, done = 0L
  var ok = false
  var err: String = null
  var digest = ""
  var head = ""
  var rows = 0L
  var buildNs = 0L
  var planNodes, codegenStages = 0
  def latencyNs: Long = done - issued
}

final class Run(spec: Spec) {
  private val cores = spec.int("cores")
  private val clients = spec.int("clients")
  private val closed = spec("loop") == "closed"
  private val trace = spec.flag("trace")
  private val scratch = spec("scratch")
  private val queries = graft.SparkEntry.queries
  // wall-clock microseconds of a nanoTime stamp (Spark listener times are
  // wall-clock milliseconds)
  private val wall0Us = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  private def wallUs(nano: Long): Long = wall0Us + (nano - nano0) / 1000L

  private lazy val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
    .config("spark.local.dir", s"$scratch/local")
    .getOrCreate()

  def apply(): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def mark(what: String): Unit = System.err.println(
      s"[perfbench] $what at ${(System.currentTimeMillis() - jvmStart) / 1e3} s")
    mark("main")
    spark.sparkContext.setLogLevel("ERROR")
    mark("session")
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    // A closed loop (serve_mix) is warm: it runs every query it will issue
    // once, so stores are built and codegen compiled before READY. A batch
    // DAG is cold: it runs one generic job, so its first query does not
    // carry the first-job class loading alone.
    if (closed)
      runClients(spec.steps.indices.grouped(math.max(1, (spec.steps.size + clients - 1) / clients))
        .map(_.iterator).toVector, seen, record = false)
    else spark.range(1000000L).selectExpr("sum(id)").collect()
    mark("warm-up")
    val tracer = if (trace) Some(new Tracer) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val gc0 = gcMs()
    val setupBuildNs = BuildTimer.snapshot
    println("READY")
    System.out.flush()
    val plans =
      if (!spec.flag("work")) Vector.empty
      else if (closed) {
        val until = System.nanoTime() + (spec("window_s").toDouble * 1e9).toLong
        val shared = drawn(until)
        Vector.fill(clients)(shared)
      } else Vector(spec.steps.indices.iterator)
    val calls = runClients(plans, seen, record = true)
    val builds = Builds(setupBuildNs, BuildTimer.snapshot - setupBuildNs, clients)
    val gcS = (gcMs() - gc0) / 1e3
    tracer.foreach(_ => org.apache.spark.perfbench.Drain(spark.sparkContext))
    val traced = tracer.map(t => Layers(calls, t, cores, gcS, builds, spec("workload"), wallUs))
    traced.foreach { case (_, spans) => writeSpans(spans) }
    writeResult(calls, traced.map(_._1))
    spark.stop()
  }

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  /** Closed-loop requests, one sequence shared by all clients: seeded
    * shuffles of the whole mix, one after another, so every query is issued
    * about equally often whatever the seed and however short the window.
    * Requests are issued until the measurement window has passed. */
  private def drawn(until: Long): Iterator[Int] = {
    val rng = new scala.util.Random(s"${spec("seed")}/${spec("launch")}".hashCode)
    val cycles = Iterator.continually(rng.shuffle(spec.steps.indices.toVector)).flatten
    new Iterator[Int] {
      def hasNext: Boolean = System.nanoTime() < until
      def next(): Int = cycles.synchronized(cycles.next())
    }
  }

  /** Runs each client's steps on its own thread (closed loop: a client
    * issues its next query only when the previous result is complete). */
  private def runClients(plans: Vector[Iterator[Int]],
                         seen: java.util.Set[String], record: Boolean): Seq[Call] = {
    val ids = new AtomicInteger(0)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Call]()
    val threads = plans.zipWithIndex.map { case (steps, c) =>
      new Thread(() => steps.foreach { i =>
        val s = spec.steps(i)
        val call = new Call(ids.incrementAndGet(), c, s, warm = !seen.add(s.query))
        execute(call, record)
        if (record) out.add(call)
      }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    out.asScala.toSeq.sortBy(_.id)
  }

  private def execute(call: Call, record: Boolean): Unit = {
    val sc = spark.sparkContext
    def phase(p: String): Unit = if (trace && record) {
      sc.setLocalProperty(Tracer.CallKey, call.id.toString)
      sc.setLocalProperty(Tracer.PhaseKey, p)
    }
    val b0 = BuildTimer.snapshot
    call.issued = System.nanoTime()
    try {
      phase("construct")
      val df = queries(call.step.query)(spark, call.step.dir)
      call.constructed = System.nanoTime()
      phase("plan")
      df.queryExecution.executedPlan
      call.planned = System.nanoTime()
      phase("execute")
      val rows = df.collect()
      call.done = System.nanoTime()
      call.ok = true
      call.rows = rows.length
      call.buildNs = BuildTimer.snapshot - b0
      if (record) {
        call.digest = Digest(df.schema, rows)
        call.head = rows.take(2).map(r => r.toSeq.map(Digest.canon).mkString(" ")).mkString(" | ")
        if (trace) planStats(call, df)
      }
    } catch {
      case e: Throwable =>
        call.done = System.nanoTime()
        call.err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        System.err.println(s"[perfbench] ${call.step.query} failed: ${call.err}")
    } finally {
      sc.setLocalProperty(Tracer.CallKey, null)
      sc.setLocalProperty(Tracer.PhaseKey, null)
    }
  }

  /** Node and whole-stage-codegen counts of the final (post-AQE) plan. */
  private def planStats(call: Call, df: DataFrame): Unit = {
    def nodes(p: SparkPlan): Iterator[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case o => Iterator(o) ++ o.children.iterator.flatMap(nodes) ++
        o.subqueries.iterator.flatMap(nodes)
    }
    val all = nodes(df.queryExecution.executedPlan).toVector
    call.planNodes = all.size
    call.codegenStages = all.count(_.isInstanceOf[WholeStageCodegenExec])
  }

  private def writeSpans(spans: Seq[Span]): Unit = {
    val body = spans.map { s =>
      s"{${Json.kv("id", s.id)}, ${Json.kv("parent", s.parent)}, ${Json.kv("name", s.name)}, " +
        s"${Json.kv("start_us", s.startUs)}, ${Json.kv("end_us", s.endUs)}}"
    }
    Files.write(Paths.get(spec("spans")), body.mkString("[\n", ",\n", "\n]\n").getBytes(UTF_8))
  }

  private def writeResult(calls: Seq[Call], layers: Option[Map[String, Double]]): Unit = {
    val t0 = if (calls.isEmpty) 0L else calls.map(_.issued).min
    def s(n: Long) = (n - t0) / 1e9
    val cs = calls.map { c =>
      Seq(Json.kv("query", c.step.query), Json.kv("dir", c.step.dir),
        Json.kv("client", c.client), Json.kv("ok", c.ok),
        s"${Json.str("err")}: ${Option(c.err).map(Json.str).getOrElse("null")}",
        Json.kv("digest", c.digest), Json.kv("head", c.head.take(300)), Json.kv("rows", c.rows), Json.kv("warm", c.warm),
        Json.kv("issued_s", s(c.issued)), Json.kv("done_s", s(c.done))).mkString("{", ", ", "}")
    }
    val layerJson = layers.map(_.toSeq.sortBy(_._1).map { case (k, v) => Json.kv(k, v) }
      .mkString("{", ", ", "}")).getOrElse("null")
    val body = s"{${Json.kv("peak_rss_mb", peakRssMb())},\n" +
      s"${Json.str("layers")}: $layerJson,\n" +
      s"${Json.str("calls")}: ${cs.mkString("[\n", ",\n", "\n]")}}\n"
    Files.write(Paths.get(spec("out")), body.getBytes(UTF_8))
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** `sources.BuildTimer` readings of one JVM: its total at READY (store
  * builds in set-up) and its growth over the measured window. */
final case class Builds(setupNs: Long, windowNs: Long, clients: Int)

/** Per-layer metrics of one traced JVM, from the call records, the listener
  * totals and the span tree (workload -> query -> phase -> Spark job). */
object Layers {
  val Phases = Seq("construct", "plan", "execute")

  def spans(calls: Seq[Call], t: Tracer, workload: String,
            wallUs: Long => Long): Seq[Span] = {
    val ids = new AtomicInteger(1)
    val root = Span(1, 0, s"workload:$workload",
      wallUs(calls.map(_.issued).min), wallUs(calls.map(_.done).max))
    val jobsByCall = t.jobSpans.groupBy(_._1)
    root +: calls.flatMap { c =>
      val q = Span(ids.incrementAndGet(), root.id, s"query:${c.step.query}",
        wallUs(c.issued), wallUs(c.done))
      val bounds = Seq(c.issued, c.constructed, c.planned, c.done)
      val phases = Phases.zipWithIndex.map { case (p, i) =>
        Span(ids.incrementAndGet(), q.id, p, wallUs(bounds(i)),
          wallUs(math.max(bounds(i), bounds(i + 1))))
      }
      val jobs = jobsByCall.getOrElse(c.id, Nil).map { case (_, p, s, e) =>
        Span(ids.incrementAndGet(), phases(math.max(0, Phases.indexOf(p))).id,
          s"job:$p", s, e)
      }
      q +: (phases ++ jobs)
    }
  }

  def apply(calls: Seq[Call], t: Tracer, cores: Int, gcS: Double, b: Builds,
            workload: String, wallUs: Long => Long): (Map[String, Double], Seq[Span]) = {
    val ok = calls.filter(c => c.ok)
    val all = if (ok.isEmpty) Nil else spans(ok, t, workload, wallUs)
    val children = all.groupBy(_.parent)
    def phase(p: String): (Double, Double) = {
      val ps = all.filter(_.name == p)
      (ps.map(s => s.endUs - s.startUs).sum / 1e6,
        ps.map(s => Tracer.selfUs(s, children.getOrElse(s.id, Nil))).sum / 1e6)
    }
    val k = t.callCounts.filter { case (id, _) => ok.exists(_.id == id) }.values
    def sum(f: Counts => Long): Double = k.map(f).sum.toDouble
    val windowS = if (ok.isEmpty) 1.0 else (ok.map(_.done).max - ok.map(_.issued).min) / 1e9
    val (cons, consSelf) = phase("construct")
    val (plan, planSelf) = phase("plan")
    val (exe, exeSelf) = phase("execute")
    val moduleWall = Harness.modules.map(_._1).map { m =>
      s"$m.wall_s" -> ok.filter(c => Harness.owner.get(c.step.query).contains(m))
        .map(_.latencyNs).sum / 1e9
    }
    // BuildTimer is one process-wide total, so a call's delta is its own
    // builds only when no other call runs beside it. Under concurrent
    // clients the window's growth is reported instead; every query was
    // warmed before READY, so any build in it is a warm rebuild, and as
    // concurrent builds cannot be told apart the counts are 0 or 1.
    val (buildS, builds, rebuilds) =
      if (b.clients == 1)
        (ok.map(_.buildNs).sum / 1e9, ok.count(_.buildNs > 0), ok.count(c => c.warm && c.buildNs > 0))
      else {
        val any = if (b.windowNs > 0) 1 else 0
        (b.windowNs / 1e9, any, any)
      }
    val m = Map(
      "sources.scan_mb" -> sum(_.scanBytes) / 1e6,
      "sources.scan_rows" -> sum(_.scanRows),
      "sources.sink_write_mb" -> sum(_.sinkBytes) / 1e6,
      "sources.setup_build_s" -> b.setupNs / 1e9,
      "sources.store_build_s" -> buildS,
      "sources.store_builds" -> builds.toDouble,
      "sources.warm_rebuilds" -> rebuilds.toDouble,
      "operators.construct_s" -> cons,
      "operators.construct_self_s" -> consSelf,
      "operators.eager_jobs" -> sum(_.eagerJobs),
      "plans.plan_s" -> plan,
      "plans.plan_self_s" -> planSelf,
      "plans.plan_nodes" -> ok.map(_.planNodes).sum.toDouble,
      "plans.codegen_stages" -> ok.map(_.codegenStages).sum.toDouble,
      "exec.execute_s" -> exe,
      "exec.execute_self_s" -> exeSelf,
      "exec.jobs" -> sum(_.jobs),
      "exec.tasks" -> sum(_.tasks),
      "exec.task_cpu_s" -> sum(_.cpuNs) / 1e9,
      "exec.sched_delay_s" -> sum(_.schedMs) / 1e3,
      "exec.gc_s" -> gcS,
      "exec.shuffle_read_mb" -> sum(_.shuffleRead) / 1e6,
      "exec.shuffle_write_mb" -> sum(_.shuffleWrite) / 1e6,
      "exec.spill_mb" -> sum(_.spill) / 1e6,
      "exec.failed_tasks" -> sum(_.failedTasks),
      "exec.slot_busy_frac" -> sum(_.runMs) / 1e3 / (windowS * cores),
      "trace.spans" -> all.size.toDouble,
      "trace.queries" -> ok.size.toDouble) ++ moduleWall
    (m, all)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def kv(k: String, v: Any): String = str(k) + ": " + (v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case other => other.toString
  })
}
