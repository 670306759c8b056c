package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

import graft.analytics.Queries
import graft.pipeline.Pipeline

/** Closed-loop benchmark harness for one workload, run in one JVM.
  *
  * Every call into the program goes through a public function
  * (`Queries.qN`, `Pipeline.run`, `Pipeline.p3/p4/p5`) on the session
  * `graft.Bench.session` builds. Inside a call, work is attributed only
  * through listeners this harness registers (SQL executions, jobs,
  * stages, tasks, streaming progress), and only in the traced window.
  * Raw records go to `<out>/raw.json`; `perfbench/run.py` turns them
  * into metrics and spans.
  *
  * args: workload dataRoot outDir seed seconds trace(0|1) cpus setups warmupSeconds
  */
object Harness {

  /** One public call: `name` keys the oracle, `dir` the inputs it read. */
  final case class Call(name: String, dir: String, df: SparkSession => DataFrame)
  /** One user-visible operation: a card, a refresh, a curation cycle. */
  final case class Op(kind: String, calls: Seq[Call])

  trait Workload {
    def clients: Int
    /** Client `client`'s share of the cold first pass of a set-up. */
    def firstPass(client: Int): Seq[Op]
    /** Endless seeded op stream of one client in the timed window. */
    def stream(client: Int): Iterator[Op]
  }

  val Cards: Seq[String] = (1 to 17).map(i =>
    Queries.queries.keys.find(_.startsWith(s"q${i}_")).get)

  final class Dashboard(dir: String, seed: Long, val clients: Int) extends Workload {
    private def card(n: String) = Op(n, Seq(Call(n, dir, s => Queries.queries(n)(s, dir))))
    /** The first dashboard load: its cards dealt over the clients, as a
      * BI tool fires a dashboard's cards concurrently. */
    def firstPass(client: Int): Seq[Op] =
      Cards.indices.filter(_ % clients == client).map(i => card(Cards(i)))
    def stream(client: Int): Iterator[Op] = {
      val rng = new scala.util.Random(seed * 1009 + client)
      Iterator.continually(rng.shuffle(Cards)).flatten.map(card)
    }
  }

  /** The hourly tick of the lake: a medallion refresh into the SAME lake
    * dir (its serving history grows by append), then one curation cycle
    * over the next of six document variants. Six variants is more than
    * the dedup signature memo holds, so every cycle rebuilds it. */
  final class Lake(refreshDir: String, lake: String, docs: Seq[String], seed: Long)
      extends Workload {
    val clients = 1
    private val rotation = Iterator.continually(new scala.util.Random(seed).shuffle(docs)).flatten
    private def tick(d: String) = Op("tick", Seq(
      Call("p1_pipeline_e2e", refreshDir, s => Pipeline.run(s, refreshDir, lake)),
      Call("p5_stream_curation", d, s => Pipeline.p5StreamingCuration(s, d)),
      Call("p3_incremental_ingest", d, s => Pipeline.p3IncrementalIngest(s, d)),
      Call("p4_curation_pipeline", d, s => Pipeline.p4CurationPipeline(s, d))))
    def firstPass(client: Int): Seq[Op] = Seq(tick(rotation.next()))
    def stream(client: Int): Iterator[Op] = rotation.map(tick)
  }

  // ---- clocks: all records are epoch milliseconds (double) ----
  private val originMs = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()
  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6

  // ---- op / call records ----
  final case class CallRec(op: Long, name: String, dir: String, start: Double,
      end: Double, rows: Int, hash: Int, error: String)
  final case class OpRec(id: Long, kind: String, client: Int, phase: String,
      start: Double, end: Double, ok: Boolean, heapMb: Double)

  val opSeq = new AtomicLong(0)
  val ops = new ConcurrentLinkedQueue[OpRec]()
  val calls = new ConcurrentLinkedQueue[CallRec]()
  /** first result per (call, dir): the rows the oracle check compares */
  val firstResults = new java.util.concurrent.ConcurrentHashMap[(String, String), (StructType, Array[Row])]()
  /** first result hash per (call, dir): every repetition must match it */
  val firstHash = new java.util.concurrent.ConcurrentHashMap[(String, String), (Int, Int)]()

  @volatile var tracer: Option[Tracer] = None

  def runOp(s: SparkSession, op: Op, client: Int, phase: String): OpRec = {
    val id = opSeq.incrementAndGet()
    val sc = s.sparkContext
    tracer.foreach(_ => sc.addJobTag(s"perfbench-op-$id"))
    val t0 = nowMs
    var ok = true
    try op.calls.foreach { c =>
      val c0 = nowMs
      try {
        val df = c.df(s)
        val rows = df.collect()
        val c1 = nowMs
        val h = MurmurHash3.unorderedHash(rows.iterator.map(_.hashCode))
        val key = (c.name, c.dir)
        firstResults.putIfAbsent(key, (df.schema, rows))
        val first = firstHash.computeIfAbsent(key, _ => (h, rows.length))
        val same = first == ((h, rows.length))
        if (!same) ok = false
        calls.add(CallRec(id, c.name, c.dir, c0, c1, rows.length, h,
          if (same) null else "result hash differs from the first repetition"))
      } catch {
        case e: Throwable =>
          ok = false
          calls.add(CallRec(id, c.name, c.dir, c0, nowMs, -1, 0,
            s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"))
      }
    } finally tracer.foreach(_ => sc.removeJobTag(s"perfbench-op-$id"))
    val rec = OpRec(id, op.kind, client, phase, t0, nowMs, ok,
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0)
    ops.add(rec)
    tracer.foreach(_.afterOp(id))
    rec
  }

  /** Runs `body(c)` for every client on a thread of its own; returns when all have. */
  def eachClient(w: Workload)(body: Int => Unit): Unit = {
    val threads = (0 until w.clients).map { c =>
      val t = new Thread(() => body(c), s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
  }

  /** Closed loop: each client issues its next op only after the previous
    * one returned, and none that would end after the deadline if it took
    * as long as the previous one. A lake tick lasts most of ten seconds,
    * so without that the window would overrun by up to a tick. */
  def window(s: SparkSession, w: Workload, seconds: Double, phase: String): (Double, Double) = {
    val t0 = nowMs
    val deadline = t0 + seconds * 1000
    eachClient(w) { c =>
      val it = w.stream(c)
      var last = 0.0
      while (nowMs + last < deadline) {
        val r = runOp(s, it.next(), c, phase)
        last = r.end - r.start
      }
    }
    (t0, nowMs)
  }

  def jvmSample(): Map[String, Double] = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
    Map("gc_ms" -> gc.map(_.getCollectionTime.max(0L)).sum.toDouble,
      "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble)
  }

  def newSession(cpus: Int): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    graft.Bench.session(cpus.toString)
  }

  // ---------------------------------------------------------------------
  def main(args: Array[String]): Unit = {
    val Array(workload, dataRoot, outDir, seedS, secondsS, traceS, cpusS, setupsS, warmupS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cpus = cpusS.toInt
    val out = new File(outDir); out.mkdirs()
    val w: Workload = workload match {
      case "dashboard" => new Dashboard(s"$dataRoot/base", seed, cpus)
      case "lake" => new Lake(s"$dataRoot/base", s"$outDir/lake",
        (0 until 6).map(i => s"$dataRoot/docs$i"), seed)
    }
    val procStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    // ---- set-up, repeated: a fresh session, then the cold first pass.
    // The first one counts from process start (JVM + classes cold). ----
    val setups = mutable.ArrayBuffer[Map[String, Double]]()
    var s: SparkSession = null
    for (i <- 0 until setupsS.toInt) {
      val t0 = if (i == 0) procStart else nowMs
      val b0 = nowMs
      s = newSession(cpus)
      val b1 = nowMs
      eachClient(w)(c => w.firstPass(c).foreach(op => runOp(s, op, c, s"setup$i")))
      setups += Map("start" -> t0, "session_ms" -> (b1 - b0), "end" -> nowMs)
    }
    val progress = new ConcurrentLinkedQueue[String]()
    s.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress.json)
    })

    window(s, w, warmupS.toDouble, "warmup")

    // ---- timed window, tracing off ----
    val j0 = jvmSample()
    val (w0, w1) = window(s, w, seconds, "timed")
    val j1 = jvmSample()
    // what the session retains between requests (memos, caches, plans);
    // the second GC frees what Spark's ContextCleaner released after the first
    System.gc(); Thread.sleep(1000); System.gc()
    val heapLiveMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    // ---- traced window: same length, listeners on ----
    var traced: Option[(Double, Double, Map[String, Double], Map[String, Double])] = None
    if (trace) {
      val tr = new Tracer(s)
      tracer = Some(tr)
      val k0 = jvmSample()
      val (t0, t1) = window(s, w, seconds, "traced")
      val k1 = jvmSample()
      tr.drain()
      tracer = None
      traced = Some((t0, t1, k0, k1))
      tr.write(new File(out, "trace_raw.json"))
    }

    // ---- results for the oracle check (outside every timed window):
    // every distinct (call, input dir) the run issued ----
    val resDir = new File(out, "results"); resDir.mkdirs()
    val written = firstResults.asScala.toSeq.sortBy(_._1).zipWithIndex.map {
      case (((name, dir), (schema, rows)), i) =>
        val path = new File(resDir, s"$name-$i").getPath
        s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(path)
        Map("name" -> name, "dir" -> dir, "path" -> path)
    }
    val oracle = written.map(_("name")).distinct.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap

    val pw = new PrintWriter(new File(out, "raw.json"))
    try pw.print(Json.obj(
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus, "clients" -> w.clients,
      "proc_start" -> procStart,
      "setups" -> setups.toSeq,
      "window" -> Map("start" -> w0, "end" -> w1), "jvm0" -> j0, "jvm1" -> j1,
      "traced" -> traced.map { case (a, b, k0, k1) =>
        Map("start" -> a, "end" -> b, "jvm0" -> k0, "jvm1" -> k1) }.orNull,
      "ops" -> ops.asScala.toSeq.map(o => Map("id" -> o.id, "kind" -> o.kind,
        "client" -> o.client, "phase" -> o.phase, "start" -> o.start, "end" -> o.end, "ok" -> o.ok, "heap_mb" -> o.heapMb)),
      "calls" -> calls.asScala.toSeq.map(c => Map("op" -> c.op, "name" -> c.name,
        "dir" -> c.dir, "start" -> c.start, "end" -> c.end, "rows" -> c.rows,
        "hash" -> c.hash, "error" -> c.error)),
      "progress" -> progress.asScala.toSeq.map(Json.Raw(_)),
      "results" -> written, "oracle_sql" -> oracle,
      "env" -> Map("java" -> System.getProperty("java.version"),
        "spark" -> org.apache.spark.SPARK_VERSION,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "available_processors" -> Runtime.getRuntime.availableProcessors),
      "heap_live_mb" -> heapLiveMb, "vm_hwm_kb" -> vmHwmKb()))
    finally pw.close()
    s.stop()
  }

  def vmHwmKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
    finally src.close()
  }
}

/** Listener-side records of the traced window. Everything is appended
  * from Spark's listener threads and read after [[drain]]. */
final class Tracer(s: SparkSession) {
  import Harness.nowMs
  private val sc = s.sparkContext
  private val OpTag = "perfbench-op-"
  private def opOf(tags: Iterable[String]): Long =
    tags.find(_.startsWith(OpTag)).map(_.stripPrefix(OpTag).toLong).getOrElse(-1L)

  val execStart = new java.util.concurrent.ConcurrentHashMap[Long, Map[String, Any]]()
  val execEnd = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
  val execQe = new java.util.concurrent.ConcurrentHashMap[Long, Integer]()
  val qeRecs = new ConcurrentLinkedQueue[Map[String, Any]]()
  val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
  val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
  /** per stage: tasks, run ms, cpu ms, wait ms, input bytes, scan tasks,
    * shuffle read/write bytes, spill bytes */
  val stageAgg = new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()
  val stageEnds = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
  val progress = new ConcurrentLinkedQueue[String]()
  val persisted = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val seenRdds = mutable.Set[Int]() ++ sc.getPersistentRDDs.keys

  private val sparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case st: SparkListenerSQLExecutionStart =>
        execStart.put(st.executionId, Map("id" -> st.executionId, "start" -> st.time.toDouble,
          "op" -> opOf(st.jobTags), "root" -> st.rootExecutionId.getOrElse(st.executionId),
          "desc" -> st.description.take(80)))
      case en: SparkListenerSQLExecutionEnd =>
        execEnd.put(en.executionId, en.time.toDouble)
        // the QueryExecution is not public on the event; its identity
        // joins this execution to the QueryExecutionListener's record
        Option(en.getClass.getMethod("qe").invoke(en))
          .foreach(q => execQe.put(en.executionId, Int.box(System.identityHashCode(q))))
      case _ =>
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val p = Option(j.properties)
      val tags = p.flatMap(x => Option(x.getProperty("spark.job.tags")))
        .map(_.split(",").toSeq).getOrElse(Nil)
      jobs.add(Map("id" -> j.jobId, "start" -> j.time.toDouble, "op" -> opOf(tags),
        "exec" -> p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
          .map(_.toLong).getOrElse(-1L),
        "stages" -> j.stageIds))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = jobEnds.put(j.jobId, j.time.toDouble)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmit.put(e.stageInfo.stageId,
        e.stageInfo.submissionTime.map(_.toDouble).getOrElse(nowMs))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageEnds.put(e.stageInfo.stageId,
        e.stageInfo.completionTime.map(_.toDouble).getOrElse(nowMs))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = stageAgg.computeIfAbsent(e.stageId, _ => new Array[Double](9))
      val m = e.taskMetrics
      val info = e.taskInfo
      a.synchronized {
        a(0) += 1
        a(1) += info.finishTime - info.launchTime
        if (m != null) {
          a(2) += m.executorCpuTime / 1e6
          a(4) += m.inputMetrics.bytesRead
          if (m.inputMetrics.bytesRead > 0) a(5) += 1
          a(6) += m.shuffleReadMetrics.totalBytesRead
          a(7) += m.shuffleWriteMetrics.bytesWritten
          a(8) += m.memoryBytesSpilled + m.diskBytesSpilled
        }
        a(3) += math.max(0.0, info.launchTime - stageSubmit.getOrDefault(e.stageId, info.launchTime.toDouble))
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
      val writes = writesOf(qe.executedPlan)
      qeRecs.add(Map("ref" -> System.identityHashCode(qe), "func" -> funcName,
        "duration_ms" -> durationNs / 1e6, "phases" -> ph, "writes" -> writes))
    }
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress.json)
  }
  sc.addSparkListener(sparkListener)
  s.listenerManager.register(qeListener)
  s.streams.addListener(streamListener)

  private def writesOf(p: SparkPlan): Seq[Map[String, Any]] = p match {
    case c: CommandResultExec => writesOf(c.commandPhysicalPlan)
    case a: AdaptiveSparkPlanExec => writesOf(a.executedPlan)
    case q: QueryStageExec => writesOf(q.plan)
    case w: DataWritingCommandExec =>
      val path = w.cmd match {
        case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
        case other => other.nodeName
      }
      Seq(Map("path" -> path,
        "bytes" -> w.cmd.metrics.get("numOutputBytes").map(_.value).getOrElse(0L),
        "files" -> w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)))
    case other => other.children.flatMap(writesOf)
  }

  /** Persistent RDDs created since the last op, and what the cache holds. */
  def afterOp(op: Long): Unit = {
    val now = sc.getPersistentRDDs.keys.toSet
    val fresh = now.diff(seenRdds)
    seenRdds ++= fresh
    val info = sc.getRDDStorageInfo
    persisted.add(Map("op" -> op, "new_rdds" -> fresh.size,
      "cached_mb" -> info.map(i => i.memSize + i.diskSize).sum / 1048576.0))
  }

  /** Wait for the listener bus: every started execution and job ended,
    * and no new events for a moment. */
  def drain(): Unit = {
    val limit = nowMs + 10000
    var last = -1L
    var stableSince = nowMs
    while (nowMs < limit && nowMs - stableSince < 300) {
      val n = execEnd.size.toLong * 1000003 + jobEnds.size + qeRecs.size * 7919L + stageAgg.size
      val done = execEnd.keySet.containsAll(execStart.keySet) &&
        jobs.asScala.forall(j => jobEnds.containsKey(j("id").asInstanceOf[Int]))
      if (n != last || !done) { last = n; stableSince = nowMs }
      Thread.sleep(50)
    }
    sc.removeSparkListener(sparkListener)
    s.listenerManager.unregister(qeListener)
    s.streams.removeListener(streamListener)
  }

  def write(f: File): Unit = {
    val pw = new PrintWriter(f)
    try pw.print(Json.obj(
      "executions" -> execStart.asScala.toSeq.map { case (id, m) =>
        m + ("end" -> execEnd.getOrDefault(id, Double.NaN)) +
          ("qe" -> execQe.get(id)) },
      "qe" -> qeRecs.asScala.toSeq,
      "jobs" -> jobs.asScala.toSeq.map(j => j + ("end" -> jobEnds.getOrDefault(j("id").asInstanceOf[Int], Double.NaN))),
      "stages" -> stageAgg.asScala.toSeq.map { case (id, a) => Map("id" -> id,
        "submit" -> stageSubmit.getOrDefault(id, Double.NaN),
        "end" -> stageEnds.getOrDefault(id, Double.NaN),
        "tasks" -> a(0), "run_ms" -> a(1), "cpu_ms" -> a(2), "wait_ms" -> a(3),
        "input_bytes" -> a(4), "scan_tasks" -> a(5), "shuffle_read" -> a(6),
        "shuffle_write" -> a(7), "spill" -> a(8)) },
      "progress" -> progress.asScala.toSeq.map(Json.Raw(_)),
      "persisted" -> persisted.asScala.toSeq))
    finally pw.close()
  }
}

/** Minimal JSON writer for the raw records. */
object Json {
  final case class Raw(text: String)
  def obj(kv: (String, Any)*): String = value(kv.toMap)
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case Raw(t) => t
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case s: String => quote(s)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(value).mkString("[", ",", "]")
    case a: Array[_] => value(a.toSeq)
    case other => quote(other.toString)
  }
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
