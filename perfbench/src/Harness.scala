package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Closed-loop harness for one benchmark workload: one client, one JVM.
  *
  * Usage (classpath = engine classes + this file's classes + Spark jars):
  * {{{
  *   perfbench.Harness <sfDir> <outDir> <seed> <seconds> <trace 0|1>
  *                     <setups> <minPasses> <query> [query ...]
  * }}}
  *
  * Sets up `setups` sessions (session + table registration, each timed;
  * the last one is kept), runs one cold pass over the queries, then whole
  * steady passes until `seconds` have elapsed and at least `minPasses`
  * passes ran. The seed fixes the query order of every pass. Each query
  * is timed as build (call the query function), plan (force the executed
  * plan) and collect (collect and fingerprint the rows).
  *
  * Writes `samples.jsonl` and `run.json` to `outDir`; with tracing on it
  * also writes `spans.jsonl` and `actions.jsonl`. All derived metrics are
  * computed by `run.py` from these files.
  */
object Harness {

  // ---- clock: one epoch-ms timeline for harness spans and listener events

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  // ---- spans, kept in memory and written at the end

  final case class Span(id: Long, parent: Long, name: String, query: String,
      qid: Long, start: Double, end: Double, counts: Map[String, Double])

  private val nextId = new AtomicLong(1L)
  private val spans = new ConcurrentLinkedQueue[Span]()

  /** Phase spans stay open while their body runs; Spark jobs submitted in
    * the body carry the open span's id as a local property. */
  final class Tracer(enabled: Boolean, spark: () => SparkSession) {
    def apply[T](name: String, parent: Long, query: String = "",
        qid: Long = 0L)(body: Long => T): T = {
      val id = nextId.getAndIncrement()
      val sc = if (enabled) Option(spark()).map(_.sparkContext) else None
      val prev = sc.map(_.getLocalProperty(SpanProp))
      sc.foreach(_.setLocalProperty(SpanProp, id.toString))
      val t0 = nowMs()
      try body(id)
      finally {
        val t1 = nowMs()
        sc.foreach(_.setLocalProperty(SpanProp, prev.orNull))
        if (enabled) spans.add(Span(id, parent, name, query, qid, t0, t1, Map.empty))
      }
    }
  }

  val SpanProp = "perfbench.span"

  // ---- Spark listener: job and stage spans, task sums per stage

  final class StageAcc {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shufW = 0L; var shufR = 0L; var spill = 0L; var in = 0L; var out = 0L
  }

  final class JobAcc(val span: Long, val parent: Long, val start: Double, val stages: Int) {
    val busy = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  final class Recorder extends SparkListener {
    private val jobs = mutable.Map.empty[Int, JobAcc]
    private val stageJob = mutable.Map.empty[Int, Int]
    private val stageParent = mutable.Map.empty[Int, Long]
    private val stageAcc = mutable.Map.empty[Int, StageAcc]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(0L)
      val job = new JobAcc(nextId.getAndIncrement(), parent, e.time.toDouble, e.stageIds.size)
      jobs(e.jobId) = job
      e.stageIds.foreach { s => stageJob(s) = e.jobId; stageParent(s) = job.span }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = stageAcc.getOrElseUpdate(e.stageId, new StageAcc)
      a.tasks += 1
      stageJob.get(e.stageId).flatMap(jobs.get)
        .foreach(_.busy += ((e.taskInfo.launchTime, e.taskInfo.finishTime)))
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shufW += m.shuffleWriteMetrics.bytesWritten
        a.shufR += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
        a.in += m.inputMetrics.bytesRead; a.out += m.outputMetrics.bytesWritten
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val a = stageAcc.remove(si.stageId).getOrElse(new StageAcc)
      val t0 = si.submissionTime.getOrElse(0L).toDouble
      val t1 = si.completionTime.getOrElse(t0.toLong).toDouble
      spans.add(Span(nextId.getAndIncrement(), stageParent.getOrElse(si.stageId, 0L),
        "spark.stage", "", 0L, t0, t1,
        Map("tasks" -> a.tasks.toDouble, "task_run_ms" -> a.runMs.toDouble,
          "task_cpu_ns" -> a.cpuNs.toDouble, "task_gc_ms" -> a.gcMs.toDouble,
          "shuffle_write_b" -> a.shufW.toDouble, "shuffle_read_b" -> a.shufR.toDouble,
          "spill_b" -> a.spill.toDouble, "input_b" -> a.in.toDouble,
          "output_b" -> a.out.toDouble)))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.remove(e.jobId).foreach { j =>
        spans.add(Span(j.span, j.parent, "spark.job", "", 0L, j.start, e.time.toDouble,
          Map("stages" -> j.stages.toDouble,
            "task_busy_ms" -> coveredMs(j.busy.toSeq).toDouble)))
      }
    }
  }

  /** Length of the union of [start, end] intervals. */
  def coveredMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Catalyst phase times of every Dataset action (analysis, optimization,
    * planning), from the action's QueryPlanningTracker. */
  final class Actions extends QueryExecutionListener {
    val rows = new ConcurrentLinkedQueue[String]()
    private def record(fn: String, qe: QueryExecution, ok: Boolean): Unit = {
      val ph = qe.tracker.phases
      val fields = Seq("analysis", "optimization", "planning").map { p =>
        val d = ph.get(p).map(_.durationMs).getOrElse(0L)
        s""""${p}_ms":$d"""
      }
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
      rows.add(s"""{"fn":${Json.str(fn)},"ok":$ok,"start_ms":$start,${fields.mkString(",")}}""")
    }
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = record(fn, qe, ok = true)
    override def onFailure(fn: String, qe: QueryExecution, ex: Exception): Unit = record(fn, qe, ok = false)
  }

  // ---- main

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, seedS, secondsS, traceS, setupsS, minPassesS) = args.take(7)
    val queries = args.drop(7).toIndexedSeq
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val out = new File(outDir); out.mkdirs()
    val all = graft.SparkEntry.queries

    var spark: SparkSession = null
    val span = new Tracer(trace, () => spark)
    val recorder = new Recorder
    val actions = new Actions

    // Set-up: session creation + table registration, timed `setups` times;
    // every session but the last is stopped again.
    val setups = (1 to setupsS.toInt).map { i =>
      if (spark != null) { spark.stop(); spark = null }
      span("setup", 0L) { sid =>
        val t0 = System.nanoTime()
        spark = span("setup.session", sid) { _ =>
          val s = SparkSession.builder()
            .master("local[4]")
            .appName("perfbench")
            .config("spark.sql.shuffle.partitions", "4")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
          s.sparkContext.setLogLevel("ERROR")
          if (trace) {
            s.sparkContext.addSparkListener(recorder)
            s.listenerManager.register(actions)
          }
          s
        }
        val t1 = System.nanoTime()
        span("tables.register", sid) { _ => graft.queries.QueryDefs.ensureTables(spark, sfDir) }
        val t2 = System.nanoTime()
        (i, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
      }
    }

    val rng = new scala.util.Random(seed)
    val samples = new PrintWriter(new File(out, "samples.jsonl"))
    val footer = graft.tables.TableLoader.footerReads
    var qid = 0L

    def gcMs(): Double = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble

    /** One pass over the queries in seed order; returns its start and end
      * (epoch ms) and the JVM's GC time (ms) at both ends. */
    def runPass(pass: Int): Seq[Double] = {
      val order = rng.shuffle(queries)
      val p0 = nowMs(); val g0 = gcMs()
      span("pass", 0L, "", pass.toLong) { pid =>
        order.foreach { q =>
          qid += 1
          val id = qid
          span("query", pid, q, id) { qsid =>
            var build = Double.NaN; var plan = Double.NaN; var coll = Double.NaN
            var rows = -1L; var fp = ""; var err = ""
            val f0 = footer.get()
            val t0 = System.nanoTime()
            try {
              val df = span("query.build", qsid, q, id) { _ => all(q)(spark, sfDir) }
              val t1 = System.nanoTime(); build = (t1 - t0) / 1e9
              span("query.plan", qsid, q, id) { _ => df.queryExecution.executedPlan }
              val t2 = System.nanoTime(); plan = (t2 - t1) / 1e9
              val (n, h) = span("query.collect", qsid, q, id) { _ =>
                val rs = df.collect()
                (rs.length.toLong, Fingerprint.of(df.columns.toIndexedSeq, rs))
              }
              coll = (System.nanoTime() - t2) / 1e9
              rows = n; fp = h
            } catch {
              case e: Throwable =>
                err = (e.getClass.getName + ": " + String.valueOf(e.getMessage)).take(300)
            }
            val total = (System.nanoTime() - t0) / 1e9
            samples.println(
              s"""{"pass":$pass,"query":${Json.str(q)},"qid":$id,"build_s":${Json.num(build)},""" +
              s""""plan_s":${Json.num(plan)},"collect_s":${Json.num(coll)},"total_s":$total,""" +
              s""""rows":$rows,"fp":${Json.str(fp)},"error":${Json.str(err)},""" +
              s""""footer_reads":${footer.get() - f0}}""")
          }
        }
      }
      Seq(p0, nowMs(), g0, gcMs())
    }

    val cold = runPass(0)
    val steady = mutable.ArrayBuffer.empty[Seq[Double]]
    val steadyStart = nowMs()
    while (steady.size < minPassesS.toInt || nowMs() - steadyStart < seconds * 1000.0)
      steady += runPass(steady.size + 1)
    samples.close()

    val cachedMb = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / 1e6
    // Full GCs with pauses between them, so that the ContextCleaner can
    // drop the blocks of unreachable RDDs, shuffles and broadcasts first.
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1e6

    if (trace) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val a = new PrintWriter(new File(out, "actions.jsonl"))
      actions.rows.asScala.foreach(a.println); a.close()
      val w = new PrintWriter(new File(out, "spans.jsonl"))
      spans.asScala.foreach { s =>
        val counts = s.counts.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")
        w.println(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
          s""""query":${Json.str(s.query)},"qid":${s.qid},"start_ms":${s.start},""" +
          s""""end_ms":${s.end},"counts":{$counts}}""")
      }
      w.close()
    }

    def arr(xs: Seq[Double]): String = xs.mkString("[", ",", "]")
    val w = new PrintWriter(new File(out, "run.json"))
    w.println("{" + Seq(
      s""""setups":${setups.map { case (i, s, r) =>
        s"""{"i":$i,"session_s":$s,"register_s":$r}""" }.mkString("[", ",", "]")}""",
      s""""cold_pass":${arr(cold)}""",
      s""""steady_passes":${steady.map(arr).mkString("[", ",", "]")}""",
      s""""heap_used_mb":$heapMb""",
      s""""storage_cached_mb":$cachedMb""",
      s""""cores":${spark.sparkContext.defaultParallelism}""",
      s""""shuffle_partitions":${spark.conf.get("spark.sql.shuffle.partitions")}"""
    ).mkString(",") + "}")
    w.close()
    spark.stop()
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}

/** Row-multiset fingerprint, order-insensitive. Columns are taken in
  * name order; each value gets a canonical text form (integers in
  * decimal, doubles / floats / decimals as the bits of the nearest
  * double, timestamps as UTC epoch microseconds); each row's MD5 is split
  * into two 64-bit words that are summed over the rows. The result hashes
  * the column names, the row count and both sums. `perfbench/oracle.py`
  * computes the same value from DuckDB rows. */
object Fingerprint {
  def of(cols: IndexedSeq[String], rows: Array[Row]): String = {
    val idx = cols.indices.sortBy(cols(_))
    val md = java.security.MessageDigest.getInstance("MD5")
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val sb = new java.lang.StringBuilder
    var s1 = 0L; var s2 = 0L
    rows.foreach { r =>
      sb.setLength(0)
      var k = 0
      while (k < idx.length) {
        if (k > 0) sb.append('\u0001')
        canon(r.get(idx(k)), sb)
        k += 1
      }
      val d = java.nio.ByteBuffer.wrap(md.digest(sb.toString.getBytes(utf8)))
      s1 += d.getLong(0); s2 += d.getLong(8)
    }
    val head = idx.map(cols(_)).mkString("\u0001") + "\n" + rows.length +
      "\n" + f"$s1%016x$s2%016x"
    md.digest(head.getBytes(utf8)).take(12).map(b => f"${b & 0xff}%02x").mkString
  }

  private def seq(xs: Iterable[Any], open: Char, close: Char,
      sb: java.lang.StringBuilder): Unit = {
    sb.append(open)
    var first = true
    xs.foreach { x => if (!first) sb.append(','); first = false; canon(x, sb) }
    sb.append(close)
  }

  def canon(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null => sb.append("\\N")
    case b: Boolean => sb.append(b)
    case d: Double =>
      if (d.isNaN) sb.append("NaN")
      else sb.append('d').append(java.lang.Long.toHexString(
        java.lang.Double.doubleToRawLongBits(if (d == 0.0) 0.0 else d)))
    case f: Float => canon(f.toDouble, sb)
    case b: java.math.BigDecimal => canon(b.doubleValue, sb)
    case b: scala.math.BigDecimal => canon(b.toDouble, sb)
    case n: Byte => sb.append(n.toInt)
    case n: Short => sb.append(n.toInt)
    case n: Int => sb.append(n)
    case n: Long => sb.append(n)
    case s: String => sb.append(s)
    case d: java.sql.Date => sb.append(d.toLocalDate.toString)
    case d: java.time.LocalDate => sb.append(d.toString)
    case t: java.sql.Timestamp =>
      sb.append(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant => sb.append(t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime => canon(t.toInstant(java.time.ZoneOffset.UTC), sb)
    case a: Array[Byte] => a.foreach(b => sb.append(f"${b & 0xff}%02x"))
    case s: scala.collection.Seq[_] => seq(s, '[', ']', sb)
    case r: Row => seq(r.toSeq, '(', ')', sb)
    case other => sb.append(other.toString)
  }
}

/** Dumps `graft.SparkEntry.oracleSql` for the named queries as a JSON
  * object: `perfbench.DumpOracle <out.json> <query> [query ...]`. */
object DumpOracle {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val w = new PrintWriter(new File(args(0)))
    w.println(args.drop(1).filter(sql.contains)
      .map(q => Json.str(q) + ":" + Json.str(sql(q))).mkString("{", ",\n", "}"))
    w.close()
  }
}
