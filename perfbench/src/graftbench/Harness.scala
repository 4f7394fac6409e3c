package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.{GraftEngine, SparkEntry}

/** Closed-loop benchmark harness for one workload.
  *
  *   Harness oracle-dump <out.json>          SparkEntry.oracleSql as JSON
  *   Harness run <plan.json> <out.json>      run a plan written by run.py
  *
  * One client thread issues one operation at a time through the public API
  * (`GraftEngine.sql`, or a `SparkEntry.queries` operator cell) and consumes
  * the result with a noop write.  Per operation it records wall time split
  * into build (DataFrame construction: rewrite, analysis, eager jobs) and
  * exec (the noop write).  In a traced run every other execution of each
  * operation is also attributed layer by layer through a SparkListener and a
  * QueryExecutionListener; the untraced executions in between give the
  * tracing overhead.
  */
object Harness {
  def main(args: Array[String]): Unit = args(0) match {
    case "oracle-dump" =>
      Files.writeString(Paths.get(args(1)), Json(SparkEntry.oracleSql))
    case "run" =>
      val plan = JsonMethods.parse(Files.readString(Paths.get(args(1))))
      new Run(plan, args(2)).run()
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case r: RawJson => r.json
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) str(d.toString.toLowerCase) else d.toString
    case f: Float => apply(f.toDouble)
    case n: java.math.BigDecimal => n.toPlainString
    case n: BigDecimal => n.bigDecimal.toPlainString
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case r: Row => apply(r.toSeq)
    case a: Array[_] => apply(a.toSeq)
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** Counters of one (operation, phase) span, filled from listener events. */
final class Acc {
  var jobs, stages, tasks, failedTasks = 0
  var jobMs, taskMs, cpuMs, waitMs, gcMs = 0.0
  var shuffleBytes, spillBytes = 0L
  /** (job id, start, end) in epoch ms. */
  val jobSpans = mutable.ArrayBuffer.empty[(Int, Long, Long)]
}

/** Attributes jobs, stages and tasks to the span named in the job's local
  * properties, and keeps the Catalyst phase times of every finished query.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val accs = TrieMap.empty[String, Acc]
  private val jobKey = TrieMap.empty[Int, (String, Long)]
  private val stageKey = TrieMap.empty[Int, String]
  private val stageStart = TrieMap.empty[Int, Long]
  /** (optimization ms, planning ms, executed-plan nodes) per finished query. */
  val queries = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double, Int)]

  def acc(key: String): Acc = accs.getOrElseUpdate(key, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    val span = if (p == null) null else p.getProperty(Tracer.Span)
    if (span != null) {
      val key = span + "|" + p.getProperty(Tracer.Phase)
      jobKey(e.jobId) = (key, e.time)
      e.stageInfos.foreach(s => stageKey(s.stageId) = key)
      acc(key).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobKey.remove(e.jobId).foreach { case (key, t0) =>
      val a = acc(key)
      a.jobMs += e.time - t0
      a.jobSpans += ((e.jobId, t0, e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageKey.get(id).foreach { key =>
      acc(key).stages += 1
      stageStart(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageKey.get(e.stageId).foreach { key =>
      val a = acc(key)
      val info = e.taskInfo
      a.tasks += 1
      if (!info.successful) a.failedTasks += 1
      stageStart.get(e.stageId).foreach(s => a.waitMs += math.max(0L, info.launchTime - s))
      val m = e.taskMetrics
      if (m != null) {
        a.taskMs += m.executorRunTime
        a.cpuMs += m.executorCpuTime / 1e6
        a.gcMs += m.jvmGCTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(n: String) = ph.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
    val nodes = try qe.executedPlan.collect { case p => p }.size catch { case _: Throwable => 0 }
    queries.add((ms("optimization"), ms("planning"), nodes))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  val Span = "graftbench.span"
  val Phase = "graftbench.phase"
}

/** One operation of the plan.  `key` groups the executions that alternate
  * between traced and untraced in a traced run.
  */
final case class Op(id: String, name: String, kind: String, key: String, text: String,
                    check: Boolean, round: Int)

final class Run(plan: JValue, outPath: String) {
  private implicit val formats: Formats = DefaultFormats
  private def field[T: Manifest](k: String): T = (plan \ k).extract[T]

  private val workload = field[String]("workload")
  private val trace = field[Boolean]("trace")
  private val dataDir = field[String]("data_dir")
  private val checkPath = field[String]("check_out")
  private def ops(k: String): Seq[Op] = (plan \ k).children.map { o =>
    Op((o \ "id").extract[String], (o \ "name").extract[String], (o \ "kind").extract[String],
      (o \ "key").extract[String], (o \ "text").extractOrElse[String](""),
      (o \ "check").extractOrElse[Boolean](false), (o \ "round").extractOrElse[Int](0))
  }

  private val spark: SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${field[Int]("cores")}]")
      .config("spark.sql.warehouse.dir", field[String]("warehouse_dir"))
    field[Map[String, String]]("conf").foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }
  spark.sparkContext.setLogLevel("ERROR")

  private var sess: SparkSession = spark
  private var engine: GraftEngine = _
  private val tracer = new Tracer
  private val samples = mutable.ArrayBuffer.empty[String]
  private val spans = mutable.ArrayBuffer.empty[String]
  private val epochBase = System.currentTimeMillis() - System.nanoTime() / 1e6
  private val checks = Files.newBufferedWriter(Paths.get(checkPath))
  private val traceCount = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val seenText = mutable.Set.empty[String]
  private val checked = mutable.Set.empty[String]
  private var seq = 0

  private def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6
  private def epochMs(nanos: Long): Double = epochBase + nanos / 1e6

  /** One span: operation, name, parent span, start and end (epoch ms). */
  private def span(op: String, name: String, parent: String, start: Double, end: Double): Unit =
    spans += Json(Map("op" -> op, "name" -> name, "parent" -> parent, "start" -> start, "end" -> end))

  /** One full session set-up: table registration, bucketed fact ingest and
    * measure-view DDL, on a fresh session over empty warehouse tables.
    */
  private def setupOnce(): Map[String, Double] = {
    val s = spark.newSession()
    val buckets = field[Int]("buckets")
    val bucketed = (plan \ "bucketed").children.map(_.extract[Seq[String]])
    for (Seq(t, _) <- bucketed) s.sql(s"DROP TABLE IF EXISTS ${t}_bkt")
    val t0 = System.nanoTime()
    for (t <- field[Seq[String]]("tables"))
      s.read.parquet(s"$dataDir/$t.parquet").createOrReplaceTempView(t)
    val t1 = System.nanoTime()
    for (Seq(t, key) <- bucketed) {
      graft.ops.ScaleLayout.writeBucketed(s.read.parquet(s"$dataDir/$t.parquet"), s"${t}_bkt", buckets, key)
      s.table(s"${t}_bkt").createOrReplaceTempView(t)
    }
    val t2 = System.nanoTime()
    val e = GraftEngine(s)
    field[Seq[String]]("views").foreach(e.sql)
    val t3 = System.nanoTime()
    sess = s
    engine = e
    Map("total_ms" -> ms(t0, t3), "register_ms" -> ms(t0, t1),
      "ingest_ms" -> ms(t1, t2), "views_ms" -> ms(t2, t3))
  }

  private def build(op: Op): DataFrame = op.kind match {
    case "cell" => SparkEntry.queries(op.name)(sess, dataDir)
    // the simhash signatures, for the exact replay of d_simhash in check.py
    case "twin" =>
      val docs = sess.read.parquet(s"$dataDir/documents.parquet")
      docs.select(col("doc_id"), graft.functions.SimHashExpr.simhash64(col("text"), 2).as("sig"))
    case _ => engine.sql(op.text)
  }

  /** Runs one operation and records its sample (and spans, when traced). */
  private def runOp(op: Op, timed: Boolean): Unit = {
    seq += 1
    // the second, fourth, ... timed execution of each key is traced; the one
    // before it is its untraced twin
    val traced = timed && trace && { val c = traceCount(op.key); traceCount(op.key) = c + 1; c % 2 == 1 }
    val sc = spark.sparkContext
    val spanId = s"op$seq"
    val repeat = op.text.nonEmpty && !seenText.add(op.text)
    if (traced) {
      BusDrain.drain(sc)
      tracer.queries.clear()
      sc.setLocalProperty(Tracer.Span, spanId)
      sc.setLocalProperty(Tracer.Phase, "build")
    }
    val f = mutable.LinkedHashMap[String, Any]("id" -> op.id, "name" -> op.name,
      "kind" -> op.kind, "key" -> op.key, "round" -> op.round, "timed" -> timed, "traced" -> traced, "repeat" -> repeat)
    var ok = true
    var df: DataFrame = null
    val t0 = System.nanoTime()
    var t1, t2 = t0
    try {
      df = build(op)
      t1 = System.nanoTime()
      if (traced) sc.setLocalProperty(Tracer.Phase, "exec")
      // an untimed checked execution consumes the result by the collect below
      if (timed || !op.check) df.write.format("noop").mode("overwrite").save()
      t2 = System.nanoTime()
    } catch {
      case e: Throwable =>
        ok = false
        f("error") = String.valueOf(e.getMessage).take(300)
    } finally {
      sc.setLocalProperty(Tracer.Span, null)
      sc.setLocalProperty(Tracer.Phase, null)
    }
    f ++= Seq("wall_ms" -> ms(t0, System.nanoTime()), "build_ms" -> ms(t0, t1), "exec_ms" -> ms(t1, t2))
    if (traced && ok) {
      BusDrain.drain(sc)
      val b = tracer.acc(spanId + "|build")
      val x = tracer.acc(spanId + "|exec")
      f("span") = spanId
      span(spanId, "op", null, epochMs(t0), epochMs(t2))
      span(spanId, "build", "op", epochMs(t0), epochMs(t1))
      span(spanId, "exec", "op", epochMs(t1), epochMs(t2))
      for ((phase, a) <- Seq("build" -> b, "exec" -> x); (job, j0, j1) <- a.jobSpans)
        span(spanId, s"job$job", phase, j0.toDouble, j1.toDouble)
      val qs = tracer.queries.toArray(Array.empty[(Double, Double, Int)])
      val ph = df.queryExecution.tracker.phases
      f ++= Seq(
        "analysis_ms" -> Seq("parsing", "analysis").flatMap(ph.get).map(_.durationMs.toDouble).sum,
        "optimize_ms" -> qs.map(_._1).sum, "physplan_ms" -> qs.map(_._2).sum,
        "plan_nodes" -> qs.lastOption.map(_._3).getOrElse(0),
        "build_jobs" -> b.jobs, "build_job_ms" -> b.jobMs,
        "exec_jobs" -> x.jobs, "exec_stages" -> (b.stages + x.stages), "exec_tasks" -> (b.tasks + x.tasks),
        "task_ms" -> (b.taskMs + x.taskMs), "cpu_ms" -> (b.cpuMs + x.cpuMs),
        "task_wait_ms" -> (b.waitMs + x.waitMs), "gc_ms" -> (b.gcMs + x.gcMs),
        "shuffle_write_bytes" -> (b.shuffleBytes + x.shuffleBytes),
        "spill_bytes" -> (b.spillBytes + x.spillBytes),
        "failed_tasks" -> (b.failedTasks + x.failedTasks))
      if (op.kind != "cell") {
        val r0 = System.nanoTime()
        val expanded = engine.expandSql(op.text)
        val r1 = System.nanoTime()
        span(spanId, "rewrite", "op", epochMs(r0), epochMs(r1))
        f ++= Seq("rewrite_ms" -> ms(r0, r1), "sql_chars" -> expanded.length)
      }
    }
    if (ok && op.check && checked.add(op.id)) {
      try {
        val rows = df.collect()
        checks.write(Json(Map("id" -> op.id, "cols" -> df.columns.toSeq, "rows" -> rows.toSeq)))
        checks.newLine()
      } catch {
        case e: Throwable =>
          ok = false
          f("error") = "check collect: " + String.valueOf(e.getMessage).take(300)
      }
    }
    if (op.kind == "cell" || op.kind == "twin") sess.catalog.clearCache()
    f("ok") = ok
    samples += Json(f)
  }

  def run(): Unit = {
    val t0 = System.nanoTime()
    def log(msg: String): Unit = System.err.println(f"[harness ${(System.nanoTime() - t0) / 1e9}%7.1fs] $msg")
    val setups = (1 to field[Int]("setup_reps")).map(_ => setupOnce())
    log("set up")
    if (trace) {
      spark.sparkContext.addSparkListener(tracer)
      sess.listenerManager.register(tracer)
    }
    ops("warmup").foreach(runOp(_, timed = false))
    log("warmed up")
    val start = System.nanoTime()
    ops("ops").foreach(runOp(_, timed = true))
    val loop = (System.nanoTime() - start) / 1e9
    log("timed loop done")
    checks.close()
    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    Files.write(Paths.get(field[String]("spans_out")), spans.asJava)
    val out = Map("workload" -> workload, "setup" -> setups, "loop_s" -> loop,
      "peak_rss_mb" -> hwm, "samples" -> RawJson(samples.mkString("[", ",", "]")))
    Files.writeString(Paths.get(outPath), Json(out))
    spark.stop()
    log("stopped")
  }
}

/** A pre-serialised JSON fragment, written verbatim by [[Json]]. */
final case class RawJson(json: String)
