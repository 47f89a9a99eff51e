package org.apache.spark.graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.{Date, Timestamp}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.SparkEntry
import graft.core.GraftSession
import graft.transform.{Emitter, Metrics, ProcessScriptTransform, ScriptContext,
  ScriptTransform, TransformResult}

/** One benchmark run in a fresh JVM: create the session, run every op of
  * the plan once untimed (warm-up; its outputs are written for the
  * correctness check), then run the plan's passes closed-loop, one op at
  * a time, until the time budget is spent. Writes `result.json` (and, in
  * traced runs, `spans.jsonl`) into the out dir; perfbench/run.py turns
  * them into metrics.
  *
  * Lives in an org.apache.spark package only to drain the listener bus
  * (`listenerBus.waitUntilEmpty`) before attributing events to an op.
  *
  * Usage: Harness <plan.json>
  */
object Harness {
  private implicit val formats: Formats = DefaultFormats
  // timed passes an untraced run makes at least; latencies are the best of
  // a run's passes, like graft.Bench's best-of-2, so a burst of host
  // contention inside one pass does not decide the run
  private val MinPasses = 2

  final case class Op(id: String, query: String, script: String,
                      host: String, input: String, records: Long)

  def main(args: Array[String]): Unit = {
    val plan = JsonMethods.parse(new File(args(0)))
    val workload = (plan \ "workload").extract[String]
    val kind = (plan \ "kind").extract[String]
    val dataDir = (plan \ "data").extract[String]
    val outDir = (plan \ "out").extract[String]
    val seconds = (plan \ "seconds").extract[Double]
    val traced = (plan \ "trace").extract[Int] == 1
    val cpus = (plan \ "cpus").extract[Int]
    val ops = (plan \ "ops").extract[List[JObject]].map { o =>
      Op((o \ "id").extract[String],
        (o \ "query").extractOrElse[String](""),
        (o \ "script").extractOrElse[String](""),
        (o \ "host").extractOrElse[String](""),
        (o \ "input").extractOrElse[String](""),
        (o \ "records").extractOrElse[Long](0L))
    }
    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime

    val s0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .appName(s"graftbench-$workload").getOrCreate()
    val sessionS = (System.nanoTime() - s0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")

    val scripts = if (kind == "script")
      Some(new Scripts(spark, (plan \ "scripts").extract[Map[String, String]],
        (plan \ "script_args").extract[Map[String, String]]))
      else None

    def build(op: Op): DataFrame = scripts match {
      case Some(s) => s.build(op).tagged
      case None => SparkEntry.queries(op.query)(spark, dataDir)
    }

    // ---- warm-up pass: every distinct op once, outputs kept for the check
    val verifyDir = s"$outDir/verify"
    val warmErrors = new java.util.LinkedHashMap[String, String]
    val warmS = ArrayBuffer.empty[(String, JValue)]
    ops.distinctBy(_.id).foreach { op =>
      val w0 = System.nanoTime()
      try {
        scripts match {
          case Some(s) => s.writeTagged(s.build(op), s"$verifyDir/${op.id}")
          case None =>
            build(op).coalesce(1).write.mode("overwrite")
              .parquet(s"$verifyDir/${op.id}")
        }
      } catch {
        case e: Throwable =>
          warmErrors.put(op.id, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      warmS += op.id -> JDouble((System.nanoTime() - w0) / 1e9)
    }
    if (kind == "suite") {
      val oracles = SparkEntry.oracleSql
      writeJson(s"$outDir/oracle_sql.json", JObject(ops.map(_.query).distinct
        .map(q => q -> JString(oracles.getOrElse(q, ""))): _*))
    }

    // ---- timed passes, closed loop
    val tracer = new Tracer(spark, outDir)
    val opRecs = ArrayBuffer.empty[JValue]
    val passRecs = ArrayBuffer.empty[JValue]
    var firstOpWallMs = 0L
    def runPasses(budgetS: Double, phase: String, minPasses: Int): Unit = {
      val t0 = System.nanoTime()
      var pass = 0
      // whole passes only: at least minPasses, then another while it is
      // expected to end within the budget
      def elapsed = (System.nanoTime() - t0) / 1e9
      while (pass < minPasses || elapsed + elapsed / pass <= budgetS) {
        val p0 = System.nanoTime()
        var passOk = true
        ops.foreach { op =>
          val opId = s"$phase:$pass:${op.id}"
          if (firstOpWallMs == 0L) firstOpWallMs = System.currentTimeMillis()
          val cpu0 = childCpuS()
          spark.sparkContext.setJobGroup(opId, op.id, interruptOnCancel = false)
          val a0 = System.nanoTime()
          var b1 = a0
          var err: String = null
          try {
            val df = build(op)
            b1 = System.nanoTime()
            df.write.format("noop").mode("overwrite").save()
          } catch {
            case e: Throwable =>
              err = s"${e.getClass.getSimpleName}: ${e.getMessage}"
          }
          val a1 = System.nanoTime()
          spark.sparkContext.clearJobGroup()
          if (err != null) passOk = false
          val base = List(
            "op" -> JString(op.id), "phase" -> JString(phase),
            "pass" -> JInt(pass), "t0_ns" -> JLong(a0),
            "build_s" -> JDouble((b1 - a0) / 1e9),
            "action_s" -> JDouble((a1 - b1) / 1e9),
            "wall_s" -> JDouble((a1 - a0) / 1e9),
            "records" -> JLong(op.records),
            "child_cpu_s" -> JDouble(childCpuS() - cpu0),
            "error" -> (if (err == null) JNull else JString(err)))
          val extra =
            if (phase == "traced") tracer.opDone(opId, a0, b1, a1, op)
            else Nil
          opRecs += JObject(base ++ extra: _*)
        }
        passRecs += JObject("phase" -> JString(phase), "pass" -> JInt(pass),
          "wall_s" -> JDouble((System.nanoTime() - p0) / 1e9),
          "ok" -> JBool(passOk))
        pass += 1
      }
    }
    if (traced) {
      // traced runs time half the budget traced, then half untraced, so
      // trace_overhead compares passes of the same JVM; the untraced half
      // runs second, so any warm-up left over counts against the trace
      tracer.start()
      runPasses(seconds / 2, "traced", 1)
      tracer.stop()
      runPasses(seconds / 2, "plain", 1)
    } else runPasses(seconds, "plain", MinPasses)

    val result = JObject(
      "workload" -> JString(workload),
      "cpus" -> JInt(cpus),
      "session_s" -> JDouble(sessionS),
      "setup_s" -> JDouble((firstOpWallMs - jvmStartMs) / 1e3),
      "peak_rss_mb" -> JDouble(vmHwmKb() / 1024.0),
      "warm_s" -> JObject(warmS.toList),
      "warm_errors" -> JObject(warmErrors.entrySet.toArray
        .map(_.asInstanceOf[java.util.Map.Entry[String, String]])
        .map(e => e.getKey -> JString(e.getValue)).toList: _*),
      "ops" -> JArray(opRecs.toList),
      "passes" -> JArray(passRecs.toList),
      "script_calls" -> JObject(scripts.map(_.callCounts).getOrElse(Nil): _*))
    writeJson(s"$outDir/result.json", result)
    spark.stop()
  }

  def writeJson(path: String, v: JValue): Unit =
    Files.write(Paths.get(path),
      JsonMethods.compact(JsonMethods.render(v)).getBytes(StandardCharsets.UTF_8))

  /** CPU seconds of reaped child processes (the Python workers), from
    * fields 16-17 (cutime, cstime) of /proc/self/stat. */
  def childCpuS(): Double = {
    val s = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
    val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
    // f(0) is field 3 (state): cutime is field 16, cstime field 17
    (f(13).toLong + f(14).toLong) / 100.0
  }

  def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
}

/** The script workload's transforms: the reference-shaped contract over
  * two record shapes. `native` (plain scalars) runs on the Python host;
  * `codec` (binary, timestamp, date) runs on both hosts: `python` runs the
  * Python script in worker processes (ProcessScriptTransform.python),
  * `jvm` runs its Scala twin in-process (ScriptTransform). Branches key on
  * `k`: k % 20 == 0 is an error (k % 40 == 0 raises, the rest call
  * emitError), k % 10 == 1 emits twice, k % 1000 == 7 raises an alert. */
final class Scripts(spark: SparkSession, sources: Map[String, String],
                    arguments: Map[String, String]) {
  spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
  private val metrics = Map(
    "python" -> Metrics(spark, "calls"), "jvm" -> Metrics(spark, "calls"))

  private val outSchema = Map(
    "native" -> StructType(Seq(
      StructField("id", LongType), StructField("k", IntegerType),
      StructField("cat", StringType), StructField("tag", StringType),
      StructField("amount", DoubleType), StructField("flag", StringType),
      StructField("copy", IntegerType))),
    "codec" -> StructType(Seq(
      StructField("id", LongType), StructField("k", IntegerType),
      StructField("head", BinaryType), StructField("n_bytes", IntegerType),
      StructField("shifted", TimestampType), StructField("next_day", DateType),
      StructField("copy", IntegerType))))

  def build(op: Harness.Op): TransformResult = {
    val df = spark.read.parquet(op.input)
    op.host match {
      case "python" =>
        ProcessScriptTransform.python(df, outSchema(op.script),
          sources(op.script), arguments, metrics("python"),
          onError = ScriptTransform.RouteToErrors(9))
      case "jvm" =>
        ScriptTransform(df, outSchema(op.script), arguments, metrics("jvm"),
          onError = ScriptTransform.RouteToErrors(9))(Scripts.codecJvm)
    }
  }

  def callCounts: List[(String, JValue)] =
    metrics.toList.map { case (h, m) => h -> JLong(m.value("calls")) }

  /** Writes the tagged channel rows as parquet in one pass, timestamps
    * as TIMESTAMP_MICROS so DuckDB reads them without INT96 rules. */
  def writeTagged(r: TransformResult, dir: String): Unit =
    r.tagged.write.mode("overwrite").parquet(dir)
}

object Scripts {
  /** Scala twin of perfbench/scripts/codec.py for the in-JVM host. */
  val codecJvm: (Map[String, Any], Emitter, ScriptContext) => Unit =
    (record, emitter, context) => {
      context.metrics.count("calls")
      val k = record("k").asInstanceOf[Int]
      if (k % 20 == 0) {
        if (k % 40 == 0) throw new IllegalArgumentException("bad k")
        emitter.emitError(3, "k rejected", record)
      } else {
        val p = record("payload").asInstanceOf[Array[Byte]]
        val t = record("ts").asInstanceOf[Timestamp]
        val d = record("day").asInstanceOf[Date]
        val out = Map[String, Any](
          "id" -> record("id"), "k" -> k,
          "head" -> java.util.Arrays.copyOf(p, math.min(8, p.length)),
          "n_bytes" -> p.length,
          "shifted" -> Timestamp.from(t.toInstant.plusSeconds(5400)),
          "next_day" -> Date.valueOf(d.toLocalDate.plusDays(1)),
          "copy" -> 0)
        emitter.emit(out)
        if (k % 10 == 1) emitter.emit(out.updated("copy", 1))
        if (k % 1000 == 7)
          emitter.emitAlert(Map("id" -> record("id").toString, "reason" -> "k7"))
      }
    }
}

/** Spans and counters of the traced passes. A SparkListener registered
  * here collects jobs, stages and task metrics by job group (= op id); a
  * QueryExecutionListener collects Catalyst phase times; the python3 shim
  * on the JVM's PATH appends one line per Python process to
  * `py_spans.txt` while the `trace_on` file exists. Spans stay in memory
  * and are written to spans.jsonl when the run ends. */
final class Tracer(spark: SparkSession, outDir: String) {
  private val sc: SparkContext = spark.sparkContext
  private val onFile = new File(s"$outDir/trace_on")
  private val pySpans = new File(s"$outDir/py_spans.txt")

  final class StageAgg(val stageId: Int) {
    var submitted = 0L; var completed = 0L
    var tasks = 0; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var inBytes = 0L; var inRecords = 0L; var shWrite = 0L; var shRead = 0L
    var spill = 0L
    val durations = ArrayBuffer.empty[Long]
  }
  final class JobAgg(val jobId: Int, val group: String, val start: Long) {
    var end = 0L
    var stages: Seq[Int] = Nil
  }
  private val jobs = ArrayBuffer.empty[JobAgg]
  private val stages = scala.collection.mutable.HashMap.empty[Int, StageAgg]
  private val qes = ArrayBuffer.empty[(Long, Double)] // (end ms, catalyst s)
  private val spans = ArrayBuffer.empty[JValue]
  // listener callbacks run on the bus thread, opDone on the run thread
  private val lock = new Object

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
        .flatMap(Option(_)).getOrElse("")
      val j = new JobAgg(e.jobId, g, e.time)
      j.stages = e.stageIds
      jobs += j
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.find(_.jobId == e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        val st = stages.getOrElseUpdate(e.stageInfo.stageId,
          new StageAgg(e.stageInfo.stageId))
        st.submitted = e.stageInfo.submissionTime.getOrElse(0L)
        st.completed = e.stageInfo.completionTime.getOrElse(0L)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val st = stages.getOrElseUpdate(e.stageId, new StageAgg(e.stageId))
      st.tasks += 1
      st.durations += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.inBytes += m.inputMetrics.bytesRead
        st.inRecords += m.inputMetrics.recordsRead
        st.shWrite += m.shuffleWriteMetrics.bytesWritten
        st.shRead += m.shuffleReadMetrics.totalBytesRead
        st.spill += m.diskBytesSpilled
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      lock.synchronized {
        val s = qe.tracker.phases.values.map(p => p.durationMs).sum / 1e3
        qes += ((System.currentTimeMillis(), s))
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    onFile.createNewFile()
  }

  def stop(): Unit = {
    onFile.delete()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    val w = Files.newBufferedWriter(Paths.get(s"$outDir/spans.jsonl"))
    spans.foreach(s => { w.write(JsonMethods.compact(JsonMethods.render(s))); w.write("\n") })
    w.close()
  }

  private def nsToMs(ns: Long): Long =
    System.currentTimeMillis() - (System.nanoTime() - ns) / 1000000L

  private def span(name: String, layer: String, id: String, parent: String,
                   startMs: Double, endMs: Double, extra: (String, JValue)*): Unit =
    spans += JObject(List("name" -> JString(name), "layer" -> JString(layer),
      "id" -> JString(id), "parent" -> JString(parent),
      "start_ms" -> JDouble(startMs), "end_ms" -> JDouble(endMs)) ++ extra: _*)

  /** Drains the listener bus, attributes this op's events, records its
    * spans, and returns its per-layer counters. */
  def opDone(opId: String, a0: Long, b1: Long, a1: Long,
             op: Harness.Op): List[(String, JValue)] = {
    sc.listenerBus.waitUntilEmpty()
    val opStart = nsToMs(a0).toDouble
    val buildEnd = nsToMs(b1).toDouble
    val opEnd = nsToMs(a1).toDouble
    lock.synchronized {
      val myJobs = jobs.filter(_.group == opId).toList
      jobs --= myJobs
      val myStages = myJobs.flatMap(_.stages).distinct.flatMap(stages.remove)
        .filter(_.completed > 0)
      val myQes = qes.toList
      qes.clear()
      span(op.id, "op", opId, "", opStart, opEnd)
      span("build", "build", s"$opId/build", opId, opStart, buildEnd)
      span("action", "action", s"$opId/action", opId, buildEnd, opEnd)
      myJobs.foreach { j =>
        val parent = if (j.start < buildEnd) s"$opId/build" else s"$opId/action"
        span(s"job ${j.jobId}", "job", s"$opId/job${j.jobId}", parent,
          j.start.toDouble, j.end.toDouble)
        j.stages.flatMap(id => myStages.find(_.stageId == id)).foreach { s =>
          span(s"stage ${s.stageId}", "stage", s"$opId/stage${s.stageId}",
            s"$opId/job${j.jobId}", s.submitted.toDouble, s.completed.toDouble,
            "tasks" -> JInt(s.tasks))
        }
      }
      val pyLines = readPySpans()
      pyLines.foreach { case (kind, t0, t1) =>
        val parent = myStages.find(s => s.submitted <= t0 && t0 <= s.completed)
          .map(s => s"$opId/stage${s.stageId}").getOrElse(s"$opId/build")
        span(s"python $kind", if (kind == "validate") "py_validate" else "py_worker",
          s"$opId/py$t0", parent, t0, t1)
      }
      val buildJobs = myJobs.count(_.start < buildEnd)
      val durs = myStages.filter(_.tasks >= 2).map { s =>
        val d = s.durations.sorted
        d.last.toDouble / math.max(1L, d(d.size / 2))
      }.sorted
      List(
        "jobs" -> JInt(myJobs.size), "build_jobs" -> JInt(buildJobs),
        "stages" -> JInt(myStages.size),
        "tasks" -> JInt(myStages.map(_.tasks).sum),
        "stage_intervals" -> JArray(myStages.map(s =>
          JArray(List(JDouble(s.submitted.toDouble), JDouble(s.completed.toDouble))))),
        "op_start_ms" -> JDouble(opStart), "op_end_ms" -> JDouble(opEnd),
        "task_run_s" -> JDouble(myStages.map(_.runMs).sum / 1e3),
        "task_cpu_s" -> JDouble(myStages.map(_.cpuNs).sum / 1e9),
        "gc_s" -> JDouble(myStages.map(_.gcMs).sum / 1e3),
        "scan_bytes" -> JLong(myStages.map(_.inBytes).sum),
        "scan_rows" -> JLong(myStages.map(_.inRecords).sum),
        "shuffle_write_bytes" -> JLong(myStages.map(_.shWrite).sum),
        "shuffle_read_bytes" -> JLong(myStages.map(_.shRead).sum),
        "spill_bytes" -> JLong(myStages.map(_.spill).sum),
        "task_skew" -> (if (durs.isEmpty) JNull else JDouble(durs(durs.size / 2))),
        "plan_s" -> JDouble(myQes.lastOption.map(_._2).getOrElse(0.0)),
        "py_workers" -> JInt(pyLines.count(_._1 == "worker")),
        "py_validate_s" -> JDouble(pyLines.filter(_._1 == "validate")
          .map(l => (l._3 - l._2) / 1e3).sum))
    }
  }

  private var pyRead = 0
  private def readPySpans(): List[(String, Double, Double)] = {
    if (!pySpans.exists()) return Nil
    val lines = scala.io.Source.fromFile(pySpans).getLines().toList
    val fresh = lines.drop(pyRead)
    pyRead = lines.size
    fresh.map(_.split(" ")).collect {
      case Array(kind, t0, t1) => (kind, t0.toLong / 1e6, t1.toLong / 1e6)
    }
  }
}
