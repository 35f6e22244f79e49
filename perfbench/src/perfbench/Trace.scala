package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A JSON-lines record file: one object per line, flat values only
  * (numbers, strings, booleans, and lists or maps of those). The Python
  * side of the benchmark reads it and does all the metric math. */
final class Record(path: File) {
  private val out = new BufferedWriter(
    new OutputStreamWriter(new FileOutputStream(path), UTF_8))

  def emit(kind: String, fields: (String, Any)*): Unit = synchronized {
    out.write(Json.obj(("k" -> kind) +: fields))
    out.write('\n')
  }

  def close(): Unit = synchronized(out.close())
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** One timed call into a layer. `group` is the Spark job group set while
  * it ran, so stage metrics attribute to it. */
final case class Span(name: String, unit: Int, parent: String, group: String,
                      startNs: Long, endNs: Long, attrs: Map[String, Any])

/** Spans and engine events for the traced units of one run, kept in memory
  * and written out by [[flush]].
  *
  * Three listeners are registered only while a traced unit runs (see
  * [[attach]] / [[detach]]), so untraced units pay nothing:
  *  - a SparkListener folds task metrics per stage and maps each stage to
  *    the job group its job was submitted under, and tracks the bytes of
  *    cached RDD blocks (the peak while a span ran is its cache footprint);
  *  - a QueryExecutionListener keeps the QueryPlanningTracker phases of
  *    every executed query;
  *  - a StreamingQueryListener keeps each micro-batch's progress.
  * Events arrive on the listener bus asynchronously; every span drains the
  * bus when it ends, and query and stream events are attributed to the
  * span that was open when they were delivered. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stageGroup = mutable.Map.empty[Int, String]
  private final class StageAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var memSpill = 0L
    var diskSpill = 0L; var inBytes = 0L; var inRecords = 0L
    var outBytes = 0L; var outRecords = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageAgg]
  private val jobs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val queries = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val batches = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val blocks = mutable.Map.empty[String, Long]
  private var blockBytes = 0L
  private var blockPeak = 0L
  @volatile private var openGroup = ""

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      e.stageIds.foreach(stageGroup(_) = g)
      jobs += Map("group" -> g, "job" -> e.jobId, "stages" -> e.stageIds.size)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val a = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAgg)
      a.tasks += 1
      a.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.memSpill += m.memoryBytesSpilled; a.diskSpill += m.diskBytesSpilled
        a.inBytes += m.inputMetrics.bytesRead
        a.inRecords += m.inputMetrics.recordsRead
        a.outBytes += m.outputMetrics.bytesWritten
        a.outRecords += m.outputMetrics.recordsWritten
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      val i = e.blockUpdatedInfo
      if (i.blockId.isRDD) {
        val now = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
        blockBytes += now - blocks.getOrElse(i.blockId.name, 0L)
        blocks(i.blockId.name) = now
        blockPeak = math.max(blockPeak, blockBytes)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized { queries += phasesOf(qe) + ("action" -> funcName) }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      Tracer.this.synchronized {
        queries += phasesOf(qe) + ("action" -> funcName) + ("failed" -> true)
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val trig = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        batches += Map("group" -> openGroup, "query" -> p.runId.toString,
                       "batch" -> p.batchId, "rows" -> p.numInputRows,
                       "trigger_ms" -> trig,
                       "end_ms" -> (java.time.Instant.parse(p.timestamp).toEpochMilli + trig))
      }
  }

  /** Phase durations of one executed query, in ms, tagged with the span
    * that was open when it was delivered. */
  def phasesOf(qe: QueryExecution): Map[String, Any] = {
    val ph = qe.tracker.phases
    Map("group" -> openGroup) ++
      Seq("analysis", "optimization", "planning").map(n =>
        s"${n}_ms" -> ph.get(n).map(_.durationMs).getOrElse(0L))
  }

  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Runs `body` as span `name` of traced unit `unit` under its own job
    * group; `attrs` turns the result into counts recorded with the span. */
  def span[T](name: String, unit: Int, parent: String = "unit")(body: => T): T =
    spanWith(name, unit, parent, (_: T) => Map.empty[String, Any])(body)

  def spanWith[T](name: String, unit: Int, parent: String,
                  attrs: T => Map[String, Any])(body: => T): T = {
    val group = s"u$unit/$name"
    PerfbenchBus.drain(sc)
    synchronized { openGroup = group; blockPeak = blockBytes }
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val r = try body finally sc.clearJobGroup()
    val t1 = System.nanoTime()
    PerfbenchBus.drain(sc)
    val peak = synchronized { openGroup = ""; blockPeak }
    spans += Span(name, unit, parent, group, t0, t1,
                  attrs(r) + ("cache_peak_bytes" -> peak))
    r
  }

  /** A span with no body of its own: the whole traced unit, recorded after
    * its children so their intervals nest inside it. */
  def enclose(name: String, unit: Int, t0: Long, t1: Long): Unit =
    spans += Span(name, unit, "", s"u$unit/$name", t0, t1, Map.empty)

  def flush(rec: Record): Unit = Tracer.this.synchronized {
    spans.foreach { s =>
      rec.emit("span", Seq("name" -> s.name, "unit" -> s.unit, "parent" -> s.parent,
        "group" -> s.group, "start_ns" -> s.startNs, "end_ns" -> s.endNs) ++ s.attrs: _*)
    }
    stages.foreach { case ((id, attempt), a) =>
      val sorted = a.taskMs.sorted
      rec.emit("stage", "group" -> stageGroup.getOrElse(id, ""), "stage" -> id,
        "attempt" -> attempt, "tasks" -> a.tasks, "run_ms" -> a.runMs,
        "cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs, "shuffle_write" -> a.shuffleWrite,
        "shuffle_read" -> a.shuffleRead, "mem_spill" -> a.memSpill,
        "disk_spill" -> a.diskSpill, "in_bytes" -> a.inBytes,
        "in_records" -> a.inRecords, "out_bytes" -> a.outBytes,
        "out_records" -> a.outRecords, "task_ms" -> sorted)
    }
    jobs.foreach(j => rec.emit("job", j.toSeq: _*))
    queries.foreach(q => rec.emit("query", q.toSeq: _*))
    batches.foreach(b => rec.emit("batch", b.toSeq: _*))
  }
}
