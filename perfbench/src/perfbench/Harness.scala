package perfbench

import java.io.File
import java.nio.ByteBuffer
import java.nio.ByteOrder.LITTLE_ENDIAN
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.io.Source
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.exports.Exports
import graft.ingest.HitParser
import graft.session.Sessionize
import graft.sources.Tables

/** JVM side of the benchmark: sets the session up, runs one workload's
  * units in a closed loop (one client, one unit at a time) for a fixed
  * time, checks every unit's output, and writes raw samples, spans and
  * engine events to a JSON-lines record. All metric math happens in
  * `perfbench/metrics.py`.
  *
  *   perfbench.Harness <workload> <input dir> <work dir> <seconds> <trace 0|1>
  *                     <cores> <gates>
  *
  * Units:
  *  - feed_export: one `graft.Pipeline.run` over the gzipped ISO-8859-1
  *    feed, Beam shard names on; the three exports are read back with
  *    plain file IO and checked against the generator's truth.
  *  - gate_mix: one pass over the gate list, each gate forced by the same
  *    full-row fold; every pass gets a fresh copy of the input dir and a
  *    fresh `spark.graft.layoutRoot`, so no pass reuses a memo an earlier
  *    one built. Each pass's folds must equal those of the checked pass
  *    that ran first, whose outputs the Python side compares with DuckDB.
  *
  * A traced run alternates untraced and traced units. A traced unit first
  * times forced prefixes of the workload (scan, + parse, + sessionize),
  * then the unit itself with a span around each layer call. */
object Harness {

  final case class Args(workload: String, input: String, work: String,
                        seconds: Double, trace: Boolean,
                        cores: Int, gates: Seq[String])

  def main(argv: Array[String]): Unit = {
    require(argv.length == 7, "usage: Harness <workload> <input> <work> " +
      "<seconds> <trace 0|1> <cores> <gate,gate,...>")
    val a = Args(argv(0), argv(1), argv(2), argv(3).toDouble, argv(4) == "1",
                 argv(5).toInt,
                 argv(6).split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    new File(a.work).mkdirs()
    val rec = new Record(new File(a.work, "record.jsonl"))
    var failed = false
    try failed = !run(a, rec)
    finally rec.close()
    if (failed) sys.exit(2)
  }

  /** Session of the repo main that runs the workload's code, on
    * local[cores], with the UI off and Spark's scratch and warehouse dirs in
    * the work dir. feed_export gets `graft.Pipeline.main`'s
    * settings: UTC session zone, WARN log level, every other conf at Spark's
    * default. gate_mix gets `graft.Bench`'s: shuffle partitions = cores and
    * the legacy nanos-as-long parquet read as well. */
  def session(a: Args): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("graft-pipeline")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
    if (a.workload == "gate_mix")
      b.config("spark.sql.shuffle.partitions", a.cores.toString)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def run(a: Args, rec: Record): Boolean = {
    val truth = Truth.load(new File(a.input, "truth.json"))
    val wl: Workload = a.workload match {
      case "feed_export"  => new FeedExport(a, truth)
      case "gate_mix"     => new GateMix(a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    // one cold set-up: the JVM's class loading, graft's object inits and
    // the first JIT all land in it, as they do in a run of the program
    val t0 = System.nanoTime()
    val spark = session(a)
    wl.warmup(spark)
    rec.emit("setup", "s" -> (System.nanoTime() - t0) / 1e9)
    rec.emit("host", hostStamp(spark, a).toSeq: _*)
    var ok = true
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    // two timed units keep a run of each workload near 40-55 s on 4 cores,
    // so the benchmark's repeated runs fit their time budget
    val minUnits = if (a.trace) 4 else 2
    val start = System.nanoTime()
    var i = 0
    while (i < minUnits || (System.nanoTime() - start) / 1e9 < a.seconds) {
      val traced = tracer.filter(_ => i % 2 == 1)
      // untimed: no unit pays for the previous one's garbage
      System.gc()
      val (secs, errs) =
        try {
          val (s, check) = traced match {
            case Some(t) =>
              t.attach()
              try wl.tracedUnit(spark, i, t) finally t.detach()
            case None => wl.unit(spark, i)
          }
          (s, check())
        } catch {
          case e: Throwable =>
            (Double.NaN, Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)))
        }
      rec.emit("unit", "i" -> i, "traced" -> traced.isDefined, "s" -> secs,
               "ok" -> errs.isEmpty, "errors" -> errs)
      ok &&= errs.isEmpty
      i += 1
    }
    val finalErrs = wl.finish(spark)
    finalErrs.foreach(e => rec.emit("check", "ok" -> false, "error" -> e))
    tracer.foreach(_.flush(rec))
    rec.emit("memory", "vm_hwm_kb" -> procStatusKb("VmHWM"),
             "heap_max_bytes" -> Runtime.getRuntime.maxMemory)
    spark.stop()
    ok && finalErrs.isEmpty
  }

  def procStatusKb(key: String): Long = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    finally src.close()
  }

  def hostStamp(spark: SparkSession, a: Args): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "cores" -> a.cores,
    "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
    "java_version" -> sys.props("java.version"),
    "java_vm" -> sys.props("java.vm.name"),
    "spark_version" -> spark.version,
    "scala_version" -> scala.util.Properties.versionNumberString,
    "confs" -> spark.conf.getAll.filter { case (k, _) =>
      !k.startsWith("spark.app.") && !k.startsWith("spark.driver.host") &&
      !k.startsWith("spark.driver.port") && k != "spark.executor.id"
    }
  )

  /** Full-row fold: row count plus the sums of the low and high 32-bit
    * halves of each row's xxhash64. Forces every output column, and equal
    * rows add up instead of cancelling, so two folds of one frame agree
    * exactly when its rows do (up to hash collisions). */
  def fold(df: DataFrame, extra: Column*): Row = {
    val h = xxhash64(struct(df.columns.map(col).toIndexedSeq: _*))
    val cols = h.as("__h") +: extra.zipWithIndex.map { case (c, i) => c.as(s"__x$i") }
    val sums = Seq(col("__h").bitwiseAND(0xffffffffL), shiftrightunsigned(col("__h"), 32)) ++
      extra.indices.map(i => col(s"__x$i"))
    df.select(cols: _*)
      .agg(count(lit(1)), sums.map(c => coalesce(sum(c), lit(0L))): _*)
      .head()
  }

  def foldKey(r: Row): String =
    s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"

  def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.delete)
    }

  def expect(errs: collection.mutable.Buffer[String], what: String,
             got: Any, want: Any): Unit =
    if (got != want) errs += s"$what: got $got, want $want"
}

/** The generator's truth, flattened to dotted keys. */
object Truth {
  def load(f: File): Map[String, String] = {
    val txt = new String(Files.readAllBytes(f.toPath), UTF_8)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(txt)
    def walk(prefix: String, n: com.fasterxml.jackson.databind.JsonNode): Seq[(String, String)] =
      if (n.isObject) n.fields().asScala.toSeq.flatMap(e =>
        walk(if (prefix.isEmpty) e.getKey else s"$prefix.${e.getKey}", e.getValue))
      else Seq(prefix -> n.asText)
    walk("", node).toMap
  }
}

/** One workload. `unit` and `tracedUnit` return the unit's wall seconds
  * and a check to run after the clock stops; the check returns the list
  * of mismatches (empty when the output is correct). */
trait Workload {
  /** The set-up's warm-up, run once before the first timed unit. */
  def warmup(spark: SparkSession): Unit = unit(spark, -1)
  def unit(spark: SparkSession, i: Int): (Double, () => Seq[String])
  def tracedUnit(spark: SparkSession, i: Int, t: Tracer): (Double, () => Seq[String])
  def finish(spark: SparkSession): Seq[String] = Nil
}

final class FeedExport(a: Harness.Args, truth: Map[String, String]) extends Workload {
  import Harness._
  private val glob = s"${a.input}/*.tsv.gz"
  private val enc = "ISO-8859-1"
  private val out = Paths.get(a.work, "exports")
  private val exports = Seq("hits", "visits", "visitors")

  def unit(spark: SparkSession, i: Int): (Double, () => Seq[String]) = {
    deleteTree(out)
    val (s, (in, parsed)) = timed(
      graft.Pipeline.run(spark, glob, out.toString, encoding = enc))
    (s, () => checkCounts(in, parsed) ++ checkExports())
  }

  def tracedUnit(spark: SparkSession, i: Int, t: Tracer): (Double, () => Seq[String]) = {
    deleteTree(out)
    // forced prefixes: scan -> + parse -> + sessionize
    t.spanWith("probe.scan", i, "probe", (r: Row) =>
        Map("rows" -> r.getLong(0))) {
      fold(Tables.rawFeed(spark, glob, enc))
    }
    t.spanWith("probe.parse", i, "probe", (r: Row) =>
        Map("rows" -> r.getLong(0))) {
      fold(HitParser.parse(Tables.rawFeed(spark, glob, enc)))
    }
    t.spanWith("probe.sessionize", i, "probe", (r: Row) =>
        Map("rows" -> r.getLong(0))) {
      fold(Sessionize.withSessionIds(
        HitParser.parse(Tables.rawFeed(spark, glob, enc)), gapUs = 1800L, tsUsCol = "ts"))
    }
    // the unit: graft.Pipeline.run's body, one span per layer call
    val inObs = Observation("perfbench_in")
    val outObs = Observation("perfbench_out")
    val t0 = System.nanoTime()
    val raw = t.span("sources.rawFeed", i) {
      Tables.rawFeed(spark, glob, enc).observe(inObs, count(lit(1)).as("n"))
    }
    val parsed = t.span("ingest.parse", i) {
      HitParser.parse(raw).observe(outObs, count(lit(1)).as("n"))
    }
    t.span("exports.writeAll", i) { Exports.writeAll(parsed, out.toString) }
    t.span("exports.rename", i) {
      exports.foreach(e => Exports.beamShardNames(spark, s"$out/$e", s"$e.csv"))
    }
    val in = inObs.get("n").asInstanceOf[Long]
    val kept = outObs.get("n").asInstanceOf[Long]
    val t1 = System.nanoTime()
    t.enclose("unit", i, t0, t1)
    ((t1 - t0) / 1e9, () => checkCounts(in, kept) ++ checkExports(Some((t, i))))
  }

  private def checkCounts(in: Long, parsed: Long): Seq[String] = {
    val e = collection.mutable.Buffer.empty[String]
    expect(e, "input_rows", in.toString, truth("input_rows"))
    expect(e, "parsed_rows", parsed.toString, truth("parsed_rows"))
    e.toSeq
  }

  /** Reads the three exports back with plain file IO: shard names, row
    * counts, the visit_start / visit_end sums and the content hash of
    * every export (see gen.py's row_hash). */
  private def checkExports(traced: Option[(Tracer, Int)] = None): Seq[String] = {
    val e = collection.mutable.Buffer.empty[String]
    var files = 0L; var bytes = 0L
    val rowsOf = collection.mutable.Map.empty[String, Long]
    exports.foreach { name =>
      val dir = out.resolve(name).toFile
      val shards = Option(dir.listFiles()).getOrElse(Array.empty[File])
        .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
        .sortBy(_.getName)
      val n = shards.length
      val want = (0 until n).map(k => f"$name.csv-$k%05d-of-$n%05d")
      if (shards.map(_.getName).toSeq != want)
        e += s"$name: shard names ${shards.map(_.getName).take(3).mkString(",")}..."
      var rows = 0L; var hash = 0L; var s2 = 0L; var s3 = 0L
      val md5 = MessageDigest.getInstance("MD5")
      shards.foreach { f =>
        files += 1; bytes += f.length
        val src = Source.fromFile(f, "UTF-8")
        try src.getLines().foreach { line =>
          val fields = line.split(",", -1).map(x => if (x == "\"\"") "" else x)
          if (fields.exists(_.startsWith("\""))) e += s"$name: quoted field in $line"
          rows += 1
          val d = md5.digest(fields.mkString("\u001f").getBytes(UTF_8))
          hash += ByteBuffer.wrap(d, 0, 8).order(LITTLE_ENDIAN).getLong
          if (name == "visits") { s2 += fields(2).toLong; s3 += fields(3).toLong }
        } finally src.close()
      }
      rowsOf(name) = rows
      expect(e, s"$name.rows", rows.toString, truth(s"exports.$name.rows"))
      expect(e, s"$name.hash", java.lang.Long.toUnsignedString(hash),
             truth(s"exports.$name.hash"))
      if (name == "visits") {
        expect(e, "visit_start_sum", s2.toString, truth("visit_start_sum"))
        expect(e, "visit_end_sum", s3.toString, truth("visit_end_sum"))
      }
    }
    traced.foreach { case (t, i) =>
      t.spans += Span("exports.files", i, "check", "", 0L, 0L,
                      Map("files" -> files, "bytes" -> bytes) ++
                        rowsOf.map { case (k, v) => s"${k}_rows" -> v })
    }
    e.toSeq
  }

  /** Drop accounting per reason, once per run: the quarantine side of the
    * parser must name exactly the planted malformed rows. */
  override def finish(spark: SparkSession): Seq[String] = {
    val got = HitParser.quarantine(Tables.rawFeed(spark, glob, enc))
      .groupBy("reason").count().collect()
      .map(r => r.getString(0) -> r.getLong(1).toString).toMap
    val e = collection.mutable.Buffer.empty[String]
    Seq("short_row", "bad_ts", "bad_product").foreach(r =>
      expect(e, s"dropped.$r", got.getOrElse(r, "0"), truth(s"dropped.$r")))
    e.toSeq
  }
}

final class GateMix(a: Harness.Args) extends Workload {
  import Harness._
  private val fns = a.gates.map(g => g -> SparkEntry.queries.getOrElse(g,
    throw new IllegalArgumentException(s"unknown gate $g")))
  private var expected = Map.empty[String, String]
  private var passNo = 0

  /** A fresh copy (hard links) of the input tables and a fresh layout
    * root, so every pass pays the per-process memo builds again. */
  private def freshPass(spark: SparkSession): Path = {
    passNo += 1
    val dir = Paths.get(a.work, s"pass-$passNo")
    val data = dir.resolve("data")
    Files.createDirectories(data)
    new File(a.input).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.createLink(data.resolve(f.getName), f.toPath))
    spark.conf.set("spark.graft.layoutRoot", dir.resolve("layouts").toString)
    dir
  }

  private def pass(spark: SparkSession, dir: Path): Map[String, String] =
    fns.map { case (g, fn) => g -> foldKey(fold(fn(spark, dir.resolve("data").toString))) }.toMap

  /** The warm-up is the checked pass: each gate's output is written as
    * parquet for the DuckDB oracle compare, and its fold becomes the
    * expected fold of every timed pass. */
  override def warmup(spark: SparkSession): Unit = {
    val dir = freshPass(spark)
    val oracle = SparkEntry.oracleSql
    val outDir = Paths.get(a.work, "oracle")
    deleteTree(outDir)
    try {
      expected = fns.map { case (g, fn) =>
        val df = fn(spark, dir.resolve("data").toString)
        if (oracle.contains(g))
          df.coalesce(1).write.mode("overwrite").parquet(outDir.resolve(g).toString)
        g -> foldKey(fold(df))
      }.toMap
    } finally deleteTree(dir)
    Files.writeString(outDir.resolve("oracle_sql.json"),
      Json.value(oracle.filter { case (k, _) => expected.contains(k) }))
  }

  private def checkAgainst(got: Map[String, String]): Seq[String] =
    fns.map(_._1).filter(g => got(g) != expected(g))
      .map(g => s"$g: fold ${got(g)} != checked pass ${expected(g)}")

  def unit(spark: SparkSession, i: Int): (Double, () => Seq[String]) = {
    val dir = freshPass(spark)
    try {
      val (s, got) = timed(pass(spark, dir))
      (s, () => checkAgainst(got))
    } finally deleteTree(dir)
  }

  def tracedUnit(spark: SparkSession, i: Int, t: Tracer): (Double, () => Seq[String]) = {
    val dir = freshPass(spark)
    try {
      val data = dir.resolve("data").toString
      val t0 = System.nanoTime()
      val got = fns.map { case (g, fn) =>
        val df = t.span(s"queries.construct/$g", i, "gate")(fn(spark, data))
        // the gate frame's own planning phases; the fold's are in the query records
        t.spanWith(s"queries.plan/$g", i, "gate",
                   (_: Any) => t.phasesOf(df.queryExecution) - "group") {
          df.queryExecution.executedPlan
        }
        val r = t.span(s"queries.execute/$g", i, "gate")(fold(df))
        g -> foldKey(r)
      }.toMap
      val t1 = System.nanoTime()
      t.enclose("unit", i, t0, t1)
      ((t1 - t0) / 1e9, () => checkAgainst(got))
    } finally deleteTree(dir)
  }
}
