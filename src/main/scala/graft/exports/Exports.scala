package graft.exports

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.model.Schemas
import graft.queries.checkpointCompact
import graft.session.Sessionize
import graft.sources.Tables

/**
 * The reference's three denormalized exports (SURVEY.md §1.5, K1 sink —
 * `main.py:229-234`) as real sharded CSV writes: one part-file per task,
 * exactly Beam's `WriteToText` shard model, with no global sort. The
 * shard count follows the data size, not `spark.sql.shuffle.partitions`
 * ([[writeAll]] writes from one checkpoint with AQE-sized shards).
 *
 * Input is the parsed-hit frame ([[graft.ingest.HitParser.parse]] output:
 * ts in unix seconds + the 13 reference fields). Each export has exactly
 * ONE definition (the `*From` helpers on the sessionized frame); the
 * public per-frame API and [[writeAll]] both go through them.
 */
object Exports {

  private def sessionized(parsedHits: DataFrame): DataFrame =
    Sessionize.withSessionIds(parsedHits, gapUs = 1800L, tsUsCol = "ts")

  /** hits rows from an already-sessionized frame — 12 fields in reference
    * order (`Schemas.hitsExportColumns`, from `main.py:104-107`). */
  private def hitsFrom(sess: DataFrame): DataFrame =
    sess.select(Schemas.hitsExportColumns.map(col): _*)

  /** visits rows from an already-sessionized frame (`main.py:99-102`). */
  private def visitsFrom(sess: DataFrame): DataFrame =
    sess.groupBy("user_id", "session_id")
      .agg(min("ts").as("visit_start"), max("ts").as("visit_end"))
      .select(
        Sessionize.visitKey(col("user_id"), col("visit_start")).as("visit_key"),
        col("user_id"), col("visit_start"), col("visit_end"))

  /** visitors rows (`main.py:157-160`): reference parity keeps one row per
    * hit (`main.py:214`; SURVEY.md §1.5 quirk). */
  private def visitorsFrom(frame: DataFrame): DataFrame =
    frame.select("user_id", "ibm_id", "scv_id")

  /** hits.csv frame. */
  def hitsFrame(parsedHits: DataFrame): DataFrame =
    hitsFrom(sessionized(parsedHits))

  /** visits.csv frame. */
  def visitsFrame(parsedHits: DataFrame): DataFrame =
    visitsFrom(sessionized(parsedHits))

  /** visitors.csv frame; `dedup = true` is the honest variant the
    * reference lacked. */
  def visitorsFrame(parsedHits: DataFrame, dedup: Boolean = false): DataFrame = {
    val v = visitorsFrom(parsedHits)
    if (dedup) v.dropDuplicates() else v
  }

  /** Write all three exports under `baseDir/{hits,visits,visitors}` as
    * sharded CSV (part-file per task ≡ Beam shard-per-bundle), from ONE
    * eager DISK_ONLY checkpoint of the sessionized input, released after.
    * Its job runs under AQE, which coalesces the shards to a data-sized
    * few; a `persist()`ed plan cannot, it keeps its exchange's partition
    * count (`canChangeCachedPlanOutputPartitioning` is off by default). */
  def writeAll(parsedHits: DataFrame, baseDir: String): Unit = {
    val sess = checkpointCompact(sessionized(parsedHits))
    try {
      hitsFrom(sess).write.mode("overwrite").csv(s"$baseDir/hits")
      visitsFrom(sess).write.mode("overwrite").csv(s"$baseDir/visits")
      visitorsFrom(sess).write.mode("overwrite").csv(s"$baseDir/visitors")
    } finally sess.queryExecution.logical match {
      case pinned: LogicalRDD => pinned.rdd.unpersist()
    }
  }

  /**
   * The write-back transcode job — `encoding_update.py:21-29` parity as a
   * FILE-PRODUCING job, for consumers that want re-encoded feeds on disk
   * rather than the scan-folded decode ([[Tables.rawFeed]] subsumes the
   * need inside this engine; this serves everyone else). Reads gzipped
   * feeds in `fromEncoding`, writes gzipped UTF-8 feeds (Spark's text sink
   * always emits UTF-8, so the decode IS the transcode). Unlike the
   * reference's single-node 64 KiB-block loop, this is one distributed
   * map: no shuffle, one output shard per input split, scales with tasks.
   */
  def transcodeFeed(spark: SparkSession, inGlob: String, outDir: String,
                    fromEncoding: String = "ISO-8859-1"): Unit = {
    // overwrite deletes outDir before the lazy read runs - refuse an
    // output that is the input's own directory
    val outPath = new Path(outDir)
    val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.makeQualified(outPath) != fs.makeQualified(new Path(inGlob).getParent),
      s"transcodeFeed cannot write into its input directory ($outDir)")
    // Single-pass \u0001 guard: rawFeed's line contract uses \u0001 as
    // the live delimiter (see Tables.rawFeed), so a line CONTAINING it
    // would be silently truncated - tolerable for in-engine scans, not
    // for a file-producing job external consumers read. Reading with a
    // second schema column catches exactly those lines (the split
    // remainder lands in `extra`), an `observe` counts them DURING the
    // transcode's own scan (no second decompress pass), and a nonzero
    // count fails the job after deleting the partial output -
    // write-then-verify.
    val obs = org.apache.spark.sql.Observation("graft_transcode_guard")
    Tables.rawFeedWithSchema(spark, inGlob, fromEncoding,
                             "value STRING, extra STRING")
      .observe(obs, sum(when(col("extra").isNotNull, 1L).otherwise(0L))
                      .as("tainted"))
      .select("value")
      .write.mode("overwrite")
      .option("compression", "gzip")
      .text(outDir)
    val tainted = Option(obs.get("tainted")).map(_.asInstanceOf[Long]).getOrElse(0L)
    if (tainted > 0L) {
      fs.delete(outPath, true)
      throw new IllegalStateException(
        s"$tainted input line(s) contain \\u0001 - transcode output deleted")
    }
  }

  /**
   * Beam `WriteToText` shard-name parity (`main.py:229-234` emits
   * `<prefix>-SSSSS-of-NNNNN`; Spark emits `part-*`): renames the
   * part-files of a finished write so a consumer glob-matching Beam names
   * keeps working. A pure metadata operation through the Hadoop
   * FileSystem API (works on HDFS/object stores, O(#shards), no data
   * movement — renames are what Beam's own finalize step does). Shard
   * order follows part-file name order, matching the task-number order
   * both systems use. Returns the new names.
   */
  def beamShardNames(spark: SparkSession, dir: String,
                     prefix: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listed = fs.listStatus(p).map(_.getPath)
    // NUMERIC task-number order, not lexicographic: "part-100000" sorts
    // before "part-99999" as a string, so ≥100k-shard exports would get
    // out-of-order shard indices under a name sort
    def taskNum(name: String): Long =
      "\\d+".r.findFirstIn(name).map(_.toLong).getOrElse(Long.MaxValue)
    val parts = listed.filter(_.getName.startsWith("part-"))
      .sortBy(f => (taskNum(f.getName), f.getName))
    val renamed = listed.map(_.getName)
      .filter(_.startsWith(s"$prefix-"))
      .sortBy(n => (taskNum(n.stripPrefix(s"$prefix-")), n)).toSeq
    // Idempotency/partial-failure guard: renames aren't atomic as a group.
    // A directory that already holds ONLY renamed shards is a completed
    // earlier run — return them unchanged. A MIX of part-* and renamed
    // files is an interrupted run whose shard totals would come out
    // inconsistent — fail loudly; re-write the export and rename again.
    if (parts.isEmpty) return renamed
    require(renamed.isEmpty,
      s"$dir holds both part-* and $prefix-* files (interrupted rename?) — " +
        "re-write the export before renaming")
    val n = parts.length
    parts.zipWithIndex.map { case (src, i) =>
      val name = f"$prefix-$i%05d-of-$n%05d"
      require(fs.rename(src, new Path(p, name)), s"rename failed: $src")
      name
    }.toSeq
  }
}
