package graft.exports

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ingest.{FeedSynth, HitParser}
import graft.sources.Tables

/** The three sharded CSV exports (reference K1, `main.py:229-234`) written
  * and read back — sink glue on top of the proven frames. */
class ExportsSpec extends SparkSpec {

  private lazy val parsed =
    HitParser.parse(FeedSynth.synthLines(
      Tables.events(spark, "/root/testdata/sf0.001"))).cache()

  test("writeAll: three sharded CSV dirs, row counts consistent") {
    val dir = Files.createTempDirectory("graft-exports").toString
    Exports.writeAll(parsed, dir)
    val hits = spark.read.csv(s"$dir/hits")
    val visits = spark.read.csv(s"$dir/visits")
    val visitors = spark.read.csv(s"$dir/visitors")
    val n = parsed.count()
    assert(hits.count() === n)      // one line per hit
    assert(visitors.count() === n)  // reference parity: dupes retained
    assert(visits.count() > 0 && visits.count() <= n)
    assert(hits.columns.length === 12)
    assert(visits.columns.length === 4)
    assert(visitors.columns.length === 3)
  }

  test("writeAll exports equal the frames field for field (duplicates counted)") {
    val dir = Files.createTempDirectory("graft-exports-eq").toString
    Exports.writeAll(parsed, dir)
    def asStrings(df: DataFrame): DataFrame =
      df.select(df.columns.map(c => col(c).cast("string")): _*)
    Seq("hits" -> Exports.hitsFrame(parsed),
        "visits" -> Exports.visitsFrame(parsed),
        "visitors" -> Exports.visitorsFrame(parsed)).foreach { case (e, frame) =>
      // nullValue = a token no field holds: a quoted "" then reads back as
      // "" and only an unquoted empty field as null (the default maps both
      // to null)
      val written = spark.read.option("nullValue", "\\N").csv(s"$dir/$e")
      val expected = asStrings(frame)
      assert(written.exceptAll(expected).count() === 0, s"$e: rows not in frame")
      assert(expected.exceptAll(written).count() === 0, s"$e: rows not written")
    }
  }

  test("writeAll releases its checkpoint when the writes finish or throw") {
    parsed.count() // materialize the suite's own cache before the snapshot
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    Exports.writeAll(parsed, Files.createTempDirectory("graft-exports-pin").toString)
    assert(sc.getPersistentRDDs.keySet === before)
    // a base dir that is a plain file: the checkpoint runs, the first write throws
    val notADir = Files.createTempFile("graft-exports-pin", ".txt").toString
    intercept[Exception](Exports.writeAll(parsed, notADir))
    assert(sc.getPersistentRDDs.keySet === before)
  }

  test("writeAll at 200 shuffle partitions writes data-sized shards, not 200 per export") {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, "200")
    try {
      // 150 users: a 200-partition sessionize exchange leaves ~100 non-empty shards
      val hits = HitParser.parse(FeedSynth.synthLines(
        Tables.events(spark, "/root/testdata/sf0.01")))
      val dir = Files.createTempDirectory("graft-exports-shards").toString
      Exports.writeAll(hits, dir)
      val maxShards = 2 * spark.sparkContext.defaultParallelism
      val n = hits.count()
      Seq("hits" -> n, "visits" -> Exports.visitsFrame(hits).count(),
          "visitors" -> n).foreach { case (e, rows) =>
        val parts = new java.io.File(s"$dir/$e").list().filter(_.startsWith("part-"))
        assert(parts.length <= maxShards, s"$e: ${parts.length} part files")
        assert(spark.read.csv(s"$dir/$e").count() === rows, s"$e row count")
      }
    } finally spark.conf.set(key, old)
  }

  test("visits frame: key joins back to hits frame (the relational re-join the exports serve)") {
    val visits = Exports.visitsFrame(parsed)
    val hits = Exports.hitsFrame(parsed)
    // every hit's visit_key exists in visits
    val orphans = hits.join(visits.select("visit_key"), Seq("visit_key"), "left_anti")
    assert(orphans.count() === 0)
    // visit bounds bracket their hits
    val joined = hits.select(col("visit_key"), col("ts"))
      .join(visits, "visit_key")
    assert(joined.filter(col("ts") < col("visit_start") ||
                         col("ts") > col("visit_end")).count() === 0)
  }

  test("transcodeFeed: gzip ISO-8859-1 in, gzip UTF-8 out (encoding_update.py parity)") {
    import java.io.{FileOutputStream, OutputStreamWriter}
    import java.util.zip.{GZIPInputStream, GZIPOutputStream}
    val in = Files.createTempDirectory("graft-transcode-in").toString
    val out = s"${Files.createTempDirectory("graft-transcode-out")}/feeds"
    val line = "1000\tu\tv\tTRK\t\t2\tcafé\tsrv\ti\ts"
    val w = new OutputStreamWriter(
      new GZIPOutputStream(new FileOutputStream(s"$in/feed.tsv.gz")), "ISO-8859-1")
    try w.write(line) finally w.close()
    Exports.transcodeFeed(spark, s"$in/*.tsv.gz", out)
    // the produced artifact must be gzip whose UNCOMPRESSED BYTES are UTF-8
    val gz = new java.io.File(out).listFiles().filter(_.getName.endsWith(".gz"))
    assert(gz.nonEmpty)
    val bytes = gz.flatMap { f =>
      val s = new GZIPInputStream(new java.io.FileInputStream(f))
      try Iterator.continually(s.read()).takeWhile(_ >= 0).map(_.toByte).toArray
      finally s.close()
    }
    assert(new String(bytes, "UTF-8").trim === line) // é is two UTF-8 bytes now
    // and the engine reads it back with no encoding option at all
    assert(Tables.rawFeed(spark, s"$out/*.gz").collect().map(_.getString(0)) === Array(line))
  }

  test("transcodeFeed fails on sentinel-tainted input and deletes the partial output") {
    import java.io.{FileOutputStream, OutputStreamWriter}
    import java.util.zip.GZIPOutputStream
    val in = Files.createTempDirectory("graft-taint-in").toString
    val out = s"${Files.createTempDirectory("graft-taint-out")}/feeds"
    val w = new OutputStreamWriter(
      new GZIPOutputStream(new FileOutputStream(s"$in/feed.tsv.gz")), "UTF-8")
    try w.write("good\tline\nbad\u0001line") finally w.close()
    val e = intercept[IllegalStateException](
      Exports.transcodeFeed(spark, s"$in/*.tsv.gz", out))
    assert(e.getMessage.contains("1 input line"))
    assert(!new java.io.File(out).exists()) // partial output removed
  }

  test("beamShardNames renames part-files to <prefix>-SSSSS-of-NNNNN") {
    val dir = Files.createTempDirectory("graft-shardnames").toString
    Exports.visitsFrame(parsed).repartition(3)
      .write.mode("overwrite").csv(s"$dir/visits")
    val names = Exports.beamShardNames(spark, s"$dir/visits", "visits.csv")
    assert(names === (0 until 3).map(i => f"visits.csv-$i%05d-of-00003"))
    val listed = new java.io.File(s"$dir/visits").listFiles().map(_.getName)
    assert(names.forall(listed.contains))
    assert(!listed.exists(_.startsWith("part-")))
    // content survives the rename untouched
    assert(spark.read.csv(s"$dir/visits/visits.csv-*").count() ===
      Exports.visitsFrame(parsed).count())
  }

  test("beamShardNames orders shards numerically, not lexicographically") {
    val dir = Files.createTempDirectory("graft-shardnum").toString
    // "part-100000" < "part-99999" as strings — the shard index must
    // follow the numeric task id regardless
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(s"$dir/part-99999-uuid.csv"), "low-task")
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(s"$dir/part-100000-uuid.csv"), "high-task")
    val names = Exports.beamShardNames(spark, dir, "x.csv")
    assert(names === Seq("x.csv-00000-of-00002", "x.csv-00001-of-00002"))
    // the lower task id must have become shard 0
    assert(java.nio.file.Files.readString(
      java.nio.file.Path.of(s"$dir/x.csv-00000-of-00002")) === "low-task")
  }

  test("visitors dedup variant collapses duplicates") {
    val raw = Exports.visitorsFrame(parsed)
    val dedup = Exports.visitorsFrame(parsed, dedup = true)
    assert(dedup.count() === parsed.select("user_id").distinct().count())
    assert(dedup.count() < raw.count())
  }
}
