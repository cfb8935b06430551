package graft.cdc

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture.spark

/** Bounded streaming harness invariants (r10 review regressions). */
class CdcStreamSpec extends AnyFunSuite {

  test("punctuated append: NON-time-ordered directory parts equal the batch aggregate") {
    // r10 review finding: a file-per-batch read (maxFilesPerTrigger=1)
    // over a directory feed advanced the watermark to max−delay after
    // the FIRST part, so every later part's rows were silently dropped
    // as late — invisible at the single-file gate SFs, measured at sf1
    // (cdc_stream_asof emitted 12,874 of ~19,810 expected rows on the
    // round-robin replica). All staged data must land in ONE batch.
    // This feed makes the failure loud at test scale: the part that
    // sorts FIRST holds the LATE half of the events, so any
    // file-per-batch regression drops the entire early half.
    import spark.implicits._
    val root = graft.Scratch.dir("punct_ooo")
    val evDir = root.resolve("events.parquet")
    java.nio.file.Files.createDirectories(evDir)
    def part(name: String, hours: Range): Unit = {
      val df = hours.map { h =>
        (h.toLong, java.time.LocalDateTime.of(2024, 1, 1 + h / 24, h % 24, 30),
          (h % 3).toLong, if (h % 2 == 0) "click" else "view", h * 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val tmp = graft.Scratch.dir(s"punct_ooo_src")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      java.nio.file.Files.move(graft.Scratch.firstParquet(tmp), evDir.resolve(name))
    }
    part("part-00000.parquet", 24 until 48) // sorts first, LATE half
    part("part-00001.parquet", 0 until 24) // sorts second, EARLY half
    val got = CdcStream.runPunctuatedAppend(spark, root.toString) { raw =>
      raw.withWatermark("ts", "1 hour")
        .groupBy(window($"ts", "1 hour").as("win"), $"event_type")
        .agg(count(lit(1)).as("n"))
    }
      .filter($"event_type" =!= "sentinel")
      .select($"win.start".as("w"), $"event_type", $"n")
    val want = graft.Tables.events(spark, root.toString)
      .groupBy(window($"ts", "1 hour").as("win"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"win.start".as("w"), $"event_type", $"n")
    assert(got.count() === 48L,
      s"expected 48 finalized windows, got ${got.count()} — rows dropped behind the watermark")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "streamed windows diverge from the batch aggregate")
  }

  test("parquet-java sentinel file round-trips identically to the Spark-written row") {
    // r17: the punctuated runners' 1-row sentinel is written with
    // parquet-java instead of a Spark write job — per declared ts
    // type, Spark must read back EXACTLY the row the old
    // lit(...).coalesce(1).write.parquet produced.
    import spark.implicits._
    val cases: Seq[(DataType, org.apache.spark.sql.Column)] = Seq(
      (LongType, lit(4102444800000000000L)),
      (TimestampNTZType, lit(java.time.LocalDateTime.of(2100, 1, 1, 0, 0))),
      (TimestampType, lit(java.time.Instant.parse("2100-01-01T00:00:00Z"))))
    cases.foreach { case (tsType, sentTs) =>
      val d = graft.Scratch.dir(s"sentinel_rt")
      val file = d.resolve("s.parquet")
      CdcStream.writeSentinelFile(file, tsType)
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("ts", tsType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType)))
      val got = spark.read.schema(schema).parquet(file.toString)
      val want = spark.range(1).select(
        lit(-1L).as("event_id"), sentTs.as("ts"), lit(-1L).as("user_id"),
        lit("sentinel").as("event_type"), lit(0.0).as("value"),
        lit("{}").as("props"))
      assert(got.schema.map(f => (f.name, f.dataType)) ===
        want.schema.map(f => (f.name, f.dataType)),
        s"schema mismatch for $tsType")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"sentinel row mismatch for $tsType")
    }
  }

  test("the end-of-stream sentinel appears in the live dir only whole") {
    // the sentinel lands in a dir a running FileStreamSource polls in
    // the background: a visible name must never be created empty and
    // then filled. inotify reports a rename-in as a create with no
    // later modify; an in-place write as create + modify.
    import java.nio.file.StandardWatchEventKinds.{ENTRY_CREATE, ENTRY_MODIFY}
    val d = graft.Scratch.dir("sentinel_live")
    val ws = d.getFileSystem.newWatchService()
    val events = try {
      d.register(ws, ENTRY_CREATE, ENTRY_MODIFY)
      CdcStream.writeSentinelFile(d.resolve("01_sentinel.parquet"), LongType)
      val seen = Seq.newBuilder[(String, String)]
      var key = ws.poll(10, java.util.concurrent.TimeUnit.SECONDS)
      while (key != null) {
        key.pollEvents().asScala.foreach(e => seen += ((e.kind.name, e.context.toString)))
        key.reset()
        key = ws.poll(500, java.util.concurrent.TimeUnit.MILLISECONDS)
      }
      seen.result()
    } finally ws.close()
    // the file source ignores dot- and underscore-prefixed names
    val visible = events.filterNot { case (_, n) => n.startsWith(".") || n.startsWith("_") }
    assert(visible === Seq(("ENTRY_CREATE", "01_sentinel.parquet")),
      s"a visible file changed after it appeared: $visible")
    assert(spark.read.parquet(d.resolve("01_sentinel.parquet").toString).count() === 1L)
  }

  private def withConf[T](key: String, value: String)(f: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** A 3-row events feed with the given `ts` and a `day` partition column. */
  private def eventsFeed(ts: org.apache.spark.sql.Column): DataFrame =
    spark.range(3).select(col("id").as("event_id"), ts.as("ts"), col("id").as("user_id"),
      lit("click").as("event_type"), lit(1.0).as("value"), lit("{}").as("props"),
      lit(1).as("day"))

  test("event-time guard scans a partitioned feed dir instead of passing it as empty") {
    // 2024-01-01 stored as int64 MICROS while the declared type says
    // nanos: the guard must fail by name (the data is pre-2000 as read),
    // whether the data files sit at the top level or below it
    val micros2024 = 1704067200000000L
    val schema = eventsFeed(lit(micros2024)).drop("day").schema
    val root = graft.Scratch.dir("guard_nested")
    eventsFeed(lit(micros2024)).coalesce(1).write.partitionBy("day")
      .parquet(root.resolve("events.parquet").toString)
    val e = intercept[IllegalArgumentException] {
      CdcStream.assertEventTimeSane(spark, root.resolve("events.parquet").toString, schema)
    }
    assert(e.getMessage.contains("pre-2000"), e.getMessage)
  }

  test("event-time guard reads a TIMESTAMP(MILLIS) feed by its unit") {
    val root = graft.Scratch.dir("guard_millis")
    val path = root.resolve("events.parquet").toString
    val feed = eventsFeed(lit(java.time.Instant.parse("2024-01-01T00:00:00Z"))).drop("day")
    withConf("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS") {
      feed.coalesce(1).write.parquet(path)
    }
    CdcStream.assertEventTimeSane(spark, path, feed.schema)
  }

  /** The one `graft_<tag>_in*` dir [[CdcStream.stagedStream]] staged. */
  private def stagedFiles(tag: String): Seq[Path] = {
    def list(d: Path): Seq[Path] = {
      val s = Files.list(d)
      try s.iterator().asScala.toList finally s.close()
    }
    val dirs = list(Paths.get(System.getProperty("java.io.tmpdir")))
      .filter(_.getFileName.toString.startsWith(s"graft_${tag}_in"))
    assert(dirs.size === 1, s"staged dirs for $tag: $dirs")
    list(dirs.head).filter(_.getFileName.toString.endsWith(".parquet"))
      .sortBy(_.getFileName.toString)
  }

  test("stagedStream: one file per cut slice, admitted in cut order; null keys dropped") {
    import spark.implicits._
    val tag = "sspec" + java.util.UUID.randomUUID().toString.take(8)
    val df = ((1L to 10L).map(k => (Option(k), s"r$k")) :+ ((None: Option[Long], "null")))
      .toDF("k", "v")
    // slice 1 = (3, 3] is empty
    val stream = CdcStream.stagedStream(df, "k", Seq(3L, 3L, 7L), tag, 1)
    val files = stagedFiles(tag)
    assert(files.map(_.getFileName.toString) ===
      Seq("00.parquet", "01.parquet", "02.parquet", "03.parquet"))
    val mtimes = files.map(Files.getLastModifiedTime(_).toMillis)
    assert(mtimes.zip(mtimes.tail).forall { case (a, b) => a < b },
      s"mtimes not strictly increasing in cut order: $mtimes")
    assert(spark.read.parquet(files(1).toString).count() === 0L)
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    val q = stream.writeStream.foreachBatch { (b: DataFrame, _: Long) =>
      batches.add(b.select($"k").as[Long].collect().toSeq.sorted); ()
    }.start()
    try q.processAllAvailable() finally q.stop()
    assert(batches.asScala.toSeq ===
      Seq(Seq(1L, 2L, 3L), Seq(), Seq(4L, 5L, 6L, 7L), Seq(8L, 9L, 10L)))
  }

  test("stagedStream: a multi-file partition dir fails by name") {
    import spark.implicits._
    val e = withConf("spark.sql.files.maxRecordsPerFile", "1") {
      intercept[IllegalArgumentException] {
        CdcStream.stagedStream((1L to 4L).toDF("k"), "k", Seq(2L), "sspec_multi", 1)
      }
    }
    assert(e.getMessage.contains("expected exactly one .parquet") &&
      e.getMessage.contains("__b=0"), e.getMessage)
  }
}
