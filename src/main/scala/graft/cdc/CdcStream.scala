package graft.cdc

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

/** One change-feed record in flight (micros instead of Timestamp keeps
  * the encoder simple and the state compact). The framing fields the
  * wire format makes structurally mandatory — key, seq/LSN, op, commit
  * time — are non-null by the [[ChangeFeed]] well-formedness contract;
  * `value` is COLUMN data and stays optional (a real change can carry
  * NULL in any column — dropping such rows would corrupt state). */
case class ChangeRecord(key: Long, seq: Long, op: String,
    event_type: String, value: Option[Double], tsMicros: Long)

/** Structured-Streaming twins of [[ApplyChanges]] — the "consume a
  * Debezium/Kafka change stream, keep materialized state" path from the
  * reference's presentation. In production the source would be
  * Kafka+Debezium; here the bounded file source stands in, which is
  * exactly how Structured Streaming treats a backfill anyway.
  *
  * It also owns the bounded-stream harness every streaming runner is
  * built on, each piece written once:
  *   - [[stagedStream]] splits a batch feed into cut-ordered files and
  *     returns the `maxFilesPerTrigger` reader over them;
  *   - [[assertEventTimeSane]] is the event-time guard on a feed;
  *   - [[withStatePartitions]] scopes the state-store conf to one run;
  *   - [[runToMemorySink]] starts, drains (with an optional
  *     between-drains step, e.g. the sentinel publish of
  *     [[runPunctuatedAppend]]) and stops a memory-sink query.
  *
  * Scale: state lives in the state store keyed by `key` (RocksDB on a
  * real cluster); each micro-batch shuffles only that batch's changes.
  */
object CdcStream {

  /** Stateful-stream partition count. `spark.sql.shuffle.partitions`
    * at stream START fixes the state-store count for the life of the
    * checkpoint, and each store pays per-batch commit overhead — so
    * size it to STATE volume, not to the batch shuffle default
    * (measured at sf0.1: stream-stream join 8.5 s @ 32 stores → 4.2 s
    * @ 8; a cluster with large state raises it instead). Bounded
    * runners scope the setting to the streaming query and restore.
    * Env-overridable so deployments (and the SCALING.md sf1
    * measurement) can size it to state volume without a rebuild;
    * validated here so a malformed value fails by NAME, not as an
    * ExceptionInInitializerError at the first streaming query. */
  val StatePartitions: Int = {
    val raw = sys.env.getOrElse("GRAFT_STATE_PARTITIONS", "8")
    val n = raw.toIntOption.getOrElse(throw new IllegalArgumentException(
      s"GRAFT_STATE_PARTITIONS must be a positive int, got '$raw'"))
    require(n > 0, s"GRAFT_STATE_PARTITIONS must be positive, got $n")
    n
  }

  /** Production state-store provider, the scaffold DEFAULT for the
    * KEYED-STATE runners since r11 (r10 verdict task 6: SCALING.md
    * measured RocksDB ~25% faster at 1M-event flatMapGroupsWithState
    * state, and SURVEY §3 names it the production choice). The
    * STREAM-STREAM JOIN runner keeps the HDFS-backed provider: the
    * same r11 measurement pass found the join 2.8× SLOWER under
    * RocksDB at sf1 (5.7 s vs 15.8 s warm) — a symmetric join
    * maintains four stores per side with several gets/puts per input
    * row, and the per-op JNI overhead dominates at this state shape
    * where the keyed runners' one-get-one-put profile does not. Both
    * measurements in SCALING.md round-11; per-runner choice is
    * exactly the tuning a real deployment makes. An EXPLICITLY-set
    * session provider always wins: the conf is only defaulted when
    * absent, so StreamingStateStoreSpec still pins both providers to
    * identical results, and TimeQuery's `k=v` overrides keep
    * working. */
  val RocksProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  val HdfsProvider: String =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
  private val ProviderConf = "spark.sql.streaming.stateStore.providerClass"
  /** RocksDB changelog checkpointing, scaffold-defaulted ON (r16
    * optimization pass): the default full-snapshot mode uploads every
    * store's SST set synchronously inside EVERY micro-batch commit —
    * measured at sf0.1 as ~1/3 of the whole stateful-runner floor
    * (5-runner A/B: 20.6 s full-snapshot vs 13.8 s changelog, same
    * window; sf1 warm-run parity 24.8 vs 24.6 s, so the win is pure
    * per-commit fixed cost, not a small-state artifact). Changelog
    * mode commits the per-batch delta and defers SST snapshots to the
    * background maintenance thread — the documented production
    * trade (faster commits, recovery replays changelog since the last
    * snapshot). Explicit session conf always wins, same contract as
    * the provider default above; recovery-across-restart is re-proven
    * under the flag by StreamRecoverySpec/StreamRecoverySf1. */
  private val ChangelogConf =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  private[cdc] def withStatePartitions[T](s: SparkSession,
      defaultProvider: String = RocksProvider)(f: => T): T =
    // serialized under SessionConfLock: two runners racing the
    // set/restore on one shared session would otherwise restore stale
    // widths or run under each other's state-partition count (r11
    // concurrency audit; ConcurrencySpec races two runners and pins
    // both results + the restored conf)
    graft.SessionConfLock.synchronized {
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      // conf.get(key, fallback) returns the fallback iff the key is not
      // EXPLICITLY set in this session (registered defaults don't count)
      val explicitProvider = s.conf.get(ProviderConf, "")
      val explicitChangelog = s.conf.get(ChangelogConf, "")
      s.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
      if (explicitProvider.isEmpty) s.conf.set(ProviderConf, defaultProvider)
      if (explicitChangelog.isEmpty) s.conf.set(ChangelogConf, "true")
      try f finally {
        s.conf.set("spark.sql.shuffle.partitions", prev)
        if (explicitProvider.isEmpty) s.conf.unset(ProviderConf)
        if (explicitChangelog.isEmpty) s.conf.unset(ChangelogConf)
      }
    }

  /** Shared bounded-run scaffold: start `df` into a uniquely-named
    * memory sink under [[StatePartitions]], drain, stop, and return
    * the sink table. When `betweenDrains` is given it runs after the
    * first drain and is followed by a second one — the end-of-stream
    * punctuation of [[runPunctuatedAppend]]. */
  private[cdc] def runToMemorySink(spark: SparkSession, df: DataFrame,
      mode: OutputMode, prefix: String,
      provider: String = RocksProvider,
      betweenDrains: Option[() => Unit] = None): DataFrame = {
    val name = prefix + java.util.UUID.randomUUID().toString.replace("-", "")
    withStatePartitions(spark, provider) {
      val q = df.writeStream
        .outputMode(mode).format("memory").queryName(name).start()
      try {
        q.processAllAvailable()
        betweenDrains.foreach { step => step(); q.processAllAvailable() }
      } finally q.stop()
    }
    spark.table(name)
  }

  /** Stage `df` as one parquet file per batch and return a stream over
    * them that admits `filesPerTrigger` files per micro-batch. Batch i
    * holds the rows whose `key` lies in (cuts(i-1), cuts(i)] (batch 0
    * has no lower bound); the last batch holds the rest. Null keys are
    * dropped: no cut can place them.
    *
    * All batches are written by ONE job — repartition by the batch tag
    * gives one writer task, and so one file, per batch; sorting by
    * (tag, key) keeps the within-file order deterministic whatever the
    * writer's own sort does. An empty batch writes no partition dir,
    * so it is staged as an empty placeholder file and the stream still
    * sees one file per batch. FileStreamSource admits files in mtime
    * order, so each file's mtime is pinned strictly increasing: batch
    * order is load-bearing for every caller, and one job's files would
    * otherwise tie. The reader is built on `df`'s own schema. */
  private[graft] def stagedStream(df: DataFrame, key: String, cuts: Seq[Long],
      tag: String, filesPerTrigger: Int): DataFrame = {
    val k = col(key)
    val data = df.filter(k.isNotNull)
    val batchOf = cuts.zipWithIndex.foldRight(lit(cuts.size)) {
      case ((cut, i), later) => when(k <= cut, i).otherwise(later)
    }
    val tmp = graft.Scratch.dir(s"graft_${tag}_stage")
    data.withColumn("__b", batchOf)
      .repartition(col("__b"))
      .sortWithinPartitions(col("__b"), k)
      .write.mode("overwrite").partitionBy("__b").parquet(tmp.toString)
    val inDir = graft.Scratch.dir(s"graft_${tag}_in")
    (0 to cuts.size).foreach { i =>
      val written = tmp.resolve(s"__b=$i")
      val src =
        if (java.nio.file.Files.isDirectory(written)) written
        else {
          val e = graft.Scratch.dir(s"graft_${tag}_empty")
          data.limit(0).coalesce(1).write.mode("overwrite").parquet(e.toString)
          e
        }
      val dst = inDir.resolve(f"$i%02d.parquet")
      java.nio.file.Files.move(graft.Scratch.onlyParquet(src), dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 60000L))
    }
    df.sparkSession.readStream.schema(data.schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString)
      .parquet(inDir.toString)
  }

  /** Latest-state upserts via flatMapGroupsWithState (Update mode).
    * Emits the current state of every key touched by the batch; a
    * delete keeps a tombstone in state so late lower-seq changes can't
    * resurrect the row (emitted with op = "d", filtered by the reader). */
  def latestState(changes: Dataset[ChangeRecord]): Dataset[ChangeRecord] = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (_: Long, rows: Iterator[ChangeRecord], state: GroupState[ChangeRecord]) => {
          val best = (state.getOption.iterator ++ rows).maxBy(_.seq)
          state.update(best)
          Iterator.single(best)
        })
  }

  /** Bounded run helper: stream `changes` through [[latestState]] into
    * a memory sink and return the final materialized table (batch-
    * equivalent of [[ApplyChanges.latest]]). */
  def runLatestStateBounded(spark: SparkSession, changes: Dataset[ChangeRecord]): DataFrame = {
    val all = runToMemorySink(spark, latestState(changes).toDF(),
      OutputMode.Update, "graft_upserts_")
    // A key may be emitted once per micro-batch: keep its max-seq row —
    // exactly the batch operator this runner is contracted to equal
    ApplyChanges.latest(all, Seq("key"), Seq("seq"))
  }

  /** Streaming SCD2: per-key state holds the open (current) version;
    * each arriving change closes it (emit with valid_to) and opens a
    * new one. Emissions are keyed (key, seq) so the bounded reader can
    * keep the latest emission per version — the final table must equal
    * the batch [[ApplyChanges.scd2]]. State is one row per live key.
    *
    * Delivery contract (disclosed, r10 review): cross-BATCH late
    * lower-seq changes are joined against the retained newest version
    * only, so a version already emitted closed can keep a stale
    * valid_to if a strictly lower seq for the same key arrives in a
    * LATER micro-batch. Within a batch, order is free. This is the
    * WAL-order guarantee every real CDC transport provides (changes
    * arrive in commit/LSN order per key); the bounded gates feed all
    * data in one batch, where the equality is unconditional. Keeping
    * full per-key version history in state would lift the contract at
    * unbounded state cost. */
  def runScd2Bounded(spark: SparkSession, changes: Dataset[ChangeRecord]): DataFrame = {
    import spark.implicits._
    val versions = changes
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key: Long, rows: Iterator[ChangeRecord], state: GroupState[ChangeRecord]) => {
          val sorted = (state.getOption.iterator ++ rows).toSeq
            .distinctBy(_.seq).sortBy(_.seq)
          if (sorted.isEmpty) Iterator.empty
          else {
            state.update(sorted.last)
            // emit every version with its closing bound (None = open)
            sorted.zip(sorted.drop(1).map(Option(_)) :+ None).iterator.map {
              case (v, next) =>
                (key, v.seq, v.op, v.event_type, v.value, v.tsMicros,
                  next.map(_.tsMicros), next.isEmpty && v.op != "d")
            }
          }
        })
      .toDF("key", "seq", "op", "event_type", "value",
        "valid_from_us", "valid_to_us", "is_current")
    // keep each version's latest emission (a version re-emits when a
    // later batch closes it)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"key", $"seq").orderBy($"valid_to_us".asc_nulls_last)
    runToMemorySink(spark, versions, OutputMode.Update, "graft_scd2_")
      .withColumn("__rn", row_number().over(w))
      .filter($"__rn" === 1).drop("__rn")
  }

  /** Stream-stream inner join with watermarks + time-range condition
    * (the presentation's "streaming joins of change feeds"): signups ⋈
    * purchases by the same user within 1 hour of signup. Both sides
    * carry a watermark so the join state is GC'd once the range
    * condition can no longer match — bounded state at 100 TB. */
  def runStreamJoinBounded(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val signups = events.filter($"event_type" === "signup")
      .select($"user_id", $"ts".as("signup_ts"), $"event_id".as("signup_seq"))
      .withWatermark("signup_ts", "2 hours")
    val purchases = events.filter($"event_type" === "purchase")
      .select($"user_id".as("p_user_id"), $"ts".as("purchase_ts"),
        $"event_id".as("purchase_seq"), $"value".as("purchase_value"))
      .withWatermark("purchase_ts", "2 hours")
    val joined = signups.join(purchases,
      $"user_id" === $"p_user_id" &&
        $"purchase_ts" >= $"signup_ts" &&
        $"purchase_ts" <= $"signup_ts" + expr("INTERVAL 1 HOUR"))
    // HDFS-backed store for the SYMMETRIC join state — measured 2.8×
    // faster than RocksDB at sf1 for this runner (see RocksProvider doc)
    runToMemorySink(spark, joined, OutputMode.Append, "graft_sjoin_",
      HdfsProvider)
  }

  /** Streaming exact dedup on event_id with watermark-bounded state:
    * duplicates arriving within the watermark horizon are dropped, and
    * state for expired event-times is GC'd (unbounded-stream safe,
    * unlike plain dropDuplicates). */
  def runStreamDedupBounded(spark: SparkSession, events: DataFrame): DataFrame =
    runToMemorySink(spark,
      events.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark("event_id"),
      OutputMode.Append, "graft_sdedup_")

  /** One event in the streaming as-of buffer (`ts` carries the
    * watermark; `tsUs` is the exact microsecond join key). */
  case class AsOfEvent(user_id: Long, id: Long, ts: java.sql.Timestamp,
      tsUs: Long, etype: String, value: Option[Double])
  /** Per-user as-of state: the user's in-horizon history. */
  case class AsOfBuf(rows: Seq[AsOfEvent])
  /** Streaming as-of output (LEFT semantics — state side optional). */
  case class AsOfOut(p_id: Long, p_user: Long, s_id: Option[Long],
      s_type: Option[String], s_value: Option[Double])

  /** Streaming AS-OF join via flatMapGroupsWithState + event-time
    * timeout: per user, batches buffer both sides in state; when the
    * watermark passes the group's timeout (end-of-stream punctuation
    * advances it), the group emits every purchase joined to the
    * latest state row at-or-before it (ties by highest id) — the
    * streaming twin of [[graft.plans.AsOfJoinExec]]'s merge-scan, and
    * the same "replay the table as of this position" primitive. The
    * emission itself is the O(n+m) two-pointer merge over the sorted
    * buffers. State is each user's in-horizon history; a production
    * deployment bounds the horizon with the watermark exactly like
    * stream-stream joins (rows behind it can be emitted + dropped). */
  def streamAsOf(events: Dataset[AsOfEvent]): Dataset[AsOfOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (uid: Long, rows: Iterator[AsOfEvent], state: GroupState[AsOfBuf]) => {
          if (state.hasTimedOut) {
            val all = state.get.rows
            state.remove()
            val st = all.filter(_.etype != "purchase")
              .sortBy(r => (r.tsUs, r.id))
            val probes = all.filter(_.etype == "purchase")
              .sortBy(r => (r.tsUs, r.id))
            var i = 0
            var best: Option[AsOfEvent] = None
            probes.iterator.map { p =>
              while (i < st.length && st(i).tsUs <= p.tsUs) {
                // ascending (ts, id) scan keeps the tie rule: latest
                // ts wins, then highest id
                best = Some(st(i)); i += 1
              }
              AsOfOut(p.id, uid, best.map(_.id), best.map(_.etype),
                best.flatMap(_.value))
            }
          } else {
            state.update(AsOfBuf(
              state.getOption.map(_.rows).getOrElse(Seq.empty) ++ rows))
            // fire once the watermark moves past everything seen so far
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)
            Iterator.empty
          }
        })
  }

  /** Min `ts` in MICROS from the parquet FOOTER statistics of every
    * data file under `path` — column-chunk min/max answer the guard's
    * question from metadata on the driver, with no Spark job. Returns
    * None when the footers cannot answer and the caller must scan:
    * a chunk lacks trustworthy stats, the feed dir is nested or
    * partitioned (its data files sit below the top level), or a file
    * stores `ts` in a unit other than the declared type's. Some(None)
    * for an empty/all-null feed; Some(Some(micros)) otherwise. The unit
    * rule mirrors [[graft.Tables.eventTsMicros]]: a LongType feed is
    * plain int64 nanos (div 1000); a timestamp type must be annotated
    * TIMESTAMP(MICROS). */
  private def minTsMicrosFromFooters(spark: SparkSession, path: String,
      tsType: org.apache.spark.sql.types.DataType): Option[Option[Long]] = try {
    import org.apache.parquet.schema.{LogicalTypeAnnotation => LTA}
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val entries =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).toSeq.filterNot { st =>
          val n = st.getPath.getName
          n.startsWith(".") || n.startsWith("_")
        }
      else Seq(fs.getFileStatus(p))
    if (entries.exists(_.isDirectory)) None
    else {
      var min: Option[Long] = None
      var trusted = true
      entries.map(_.getPath).filter(_.getName.endsWith(".parquet")).foreach { f =>
        val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
        try {
          val footer = rdr.getFooter
          val unit = footer.getFileMetaData.getSchema.getFields.asScala
            .find(_.getName == "ts").map(_.getLogicalTypeAnnotation).orNull
          val toMicros: Option[Long => Long] = (tsType, unit) match {
            case (LongType, null) => Some(_ / 1000) // raw nanos feed (legacy read)
            case (LongType, _) => None
            case (_, t: LTA.TimestampLogicalTypeAnnotation)
                if t.getUnit == LTA.TimeUnit.MICROS => Some(identity)
            case _ => None
          }
          if (toMicros.isEmpty) trusted = false
          footer.getBlocks.forEach { b =>
            if (trusted && b.getRowCount > 0) {
              val col = b.getColumns.asScala
                .find(_.getPath.toDotString == "ts").orNull
              val st = if (col == null) null else col.getStatistics
              if (st != null && st.hasNonNullValue) {
                val v = toMicros.get(
                  st.genericGetMin.asInstanceOf[java.lang.Long].longValue())
                min = Some(min.fold(v)(math.min(_, v)))
              } else if (st == null || !st.isNumNullsSet ||
                  st.getNumNulls < b.getRowCount) {
                // stats absent (vs a genuinely all-null chunk) — the
                // metadata cannot answer; the caller must scan
                trusted = false
              }
            }
          }
        } finally rdr.close()
      }
      if (trusted) Some(min) else None
    }
  } catch { case _: Exception => None }

  /** 2000-01-01T00:00:00Z in epoch micros — the sanity floor. */
  private val Year2000Micros = 946684800000000L

  /** Guard against the silent unit-scale failure class: a feed whose
    * declared schema misreads the on-disk int64 (nanos vs micros)
    * yields event-times around 1970, and every window/join collapses
    * while row counts stay plausible. Require the feed's min event-time
    * under the declared schema + normalization to be post-2000, read
    * from the footers when they can answer, else by a batch scan — it
    * turns silent garbage into a named failure. */
  private[cdc] def assertEventTimeSane(spark: SparkSession, path: String,
      schema: StructType): Unit = {
    val tsType = schema("ts").dataType
    // null/absent min ⇒ the feed is EMPTY (or all-null ts) — a
    // legitimate state (fresh CDC slot, filtered-to-nothing
    // partition), not a unit mismatch: let it flow through to an empty
    // result (r11 empty-input sweep; the old guard blamed "ts
    // unit/schema mismatch" for an empty feed)
    val minMicros: Option[Long] = minTsMicrosFromFooters(spark, path, tsType)
      .getOrElse {
        // fallback: footer stats unavailable — the original r8 agg
        val batch = spark.read.schema(schema).parquet(path)
        val minTs = batch
          .agg(min(graft.Tables.eventTs(tsType)).as("min_ts"))
          .head.getTimestamp(0)
        Option(minTs).map(t => t.getTime * 1000 + t.getNanos / 1000 % 1000)
      }
    require(minMicros.forall(_ > Year2000Micros),
      s"event feed at $path has min event-time " +
        minMicros.map(us => java.time.Instant.EPOCH
          .plus(us, java.time.temporal.ChronoUnit.MICROS).toString).orNull +
        " (pre-2000) — ts unit/schema mismatch; see Tables.eventTsMicros")
  }

  /** Publish the 1-row end-of-stream sentinel parquet at `dst`, written
    * with parquet-java (a constant row needs no Spark write job). The
    * ts column carries the FEED's physical representation: plain int64
    * nanos for a LongType feed, TIMESTAMP(MICROS) with the matching
    * isAdjustedToUTC flag for the timestamp feeds — so the declared read
    * schema decodes it like a Spark-written row. `dst` may sit in a live
    * FileStreamSource dir, whose background trigger would pick up a
    * half-written file: the bytes go to a dot-prefixed name the source
    * ignores, and one atomic rename publishes the finished file. */
  private[cdc] def writeSentinelFile(dst: java.nio.file.Path,
      tsType: org.apache.spark.sql.types.DataType): Unit = {
    import org.apache.parquet.schema.{MessageType, Types}
    import org.apache.parquet.schema.{LogicalTypeAnnotation => LTA}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val tsField = tsType match {
      case LongType => Types.required(INT64).named("ts")
      case TimestampNTZType => Types.required(INT64)
        .as(LTA.timestampType(false, LTA.TimeUnit.MICROS)).named("ts")
      case _ => Types.required(INT64)
        .as(LTA.timestampType(true, LTA.TimeUnit.MICROS)).named("ts")
    }
    val schema = new MessageType("spark_schema",
      Types.required(INT64).named("event_id"),
      tsField,
      Types.required(INT64).named("user_id"),
      Types.required(BINARY).as(LTA.stringType()).named("event_type"),
      Types.required(DOUBLE).named("value"),
      Types.required(BINARY).as(LTA.stringType()).named("props"))
    val conf = new org.apache.hadoop.conf.Configuration()
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(schema, conf)
    val tmp = dst.resolveSibling("." + dst.getFileName)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(new org.apache.hadoop.fs.Path(tmp.toUri), conf))
      .withConf(conf)
      .build()
    val g = new org.apache.parquet.example.data.simple.SimpleGroup(schema)
    g.add("event_id", -1L)
    g.add("ts", tsType match {
      case LongType => 4102444800000000000L // 2100-01-01 in nanos
      case _ => 4102444800000000L // 2100-01-01 in micros
    })
    g.add("user_id", -1L)
    g.add("event_type", "sentinel")
    g.add("value", 0.0)
    g.add("props", "{}")
    try w.write(g) finally w.close()
    java.nio.file.Files.move(tmp, dst, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Run a watermarked APPEND-mode streaming aggregation over the
    * events file with end-of-stream punctuation: the events parquet is
    * batch 1; a far-future sentinel event (user −1, year 2100) arrives
    * as batch 2 and advances the watermark past every real window, so
    * append mode finalizes and emits each window exactly once. This is
    * the unbounded-safe pattern (state bounded by the watermark, no
    * per-batch full-result rewrite); a real CDC feed closes windows the
    * same way via source heartbeats. `build` receives the event stream
    * (event_id, ts, user_id, event_type, value, props) with `ts`
    * already normalized to TIMESTAMP micros ([[graft.Tables.eventTs]]);
    * callers filter the sentinel out of the result. */
  def runPunctuatedAppend(spark: SparkSession, dir: String)
      (build: DataFrame => DataFrame): DataFrame = {
    val schema = graft.Tables.eventsSchema(spark, dir)
    val tsType = schema("ts").dataType
    val inDir = graft.Scratch.dir("graft_punct_in")
    // events.parquet may be one file (driver test data) or a directory
    // of part files (ScaleUp replicas) — stage every data file first.
    // Staged via HARDLINK where the filesystem allows (a bench JVM
    // calls this per punctuated query per run — full copies of an sf1
    // feed accumulated gigabytes in scratch before the exit hook;
    // r10 review finding), falling back to copy across filesystems.
    //
    // ALL data files must land in ONE micro-batch (no
    // maxFilesPerTrigger): part files are not time-ordered (ScaleUp
    // replicas are round-robin repartitioned, every part spans the
    // full event-time range), so a file-per-batch read advances the
    // watermark to max−delay after the FIRST part and every later
    // part's rows are silently dropped as late by the watermarked
    // aggregation — measured at sf1: the A24 as-of emitted 12,874 of
    // ~19,810 expected rows under file-per-batch staging, while the
    // single-file gates (sf0.001–0.1) never exercised the path (the
    // r8 silent-garbage class again; caught by the r10 review, pinned
    // by CdcStreamSpec's out-of-order two-part feed). The sentinel
    // still arrives in its OWN later batch — it is moved in only
    // after the first processAllAvailable() has drained the data —
    // so watermark punctuation and APPEND finalization are unchanged.
    val src = java.nio.file.Paths.get(dir, "events.parquet")
    def stage(p: java.nio.file.Path, to: String): Unit = {
      val dst = inDir.resolve(to)
      try java.nio.file.Files.createLink(dst, p)
      catch { case _: Exception => java.nio.file.Files.copy(p, dst); () }
    }
    if (java.nio.file.Files.isDirectory(src)) {
      val listing = java.nio.file.Files.list(src)
      val parts =
        try listing.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
          .sortBy(_.getFileName.toString)
        finally listing.close()
      parts.zipWithIndex.foreach { case (p, i) =>
        stage(p, f"0${i}%05d_events.parquet")
      }
    } else {
      stage(src, "000000_events.parquet")
    }
    assertEventTimeSane(spark, inDir.toString, schema)
    val agg = build(spark.readStream.schema(schema)
      .parquet(inDir.toString)
      .withColumn("ts", graft.Tables.eventTs(tsType)))
    // sentinel ts carries the FILE's representation (2100-01-01)
    runToMemorySink(spark, agg, OutputMode.Append, "graft_punct_",
      betweenDrains = Some(() =>
        writeSentinelFile(inDir.resolve("01_sentinel.parquet"), tsType)))
  }

  /** Streaming tumbling-window aggregate (1h) per event_type:
    * watermark + APPEND mode with end-of-stream punctuation
    * ([[runPunctuatedAppend]]) — each window is emitted once when the
    * watermark passes it, state is GC'd behind the watermark. The
    * bounded result equals the batch oracle because the sentinel
    * finalizes every real window. */
  def runWindowedBounded(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    runPunctuatedAppend(spark, dir) { raw =>
      raw.select($"ts", $"event_type", $"value")
        .withWatermark("ts", "1 hour")
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n_events"),
          (floor(sum($"value") * 100 + 0.5) / 100).as("total_value"))
    }
      // null-SAFE sentinel drop: a NULL event_type is a real group in
      // a dirty feed; `=!= "sentinel"` alone silently swallows it
      .filter($"event_type".isNull || $"event_type" =!= "sentinel")
      .select(date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        $"event_type", $"n_events", $"total_value")
  }
}
