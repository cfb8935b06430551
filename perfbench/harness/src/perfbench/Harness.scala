package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark process: build the session, run the workload once as
  * set-up, then time closed-loop passes over the workload for the
  * requested seconds and write one JSON record. `run.py` drives it and
  * derives the metrics; arguments are `key=value` pairs:
  *
  *   workload, seed, inputs, dump, cached, out, seconds, trace (0|1),
  *   cores, launch_ms, warehouse
  *
  * Unless every query is among the comma-separated `cached` ones (those
  * with a verified expected hash), set-up also writes every result to
  * `dump` for the oracle check; the record holds the time that took, so
  * set-up can leave it out.
  */
object Harness {
  private val t0Ns = System.nanoTime()
  private def relNs: Long = System.nanoTime() - t0Ns

  final case class Span(name: String, start: Long, end: Long, parent: String)
  final case class Call(query: String, spans: Seq[Span], hash: Option[(Long, Long)],
      error: Option[String], layers: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val inputs = a("inputs")
    val dump = a("dump")
    val cached = a("cached").split(",").toSet
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val queries = Workloads.queries(workload, seed)
    val registry = graft.SparkEntry.queries

    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", a("warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis()
    val heap = new HeapMonitor

    // Set-up: the first call of every query pays class loading and code
    // generation; its result is hashed exactly as the timed passes hash
    // it. One release at the end.
    val dumped = !queries.forall(cached)
    val (warm, dumpMs) = {
      val calls = queries.map { q =>
        val s0 = relNs
        val (df, hash, error) =
          try {
            val df = registry(q)(spark, inputs)
            (Some(df), Some(contentHash(df)), None)
          } catch { case NonFatal(e) => (None, None, Some(describe(e))) }
        (q, df, hash, error, (relNs - s0) / 1e6)
      }
      // The oracle dump is the benchmark's own work: written after all
      // set-up calls (so they run alike with and without it) and timed.
      val d0 = relNs
      if (dumped) {
        calls.foreach { case (q, df, _, _, _) =>
          df.foreach(d => try d.write.mode("overwrite").parquet(s"$dump/$q") catch { case NonFatal(_) => () })
        }
        writeOracles(dump, queries)
      }
      (calls.map { case (q, _, h, e, ms) => (q, h, e, ms) }, (relNs - d0) / 1e6)
    }
    graft.GraftSession.release(spark)
    val setupEndMs = System.currentTimeMillis()

    // the drift canaries cost ~10 s at 4 cores, so only traced runs take them
    val (canaryScanMs, canaryShuffleMs) =
      if (traced) (graft.tools.DriftCanary.run(spark) * 1000, graft.tools.DriftCanary.runJoin(spark) * 1000)
      else (Double.NaN, Double.NaN)

    val tracer = new Tracer(spark)
    val passes = ArrayBuffer.empty[String]
    val start = System.nanoTime()
    heap.takePeak()
    // At least one pass, more while another one is expected to end
    // within the requested seconds. A traced run alternates traced and
    // untraced passes, at least traced-untraced, so one record holds both
    // sides of trace.overhead_ratio; the traced pass goes first so that
    // it is not the warmer one.
    def elapsed = (System.nanoTime() - start) / 1e9
    while (passes.size < (if (traced) 2 else 1) ||
        elapsed * (passes.size + 1) / passes.size <= seconds) {
      val tracing = traced && passes.size % 2 == 0
      if (tracing) {
        tracer.unattributed = new Counters
        tracer.attach()
        heap.tracer = tracer
      }
      val p0 = relNs
      val calls = queries.map(q => call(spark, q, registry(q), inputs, if (tracing) Some(tracer) else None))
      val p1 = relNs
      if (tracing) {
        heap.tracer = null
        tracer.detach()
      }
      passes += Json.obj(
        "traced" -> Json.bool(tracing),
        "start_ns" -> p0.toString, "end_ns" -> p1.toString,
        "heap_peak_live_bytes" -> heap.takePeak().toString,
        "unattributed" -> Json.nums(if (tracing) tracer.unattributed.snapshot else Map.empty),
        "calls" -> Json.arr(calls.map(callJson)))
    }
    val kernels = if (traced) Kernels.run(spark, inputs) else Map.empty[String, Double]
    heap.close()

    val record = Json.obj(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString, "cores" -> cores.toString,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory.toString,
      "trace" -> Json.bool(traced),
      "spark_version" -> Json.str(spark.version),
      "launch_ms" -> a("launch_ms"), "main_ms" -> mainMs.toString,
      "session_ms" -> sessionMs.toString, "setup_end_ms" -> setupEndMs.toString,
      "dumped" -> Json.bool(dumped), "dump_ms" -> Json.num(dumpMs),
      "queries" -> Json.arr(queries.map(Json.str)),
      "canary_scan_ms" -> Json.num(canaryScanMs),
      "canary_shuffle_ms" -> Json.num(canaryShuffleMs),
      "warm" -> Json.arr(warm.map { case (q, h, e, ms) =>
        Json.obj("query" -> Json.str(q), "hash" -> hashJson(h),
          "error" -> e.map(Json.str).getOrElse("null"), "ms" -> Json.num(ms))
      }),
      "passes" -> Json.arr(passes.toSeq),
      "kernels" -> Json.nums(kernels))
    Files.write(Paths.get(a("out")), record.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Order-insensitive content hash over all columns (the
    * DeterminismSweep form): row count and the sum of per-row xxhash64
    * over every column cast to string. */
  def hashFrame(df: DataFrame): DataFrame =
    df.select(xxhash64(df.columns.map(c => col(c).cast("string")).toSeq: _*).as("h"))
      .agg(count(lit(1)), sum((col("h") % 1000000007L).cast("long")))

  def contentHash(df: DataFrame): (Long, Long) = readHash(hashFrame(df))

  private def readHash(h: DataFrame): (Long, Long) = {
    val r = h.collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** One closed-loop call: build (the query function), plan (the
    * consuming query's physical plan), consume (execute it to the
    * content hash), release; in a traced pass also the listener-bus
    * drain that completes the call's attribution. */
  private def call(spark: SparkSession, q: String, fn: (SparkSession, String) => DataFrame,
      inputs: String, tracer: Option[Tracer]): Call = {
    val counters = new Counters
    tracer.foreach(_.current = counters)
    var error: Option[String] = None
    def guarded[T](body: => T): Option[T] =
      if (error.nonEmpty) None
      else try Some(body) catch { case NonFatal(e) => error = Some(describe(e)); None }
    val s0 = relNs
    val df = guarded(fn(spark, inputs))
    val s1 = relNs
    val h = df.flatMap(d => guarded { val h = hashFrame(d); h.queryExecution.executedPlan; h })
    val s2 = relNs
    val hash = h.flatMap(f => guarded(readHash(f)))
    val s3 = relNs
    try graft.GraftSession.release(spark)
    catch { case NonFatal(e) => if (error.isEmpty) error = Some("release: " + describe(e)) }
    val s4 = relNs
    val s5 = tracer.fold(s4) { t =>
      org.apache.spark.perfbench.ListenerBusDrain.drain(spark.sparkContext)
      t.current = null
      relNs
    }
    val spans = Seq(Span("query", s0, s5, ""), Span("build", s0, s1, "query"),
      Span("plan", s1, s2, "query"), Span("consume", s2, s3, "query"),
      Span("release", s3, s4, "query")) ++
      (if (tracer.nonEmpty) Seq(Span("drain", s4, s5, "query")) else Nil)
    Call(q, spans, hash, error, counters.snapshot)
  }

  private def callJson(c: Call): String = Json.obj(
    "query" -> Json.str(c.query),
    "spans" -> Json.arr(c.spans.map(s => Json.obj("name" -> Json.str(s.name),
      "start_ns" -> s.start.toString, "end_ns" -> s.end.toString,
      "parent" -> (if (s.parent.isEmpty) "null" else Json.str(s.parent)),
      "query" -> Json.str(c.query)))),
    "hash" -> hashJson(c.hash),
    "error" -> c.error.map(Json.str).getOrElse("null"),
    "layers" -> Json.nums(c.layers))

  private def hashJson(h: Option[(Long, Long)]): String =
    h.map { case (n, s) => Json.arr(Seq(n.toString, s.toString)) }.getOrElse("null")

  private def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(400)}"

  private def writeOracles(dump: String, queries: Seq[String]): Unit = {
    val oracles = graft.SparkEntry.oracleSql
    val body = queries.flatMap(q => oracles.get(q).map(sql => Json.str(q) + ":" + Json.str(sql)))
    Files.createDirectories(Paths.get(dump))
    Files.write(Paths.get(s"$dump/oracle_sql.json"),
      body.mkString("{", ",", "}").getBytes(StandardCharsets.UTF_8))
  }
}

/** Just enough JSON writing for the record (values are pre-rendered). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def nums(m: Map[String, Double]): String = obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }: _*)
}
