package perfbench

/** The benchmark's three workloads over `graft.SparkEntry.queries`, each
  * a fixed list of queries that reaches every layer the workload is
  * meant to load:
  *  - `cdc_stream`: queries that run a Structured Streaming query to
  *    completion;
  *  - `analytics`: short relational and batch `cdc_*` queries;
  *  - `corpus`: training-data queries (dedup, text, embeddings, ANN,
  *    multimodal).
  *
  * A pass over a whole query class costs 40–180 s at 4 cores, mostly
  * per-query fixed cost, and the benchmark has to fit 22 runs per
  * workload and two builds into an hour; so each workload is a sample of
  * its class, not the class. The wire decoders of `cdc_replication_source`
  * are timed in analytics (`cdc_pgoutput_decode`) instead, and the
  * costlier `mm_phash_neardup` is left for `mm_dedup`.
  */
object Workloads {
  val members: Map[String, Seq[String]] = Map(
    // the kafkalog source, the change-event files over the v2 framed-file
    // source (debezium), the versioned sink (time travel), the
    // bucket-partitioned sink and its compaction, and the streaming
    // near-dup index that shares Dedup/HashOps with corpus
    "cdc_stream" -> Seq("cdc_kafka_stream", "cdc_debezium_stream", "cdc_time_travel",
      "cdc_compaction", "pipeline_stream_neardup"),
    // short plans: a five-way join, two sketch aggregates, the as-of
    // rule, wire decode and change application
    "analytics" -> Seq("q5_region_revenue", "q_heavy_hitters", "q_topk_per_group",
      "cdc_asof_join", "cdc_pgoutput_decode", "cdc_latest_state"),
    // the minhash LSH self-join, brute-force ANN (cosine), IVF-PQ (the
    // PqOps kernels), multimodal content dedup, tokenizing
    "corpus" -> Seq("dedup_minhash_lsh", "ann_bruteforce", "ann_ivf_pq", "mm_dedup",
      "text_tokens"))

  /** The ordered query list of one pass: name order for seed 0, a
    * seed-keyed permutation otherwise. */
  def queries(workload: String, seed: Long): Seq[String] = {
    val names = members.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload '$workload'"))
    val registry = graft.SparkEntry.queries.keySet
    names.foreach(q => require(registry(q), s"query '$q' is not registered"))
    val ordered = names.sorted
    if (seed == 0) ordered else new scala.util.Random(seed).shuffle(ordered)
  }
}
