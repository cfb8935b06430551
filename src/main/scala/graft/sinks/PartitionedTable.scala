package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.cdc.ChangeRecord

/** Bucket-partitioned incremental upsert sink — the compaction/scale
  * upgrade path [[MaterializedTable]]'s Scaladoc promises: instead of
  * rewriting the whole table every micro-batch, keys hash into
  * `buckets` partitions and a batch rewrites ONLY the buckets its keys
  * touch; untouched buckets carry forward by reference.
  *
  * Layout (a minimal log-structured table format, the pattern
  * Iceberg/Delta formalize):
  * {{{
  *   table/_LATEST              name of the current manifest (the only
  *                              mutable file; flipped atomically via
  *                              FileContext OVERWRITE rename)
  *   table/m{batch}_{ts}        immutable manifest: "<bucket>\t<dir>"
  *                              per line — bucket → version dir
  *   table/v{batch}_{ts}/__b=K/ immutable parquet, one dir per bucket
  * }}}
  * Readers resolve pointer → manifest → bucket dirs, so they see one
  * consistent version end-to-end (MVCC); old manifests remain valid
  * snapshots until vacuumed.
  *
  * 100 TB: per batch, write cost ∝ size of touched buckets, not table
  * size — with enough buckets that approaches the change volume, which
  * is the whole point of incremental materialization. The same bucket
  * function co-locates the upsert window's shuffle and any downstream
  * key-equi join (bucket-join without an exchange).
  *
  * [[compact]] is the maintenance pass: drops delete tombstones at or
  * below an acked sequence horizon (safe exactly when the ingest
  * guarantees no change ≤ horizon can still arrive — the LSN-ack
  * contract of A19's resume bookkeeping) and merges each bucket's
  * accumulated files back to ~one, under a fresh manifest.
  */
object PartitionedTable {

  import MaterializedTable.{fs, latestWithTombstones, readPointer, readSmallFile, writePointer}

  private def bucketCol(buckets: Int) = pmod(hash(col("key")), lit(buckets))

  /** Parse a manifest body: header line `buckets\t<N>` (the persisted
    * layout contract — see [[requireBuckets]]) + `<bucket>\t<dir>`
    * rows. The header is optional on read so pre-header tables still
    * open (they just skip the layout check). */
  private def parseManifest(text: String): (Option[Int], Map[Int, String]) = {
    val lines = text.linesIterator.filter(_.nonEmpty).toSeq
    val declared = lines.collectFirst {
      case l if l.startsWith("buckets\t") => l.split('\t')(1).toInt
    }
    val entries = lines.filterNot(_.startsWith("buckets\t")).map { l =>
      val Array(b, v) = l.split('\t'); b.toInt -> v
    }.toMap
    (declared, entries)
  }

  private def readManifestNamed(s: SparkSession, table: String,
      name: String): (Option[Int], Map[Int, String]) =
    parseManifest(readSmallFile(fs(s, table), new Path(table, name)))

  /** bucket → version-dir map of the current manifest (empty if none). */
  def readManifest(s: SparkSession, table: String): Map[Int, String] =
    readPointer(s, table) match {
      case None => Map.empty
      case Some(m) => readManifestNamed(s, table, m)._2
    }

  /** The layout's persisted bucket count, if a manifest exists. */
  def declaredBuckets(s: SparkSession, table: String): Option[Int] =
    readPointer(s, table).flatMap(m => readManifestNamed(s, table, m)._1)

  /** FAIL FAST when a caller's bucket count disagrees with the one the
    * table was written with: `pmod(hash(key), buckets)` routes keys,
    * so a mismatched count silently splits a key's history across two
    * buckets — the upsert window then never sees the key's prior row
    * and readLatest returns DUPLICATE rows per key (r10 review
    * finding). The count is persisted in every manifest header. */
  private def requireBuckets(s: SparkSession, table: String, buckets: Int): Unit =
    declaredBuckets(s, table).foreach { d =>
      if (d != buckets) throw new IllegalArgumentException(
        s"$table was written with buckets=$d but caller passed buckets=$buckets — " +
          "a mismatched bucket count splits keys across buckets and corrupts upserts")
    }

  private def writeManifest(s: SparkSession, table: String, name: String,
      manifest: Map[Int, String], buckets: Int): Unit = {
    val f = fs(s, table)
    val body = (s"buckets\t$buckets" +:
      manifest.toSeq.sorted.map { case (b, v) => s"$b\t$v" })
      .mkString("\n")
    val out = f.create(new Path(table, name), true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    writePointer(s, table, name) // manifests immutable; pointer flips
  }

  private def bucketPaths(table: String, m: Map[Int, String]): Seq[String] =
    m.toSeq.sorted.map { case (b, v) => s"$table/$v/__b=$b" }

  /** Current table state incl. tombstones (None before first batch).
    * `__b` is recomputed from the key (partition-dir reads drop the
    * partition column). */
  def readSnapshot(s: SparkSession, table: String, buckets: Int): Option[DataFrame] = {
    requireBuckets(s, table, buckets)
    val m = readManifest(s, table)
    if (m.isEmpty) None
    else Some(s.read.parquet(bucketPaths(table, m): _*)
      .withColumn("__b", bucketCol(buckets)))
  }

  /** Current materialized state (tombstones filtered, bucket dropped). */
  def readLatest(s: SparkSession, table: String, buckets: Int): DataFrame =
    readSnapshot(s, table, buckets)
      .map(_.filter(col("op") =!= "d").drop("__b"))
      .getOrElse(throw new IllegalStateException(s"no snapshot at $table"))

  /** Streaming upsert sink; each micro-batch rewrites touched buckets
    * only and republishes the manifest. */
  def upsertSink(changes: Dataset[ChangeRecord], table: String,
      checkpoint: String, buckets: Int): StreamingQuery = {
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[ChangeRecord], batchId: Long) =>
        val s = batch.sparkSession
        requireBuckets(s, table, buckets)
        // persisted: the touched-bucket collect AND the snapshot write
        // both act on the micro-batch — unpersisted, a file-backed
        // source would re-read and re-parse its segments twice per
        // batch (r10 review finding)
        val b = batch.toDF().withColumn("__b", bucketCol(buckets)).persist()
        try {
          // the touched-bucket list is ≤ `buckets` ints — a bounded
          // driver-side manifest decision, not per-row driver work
          val touched = b.select("__b").distinct()
            .collect().map(_.getInt(0)).sorted
          val manifest = readManifest(s, table)
          val priorPaths = touched
            .flatMap(p => manifest.get(p).map(v => s"$table/$v/__b=$p"))
          val prior =
            if (priorPaths.isEmpty) None
            else Some(s.read.parquet(priorPaths.toIndexedSeq: _*)
              .withColumn("__b", bucketCol(buckets)))
          val all = prior.map(_.unionByName(b)).getOrElse(b)
          val version = s"v${batchId}_${System.currentTimeMillis()}"
          // task-per-bucket write (r17, guide §6): latestWithTombstones
          // leaves the frame hash-partitioned by KEY, so a bare
          // partitionBy("__b") fans every task across every touched
          // bucket dir — tasks × buckets small files per batch, and the
          // NEXT batch's prior read (plus compact's snapshot read) pays
          // the listing + per-file open bill. One extra exchange of the
          // final (key-latest) rows clusters each bucket into one file.
          // sortWithinPartitions keeps within-file order deterministic;
          // the partition column leads the sort so the writer's own
          // partitionBy sort is already satisfied and cannot reorder
          // (the CdcStream.stagedStream convention).
          latestWithTombstones(all)
            .repartition(col("__b"))
            .sortWithinPartitions(col("__b"), col("key"), col("seq"))
            .write.partitionBy("__b")
            .mode("overwrite").parquet(s"$table/$version")
          writeManifest(s, table, s"m${batchId}_${System.currentTimeMillis()}",
            manifest ++ touched.map(_ -> version), buckets)
        } finally b.unpersist()
        ()
      }
      .start()
  }

  /** Maintenance compaction: drop tombstones with seq ≤ `horizon`
    * (the acked replication position — nothing at or below it can
    * still arrive), merge every bucket back to ~one file, publish a
    * fresh manifest. Returns the new version dir name. */
  def compact(s: SparkSession, table: String, buckets: Int,
      horizon: Long): String = {
    val snap = readSnapshot(s, table, buckets)
      .getOrElse(throw new IllegalStateException(s"no snapshot at $table"))
    val kept = snap.filter(!(col("op") === "d" && col("seq") <= horizon))
    val version = s"vc_${System.currentTimeMillis()}"
    if (kept.isEmpty) {
      // every surviving row was a GC-able tombstone: partitionBy writes
      // no data files for an empty frame (read-back would fail schema
      // inference) and an empty manifest reads as "no snapshot". Publish
      // one schema-bearing empty bucket instead, so readLatest returns a
      // legitimately empty table.
      kept.drop("__b").repartition(1)
        .write.mode("overwrite").parquet(s"$table/$version/__b=0")
      writeManifest(s, table, s"mc_${System.currentTimeMillis()}",
        Map(0 -> version), buckets)
    } else {
      kept.repartition(buckets, col("__b")).write.partitionBy("__b")
        .mode("overwrite").parquet(s"$table/$version")
      // manifest lists only buckets that still hold rows (a bucket whose
      // every row was a dropped tombstone writes no dir). The written
      // partition DIRS name those buckets exactly — a filesystem listing
      // replaces the r16 form's full parquet re-read of the new version
      // (one table-sized read job per compact saved; guide §1.2).
      val present = fs(s, table)
        .listStatus(new Path(s"$table/$version")).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("__b="))
        .map(_.getPath.getName.stripPrefix("__b=").toInt)
      writeManifest(s, table, s"mc_${System.currentTimeMillis()}",
        present.map(_ -> version).toMap, buckets)
    }
    version
  }

  /** Manifest-aware vacuum — the maintenance pass
    * [[MaterializedTable.vacuum]] refuses to run on this layout:
    * keeps the `keep` most recent manifests (plus the pointer target)
    * and EVERY version dir any kept manifest references — untouched
    * buckets point at old version dirs by design, so "keep the newest
    * version dirs" would delete data the current manifest still
    * reads. Deletes older manifests and unreferenced version dirs;
    * returns the deleted names. */
  def vacuum(s: SparkSession, table: String, keep: Int = 2): Seq[String] = {
    val f = fs(s, table)
    val entries = f.listStatus(new Path(table)).toSeq
    val manifests = entries
      .filter(st => st.isFile && st.getPath.getName.startsWith("m"))
      .map(_.getPath.getName)
      .sortBy(m => MaterializedTable.versionKey(m)) // m{batch}_{ts}: same shape
    val keptManifests =
      (manifests.takeRight(keep) ++ readPointer(s, table).toSeq).distinct
    val referenced = keptManifests
      .flatMap(m => readManifestNamed(s, table, m)._2.values).toSet
    val doomedV = entries
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v"))
      .map(_.getPath.getName)
      .filterNot(referenced)
    val doomedM = manifests.filterNot(keptManifests.contains)
    val doomed = doomedV ++ doomedM
    doomed.foreach(n => f.delete(new Path(table, n), true))
    doomed
  }
}
