package graft.examples

import org.apache.spark.sql.SparkSession

import graft.cdc.CdcQueries
import graft.sinks.MaterializedTable

/** End-to-end example: consume the events table as a bounded change
  * stream and maintain a materialized latest-state parquet table with
  * the snapshot/pointer upsert sink.
  *
  *   runMain graft.examples.MaterializeEvents <sfDir> <tableDir> <ckptDir>
  */
object MaterializeEvents {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, tableDir, ckptDir) = args.take(3)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[8]"))
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // the registered streaming queries' feed read: either events
    // layout, well-formed rows only, event-time guarded
    val changes = CdcQueries.changeStream(spark, sfDir)

    val q = MaterializedTable.upsertSink(changes, tableDir, ckptDir)
    try q.processAllAvailable() finally q.stop()

    val state = MaterializedTable.readLatest(spark, tableDir)
    println(s"MATERIALIZED rows=${state.count()} " +
      s"tombstones=${MaterializedTable.readSnapshot(spark, tableDir).get
        .filter($"op" === "d").count()}")
    state.orderBy($"key").show(5)
    spark.stop()
  }
}
