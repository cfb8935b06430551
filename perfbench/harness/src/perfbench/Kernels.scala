package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Per-row cost of the codegen kernels, called directly (no Spark job):
  * `HashOps.minhashSig`, `HashOps.simhash64`, `HashOps.cosine` and the
  * pgoutput wire decoder, over rows built from the run's own inputs. */
object Kernels {
  @volatile private var sink = 0L

  def run(spark: SparkSession, dir: String): Map[String, Double] = {
    val texts = spark.read.parquet(s"$dir/documents.parquet").select("text")
      .collect().map(r => Option(r.getString(0)).getOrElse(""))
    val words = texts.map(_.split(" ").filter(_.nonEmpty))
    val tokens: Array[ArrayData] =
      words.map(w => new GenericArrayData(w.map(UTF8String.fromString).toArray[Any]))
    val shingles: Array[ArrayData] = words.map { w =>
      new GenericArrayData(w.sliding(5).map(s => UTF8String.fromString(s.mkString(" "))).toArray[Any])
    }
    val vecs: Array[ArrayData] = spark.read.parquet(s"$dir/embeddings.parquet").select("embedding")
      .collect().map(r => new GenericArrayData(r.getSeq[Float](0).map(_.toDouble).toArray[Any]))
    val frames: Array[Array[Byte]] = graft.Tables.events(spark, dir)
      .select("event_id", "user_id", "event_type", "value").collect().map { r =>
        graft.cdc.PgOutput.encode(graft.cdc.PgOutput.Insert(16384,
          Seq(Some(r.getLong(0).toString), Some(r.getLong(1).toString),
            Option(r.getString(2)), if (r.isNullAt(3)) None else Some(r.getDouble(3).toString))))
      }
    Map(
      "kernel.minhash_sig_ns_per_row" -> nsPerRow(shingles.length) { i =>
        sink += graft.functions.HashOps.minhashSig(shingles(i), 128).getLong(0)
      },
      "kernel.simhash64_ns_per_row" -> nsPerRow(tokens.length) { i =>
        sink += graft.functions.HashOps.simhash64(tokens(i))
      },
      "kernel.cosine_ns_per_row" -> nsPerRow(vecs.length) { i =>
        sink += (graft.functions.HashOps.cosine(vecs(i), vecs((i + 1) % vecs.length)) * 1e6).toLong
      },
      "kernel.pg_decode_ns_per_row" -> nsPerRow(frames.length) { i =>
        sink += graft.cdc.PgOutputExpressions.decodeToRow(frames(i)).numFields
      })
  }

  /** Median over 7 rounds of ns per call; each round repeats the whole
    * row set until it has run at least 20 ms. Two untimed sweeps first
    * let the JIT compile the kernel. */
  private def nsPerRow(n: Int)(f: Int => Unit): Double = {
    require(n > 0, "kernel input is empty")
    def sweep(): Unit = { var i = 0; while (i < n) { f(i); i += 1 } }
    sweep(); sweep()
    val rounds = (1 to 7).map { _ =>
      var calls = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 20000000L) { sweep(); calls += n }
      (System.nanoTime() - t0).toDouble / calls
    }.sorted
    rounds(rounds.size / 2)
  }
}
