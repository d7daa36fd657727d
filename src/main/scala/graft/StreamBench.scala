package graft

import org.apache.spark.sql.streaming.Trigger
import graft.store.KeyedParquetTable
import graft.streaming.{Pipeline, SourceAdapters}

/** Streaming throughput probe: drives the full resident pipeline (unnest →
  * dedup → windowed agg → keyed upsert) from the synthetic rate source and
  * reports steady-state rows/sec. Not part of the driver contract — a dev
  * tool backing the throughput claims in SURVEY.md §6 (the reference's
  * operating regime is ~7 records/s).
  *
  * Usage: runMain graft.StreamBench [envelopesPerSec] [txsPerEnvelope] [seconds]
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val envPerSec = args.headOption.map(_.toInt).getOrElse(200)
    val txsPerEnv = args.lift(1).map(_.toInt).getOrElse(50)
    val seconds = args.lift(2).map(_.toInt).getOrElse(30)
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("ERROR")

    val tmp = java.nio.file.Files.createTempDirectory("streambench")
    val table = new KeyedParquetTable(s"$tmp/agg", "tx_minute")
    val raw = SourceAdapters.syntheticRate(spark, envPerSec, txsPerEnv)
    val q = Pipeline.writer(Pipeline.aggregates(raw), table, s"$tmp/ckpt",
      Trigger.ProcessingTime("1 second")).start()

    Thread.sleep(seconds * 1000L)
    val progresses = q.recentProgress.toSeq
    q.stop()
    // steady state: drop the first third (warmup)
    val steady = progresses.drop(progresses.length / 3)
      .filter(_.numInputRows > 0)
    val envRate = steady.map(_.processedRowsPerSecond).sum / math.max(1, steady.size)
    val txRate = envRate * txsPerEnv
    println(f"""{"metric":"stream_tx_per_sec","value":$txRate%.1f,"unit":"rows/sec","envelopes_per_sec":$envRate%.1f,"batches":${steady.size},"offered_env_per_sec":$envPerSec,"txs_per_envelope":$txsPerEnv}""")
    spark.stop()
  }
}
