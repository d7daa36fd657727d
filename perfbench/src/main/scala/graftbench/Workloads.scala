package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.SparkEntry
import graft.api.Engine
import graft.batch.HoltForecaster
import graft.store.KeyedParquetTable
import graft.streaming.{Ingest, Pipeline, SourceAdapters, StreamMinuteAggregate}

trait Workload {
  def name: String
  /** Warm-up that ends each set-up repetition (`rep` keeps their files apart). */
  def warmUp(spark: SparkSession, ctx: Main.Ctx, rep: Int): Unit
  def run(spark: SparkSession, ctx: Main.Ctx, out: Json): Unit
}

object Workloads {
  val byName: Map[String, Workload] =
    Seq(IngestLive, BackfillServe, QueryMix).map(w => w.name -> w).toMap

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  val TableCols: Seq[String] =
    Seq("tx_minute", "total_nb_trx_1min", "total_fee_1min", "avg_fee_1min")

  /** The aggregate pipeline exactly as `Pipeline.writer` configures it. */
  def startPipeline(spark: SparkSession, src: String, maxFiles: Int,
                    table: KeyedParquetTable, ckpt: String, trigger: Trigger) =
    Pipeline.writer(Pipeline.aggregates(SourceAdapters.fixtureDirectory(spark, src, maxFiles)),
      table, ckpt, trigger).start()

  /** Both ingest workloads warm up the same way: the pipeline's stages
    * (unnest, event time, dedup, minute aggregate) over the warm-up polls
    * as a batch, upserted into a throwaway table, then one scan and one
    * lookup on it. The streaming machinery itself stays cold: a restarted
    * pipeline pays that cost, and the measured work includes it. */
  def warmIngest(spark: SparkSession, ctx: Main.Ctx, rep: Int): Unit = {
    val t = new KeyedParquetTable(ctx.path(s"warm-run/$rep"), "tx_minute")
    val txs = Ingest.withEventTime(Ingest.unnestTxs(spark.read.text(ctx.path("warm"))))
    t.upsert(StreamMinuteAggregate.onWatermarked(txs.dropDuplicates("hash")), 0L, bulk = true)
    val keys = t.readLatest(spark).collect()
    t.getRecord(spark, keys.head.getString(0)).collect()
  }

  def finalTable(spark: SparkSession, ctx: Main.Ctx, engine: Engine): Unit = {
    val rows = ctx.tracer.span("final_read", "aux") {
      engine.aggregates.readLatest(spark).select(TableCols.map(col): _*).collect()
    }
    Main.writeLines(ctx.path("final.jsonl"), rows.map(Json.row))
  }

  /** Store-shape counters for the traced run (file listing plus two
    * untimed reads). */
  def storeShape(spark: SparkSession, ctx: Main.Ctx, engine: Engine, out: Json,
                 suffix: String): Unit = if (ctx.tracer.enabled) ctx.tracer.span("store_shape", "aux") {
    val t = engine.aggregates
    val all = t.readAll(spark).count().toDouble
    val latest = t.readLatest(spark).count().toDouble
    out.num(s"store.versions_per_key.$suffix", if (latest > 0) all / latest else 0.0)
    val perHour = t.hourPrefixFileCounts(spark).map(_._2)
    out.num(s"store.files_per_hour.max.$suffix", if (perHour.isEmpty) 0 else perHour.max)
    out.num(s"store.files.$suffix", perHour.sum.toDouble)
  }

  /** The four checked columns of collected rows, as a JSON array of rows
    * (the timed collect materialized every column). */
  def checked(rows: Array[Row]): String =
    rows.map(r => Json.row(Row.fromSeq(TableCols.map(c => r.get(r.fieldIndex(c))))))
      .mkString("[", ",", "]")

  def parquetFiles(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => p.toString.endsWith(".parquet"))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }
  }
}

import Workloads._

/** Resident pipeline under an open-loop poll generator (run.py drops the
  * files). Catch-up: the pipeline starts over a backlog of polls that
  * landed while it was down and drains it; then it prints READY, serves
  * live polls until run.py writes STOP, drains the rest and stops. */
object IngestLive extends Workload {
  val name = "ingest_live"
  def warmUp(spark: SparkSession, ctx: Main.Ctx, rep: Int): Unit = warmIngest(spark, ctx, rep)

  def run(spark: SparkSession, ctx: Main.Ctx, out: Json): Unit = {
    val engine = Engine(spark, ctx.path("warehouse"))
    val ckpt = ctx.path("warehouse/checkpoints/ingestion")
    val maxFiles = ctx.args("max_files").toInt
    ctx.tracer.span("stream", "op") {
      val t0 = System.nanoTime()
      val q = startPipeline(spark, ctx.path("polls"), maxFiles, engine.aggregates, ckpt,
        Trigger.ProcessingTime(0))
      q.processAllAvailable()
      out.num("catchup_ms", ms(t0))
      println("READY")
      System.out.flush()
      val stop = new File(ctx.path("STOP"))
      while (!stop.exists()) Thread.sleep(10)
      q.processAllAvailable()
      q.stop()
      q.exception.foreach(e => throw e)
    }
    storeShape(spark, ctx, engine, out, "before_compact")
    finalTable(spark, ctx, engine)
  }
}

/** Drain a pre-generated multi-hour backlog with AvailableNow, then serve
  * the table from one closed-loop client: lookups, scans, one compaction,
  * lookups again, one ML-loop pass. */
object BackfillServe extends Workload {
  val name = "backfill_serve"
  def warmUp(spark: SparkSession, ctx: Main.Ctx, rep: Int): Unit = warmIngest(spark, ctx, rep)

  def run(spark: SparkSession, ctx: Main.Ctx, out: Json): Unit = {
    val tr = ctx.tracer
    val engine = Engine(spark, ctx.path("warehouse"))
    val table = engine.aggregates
    val keys = Files.readAllLines(Paths.get(ctx.path("lookup_keys.txt"))).asScala
      .filter(_.nonEmpty).toIndexedSeq
    var nextKey = 0

    val t0 = System.nanoTime()
    tr.span("drain", "op") {
      val q = startPipeline(spark, ctx.path("polls"), ctx.args("max_files").toInt, table,
        ctx.path("warehouse/checkpoints/ingestion"), Trigger.AvailableNow)
      q.awaitTermination()
    }
    out.num("drain_ms", ms(t0))
    storeShape(spark, ctx, engine, out, "before_compact")
    val filesAfterDrain = parquetFiles(table.path)

    val lookupLines = mutable.ArrayBuffer[String]()
    val lookupBuild, lookupExec = mutable.ArrayBuffer[Double]()
    def lookups(phase: String, budgetS: Double): Unit = {
      val end = System.nanoTime() + (budgetS * 1e9).toLong
      while (System.nanoTime() < end || lookupBuild.isEmpty) {
        val key = keys(nextKey % keys.size)
        nextKey += 1
        var rows: Array[Row] = null
        tr.span("lookup", "op", Map("key" -> key)) {
          val a = System.nanoTime()
          val df = tr.span("build", "phase") { table.getRecord(spark, key) }
          lookupBuild += ms(a)
          val b = System.nanoTime()
          rows = tr.span("execute", "phase") { df.collect() }
          lookupExec += ms(b)
        }
        lookupLines += s"""{"phase":${Json.str(phase)},"key":${Json.str(key)},"rows":${checked(rows)}}"""
      }
    }

    val budget = ctx.seconds
    lookups("before_compact", budget * 0.45)

    val scanBuild, scanExec = mutable.ArrayBuffer[Double]()
    val scanLines = mutable.ArrayBuffer[String]()
    val scanEnd = System.nanoTime() + (budget * 0.1 * 1e9).toLong
    while (System.nanoTime() < scanEnd || scanBuild.isEmpty) {
      var rows: Array[Row] = null
      tr.span("scan", "op") {
        val a = System.nanoTime()
        val df = tr.span("build", "phase") { table.readLatest(spark) }
        scanBuild += ms(a)
        val b = System.nanoTime()
        rows = tr.span("execute", "phase") { df.collect() }
        scanExec += ms(b)
      }
      scanLines += checked(rows)
    }

    val tc = System.nanoTime()
    tr.span("compact", "op") { engine.compact() }
    out.num("compact_ms", ms(tc))
    val filesAfterCompact = parquetFiles(table.path)
    out.num("store.compact_bytes_rewritten",
      filesAfterCompact.filter { case (p, _) => !filesAfterDrain.contains(p) }.values.sum.toDouble)
    storeShape(spark, ctx, engine, out, "after_compact")

    lookups("after_compact", budget * 0.45)

    val tm = System.nanoTime()
    var seriesRows = 0L
    var monitorRmse = Double.NaN
    tr.span("mlloop", "op") {
      val a = System.nanoTime()
      seriesRows = tr.span("series", "phase") { engine.series().collect().length.toLong }
      out.num("batch.series_ms", ms(a))
      val b = System.nanoTime()
      tr.span("deepar_export", "phase") { engine.exportTrainingData(ctx.path("deepar")) }
      out.num("batch.deepar_export_ms", ms(b))
      val c = System.nanoTime()
      monitorRmse = tr.span("monitor", "phase") {
        engine.monitor(new HoltForecaster(), threshold = 0.24).rmse
      }
      out.num("monitor.run_ms", ms(c))
    }
    out.num("mlloop_ms", ms(tm))
    out.num("mlloop.series_rows", seriesRows.toDouble)
    out.num("mlloop.monitor_rmse", monitorRmse)

    out.arr("lookup_build_ms", lookupBuild.toSeq)
    out.arr("lookup_exec_ms", lookupExec.toSeq)
    out.arr("scan_build_ms", scanBuild.toSeq)
    out.arr("scan_exec_ms", scanExec.toSeq)
    Main.writeLines(ctx.path("lookups.jsonl"), lookupLines)
    Main.writeLines(ctx.path("scans.jsonl"), scanLines)
    finalTable(spark, ctx, engine)
  }
}

/** A fixed list of SparkEntry queries, in the order run.py wrote (seed
  * permuted). Each execution is timed to its full result: build the
  * DataFrame (graft's eager actions included), force the physical plan,
  * collect every row and column. The collected rows are then written to
  * parquet, untimed, for the DuckDB oracle check. The list repeats until
  * `seconds` have passed (at least once). */
object QueryMix extends Workload {
  val name = "query_mix"

  def warmUp(spark: SparkSession, ctx: Main.Ctx, rep: Int): Unit =
    ctx.args("warm_queries").split(",").foreach { q =>
      SparkEntry.queries(q)(spark, ctx.args("data")).collect()
      spark.catalog.clearCache()
    }

  def family(q: String): String = {
    val t = q.takeWhile(_ != '_')
    val f = t.takeWhile(!_.isDigit)
    if (f.isEmpty) t else f
  }

  def run(spark: SparkSession, ctx: Main.Ctx, out: Json): Unit = {
    val tr = ctx.tracer
    val names = Files.readAllLines(Paths.get(ctx.path("queries.txt"))).asScala
      .filter(_.nonEmpty).toSeq
    val data = ctx.args("data")
    val execLines = mutable.ArrayBuffer[String]()
    val passMs = mutable.ArrayBuffer[Double]()
    val start = System.nanoTime()
    var pass = 0
    while (pass == 0 || (System.nanoTime() - start) / 1e9 < ctx.seconds) {
      var passTotal = 0.0
      names.foreach { q =>
        var rows: Array[Row] = null
        var df: DataFrame = null
        var build, plan, exec = 0.0
        val err = try {
          tr.span(q, "query", Map("family" -> family(q))) {
            val a = System.nanoTime()
            df = tr.span("build", "phase") { SparkEntry.queries(q)(spark, data) }
            build = ms(a)
            val b = System.nanoTime()
            tr.span("plan", "phase") { df.queryExecution.executedPlan }
            plan = ms(b)
            val c = System.nanoTime()
            rows = tr.span("execute", "phase") { df.collect() }
            exec = ms(c)
          }
          None
        } catch { case e: Throwable => Some(e.toString) }
        val total = build + plan + exec
        passTotal += total
        val failure = err.orElse(try {
          tr.span("write_result", "aux") {
            spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
              .write.mode("overwrite").parquet(ctx.path(s"out/$pass/$q"))
          }
          None
        } catch { case e: Throwable => Some("result write: " + e.toString) })
        spark.catalog.clearCache()
        execLines += s"""{"pass":$pass,"query":${Json.str(q)},"ms":${Json.num(total)},"build_ms":${Json.num(build)},"plan_ms":${Json.num(plan)},"exec_ms":${Json.num(exec)},"error":${failure.map(Json.str).getOrElse("null")}}"""
      }
      passMs += passTotal
      pass += 1
    }
    out.arr("pass_ms", passMs.toSeq)
    Main.writeLines(ctx.path("executions.jsonl"), execLines)
    val oracle = names.distinct.map(q => s"${Json.str(q)}:${Json.str(SparkEntry.oracleSql(q))}")
    Main.writeLines(ctx.path("oracle_sql.json"), Seq(oracle.mkString("{", ",", "}")))
  }
}
