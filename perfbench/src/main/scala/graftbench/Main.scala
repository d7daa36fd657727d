package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** JVM half of the benchmark (run.py is the other half: it builds this
  * program, generates every input from the seed, checks every output and
  * prints the result line).
  *
  * Usage: graftbench.Main key=value ... with keys
  *   workload  ingest_live | backfill_serve | query_mix
  *   work      scratch directory holding the generated inputs; outputs go here
  *   data      table directory for query_mix (`<data>/<table>.parquet`)
  *   seconds   measured time budget
  *   trace     1 = record spans and listener metrics
  *   cpus      local[cpus]
  *   t0ms      epoch ms at which the launcher started this JVM
  *   setups    number of session set-ups (setup_s is their median)
  *
  * Output: `<work>/jvm.json` (timings and, traced, layer metrics), plus
  * the workload's result files that run.py checks. */
object Main {

  final case class Ctx(args: Map[String, String], tracer: Tracer) {
    val work: String = args("work")
    val seconds: Double = args("seconds").toDouble
    val cpus: Int = args("cpus").toInt
    def path(rel: String): String = s"$work/$rel"
  }

  def session(ctx: Ctx): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${ctx.cpus}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", ctx.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", ctx.path("spark-local"))
      .config("spark.sql.warehouse.dir", ctx.path("spark-warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val ctx = Ctx(args, new Tracer(args.getOrElse("trace", "0") == "1"))
    val workload = Workloads.byName(args("workload"))
    val out = new Json

    // Set-up: session bring-up plus the workload's warm-up, repeated; the
    // first repetition counts from the launcher's start of this JVM.
    val setups = args.getOrElse("setups", "3").toInt
    val setupTimes = (0 until setups).map { i =>
      val t0 = if (i == 0) args("t0ms").toLong else System.currentTimeMillis()
      val spark = session(ctx)
      workload.warmUp(spark, ctx, i)
      val s = (System.currentTimeMillis() - t0) / 1000.0
      if (i < setups - 1) spark.stop()
      s
    }
    out.num("setup_s", Stats.median(setupTimes))
    out.arr("setup_s.all", setupTimes)

    val spark = SparkSession.active
    ctx.tracer.attach(spark)
    ctx.tracer.span(workload.name, "workload") { workload.run(spark, ctx, out) }
    ctx.tracer.drain()
    if (ctx.tracer.enabled) {
      Layers.report(ctx, out)
      Layers.writeSpans(ctx, ctx.path("spans.jsonl"))
    }
    Files.write(Paths.get(ctx.path("jvm.json")), out.render.getBytes(UTF_8))
    spark.stop()
  }

  def writeLines(path: String, lines: Iterable[String]): Unit = {
    new File(path).getParentFile.mkdirs()
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

object Stats {
  /** The mean of the two middle values (the middle one for an odd count);
    * 0 for no values. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
}

/** Minimal JSON object builder for jvm.json and the result files. */
final class Json {
  private val fields = scala.collection.mutable.LinkedHashMap[String, String]()
  def num(k: String, v: Double): Json = { fields(k) = Json.num(v); this }
  def arr(k: String, vs: Seq[Double]): Json = { fields(k) = vs.map(Json.num).mkString("[", ",", "]"); this }
  def render: String = fields.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  /** A Spark row of simple values as a JSON array (doubles keep all digits). */
  def row(r: org.apache.spark.sql.Row): String =
    r.toSeq.map {
      case null => "null"
      case d: Double => num(d)
      case n: java.lang.Number => n.toString
      case s: String => str(s)
      case other => str(other.toString)
    }.mkString("[", ",", "]")
}
