package graft
object Bench {
  /** Replay and maintenance round trips, timed once each and reported
    * under "maintenance", outside the query-throughput total. Every name is
    * a `SparkEntry.queries` key (ContractAndSinksSpec pins this).
    *
    * e2e_stream_agg is a correctness-gate streaming REPLAY (fixture render
    * + multi-microbatch run, ~30 s of trigger/checkpoint overhead
    * independent of data size) — it would swamp the query-throughput
    * totals the bench tracks round-over-round. Verify covers it;
    * StreamBench measures streaming throughput properly. o6_compact_files
    * likewise: a store-maintenance round trip (two upserts + compact + FS
    * listing), not a query. o10_version_history likewise (two upserts +
    * full-history read), and s4/s5 (full on-disk index builds +
    * maintenance passes + search — index-construction round trips, not
    * query throughput; s2 benches the IVF query plan itself); e2e_neardup
    * is a streaming replay like e2e_stream_agg. j8_bucketed_join rewrites
    * both sides as bucketed tables before the (shuffle-free) join — a
    * write-once round trip. o24_time_travel: three upserts + an as-of read
    * — store maintenance like o10. */
  val maintenanceQueries: Set[String] = Set(
    "e2e_stream_agg", "e2e_late_drop", "e2e_stream_join",
    "e2e_session", "e2e_cdc", "e2e_view_maintain", "e2e_kmv_sketch",
    "e2e_tws_profile", "e2e_stream_outer_join", "e2e_stream_enrich",
    "e2e_stream_dedup", "e2e_stream_dedup_ooo", "e2e_hysteresis",
    "e2e_idle", "e2e_vacuum",
    "o6_compact_files",
    "o21_zorder_skip",
    "o10_version_history", "o24_time_travel", "o25_retention",
    "o31_cdc_apply",
    "s4_ivf_index_search",
    "s5_ivf_reassign", "e2e_neardup", "s7d_pq_index_search",
    // s7e trains the PQ codebook (3 Lloyd passes) twice-encodes and
    // double-ADCs the corpus — a training round trip like s4/s5/s7d,
    // not query throughput
    "s7e_pq_trained_recall",
    "s16_mips_index", "j8_bucketed_join")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // median-of-N per query (fixed per-query back-to-back repeats) so ambient
    // machine noise can't masquerade as a plan change round-over-round; the
    // r6 bench showed ~1.2x uniform inflation that hid a real optimization
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // r13 opt note — measured and REJECTED: forcing AQE to coalesce to the
    // advisory size (parallelismFirst=false, advisory 64m — the Spark docs'
    // busy-cluster recommendation) read +19% on a 147-query subset at sf0.1
    // (70.4 s → 83.7 s): with KB-scale shuffles every post-exchange stage
    // collapses to one task and serializes. The default parallelism-first
    // coalescing is the right call for this bench's shape at every SF.
    // (also measured: AQE fully OFF = +35% on the same subset — the runtime
    // coalescing pays for its replanning many times over; default kept.)
    val spark = LocalSession()
    // one tiny action to pay session/codegen bring-up outside the timings
    spark.range(1000).selectExpr("sum(id)").collect()
    // SPARK_GRAFT_ONLY=a,b,c — local iteration on a subset; unset for the
    // driver's full run
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // SPARK_GRAFT_MAINT_ONLY=1 — run ONLY the maintenance/replay set (the
    // sweep methodology needs maintenance 100× readings without paying the
    // full throughput loop at sf10)
    val maintOnly = sys.env.get("SPARK_GRAFT_MAINT_ONLY").contains("1")
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadBefore = osBean.getSystemLoadAverage
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(q => maintenanceQueries(q._1) || maintOnly)
      .filter(q => only.forall(_.contains(q._1))).map { case (name, fn) =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
        }
        // failures report a negative time so they can't masquerade as fast wins
        val elapsed = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
        // cache teardown happens OUTSIDE the timed window — caching queries
        // must not be charged for their own unpersist
        spark.catalog.clearCache()
        elapsed
      }
      val med = if (times.exists(_ < 0)) -1.0 else median(times)
      val spread = if (med > 0) (times.max - times.min) / med else -1.0
      // per-query progress on stderr: a sweep run that dies (or a query
      // that wedges) must still leave every completed timing attributable
      // — the r11 100× sweep lost 27 min to an unattributable wedge
      System.err.println(f"[bench] done $name $med%.3f")
      (name, med, spread)
    }
    // maintenanceQueries are excluded from query THROUGHPUT, but those
    // replay/maintenance round trips (streaming pipeline, on-disk IVF index,
    // store compaction) previously had NO regression tracking at all — a 5x
    // slowdown in StreamNearDup or IvfIndex.search was invisible to the
    // driver (r8 verdict gap 1). Time each ONCE (they are dominated by fixed
    // trigger/checkpoint/FS overhead, so rep-median adds minutes for little
    // signal) and report them under a separate "maintenance" key so the
    // round-over-round query total stays comparable. Skipped during
    // SPARK_GRAFT_ONLY local iteration.
    val maintenance =
      if (only.isDefined && !maintOnly) Seq.empty
      else SparkEntry.queries.toSeq.sortBy(_._1).filter(q => maintenanceQueries(q._1))
        .filter(q => only.forall(_.contains(q._1))).map {
        case (name, fn) =>
          val t0 = System.nanoTime()
          val ok = try { fn(spark, sfDir).count(); true } catch {
            case e: Throwable =>
              System.err.println(s"[bench] maintenance $name FAILED: ${e.getMessage}")
              false
          }
          val elapsed = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
          spark.catalog.clearCache()
          System.err.println(f"[bench] done $name $elapsed%.3f")
          (name, elapsed)
      }
    // r7/r10 postmortem: the driver tail-captures the LAST ~2000 bytes of
    // stdout; a 248-query map is ~5 KB and can never fit, so any summary
    // line carrying it parses as null (r10) or loses its head (r07).
    // Contract fix (r10 verdict task 2): the COMPLETE per-query map +
    // spreads + maintenance goes to a checked-in BENCH_SUMMARY.json; the
    // final printed line is compact — total, per-FAMILY subtotals (≤ ~20
    // keys), the maintenance map, and the load/spread diagnostics — and is
    // guaranteed to fit whole inside the capture window.
    def r3(v: Double): String = f"$v%.3f"
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val spreads = results.map { case (k, _, s) => s"\"" + k + "\":" + r3(s) }
      .mkString("{", ",", "}")
    val maint = maintenance.map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val loadAfter = osBean.getSystemLoadAverage
    val spreadMax = results.map(_._3).foldLeft(-1.0)(math.max)
    // family = leading letters of the first underscore token (a10→a,
    // mon4→mon, sd1→sd, e2e_stream→e); failed queries (-1) poison their
    // family subtotal to -1 so a failure can't hide inside an aggregate
    def family(name: String): String = {
      val t = name.takeWhile(_ != '_')
      val f = t.takeWhile(!_.isDigit)
      if (f.isEmpty) t else f
    }
    val fams = results.groupBy(r => family(r._1)).toSeq.sortBy(_._1).map {
      case (f, rs) =>
        val v = if (rs.exists(_._2 < 0)) -1.0 else rs.map(_._2).sum
        s"\"" + f + "\":" + r3(v)
    }.mkString("{", ",", "}")
    val summaryJson =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.size},"queries":$qs,"spread":$spreads,"maintenance":$maint,"load1_before":${r3(loadBefore)},"load1_after":${r3(loadAfter)},"spread_max":${r3(spreadMax)},"sf":"$sfDir","reps":$reps}"""
    // full artifact: only on a full-suite run, so a SPARK_GRAFT_ONLY local
    // iteration can't clobber the committed complete map; sweep runs point
    // SPARK_GRAFT_SUMMARY elsewhere for the same reason
    if (only.isEmpty && !maintOnly) {
      val summaryPath =
        sys.env.getOrElse("SPARK_GRAFT_SUMMARY", "BENCH_SUMMARY.json")
      java.nio.file.Files.write(java.nio.file.Paths.get(summaryPath),
        (summaryJson + "\n").getBytes("UTF-8"))
    }
    println(summaryJson) // full map in stdout for log readers; NOT last
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.size},"queries":$fams,"maintenance":$maint,"detail":"BENCH_SUMMARY.json","load1_before":${r3(loadBefore)},"load1_after":${r3(loadAfter)},"spread_max":${r3(spreadMax)},"sf":"$sfDir","reps":$reps}""")
    spark.stop()
  }
}
