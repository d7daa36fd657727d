package graft

import org.apache.spark.sql.functions._
import graft.ops.{Incremental, SimilarityOps}
import graft.store.KeyedParquetTable

/** Fourth-wave operators: incremental view maintenance (o23), MIPS + its
  * norm-augmentation reduction (s12/s12b), time travel (o24). */
class IncrementalMipsSpec extends SparkSpec {
  import spark.implicits._

  test("incremental: merge of disjoint partials equals the full recompute exactly") {
    val rows = (1 to 200).map(i => (s"k${i % 7}", i, i * 0.01 + 0.001))
    val df = rows.toDF("k", "seq", "v")
    val full = Incremental.partial(df, Seq($"k"), $"v")
    val merged = Incremental.merge(
      Seq(Incremental.partial(df.filter($"seq" % 3 === 0), Seq($"k"), $"v"),
        Incremental.partial(df.filter($"seq" % 3 === 1), Seq($"k"), $"v"),
        Incremental.partial(df.filter($"seq" % 3 === 2), Seq($"k"), $"v")),
      Seq("k"))
    val f = full.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDecimal(2)))).toMap
    val m = merged.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDecimal(2)))).toMap
    assert(m.keySet === f.keySet)
    f.foreach { case (k, (n, s)) =>
      assert(m(k)._1 === n, s"count for $k")
      assert(m(k)._2.compareTo(f(k)._2) === 0, s"exact sum for $k")
    }
  }

  test("incremental: retraction partial (negated rows) removes a delta") {
    val base = Seq(("a", 1.5), ("a", 2.5), ("b", 4.0)).toDF("k", "v")
    val delta = Seq(("a", 2.5)).toDF("k", "v")
    val withDelta = Incremental.merge(
      Seq(Incremental.partial(base, Seq($"k"), $"v"),
        Incremental.partial(delta, Seq($"k"), $"v")), Seq("k"))
    // retract by merging the negated partial: (-n, -s) per key
    val retracted = Incremental.merge(
      Seq(withDelta,
        Incremental.partial(delta, Seq($"k"), $"v")
          .select($"k", (-$"n").as("n"), (-$"s").as("s"))),
      Seq("k"))
    val got = retracted.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("a" -> 2L, "b" -> 1L))
  }

  test("mips: brute-force top-k ranks by raw inner product") {
    val vs = Seq(
      (0L, Array(1.0f, 0.0f)),   // query
      (1L, Array(10.0f, 0.0f)),  // large-magnitude, same direction
      (2L, Array(0.9f, 0.1f)),   // near-unit, near-same direction
      (3L, Array(0.0f, 5.0f)))   // orthogonal
      .toDF("vec_id", "embedding")
    val got = SimilarityOps.mipsTopK(vs, vs.filter($"vec_id" === 0), "vec_id", "embedding", k = 3)
      .orderBy($"rank").select($"neighbor_id").as[Long].collect()
    // cosine would rank 2 above 1 only by tie-break; MIPS must put the
    // large-magnitude vector first and the orthogonal one last
    assert(got === Seq(1L, 2L, 3L))
  }

  test("mips augmentation: cosine order over the augmented space equals exact MIPS order") {
    val rnd = new scala.util.Random(42)
    val vs = (0L until 60L).map(i =>
      (i, Array.fill(8)((rnd.nextDouble() * 4 - 2).toFloat))).toDF("vec_id", "embedding")
    val queries = vs.filter($"vec_id" < 3)
    val exact = SimilarityOps.mipsTopK(vs, queries, "vec_id", "embedding", k = 10)
      .select($"query_id", $"rank", $"neighbor_id").as[(Long, Int, Long)]
      .collect().toSet
    val aug = SimilarityOps.mipsAugmentCorpus(vs, "vec_id", "embedding")
    val qAug = SimilarityOps.mipsAugmentQueries(queries, "vec_id", "embedding")
    val viaCosine = SimilarityOps.bruteForceTopK(aug, qAug, "vec_id", "embedding", k = 10)
      .select($"query_id", $"rank", $"neighbor_id").as[(Long, Int, Long)]
      .collect().toSet
    assert(viaCosine === exact)
  }

  test("mips band pruning: equals brute force exactly AND actually skips bands") {
    val rnd = new scala.util.Random(13)
    // the regime band pruning serves: a heavy top band containing vectors
    // well-aligned with the queries (so the phase-1 bound τ ≈ ‖q‖·M is
    // tight) over a light random tail (whose band bound ‖q‖·bmax < τ)
    val qdirs = (0 until 3).map(_ => Array.fill(6)(rnd.nextDouble() * 2 - 1))
    val queries3 = qdirs.zipWithIndex.map { case (d, i) =>
      (i.toLong, d.map(_.toFloat)) }
    val heavy = (for (q <- 0 until 3; j <- 0 until 6) yield {
      val id = 10L + q * 6 + j
      (id, qdirs(q).map(x => (x * 8.0 + (rnd.nextDouble() - 0.5) * 0.1).toFloat))
    })
    val light = (40L until 100L).map(i =>
      (i, Array.fill(6)(((rnd.nextDouble() * 2 - 1) * 1.5).toFloat)))
    val vs = (queries3 ++ heavy ++ light).toDF("vec_id", "embedding")
    val queries = vs.filter($"vec_id" < 3)
    val exact = SimilarityOps.mipsTopK(vs, queries, "vec_id", "embedding", k = 5)
      .select($"query_id", $"rank", $"neighbor_id").as[(Long, Int, Long)]
      .collect().toSet
    val banded = SimilarityOps.mipsTopKBanded(vs, queries, "vec_id", "embedding", k = 5)
      .select($"query_id", $"rank", $"neighbor_id").as[(Long, Int, Long)]
      .collect().toSet
    assert(banded === exact)
    val plan = SimilarityOps.mipsBandPlan(vs, queries, "vec_id", "embedding", k = 5)
      .select($"query_id", $"band", $"kept").as[(Long, Int, Boolean)].collect()
    assert(plan.exists(!_._3), "at least one band pruned for some query")
    assert(plan.count(_._3) > 0, "kept bands exist")
  }

  test("mips augmentation: every augmented corpus vector has the max norm") {
    val vs = Seq((0L, Array(3.0f, 4.0f)), (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 0.5f)))
      .toDF("vec_id", "embedding")
    val aug = SimilarityOps.mipsAugmentCorpus(vs, "vec_id", "embedding")
      .select($"vec_id", SimilarityOps.norm($"embedding".cast("array<double>")).as("n"))
      .as[(Long, Double)].collect().toMap
    aug.values.foreach(n => assert(math.abs(n - 5.0) < 1e-12))
    // dims grew by one
    val d = SimilarityOps.mipsAugmentCorpus(vs, "vec_id", "embedding")
      .select(size($"embedding")).as[Int].head()
    assert(d === 3)
  }

  test("retention: truncateHistory preserves states >= keepFrom, drops earlier rows") {
    val dir = tmpDir("trunc")
    val t = new KeyedParquetTable(s"$dir/t", "k")
    t.upsert(Seq(("2024-01-01 00:00:00", 1L)).toDF("k", "n"), 0)
    t.upsert(Seq(("2024-01-01 00:00:00", 2L), ("2024-01-01 00:01:00", 5L)).toDF("k", "n"), 1)
    t.upsert(Seq(("2024-01-01 00:01:00", 7L)).toDF("k", "n"), 2)
    def state(v: Long) = t.readAsOf(spark, v)
      .select($"k", $"version", $"n").as[(String, Long, Long)].collect().toSet
    val asOf1 = state(1)
    val asOf2 = state(2)
    t.truncateHistory(spark, keepFrom = 1)
    assert(state(1) === asOf1, "as-of keepFrom unchanged")
    assert(state(2) === asOf2, "later states unchanged")
    // the superseded version-0 row for key 00:00 is physically gone
    assert(t.readAll(spark).count() === 3)
  }

  test("streaming additive view: multi-batch replay with merging compaction equals the batch aggregate") {
    val dir = tmpDir("sview")
    val rows = for (day <- 0 until 6; i <- 0 until 20) yield
      (day.toLong * 3 + i % 4, 1.25 * i + day,
        java.sql.Timestamp.valueOf(f"2024-03-${day + 1}%02d 10:00:${i % 60}%02d"))
    val events = rows.toDF("user_id", "value", "ts")
    val served = graft.streaming.StreamView.run(spark, events, dir,
      maxFilesPerTrigger = 1, compactEvery = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDecimal(2)))).toMap
    val expect = events.groupBy($"user_id")
      .agg(count(lit(1)).as("n"), sum($"value".cast("decimal(30,4)")).as("s"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDecimal(2)))).toMap
    assert(served.keySet === expect.keySet)
    expect.foreach { case (k, (n, s)) =>
      assert(served(k)._1 === n, s"count for user $k")
      assert(served(k)._2.compareTo(s) === 0, s"exact sum for user $k")
    }
    // compaction kept the epoch-dir count bounded: 6 single-file batches
    // with compactEvery=2 must leave fewer dirs than batches
    val view = new java.io.File(s"$dir/view")
    val epochDirs = view.listFiles().count(_.getName.startsWith("__b="))
    assert(epochDirs > 0 && epochDirs < 6, s"epoch dirs: $epochDirs")
  }

  test("streaming view manifest commit: a crash between every compaction step never double-counts or drops") {
    import graft.streaming.StreamView
    import graft.ops.Incremental
    val dir = tmpDir("sview_crash")
    val path = s"$dir/view"
    def partial(rows: Seq[(Long, Double)]) =
      Incremental.partial(rows.toDF("user_id", "value"), Seq($"user_id"), $"value")
    StreamView.writeEpoch(partial(Seq((1L, 1.0), (2L, 2.0))), path, 0)
    StreamView.writeEpoch(partial(Seq((1L, 3.0))), path, 1)
    StreamView.writeEpoch(partial(Seq((3L, 5.0))), path, 2)
    def snap() = StreamView.served(spark, path, Seq("user_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2).doubleValue())).toSet
    def dirsOnDisk() = new java.io.File(path).listFiles()
      .map(_.getName).filter(_.startsWith("__b=")).toSet
    val expect = snap()
    assert(expect.map(_._1) === Set(1L, 2L, 3L))
    // CRASH A — after stageMerge, before the manifest rename: the merged
    // dir exists on disk but no manifest references it → invisible
    val Some((e1, consumed1)) = StreamView.stageMerge(spark, path, Seq("user_id"), upTo = 1)
    assert(dirsOnDisk().contains(s"__b=$e1"), "staged dir written")
    assert(snap() === expect, "orphan merged dir must be invisible to reads")
    // recovery re-runs the stage over the SAME live set → same target
    // epoch, overwritten deterministically, then the commit proceeds
    val Some((e2, consumed2)) = StreamView.stageMerge(spark, path, Seq("user_id"), upTo = 1)
    assert(e2 === e1 && consumed2 === consumed1)
    StreamView.commitManifest(spark, path, e2, upTo = 1)
    // CRASH B — after the commit, before cleanup: consumed dirs remain on
    // disk but the manifest excludes them → no double count
    assert(dirsOnDisk().contains("__b=0") && dirsOnDisk().contains("__b=1"),
      "consumed dirs still present (cleanup has not run)")
    assert(snap() === expect, "post-commit read must not double-count leftovers")
    StreamView.cleanupAfterCommit(spark, path, consumed2)
    assert(snap() === expect)
    assert(dirsOnDisk() === Set(s"__b=$e1", "__b=2"), "only live dirs survive")
    // a second generation over the compacted state (covers the
    // negative-epoch re-consume path and manifest succession)
    StreamView.writeEpoch(partial(Seq((2L, 0.5))), path, 3)
    StreamView.compactMerge(spark, path, Seq("user_id"), upTo = 3)
    val expect2 = Incremental.merge(Seq(
        partial(Seq((1L, 1.0), (2L, 2.0))), partial(Seq((1L, 3.0))),
        partial(Seq((3L, 5.0))), partial(Seq((2L, 0.5)))), Seq("user_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2).doubleValue())).toSet
    assert(snap() === expect2)
    assert(dirsOnDisk().size === 1, "second generation fully compacts")
  }

  test("streaming view vacuum: reclaims crashed-cleanup garbage later compactions never touch") {
    import graft.streaming.StreamView
    import graft.ops.Incremental
    val dir = tmpDir("sview_vacuum")
    val path = s"$dir/view"
    def partial(rows: Seq[(Long, Double)]) =
      Incremental.partial(rows.toDF("user_id", "value"), Seq($"user_id"), $"value")
    def snap() = StreamView.served(spark, path, Seq("user_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2).doubleValue())).toSet
    def names() = new java.io.File(path).listFiles().map(_.getName).toSet
    StreamView.writeEpoch(partial(Seq((1L, 1.0))), path, 0)
    StreamView.writeEpoch(partial(Seq((2L, 2.0))), path, 1)
    // generation 1: stage + commit, then CRASH before cleanup — consumed
    // dirs 0/1 and no leftover sweep
    val Some((e1, _)) = StreamView.stageMerge(spark, path, Seq("user_id"), upTo = 1)
    StreamView.commitManifest(spark, path, e1, upTo = 1)
    val expect = snap()
    // generation 2 compacts OVER the crash leftovers — and must NOT
    // reclaim them (it deletes only its own consumed set)
    StreamView.writeEpoch(partial(Seq((1L, 4.0))), path, 2)
    StreamView.compactMerge(spark, path, Seq("user_id"), upTo = 2)
    assert(names().contains("__b=0") && names().contains("__b=1"),
      "crashed-cleanup garbage survives later compactions — the vacuum's reason to exist")
    val expect2 = snap()
    assert(expect2.map(_._1) === Set(1L, 2L))
    // plant the other garbage classes: a tmp manifest and a crashed-stage
    // negative orphan unreferenced by any manifest
    new java.io.File(path, "_manifest.g99.tmp").createNewFile()
    StreamView.writeEpoch(partial(Seq((9L, 9.0))), path, -99)
    assert(snap() === expect2, "orphans invisible before vacuum")
    val removed = StreamView.vacuum(spark, path)
    assert(removed >= 4, s"0/1/tmp/-99 all reclaimed (got $removed)")
    assert(snap() === expect2, "vacuum must not change the served view")
    assert(!names().exists(_.endsWith(".tmp")) && !names().contains("__b=0")
      && !names().contains("__b=1") && !names().contains("__b=-99"))
    // the table keeps working: another batch + compaction round trip
    StreamView.writeEpoch(partial(Seq((2L, 1.0))), path, 3)
    StreamView.compactMerge(spark, path, Seq("user_id"), upTo = 3)
    val expect3 = Incremental.merge(Seq(
        partial(Seq((1L, 1.0))), partial(Seq((2L, 2.0))),
        partial(Seq((1L, 4.0))), partial(Seq((2L, 1.0)))), Seq("user_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2).doubleValue())).toSet
    assert(snap() === expect3)
    assert(StreamView.vacuum(spark, path) >= 0 && snap() === expect3,
      "vacuum on a clean table is a no-op for reads")
  }

  test("knn graph: single-bucket blocking (signDims=0) equals brute-force top-k for every node") {
    val rnd = new scala.util.Random(7)
    val vs = (0L until 40L).map(i =>
      (i, Array.fill(6)((rnd.nextDouble() * 2 - 1).toFloat))).toDF("vec_id", "embedding")
    val graph = SimilarityOps.knnGraph(vs, "vec_id", "embedding", k = 3, signDims = 0)
      .select($"id", $"rank", $"nbr_id").as[(Long, Int, Long)].collect().toSet
    val brute = SimilarityOps.bruteForceTopK(vs, vs, "vec_id", "embedding", k = 3)
      .select($"query_id", $"rank", $"neighbor_id").as[(Long, Int, Long)].collect().toSet
    assert(graph === brute)
  }

  test("pagerank: star center accumulates, symmetric cycle stays uniform, dangling mass drops") {
    import graft.ops.GraphOps
    val nodes = (1L to 5L).toDF("id")
    // star: 2,3,4,5 -> 1 ; plus 1 -> 2 (so node 1 is not dangling)
    val star = Seq((2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L), (1L, 2L)).toDF("src", "dst")
    val pr = GraphOps.pageRank(nodes, star, "id", "src", "dst", iters = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // NOTE: pr(1) vs pr(2) oscillates with iteration parity (1↔2 form a
    // 2-cycle; the alternating component decays only as damping^k), so
    // assert the parity-stable facts: both beat every leaf, leaves tie.
    assert(pr(1L) > pr(3L) && pr(2L) > pr(3L), "cycle nodes beat leaves")
    assert(math.abs(pr(3L) - pr(5L)) < 1e-12, "symmetric leaves equal")
    assert(pr(3L) > 0.02, "leaves keep the teleport share")
    // 2-cycle keeps the uniform distribution (and mass is conserved: no dangling)
    val two = Seq(1L, 2L).toDF("id")
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val prc = GraphOps.pageRank(two, cyc, "id", "src", "dst", iters = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(prc(1L) - 0.5) < 1e-9 && math.abs(prc(2L) - 0.5) < 1e-9)
    // dangling variant: 1 -> 2, node 2 sinks; total mass < 1 (documented drop)
    val dang = Seq((1L, 2L)).toDF("src", "dst")
    val prd = GraphOps.pageRank(two, dang, "id", "src", "dst", iters = 5)
      .collect().map(_.getDouble(1)).sum
    assert(prd < 1.0)
  }

  test("triangles: known graph, direction/duplicate-proof, isolated node") {
    import graft.ops.GraphOps
    val nodes = (1L to 7L).toDF("id") // 7 is isolated
    // triangle {1,2,3}; square 3-4-5-6 with diagonal 4-6 → {4,5,6}, {3,4,6}.
    // Feed edges with MIXED directions and a duplicate to prove
    // canonicalization (the k-NN edge relation is directed and often
    // mutual).
    val edges = Seq((1L, 2L), (3L, 2L), (1L, 3L), (3L, 4L), (5L, 4L),
      (5L, 6L), (6L, 3L), (4L, 6L), (6L, 4L)).toDF("src", "dst")
    val got = GraphOps.triangleStats(nodes, edges, "id", "src", "dst")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) === ((2L, 1L, 10000L)))
    assert(got(2L) === ((2L, 1L, 10000L)))
    assert(got(3L) === ((4L, 2L, 3333L))) // 4·10⁴/12 floored
    assert(got(4L) === ((3L, 2L, 6666L)))
    assert(got(5L) === ((2L, 1L, 10000L)))
    assert(got(6L) === ((3L, 2L, 6666L)))
    assert(got(7L) === ((0L, 0L, 0L)))
    // global count: Σ per-node tri = 3·(number of triangles)
    assert(got.values.map(_._2).sum === 9L)
  }

  test("k-core peeling: cascade drops, nested rounds, isolated node") {
    import graft.ops.GraphOps
    // K4 on {1,2,3,4}; tail 4-5-6 hangs off it. With k=2: round 1 drops 6
    // (deg 1), round 2 drops 5 (its degree fell to 1), round 3 keeps
    // {1,2,3,4} (each still deg >= 3 ... >= 2) — the cascade that makes
    // peeling iterative. Node 7 isolated.
    val nodes = (1L to 7L).toDF("id")
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val got = GraphOps.kCoreRounds(nodes, edges, "id", "src", "dst", k = 2, rounds = 3)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(6L) === ((1L, 0L, 0L)), "leaf drops in round 1")
    assert(got(5L) === ((2L, 1L, 0L)), "cascade: degree fell after round 1")
    assert(got(4L) === ((4L, 3L, 1L)))
    assert(got(1L) === ((3L, 3L, 1L)))
    assert(got(7L) === ((0L, 0L, 0L)), "isolated never enters")
    // nested-survivor invariant: rounds_survived of core nodes = rounds
    assert(got.values.filter(_._3 == 1L).forall(_._2 == 3L))
  }

  test("range search equals brute force at any tau (lossless pruning)") {
    val rnd = new scala.util.Random(11)
    // two tight clusters + noise so cells have genuinely different radii
    // and the cap bound prunes the far cluster for most queries
    val base = Array.fill(8)(rnd.nextDouble() * 2 - 1)
    val vs = (0L until 60L).map { i =>
      val v =
        if (i < 25) base.map(x => (x + rnd.nextGaussian() * 0.05).toFloat)
        else if (i < 50) base.map(x => (-x + rnd.nextGaussian() * 0.05).toFloat)
        else Array.fill(8)((rnd.nextDouble() * 2 - 1).toFloat)
      (i, v)
    }.toDF("vec_id", "embedding")
    val cents = vs.filter($"vec_id" % 10 === 0)
      .select($"vec_id".as("centroid_id"), $"embedding".as("centroid_vec"))
    val assigned = SimilarityOps.assignToCentroids(vs, cents, "vec_id", "embedding")
    val queries = vs.filter($"vec_id" % 7 === 0)
    for (tau <- Seq(0.3, 0.8, 0.995)) {
      val got = SimilarityOps.rangeSearch(assigned, cents, queries,
          "vec_id", "embedding", tau)
        .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
      val truth = SimilarityOps.bruteForceTopK(vs, queries, "vec_id", "embedding", k = 60)
        .filter($"sim" >= tau)
        .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
      assert(got === truth, s"range search diverged from brute force at tau=$tau")
    }
  }

  test("bfs hops: multi-source, horizon cutoff, unreachable component") {
    import graft.ops.GraphOps
    // path 1-2-3-4-5-6 plus a disconnected pair 7-8; seeds {1, 8}.
    val nodes = (1L to 9L).toDF("id") // 9 isolated
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (7L, 8L)).toDF("src", "dst")
    val seeds = Seq(1L, 8L).toDF("id")
    val got = GraphOps.bfsHops(nodes, edges, "id", "src", "dst", seeds, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L,
      5L -> -1L, 6L -> -1L, // beyond the 3-hop horizon
      7L -> 1L, 8L -> 0L, 9L -> -1L))
  }

  test("link prediction: scores, adjacency exclusion, degree cap") {
    import graft.ops.GraphOps
    // wedge fan: z1 connects {1,2,3}; z2 connects {1,2}. Pair (1,2) has
    // common neighbors {z1=10, z2=11} (cn=2); pairs (1,3),(2,3) share only
    // z1 (cn=1 < minCn). Adjacent pair (4,5) shares {10} but is excluded.
    val nodes = (1L to 11L).toDF("id")
    val edges = Seq((10L, 1L), (10L, 2L), (10L, 3L), (11L, 1L), (11L, 2L),
      (4L, 10L), (5L, 10L), (4L, 5L)).toDF("src", "dst")
    val got = GraphOps.linkPrediction(nodes, edges, "id", "src", "dst",
        degCap = 64, minCn = 2)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    // deg(z1=10)=5, deg(z2=11)=2; RA(1,2) = floor(1e10/5) + floor(1e10/2)
    assert(got.contains((1L, 2L)))
    val (cn, jacc, ra) = got((1L, 2L))
    assert(cn === 2L)
    // deg(1)=deg(2)=2 → jacc = 2·10⁴/(2+2−2)
    assert(jacc === 10000L)
    assert(ra === 2000000000L + 5000000000L)
    assert(!got.contains((4L, 5L)), "adjacent pair excluded")
    assert(!got.keySet.exists(p => p == ((1L, 3L)) || p == ((2L, 3L))),
      "below minCn")
    // with the cap below deg(z1)=5, z1 wedges vanish: (1,2) falls to cn=1
    // and drops; (10,11) — common neighbors {1,2}, both deg 2 — survives
    val capped = GraphOps.linkPrediction(nodes, edges, "id", "src", "dst",
        degCap = 4, minCn = 2)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(capped === Map((10L, 11L) -> 2L))
  }

  test("time travel: readAsOf reconstructs each historical state") {
    val dir = tmpDir("asof")
    val t = new KeyedParquetTable(s"$dir/t", "k")
    t.upsert(Seq(("2024-01-01 00:00:00", 1L)).toDF("k", "n"), 0)
    t.upsert(Seq(("2024-01-01 00:00:00", 2L), ("2024-01-01 00:01:00", 5L)).toDF("k", "n"), 1)
    t.upsert(Seq(("2024-01-01 00:01:00", 7L)).toDF("k", "n"), 2)
    def state(v: Long) = t.readAsOf(spark, v)
      .select($"k", $"version", $"n").as[(String, Long, Long)].collect().toSet
    // NOTE: versionCol (event_time) is absent here, so latest-wins falls
    // back to the upsert sequence alone — exactly what as-of filters on.
    assert(state(0) === Set(("2024-01-01 00:00:00", 0L, 1L)))
    assert(state(1) === Set(("2024-01-01 00:00:00", 1L, 2L), ("2024-01-01 00:01:00", 1L, 5L)))
    assert(state(2) === Set(("2024-01-01 00:00:00", 1L, 2L), ("2024-01-01 00:01:00", 2L, 7L)))
  }

  test("label propagation: clamped seeds, majority + min-label ties, carry, horizon") {
    import graft.ops.GraphOps
    // path 1-2-3-4-5: seeds at the ends with labels 7 (node 1) and 3
    // (node 5). Node 3 hears both by round 2 — tie (one vote each) must
    // break to MIN label 3. Node 6 is isolated (stays null). Node 1 has a
    // labeled neighbor with a different label by round 2 but is a SEED —
    // must stay clamped at 7.
    val nodes = Seq((1L, 7), (2L, 0), (3L, 0), (4L, 0), (5L, 3), (6L, 0))
      .toDF("id", "label")
    val seeds = Seq((1L, 7), (5L, 3)).toDF("id", "label")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val got = GraphOps.labelPropagation(nodes, seeds, edges,
        "id", "label", "src", "dst", rounds = 3)
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1))))
      .toMap
    // r1: 2←7, 4←3. r2: 3 hears {7,3} → min 3. r3: unchanged interior
    // majorities (2 hears {7 from 1, 3 from 3} → tie → 3? No: votes are
    // {7, 3}, tie on count → min label 3 — but seed 1 stays 7).
    assert(got(1L) === Some(7), "seed clamped")
    assert(got(5L) === Some(3), "seed clamped")
    assert(got(2L) === Some(3), "tie at node 2 (neighbors 7,3) breaks to min")
    assert(got(3L) === Some(3))
    assert(got(4L) === Some(3))
    assert(got(6L) === None, "isolated node never labeled")
  }

  test("hits: two unrolled integer rounds match the hand computation") {
    import graft.ops.GraphOps
    // 1→2, 3→2, 2→4; node 5 isolated.
    // a1 = indeg: a1(2)=2, a1(4)=1. h1(1)=h1(3)=2, h1(2)=1.
    // a2(2)=h1(1)+h1(3)=4, a2(4)=h1(2)=1. h2(1)=h2(3)=4, h2(2)=1.
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val edges = Seq((1L, 2L), (3L, 2L), (2L, 4L)).toDF("src", "dst")
    val got = GraphOps.hits(nodes, edges, "id", "src", "dst", rounds = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(1L -> ((0L, 4L)), 2L -> ((4L, 1L)), 3L -> ((0L, 4L)),
      4L -> ((1L, 0L)), 5L -> ((0L, 0L))))
  }

  test("mmr: diversity pick beats the plain top-k order, then recovers it") {
    // q = e_x. A (id 1) most relevant; E (id 2) second-most relevant but a
    // near-duplicate of A; B (id 3) slightly less relevant than E yet far
    // from A. Plain top-2 = (A, E); MMR at λ=0.7 must pick B second
    // (7·0.95 − 3·0.846 > 7·0.955 − 3·0.998) and E third.
    val vecs = Seq(
      (0L, Array(1.0, 0.0, 0.0)),          // the query row itself
      (1L, Array(0.97, 0.2431, 0.0)),      // A: rel ≈ 0.970
      (2L, Array(0.955, 0.2965, 0.0)),     // E: rel ≈ 0.955, pen(E,A) ≈ 0.998
      (3L, Array(0.95, -0.3122, 0.0))      // B: rel ≈ 0.950, pen(B,A) ≈ 0.846
    ).toDF("vec_id", "embedding")
    val got = SimilarityOps.mmrRerank(vecs, vecs.filter($"vec_id" === 0),
        "vec_id", "embedding", poolK = 3, selectK = 3)
      .collect().map(r => r.getInt(1) -> r.getLong(2)).toMap
    assert(got === Map(1 -> 1L, 2 -> 3L, 3 -> 2L))
    // sanity: the pure-relevance order really is A, E, B (so the MMR swap
    // above is diversity at work, not a relevance artifact)
    val topk = SimilarityOps.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0),
        "vec_id", "embedding", k = 3)
      .collect().map(r => r.getInt(1) -> r.getLong(2)).toMap
    assert(topk === Map(1 -> 1L, 2 -> 2L, 3 -> 3L))
  }
}
