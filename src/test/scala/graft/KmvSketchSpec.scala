package graft

import org.apache.spark.sql.functions._
import graft.expressions.MinKAggregate.minkDistinct
import graft.ops.Sketches

/** The bounded distinct-min-k aggregate ([[graft.expressions
  * .MinKDistinctLongs]]) and the KMV sketch built on it: partitioning
  * independence, duplicate collapse, null skip, the saturation fast path,
  * merge idempotence, and estimator equality against a JVM-side replay of
  * the identical md5 arithmetic. */
class KmvSketchSpec extends SparkSpec {
  import spark.implicits._

  test("mink_distinct: sorted distinct bottom-k, any partitioning") {
    val data = Seq(5L, 3L, 9L, 3L, 1L, 7L, 1L, 8L, 2L, 9L, 4L)
    val expected = Seq(1L, 2L, 3L, 4L) // k=4 smallest distinct
    for (parts <- Seq(1, 4, 13)) {
      val got = data.toDF("v").repartition(parts)
        .agg(minkDistinct(col("v"), 4)).head().getSeq[Long](0)
      assert(got === expected, s"at $parts partitions")
    }
  }

  test("mink_distinct: unsaturated buffer returns ALL distinct values") {
    val got = Seq(42L, 7L, 42L).toDF("v")
      .agg(minkDistinct(col("v"), 10)).head().getSeq[Long](0)
    assert(got === Seq(7L, 42L))
  }

  test("mink_distinct: nulls are skipped, not inserted") {
    val got = Seq(Some(3L), None, Some(1L), None).toDF("v")
      .agg(minkDistinct(col("v"), 5)).head().getSeq[Long](0)
    assert(got === Seq(1L, 3L))
  }

  test("mink_distinct: saturation fast path rejects without corruption") {
    // ascending feed: every row after the first k hits the reject branch
    // (v >= current kth); descending feed: every row enters. Same result.
    val asc = (1L to 100L).toDF("v").coalesce(1)
      .agg(minkDistinct(col("v"), 8)).head().getSeq[Long](0)
    val desc = (1L to 100L).reverse.toDF("v").coalesce(1)
      .agg(minkDistinct(col("v"), 8)).head().getSeq[Long](0)
    assert(asc === (1L to 8L) && desc === (1L to 8L))
  }

  test("mink_distinct: SQL surface via GraftExtensions") {
    withExtSession { s2 =>
      s2.range(20).createOrReplaceTempView("mink_sql_t")
      val got = s2.sql("SELECT mink_distinct(id, 3) AS v FROM mink_sql_t")
        .head().getSeq[Long](0)
      assert(got === Seq(0L, 1L, 2L))
    }
  }

  /** JVM replay of [[Sketches.kmvHash]]: first 15 md5 hex chars as a long. */
  private def jvmHash(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    val hex = d.map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  test("KMV estimate equals the JVM replay of the same arithmetic") {
    val k = 64
    val n = 1000
    val df = (0 until n).map(_.toLong).toDF("id")
    val vals = Sketches.kmvSketch(df, col("id"), k).head().getSeq[Long](0)
    val expectSketch = (0 until n).map(i => jvmHash(i.toString))
      .distinct.sorted.take(k)
    assert(vals === expectSketch)
    val est = Sketches.kmvSketch(df, col("id"), k)
      .select(Sketches.kmvEstimate(col("vals"), k)).head().getDouble(0)
    val expectEst = (k - 1).toDouble * (1L << 60).toDouble / expectSketch.last.toDouble
    assert(est === expectEst) // bit-exact: same IEEE ops
    assert(math.abs(est - n) / n < 0.25, s"estimate $est far from $n")
  }

  test("kmvSketchBy partials merge to exactly the direct sketch") {
    val df = (0L until 900L).map(i => (i % 9, i)).toDF("part", "id")
    val parts = Sketches.kmvSketchBy(df, col("part"), col("id"), 48)
    assert(parts.count() === 9)
    val merged = Sketches.kmvMergeSketches(parts, 48).head().getSeq[Long](0)
    val direct = Sketches.kmvSketch(df, col("id"), 48).head().getSeq[Long](0)
    assert(merged === direct)
  }

  test("sketch of union == min-k merge of the two sketches") {
    val k = 32
    val a = (0L until 500L).toDF("id")
    val b = (250L until 750L).toDF("id") // overlapping sets
    val direct = Sketches.kmvSketch(a.union(b), col("id"), k)
      .head().getSeq[Long](0)
    // merge path: the two sketches' VALUES re-aggregated with the same
    // bounded aggregate (no re-hash — values are already hashes)
    val ha = Sketches.kmvSketch(a, col("id"), k).select(explode(col("vals")).as("h"))
    val hb = Sketches.kmvSketch(b, col("id"), k).select(explode(col("vals")).as("h"))
    val merged = ha.union(hb).agg(minkDistinct(col("h"), k)).head().getSeq[Long](0)
    assert(merged === direct)
    // idempotence: merging a sketch with itself is a no-op
    val twice = ha.union(ha).agg(minkDistinct(col("h"), k)).head().getSeq[Long](0)
    val once = ha.agg(minkDistinct(col("h"), k)).head().getSeq[Long](0)
    assert(twice === once)
  }
}
