package graft

import org.apache.spark.sql.functions._
import graft.ops.SimilarityOps

/** Native CosineSimilarity expression: parity with the composable HOF form,
  * and SQL availability through GraftExtensions. */
class ExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("native cosine is bit-identical to the higher-order-function form") {
    val vecs = (0 until 50).map { i =>
      (i.toLong, Array.tabulate(16)(j => ((i * 31 + j * 7) % 97 - 48) / 13.0))
    }.toDF("id", "v")
    val both = vecs.crossJoin(vecs.select($"id".as("id2"), $"v".as("v2")))
      .select(
        SimilarityOps.cosine($"v", $"v2").as("native"),
        SimilarityOps.cosineHof($"v", $"v2").as("hof"))
      .collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("nfc_normalize composes decomposed sequences and is codegen-stable") {
    import graft.expressions.TextExpressions.nfcNormalize
    val decomposed = "e\u0301a\u0300o\u0302"
    val composed = "\u00e9\u00e0\u00f4"
    val df = Seq(("x" + decomposed), composed, "plain ascii", "")
      .toDF("s")
      .select($"s", nfcNormalize($"s").as("n"))
    val rows = df.collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(rows("x" + decomposed) === "x" + composed)
    assert(rows(composed) === composed, "already-NFC input is a fixpoint")
    assert(rows("plain ascii") === "plain ascii")
    assert(rows("") === "")
    // null-safe
    assert(Seq(Option.empty[String]).toDF("s")
      .select(nfcNormalize($"s")).head().isNullAt(0))
    // interpreted eval (the non-codegen fallback) agrees
    val lit = graft.expressions.NfcNormalize(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(decomposed)))
    assert(lit.eval(null).toString === composed)
  }

  test("cosine_sim registers for SQL via GraftExtensions") {
    withExtSession { s2 =>
      val r = s2.sql(
        "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS s").head().getDouble(0)
      assert(r === 1.0)
      val jw = s2.sql("SELECT jaro_winkler('martha', 'marhta') AS j").head().getDouble(0)
      assert(math.abs(jw - 0.9611111111111111) < 1e-15)
      // wrong arity → clean AnalysisException from the builder (ADVICE
      // r10: exprs(1) used to throw IndexOutOfBounds during resolution)
      val arity = intercept[org.apache.spark.sql.AnalysisException] {
        s2.sql("SELECT jaro_winkler('a')").collect()
      }
      assert(arity.getMessage.contains("jaro_winkler"))
      // dedup primitives on the SQL surface (r10 stretch task 9)
      val wg = s2.sql("SELECT word_grams('a b c', 2) AS g")
        .head().getSeq[String](0)
      assert(wg === Seq("a b", "b c"))
      val mh = s2.sql("SELECT minhash_sig('a b c d', 16, 2) AS sig")
        .head().getSeq[Long](0)
      assert(mh.length === 16)
      // SQL form ≡ the DataFrame-level entry point, component for component
      val mhDf = s2.sql("SELECT 'a b c d' AS t")
        .select(graft.expressions.MinHashExpressions
          .minhashSig(org.apache.spark.sql.functions.col("t"), 16, 2).as("sig"))
        .head().getSeq[Long](0)
      assert(mh === mhDf)
      // parameter args shape codegen → must be literal ints
      val nonLit = intercept[org.apache.spark.sql.AnalysisException] {
        s2.sql("SELECT minhash_sig('x', 1 + 15, 2)").collect()
      }
      assert(nonLit.getMessage.contains("minhash_sig"))
      // simhash32 / hamming_dist close the dedup-primitive SQL surface:
      // the SQL spelling must agree with the DataFrame form bit-for-bit,
      // identical docs hash identically, and hamming sees injected bits
      val sh = s2.sql(
        "SELECT simhash32('the quick brown fox') AS h").head().getLong(0)
      val shDf = s2.sql("SELECT 'the quick brown fox' AS t")
        .select(graft.ops.DedupOps.simhash32(
          org.apache.spark.sql.functions.col("t")).as("h"))
        .head().getLong(0)
      assert(sh === shDf)
      assert(s2.sql(
        "SELECT hamming_dist(simhash32('a b c'), simhash32('a b c')) AS d")
        .head().getInt(0) === 0)
      assert(s2.sql("SELECT hamming_dist(1, 7) AS d").head().getInt(0) === 2)
      val shArity = intercept[org.apache.spark.sql.AnalysisException] {
        s2.sql("SELECT simhash32('a', 'b')").collect()
      }
      assert(shArity.getMessage.contains("simhash32"))
    }
  }

  test("type check rejects non-double arrays") {
    val ex = intercept[Exception] {
      Seq((Array(1, 2), Array(3, 4))).toDF("a", "b")
        .select(graft.expressions.VectorExpressions.cosineSim($"a", $"b")).collect()
    }
    assert(ex.getMessage.toLowerCase.contains("cosine_sim"))
  }

  test("native minhash signature matches the relational form on the corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (shingle <- Seq(1, 3)) {
      val native = graft.ops.DedupOps.signatures(docs, "doc_id", "text", 16, shingle)
      val rel = graft.ops.DedupOps.signaturesRelational(docs, "doc_id", "text", 16, shingle)
      assert(native.exceptAll(rel).isEmpty && rel.exceptAll(native).isEmpty)
    }
  }

  test("native minhash signature matches the relational form on edge-case text") {
    // shorter-than-one-shingle docs, repeated tokens (multiset min == set
    // min), interior tabs/newlines (\s+ split), leading/trailing spaces
    // (trim strips 0x20 only), a doc that is pure whitespace
    val edge = Seq(
      (1L, ""), (2L, "   "), (3L, "one"), (4L, "one two"),
      (5L, "a b c d e f g"), (6L, "a a a a a a"), (7L, "  padded  doc  "),
      (8L, "tab\tsep\ttokens and\nnewlines here"), (9L, "x y z"),
    ).toDF("doc_id", "text")
    for (shingle <- Seq(1, 2, 3)) {
      val native = graft.ops.DedupOps.signatures(edge, "doc_id", "text", 16, shingle)
      val rel = graft.ops.DedupOps.signaturesRelational(edge, "doc_id", "text", 16, shingle)
      assert(native.exceptAll(rel).isEmpty && rel.exceptAll(native).isEmpty)
    }
  }

  test("null text is absent from the signature relation in both forms") {
    val d = Seq((1L, Option("a b c")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    assert(graft.ops.DedupOps.signatures(d, "doc_id", "text", 16, 3)
      .select("id").as[Long].collect().toSeq === Seq(1L))
    assert(graft.ops.DedupOps.signaturesRelational(d, "doc_id", "text", 16, 3)
      .select("id").as[Long].collect().toSeq === Seq(1L))
  }

  test("topk_vals: bounded-buffer aggregate equals collect_list form at any partitioning, skips nulls") {
    import graft.expressions.TopKAggregate.topkVals
    val rows = (1 to 500).map(i =>
      (i % 7, if (i % 11 == 0) null else java.lang.Double.valueOf((i * 37 % 101).toDouble)))
    val base = rows.toDF("g", "v")
    def viaCollect(df: org.apache.spark.sql.DataFrame) = df.groupBy($"g")
      .agg(slice(reverse(array_sort(collect_list($"v"))), 1, 3).as("t"))
      .select($"g", $"t").as[(Int, Seq[Double])].collect().toMap
    val expect = viaCollect(base)
    for (parts <- Seq(1, 4, 13)) {
      val got = base.repartition(parts).groupBy($"g")
        .agg(topkVals($"v", 3).as("t"))
        .select($"g", $"t").as[(Int, Seq[Double])].collect().toMap
      assert(got === expect, s"parts=$parts")
    }
    // registered for SQL via GraftExtensions
    withExtSession { s2 =>
      val r = s2.sql(
        "SELECT topk_vals(v, 2) AS t FROM VALUES (1.0d), (5.0d), (3.0d) AS t(v)")
        .head().getSeq[Double](0)
      assert(r === Seq(5.0, 3.0))
    }
  }

  test("jaro_winkler matches the classic Winkler formulation (DuckDB-pinned cases)") {
    import graft.expressions.StringDistance.jaroWinkler
    // Values verified against DuckDB's jaro_winkler_similarity builtin —
    // the pairs pin each branch: transpositions, the 0.7 boost threshold
    // (prefix bonus NOT applied at jaro<=0.7), the prefix cap at 4, the
    // empty-string zero, and prefix-0 high-jaro.
    val cases = Seq(
      ("martha", "marhta", 0.9611111111111111),   // 1 transposition + 3-prefix
      ("dixon", "dicksonx", 0.8133333333333332),  // 2-prefix boost
      ("abcdvwxyz", "abcdefghi", 0.6296296296296297), // 4-prefix but jaro<0.7: NO boost
      ("aaaaaaaaab", "aaaaaaaaac", 0.96),         // 9-prefix capped at 4
      ("crate", "trace", 0.7333333333333334),     // jaro>0.7, prefix 0: boost is +0
      ("abcdef", "abcdef", 1.0),
      ("a", "a", 1.0),
      ("ab", "", 0.0), ("", "-", 0.0), ("", "", 0.0), ("x", "y", 0.0))
    val df = cases.toDF("a", "b", "want")
      .select($"want", jaroWinkler($"a", $"b").as("got")).collect()
    df.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12,
        s"want ${r.getDouble(0)} got ${r.getDouble(1)}")
    }
    // null-safe
    assert(Seq((Option.empty[String], Option("x"))).toDF("a", "b")
      .select(jaroWinkler($"a", $"b")).head().isNullAt(0))
    // symmetric
    val sym = Seq(("dwayne", "duane"), ("dixon", "dicksonx")).toDF("a", "b")
      .select(jaroWinkler($"a", $"b").as("f"), jaroWinkler($"b", $"a").as("r"))
      .collect()
    sym.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
  }

  test("ascii_canon is bit-identical to the lower + 3-regex chain, ASCII and non-ASCII") {
    import graft.expressions.AsciiCanon.asciiCanon
    // directed edges: case, punctuation, runs, leading/trailing, empties,
    // all-punct, digits, and non-ASCII rows that must take the fallback
    // (including the Kelvin sign, whose lowercase is ASCII 'k')
    val seeds = Seq(
      "Hello, World!", "  leading and trailing  ", "a,,b..c", "ALL CAPS",
      "runs     of      spaces", "", " ", ",.!?", "123-456", "mixed 42 Case",
      "café au lait", "Kelvin start", "İstanbul",
      "tab\tand\nnewline", "unicode 世界 mixed ascii")
    // plus pseudo-random ASCII strings over a punct-heavy alphabet
    val rng = new scala.util.Random(42)
    val alpha = "aB c,.-9_Z!  "
    val rand = (1 to 200).map(_ =>
      (0 until rng.nextInt(60)).map(_ => alpha(rng.nextInt(alpha.length))).mkString)
    val df = (seeds ++ rand).toDF("s").select($"s",
      asciiCanon($"s").as("k"),
      regexp_replace(regexp_replace(regexp_replace(
        lower($"s"), "[^a-z0-9 ]", " "), " +", " "), "^ +| +$", "").as("r"))
    df.collect().foreach { row =>
      assert(row.getString(1) === row.getString(2),
        s"ascii_canon diverged on ${row.getString(0)}")
    }
    // null-safe + interpreted eval agrees with codegen
    assert(Seq(Option.empty[String]).toDF("s")
      .select(asciiCanon($"s")).head().isNullAt(0))
    val lit = graft.expressions.AsciiCanon(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(" A,b  C! ")))
    assert(lit.eval(null).toString === "a b c")
  }
}
