package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

class FunctionsSpec extends AnyFunSuite {
  private implicit lazy val spark: org.apache.spark.sql.SparkSession =
    SparkFixture.spark
  import spark.implicits._

  test("cosine similarity exact values") {
    val df = Seq(
      (Array(1f, 0f, 0f), Array(0f, 1f, 0f), 0.0),     // orthogonal
      (Array(1f, 2f, 3f), Array(1f, 2f, 3f), 1.0),     // identical
      (Array(1f, 0f, 0f), Array(-1f, 0f, 0f), -1.0),   // opposite
      (Array(1f, 1f, 0f), Array(1f, 0f, 0f), 1.0 / math.sqrt(2.0))
    ).toDF("a", "b", "expected")
    val rows = df
      .select(GraftFunctions.cosineSim($"a", $"b").as("cos"), $"expected")
      .collect()
    for (r <- rows)
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12)
  }

  test("cosine of zero vector is 0.0, null in -> null out") {
    val z = Seq((Array(0f, 0f), Array(1f, 1f))).toDF("a", "b")
    assert(
      z.select(GraftFunctions.cosineSim($"a", $"b")).head.getDouble(0) == 0.0
    )
    val n = Seq((null.asInstanceOf[Array[Float]], Array(1f, 1f))).toDF("a", "b")
    assert(n.select(GraftFunctions.cosineSim($"a", $"b")).head.isNullAt(0))
  }

  test("cosine stays inside whole-stage codegen") {
    // read from parquet so the projection isn't constant-folded away
    val emb = graft.Tables.t(spark, SparkFixture.sfDir, "embeddings")
    val plan = emb
      .select(GraftFunctions.cosineSim($"embedding", $"embedding").as("c"))
      .queryExecution
      .executedPlan
      .toString
    // "*(n)" prefix marks operators fused into whole-stage codegen
    assert(plan.contains("*(1) Project [graft_cosine"), plan)
  }

  test("minhash signature: deterministic, and estimates jaccard") {
    import graft.functions.{TextFunctions => TF}
    val docs = Seq(
      (1L, "a b c d e f g h i j k l m n o p"),
      (2L, "a b c d e f g h i j k l m n o q"), // ~1 shingle different
      (3L, "z y x w v u t s r q p o n m l k")  // reversed-ish, different
    ).toDF("id", "text")
    val sig = docs.select(
      $"id",
      GraftFunctions
        .minhashSignature(TF.tokenHashes(TF.wordShingles($"text", 3)), 128)
        .as("sig")
    )
    val rows = sig.orderBy("id").collect()
    val s1 = rows(0).getSeq[Long](1)
    val s2 = rows(1).getSeq[Long](1)
    val s3 = rows(2).getSeq[Long](1)
    assert(s1.length == 128)
    // determinism across evaluations
    val again = sig.orderBy("id").collect()(0).getSeq[Long](1)
    assert(s1 == again)
    val est12 = s1.zip(s2).count { case (a, b) => a == b } / 128.0
    val est13 = s1.zip(s3).count { case (a, b) => a == b } / 128.0
    // true shingle jaccard(1,2) = 12/16 = 0.75ish, jaccard(1,3) ~ 0
    assert(est12 > 0.5, s"est12=$est12")
    assert(est13 < 0.2, s"est13=$est13")
  }

  test("simhash: similar docs have small hamming distance") {
    import graft.functions.{TextFunctions => TF}
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy cat again and again"),
      (3L, "completely different words nothing shared here at all ever")
    ).toDF("id", "text")
    val sh = docs
      .select($"id", GraftFunctions.simhash64(TF.tokenHashes(TF.wsTokens($"text"))).as("h"))
      .orderBy("id")
      .collect()
      .map(_.getLong(1))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0), sh(1)) < ham(sh(0), sh(2)))
    assert(ham(sh(0), sh(1)) <= 16)
  }

  test("hyperplane bucket: deterministic, parallel vectors collide") {
    val df = Seq(
      (1L, Array(1f, 2f, 3f, 4f)),
      (2L, Array(2f, 4f, 6f, 8f)),   // same direction => same bucket
      (3L, Array(-1f, -2f, -3f, -4f)) // opposite => complement bucket
    ).toDF("id", "v")
    val b = df
      .select($"id", GraftFunctions.hyperplaneBucket($"v", 8).as("b"))
      .orderBy("id")
      .collect()
      .map(_.getInt(1))
    assert(b(0) == b(1))
    assert((b(0) ^ b(2)) == 255) // all 8 sign bits flip
  }

  test("graft_* functions callable from SQL") {
    GraftFunctions.register(spark)
    val r = spark
      .sql("SELECT graft_cosine(array(1.0F,0.0F), array(1.0F,0.0F)) AS c")
      .head
      .getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("input types declared: array<double> / int inputs coerce, not garbage") {
    GraftFunctions.register(spark)
    // SQL float literals default to array<double>; ImplicitCastInputTypes must
    // coerce to array<float> so the float32 kernel doesn't read a double-strided
    // array as packed floats.
    val c = spark
      .sql("SELECT graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c")
      .head
      .getDouble(0)
    assert(math.abs(c - 1.0) < 1e-7)
    // array<int> input to the long-hash ops must coerce to array<bigint>
    val mh = spark
      .sql("SELECT graft_minhash(array(1, 2, 3), 4) AS sig")
      .head
      .getSeq[Long](0)
    val mhLong = spark
      .sql("SELECT graft_minhash(array(1L, 2L, 3L), 4) AS sig")
      .head
      .getSeq[Long](0)
    assert(mh == mhLong)
    val sh = spark.sql("SELECT graft_simhash(array(7, 8)) AS h").head.getLong(0)
    val shLong =
      spark.sql("SELECT graft_simhash(array(7L, 8L)) AS h").head.getLong(0)
    assert(sh == shLong)
    // int id + float score into graft_topk: analyzer coerces to (long, double)
    // instead of a runtime ClassCastException
    val tk = spark
      .sql(
        "SELECT graft_topk(id, s, 2) AS t FROM VALUES (1, CAST(0.5 AS FLOAT))," +
          " (2, CAST(0.9 AS FLOAT)), (3, CAST(0.1 AS FLOAT)) AS v(id, s)"
      )
      .head
      .getSeq[org.apache.spark.sql.Row](0)
    assert(tk.map(_.getLong(0)) == Seq(2L, 1L))
    // non-castable input is rejected at analysis time
    val err = intercept[Exception](
      spark.sql("SELECT graft_cosine('abc', array(1.0F))").collect()
    )
    assert(err.getMessage.toLowerCase.contains("graft_cosine"))
  }

  test("piiScrub redacts emails, phones, IPv4; leaves clean text alone") {
    import graft.functions.{TextFunctions => TF}
    val df = Seq(
      (1L, "contact jane.doe+spam@example.co.uk for details"),
      (2L, "call +1 (555) 123-4567 or 020 7946 0958 now"),
      (3L, "server at 192.168.0.1 responded"),
      (4L, "nothing sensitive here at all")
    ).toDF("id", "text")
    val out = df
      .select($"id", TF.piiScrub($"text").as("t"))
      .orderBy("id")
      .collect()
      .map(_.getString(1))
    assert(out(0) == "contact <EMAIL> for details")
    assert(out(1) == "call <PHONE> or <PHONE> now")
    assert(out(2) == "server at <IP> responded")
    assert(out(3) == "nothing sensitive here at all")
  }

  test("sampleNibble is deterministic and roughly uniform") {
    import graft.functions.{TextFunctions => TF}
    val ids = (0L until 1600L).toDF("id")
    val counts = ids
      .groupBy(TF.sampleNibble($"id", "s42").as("nib"))
      .count()
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    assert(counts.keySet.subsetOf("0123456789abcdef".map(_.toString).toSet))
    // 16 nibbles x expected 100 each; allow wide tolerance
    assert(counts.values.forall(c => c > 50 && c < 160), counts)
  }

  test("diversity-stats kernel equals the higher-order-function formulation") {
    import org.apache.spark.sql.functions._
    import graft.functions.{GraftFunctions, TextFunctions => TF}
    // edge shapes: empty, whitespace-only (normalizes to ""), unicode,
    // case folding, all-same, all-distinct, long mixed
    val docs = Seq(
      (1L, ""),
      (2L, "   \t  "),
      (3L, "Der der DER wein"),
      (4L, "的 了 的 了 的"),
      (5L, "spam spam spam spam"),
      (6L, "a b c d e f g"),
      (7L, ("lorem ipsum dolor sit amet " * 40).trim)
    ).toDF("doc_id", "text")
    val w = TF.wsTokens(col("text"))
    val hof = docs.select(
      col("doc_id"),
      size(w).cast("long").as("nt0"),
      size(array_distinct(w)).cast("long").as("nd0"),
      graft.operators.Repetition.topCount(w).cast("long").as("tc0")
    )
    val kernel = docs.select(
      col("doc_id"),
      GraftFunctions.diversityStats(TF.normText(col("text"))).as("c")
    )
    val mismatch = kernel
      .join(hof, "doc_id")
      .filter(
        element_at(col("c"), 1) =!= col("nt0") ||
          element_at(col("c"), 2) =!= col("nd0") ||
          element_at(col("c"), 3) =!= col("tc0")
      )
    assert(mismatch.count() == 0, mismatch.collect().mkString("; "))
  }

  test("langid picks the language whose stopwords dominate") {
    import graft.functions.{TextFunctions => TF}
    val df = Seq(
      (1L, "the cat and the dog of to is that it for"),
      (2L, "le chat la de et les des une est oui"),
      (3L, "der hund die und das ein ist nicht mit ja"),
      (4L, "el y los las en que por con perro"),
      (5L, "的 了 是 我 不 在 有 人 好")
    ).toDF("id", "text")
    val out = df
      .select($"id", TF.langId($"text").as("p"))
      .orderBy("id")
      .collect()
      .map(_.getString(1))
    assert(out.toSeq == Seq("en", "fr", "de", "es", "zh"))
  }

  test("graft_bloom_contains: null filter bytes yield null, not a planning NPE") {
    GraftFunctions.register(spark)
    // must survive BOTH codegen planning (doGenCode once forced the lazy
    // deserialization eagerly -> NPE) and evaluation
    val r = spark
      .sql("SELECT graft_bloom_contains(CAST(NULL AS BINARY), 42L) AS might")
      .head
    assert(r.isNullAt(0))
  }

  test("graft columns need no function registry: exactDedup and normText " +
    "run on a new session while the fixture is active, and neither " +
    "session gains a function") {
    val other = spark.newSession()
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    def names(s: org.apache.spark.sql.SparkSession) =
      s.sessionState.functionRegistry.listFunction().toSet
    val (mine, theirs) = (names(spark), names(other))
    val docs = other
      .createDataFrame(Seq((1L, "A   b"), (2L, " a B"), (3L, "c")))
      .toDF("doc_id", "text")
    val norm = docs.select(TextFunctions.normText(col("text"))).collect().map(_.getString(0))
    assert(norm.toSeq == Seq("a b", "a b", "c"))
    val kept = graft.operators.Dedup.exactDedup(docs, "text", "doc_id")
    assert(kept.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    val sum = other.range(1, 5).select(GraftFunctions.fixedSum10(col("id").cast("double")))
    assert(sum.head.getDecimal(0).doubleValue == 10.0)
    assert(names(spark) == mine && names(other) == theirs)
  }

  test("a column helper plans the same as SQL text naming the function") {
    GraftFunctions.register(spark)
    val df = Seq(
      (1L, Array(1f, 0f), Array(1f, 1f), "a b c d", 1.5),
      (2L, Array(0f, 1f), Array(1f, 0f), "b c", 2.5)
    ).toDF("id", "a", "b", "t", "x")
    val pairs = Seq(
      df.select(GraftFunctions.cosineSim($"a", $"b").as("c")) ->
        df.selectExpr("graft_cosine(a, b) AS c"),
      df.select(GraftFunctions.shingleHashes($"t", 2).as("c")) ->
        df.selectExpr("graft_shingle_hashes(t, 2) AS c"),
      df.groupBy($"t").agg(GraftFunctions.topK($"id", $"x", 1).as("c")) ->
        df.groupBy($"t").agg(expr("graft_topk(id, x, 1)").as("c")),
      df.agg(GraftFunctions.fixedSum10($"x").as("c")) ->
        df.selectExpr("graft_fixed_sum10(x) AS c")
    )
    for ((helper, sql) <- pairs) {
      assert(helper.queryExecution.optimizedPlan.sameResult(sql.queryExecution.optimizedPlan))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
      assert(rows(helper) == rows(sql))
    }
  }
}
