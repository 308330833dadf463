package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.expressions
import graft.ops.{Dedup, TextOps}

/** Native Catalyst expressions: value parity with the Scala kernels,
  * SQL registration, null propagation, codegen compatibility. Kernel cases
  * run codegen-only, so a Janino compile failure fails the test instead of
  * falling back to interpreted evaluation unnoticed. */
class ExprSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def kernelTest(name: String)(body: => Unit): Unit =
    test(name) {
      val only = Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.fallback" -> "false",
        // otherwise projections over local relations are folded by the
        // optimizer through interpreted evaluation, never reaching codegen
        "spark.sql.optimizer.excludedRules" ->
          "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
      val prev = only.map { case (k, _) => k -> spark.conf.getOption(k) }
      only.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally prev.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
    }

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog",
    "spark merge join filter window aggregate",
    "", "a b a b a b")

  kernelTest("simhash64 / fingerprint64 match their Scala kernels") {
    val df = texts.zipWithIndex.map(_.swap).toDF("id", "t")
    val rows = df.select(col("id"),
      expressions.simhash64(col("t")).as("sh"),
      expressions.fingerprint64(col("t")).as("fp"))
      .orderBy("id").collect()
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(rows(i).getAs[Long]("sh") == Dedup.simhash(t))
      assert(rows(i).getAs[Long]("fp") == TextOps.fingerprintOf(t))
    }
  }

  kernelTest("minhash_sig / hyperplane_sig match their Scala kernels (codegen path)") {
    val df = texts.zipWithIndex.map(_.swap).toDF("id", "t")
    val rows = df.select(col("id"),
      expressions.minhashSig(col("t"), 5, 64).as("sig"))
      .orderBy("id").collect()
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(rows(i).getSeq[Long](1) ==
        Dedup.minhashSignature(t, 5, 64).toSeq)
    }
    val vecs = Seq((0L, Array(0.1f, -0.4f, 0.7f)), (1L, Array(-1f, 2f, -3f)))
      .toDF("id", "v")
    val sigs = vecs.select(col("id"),
      expressions.hyperplaneSig(col("v"), 16, 42L).as("sig"))
      .orderBy("id").collect()
    assert(sigs(0).getLong(1) ==
      graft.ops.Similarity.hyperplaneSig(Array(0.1f, -0.4f, 0.7f), 16, 42L))
    assert(sigs(1).getLong(1) ==
      graft.ops.Similarity.hyperplaneSig(Array(-1f, 2f, -3f), 16, 42L))
    // no UDF node: both stay inside whole-stage codegen
    val plan = df.select(expressions.minhashSig(col("t"), 5, 64))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
  }

  kernelTest("null propagates (UnaryExpression null-intolerance)") {
    val df = Seq(Some("x y z"), None).toDF("t")
    val out = df.select(expressions.simhash64(col("t")).as("sh")).collect()
    assert(out.exists(_.isNullAt(0)))
    assert(out.exists(!_.isNullAt(0)))
  }

  kernelTest("SQL registration + codegen execution over a real scan") {
    expressions.registerAll(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.createOrReplaceTempView("g_docs")
    val viaSql = spark.sql(
      "SELECT doc_id, simhash64(text) AS sh, fingerprint64(text) AS fp " +
        "FROM g_docs ORDER BY doc_id LIMIT 5").collect()
    val direct = docs.select(col("doc_id"),
      expressions.simhash64(col("text")).as("sh"),
      expressions.fingerprint64(col("text")).as("fp"))
      .orderBy("doc_id").limit(5).collect()
    assert(viaSql.map(_.toString).toSeq == direct.map(_.toString).toSeq)
    // the expression stays inside the codegen'd project (no BatchEvalPython
    // / ScalaUDF node)
    val plan = docs.select(expressions.simhash64(col("text")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
  }

  kernelTest("collect_up_to registered as a SQL aggregate: bounded, grouped") {
    expressions.registerAll(spark)
    import spark.implicits._
    Seq(("a", 1), ("a", 2), ("a", 3), ("b", 9)).toDF("k", "v")
      .createOrReplaceTempView("g_cut")
    val rows = spark.sql(
      "SELECT k, collect_up_to(v, 2) AS g FROM g_cut GROUP BY k ORDER BY k")
      .collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("a", "b"))
    assert(rows(0).getSeq[Int](1).size == 2)
    assert(rows(0).getSeq[Int](1).toSet.subsetOf(Set(1, 2, 3)))
    assert(rows(1).getSeq[Int](1) == Seq(9))
  }

  kernelTest("parameterized SQL functions: literal args parsed, non-literals rejected") {
    expressions.registerAll(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.createOrReplaceTempView("g_docs2")
    val viaSql = spark.sql(
      "SELECT minhash_sig(text, 5, 64) AS m, word_minhash_sig(text, 3, 32) AS w " +
        "FROM g_docs2 ORDER BY doc_id LIMIT 3").collect()
    val direct = docs.select(
      expressions.minhashSig(col("text"), 5, 64).as("m"),
      expressions.wordMinhashSig(col("text"), 3, 32).as("w"))
      .orderBy("doc_id").limit(3).collect()
    assert(viaSql.map(_.toString).toSeq == direct.map(_.toString).toSeq)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.createOrReplaceTempView("g_emb")
    val sigs = spark.sql(
      "SELECT hyperplane_sig(embedding, 16, 42) AS s FROM g_emb LIMIT 3")
      .collect()
    assert(sigs.forall(r => !r.isNullAt(0)))
    val err = intercept[Exception](
      spark.sql("SELECT minhash_sig(text, doc_id, 64) FROM g_docs2 LIMIT 1")
        .collect())
    assert(err.getMessage.contains("integer literal"), err.getMessage)
  }

  kernelTest("sig_match_count / cosine_sim: several in one projection compile") {
    val df = Seq((Array(1L, 2L, 3L), Array(1L, 5L, 3L),
      Array(1f, 0f), Array(0.5f, 0.5f))).toDF("a", "b", "u", "v")
    // non-nullable children put each kernel's body at method scope, where
    // a fixed temporary name would be declared twice
    val (noLongs, noFloats) =
      (typedLit(Array.empty[Long]), typedLit(Array.empty[Float]))
    val (a, b) = (coalesce(col("a"), noLongs), coalesce(col("b"), noLongs))
    val (u, v) = (coalesce(col("u"), noFloats), coalesce(col("v"), noFloats))
    val row = df.select(expressions.sigMatchCount(a, b),
      expressions.sigMatchCount(b, a), expressions.cosineSim(u, v),
      expressions.cosineSim(v, u)).head()
    assert(row.getInt(0) == 2 && row.getInt(1) == 2)
    assert(math.abs(row.getDouble(2) - math.sqrt(0.5)) < 1e-12)
    assert(row.getDouble(3) == row.getDouble(2))
  }

  test("GraftExtensions injects the full function table at session build") {
    // the extensions seam itself (spark.sql.extensions=graft.GraftExtensions)
    // can only run at SparkSession construction; here we verify the class
    // wires every GraftFunctions entry into an injection list without error
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    // and that the shared table covers every kernel
    assert(graft.functions.GraftFunctions.all.map(_._1.funcName).toSet ==
      Set("simhash64", "fingerprint64", "minhash_sig", "word_minhash_sig",
        "hyperplane_sig", "lang_id", "collect_up_to",
        "char_shingles", "word_shingles", "sorted_jaccard", "sample_bucket"))
  }
}
