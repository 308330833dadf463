package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot-path text digests.
  *
  * A Scala UDF pays per-row closure dispatch + UTF8String→String→result
  * conversion through the encoder layer and blocks expression-level
  * null-short-circuiting; a native `UnaryExpression` with `doGenCode`
  * stays inside whole-stage codegen (one static call on the already-null-
  * checked input). These are the only compute-dense scalar kernels in the
  * ops layer — everything else uses built-in `functions._`.
  */
/** splitmix64 sample bucket ([[graft.ops.Sampling.bucketOf]]) as a native
  * kernel: top 24 bits of the key's splitmix64 mix, in plain Java long
  * arithmetic — so it is ANSI-SESSION-SAFE, unlike a built-in column
  * chain, whose `Multiply` throws ARITHMETIC_OVERFLOW under Spark 4's
  * default ANSI mode for essentially every key (the mix WANTS mod-2^64
  * wraparound). The wrap-around column form survives only in tests, as
  * the shape the DuckDB oracle replicates. */
final case class SampleBucket64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "sample_bucket"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"sample_bucket expects BIGINT, got ${child.dataType.sql} " +
        "(the builder casts integral keys — pass a long)")

  override protected def nullSafeEval(input: Any): Any =
    graft.ops.Sampling.bucketOf(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.Sampling.bucketOf($c)")

  override protected def withNewChildInternal(newChild: Expression): SampleBucket64 =
    copy(child = newChild)
}

final case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any =
    graft.ops.Dedup.simhash(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.Dedup.simhash($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Marker-profile language-ID (see [[graft.ops.TextOps.langIdOf]]) as a
  * native expression: ONE pass over the text inside whole-stage codegen.
  * The pure-column form ([[graft.ops.TextOps.langIdCol]]) proves the
  * semantics are ANSI-expressible (it IS the DuckDB oracle, ported), but
  * its 25 per-marker replace scans cost ~4× this kernel at sf0.1 — and
  * 25× the text-column bandwidth at 100 TB. Property-tested equal to
  * both the column form and the Scala function. */
final case class LangId64(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.StringType
  override def prettyName: String = "lang_id"

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      graft.ops.TextOps.langIdOf(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.ops.TextOps.langIdOf($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): LangId64 =
    copy(child = newChild)
}

/** Rolling-hash winnowed fingerprint (see [[graft.ops.TextOps.fingerprintOf]]). */
final case class Fingerprint64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "fingerprint64"

  override protected def nullSafeEval(input: Any): Any =
    graft.ops.TextOps.fingerprintOf(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.ops.TextOps.fingerprintOf($c.toString(), 8, 16)")

  override protected def withNewChildInternal(newChild: Expression): Fingerprint64 =
    copy(child = newChild)
}

/** MinHash signature (`numHashes` seeded permutations over character
  * k-shingles) as a native expression — the single most compute-dense
  * kernel in the dedup family (BENCH r1: the UDF version dominated
  * `dedup_minhash_lsh` wall time). One static call per row inside
  * whole-stage codegen; returns `array<bigint>`. */
final case class MinHashSig(child: Expression, k: Int, numHashes: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    ArrayData.toArrayData(graft.ops.Dedup.minhashSignature(
      input.asInstanceOf[UTF8String].toString, k, numHashes))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(" +
        s"graft.ops.Dedup.minhashSignature($c.toString(), $k, $numHashes))")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** MinHash signature over WORD n-gram shingles (see
  * [[graft.ops.Dedup.wordShingles]]) — the text-dedup variant whose
  * banding stays selective on same-language corpora. */
final case class WordMinHashSig(child: Expression, n: Int, numHashes: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "word_minhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    ArrayData.toArrayData(graft.ops.Dedup.wordMinhashSignature(
      input.asInstanceOf[UTF8String].toString, n, numHashes))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(" +
        s"graft.ops.Dedup.wordMinhashSignature($c.toString(), $n, $numHashes))")

  override protected def withNewChildInternal(newChild: Expression): WordMinHashSig =
    copy(child = newChild)
}

/** Character k-shingle hash set (sorted, distinct) — the exact-verify
  * side of the MinHash family ([[graft.ops.Dedup.shingles]]) as a native
  * expression: the shingle kernel runs once per document over the whole
  * corpus in `verifyJaccard`, the same compute-dense shape [[MinHashSig]]
  * was nativized for (VERDICT r4 #2 — it was the last Scala-UDF kernel
  * on a dedup hot path). */
final case class CharShingles(child: Expression, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "char_shingles"

  override protected def nullSafeEval(input: Any): Any =
    ArrayData.toArrayData(graft.ops.Dedup.shingles(
      input.asInstanceOf[UTF8String].toString, k))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(" +
        s"graft.ops.Dedup.shingles($c.toString(), $k))")

  override protected def withNewChildInternal(newChild: Expression): CharShingles =
    copy(child = newChild)
}

/** Word n-gram shingle hash set (sorted, distinct) — see
  * [[graft.ops.Dedup.wordShingles]]. */
final case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override protected def nullSafeEval(input: Any): Any =
    ArrayData.toArrayData(graft.ops.Dedup.wordShingles(
      input.asInstanceOf[UTF8String].toString, n))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(" +
        s"graft.ops.Dedup.wordShingles($c.toString(), $n))")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/** Exact Jaccard of two SORTED distinct `array<bigint>` hash sets (one
  * merge pass, zero allocation — see [[graft.ops.Dedup.sortedJaccard]]).
  * Null-safe: a null side yields null (the caller's threshold filter then
  * drops the pair — the drop-unknown-ids semantics ADVICE r4 asked for). */
final case class SortedJaccard(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sorted_jaccard"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.ops.Dedup.sortedJaccard(
      a.asInstanceOf[ArrayData].toLongArray(),
      b.asInstanceOf[ArrayData].toLongArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.ops.Dedup.sortedJaccard($a.toLongArray(), $b.toLongArray())")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedJaccard =
    copy(left = newLeft, right = newRight)
}

/** Random-hyperplane sign-bit signature of an `array<float>` embedding
  * (see [[graft.ops.Similarity.hyperplaneSig]]) — native for the same
  * reason as [[MinHashSig]]: it runs once per vector in every LSH
  * bucketing scan. */
final case class HyperplaneSig(child: Expression, bits: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_sig"

  override protected def nullSafeEval(input: Any): Any =
    graft.ops.Similarity.hyperplaneSig(
      input.asInstanceOf[ArrayData].toFloatArray(), bits, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.ops.Similarity.hyperplaneSig($c.toFloatArray(), $bits, ${seed}L)")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSig =
    copy(child = newChild)
}

/** Matching-position count of two equal-length `array<bigint>` MinHash
  * signatures — the per-candidate-pair estimate kernel of
  * [[graft.ops.Dedup.minhashPairs]]. The previous
  * `aggregate(zip_with(...))` column form is a higher-order function:
  * HOFs are CodegenFallback (interpreted lambda eval, boxed Longs) and
  * this runs once per ENUMERATED candidate pair — orders of magnitude
  * more rows than the corpus — which made it the dominant cost of the
  * whole LSH query (measured: ~2.2 s of `dedup_minhash_lsh`'s 2.8 s at
  * sf0.1). Null/shape semantics replicate the lambda form exactly: null
  * input → null, length mismatch → null (zip_with pads with nulls and
  * the sum folds to null). */
final case class SigMatchCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "sig_match_count"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _                      => false
    })) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"sig_match_count expects two ARRAY<BIGINT> signatures, got " +
        s"${left.dataType.sql} / ${right.dataType.sql}")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.ops.Dedup.sigMatchCount(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def nullable: Boolean = true

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r = ctx.freshName("r")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |Integer $r = graft.ops.Dedup.sigMatchCount($a, $b);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.intValue(); }
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SigMatchCount =
    copy(left = newLeft, right = newRight)
}

/** Cosine similarity of two `array<float>` embeddings as a native kernel.
  * The arithmetic is EXACTLY the declarative
  * `aggregate(zip_with(...))` fold it replaces (see
  * [[graft.ops.Similarity.cosineCols]]): per-element cast to double
  * before multiply, three independent sequential left-folds in array
  * order (dot, |a|², |b|²), then `dot / sqrt(na * nb)` with NO zero
  * guard — bit-identical doubles, so the DuckDB oracle comparison is
  * unchanged. Null/shape semantics also replicate the lambda chain:
  * null array → null, length mismatch → null, null element → null.
  * Why native: HOFs are CodegenFallback, and this kernel runs once per
  * enumerated candidate pair in [[graft.ops.Dedup.embeddingPairs]] and
  * once per row in every ANN rerank. */
final case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    })) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects two ARRAY<FLOAT> embeddings, got " +
        s"${left.dataType.sql} / ${right.dataType.sql}")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.ops.Similarity.cosineArrayData(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def nullable: Boolean = true

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r = ctx.freshName("r")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |Double $r = graft.ops.Similarity.cosineArrayData($a, $b);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** `collect_list` with a HARD per-group element bound — the hot-bucket
  * guard of every LSH family ([[graft.ops.Dedup]] bucketPairs). Plain
  * `collect_list` + a post-hoc `size <= cap` filter still materializes a
  * monster bucket (the 10M-file license-header case) as ONE in-memory
  * array before dropping it; this aggregate stops appending at `limit`
  * elements, so buffer memory is O(limit × payload) per group at every
  * stage — including map-side partial aggregation — and a monster
  * bucket's surplus rows cost one branch each, never memory.
  *
  * Implementation: extends the same [[TypedImperativeAggregate]] base as
  * `collect_list` itself (`Collect`), so it plans into
  * ObjectHashAggregate exactly like the built-in — a DeclarativeAggregate
  * with an array buffer would fall back to SortAggregate and reintroduce
  * the per-partition sort the bucketPairs design exists to avoid
  * (verified via `.explain`). Element ORDER is arrival order (like
  * collect_list, non-deterministic across retries) and which elements
  * survive an over-limit group is equally arrival-dependent — callers
  * must drop over-limit groups (detected via a parallel `count`) rather
  * than interpret their content. */
final case class CollectUpTo(
    child: Expression, limit: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate
      .Collect[scala.collection.mutable.ArrayBuffer[Any]]
    with org.apache.spark.sql.catalyst.trees.UnaryLike[
      org.apache.spark.sql.catalyst.expressions.Expression] {
  require(limit > 0, "collect_up_to: limit must be positive")

  override def prettyName: String = "collect_up_to"

  override def createAggregationBuffer(): scala.collection.mutable.ArrayBuffer[Any] =
    scala.collection.mutable.ArrayBuffer.empty

  override protected def convertToBufferElement(value: Any): Any =
    org.apache.spark.sql.catalyst.InternalRow.copyValue(value)

  override protected lazy val bufferElementType: DataType = child.dataType

  override def update(
      buffer: scala.collection.mutable.ArrayBuffer[Any],
      input: org.apache.spark.sql.catalyst.InternalRow)
      : scala.collection.mutable.ArrayBuffer[Any] =
    if (buffer.size < limit) super.update(buffer, input) else buffer

  override def merge(
      buffer: scala.collection.mutable.ArrayBuffer[Any],
      other: scala.collection.mutable.ArrayBuffer[Any])
      : scala.collection.mutable.ArrayBuffer[Any] = {
    val room = limit - buffer.size
    if (room <= 0) buffer
    else if (other.size <= room) buffer ++= other
    else buffer ++= other.take(room)
  }

  override def eval(
      buffer: scala.collection.mutable.ArrayBuffer[Any]): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(buffer.toSeq)

  override def withNewMutableAggBufferOffset(newOffset: Int): CollectUpTo =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CollectUpTo =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CollectUpTo =
    copy(child = newChild)
}

object expressions {
  import org.apache.spark.sql.GraftBridge
  def simhash64(c: Column): Column =
    GraftBridge.column(SimHash64(GraftBridge.expression(c)))
  def fingerprint64(c: Column): Column =
    GraftBridge.column(Fingerprint64(GraftBridge.expression(c)))
  def minhashSig(c: Column, k: Int, numHashes: Int): Column =
    GraftBridge.column(MinHashSig(GraftBridge.expression(c), k, numHashes))
  def wordMinhashSig(c: Column, n: Int, numHashes: Int): Column =
    GraftBridge.column(WordMinHashSig(GraftBridge.expression(c), n, numHashes))
  def hyperplaneSig(c: Column, bits: Int, seed: Long): Column =
    GraftBridge.column(HyperplaneSig(GraftBridge.expression(c), bits, seed))
  def collectUpTo(c: Column, limit: Int): Column =
    GraftBridge.column(CollectUpTo(GraftBridge.expression(c), limit)
      .toAggregateExpression())
  def langId(c: Column): Column =
    GraftBridge.column(LangId64(GraftBridge.expression(c)))
  def charShingles(c: Column, k: Int): Column =
    GraftBridge.column(CharShingles(GraftBridge.expression(c), k))
  def wordShingles(c: Column, n: Int): Column =
    GraftBridge.column(WordShingles(GraftBridge.expression(c), n))
  def sortedJaccard(a: Column, b: Column): Column =
    GraftBridge.column(SortedJaccard(GraftBridge.expression(a),
      GraftBridge.expression(b)))
  def sigMatchCount(a: Column, b: Column): Column =
    GraftBridge.column(SigMatchCount(GraftBridge.expression(a),
      GraftBridge.expression(b)))
  def cosineSim(a: Column, b: Column): Column =
    GraftBridge.column(CosineSim(GraftBridge.expression(a),
      GraftBridge.expression(b)))
  def sampleBucket(c: Column): Column =
    GraftBridge.column(SampleBucket64(GraftBridge.expression(c.cast("long"))))

  /** SQL registration on an EXISTING session:
    * `SELECT simhash64(text), minhash_sig(text, 5, 64), ...`.
    * New sessions get the same functions without any library call via
    * `spark.sql.extensions=graft.GraftExtensions`. */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit =
    GraftFunctions.all.foreach { case (id, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        id.funcName, builder, "built-in")
    }
}

/** The one shared table of graft SQL functions: name + doc + builder,
  * consumed by both [[graft.GraftExtensions]] (session-build injection)
  * and [[expressions.registerAll]] (existing-session registration). */
object GraftFunctions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{ExpressionInfo, Literal}

  private[functions] def intLit(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, _)  => v
    // SQL integer literals can parse as Long: range-check instead of
    // truncating (a wrapped bigint would silently become a DIFFERENT
    // valid value — e.g. a changefeed window landing on the wrong
    // snapshot version with no error)
    case Literal(v: Long, _) if v.isValidInt => v.toInt
    case Literal(v: Long, _) => throw new IllegalArgumentException(
      s"$fn: $arg = $v is outside the Int range")
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $other")
  }
  private[functions] def longLit(e: Expression, fn: String, arg: String): Long = e match {
    case Literal(v: Int, _)  => v.toLong
    case Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $other")
  }
  private[functions] def arity(fn: String, es: Seq[Expression], n: Int): Unit =
    if (es.length != n) throw new IllegalArgumentException(
      s"$fn expects $n arguments, got ${es.length}")

  type Entry =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fn(name: String, usage: String,
      builder: Seq[Expression] => Expression): Entry =
    (FunctionIdentifier(name),
      new ExpressionInfo("graft.functions.expressions", null, name, usage,
        "", "", "", "", "", "", "built-in"),
      builder)

  val all: Seq[Entry] = Seq(
    fn("simhash64", "simhash64(text) - 64-bit near-dup SimHash",
      es => { arity("simhash64", es, 1); SimHash64(es.head) }),
    fn("fingerprint64",
      "fingerprint64(text) - Karp-Rabin winnowed document fingerprint",
      es => { arity("fingerprint64", es, 1); Fingerprint64(es.head) }),
    fn("minhash_sig",
      "minhash_sig(text, k, numHashes) - MinHash signature over char k-shingles",
      es => { arity("minhash_sig", es, 3)
        MinHashSig(es.head, intLit(es(1), "minhash_sig", "k"),
          intLit(es(2), "minhash_sig", "numHashes")) }),
    fn("word_minhash_sig",
      "word_minhash_sig(text, n, numHashes) - MinHash over word n-grams",
      es => { arity("word_minhash_sig", es, 3)
        WordMinHashSig(es.head, intLit(es(1), "word_minhash_sig", "n"),
          intLit(es(2), "word_minhash_sig", "numHashes")) }),
    fn("hyperplane_sig",
      "hyperplane_sig(vec, bits, seed) - random-hyperplane LSH sign bits",
      es => { arity("hyperplane_sig", es, 3)
        HyperplaneSig(es.head, intLit(es(1), "hyperplane_sig", "bits"),
          longLit(es(2), "hyperplane_sig", "seed")) }),
    fn("lang_id",
      "lang_id(text) - marker-profile language identification (en/de/fr/es/zh/und)",
      es => { arity("lang_id", es, 1); LangId64(es.head) }),
    fn("char_shingles",
      "char_shingles(text, k) - sorted distinct char k-shingle hashes",
      es => { arity("char_shingles", es, 2)
        CharShingles(es.head, intLit(es(1), "char_shingles", "k")) }),
    fn("word_shingles",
      "word_shingles(text, n) - sorted distinct word n-gram hashes",
      es => { arity("word_shingles", es, 2)
        WordShingles(es.head, intLit(es(1), "word_shingles", "n")) }),
    fn("sorted_jaccard",
      "sorted_jaccard(a, b) - exact Jaccard of two sorted hash arrays",
      es => { arity("sorted_jaccard", es, 2)
        SortedJaccard(es.head, es(1)) }),
    fn("sample_bucket",
      "sample_bucket(key) - deterministic sample bucket in [0, 2^24): " +
        "top 24 bits of splitmix64(key); keep a row iff bucket < rate*2^24",
      es => { arity("sample_bucket", es, 1)
        SampleBucket64(org.apache.spark.sql.catalyst.expressions.Cast(
          es.head, LongType)) }),
    fn("collect_up_to",
      "collect_up_to(expr, limit) - collect_list hard-bounded at limit " +
        "elements per group (hot-bucket guard; content arrival-ordered)",
      es => { arity("collect_up_to", es, 2)
        CollectUpTo(es.head, intLit(es(1), "collect_up_to", "limit")) }),
  )
}
