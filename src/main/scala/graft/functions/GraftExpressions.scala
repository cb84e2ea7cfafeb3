package graft.functions

import org.apache.spark.sql.{Column, GraftColumns, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{
  BinaryExpression,
  Expression,
  ExpressionInfo,
  ImplicitCastInputTypes,
  Literal,
  TernaryExpression,
  UnaryExpression
}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the hot vector/text paths. Each generates a
  * static call into [[VectorOps]]/[[TextOps]] from `doGenCode`, so the
  * operator stays inside whole-stage codegen (no iterator break, no
  * row↔object conversion — the reason these beat Scala UDFs at scale).
  *
  * Defined once in [[GraftFunctions.Table]]: SQL text calls them by name,
  * Scala code through the column helpers in [[GraftFunctions]].
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression
    with ImplicitCastInputTypes {
  // The kernel reads packed float32; declaring the type lets the analyzer
  // coerce array<double> literals (SQL default) instead of reading garbage.
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(
      ctx,
      ev,
      (a, b) => s"graft.functions.VectorOps.cosine($a, $b)"
    )

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression
  ): Expression = copy(left = newLeft, right = newRight)
}

/** LSH bucket id from `numPlanes` random hyperplanes (equi-join key for ANN). */
case class HyperplaneBucket(child: Expression, numPlanes: Int)
    extends UnaryExpression
    with ImplicitCastInputTypes {
  require(numPlanes >= 1 && numPlanes <= 30, "numPlanes must be in [1,30]")
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_hyperplane_bucket"

  override protected def nullSafeEval(a: Any): Any =
    VectorOps.hyperplaneBucket(a.asInstanceOf[ArrayData], numPlanes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(
      ctx,
      ev,
      a => s"graft.functions.VectorOps.hyperplaneBucket($a, $numPlanes)"
    )

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** MinHash signature (array of `numHashes` longs) over pre-hashed shingles. */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression
    with ImplicitCastInputTypes {
  require(numHashes >= 1 && numHashes <= 512, "numHashes must be in [1,512]")
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  override protected def nullSafeEval(a: Any): Any =
    TextOps.minhash(a.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(
      ctx,
      ev,
      a => s"graft.functions.TextOps.minhash($a, $numHashes)"
    )

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass tokenize + k-gram shingle hashing (see TextOps.shingleHashes):
  * replaces the split→slice→concat_ws→xxhash64 higher-order-function chain
  * with a single kernel — no intermediate shingle strings. */
case class ShingleHashes(child: Expression, k: Int)
    extends UnaryExpression
    with ImplicitCastInputTypes {
  require(k >= 1 && k <= 16, "k must be in [1,16]")
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"

  override protected def nullSafeEval(a: Any): Any =
    TextOps.shingleHashes(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.TextOps.shingleHashes($a, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass repetition-signal counts (see TextOps.repetitionStats): the six
  * exact longs behind Repetition.signals, replacing a chain of interpreted
  * higher-order functions (tokenize + fold + n-gram maps) with one codegen
  * kernel call. */
/** One-pass whitespace squeeze+trim (see TextOps.squeezeWs): the codegen
  * replacement for `trim(regexp_replace(c, "\\s+", " "))` at the head of
  * every normText chain — same bytes out, no regex engine in the hot path.
  */
case class SqueezeWs(child: Expression)
    extends UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_squeeze_ws"

  override protected def nullSafeEval(a: Any): Any =
    TextOps.squeezeWs(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.TextOps.squeezeWs($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class RepetitionStats(child: Expression)
    extends UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_repetition_stats"

  override protected def nullSafeEval(a: Any): Any =
    TextOps.repetitionStats(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.TextOps.repetitionStats($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Double-precision dot product (see VectorOps.dotd): the codegen twin of
  * the `aggregate(zip_with(...))` Column fold, for the clustering/semantic-
  * dedup hot loops that must stay in double (the float32 [[CosineSimilarity]]
  * kernel would change values and break oracle bit-parity). */
case class DotProductD(left: Expression, right: Expression)
    extends BinaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dotd"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.dotd(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorOps.dotd($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression
  ): Expression = copy(left = newLeft, right = newRight)
}

/** Double-precision squared euclidean distance (see VectorOps.sqdistd),
  * codegen twin of the KMeans.sqDist Column fold. */
case class SqDistD(left: Expression, right: Expression)
    extends BinaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_sqdistd"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.sqdistd(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorOps.sqdistd($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression
  ): Expression = copy(left = newLeft, right = newRight)
}

/** Merge-scan Jaccard over sorted-distinct long arrays (see
  * TextOps.jaccardSorted) — the per-pair kernel of the quadratic
  * ground-truth loops; replaces two array_intersect hash-set builds per
  * candidate pair. */
case class JaccardSorted(left: Expression, right: Expression)
    extends BinaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaccard_sorted"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextOps.jaccardSorted(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextOps.jaccardSorted($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression
  ): Expression = copy(left = newLeft, right = newRight)
}

/** Nearest-centroid argmax by cosine over a broadcast single-row centroid
  * table (see VectorOps.argmaxCos): per-row assignment with NO exchange,
  * replacing the crossJoin → groupBy(id) → max(struct) shape. */
case class ArgmaxCos(vec: Expression, ids: Expression, cvs: Expression)
    extends TernaryExpression
    with ImplicitCastInputTypes {
  override def first: Expression = vec
  override def second: Expression = ids
  override def third: Expression = cvs
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(LongType), ArrayType(ArrayType(FloatType)))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_argmax_cos"

  override protected def nullSafeEval(v: Any, i: Any, c: Any): Any =
    VectorOps.argmaxCos(
      v.asInstanceOf[ArrayData],
      i.asInstanceOf[ArrayData],
      c.asInstanceOf[ArrayData]
    )

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(
      ctx,
      ev,
      (v, i, c) => s"graft.functions.VectorOps.argmaxCos($v, $i, $c)"
    )

  override protected def withNewChildrenInternal(
      f: Expression,
      s: Expression,
      t: Expression
  ): Expression = copy(vec = f, ids = s, cvs = t)
}

/** Nearest-centroid argmin by rounded squared distance (see
  * VectorOps.argminSqDist4), the double-precision KMeans flavor. */
case class ArgminSqDist4(vec: Expression, ids: Expression, cvs: Expression)
    extends TernaryExpression
    with ImplicitCastInputTypes {
  override def first: Expression = vec
  override def second: Expression = ids
  override def third: Expression = cvs
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(LongType), ArrayType(ArrayType(DoubleType)))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_argmin_sqdist4"

  override protected def nullSafeEval(v: Any, i: Any, c: Any): Any =
    VectorOps.argminSqDist4(
      v.asInstanceOf[ArrayData],
      i.asInstanceOf[ArrayData],
      c.asInstanceOf[ArrayData]
    )

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(
      ctx,
      ev,
      (v, i, c) => s"graft.functions.VectorOps.argminSqDist4($v, $i, $c)"
    )

  override protected def withNewChildrenInternal(
      f: Expression,
      s: Expression,
      t: Expression
  ): Expression = copy(vec = f, ids = s, cvs = t)
}

/** One-pass lexical-diversity counts (see TextOps.diversityStats): the three
  * exact longs behind the type-token-ratio / top-token-share filter, fusing
  * tokenize + distinct + top-frequency into one codegen kernel call. */
case class DiversityStats(child: Expression)
    extends UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_diversity_stats"

  override protected def nullSafeEval(a: Any): Any =
    TextOps.diversityStats(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.TextOps.diversityStats($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 64-bit SimHash over pre-hashed tokens. */
case class SimHash64(child: Expression)
    extends UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override protected def nullSafeEval(a: Any): Any =
    TextOps.simhash(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.TextOps.simhash($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Membership probe against a pre-built
  * [[org.apache.spark.util.sketch.BloomFilter]] shipped as a binary literal.
  *
  * The bloom side must be foldable (a literal): the filter is deserialized
  * ONCE per executor via `addReferenceObj`, not per row, and the probe stays
  * inside whole-stage codegen. This is the scale shape of Spark's own runtime
  * bloom filter join pruning: a corpus of any size collapses to `numBits`
  * of sketch that rides the plan, and only might-contain rows pay the
  * downstream shuffle.
  */
/** In-bucket simhash pair enumeration (see TextOps.hammingPairs): parallel
  * (ids, hashes) long arrays → array<struct<a_id,b_id,hamming>> of the i<j
  * pairs within `maxHamming` bits. Replaces the interpreted
  * transform/filter/flatten lambda chain in Dedup.simhashPairs — the pair
  * loop is the quadratic hot path of simhash blocking (bucket population
  * n/2^bandWidth), and SQL higher-order functions evaluate per element on
  * the expression interpreter. */
case class HammingPairs(left: Expression, right: Expression, maxHamming: Int)
    extends BinaryExpression
    with ImplicitCastInputTypes {
  require(maxHamming >= 0 && maxHamming <= 64, "maxHamming must be in [0,64]")
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = ArrayType(
    StructType(
      Seq(
        StructField("a_id", LongType, nullable = false),
        StructField("b_id", LongType, nullable = false),
        StructField("hamming", IntegerType, nullable = false)
      )
    ),
    containsNull = false
  )
  override def prettyName: String = "graft_hamming_pairs"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextOps.hammingPairs(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], maxHamming)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(
      ctx,
      ev,
      (a, b) => s"graft.functions.TextOps.hammingPairs($a, $b, $maxHamming)"
    )

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression
  ): Expression = copy(left = newLeft, right = newRight)
}

/** In-bucket cosine pair enumeration (see TextOps.cosinePairs): parallel
  * (ids, vectors, norms) arrays → array<struct<a_id,b_id,cos>> of the i<j
  * pairs with round(dot/(n_i·n_j), 4) >= threshold. Codegen replacement for
  * the interpreted lambda scaffolding in embeddingNearDups/semanticDedup;
  * dot = VectorOps.dotd (same fold), rounding = Spark's Round-on-double. */
case class CosinePairs(
    first: Expression,
    second: Expression,
    third: Expression,
    threshold: Double
) extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with ImplicitCastInputTypes {
  // NaN/Infinity would be interpolated verbatim into the generated Java in
  // doGenCode (uncompilable), and NaN comparisons silently drop every pair
  // on the interpreted path — mirror HammingPairs's constructor require.
  require(
    !threshold.isNaN && !threshold.isInfinite,
    s"graft_cosine_pairs threshold must be finite, got $threshold"
  )
  override def inputTypes: Seq[DataType] = Seq(
    ArrayType(LongType),
    ArrayType(ArrayType(DoubleType)),
    ArrayType(DoubleType)
  )
  override def dataType: DataType = ArrayType(
    StructType(
      Seq(
        StructField("a_id", LongType, nullable = false),
        StructField("b_id", LongType, nullable = false),
        StructField("cos", DoubleType, nullable = false)
      )
    ),
    containsNull = false
  )
  override def prettyName: String = "graft_cosine_pairs"

  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any =
    TextOps.cosinePairs(
      a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData],
      c.asInstanceOf[ArrayData],
      threshold
    )

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(
      ctx,
      ev,
      (a, b, c) => s"graft.functions.TextOps.cosinePairs($a, $b, $c, $threshold)"
    )

  override protected def withNewChildrenInternal(
      newFirst: Expression,
      newSecond: Expression,
      newThird: Expression
  ): Expression = copy(first = newFirst, second = newSecond, third = newThird)
}

/** [[CosinePairs]] with canonical-bucket emission (see
  * TextOps.cosinePairsCanon): takes the per-element bucket0 array and the
  * bucket being processed, emits a pair only when this bucket is the
  * canonical common probe bucket of the pair — exactly-once across the
  * multi-probe exchange, so embeddingNearDups needs no distinct() and
  * skips ~p/(p+1) of the candidate dot products. */
case class CosinePairsCanon(
    ids: Expression,
    vecs: Expression,
    nrms: Expression,
    b0s: Expression,
    bucket: Expression,
    threshold: Double
) extends org.apache.spark.sql.catalyst.expressions.QuinaryExpression
    with ImplicitCastInputTypes {
  require(
    !threshold.isNaN && !threshold.isInfinite,
    s"graft_cosine_pairs_canon threshold must be finite, got $threshold"
  )
  override def children: Seq[Expression] = Seq(ids, vecs, nrms, b0s, bucket)
  override def inputTypes: Seq[DataType] = Seq(
    ArrayType(LongType),
    ArrayType(ArrayType(DoubleType)),
    ArrayType(DoubleType),
    ArrayType(IntegerType),
    IntegerType
  )
  override def dataType: DataType = ArrayType(
    StructType(
      Seq(
        StructField("a_id", LongType, nullable = false),
        StructField("b_id", LongType, nullable = false),
        StructField("cos", DoubleType, nullable = false)
      )
    ),
    containsNull = false
  )
  override def prettyName: String = "graft_cosine_pairs_canon"

  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any, e: Any): Any =
    TextOps.cosinePairsCanon(
      a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData],
      c.asInstanceOf[ArrayData],
      d.asInstanceOf[ArrayData],
      e.asInstanceOf[Int],
      threshold
    )

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(
      ctx,
      ev,
      (a, b, c, d, e) =>
        s"graft.functions.TextOps.cosinePairsCanon($a, $b, $c, $d, $e, $threshold)"
    )

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]
  ): Expression = copy(
    ids = newChildren(0),
    vecs = newChildren(1),
    nrms = newChildren(2),
    b0s = newChildren(3),
    bucket = newChildren(4)
  )
}

case class BloomMightContain(left: Expression, right: Expression)
    extends BinaryExpression
    with ImplicitCastInputTypes {
  require(left.foldable, "bloom filter bytes must be a literal")
  override def inputTypes: Seq[DataType] = Seq(BinaryType, LongType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_contains"

  // Forced lazily from doGenCode: a null literal must degrade to the
  // expression evaluating to null (mirroring BinaryExpression's interpreted
  // null propagation), not an NPE inside BloomFilter.readFrom at planning.
  @transient private lazy val bloomBytes: Array[Byte] =
    left.eval().asInstanceOf[Array[Byte]]

  @transient private lazy val bloom: org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bloomBytes)
    )

  override protected def nullSafeEval(bytes: Any, v: Any): Any =
    bloom.mightContainLong(v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    if (bloomBytes == null) {
      return org.apache.spark.sql.catalyst.expressions.Literal
        .create(null, BooleanType)
        .genCode(ctx)
    }
    val ref = ctx.addReferenceObj(
      "graftBloom",
      bloom,
      classOf[org.apache.spark.util.sketch.BloomFilter].getName
    )
    nullSafeCodeGen(ctx, ev, (_, v) => s"${ev.value} = $ref.mightContainLong($v);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression
  ): Expression = copy(left = newLeft, right = newRight)
}

/** Unigram-LM document scoring against a bounded literal model (see
  * [[LmScorer]]): `graft_lm_score(tokens, terms, lp_micros, oov_lp_micro)`
  * returns struct(n_tokens, oov_tokens, sum_micro) per row. The model rides
  * the EXPRESSION, not the row stream: the scorer map is built once from
  * the model values and shipped via `addReferenceObj` (the BloomMightContain
  * shape), so the per-row code is one loop of hash lookups inside
  * whole-stage codegen. Null tokens array -> null result. The SQL builder
  * requires the model arguments foldable; model size is vocabulary-capped
  * upstream ([[graft.operators.Perplexity]]), never corpus-scale. */
case class LmScore(
    child: Expression,
    terms: Seq[String],
    lps: Seq[Long],
    oovLp: Long
) extends UnaryExpression
    with ImplicitCastInputTypes {
  require(terms.length == lps.length, "graft_lm_score: model arrays must align")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = StructType(
    Seq(
      StructField("n_tokens", LongType, nullable = false),
      StructField("oov_tokens", LongType, nullable = false),
      StructField("sum_micro", LongType, nullable = false)
    )
  )
  override def prettyName: String = "graft_lm_score"

  // Built once per (driver plan | executor deserialization); executors reach
  // it through the codegen references array, never per row.
  @transient private lazy val scorer: LmScorer =
    new LmScorer(
      terms.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray,
      lps.toArray,
      oovLp
    )

  override protected def nullSafeEval(a: Any): Any =
    scorer.score(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref =
      ctx.addReferenceObj("graftLmScorer", scorer, classOf[LmScorer].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.score($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The graft function table, the installer that puts it in a session's
  * registry for SQL text, and the typed column helpers, which build each
  * expression from its table entry with no session or registry. */
object GraftFunctions {

  /** One graft SQL function: its name, a one-line usage (`_FUNC_` stands for
    * the name, as in Spark's own) and the builder from the call's argument
    * expressions to the graft expression. */
  final case class SqlFunction(
      name: String,
      usage: String,
      build: Seq[Expression] => Expression
  ) {
    val id: FunctionIdentifier = FunctionIdentifier(name)
    def info: ExpressionInfo =
      new ExpressionInfo(
        "graft.functions.GraftFunctions", null, name, usage,
        "", "", "", "", "4.0.0", "", "scala_udf"
      )
  }

  private def intLit(e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(s"expected int literal, got $other")
  }

  private def doubleLit(e: Expression): Double = e match {
    case Literal(v: Double, DoubleType) => v
    case Literal(v: Int, IntegerType)   => v.toDouble
    case other => throw new IllegalArgumentException(s"expected double literal, got $other")
  }

  /** Every graft_* function. [[graft.GraftSparkExtensions]] injects them
    * into extension-built sessions and [[register]] installs them on any
    * other session, so both install the same SQL surface; [[column]] builds
    * the same expressions for the typed helpers. */
  val Table: Seq[SqlFunction] = Seq(
    SqlFunction("graft_cosine", "_FUNC_(a, b) - cosine similarity of two float vectors",
      es => CosineSimilarity(es(0), es(1))),
    SqlFunction("graft_dotd", "_FUNC_(a, b) - double-precision dot product of two vectors",
      es => DotProductD(es(0), es(1))),
    SqlFunction("graft_sqdistd", "_FUNC_(a, b) - double-precision squared euclidean distance",
      es => SqDistD(es(0), es(1))),
    SqlFunction("graft_hyperplane_bucket", "_FUNC_(vec, planes) - random-hyperplane LSH bucket id",
      es => HyperplaneBucket(es(0), intLit(es(1)))),
    SqlFunction("graft_argmax_cos",
      "_FUNC_(vec, ids, centroids) - id of the nearest centroid by cosine, ties high",
      es => ArgmaxCos(es(0), es(1), es(2))),
    SqlFunction("graft_argmin_sqdist4",
      "_FUNC_(vec, ids, centroids) - id of the nearest centroid by rounded squared distance, ties low",
      es => ArgminSqDist4(es(0), es(1), es(2))),
    SqlFunction("graft_vector_fixed_mean",
      "_FUNC_(vec) - per-group element-wise 2^20 fixed-point mean as array<float>",
      es => VectorFixedMean(es(0))),
    SqlFunction("graft_vector_fixed_mean10",
      "_FUNC_(vec) - per-group element-wise exact-decimal mean as array<double>",
      es => VectorFixedMean10(es(0))),
    SqlFunction("graft_cosine_pairs",
      "_FUNC_(ids, vecs, norms, threshold) - a bucket's i<j pairs within the cosine threshold",
      es => CosinePairs(es(0), es(1), es(2), doubleLit(es(3)))),
    SqlFunction("graft_cosine_pairs_canon",
      "_FUNC_(ids, vecs, norms, bucket0s, bucket, threshold) - graft_cosine_pairs, each pair once across probed buckets",
      es => CosinePairsCanon(es(0), es(1), es(2), es(3), es(4), doubleLit(es(5)))),
    SqlFunction("graft_shingle_hashes", "_FUNC_(text, k) - hashes of word k-gram shingles",
      es => ShingleHashes(es(0), intLit(es(1)))),
    SqlFunction("graft_minhash", "_FUNC_(hashes, n) - minhash signature of pre-hashed shingles",
      es => MinHashSignature(es(0), intLit(es(1)))),
    SqlFunction("graft_simhash", "_FUNC_(hashes) - 64-bit simhash of pre-hashed tokens",
      es => SimHash64(es(0))),
    SqlFunction("graft_hamming_pairs",
      "_FUNC_(ids, hashes, maxHamming) - a bucket's i<j pairs within maxHamming bits",
      es => HammingPairs(es(0), es(1), intLit(es(2)))),
    SqlFunction("graft_jaccard_sorted",
      "_FUNC_(a, b) - Jaccard similarity of two sorted distinct long arrays",
      es => JaccardSorted(es(0), es(1))),
    SqlFunction("graft_bloom_contains", "_FUNC_(bloom, key) - probe a serialized bloom filter literal",
      es => BloomMightContain(es(0), es(1))),
    SqlFunction("graft_squeeze_ws", "_FUNC_(text) - whitespace runs squeezed to one space, trimmed",
      es => SqueezeWs(es(0))),
    SqlFunction("graft_repetition_stats", "_FUNC_(text) - one-pass repetition-signal counts",
      es => RepetitionStats(es(0))),
    SqlFunction("graft_diversity_stats", "_FUNC_(text) - one-pass lexical-diversity counts",
      es => DiversityStats(es(0))),
    SqlFunction("graft_lm_score",
      "_FUNC_(tokens, terms, lp_micros, oov_lp_micro) - token, OOV and log-prob sums under a literal unigram model",
      buildLmScore),
    SqlFunction("graft_topk", "_FUNC_(id, score, k) - bounded-heap per-group top-k (id, score) pairs",
      es => TopKAggregate(es(0), es(1), intLit(es(2)))),
    SqlFunction("graft_fixed_sum10",
      "_FUNC_(x) - exact scale-10 fixed-point sum of a double column as decimal(38,10)",
      es => FixedPointSum(es(0))),
    SqlFunction("graft_double_bucket", "_FUNC_(x, bits) - order-preserving bucket of a double",
      es => DoubleOrderBucket(es(0), intLit(es(1))))
  )

  /** graft_lm_score's builder: the model arguments must be literals, because
    * the scorer map is built at planning. */
  private def buildLmScore(es: Seq[Expression]): Expression = {
    require(
      es.length == 4 && es(1).foldable && es(2).foldable && es(3).foldable,
      "graft_lm_score(tokens, terms, lp_micros, oov_lp_micro): the model " +
        "arguments must be literals (the scorer map is built at planning)"
    )
    val t = es(1).eval().asInstanceOf[ArrayData]
    val l = es(2).eval().asInstanceOf[ArrayData]
    require(t != null && l != null, "graft_lm_score: model arrays must not be null")
    val terms = (0 until t.numElements()).map(i => t.getUTF8String(i).toString)
    val lps = l.toLongArray().toSeq
    val oov = es(3).eval() match {
      case x: Long => x
      case x: Int  => x.toLong
      case other =>
        throw new IllegalArgumentException(
          s"graft_lm_score: oov_lp_micro must be an integer literal, got $other"
        )
    }
    LmScore(es(0), terms, lps, oov)
  }

  private val byName: Map[String, SqlFunction] = Table.map(f => f.name -> f).toMap

  /** The [[Table]] function `name` applied to `args`, built by its own
    * builder: no session and no registry. An aggregate comes back as its
    * aggregate expression, as the analyzer would wrap a SQL call. */
  def column(name: String, args: Column*): Column =
    GraftColumns.column(byName(name).build(args.map(GraftColumns.expression)) match {
      case agg: AggregateFunction => agg.toAggregateExpression()
      case e                      => e
    })

  /** Idempotently install every [[Table]] function on the session, for SQL
    * text that names a graft function (the column helpers below need no
    * registry). The already-installed check asks the session's own
    * functionRegistry for every name in the table (rather than tracking
    * sessions in a static set, which would leak across GC'd sessions and
    * collide on identity hashes), so a session missing any entry gets the
    * whole table. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (Table.exists(f => !reg.functionExists(f.id)))
      Table.foreach(f => reg.registerFunction(f.id, f.info, f.build))
  }

  /** Exact fixed-point decimal sum (scale 10, 128-bit buffer) of a double
    * column — the codegen replacement for sum(cast(x as decimal(30,10))),
    * returning DECIMAL(38,10). See [[FixedPointSum]]. */
  def fixedSum10(c: Column): Column = column("graft_fixed_sum10", c)

  /** Bounded-heap per-group top-k: array<struct<id,score>> best-first. */
  def topK(id: Column, score: Column, k: Int): Column =
    column("graft_topk", id, score, lit(k))

  /** Per-group element-wise 2^20 fixed-point vector mean as array<float>
    * (one-exchange Lloyd centroid update) — see [[VectorFixedMean]]. */
  def vectorFixedMean(vec: Column): Column = column("graft_vector_fixed_mean", vec)

  /** Per-group element-wise exact-decimal vector mean as array<double> —
    * see [[VectorFixedMean10]]. */
  def vectorFixedMean10(vec: Column): Column = column("graft_vector_fixed_mean10", vec)

  def shingleHashes(text: Column, k: Int): Column =
    column("graft_shingle_hashes", text, lit(k))

  def cosineSim(a: Column, b: Column): Column = column("graft_cosine", a, b)

  def hyperplaneBucket(v: Column, numPlanes: Int): Column =
    column("graft_hyperplane_bucket", v, lit(numPlanes))

  def minhashSignature(hashes: Column, numHashes: Int): Column =
    column("graft_minhash", hashes, lit(numHashes))

  def simhash64(hashes: Column): Column = column("graft_simhash", hashes)

  /** In-bucket hamming pair kernel: (ids, hashes) → qualifying i<j pairs. */
  def hammingPairs(ids: Column, hashes: Column, maxHamming: Int): Column =
    column("graft_hamming_pairs", ids, hashes, lit(maxHamming))

  /** In-bucket cosine pair kernel: (ids, vecs, norms) → qualifying i<j
    * pairs with their rounded cosine. */
  def cosinePairs(ids: Column, vecs: Column, nrms: Column, threshold: Double): Column =
    column("graft_cosine_pairs", ids, vecs, nrms, lit(threshold))

  /** Canonical-bucket cosine pair kernel (see TextOps.cosinePairsCanon):
    * adds the per-element bucket0 array and the processed bucket, emitting
    * each qualifying pair exactly once across the multi-probe exchange. */
  def cosinePairsCanon(
      ids: Column,
      vecs: Column,
      nrms: Column,
      b0s: Column,
      bucket: Column,
      threshold: Double
  ): Column =
    column("graft_cosine_pairs_canon", ids, vecs, nrms, b0s, bucket, lit(threshold))

  def repetitionStats(text: Column): Column = column("graft_repetition_stats", text)

  def squeezeWs(text: Column): Column = column("graft_squeeze_ws", text)

  def diversityStats(text: Column): Column = column("graft_diversity_stats", text)

  /** Merge-scan Jaccard of two sorted-distinct long-array columns. */
  def jaccardSorted(a: Column, b: Column): Column = column("graft_jaccard_sorted", a, b)

  /** Per-row nearest-centroid id by cosine (ties high) over parallel
    * centroid arrays — see [[ArgmaxCos]]. */
  def argmaxCos(v: Column, ids: Column, cvs: Column): Column =
    column("graft_argmax_cos", v, ids, cvs)

  /** Per-row nearest-centroid id by rounded sq-distance (ties low) —
    * see [[ArgminSqDist4]]. */
  def argminSqDist4(v: Column, ids: Column, cvs: Column): Column =
    column("graft_argmin_sqdist4", v, ids, cvs)

  def dotd(a: Column, b: Column): Column = column("graft_dotd", a, b)

  def sqDistD(a: Column, b: Column): Column = column("graft_sqdistd", a, b)

  /** Order-preserving `2^bits`-way bucket of a double — see
    * [[DoubleOrderBucket]]. */
  def doubleBucket(x: Column, bits: Int): Column =
    column("graft_double_bucket", x, lit(bits))

  /** Token, OOV and log-prob sums of `tokens` under a literal unigram model
    * — see [[LmScore]]. */
  def lmScore(tokens: Column, terms: Column, lpMicros: Column, oovLpMicro: Column): Column =
    column("graft_lm_score", tokens, terms, lpMicros, oovLpMicro)

  /** True if `value` (a long key) might be in `bloom`. Serializes the filter
    * into a binary literal so the probe rides whole-stage codegen; see
    * [[BloomMightContain]] for the scale rationale. */
  def bloomMightContain(
      bloom: org.apache.spark.util.sketch.BloomFilter,
      value: Column
  ): Column = {
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    column("graft_bloom_contains", lit(bos.toByteArray), value)
  }
}
