package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, SparkSession}

/**
 * Native Catalyst scalar expressions over `ARRAY<FLOAT>` embedding columns.
 *
 * These are the Spark-native rebuild of the reference's only numeric kernel,
 * `TensorPrimitives.CosineSimilarity` (used at
 * `/root/reference/src/Connectors.Memory.Merkon/MerkonMemoryStore.cs:137`):
 * dot(a,b) / (||a|| * ||b||) over float vectors. Implemented as codegen'd
 * expressions (not Scala UDFs) so they stay inside whole-stage codegen and
 * read `ArrayData` directly with no boxing/copies — this is the hot inner
 * loop of every kNN scan, so at 100 TB the difference between a UDF
 * (serialize → box → closure call) and a codegen expression is the
 * difference between an IO-bound and CPU-bound scan.
 *
 * Semantics (documented deviations from the reference):
 *  - accumulation in double (the reference accumulates float32 via SIMD;
 *    double is deterministic across partitioning and matches the DuckDB
 *    oracle's double math),
 *  - zero vector => NaN (0/0), same as TensorPrimitives,
 *  - length mismatch => computed over the common prefix (reference throws;
 *    at scale a poison row must not kill a 1000-executor job — callers that
 *    want strictness can filter on `size()` first),
 *  - null input => null (nullIntolerant).
 */
trait VectorBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    VectorBinaryExpression.check(prettyName, left.dataType, right.dataType)
}

object VectorBinaryExpression {
  private[functions] def isFloatArray(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private[functions] def check(name: String, dts: DataType*): TypeCheckResult =
    if (dts.forall(isFloatArray)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires ARRAY<FLOAT> arguments, got ${dts.mkString(", ")}")
}

case class CosineSimilarity(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "cosine_similarity"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  // the generated code calls the SAME kernel: a driver-side scorer
  // (IvfGeometry's calibration pass) and this expression then compute
  // identical doubles by construction
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"graft.functions.VectorKernels.cosine($x, $y)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Scalar kernels shared by an expression's interpreted and generated
  * paths and by driver-side callers. */
object VectorKernels {
  /** dot(x, y) / (||x|| * ||y||) over the common prefix, accumulated in
    * double (see the family semantics above). */
  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      // widen BEFORE multiplying: float*float rounds the product to float32,
      // double math (what the DuckDB oracle does) keeps it exact
      val xi = x.getFloat(i).toDouble; val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }
}

case class DotProduct(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    dot
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class L2Distance(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "l2_distance"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      // widen BEFORE subtract/multiply — float math here would round each
      // squared term to float32 and diverge from the codegen path (caught
      // by the norm==dist(v,0) scalacheck property)
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      acc += d * d; i += 1
    }
    math.sqrt(acc)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val acc = ctx.freshName("acc"); val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = (double) $a.getFloat($i) - (double) $b.getFloat($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = java.lang.Math.sqrt($acc);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class L2Norm(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "l2_norm"
  override def checkInputDataTypes(): TypeCheckResult =
    VectorBinaryExpression.check(prettyName, child.dataType)

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) { val xi = x.getFloat(i).toDouble; acc += xi * xi; i += 1 }
    math.sqrt(acc)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val acc = ctx.freshName("acc"); val xi = ctx.freshName("xi")
      s"""
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $a.getFloat($i); $acc += $xi * $xi;
         |}
         |${ev.value} = java.lang.Math.sqrt($acc);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Binary quantization: pack the SIGN BIT of each of the first 64
 * dimensions into one BIGINT (bit `i` set iff `x[i] > 0`). This is the
 * 1-bit analog of `embedding_quantize_int8` — the compression step binary
 * vector stores (and the Hamming-shortlist literature: Charikar 2002 sign
 * random projections, degenerating to the identity hyperplane basis) run
 * before search: a dim-64 float32 embedding becomes 8 bytes, a 32× scan
 * reduction, and candidate distance becomes `bit_count(a ^ b)` — two
 * instructions against Spark's built-in codegen'd `bit_count`/`^`.
 * Dimensions past 64 are ignored (callers slice wider embeddings into
 * words with `slice()` per 64 dims); exactly-zero components quantize to
 * 0, matching the `> 0` convention of [[SimHashBands]].
 *
 * Unlike the randomized sketches this mapping is fully deterministic from
 * the input floats, so queries over it are EXACTLY reproducible by a
 * DuckDB oracle (sign-mismatch count == Hamming distance) — the one ANN
 * family whose shortlist can be hash-verified, not just recall-bounded.
 */
case class SignPack(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sign_pack"
  override def checkInputDataTypes(): TypeCheckResult =
    VectorBinaryExpression.check(prettyName, child.dataType)

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), 64)
    var bits = 0L
    var i = 0
    while (i < n) {
      if (x.getFloat(i) > 0f) bits |= (1L << i)
      i += 1
    }
    bits
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val bits = ctx.freshName("bits")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), 64);
         |long $bits = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getFloat($i) > 0f) $bits |= (1L << $i);
         |}
         |${ev.value} = $bits;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Banded sign-random-projection (SimHash) keys for cosine LSH —
 * `numBands` keys per vector, each the concatenation of `bandBits` sign
 * bits (AND-amplification within a band, OR across bands). Two vectors
 * share a band key with probability `(1 - θ/π)^bandBits`, so bucket mass
 * is ~`2^-bandBits` of the corpus per band (the property MLlib's
 * single-projection `BucketedRandomProjectionLSH` cannot give: with one
 * projection per table, any bucket width that keeps recall puts ~half
 * the corpus in each central bucket).
 *
 * Hyperplanes are deterministic Rademacher (±1) vectors derived from a
 * splitmix64-style mix of (seed, plane, dim) — no matrix is stored or
 * shipped, the expression is pure compute over the embedding, and the
 * same (seed, plane, dim) always yields the same sign, so band keys are
 * stable across runs, partitions, and executors (the driver re-runs ANN
 * queries and row counts must not flap). At d=64 the ±1 projection is
 * CLT-close to Gaussian, so the `1 - θ/π` collision law holds to within
 * the tuning margin pinned by `AnnRecallSpec`.
 *
 * Key packing: element `t` is `(t << bandBits) | bits`, so keys never
 * collide across bands and a single `explode` + equi-join implements the
 * banded join.
 */
case class SimHashBands(child: Expression, seed: Long, bandBits: Int, numBands: Int)
    extends UnaryExpression {
  require(bandBits >= 1 && bandBits <= 24, s"bandBits out of range: $bandBits")
  require(numBands >= 1, s"numBands out of range: $numBands")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash_bands"
  override def checkInputDataTypes(): TypeCheckResult =
    VectorBinaryExpression.check(prettyName, child.dataType)

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val out = new Array[Long](numBands)
    var plane = 0
    var t = 0
    while (t < numBands) {
      var bits = 0L
      var b = 0
      while (b < bandBits) {
        var acc = 0.0
        var d = 0
        while (d < n) {
          acc += x.getFloat(d).toDouble * SimHashBands.rademacher(seed, plane, d)
          d += 1
        }
        bits = (bits << 1) | (if (acc > 0) 1L else 0L)
        b += 1; plane += 1
      }
      out(t) = (t.toLong << bandBits) | bits
      t += 1
    }
    new GenericArrayData(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val t = ctx.freshName("t")
      val b = ctx.freshName("b"); val d = ctx.freshName("d")
      val plane = ctx.freshName("plane"); val bits = ctx.freshName("bits")
      val acc = ctx.freshName("acc"); val z = ctx.freshName("z")
      val out = ctx.freshName("out")
      // the splitmix64 mix is inlined (same arithmetic as
      // SimHashBands.rademacher) so the inner loop stays free of calls
      s"""
         |int $n = $a.numElements();
         |long[] $out = new long[$numBands];
         |int $plane = 0;
         |for (int $t = 0; $t < $numBands; $t++) {
         |  long $bits = 0L;
         |  for (int $b = 0; $b < $bandBits; $b++, $plane++) {
         |    double $acc = 0.0;
         |    for (int $d = 0; $d < $n; $d++) {
         |      long $z = ${seed}L + $plane * 0x9E3779B97F4A7C15L + $d * 0xC2B2AE3D27D4EB4FL;
         |      $z = ($z ^ ($z >>> 30)) * 0xBF58476D1CE4E5B9L;
         |      $z = ($z ^ ($z >>> 27)) * 0x94D049BB133111EBL;
         |      $z ^= ($z >>> 31);
         |      $acc += (double) $a.getFloat($d) * ((($z & 1L) == 0L) ? 1.0d : -1.0d);
         |    }
         |    $bits = ($bits << 1) | ($acc > 0 ? 1L : 0L);
         |  }
         |  $out[$t] = (((long) $t) << $bandBits) | $bits;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHashBands {
  /** Deterministic ±1 hyperplane weight for (seed, plane, dim) —
    * splitmix64 finalizer over a distinct-constant linear combination.
    * Must stay bit-identical to the inlined codegen version above
    * (pinned by the interp/codegen consistency test). */
  def rademacher(seed: Long, plane: Int, dim: Int): Double = {
    var z = seed + plane * 0x9E3779B97F4A7C15L + dim * 0xC2B2AE3D27D4EB4FL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^= (z >>> 31)
    if ((z & 1L) == 0L) 1.0 else -1.0
  }
}

/** Column-API + SQL-registry façade for the vector expression family. */
object VectorFunctions {
  private def c(e: Expression): Column = Bridge.column(e)
  private def e(col: Column): Expression = Bridge.expression(col)

  def cosineSim(a: Column, b: Column): Column = c(CosineSimilarity(e(a), e(b)))
  def dotProduct(a: Column, b: Column): Column = c(DotProduct(e(a), e(b)))
  def l2Distance(a: Column, b: Column): Column = c(L2Distance(e(a), e(b)))
  def l2Norm(a: Column): Column = c(L2Norm(e(a)))
  def simhashBands(emb: Column, seed: Long, bandBits: Int, numBands: Int): Column =
    c(SimHashBands(e(emb), seed, bandBits, numBands))
  def signPack(emb: Column): Column = c(SignPack(e(emb)))

  // once-per-session guard: createOrReplaceTempFunction on an already-
  // registered name logs a "function replaced" warning per call, which
  // turns repeated query execution (bench loops) into log noise.
  // Weakly keyed so a retained guard entry never pins a closed session
  // (and its sessionState) in long-lived JVMs / many-session test suites.
  private val registeredSessions =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  /** Register as SQL functions (idempotent, once per session). */
  def register(spark: SparkSession): Unit = if (registeredSessions.add(spark)) {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "cosine_similarity", es => CosineSimilarity(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "dot_product", es => DotProduct(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "l2_distance", es => L2Distance(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "l2_norm", es => L2Norm(es.head), "built-in")
    reg.createOrReplaceTempFunction(
      "sign_pack", es => SignPack(es.head), "built-in")
    reg.createOrReplaceTempFunction(
      "simhash_bands", es => SimHashBands(es(0),
        graft.GraftExtensions.literalArg(es, 1, "seed"),
        graft.GraftExtensions.literalArg(es, 2, "bandBits").toInt,
        graft.GraftExtensions.literalArg(es, 3, "numBands").toInt), "built-in")
  }
}
