package graft.plans

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}

/** `sorted_intersect_count(a, b)` — intersection size of two SORTED,
  * DISTINCT arrays (both `array<string>` or both `array<bigint>`) via a
  * linear merge, with whole-stage codegen.
  *
  * Why a native Expression (SURVEY.md §2.10 decision revisited): the
  * brute-force Jaccard verifier compares O(n²) document pairs; built-in
  * `array_intersect` builds a hash set and materializes an output array
  * PER PAIR — pure allocation overhead when only the count is needed.
  * The long variant is the hot path: `getLong` on UnsafeArrayData is a
  * zero-allocation word read (the string variant still allocates a
  * UTF8String wrapper per element), so pre-hashing shingles with
  * xxhash64 makes the per-pair merge branch-and-compare only.
  * Jaccard over distinct sets follows as c / (|a| + |b| - c).
  *
  * Inputs MUST be sorted ascending and duplicate-free
  * (`array_sort(array_distinct(...))`) — unsorted input silently
  * undercounts, mirroring the contract of merge joins.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  private lazy val elemType: DataType = left.dataType match {
    case ArrayType(et, _) => et
    case _ => StringType
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) => true
      case (ArrayType(LongType, _), ArrayType(LongType, _)) => true
      case _ => false
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<string> or two array<bigint> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_count"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0
    val nx = x.numElements(); val ny = y.numElements()
    if (elemType == LongType) {
      while (i < nx && j < ny) {
        val xv = x.getLong(i); val yv = y.getLong(j)
        if (xv == yv) { c += 1; i += 1; j += 1 }
        else if (xv < yv) i += 1
        else j += 1
      }
    } else {
      while (i < nx && j < ny) {
        val cmp = x.getUTF8String(i).compareTo(y.getUTF8String(j))
        if (cmp == 0) { c += 1; i += 1; j += 1 }
        else if (cmp < 0) i += 1
        else j += 1
      }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val body = if (elemType == LongType) {
        val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
        s"""
           |  long $xv = $x.getLong($i); long $yv = $y.getLong($j);
           |  if ($xv == $yv) { $c++; $i++; $j++; }
           |  else if ($xv < $yv) $i++;
           |  else $j++;
         """.stripMargin
      } else {
        val cmp = ctx.freshName("cmp")
        s"""
           |  int $cmp = $x.getUTF8String($i).compareTo($y.getUTF8String($j));
           |  if ($cmp == 0) { $c++; $i++; $j++; }
           |  else if ($cmp < 0) $i++;
           |  else $j++;
         """.stripMargin
      }
      s"""
         |int $i = 0, $j = 0, $c = 0;
         |while ($i < $x.numElements() && $j < $y.numElements()) {
         |$body
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** `vector_dot(a, b)` — dot product of two `array<double>` via a direct
  * indexed loop with codegen. Replaces `aggregate(zip_with(a,b,*),…)`,
  * which materializes a zipped array per call — pure allocation in the
  * O(n²) similarity joins and the top-k scan.
  */
case class VectorDot(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vector_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var i = 0; var acc = 0.0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n"); val acc = ctx.freshName("acc")
      s"""
         |int $n = Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $x.getDouble($i) * $y.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDot =
    copy(left = newLeft, right = newRight)
}

/** `graft_might_contain(bloom, longValue)` — bloom membership probe with
  * whole-stage codegen. Spark's own `BloomFilterMightContain` generates
  * `mightContainLong((Long)<literal>)` when the probe value constant-
  * folds; with a NEGATIVE literal Janino parses that as `Long` minus the
  * literal ("Expression java.lang.Long is not an rvalue") and the stage
  * silently drops to interpreted mode. This twin keeps Spark's null
  * semantics exactly (null/absent bloom → null, null value → null) and
  * emits a parenthesized primitive operand, so constant probes (a
  * literal probe value against a scalar-subquery bloom) compile. The
  * bloom side must be constant per query (literal or scalar subquery, as
  * in Spark's expression): it deserializes ONCE per expression instance,
  * never per row.
  */
case class GraftBloomProbe(left: Expression, right: Expression)
    extends BinaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.Block._
  import org.apache.spark.sql.types.{BinaryType, BooleanType}

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, LongType)
          if left.foldable ||
            left.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]] =>
        TypeCheckResult.TypeCheckSuccess
      case (BinaryType, LongType) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a CONSTANT bloom (literal or scalar subquery)")
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (binary, bigint) arguments, got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_might_contain"

  // Forced only at execution prep (eval/doGenCode), when a scalar
  // subquery's value is available — same lifecycle as Spark's impl.
  @transient private lazy val bloom: org.apache.spark.util.sketch.BloomFilter = {
    val bytes = left.eval().asInstanceOf[Array[Byte]]
    if (bytes == null) null
    else org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bytes))
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    if (bloom == null) null
    else {
      val v = right.eval(input)
      if (v == null) null else bloom.mightContainLong(v.asInstanceOf[Long])
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (bloom == null)
      ev.copy(code = code"boolean ${ev.isNull} = true; boolean ${ev.value} = false;")
    else {
      val bf = ctx.addReferenceObj("graftBloom", bloom,
        classOf[org.apache.spark.util.sketch.BloomFilter].getName)
      val r = right.genCode(ctx)
      ev.copy(code =
        code"""
           |${r.code}
           |boolean ${ev.isNull} = ${r.isNull};
           |boolean ${ev.value} = false;
           |if (!${ev.isNull}) {
           |  ${ev.value} = $bf.mightContainLong((long)(${r.value}));
           |}
         """.stripMargin)
    }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GraftBloomProbe =
    copy(left = newLeft, right = newRight)
}

/** The engine's six SQL functions. `SparkUtil.session` installs them
  * into every session it builds, through `GraftExtensions`.
  */
object GraftFunctions {
  /** Entry `name` → `cls`, built from exactly `arity` arguments; any other
    * count fails at analysis with Spark's own WRONG_NUM_ARGS error.
    */
  private def entry(name: String, cls: Class[_], arity: Int)(
      build: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      (exprs: Seq[Expression]) => {
        if (exprs.size != arity)
          throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
            "functionName" -> s"`$name`", "expectedNum" -> arity.toString,
            "actualNum" -> exprs.size.toString, "docroot" -> org.apache.spark.SPARK_DOC_ROOT))
        build(exprs)
      })

  val entries: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    entry("sorted_intersect_count", classOf[SortedIntersectCount], 2)(
      e => SortedIntersectCount(e(0), e(1))),
    entry("vector_dot", classOf[VectorDot], 2)(e => VectorDot(e(0), e(1))),
    entry("minhash_md5", classOf[MinhashMd5], 1)(e => MinhashMd5(e(0))),
    entry("simhash_md5", classOf[SimhashMd5], 1)(e => SimhashMd5(e(0))),
    // Spark ships BloomFilterAggregate / BloomFilterMightContain for its
    // internal runtime-filter rewrite but does not register them as SQL
    // functions; exposing them here gives the query surface a native
    // (codegen-friendly, UDF-free) bloom build + membership probe.
    // graft_bloom_agg(xxhash64(k), estimatedItems) -> binary;
    // graft_might_contain(bloomBinary, xxhash64(k)) -> boolean.
    entry("graft_bloom_agg", classOf[BloomFilterAggregate], 2)(
      e => new BloomFilterAggregate(e(0), e(1))),
    // Probe is our codegen-safe twin of Spark's BloomFilterMightContain
    // (identical null semantics) — Spark's generates a bare
    // `(Long)<negative literal>` cast for constant-folded probe values,
    // which Janino rejects and the stage then runs interpreted. See
    // GraftBloomProbe.
    entry("graft_might_contain", classOf[GraftBloomProbe], 2)(e => GraftBloomProbe(e(0), e(1))))
}

/** Installs `GraftFunctions.entries`. `SparkUtil.session` applies it to
  * every session it builds; a session built elsewhere (spark-shell, a
  * notebook) gets the functions with
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.entries.foreach(e.injectFunction)
}
