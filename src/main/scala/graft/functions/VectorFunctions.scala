package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Cosine similarity between two float-array embedding columns as a
  * native Catalyst expression with whole-stage codegen.
  *
  * The reference computes this per pair on jblas DoubleMatrix inside
  * an RDD closure (`OfflineRecommender.scala:102,123-125`); a Scala
  * UDF port would box every array on every call. A codegen'd
  * `Expression` reads the unsafe array data in place — on the O(n²)
  * similarity join (and its LSH-bucketed variant) this is the hot
  * inner loop, so it must stay inside WholeStageCodegen.
  *
  * All accumulation is in double (floats widened element-wise),
  * matching a DuckDB `list_cosine_similarity(CAST(.. AS DOUBLE[]))`
  * oracle. Zero-norm inputs yield 0.0; mismatched lengths use the
  * common prefix.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects array<float> inputs, got " +
        s"${left.dataType.sql} / ${right.dataType.sql}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"${classOf[CosineSimilarity].getName}.cosine($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_sim"
}

object CosineSimilarity {

  /** The cosine both the expression and driver-side callers (q22's
    * small-catalog path) compute, so the two agree bit for bit.
    */
  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** Dot product of two float arrays, double accumulation — same codegen
  * rationale as [[CosineSimilarity]]. Used by the ANN scorers where
  * vectors are pre-normalized (dot == cosine, one pass instead of
  * three norms).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product expects array<float> inputs, got " +
        s"${left.dataType.sql} / ${right.dataType.sql}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
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

  override def prettyName: String = "dot_product"
}

/** Pack an array<float> into a flat BinaryType blob (4 bytes/element,
  * JVM-native int-bits order) — the prep side of the packed cosine
  * kernel below. An UnsafeArrayData float array carries an 8-byte
  * numElements header plus a null bitset word that every join-output
  * row copy drags along; the packed form is the 4·n payload bytes
  * only, and [[CosineSimilarityPacked]] reads floats straight out of
  * the byte[] with no ArrayData indirection. INTRA-QUERY
  * representation only (native endianness) — never persist it.
  */
case class PackFloats(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pack_floats expects array<float>, got ${t.sql}")
  }

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val out = new Array[Byte](n * 4)
    var i = 0
    while (i < n) {
      org.apache.spark.unsafe.Platform.putInt(out,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + (i.toLong << 2),
        java.lang.Float.floatToRawIntBits(x.getFloat(i)))
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val P = "org.apache.spark.unsafe.Platform"
      s"""
         |int $n = $a.numElements();
         |byte[] $out = new byte[$n * 4];
         |for (int $i = 0; $i < $n; $i++) {
         |  $P.putInt($out, $P.BYTE_ARRAY_OFFSET + (((long) $i) << 2),
         |    java.lang.Float.floatToRawIntBits($a.getFloat($i)));
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)

  override def prettyName: String = "pack_floats"
}

/** Cosine similarity over two [[PackFloats]]-packed binary columns —
  * byte-for-byte the same arithmetic as [[CosineSimilarity]] (floats
  * widened to double element-wise, same accumulation order, same
  * zero-norm and common-prefix semantics), so the two spellings are
  * bit-identical on the same inputs; only the storage each pair row
  * drags through the join differs. Built to price the exact-kNN
  * kernel's residual per-pair row-pipeline tax (SWEEP_r12 measured
  * ~0.8 µs/pair around the codegen'd cosine); the packed-vs-array
  * measurement and the keep call are in [[graft.search.Ann.exactKnnPairs]].
  */
case class CosineSimilarityPacked(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim_packed expects binary inputs, got " +
        s"${left.dataType.sql} / ${right.dataType.sql}")

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Array[Byte]]
    val y = b.asInstanceOf[Array[Byte]]
    val n = math.min(x.length, y.length) >> 2
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val off = org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET +
        (i.toLong << 2)
      val xi = java.lang.Float.intBitsToFloat(
        org.apache.spark.unsafe.Platform.getInt(x, off)).toDouble
      val yi = java.lang.Float.intBitsToFloat(
        org.apache.spark.unsafe.Platform.getInt(y, off)).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val off = ctx.freshName("off")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val P = "org.apache.spark.unsafe.Platform"
      s"""
         |int $n = java.lang.Math.min($a.length, $b.length) >> 2;
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $off = $P.BYTE_ARRAY_OFFSET + (((long) $i) << 2);
         |  double $xi = (double) java.lang.Float.intBitsToFloat($P.getInt($a, $off));
         |  double $yi = (double) java.lang.Float.intBitsToFloat($P.getInt($b, $off));
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0 :
         |  $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_sim_packed"
}

object VectorFunctions {
  /** Column-level API (usable from any DataFrame program). */
  def cosine_sim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarity(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def dot_product(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def pack_floats(a: Column): Column =
    ColumnBridge.column(PackFloats(ColumnBridge.expression(a)))

  def cosine_sim_packed(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarityPacked(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
