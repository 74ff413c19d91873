package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Dot product of two float-array columns, accumulated in double,
  * as a native codegen'd Catalyst expression.
  *
  * The built-in route (`aggregate(zip_with(a, b, _*_), 0d, _+_)`)
  * is a higher-order function: interpreted per element, boxed, no
  * whole-stage codegen — ~100× slower on 64-dim embeddings and the
  * dominant cost of cosine all-pairs / top-k at scale. This
  * expression compiles to a tight primitive loop.
  *
  * Accumulation order is left-to-right, identical to the HOF form
  * and to the DuckDB oracle's list arithmetic, so results are
  * bit-reproducible across both.
  *
  * Null elements are treated as 0 (testdata embeddings contain no
  * nulls); length mismatch uses the shorter length.
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"FloatVecDot requires array<float> inputs, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      }
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** All above-threshold cosine pairs between two BLOCKS of vectors in
  * one call — the inner kernel of the blocked exact all-pairs scan.
  *
  * Inputs are two array<struct<id:long, v:array<float>, nrm:double>>
  * columns (a block = vectors grouped and sorted by id) plus a
  * boolean `sameBlock`. Emits array<struct<id_a, id_b, cos>> with
  * every cross pair (or the strict upper triangle when sameBlock, so
  * each unordered pair appears exactly once across block pairs).
  *
  * Why a block kernel: the row-per-pair formulation materializes both
  * vectors through the join for every one of the n²/2 pairs — memory
  * traffic n²·dim. Blocking moves each block across the join once per
  * partner block (traffic n²·dim/B) and runs the B² dots as tight
  * primitive-array loops with the vectors unpacked ONCE per block
  * pair, not once per pair. Same dots, ~B× less data movement.
  *
  * Accumulation is left-to-right in double, identical to
  * [[FloatVecDot]] and the DuckDB oracle — results are bit-equal to
  * the row-per-pair plan.
  */
case class BlockCosPairs(
    first: Expression, second: Expression, third: Expression,
    threshold: Double)
    extends TernaryExpression with CodegenFallback {

  private def blockOk(dt: DataType): Boolean = dt match {
    case ArrayType(StructType(Array(
      StructField(_, LongType, _, _),
      StructField(_, ArrayType(FloatType, _), _, _),
      StructField(_, DoubleType, _, _))), _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (blockOk(first.dataType) && blockOk(second.dataType) &&
      third.dataType == BooleanType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "BlockCosPairs requires (array<struct<long,array<float>,double>> ×2, boolean), got " +
        s"${first.dataType.simpleString} / ${second.dataType.simpleString} / ${third.dataType.simpleString}")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id_a", LongType, nullable = false),
    StructField("id_b", LongType, nullable = false),
    StructField("cos", DoubleType, nullable = false))), containsNull = false)

  /** Unpack a block to primitive arrays once (ids, vectors, norms). */
  private def unpack(block: ArrayData): (Array[Long], Array[Array[Float]], Array[Double]) = {
    val n = block.numElements()
    val ids = new Array[Long](n)
    val vecs = new Array[Array[Float]](n)
    val norms = new Array[Double](n)
    var i = 0
    while (i < n) {
      val row = block.getStruct(i, 3)
      ids(i) = row.getLong(0)
      vecs(i) = row.getArray(1).toFloatArray()
      norms(i) = row.getDouble(2)
      i += 1
    }
    (ids, vecs, norms)
  }

  override def nullSafeEval(a: Any, b: Any, same: Any): Any = {
    val (idsA, vecsA, normsA) = unpack(a.asInstanceOf[ArrayData])
    val (idsB, vecsB, normsB) = unpack(b.asInstanceOf[ArrayData])
    val upperOnly = same.asInstanceOf[Boolean]
    val out = new scala.collection.mutable.ArrayBuffer[AnyRef]()
    var i = 0
    while (i < idsA.length) {
      val va = vecsA(i)
      val na = normsA(i)
      var j = if (upperOnly) i + 1 else 0
      while (j < idsB.length) {
        val vb = vecsB(j)
        val n = math.min(va.length, vb.length)
        var s = 0.0
        var t = 0
        while (t < n) { s += va(t).toDouble * vb(t).toDouble; t += 1 }
        val cos = s / (na * normsB(j))
        if (cos >= threshold) {
          out += new GenericInternalRow(Array[Any](idsA(i), idsB(j), cos))
        }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** Per-query local top-k between a corpus block and a query block —
  * the tile kernel of blocked exact top-k search.
  *
  * Inputs are two array<struct<id:long, v:array<float>, nrm:double>>
  * blocks. For each query in the query block, computes cosine against
  * every corpus vector in the corpus block (vectors unpacked once per
  * tile, tight primitive loops — same data-movement argument as
  * [[BlockCosPairs]]) and keeps the block-local top-k by
  * (cos desc, neighbor_id asc), excluding self. Emits
  * array<struct<query_id, neighbor_id, cos>> of ≤ |queries|·k
  * entries; a global top-k over the union of block-local top-ks is
  * exact, so the downstream window ranks nBlocks·k candidate rows per
  * query instead of the whole corpus.
  */
case class BlockTopK(left: Expression, right: Expression, k: Int)
    extends BinaryExpression with CodegenFallback {

  private def blockOk(dt: DataType): Boolean = dt match {
    case ArrayType(StructType(Array(
      StructField(_, LongType, _, _),
      StructField(_, ArrayType(FloatType, _), _, _),
      StructField(_, DoubleType, _, _))), _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (blockOk(left.dataType) && blockOk(right.dataType) && k >= 1)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "BlockTopK requires (array<struct<long,array<float>,double>> ×2, k>=1), got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString} / k=$k")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("neighbor_id", LongType, nullable = false),
    StructField("cos", DoubleType, nullable = false))), containsNull = false)

  private def unpack(block: ArrayData): (Array[Long], Array[Array[Float]], Array[Double]) = {
    val n = block.numElements()
    val ids = new Array[Long](n)
    val vecs = new Array[Array[Float]](n)
    val norms = new Array[Double](n)
    var i = 0
    while (i < n) {
      val row = block.getStruct(i, 3)
      ids(i) = row.getLong(0)
      vecs(i) = row.getArray(1).toFloatArray()
      norms(i) = row.getDouble(2)
      i += 1
    }
    (ids, vecs, norms)
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (cIds, cVecs, cNorms) = unpack(a.asInstanceOf[ArrayData])
    val (qIds, qVecs, qNorms) = unpack(b.asInstanceOf[ArrayData])
    val out = new scala.collection.mutable.ArrayBuffer[AnyRef](qIds.length * k)
    // per-query selection arrays (k is small): ordered best-first by
    // (cos desc, id asc) — the same total order the global rank uses,
    // so block-local pruning never discards a global top-k row
    val topCos = new Array[Double](k)
    val topId = new Array[Long](k)
    var qi = 0
    while (qi < qIds.length) {
      val qv = qVecs(qi)
      val qn = qNorms(qi)
      var filled = 0
      var ci = 0
      while (ci < cIds.length) {
        if (cIds(ci) != qIds(qi)) {
          val cv = cVecs(ci)
          val n = math.min(qv.length, cv.length)
          var s = 0.0
          var t = 0
          while (t < n) { s += qv(t).toDouble * cv(t).toDouble; t += 1 }
          val cos = s / (qn * cNorms(ci))
          val id = cIds(ci)
          if (filled < k || cos > topCos(filled - 1) ||
            (cos == topCos(filled - 1) && id < topId(filled - 1))) {
            // insertion position (linear; k is small)
            var p = if (filled < k) filled else k - 1
            while (p > 0 && (cos > topCos(p - 1) ||
              (cos == topCos(p - 1) && id < topId(p - 1)))) {
              topCos(p) = topCos(p - 1)
              topId(p) = topId(p - 1)
              p -= 1
            }
            topCos(p) = cos
            topId(p) = id
            if (filled < k) filled += 1
          }
        }
        ci += 1
      }
      var r = 0
      while (r < filled) {
        out += new GenericInternalRow(Array[Any](qIds(qi), topId(r), topCos(r)))
        r += 1
      }
      qi += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** Bounded top-k-by-(cos desc, id asc) AGGREGATE — the final ranking
  * stage of the ANN paths as a partial-aggregatable hash aggregate
  * instead of a per-query `row_number` window: each map task keeps at
  * most k candidates per query (the same insertion kernel as
  * [[BlockTopK]]), `merge` combines two k-selections, and the shuffle
  * carries at most k rows per (query, map partition) — bounded
  * regardless of corpus size. A window would funnel EVERY scored
  * candidate of a query into one task: at 100 TB an LSH bucket or an
  * IVF probe set is a corpus fraction, i.e. a multi-TB sort in a
  * single partition. The selection order matches the window it
  * replaces ((cos desc, neighbor_id asc)), so results are identical.
  *
  * Emits array<struct<neighbor_id, cos>> ordered best-first; rank is
  * recovered downstream with posexplode (pos + 1).
  */
case class TopKByCos(
    idChild: Expression,
    cosChild: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKByCos.State]
  with BinaryLike[Expression] {

  override def left: Expression = idChild
  override def right: Expression = cosChild

  override def checkInputDataTypes(): TypeCheckResult =
    if (idChild.dataType == LongType && cosChild.dataType == DoubleType &&
      k >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "TopKByCos requires (bigint id, double cos, k >= 1), got " +
        s"${idChild.dataType.simpleString} / ${cosChild.dataType.simpleString} / k=$k")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("neighbor_id", LongType, nullable = false),
    StructField("cos", DoubleType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): TopKByCos.State =
    new TopKByCos.State(k)

  override def update(b: TopKByCos.State, input: InternalRow): TopKByCos.State = {
    val idv = idChild.eval(input)
    val cv = cosChild.eval(input)
    if (idv != null && cv != null)
      b.insert(idv.asInstanceOf[Long], cv.asInstanceOf[Double])
    b
  }

  override def merge(b: TopKByCos.State, o: TopKByCos.State): TopKByCos.State = {
    var i = 0
    while (i < o.filled) { b.insert(o.ids(i), o.cos(i)); i += 1 }
    b
  }

  override def eval(b: TopKByCos.State): Any = {
    val out = new Array[Any](b.filled)
    var i = 0
    while (i < b.filled) {
      out(i) = new GenericInternalRow(Array[Any](b.ids(i), b.cos(i)))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(b: TopKByCos.State): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(4 + b.filled * 16)
    buf.putInt(b.filled)
    var i = 0
    while (i < b.filled) { buf.putLong(b.ids(i)); buf.putDouble(b.cos(i)); i += 1 }
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKByCos.State = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
    val n = buf.getInt
    val s = new TopKByCos.State(k)
    var i = 0
    while (i < n) { val id = buf.getLong; val c = buf.getDouble; s.insert(id, c); i += 1 }
    s
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByCos =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByCos =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): TopKByCos =
    copy(idChild = l, cosChild = r)
}

object TopKByCos {
  /** Best-first selection of size <= k by (cos desc, id asc) — two
    * primitive arrays, insertion sort (k is small). */
  final class State(k: Int) {
    val ids = new Array[Long](k)
    val cos = new Array[Double](k)
    var filled = 0
    def insert(id: Long, c: Double): Unit = {
      if (filled < k || c > cos(filled - 1) ||
        (c == cos(filled - 1) && id < ids(filled - 1))) {
        var p = if (filled < k) filled else k - 1
        while (p > 0 && (c > cos(p - 1) ||
          (c == cos(p - 1) && id < ids(p - 1)))) {
          cos(p) = cos(p - 1); ids(p) = ids(p - 1); p -= 1
        }
        cos(p) = c; ids(p) = id
        if (filled < k) filled += 1
      }
    }
  }
}

/** Asymmetric-distance (ADC) score of a product-quantized vector:
  * codes = one centroid index per subspace (array<int>), lut = the
  * query's per-subspace distance table (array<array<double>>,
  * lut[j][c] = squared L2 between the query's j-th subvector and
  * subspace j's centroid c). The score is Σ_j lut[j][codes[j]] — m
  * primitive lookups per scored pair, which is the whole point of
  * PQ: the corpus side is m bytes of codes, never the vector. A
  * HOF formulation (aggregate over zip_with with element_at) is
  * interpreted per pair and dominated the ADC scan; this compiles
  * to a tight loop. Null codes/lut rows yield null (unreachable via
  * [[graft.operators.Similarity]]'s encode, which never emits
  * nulls); an out-of-range code throws — a corrupt code is a bug,
  * not a row to skip. */
case class PqAdc(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"PqAdc requires (array<int>, array<array<double>>), got " +
          s"${l.simpleString} / ${r.simpleString}")
    }
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    SketchKernels.pqAdc(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (c, l) => s"graft.functions.SketchKernels.pqAdc($c, $l)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** A product-quantization projection of a float vector against a
  * literal codebook: `cents` holds the kEff full-dim centroids whose
  * j-th dsub-slice is subspace j's centroid. One kernel loop per row
  * ([[SketchKernels]]) in place of m·kEff scalar expressions, which
  * overflowed the generated method's size limit and fell back to
  * interpreted execution. ||c_j||² is summed left to right in double,
  * like [[FloatVecDot]]. Never null. */
sealed abstract class PqBookExpression extends UnaryExpression {
  def cents: Array[Array[Float]]
  def m: Int
  def dsub: Int
  protected def kernel: String
  protected def run(v: ArrayData): ArrayData

  @transient protected lazy val c2: Array[Array[Double]] = cents.map { c =>
    Array.tabulate(m) { j =>
      var acc = 0.0
      var i = j * dsub
      while (i < math.min(c.length, (j + 1) * dsub)) {
        acc += c(i).toDouble * c(i).toDouble
        i += 1
      }
      acc
    }
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${other.simpleString}")
  }
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    run(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = child.genCode(ctx)
    val centsRef = ctx.addReferenceObj("pqCents", cents, "float[][]")
    val c2Ref = ctx.addReferenceObj("pqC2", c2, "double[][]")
    ev.copy(code = code"""
      |${v.code}
      |ArrayData ${ev.value} = graft.functions.SketchKernels.$kernel(
      |  ${v.isNull} ? null : ${v.value}, $centsRef, $c2Ref, $m, $dsub);
      """.stripMargin, isNull = FalseLiteral)
  }
}

/** PQ ENCODE: one code per subspace, the centroid nearest the
  * vector's subvector in squared L2, ties to the smaller code. */
case class PqEncode(child: Expression, cents: Array[Array[Float]],
    m: Int, dsub: Int) extends PqBookExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def kernel: String = "pqEncode"
  override protected def run(v: ArrayData): ArrayData =
    SketchKernels.pqEncode(v, cents, c2, m, dsub)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The per-query ADC table [[PqAdc]] reads: lut[j][c] = the exact
  * squared L2 between the query's j-th subvector and subspace j's
  * centroid c. */
case class PqLut(child: Expression, cents: Array[Array[Float]],
    m: Int, dsub: Int) extends PqBookExpression {
  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = true), containsNull = false)
  override protected def kernel: String = "pqLut"
  override protected def run(v: ArrayData): ArrayData =
    SketchKernels.pqLut(v, cents, c2, m, dsub)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorFunctions {
  /** Column API for [[FloatVecDot]]. */
  def vecDot(a: Column, b: Column): Column = Bridge.column(
    FloatVecDot(Bridge.expression(a), Bridge.expression(b)))

  /** Column API for [[PqAdc]]. */
  def pqAdc(codes: Column, lut: Column): Column = Bridge.column(
    PqAdc(Bridge.expression(codes), Bridge.expression(lut)))

  /** Column API for [[PqEncode]]. */
  def pqEncode(vec: Column, cents: Array[Array[Float]], m: Int,
      dsub: Int): Column =
    Bridge.column(PqEncode(Bridge.expression(vec), cents, m, dsub))

  /** Column API for [[PqLut]]. */
  def pqLut(vec: Column, cents: Array[Array[Float]], m: Int,
      dsub: Int): Column =
    Bridge.column(PqLut(Bridge.expression(vec), cents, m, dsub))

  /** L2 norm of a float-array column (codegen'd). */
  def vecNorm(a: Column): Column = {
    import org.apache.spark.sql.functions.sqrt
    sqrt(vecDot(a, a))
  }

  /** Column API for [[BlockCosPairs]]. */
  def blockCosPairs(blockA: Column, blockB: Column, sameBlock: Column,
      threshold: Double): Column = Bridge.column(
    BlockCosPairs(Bridge.expression(blockA), Bridge.expression(blockB),
      Bridge.expression(sameBlock), threshold))

  /** Column API for [[BlockTopK]]. */
  def blockTopK(corpusBlock: Column, queryBlock: Column, k: Int): Column =
    Bridge.column(BlockTopK(Bridge.expression(corpusBlock),
      Bridge.expression(queryBlock), k))

  /** Column API for [[TopKByCos]] (an aggregate — use inside agg()). */
  def topKByCos(neighborId: Column, cos: Column, k: Int): Column =
    Bridge.column(TopKByCos(Bridge.expression(neighborId),
      Bridge.expression(cos), k).toAggregateExpression())
}
