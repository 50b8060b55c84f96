package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, Literal, QuaternaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Native codegen'd vector-distance kernels (r19 optimization).
  *
  * The ANN family's squared-L2 / dot folds were interpreted higher-order
  * functions — `aggregate(zip_with(slice(a,s,16), slice(b,s,16), (x,y) ->
  * (x-y)*(x-y)), 0.0, +)` — a lambda dispatch per element. PQ encoding
  * runs that fold |vectors| × |codewords| × |subspaces| times; k-means
  * assignment runs it |vectors| × |centroids| times — the exact shape the
  * r15/r18 lessons nativized for cosine/minhash/ngrams. These expressions
  * generate one primitive loop inside whole-stage codegen.
  *
  * SEMANTIC PARITY with the HOF forms is bit-exact and pinned in
  * VectorMathSpec:
  *  - doubles accumulate in array index order — the same IEEE
  *    sub/mul/add sequence as the sequential `aggregate` fold, so
  *    DuckDB-oracle parity carries over unchanged;
  *  - element types may be float or double per side (the HOF forms cast
  *    per element; trained centroids are f64 means over f32 vectors);
  *  - `zip_with` null-pads the shorter side, the padded product is NULL,
  *    and `acc + NULL` poisons the fold — hence: slices of UNEQUAL
  *    length give NULL, any NULL element in the zipped range gives NULL;
  *  - an empty zipped range gives the fold seed, 0.0;
  *  - NULL array / start / length inputs give NULL.
  */
object VectorMath {

  /** Squared L2 over the 1-based `[start, start+len)` slices of two
    * float/double arrays — `aggregate(zip_with(slice(a,start,len),
    * slice(b,start,len), (x,y)->(x-y)*(x-y)), 0.0, +)` as one generated
    * loop. */
  def slice_l2sq(a: Column, b: Column, start: Column, len: Column): Column =
    ExpressionUtils.column(SliceL2Sq(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b),
      ExpressionUtils.expression(start), ExpressionUtils.expression(len)))

  /** Full-array squared L2 — `aggregate(zip_with(a, b,
    * (x,y)->(x-y)*(x-y)), 0.0, +)`. */
  def l2sq(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.lit
    slice_l2sq(a, b, lit(1), lit(Int.MaxValue))
  }

  /** Sequential-fold dot product of two float/double arrays —
    * `aggregate(zip_with(a, b, (x,y) -> x*y), 0.0, +)` (the RHP
    * hyperplane projection's shape: elements promote to double, products
    * accumulate in index order). */
  def dot(a: Column, b: Column): Column =
    ExpressionUtils.column(Dot(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** float/double array element read as double — shared by both kernels.
    * Verified at analysis by ExpectsInputTypes, so the match is total. */
  private[graft] def getter(e: Expression): (ArrayData, Int) => Double =
    e.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType => (a, i) => a.getFloat(i).toDouble
      case _         => (a, i) => a.getDouble(i)
    }

  private[graft] def genGet(e: Expression, arr: String, idx: String): String =
    e.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType => s"(double) $arr.getFloat($idx)"
      case _         => s"$arr.getDouble($idx)"
    }

  private[graft] val FloatOrDoubleArray =
    TypeCollection(ArrayType(FloatType), ArrayType(DoubleType))

  // ---- per-row argmin/argmax over a tiny candidate set ---------------------
  // The IVF/PQ/k-means assignment kernels once cross-joined every vector
  // with a broadcast candidate frame and reduced with a struct-ordered
  // max_by/min_by, which plans as a SortAggregate over K rows per vector
  // plus a shuffle. The candidate sets are tiny by design (K centroids,
  // a PQ codebook), so the argmin runs per row instead: one generated
  // loop over the K candidates, keeping only the best one. The result
  // equals the grouped form whenever each input row is its own group.

  /** A K-row candidate frame — `id` INT/BIGINT, `vec` a float/double
    * array — as the `array<struct<id, vec>>` literal the per-row kernels
    * scan. The rows come from one driver-side collect, the data path a
    * broadcast exchange takes. */
  def candidates(rows: Seq[Row], idType: DataType, vecType: DataType): Column =
    ExpressionUtils.column(Literal.create(rows, ArrayType(StructType(Seq(
      StructField("id", idType), StructField("vec", vecType))))))

  /** Per row, the candidate nearest `vec` (array<float>) by cosine, as
    * struct(id, score): score = round(cos, 4) when `rounded`, else the
    * raw cosine. The cosine is [[CosineSimilarity]]'s with the candidate
    * on the left. Equal to `max_by(struct(id), struct(score, -id))` over
    * the cross join with the candidates; NULL when there are none. */
  def nearest_cosine(vec: Column, cands: Column, rounded: Boolean): Column =
    ExpressionUtils.column(NearestCosine(
      ExpressionUtils.expression(vec), ExpressionUtils.expression(cands), rounded))

  /** Per row, the `n` candidates nearest `vec` by cosine, best first, as
    * an array of struct(id, score) — [[nearest_cosine]]'s order (score
    * descending, NaN highest, NULL lowest, ties to the lowest id), so its
    * first element is [[nearest_cosine]]'s answer. Equal to
    * `row_number() <= n` over (score DESC, id ASC) per row of the cross
    * join with the candidates; all of them when there are fewer than `n`,
    * NULL when there are none. */
  def top_cosine(vec: Column, cands: Column, n: Int, rounded: Boolean): Column =
    ExpressionUtils.column(NearestCosine(
      ExpressionUtils.expression(vec), ExpressionUtils.expression(cands), rounded, Some(n)))

  /** Per row, for each of `nsub` consecutive `subDim`-wide slices of
    * `vec`, the candidate nearest by squared L2 over that slice — the
    * [[slice_l2sq]] of `vec` and the candidate, 1-based start
    * `s * subDim + 1`. Equal to `min_by(id, struct(dist, id))` per slice
    * over the cross join. Returns the `nsub` ids, or with `keepDist` the
    * `nsub` structs (id, score = dist); NULL when there are no
    * candidates. */
  def nearest_l2(vec: Column, cands: Column, nsub: Int, subDim: Int,
      keepDist: Boolean): Column =
    ExpressionUtils.column(NearestL2(
      ExpressionUtils.expression(vec), ExpressionUtils.expression(cands),
      nsub, subDim, keepDist))

  /** Does candidate (`sNull`/`s`, `id`) beat the best so far (`bNull`/
    * `b`, `bId`) under Spark's ordering of struct(score, id)? NULL sorts
    * first, NaN above every double, -0.0 equals 0.0; `dir` = 1 keeps the
    * highest score (max_by), -1 the lowest (min_by); ties go to the lowest
    * id. */
  def beats(dir: Int, sNull: Boolean, s: Double, id: Long,
      bNull: Boolean, b: Double, bId: Long): Boolean = {
    val c =
      if (sNull) { if (bNull) 0 else -1 }
      else if (bNull) 1
      else SQLOrderingUtil.compareDoubles(s, b)
    c * dir > 0 || (c == 0 && id < bId)
  }

  /** `round(x, 4)` as Spark's Round evaluates a double: HALF_UP on
    * `BigDecimal.valueOf`; NaN and infinities pass through. */
  def round4(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
}

/** A candidate literal unpacked once into primitive arrays for the
  * generated loops: `vecs(k)` is null for a NULL vector and reads 0.0 at
  * NULL elements (as an unsafe array's getFloat does); `nulls(k)` marks
  * those elements, and is null when there are none. */
final class VectorCandidates(val ids: Array[Long], val vecs: Array[Array[Double]],
    val nulls: Array[Array[Boolean]]) extends Serializable {
  def size: Int = ids.length
  def id(k: Int, idType: DataType): Any = if (idType == IntegerType) ids(k).toInt else ids(k)
}

object VectorCandidates {
  def apply(cands: Expression): VectorCandidates = {
    val st = cands.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    val longIds = st(0).dataType == LongType
    val floats = st(1).dataType.asInstanceOf[ArrayType].elementType == FloatType
    val rows = cands.eval().asInstanceOf[ArrayData]
    val n = rows.numElements()
    val ids = new Array[Long](n)
    val vecs = new Array[Array[Double]](n)
    val nulls = new Array[Array[Boolean]](n)
    for (k <- 0 until n) {
      require(!rows.isNullAt(k) && !rows.getStruct(k, 2).isNullAt(0),
        "vector candidates need a non-null id")
      val r = rows.getStruct(k, 2)
      ids(k) = if (longIds) r.getLong(0) else r.getInt(0).toLong
      if (!r.isNullAt(1)) {
        val a = r.getArray(1)
        val m = a.numElements()
        vecs(k) = Array.tabulate(m)(i =>
          if (a.isNullAt(i)) 0.0 else if (floats) a.getFloat(i).toDouble else a.getDouble(i))
        if ((0 until m).exists(a.isNullAt)) nulls(k) = Array.tabulate(m)(a.isNullAt)
      }
    }
    new VectorCandidates(ids, vecs, nulls)
  }
}

/** Shared frame of the per-row kernels: `left` is the row's vector,
  * `right` the foldable `array<struct<id, vec>>` candidate literal. */
abstract class NearestCandidate extends BinaryExpression {
  /** Element types accepted on both the row and the candidate vectors. */
  protected def elementTypes: Seq[DataType]

  override def nullable: Boolean = true

  protected def idType: DataType = right.dataType.asInstanceOf[ArrayType]
    .elementType.asInstanceOf[StructType](0).dataType

  @transient protected lazy val cands: VectorCandidates = VectorCandidates(right)

  override def checkInputDataTypes(): TypeCheckResult = {
    def vecOk(t: DataType) = t match {
      case ArrayType(e, _) => elementTypes.contains(e)
      case _ => false
    }
    val candOk = right.foldable && (right.dataType match {
      case ArrayType(StructType(Array(StructField(_, IntegerType | LongType, _, _),
          StructField(_, v, _, _))), _) => vecOk(v)
      case _ => false
    })
    if (vecOk(left.dataType) && candOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects an array of ${elementTypes.map(_.catalogString).mkString("/")}" +
        " and a foldable array<struct<id: int|bigint, vec: array>> of the same element" +
        s" types, got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  // the literal holds every candidate vector: print its size, not its rows
  override def toString: String = {
    val k = right.eval() match { case a: ArrayData => a.numElements(); case _ => 0 }
    s"$prettyName($left, $k candidates)"
  }

  /** Java names of the candidate ids, vectors and null masks, hoisted
    * into the generated class once. */
  protected def genCands(ctx: CodegenContext): (String, String, String) = {
    val ref = ctx.addReferenceObj("cands", cands, classOf[VectorCandidates].getName)
    (ctx.addMutableState("long[]", "candIds", v => s"$v = $ref.ids();"),
      ctx.addMutableState("double[][]", "candVecs", v => s"$v = $ref.vecs();"),
      ctx.addMutableState("boolean[][]", "candNulls", v => s"$v = $ref.nulls();"))
  }

  /** Java: the boxed id of candidate `k`, in the id column's type. */
  protected def genId(ids: String, k: String): String =
    if (idType == IntegerType) s"java.lang.Integer.valueOf((int) $ids[$k])"
    else s"java.lang.Long.valueOf($ids[$k])"

  /** Java: the (id, score) result row of candidate `k`. */
  protected def genBest(ids: String, k: String, sNull: String, s: String): String =
    s"new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(new Object[] {" +
      s"${genId(ids, k)}, $sNull ? null : (Object) java.lang.Double.valueOf($s)})"

  protected def bestStruct: StructType = StructType(Seq(
    StructField("id", idType, nullable = false), StructField("score", DoubleType)))
}

/** See [[VectorMath.slice_l2sq]]. `start` is 1-based and must be positive
  * (the only form the engine uses; `slice` would additionally accept
  * negative from-the-end starts — unsupported here, fails loudly). */
case class SliceL2Sq(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends QuaternaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(VectorMath.FloatOrDoubleArray, VectorMath.FloatOrDoubleArray,
      IntegerType, IntegerType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "slice_l2sq"

  override def nullSafeEval(av: Any, bv: Any, sv: Any, lv: Any): Any = {
    val s = sv.asInstanceOf[Int]
    val l = lv.asInstanceOf[Int]
    require(s > 0, s"slice_l2sq: start must be positive, got $s")
    require(l >= 0, s"slice_l2sq: length must be non-negative, got $l")
    val x = av.asInstanceOf[ArrayData]
    val y = bv.asInstanceOf[ArrayData]
    val getX = VectorMath.getter(first)
    val getY = VectorMath.getter(second)
    // slice lengths under slice() semantics (start past the end -> empty)
    val nx = math.max(0L, math.min(x.numElements().toLong - (s - 1), l.toLong)).toInt
    val ny = math.max(0L, math.min(y.numElements().toLong - (s - 1), l.toLong)).toInt
    if (nx != ny) return null // zip_with pads the short side with NULL
    var acc = 0.0
    var i = 0
    while (i < nx) {
      val j = s - 1 + i
      if (x.isNullAt(j) || y.isNullAt(j)) return null // NULL poisons the fold
      val d = getX(x, j) - getY(y, j)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, s, l) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |if ($s <= 0) throw new IllegalArgumentException(
         |  "slice_l2sq: start must be positive, got " + $s);
         |if ($l < 0) throw new IllegalArgumentException(
         |  "slice_l2sq: length must be non-negative, got " + $l);
         |int $nx = (int) java.lang.Math.max(0L,
         |  java.lang.Math.min((long) $a.numElements() - ($s - 1), (long) $l));
         |int $ny = (int) java.lang.Math.max(0L,
         |  java.lang.Math.min((long) $b.numElements() - ($s - 1), (long) $l));
         |if ($nx != $ny) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $nx; $i++) {
         |    int $j = $s - 1 + $i;
         |    if ($a.isNullAt($j) || $b.isNullAt($j)) { ${ev.isNull} = true; break; }
         |    double $d = ${VectorMath.genGet(first, a, j)}
         |      - ${VectorMath.genGet(second, b, j)};
         |    $acc += $d * $d;
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): SliceL2Sq =
    copy(first = newFirst, second = newSecond, third = newThird,
      fourth = newFourth)
}

/** See [[VectorMath.dot]]. */
case class Dot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(VectorMath.FloatOrDoubleArray, VectorMath.FloatOrDoubleArray)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(av: Any, bv: Any): Any = {
    val x = av.asInstanceOf[ArrayData]
    val y = bv.asInstanceOf[ArrayData]
    val getX = VectorMath.getter(left)
    val getY = VectorMath.getter(right)
    val nx = x.numElements()
    if (nx != y.numElements()) return null // zip_with NULL padding
    var acc = 0.0
    var i = 0
    while (i < nx) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += getX(x, i) * getY(y, i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ${VectorMath.genGet(left, a, i)} * ${VectorMath.genGet(right, b, i)};
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Dot =
    copy(left = newLeft, right = newRight)
}

/** See [[VectorMath.nearest_cosine]] (`top` = None) and
  * [[VectorMath.top_cosine]] (`top` = Some(n)). One loop over the
  * candidates keeps the n best so far in a list sorted best first: a
  * candidate enters after every kept one it does not beat, so it walks up
  * from the tail; n = 1 is a plain argmax. */
case class NearestCosine(left: Expression, right: Expression, rounded: Boolean,
    top: Option[Int] = None) extends NearestCandidate {

  require(top.forall(_ > 0), s"top_cosine needs n > 0, got ${top.getOrElse(0)}")

  private def n: Int = top.getOrElse(1)

  override protected def elementTypes: Seq[DataType] = Seq(FloatType)
  override def dataType: DataType =
    if (top.isEmpty) bestStruct else ArrayType(bestStruct, containsNull = false)
  override def prettyName: String = if (top.isEmpty) "nearest_cosine" else "top_cosine"

  override def eval(input: InternalRow): Any = {
    val c = cands
    if (c.size == 0) return null
    val y = left.eval(input).asInstanceOf[ArrayData]
    val bk = new Array[Int](n)
    val bNull = new Array[Boolean](n)
    val b = new Array[Double](n)
    var kept = 0
    var k = 0
    while (k < c.size) {
      val x = c.vecs(k)
      val sNull = y == null || x == null
      var s = 0.0
      if (!sNull) {
        val len = math.min(x.length, y.numElements())
        var dot = 0.0; var nx = 0.0; var ny = 0.0
        var i = 0
        while (i < len) {
          val xv = x(i)
          val yv = y.getFloat(i).toDouble
          dot += xv * yv; nx += xv * xv; ny += yv * yv
          i += 1
        }
        s = dot / (math.sqrt(nx) * math.sqrt(ny))
        if (rounded) s = VectorMath.round4(s)
      }
      var j = kept
      while (j > 0 && VectorMath.beats(1, sNull, s, c.ids(k), bNull(j - 1), b(j - 1),
          c.ids(bk(j - 1)))) j -= 1
      if (j < n) {
        var t = math.min(kept, n - 1)
        while (t > j) { bk(t) = bk(t - 1); bNull(t) = bNull(t - 1); b(t) = b(t - 1); t -= 1 }
        bk(j) = k; bNull(j) = sNull; b(j) = s
        if (kept < n) kept += 1
      }
      k += 1
    }
    def row(j: Int) = InternalRow(c.id(bk(j), idType), if (bNull(j)) null else b(j))
    if (top.isEmpty) row(0) else new GenericArrayData(Array.tabulate[Any](kept)(row))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val y = left.genCode(ctx)
    val (ids, vecs, _) = genCands(ctx)
    val vm = "org.apache.spark.sql.graft.VectorMath"
    // the kept list, allocated once per generated class
    val bk = ctx.addMutableState("int[]", "bestK", v => s"$v = new int[$n];")
    val bNull = ctx.addMutableState("boolean[]", "bestNull", v => s"$v = new boolean[$n];")
    val b = ctx.addMutableState("double[]", "bestScore", v => s"$v = new double[$n];")
    val Seq(kept, k, j, t, x, sNull, s, len, i, dot, nx, ny, xv, yv, out) =
      Seq("kept", "k", "j", "t", "x", "sNull", "s", "len", "i", "dot", "nx", "ny",
        "xv", "yv", "out").map(ctx.freshName)
    val result = top match {
      case None => s"${ev.value} = ${genBest(ids, s"$bk[0]", s"$bNull[0]", s"$b[0]")};"
      case Some(_) =>
        s"""Object[] $out = new Object[$kept];
           |for (int $j = 0; $j < $kept; $j++) {
           |  $out[$j] = ${genBest(ids, s"$bk[$j]", s"$bNull[$j]", s"$b[$j]")};
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         """.stripMargin
    }
    val javaType = if (top.isEmpty) "InternalRow" else "ArrayData"
    ev.copy(code = code"""
      |${y.code}
      |boolean ${ev.isNull} = $ids.length == 0;
      |$javaType ${ev.value} = null;
      |if (!${ev.isNull}) {
      |  int $kept = 0;
      |  for (int $k = 0; $k < $ids.length; $k++) {
      |    double[] $x = $vecs[$k];
      |    boolean $sNull = ${y.isNull} || $x == null;
      |    double $s = 0.0;
      |    if (!$sNull) {
      |      int $len = java.lang.Math.min($x.length, ${y.value}.numElements());
      |      double $dot = 0.0, $nx = 0.0, $ny = 0.0;
      |      for (int $i = 0; $i < $len; $i++) {
      |        double $xv = $x[$i];
      |        double $yv = (double) ${y.value}.getFloat($i);
      |        $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
      |      }
      |      $s = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
      |      ${if (rounded) s"$s = $vm.round4($s);" else ""}
      |    }
      |    int $j = $kept;
      |    while ($j > 0 && $vm.beats(1, $sNull, $s, $ids[$k], $bNull[$j - 1], $b[$j - 1],
      |        $ids[$bk[$j - 1]])) $j--;
      |    if ($j < $n) {
      |      for (int $t = java.lang.Math.min($kept, ${n - 1}); $t > $j; $t--) {
      |        $bk[$t] = $bk[$t - 1]; $bNull[$t] = $bNull[$t - 1]; $b[$t] = $b[$t - 1];
      |      }
      |      $bk[$j] = $k; $bNull[$j] = $sNull; $b[$j] = $s;
      |      if ($kept < $n) $kept++;
      |    }
      |  }
      |  $result
      |}
    """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCosine =
    copy(left = newLeft, right = newRight)
}

/** See [[VectorMath.nearest_l2]]. */
case class NearestL2(left: Expression, right: Expression, nsub: Int, subDim: Int,
    keepDist: Boolean) extends NearestCandidate {

  override protected def elementTypes: Seq[DataType] = Seq(FloatType, DoubleType)
  override def dataType: DataType =
    ArrayType(if (keepDist) bestStruct else idType, containsNull = false)
  override def prettyName: String = "nearest_l2"

  @transient private lazy val get = VectorMath.getter(left)

  override def eval(input: InternalRow): Any = {
    val c = cands
    if (c.size == 0) return null
    val y = left.eval(input).asInstanceOf[ArrayData]
    val out = new Array[Any](nsub)
    for (sub <- 0 until nsub) {
      val start = sub.toLong * subDim
      var bk = -1
      var bNull = true
      var b = 0.0
      var k = 0
      while (k < c.size) {
        val x = c.vecs(k)
        val xn = c.nulls(k)
        var dNull = y == null || x == null
        var d = 0.0
        if (!dNull) {
          val ny = math.max(0L, math.min(y.numElements() - start, subDim.toLong)).toInt
          val nx = math.max(0L, math.min(x.length - start, subDim.toLong)).toInt
          if (ny != nx) dNull = true // zip_with pads the short side with NULL
          var i = 0
          while (!dNull && i < ny) {
            val j = (start + i).toInt
            if (y.isNullAt(j) || (xn != null && xn(j))) dNull = true
            else { val t = get(y, j) - x(j); d += t * t }
            i += 1
          }
        }
        if (bk < 0 || VectorMath.beats(-1, dNull, d, c.ids(k), bNull, b, c.ids(bk))) {
          bk = k; bNull = dNull; b = d
        }
        k += 1
      }
      out(sub) =
        if (keepDist) InternalRow(c.id(bk, idType), if (bNull) null else b)
        else c.id(bk, idType)
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val y = left.genCode(ctx)
    val (ids, vecs, nulls) = genCands(ctx)
    val vm = "org.apache.spark.sql.graft.VectorMath"
    val Seq(out, sub, start, k, bk, bNull, b, x, xn, dNull, d, ny, nx, i, j, t) =
      Seq("out", "sub", "start", "k", "bk", "bNull", "b", "x", "xn", "dNull", "d",
        "ny", "nx", "i", "j", "t").map(ctx.freshName)
    val (outDecl, store, wrap) =
      if (keepDist) ("Object[]", genBest(ids, bk, bNull, b),
        s"new org.apache.spark.sql.catalyst.util.GenericArrayData($out)")
      else {
        val prim = if (idType == IntegerType) "int" else "long"
        (s"$prim[]", s"($prim) $ids[$bk]",
          s"org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out)")
      }
    val elem = outDecl.stripSuffix("[]")
    ev.copy(code = code"""
      |${y.code}
      |boolean ${ev.isNull} = $ids.length == 0;
      |ArrayData ${ev.value} = null;
      |if (!${ev.isNull}) {
      |  $outDecl $out = new $elem[$nsub];
      |  for (int $sub = 0; $sub < $nsub; $sub++) {
      |    long $start = (long) $sub * ${subDim}L;
      |    int $bk = -1;
      |    boolean $bNull = true;
      |    double $b = 0.0;
      |    for (int $k = 0; $k < $ids.length; $k++) {
      |      double[] $x = $vecs[$k];
      |      boolean[] $xn = $nulls[$k];
      |      boolean $dNull = ${y.isNull} || $x == null;
      |      double $d = 0.0;
      |      if (!$dNull) {
      |        int $ny = (int) java.lang.Math.max(0L,
      |          java.lang.Math.min((long) ${y.value}.numElements() - $start, ${subDim}L));
      |        int $nx = (int) java.lang.Math.max(0L,
      |          java.lang.Math.min((long) $x.length - $start, ${subDim}L));
      |        if ($ny != $nx) $dNull = true;
      |        for (int $i = 0; !$dNull && $i < $ny; $i++) {
      |          int $j = (int) ($start + $i);
      |          if (${y.value}.isNullAt($j) || ($xn != null && $xn[$j])) {
      |            $dNull = true;
      |          } else {
      |            double $t = ${VectorMath.genGet(left, y.value.toString, j)} - $x[$j];
      |            $d += $t * $t;
      |          }
      |        }
      |      }
      |      if ($bk < 0 || $vm.beats(-1, $dNull, $d, $ids[$k], $bNull, $b, $ids[$bk])) {
      |        $bk = $k; $bNull = $dNull; $b = $d;
      |      }
      |    }
      |    $out[$sub] = $store;
      |  }
      |  ${ev.value} = $wrap;
      |}
    """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestL2 =
    copy(left = newLeft, right = newRight)
}
