package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/**
 * Coarse-quantizer assignment against a FROZEN centroid table — the
 * kernel of incremental IVF maintenance ([[graft.operators.IvfIndex]]
 * `addBatch`): each vector goes to the cell whose centroid minimizes
 * squared Euclidean distance, ties to the LOWEST cell id (the same
 * strict-`<` convention as Spark ML's k-means `findClosest`, so
 * assignment here reproduces `KMeansModel.transform` — spec'd equal on
 * the fixture).
 *
 * Map-side only: the flattened centroid array (nlist × dim floats,
 * e.g. 64 KB at nlist=256/d=64) rides the expression via
 * `ctx.addReferenceObj` into generated code — appending a batch to a
 * billion-row index shuffles nothing and scans only the batch.
 */
case class NearestCell(child: Expression, centroids: Array[Float], dim: Int)
    extends UnaryExpression {

  require(dim > 0 && centroids.length % dim == 0,
    s"flattened centroids (${centroids.length}) must be a multiple of dim ($dim)")

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "nearest_cell"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_cell requires array<float>, got ${other.catalogString}")
  }

  override def nullSafeEval(v: Any): Any =
    NearestCell.assign(v.asInstanceOf[ArrayData], centroids, dim)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cents = ctx.addReferenceObj("ivfCentroids", centroids, "float[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.NearestCell.assign($c, $cents, $dim);")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The `nprobe` nearest cells per vector — [[NearestCell]]'s
  * multi-assignment sibling (the SemDeDup boundary-recall knob and the
  * batch analog of IVF search's nprobe): cells ordered by ascending
  * squared Euclidean distance, ties to the lower cell id, so
  * `nprobe = 1` returns exactly `[NearestCell.assign(v)]`. Same
  * map-side shape — the centroid table rides the generated code. */
case class NearestCells(child: Expression, centroids: Array[Float], dim: Int,
    nprobe: Int) extends UnaryExpression {

  require(dim > 0 && centroids.length % dim == 0,
    s"flattened centroids (${centroids.length}) must be a multiple of dim ($dim)")
  require(nprobe >= 1 && nprobe <= centroids.length / dim,
    s"nprobe must be in [1, nlist = ${centroids.length / dim}], got $nprobe")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "nearest_cells"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_cells requires array<float>, got ${other.catalogString}")
  }

  override def nullSafeEval(v: Any): Any =
    NearestCell.assignTop(v.asInstanceOf[ArrayData], centroids, dim, nprobe)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cents = ctx.addReferenceObj("ivfCentroids", centroids, "float[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.NearestCell.assignTop($c, $cents, $dim, $nprobe);")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The IVF PROBE rule per query row — the `nprobe` cells whose
  * centroids score the highest COSINE against the query, best first:
  * Spark's `desc` total order on the score (NaN greatest, -0.0 equal to
  * +0.0), ties to the lower cell id. Cosine is
  * `vectors.cosine_similarity(centroid, query)` exactly (double
  * accumulation over the common prefix, zero norm scores 0.0), and a
  * NULL query probes no cells, as NULL vectors are excluded from the
  * index itself (`IvfIndex.build`). A table of
  * queries probes with no join, no shuffle and no aggregate: the
  * centroid table rides the generated code, as in [[NearestCell]].
  * Single-query `search` calls the same kernel driver-side
  * ([[NearestCell.probeTop]]), so every probe of the ANN family is this
  * one rule. */
case class ProbeCells(child: Expression, centroids: Array[Float], dim: Int,
    nprobe: Int) extends UnaryExpression {

  require(dim > 0 && centroids.length % dim == 0,
    s"flattened centroids (${centroids.length}) must be a multiple of dim ($dim)")
  require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "probe_cells"

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"probe_cells requires array<float> or array<double>, got ${other.catalogString}")
  }

  override def eval(input: InternalRow): Any = new GenericArrayData(
    NearestCell.probeTop(child.eval(input).asInstanceOf[ArrayData], isFloat,
      centroids, dim, nprobe))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val q = child.genCode(ctx)
    val cents = ctx.addReferenceObj("ivfCentroids", centroids, "float[]")
    ev.copy(code = code"""
      ${q.code}
      ArrayData ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        graft.expressions.NearestCell.probeTop(${q.isNull} ? null : ${q.value},
          $isFloat, $cents, $dim, $nprobe));""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `dot(centroid(cell), query)` — the per-(query, cell) `q·centroid`
  * addend of residual-coded ADC, evaluated against the resident
  * centroid table: `vectors.dot_product(centroid, query)` exactly
  * (double accumulation over the common prefix). NULL query or cell
  * yields NULL. */
case class CellDot(query: Expression, cell: Expression, centroids: Array[Float],
    dim: Int) extends BinaryExpression {

  require(dim > 0 && centroids.length % dim == 0,
    s"flattened centroids (${centroids.length}) must be a multiple of dim ($dim)")

  override def left: Expression = query
  override def right: Expression = cell
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cell_dot"

  private def isFloat: Boolean =
    query.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = (query.dataType, cell.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
    case (q, c) => TypeCheckResult.TypeCheckFailure(
      s"cell_dot requires (array<float|double>, int), got (${q.catalogString}, ${c.catalogString})")
  }

  override def nullSafeEval(q: Any, c: Any): Any =
    NearestCell.cellDot(q.asInstanceOf[ArrayData], isFloat, c.asInstanceOf[Int], centroids, dim)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cents = ctx.addReferenceObj("ivfCentroids", centroids, "float[]")
    nullSafeCodeGen(ctx, ev, (q, c) =>
      s"${ev.value} = graft.expressions.NearestCell.cellDot($q, $isFloat, $c, $cents, $dim);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(query = l, cell = r)
}

object NearestCell {

  /** argmin_c ‖v − centroid_c‖² in double accumulation; strict `<` ⇒
    * the lowest cell id wins exact ties. Callable from generated Java. */
  def assign(v: ArrayData, centroids: Array[Float], dim: Int): Int = {
    val nlist = centroids.length / dim
    val n = math.min(v.numElements(), dim)
    var best = Double.PositiveInfinity
    var bestCell = 0
    var c = 0
    while (c < nlist) {
      val off = c * dim
      var s = 0.0
      var j = 0
      while (j < n) {
        val d = v.getFloat(j).toDouble - centroids(off + j)
        s += d * d
        j += 1
      }
      // a short vector scores remaining centroid dims as distance-to-0,
      // mirroring a zero-padded vector (fixed-dim corpora never hit it)
      while (j < dim) { val d = centroids(off + j).toDouble; s += d * d; j += 1 }
      if (s < best) { best = s; bestCell = c }
      c += 1
    }
    bestCell
  }

  /** The `nprobe` nearest cells, ascending distance, ties to the lower
    * cell id — [[NearestCells]]' kernel, callable from generated Java.
    * Insertion into two nprobe-sized scratch arrays: O(nlist · nprobe)
    * with nprobe small (1-4), no allocation beyond the result. Strict
    * `<` on (distance, then arrival order) keeps `nprobe = 1`
    * bit-identical to [[assign]]. */
  def assignTop(v: ArrayData, centroids: Array[Float], dim: Int,
      nprobe: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val nlist = centroids.length / dim
    val n = math.min(v.numElements(), dim)
    val k = math.min(nprobe, nlist)
    val dists = new Array[Double](k)
    val cells = new Array[Int](k)
    java.util.Arrays.fill(dists, Double.PositiveInfinity)
    var c = 0
    while (c < nlist) {
      val off = c * dim
      var s = 0.0
      var j = 0
      while (j < n) {
        val d = v.getFloat(j).toDouble - centroids(off + j)
        s += d * d
        j += 1
      }
      while (j < dim) { val d = centroids(off + j).toDouble; s += d * d; j += 1 }
      // strict < against the current worst: an equal-distance later
      // cell never displaces an earlier one (the lowest-id tie rule,
      // since cells scan in ascending id)
      if (s < dists(k - 1)) {
        var p = k - 1
        while (p > 0 && s < dists(p - 1)) {
          dists(p) = dists(p - 1); cells(p) = cells(p - 1); p -= 1
        }
        dists(p) = s; cells(p) = c
      }
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(cells)
  }

  /** [[ProbeCells]]' kernel, callable from generated Java: the
    * `min(nprobe, nlist)` cells of highest cosine against `q` (read as
    * float or double; NULL probes nothing), best first, in
    * Spark's `desc` total order with ties to the lower cell. Cells scan
    * in ascending id and an entry moves ahead only of strictly worse
    * ones, so equal scores keep ascending cell order. */
  def probeTop(q: ArrayData, isFloat: Boolean, centroids: Array[Float], dim: Int,
      nprobe: Int): Array[Int] = {
    if (q == null) return Array.emptyIntArray
    val nlist = centroids.length / dim
    val n = math.min(q.numElements(), dim)
    val k = math.max(0, math.min(nprobe, nlist))
    val scores = new Array[Double](k)
    val cells = new Array[Int](k)
    var filled = 0
    var c = 0
    while (c < nlist) {
      val off = c * dim
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var j = 0
      while (j < n) {
        val x = centroids(off + j).toDouble
        val y = if (isFloat) q.getFloat(j).toDouble else q.getDouble(j)
        dot += x * y; na += x * x; nb += y * y
        j += 1
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      val s = if (denom == 0.0) 0.0 else dot / denom
      if (filled < k || (k > 0 && descBefore(s, scores(k - 1)))) {
        var p = if (filled < k) { filled += 1; filled - 1 } else k - 1
        while (p > 0 && descBefore(s, scores(p - 1))) {
          scores(p) = scores(p - 1); cells(p) = cells(p - 1); p -= 1
        }
        scores(p) = s; cells(p) = c
      }
      c += 1
    }
    cells
  }

  /** `a` strictly before `b` in Spark's `desc` order: NaN greatest,
    * -0.0 equal to +0.0 (the [[graft.functions.TopKScored]] order). */
  @inline private def descBefore(a: Double, b: Double): Boolean =
    a != b && java.lang.Double.compare(a, b) > 0

  /** [[CellDot]]'s kernel: `Σ centroid(cell)ᵢ · qᵢ` over the common
    * prefix, double accumulation, centroid element first — the
    * `vectors.dot_product(centroid, query)` arithmetic. */
  def cellDot(q: ArrayData, isFloat: Boolean, cell: Int, centroids: Array[Float],
      dim: Int): Double = {
    val off = cell * dim
    require(cell >= 0 && off < centroids.length,
      s"cell $cell is outside the ${centroids.length / dim}-cell centroid table")
    val n = math.min(q.numElements(), dim)
    var s = 0.0
    var j = 0
    while (j < n) {
      s += centroids(off + j).toDouble * (if (isFloat) q.getFloat(j).toDouble else q.getDouble(j))
      j += 1
    }
    s
  }

  /** Row-major flat copy of a centroid table — the form the map-side
    * kernels carry into generated code. Refuses an empty or ragged
    * table. */
  def flatten(centroidVectors: Array[Array[Float]]): (Array[Float], Int) = {
    require(centroidVectors.nonEmpty, "centroid table is empty")
    val dim = centroidVectors.head.length
    require(centroidVectors.forall(_.length == dim),
      "ragged centroid table: all centroids must share one dimension")
    val flat = new Array[Float](centroidVectors.length * dim)
    var c = 0
    while (c < centroidVectors.length) {
      System.arraycopy(centroidVectors(c), 0, flat, c * dim, dim)
      c += 1
    }
    (flat, dim)
  }
}
