package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, DoubleType}

/** dot(a, b) over two float32 vectors as a native Catalyst expression with
  * whole-stage codegen.
  *
  * The same value is expressible with pure higher-order functions —
  * `aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)), 0d, +)`,
  * verified byte-identical vs the DuckDB oracle (SURVEY §2.7 Q33) — but
  * that shape allocates a 64-element intermediate array and walks a lambda
  * interpreter per pair. On an all-pairs kNN at sf0.1 (2M pairs) the HOF
  * form measured ~15 s; this expression is a tight primitive loop inside
  * WholeStageCodegen. At 100 TB the same expression serves every vector
  * operator, so the win compounds.
  *
  * Determinism: ascending-index loop, double accumulation — the exact
  * association order DuckDB's list_sum uses, so results stay bit-identical
  * cross-engine (and partition-count independent: it's a per-row scalar).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs are produced internally (always ArrayType(FloatType) columns),
  // so no ExpectsInputTypes contract — AbstractDataType is private to
  // Spark in 4.x
  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData].toFloatArray()
    val ys = b.asInstanceOf[ArrayData].toFloatArray()
    val n = math.min(xs.length, ys.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += xs(i).toDouble * ys(i).toDouble; i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val xs = ctx.freshName("xs")
      val ys = ctx.freshName("ys")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |float[] $xs = $a.toFloatArray();
         |float[] $ys = $b.toFloatArray();
         |int $n = Math.min($xs.length, $ys.length);
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (double) $xs[$i] * (double) $ys[$i];
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance Σ(x−y)² between two vectors, EACH independently a
  * float32 or float64 array (the corpus side is float parquet; a
  * codebook/centroid may be a double array after integer-unit mean
  * training). Both sides type-dispatch at planning time from the child
  * dataType — reading a double array as floats would silently
  * reinterpret half of each value's bits (the function is exposed to any
  * spark.sql user via GraftExtensions, where double is the default
  * float-literal type). Same motivation and determinism contract as
  * [[DotProduct]]: the HOF form `aggregate(zip_with(a, b, (x,y) ->
  * (double(x)-y)*(double(x)-y)), 0d, +)` allocates an intermediate array
  * and interprets a lambda per element — inside ANOTHER lambda (the PQ
  * candidate scan) that cost multiplies by the codebook width. This
  * evaluates as one tight loop per call; ascending-index double
  * accumulation keeps it bit-identical to DuckDB's list_sum fold. */
case class L2Squared(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_l2"

  private def isDoubleArr(e: Expression): Boolean = e.dataType match {
    case org.apache.spark.sql.types.ArrayType(DoubleType, _) => true
    case _ => false
  }
  private lazy val leftIsDouble: Boolean = isDoubleArr(left)
  private lazy val rightIsDouble: Boolean = isDoubleArr(right)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case org.apache.spark.sql.types.ArrayType(DoubleType, _) => true
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_l2 requires array<float> or array<double> arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  private def toDoubles(a: Any, isDouble: Boolean): Array[Double] = {
    val ad = a.asInstanceOf[ArrayData]
    if (isDouble) ad.toDoubleArray()
    else {
      val fs = ad.toFloatArray()
      Array.tabulate(fs.length)(i => fs(i).toDouble)
    }
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = toDoubles(a, leftIsDouble)
    val ys = toDoubles(b, rightIsDouble)
    val n = math.min(xs.length, ys.length)
    var acc = 0.0
    var i = 0
    while (i < n) { val d = xs(i) - ys(i); acc += d * d; i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val xs = ctx.freshName("xs")
      val ys = ctx.freshName("ys")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      def arr(isDouble: Boolean) =
        if (isDouble) ("double", "toDoubleArray") else ("float", "toFloatArray")
      val (xt, xext) = arr(leftIsDouble)
      val (yt, yext) = arr(rightIsDouble)
      s"""
         |$xt[] $xs = $a.$xext();
         |$yt[] $ys = $b.$yext();
         |int $n = Math.min($xs.length, $ys.length);
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = (double) $xs[$i] - (double) $ys[$i];
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The deterministic random-hyperplane family shared by every LSH surface:
  * the DuckDB oracle (VectorOps.bucketExprDuck), the codegen'd [[LshSigs]]
  * and the HOF reference form its parity test checks it against all read
  * planes from HERE, so the formulations cannot drift. Plane j, element i =
  * ((1103515245·(j+1) + 12345·(i+1)) mod 1997) − 998 — fixed integer
  * literals, engine-independent. */
object LshPlanes {
  val Dim = 64
  val PlanesPerTable = 8
  def plane(j: Int): Array[Int] =
    Array.tabulate(Dim)(i =>
      ((1103515245L * (j + 1) + 12345L * (i + 1)) % 1997L).toInt - 998)
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Int]]]()
  /** Planes 0 .. 8·tables−1 as a flat matrix (memoized per width). */
  def matrix(tables: Int): Array[Array[Int]] =
    cache.computeIfAbsent(tables,
      t => Array.tabulate(t * PlanesPerTable)(plane))
}

/** ALL `tables` OR-amplified hyperplane buckets of one embedding as a
  * single array<int>, one tight codegen'd loop — bucket[t] =
  * Σ_j 2^j·[dot(x, plane(8t+j)) ≥ 0].
  *
  * Replaces the HOF formulation (per plane: `IF(aggregate(filter(
  * zip_with(embedding, <64-int literal array>, ...)))) ≥ 0`), which at
  * the 16-table serving width builds a ~80k-literal expression tree —
  * measured ~3 s per sig derivation at sf0.1, nearly all of it analysis/
  * codegen of the giant tree plus interpreted lambda evaluation, and paid
  * AGAIN by every plan that re-derives signatures (index write, probe,
  * append, each ingest cycle). Guide §4: built-in-shaped codegen over
  * interpreted lambdas in the hot path.
  *
  * Arithmetic parity with the HOF/oracle form (bit-exact): ascending-index
  * double accumulation of CAST(float AS DOUBLE) · (int plane literal) —
  * the same association order as aggregate()/list_sum; a ragged vector
  * contributes exactly its min(len, 64)-prefix pairs (zip_with pads with
  * NULL products, which the HOF filter drops); an EMPTY prefix makes the
  * plane sum NULL ≥ 0 = false on both engines, here the explicit n == 0
  * branch. A NULL embedding is treated as empty, so it gets the all-zero
  * signature — the oracle's `CASE WHEN NULL >= 0 … ELSE 0` bucket 0 in
  * every table — instead of a NULL the candidate join would drop. Like
  * [[DotProduct]], element-level NULLs inside the array are out of
  * contract (toFloatArray). */
case class LshSigs(child: Expression, tables: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)

  override def prettyName: String = "graft_lsh_sigs"

  @transient private lazy val planes: Array[Array[Int]] =
    LshPlanes.matrix(tables)

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val a = child.eval(input)
    val xs =
      if (a == null) Array.emptyFloatArray
      else a.asInstanceOf[ArrayData].toFloatArray()
    val out = new Array[Int](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0
      var j = 0
      while (j < LshPlanes.PlanesPerTable) {
        val p = planes(t * LshPlanes.PlanesPerTable + j)
        val n = math.min(xs.length, p.length)
        if (n > 0) {
          var acc = 0.0
          var i = 0
          while (i < n) { acc += xs(i).toDouble * p(i); i += 1 }
          if (acc >= 0) bucket |= (1 << j)
        }
        j += 1
      }
      out(t) = bucket
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val pl = ctx.addReferenceObj("lshPlanes", planes, "int[][]")
    val xs = ctx.freshName("xs")
    val out = ctx.freshName("out")
    val t = ctx.freshName("t")
    val j = ctx.freshName("j")
    val p = ctx.freshName("p")
    val n = ctx.freshName("n")
    val acc = ctx.freshName("acc")
    val i = ctx.freshName("i")
    val bucket = ctx.freshName("bucket")
    ev.copy(isNull = FalseLiteral, code = c.code + code"""
         |float[] $xs = ${c.isNull} ? new float[0] : ${c.value}.toFloatArray();
         |int[] $out = new int[$tables];
         |for (int $t = 0; $t < $tables; $t++) {
         |  int $bucket = 0;
         |  for (int $j = 0; $j < ${LshPlanes.PlanesPerTable}; $j++) {
         |    int[] $p = $pl[$t * ${LshPlanes.PlanesPerTable} + $j];
         |    int $n = Math.min($xs.length, $p.length);
         |    if ($n > 0) {
         |      double $acc = 0.0;
         |      for (int $i = 0; $i < $n; $i++) {
         |        $acc += (double) $xs[$i] * (double) $p[$i];
         |      }
         |      if ($acc >= 0) $bucket |= (1 << $j);
         |    }
         |  }
         |  $out[$t] = $bucket;
         |}
         |ArrayData ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VecExprs {
  private val fid = FunctionIdentifier("graft_dot")
  private val l2fid = FunctionIdentifier("graft_l2")
  private val sigfid = FunctionIdentifier("graft_lsh_sigs")

  /** Builder shared with GraftExtensions: exactly (embedding, tables),
    * and the `tables` width must be an int literal >= 1 (it sizes the
    * generated loop and the plane matrix at plan time). */
  def lshSigsBuilder(children: Seq[Expression]): Expression = {
    if (children.length != 2) throw new IllegalArgumentException(
      "graft_lsh_sigs(embedding, tables): expects 2 arguments, got " +
        children.length)
    val t = children(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(
        v: Int, org.apache.spark.sql.types.IntegerType) => v
      case other => throw new IllegalArgumentException(
        "graft_lsh_sigs(embedding, tables): tables must be an int " +
          s"literal, got $other")
    }
    if (t < 1) throw new IllegalArgumentException(
      s"graft_lsh_sigs(embedding, tables): tables must be >= 1, got $t")
    LshSigs(children.head, t)
  }

  /** Registers graft_lsh_sigs — see [[LshSigs]]. */
  def registerLshSigs(spark: SparkSession): Unit = synchronized {
    if (!spark.sessionState.functionRegistry.functionExists(sigfid)) {
      spark.sessionState.functionRegistry.registerFunction(
        sigfid,
        new ExpressionInfo(classOf[LshSigs].getName, "graft_lsh_sigs"),
        lshSigsBuilder _)
    }
  }

  def lshSigs(spark: SparkSession, emb: Column, tables: Int): Column = {
    registerLshSigs(spark)
    call_function("graft_lsh_sigs", emb,
      org.apache.spark.sql.functions.lit(tables))
  }

  /** Registers graft_dot in the session's function registry (idempotent);
    * also makes it available to spark.sql(...) users. */
  def register(spark: SparkSession): Unit = synchronized {
    if (!spark.sessionState.functionRegistry.functionExists(fid)) {
      spark.sessionState.functionRegistry.registerFunction(
        fid,
        new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
        (children: Seq[Expression]) => DotProduct(children.head, children(1)))
    }
  }

  /** Registers graft_l2 (squared L2 distance) — see [[L2Squared]]. */
  def registerL2(spark: SparkSession): Unit = synchronized {
    if (!spark.sessionState.functionRegistry.functionExists(l2fid)) {
      spark.sessionState.functionRegistry.registerFunction(
        l2fid,
        new ExpressionInfo(classOf[L2Squared].getName, "graft_l2"),
        (children: Seq[Expression]) => L2Squared(children.head, children(1)))
    }
  }

  def dot(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function("graft_dot", a, b)
  }
}
