package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Divide, EvalMode, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

/** Driver-held codebooks for [[NearestCodeword]]: group g's codewords as
  * (id, components) — components null for a codeword whose embedding is
  * null or holds a null, which scores null against every vector, as its
  * dot product does. Each group is sorted by id, so "lowest index" is
  * "lowest id". The per-codeword term of the score is computed once here,
  * not once per (vector, codeword):
  *  - cosine: score = dot(x, c) / (‖x‖ · ‖c‖), aux = ‖c‖ = sqrt(dot(c, c));
  *  - Euclidean: score = dot(x, c) − dot(c, c) / 2 (argmax of this is the
  *    argmin of ‖x − c‖²), aux = dot(c, c) / 2.
  * Every dot is [[Dot]]'s sum, so scores are bit-identical to the same
  * formula written with `graft_dot` and Spark's `/` and `−`. */
final class Codebooks private (val ids: Array[Array[Long]],
                               val vecs: Array[Array[Array[Double]]],
                               val cosine: Boolean) extends Serializable {
  val aux: Array[Array[Double]] = vecs.map(_.map { c =>
    if (c == null) 0.0
    else if (cosine) math.sqrt(Dot.of(c, c))
    else Dot.of(c, c) / 2
  })
  override def toString: String =
    s"${if (cosine) "cosine" else "euclidean"} codebooks ${vecs.map(_.length).mkString("[", ",", "]")}"
}

object Codebooks {
  def apply(groups: Seq[Seq[(Long, Array[Double])]], cosine: Boolean): Codebooks = {
    val sorted = groups.map(_.sortBy(_._1))
    new Codebooks(sorted.map(_.map(_._1).toArray).toArray,
      sorted.map(_.map(_._2).toArray).toArray, cosine)
  }
}

/** Id of the codeword of group `group` in `books` that scores highest
  * against `vector` (array<float|double>), evaluated in place per row: the
  * codebook rides in the expression, so an assignment pass is one narrow
  * projection — no join against the codebook, no shuffle into a grouped
  * argmax.
  *
  * The argmax is exactly `max(struct(score, -id, id)).id` over the
  * (vector × codeword) rows:
  *  - a null score is below every other score;
  *  - scores compare under Spark's double ordering (NaN greatest,
  *    −0.0 = 0.0);
  *  - ties go to the lowest id.
  * A vector that is null or holds a null scores null everywhere, so it gets
  * the group's lowest id. The result is null only when the group is null,
  * out of range or empty (an inner join would have dropped the row).
  *
  * Cosine scores divide as Spark's `/` does: the divisor ‖x‖·‖c‖ is checked
  * first, and a zero divisor gives null, or under ANSI mode (`ansi`, read
  * from the session when the expression is built, as `Divide` reads it)
  * the DIVIDE_BY_ZERO error Spark raises. */
case class NearestCodeword(vector: Expression, group: Expression, books: Codebooks,
                           ansi: Boolean = SQLConf.get.ansiEnabled)
    extends BinaryExpression {

  override def left: Expression = vector
  override def right: Expression = group

  override def checkInputDataTypes(): TypeCheckResult =
    if (!Dot.isVector(vector.dataType)) TypeCheckResult.TypeCheckFailure(
      s"nearest codeword expects an array<float|double> vector, got ${vector.dataType}")
    else if (group.dataType != IntegerType) TypeCheckResult.TypeCheckFailure(
      s"nearest codeword expects an int group, got ${group.dataType}")
    else TypeCheckResult.TypeCheckSuccess
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_nearest_codeword"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val g = group.eval(input)
    if (g == null) return null
    val j = NearestCodeword.argmax(books, vector.eval(input).asInstanceOf[ArrayData],
      Dot.isFloat(vector.dataType), g.asInstanceOf[Int], ansi)
    if (j < 0) null else books.ids(g.asInstanceOf[Int])(j)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = vector.genCode(ctx)
    val g = group.genCode(ctx)
    val b = ctx.addReferenceObj("books", books, classOf[Codebooks].getName)
    val j = ctx.freshName("j")
    ev.copy(code = code"""
      ${v.code}
      ${g.code}
      boolean ${ev.isNull} = true;
      long ${ev.value} = -1L;
      if (!${g.isNull}) {
        int $j = graft.functions.NearestCodeword.argmax($b, ${v.isNull} ? null : ${v.value},
          ${Dot.isFloat(vector.dataType)}, ${g.value}, $ansi);
        if ($j >= 0) {
          ${ev.isNull} = false;
          ${ev.value} = $b.ids()[${g.value}][$j];
        }
      }""")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): NearestCodeword =
    copy(vector = newLeft, group = newRight)
}

object NearestCodeword {

  /** Index of the best codeword of group `g`, or −1 when there is none. */
  def argmax(books: Codebooks, x: ArrayData, xFloat: Boolean, g: Int, ansi: Boolean): Int = {
    if (g < 0 || g >= books.vecs.length || books.vecs(g).isEmpty) return -1
    val cws = books.vecs(g)
    val aux = books.aux(g)
    val xs = doubles(x, xFloat)
    val xn = if (xs != null && books.cosine) math.sqrt(Dot.of(xs, xs)) else 0.0
    var best = 0
    var bestScore = 0.0
    var bestNull = true
    var j = 0
    while (j < cws.length) {
      val c = cws(j)
      var s = 0.0
      var sNull = true
      if (xs != null && c != null) {
        if (books.cosine) {
          val den = xn * aux(j)
          if (den == 0) { if (ansi) divideByZero() }
          else if (xs.length == c.length) { s = Dot.of(xs, c) / den; sNull = false }
        } else if (xs.length == c.length) { s = Dot.of(xs, c) - aux(j); sNull = false }
      }
      if (!sNull && (bestNull || (s != bestScore && java.lang.Double.compare(s, bestScore) > 0))) {
        best = j; bestScore = s; bestNull = false
      }
      j += 1
    }
    best
  }

  /** The vector's components as doubles, or null when it is null or holds
    * a null (every dot product with it is then null). */
  private def doubles(x: ArrayData, xFloat: Boolean): Array[Double] = {
    if (x == null) return null
    val n = x.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) return null
      out(i) = if (xFloat) x.getFloat(i).toDouble else x.getDouble(i)
      i += 1
    }
    out
  }

  /** Spark's own `/` on a zero divisor under ANSI mode: raises the error
    * `Divide` raises. */
  private def divideByZero(): Unit =
    Divide(Literal(1.0), Literal(0.0), EvalMode.ANSI).eval()
}
