package graft.engine

import java.time.{Instant, LocalDate}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeFormatter, CodegenContext}
import org.apache.spark.sql.graftshim.{BoundLiteral, Shims}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** [[BoundLiteral]], the by-reference key of stored-view reads, on bare
  * Catalyst expressions: no SparkSession is created. Each key is built
  * the way the stores build it (`Shims.boundLit`), compared with a
  * one-column input row through generated and interpreted evaluation. */
class BoundKeySpec extends AnyFunSuite {

  /** Keys per type: at least two values each, plus each type's edges. */
  private val keys: Seq[(String, Seq[Any])] = Seq(
    "int" -> Seq(7, -3, 0, Int.MinValue, Int.MaxValue),
    "long" -> Seq(1000007L, 2L, 0L, Long.MinValue, Long.MaxValue),
    "double" -> Seq(1.5, -2.25, Double.NaN, -0.0, 0.0, Double.NegativeInfinity),
    "date" -> Seq(LocalDate.of(1998, 12, 1), LocalDate.of(1970, 1, 1), LocalDate.of(1, 1, 1)),
    "timestamp" -> Seq(Instant.parse("1998-12-01T10:15:30.123456Z"), Instant.EPOCH,
      Instant.parse("1900-01-01T00:00:00Z")),
    "string" -> Seq("k7", "", "kä"))

  private def bound(v: Any): BoundLiteral = Shims.expression(Shims.boundLit(v)) match {
    case b: BoundLiteral => b
    case e => fail(s"boundLit($v) gave ${e.getClass.getName}")
  }

  private def column(t: DataType) = BoundReference(0, t, nullable = true)

  private def comparisons(c: Expression, k: Expression): Seq[Expression] =
    Seq(EqualTo(c, k), LessThan(c, k), GreaterThanOrEqual(c, k))

  /** Codegen and interpreted answers of `exprs` on `row`, as boxed values
    * compared with `equals` (so NaN equals NaN and -0.0 differs from 0.0). */
  private def bothWays(exprs: Seq[Expression], row: InternalRow): (Seq[Any], Seq[Any]) = {
    val proj = UnsafeProjection.create(exprs)
    assert(!proj.isInstanceOf[InterpretedUnsafeProjection], "projection fell back to eval")
    val out = proj(row)
    (exprs.indices.map(i => if (out.isNullAt(i)) null else out.get(i, exprs(i).dataType)),
      exprs.map(_.eval(row)))
  }

  test("generated code of a bound key answers as interpreted eval and as a plain literal") {
    for ((name, vs) <- keys; k <- vs) {
      val b = bound(k)
      val plain = Literal(k)
      assert(b.dataType === plain.dataType && java.util.Objects.equals(b.value, plain.value),
        s"$name $k: lit's value and type")
      for (v <- vs.map(x => Literal(x).value) :+ null) {
        val row = InternalRow(v)
        val exprs = b +: comparisons(column(b.dataType), b)
        val (gen, interp) = bothWays(exprs, row)
        assert(gen.zip(interp).forall { case (x, y) => java.util.Objects.equals(x, y) },
          s"$name key $k, column $v: codegen $gen vs eval $interp")
        val (litGen, _) = bothWays(plain +: comparisons(column(b.dataType), plain), row)
        assert(gen.zip(litGen).forall { case (x, y) => java.util.Objects.equals(x, y) },
          s"$name key $k, column $v: bound $gen vs lit $litGen")
        for (p <- comparisons(column(b.dataType), b)) {
          val pred = Predicate.create(p)
          assert(!pred.isInstanceOf[InterpretedPredicate], s"$p fell back to eval")
          pred.initialize(0)
          assert(pred.eval(row) === Predicate.createInterpreted(p).eval(row), s"$name $p on $v")
        }
      }
    }
  }

  /** The Java source of `e` as a generated class would hold it. */
  private def source(e: Expression): String = {
    val ctx = new CodegenContext
    val ev = e.genCode(ctx)
    CodeFormatter.stripExtraNewLinesAndComments(
      s"${ctx.declareMutableStates()}\n${ctx.declareAddedFunctions()}\n" +
        s"${ev.code}\n${ev.isNull} ${ev.value}")
  }

  test("two keys of one type generate the same source text; plain literals of primitives do not") {
    for ((name, vs) <- keys) {
      val texts = vs.map(k => source(GreaterThanOrEqual(column(bound(k).dataType), bound(k))))
      assert(texts.distinct.size === 1, s"$name: bound keys generated ${texts.distinct.size} sources")
      val t = Literal(vs.head).dataType
      val literalTexts = vs.map(k => source(GreaterThanOrEqual(column(t), Literal(k)))).distinct
      // String keys are already passed by reference; the inlined types are what changes
      if (name == "string") assert(literalTexts.size === 1)
      else assert(literalTexts.size === vs.size, s"$name: plain literals inline their values")
    }
  }

  test("a null bound key compares as SQL NULL") {
    assert(bound(null).value == null)
    val k = new BoundLiteral(null, LongType)
    for (v <- Seq(7L, Long.MinValue, null)) {
      val row = InternalRow(v)
      val (gen, interp) = bothWays(k +: comparisons(column(LongType), k), row)
      assert(gen.forall(_ == null) && interp.forall(_ == null), s"column $v: $gen / $interp")
      for (p <- comparisons(column(LongType), k)) {
        val pred = Predicate.create(p)
        pred.initialize(0)
        assert(!pred.eval(row), s"$p on $v must not select the row")
      }
    }
  }
}
