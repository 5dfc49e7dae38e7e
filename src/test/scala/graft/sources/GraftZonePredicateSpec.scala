package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.V2ExpressionBuilder
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Properties of the one zone evaluator, [[ZonePredicate]], against SQL
  * semantics. Random rows with NULLs in INT, STRING and DATE columns are
  * split into files; random predicates from the supported grammar
  * (comparisons either way round, `<=>`, IN, IS [NOT] NULL, STARTS_WITH,
  * AND/OR, plus an unsupported NOT, with NULL literals throughout) reach
  * the evaluator the way Spark hands them over — translated from a
  * Catalyst expression by Spark's own v2 builder — while the same
  * expression, interpreted per row, gives the SQL result. */
class GraftZonePredicateSpec extends AnyFunSuite {

  private val bloomed = new MetadataBuilder()
    .putBoolean(GraftBloom.MetaKey, true).build()
  private val schema = StructType(Seq(
    StructField("i", IntegerType, metadata = bloomed),
    StructField("s", StringType, metadata = bloomed),
    StructField("d", DateType)))
  private val attrs = schema.fields.toSeq.map(f =>
    AttributeReference(f.name, f.dataType, nullable = true)())

  private def orNull[T](g: Gen[T]): Gen[Any] =
    Gen.frequency(1 -> Gen.const(null), 4 -> g)
  private val intV = Gen.choose(-3, 3)
  private val strV = Gen.oneOf("", "a", "ab", "abc", "b", "ba", "c")
    .map(UTF8String.fromString)
  private val dateV = Gen.choose(0, 5) // days since the epoch
  private val valueOf: Map[String, Gen[Any]] =
    Map("i" -> intV, "s" -> strV, "d" -> dateV)

  private val row: Gen[InternalRow] = for {
    i <- orNull(intV); s <- orNull(strV); d <- orNull(dateV)
  } yield new GenericInternalRow(Array[Any](i, s, d))

  private def lit(c: Int, v: Any) = Literal.create(v, schema(c).dataType)
  private def litOf(c: Int): Gen[Literal] =
    orNull(valueOf(schema(c).name)).map(lit(c, _))

  private val leaf: Gen[Expression] = for {
    c <- Gen.choose(0, 2)
    a = attrs(c)
    e <- Gen.oneOf(
      for {
        op <- Gen.oneOf[(Expression, Expression) => Expression](
          EqualTo(_, _), EqualNullSafe(_, _), LessThan(_, _),
          LessThanOrEqual(_, _), GreaterThan(_, _), GreaterThanOrEqual(_, _))
        l <- litOf(c)
        flip <- Gen.oneOf(true, false)
      } yield if (flip) op(l, a) else op(a, l),
      Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, litOf(c)))
        .map(ls => In(a, ls)),
      Gen.const(IsNull(a)),
      Gen.const(IsNotNull(a)),
      orNull(strV).map(p => StartsWith(attrs(1), lit(1, p))))
  } yield e

  private def pred(depth: Int): Gen[Expression] =
    if (depth == 0) leaf
    else Gen.frequency(
      3 -> leaf,
      2 -> Gen.zip(pred(depth - 1), pred(depth - 1))
        .map { case (a, b) => And(a, b) },
      2 -> Gen.zip(pred(depth - 1), pred(depth - 1))
        .map { case (a, b) => Or(a, b) },
      1 -> leaf.map(Not(_)))

  /** The v2 form Spark pushes (None when Spark would not translate) and
    * the per-row SQL result: TRUE selects the row, FALSE and NULL don't. */
  private def forms(e: Expression): Option[(Predicate, InternalRow => Boolean)] =
    new V2ExpressionBuilder(e, true).buildPredicate().map { p =>
      val bound = BindReferences.bindReference(e, AttributeSeq(attrs))
      (p, (r: InternalRow) => bound.eval(r) == true)
    }

  private val byOrdinal: String => Option[(Int, DataType)] =
    n => Some(schema.fieldIndex(n)).map(i => (i, schema(i).dataType))
  private val byName: String => Option[(String, DataType)] =
    n => Some((n, schema(n).dataType))

  private val chunkZones = ScanChunk.zonesByName(schema)

  private val files: Gen[Seq[Seq[InternalRow]]] = for {
    n <- Gen.choose(1, 4)
    fs <- Gen.listOfN(n, Gen.choose(1, 12).flatMap(Gen.listOfN(_, row)))
  } yield fs

  private def keyOf(r: InternalRow, ords: Seq[Int]): Seq[Any] =
    ords.map(o => r.get(o, schema(o).dataType))

  /** The identity partition columns a group key is made of. */
  private val partCols: Gen[Seq[String]] =
    Gen.atLeastOne(schema.fieldNames.toSeq).map(_.toSeq)

  private def check(prop: Prop): Unit = {
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(1000).withInitialSeed(Seed(20261017L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("soundness: a file, chunk or partition key holding a row that " +
      "satisfies the predicate is never reported as no-match") {
    check(Prop.forAll(files, pred(3), partCols) { (fs, e, pcs) =>
      forms(e).forall { case (p, sql) =>
        val onFiles = ZonePredicate.compile(Seq(p), byOrdinal)
        val onChunks = ZonePredicate.compile(Seq(p), byName)
        val fileOk = fs.forall { rows =>
          val f = GraftDataFile.build(rows.toArray, schema, None)
          !rows.exists(sql) ||
            (onFiles.forall(_.mayMatch(f)) &&
              onChunks.forall(_.mayMatch(chunkZones(f))))
        }
        val ords = pcs.map(schema.fieldIndex)
        val keyed = ZonePredicate.compile[Int](Seq(p), n =>
          Some(pcs.indexOf(n)).filter(_ >= 0).map(i =>
            (i, schema(ords(i)).dataType)))
        val keyOk = fs.flatten.groupBy(r => keyOf(r, ords))
          .forall { case (key, rows) =>
            !rows.exists(sql) ||
              keyed.forall(_.mayMatch(ZonePredicate.constant(key)))
          }
        fileOk && keyOk
      }
    })
  }

  test("exactness: an exact result on a partition key equals the SQL " +
      "result of every row in that group") {
    var exactSeen = 0
    check(Prop.forAll(files, pred(2), partCols) { (fs, e, pcs) =>
      forms(e).forall { case (p, sql) =>
        val ords = pcs.map(schema.fieldIndex)
        ZonePredicate.groupKeyTest(Seq(p), pcs, schema).forall { test =>
          exactSeen += 1
          fs.flatten.groupBy(r => keyOf(r, ords))
            .forall { case (key, rows) => rows.forall(sql(_) == test(key)) }
        }
      }
    })
    assert(exactSeen > 100, s"only $exactSeen exact results generated")
  }

  test("a group-key test ships to executors as serializable data") {
    val Some((p, _)) = forms(In(attrs(0), Seq(lit(0, 7), lit(0, null))))
    val test = ZonePredicate.groupKeyTest(Seq(p), Seq("i"), schema).get
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(test); oos.close()
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
      .readObject().asInstanceOf[Seq[Any] => Boolean]
    assert(back(Seq(7)) && !back(Seq(8)) && !back(Seq(null)))
  }
}
