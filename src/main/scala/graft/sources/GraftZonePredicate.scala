package graft.sources

import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.connector.expressions.{Literal, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Statistics of one ZONE — a data file, a scan chunk or a partition
  * group — per column, addressed by the handle a [[ZonePredicate]] was
  * compiled against: a schema ordinal ([[GraftDataFile]]), a column name
  * ([[ScanChunk]]) or a partition-key position ([[ZonePredicate.constant]]). */
private[sources] trait ZoneView[K] {
  /** Min/max over the column's non-null values (both null when every
    * value is null) and its null count, Catalyst-internal; null when the
    * zone has no statistics for the column. */
  def zone(col: K): ColZone
  /** The column's Bloom filter, or null; asked for only after the zone
    * admits a point value, so a lazily-read filter costs only lookups. */
  def bloom(col: K): GraftBloom
}

/** A v2 [[Predicate]] compiled into a may-match test: `mayMatch(zone)` is
  * false only when NO row of the zone can satisfy the predicate — the
  * data-skipping decision, sound on any zone. `exact` is stronger: on a
  * CONSTANT zone (a partition key: min = max = key) the test then equals
  * the predicate's SQL result for every row of the group, which is what
  * lets a partition drop or overwrite act from metadata alone. It holds
  * when every leaf compiled, no AND arm was dropped, and no leaf is a
  * `STARTS_WITH` — an envelope test only (a key `b` passes prefix `ab`). */
private[sources] final case class ZonePredicate[K](
    mayMatch: ZoneView[K] => Boolean, exact: Boolean)

private[sources] object ZonePredicate {

  /** `column op values`, the column moved left (`5 < c` reads `c > 5`). */
  final case class Leaf(column: String, op: String, values: Seq[Literal[_]])

  private val flipped = Map("<" -> ">", "<=" -> ">=", ">" -> "<",
    ">=" -> "<=", "=" -> "=", "<=>" -> "<=>")

  def leaf(p: Predicate): Option[Leaf] = {
    def col(e: Any) = Some(e).collect {
      case r: NamedReference if r.fieldNames.length == 1 => r.fieldNames.head
    }
    (p.name(), p.children().toSeq) match {
      case (op, Seq(c, l: Literal[_])) if op == "STARTS_WITH" ||
          flipped.contains(op) => col(c).map(Leaf(_, op, Seq(l)))
      case (op, Seq(l: Literal[_], c)) if flipped.contains(op) =>
        col(c).map(Leaf(_, flipped(op), Seq(l)))
      case ("IN", c +: (ls @ _ +: _))
          if ls.forall(_.isInstanceOf[Literal[_]]) =>
        col(c).map(Leaf(_, "IN", ls.map(_.asInstanceOf[Literal[_]])))
      case (op @ ("IS_NULL" | "IS_NOT_NULL"), Seq(c)) =>
        col(c).map(Leaf(_, op, Nil))
      case _ => None
    }
  }

  /** The conjunction of `predicates` (Spark hands conjuncts over split),
    * each column resolved by `resolve` to its handle in the caller's zone
    * views and its type. An arm that does not compile is dropped —
    * skipping stays sound — and the result is then not exact. None when
    * nothing compiles. */
  def compile[K](predicates: Seq[Predicate],
                 resolve: String => Option[(K, DataType)])
      : Option[ZonePredicate[K]] =
    predicates.map(one(_, resolve)).reduceOption(and[K]).flatten

  private def and[K](a: Option[ZonePredicate[K]],
                      b: Option[ZonePredicate[K]]) = (a, b) match {
    case (Some(x), Some(y)) => Some(ZonePredicate[K](
      v => x.mayMatch(v) && y.mayMatch(v), x.exact && y.exact))
    case _ => (a orElse b).map(_.copy(exact = false))
  }

  private def one[K](p: Predicate, resolve: String => Option[(K, DataType)])
      : Option[ZonePredicate[K]] = p.children().toSeq match {
    case Seq(l: Predicate, r: Predicate) if p.name() == "AND" =>
      and(one(l, resolve), one(r, resolve))
    case Seq(l: Predicate, r: Predicate) if p.name() == "OR" =>
      // both arms must compile: the missing one could match anything
      for (x <- one(l, resolve); y <- one(r, resolve)) yield ZonePredicate[K](
        v => x.mayMatch(v) || y.mayMatch(v), x.exact && y.exact)
    case _ =>
      for {
        l <- leaf(p)
        (k, dt) <- resolve(l.column)
        // a literal of another type (a cast-wrapped key) is not compared
        // in this type's ordering, and a NULL has no type to disagree on;
        // zones order strings by bytes, so a collated column never compiles
        if l.values.forall(v => v.value == null || v.dataType == dt) &&
          (!dt.isInstanceOf[StringType] || dt == StringType)
        test <- leafTest(l, k, dt)
      } yield ZonePredicate[K](test, exact = l.op != "STARTS_WITH")
  }

  private def leafTest[K](l: Leaf, k: K, dt: DataType)
      : Option[ZoneView[K] => Boolean] = {
    // Spark's SQL ordering for the type (-0.0 = 0.0, NaN the largest
    // double), which the zones' min/max also bound
    val ord = PhysicalDataType.ordering(dt)
    val bloomed = GraftBloom.supported(dt)
    // an unknown zone may hold anything; min == null means every value
    // is NULL, which no comparison accepts
    def test(t: (ColZone, ZoneView[K]) => Boolean): ZoneView[K] => Boolean =
      v => { val z = v.zone(k); z == null || t(z, v) }
    def range(t: ColZone => Boolean) = test((z, _) => z.min != null && t(z))
    // a point inside the envelope can still be proven absent by the Bloom
    // filter of an unclustered high-cardinality column
    def point(z: ColZone, v: ZoneView[K], x: Any): Boolean =
      z.min != null && ord.lteq(z.min, x) && ord.gteq(z.max, x) && {
        val b = if (bloomed) v.bloom(k) else null
        b == null || b.mightContain(GraftBloom.hashOf(x))
      }
    (l.op, l.values.map(_.value: Any)) match {
      case ("IS_NULL", _) | ("<=>", Seq(null)) =>
        Some(test((z, _) => z.nullCount > 0))
      case ("IS_NOT_NULL", _) => Some(range(_ => true))
      case ("IN", xs) =>
        Some(test((z, v) => xs.exists(x => x != null && point(z, v, x))))
      // a comparison with NULL is never TRUE
      case (_, Seq(null)) => Some(_ => false)
      case ("=" | "<=>", Seq(x)) => Some(test(point(_, _, x)))
      case ("<", Seq(x)) => Some(range(z => ord.lt(z.min, x)))
      case ("<=", Seq(x)) => Some(range(z => ord.lteq(z.min, x)))
      case (">", Seq(x)) => Some(range(z => ord.gt(z.max, x)))
      case (">=", Seq(x)) => Some(range(z => ord.gteq(z.max, x)))
      case ("STARTS_WITH", Seq(p: UTF8String)) =>
        // strings with prefix p all sort >= p: skip when max < p, or when
        // even min's own prefix already sorts past p
        Some(range(z => z.max.asInstanceOf[UTF8String].compareTo(p) >= 0 &&
          z.min.asInstanceOf[UTF8String].substring(0, p.numChars())
            .compareTo(p) <= 0))
      case _ => None
    }
  }

  /** A partition key as a zone: min = max = the key value, one NULL or none. */
  def constant(key: Seq[Any]): ZoneView[Int] = new ZoneView[Int] {
    def zone(i: Int): ColZone =
      ColZone(key(i), key(i), if (key(i) == null) 1L else 0L)
    def bloom(i: Int): GraftBloom = null
  }

  /** `predicates` as a test over partition-group keys (the identity
    * partition columns' values in declaration order) — only when EXACT:
    * a group it selects matches in every row, a group it rejects in none. */
  def groupKeyTest(predicates: Seq[Predicate], partCols: Seq[String],
                   schema: StructType): Option[Seq[Any] => Boolean] =
    compile[Int](predicates, n =>
      Some(partCols.indexWhere(_.equalsIgnoreCase(n))).filter(_ >= 0)
        .flatMap(i => schema.find(_.name.equalsIgnoreCase(partCols(i)))
          .map(f => (i, f.dataType)))
    ).filter(_.exact).map(t => key => t.mayMatch(constant(key)))
}
