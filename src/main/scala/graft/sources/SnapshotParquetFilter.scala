package graft.sources

import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

/** Translates the scan's already-parsed pushed constraints
  * ([[SnapshotPrune.Constraint]]) into a parquet
  * [[FilterPredicate]] for ONE file — what turns "the manifest admits
  * this file" into "read only the row groups whose statistics admit
  * the predicate". Manifest pruning drops whole FILES; this layer
  * makes the surviving files' reads SELECTIVE: parquet-mr applies the
  * predicate against row-group statistics and dictionary pages at
  * reader-open time (the same machinery Spark's native source and the
  * Iceberg/Delta readers ride; column indexes stay off, see
  * [[SnapshotVectorized.ChunkReader]]), so a selective
  * WHERE over a 100-TB table decodes the row groups that can match
  * instead of every surviving byte.
  *
  * PURELY an optimization, never a bet: the translation is
  * per-file (the FILE's field name for a renamed column, the FILE's
  * physical type for a widened one), strictly conservative (anything
  * not translatable exactly is simply not filtered — Spark re-applies
  * every non-exact predicate above the scan, and the exactly-decided
  * ones are label-pure so group filtering cannot remove a matching
  * row), and row indexes stay PHYSICAL under group skipping (parquet
  * serves each surviving group's true row-index offset, so `_pos`
  * and the position-delete masks are exact — the same property the
  * byte-range splits already rely on).
  */
private[sources] object SnapshotParquetFilter {
  /** an IN-set larger than this is not pushed as an OR-chain: the
    * chain is re-evaluated per row group and serialized into the
    * reader conf. A bigger set — exactly the shape a DPP runtime value
    * set takes — is RANGE-COLLAPSED instead: one gtEq(min) ∧ ltEq(max)
    * over the set, sound (every member lies inside) and precisely what
    * a clustered key needs to keep skipping groups. */
  private val MaxInValues = 20

  /** the AND of every translatable constraint against this file's
    * schema; None when nothing translates (no filter set — the read
    * stays a full decode, exactly as before). */
  def build(constraints: Seq[SnapshotPrune.Constraint],
      fileMsg: MessageType,
      fieldFor: String => Option[String]): Option[FilterPredicate] =
    constraints.flatMap(translate(_, fileMsg, fieldFor))
      .reduceOption(FilterApi.and)

  import scala.jdk.CollectionConverters._

  private def physOf(fileMsg: MessageType,
      field: String): Option[PrimitiveTypeName] =
    fileMsg.getFields.asScala.find(_.getName == field)
      .filter(_.isPrimitive)
      .map(_.asPrimitiveType().getPrimitiveTypeName)

  // ---- exact literal conversion to the FILE's physical type --------
  // A literal that does not convert EXACTLY refuses the whole
  // constraint (conservative — never a lossy coercion that could veto
  // a group holding a matching row). The widening cases mirror the
  // reader's own: a long predicate probes an int32 column only when
  // the value fits, a double predicate probes a float column only
  // when the value round-trips.
  private def asLong(v: Any): Option[java.lang.Long] =
    SnapshotPrune.asLong(v).map(java.lang.Long.valueOf)
  private def asInt(v: Any): Option[java.lang.Integer] =
    SnapshotPrune.asLong(v).collect {
      case l if l >= Int.MinValue && l <= Int.MaxValue =>
        java.lang.Integer.valueOf(l.toInt)
    }
  private def asDouble(v: Any): Option[java.lang.Double] = v match {
    case d: java.lang.Double => Some(d)
    case f: java.lang.Float => Some(java.lang.Double.valueOf(f.toDouble))
    case _ => None
  }
  private def asFloat(v: Any): Option[java.lang.Float] = v match {
    case f: java.lang.Float => Some(f)
    case d: java.lang.Double if d.toFloat.toDouble == d.doubleValue =>
      Some(java.lang.Float.valueOf(d.toFloat))
    case _ => None
  }
  // Binary comparison is unsigned byte order — which IS Catalyst's
  // string order (UTF8String compares UTF-8 bytes), so string bounds
  // push soundly; Java String (UTF-16) order is the one that differs.
  private def asBinary(v: Any): Option[Binary] = v match {
    case s: String => Some(Binary.fromString(s))
    case _ => None
  }

  private def translate(c: SnapshotPrune.Constraint,
      fileMsg: MessageType,
      fieldFor: String => Option[String]): Option[FilterPredicate] = {
    // the FILE's field for the canonical column; a column this file
    // lacks entirely (added post-write) reads as all-null — every row
    // fails an InSet/Bound on it, but skipping the filter is the
    // conservative move (and costs only what the pre-filter read cost)
    val field = fieldFor(c.col).getOrElse(return None)
    val phys = physOf(fileMsg, field).getOrElse(return None)

    def conv[T](v: Any): Option[AnyRef] = phys match {
      case INT64 => asLong(v)
      case INT32 => asInt(v)
      case DOUBLE => asDouble(v)
      case FLOAT => asFloat(v)
      case BINARY => asBinary(v)
      case _ => None // BOOLEAN bounds / INT96 / FIXED: not filtered
    }
    def eq(v: AnyRef): FilterPredicate = phys match {
      case INT64 => FilterApi.eq(FilterApi.longColumn(field),
        v.asInstanceOf[java.lang.Long])
      case INT32 => FilterApi.eq(FilterApi.intColumn(field),
        v.asInstanceOf[java.lang.Integer])
      case DOUBLE => FilterApi.eq(FilterApi.doubleColumn(field),
        v.asInstanceOf[java.lang.Double])
      case FLOAT => FilterApi.eq(FilterApi.floatColumn(field),
        v.asInstanceOf[java.lang.Float])
      case _ => FilterApi.eq(FilterApi.binaryColumn(field),
        v.asInstanceOf[Binary])
    }
    def gtEq(v: AnyRef): FilterPredicate = phys match {
      case INT64 => FilterApi.gtEq(FilterApi.longColumn(field),
        v.asInstanceOf[java.lang.Long])
      case INT32 => FilterApi.gtEq(FilterApi.intColumn(field),
        v.asInstanceOf[java.lang.Integer])
      case DOUBLE => FilterApi.gtEq(FilterApi.doubleColumn(field),
        v.asInstanceOf[java.lang.Double])
      case FLOAT => FilterApi.gtEq(FilterApi.floatColumn(field),
        v.asInstanceOf[java.lang.Float])
      case _ => FilterApi.gtEq(FilterApi.binaryColumn(field),
        v.asInstanceOf[Binary])
    }
    def ltEq(v: AnyRef): FilterPredicate = phys match {
      case INT64 => FilterApi.ltEq(FilterApi.longColumn(field),
        v.asInstanceOf[java.lang.Long])
      case INT32 => FilterApi.ltEq(FilterApi.intColumn(field),
        v.asInstanceOf[java.lang.Integer])
      case DOUBLE => FilterApi.ltEq(FilterApi.doubleColumn(field),
        v.asInstanceOf[java.lang.Double])
      case FLOAT => FilterApi.ltEq(FilterApi.floatColumn(field),
        v.asInstanceOf[java.lang.Float])
      case _ => FilterApi.ltEq(FilterApi.binaryColumn(field),
        v.asInstanceOf[Binary])
    }

    c match {
      case SnapshotPrune.InSet(_, vals)
          if vals.nonEmpty && vals.size <= MaxInValues =>
        // boolean equality is the one extra shape eq supports
        val converted: Seq[AnyRef] = phys match {
          case BOOLEAN => vals.map {
            case b: java.lang.Boolean => b
            case _ => return None
          }
          case _ => vals.map(v => conv(v).getOrElse(return None))
        }
        def eqAny(v: AnyRef): FilterPredicate = phys match {
          case BOOLEAN => FilterApi.eq(FilterApi.booleanColumn(field),
            v.asInstanceOf[java.lang.Boolean])
          case _ => eq(v)
        }
        Some(converted.map(eqAny).reduce(FilterApi.or))
      case SnapshotPrune.InSet(_, vals) if vals.size > MaxInValues =>
        // RANGE COLLAPSE for oversized sets (DPP runtime value sets):
        // min/max over the set's members, numeric physical types only
        // (their natural order IS the stats order; string order would
        // need unsigned-byte min/max — refused, conservative). Spark
        // re-applies the IN above the scan, so over-admission costs
        // decode, never correctness.
        val ord: Option[Ordering[AnyRef]] = phys match {
          case INT64 => Some(Ordering.by((v: AnyRef) =>
            v.asInstanceOf[java.lang.Long].longValue))
          case INT32 => Some(Ordering.by((v: AnyRef) =>
            v.asInstanceOf[java.lang.Integer].intValue))
          case DOUBLE => Some(Ordering.by((v: AnyRef) =>
            v.asInstanceOf[java.lang.Double].doubleValue))
          case FLOAT => Some(Ordering.by((v: AnyRef) =>
            v.asInstanceOf[java.lang.Float].floatValue))
          case _ => None
        }
        ord.flatMap { o =>
          val converted = vals.map(v => conv(v).getOrElse(return None))
          // a NaN member can never be admitted by a [min, max] range
          // (NaN fails every gtEq/ltEq comparison), so a set holding
          // one must refuse the collapse — a row group whose only
          // matching rows are NaN would otherwise be skipped outright
          val hasNaN = converted.exists {
            case d: java.lang.Double => d.isNaN
            case f: java.lang.Float => f.isNaN
            case _ => false
          }
          if (hasNaN) None
          else Some(FilterApi.and(gtEq(converted.min(o)),
            ltEq(converted.max(o))))
        }
      case SnapshotPrune.Bound(_, lo, hi)
          if lo.isDefined || hi.isDefined =>
        // bounds arrive INCLUSIVE (strictness already widened at
        // parse) — gtEq/ltEq match that exactly
        val loP = lo.map(v => gtEq(conv(v).getOrElse(return None)))
        val hiP = hi.map(v => ltEq(conv(v).getOrElse(return None)))
        (loP.toSeq ++ hiP.toSeq).reduceOption(FilterApi.and)
      case SnapshotPrune.NotNull(_) =>
        // null-count statistics veto ALL-NULL row groups; a group with
        // any non-null value is admitted (notEq keeps nulls-only
        // groups out, exactly the IS_NOT_NULL rider's ask)
        phys match {
          case INT64 => Some(FilterApi.notEq(FilterApi.longColumn(field),
            null.asInstanceOf[java.lang.Long]))
          case INT32 => Some(FilterApi.notEq(FilterApi.intColumn(field),
            null.asInstanceOf[java.lang.Integer]))
          case DOUBLE => Some(FilterApi.notEq(
            FilterApi.doubleColumn(field),
            null.asInstanceOf[java.lang.Double]))
          case FLOAT => Some(FilterApi.notEq(FilterApi.floatColumn(field),
            null.asInstanceOf[java.lang.Float]))
          case BINARY => Some(FilterApi.notEq(
            FilterApi.binaryColumn(field), null.asInstanceOf[Binary]))
          case BOOLEAN => Some(FilterApi.notEq(
            FilterApi.booleanColumn(field),
            null.asInstanceOf[java.lang.Boolean]))
          case _ => None
        }
      case _ => None
    }
  }
}
