package graft.clean

import java.util.Objects

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Decimal, DoubleType, IntegerType, StructType}

/** Stage 0 (SURVEY.md §1.1, §7.3) in ONE sorted pass per bond.
  *
  * Rows are grouped on the id column and sorted by (dt, ord); one kernel
  * visits each bond once, on plain arrays, and runs the filters in
  * pipeline order:
  *  1. Dick-Nielsen cleaning per dt bucket ([[dickNielsen]]): J3 cancel,
  *     J7 n-th reversal, J9 agency;
  *  2. the decimal shift (W7): [[DecimalShift.anchorsOf]] over the
  *     survivors, then [[DecimalShift.gate]] per row;
  *  3. bounce-back (W8): [[BounceBack.scanGroup]] over the survivors in
  *     `ord` order, on the corrected price as the decimal(18,3) the panel
  *     reads (rounded by Spark's own `Decimal.changePrecision`, as `Cast`
  *     rounds).
  *
  * It emits every survivor with its input columns and, per step run,
  * `dec_shift_flag`, `dec_shift_factor`, `suggested_price`, `anchor_price`
  * (shift) and `filtered_error` (bounce-back). Key semantics are Spark's:
  * null keys group together, -0.0 equals 0.0, all NaNs are one value.
  *
  * Scale: one shuffle on the id column (none over a source already
  * partitioned by it), no window, no join. The kernel buffers one bond's
  * rows at a time, so memory is bounded by the largest bond.
  */
object Stage0 {

  /** The filters one pass runs. Production runs all three; the layer
    * entry points (`cleanedDagFrom`, `correctedDag`, [[BounceBack.flags]])
    * run one each. */
  final case class Steps(dickNielsen: Boolean, shift: Boolean, bounce: Boolean)

  object Steps {
    val all: Steps = Steps(dickNielsen = true, shift = true, bounce = true)
  }

  /** The one grouped pass. Input columns: `id`, `ord` and `price`; `dt`
    * for the cleaning and the shift; `qty`, `side`, `contra` and `trc_st`
    * for the cleaning. `ord` must order the rows of a bond — a total
    * order within (id, dt) for the shift, the reference's stable
    * (date, time) sort — and is read as a non-null long by the
    * bounce-back step. Rows with a null id get no shift anchor. */
  def pass(
      df: DataFrame,
      steps: Steps,
      shiftP: DecimalShift.Params = DecimalShift.Params(),
      bounceP: BounceBack.Params = BounceBack.Params()): DataFrame = {
    val in = df.withColumn("__p", col("price").cast("double"))
    val schema = in.schema
    var out = StructType(schema.fields.init)
    if (steps.shift)
      out = out.add("dec_shift_flag", IntegerType, nullable = false)
        .add("dec_shift_factor", DoubleType)
        .add("suggested_price", DoubleType)
        .add("anchor_price", DoubleType)
    if (steps.bounce) out = out.add("filtered_error", IntegerType, nullable = false)
    val sorted = steps.dickNielsen || steps.shift
    def at(c: String, needed: Boolean) = if (needed) schema.fieldIndex(c) else -1
    val dn = steps.dickNielsen
    val kernel = new Kernel(steps, schema.length - 1, at("dt", sorted),
      schema.fieldIndex("ord"), at("price", dn), at("qty", dn), at("side", dn),
      at("contra", dn), at("trc_st", dn), shiftP, bounceP)
    val order = if (sorted) Seq(col("dt"), col("ord")) else Seq(col("ord"))
    in.groupBy(col("id"))
      .as[Row, Row](Encoders.row(StructType(Seq(schema("id")))), Encoders.row(schema))
      .flatMapSortedGroups(order: _*)((key, it) => kernel(key.isNullAt(0), it.toArray))(
        Encoders.row(out))
      .toDF()
  }

  /** A price as the decimal(18,3) `Cast` makes of it, read back as a
    * double; NaN where the cast has no value. */
  private def price3(v: Any): Double = v match {
    case d: Double =>
      try {
        val dec = Decimal(d)
        if (dec.changePrecision(18, 3)) dec.toDouble else Double.NaN
      } catch { case _: NumberFormatException => Double.NaN }
    case _ => Double.NaN
  }

  /** A grouping key value under Spark's semantics for floating keys. */
  private def norm(v: Any): AnyRef = v match {
    case d: Double => java.lang.Double.valueOf(if (d == 0.0) 0.0 else d)
    case f: Float => java.lang.Float.valueOf(if (f == 0.0f) 0.0f else f)
    case o => o.asInstanceOf[AnyRef]
  }

  /** (price, qty): the Dick-Nielsen match key within one (id, dt). */
  private final class Key(val price: AnyRef, val qty: AnyRef) {
    override def equals(o: Any): Boolean = o match {
      case k: Key => Objects.equals(price, k.price) && Objects.equals(qty, k.qty)
      case _ => false
    }
    override def hashCode: Int = Objects.hashCode(price) * 31 + Objects.hashCode(qty)
  }

  private final class Kernel(steps: Steps, p: Int, dt: Int, ord: Int,
      price: Int, qty: Int, side: Int, contra: Int, trc: Int,
      shiftP: DecimalShift.Params, bounceP: BounceBack.Params)
      extends Serializable {

    def apply(nullId: Boolean, rows: Array[Row]): Iterator[Row] = {
      val kept =
        if (steps.dickNielsen) dickNielsen(rows, dt, price, qty, side, contra, trc)
        else rows
      val n = kept.length
      val prices = Array.tabulate[Any](n)(i => kept(i).get(p))
      val shifts =
        if (!steps.shift) null
        else {
          val anchors =
            if (nullId) new Array[Any](n)
            else DecimalShift.anchorsOf(kept.map(_.get(dt)), prices, shiftP.window)
          Array.tabulate(n)(i => DecimalShift.gate(prices(i), anchors(i), shiftP))
        }
      val filtered =
        if (!steps.bounce) null
        else {
          // ord order, whatever the sort: (dt, ord) need not be ord order
          val byOrd = Array.tabulate[Integer](n)(Integer.valueOf)
          java.util.Arrays.sort(byOrd, (a: Integer, b: Integer) =>
            java.lang.Long.compare(kept(a).getLong(ord), kept(b).getLong(ord)))
          val series = byOrd.map { i =>
            if (shifts != null) price3(shifts(i).price)
            else prices(i) match { case d: Double => d; case _ => Double.NaN }
          }
          val flags = BounceBack.scanGroup(series, bounceP)
          val out = new Array[Int](n)
          var k = 0
          while (k < n) { out(byOrd(k)) = flags(k); k += 1 }
          out
        }
      Iterator.tabulate(n) { i =>
        val r = kept(i)
        val vals = new Array[Any](p + (if (shifts != null) 4 else 0) +
          (if (filtered != null) 1 else 0))
        var j = 0
        while (j < p) { vals(j) = r.get(j); j += 1 }
        if (shifts != null) {
          val s = shifts(i)
          vals(j) = s.flag
          vals(j + 1) = s.factor
          vals(j + 2) = s.price
          vals(j + 3) = s.anchor
          j += 4
        }
        if (filtered != null) vals(j) = filtered(i)
        new GenericRow(vals)
      }
    }
  }

  /** The Dick-Nielsen survivors of one bond given in (dt, ord) order,
    * in that order. Per dt bucket (null dts form one bucket), with the
    * window formulation's semantics:
    *  - J3 cancel: a T row goes when an X row shares its (price, qty);
    *  - J7 reversal: the R rows of a side, counted before the cancel
    *    filter, cancel that side's first surviving T rows in ord order;
    *  - J9 agency: a (B,D) row goes when a J7 survivor with (S,D) shares
    *    its (price, qty). A null side or contra never proves a row is not
    *    (B,D) — SQL's `NOT (… AND NULL)` drops it too.
    * Keys compare as Spark groups them: nulls equal, -0.0 = 0.0, one NaN.
    */
  private[clean] def dickNielsen(rows: Array[Row], dt: Int, price: Int, qty: Int,
      side: Int, contra: Int, trc: Int): Array[Row] = {
    val out = ArrayBuffer.empty[Row]
    val cancels = new java.util.HashSet[Key]()
    val reversals = new java.util.HashMap[AnyRef, Integer]()
    val seen = new java.util.HashMap[AnyRef, Integer]()
    val sells = new java.util.HashSet[Key]()
    val bucket = ArrayBuffer.empty[Int]
    def keyOf(r: Row) = new Key(norm(r.get(price)), norm(r.get(qty)))
    def sideOf(r: Row) = r.get(side).asInstanceOf[AnyRef]
    var s = 0
    while (s < rows.length) {
      var e = s + 1
      while (e < rows.length && Objects.equals(rows(e).get(dt), rows(s).get(dt))) e += 1
      cancels.clear(); reversals.clear(); seen.clear(); sells.clear(); bucket.clear()
      var i = s
      while (i < e) {
        val r = rows(i)
        val st = r.get(trc)
        if ("X" == st) cancels.add(keyOf(r))
        else if ("R" == st)
          reversals.put(sideOf(r), reversals.getOrDefault(sideOf(r), 0) + 1)
        i += 1
      }
      i = s
      while (i < e) {
        val r = rows(i)
        if ("T" == r.get(trc) && !cancels.contains(keyOf(r))) {
          val n = seen.getOrDefault(sideOf(r), 0) + 1
          seen.put(sideOf(r), n)
          if (n > reversals.getOrDefault(sideOf(r), 0)) {
            bucket += i
            if ("D" == r.get(contra) && "S" == r.get(side)) sells.add(keyOf(r))
          }
        }
        i += 1
      }
      bucket.foreach { k =>
        val r = rows(k)
        val c = r.get(contra)
        val sd = r.get(side)
        val agency = (c == null || "D" == c) && (sd == null || "B" == sd)
        if (!(agency && sells.contains(keyOf(r)))) out += r
      }
      s = e
    }
    out.toArray
  }
}
