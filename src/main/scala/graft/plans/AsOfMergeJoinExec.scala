package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}

/** Single-pass sorted-merge as-of join (backward AND forward).
  *
  * Contract (enforced by Catalyst through the requirements below, never
  * assumed): both children arrive co-partitioned on the `by` keys and
  * sorted by (by, on) within each partition. The merge then streams the
  * two iterators once per partition with O(1) state. Backward
  * (`forward=false`): the match is the last right row whose key equals
  * the current left key and whose time is ≤ (or < for `strict`) the
  * left time — `pd.merge_asof`'s backward semantics; among right rows
  * with equal (by, on) the LAST in sort order wins. Forward
  * (`forward=true`): the match is the FIRST right row at-or-after
  * (strictly after for `strict`) the left time — the right cursor skips
  * rows before the window and the row it rests on matches WITHOUT being
  * consumed (later left rows may share it); among equal (by, on) rights
  * the FIRST in sort order wins, mirroring [[
  * graft.operators.AsOfJoin.forward]]'s tie rule. Callers wanting a
  * specific winner dedup the right side first (the library's rating
  * feed already is unique per (id, ts)).
  *
  * Null ordering times sort first (Spark's ascending default) and never
  * match, the SQL rule: a null-time left row gets the null payload, and
  * a null-time right row is consumed without becoming a match.
  *
  * No codegen: the operator is a cold-path merge whose per-row work is
  * two comparisons and a projection; the children's scans/exchanges
  * keep their own whole-stage spans.
  */
case class AsOfMergeJoinExec(
    leftBy: Seq[Attribute],
    rightBy: Seq[Attribute],
    leftOn: Attribute,
    rightOn: Attribute,
    payload: Seq[Attribute],
    strict: Boolean,
    forward: Boolean,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftBy) :: ClusteredDistribution(rightBy) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftBy :+ leftOn).map(SortOrder(_, Ascending)),
    (rightBy :+ rightOn).map(SortOrder(_, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    (leftBy :+ leftOn).map(SortOrder(_, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfMergeJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lOnIdx = left.output.indexWhere(_.exprId == leftOn.exprId)
    val rOnIdx = right.output.indexWhere(_.exprId == rightOn.exprId)
    require(lOnIdx >= 0 && rOnIdx >= 0, "ordering columns not in child output")
    val keyTypes = leftBy.map(_.dataType)
    val strictLocal = strict
    val forwardLocal = forward
    val leftByLocal = leftBy
    val rightByLocal = rightBy
    val payloadLocal = payload
    val leftOutput = left.output
    val rightOutput = right.output
    val outputLocal = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(leftByLocal, leftOutput)
      val rKeyProj = UnsafeProjection.create(rightByLocal, rightOutput)
      val payProj = UnsafeProjection.create(payloadLocal, rightOutput)
      // Bind against the NULLABLE view of the payload: unmatched left
      // rows are joined to an all-null row, and a projection bound to a
      // non-nullable payload attribute (lit()/agg-derived) would emit a
      // null-check-free BoundReference — numerics silently read 0,
      // strings NPE — instead of the NULL `output` promises.
      val resultProj = UnsafeProjection.create(
        outputLocal, leftOutput ++ payloadLocal.map(_.withNullability(true)))
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      val nullPay = new GenericInternalRow(payloadLocal.length)

      def t(row: InternalRow, idx: Int): Long =
        if (row.isNullAt(idx)) Long.MinValue else row.getLong(idx)

      new Iterator[InternalRow] {
        private var rRow: InternalRow = _
        private var retained: InternalRow = _      // payload copy
        private var retainedKey: InternalRow = _   // key copy
        private def advanceRight(): Unit =
          rRow = if (rIter.hasNext) rIter.next() else null
        advanceRight()

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow =
          if (forwardLocal) nextForward() else nextBackward()

        private def nextBackward(): InternalRow = {
          val l = lIter.next()
          if (l.isNullAt(lOnIdx)) return resultProj(joined(l, nullPay))
          val lKey = lKeyProj(l)
          val lT = t(l, lOnIdx)
          // consume right rows that are at-or-before this left row in
          // the (key, time) order; the last same-key one is the match.
          // Key projections reuse their buffers — nothing is copied
          // except the retained (key, payload), once per retention.
          var continue = rRow != null
          while (continue) {
            val c = keyOrd.compare(rKeyProj(rRow), lKey)
            val rT = t(rRow, rOnIdx)
            val inWindow = c < 0 ||
              (c == 0 && (if (strictLocal) rT < lT else rT <= lT))
            if (inWindow) {
              if (c == 0 && !rRow.isNullAt(rOnIdx)) {
                retained = payProj(rRow).copy()
                retainedKey = rKeyProj(rRow).copy()
              }
              advanceRight()
              continue = rRow != null
            } else continue = false
          }
          val pay =
            if (retained != null && keyOrd.compare(retainedKey, lKey) == 0)
              retained
            else nullPay
          resultProj(joined(l, pay))
        }

        private def nextForward(): InternalRow = {
          val l = lIter.next()
          if (l.isNullAt(lOnIdx)) return resultProj(joined(l, nullPay))
          val lKey = lKeyProj(l)
          val lT = t(l, lOnIdx)
          // skip right rows BEFORE this left row's window start; the
          // row the cursor rests on is the match if it shares the key —
          // and is NOT consumed, because the next (later-or-equal) left
          // row may match it too. The skip predicate is monotone in the
          // left's (key, time) order, so the cursor never moves back.
          var continue = rRow != null
          while (continue) {
            val c = keyOrd.compare(rKeyProj(rRow), lKey)
            val rT = t(rRow, rOnIdx)
            val before = c < 0 ||
              (c == 0 && (if (strictLocal) rT <= lT else rT < lT))
            if (before) {
              advanceRight()
              continue = rRow != null
            } else continue = false
          }
          val pay =
            if (rRow != null && keyOrd.compare(rKeyProj(rRow), lKey) == 0)
              payProj(rRow)
            else nullPay
          resultProj(joined(l, pay))
        }
      }
    }
  }
}
