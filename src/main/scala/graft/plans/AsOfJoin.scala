package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.graftbridge.DatasetBridge

/** Native as-of join — the whole-operator rung of the custom-operator
  * ladder (SURVEY §4): a [[LogicalPlan]] node, a planner [[Strategy]],
  * and a sort-merge [[SparkPlan]], registered through
  * SparkSessionExtensions / [[GraftExtensions.install]].
  *
  * Semantics (time-series enrichment, the kdb/pandas `asof` operator
  * Spark lacks natively): for each left row, the single right row with
  * equal keys and the greatest `rightTime <= leftTime` (backward,
  * default; ties on time broken by the greatest `rightTies` tuple) or
  * the smallest `rightTime >= leftTime` (forward; ties to the smallest
  * tuple), optionally rejected when farther than `tolerance` native
  * time units — the full pandas merge_asof surface. Left rows with no
  * match keep NULL right columns. NULL keys or NULL times never match
  * (standard join-key semantics).
  *
  * Why a custom operator instead of composition: the union-window
  * spelling (q16) interleaves BOTH tables through one shuffle + sort and
  * drags every right payload column through a `last(ignoreNulls)` window
  * over the merged stream; the correlated-subquery spelling is
  * O(left × right/key). This node shuffles each side once on its own
  * keys, sorts each side independently (smaller sorts, spillable
  * per-side), then streams a single-pass two-pointer merge per
  * partition — O(|L| + |R|) with O(1) state (ONE buffered right row per
  * partition, no per-key right buffering at all). At 100 TB that is the
  * same exchange count as the union trick but strictly less sort volume
  * and no merged-stream window state; AQE still handles skewed keys
  * because the exchanges are ordinary hash exchanges.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTies: Seq[Expression],
    forward: Boolean = false,
    tolerance: Option[Long] = None)
  extends BinaryNode {

  require(leftKeys.length == rightKeys.length && leftKeys.nonEmpty,
    "as-of join requires matching non-empty key lists")
  require(tolerance.forall(_ >= 0), "as-of join tolerance must be >= 0")

  // plan-time type validation: the exec compares right-side times with an
  // ordering built from leftTime.dataType, and key projections must be
  // pairwise comparable — a mismatch (e.g. DateType vs TimestampType)
  // must fail HERE with the semantic error, not at runtime with a
  // ClassCastException mid-merge. TimestampType and TimestampNTZType are
  // mutually accepted: both are micros-since-epoch Longs with identical
  // ordering (the engine's parquet tables surface NTZ under the UTC
  // session zone). Guarded on `resolved` so an analyzer pass over
  // still-unresolved expressions doesn't throw dataType.
  if ((leftTime +: rightTime +: (leftKeys ++ rightKeys)).forall(_.resolved)) {
    def compatible(a: org.apache.spark.sql.types.DataType,
        b: org.apache.spark.sql.types.DataType): Boolean = {
      import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
      val tsFamily = Set[org.apache.spark.sql.types.DataType](
        TimestampType, TimestampNTZType)
      a == b || (tsFamily.contains(a) && tsFamily.contains(b))
    }
    require(compatible(leftTime.dataType, rightTime.dataType),
      s"as-of join time columns must share a data type: left is " +
        s"${leftTime.dataType.catalogString}, right is " +
        s"${rightTime.dataType.catalogString}")
    leftKeys.zip(rightKeys).zipWithIndex.foreach { case ((lk, rk), i) =>
      require(compatible(lk.dataType, rk.dataType),
        s"as-of join key pair $i must share a data type: left is " +
          s"${lk.dataType.catalogString}, right is ${rk.dataType.catalogString}")
    }
    if (tolerance.isDefined) {
      import org.apache.spark.sql.types._
      val integral = Set[DataType](TimestampType, TimestampNTZType, DateType,
        LongType, IntegerType, ShortType, ByteType)
      require(integral.contains(leftTime.dataType),
        "as-of join tolerance needs an integral-backed time type " +
          "(timestamp/date/integer); got " + leftTime.dataType.catalogString +
          " — tolerance is a delta in the column's native units " +
          "(microseconds for timestamps, days for dates)")
    }
  }

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] as [[AsOfJoinExec]]. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, ties, fwd, tol) =>
      AsOfJoinExec(lk, rk, lt, rt, ties, fwd, tol,
        planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Sort-merge as-of: each child hash-clustered on its keys (co-partition
  * enforced by EnsureRequirements, exactly as for an equi-join) and
  * sorted by (keys, time[, ties]); per partition a two-pointer merge with
  * O(1) state in BOTH directions:
  *
  *  - backward (default): keeps the LAST right row at or before the
  *    current left row's time. Because the right side is sorted by
  *    (keys, time, ties) ascending, "last consumed" IS the tie-broken
  *    winner (greatest ties) — no per-key buffering.
  *  - forward: the match is the FIRST right row at or after the left
  *    time — exactly the next unconsumed right row once everything
  *    strictly older has been discarded (ties resolved to the SMALLEST
  *    ties tuple, the first in ascending order); the buffered row is NOT
  *    consumed on match, since later left rows may share it.
  *
  * `tolerance` (pandas merge_asof semantics) bounds the match distance
  * in the time column's native integral units: a backward match further
  * than `lt − rt > tol` (or forward `rt − lt > tol`) yields NULLs
  * instead. Evaluated at emit time on the single carried row, so the
  * merge state stays O(1).
  */
case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTies: Seq[Expression],
    forward: Boolean,
    tolerance: Option[Long],
    left: SparkPlan,
    right: SparkPlan)
  extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys ++ (rightTime +: rightTies)).map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val keyTypes = leftKeys.map(_.dataType)
    val rightWidth = right.output.size
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(leftKeys, left.output)
      val rKeyProj = UnsafeProjection.create(rightKeys, right.output)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val lTime = BindReferences.bindReference(leftTime, left.output)
      val rTime = BindReferences.bindReference(rightTime, right.output)
      val timeOrd = org.apache.spark.sql.catalyst.util.TypeUtils
        .getInterpretedOrdering(leftTime.dataType)
      val nullRight = new GenericInternalRow(rightWidth)
      val joined = new JoinedRow
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)

      val fwd = forward
      val tol = tolerance
      // integral time value for the tolerance delta (timestamps and dates
      // are Long/Int in InternalRow; plan-time validation guarantees this)
      def timeL(v: Any): Long = v match {
        case l: java.lang.Long => l
        case i: java.lang.Integer => i.toLong
        case s: java.lang.Short => s.toLong
        case b: java.lang.Byte => b.toLong
      }

      new Iterator[InternalRow] {
        // one buffered not-yet-consumed right row + (backward only) the
        // last match; both COPIES because execute() reuses its UnsafeRow
        private var pending: InternalRow = _
        private var pendingKey: InternalRow = _
        private var lastMatch: InternalRow = _
        private var lastMatchKey: InternalRow = _

        private def refill(): Unit =
          while (pending == null && rIter.hasNext) {
            val r = rIter.next()
            val k = rKeyProj(r)
            // NULL right keys/times can never be an as-of match: drop here
            if (!k.anyNull && rTime.eval(r) != null) {
              pending = r.copy()
              pendingKey = k.copy()
            }
          }

        override def hasNext: Boolean = lIter.hasNext

        // Saturating: sentinel timestamps near ±Long.MaxValue must read as
        // out-of-tolerance, not wrap to a small (accepting) delta.
        private def withinTol(l: InternalRow, r: InternalRow): Boolean =
          tol.isEmpty || {
            val d =
              try {
                if (fwd) Math.subtractExact(timeL(rTime.eval(r)), timeL(lTime.eval(l)))
                else Math.subtractExact(timeL(lTime.eval(l)), timeL(rTime.eval(r)))
              } catch { case _: ArithmeticException => Long.MaxValue }
            d <= tol.get
          }

        private def nextBackward(l: InternalRow, kL: InternalRow, tL: Any): InternalRow = {
          var done = false
          while (!done) {
            refill()
            if (pending == null) done = true
            else {
              val c = keyOrd.compare(pendingKey, kL)
              if (c < 0) pending = null // right key already passed by: discard
              else if (c == 0 && timeOrd.lteq(rTime.eval(pending), tL)) {
                lastMatch = pending // ascending (time, ties): last wins
                lastMatchKey = pendingKey
                pending = null
              } else done = true // right is ahead of this left row
            }
          }
          val matched = lastMatch != null &&
            keyOrd.compare(lastMatchKey, kL) == 0 && withinTol(l, lastMatch)
          resultProj(joined(l, if (matched) lastMatch else nullRight))
        }

        private def nextForward(l: InternalRow, kL: InternalRow, tL: Any): InternalRow = {
          var done = false
          while (!done) {
            refill()
            if (pending == null) done = true
            else {
              val c = keyOrd.compare(pendingKey, kL)
              // strictly-older same-key rows can serve no later left row
              // either (left times ascend within the key): discard
              if (c < 0 || (c == 0 && timeOrd.lt(rTime.eval(pending), tL)))
                pending = null
              else done = true
            }
          }
          // pending is now the minimal (time, ties) right row with
          // rt >= lt for this key — the forward match. NOT consumed: the
          // next left row of this key may share it.
          val matched = pending != null &&
            keyOrd.compare(pendingKey, kL) == 0 && withinTol(l, pending)
          resultProj(joined(l, if (matched) pending else nullRight))
        }

        override def next(): InternalRow = {
          val l = lIter.next()
          val kL = lKeyProj(l)
          val tL = lTime.eval(l)
          if (kL.anyNull || tL == null) return resultProj(joined(l, nullRight))
          if (fwd) nextForward(l, kL, tL) else nextBackward(l, kL, tL)
        }
      }
    }
  }
}

/** Public API: `AsOf.join(events, orders, Seq("user_id"), Seq("o_custkey"),
  * "ts", "o_orderdate", tieBreak = Seq("o_orderkey"))`. Children are taken
  * analyzed, so the custom node enters the optimizer resolved. The one
  * engine caller of [[GraftExtensions.install]]: the planner needs
  * [[AsOfJoinStrategy]] to execute the node. */
object AsOf {
  /** @param direction "backward" (default — latest right at or before the
    *                  left time) or "forward" (earliest right at or after)
    * @param tolerance max match distance in the time column's native
    *                  integral units (µs for timestamps, days for dates);
    *                  farther matches yield NULLs — pandas merge_asof
    *                  semantics */
  def join(
      left: DataFrame,
      right: DataFrame,
      leftKeys: Seq[String],
      rightKeys: Seq[String],
      leftTime: String,
      rightTime: String,
      tieBreak: Seq[String] = Nil,
      direction: String = "backward",
      tolerance: Option[Long] = None): DataFrame = {
    require(direction == "backward" || direction == "forward",
      s"as-of join direction must be 'backward' or 'forward', got '$direction'")
    val spark = left.sparkSession
    GraftExtensions.install(spark)
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"as-of join: column $name not in [${plan.output.map(_.name).mkString(", ")}]"))
    DatasetBridge.ofRows(spark, AsOfJoinPlan(
      lPlan, rPlan,
      leftKeys.map(attr(lPlan, _)), rightKeys.map(attr(rPlan, _)),
      attr(lPlan, leftTime), attr(rPlan, rightTime),
      tieBreak.map(attr(rPlan, _)),
      forward = direction == "forward", tolerance = tolerance))
  }

  /** Column-free convenience overload used by tests. */
  def join(left: DataFrame, right: DataFrame, key: (String, String),
      time: (String, String)): DataFrame =
    join(left, right, Seq(key._1), Seq(key._2), time._1, time._2)
}
