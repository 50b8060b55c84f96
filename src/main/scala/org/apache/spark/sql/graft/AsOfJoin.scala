package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, ClusteredDistribution, Distribution, IdentityBroadcastMode, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.types.DataType
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native as-of join — the §7.3(c) extension path exercised end-to-end:
  * custom `LogicalPlan` node → `SparkStrategy` → `SparkPlan`, injected via
  * `SparkSessionExtensions` ([[GraftExtensions]]).
  *
  * Semantics: for every left row, attach the LAST right row with the same
  * key and `rightOrd < leftOrd` (strictly prior — pandas `merge_asof`
  * with `allow_exact_matches=False`), or nulls if none. This is the
  * operator behind "most recent prior event" queries (q48's shape,
  * `events` table).
  *
  * Why a custom physical operator when q48 already composes it from a
  * window (`last(..., ignoreNulls) OVER (... ROWS BETWEEN UNBOUNDED
  * PRECEDING AND 1 PRECEDING)`): the window form must first UNION the two
  * streams into one partition-sorted pass and materializes the window
  * buffer per row; the native exec takes the two sides separately —
  * `requiredChildDistribution` co-partitions them on the key,
  * `requiredChildOrdering` sorts within partitions (EnsureRequirements
  * inserts the exchanges/sorts, so AQE still plans the shuffles) — and
  * then streams BOTH sides once with a two-pointer merge: O(1) state (one
  * buffered right row), no window buffer, no union. At 100 TB: one shuffle
  * per side (same as the window form's single shuffle over the union), but
  * the merge never holds more than one right row per key in memory, versus
  * a window frame that buffers per partition-key run.
  *
  * Key and ord accept any orderable atomic type (long, int, timestamp,
  * date, string, double, decimal — compared via Catalyst's interpreted
  * ordering, the same total order the inserted sorts use); left/right types
  * must match pairwise. Key NULLs form their own group (SQL window
  * PARTITION BY semantics), ord NULLs sort first (Ascending default).
  */
case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
                        leftKey: Expression, rightKey: Expression,
                        leftOrd: Expression, rightOrd: Expression,
                        broadcastRight: Boolean = false,
                        inclusive: Boolean = false,
                        tolerance: Option[Long] = None)
    extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy: AsOfJoinPlan → merge or broadcast exec (the
  * `broadcastRight` flag plays the role of a broadcast() hint). */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lo, ro, bcast, incl, tol) =>
      if (bcast)
        AsOfJoinBroadcastExec(planLater(l), planLater(r), lk, rk, lo, ro, incl, tol) :: Nil
      else AsOfJoinExec(planLater(l), planLater(r), lk, rk, lo, ro, incl, tol) :: Nil
    case _ => Nil
  }
}

/** The key/order expressions of an as-of join bound to their child's
  * output, plus what the per-partition closures read off the plan. */
case class AsOfBound(lk: Expression, lo: Expression, rk: Expression,
    ro: Expression, rightWidth: Int, outAttrs: Seq[Attribute],
    keyType: DataType, ordType: DataType)

/** What both physical as-of joins share: the output (every right column
  * nullable — an unmatched left row gets nulls) and the bound expressions. */
trait AsOfJoinExecBase extends BinaryExecNode {
  def leftKey: Expression
  def rightKey: Expression
  def leftOrd: Expression
  def rightOrd: Expression

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  protected def bound: AsOfBound = AsOfBound(
    BindReferences.bindReference(leftKey, left.output),
    BindReferences.bindReference(leftOrd, left.output),
    BindReferences.bindReference(rightKey, right.output),
    BindReferences.bindReference(rightOrd, right.output),
    right.output.length, output, leftKey.dataType, leftOrd.dataType)
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
                        leftKey: Expression, rightKey: Expression,
                        leftOrd: Expression, rightOrd: Expression,
                        inclusive: Boolean = false,
                        tolerance: Option[Long] = None)
    extends AsOfJoinExecBase {

  // co-partition on the key, sort within partitions by (key, ord):
  // EnsureRequirements inserts the exchanges and sorts
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(leftKey)), ClusteredDistribution(Seq(rightKey)))
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(leftKey, Ascending), SortOrder(leftOrd, Ascending)),
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightOrd, Ascending)))
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftOrd, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    // keyType/ordType: the same total order the required child sorts use
    // (Ascending, NULLS FIRST), over the expressions' declared type
    val AsOfBound(lk, lo, rk, ro, rightWidth, outAttrs, keyType, ordType) = bound
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val keyOrd = TypeUtils.getInterpretedOrdering(keyType)
      val ordOrd = TypeUtils.getInterpretedOrdering(ordType)
      new Iterator[InternalRow] {
        private val nullRight = new GenericInternalRow(rightWidth)
        private val joined = new JoinedRow
        // every SparkPlan must emit UnsafeRow — a raw JoinedRow blows up
        // in a downstream exchange/sort that casts (the spec's Project
        // between this exec and the sort masked it)
        private val toUnsafe = UnsafeProjection.create(outAttrs, outAttrs)
        private var rRow: InternalRow = advanceRight()
        // the remembered best-so-far right row, tagged with its key/ord
        private var mRow: InternalRow = _
        private var mKey: Any = _
        private var mOrd: Any = _

        private def advanceRight(): InternalRow =
          if (rIter.hasNext) rIter.next() else null

        // total order with NULLS FIRST (matches Ascending sort order)
        private def cmp(ord: Ordering[Any], a: Any, b: Any): Int =
          if (a == null && b == null) 0 else if (a == null) -1
          else if (b == null) 1 else ord.compare(a, b)

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lkv = lk.eval(l)
          val lov = lo.eval(l)

          var scan = true
          while (scan && rRow != null) {
            val keyCmp = cmp(keyOrd, rk.eval(rRow), lkv)
            if (keyCmp < 0) {
              rRow = advanceRight() // right key behind every remaining left
            } else if (keyCmp == 0) {
              val ordCmp = cmp(ordOrd, ro.eval(rRow), lov)
              if (ordCmp < 0 || (inclusive && ordCmp == 0)) {
                // prior (or exact, in inclusive mode): best-so-far for
                // this key. Copy BEFORE caching key/ord: eval on a reused
                // row can return views into its buffer (UTF8String)
                mRow = rRow.copy() // iterators reuse row objects
                mKey = rk.eval(mRow)
                mOrd = ro.eval(mRow)
                rRow = advanceRight()
              } else scan = false
            } else scan = false // right key ahead: wait for left to catch up
          }

          var matched = mRow != null && cmp(keyOrd, mKey, lkv) == 0
          if (matched && tolerance.isDefined) {
            // integral ord contract enforced at construction: the match
            // must sit within `tolerance` ord units of the left row
            matched = mOrd != null && lov != null &&
              AsOfJoin.toOrdLong(lov) - AsOfJoin.toOrdLong(mOrd) <= tolerance.get
          }
          toUnsafe(joined(l, if (matched) mRow else nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Broadcast-right as-of join: for a small right side (a config/dimension
  * history), the merge exec's two shuffles are pure overhead — this variant
  * broadcasts the right side and leaves the left COMPLETELY alone: no
  * exchange, no sort, output partitioning = left's. Each task builds a
  * key → ord-sorted-rows index from the broadcast once (same per-task cost
  * model as ShuffledHashJoin's build side), then every left row binary-
  * searches for the last strictly-prior right row — O(log groupSize) per
  * row, no ordering requirement on the left at all. */
case class AsOfJoinBroadcastExec(left: SparkPlan, right: SparkPlan,
                                 leftKey: Expression, rightKey: Expression,
                                 leftOrd: Expression, rightOrd: Expression,
                                 inclusive: Boolean = false,
                                 tolerance: Option[Long] = None)
    extends AsOfJoinExecBase {

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(UnspecifiedDistribution, BroadcastDistribution(IdentityBroadcastMode))
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val AsOfBound(lk, lo, rk, ro, rightWidth, outAttrs, keyType, ordType) = bound
    val broadcastRows = right.executeBroadcast[Array[InternalRow]]()

    // HashMap grouping compares boxed eval values, so keys must have
    // value-based equals/hashCode ([[AsOfJoin.build]] rejects the rest at
    // construction). The one atomic wrinkle left is the signed zero:
    // java.lang.Double.equals(-0.0, 0.0) is false while the merge exec's
    // ordering (and SQL equality) treat them as one key — canonicalize.
    val normKey: Any => Any = keyType match {
      case org.apache.spark.sql.types.DoubleType => {
        case d: java.lang.Double if d.doubleValue() == 0.0d => java.lang.Double.valueOf(0.0d)
        case v => v
      }
      case org.apache.spark.sql.types.FloatType => {
        case f: java.lang.Float if f.floatValue() == 0.0f => java.lang.Float.valueOf(0.0f)
        case v => v
      }
      case _ => identity[Any]
    }

    left.execute().mapPartitionsInternal { lIter =>
      val ordOrd = TypeUtils.getInterpretedOrdering(ordType)
      def cmpOrd(a: Any, b: Any): Int =
        if (a == null && b == null) 0 else if (a == null) -1
        else if (b == null) 1 else ordOrd.compare(a, b)

      // key -> rows sorted by ord ascending (nulls first); null key is its
      // own group. Built once per task from the broadcast value.
      val index = new java.util.HashMap[Any, Array[InternalRow]]()
      val grouped = new java.util.HashMap[Any, java.util.ArrayList[InternalRow]]()
      broadcastRows.value.foreach { r =>
        val k = normKey(rk.eval(r))
        var g = grouped.get(k)
        if (g == null) { g = new java.util.ArrayList[InternalRow](); grouped.put(k, g) }
        g.add(r)
      }
      grouped.forEach { (k, g) =>
        val arr = g.toArray(new Array[InternalRow](g.size))
        java.util.Arrays.sort(arr, (a: InternalRow, b: InternalRow) =>
          cmpOrd(ro.eval(a), ro.eval(b)))
        index.put(k, arr)
      }

      val nullRight = new GenericInternalRow(rightWidth)
      val joined = new JoinedRow
      val toUnsafe = UnsafeProjection.create(outAttrs, outAttrs)
      lIter.map { l =>
        val group = index.get(normKey(lk.eval(l)))
        var best: InternalRow = null
        var lov: Any = null
        if (group != null) {
          lov = lo.eval(l)
          // rightmost row with ord < lov (or <= lov in inclusive mode)
          var low = 0
          var high = group.length - 1
          while (low <= high) {
            val mid = (low + high) >>> 1
            val c = cmpOrd(ro.eval(group(mid)), lov)
            if (c < 0 || (inclusive && c == 0)) { best = group(mid); low = mid + 1 }
            else high = mid - 1
          }
        }
        if (best != null && tolerance.isDefined) {
          val bo = ro.eval(best)
          if (bo == null || lov == null ||
            AsOfJoin.toOrdLong(lov) - AsOfJoin.toOrdLong(bo) > tolerance.get)
            best = null
        }
        toUnsafe(joined(l, if (best != null) best else nullRight))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinBroadcastExec =
    copy(left = newLeft, right = newRight)
}

object AsOfJoin {

  /** Left as-of join: every `left` row plus the columns of the last `right`
    * row with equal key and strictly smaller ord (nulls if none). Right
    * columns are re-aliased with `rightPrefix` and FRESH expression ids, so
    * self-joins (left and right derived from the same source) are
    * unambiguous without relying on analyzer deduplication. */
  def asofPrior(left: DataFrame, right: DataFrame,
                key: (String, String), ord: (String, String),
                rightPrefix: String = "r_"): DataFrame =
    build(left, right, key, ord, rightPrefix, broadcastRight = false)

  /** [[asofPrior]] with the right side broadcast: no shuffle and no sort on
    * the left (see [[AsOfJoinBroadcastExec]]). Use when the right side fits
    * in executor memory — the as-of analog of a broadcast() join hint. */
  def asofPriorBroadcast(left: DataFrame, right: DataFrame,
                         key: (String, String), ord: (String, String),
                         rightPrefix: String = "r_"): DataFrame =
    build(left, right, key, ord, rightPrefix, broadcastRight = true)

  /** pandas `merge_asof(tolerance=..., allow_exact_matches=...)`: the match
    * must additionally sit within `tolerance` ord units of the left row
    * (micros for timestamp ord, days for date, raw units for int/long —
    * integral ord types only), and `inclusive = true` admits `rightOrd ==
    * leftOrd` (allow_exact_matches). A prior row OUTSIDE the tolerance
    * yields nulls — the lookback window is part of the match, not a
    * post-filter, so "most recent view within 7 days" is one operator. */
  def asofPriorWithin(left: DataFrame, right: DataFrame,
                      key: (String, String), ord: (String, String),
                      tolerance: Long, inclusive: Boolean = false,
                      rightPrefix: String = "r_",
                      broadcastRight: Boolean = false): DataFrame = {
    require(tolerance >= 0, s"tolerance must be non-negative, got $tolerance")
    build(left, right, key, ord, rightPrefix, broadcastRight,
      inclusive = inclusive, tolerance = Some(tolerance))
  }

  /** Long view of an integral/temporal ord eval value (tolerance math). */
  private[graft] def toOrdLong(v: Any): Long = v match {
    case l: java.lang.Long => l.longValue()
    case i: java.lang.Integer => i.longValue()
    case s: java.lang.Short => s.longValue()
    case b: java.lang.Byte => b.longValue()
    case other => throw new IllegalStateException(
      s"non-integral ord value for tolerance: ${other.getClass}")
  }

  private def build(left: DataFrame, right: DataFrame,
                    key: (String, String), ord: (String, String),
                    rightPrefix: String, broadcastRight: Boolean,
                    inclusive: Boolean = false,
                    tolerance: Option[Long] = None): DataFrame = {
    val lp = left.queryExecution.analyzed
    val rp0 = right.queryExecution.analyzed
    val rp = Project(rp0.output.map(a => Alias(a, rightPrefix + a.name)()), rp0)

    def resolve(out: Seq[Attribute], n: String): Attribute =
      out.filter(_.name == n) match {
        case Seq(one) => one
        case Seq() => throw new IllegalArgumentException(
          s"column $n not in [${out.map(_.name).mkString(", ")}]")
        case many => throw new IllegalArgumentException(
          s"column $n is ambiguous: ${many.size} attributes match " +
            s"[${out.map(_.name).mkString(", ")}]")
      }
    val (lk, lo) = (resolve(lp.output, key._1), resolve(lp.output, ord._1))
    val (rk, ro) = (resolve(rp.output, rightPrefix + key._2),
      resolve(rp.output, rightPrefix + ord._2))
    Seq(lk, lo, rk, ro).foreach(a => require(RowOrdering.isOrderable(a.dataType),
      s"asofPrior requires orderable key/ord types; ${a.name} is ${a.dataType}"))
    if (broadcastRight) {
      // the broadcast exec groups/probes keys through a HashMap of boxed
      // eval values: arrays/structs (no value equals on UnsafeArrayData)
      // and binary (identity equals on Array[Byte]) would silently match
      // nothing — fail at construction; the merge exec still takes them
      import org.apache.spark.sql.types.{AtomicType, BinaryType}
      Seq(lk, rk).foreach(a => require(
        a.dataType.isInstanceOf[AtomicType] && a.dataType != BinaryType,
        s"asofPriorBroadcast requires an atomic non-binary key (hash-based " +
          s"probe); ${a.name} is ${a.dataType} — use asofPrior instead"))
    }
    require(lk.dataType == rk.dataType,
      s"key types differ: ${lk.dataType} vs ${rk.dataType}")
    require(lo.dataType == ro.dataType,
      s"ord types differ: ${lo.dataType} vs ${ro.dataType}")
    if (tolerance.isDefined) {
      import org.apache.spark.sql.types.{ByteType, DateType, IntegerType, LongType, ShortType, TimestampType, TimestampNTZType}
      val ok = Seq(ByteType, ShortType, IntegerType, LongType, DateType,
        TimestampType, TimestampNTZType)
      require(ok.contains(lo.dataType),
        s"tolerance needs an integral/temporal ord type; ${lo.dataType} is not")
    }

    Dataset.ofRows(left.sparkSession.asInstanceOf[ClassicSession],
      AsOfJoinPlan(lp, rp, lk, rk, lo, ro, broadcastRight, inclusive, tolerance))
  }
}
