package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, AttributeReference, AttributeSet, Descending,
  Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.TimestampType

/** As-of join (backward and forward) as a first-class Catalyst operator:
  * logical node, optimizer rule, planner strategy, and a sort-merge
  * physical exec.
  *
  * `operators.Joins.asOf` re-expresses as-of as union + window — one
  * shuffle, one sort, but the window operator buffers a running frame and
  * every row is widened to carry BOTH side's payload structs through the
  * shuffle (left rows ship a null right-struct and vice versa). This node
  * is the whole-operator form the preference ladder bottoms out at: each
  * side shuffles only itself, clustered on the equality keys and sorted
  * (keys, ts) within partitions, and a single streaming merge walks the
  * two sorted iterators per partition holding exactly ONE candidate right
  * row at a time — no frame buffering, no null-padding, no
  * row-widening. Memory per task is O(1) beyond the sorters, so a 100 TB
  * run is bounded by the same shuffle the equivalent sort-merge equi-join
  * would pay and nothing else.
  *
  * Semantics (identical to `Joins.asOf`, which the spec cross-checks
  * row-for-row): every left row picks the right row with the greatest
  * right ts <= its own ts among rows with equal keys (backward), or the
  * smallest right ts >= its own (forward — the merge walks time in
  * reverse, same monotone pointer); left-outer (no matching right row ->
  * nulls); exact-simultaneous rows match in both directions; ties on
  * (keys, ts) resolve to the largest right payload (the physical sort
  * appends the payload columns ascending to the right-side ordering, so
  * the last-held row is the max); an optional tolerance nulls matches
  * with a time gap beyond `toleranceMicros`.
  *
  * Contract (enforced by the `AsOfNative` builder, assumed by the exec):
  * right rows with null keys or null ts are pre-filtered (a null-ts row
  * would sort first within its key and stall the merge pointer); left and
  * right key expressions are type-aligned; both ts columns are
  * TimestampType (micros as long — the tolerance subtraction relies on
  * it); right-side attributes carry fresh expr ids (self-join safe).
  */
case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Attribute],
    rightKeys: Seq[Attribute],
    leftTs: Attribute,
    rightTs: Attribute,
    payload: Seq[Attribute],
    matchedTs: AttributeReference,
    toleranceMicros: Option[Long],
    forward: Boolean) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ (matchedTs +: payload.map(_.withNullability(true)))

  /** matchedTs is minted by this node, not read from a child. */
  override def producedAttributes: AttributeSet = AttributeSet(matchedTs)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoin]] as [[AsOfJoinExec]]. Injected either per-session via
  * `spark.experimental.extraStrategies` (works on an already-built session
  * — the path `AsOfNative.join` uses, since the driver hands us its own
  * session) or at build time through [[GraftExtensions]]. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: AsOfJoin =>
      AsOfJoinExec(j.leftKeys, j.rightKeys, j.leftTs, j.rightTs, j.payload,
        j.matchedTs, j.toleranceMicros, j.forward,
        planLater(j.left), planLater(j.right)) :: Nil
    case _ => Nil
  }
}

/** Column pruning THROUGH the custom node. Catalyst's ColumnPruning
  * cannot drop an [[AsOfJoin]] payload column: every payload attribute is
  * referenced by the node's own constructor, so to the generic rule they
  * all look needed. This rule owns the node's semantics — a payload
  * column no Project above reads can be removed from the node AND from
  * the right child (via an inserted Project), which slims the right-side
  * shuffle by exactly those columns.
  *
  * The rewrite is result-identical ONLY when the dropped columns form a
  * suffix of the payload: the payload participates in the right-side
  * tie-break sort (equal-(keys, ts) rows resolve to the lexicographic
  * max), so dropping a column that PRECEDES a kept one would change the
  * sort — rows (a=1, b=9) vs (a=2, b=5) tied on (keys, ts) yield b=5
  * under [a, b] order but b=9 under [b] alone. Kept-is-a-prefix keeps the
  * sort on the surviving columns byte-identical (among rows tied on the
  * kept prefix, which of the dropped-suffix orderings wins is
  * unobservable — the dropped columns are exactly the ones nobody reads).
  *
  * Injected two ways, mirroring the strategy: build-time via
  * [[GraftExtensions]] (lands in the operator-optimization fixed-point,
  * so the inserted Project is itself pruned into the source relation) or
  * on a live session via `experimental.extraOptimizations` (end-of-
  * optimizer batch — still ahead of physical planning, where V1
  * FileSourceStrategy computes the scan's ReadSchema from the plan above
  * the relation, so the inserted Project narrows the parquet scan on this
  * path too; AsOfNativeSpec asserts the ReadSchema). */
object PruneAsOfPayload
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.Project

  private def prunablePrefix(
      projectList: Seq[Expression], j: AsOfJoin): Option[Seq[Attribute]] = {
    val keep = j.payload.filter(a =>
      projectList.exists(_.references.contains(a)))
    if (keep.length < j.payload.length &&
        keep == j.payload.take(keep.length)) Some(keep) else None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(projectList, j: AsOfJoin)
        if prunablePrefix(projectList, j).isDefined =>
      val keep = prunablePrefix(projectList, j).get
      val rKeep = (j.rightKeys ++ (j.rightTs +: keep)).distinct
      p.copy(child = j.copy(
        right = Project(rKeep, j.right), payload = keep))
  }
}

/** Build-time registration: [[graft.GraftSession]] installs it with
  * `withExtensions`; `spark.sql.extensions=graft.plans.GraftExtensions`
  * works too. */
class GraftExtensions
    extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    e.injectOptimizerRule(_ => PruneAsOfPayload)
  }
}

/** DataFrame-level entry point for the native as-of join. Mirrors the
  * signature of `Joins.asOf` (both directions, minus explicit tieBreak —
  * the native form always uses the max-payload tie rule) so the two
  * forms are drop-in interchangeable; the spec asserts they return
  * identical rows.
  */
object AsOfNative {

  def join(left: org.apache.spark.sql.DataFrame,
           right: org.apache.spark.sql.DataFrame,
           keys: Seq[String], leftTs: String, rightTs: String,
           rightCols: Seq[String],
           toleranceSec: Option[Long] = None,
           forward: Boolean = false)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graft.shims
    require(keys.nonEmpty, "asOf needs at least one equality key")
    val outTs = s"matched_$rightTs"
    val leftCols = left.columns.toSeq
    require(!(rightCols :+ outTs).exists(leftCols.contains),
      s"right payload/$outTs collide with left columns")
    require(!(rightCols :+ rightTs).exists(keys.contains),
      "rightTs/rightCols must be distinct from the keys")
    // a duplicate would make attr() silently resolve the payload column
    // to the ts attribute and emit a duplicate-valued output column
    require(!rightCols.contains(rightTs),
      s"rightTs $rightTs must not also be listed in rightCols")

    // accept TIMESTAMP_NTZ timestamps (parquet micros with
    // isAdjustedToUTC=false reads as NTZ): under the library's pinned UTC
    // session timezone the cast reinterprets the same micros, so the
    // operator is usable on either flavor without caller-side casts
    def tzNorm(df: org.apache.spark.sql.DataFrame, ts: String) =
      if (df.schema(ts).dataType == org.apache.spark.sql.types.TimestampNTZType)
        df.withColumn(ts, col(ts).cast(TimestampType))
      else df
    val lNorm = tzNorm(left, leftTs)
    val rNorm = tzNorm(right, rightTs)

    // same null semantics as Joins.asOf: a right row with a null key or
    // null ts can never be "the latest prior match" — and the merge
    // contract requires it gone (null ts sorts first within its key and
    // would stall the pointer)
    val rClean = rNorm.filter(
      (col(rightTs).isNotNull +: keys.map(col(_).isNotNull))
        .reduce(_ && _))
    // fresh expr ids via aliases: makes self-joins (left and right carved
    // from the same scan) unambiguous, the job Join's dedupRight does for
    // the built-in operator
    val rSel = rClean.select(
      (keys ++ (rightTs +: rightCols)).map(c => col(c).as(c)): _*)

    val lPlan = shims.analyzed(lNorm)
    val rPlan = shims.analyzed(rSel)
    def attr(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found"))
    val lKeys = keys.map(attr(lPlan, _))
    val rKeys = keys.map(attr(rPlan, _))
    val lTs = attr(lPlan, leftTs)
    val rTs = attr(rPlan, rightTs)
    require(lTs.dataType == TimestampType && rTs.dataType == TimestampType,
      "native as-of requires TimestampType timestamps on both sides")
    lKeys.zip(rKeys).foreach { case (a, b) =>
      require(a.dataType == b.dataType,
        s"key type mismatch: ${a.name} ${a.dataType} vs ${b.dataType}") }
    val payload = rightCols.map(attr(rPlan, _))
    payload.foreach(a => require(RowOrdering.isOrderable(a.dataType),
      s"payload column ${a.name} has non-orderable type ${a.dataType}; " +
        "use Joins.asOf with an explicit tieBreak"))
    val matchedTs =
      AttributeReference(outTs, TimestampType, nullable = true)()

    val spark = left.sparkSession
    shims.addStrategy(spark, AsOfJoinStrategy)
    shims.addOptimization(spark, PruneAsOfPayload)
    shims.ofRows(spark, AsOfJoin(lPlan, rPlan, lKeys, rKeys, lTs, rTs,
      payload, matchedTs, toleranceSec.map(_ * 1000000L), forward))
  }
}

/** Sort-merge as-of join.
  *
  * Distribution: both children clustered on their keys — EnsureRequirements
  * co-partitions them exactly as it would a sort-merge equi-join (and AQE
  * may coalesce both sides together, never one alone, or
  * ValidateRequirements rejects the re-plan). Ordering: (keys, ts) per
  * side — ts descending when `forward` — with the payload columns
  * appended ascending on the right so equal-(keys, ts) rows arrive in
  * payload order and the merge's last-held row is the deterministic max.
  *
  * The merge holds one projected (matchedTs, payload...) copy per key at a
  * time; left rows stream through untouched.
  */
case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    payload: Seq[Attribute],
    matchedTs: AttributeReference,
    toleranceMicros: Option[Long],
    forward: Boolean,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ (matchedTs +: payload.map(_.withNullability(true)))

  override def producedAttributes: AttributeSet = AttributeSet(matchedTs)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  /** Both sides walk time in the match direction (descending for
    * forward), keys ascending always; payload columns ascending within
    * equal (keys, ts) so the merge's last-held row is the max payload. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = {
    val tsDir = if (forward) Descending else Ascending
    Seq(
      leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTs, tsDir),
      (rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTs, tsDir))
        ++ payload.toSeq.map(SortOrder(_, Ascending)))
  }

  /** Left rows pass through unchanged, so the left child's clustering
    * survives — a downstream groupBy on the same keys reuses the exchange. */
  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTsExpr = leftTs
    val rTsExpr = rightTs
    val rProjExprs = rTsExpr +: payload.toSeq
    val outAttrs = output
    val rightArity = 1 + payload.size
    val tol = toleranceMicros
    val fwd = forward

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
      // codegen'd ordering over the projected key rows (interpreted
      // ordering costs a per-field type dispatch on every compare, and
      // the merge compares keys ~twice per input row)
      val keyOrd = RowOrdering.create(
        lKeyExprs.zipWithIndex.map { case (e, i) =>
          SortOrder(org.apache.spark.sql.catalyst.expressions
            .BoundReference(i, e.dataType, e.nullable), Ascending)
        }, Nil)
      val lTsProj = UnsafeProjection.create(Seq(lTsExpr), lOut)
      val rTsProj = UnsafeProjection.create(Seq(rTsExpr), rOut)
      val rOutProj = UnsafeProjection.create(rProjExprs, rOut)
      // outAttrs is both the output and the JoinedRow's schema (left
      // attrs ++ matched attrs) — and referencing the case-class fields
      // here would drag the whole plan tree into the task closure
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val nullRight = new GenericInternalRow(rightArity)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        // head of the right iterator not yet consumed by the merge.
        // rHeadKey points at rKeyProj's reused buffer — valid until the
        // next advance, which is the only place it is rewritten
        private var rHead: InternalRow = _
        private var rHeadKey: UnsafeRow = _
        // latest right row holdable for the current key region: projected
        // (matchedTs, payload...) copy + its key copy (copies happen only
        // when a row is actually held, not per advance)
        private var held: UnsafeRow = _
        private var heldKey: UnsafeRow = _

        private def advanceRight(): Unit =
          if (rIter.hasNext) {
            rHead = rIter.next()
            rHeadKey = rKeyProj(rHead)
          } else { rHead = null; rHeadKey = null }

        advanceRight()

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val lRow = lIter.next()
          val lKey = lKeyProj(lRow)
          val lTsRow = lTsProj(lRow)
          val lTsNull = lTsRow.isNullAt(0)
          val lTsVal = if (lTsNull) 0L else lTsRow.getLong(0)

          // advance the right side past every row at-or-before this left
          // position in walk order: rows of earlier keys are dead (left
          // is key-sorted too), rows of this key on the match side of
          // left ts (<= backward, >= forward) become the held candidate —
          // the last one wins, which the sort makes the tightest ts /
          // max payload
          var advancing = true
          while (advancing && rHead != null) {
            val c = keyOrd.compare(rHeadKey, lKey)
            if (c < 0) advanceRight()
            else if (c == 0 && !lTsNull && {
                val t = rTsProj(rHead)
                !t.isNullAt(0) && (if (fwd) t.getLong(0) >= lTsVal
                                   else t.getLong(0) <= lTsVal)
              }) {
              held = rOutProj(rHead).copy()
              heldKey = rHeadKey.copy()
              advanceRight()
            } else advancing = false
          }

          val matched = !lTsNull && held != null &&
            keyOrd.compare(heldKey, lKey) == 0 &&
            tol.forall(t => (if (fwd) held.getLong(0) - lTsVal
                             else lTsVal - held.getLong(0)) <= t)
          resultProj(joined(lRow, if (matched) held else nullRight))
        }
      }
    }
  }
}
