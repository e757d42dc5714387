package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BitwiseAnd, BitwiseOr, CreateArray, EqualTo, Expression, If, Literal, Not}
import org.apache.spark.sql.catalyst.expressions.aggregate.{DeclarativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, IntegerType, LongType, TimestampType}

/** Behavioral-analytics aggregates from the Doris function surface the
  * reference's replayed SQL can use (Doris docs: `WINDOW_FUNNEL`,
  * `RETENTION` — ClickHouse-lineage funnel/retention semantics).
  *
  * Tie semantics: transitions require STRICTLY increasing timestamps,
  * which corresponds to Doris/ClickHouse `strict_increase` MODE, not
  * their default (the default allows equal-timestamp chaining). The
  * strict mode is deliberate: it is the only choice whose result is a
  * pure function of the (ts, mask) multiset — deterministic under
  * partition-merge order and under the ns→µs truncation ties of the
  * events table — and it is what every oracle states (`b.t > a.t`).
  * A mode flag can widen this later if replayed SQL needs the default.
  *
  * Scale properties (the reason these are aggregates, not self-joins):
  * a funnel over N steps via joins is N-way self-join of the events
  * table — at 100 TB that is N shuffles of the full fact table. As
  * aggregates, both run in ONE hash aggregate: partial states combine
  * map-side, and only (group, state) rows cross the wire.
  *   - `graft_retention`: state is a single Long bitmask → a
  *     DeclarativeAggregate, fully codegen'd, zero allocation per row.
  *   - `graft_window_funnel`: state is the group's (ts, condMask) pairs
  *     restricted to funnel-relevant events (callers filter the input to
  *     the funnel's event types, so state is bounded by a user's funnel
  *     events, not their full history — same contract as Doris, whose
  *     state likewise buffers matching (ts, event) pairs).
  */
object FunnelAggs {

  // ---------------------------------------------------------------- funnel

  /** Max funnel level: the largest k such that events e1 < e2 < … < ek
    * (strictly increasing ts) match conds 1..k in order with
    * ts(ek) − ts(e1) ≤ window. Exact dynamic program over the sorted
    * pairs: `best(k)` = the LATEST chain-start ts among chains reaching
    * level k. Later starts dominate (the only cross-event constraint is
    * the span from the chain's start), and because events are processed
    * in ts order, `best` only ever contains chains whose last event
    * precedes the current one; equal-ts events are applied as one batch
    * against the pre-batch state so a tie can never chain with itself.
    */
  private[functions] def funnelLevel(events: Array[Long], masks: Array[Int],
                                     window: Long, steps: Int): Int = {
    val m = events.length
    // co-sort (ts, mask) by ts
    val idx = (0 until m).sortBy(i => events(i)).toArray
    val ts = idx.map(i => events(i))
    val mk = idx.map(i => masks(i))
    val best = Array.fill(steps + 1)(Long.MinValue)
    val cand = Array.fill(steps + 1)(Long.MinValue)
    var i = 0
    while (i < m) {
      val t = ts(i)
      var j = i
      var k = 1
      while (k <= steps) { cand(k) = Long.MinValue; k += 1 }
      while (j < m && ts(j) == t) {
        val mask = mk(j)
        k = 1
        while (k <= steps) {
          if ((mask & (1 << (k - 1))) != 0) {
            if (k == 1) { if (t > cand(1)) cand(1) = t }
            else if (best(k - 1) != Long.MinValue && t - best(k - 1) <= window && best(k - 1) > cand(k))
              cand(k) = best(k - 1)
          }
          k += 1
        }
        j += 1
      }
      k = 1
      while (k <= steps) { if (cand(k) > best(k)) best(k) = cand(k); k += 1 }
      i = j
    }
    var level = 0
    var k = 1
    while (k <= steps) { if (best(k) != Long.MinValue) level = k; k += 1 }
    level
  }

  /** Buffer: parallel (tsMicros, condMask) arrays. Merge = concat; the
    * DP runs once at eval. ONE wire codec, shared by every aggregate
    * that buffers this state (funnel + sequence) — two copies of the
    * format would have to evolve in lockstep or corrupt shuffled
    * partials. */
  final class FunnelState {
    val ts: ArrayBuffer[Long] = ArrayBuffer.empty
    val mask: ArrayBuffer[Int] = ArrayBuffer.empty
  }

  def serState(buffer: FunnelState): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.ts.size)
    var i = 0
    while (i < buffer.ts.size) {
      out.writeLong(buffer.ts(i)); out.writeInt(buffer.mask(i)); i += 1
    }
    bos.toByteArray
  }

  def deserState(bytes: Array[Byte]): FunnelState = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val s = new FunnelState
    val n = in.readInt()
    var i = 0
    while (i < n) { s.ts += in.readLong(); s.mask += in.readInt(); i += 1 }
    s
  }

  /** Greedy NON-OVERLAPPING complete-funnel matches over time-sorted
    * events: each match is the earliest event completing a full N-step
    * chain (span ≤ window), reported as (chainStartTs, endTs); matching
    * resumes after the end event, consuming everything before it. The
    * chain start is the LATEST feasible first-anchor (the DP's `best`
    * witness). Same tie-batch rule as [[funnelLevel]]. ts/mask MUST be
    * pre-sorted. */
  private[graft] def funnelMatches(ts: Array[Long], mask: Array[Int],
                                   window: Long, steps: Int): Seq[(Long, Long)] = {
    val m = ts.length
    val best = Array.fill(steps + 1)(Long.MinValue)
    val cand = Array.fill(steps + 1)(Long.MinValue)
    val out = Seq.newBuilder[(Long, Long)]
    var i = 0
    while (i < m) {
      val t = ts(i)
      var j = i
      var k = 1
      while (k <= steps) { cand(k) = Long.MinValue; k += 1 }
      var matched = false
      while (j < m && ts(j) == t && !matched) {
        val mk = mask(j)
        k = 1
        while (k <= steps && !matched) {
          if ((mk & (1 << (k - 1))) != 0) {
            if (k == 1) {
              if (steps == 1) { out += ((t, t)); matched = true }
              else if (t > cand(1)) cand(1) = t
            } else if (best(k - 1) != Long.MinValue && t - best(k - 1) <= window) {
              if (k == steps) {
                out += ((best(k - 1), t))
                matched = true // consume through this event, reset chains
              } else if (best(k - 1) > cand(k)) cand(k) = best(k - 1)
            }
          }
          k += 1
        }
        j += 1
      }
      if (matched) {
        k = 1
        while (k <= steps) { best(k) = Long.MinValue; k += 1 }
        // a match consumes EVERY event with ts ≤ its end, including the
        // rest of this tie-batch
        while (j < m && ts(j) == t) j += 1
        i = j
      } else {
        k = 1
        while (k <= steps) { if (cand(k) > best(k)) best(k) = cand(k); k += 1 }
        i = j
      }
    }
    out.result()
  }

  /** graft_window_funnel(windowMicros, ts, cond1, …, condN) → max level
    * reached (0..N). `ts` may be TIMESTAMP (internal µs long) or a LONG
    * already in µs; the window literal is µs. */
  case class WindowFunnelAggExpr(
      window: Long, tsExpr: Expression, conds: Seq[Expression],
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[FunnelState] {

    require(conds.nonEmpty && conds.size <= 31, "need 1..31 funnel steps")
    require(window >= 0, "window must be non-negative")

    override def children: Seq[Expression] = tsExpr +: conds
    override def dataType: DataType = IntegerType
    override def nullable: Boolean = false
    override def prettyName: String = "graft_window_funnel"

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      val tsOk = tsExpr.dataType == TimestampType || tsExpr.dataType == LongType
      val condsOk = conds.forall(_.dataType == BooleanType)
      if (!tsOk)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"ts must be TIMESTAMP or BIGINT µs, got ${tsExpr.dataType}")
      else if (!condsOk)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "every funnel step condition must be BOOLEAN")
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    }

    override def createAggregationBuffer(): FunnelState = new FunnelState

    override def update(buffer: FunnelState, input: InternalRow): FunnelState = {
      val t = tsExpr.eval(input)
      if (t != null) {
        var mask = 0
        var i = 0
        while (i < conds.size) {
          val c = conds(i).eval(input)
          if (c != null && c.asInstanceOf[Boolean]) mask |= 1 << i
          i += 1
        }
        if (mask != 0) { buffer.ts += t.asInstanceOf[Long]; buffer.mask += mask }
      }
      buffer
    }

    override def merge(buffer: FunnelState, other: FunnelState): FunnelState = {
      buffer.ts ++= other.ts; buffer.mask ++= other.mask; buffer
    }

    override def eval(buffer: FunnelState): Any =
      funnelLevel(buffer.ts.toArray, buffer.mask.toArray, window, conds.size)

    override def serialize(buffer: FunnelState): Array[Byte] = serState(buffer)
    override def deserialize(bytes: Array[Byte]): FunnelState = deserState(bytes)

    override def withNewMutableAggBufferOffset(newOffset: Int): WindowFunnelAggExpr =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): WindowFunnelAggExpr =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): WindowFunnelAggExpr =
      copy(tsExpr = newChildren.head, conds = newChildren.tail)
  }

  // ------------------------------------------------------------- retention

  /** graft_retention(cond1, …, condN) → array<boolean> of size N:
    * r[0] = cond1 ever held in the group; r[i] = r[0] AND cond_{i+1}
    * ever held (Doris RETENTION semantics — each later step is gated on
    * the first). State is ONE Long bitmask in an unsafe buffer row; all
    * of update/merge/eval are Catalyst expressions, so the aggregate
    * participates in whole-stage codegen like a built-in. */
  case class RetentionAggExpr(conds: Seq[Expression]) extends DeclarativeAggregate {

    require(conds.nonEmpty && conds.size <= 63, "need 1..63 retention steps")

    override def children: Seq[Expression] = conds
    override def dataType: DataType = ArrayType(BooleanType, containsNull = false)
    override def nullable: Boolean = false
    override def prettyName: String = "graft_retention"

    private lazy val mask = AttributeReference("mask", LongType, nullable = false)()
    override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(mask)
    override lazy val initialValues: Seq[Expression] = Seq(Literal(0L))

    override lazy val updateExpressions: Seq[Expression] = Seq(
      conds.zipWithIndex.foldLeft[Expression](mask) { case (acc, (c, i)) =>
        BitwiseOr(acc, If(EqualTo(c, Literal(true)), Literal(1L << i), Literal(0L)))
      })

    override lazy val mergeExpressions: Seq[Expression] =
      Seq(BitwiseOr(mask.left, mask.right))

    private def bit(i: Int): Expression =
      Not(EqualTo(BitwiseAnd(mask, Literal(1L << i)), Literal(0L)))

    override lazy val evaluateExpression: Expression = CreateArray(
      bit(0) +: (1 until conds.size).map(i => And(bit(0), bit(i))))

    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): RetentionAggExpr =
      copy(conds = newChildren)
  }

  // ----------------------------------------------------------- registration

  def register(spark: SparkSession): Unit =
    RegisterOnce(spark, "FunnelAggs")(doRegister(spark))
  private def doRegister(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction("graft_window_funnel",
      { exprs =>
        require(exprs.length >= 3, "graft_window_funnel(windowMicros, ts, cond1, ...)")
        WindowFunnelAggExpr(ExprLits.litLong(exprs.head, "windowMicros"), exprs(1), exprs.drop(2))
          .toAggregateExpression()
      }, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction("graft_retention",
      { exprs =>
        require(exprs.nonEmpty, "graft_retention(cond1, ...)")
        RetentionAggExpr(exprs).toAggregateExpression()
      }, "built-in")
  }
}
