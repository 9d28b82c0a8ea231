package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode, Window}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType}

/** The distributed-ranking construction as a first-class operator
  * (I7 scale path, made automatic — VERDICT r8 item 3; broadened
  * eligibility — VERDICT r9 item 5).
  *
  * `sum(x) OVER (PARTITION BY k ORDER BY o ROWS UNBOUNDED PRECEDING)`,
  * `row_number()` and `rank()` hash-partition the table into ONE task
  * per distinct `k`: with low-cardinality keys (a 3-value flag, a
  * chromosome set) a 100 TB sort collapses onto |k| cores.  The
  * rewrite keeps identical semantics but range-partitions by (k, o)
  * so the sort runs on every core, then stitches per-partition
  * running values into global ones with a per-(partition, group)
  * offset table that is a few longs per task — input-size-independent.
  *
  * Opt-in (`spark.graft.ranked.autoRewrite=true`): cardinality is a
  * property of the DATA, not the plan, so the user asserts the
  * low-|k| regime.  With high-cardinality keys the hash-partitioned
  * window is already parallel and cheaper (one exchange, no offset
  * job) — the default stays off.  Measured at sf1 (r10 A/B): low-|k|
  * windows hold parity under the rewrite (q_coverage, q_token_shard,
  * q_sessionize), while high-|k| ones regress 3-5× (q_window by
  * customer, q_markdup by read-position keys: millions of groups make
  * the pass-1 offset table itself the bottleneck) — enable the rule
  * per-query on low-|k| windows, not globally on mixed workloads.
  *
  * Tie behavior: rows equal under (k, o) take an arbitrary order, as
  * they do in the window form (ROWS frames over ties are
  * order-sensitive in any engine); `rank()` is tie-exact — peer runs
  * that span range-partition boundaries are chained through the
  * offset table (see [[RankedWindowRule]]).
  */
sealed trait RankedKind extends Serializable
object RankedKind {
  /** Running sum of a BIGINT delta.  SQL null semantics: null deltas
    * are skipped and the output stays null until the first value. */
  case object RSum extends RankedKind
  case object RRowNumber extends RankedKind
  /** `rank()`: the global position of the current peer-run's first
    * row.  Exact under ties, including runs spanning partitions. */
  case object RRank extends RankedKind
  /** `dense_rank()`: 1 + the number of distinct order keys strictly
    * before the current run.  Exact across partitions: pass 1 counts
    * per-partition distinct keys, the driver merges boundary-spanning
    * runs so a key straddling an exchange boundary counts once. */
  case object RDenseRank extends RankedKind
  /** The whole-group total of a BIGINT delta on every row —
    * `sum(delta) OVER (PARTITION BY k)` with NO order, null iff the
    * group's deltas are all null.  Pass 1 already collects the
    * per-(partition, group) sums; the driver just adds them ACROSS
    * partitions instead of before-only, so the total rides the same
    * offset table for free (VERDICT r11 item 1a's "teach
    * RankedPrefixSum a per-group-total output column" — one operator
    * serves the running pass AND the totals pass, no second
    * aggregate + broadcast join).  Only meaningful combined with a
    * non-empty ORDER BY on the node: the order columns are what
    * spread each low-|k| group across range partitions — a
    * stand-alone unordered keyed window still has no distributed
    * rewrite (use groupBy + broadcast join-back). */
  case object RTotal extends RankedKind
}

/** How [[RankedLocalTopKExec]] may prune below the range exchange —
  * the strength depends on which ranking the `<= k` bound came from
  * (see [[RankedLimitRule]] for the safety proofs):
  *  - [[RankedLimitMode.ExactK]]: keep exactly the k order-first rows
  *    per (task, group); safe when the bound is a `row_number`.
  *  - [[RankedLimitMode.KeepTies]]: keep every row with at most k-1
  *    local rows strictly before it — boundary ties survive; needed
  *    when the bound is a `rank()` (competition ranking keeps whole
  *    tie bands).
  *  - [[RankedLimitMode.KeepDistinctTies]]: keep every row whose key
  *    is among the k smallest DISTINCT local keys; needed when the
  *    bound is a `dense_rank()` (a band's size never counts). */
sealed trait RankedLimitMode extends Serializable
object RankedLimitMode {
  case object ExactK extends RankedLimitMode
  case object KeepTies extends RankedLimitMode
  case object KeepDistinctTies extends RankedLimitMode
}

/** One logical node per Window spec; `kinds(i)`/`deltas(i)`/
  * `outAttrs(i)` describe the i-th window expression (deltas carries
  * Literal(1L) placeholders for row_number/rank so column pruning
  * sees every referenced input attribute). */
case class RankedPrefixSum(partCols: Seq[Expression],
                           orderSpec: Seq[SortOrder],
                           kinds: Seq[RankedKind],
                           deltas: Seq[Expression],
                           outAttrs: Seq[Attribute],
                           child: LogicalPlan,
                           limit: Option[Long] = None,
                           limitMode: RankedLimitMode = RankedLimitMode.ExactK)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output ++ outAttrs
  override def producedAttributes: AttributeSet = AttributeSet(outAttrs)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): RankedPrefixSum =
    copy(child = newChild)
}

/** Monotone packed sort-prefix for the ranked range sort (the
  * SKEWPROBE r12 class finding, closed): sorting by `(group, order)`
  * with a LOW-CARDINALITY leading string gives SortExec a prefix that
  * ties on ~every within-group comparison — each one then falls into
  * the row comparator, measured ~2× on the sort stage.  This
  * expression packs `group`'s first bytes AND a coarse 32-bit image
  * of the leading order key into ONE long that is prepended as an
  * extra leading sort column, so the prefix resolves within-group
  * comparisons too.
  *
  * Safety by construction — the packed key may only COARSEN the true
  * key `(group, order)`, never reorder it: a packed tie falls back to
  * the true columns (which follow in the sort order), while a strict
  * packed inequality always agrees with the true order.  Concretely:
  *
  *   - `group` ≤ 4 bytes with no NUL byte ("en", "chr1"): the 4
  *     zero-padded bytes are injective and order-preserving, so the
  *     low 32 bits can carry the order image, clamped to ≤ 0xFFFFFFFE;
  *   - `group` > 4 bytes or NUL-containing: the first 4 bytes are
  *     order-CONSISTENT but not injective, so the low bits are pinned
  *     to 0xFFFFFFFF — above every exact-mode image of the same
  *     prefix (a longer string sorts after any ≤4-byte string sharing
  *     its prefix), and equal for any two such strings (tie →
  *     fallback);
  *   - NULL group pins the whole key to the minimum (nulls-first);
  *   - the order image is the unsigned-monotone top 32 bits of the
  *     key (sign-flip for longs, zero-extend for ints, IEEE sortable
  *     bits for doubles — `doubleToLongBits` canonicalizes NaN to the
  *     greatest image), flipped for DESC, with explicit NULLS
  *     FIRST/LAST placement.
  *
  * The final XOR with Long.MinValue makes the unsigned packing
  * signed-comparable (the type SortExec's long prefix comparator
  * uses).  The key is never materialized into rows — it is evaluated
  * as a sort/partitioning expression only, so exchanges carry no
  * extra bytes. */
case class PackedSortKey(group: Expression, order: Expression,
                         descOrder: Boolean, nullsFirstOrder: Boolean)
    extends Expression {
  override def children: Seq[Expression] = Seq(group, order)
  override def nullable: Boolean = false
  override def dataType: org.apache.spark.sql.types.DataType = LongType
  override lazy val deterministic: Boolean = group.deterministic && order.deterministic
  override def prettyName: String = "graft_packed_sort_key"

  private def coarse(o: Any): Long = order.dataType match {
    case StringType =>
      // second GROUP column (always ASC NULLS FIRST): its first-4-byte
      // zero-padded image is order-CONSISTENT (never inverts byte-lex
      // order) and that is all monotonicity needs here — nothing
      // follows it inside the packed key, so non-injectivity (shared
      // prefixes, trailing NULs) only produces safe ties
      val s = o.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      val nb = s.numBytes()
      val n = if (nb < 4) nb else 4
      var u = 0L
      var i = 0
      while (i < n) { u = (u << 8) | (s.getByte(i) & 0xffL); i += 1 }
      u << (8 * (4 - n))
    case LongType =>
      // saturating ±2^31 window: FULL fidelity where real order keys
      // live (ids, counts, positions); values outside saturate to the
      // window edge — a tie, resolved by the true column.  The
      // alternative (top 32 bits) would instead tie on every
      // small-valued key, which is exactly the common case.
      val v = o.asInstanceOf[Long]
      if (v < -2147483648L) 0L
      else if (v > 2147483646L) 0xFFFFFFFEL
      else v + 2147483648L
    case IntegerType => (o.asInstanceOf[Int] ^ Int.MinValue).toLong & 0xFFFFFFFFL
    case _ => // DoubleType, gated by the planner: IEEE sortable bits —
      // the exponent rides the top bits, so the image discriminates
      // across magnitudes (doubleToLongBits canonicalizes NaN to the
      // greatest image, matching Spark's NaN-greatest ordering)
      val b = java.lang.Double.doubleToLongBits(o.asInstanceOf[Double])
      (b ^ ((b >> 63) | Long.MinValue)) >>> 32
  }

  /** Shared by eval and codegen: `u` is the type-coarsened unsigned
    * order image (ignored when `oNull`). */
  def packEval(g: org.apache.spark.unsafe.types.UTF8String,
               oNull: Boolean, u: Long): Long = {
    if (g == null) return Long.MinValue // == pack(0, 0): the global minimum
    val nb = g.numBytes()
    val n = if (nb < 4) nb else 4
    var g4 = 0L
    var tie = nb > 4
    var i = 0
    while (i < n) {
      val b = g.getByte(i) & 0xff
      if (b == 0) tie = true
      g4 = (g4 << 8) | b
      i += 1
    }
    g4 <<= 8 * (4 - n)
    val oPart =
      if (tie) 0xFFFFFFFFL
      else if (oNull) { if (nullsFirstOrder) 0L else 0xFFFFFFFEL }
      else {
        val c = if (u > 0xFFFFFFFEL) 0xFFFFFFFEL else u
        if (descOrder) 0xFFFFFFFEL - c else c
      }
    ((g4 << 32) | oPart) ^ Long.MinValue
  }

  override def eval(input: InternalRow): Any = {
    val g = group.eval(input)
    val o = order.eval(input)
    packEval(g.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      o == null, if (o == null) 0L else coarse(o))
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val gEv = group.genCode(ctx)
    val oEv = order.genCode(ctx)
    // fully inlined (no virtual call): the generated ordering
    // evaluates this expression once per COMPARISON on the fallback
    // path, so constant cost here is what the saturated regime pays
    val u = ctx.freshName("u")
    val g4 = ctx.freshName("g4")
    val tie = ctx.freshName("tie")
    val nb = ctx.freshName("nb")
    val i = ctx.freshName("i")
    val b = ctx.freshName("b")
    val oPart = ctx.freshName("oPart")
    val coarseCode = order.dataType match {
      case StringType =>
        s"""int ${u}nb = ${oEv.value}.numBytes(); int ${u}n = ${u}nb < 4 ? ${u}nb : 4;
           |for (int ${u}i = 0; ${u}i < ${u}n; ${u}i++) {
           |  $u = ($u << 8) | (${oEv.value}.getByte(${u}i) & 0xffL);
           |}
           |$u <<= 8 * (4 - ${u}n);""".stripMargin
      case LongType =>
        s"$u = ${oEv.value} < -2147483648L ? 0L : " +
          s"(${oEv.value} > 2147483646L ? 0xFFFFFFFEL : ${oEv.value} + 2147483648L);"
      case IntegerType => s"$u = ((long) (${oEv.value} ^ Integer.MIN_VALUE)) & 0xFFFFFFFFL;"
      case _ =>
        s"""long ${u}b = Double.doubleToLongBits(${oEv.value});
           |$u = (${u}b ^ ((${u}b >> 63) | Long.MIN_VALUE)) >>> 32;""".stripMargin
    }
    val nullsFirstJ = if (nullsFirstOrder) "true" else "false"
    val descJ = if (descOrder) "true" else "false"
    val code =
      code"""
        ${gEv.code}
        ${oEv.code}
        long ${ev.value};
        if (${gEv.isNull}) {
          ${ev.value} = Long.MIN_VALUE;
        } else {
          final int $nb = ${gEv.value}.numBytes();
          final int ${nb}n = $nb < 4 ? $nb : 4;
          long $g4 = 0L;
          boolean $tie = $nb > 4;
          for (int $i = 0; $i < ${nb}n; $i++) {
            final int $b = ${gEv.value}.getByte($i) & 0xff;
            if ($b == 0) $tie = true;
            $g4 = ($g4 << 8) | $b;
          }
          $g4 <<= 8 * (4 - ${nb}n);
          long $oPart;
          if ($tie) {
            $oPart = 0xFFFFFFFFL;
          } else if (${oEv.isNull}) {
            $oPart = $nullsFirstJ ? 0L : 0xFFFFFFFEL;
          } else {
            long $u = 0L;
            $coarseCode
            if ($u > 0xFFFFFFFEL) $u = 0xFFFFFFFEL;
            $oPart = $descJ ? 0xFFFFFFFEL - $u : $u;
          }
          ${ev.value} = (($g4 << 32) | $oPart) ^ Long.MIN_VALUE;
        }
      """
    ev.copy(code = code, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PackedSortKey =
    copy(group = newChildren(0), order = newChildren(1))
}

/** The ranked analog of Spark's InferWindowGroupLimit: a `rn <= k`
  * filter directly above an all-row_number [[RankedPrefixSum]] bounds
  * how many rows per group can survive, so each MAP task keeps only
  * its local k first-by-order rows per group BEFORE the range
  * exchange — the shuffle then carries ≤ |groups|·k rows per task
  * instead of the whole table.  Correct for the same reason Spark's
  * WindowGroupLimit is: if any of a row's order-predecessors was
  * locally pruned, that partition held ≥ k earlier rows of the group,
  * all of which survive, so the row's computed global row_number is
  * ≥ k+1 and the retained Filter drops it; rows with true rn ≤ k
  * keep every predecessor and their numbers are exact.  (Sum/rank/
  * dense_rank outputs would be corrupted by pruning — the rule only
  * fires when EVERY output is a row_number.)  Closes the measured
  * q_topk_per_group gap from the r12 A/B: the window form kept
  * WindowGroupLimit's pushdown, the ranked form had none. */
object RankedLimitRule extends Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}

  private val MaxPushedLimit = 1000000L // beyond this the map-side state
                                        // (k rows per group) stops being small

  private def sameSpec(a: RankedPrefixSum, b: RankedPrefixSum): Boolean =
    a.partCols.length == b.partCols.length &&
      a.partCols.zip(b.partCols).forall { case (x, y) => x.semanticEquals(y) } &&
      a.orderSpec.length == b.orderSpec.length &&
      a.orderSpec.zip(b.orderSpec).forall { case (x, y) =>
        x.child.semanticEquals(y.child) && x.direction == y.direction &&
          x.nullOrdering == y.nullOrdering
      }

  /** `r` plus every same-(part, order) RankedPrefixSum chained
    * directly below it (attribute-only Projects pass through): the
    * whole chain rides ONE range exchange, so the pruner belongs
    * below the BOTTOM node. */
  private def chainOf(r: RankedPrefixSum): Seq[RankedPrefixSum] = {
    val out = scala.collection.mutable.ArrayBuffer(r)
    var go = true
    while (go) {
      val below = out.last.child match {
        case c: RankedPrefixSum => Some(c)
        case Project(pl, c: RankedPrefixSum)
            if pl.forall(_.isInstanceOf[Attribute]) => Some(c)
        case _ => None
      }
      below match {
        case Some(c) if c.limit.isEmpty && sameSpec(out.last, c) => out += c
        case _ => go = false
      }
    }
    out.toSeq
  }

  /** The tightest `<= k` bound the predicate puts on any ranking
    * output of the chain, with the pruning mode that ranking's
    * semantics require (see [[RankedLimitMode]]). */
  private def bound(cond: Expression,
                    outs: Seq[(Attribute, RankedKind)]): Option[(Long, RankedLimitMode)] = {
    // a bare output attribute, or one behind a WIDENING int→long cast
    // (the `row_number().cast("bigint")` spelling — order-preserving,
    // so the bound transfers unchanged)
    def kindOf(e: Expression): Option[RankedKind] = e match {
      case a: Attribute => outs.collectFirst { case (o, k) if o.exprId == a.exprId => k }
      case c: Cast if c.dataType == LongType => kindOf(c.child)
      case _ => None
    }
    def lit(e: Expression): Option[Long] = e match {
      case Literal(v: Long, LongType) => Some(v)
      case Literal(v: Int, IntegerType) => Some(v.toLong)
      case _ => None
    }
    def mode(k: RankedKind): Option[RankedLimitMode] = k match {
      case RankedKind.RRowNumber => Some(RankedLimitMode.ExactK)
      case RankedKind.RRank => Some(RankedLimitMode.KeepTies)
      case RankedKind.RDenseRank => Some(RankedLimitMode.KeepDistinctTies)
      case _ => None // a sum/total bound says nothing about row position
    }
    def cand(a: Expression, k: Option[Long]): Option[(Long, RankedLimitMode)] =
      for { kk <- k; kind <- kindOf(a); m <- mode(kind) } yield (kk, m)
    splitConjunctivePredicates(cond).flatMap {
      case LessThanOrEqual(a, l) => cand(a, lit(l))
      case LessThan(a, l) => cand(a, lit(l).map(_ - 1))
      case EqualTo(a, l) => cand(a, lit(l)).orElse(cand(l, lit(a)))
      case GreaterThanOrEqual(l, a) => cand(a, lit(l))
      case GreaterThan(l, a) => cand(a, lit(l).map(_ - 1))
      case _ => None
    }.sortBy(_._1).headOption
  }

  /** Pruning kinds: pruned rows provably fail the bound conjunct, and
    * survivors' outputs stay exact — a row whose ranking is within
    * the bound has every strictly-earlier row (and, under the tie
    * modes, every tied row) locally retained, so its computed value
    * is unchanged; a row beyond the bound retains ≥ k earlier rows
    * and computes a value the Filter still rejects.  Sums/totals have
    * no such invariance — ANY node in the chain carrying one blocks
    * the rewrite. */
  private def prunable(k: RankedKind): Boolean = k match {
    case RankedKind.RRowNumber | RankedKind.RRank | RankedKind.RDenseRank => true
    case _ => false
  }

  /** Re-fire guard (ADVICE r13): once a prior pass lands the pruner on
    * the bottom node of a chain, a later pass sees the nodes ABOVE it
    * still limit-free — `chainOf` stops at the limited node and the
    * rule would insert a second (correct but redundant) local top-k
    * above the same range exchange.  A same-spec node with a limit
    * directly below the matched chain means the work is already done. */
  private def limitedBelow(bottom: RankedPrefixSum): Boolean = bottom.child match {
    case c: RankedPrefixSum => c.limit.nonEmpty && sameSpec(bottom, c)
    case Project(pl, c: RankedPrefixSum) if pl.forall(_.isInstanceOf[Attribute]) =>
      c.limit.nonEmpty && sameSpec(bottom, c)
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, r: RankedPrefixSum) if r.limit.isEmpty =>
      val chain = chainOf(r)
      if (!chain.forall(n => n.kinds.nonEmpty && n.kinds.forall(prunable)) ||
        limitedBelow(chain.last)) f
      else bound(cond, chain.flatMap(n => n.outAttrs.zip(n.kinds))) match {
        case Some((k, m)) if k <= MaxPushedLimit =>
          val bottom = chain.last
          val limited = bottom.copy(limit = Some(math.max(k, 0L)), limitMode = m)
          if (bottom eq r) f.copy(child = limited)
          else f.copy(child = r.transformUp {
            case n: RankedPrefixSum if n eq bottom => limited
          })
        case _ => f
      }
  }
}

/** Rewrites eligible Window nodes into [[RankedPrefixSum]].
  * Eligible: EVERY window expression of the node is one of
  *   - `sum(<bigint>)` (nullable or not) over `ROWS UNBOUNDED
  *     PRECEDING .. CURRENT ROW`,
  *   - `row_number()` (same frame),
  *   - `rank()` / `dense_rank()` (resolved to the same ROWS running
  *     frame by Spark's ResolveWindowFrame — both frame-insensitive),
  * all sharing the node's partition/order spec, with a non-empty
  * ORDER BY.
  *
  * Two gates with different defaults, because the tradeoffs differ:
  *   - KEYED windows rewrite only under the opt-in
  *     `spark.graft.ranked.autoRewrite` (default false): cardinality
  *     is a property of the data — high-|k| keys make the offset
  *     table the bottleneck (measured 3-5× regressions, see the
  *     operator scaladoc), so the user asserts the low-|k| regime.
  *   - KEYLESS windows (empty PARTITION BY) rewrite under
  *     `spark.graft.ranked.keylessRewrite`, DEFAULT TRUE (r11): a
  *     partition-less window unconditionally serializes the whole
  *     input onto ONE task, while the keyless ranked form is exact,
  *     parallel in cores, and its offset table is one entry per
  *     range partition — there is no cardinality regime in which the
  *     window form wins at scale.  Streaming plans are left alone
  *     (Spark already rejects non-time windows on streams). */
object RankedWindowRule extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    SQLConf.get.getConfString("spark.graft.ranked.autoRewrite", "false")
      .equalsIgnoreCase("true")

  private def keylessEnabled: Boolean =
    SQLConf.get.getConfString("spark.graft.ranked.keylessRewrite", "true")
      .equalsIgnoreCase("true")

  private val RunningRows =
    SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val keyed = enabled
    val keyless = keylessEnabled
    if (!keyed && !keyless) return plan
    plan.transformUp {
      case w: Window if w.windowExpressions.nonEmpty && w.orderSpec.nonEmpty &&
        (if (w.partitionSpec.isEmpty) keyless else keyed) &&
        !w.isStreaming &&
        w.windowExpressions.forall(_.deterministic) =>
        val parsed: Seq[Option[(RankedKind, Expression, Attribute)]] =
          w.windowExpressions.map {
            case a @ Alias(WindowExpression(fn,
                WindowSpecDefinition(ps, os, frame)), _)
                if ps == w.partitionSpec && os == w.orderSpec =>
              fn match {
                case ae: AggregateExpression
                    if frame == RunningRows &&
                      ae.aggregateFunction.isInstanceOf[Sum] &&
                      !ae.isDistinct && ae.filter.isEmpty &&
                      ae.aggregateFunction.children.head.dataType == LongType =>
                  Some((RankedKind.RSum,
                    ae.aggregateFunction.children.head, a.toAttribute))
                case _: RowNumber if frame == RunningRows =>
                  Some((RankedKind.RRowNumber, Literal(1L), a.toAttribute))
                case _: Rank if frame == RunningRows =>
                  Some((RankedKind.RRank, Literal(1L), a.toAttribute))
                case _: DenseRank if frame == RunningRows =>
                  Some((RankedKind.RDenseRank, Literal(1L), a.toAttribute))
                case _ => None
              }
            case _ => None
          }
        if (parsed.forall(_.isDefined)) {
          val fs = parsed.flatten
          RankedPrefixSum(w.partitionSpec, w.orderSpec,
            fs.map(_._1), fs.map(_._2), fs.map(_._3), w.child)
        } else w
    }
  }
}

object RankedStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case RankedPrefixSum(part, order, kinds, deltas, out, child, limit, mode) =>
      val planned = planLater(child)
      // the map-side top-k sits BELOW the exec, so EnsureRequirements
      // places the range exchange between them — pruning runs before
      // any byte shuffles
      val input = limit match {
        case Some(k) => RankedLocalTopKExec(part, order, k, mode, planned)
        case None => planned
      }
      RankedPrefixSumExec(part, order, kinds, deltas, out, input) :: Nil
    case _ => Nil
  }
}

/** Map-side per-group top-k: each input partition keeps only the rows
  * that can still satisfy a `ranking <= k` bound under the node's
  * ORDER BY, BEFORE the range exchange.
  *
  *  - [[RankedLimitMode.ExactK]] (row_number bound): bounded max-heap,
  *    exactly k rows per (task, group) — O(n log k), state = k rows ×
  *    |local groups|.  Ties at the boundary are dropped arbitrarily,
  *    matching row_number's arbitrary tie order.
  *  - [[RankedLimitMode.KeepTies]] (rank bound): a k-entry key heap
  *    tracks the k-th smallest local ORDER KEY; every row whose key
  *    is ≤ that threshold is kept — whole tie bands survive, as
  *    competition ranking requires.  Kept rows are buffered and
  *    re-filtered when the buffer outgrows 4k (the threshold only
  *    tightens, so late compaction is safe); final state = the true
  *    local survivor set + O(k).
  *  - [[RankedLimitMode.KeepDistinctTies]] (dense_rank bound): same,
  *    with the threshold = the k-th smallest DISTINCT key (a k-entry
  *    tree of keys).
  */
case class RankedLocalTopKExec(partCols: Seq[Expression],
                               orderSpec: Seq[SortOrder],
                               k: Long,
                               mode: RankedLimitMode,
                               child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val boundPart = partCols.map(BindReferences.bindReference(_, childOutput))
    val orderExprs = orderSpec.map(so =>
      BindReferences.bindReference(so.child, childOutput))
    val reboundOrders = orderSpec.zipWithIndex.map { case (so, i) =>
      so.copy(child = BoundReference(i, so.child.dataType, so.child.nullable))
    }
    val kInt = math.min(k, Int.MaxValue.toLong).toInt
    val theMode = mode
    child.execute().mapPartitions { it =>
      if (kInt <= 0) Iterator.empty
      else {
        val proj = UnsafeProjection.create(boundPart)
        val oProj = UnsafeProjection.create(orderExprs)
        val keyOrd = new InterpretedOrdering(reboundOrders)
        theMode match {
          case RankedLimitMode.ExactK =>
            // max-heap on the ORDER key: the root is the worst kept row
            val heapOrd = new java.util.Comparator[(UnsafeRow, InternalRow)] {
              override def compare(a: (UnsafeRow, InternalRow),
                                   b: (UnsafeRow, InternalRow)): Int =
                keyOrd.compare(b._1, a._1)
            }
            val heaps = scala.collection.mutable.LinkedHashMap[
              InternalRow, java.util.PriorityQueue[(UnsafeRow, InternalRow)]]()
            it.foreach { row =>
              val g = proj(row)
              val heap = heaps.get(g) match {
                case Some(h) => h
                case None =>
                  val h = new java.util.PriorityQueue[(UnsafeRow, InternalRow)](
                    math.min(kInt, 16), heapOrd)
                  heaps(g.copy()) = h
                  h
              }
              val key = oProj(row)
              if (heap.size < kInt) heap.add((key.copy(), row.copy()))
              else if (keyOrd.compare(key, heap.peek()._1) < 0) {
                heap.poll()
                heap.add((key.copy(), row.copy()))
              }
            }
            heaps.valuesIterator.flatMap { h =>
              import scala.jdk.CollectionConverters._
              h.iterator().asScala.map(_._2)
            }

          case tieMode =>
            val distinct = tieMode == RankedLimitMode.KeepDistinctTies
            // per group: a threshold tracker (k smallest keys — rows
            // or distinct) + a buffer of rows currently ≤ threshold
            final class TieState {
              private val revOrd = new java.util.Comparator[UnsafeRow] {
                override def compare(a: UnsafeRow, b: UnsafeRow): Int =
                  keyOrd.compare(b, a)
              }
              private val fwdOrd = new java.util.Comparator[UnsafeRow] {
                override def compare(a: UnsafeRow, b: UnsafeRow): Int =
                  keyOrd.compare(a, b)
              }
              private val heap: java.util.PriorityQueue[UnsafeRow] =
                if (distinct) null
                else new java.util.PriorityQueue[UnsafeRow](math.min(kInt, 16), revOrd)
              private val tree: java.util.TreeSet[UnsafeRow] =
                if (distinct) new java.util.TreeSet[UnsafeRow](fwdOrd) else null
              private val buf =
                scala.collection.mutable.ArrayBuffer[(UnsafeRow, InternalRow)]()
              private var compactAt = math.max(64, 4L * math.min(kInt, 1 << 20)).toInt

              private def full: Boolean =
                (if (distinct) tree.size else heap.size) >= kInt
              private def threshold: UnsafeRow =
                if (distinct) tree.last() else heap.peek()

              def offer(key: UnsafeRow, row: InternalRow): Unit = {
                val cmp = if (!full) -1 else keyOrd.compare(key, threshold)
                if (cmp > 0) return // ≥ k (distinct) keys strictly smaller
                val kc = key.copy()
                buf += ((kc, row.copy()))
                if (distinct) {
                  if (tree.add(kc) && tree.size > kInt) tree.pollLast()
                } else if (!full) heap.add(kc)
                else if (cmp < 0) { heap.poll(); heap.add(kc) }
                if (buf.length >= compactAt) compact()
              }

              private def compact(): Unit = if (full) {
                val t = threshold
                val kept = buf.filter(e => keyOrd.compare(e._1, t) <= 0)
                // amortize: when the bound is UNselective (top-k bands
                // covering most local rows — RANKEDLIMITPROBE_r14
                // measured q_top_bands 2.5x SLOWER from exactly this),
                // a compaction frees almost nothing and at a fixed
                // trigger the whole buffer is re-filtered every few
                // inserts — O(n²) per group.  If <25% was pruned,
                // double the trigger: total re-filter work stays O(n)
                // amortized whatever the survivor ratio.
                if (kept.length.toLong * 4 > buf.length.toLong * 3)
                  compactAt = math.min(1L << 30,
                    math.max(compactAt.toLong * 2, kept.length.toLong * 2)).toInt
                buf.clear(); buf ++= kept
              }

              def result: Iterator[InternalRow] = {
                compact()
                buf.iterator.map(_._2)
              }
            }
            val states =
              scala.collection.mutable.LinkedHashMap[InternalRow, TieState]()
            it.foreach { row =>
              val g = proj(row)
              val st = states.get(g) match {
                case Some(s) => s
                case None =>
                  val s = new TieState
                  states(g.copy()) = s
                  s
              }
              st.offer(oProj(row), row)
            }
            states.valuesIterator.flatMap(_.result)
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): RankedLocalTopKExec =
    copy(child = newChild)
}

/** Physical two-pass prefix computation.  EnsureRequirements satisfies
  * the [[OrderedDistribution]] below with ONE range exchange + sort on
  * (part, order); pass 1 (a small collect job over the exchanged RDD)
  * gathers per-(partition, group) totals — per-sum deltas, row counts,
  * and for `rank()` the min/max order keys with their peer counts —
  * pass 2 re-reads the same shuffle files (Spark reuses them across
  * the two jobs — the data moves once) and stitches local running
  * values into global ones.  All row work is InternalRow/UnsafeRow —
  * no external-Row conversion anywhere on the hot path.
  *
  * `rank()` exactness across partitions: a peer run (rows equal under
  * the ORDER BY) can straddle a range-partition boundary.  The driver
  * walks partitions in order per group, chaining trailing-run lengths
  * (a run covering a whole partition extends the chain), and hands
  * each partition a `lead` adjustment = how many earlier-partition
  * rows are peers of its first order key; pass 2 starts its first
  * peer run at `rowOffset - lead + 1`. */
case class RankedPrefixSumExec(partCols: Seq[Expression],
                               orderSpec: Seq[SortOrder],
                               kinds: Seq[RankedKind],
                               deltas: Seq[Expression],
                               outAttrs: Seq[Attribute],
                               child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ outAttrs
  override def producedAttributes: AttributeSet = AttributeSet(outAttrs)

  /** The packed-prefix eligibility gate: one string partition column
    * and a leading integral/double order key.  On by default — the
    * packing is semantics-preserving for ANY data (monotone
    * coarsening, see [[PackedSortKey]]); the conf is a kill switch,
    * not a regime assertion. */
  private val packedPrefix: Option[SortOrder] = {
    val on = SQLConf.get
      .getConfString("spark.graft.ranked.packedSortPrefix", "true")
      .equalsIgnoreCase("true")
    (partCols, orderSpec) match {
      case (Seq(g), os) if on && g.dataType == StringType && os.nonEmpty &&
          (os.head.child.dataType == LongType ||
            os.head.child.dataType == IntegerType ||
            os.head.child.dataType == DoubleType) =>
        val o = os.head
        Some(SortOrder(
          PackedSortKey(g, o.child, o.direction == Descending,
            o.nullOrdering == NullsFirst), Ascending))
      case (Seq(g1, g2), _) if on && g1.dataType == StringType &&
          (g2.dataType == StringType || g2.dataType == LongType ||
            g2.dataType == IntegerType || g2.dataType == DoubleType) =>
        // two partition columns (the q_leaderboard shape): fold the
        // SECOND group key's image into the low bits instead of the
        // order key — group columns sort ASC NULLS FIRST by
        // construction, and a string second key only needs an
        // order-consistent prefix image (nothing follows it inside
        // the packed long, so shared prefixes tie safely)
        Some(SortOrder(PackedSortKey(g1, g2, descOrder = false,
          nullsFirstOrder = true), Ascending))
      case _ => None
    }
  }

  private def sortOrders: Seq[SortOrder] =
    packedPrefix.toSeq ++ partCols.map(e => SortOrder(e, Ascending)) ++ orderSpec

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(OrderedDistribution(sortOrders))
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(sortOrders)
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override def outputPartitioning = child.outputPartitioning

  /** Pass 1 needs each row's PARTITION, not its order: when the child
    * is the EnsureRequirements-inserted sort (possibly codegen-fused),
    * run pass 1 on the pre-sort exchange output so the O(n log n)
    * sort is paid once, by pass 2 only. */
  private def preSortInput: Option[SparkPlan] = {
    import org.apache.spark.sql.execution.{InputAdapter, SortExec, WholeStageCodegenExec}
    def unwrap(p: SparkPlan): Option[SparkPlan] = p match {
      case w: WholeStageCodegenExec => unwrap(w.child)
      case s: SortExec => Some(s.child match {
        case ia: InputAdapter => ia.child
        case c => c
      })
      case _ => None
    }
    unwrap(child)
  }

  override protected def doExecute(): RDD[InternalRow] = {
    import RankedPrefixSumExec.{GroupOffsets, GroupStat}
    val childRdd = child.execute()
    val childOutput = child.output
    val boundPart = partCols.map(BindReferences.bindReference(_, childOutput))
    val boundDeltas = deltas.map(BindReferences.bindReference(_, childOutput))
    val orderExprs = orderSpec.map(so =>
      BindReferences.bindReference(so.child, childOutput))
    val ks = kinds.toArray
    val nFuncs = ks.length
    val needRank = ks.contains(RankedKind.RRank)
    val needDense = ks.contains(RankedKind.RDenseRank)
    val needKeys = needRank || needDense
    val intOut = outAttrs.map(_.dataType == IntegerType).toArray
    // order-key comparator over the PROJECTED key row — peers for
    // rank() are rows comparing equal under the full ORDER BY; built
    // from locals so task closures don't capture the plan itself
    val reboundOrders = orderSpec.zipWithIndex.map { case (so, i) =>
      so.copy(child = BoundReference(i, so.child.dataType, so.child.nullable))
    }
    def keyOrdering = new InterpretedOrdering(reboundOrders)
    // null-returning delta evaluators (SQL sum skips nulls but stays
    // null until the first value); fast path for non-nullable refs
    val deltaFns: Array[InternalRow => java.lang.Long] = boundDeltas.map {
      case b: BoundReference if !b.nullable && b.dataType == LongType =>
        (r: InternalRow) => java.lang.Long.valueOf(r.getLong(b.ordinal))
      case b: BoundReference if b.dataType == LongType =>
        (r: InternalRow) =>
          if (r.isNullAt(b.ordinal)) null
          else java.lang.Long.valueOf(r.getLong(b.ordinal))
      case Literal(v: Long, LongType) =>
        val boxed = java.lang.Long.valueOf(v)
        (_: InternalRow) => boxed
      case e => (r: InternalRow) => e.eval(r).asInstanceOf[java.lang.Long]
    }.toArray

    // pass 1: per-(partition, group) totals — a few longs per task
    // regardless of input size.  dense_rank needs per-partition
    // DISTINCT order-key counts: on unsorted input that would mean a
    // key SET per task (input-sized driver state), so with dense_rank
    // present pass 1 reads the SORTED child instead of the pre-sort
    // exchange and counts key CHANGES — the sort runs twice (both
    // passes, fully parallel, same reused shuffle files), the state
    // stays a few longs.
    val pass1Rdd =
      if (needDense) childRdd else preSortInput.map(_.execute()).getOrElse(childRdd)
    val totals: Array[(Int, Array[(InternalRow, GroupStat)])] =
      pass1Rdd.mapPartitionsWithIndex { (pid, it) =>
        val proj = UnsafeProjection.create(boundPart)
        val oProj = if (needKeys) UnsafeProjection.create(orderExprs) else null
        val ord = if (needKeys) keyOrdering else null
        val m = scala.collection.mutable.LinkedHashMap[InternalRow, GroupStat]()
        it.foreach { row =>
          val k = proj(row)
          val st = m.get(k) match {
            case Some(s) => s
            case None =>
              val s = new GroupStat(nFuncs)
              m(k.copy()) = s
              s
          }
          var i = 0
          while (i < nFuncs) {
            if (ks(i) == RankedKind.RSum || ks(i) == RankedKind.RTotal) {
              val v = deltaFns(i)(row)
              if (v != null) { st.sums(i) += v.longValue(); st.any(i) = true }
            }
            i += 1
          }
          st.count += 1
          if (needKeys) {
            val ok = oProj(row)
            if (st.minKey == null) {
              st.minKey = ok.copy(); st.minCnt = 1
              st.maxKey = st.minKey; st.maxCnt = 1
              st.nDistinct = 1
            } else {
              val cMin = ord.compare(ok, st.minKey)
              if (cMin < 0) { st.minKey = ok.copy(); st.minCnt = 1 }
              else {
                if (cMin == 0) st.minCnt += 1
                val cMax = ord.compare(ok, st.maxKey)
                // on the sorted pass-1 input dense_rank requires,
                // cMax > 0 ⇔ a key CHANGE — one new distinct key
                if (cMax > 0) { st.maxKey = ok.copy(); st.maxCnt = 1; st.nDistinct += 1 }
                else if (cMax == 0) st.maxCnt += 1
              }
            }
          }
        }
        Iterator.single((pid, m.toArray))
      }.collect()

    // whole-group totals for RTotal outputs: the SAME pass-1 stats,
    // summed across ALL of a group's partitions (before-only sums are
    // what the offsets below hold) — still a few longs per group
    val needTotal = ks.contains(RankedKind.RTotal)
    val fullTotals: Map[InternalRow, (Array[Long], Array[Boolean])] =
      if (!needTotal) Map.empty
      else {
        val m = scala.collection.mutable.Map[InternalRow, (Array[Long], Array[Boolean])]()
        totals.foreach { case (_, groups) =>
          groups.foreach { case (k, st) =>
            val e = m.getOrElseUpdate(k,
              (new Array[Long](nFuncs), new Array[Boolean](nFuncs)))
            var i = 0
            while (i < nFuncs) {
              if (ks(i) == RankedKind.RTotal) {
                e._1(i) += st.sums(i); e._2(i) |= st.any(i)
              }
              i += 1
            }
          }
        }
        m.toMap
      }
    val emptyTotals = (new Array[Long](nFuncs), new Array[Boolean](nFuncs))

    // driver: earlier-partition offsets per (partition, group); rows
    // sorted by (part, order) with range partitioning => earlier
    // partitions hold earlier rows of each group.  For rank, chain
    // trailing peer runs across partitions (single-key partitions
    // extend the chain).
    val offsets: Map[(Int, InternalRow), GroupOffsets] = {
      val ord = if (needKeys) keyOrdering else null
      final class Running {
        val sums = new Array[Long](nFuncs)
        val any = new Array[Boolean](nFuncs)
        var rows = 0L
        var dense = 0L
        var trailKey: UnsafeRow = null
        var trailCnt = 0L
      }
      val runningMap = scala.collection.mutable.Map[InternalRow, Running]()
      val out = Map.newBuilder[(Int, InternalRow), GroupOffsets]
      totals.sortBy(_._1).foreach { case (pid, groups) =>
        groups.foreach { case (k, st) =>
          val r = runningMap.getOrElseUpdate(k, new Running)
          // does this partition's first key continue the previous
          // partition's trailing peer run?
          val contFirst = needKeys && r.trailKey != null &&
            ord.compare(st.minKey, r.trailKey) == 0
          val lead = if (needRank && contFirst) r.trailCnt else 0L
          val (tSums, tAny) =
            if (needTotal) fullTotals.getOrElse(k, emptyTotals) else emptyTotals
          out += ((pid, k) -> new GroupOffsets(r.sums.clone(), r.any.clone(),
            r.rows, lead, r.dense, contFirst, tSums, tAny))
          var i = 0
          while (i < nFuncs) {
            r.sums(i) += st.sums(i); r.any(i) |= st.any(i); i += 1
          }
          r.rows += st.count
          if (needKeys) {
            val singleKey = ord.compare(st.minKey, st.maxKey) == 0
            r.trailCnt = st.maxCnt + (if (singleKey) lead else 0L)
            r.trailKey = st.maxKey
            // a boundary-spanning key counted in BOTH partitions'
            // nDistinct counts once globally
            r.dense += st.nDistinct - (if (contFirst) 1L else 0L)
          }
        }
      }
      out.result()
    }
    // the operator's contract is low-|k|; a user who opted in on a
    // high-cardinality window gets a driver-side witness (measured at
    // sf1: q_markdup 3.5s -> 16.8s when millions of groups make this
    // very table the bottleneck) instead of a silent 5x
    if (offsets.size > 100000)
      logWarning(s"RankedPrefixSum: ${offsets.size} (partition, group) offset " +
        "entries — the partition keys are not low-cardinality and the " +
        "hash-partitioned window form is likely faster; disable " +
        "spark.graft.ranked.autoRewrite for this query")
    val bcOff = sparkContext.broadcast(offsets)

    // pass 2: same exchange; group changes are detected by key
    // comparison on the SORTED stream, so the offset lookup happens
    // once per (partition, group), not per row
    val outputAttrs = output
    childRdd.mapPartitionsWithIndex { (pid, it) =>
      val proj = UnsafeProjection.create(boundPart)
      val oProj = if (needKeys) UnsafeProjection.create(orderExprs) else null
      val ord = if (needKeys) keyOrdering else null
      val joined = new JoinedRow
      // downstream exchanges serialize UnsafeRows — a chained ranked
      // node (or any consumer whose first operator is a shuffle) must
      // not see the raw JoinedRow
      val toUnsafe = UnsafeProjection.create(outputAttrs, outputAttrs)
      val outRow = new GenericInternalRow(nFuncs)
      var curKey: UnsafeRow = null
      var off: GroupOffsets = null
      val runSums = new Array[Long](nFuncs)
      val localAny = new Array[Boolean](nFuncs)
      var localCount = 0L
      var runKey: UnsafeRow = null
      var curRank = 0L
      var curDense = 0L
      it.map { row =>
        val k = proj(row)
        if (curKey == null || k != curKey) {
          curKey = k.copy()
          off = bcOff.value.getOrElse((pid, curKey: InternalRow),
            new GroupOffsets(new Array[Long](nFuncs),
              new Array[Boolean](nFuncs), 0L, 0L, 0L, false,
              new Array[Long](nFuncs), new Array[Boolean](nFuncs)))
          java.util.Arrays.fill(runSums, 0L)
          java.util.Arrays.fill(localAny, false)
          localCount = 0L
          runKey = null
        }
        localCount += 1
        if (needKeys) {
          val ok = oProj(row)
          if (runKey == null) {
            curRank = off.rows - off.lead + 1
            curDense = off.denseBefore + (if (off.contFirst) 0L else 1L)
            runKey = ok.copy()
          } else if (ord.compare(ok, runKey) != 0) {
            curRank = off.rows + localCount
            curDense += 1L
            runKey = ok.copy()
          }
        }
        var i = 0
        while (i < nFuncs) {
          ks(i) match {
            case RankedKind.RSum =>
              val v = deltaFns(i)(row)
              if (v != null) { runSums(i) += v.longValue(); localAny(i) = true }
              if (localAny(i) || off.anyPrior(i))
                outRow.update(i, off.sums(i) + runSums(i))
              else outRow.update(i, null)
            case RankedKind.RRowNumber =>
              val rn = off.rows + localCount
              if (intOut(i)) outRow.update(i, rn.toInt) else outRow.update(i, rn)
            case RankedKind.RRank =>
              if (intOut(i)) outRow.update(i, curRank.toInt)
              else outRow.update(i, curRank)
            case RankedKind.RDenseRank =>
              if (intOut(i)) outRow.update(i, curDense.toInt)
              else outRow.update(i, curDense)
            case RankedKind.RTotal =>
              if (off.totalAny(i)) outRow.update(i, off.totalSums(i))
              else outRow.update(i, null)
          }
          i += 1
        }
        toUnsafe(joined(row, outRow))
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): RankedPrefixSumExec =
    copy(child = newChild)
}

object RankedPrefixSumExec {
  /** Per-(partition, group) pass-1 stats (top-level: instances are
    * collected to the driver — no `$outer` plan reference). */
  private[plans] final class GroupStat(nFuncs: Int) extends Serializable {
    val sums = new Array[Long](nFuncs)
    val any = new Array[Boolean](nFuncs)
    var count = 0L
    var minKey: UnsafeRow = null
    var minCnt = 0L
    var maxKey: UnsafeRow = null
    var maxCnt = 0L
    /** distinct order keys in this partition's group segment — valid
      * only when pass 1 ran on the SORTED child (dense_rank mode). */
    var nDistinct = 0L
  }
  private[plans] final class GroupOffsets(val sums: Array[Long],
                                          val anyPrior: Array[Boolean],
                                          val rows: Long, val lead: Long,
                                          val denseBefore: Long,
                                          val contFirst: Boolean,
                                          val totalSums: Array[Long],
                                          val totalAny: Array[Boolean])
      extends Serializable
}
