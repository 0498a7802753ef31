package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

/** Grouped top-k as a first-class operator (SURVEY §2.8 top-k; the
  * `Window.partitionBy(key).orderBy(score desc) + row_number <= k` idiom
  * sorts EVERY row of every group and shuffles the full input).
  *
  * This operator keeps one bounded min-heap per key:
  *  - partial phase (any distribution): each input partition emits at
  *    most k rows per key it saw;
  *  - final phase (clustered on key): merges the survivors.
  *
  * Shuffle volume drops from |input| to ≤ k·|keys|·|partitions|, and
  * nothing is ever fully sorted — the 100 TB difference between "top-10
  * neighbors per query" costing a corpus shuffle vs. a survivors
  * shuffle.
  */
final case class TopKPerKeyNode(keys: Seq[Expression], score: Expression,
                                tiebreak: Expression, k: Int,
                                child: LogicalPlan) extends UnaryNode {
  require(TopKPerKeyExec.scoreOrdering(score.dataType).isDefined,
    s"TopKPerKey score must be numeric, got ${score.dataType.catalogString}")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

object TopKPerKeyExec {
  import org.apache.spark.sql.types._
  /** Numeric score types get their NATIVE interpreted ordering (None
    * for non-numeric — rejected at node construction, so a bad score
    * column fails fast instead of ClassCastException-ing mid-task).
    * Native means EXACT: a BIGINT or DECIMAL score is never widened to
    * double, so two scores differing only below double ulp (reachable
    * once scaled integers exceed 2^53) order identically here and in
    * the row_number window form the prune must agree with. */
  def scoreOrdering(dt: DataType): Option[Ordering[Any]] = dt match {
    case DoubleType | FloatType | LongType | IntegerType | ShortType |
         ByteType | _: DecimalType =>
      Some(org.apache.spark.sql.catalyst.util.TypeUtils
        .getInterpretedOrdering(dt).asInstanceOf[Ordering[Any]])
    case _ => None
  }
}

final case class TopKPerKeyExec(keys: Seq[Expression], score: Expression,
                                tiebreak: Expression, k: Int,
                                partial: Boolean, child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(keys) :: Nil

  // a per-partition heap filter: rows stay in the partition they came
  // from, so a rank window on the same keys reuses the final phase's
  // exchange instead of shuffling again
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val keyExprs = keys
    val scoreExpr = score
    val tieExpr = tiebreak
    val kk = k
    val childOutput = child.output
    child.execute().mapPartitions({ it =>
      import org.apache.spark.sql.catalyst.expressions.BindReferences
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val boundScore = BindReferences.bindReference(scoreExpr, childOutput)
      val boundTie = BindReferences.bindReference(tieExpr, childOutput)
      // any orderable tiebreak type (long ids, uuid strings, ...) — not
      // just bigint; evaluated values may be buffer-backed (UTF8String),
      // so they are copied before entering the heap
      val baseOrd = org.apache.spark.sql.catalyst.util.TypeUtils
        .getInterpretedOrdering(tieExpr.dataType).asInstanceOf[Ordering[Any]]
      // null-tolerant with NULLS FIRST ascending — Spark's default for
      // Window.orderBy(tie) — so null-tie rows resolve identically to
      // the window row_number form (interpreted orderings NPE on nulls)
      val tieOrd: Ordering[Any] = new Ordering[Any] {
        override def compare(a: Any, b: Any): Int =
          if (a == null && b == null) 0
          else if (a == null) -1
          else if (b == null) 1
          else baseOrd.compare(a, b)
      }
      // DEEP copy: tie values may be views into the scan's reused row
      // buffer — not just UTF8String but UnsafeArrayData/UnsafeRow for
      // array/struct ties (prune accepts any orderable tie column; r9
      // review caught the array case comparing garbage once the buffer
      // advanced). InternalRow.copyValue is Spark's own any-type copier
      // for exactly this.
      def copyTie(v: Any): Any =
        org.apache.spark.sql.catalyst.InternalRow.copyValue(v)
      // score ordering chosen from the static type (node construction
      // already rejected non-numeric score expressions); NATIVE, so
      // long/decimal scores compare exactly — see scoreOrdering
      val scoreOrd = TopKPerKeyExec.scoreOrdering(scoreExpr.dataType).get
      // per-key bounded heap; the root is the WEAKEST kept row under the
      // total order (score desc, tiebreak asc), i.e. the minimum score
      // with the maximum tiebreak — evicted when a better candidate
      // arrives, so ties resolve identically to the window form. A null
      // score is the weakest of all (Window desc orders NULLS LAST), so
      // it compares below every non-null score.
      val cmp = new java.util.Comparator[(Any, Any, InternalRow)] {
        override def compare(a: (Any, Any, InternalRow),
                             b: (Any, Any, InternalRow)): Int = {
          val c =
            if (a._1 == null && b._1 == null) 0
            else if (a._1 == null) -1
            else if (b._1 == null) 1
            else scoreOrd.compare(a._1, b._1)
          if (c != 0) c else tieOrd.compare(b._2, a._2)
        }
      }
      val heaps = new java.util.HashMap[InternalRow, java.util.PriorityQueue[(Any, Any, InternalRow)]]()
      while (it.hasNext) {
        val row = it.next()
        val s = boundScore.eval(row)
        val t = boundTie.eval(row)
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          // initial capacity is a HINT (the queue grows): cap it so a
          // large k doesn't eagerly allocate k+1 slots per key
          heap = new java.util.PriorityQueue[(Any, Any, InternalRow)](
            math.min(kk, 1024) + 1, cmp)
          heaps.put(key.copy(), heap)
        }
        if (heap.size() < kk) heap.add((s, copyTie(t), row.copy()))
        else if (cmp.compare((s, t, row), heap.peek()) > 0) {
          heap.poll(); heap.add((s, copyTie(t), row.copy()))
        }
      }
      val out = new scala.collection.mutable.ArrayBuffer[InternalRow]()
      heaps.values().forEach(h => h.forEach { case (_, _, r) => out += r })
      out.iterator
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

/** Column-name entry point for any grouped top-k consumer. */
object TopKPerKey {
  /** Prune `df` to (at most) the top-k rows per key under
    * (score desc, tie asc) WITHOUT ranking or sorting: output columns
    * unchanged, row order unspecified — follow with the row_number
    * window over the survivors when a rank column is needed. Shuffle
    * carries ≤ k·|keys|·|partitions| rows instead of the full input. */
  def prune(df: org.apache.spark.sql.DataFrame, keyCol: String, scoreCol: String,
            tieCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    // fail fast: the exec's heap comparator dereferences peek() on a
    // full-at-zero heap (r9 review) — and top-0 is a caller bug anyway
    require(k >= 1, s"TopKPerKey.prune: k must be >= 1, got $k")
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val spark = df.sparkSession
    // a session built without GraftExtensions lacks the strategy
    if (!spark.sessionState.planner.strategies.contains(TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKStrategy
    val plan = ColumnBridge.logicalPlan(df)
    def attr(n: String) = plan.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"no column '$n' in ${plan.output.map(_.name).mkString(", ")}"))
    ColumnBridge.ofRows(spark,
      TopKPerKeyNode(Seq(attr(keyCol)), attr(scoreCol), attr(tieCol), k, plan))
  }
}

/** Plans TopKPerKeyNode as final(partial(child)). */
object TopKStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, score, tiebreak, k, child) =>
      TopKPerKeyExec(keys, score, tiebreak, k, partial = false,
        TopKPerKeyExec(keys, score, tiebreak, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Extension entry point, used by [[graft.Graft.session]]: a
  * builder's `withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`. The one install
  * path of the top-k strategy and of every native graft SQL function
  * ([[graft.functions.GraftFunctions.sqlBuilders]]). The UDF-shaped
  * extractors (`pdf_pages`, `graft_extract`, …) come from
  * `GraftFunctions.register(spark)`: `spark.udf` does not exist at
  * injection time. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => TopKStrategy)
    graft.functions.GraftFunctions.sqlBuilders.foreach { case (name, builder) =>
      e.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          "graft.functions.GraftFunctions", name),
        builder))
    }
  }
}
