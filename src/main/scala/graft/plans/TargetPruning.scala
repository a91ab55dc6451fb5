package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, EqualNullSafe, EqualTo, Expression, In, InSet, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan, Project, Statistics}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.merge.MergeWriter

/** Deferred `graft_target('<path>')` scan: a leaf that remembers the
  * target path (and its bucket key columns) so the optimizer can still
  * choose HOW to read it. The TVF returns this node instead of the
  * concrete parquet relation; the two injected rules below lower it:
  *
  *  - [[TargetPointLookupRule]] (operator-optimization fixed point):
  *    once filter pushdown has parked a `Filter` directly on the node,
  *    conjuncts restricting EVERY key column to literals (`key = lit`
  *    / `key IN (lits)` per column) lower the node to the
  *    bucket-pruned scan ([[MergeWriter.readTargetTuples]] — only the
  *    buckets those key tuples hash into), so
  *    `SELECT ... FROM graft_target(p) WHERE k = 7` — or
  *    `WHERE tenant = 1 AND id = 7` on a composite-keyed target —
  *    reads O(1) buckets of a huge target with no special syntax.
  *  - [[TargetFinalizeRule]] (pre-CBO, i.e. after that fixed point):
  *    any node still deferred (no filter, or a key column without a
  *    literal conjunct) lowers to the full snapshot scan — exactly
  *    what the TVF returned before this optimization existed.
  *
  * The node's `output` attributes ARE the snapshot relation's, so the
  * full-scan lowering is attribute-identical; the pruned lowering is a
  * fresh relation and gets re-aliased onto the node's exprIds.
  */
case class GraftTargetNode(path: String, keyCols: Seq[String], version: Int,
                           full: LogicalPlan)
    extends LeafNode {
  override def output: Seq[Attribute] = full.output
  override def computeStats(): Statistics = full.stats

  /** The node's key attributes (by name, case-insensitive), in key
    * order; None when any key column is missing from the output.
    */
  def keyAttrs: Option[Seq[Attribute]] = {
    val found = keyCols.flatMap(k => output.find(_.name.equalsIgnoreCase(k)))
    if (found.size == keyCols.size) Some(found) else None
  }
}

object TargetPruning {

  /** COMPOSITE-key cross products beyond this many tuples read the
    * snapshot instead — at that point the scan is no longer a point
    * lookup and the OR-of-conjunctions filter would bloat the plan.
    * Single-key IN lists are exempt (their filter is one IN, their
    * bucket set is capped by the layout's bucket count anyway).
    */
  private val MaxTuples = 64

  /** Literal key values of every usable conjunct (`key = lit`,
    * `key <=> lit`, `key IN (lits)`, optimizer-converted `INSET`);
    * None when no conjunct restricts the key to literals.
    */
  private def keyLiterals(cond: Expression, key: Attribute): Option[Seq[Any]] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other     => Seq(other)
    }
    def isKey(e: Expression): Boolean = e match {
      case a: Attribute => a.exprId == key.exprId
      case _            => false
    }
    val hits = conjuncts(cond).collect {
      case EqualTo(a, l) if isKey(a) && l.foldable        => Seq(l.eval())
      case EqualTo(l, a) if isKey(a) && l.foldable        => Seq(l.eval())
      case EqualNullSafe(a, l) if isKey(a) && l.foldable  => Seq(l.eval())
      case EqualNullSafe(l, a) if isKey(a) && l.foldable  => Seq(l.eval())
      case In(a, vs) if isKey(a) && vs.forall(_.foldable) => vs.map(_.eval())
      case InSet(a, vs) if isKey(a)                       => vs.toSeq
    }
    // several conjuncts on the key (k = 7 AND k IN (...)) → intersection
    // would be exact, but any single conjunct's keys are a superset of
    // the rows; the smallest set reads fewest buckets
    if (hits.isEmpty) None else Some(hits.minBy(_.size).filter(_ != null))
  }

  /** Re-alias `fresh`'s output (matched by name) onto `wanted`'s
    * exprIds so the replacement is attribute-transparent upstream.
    */
  private def remap(fresh: LogicalPlan, wanted: Seq[Attribute]): LogicalPlan = {
    val byName = fresh.output.map(a => a.name.toLowerCase -> a).toMap
    val fields: Seq[NamedExpression] = wanted.map { o =>
      Alias(byName(o.name.toLowerCase), o.name)(exprId = o.exprId)
    }
    Project(fields, fresh)
  }

  private[plans] def lowerPruned(spark: SparkSession, g: GraftTargetNode,
                                 keys: Seq[Attribute],
                                 tuples: Seq[Seq[Any]]): Option[LogicalPlan] = {
    // tuple components are catalyst-internal values (UTF8String,
    // days-int, Decimal): convert to their external form before the
    // stringly lookup API. The lookup is pinned to the node's
    // analysis-time version and fed the full snapshot schema the node
    // already resolved — no re-read of _CURRENT (a concurrent merge
    // must not make the pruned and full lowerings observe different
    // snapshots) and no all-files schema merge inside the optimizer.
    val toScala = keys.map(k =>
      org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToScalaConverter(k.dataType))
    MergeWriter.readTargetTuples(spark, g.path,
      tuples.map(_.zip(toScala).map { case (v, f) => f(v) }),
      version = g.version, schemaHint = Some(g.full.schema))
      .map(df => remap(df.queryExecution.analyzed, g.output))
  }

  /** Cross product of the per-column literal sets — the key tuples a
    * conjunction like `k1 IN (a,b) AND k2 = c` can possibly match (a
    * superset of the actual matches; the residual filter still applies
    * on top of the pruned scan).
    */
  private def crossTuples(perCol: Seq[Seq[Any]]): Seq[Seq[Any]] =
    perCol.foldLeft(Seq(Seq.empty[Any])) { (acc, vs) =>
      for { t <- acc; v <- vs } yield t :+ v
    }

  private[plans] def tryPrune(spark: SparkSession, f: Filter): Option[LogicalPlan] =
    f.child match {
      case g: GraftTargetNode =>
        for {
          keys <- g.keyAttrs
          if keys.forall(k => MergeWriter.stringRoundTrippable(k.dataType))
          perCol <- traverse(keys.map(k => keyLiterals(f.condition, k)))
          if perCol.forall(_.nonEmpty)
          tuples = crossTuples(perCol)
          if tuples.nonEmpty && (perCol.size == 1 || tuples.size <= MaxTuples)
          pruned <- lowerPruned(spark, g, keys, tuples)
        } yield Filter(f.condition, pruned)
      case _ => None
    }

  /** Some(seq) iff every element is Some. */
  private def traverse[A](xs: Seq[Option[A]]): Option[Seq[A]] =
    if (xs.forall(_.isDefined)) Some(xs.map(_.get)) else None
}

/** Operator-optimization rule: lower Filter-adjacent point lookups to
  * the bucket-pruned scan. Anything else is left deferred — filters
  * may still be migrating toward the leaf inside this fixed point.
  */
case class TargetPointLookupRule(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case f: Filter => TargetPruning.tryPrune(spark, f).getOrElse(f)
  }
}

/** Pre-CBO rule: pushdown is done; any node still deferred reads the
  * full snapshot (the pre-optimization behavior).
  */
case class TargetFinalizeRule(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    // a last-chance prune for shapes the fixed point never saw
    // Filter-adjacent (e.g. a filter only combined in its final sweep)
    case f: Filter => TargetPruning.tryPrune(spark, f).getOrElse(f)
    case g: GraftTargetNode => g.full
  }
}
