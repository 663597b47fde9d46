package graft.index

import graft.functions.GraftMatch
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.unsafe.types.UTF8String

/** Registry: corpus table location -> (index dir, docId column). A table is
  * "indexed" when its scan location falls under a registered path.
  */
object IndexRegistry {
  final case class Entry(indexDir: String, idCol: String, textCol: String)
  private val entries = scala.collection.concurrent.TrieMap.empty[String, Entry]

  /** Registering (or clearing) releases the memoized Searchers over the
    * affected index dirs.
    */
  def register(tablePath: String, indexDir: String, idCol: String,
      textCol: String = "text"): Unit = {
    entries.put(normalize(tablePath), Entry(indexDir, idCol, textCol))
    Searcher.release(Set(indexDir))
  }
  def clear(): Unit = {
    val dirs = entries.values.map(_.indexDir).toSet
    entries.clear()
    Searcher.release(dirs)
  }
  def lookup(paths: Seq[String]): Option[Entry] =
    paths.map(normalize).flatMap(p => entries.collectFirst {
      // path-component prefix: /data/corpus must NOT match /data/corpus_v2
      case (reg, e) if p == reg || p.startsWith(reg + "/") => e
    }).headOption

  private def normalize(p: String): String =
    p.stripPrefix("file:").stripSuffix("/")
}

/** Access-path selection: rewrites `Filter(graft_match(text, 'term'), scan)`
  * over a registered corpus table into a LEFT SEMI join against the
  * inverted index's posting list for that term.
  *
  * The predicate stays correct without an index (GraftMatch tokenizes the
  * row); with one, the full-table tokenize-and-test collapses to a pushdown
  * posting fetch — the reference's whole reason to exist (tag -> posting
  * lookup instead of scanning every document), expressed as a Catalyst
  * optimizer rule injected via [[graft.functions.GraftExtensions]].
  * Multiple graft_match conjuncts become stacked semi-joins (AND =
  * intersection semantics, ≙ tag-intersection).
  */
class IndexAccessRule(spark: SparkSession) extends Rule[LogicalPlan] {

  /** The scanned relation (single-child chains only — a Filter above a
    * Join/Union is never rewritten).
    */
  private def findRelation(plan: LogicalPlan): Option[LogicalRelation] = plan match {
    case lr @ LogicalRelation(_: HadoopFsRelation, _, _, _, _) => Some(lr)
    case p if p.children.size == 1 => findRelation(p.children.head)
    case _ => None
  }

  private def scanPaths(rel: LogicalRelation): Seq[String] = rel match {
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      fs.location.rootPaths.map(_.toString)
    case _ => Nil
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, child) =>
      (for {
        rel <- findRelation(child)
        entry <- IndexRegistry.lookup(scanPaths(rel))
        // BOTH columns must be the relation's own attributes passed through
        // unmodified (same exprId). Matching the id column by name alone
        // would let a Project like select((doc_id+1).as("doc_id"), text)
        // semi-join the TRANSFORMED value against index docIds — silently
        // wrong rows where the un-rewritten predicate is correct.
        idAttrRel <- rel.output.find(_.name == entry.idCol)
        idAttr <- child.output.find(_.exprId == idAttrRel.exprId)
        textAttr <- rel.output.find(_.name == entry.textCol)
      } yield {
        val conjuncts = splitConjuncts(cond)
        val rewritable = conjuncts.collect {
          case g @ GraftMatch(a: Attribute, Literal(t: UTF8String, _))
              if a.exprId == textAttr.exprId => (g, t.toString)
        }
        if (rewritable.isEmpty) f
        else {
          // residual = every conjunct NOT rewritten (incl. graft_match on
          // other columns, null-literal terms, non-literal terms)
          val rewrittenSet = rewritable.map(_._1).toSet[Expression]
          val searcher = Searcher.open(spark, entry.indexDir)
          val joined = rewritable.map(_._2).foldLeft(child) { (acc, term) =>
            val lookupPlan = searcher.lookup(term).queryExecution.analyzed
            val docIdAttr = lookupPlan.output.head
            Join(acc, lookupPlan, LeftSemi,
              Some(EqualTo(idAttr, docIdAttr)), JoinHint.NONE)
          }
          val residual = conjuncts.filterNot(rewrittenSet.contains)
          if (residual.isEmpty) joined
          else Filter(residual.reduce(And), joined)
        }
      }).getOrElse(f)
  }
}
