package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualNullSafe, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.{Cross, FullOuter, Inner, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._

/** The quadratic-join lint — the r11 p261 bug class as a standing sweep.
  *
  * The bug shape: a row-level × row-level join whose ONLY equi-keys are
  * O(1)-cardinality fixture columns (`label`, `lang`, `source`,
  * `event_type`). Such a join partitions the corpus into a CONSTANT
  * number of blocks, so pair generation is O(corpus²/|blocks|) — it
  * passes every sf0.01 oracle and dies at 100 TB. p261 shipped exactly
  * this (all pairs within each of 10 label blocks) and was caught by a
  * verdict audit, not a guard; this lint is that audit, mechanized.
  *
  * A join keyed on low-cardinality columns is FINE when either side is
  * bounded — an aggregate (metadata-sized census), a limit, or a literal
  * panel — because the join is then corpus-linear. The lint therefore
  * flags a join only when BOTH inputs are unbounded row-level subtrees.
  * Remaining legitimate hits (e.g. a side provably small by a selective
  * filter the lint cannot cost) go on the spec's DOCUMENTED allowlist.
  */
object QuadraticJoinLint {

  /** The fixture columns with O(1) cardinality at any corpus size. */
  val lowCardCols: Set[String] = Set("label", "lang", "source", "event_type")

  final case class Hit(joinType: String, keys: Seq[String])

  /** Any equality conjunct at all (incl. derived-expression equalities,
    * which make block cardinality grow with the data)? A multiplying join
    * WITHOUT one is a cartesian-with-residual: a pure theta/range join
    * whose work is row×row however selective the residual looks. */
  private def hasEqualityConjunct(cond: Expression): Boolean = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    conjuncts(cond).exists {
      case _: EqualTo | _: EqualNullSafe => true
      case _ => false
    }
  }

  /** A subtree is bounded if somewhere below the join input sits an
    * aggregate (group-by over bounded keys ⇒ metadata-sized), a limit,
    * or a literal relation (panel/lookup). Presence anywhere in the
    * subtree is the (deliberately permissive) heuristic — the allowlist
    * catches what it can't prove. */
  private def bounded(p: LogicalPlan): Boolean = {
    var found = false
    p.foreach {
      case _: Aggregate | _: GlobalLimit | _: LocalLimit => found = true
      case _: LocalRelation | _: OneRowRelation => found = true
      case _: Deduplicate => found = true
      // spark.range(a, b) with literal bounds is a constant-size panel
      case _: org.apache.spark.sql.catalyst.plans.logical.Range => found = true
      case _ => ()
    }
    found
  }

  private def equiKeyNames(cond: Expression,
      root: AttributeReference => Option[String]): Seq[(String, String)] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def attr(e: Expression): Option[AttributeReference] = e match {
      case a: AttributeReference => Some(a)
      case c: org.apache.spark.sql.catalyst.expressions.Cast => attr(c.child)
      case _ => None
    }
    conjuncts(cond).flatMap {
      case EqualTo(l, r) =>
        (attr(l), attr(r)) match {
          case (Some(a), Some(b)) =>
            // resolve through rename chains so `label.as("grp")` cannot
            // evade the rule; a DERIVED key (computation) resolves to a
            // sentinel that is never low-card
            Some((root(a).getOrElse("<derived>"),
              root(b).getOrElse("<derived>")))
          case _ => None
        }
      case _ => None
    }
  }

  /** Lint one OPTIMIZED logical plan. */
  def lint(plan: LogicalPlan): Seq[Hit] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, ExprId}
    // alias bindings across the whole plan: exprId → defining expression
    val bind = scala.collection.mutable.Map[ExprId, Expression]()
    plan.foreach {
      case p: Project => p.projectList.foreach {
        case a: Alias => bind(a.exprId) = a.child
        case _ => ()
      }
      case _ => ()
    }
    /** Follow rename chains to the originating column; None = derived. */
    def root(a: AttributeReference): Option[String] = {
      var e: Expression = a
      var steps = 0
      while (steps < 32) {
        e match {
          case ar: AttributeReference => bind.get(ar.exprId) match {
            case Some(next) => e = next
            case None => return Some(ar.name.toLowerCase)
          }
          case al: Alias => e = al.child
          case c: org.apache.spark.sql.catalyst.expressions.Cast => e = c.child
          case _ => return None
        }
        steps += 1
      }
      None
    }
    val hits = scala.collection.mutable.ArrayBuffer[Hit]()
    plan.foreach {
      case j: Join =>
        // row-multiplying join types only: semi/anti joins emit at most
        // the probe side and cannot go quadratic
        val multiplying = j.joinType match {
          case Inner | Cross | FullOuter | LeftOuter | RightOuter => true
          case _ => false
        }
        val keys = j.condition.map(equiKeyNames(_, root)).getOrElse(Nil)
        val allLowCard = keys.nonEmpty &&
          keys.forall { case (a, b) => lowCardCols(a) && lowCardCols(b) }
        val thetaOnly = j.condition.forall(!hasEqualityConjunct(_))
        if (multiplying && (allLowCard || thetaOnly) &&
            !bounded(j.left) && !bounded(j.right))
          hits += Hit(j.joinType.toString,
            if (thetaOnly) Seq("<theta-only>")
            else keys.map(k => s"${k._1}=${k._2}"))
      case _ => ()
    }
    hits.toSeq
  }

  /** Sweep every declared entry; returns entry -> hits (flagged only). */
  def sweep(spark: SparkSession, dir: String,
      names: Iterable[String]): Map[String, Seq[Hit]] =
    names.flatMap { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val hits = lint(df.queryExecution.optimizedPlan)
      if (hits.nonEmpty) Some(name -> hits) else None
    }.toMap
}

/** Probe main: print every flagged entry (allowlist discovery). */
object QuadraticJoinProbe {
  def main(args: Array[String]): Unit = {
    val spark = Env.session(8)
    val dir = "/root/testdata/sf0.001"
    val names = SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      try {
        val hits = QuadraticJoinLint.lint(
          SparkEntry.queries(n)(spark, dir).queryExecution.optimizedPlan)
        if (hits.nonEmpty) println(s"FLAGGED $n: ${hits.mkString("; ")}")
      } catch { case e: Throwable => println(s"ERROR $n: ${e.getMessage}") }
    }
    println("probe done")
    spark.stop()
  }
}
