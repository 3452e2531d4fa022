package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical._

import graft.{HarnessSession, SparkEntry}

/** Which pipeline queries a `count()` prunes: compares the optimized plan
  * of each query with the optimized plan of its `count()` and lists the
  * computed expressions and operators that the count plan no longer
  * holds. A query whose count plan loses any of them was timed on less
  * than its own work by a count()-based board.
  *
  * Usage: perfbench.CountPrune <tables dir> — one JSON line per query.
  */
object CountPrune {
  private def computed(plan: LogicalPlan): Set[String] = {
    def exprs(es: Seq[Expression]): Seq[String] = es.flatMap {
      case _: Attribute => Nil
      case a: Alias => Seq(a.child.canonicalized.sql)
      case e: NamedExpression => Seq(e.canonicalized.sql)
      case e => Seq(e.canonicalized.sql)
    }
    plan.collect {
      case p: Project => exprs(p.projectList)
      case a: Aggregate => exprs(a.aggregateExpressions)
      case w: Window => exprs(w.windowExpressions)
      case g: Generate => Seq(g.generator.canonicalized.sql)
    }.flatten.toSet
  }

  private def operators(plan: LogicalPlan): Set[String] =
    plan.collect {
      case _: Sort => "Sort"
      case _: Window => "Window"
      case _: Generate => "Generate"
      case _: Join => "Join"
      case _: Aggregate => "Aggregate"
      case _: Deduplicate => "Deduplicate"
    }.toSet

  def main(args: Array[String]): Unit = {
    val tables = args(0)
    val spark = HarnessSession.local(Main.SparkCores)
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val line =
        try {
          val df: DataFrame = fn(spark, tables)
          val full = df.queryExecution.optimizedPlan
          val count = df.groupBy().count().queryExecution.optimizedPlan
          val lostExprs = computed(full) -- computed(count)
          val lostOps = operators(full) -- operators(count)
          Json.obj(Seq("query" -> Json.str(name),
            "pruned" -> (lostExprs.nonEmpty || lostOps.nonEmpty).toString,
            "lost_expressions" -> lostExprs.size.toString,
            "lost_operators" -> lostOps.toSeq.sorted.map(Json.str).mkString("[", ",", "]")))
        } catch {
          case scala.util.control.NonFatal(e) =>
            Json.obj(Seq("query" -> Json.str(name), "error" -> Json.str(e.toString.take(200))))
        } finally {
          SparkEntry.releaseTracked()
          spark.catalog.clearCache()
        }
      println(line)
    }
    spark.stop()
  }
}
