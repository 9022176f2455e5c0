package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import scala.util.Try

/** One pass over every registered query, shared by the
  * suites that check all of them (QueriesSpec's row check, PlanSpec's
  * plan check): building the queries is most of what those checks
  * cost, so each query is built once, its initial physical plan
  * rendered, and its rows counted. */
object QueryPass {

  /** One query's outcome: its plan text when the plan holds a
    * CartesianProduct (None when it does not), and its row count —
    * each the error it threw instead, if it threw. */
  final case class Outcome(name: String, cartesianPlan: Try[Option[String]],
      rows: Try[Long])

  /** The initial (pre-AQE) physical plan of `df` as text. */
  def planString(df: DataFrame): String = {
    val p = df.queryExecution.executedPlan
    val unwrapped = p match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    unwrapped.toString
  }

  private var pass: Seq[Outcome] = null

  /** The outcome of every registered query over `sfDir`, computed by
    * the first caller and shared with the rest. */
  def outcomes(spark: SparkSession, sfDir: String): Seq[Outcome] =
    synchronized {
      if (pass == null) pass = SparkEntry.queries.toSeq.map {
        case (name, fn) =>
          val df = Try(fn(spark, sfDir))
          Outcome(name, df.map(planString)
              .map(Some(_).filter(_.contains("CartesianProduct"))),
            df.map(_.count()))
      }
      pass
    }
}
