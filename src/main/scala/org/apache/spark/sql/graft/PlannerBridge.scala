package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveRulesHolder
import org.apache.spark.sql.internal.SessionState

/** Bridge into the `private[sql]` session state for physical rules on a
  * LIVE session. `SparkSessionExtensions.injectQueryStagePrepRule` only
  * reaches a session whose state is built after the injection, and
  * there is no live-session door like `experimental.extraOptimizations`
  * for physical rules: the state holds its adaptive rules in an
  * immutable `AdaptiveRulesHolder` that every adaptive query reads when
  * it is planned. So the live path swaps that holder for one with the
  * rules appended — the same list, in the same place, as the
  * session-build path puts them.
  */
object PlannerBridge {

  /** Appends the query-stage preparation rules not already present.
    * Idempotent; takes effect for queries planned afterwards.
    */
  def addQueryStagePrepRules(spark: SparkSession, rules: Seq[Rule[SparkPlan]]): Unit = {
    val state = spark.sessionState
    state.synchronized {
      val held = state.adaptiveRulesHolder
      val missing = rules.filterNot(held.queryStagePrepRules.contains)
      if (missing.nonEmpty) {
        val field = classOf[SessionState].getDeclaredField("adaptiveRulesHolder")
        field.setAccessible(true)
        field.set(state, new AdaptiveRulesHolder(held.queryStagePrepRules ++ missing,
          held.runtimeOptimizerRules, held.queryStageOptimizerRules,
          held.queryPostPlannerStrategyRules))
      }
    }
  }
}
