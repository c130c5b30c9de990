package graft.llm

import org.apache.spark.sql.{Column, DataFrame}

/** The two package-private steps of the hygiene chain that the traced
  * corpus workload times on their own. */
object CurateSteps {
  def hygienicText(text: Column): Column = Pipeline.hygienicText(text)
  def ruleVerdictsOf(docs: DataFrame): DataFrame = TextOps.ruleVerdictsOf(docs)
}
