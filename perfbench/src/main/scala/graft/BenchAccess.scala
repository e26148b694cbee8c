package graft

import org.apache.spark.sql.DataFrame

/** The one package-private library stage the corpus pass composes. */
object BenchAccess {
  def estimateSigTable(df: DataFrame, id: String, text: String, n: Int): DataFrame =
    graft.llm.Dedup.estimateSigTable(df, id, text, n)
}
