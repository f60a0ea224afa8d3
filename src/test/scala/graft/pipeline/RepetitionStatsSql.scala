package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The column-expression formulation of `TextAnalysis.repetitionStats` —
  * the shape the q80 oracle replays in SQL; kept as the equivalence
  * reference for the typed fast path (PipelineSpec asserts bit-identical
  * frames on random corpora).
  */
object RepetitionStatsSql {
  def apply(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame = {
    def grams(n: Int): Column = TextAnalysis.wordGrams(col(textCol), n)
    def dupFrac(g: Column): Column = {
      val total = size(g)
      when(total === 0, lit(0.0))
        .otherwise(lit(1.0) -
          size(array_distinct(g)).cast("double") / total.cast("double"))
    }
    docs.select(col(idCol).cast("long").as("id"),
      size(grams(1)).cast("long").as("n_words"),
      round(dupFrac(grams(1)), 6).as("dup_word_frac"),
      round(dupFrac(grams(2)), 6).as("dup_bigram_frac"),
      round(dupFrac(grams(3)), 6).as("dup_trigram_frac"))
  }
}
