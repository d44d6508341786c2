package graft

import org.apache.spark.sql.{Column, DataFrame}
import graft.operators._

/** Library façade: `import graft.syntax._` gives the SCD2, exact-dedup and
  * cosine top-k operators as DataFrame methods. Every other operator is
  * called on its object in [[graft.operators]].
  */
object syntax {

  implicit final class GraftDataFrameOps(private val df: DataFrame) extends AnyVal {

    // --- SCD (silver-layer semantics) ---
    def scd2Init(loadTs: Column): DataFrame = Scd.scd2Init(df, loadTs)
    def scd2Merge(source: DataFrame, keys: Seq[String], loadTs: Column): DataFrame =
      Scd.scd2Merge(df, source, keys, loadTs)

    // --- dedup (documents) ---
    def dedupExact(idCol: String, textCol: String): DataFrame =
      Dedup.exactDedup(df, idCol, textCol)

    // --- similarity (embeddings) ---
    def cosineTopK(queries: DataFrame, k: Int): DataFrame =
      Similarity.bruteForceTopK(df, queries, k)
  }
}
