package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's handle on the resident ferret index and the indexed
  * multiprobe search that `stream_ferret` drives. Those entry points are
  * package-private to graft.operators, so this adapter lives in that
  * package; it adds no logic of its own. */
object FerretAccess {
  final class Index private[operators] (private[operators] val idx: Similarity.FerretIndex,
                                        private[operators] val corpus: DataFrame,
                                        val corpusRows: Long)

  /** Load `dir/embeddings.parquet` and build the resident index. */
  def build(s: SparkSession, dir: String): Index = {
    val e = Similarity.emb(s, dir)
    new Index(Similarity.ferretIndex(e), e, math.max(1L, e.count()))
  }

  /** Top-K neighbours per (query_id, qv) row of `queries`. */
  def search(ix: Index, queries: DataFrame): DataFrame =
    Similarity.ferretSearchIndexed(ix.idx, ix.corpus, queries, broadcastQueries = true)

  /** The per-trigger session conf stream_ferret scopes its drain with. */
  def innerConf(s: SparkSession, ix: Index, queriesPerTrigger: Long): Map[String, String] =
    StreamingOps.ferretInnerConf(s, ix.corpusRows, queriesPerTrigger)

  val TopK: Int = Similarity.TopK
}
