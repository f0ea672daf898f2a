package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.similarity.{IvfIndex, Similarity}

/** Recall of the IVF index against exact cosine top-k. */
object Recall {

  /** Mean recall@k over `nq` corpus vectors used as queries (picked by
    * id hash, zero vectors skipped): the batched probe of `idx` against
    * the exact [[Similarity.batchTopK]] over `emb`.
    */
  def atK(emb: DataFrame, idx: IvfIndex.Index, idCol: String, nq: Int, k: Int): Double = {
    val queries = emb.filter(exists(col("embedding"), x => x =!= 0))
      .orderBy(xxhash64(col(idCol)), col(idCol)).limit(nq)
      .select(col(idCol).as("qid"), col("embedding").as("qvec")).cache()
    try {
      val exact = pairs(Similarity.batchTopK(emb, idCol, "embedding", queries, "qid", "qvec", k)
        .select(col("query_id"), col(idCol)))
      val approx = pairs(IvfIndex.probeJoin(idx, queries, "qid", "qvec", k)
        .select(col("query_id"), col(idCol)))
      mean(exact, approx)
    } finally queries.unpersist()
  }

  def pairs(df: DataFrame): Map[Long, Set[Long]] =
    df.collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

  /** Mean over the exact answers' queries of |approx ∩ exact| / |exact|. */
  def mean(exact: Map[Long, Set[Long]], approx: Map[Long, Set[Long]]): Double =
    exact.toSeq.map { case (q, e) =>
      approx.getOrElse(q, Set.empty).intersect(e).size.toDouble / e.size
    }.sum / exact.size
}
