package graft

import org.apache.spark.sql.DataFrame

/** The one package-private engine call the benchmark needs: the curated
  * export's token-stream packing, so `pipeline.pack` times the engine's
  * own pack rather than a copy of it. */
object PerfbenchPack {
  /** (doc_id, n_tokens, ids), already checkpointed → one row per 128-token
    * sequence: (shard, shard_pos, seq_id, n_tokens, token_ids). */
  def pack(ids: DataFrame): DataFrame =
    SparkEntry.packTokenStream(ids, seqLen = 128, materialized = true)
}
