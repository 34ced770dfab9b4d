package graft.operators

/** Common serving+maintenance surface of the in-process graph tiers —
  * [[HnswReplica]] (one graph) and [[HnswShards]] (id-hash sharded
  * graphs, parallel fan-out) — and, through
  * [[LocalMatrixStore.maintainable]], the block store's replica under any
  * codec. The streaming ingestion/tombstone twins
  * (graft.streaming.StreamingOps.upsertStreamWithHnsw /
  * tombstoneStreamHnsw) program against this trait, so the full
  * stream-to-serving loop works identically on either tier. */
trait HnswMaintainable {
  def nRows: Long

  /** Insert (or upsert) a batch of (id, vector) rows; vectors are
    * L2-normalized by the implementation. */
  def add(batch: Seq[(String, Array[Float])]): Unit

  /** Tombstone ids: they stop being returned immediately. */
  def markDeleted(dropIds: Seq[String]): Unit

  /** Approximate top-k cosine with the exact tiers' fidelity contract
    * on returned (id, score) pairs. */
  def query(queryVec: Array[Float], topK: Int, ef: Int = 64,
      betterThan: Option[Double] = None,
      allowedIds: Option[Set[String]] = None): Array[(String, Double)]
}
