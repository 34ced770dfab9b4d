package graft.operators

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.storage.StorageLevel

/** Flattened-matrix scan cache for latency-critical top-k: one block
  * store, three codecs.
  *
  * The reference's core layout is a dense row-major `f32` matrix scanned
  * contiguously (/root/reference/src/lib.rs:44-45,208-242;
  * docs/src/design_choices.md:5-12). The DataFrame path
  * ([[VectorStore.query]]) reproduces its *plan* — but each row passes
  * through columnar-cache decode and ArrayData accessors, a per-element
  * overhead the reference does not pay. This cache is that matrix design
  * generalized to partitions: each partition pins one primitive
  * `float[]` block plus its id array, a query is one `mapPartitions`
  * running the tight dot-product loop with a bounded per-block heap,
  * and the driver merges the partial heaps of size k — the reference's
  * Rayon fold/reduce (lib.rs:218-242) with executors for threads. This
  * is the one deliberate use of the RDD layer in the library (genuine
  * per-partition imperative kernel; everything else is DataFrames).
  *
  * Every block has the same layout — ids, the exact normalized f32
  * matrix, its bucket, and an optional coarse array — and the store's
  * [[MatrixStore.Codec]] decides how a block nominates rows for the
  * exact f32 rerank:
  *  - [[MatrixStore.Codec.Exact]] ([[MatrixStore.fromStore]]): no coarse
  *    array; every row scores straight into the exact heap.
  *  - [[MatrixStore.Codec.Int8]] ([[QuantizedMatrixStore.fromStore]]):
  *    int8 codes + per-row inverse scales, 1/4 the f32 bytes; an integer
  *    dot nominates `oversample * k` rows per block.
  *  - [[MatrixStore.Codec.Sign]] ([[BinaryMatrixStore.fromStore]]):
  *    [[graft.functions.SignPack]] sign-bit signatures, dim/8 bytes per
  *    row; an XOR+POPCNT Hamming scan nominates `oversample * k` rows
  *    per block (smallest Hamming = largest estimated cosine).
  * Emitted scores are EXACT under every codec; what the coarse codecs
  * approximate is candidate NOMINATION — a true top-k row ranked below a
  * block's `oversample * k` coarse scores would be missed, so they are
  * additive fast paths with a labeled contract (recall asserted in
  * specs), never a silent replacement of the exact scan.
  *
  * Two build modes:
  *  - [[MatrixStore.fromStore]]: one block per source partition — the
  *    cheapest build for a read-only store.
  *  - [[MatrixStore.fromStoreBucketed]]: one block per
  *    [[VectorStore.Partitioned]] id-bucket, so after a bucketed upsert
  *    the cache is maintained INCREMENTALLY ([[refreshBuckets]]) by
  *    rebuilding only the touched buckets' blocks — O(touched/nBuckets)
  *    of the store instead of a full rebuild.
  *
  * Scores are bitwise-identical to [[VectorStore.query]] on the same
  * store: the same left-to-right double accumulation over the same
  * normalized float vectors, the same inclusive threshold, NaN
  * exclusion, and (score DESC, id ASC) tie order — and identical across
  * both build modes and any refresh history, because the heap merge is
  * order-insensitive.
  */
final class MatrixStore private (
    private[operators] val blocks: RDD[MatrixStore.Block],
    val dim: Int,
    val nBuckets: Option[Int],
    private[operators] val codec: MatrixStore.Codec) extends Serializable {

  /** Top-k cosine; returns (id, score) best-first, exact scores.
    * `allowedIds` is the O4 metadata predicate lowered to the id level
    * (evaluate the predicate ONCE on the metadata table, ship the
    * qualifying ids) — with it, filter + threshold + top-k, the
    * reference's full hot path (lib.rs:211-222), runs on this tier. It
    * gates rows before any coarse or exact flops, so a coarse codec
    * nominates among allowed rows only and the filter never costs
    * recall. `betterThan` is the inclusive threshold on the exact score.
    * `oversample` widens a coarse codec's nomination to
    * `max(oversample * topK, topK)` rows per block (default 8 for int8,
    * 16 for sign bits, which lose magnitude entirely); the exact codec
    * ignores it. */
  def query(queryVec: Array[Float], topK: Int,
      betterThan: Option[Double] = None,
      allowedIds: Option[Set[String]] = None,
      oversample: Int = codec.defaultOversample): Array[(String, Double)] =
    queryBatch(Seq("q" -> queryVec), topK, betterThan, allowedIds, oversample)("q")

  /** Batch top-k: every query scores against each block in ONE pass over
    * the cache (for the exact codec rows outer, queries inner — the
    * row's elements stay hot in cache across queries). Per-(block,
    * query) bounded heaps, merged per query on the driver; kernel
    * semantics identical to [[query]], so `queryBatch(qs)(qid)` ==
    * `query(qs(qid))` element for element.
    *
    * `allowedIds` rides as one broadcast and gates rows BEFORE any
    * flops are spent on them — the id-set form of the DataFrame path's
    * pred-before-scoring contract, checked per row against the slab's
    * id array. Meant for selective predicates (the set must fit in
    * executor memory); a low-selectivity filter belongs on the
    * DataFrame path, where the predicate prunes at the scan. */
  def queryBatch(queries: Seq[(String, Array[Float])], topK: Int,
      betterThan: Option[Double] = None,
      allowedIds: Option[Set[String]] = None,
      oversample: Int = codec.defaultOversample): Map[String, Array[(String, Double)]] = {
    if (queries.isEmpty) return Map.empty
    val scan = new MatrixStore.Scan(codec, dim, queries.map(_._2), topK, betterThan, oversample)
    val scanB = blocks.sparkContext.broadcast(scan)
    val allowedB = allowedIds.map(blocks.sparkContext.broadcast(_))
    val partials = blocks.mapPartitions { it =>
      val s = scanB.value
      val allowed = allowedB.map(_.value).orNull
      it.map(b => s.block(b, allowed, null))
    }.collect()
    queries.map(_._1).zip(scan.merge(partials)).toMap
  }

  /** Incrementally maintain a bucket-aligned cache after a
    * [[VectorStore.Partitioned]]-style upsert/delete: rebuild ONLY the
    * `touched` buckets' blocks from the store's current state and keep
    * every other block's slab untouched. The returned cache is
    * materialized before this returns and holds its OWN storage entries,
    * so release the superseded handle afterwards —
    * `old.unpersist()` — or a long-lived refresh loop accumulates one
    * stale generation of touched-bucket slabs per refresh. Requires a
    * cache built with [[MatrixStore.fromStoreBucketed]] /
    * [[MatrixStore.fromPartitionedLayout]] and the layout's nBuckets. */
  def refreshBuckets(store: VectorStore, touched: Seq[Int]): MatrixStore = {
    val nb = nBuckets.getOrElse(throw new IllegalArgumentException(
      "refreshBuckets needs a bucket-aligned cache — build with fromStoreBucketed"))
    val touchedSet = touched.toSet
    val kept = blocks.filter(b => !touchedSet.contains(b.bucket))
    val fresh = MatrixStore.bucketBlocks(
      store.df.filter(VectorStore.Partitioned.bucketOf(nb).isin(touched.map(_.toLong): _*)),
      dim, nb, codec)
    new MatrixStore(MatrixStore.pin(kept ++ fresh), dim, nBuckets, codec)
  }

  /** Persist the cache's contents as a [[VectorStore.Partitioned]]
    * on-disk layout (`data/__bucket__=b` parquet directories + sidecar),
    * closing the latency path's cold-start gap: a warm bucket-aligned
    * cache saves once, and [[MatrixStore.fromPartitionedLayout]] reloads
    * it with NO shuffle — each slab flattens straight into its bucket's
    * partition directory, and the load path slabs each directory back.
    * Requires a bucket-aligned cache ([[MatrixStore.fromStoreBucketed]] /
    * [[MatrixStore.fromPartitionedLayout]]); a partition-aligned build
    * (bucket = -1) has no stable on-disk partition identity. */
  def save(path: String): Unit = {
    val nb = nBuckets.getOrElse(throw new IllegalArgumentException(
      "save needs a bucket-aligned cache — build with fromStoreBucketed"))
    val d = dim
    val spark = org.apache.spark.sql.SparkSession.active
    import spark.implicits._
    blocks.flatMap { b =>
        val m = b.matrix
        b.ids.indices.iterator.map { r =>
          (b.ids(r), java.util.Arrays.copyOfRange(m, r * d, (r + 1) * d).toSeq,
            b.bucket.toLong)
        }
      }
      .toDF(VectorStore.IdCol, VectorStore.VectorCol, VectorStore.BucketCol)
      .repartition(nb, org.apache.spark.sql.functions.col(VectorStore.BucketCol))
      .write.mode("overwrite")
      .partitionBy(VectorStore.BucketCol).parquet(s"$path/data")
    VectorStore.writeSidecar(spark, s"$path/_meta.json",
      VectorStore.Meta(d, "cosine", Map("nBuckets" ->
        com.fasterxml.jackson.databind.node.IntNode.valueOf(nb))).toJson)
  }

  /** Collect the slabs into a driver-local serving replica with this
    * store's codec — see [[LocalMatrixStore]]. Memory cost: one full copy
    * of the matrix (N × dim × 4 bytes + ids) in the local JVM, plus ~25%
    * for int8 codes/scales or ~3% for sign bits. */
  def toLocal(): LocalMatrixStore =
    new LocalMatrixStore(blocks.collect(), dim, codec)

  /** Release the pinned blocks. `blocking = true` waits for the executors
    * to actually free the memory — required between timed rebuilds, where
    * an async release would let the old ~N×dim×4-byte slab race the new
    * build for cache space. */
  def unpersist(blocking: Boolean = false): Unit = blocks.unpersist(blocking)
}

/** Driver-local serving replica of a [[MatrixStore]] — the endpoint
  * tier for single-query latency. Spark builds and MAINTAINS the matrix
  * at cluster scale (bucketed layout, incremental refresh, persist); a
  * serving process materializes the slabs it serves in-process — which
  * is the reference's entire design (lib.rs:44-48) reappearing as the
  * leaf of the distributed system — and answers queries with zero task-
  * scheduling overhead: a multithreaded scan over primitive slabs with
  * the distributed tier's per-block kernel verbatim (same codec, same
  * nomination, same left-to-right double-accumulation rerank, inclusive
  * threshold, NaN exclusion, and (score DESC, id ASC) tie order), so
  * results are bitwise-equal by construction (the per-slab heap merge is
  * order-insensitive). The int8 and sign-bit codecs cut the per-query
  * bytes ~4x and 32x (coarse scan + oversample*k exact rows instead of
  * the full f32 matrix).
  *
  * Carries the same in-process mutate surface as the graph tiers
  * ([[HnswMaintainable]], via [[maintainable]]) so the streaming
  * ingestion/tombstone twins drive it unchanged: [[add]] upserts shadow
  * the slab copy and live in an overlay that is always EXACT-scored
  * (never costs recall); [[markDeleted]] tombstones hide rows
  * immediately. The overlay is serving churn between refreshes — rebuild
  * from the store on the maintenance cadence, same posture as the
  * tombstoned graphs; single-writer contract.
  *
  * This is deliberately NOT a distributed operator: it exists because a
  * 13 ms top-k over an in-memory matrix is below Spark's scheduling
  * floor, and the scale answer for serving is replication (each replica
  * holds the partitions it serves), not tasks. */
final class LocalMatrixStore private[operators] (
    blocks: Array[MatrixStore.Block], val dim: Int, codec: MatrixStore.Codec) {

  // upsert overlay (id -> normalized f32 vector, the same representation
  // a refresh from the store would pin — scores must stay bitwise-equal
  // to the slab kernel's) + tombstones hiding slab copies;
  // insertion-ordered for deterministic scans
  private val extra = mutable.LinkedHashMap.empty[String, Array[Float]]
  private val tombstoned = mutable.HashSet.empty[String]

  /** Slab ids the overlay hides (tombstoned or shadowed), or null. */
  private def hidden: Set[String] =
    if (tombstoned.isEmpty && extra.isEmpty) null else (tombstoned ++ extra.keys).toSet

  def nRows: Long = {
    val h = hidden
    blocks.iterator.map { b =>
      if (h == null) b.ids.length.toLong else b.ids.count(id => !h.contains(id)).toLong
    }.sum + extra.size
  }

  def nTombstones: Long = tombstoned.size.toLong

  /** Upsert (id, vector) rows into the serving overlay: the slab copy
    * (if any) is shadowed, the new vector answers from now on. The
    * vector normalizes with EXACTLY the ingest kernel's arithmetic
    * (double accumulate, per-element divide, cast to float —
    * [[graft.functions.VectorNormalize]]), so re-adding a stored row
    * reproduces its slab floats bit for bit. */
  def add(batch: Seq[(String, Array[Float])]): Unit = batch.foreach { case (id, v) =>
    require(v.length == dim, s"vector dim ${v.length} != store dim $dim")
    var ss = 0.0
    var i = 0
    while (i < dim) { ss += v(i).toDouble * v(i).toDouble; i += 1 }
    require(ss > 1e-12, "Cannot normalize a zero-magnitude vector")
    val norm = math.sqrt(ss)
    val f = new Array[Float](dim)
    i = 0
    while (i < dim) { f(i) = (v(i).toDouble / norm).toFloat; i += 1 }
    extra(id) = f
    tombstoned -= id
  }

  /** Tombstone ids: slab copies and overlay rows stop being returned
    * immediately. */
  def markDeleted(dropIds: Seq[String]): Unit = dropIds.foreach { id =>
    extra -= id
    tombstoned += id
  }

  /** [[HnswMaintainable]] adapter: lets the streaming ingestion and
    * tombstone twins (`upsertStreamWithHnsw` / `tombstoneStreamHnsw`)
    * drive this replica exactly like the graph tiers. Delegates to THIS
    * instance (shared mutation state); the trait's `ef` knob maps to
    * the nomination oversample — both are "how wide the approximate
    * stage searches". An adapter rather than a direct mixin because the
    * trait's defaulted `query(ef)` would ambiguously overload the
    * tier's defaulted `query(oversample)`. */
  def maintainable: HnswMaintainable = new HnswMaintainable {
    def nRows: Long = LocalMatrixStore.this.nRows
    def add(batch: Seq[(String, Array[Float])]): Unit =
      LocalMatrixStore.this.add(batch)
    def markDeleted(dropIds: Seq[String]): Unit =
      LocalMatrixStore.this.markDeleted(dropIds)
    def query(queryVec: Array[Float], topK: Int, ef: Int,
        betterThan: Option[Double],
        allowedIds: Option[Set[String]]): Array[(String, Double)] =
      LocalMatrixStore.this.query(queryVec, topK, betterThan, allowedIds, math.max(1, ef))
  }

  /** Incrementally refresh the replica after a bucketed upsert/delete
    * cycle: ship ONLY the `touched` buckets' slabs from the (already
    * refreshed) bucket-aligned distributed cache and splice them over
    * this replica's copies of those buckets — the touched-buckets-only
    * delta that completes the ingestion-to-serving loop
    * (`Partitioned.upsert` → `refreshBuckets` → here, each step cost ∝
    * touched). Untouched slabs are reused by reference (zero copy); a
    * touched bucket the refreshed cache no longer has (fully deleted)
    * drops out. Returns a NEW replica with an empty overlay — serving
    * code swaps the handle atomically, same discipline as the cache
    * tier. Requires a bucket-aligned source cache and a replica whose
    * blocks carry bucket tags (i.e. built from one). */
  def refresh(mx: MatrixStore, touched: Seq[Int]): LocalMatrixStore = {
    require(mx.nBuckets.isDefined,
      "refresh needs a bucket-aligned cache — build with fromStoreBucketed")
    require(mx.dim == dim, s"cache dim ${mx.dim} != replica dim $dim")
    val touchedSet = touched.toSet
    require(blocks.forall(_.bucket >= 0),
      "refresh needs a bucket-aligned replica — toLocal() of a bucketed cache")
    val fresh = mx.blocks.filter(b => touchedSet.contains(b.bucket)).collect()
    val kept = blocks.filterNot(b => touchedSet.contains(b.bucket))
    new LocalMatrixStore(kept ++ fresh, dim, codec)
  }

  /** Index this replica's live rows into an in-process HNSW graph — the
    * sub-linear serving sibling ([[HnswReplica]]): same vectors, same
    * score kernel, O(ef·M·log N) per query instead of O(N·d). The slab
    * vectors are already L2-normalized (every ingest path normalizes),
    * which [[HnswReplica]] requires. One-off build cost ∝ N·log N
    * parallel across the pool; after that, [[HnswReplica.add]] /
    * [[HnswReplica.markDeleted]] maintain it incrementally. */
  def toHnsw(m: Int = 16, efConstruction: Int = 100,
      seed: Long = 42L): HnswReplica = {
    val (ids, flat) = flatten()
    HnswReplica.build(ids, flat, dim, m, efConstruction, seed)
  }

  /** Sharded variant of [[toHnsw]] ([[HnswShards]]): id-hash-partition
    * the rows into `nShards` independent graphs, query them in parallel
    * and merge. On large high-dim corpora this holds the SMALL-graph
    * recall at the wall latency of one small-graph search — the
    * operating points a single 100k+ graph can't reach (see
    * [[HnswShards]]'s scaladoc for the measured numbers). `nShards = 0`
    * picks [[HnswShards.defaultShards]] (~3.1k rows per shard — small
    * enough that each shard builds serially = deterministically on its
    * own pool thread). Default m/efConstruction are the round-10
    * measured sweet spot at that shard size on the hardest (uniform
    * 1024-dim) microbench: m=24/efC=200 builds 100k in ~24 s at
    * recall@10 = 1.000 (ef=256) / 0.975 (ef=128); m=32/efC=400 bought
    * nothing but 1.7x the build there. */
  def toHnswSharded(nShards: Int = 0, m: Int = 24, efConstruction: Int = 200,
      seed: Long = 42L): HnswShards = {
    val (ids, flat) = flatten()
    val k = if (nShards > 0) nShards else HnswShards.defaultShards(ids.length.toLong)
    HnswShards.build(ids, flat, dim, k, m, efConstruction, seed)
  }

  /** The live rows as one id array + one row-major matrix: slab rows the
    * overlay does not hide, then the overlay rows. */
  private def flatten(): (Array[String], Array[Float]) = {
    val h = hidden
    val n = nRows.toInt
    val ids = new Array[String](n)
    val flat = new Array[Float](n * dim)
    var o = 0
    def put(id: String, src: Array[Float], off: Int): Unit = {
      ids(o) = id
      System.arraycopy(src, off, flat, o * dim, dim)
      o += 1
    }
    blocks.foreach { b =>
      b.ids.indices.foreach(r => if (h == null || !h.contains(b.ids(r))) put(b.ids(r), b.matrix, r * dim))
    }
    extra.foreach { case (id, v) => put(id, v, 0) }
    (ids, flat)
  }

  /** Top-k cosine; (id, score) best-first, exact scores — the contract
    * of [[MatrixStore.query]] (O4 `allowedIds` gate before nomination,
    * inclusive `betterThan`, codec-default `oversample` that the exact
    * codec ignores), served in-process with the overlay applied. */
  def query(queryVec: Array[Float], topK: Int,
      betterThan: Option[Double] = None,
      allowedIds: Option[Set[String]] = None,
      oversample: Int = codec.defaultOversample): Array[(String, Double)] =
    run(Seq(queryVec), topK, betterThan, allowedIds, oversample)(0)

  /** Batch top-k on the replica: one pass over the slabs, per-(slab,
    * query) bounded heaps merged per query — [[MatrixStore.queryBatch]]'s
    * kernel in-process, so `queryBatch(qs)(qid)` == `query(qs(qid))`
    * element for element. */
  def queryBatch(queries: Seq[(String, Array[Float])], topK: Int,
      betterThan: Option[Double] = None,
      allowedIds: Option[Set[String]] = None,
      oversample: Int = codec.defaultOversample): Map[String, Array[(String, Double)]] =
    if (queries.isEmpty) Map.empty
    else queries.map(_._1).zip(run(queries.map(_._2), topK, betterThan, allowedIds, oversample)).toMap

  private def run(vecs: Seq[Array[Float]], topK: Int, betterThan: Option[Double],
      allowedIds: Option[Set[String]], oversample: Int): Array[Array[(String, Double)]] = {
    val scan = new MatrixStore.Scan(codec, dim, vecs, topK, betterThan, oversample)
    val allowed = allowedIds.orNull
    val h = hidden
    val partials = new Array[Array[Array[(Double, String)]]](blocks.length + 1)
    java.util.stream.IntStream.range(0, blocks.length).parallel().forEach { bi =>
      partials(bi) = scan.block(blocks(bi), allowed, h)
    }
    // overlay rows: always exact-scored (a handful between refreshes —
    // including them unconditionally can only help recall)
    partials(blocks.length) = scan.block(
      MatrixStore.Block(extra.keys.toArray, Array.concat(extra.values.toSeq: _*)),
      allowed, null, exact = true)
    scan.merge(partials)
  }
}

object MatrixStore {
  /** Worst-first heap ordering: the head is the element to evict —
    * lowest score, ties resolved worst = larger id — so the kept set is
    * exactly ORDER BY score DESC, id ASC LIMIT k. */
  private[operators] val worstFirst: Ordering[(Double, String)] =
    new Ordering[(Double, String)] {
      def compare(a: (Double, String), b: (Double, String)): Int = {
        val c = java.lang.Double.compare(b._1, a._1)
        if (c != 0) c else a._2.compareTo(b._2)
      }
    }

  /** One partition's slab: ids + row-major normalized float matrix.
    * `bucket` is the [[VectorStore.Partitioned]] id-bucket the slab
    * covers, or -1 for partition-aligned (non-incremental) builds.
    * `coarse` is the codec's nomination array ([[Codec.encode]]): null
    * for [[Codec.Exact]]. */
  final case class Block(ids: Array[String], matrix: Array[Float], bucket: Int = -1,
      coarse: AnyRef = null)

  /** How a block nominates rows for the exact f32 rerank. A codec owns
    * only what differs between the serving tiers — how a row is encoded
    * and how a block nominates candidates; the block layout, the gates,
    * the rerank and the merge are shared ([[Scan]]). */
  sealed abstract class Codec(val defaultOversample: Int) extends Serializable {
    /** The coarse array for the `n` rows of `matrix`; null: none. */
    private[operators] def encode(matrix: Array[Float], n: Int, dim: Int): AnyRef = null
    /** The normalized query's coarse form. */
    private[operators] def prepare(q: Array[Double]): AnyRef = null
    /** Offer every gated row's approximate score to `cands`. */
    private[operators] def nominate(b: Block, q: AnyRef, allowed: Set[String],
        hidden: Set[String], cands: Candidates): Unit = ()
  }

  object Codec {
    /** Exact f32 scan: no coarse array, every row scores straight into
      * the exact heap (no nominate pass); `oversample` is ignored. */
    case object Exact extends Codec(1)

    /** Int8 codes next to the f32 slab, the [[Quantize]] scheme: per-row
      * scale 127/max|x|, codes `math.round(x * scale)` — `math.round`
      * rounds .5 ties toward +∞ (so -2.5 → -2), unlike
      * [[Quantize.quantizeInt8]]'s away-from-zero rounding. The coarse
      * array is (codes, per-row inverse scales): the query's own scale
      * divides out in RANKING, so it is folded into neither. */
    case object Int8 extends Codec(8) {
      override private[operators] def encode(m: Array[Float], n: Int, dim: Int): AnyRef = {
        val codes = new Array[Byte](n * dim)
        val invScale = new Array[Double](n)
        var r = 0
        while (r < n) {
          val off = r * dim
          var mx = 0.0
          var i = 0
          while (i < dim) { if (math.abs(m(off + i)) > mx) mx = math.abs(m(off + i)); i += 1 }
          val scale = if (mx > 0) 127.0 / mx else 0.0
          i = 0
          while (i < dim) { codes(off + i) = math.round(m(off + i).toDouble * scale).toByte; i += 1 }
          invScale(r) = if (scale > 0) 1.0 / scale else 0.0
          r += 1
        }
        (codes, invScale)
      }

      // quantize the normalized query symmetrically (its own scale)
      override private[operators] def prepare(q: Array[Double]): AnyRef = {
        var qmax = 0.0
        q.foreach(x => if (math.abs(x) > qmax) qmax = math.abs(x))
        val qscale = if (qmax > 0) 127.0 / qmax else 0.0
        q.map(x => math.round(x * qscale).toByte)
      }

      // integer dot over the codes, rescaled by the row's inverse scale
      override private[operators] def nominate(b: Block, q: AnyRef, allowed: Set[String],
          hidden: Set[String], cands: Candidates): Unit = {
        val (codes, invScale) = b.coarse.asInstanceOf[(Array[Byte], Array[Double])]
        val qq = q.asInstanceOf[Array[Byte]]
        val d = qq.length
        var r = 0
        while (r < b.ids.length) {
          if (live(b.ids(r), allowed, hidden)) {
            val off = r * d
            var acc = 0
            var i = 0
            while (i < d) { acc += codes(off + i) * qq(i); i += 1 }
            cands.offer(acc * invScale(r), r)
          }
          r += 1
        }
      }
    }

    /** Sign-bit signatures next to the f32 slab, the
      * [[graft.functions.SignPack]] scheme: bit set iff element >= 0, on
      * the already-normalized stored vector, ceil(dim/64) words per row. */
    case object Sign extends Codec(16) {
      override private[operators] def encode(m: Array[Float], n: Int, dim: Int): AnyRef = {
        val w = (dim + 63) >> 6
        val sigs = new Array[Long](n * w)
        var r = 0
        while (r < n) {
          var i = 0
          while (i < dim) {
            if (m(r * dim + i) >= 0.0f) sigs(r * w + (i >> 6)) |= (1L << (i & 63))
            i += 1
          }
          r += 1
        }
        sigs
      }

      override private[operators] def prepare(q: Array[Double]): AnyRef = {
        val out = new Array[Long]((q.length + 63) >> 6)
        var i = 0
        while (i < q.length) {
          if (q(i) >= 0.0) out(i >> 6) |= (1L << (i & 63))
          i += 1
        }
        out
      }

      // XOR+POPCNT Hamming scan; smaller Hamming = larger approximate
      // score (-h, never -0.0, so ties rank exactly as the integers do)
      override private[operators] def nominate(b: Block, q: AnyRef, allowed: Set[String],
          hidden: Set[String], cands: Candidates): Unit = {
        val sigs = b.coarse.asInstanceOf[Array[Long]]
        val qs = q.asInstanceOf[Array[Long]]
        val w = qs.length
        var r = 0
        while (r < b.ids.length) {
          if (live(b.ids(r), allowed, hidden)) {
            val off = r * w
            var h = 0
            var i = 0
            while (i < w) { h += java.lang.Long.bitCount(sigs(off + i) ^ qs(i)); i += 1 }
            cands.offer((-h).toDouble, r)
          }
          r += 1
        }
      }
    }
  }

  /** The O4 id gate and the overlay's hide set, checked before any flops. */
  @inline private[operators] def live(id: String, allowed: Set[String], hidden: Set[String]): Boolean =
    (allowed == null || allowed.contains(id)) && (hidden == null || !hidden.contains(id))

  /** The one f32 kernel: left-to-right double accumulation of row
    * `m(off until off + q.length)` against the normalized query. */
  @inline private[operators] def dot(m: Array[Float], off: Int, q: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < q.length) { s += m(off + i).toDouble * q(i); i += 1 }
    s
  }

  private val byApprox = Ordering.by[(Double, Int), Double](_._1).reverse

  /** A block's nomination heap: the `n` largest approximate scores
    * offered (row order breaks nothing — the rerank is exact). */
  private[operators] final class Candidates(n: Int) {
    val heap = mutable.PriorityQueue.empty[(Double, Int)](byApprox) // min-heap on approx score
    def offer(approx: Double, row: Int): Unit =
      if (heap.size < n) heap.enqueue((approx, row))
      else if (approx > heap.head._1) { heap.dequeue(); heap.enqueue((approx, row)) }
  }

  /** A prepared query batch and the shared per-block kernel: the codec
    * branch is taken once per block, the O4 gate, the inclusive
    * threshold (NaN fails it), the exact f32 rerank and the worst-first
    * heap exist once, and [[merge]] is the one order-insensitive merge.
    * Broadcast as-is by the distributed tier. */
  private[operators] final class Scan(codec: Codec, dim: Int, vecs: Seq[Array[Float]],
      k: Int, betterThan: Option[Double], oversample: Int) extends Serializable {
    require(codec == Codec.Exact || oversample >= 1, "oversample must be >= 1")
    private val qn: Array[Array[Double]] = vecs.map(VectorStore.normalizeLocal).toArray
    qn.foreach(q => require(q.length == dim, s"query dim ${q.length} != store dim $dim"))
    private val qc: Array[AnyRef] = qn.map(codec.prepare)
    private val thr = betterThan.getOrElse(Double.MinValue)
    private val nCand = math.max(k * oversample, k)

    /** Per-query exact heaps (worst at the head) over one block's gated
      * rows: every row scored when `exact`, else the codec's nominees. */
    def block(b: Block, allowed: Set[String], hidden: Set[String],
        exact: Boolean = codec == Codec.Exact): Array[Array[(Double, String)]] = {
      val heaps = Array.fill(qn.length)(mutable.PriorityQueue.empty[(Double, String)](worstFirst))
      val m = b.matrix
      val ids = b.ids
      if (exact) {
        var r = 0
        while (r < ids.length) {
          if (live(ids(r), allowed, hidden)) {
            val off = r * dim
            var qi = 0
            while (qi < qn.length) { offer(heaps(qi), dot(m, off, qn(qi)), ids(r)); qi += 1 }
          }
          r += 1
        }
      } else {
        var qi = 0
        while (qi < qn.length) {
          val cands = new Candidates(nCand)
          codec.nominate(b, qc(qi), allowed, hidden, cands)
          cands.heap.foreach { case (_, r) => offer(heaps(qi), dot(m, r * dim, qn(qi)), ids(r)) }
          qi += 1
        }
      }
      heaps.map(_.toArray)
    }

    private def offer(heap: mutable.PriorityQueue[(Double, String)], s: Double, id: String): Unit =
      if (s >= thr) {
        val e = (s, id)
        if (heap.size < k) heap.enqueue(e)
        else if (worstFirst.compare(e, heap.head) < 0) { heap.dequeue(); heap.enqueue(e) }
      }

    /** Per query, best-first (id, score) from every block's heaps. */
    def merge(partials: Array[Array[Array[(Double, String)]]]): Array[Array[(String, Double)]] =
      Array.tabulate(qn.length) { qi =>
        partials.iterator.flatMap(_(qi)).toArray.sorted(worstFirst).take(k)
          .map { case (s, id) => (id, s) }
      }
  }

  /** Append-only primitive-array slab builder (no per-element boxing). */
  private final class BlockBuilder(dim: Int) {
    val ids = mutable.ArrayBuffer.empty[String]
    private var matrix = new Array[Float](0)
    private var used = 0
    def add(id: String, v: Array[Float]): Unit = {
      if (used + dim > matrix.length) {
        val grown = new Array[Float](math.max(matrix.length * 2, (used + dim) * 2))
        System.arraycopy(matrix, 0, grown, 0, used)
        matrix = grown
      }
      System.arraycopy(v, 0, matrix, used, dim)
      used += dim
      ids += id
    }
    def result(bucket: Int, codec: Codec): Block = {
      val m = java.util.Arrays.copyOf(matrix, used)
      Block(ids.toArray, m, bucket, codec.encode(m, ids.length, dim))
    }
  }

  /** (bucket, id, vector) rows of a store frame; vectors are cast to
    * float — the reference's element type (lib.rs:24) — regardless of
    * the store's oracle-path element type. */
  private def rows(df: DataFrame, bucketCol: Column): RDD[(Int, String, Array[Float])] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val spark = df.sparkSession
    import spark.implicits._
    // plain ArrayType(FloatType): a non-null element cast is rejected
    // when the source (e.g. parquet) declares nullable elements
    df.select(bucketCol.cast(IntegerType), col(VectorStore.IdCol).cast(StringType),
        col(VectorStore.VectorCol).cast(ArrayType(FloatType)))
      .as[(Int, String, Array[Float])]
      .rdd
  }

  /** The one block builder: slab a partition's rows into one block per
    * bucket (a single block for partition-aligned rows). */
  private def slabs(dim: Int, codec: Codec)(
      it: Iterator[(Int, String, Array[Float])]): Iterator[Block] = {
    val builders = mutable.LinkedHashMap.empty[Int, BlockBuilder]
    it.foreach { case (bkt, id, v) =>
      require(v.length == dim, s"vector dim ${v.length} != $dim for id $id")
      builders.getOrElseUpdate(bkt, new BlockBuilder(dim)).add(id, v)
    }
    builders.iterator.map { case (bkt, b) => b.result(bkt, codec) }
  }

  /** Pin in executor memory and materialize now: queries measure scan,
    * not build. */
  private def pin(blocks: RDD[Block]): RDD[Block] = {
    blocks.persist(StorageLevel.MEMORY_AND_DISK)
    blocks.count()
    blocks
  }

  /** Build (and pin in executor memory) the exact matrix cache from a
    * store. One pass, one block per source partition. */
  def fromStore(st: VectorStore): MatrixStore = build(st, Codec.Exact)

  /** [[fromStore]] under any codec — the seam behind
    * [[QuantizedMatrixStore.fromStore]] and [[BinaryMatrixStore.fromStore]]. */
  private[operators] def build(st: VectorStore, codec: Codec): MatrixStore = {
    val dim = st.embeddingDim
    val blocks = rows(st.df, org.apache.spark.sql.functions.lit(-1))
      .mapPartitions(slabs(dim, codec))
    new MatrixStore(pin(blocks), dim, None, codec)
  }

  /** Build a bucket-aligned cache: one block per
    * [[VectorStore.Partitioned]] id-bucket, enabling
    * [[MatrixStore.refreshBuckets]] after incremental upserts. Costs one
    * extra shuffle vs [[fromStore]] (rows must be co-located by bucket). */
  def fromStoreBucketed(st: VectorStore, nBuckets: Int): MatrixStore = {
    require(nBuckets > 0)
    val blocks = bucketBlocks(st.df, st.embeddingDim, nBuckets, Codec.Exact)
    new MatrixStore(pin(blocks), st.embeddingDim, Some(nBuckets), Codec.Exact)
  }

  /** Load a bucket-aligned cache straight from a
    * [[VectorStore.Partitioned]] on-disk layout with NO shuffle: the
    * layout already co-located rows by id-bucket at write time, so each
    * bucket's partition directory scans independently, coalesces into
    * one task, and slabs into one Block. Build cost is a single pass
    * over the files; parallelism is one task per bucket (exactly the
    * refresh granularity). The returned cache supports
    * [[MatrixStore.refreshBuckets]] with the layout's own nBuckets. */
  def fromPartitionedLayout(spark: org.apache.spark.sql.SparkSession,
      path: String): MatrixStore = {
    val meta = VectorStore.readMeta(spark, s"$path/_meta.json")
    val nBuckets = meta.additionalData.getOrElse("nBuckets",
      throw new IllegalArgumentException(
        s"$path is not a VectorStore.Partitioned layout (no nBuckets in sidecar)")).asInt()
    val dim = meta.embeddingDim
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val perBucket = (0 until nBuckets).flatMap { b =>
      val dirPath = s"$path/data/${VectorStore.BucketCol}=$b"
      if (!fs.exists(new org.apache.hadoop.fs.Path(dirPath))) None
      // parquet element nullability is true, so cast keeps containsNull
      // (the encoder decodes fine; stored vectors never hold nulls);
      // single slab per bucket, no exchange
      else Some(rows(spark.read.parquet(dirPath).coalesce(1),
        org.apache.spark.sql.functions.lit(b)).mapPartitions(slabs(dim, Codec.Exact)))
    }
    new MatrixStore(pin(spark.sparkContext.union(perBucket)), dim, Some(nBuckets), Codec.Exact)
  }

  /** Shuffle rows to their id-bucket and slab each bucket into a Block.
    * One partition per bucket, so a refresh rebuilds exactly the touched
    * slabs. */
  private def bucketBlocks(df: DataFrame, dim: Int, nBuckets: Int, codec: Codec): RDD[Block] =
    rows(df, VectorStore.Partitioned.bucketOf(nBuckets))
      .keyBy(_._1)
      .partitionBy(new org.apache.spark.HashPartitioner(nBuckets))
      // one bucket per partition under HashPartitioner(nBuckets) when
      // keys are 0..nBuckets-1; slabs groups by key defensively anyway
      .values
      .mapPartitions(slabs(dim, codec))
}

/** The int8 serving tier: a [[MatrixStore]] under [[MatrixStore.Codec.Int8]]
  * — the latency lever on a memory-bandwidth-bound exact scan (the f32
  * tier measures ~40 ms for 100k x 1024 f32 = 400 MB per query on this
  * box; the scan IS the floor). A query first scans the int8 codes with
  * an integer dot product to nominate `oversample * k` (default 8)
  * candidates per block, then computes the EXACT double-accumulated f32
  * score for those candidates only. Memory cost: the f32 slab plus ~25%
  * for codes/scales. The win is per-query bytes touched: codes (100 MB
  * at 100k x 1024) plus ~oversample*k*dim floats, vs the full 400 MB. */
object QuantizedMatrixStore {
  def fromStore(st: VectorStore): MatrixStore = MatrixStore.build(st, MatrixStore.Codec.Int8)
}

/** The binary sign-bit serving tier: a [[MatrixStore]] under
  * [[MatrixStore.Codec.Sign]] — the 32x compression rung below the int8
  * tier. A query first scans the sign-bit signatures with an XOR+POPCNT
  * Hamming kernel — 16 word ops per 1024-dim row vs 1024 multiply-adds —
  * to nominate `oversample * k` (default 16) candidates per block, then
  * computes the EXACT f32 score for those candidates only.
  *
  * Why this tier exists at corpus scale: per-query coarse bytes are
  * dim/8 per row — 12.8 MB for 100k x 1024 vs 100 MB int8 codes or
  * 400 MB f32 — so the nomination scan runs at cache speed and the
  * whole-corpus coarse pass stays memory-bandwidth-feasible at 100x the
  * rows. Sign bits lose magnitude entirely, so the honest operating
  * point needs a larger oversample than int8 (default 16 vs 8);
  * the recall/latency pairs are committed in BENCH_LOCAL.
  *
  * The reference scans raw f32 only (reference src/lib.rs:321-344);
  * this is north-star scope. */
object BinaryMatrixStore {
  def fromStore(st: VectorStore): MatrixStore = MatrixStore.build(st, MatrixStore.Codec.Sign)
}
