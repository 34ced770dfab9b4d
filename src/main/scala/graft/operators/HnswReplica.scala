package graft.operators

import java.util.concurrent.atomic.AtomicReference

/** In-process HNSW graph over a serving replica's vectors — the
  * approximate sibling of [[LocalMatrixStore]]'s block scan (built by
  * [[LocalMatrixStore.toHnsw]]).
  *
  * [[LocalMatrixStore]] answers a top-k in O(N·d): every query reads
  * the full slab. That is the reference's own design (a brute-force
  * scan, lib.rs:203-231) and it beats the reference's latency — but it
  * is still linear, so the replica tier's latency grows with the corpus
  * it serves. HNSW (Malkov & Yashunin 2016, arXiv:1603.09320) is the
  * standard serving-side answer: a layered proximity graph whose greedy
  * descent visits O(ef·M·log N) nodes, independent of N for fixed
  * parameters. The division of labor stays the library's usual one —
  * SPARK builds, maintains, dedups, and quantizes the corpus at cluster
  * scale; the serving process materializes a replica and pays a one-off
  * graph build; queries then run in microseconds with zero task-
  * scheduling overhead. Scale-out for serving remains replication
  * (each replica holds + indexes the partitions it serves), so the
  * graph never needs to be distributed.
  *
  * Fidelity contract: every (id, score) this index EMITS is computed
  * with the SAME kernel as the exact tiers (normalized vectors,
  * left-to-right double accumulation over float slabs) — the beam walks
  * on a fast multi-accumulator float kernel, then the ef survivors are
  * re-scored exactly before the final order. So emitted scores are
  * bitwise-equal to the exact tier's score for that id; approximation
  * affects only WHICH ids are found (recall), never their scores or
  * the (score DESC, id ASC) tie order. Recall is spec-pinned against
  * [[LocalMatrixStore]] on the test corpus.
  *
  * Maintenance mirrors the library's incremental posture: [[add]]
  * inserts a batch into the existing graph (cost ∝ batch · log N — no
  * rebuild; an id that already exists upserts by tombstoning the old
  * row), [[markDeleted]] tombstones ids (queries traverse through
  * tombstones — standard HNSW practice, connectivity is preserved —
  * but never return them). Build and add are internally parallel:
  * neighbor lists are immutable arrays published by CAS, so a reader
  * always sees a consistent (possibly momentarily stale) list, and the
  * release/acquire edge of that CAS also publishes the grown column
  * stores a new node's links point into. The supported concurrency is
  * SINGLE-writer / multi-reader: one maintenance thread may call
  * add/markDeleted while serving threads query (the streaming
  * ingestion twin's shape); interleaving two maintenance calls from
  * different threads is not supported — serialize them.
  *
  * The `allowedIds` / `betterThan` gates complete the reference's hot
  * path (filter + threshold + top-k, lib.rs:211-222) on this tier too.
  * Both are post-filters over the ef-sized candidate set: a highly
  * selective filter should raise `ef` (or use the exact replica, whose
  * filter is free).
  */
final class HnswReplica private (
    val dim: Int, m: Int, efConstruction: Int, seed: Long)
  extends HnswMaintainable {

  private val maxM = m
  private val maxM0 = 2 * m
  private val mL = 1.0 / math.log(m.toDouble)

  // growable column stores, index = node id in the graph
  private var ids: Array[String] = new Array[String](0)
  private var mat: Array[Float] = new Array[Float](0) // row-major, n*dim
  private var levels: Array[Int] = new Array[Int](0)
  // links(node)(level) holds an immutable neighbor array; CAS to update
  private var links: Array[Array[AtomicReference[Array[Int]]]] =
    new Array[Array[AtomicReference[Array[Int]]]](0)
  private var count = 0
  private val idToIdx = new java.util.HashMap[String, Integer]()
  private val deleted = new java.util.BitSet()
  // packed (maxLevel << 32) | entryNode — one volatile word so a reader
  // never pairs a new level with a stale entry point
  private val entryState = new java.util.concurrent.atomic.AtomicLong(-1L)

  def nRows: Long = count.toLong - deleted.cardinality()
  def nTombstones: Long = deleted.cardinality().toLong

  // maintenance seams for the sharded tier ([[HnswShards.maintain]])
  private[operators] def buildParams: (Int, Int, Long) = (m, efConstruction, seed)

  /** Live (non-tombstoned) rows as (ids, row-major float slab) — the
    * input a tombstone-GC rebuild needs; vectors are already
    * normalized (every ingest path normalizes before storage). */
  private[operators] def liveRows: (Array[String], Array[Float]) = {
    val n = nRows.toInt
    val outIds = new Array[String](n)
    val outVec = new Array[Float](n * dim)
    var o = 0
    var i = 0
    while (i < count) {
      if (!deleted.get(i)) {
        outIds(o) = ids(i)
        System.arraycopy(mat, i * dim, outVec, o * dim, dim)
        o += 1
      }
      i += 1
    }
    (outIds, outVec)
  }

  /** Deterministic HNSW level for the node at global index `idx`. */
  private def levelOf(idx: Int): Int = {
    val r = new java.util.SplittableRandom(seed + idx * 0x9E3779B97F4A7C15L)
    val u = 1.0 - r.nextDouble() // (0, 1] — never ln(0)
    math.floor(-math.log(u) * mL).toInt
  }

  /** The exact tiers' kernel: left-to-right double accumulation, so a
    * score here is bitwise-equal to [[LocalMatrixStore.query]]'s for
    * the same (query, row). Used ONLY to score what the index RETURNS
    * (the fidelity contract); traversal runs on [[simFast]]. */
  private def sim(q: Array[Double], node: Int): Double = {
    val off = node * dim
    var s = 0.0
    var i = 0
    while (i < dim) { s += mat(off + i).toDouble * q(i); i += 1 }
    s
  }

  /** Traversal kernel: SIMD (Vector API) float accumulation with an
    * 8-lane scalar fallback ([[graft.simd.FloatKernels]]). The exact
    * kernel's strict left-to-right double chain serializes on FP-add
    * latency (~4 cycles per element — it measured 68 ms/query at
    * ef=1024, dim=1024), but traversal scores only steer the beam, they
    * are never emitted: every result is re-scored with [[sim]] before
    * the final order, so the fidelity contract (bitwise-exact returned
    * scores, exact tie order) is untouched while the walk runs ~8-20x
    * faster — which is what makes the large-ef operating points that
    * high-dim data needs fit the latency budget, and what the graph
    * BUILD (≈3000 of these dots per insert) is bound by. */
  private def simFast(q: Array[Float], node: Int): Double =
    graft.simd.FloatKernels.dot(mat, node * dim, q, 0, dim)

  private def simRows(a: Int, b: Int): Double =
    graft.simd.FloatKernels.dot(mat, a * dim, mat, b * dim, dim)

  // best-first ordering on (sim, node): higher sim first; ties lower id
  // first — the graph-index twin of MatrixStore.worstFirst
  private def better(s1: Double, n1: Int, s2: Double, n2: Int): Boolean =
    s1 > s2 || (s1 == s2 && n1 < n2)

  /** Greedy single-step descent at one level (ef = 1). */
  private def greedyStep(q: Array[Float], entry: Int, level: Int): Int = {
    var cur = entry
    var curSim = simFast(q, cur)
    var improved = true
    while (improved) {
      improved = false
      val nb = links(cur)(level).get()
      var i = 0
      while (i < nb.length) {
        val cand = nb(i)
        val s = simFast(q, cand)
        if (better(s, cand, curSim, cur)) { cur = cand; curSim = s; improved = true }
        i += 1
      }
    }
    cur
  }

  /** Beam search at one level: the ef best nodes reachable from
    * `entry`, worst-first in the returned arrays' natural heap order
    * (callers sort). Traverses tombstoned nodes (connectivity) —
    * filtering is the caller's job. */
  private def searchLayer(q: Array[Float], entry: Int, ef: Int,
      level: Int): (Array[Double], Array[Int], Int) = {
    val visited = new java.util.BitSet(count)
    visited.set(entry)
    // candidates: best-first; results: worst-first, capped at ef
    val candS = new Array[Double](ef * 8 + 8); val candN = new Array[Int](ef * 8 + 8)
    val resS = new Array[Double](ef + 1); val resN = new Array[Int](ef + 1)
    var candSize = 0; var resSize = 0

    def candPush(s: Double, n: Int): Unit = {
      if (candSize >= candS.length) return // beam saturated; ef bound holds via results
      var i = candSize; candSize += 1
      candS(i) = s; candN(i) = n
      while (i > 0 && better(candS(i), candN(i), candS((i - 1) / 2), candN((i - 1) / 2))) {
        val p = (i - 1) / 2
        val ts = candS(i); val tn = candN(i)
        candS(i) = candS(p); candN(i) = candN(p); candS(p) = ts; candN(p) = tn
        i = p
      }
    }
    def candPop(): Int = {
      val top = candN(0); candSize -= 1
      candS(0) = candS(candSize); candN(0) = candN(candSize)
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1; val r = l + 1
        var b = i
        if (l < candSize && better(candS(l), candN(l), candS(b), candN(b))) b = l
        if (r < candSize && better(candS(r), candN(r), candS(b), candN(b))) b = r
        if (b == i) done = true
        else {
          val ts = candS(i); val tn = candN(i)
          candS(i) = candS(b); candN(i) = candN(b); candS(b) = ts; candN(b) = tn
          i = b
        }
      }
      top
    }
    def resWorse(i: Int, j: Int): Boolean = // heap order: worst at root
      !better(resS(i), resN(i), resS(j), resN(j))
    def resPush(s: Double, n: Int): Unit = {
      var i = resSize; resSize += 1
      resS(i) = s; resN(i) = n
      while (i > 0 && resWorse(i, (i - 1) / 2)) {
        val p = (i - 1) / 2
        val ts = resS(i); val tn = resN(i)
        resS(i) = resS(p); resN(i) = resN(p); resS(p) = ts; resN(p) = tn
        i = p
      }
    }
    def resPopWorst(): Unit = {
      resSize -= 1
      resS(0) = resS(resSize); resN(0) = resN(resSize)
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1; val r = l + 1
        var w = i
        if (l < resSize && resWorse(l, w)) w = l
        if (r < resSize && resWorse(r, w)) w = r
        if (w == i) done = true
        else {
          val ts = resS(i); val tn = resN(i)
          resS(i) = resS(w); resN(i) = resN(w); resS(w) = ts; resN(w) = tn
          i = w
        }
      }
    }

    val es = simFast(q, entry)
    candPush(es, entry); resPush(es, entry)
    while (candSize > 0) {
      val cS = candS(0)
      val c = candPop()
      // stop when the best open candidate cannot improve the worst kept
      if (resSize >= ef && !better(cS, c, resS(0), resN(0))) candSize = 0
      else {
        val nb = links(c)(level).get()
        var i = 0
        while (i < nb.length) {
          val e = nb(i)
          if (!visited.get(e)) {
            visited.set(e)
            val s = simFast(q, e)
            if (resSize < ef) { candPush(s, e); resPush(s, e) }
            else if (better(s, e, resS(0), resN(0))) {
              candPush(s, e); resPush(s, e); resPopWorst()
            }
          }
          i += 1
        }
      }
    }
    (resS, resN, resSize)
  }

  /** The paper's Algorithm-4 neighbor selection (the heuristic hnswlib
    * defaults to): from `cand` sorted best-first by similarity to
    * `node`, keep a candidate only if it is closer to the node than to
    * any already-kept neighbor — plain keep-closest disconnects
    * clustered regions (every link points into the same tight cluster
    * and inter-cluster paths vanish), which shows up directly as lost
    * recall. Kept slots left over are backfilled with the closest
    * discarded candidates (keepPrunedConnections), so the degree
    * budget is always used. */
  /** `simsToNode(i)` must hold `simRows(node, cand(i))` — callers always
    * already have those dots (the insert beam's scores against the new
    * node, or [[linkInto]]'s sort keys), so this selection pays ONLY the
    * pairwise candidate-vs-kept diversity dots, never a recomputation of
    * the candidate-to-node dots (which used to double the selection's
    * kernel work). */
  private def selectNeighbors(node: Int, cand: Array[Int],
      simsToNode: Array[Double], cap: Int): Array[Int] = {
    if (cand.length <= cap) return cand
    val kept = new Array[Int](cap)
    var nKept = 0
    val discarded = new Array[Int](cand.length)
    var nDisc = 0
    var i = 0
    while (i < cand.length && nKept < cap) {
      val c = cand(i)
      val sToNode = simsToNode(i)
      var diverse = true
      var j = 0
      while (diverse && j < nKept) {
        if (simRows(c, kept(j)) > sToNode) diverse = false
        j += 1
      }
      if (diverse) { kept(nKept) = c; nKept += 1 }
      else { discarded(nDisc) = c; nDisc += 1 }
      i += 1
    }
    var di = 0
    while (nKept < cap && di < nDisc) { kept(nKept) = discarded(di); nKept += 1; di += 1 }
    java.util.Arrays.copyOf(kept, nKept)
  }

  /** CAS-append `neighbor` to `node`'s list at `level`, pruning to the
    * level's cap with [[selectNeighbors]]. The overflow path sorts the
    * cap+1 candidates on primitive parallel arrays (insertion sort —
    * the list is tiny and already mostly ordered) and hands the sort
    * keys straight to the selection, so each candidate-to-node dot is
    * computed exactly once per CAS attempt. */
  private def linkInto(node: Int, level: Int, neighbor: Int): Unit = {
    val cap = if (level == 0) maxM0 else maxM
    val ref = links(node)(level)
    var done = false
    while (!done) {
      val old = ref.get()
      if (old.contains(neighbor)) done = true
      else {
        val next =
          if (old.length + 1 <= cap) old :+ neighbor
          else {
            val n = old.length + 1
            val cs = new Array[Int](n)
            val ss = new Array[Double](n)
            var i = 0
            while (i < old.length) {
              cs(i) = old(i); ss(i) = simRows(node, old(i)); i += 1
            }
            cs(n - 1) = neighbor; ss(n - 1) = simRows(node, neighbor)
            // insertion sort best-first by (sim desc, node asc)
            i = 1
            while (i < n) {
              val cv = cs(i); val sv = ss(i)
              var j = i - 1
              while (j >= 0 && better(sv, cv, ss(j), cs(j))) {
                cs(j + 1) = cs(j); ss(j + 1) = ss(j); j -= 1
              }
              cs(j + 1) = cv; ss(j + 1) = sv
              i += 1
            }
            selectNeighbors(node, cs, ss, cap)
          }
        done = ref.compareAndSet(old, next)
      }
    }
  }

  /** Insert one (already stored) node into the graph. Thread-safe
    * against concurrent inserts; the arrays must already be sized. */
  private def insert(idx: Int): Unit = {
    val lvl = levels(idx)
    var es = entryState.get()
    if (es < 0) {
      // first node ever: try to become the entry point
      if (entryState.compareAndSet(-1L, (lvl.toLong << 32) | idx.toLong)) return
      es = entryState.get()
    }
    val q = java.util.Arrays.copyOfRange(mat, idx * dim, (idx + 1) * dim)

    var maxLevel = (es >> 32).toInt
    var ep = (es & 0xFFFFFFFFL).toInt
    var lc = maxLevel
    while (lc > lvl) { ep = greedyStep(q, ep, lc); lc -= 1 }
    while (lc >= 0) {
      val (rs, rn, rsize) = searchLayer(q, ep, efConstruction, lc)
      // diverse M from the beam (Algorithm 4) — see selectNeighbors
      val order = Array.range(0, rsize)
        .sortWith((a, b) => better(rs(a), rn(a), rs(b), rn(b)))
      // the beam scores ARE simRows(idx, ·): q is idx's row and the dot
      // kernel is argument-symmetric, so hand them to the selection
      // instead of recomputing every candidate-to-node dot
      val candBuf = new Array[Int](rsize)
      val simBuf = new Array[Double](rsize)
      var nc = 0
      var oi = 0
      while (oi < rsize) {
        val cnd = rn(order(oi))
        if (cnd != idx) { candBuf(nc) = cnd; simBuf(nc) = rs(order(oi)); nc += 1 }
        oi += 1
      }
      val chosen = selectNeighbors(idx,
        java.util.Arrays.copyOf(candBuf, nc),
        java.util.Arrays.copyOf(simBuf, nc), m)
      var j = 0
      while (j < chosen.length) {
        linkInto(idx, lc, chosen(j)); linkInto(chosen(j), lc, idx)
        j += 1
      }
      if (rsize > 0) ep = rn(order(0))
      lc -= 1
    }
    // publish a higher entry point if this node tops the graph
    var retry = true
    while (retry) {
      val cur = entryState.get()
      if ((cur >> 32).toInt >= lvl) retry = false
      else retry = !entryState.compareAndSet(cur, (lvl.toLong << 32) | idx.toLong)
    }
  }

  /** Grow the column stores for `extra` new rows (single-threaded). */
  private def grow(extraIds: Array[String], extraVecs: Array[Float]): Int = {
    val start = count
    val n2 = count + extraIds.length
    ids = java.util.Arrays.copyOf(ids, n2)
    mat = java.util.Arrays.copyOf(mat, n2 * dim)
    levels = java.util.Arrays.copyOf(levels, n2)
    links = java.util.Arrays.copyOf(links, n2)
    System.arraycopy(extraIds, 0, ids, start, extraIds.length)
    System.arraycopy(extraVecs, 0, mat, start * dim, extraVecs.length)
    var i = start
    while (i < n2) {
      levels(i) = levelOf(i)
      val ls = new Array[AtomicReference[Array[Int]]](levels(i) + 1)
      var l = 0
      while (l < ls.length) { ls(l) = new AtomicReference(Array.empty[Int]); l += 1 }
      links(i) = ls
      i += 1
    }
    count = n2
    i = start
    while (i < n2) {
      val prev = idToIdx.put(ids(i), Integer.valueOf(i))
      if (prev != null) deleted.set(prev.intValue()) // upsert = tombstone old row
      i += 1
    }
    start
  }

  /** Below this many inserts the build runs SERIALLY: the graph then
    * depends only on (data, params, seed) — reproducible across runs,
    * which CI contracts pin — and the build cost is trivial anyway.
    * Large builds (the 100k serving benchmark) go parallel; their
    * graph varies run-to-run like hnswlib's, which recall contracts
    * must absorb with parameter margin. */
  private val parallelBuildThreshold = 4096

  private def insertRange(start: Int, end: Int): Unit = {
    if (start >= end) return
    if (end - start < parallelBuildThreshold) {
      var i = start
      while (i < end) { insert(i); i += 1 }
    } else {
      insert(start) // seed serially so parallel inserts always have an entry
      java.util.stream.IntStream.range(start + 1, end).parallel().forEach(insert(_))
    }
  }

  /** Insert a batch of (id, vector) rows into the existing graph —
    * cost ∝ batch · log N, no rebuild. Vectors are L2-normalized here
    * (same as every ingest path). An existing id is upserted: its old
    * row is tombstoned and the new row inserted. NOT safe concurrent
    * with queries — swap or quiesce, as the class doc says. */
  def add(batch: Seq[(String, Array[Float])]): Unit = {
    if (batch.isEmpty) return
    val bIds = batch.map(_._1).toArray
    val bVecs = new Array[Float](batch.length * dim)
    var i = 0
    batch.foreach { case (_, v) =>
      val nv = VectorStore.normalizeLocal(v)
      require(nv.length == dim, s"vector dim ${nv.length} != index dim $dim")
      // float32 storage of the double-normalized vector — the same
      // rounding every ingest path applies before slabbing
      var j = 0
      while (j < dim) { bVecs(i * dim + j) = nv(j).toFloat; j += 1 }
      i += 1
    }
    val start = grow(bIds, bVecs)
    insertRange(start, count)
  }

  /** Tombstone ids: they stop being returned immediately; the graph
    * still routes through them (removing nodes would sever paths).
    * Unknown ids are ignored. */
  def markDeleted(dropIds: Seq[String]): Unit =
    dropIds.foreach { id =>
      val idx = idToIdx.get(id)
      if (idx != null && ids(idx.intValue()) == id) deleted.set(idx.intValue())
    }

  /** Persist the graph so a serving process cold-starts WITHOUT the
    * O(N·log N) rebuild — the same lifecycle parity every other index
    * family has (ivfSave/pqSave/opqSave). Layout: `nodes/` parquet
    * (idx, id, vector slab row, level, tombstone flag), `links/`
    * parquet ((node, level) → neighbor array), and a JSON sidecar
    * pinning (dim, m, efConstruction, seed, count, entry state) so a
    * probe against mismatched parameters fails loudly. The write runs
    * through Spark, so the artifact lands wherever the cluster's
    * storage is — build distributed-adjacent, serve anywhere. */
  def save(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    import spark.implicits._
    val d = dim
    val nodeRows = (0 until count).map { i =>
      (i, ids(i),
        java.util.Arrays.copyOfRange(mat, i * d, (i + 1) * d).toSeq,
        levels(i), deleted.get(i))
    }
    // Output file sizing derives from the DATA (guide §6), not from the
    // session's parallelism: a local Seq otherwise parallelizes into
    // `defaultParallelism` slices, so every save of a small shard paid
    // ~32 near-empty tasks and files. Target ~96 MB of raw payload per
    // file; the per-row estimate is the dominant column (the vector for
    // nodes, the neighbor ints for links).
    def parts(estBytes: Long): Int =
      math.max(1L, math.min(64L, estBytes / (96L << 20) + 1L)).toInt
    nodeRows.toDF("idx", "id", "vec", "level", "tomb")
      .coalesce(parts(count.toLong * d * 4L))
      .write.mode("overwrite").parquet(s"$path/nodes")
    val linkRows = (0 until count).flatMap { i =>
      links(i).indices.map(l => (i, l, links(i)(l).get().toSeq))
    }
    val linkBytes = linkRows.iterator.map(r => r._3.length * 4L + 16L).sum
    linkRows.toDF("idx", "level", "nbrs")
      .coalesce(parts(linkBytes))
      .write.mode("overwrite").parquet(s"$path/links")
    VectorStore.writeSidecar(spark, s"$path/_hnsw.json",
      s"""{"dim": $dim, "m": $m, "ef_construction": $efConstruction, """ +
        s""""seed": $seed, "count": $count, "entry_state": ${entryState.get()}}""")
  }

  /** Approximate top-k cosine query: greedy descent + ef-beam at the
    * base layer, then the O4/threshold gates and the exact tiers'
    * (score DESC, id ASC) order over the surviving candidates.
    * `ef` bounds the candidate set (raise it for recall or selective
    * filters); effective beam is max(ef, k). */
  def query(queryVec: Array[Float], topK: Int, ef: Int = 64,
      betterThan: Option[Double] = None,
      allowedIds: Option[Set[String]] = None): Array[(String, Double)] = {
    val es = entryState.get()
    if (es < 0) return Array.empty
    val qn = VectorStore.normalizeLocal(queryVec)
    require(qn.length == dim, s"query dim ${qn.length} != index dim $dim")
    val qf = new Array[Float](dim)
    var fi = 0
    while (fi < dim) { qf(fi) = qn(fi).toFloat; fi += 1 }
    val thr = betterThan.getOrElse(Double.MinValue)
    val allowed = allowedIds.orNull
    var ep = (es & 0xFFFFFFFFL).toInt
    var lc = (es >> 32).toInt
    while (lc > 0) { ep = greedyStep(qf, ep, lc); lc -= 1 }
    val (_, rn, rsize) = searchLayer(qf, ep, math.max(ef, topK), 0)
    // exact double-kernel re-score of the ef survivors: the beam ran on
    // the fast float kernel, but every (id, score) RETURNED is computed
    // with the exact tiers' kernel — bitwise-equal scores, exact
    // (score DESC, id ASC) order, exact threshold semantics
    val out = new scala.collection.mutable.ArrayBuffer[(Double, String)](rsize)
    var i = 0
    while (i < rsize) {
      val node = rn(i)
      if (!deleted.get(node) && (allowed == null || allowed.contains(ids(node)))) {
        val s = sim(qn, node)
        if (s >= thr) out += ((s, ids(node)))
      }
      i += 1
    }
    out.sorted(MatrixStore.worstFirst).take(topK).map { case (s, id) => (id, s) }.toArray
  }
}

object HnswReplica {

  /** Reload a [[HnswReplica.save]]d graph — bit-identical structure
    * (nodes, levels, links, tombstones, entry point), so queries on
    * the reloaded replica equal the original's exactly; add/delete
    * keep working (levels derive from the pinned seed and global
    * index, exactly as if the rows had been inserted here). */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): HnswReplica = {
    val pth = new org.apache.hadoop.fs.Path(s"$path/_hnsw.json")
    val fs = pth.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(pth)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(txt)
    val dim = node.get("dim").asInt()
    val h = new HnswReplica(dim, node.get("m").asInt(),
      node.get("ef_construction").asInt(), node.get("seed").asLong())
    val n = node.get("count").asInt()
    h.ids = new Array[String](n)
    h.mat = new Array[Float](n * dim)
    h.levels = new Array[Int](n)
    h.links = new Array[Array[AtomicReference[Array[Int]]]](n)
    h.count = n
    spark.read.parquet(s"$path/nodes").collect().foreach { r =>
      val i = r.getAs[Int]("idx")
      h.ids(i) = r.getAs[String]("id")
      val v = r.getAs[scala.collection.Seq[Float]]("vec")
      var j = 0
      while (j < dim) { h.mat(i * dim + j) = v(j); j += 1 }
      h.levels(i) = r.getAs[Int]("level")
      if (r.getAs[Boolean]("tomb")) h.deleted.set(i)
      h.links(i) = Array.fill(h.levels(i) + 1)(
        new AtomicReference(Array.empty[Int]))
    }
    spark.read.parquet(s"$path/links").collect().foreach { r =>
      h.links(r.getAs[Int]("idx"))(r.getAs[Int]("level"))
        .set(r.getAs[scala.collection.Seq[Int]]("nbrs").toArray)
    }
    var i = 0
    while (i < n) { h.idToIdx.put(h.ids(i), Integer.valueOf(i)); i += 1 }
    h.entryState.set(node.get("entry_state").asLong())
    h
  }

  /** Build a graph over `(ids, rowMajorVectors)` — vectors MUST already
    * be L2-normalized (they are when they come from a store/replica
    * slab). Parallel across the pool; deterministic levels. */
  private[operators] def build(allIds: Array[String], rowMajor: Array[Float],
      dim: Int, m: Int, efConstruction: Int, seed: Long): HnswReplica = {
    require(m >= 2, "m must be >= 2")
    require(efConstruction >= m, "efConstruction must be >= m")
    require(allIds.length.toLong * dim == rowMajor.length,
      s"matrix length ${rowMajor.length} != ${allIds.length} rows * $dim dim")
    val h = new HnswReplica(dim, m, efConstruction, seed)
    val start = h.grow(allIds, rowMajor)
    h.insertRange(start, allIds.length)
    h
  }
}
