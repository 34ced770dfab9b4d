package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Structured-streaming variants of the event analytics: the same logical
  * aggregations as [[graft.operators.EventAnalytics]], expressed over
  * `readStream` with watermarks, so the batch and streaming paths share
  * semantics (Spark's unified model). The reference has no streaming
  * surface — this is north-star scope. */
object StreamingOps {

  /** Stream read schema for events.parquet. The generator's physical type
    * for `ts` has changed across testdata versions (TIMESTAMP(NANOS) read
    * as raw long under nanosAsLong vs TIMESTAMP(MICROS) read as
    * TIMESTAMP_NTZ), so the forced schema is built from a one-time batch
    * probe of the directory's footer — never assumed — and the conversion
    * is the shared [[graft.Tables.normalizeTs]], identical to the batch
    * reader. */
  def eventsSchema(spark: SparkSession, dir: String): StructType = {
    val probed = spark.read.parquet(dir).schema("ts").dataType
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", probed),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
  }

  /** Streaming tumbling-window aggregation with a watermark; late data
    * beyond 1 hour is dropped deterministically. */
  def windowedAgg(events: DataFrame, windowLen: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      // exact integer-cents sum — same semantics as the batch twin
      // EventAnalytics.hourlyAgg (order-independent, bit-reproducible)
      .agg(count(lit(1)).as("n"),
        (sum(round(col("value") * 100).cast("long")).cast("double") / 100.0).as("sum_value"))
      .select(
        unix_timestamp(col("window.start")).as("window_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Per-user session state for [[sessionizeStream]]. Value totals are
    * accumulated in integer cents so the emitted sum is order-independent
    * and bit-identical to the batch twin's exact-DECIMAL sum. */
  final case class SessionState(
      sessionSeq: Long, lastUs: Long, n: Long, sumCents: Long, startUs: Long)

  /** HALF_UP cents, matching Spark/DuckDB `round(x * 100)`. */
  private def cents(v: Double): Long = {
    val x = v * 100.0
    (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toLong
  }

  /** Streaming gap sessionization via flatMapGroupsWithState — the
    * stateful twin of [[graft.operators.EventAnalytics.sessionize]]. One
    * state entry per user. Emits a session row each time the inactivity
    * gap closes a session; with `flushTimeout` a processing-time timeout
    * also flushes (and clears) sessions left open by idle users, so
    * state does not grow without bound. */
  def sessionizeStream(events: DataFrame, gapMinutes: Int,
      flushTimeout: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    val typed = events
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
      .as[(Long, Long, Long, Double)]
    val timeoutConf =
      if (flushTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, (Long, Long, Long, Long, Long, Double)](
        OutputMode.Append, timeoutConf) {
        case (user: Long, rows: Iterator[(Long, Long, Long, Double)], state: GroupState[SessionState]) =>
          if (!rows.hasNext && state.hasTimedOut) {
            // idle-user flush: emit the open session and clear state
            val out = state.getOption.filter(_.n > 0)
              .map(s => (user, s.sessionSeq, s.startUs, s.lastUs, s.n, s.sumCents / 100.0))
            state.remove()
            out.iterator
          } else {
            // within a microbatch rows are not ordered — sort by event
            // time with the event_id tiebreak the batch twin uses
            val sorted = rows.toSeq.sortBy(t => (t._2, t._3))
            var s = state.getOption.getOrElse(SessionState(0L, Long.MinValue, 0L, 0L, 0L))
            val closed = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long, Double)]
            sorted.foreach { case (_, us, _, v) =>
              if (s.lastUs == Long.MinValue || us - s.lastUs > gapUs) {
                if (s.n > 0) closed += ((user, s.sessionSeq, s.startUs, s.lastUs, s.n, s.sumCents / 100.0))
                s = SessionState(s.sessionSeq + 1, us, 1L, cents(v), us)
              } else {
                s = s.copy(lastUs = us, n = s.n + 1, sumCents = s.sumCents + cents(v))
              }
            }
            state.update(s)
            flushTimeout.foreach(state.setTimeoutDuration)
            closed.iterator
          }
      }
      .toDF("user_id", "session_seq", "start_us", "end_us", "n_events", "sum_value")
  }

  /** Per-bucket membership state for [[simhashPairsStream]]. */
  final case class BucketMembers(members: List[(Long, Long)])

  /** Pair-key dedup with the same retention contract as the bucket
    * state it follows. `ttl = None` → exact global `dropDuplicates`:
    * the pair-key store holds every pair ever emitted (exact batch
    * parity — bounded streams only, the trade both pair streams
    * document for their bucket state too). `ttl = Some(t)` → a TTL'd
    * stateful dedup keyed on the pair, evicted by the SAME
    * ProcessingTimeTimeout mechanism as the bucket membership (not an
    * event-time watermark, which would only advance while pairs flow —
    * a sparse-pair stream would never evict), so the pair-key store
    * holds only pairs active within the trailing `t` and an unbounded
    * ingest keeps every stateful operator in the query bounded. A pair
    * re-surfacing after the horizon re-emits — but its bucket
    * membership has also evicted by then, so within one TTL the two
    * bounds agree and the output is duplicate-free. */
  private def dedupPairs(pairs: DataFrame, keys: Seq[String],
      ttl: Option[String]): DataFrame = ttl match {
    case None => pairs.dropDuplicates(keys)
    case Some(t) =>
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
      import org.apache.spark.sql.{Encoder, Encoders, Row}
      implicit val rowEnc: Encoder[Row] = Encoders.row(pairs.schema)
      implicit val keyEnc: Encoder[String] = Encoders.STRING
      implicit val seenEnc: Encoder[Boolean] = Encoders.scalaBoolean
      pairs
        .groupByKey(r => keys.map(k => String.valueOf(r.get(r.fieldIndex(k)))).mkString("|"))
        .flatMapGroupsWithState[Boolean, Row](
          OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
          case (_, rows, state: GroupState[Boolean]) =>
            if (!rows.hasNext && state.hasTimedOut) {
              // idle-pair eviction: the key may re-emit after the horizon
              state.remove()
              Iterator.empty
            } else {
              // first sighting inside the TTL emits; every sighting
              // refreshes the clock (sliding TTL, like bucket members)
              val out = if (state.exists) Iterator.empty else Iterator(rows.next())
              state.update(true)
              state.setTimeoutDuration(t)
              out
            }
        }
  }

  /** Streaming near-dup pair detection — the stateful twin of
    * [[graft.operators.Dedup.simhashPairs]]'s band join.
    *
    * Each arriving document is fingerprinted statelessly and exploded
    * into its maxHamming+1 fingerprint chunks; state keyed by
    * (chunk index, chunk value) holds the (id, fingerprint) members seen
    * in that bucket, and each arrival emits a pair for every stored
    * member within the Hamming radius. The candidate space is exactly
    * the batch band join's (complete for hamming <= maxHamming by
    * pigeonhole), produced incrementally and independent of arrival
    * order; pairs reachable through several shared chunks are
    * deduplicated by a stateful dropDuplicates on the pair key.
    *
    * State is bounded by `ttl`: when set, each bucket's membership is
    * evicted after that much processing-time inactivity (same
    * GroupStateTimeout mechanism as [[sessionizeStream]]'s
    * flushTimeout) AND the pair-key dedup store holds only the trailing
    * `ttl` of emitted pairs ([[dedupPairs]]'s TTL bound), so an
    * unbounded ingest keeps every stateful operator in the query
    * bounded — near-dup detection becomes bounded-lookback, the
    * standard production trade. With `ttl = None` membership and the
    * pair store are the stream's whole history (exactly the batch band
    * join's candidate space; only safe for bounded streams). Requires a
    * numeric (long-castable) id column.
    */
  def simhashPairsStream(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, portableHash: Boolean = false,
      ttl: Option[String] = None): DataFrame = {
    import graft.operators.Dedup
    val fpBits = if (portableHash) 48 else 64
    val fp = if (portableHash) Dedup.simhash48Portable(Dedup.tokens(col(textCol)))
      else Dedup.simhash64(Dedup.tokens(col(textCol)))
    fingerprintPairsStream(
      docs.select(col(idCol).cast(LongType).as("id"), fp.as("fp")),
      "id", "fp", maxHamming, fpBits, ttl)
  }

  /** Streaming Hamming-radius pairs over a PRECOMPUTED fingerprint
    * column — the stateful twin of
    * [[graft.operators.Dedup.fingerprintPairs]] and the band-join core
    * [[simhashPairsStream]] delegates to. Feed it any ≤64-bit
    * fingerprint a pipeline computes upstream of the stream — e.g. an
    * image perceptual hash ([[graft.operators.Multimodal.imagePHashes]]
    * over the microbatch) for streaming image near-dup detection. Same
    * pigeonhole completeness, arrival-order independence, and `ttl`
    * retention contract as [[simhashPairsStream]]; null fingerprints
    * (undecodable payloads) drop before banding.
    *
    * `exactStar = true` is the streaming hot-fingerprint guard
    * ([[graft.operators.Dedup.fingerprintPairs]]' star mode): bucket
    * state holds one entry per DISTINCT fingerprint (its first-seen id
    * is the group representative) instead of per id, an exact
    * duplicate emits a single (rep, id, 0) star edge, and near-dup
    * pairs are representative-to-representative — so an M-repost flood
    * costs O(1) state and CPU per arrival and O(M) edges total instead
    * of O(M²), while [[graft.operators.Dedup.connectedComponents]]
    * clusters come out identical. The representative is FIRST-SEEN
    * (min id within a microbatch via the in-batch sort), so under
    * multi-batch arrival the star's root may differ from the batch
    * twin's min-id root — connectivity-equivalent, not
    * pair-identical. */
  def fingerprintPairsStream(docs: DataFrame, idCol: String, fpCol: String,
      maxHamming: Int = 3, fpBits: Int = 64,
      ttl: Option[String] = None, exactStar: Boolean = false): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import graft.operators.Dedup
    val spark = docs.sparkSession
    import spark.implicits._
    val nChunks = maxHamming + 1
    require(fpBits >= 1 && fpBits <= 64, s"fpBits must be in [1, 64], got $fpBits")
    require(maxHamming >= 0 && nChunks <= fpBits,
      s"maxHamming must be in [0, ${fpBits - 1}], got $maxHamming")
    val banded = docs
      .select(col(idCol).cast(LongType).as("id"), col(fpCol).cast(LongType).as("fp"))
      .filter(col("fp").isNotNull)
      .select(col("id"), col("fp"),
        explode(Dedup.fpChunks(col("fp"), fpBits, nChunks)).as("c"))
      .select(col("id"), col("fp"), col("c.ci").as("ci"), col("c.cv").as("cv"))
      .as[(Long, Long, Int, Long)]
    val timeoutConf =
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    banded
      .groupByKey(t => (t._3, t._4))
      .flatMapGroupsWithState[BucketMembers, (Long, Long, Int)](
        OutputMode.Append, timeoutConf) {
        case (_, rows, state: GroupState[BucketMembers]) =>
          if (!rows.hasNext && state.hasTimedOut) {
            // idle-bucket eviction: members past the TTL stop generating
            // candidate pairs
            state.remove()
            Iterator.empty
          } else {
            // members: (id, fp) per SEEN ID in default mode; one entry —
            // (first-seen id = the group representative, fp) — per
            // DISTINCT FINGERPRINT in exactStar mode. Hashed views keep
            // the per-arrival membership probe O(1) where the previous
            // list scan made a hot bucket O(M) per arrival (O(M²) per
            // flood) before a single pair was even emitted.
            var members = state.getOption.map(_.members).getOrElse(Nil)
            val seenIds = scala.collection.mutable.HashSet.empty[Long]
            val repByFp = scala.collection.mutable.HashMap.empty[Long, Long]
            members.foreach { case (i, f) =>
              if (exactStar) repByFp(f) = i else seenIds += i
            }
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
            // id-sorted within the batch: emitted pair set is identical for
            // any arrival interleaving
            rows.toSeq.sortBy(_._1).foreach { case (id, f, _, _) =>
              if (exactStar) {
                repByFp.get(f) match {
                  case Some(rep) =>
                    // an exact duplicate emits ONE star edge to its
                    // group's representative — state does not grow, the
                    // hot flood stays O(1) per arrival (re-arrivals of
                    // the representative itself dedup downstream)
                    if (id != rep)
                      out += ((math.min(id, rep), math.max(id, rep), 0))
                  case None =>
                    // a new fingerprint becomes its group's rep and
                    // pairs against every OTHER group's rep in radius
                    repByFp.foreach { case (of, oid) =>
                      val h = java.lang.Long.bitCount(f ^ of)
                      if (h <= maxHamming)
                        out += ((math.min(id, oid), math.max(id, oid), h))
                    }
                    repByFp(f) = id
                    members = (id, f) :: members
                }
              } else if (!seenIds.contains(id)) {
                members.foreach { case (oid, of) =>
                  val h = java.lang.Long.bitCount(f ^ of)
                  if (h <= maxHamming)
                    out += ((math.min(id, oid), math.max(id, oid), h))
                }
                seenIds += id
                members = (id, f) :: members
              }
            }
            state.update(BucketMembers(members))
            ttl.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }
      .toDF("id_a", "id_b", "hamming")
      .transform(dedupPairs(_, Seq("id_a", "id_b"), ttl))
  }

  /** Per-bucket membership state for [[minhashPairsStream]]. */
  final case class BandIds(ids: List[Long])

  /** Streaming MinHash-LSH near-dup candidate pairs — the stateful twin
    * of [[graft.operators.Dedup.minhashLshPairs]]'s band join.
    *
    * Each arriving document is signatured statelessly (portable md5-48bit
    * g_k family, the oracle-checkable one) and exploded into its `bands`
    * band keys; state keyed by (band index, band key) holds the ids seen
    * in that bucket, and each arrival emits a candidate pair per stored
    * member. The candidate set is exactly the batch band join's,
    * produced incrementally and independent of arrival order; pairs
    * sharing several bands are deduplicated by a stateful
    * dropDuplicates on the pair key.
    *
    * Same retention contract as [[simhashPairsStream]]: `ttl` evicts
    * idle buckets after that much processing-time inactivity and
    * bounds the pair-key dedup store to the same trailing window
    * ([[dedupPairs]] — bounded state on unbounded ingest,
    * bounded-lookback semantics); `None` keeps the stream's whole
    * history per bucket and per pair (exact batch parity, bounded
    * streams only). Requires a numeric (long-castable) id.
    */
  def minhashPairsStream(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 32, bands: Int = 8,
      ttl: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import graft.operators.Dedup
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rowsPerBand = numHashes / bands
    val spark = docs.sparkSession
    import spark.implicits._
    val sig = Dedup.minhashSignaturePortable(
      Dedup.wordShingles(col(textCol), shingleN), numHashes)
    val banded = docs
      .select(col(idCol).cast(LongType).as("id"), sig.as("sig"))
      .select(col("id"), posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => array_join(
          transform(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)),
            x => x.cast(StringType)), ","))).as(Seq("band", "bk")))
      .as[(Long, Int, String)]
    val timeoutConf =
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    banded
      .groupByKey(t => (t._2, t._3))
      .flatMapGroupsWithState[BandIds, (Long, Long)](
        OutputMode.Append, timeoutConf) {
        case (_, rows, state: GroupState[BandIds]) =>
          if (!rows.hasNext && state.hasTimedOut) {
            // idle-bucket eviction: members past the TTL stop generating
            // candidate pairs
            state.remove()
            Iterator.empty
          } else {
            var members = state.getOption.map(_.ids).getOrElse(Nil)
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
            // id-sorted within the batch: emitted pair set is identical for
            // any arrival interleaving
            rows.toSeq.sortBy(_._1).foreach { case (id, _, _) =>
              if (!members.contains(id)) {
                members.foreach(oid =>
                  out += ((math.min(id, oid), math.max(id, oid))))
                members = id :: members
              }
            }
            state.update(BandIds(members))
            ttl.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }
      .toDF("id_a", "id_b")
      .transform(dedupPairs(_, Seq("id_a", "id_b"), ttl))
  }

  /** Streaming twin of
    * [[graft.operators.TextAnalysis.contaminationStats]]: grouped
    * per-doc eval-set overlap as a STATEFUL streaming aggregation (the
    * stateless per-row gate is `contaminationGateColumns`; this is the
    * grouped formulation, which also stays correct when one document's
    * text arrives as several rows across microbatches).
    *
    * Shape: explode the distinct word n-grams (stateless), stream-static
    * broadcast join against the eval grams (stateless — the static side
    * re-broadcasts per microbatch), then a grouped count/sum whose state
    * is one small row per in-flight document. With `tsCol` set the group
    * key carries an event-time window and the watermark EVICTS each
    * doc's aggregation state once it closes (append mode, the unbounded-
    * ingest path) — this variant ASSUMES all of one document's rows
    * carry the same event timestamp (e.g. the doc's ingest time
    * replicated to its chunk rows): rows of one doc that straddle
    * window boundaries aggregate per window, emitting one PARTIAL
    * (n_grams, n_hits, contam_frac) row per window for that id, which
    * the caller must re-combine. Without `tsCol`, state is one row per
    * doc (multi-microbatch arrivals combine exactly) and the run is
    * complete-mode — bounded inputs only, same trade as
    * [[simhashPairsStream]]'s ttl=None. */
  def contaminationStatsStream(docs: DataFrame, evalGrams: DataFrame,
      idCol: String, textCol: String, n: Int = 3, threshold: Double = 0.05,
      tsCol: Option[String] = None, watermark: String = "1 hour"): DataFrame = {
    val ev = broadcast(
      evalGrams.select(col(evalGrams.columns.head).as("gram")).distinct()
        .withColumn("__hit__", lit(1L)))
    val base = tsCol match {
      case Some(ts) => docs.withWatermark(ts, watermark)
        .select(col(idCol).as("id"), col(ts).as("__ts__"),
          explode(graft.operators.Dedup.wordShingles(col(textCol), n)).as("gram"))
      case None => docs.select(col(idCol).as("id"),
        explode(graft.operators.Dedup.wordShingles(col(textCol), n)).as("gram"))
    }
    val grouped = tsCol match {
      case Some(_) => base.join(ev, Seq("gram"), "left")
        .groupBy(col("id"), window(col("__ts__"), watermark))
      case None => base.join(ev, Seq("gram"), "left").groupBy(col("id"))
    }
    grouped
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit__"), lit(0L))).as("n_hits"))
      .withColumn("contam_frac",
        round(col("n_hits").cast(DoubleType) / col("n_grams"), 6))
      .withColumn("contaminated",
        col("n_hits").cast(DoubleType) / col("n_grams") >= threshold)
      .drop("window")
  }

  /** Read a parquet directory as a bounded stream (test/local harness).
    * `maxFilesPerTrigger = None` drains the directory in ONE microbatch —
    * use it when cross-batch event-time order cannot be guaranteed (the
    * FileStreamSource feeds files in listing order, not time order). */
  def eventsStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = Some(1)): DataFrame = {
    val rd = spark.readStream.schema(eventsSchema(spark, dir))
    maxFilesPerTrigger.foreach(n => rd.option("maxFilesPerTrigger", n.toString))
    graft.Tables.normalizeTs(rd.parquet(dir))
  }

  /** Streaming ingestion into the bucketed vector store: every
    * microbatch runs one [[graft.operators.VectorStore.Partitioned]]
    * upsert (same O2/O2a merge semantics; only touched id-buckets are
    * rewritten per batch) — the reference's insert loop
    * (lib.rs:150-185) as a stream. foreachBatch serializes batches, so
    * upserts apply in arrival order. */
  /** Shared compaction cadence for the ingestion streams: every
    * `compactEvery` microbatches, run the layout's compactor so the
    * stream repays its own small-file debt (touched-dirs-only appends
    * accumulate one file per batch per dir; unbounded ingest without
    * compaction degrades every scan to file-open overhead). 0 disables.
    * The tick derives from the engine's `batchId` (`batchId % every ==
    * every - 1`), NOT a driver-memory counter, so the cadence survives
    * a checkpoint restart and a re-delivered batch cannot double-tick
    * — compaction timing is deterministic per batch id. foreachBatch
    * serializes batches, so compaction never races an APPEND on the
    * same layout. Readers get the library-wide maintenance caveat
    * (same as delete/shrink/rebalance): a scan whose file listing
    * predates a swap may miss the rewritten dir or hit FileNotFound —
    * reload index handles after a maintenance tick, or serve from the
    * in-process tiers, exactly as when running the compactor offline. */
  private def cadenceTick(every: Int, batchId: Long)(run: => Unit): Unit = {
    require(every >= 0, s"compactEvery must be >= 0, got $every")
    if (every > 0 && batchId % every == every - 1) run
  }

  def upsertStream(batches: DataFrame, storePath: String,
      compactEvery: Int = 0, compactMaxFiles: Int = 8): StreamingQuery =
    batches.writeStream
      .outputMode("append")
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        if (!b.isEmpty) {
          graft.operators.VectorStore.Partitioned.upsert(
            b.sparkSession, storePath, b)
        }
        cadenceTick(compactEvery, batchId) {
          graft.operators.VectorStore.Partitioned.compact(
            b.sparkSession, storePath, compactMaxFiles)
          ()
        }
      }
      .start()

  /** Streaming ingestion that also keeps a bucket-aligned
    * [[graft.operators.MatrixStore]] scan cache fresh: each microbatch
    * (a) merges into the bucketed on-disk layout
    * ([[graft.operators.VectorStore.Partitioned.upsert]] — only touched
    * partitions rewrite) and (b) rebuilds ONLY those buckets' slabs in
    * the held cache via `refreshBuckets`, swapping the handle in
    * `cache` and RETIRING the superseded one. foreachBatch serializes
    * batches, so upsert and refresh apply in arrival order — the full
    * ingestion-to-serving loop of the reference's insert-then-query
    * lifecycle, distributed.
    *
    * Consistency contract: a reader that obtains the handle via
    * `cache.get` AT THE START OF EACH QUERY sees a complete snapshot
    * (the swap is atomic; refresh materializes before the swap) —
    * PROVIDED the query finishes within `graceMillis` of the swap.
    * Superseded handles are not unpersisted at swap time: an eager
    * release could evict a still-scanning reader's blocks, and the
    * recompute would read partition directories the upsert has already
    * rewritten (missing files / mixed generations). Instead each
    * retired handle is released only after `graceMillis` has elapsed
    * since its swap-out, amortized across later batches — bound your
    * serving-side query latency by the grace period (or hold one
    * handle per query and size `graceMillis` above your p100). A
    * reader that caches the handle ACROSS queries outlives any grace
    * period and gets no guarantee. `graceMillis = 0` restores eager
    * release for single-writer/no-concurrent-reader use. */
  def upsertStreamWithCache(batches: DataFrame, storePath: String,
      cache: java.util.concurrent.atomic.AtomicReference[graft.operators.MatrixStore],
      graceMillis: Long = 60000L): StreamingQuery =
    upsertStreamServing(batches, storePath, cache, None, graceMillis)

  /** [[upsertStreamWithCache]] extended to the SERVING REPLICA tier:
    * after each batch's bucketed upsert + cache refresh, the
    * driver-local replica is delta-refreshed with only the touched
    * buckets' slabs ([[graft.operators.LocalMatrixStore.refresh]]) and
    * the handle swapped atomically — the complete
    * ingestion-to-serving loop (disk layout → distributed cache →
    * in-process replica), every step cost ∝ touched buckets. Unlike
    * the cache tier, superseded replicas need no grace period: a
    * replica is plain immutable JVM arrays, so an in-flight reader on
    * the old handle finishes safely and the object is garbage
    * collected when released. Requires a bucket-aligned cache and a
    * replica built from one (`cache.get.toLocal()`). */
  def upsertStreamWithReplica(batches: DataFrame, storePath: String,
      cache: java.util.concurrent.atomic.AtomicReference[graft.operators.MatrixStore],
      replica: java.util.concurrent.atomic.AtomicReference[graft.operators.LocalMatrixStore],
      graceMillis: Long = 60000L): StreamingQuery =
    upsertStreamServing(batches, storePath, cache, Some(replica), graceMillis)

  private def upsertStreamServing(batches: DataFrame, storePath: String,
      cache: java.util.concurrent.atomic.AtomicReference[graft.operators.MatrixStore],
      replica: Option[java.util.concurrent.atomic.AtomicReference[graft.operators.LocalMatrixStore]],
      graceMillis: Long): StreamingQuery = {
    val retired =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, graft.operators.MatrixStore)]()
    batches.writeStream
      .outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        if (!b.isEmpty) {
          val spark = b.sparkSession
          graft.operators.VectorStore.Partitioned.upsert(spark, storePath, b)
          val nb = cache.get.nBuckets.getOrElse(throw new IllegalArgumentException(
            "upsertStreamWithCache needs a bucket-aligned cache"))
          val touched = b
            .select(graft.operators.VectorStore.Partitioned.bucketOf(nb)
              .cast("int").as("b"))
            .distinct().collect().map(_.getInt(0)).toSeq
          val old = cache.get
          val fresh = old.refreshBuckets(
            graft.operators.VectorStore.Partitioned.load(spark, storePath), touched)
          cache.set(fresh)
          // replica tier: ship only the touched buckets' slabs in-process
          replica.foreach(r => r.set(r.get.refresh(fresh, touched)))
          retired.add((System.currentTimeMillis, old))
        }
        // release retired handles whose grace period has fully elapsed —
        // in-flight readers that grabbed them pre-swap have had
        // graceMillis to drain
        var head = retired.peek()
        while (head != null &&
            System.currentTimeMillis - head._1 >= graceMillis) {
          retired.poll()._2.unpersist()
          head = retired.peek()
        }
      }
      .start()
  }

  /** Streaming dedup ingestion against the persisted index
    * ([[graft.operators.DedupIndex]]): each microbatch (a) drops its
    * own in-batch exact duplicates, (b) drops rows whose content the
    * index has already accepted (md5 anti-join on the stored hashes —
    * base text never read), and (c) APPENDS the accepted remainder's
    * projections. Cost ∝ batch per step; the index grows append-only,
    * so re-delivered content is idempotent at the content level and
    * the stream never rebuilds anything. Near-dup (band/simhash)
    * probes stay queries over the same index — gating on them is a
    * policy decision left to the caller. foreachBatch serializes, so
    * accepted batches append in arrival order.
    *
    * Idempotence has two levels here. CONTENT-level comes free: a
    * re-delivered batch anti-joins the hashes its first delivery stored
    * and contributes no rows. But the re-accepted remainder of a batch
    * whose first delivery CRASHED mid-append (some projections written,
    * others not) would leave the projections inconsistent, and a full
    * re-delivery after a successful append still rewrites zero-row
    * files. So when `checkpointDir` is set, the append also runs under
    * the [[BatchLedger]] — FILE-level idempotence: replay rolls back a
    * half-landed batch and re-applies, and a fully-landed batch is
    * skipped without touching the layout. The snapshot covers the four
    * projection roots, whose file counts the compaction cadence bounds
    * — cost ∝ the cadence, not the corpus. */
  def dedupIngestStream(batches: DataFrame, indexPath: String,
      idCol: String, textCol: String,
      compactEvery: Int = 0, compactFilesPerProjection: Int = 8,
      checkpointDir: Option[String] = None): StreamingQuery = {
    // same cadence contract as the index ingest streams; DedupIndex owns
    // its own compactor (per-projection range-repartition + probe-key
    // co-sort), so the cadence both bounds the file count AND restores
    // probe locality as the stream appends.
    val ws = batches.writeStream.outputMode("append")
    checkpointDir.foreach(ws.option("checkpointLocation", _))
    ws.foreachBatch { (b: DataFrame, batchId: Long) =>
        if (!b.isEmpty) {
          import graft.operators.{Dedup, DedupIndex}
          val doAppend = () => {
            val fresh = Dedup.dropExactDups(b, idCol, Seq(textCol))
            // materialize once: the append derives four projections from it
            val accepted = DedupIndex
              .filterExact(b.sparkSession, indexPath, fresh, textCol)
              .localCheckpoint(true)
            if (!accepted.isEmpty)
              DedupIndex.append(accepted, idCol, textCol, indexPath)
          }
          checkpointDir match {
            case Some(cp) =>
              BatchLedger.runIdempotent(b.sparkSession, s"$indexPath/_ledger",
                batchId, cp) {
                (DedupIndex.projectionRoots.map(p => s"$indexPath/$p"), doAppend)
              }
            case None => doAppend()
          }
          ()
        }
        cadenceTick(compactEvery, batchId) {
          graft.operators.DedupIndex.compact(
            b.sparkSession, indexPath, compactFilesPerProjection)
          ()
        }
      }
      .start()
  }

  /** Streaming ANN ingestion onto a PERSISTED IVF index
    * ([[graft.operators.Ann.ivfSave]] layout): each microbatch assigns
    * to the EXISTING centroids and appends only the landed clusters'
    * directories ([[graft.operators.Ann.ivfAppendSave]]) — no KMeans
    * fit anywhere in the stream, the cost-∝-batch ANN twin of
    * [[upsertStream]]. Probes (`ivfLoad` + `ivfTopK`) pick up appended
    * rows on their next index load; rebalancing on skew stays an
    * offline decision ([[graft.operators.Ann.ivfRebalance]]).
    *
    * Raw appends are NOT naturally idempotent, so when `checkpointDir`
    * is set each batch runs through [[BatchLedger.runIdempotent]]: a
    * batch the engine re-delivers after a checkpoint restart is skipped
    * (or rolled back and re-applied if the first delivery crashed
    * mid-append) — rows land exactly once. The ledger snapshots ONLY
    * the cluster directories the batch routes to (assignment runs
    * before any file lands), so its per-batch cost is ∝ the batch, not
    * the corpus. One ledger serves one checkpoint lineage — enforced by
    * a `_lineage` stamp; re-pointing a fresh checkpoint at this layout
    * requires clearing `<indexPath>/_ledger` first. WITHOUT a
    * checkpoint the engine cannot re-deliver (a restarted query
    * re-reads the source from scratch instead), so the stream appends
    * raw — engaging the ledger there would let a restarted run's batch
    * ids collide with stale markers and silently drop fresh rows. */
  def ivfIngestStream(batches: DataFrame, indexPath: String,
      idCol: String, vecCol: String,
      compactEvery: Int = 0, compactMaxFiles: Int = 8,
      checkpointDir: Option[String] = None): StreamingQuery = {
    val ws = batches.writeStream.outputMode("append")
    checkpointDir.foreach(ws.option("checkpointLocation", _))
    ws.foreachBatch { (b: DataFrame, batchId: Long) =>
        if (!b.isEmpty) {
          checkpointDir match {
            case Some(cp) =>
              BatchLedger.runIdempotent(b.sparkSession, s"$indexPath/_ledger",
                batchId, cp) {
                val (staged, touched) = graft.operators.Ann.ivfStageAppend(
                  b.sparkSession, indexPath, b, idCol, vecCol)
                (touched.map(c => s"$indexPath/lists/cluster=$c"),
                  () => graft.operators.Ann.appendStagedLists(staged, indexPath, touched.size))
              }
            case None =>
              graft.operators.Ann.ivfAppendSave(b.sparkSession, indexPath, b, idCol, vecCol)
          }
          ()
        }
        cadenceTick(compactEvery, batchId) {
          graft.operators.Ann.ivfCompactSave(
            b.sparkSession, indexPath, compactMaxFiles)
          ()
        }
      }
      .start()
  }

  /** Streaming ingestion of the persisted binary signature index
    * ([[graft.operators.Ann.bqSaveIndex]] layout): each microbatch
    * sign-packs (fit-free — no trained state to drift) and appends,
    * landing files only in the touched bucket directories. The coarse
    * artifact of the binary scan tier follows ingestion at cost ∝
    * batch, same posture as [[ivfIngestStream]] — including its
    * checkpoint-gated [[BatchLedger]] wrap (touched-bucket snapshots,
    * `_lineage`-stamped, raw append when un-checkpointed), so
    * re-delivered batches land exactly once. */
  def bqIngestStream(batches: DataFrame, indexPath: String,
      idCol: String, vecCol: String,
      compactEvery: Int = 0, compactMaxFiles: Int = 8,
      checkpointDir: Option[String] = None): StreamingQuery = {
    val ws = batches.writeStream.outputMode("append")
    checkpointDir.foreach(ws.option("checkpointLocation", _))
    ws.foreachBatch { (b: DataFrame, batchId: Long) =>
        if (!b.isEmpty) {
          checkpointDir match {
            case Some(cp) =>
              BatchLedger.runIdempotent(b.sparkSession, s"$indexPath/_ledger",
                batchId, cp) {
                val (staged, touched) = graft.operators.Ann.bqStageAppend(
                  b.sparkSession, indexPath, b, idCol, vecCol)
                (touched.map(bk => s"$indexPath/sigs/bucket=$bk"),
                  () => graft.operators.Ann.appendStagedSigs(staged, indexPath, touched.size))
              }
            case None =>
              graft.operators.Ann.bqAppendSave(b.sparkSession, indexPath, b, idCol, vecCol)
          }
          ()
        }
        cadenceTick(compactEvery, batchId) {
          graft.operators.Ann.bqCompactSave(
            b.sparkSession, indexPath, compactMaxFiles)
          ()
        }
      }
      .start()
  }

  /** Streaming ingestion of the persisted IVF×BQ hybrid
    * ([[graft.operators.Ann.ivfBqSave]] layout): each microbatch
    * assigns to the EXISTING centroid sidecar and sign-packs — both
    * fit-free — and appends only the landed clusters' directories
    * ([[graft.operators.Ann.ivfBqAppendSave]]). The composed
    * coarse+compressed index follows ingestion at cost ∝ batch, same
    * posture as its two parents above — including their
    * checkpoint-gated [[BatchLedger]] wrap (touched-cluster snapshots,
    * `_lineage`-stamped, raw append when un-checkpointed), so
    * re-delivered batches land exactly once. */
  def ivfBqIngestStream(batches: DataFrame, indexPath: String,
      idCol: String, vecCol: String,
      compactEvery: Int = 0, compactMaxFiles: Int = 8,
      checkpointDir: Option[String] = None): StreamingQuery = {
    val ws = batches.writeStream.outputMode("append")
    checkpointDir.foreach(ws.option("checkpointLocation", _))
    ws.foreachBatch { (b: DataFrame, batchId: Long) =>
        if (!b.isEmpty) {
          checkpointDir match {
            case Some(cp) =>
              BatchLedger.runIdempotent(b.sparkSession, s"$indexPath/_ledger",
                batchId, cp) {
                val (staged, touched) = graft.operators.Ann.ivfBqStageAppend(
                  b.sparkSession, indexPath, b, idCol, vecCol)
                (touched.map(c => s"$indexPath/lists/cluster=$c"),
                  () => graft.operators.Ann.appendStagedLists(staged, indexPath, touched.size))
              }
            case None =>
              graft.operators.Ann.ivfBqAppendSave(b.sparkSession, indexPath, b, idCol, vecCol)
          }
          ()
        }
        cadenceTick(compactEvery, batchId) {
          graft.operators.Ann.ivfBqCompactSave(
            b.sparkSession, indexPath, compactMaxFiles)
          ()
        }
      }
      .start()
  }

  /** Streaming ingestion of the persisted inverted index
    * ([[graft.operators.InvertedIndex.build]] layout): each microbatch
    * derives its posting and doc-stats rows (fit-free) and appends only
    * the term buckets its vocabulary hashes into plus the batch ids'
    * doc-stats buckets — lexical retrieval follows ingestion at cost ∝
    * batch, the same posture as the ANN ingest streams. Corpus stats
    * land as a NEW complete version file per batch (append-only by
    * design), which is what makes the checkpoint-gated
    * [[BatchLedger]] wrap sound here: rolling back a half-landed batch
    * deletes its posting files AND its stats version, so a replayed
    * batch re-derives both exactly once. Same `_lineage`/raw-append
    * rules as [[ivfIngestStream]]. */
  def invIngestStream(batches: DataFrame, indexPath: String,
      idCol: String, textCol: String,
      compactEvery: Int = 0, compactMaxFiles: Int = 8,
      checkpointDir: Option[String] = None): StreamingQuery = {
    val ws = batches.writeStream.outputMode("append")
    checkpointDir.foreach(ws.option("checkpointLocation", _))
    ws.foreachBatch { (b: DataFrame, batchId: Long) =>
        if (!b.isEmpty) {
          checkpointDir match {
            case Some(cp) =>
              BatchLedger.runIdempotent(b.sparkSession, s"$indexPath/_ledger",
                batchId, cp) {
                val (posts, ds, touched) = graft.operators.InvertedIndex
                  .stageAppend(b.sparkSession, indexPath, b, idCol, textCol)
                (touched, () => graft.operators.InvertedIndex
                  .applyStagedAppend(b.sparkSession, indexPath, posts, ds))
              }
            case None =>
              graft.operators.InvertedIndex.append(
                b.sparkSession, indexPath, b, idCol, textCol)
          }
          ()
        }
        cadenceTick(compactEvery, batchId) {
          graft.operators.InvertedIndex.compact(b.sparkSession, indexPath,
            compactMaxFiles)
          ()
        }
      }
      .start()
  }

  /** Streaming more-like-this — the RETRIEVAL consumer of the persisted
    * inverted index: each microbatch carries seed document ids, their
    * top-`nTerms` TF-IDF terms derive index-backed
    * ([[graft.operators.TextAnalysis.mltQueriesIdx]] — the corpus pays
    * only the seed semi-join scan per batch; term rarity comes from the
    * index's bucket-pruned postings and N from its stats sidecar, so
    * nothing corpus-sized explodes or aggregates per microbatch), the
    * persisted index answers with collect-free batch BM25, and each
    * seed's own document drops from its ranking exactly (probe k+1,
    * drop self, renumber — identical to ranking the corpus without the
    * seed). Results land at `outPath` as (qid, rank, id, bm25) parquet
    * partitioned by `batch` = the microbatch id, written with DYNAMIC
    * partition overwrite — a foreachBatch replay after a crash between
    * the write and the checkpoint commit re-lands exactly its own
    * partition instead of appending duplicates, so the sink is
    * effectively-once without a ledger (the per-batch twin of
    * [[BatchLedger]]'s discipline for index mutations). Read the
    * results with a plain `spark.read.parquet(outPath)`; the `batch`
    * column is provenance.
    *
    * Per-batch cost ∝ batch: the seed semi-join corpus scan (no
    * tokenization of non-seed rows) + the bucket-pruned index probes. */
  def mltStream(seedIds: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, indexPath: String, outPath: String,
      nTerms: Int = 5, k: Int = 10): StreamingQuery =
    mltStreamImpl(seedIds, Some((corpus, idCol, textCol)), indexPath, outPath,
      nTerms, k)

  /** [[mltStream]] serving entirely from the index's own DOC STORE —
    * the corpus-free signature a doc-store-backed deployment should
    * use: no caller ever supplies (or pays to construct) a corpus
    * frame the serving path never reads. Fails fast at stream SETUP
    * when the index does not store text (`storesText` in the sidecar
    * — build with `storeText = true` or retrofit via
    * [[graft.operators.InvertedIndex.addDocStore]]), rather than on
    * the first microbatch. */
  def mltStream(seedIds: DataFrame, indexPath: String, outPath: String,
      nTerms: Int, k: Int): StreamingQuery = {
    require(graft.operators.InvertedIndex
        .readStats(seedIds.sparkSession, indexPath).storesText,
      s"mltStream without a corpus frame needs the index at $indexPath to " +
        "store document text — build it with storeText = true or retrofit " +
        "via InvertedIndex.addDocStore, or use the corpus-fallback overload")
    mltStreamImpl(seedIds, None, indexPath, outPath, nTerms, k)
  }

  private def mltStreamImpl(seedIds: DataFrame,
      corpusFallback: Option[(DataFrame, String, String)], indexPath: String,
      outPath: String, nTerms: Int, k: Int): StreamingQuery =
    seedIds.writeStream
      .outputMode("append")
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        if (!b.isEmpty) {
          val spark = b.sparkSession
          // when the index stores document text, the seed pass is a
          // doc-store point lookup (dbucket-pruned — nothing reads the
          // corpus at all); otherwise fall back to the seed-gated
          // corpus scan
          val storesText =
            graft.operators.InvertedIndex.readStats(spark, indexPath).storesText
          val q =
            if (storesText) graft.operators.TextAnalysis.mltQueriesIdx(
              spark, indexPath, b, nTerms)
            else corpusFallback match {
              case Some((corpus, idCol, textCol)) =>
                graft.operators.TextAnalysis.mltQueriesIdx(
                  spark, indexPath, corpus, idCol, textCol, b, nTerms)
              case None => throw new IllegalStateException(
                s"index at $indexPath lost its doc store mid-stream and no " +
                  "corpus fallback was wired")
            }
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("qid")).orderBy(col("rank"))
          graft.operators.InvertedIndex.bm25TopKBatch(
              spark, indexPath, q, "qid", "terms", k = k + 1)
            .filter(col("id") =!= col("qid"))
            .withColumn("rank", row_number().over(w).cast(IntegerType))
            .filter(col("rank") <= k)
            .withColumn("batch", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch")
            .parquet(outPath)
        }
      }
      .start()

  /** Streaming tombstones — the DELETE twin of the ingestion streams:
    * each microbatch carries ids to forget, applied per batch to
    * whichever persisted artifacts are wired — the bucketed store
    * ([[graft.operators.VectorStore.Partitioned.delete]], touched
    * buckets only), the IVF layout
    * ([[graft.operators.Ann.ivfDeleteSave]], touched cluster dirs
    * only), the dedup index ([[graft.operators.DedupIndex.delete]],
    * the documented index-sized forget pass), and the inverted index
    * ([[graft.operators.InvertedIndex.delete]], tombstone append +
    * doc-stats rewrite bounded to the ids' own buckets). The batch's
    * id set stays a DATAFRAME end-to-end — staged once
    * ([[graft.operators.Ann.stageIdFrame]]) and fanned into each
    * artifact's DataFrame delete overload as a size-gated broadcast
    * anti-join — so a six-figure tombstone batch never funnels through
    * the driver and never becomes an isin literal in any rewrite plan
    * (the reference's driver-sized `delete(&[String])`, lib.rs:273-286,
    * remains available as the Seq overloads).
    * Shrink/rebalance after heavy deletion stay offline decisions
    * ([[graft.operators.Ann.ivfShrinkSave]]/[[graft.operators.Ann.ivfMaintain]]),
    * exactly like the append side — EXCEPT the inverted index, whose
    * logical tombstones grow per delete rather than per skew: a
    * delete-heavy stream that never hits an offline cadence must still
    * repay that debt, so each batch ends with a
    * [[graft.operators.InvertedIndex.needsCompact]] check against
    * `invCompactTombstones` and compacts (physical drop + tombstone
    * clear) when the set has grown past it. */
  def tombstoneStream(ids: DataFrame, idCol: String,
      storePath: Option[String] = None,
      ivfPath: Option[String] = None,
      dedupIndexPath: Option[String] = None,
      bqIndexPath: Option[String] = None,
      ivfBqPath: Option[String] = None,
      invPath: Option[String] = None,
      invCompactTombstones: Long = 1000000L,
      invCompactMinTombFrac: Double = 0.0,
      invCompactHardCap: Long = 0L,
      invPaths: Seq[String] = Seq.empty): StreamingQuery = {
    // `invPaths` is the BM25F-group form: EVERY listed index gets the
    // same per-batch delete (InvertedIndex.deleteFields semantics — a
    // group stays coherent only when deletes apply to all its field
    // indexes), each with its own independent compaction ratchet; a
    // batch that crashes mid-group heals on replay because re-deleting
    // a tombstoned id is a per-index no-op.
    val allInv = (invPath.toSeq ++ invPaths).distinct
    // the compaction trigger RATCHETS past retained debt: a fraction
    // gate (invCompactMinTombFrac > 0) deliberately keeps cold buckets'
    // tombstones, and a fixed total-count trigger would then re-run the
    // candidate pre-pass on EVERY batch while repaying nothing — so
    // after each compaction the bar moves to retained + threshold, and
    // a pre-pass is paid once per threshold's worth of NEW debt.
    // (foreachBatch runs on the driver, so the var is plain stream
    // state, like tombstoneStreamServing's retirement queue.)
    //
    // The ratchet alone is UNBOUNDED when deletes spread so thinly
    // that no bucket ever reaches the per-bucket fraction — retained
    // debt then grows forever and every probe broadcasts an
    // ever-growing anti-join set, defeating the bound the trigger
    // exists to enforce. So a HARD CEILING backs it: past
    // `invCompactHardCap` total tombstones (default 8× the threshold)
    // the compaction runs FULL (minTombFrac = 0), repaying every
    // bucket and clearing the set regardless of how cold each bucket
    // is. Incrementality is a cost optimization; the cap is the
    // correctness-of-scale bound.
    val invHardCap =
      if (invCompactHardCap > 0L) invCompactHardCap
      else 8L * invCompactTombstones
    val invNextTrigger = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(invCompactTombstones)
    ids.writeStream
      .outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        val spark = b.sparkSession
        // the batch's id set stays a DataFrame end-to-end: staged once
        // (distinct + localCheckpoint), then fanned into each index
        // family's DataFrame delete overload, where it reaches every
        // rewrite as a size-gated broadcast anti-join — a six-figure
        // tombstone batch never funnels through the driver and never
        // becomes an isin literal in any plan
        val (idDf, n) = graft.operators.Ann.stageIdFrame(
          b.select(col(idCol).cast(StringType).as("id")))
        if (n > 0L) {
          storePath.foreach(p =>
            graft.operators.VectorStore.Partitioned.delete(spark, p, idDf))
          ivfPath.foreach(p => graft.operators.Ann.ivfDeleteSave(spark, p, idDf))
          dedupIndexPath.foreach(p => graft.operators.DedupIndex.delete(spark, p, idDf))
          bqIndexPath.foreach(p => graft.operators.Ann.bqDeleteSave(spark, p, idDf))
          ivfBqPath.foreach(p => graft.operators.Ann.ivfBqDeleteSave(spark, p, idDf))
          allInv.foreach { p =>
            graft.operators.InvertedIndex.delete(spark, p, idDf)
            // debt-gated repayment; invCompactMinTombFrac > 0 makes it
            // INCREMENTAL (only buckets past the per-bucket tombstoned
            // fraction rewrite; repaid ids retire, the rest stay
            // hidden) — until the hard cap, where the compact runs
            // FULL so retained debt can never grow without bound
            val outstanding = graft.operators.InvertedIndex.tombstoneCount(spark, p)
            if (outstanding >= invNextTrigger(p) || outstanding >= invHardCap) {
              graft.operators.InvertedIndex.compact(spark, p,
                minTombFrac =
                  if (outstanding >= invHardCap) 0.0 else invCompactMinTombFrac)
              invNextTrigger(p) = graft.operators.InvertedIndex.tombstoneCount(spark, p) +
                invCompactTombstones
            }
          }
        }
      }
      .start()
  }

  /** [[tombstoneStream]] extended to the SERVING tiers — the delete
    * analog of [[upsertStreamWithReplica]]: after each microbatch's
    * touched-bucket store delete, the bucket-aligned cache rebuilds
    * ONLY the buckets the forgotten ids hashed into, the handle swaps
    * atomically, and the replica (when wired) delta-refreshes the same
    * touched buckets — a fully-drained bucket drops out of both tiers.
    * Superseded cache handles retire on the same grace-period schedule,
    * with the same consistency contract and caveats, as the upsert
    * side. */
  def tombstoneStreamServing(ids: DataFrame, idCol: String, storePath: String,
      cache: java.util.concurrent.atomic.AtomicReference[graft.operators.MatrixStore],
      replica: Option[java.util.concurrent.atomic.AtomicReference[graft.operators.LocalMatrixStore]] = None,
      graceMillis: Long = 60000L): StreamingQuery = {
    val retired =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, graft.operators.MatrixStore)]()
    ids.writeStream
      .outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        val spark = b.sparkSession
        val list = b.select(col(idCol).cast(StringType)).distinct()
          .collect().map(_.getString(0)).toSeq
        if (list.nonEmpty) {
          graft.operators.VectorStore.Partitioned.delete(spark, storePath, list)
          val nb = cache.get.nBuckets.getOrElse(throw new IllegalArgumentException(
            "tombstoneStreamServing needs a bucket-aligned cache"))
          // same id→bucket function the store's layout uses
          val touched = b
            .select(pmod(xxhash64(col(idCol).cast(StringType)), lit(nb.toLong))
              .cast("int").as("bucket"))
            .distinct().collect().map(_.getInt(0)).toSeq
          val old = cache.get
          val fresh = old.refreshBuckets(
            graft.operators.VectorStore.Partitioned.load(spark, storePath), touched)
          cache.set(fresh)
          replica.foreach(r => r.set(r.get.refresh(fresh, touched)))
          retired.add((System.currentTimeMillis, old))
        }
        var head = retired.peek()
        while (head != null &&
            System.currentTimeMillis - head._1 >= graceMillis) {
          retired.poll()._2.unpersist()
          head = retired.peek()
        }
      }
      .start()
  }

  /** Streaming ingestion extended to the GRAPH serving tier: each
    * microbatch (a) merges into the bucketed on-disk layout (touched
    * partitions only — disk stays the source of truth) and (b) inserts
    * the batch into the in-process [[graft.operators.HnswReplica]]
    * (cost ∝ batch · log N, upsert = tombstone old row + insert new).
    * No handle swap is needed at this tier: foreachBatch serializes
    * batches, which IS the replica's supported single-writer regime —
    * serving threads query the same handle throughout (the CAS-
    * published neighbor lists keep every read consistent; see
    * [[graft.operators.HnswReplica]]'s concurrency contract). The
    * batch collect is batch-sized and lands on the driver because the
    * graph replica is driver-local by design — the same justified
    * seam as `LocalMatrixStore.refresh`. Any
    * [[graft.operators.HnswMaintainable]] works here, including a block
    * store replica's overlay through
    * [[graft.operators.LocalMatrixStore.maintainable]]. */
  def upsertStreamWithHnsw(batches: DataFrame, storePath: String,
      hnsw: graft.operators.HnswMaintainable): StreamingQuery =
    batches.writeStream
      .outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        if (!b.isEmpty) {
          val spark = b.sparkSession
          graft.operators.VectorStore.Partitioned.upsert(spark, storePath, b)
          val rows = b.select(
              col(graft.operators.VectorStore.IdCol).cast(StringType),
              col(graft.operators.VectorStore.VectorCol).cast(ArrayType(FloatType)))
            .collect()
            .map(r => r.getString(0) -> r.getSeq[Float](1).toArray).toSeq
          hnsw.add(rows)
        }
      }
      .start()

  /** The delete twin of [[upsertStreamWithHnsw]]: per microbatch,
    * forget the ids in the bucketed layout (touched partitions only)
    * and tombstone them in the graph replica — queries stop returning
    * them immediately; the graph still routes through them, which is
    * standard HNSW practice (connectivity is preserved; reclaim space
    * by rebuilding from the store on the maintenance cadence). */
  def tombstoneStreamHnsw(ids: DataFrame, idCol: String, storePath: String,
      hnsw: graft.operators.HnswMaintainable): StreamingQuery =
    ids.writeStream
      .outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        val list = b.select(col(idCol).cast(StringType)).distinct()
          .collect().map(_.getString(0)).toSeq
        if (list.nonEmpty) {
          graft.operators.VectorStore.Partitioned.delete(b.sparkSession, storePath, list)
          hnsw.markDeleted(list)
        }
      }
      .start()

  private val sinkCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Drain a bounded streaming DataFrame through the memory sink and hand
    * the result back as a plain batch DataFrame (the unified-model bridge
    * the registered `stream_*` queries use). `shufflePartitions` caps the
    * stateful-operator partition count for the run — each shuffle
    * partition materializes its own state store + per-batch checkpoint
    * delta, a fixed cost that dwarfs bounded local inputs (size it to the
    * key cardinality in production). */
  def runBounded(df: DataFrame, mode: String = "append",
      shufflePartitions: Option[Int] = Some(8)): DataFrame = {
    val sess = df.sparkSession
    val key = "spark.sql.shuffle.partitions"
    val prev = sess.conf.get(key)
    shufflePartitions.foreach(n => sess.conf.set(key, n.toString))
    try {
      val name = s"graft_stream_sink_${sinkCounter.incrementAndGet()}"
      val q = runToCompletion(df, name, mode)
      q.stop()
      sess.table(name)
    } finally sess.conf.set(key, prev)
  }

  /** Run a streaming query to completion against bounded input via the
    * memory sink. `complete` mode surfaces every window on bounded input;
    * `append` (production default) emits only watermark-closed windows. */
  def runToCompletion(df: DataFrame, name: String,
      mode: String = "append"): StreamingQuery = {
    val q = df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .start()
    q.processAllAvailable()
    q
  }
}
