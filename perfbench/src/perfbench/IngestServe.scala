package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files => JFiles, StandardCopyOption}
import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.operators._
import graft.streaming.StreamingOps

/** `ingest_serve`: one store that is written and read in the same loop.
  * Upsert and delete micro-batches land as files that the two serving
  * streams apply to the bucketed layout, its bucket-aligned cache and the
  * in-process replica; readers query the replica and the layout. */
object IngestServe {
  val Rows = 5000
  val Dim = 256
  val Clusters = 32
  val Spread = 0.6
  val Buckets = 8
  val K = 10
  val Cats = 16
  val Years = 25
  /** One upsert batch: `NewRows` new ids and `UpdatedRows` live ids. */
  val NewRows = 102
  val UpdatedRows = 26
  val DeleteIds = 32
  /** Replica reads after each write, of the rows it wrote. */
  val ReplicaReads = 2
  /** Filtered, thresholded top-k reads of the layout per cycle. */
  val LayoutReads = 3

  private final class Row(val id: String, var unit: Array[Float], var raw: Array[Float],
      val cat: Int, val year: Int) {
    var live = true
  }

  /** The benchmark's model of the store: every id ever written, in order. */
  private final class Model {
    val rows = ArrayBuffer.empty[Row]
    val byId = mutable.HashMap.empty[String, Row]
    var liveCount = 0
    def put(id: String, v: Array[Float], cat: Int, year: Int): Unit = byId.get(id) match {
      case Some(r) => r.unit = Oracle.unit(v); r.raw = v // metadata stays, as the engine keeps it
      case None =>
        val r = new Row(id, Oracle.unit(v), v, cat, year)
        rows += r; byId(id) = r; liveCount += 1
    }
    def delete(id: String): Unit = byId.get(id).filter(_.live).foreach { r => r.live = false; liveCount -= 1 }
    def liveRows: IndexedSeq[Row] = rows.filter(_.live).toIndexedSeq
    def topK(q: Array[Float], k: Int, keep: Row => Boolean = _ => true): Array[(Row, Double)] = {
      val qn = Oracle.unitD(q)
      val rs = rows
      Oracle.topK(rs.length, k, i => Oracle.dot(rs(i).unit, 0, qn, Dim), i => rs(i).id,
        i => rs(i).live && keep(rs(i))).map { case (i, s) => (rs(i), s) }
    }
    def score(q: Array[Float])(id: String): Option[Double] = {
      val qn = Oracle.unitD(q)
      byId.get(id).filter(_.live).map(r => Oracle.dot(r.unit, 0, qn, Dim))
    }
  }

  private def rowBytes(id: String): Long = id.length + 4L * Dim + 8L

  private def jsonRow(id: String, v: Array[Float], cat: Int, year: Int): String =
    v.map(_.toString).mkString(s"""{"__id__": "$id", "vector": [""", ",", s"""], "cat": $cat, "year": $year}""")

  /** Land a file atomically: write a hidden file, then rename it in. */
  private def land(dir: String, name: String, lines: Seq[String]): Unit = {
    val tmp = new File(dir, "." + name + ".tmp").toPath
    JFiles.write(tmp, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    JFiles.move(tmp, new File(dir, name).toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  def run(ctx: Ctx): Unit = {
    import ctx.{spark, report, tracer}
    val seed = ctx.seed
    val mix = new Gen.Mixture(seed, Dim, Clusters, Spread)
    import spark.implicits._

    // ---- generated input (not timed)
    val model = new Model
    val init = (0 until Rows).map { i =>
      val r = Gen.rng(seed, 1000000L + i)
      (s"r$i", mix.draw(r), r.nextInt(Cats), 2000 + r.nextInt(Years))
    }
    init.foreach { case (id, v, c, y) => model.put(id, v, c, y) }
    val raw = spark.sparkContext.parallelize(init, ctx.cpus).toDF("id", "vec", "cat", "year").cache()
    raw.count()
    val upSchema = StructType(Seq(StructField(VectorStore.IdCol, StringType),
      StructField(VectorStore.VectorCol, ArrayType(FloatType)),
      StructField("cat", IntegerType), StructField("year", IntegerType)))
    val delSchema = StructType(Seq(StructField("id", StringType)))

    ctx.phase("set-up")
    // ---- set-up: bucketed layout, bucket-aligned cache, replica, streams
    final class Serving(val path: String, val upDir: String, val delDir: String,
        val cache: AtomicReference[MatrixStore], val replica: AtomicReference[LocalMatrixStore],
        val upQ: StreamingQuery, val delQ: StreamingQuery) {
      def stop(): Unit = {
        upQ.stop(); delQ.stop()
        upQ.awaitTermination(); delQ.awaitTermination()
        cache.get.unpersist(blocking = true)
      }
    }
    var serving: Serving = null
    for (rep <- 0 until ctx.setupReps) {
      tracer.request = -(rep + 1L)
      tracer.on = ctx.trace
      val path = ctx.dir(s"ingest-store-$rep")
      val upDir = ctx.dir(s"ingest-upserts-$rep")
      val delDir = ctx.dir(s"ingest-deletes-$rep")
      new File(upDir).mkdirs(); new File(delDir).mkdirs()
      val t0 = System.nanoTime()
      tracer.call("VectorStore.Partitioned.init") {
        VectorStore.Partitioned.init(VectorStore.fromDataFrame(raw, "id", "vec", Dim), path, Buckets)
      }
      val (mx, _) = tracer.call("MatrixStore.fromPartitionedLayout") {
        MatrixStore.fromPartitionedLayout(spark, path)
      }
      val cache = new AtomicReference(mx)
      val replica = new AtomicReference(tracer.call("MatrixStore.toLocal")(mx.toLocal())._1)
      val (upQ, _) = tracer.call("StreamingOps.upsertStreamWithReplica.start") {
        val q = StreamingOps.upsertStreamWithReplica(
          spark.readStream.schema(upSchema).json(upDir), path, cache, replica, graceMillis = 0L)
        q.processAllAvailable()
        q
      }
      val (delQ, _) = tracer.call("StreamingOps.tombstoneStreamServing.start") {
        val q = StreamingOps.tombstoneStreamServing(
          spark.readStream.schema(delSchema).json(delDir), "id", path, cache, Some(replica),
          graceMillis = 0L)
        q.processAllAvailable()
        q
      }
      report.setups += (System.nanoTime() - t0) / 1e9
      tracer.on = false
      if (serving != null) {
        serving.stop()
        Seq(serving.path, serving.upDir, serving.delDir).foreach(d => Files.deleteTree(new File(d)))
      }
      serving = new Serving(path, upDir, delDir, cache, replica, upQ, delQ)
    }
    raw.unpersist(blocking = true)
    val s = serving
    report.check(s.replica.get.nRows == Rows, s"replica rows ${s.replica.get.nRows} != $Rows")

    // ---- timed closed loop: one write, then reads that include its ids
    val r = Gen.rng(seed, 3)
    var writes = 0
    var newIds = 0
    var tracedUserBytes = 0L
    var tracedWrittenBytes = 0L
    var rowsTouched = 0L
    var step = 0L

    def timedWrite(kind: String, name: String, bytes: Long,
        stream: Option[StreamingQuery] = None)(body: => Unit): Unit = {
      ctx.traceStep(kind, step)
      val n0 = tracer.spans.length
      val (_, ns) = tracer.call("op." + kind)(tracer.call(name, dirs = Seq(s.path))(body))
      stream.foreach(tracer.tagStream(_, name))
      if (tracer.on) {
        tracedUserBytes += bytes
        tracedWrittenBytes += tracer.spans.iterator.drop(n0).filter(_.name == name).map(_.bytesWritten).sum
      }
      tracer.on = false
      report.write(kind, ns)
      step += 1
    }

    def replicaRead(q: Array[Float], expectTop: Option[String], gone: Option[String]): Unit =
      report.guarded("replica read") {
        ctx.traceStep("replica_read", step)
        val rep = s.replica.get
        val (got, ns) = tracer.call("op.replica_read") {
          tracer.call("LocalMatrixStore.query", model.liveCount.toLong * Dim)(rep.query(q, K))._1
        }
        tracer.on = false
        report.read("replica_read", ns)
        step += 1
        val want = model.topK(q, K)
        report.check(
          Oracle.exactMatches(got.toSeq, want.map(_._2).toSeq, model.score(q), _ => true) &&
            expectTop.forall(id => got.headOption.exists(_._1 == id)) &&
            gone.forall(id => !got.exists(_._1 == id)),
          s"replica read step $step expect=$expectTop gone=$gone got=${got.mkString(",")}")
      }

    def sparkRead(): Unit = report.guarded("spark read") {
      val q = mix.draw(r)
      val c = r.nextInt(Cats)
      val top = model.topK(q, 6, _.cat == c)
      // a threshold between the 5th and 6th best of the filtered rows
      val thr = (top(4)._2 + top(5)._2) / 2
      ctx.traceStep("spark_read", step)
      val (got, ns) = tracer.call("op.spark_read") {
        val (st, _) = tracer.call("VectorStore.Partitioned.load")(VectorStore.Partitioned.load(spark, s.path))
        tracer.call("VectorStore.query") {
          st.query(q, K, betterThan = Some(thr), filter = Some(col("cat") === c))
            .select(col(VectorStore.IdCol), col(VectorStore.MetricsCol)).collect()
            .map(x => (x.getString(0), x.getDouble(1)))
        }._1
      }
      tracer.on = false
      report.read("spark_read", ns)
      step += 1
      report.check(
        Oracle.exactMatches(got.toSeq, top.take(5).map(_._2).toSeq, model.score(q),
          id => model.byId.get(id).exists(_.cat == c)) && got.forall(_._2 >= thr),
        s"spark read step $step got=${got.mkString(",")}")
    }

    /** The micro-batch id of the last upsert that carried rows. */
    def lastDataBatch: Long =
      s.upQ.recentProgress.reverseIterator.find(_.numInputRows > 0).map(_.batchId).getOrElse(-1L)

    /** One cycle: an upsert file and a delete file, each applied by its
      * stream and read back from the replica, then `LayoutReads` layout
      * reads and a compaction check. Every cycle has the same shape. */
    def cycle(): Unit = {
      writes += 1
      val live = model.liveRows
      val upd = Gen.sample(r, live.length, UpdatedRows).map(live(_).id)
      val batch = (0 until NewRows).map { _ =>
        newIds += 1
        (s"n$newIds", mix.draw(r), r.nextInt(Cats), 2000 + r.nextInt(Years))
      } ++ upd.map(id => (id, mix.draw(r), model.byId(id).cat, model.byId(id).year))
      land(s.upDir, f"u$writes%06d.json", batch.map { case (id, v, c, y) => jsonRow(id, v, c, y) })
      val before = lastDataBatch
      report.guarded("upsert") {
        timedWrite("upsert", "StreamingOps.upsertStreamWithReplica",
          batch.map(b => rowBytes(b._1)).sum, Some(s.upQ)) {
          s.upQ.processAllAvailable()
        }
        // one landed file is one micro-batch
        val applied = s.upQ.recentProgress.count(p => p.numInputRows > 0 && p.batchId > before)
        report.check(applied == 1, s"upsert file $writes applied in $applied micro-batches")
      }
      batch.foreach { case (id, v, c, y) => model.put(id, v, c, y) }
      Gen.sample(r, batch.length, ReplicaReads).foreach { i =>
        val (id, v, _, _) = batch(i)
        replicaRead(v, Some(id), None)
      }

      val gone = Gen.sample(r, model.liveRows.length, DeleteIds).map(model.liveRows(_))
      land(s.delDir, f"d$writes%06d.json", gone.map(x => s"""{"id": "${x.id}"}"""))
      report.guarded("delete") {
        timedWrite("delete", "StreamingOps.tombstoneStreamServing",
          gone.map(_.id.length.toLong).sum, Some(s.delQ)) {
          s.delQ.processAllAvailable()
        }
      }
      gone.foreach(x => model.delete(x.id))
      gone.take(ReplicaReads).foreach(x => replicaRead(x.raw, None, Some(x.id)))

      (0 until LayoutReads).foreach(_ => sparkRead())
      report.guarded("compact") {
        timedWrite("compact", "VectorStore.Partitioned.compact", 0L) {
          VectorStore.Partitioned.compact(spark, s.path)
        }
      }
      if (report.timed) rowsTouched += batch.length + gone.length
    }
    report.mix ++= Seq("upsert" -> (1.0, false), "delete" -> (1.0, false), "compact" -> (1.0, false),
      "replica_read" -> (2.0 * ReplicaReads, true), "spark_read" -> (LayoutReads.toDouble, true))
    // warm the read paths (not the writes: a write cycle costs seconds)
    model.liveRows.take(20).foreach(x => replicaRead(x.raw, Some(x.id), None))
    sparkRead()
    // a traced run compares a traced and an untraced cycle; an untimed
    // cycle first keeps the JVM's first, cold cycle out of that comparison
    if (ctx.trace) cycle()
    val (gcN0, gcT0) = ctx.gcTotals
    ctx.startClock()
    while (ctx.timeLeft) cycle()
    val (gcN1, gcT1) = ctx.gcTotals
    val wallS = (report.reads.sum + report.writes.sum) / 1000.0

    // ---- final state against the model (not timed)
    report.guarded("final state") {
      val ids = VectorStore.Partitioned.load(spark, s.path).df
        .select(VectorStore.IdCol).as[String].collect().toSet
      val liveIds = model.rows.iterator.filter(_.live).map(_.id).toSet
      report.check(ids == liveIds,
        s"layout holds ${ids.size} ids, model ${liveIds.size}; " +
          s"${(ids -- liveIds).size} unexpected, ${(liveIds -- ids).size} missing")
      report.check(s.replica.get.nRows == model.liveCount,
        s"replica rows ${s.replica.get.nRows} != model ${model.liveCount}")
    }
    report.spaceAmp = Files.bytes(Seq(s.path)).toDouble /
      model.rows.iterator.filter(_.live).map(x => rowBytes(x.id)).sum
    s.stop()

    report.info ++= Seq("rows" -> Rows, "dim" -> Dim, "clusters" -> Clusters, "buckets" -> Buckets,
      "k" -> K, "setup_reps" -> ctx.setupReps,
      "schedule" -> s"every cycle: upsert $NewRows new + $UpdatedRows updated rows, delete $DeleteIds ids, $ReplicaReads replica reads after each, $LayoutReads layout reads, compact",
      "ingest_rows_per_s" -> rowsTouched / wallS, "live_rows" -> model.liveCount) ++
      report.kindInfo
    report.layers ++= Seq(
      "VectorStore.Partitioned.write_amp" ->
        (if (tracedUserBytes > 0) tracedWrittenBytes.toDouble / tracedUserBytes else 0.0),
      "jvm.gc_count" -> (gcN1 - gcN0).toDouble,
      "jvm.gc_pause_ms" -> (gcT1 - gcT0).toDouble)
    Seq(s.path, s.upDir, s.delDir).foreach(d => Files.deleteTree(new File(d)))
  }
}
