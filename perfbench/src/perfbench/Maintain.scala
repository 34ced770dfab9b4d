package perfbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions.col

import graft.operators._

/** `maintain`: three persisted indexes over one document corpus (IVF x
  * sign-bit vectors, BM25 postings, dedup projections), mutated in
  * corpus steps and probed after each one. Every call re-reads the
  * layouts from the file system, so Spark jobs and file rewrites do the
  * work and the in-process serving kernels sit idle. */
object Maintain {
  val Docs = 1200
  val Dim = 128
  val Clusters = 32
  val Spread = 0.6
  val Vocab = 5000
  val ZipfS = 1.07
  val MinWords = 20
  val MaxWords = 60
  /** Share of generated docs that copy a live doc's text (and vector),
    * and share that copy it with a tenth of the words replaced. */
  val ExactDup = 0.05
  val NearDup = 0.05
  val NLists = 4
  val NProbe = 2
  val InvBuckets = 2
  /** Every step appends `AppendDocs` docs and deletes `DeleteIds`. */
  val AppendDocs = 200
  val DeleteIds = 50
  /** Probe rounds after each step, each with another appended and
    * another deleted doc. */
  val ProbeRounds = 2
  /** Compact the postings once a step's deletes are outstanding. */
  val InvMaxTombstones = DeleteIds.toLong
  val K = 10

  private final case class Doc(id: String, text: String, v: Array[Float]) {
    lazy val unitD: Array[Double] = Oracle.unitD(v)
    def unique: String = "u" + id
    def bytes: Long = id.length + text.getBytes("UTF-8").length + 4L * Dim
  }

  /** Seeded corpus: Zipf words, a unique term per doc, clustered vectors,
    * and injected exact and near duplicates of earlier docs. */
  private final class Corpus(seed: Long) {
    private val mix = new Gen.Mixture(seed, Dim, Clusters, Spread)
    private val cdf: Array[Double] = {
      val w = Array.tabulate(Vocab)(j => 1.0 / math.pow(j + 1.0, ZipfS))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    private def word(r: java.util.SplittableRandom): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      "w" + Integer.toString(if (i >= 0) i else -i - 1, 36)
    }
    private def words(r: java.util.SplittableRandom): Seq[String] =
      Seq.fill(MinWords + r.nextInt(MaxWords - MinWords + 1))(word(r))

    def fresh(r: java.util.SplittableRandom, id: String): Doc =
      Doc(id, (words(r) :+ ("u" + id)).mkString(" "), mix.draw(r))

    /** One generated doc; `like` draws a live doc to duplicate. */
    def next(r: java.util.SplittableRandom, id: String, like: () => Option[Doc]): Doc = {
      val u = r.nextDouble()
      like().filter(_ => u < ExactDup + NearDup) match {
        case Some(d) if u < ExactDup => Doc(id, d.text, d.v.clone())
        case Some(d) =>
          val ws = d.text.split(" ").dropRight(1).map(w => if (r.nextDouble() < 0.1) word(r) else w)
          Doc(id, (ws :+ ("u" + id)).mkString(" "),
            d.v.map(x => (x + 0.05 * r.nextGaussian()).toFloat))
        case None => fresh(r, id)
      }
    }
  }

  def run(ctx: Ctx): Unit = {
    import ctx.{spark, report, tracer}
    import spark.implicits._
    val seed = ctx.seed
    val corpus = new Corpus(seed)

    // ---- generated input (not timed)
    val live = mutable.LinkedHashMap.empty[String, Doc]
    val liveList = ArrayBuffer.empty[String] // ids, for seeded sampling; compacted lazily
    val textCount = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    def add(d: Doc): Unit = { live(d.id) = d; liveList += d.id; textCount(d.text) += 1 }
    def remove(id: String): Unit = live.remove(id).foreach(d => textCount(d.text) -= 1)
    def liveIds: IndexedSeq[String] = {
      if (liveList.length != live.size) { liveList.clear(); liveList ++= live.keys }
      liveList.toIndexedSeq
    }
    val gr = Gen.rng(seed, 1)
    (0 until Docs).foreach { i =>
      add(corpus.next(gr, s"m$i", () =>
        if (i == 0) None else Some(live(liveIds(gr.nextInt(live.size))))))
    }
    val initial = live.values.toSeq
    val base = initial.map(d => (d.id, d.text, d.v)).toDF("id", "text", "v").cache()
    base.count()

    ctx.phase("set-up")
    // ---- set-up: build and persist the three indexes
    var paths: (String, String, String) = null
    for (rep <- 0 until ctx.setupReps) {
      tracer.request = -(rep + 1L)
      tracer.on = ctx.trace
      val (ap, ip, dp) = (ctx.dir(s"ann-$rep"), ctx.dir(s"inv-$rep"), ctx.dir(s"dedup-$rep"))
      val t0 = System.nanoTime()
      val (ivf, _) = tracer.call("Ann.ivfBuild")(Ann.ivfBuild(base, "id", "v", NLists, seed = seed))
      val (bq, _) = tracer.call("Ann.ivfBqBuild")(Ann.ivfBqBuild(ivf))
      tracer.call("Ann.ivfBqSave")(Ann.ivfBqSave(bq, ap))
      tracer.call("InvertedIndex.build")(InvertedIndex.build(base, "id", "text", ip, InvBuckets, InvBuckets))
      tracer.call("DedupIndex.create")(DedupIndex.create(base, "id", "text", dp))
      report.setups += (System.nanoTime() - t0) / 1e9
      tracer.on = false
      ivf.assigned.unpersist(blocking = true)
      if (paths != null) Seq(paths._1, paths._2, paths._3).foreach(d => Files.deleteTree(new File(d)))
      paths = (ap, ip, dp)
    }
    base.unpersist(blocking = true)
    val (annPath, invPath, dedupPath) = paths
    val dirs = Map("Ann" -> annPath, "InvertedIndex" -> invPath, "DedupIndex" -> dedupPath)

    // ---- timed closed loop: corpus steps, each followed by probes
    val r = Gen.rng(seed, 3)
    var steps = 0
    var appended = 0
    var rowsTouched = 0L
    var step = 0L
    val layoutNames = dirs.keys.toSeq
    val tracedWritten = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var tracedUserBytes = 0L

    /** One index call of a write, traced with its layout's files. */
    def write[T](name: String)(body: => T): T =
      tracer.call(name, dirs = Seq(dirs(name.takeWhile(_ != '.'))))(body)._1

    /** One mutation of all three indexes, timed as one operation. */
    def mutate(kind: String, userBytes: Long)(body: => Unit): Unit = {
      ctx.traceStep(kind, step)
      val n0 = tracer.spans.length
      val (_, ns) = tracer.call("op." + kind)(body)
      if (tracer.on) {
        tracedUserBytes += userBytes
        tracer.spans.iterator.drop(n0).foreach { sp =>
          val layer = sp.name.takeWhile(_ != '.')
          if (layoutNames.contains(layer)) tracedWritten(layer) += sp.bytesWritten
        }
      }
      tracer.on = false
      report.write(kind, ns)
      step += 1
    }

    def probe[T](kind: String)(body: => T): T = {
      ctx.traceStep("probe_" + kind, step)
      val (v, ns) = tracer.call("op.probe_" + kind)(body)
      tracer.on = false
      report.read("probe_" + kind, ns)
      step += 1
      v
    }

    /** Probe each index once with both docs: `in` is live and must be
      * found, `out` is gone and must never come back. */
    def probes(in: Doc, out: Doc): Unit = {
      report.guarded("Ann.ivfBqTopK") {
        val got = probe("ann") {
          val (idx, _) = tracer.call("Ann.ivfBqLoad")(Ann.ivfBqLoad(spark, annPath))
          tracer.call("Ann.ivfBqTopK") {
            Ann.ivfBqTopK(idx, Seq(("in", in.v), ("out", out.v)).toDF("qid", "qv"), "qid", "qv", K, NProbe)
              .select(col("qid"), col("rank"), col("id"), col("score")).as[(String, Int, String, Double)]
              .collect()
          }._1
        }
        def hits(qid: String) = got.filter(_._1 == qid).sortBy(_._2).map(h => (h._3, h._4))
        // scores come back rounded to 6 decimals
        def exact(q: Doc, hs: Seq[(String, Double)]) = hs.forall { case (id, s) =>
          live.get(id).exists(x =>
            math.abs(x.unitD.iterator.zip(q.unitD.iterator).map(p => p._1 * p._2).sum - s) <= 2e-6)
        }
        val (hin, hout) = (hits("in").toSeq, hits("out").toSeq)
        val top = hin.headOption.map(_._2).getOrElse(Double.NaN)
        report.check(exact(in, hin) && exact(out, hout) &&
          hin.exists { case (id, s) => id == in.id && Oracle.close(s, top) } &&
          !hout.exists(_._1 == out.id),
          s"ivfBqTopK in=${in.id} out=${out.id} got=${got.mkString(",")}")
      }
      report.guarded("InvertedIndex.bm25TopK") {
        // a doc's unique term also occurs in its exact duplicates, which
        // may outlive it: every live holder of either term matches
        val terms = Set(in.unique, out.unique)
        val holders = live.valuesIterator.filter(_.text.split(" ").exists(terms)).map(_.id).toSet
        val got = probe("bm25") {
          tracer.call("InvertedIndex.bm25TopK") {
            InvertedIndex.bm25TopK(spark, invPath, Seq(in.unique, out.unique), K)
              .select(col("id")).as[String].collect()
          }._1
        }
        // `in` is live and `out` gone, so this finds one and not the other
        report.check(got.toSet == holders && got.length == holders.size,
          s"bm25TopK ${in.unique} ${out.unique} got=${got.mkString(",")} want=${holders.mkString(",")}")
      }
      report.guarded("DedupIndex.candidates") {
        val got = probe("dedup") {
          tracer.call("DedupIndex.candidates") {
            DedupIndex.candidates(spark, dedupPath,
              Seq(("in", in.text), ("out", out.text)).toDF("id", "text"), "id", "text")
              .select(col("id_base")).as[String].collect()
          }._1
        }
        report.check(got.forall(live.contains) && got.contains(in.id) && !got.contains(out.id),
          s"candidates in=${in.id} out=${out.id} got=${got.mkString(",")}")
      }
    }

    /** One corpus step: an append batch, a delete batch, maintenance and
      * three probes. Every step has the same shape. */
    def cycle(): Unit = {
      steps += 1
      val ids = liveIds
      val batch = (0 until AppendDocs).map { _ =>
        appended += 1
        corpus.next(r, s"a$appended", () => Some(live(ids(r.nextInt(ids.length)))))
      }
      val gone = Gen.sample(r, ids.length, DeleteIds).map(i => live(ids(i)))
      val expected = batch.filter(d => textCount(d.text) == 0).map(_.id).toSet
      var accepted = Set.empty[String]
      report.guarded("append") {
        val batchDf = batch.map(d => (d.id, d.text, d.v)).toDF("id", "text", "v")
        var acc: org.apache.spark.sql.DataFrame = null
        mutate("append", batch.map(_.bytes).sum) {
          acc = write("DedupIndex.filterExact") {
            DedupIndex.filterExact(spark, dedupPath, batchDf, "text").localCheckpoint(true)
          }
          write("DedupIndex.append")(DedupIndex.append(acc, "id", "text", dedupPath))
          write("Ann.ivfBqAppendSave")(Ann.ivfBqAppendSave(spark, annPath, acc, "id", "v"))
          write("InvertedIndex.append")(InvertedIndex.append(spark, invPath, acc, "id", "text"))
        }
        accepted = acc.select("id").as[String].collect().toSet
        report.check(accepted == expected,
          s"filterExact kept ${accepted.size}, model ${expected.size}; " +
            s"${(accepted -- expected).size} unexpected, ${(expected -- accepted).size} missing")
      }
      batch.filter(d => accepted.contains(d.id)).foreach(add)
      report.guarded("delete") {
        val del = gone.map(_.id).toSeq
        mutate("delete", del.map(_.length.toLong).sum) {
          write("Ann.ivfBqDeleteSave")(Ann.ivfBqDeleteSave(spark, annPath, del))
          write("InvertedIndex.delete")(InvertedIndex.delete(spark, invPath, del))
          write("DedupIndex.delete")(DedupIndex.delete(spark, dedupPath, del))
        }
      }
      gone.foreach(d => remove(d.id))
      report.guarded("maintain") {
        mutate("maintain", 0L) {
          write("Ann.ivfBqMaintain")(Ann.ivfBqMaintain(spark, annPath, seed = seed))
          write("Ann.ivfBqCompactSave")(Ann.ivfBqCompactSave(spark, annPath))
          val (debt, _) = tracer.call("InvertedIndex.needsCompact") {
            InvertedIndex.needsCompact(spark, invPath, InvMaxTombstones)
          }
          if (debt || Files.count(Seq(s"$invPath/postings")) > 4 * InvBuckets)
            write("InvertedIndex.compact")(InvertedIndex.compact(spark, invPath))
          write("DedupIndex.compact")(DedupIndex.compact(spark, dedupPath))
        }
      }
      if (report.timed) rowsTouched += batch.length + gone.length
      val fresh = batch.filter(d => accepted.contains(d.id) && textCount(d.text) == 1)
      (0 until ProbeRounds).foreach(_ =>
        probes(fresh(r.nextInt(fresh.length)), gone(r.nextInt(gone.length))))
    }
    // warm the probe paths (not the writes: a step costs seconds) with a
    // doc of the initial corpus and one that was never written
    val ghost = corpus.next(r, "ghost", () => None)
    val unique = initial.filter(d => textCount(d.text) == 1)
    probes(unique(r.nextInt(unique.length)), ghost)
    Seq("append", "delete", "maintain").foreach(k => report.mix(k) = (1.0, false))
    Seq("ann", "bm25", "dedup").foreach(k => report.mix("probe_" + k) = (ProbeRounds.toDouble, true))
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
      val want = live.keySet.toSet
      val ann = Ann.ivfBqLoad(spark, annPath).lists.select(col("id").cast("string")).as[String].collect()
      report.check(ann.length == want.size && ann.toSet == want,
        s"Ann holds ${ann.length} rows, model ${want.size}")
      val nDocs = InvertedIndex.describe(spark, invPath).select("n_docs").as[Long].head()
      report.check(nDocs == want.size, s"InvertedIndex n_docs $nDocs, model ${want.size}")
      val hashes = spark.read.parquet(s"$dedupPath/hashes").select(col("id").cast("string")).as[String].collect()
      report.check(hashes.length == want.size && hashes.toSet == want,
        s"DedupIndex holds ${hashes.length} hashes, model ${want.size}")
    }
    val liveBytes = live.valuesIterator.map(_.bytes).sum.toDouble
    report.spaceAmp = Files.bytes(dirs.values.toSeq) / liveBytes
    report.info ++= Seq("docs" -> Docs, "dim" -> Dim, "clusters" -> Clusters, "vocab" -> Vocab,
      "nlists" -> NLists, "nprobe" -> NProbe, "inv_buckets" -> InvBuckets, "setup_reps" -> ctx.setupReps,
      "schedule" -> s"every step: append $AppendDocs docs (filterExact gate), delete $DeleteIds ids, maintenance, $ProbeRounds rounds of 3 probes",
      "steps" -> steps, "ingest_rows_per_s" -> rowsTouched / wallS, "live_docs" -> live.size) ++
      report.kindInfo
    dirs.foreach { case (layer, d) =>
      report.layers ++= Seq(
        s"$layer.write_amp" -> (if (tracedUserBytes > 0) tracedWritten(layer).toDouble / tracedUserBytes else 0.0),
        s"$layer.files" -> Files.count(Seq(d)).toDouble,
        s"$layer.bytes" -> Files.bytes(Seq(d)).toDouble)
    }
    report.layers ++= Seq("jvm.gc_count" -> (gcN1 - gcN0).toDouble, "jvm.gc_pause_ms" -> (gcT1 - gcT0).toDouble)
    dirs.values.foreach(d => Files.deleteTree(new File(d)))
  }
}
