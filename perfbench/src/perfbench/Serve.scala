package perfbench

import graft.operators._

/** `serve`: the reference's own configuration (a flat 1024-d f32 corpus,
  * top-10 cosine) served from the three in-process replicas. The timed
  * loop runs no Spark job at all, so the serving kernels do the work. */
object Serve {
  val Rows = 10000
  val Dim = 1024
  val Clusters = 32
  val Spread = 0.6
  val K = 10
  val Templates = 128
  val Cats = 16
  val Years = 25
  /** Metadata predicate: `cat = c AND year < YearCut` keeps ~5% of rows. */
  val YearCut = 2020

  def id(i: Int): String = "d" + i

  /** Row `i` of the corpus: raw vector, `cat`, `year`. Keyed by (seed,
    * row), so the executors and the oracle draw the same rows. */
  def row(mix: Gen.Mixture, seed: Long, i: Long): (Array[Float], Int, Int) = {
    val r = Gen.rng(seed, 1000000L + i)
    (mix.draw(r), r.nextInt(Cats), 2000 + r.nextInt(Years))
  }

  def run(ctx: Ctx): Unit = {
    import ctx.{spark, report, tracer}
    val seed = ctx.seed
    val mix = new Gen.Mixture(seed, Dim, Clusters, Spread)
    val n = Rows
    // ---- generated input (not timed): the executors draw the same rows
    // the oracle draws below, keyed by (seed, row)
    import spark.implicits._
    val mixB = spark.sparkContext.broadcast(mix)
    val raw = spark.range(0, n, 1, ctx.cpus).mapPartitions { it =>
      val m = mixB.value
      it.map { i =>
        val (v, c, y) = row(m, seed, i)
        (id(i.toInt), v, c, y)
      }
    }.toDF("id", "vec", "cat", "year").cache()
    raw.count()

    val flat = new Array[Float](n * Dim)
    val cat = new Array[Int](n)
    val year = new Array[Int](n)
    java.util.stream.IntStream.range(0, n).parallel().forEach { i =>
      val (v, c, y) = row(mix, seed, i)
      System.arraycopy(Oracle.unit(v), 0, flat, i * Dim, Dim)
      cat(i) = c
      year(i) = y
    }
    def rowOf(s: String): Option[Int] =
      if (s.startsWith("d")) s.drop(1).toIntOption.filter(i => i >= 0 && i < n) else None
    def allowedRow(c: Int)(i: Int): Boolean = cat(i) == c && year(i) < YearCut
    val allowed: Array[Set[String]] =
      Array.tabulate(Cats)(c => (0 until n).filter(allowedRow(c)).map(id).toSet)

    // ---- request templates and their oracle answers (not timed)
    final class Template(val q: Array[Float], val cat: Int,
        val plain: Array[(Int, Double)], val thr: Double, val withThr: Array[(Int, Double)],
        val filtered: Array[(Int, Double)])
    val templates = new Array[Template](Templates)
    java.util.stream.IntStream.range(0, Templates).parallel().forEach { t =>
      val r = Gen.rng(seed, 2000000L + t)
      val q = mix.draw(r)
      val c = r.nextInt(Cats)
      val qn = Oracle.unitD(q)
      val scores = Array.tabulate(n)(i => Oracle.dot(flat, i * Dim, qn, Dim))
      val plain = Oracle.topK(n, K, scores(_), id)
      // a threshold between the 6th and 7th best keeps 6 rows
      val thr = (plain(5)._2 + plain(6)._2) / 2
      templates(t) = new Template(q, c, plain, thr, plain.filter(_._2 >= thr),
        Oracle.topK(n, K, scores(_), id, allowedRow(c)))
    }
    def trueScore(q: Array[Float])(s: String): Option[Double] = {
      val qn = Oracle.unitD(q)
      rowOf(s).map(i => Oracle.dot(flat, i * Dim, qn, Dim))
    }

    ctx.phase("set-up")
    // ---- set-up: ingest, cache, save, load, three replicas
    var replicas: (LocalMatrixStore, LocalQuantizedMatrixStore, LocalBinaryMatrixStore) = null
    var storeDir = ""
    val elems = n.toLong * Dim
    for (rep <- 0 until ctx.setupReps) {
      tracer.request = -(rep + 1L)
      tracer.on = ctx.trace
      val path = ctx.dir(s"serve-store-$rep")
      val t0 = System.nanoTime()
      val (store, _) = tracer.call("VectorStore.fromDataFrame") {
        val st = VectorStore.fromDataFrame(raw, "id", "vec", Dim)
        val cached = st.copy(df = st.df.cache())
        cached.df.count()
        cached
      }
      tracer.call("VectorStore.save")(store.save(path))
      val (loaded, _) = tracer.call("VectorStore.load")(VectorStore.load(spark, path))
      val (mx, _) = tracer.call("MatrixStore.fromStore")(MatrixStore.fromStore(loaded))
      val (local, _) = tracer.call("MatrixStore.toLocal")(mx.toLocal())
      val (qmx, _) = tracer.call("QuantizedMatrixStore.fromStore")(QuantizedMatrixStore.fromStore(loaded))
      val (qlocal, _) = tracer.call("QuantizedMatrixStore.toLocal")(qmx.toLocal())
      val (bmx, _) = tracer.call("BinaryMatrixStore.fromStore")(BinaryMatrixStore.fromStore(loaded))
      val (blocal, _) = tracer.call("BinaryMatrixStore.toLocal")(bmx.toLocal())
      report.setups += (System.nanoTime() - t0) / 1e9
      tracer.on = false
      mx.unpersist(blocking = true)
      qmx.unpersist(blocking = true)
      bmx.unpersist(blocking = true)
      store.df.unpersist(blocking = true)
      if (replicas != null) Files.deleteTree(new java.io.File(storeDir))
      replicas = (local, qlocal, blocal)
      storeDir = path
    }
    raw.unpersist(blocking = true)
    val (local, qlocal, blocal) = replicas
    report.check(local.nRows == n && qlocal.nRows == n && blocal.nRows == n,
      s"replica rows ${local.nRows}/${qlocal.nRows}/${blocal.nRows} != $n")

    // ---- timed closed loop: one client, seeded request stream
    val names = Array("LocalMatrixStore.query", "LocalQuantizedMatrixStore.query",
      "LocalBinaryMatrixStore.query")
    val recall = Array.fill(3)(scala.collection.mutable.ArrayBuffer.empty[Double])
    val stream = Gen.rng(seed, 3)
    def serveOne(step: Long): Unit = {
      val tpl = templates(stream.nextInt(Templates))
      val tier = stream.nextInt(3)
      val u = stream.nextDouble()
      ctx.traceStep(names(tier), step)
      report.guarded(names(tier)) {
        val (got, ns) = tier match {
          case 0 if u < 0.2 =>
            tracer.call(names(0), elems)(local.query(tpl.q, K, betterThan = Some(tpl.thr)))
          case 0 if u < 0.4 =>
            tracer.call(names(0), elems)(local.query(tpl.q, K, allowedIds = Some(allowed(tpl.cat))))
          case 0 => tracer.call(names(0), elems)(local.query(tpl.q, K))
          case 1 => tracer.call(names(1), elems)(qlocal.query(tpl.q, K))
          case _ => tracer.call(names(2), elems)(blocal.query(tpl.q, K))
        }
        tracer.on = false
        report.read(names(tier), ns)
        val exact = trueScore(tpl.q) _
        val ok = tier match {
          case 0 if u < 0.2 =>
            Oracle.exactMatches(got.toSeq, tpl.withThr.map(_._2).toSeq, exact, _ => true) &&
              got.forall(_._2 >= tpl.thr)
          case 0 if u < 0.4 =>
            Oracle.exactMatches(got.toSeq, tpl.filtered.map(_._2).toSeq, exact,
              s => allowed(tpl.cat).contains(s))
          case 0 => Oracle.exactMatches(got.toSeq, tpl.plain.map(_._2).toSeq, exact, _ => true)
          case _ =>
            // approximate nomination, exact rerank: every score is the
            // id's exact score, best first, no repeats
            val kth = tpl.plain.last._2
            if (report.timed)
              recall(tier) += got.count(g => exact(g._1).exists(_ >= kth - Oracle.Eps)).toDouble / K
            got.length == K && got.map(_._1).distinct.length == K &&
              got.forall { case (s, sc) => exact(s).exists(Oracle.close(_, sc)) } &&
              got.map(_._2).sliding(2).forall(p => p.length < 2 || p(0) >= p(1))
        }
        report.check(ok, s"${names(tier)} step $step tier=$tier u=$u got=${got.mkString(",")}")
      }
    }
    names.foreach(n => report.mix(n) = (1.0, true))
    // JIT warm-up on every tier before the clock starts
    (0 until 60).foreach(i => serveOne(-1L - i))
    val (gcN0, gcT0) = ctx.gcTotals
    ctx.startClock()
    var step = 0L
    while (ctx.timeLeft) { serveOne(step); step += 1 }
    val (gcN1, gcT1) = ctx.gcTotals

    report.spaceAmp = Files.bytes(Seq(storeDir)).toDouble / (n.toLong * (id(n).length + 4L * Dim + 8L))
    report.info ++= Seq("rows" -> n, "dim" -> Dim, "clusters" -> Clusters, "k" -> K,
      "templates" -> Templates, "setup_reps" -> ctx.setupReps, "requests" -> step,
      "int8_recall_at_10" -> Stats.mean(recall(1)), "bq_recall_at_10" -> Stats.mean(recall(2)),
      "mix" -> "f32/int8/bq uniform; f32: 20% betterThan, 20% allowedIds (~5% of rows)") ++
      report.kindInfo ++
      names.toSeq.flatMap(k => Seq(s"${k}_p90_ms" -> Stats.quantile(report.byKind(k), 0.9),
        s"${k}_p99_ms" -> Stats.quantile(report.byKind(k), 0.99)))
    report.layers ++= Seq(
      "LocalQuantizedMatrixStore.query.recall_at_10" -> Stats.mean(recall(1)),
      "LocalBinaryMatrixStore.query.recall_at_10" -> Stats.mean(recall(2)),
      "jvm.gc_count" -> (gcN1 - gcN0).toDouble,
      "jvm.gc_pause_ms" -> (gcT1 - gcT0).toDouble)
    Files.deleteTree(new java.io.File(storeDir))
  }
}
