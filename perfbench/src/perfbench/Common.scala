package perfbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Minimal JSON rendering for the result and span lines. */
object Json {
  private def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}

object Stats {
  /** Linear-interpolated quantile, `p` in [0, 1]. */
  def quantile(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) return Double.NaN
    val pos = (s.length - 1) * p
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}

/** Seeded generators. The engine only ever sees what these produce. */
object Gen {
  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (salt * 0xC2B2AE3D27D4EB4FL))

  /** Isotropic Gaussian mixture: `k` centres drawn from N(0, I), points
    * drawn around a centre with per-coordinate deviation `spread`. */
  final class Mixture(seed: Long, val dim: Int, val k: Int, val spread: Double)
      extends Serializable {
    val centers: Array[Array[Float]] = {
      val r = rng(seed, 101)
      Array.fill(k)(Array.fill(dim)(r.nextGaussian().toFloat))
    }
    def draw(r: SplittableRandom, c: Int): Array[Float] = {
      val ctr = centers(c)
      Array.tabulate(dim)(i => (ctr(i) + spread * r.nextGaussian()).toFloat)
    }
    def draw(r: SplittableRandom): Array[Float] = draw(r, r.nextInt(k))
  }

  /** `n` distinct indices from [0, bound), in draw order. */
  def sample(r: SplittableRandom, bound: Int, n: Int): Array[Int] = {
    val seen = mutable.LinkedHashSet.empty[Int]
    while (seen.size < math.min(n, bound)) seen += r.nextInt(bound)
    seen.toArray
  }
}

/** The benchmark's own exact arithmetic. It shares no code with the
  * engine: normalisation and scoring are written out here. */
object Oracle {
  val Eps = 1e-6

  def unitD(v: Array[Float]): Array[Double] = {
    var ss = 0.0
    var i = 0
    while (i < v.length) { ss += v(i).toDouble * v(i).toDouble; i += 1 }
    val n = math.sqrt(ss)
    v.map(_.toDouble / n)
  }

  /** The stored form of an ingested vector: unit length, as floats. */
  def unit(v: Array[Float]): Array[Float] = unitD(v).map(_.toFloat)

  def dot(m: Array[Float], off: Int, q: Array[Double], d: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < d) { s += m(off + i).toDouble * q(i); i += 1 }
    s
  }

  /** The best `k` of `n` candidates by (score desc, id asc), among those
    * `keep` accepts. */
  def topK(n: Int, k: Int, score: Int => Double, id: Int => String,
      keep: Int => Boolean = _ => true): Array[(Int, Double)] = {
    val worstFirst = Ordering.fromLessThan[(Int, Double)] { (a, b) =>
      if (a._2 != b._2) a._2 > b._2 else id(a._1) < id(b._1)
    }
    val heap = mutable.PriorityQueue.empty[(Int, Double)](worstFirst)
    var i = 0
    while (i < n) {
      if (keep(i)) {
        val e = (i, score(i))
        if (heap.size < k) heap.enqueue(e)
        else if (worstFirst.compare(e, heap.head) < 0) { heap.dequeue(); heap.enqueue(e) }
      }
      i += 1
    }
    heap.toArray.sorted(worstFirst)
  }

  def close(a: Double, b: Double): Boolean = math.abs(a - b) <= Eps

  /** An exact top-k answer: the oracle's scores rank for rank (ties may
    * swap ids), each id's own exact score, no repeats, and every id
    * allowed. */
  def exactMatches(got: Seq[(String, Double)], want: Seq[Double],
      trueScore: String => Option[Double], allowed: String => Boolean): Boolean =
    got.length == want.length &&
      got.zip(want).forall { case ((_, s), w) => close(s, w) } &&
      got.map(_._1).distinct.length == got.length &&
      got.forall { case (id, s) => allowed(id) && trueScore(id).exists(close(_, s)) }
}

/** Counts attempts and failed checks, and keeps the samples a workload
  * reports. A check that fails is logged (up to a limit) and counted. */
final class Report(val workload: String) {
  var attempted = 0L
  var failed = 0L
  private var logged = 0
  /** False during warm-up: operations are checked but not sampled. */
  var timed = false
  val reads = ArrayBuffer.empty[Double] // ms
  val writes = ArrayBuffer.empty[Double] // ms
  val byKind = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val setups = ArrayBuffer.empty[Double] // s

  def read(kind: String, ns: Long): Unit = sample(reads, kind, ns)
  def write(kind: String, ns: Long): Unit = sample(writes, kind, ns)
  private def sample(all: ArrayBuffer[Double], kind: String, ns: Long): Unit =
    if (timed) {
      all += ns / 1e6
      byKind.getOrElseUpdate(kind, ArrayBuffer.empty) += ns / 1e6
    }

  /** Sample count and median latency of every kind of operation. */
  def kindInfo: Seq[(String, Any)] = byKind.toSeq.flatMap { case (k, xs) =>
    Seq(s"${k}_n" -> xs.size, s"${k}_p50_ms" -> Stats.median(xs))
  }
  var spaceAmp = Double.NaN
  val info = mutable.LinkedHashMap.empty[String, Any]
  val layers = mutable.LinkedHashMap.empty[String, Double]

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (logged < 20) { logged += 1; System.err.println(s"CHECK FAILED [$workload]: $what") }
    }
  }

  /** Run one operation; an exception counts as a failed attempt. */
  def guarded(what: String)(body: => Unit): Unit =
    try body catch {
      case scala.util.control.NonFatal(e) =>
        check(ok = false, s"$what threw ${e.getClass.getName}: ${e.getMessage}")
        if (logged <= 3) e.printStackTrace()
    }

  /** The workload's operation mix: how many operations of each kind one
    * cycle of its closed loop sends, and whether the kind is a read. */
  val mix = mutable.LinkedHashMap.empty[String, (Double, Boolean)]

  /** End-to-end metrics. Latencies enter as each kind's median, weighted
    * by the mix, so a run's figure depends neither on where the clock
    * stopped in a cycle nor on a stray slow call. */
  def endToEnd: Seq[(String, Double)] = {
    def weighted(kinds: Iterable[(String, (Double, Boolean))]): (Double, Double) =
      kinds.foldLeft((0.0, 0.0)) { case ((w, t), (k, (n, _))) =>
        (w + n, t + n * Stats.median(byKind.getOrElse(k, Nil)))
      }
    val (rw, rt) = weighted(mix.filter(_._2._2))
    val (aw, at) = weighted(mix)
    Seq(
      "setup_s" -> Stats.median(setups),
      "read_ms" -> rt / rw,
      "ops_per_s" -> 1000.0 * aw / at,
      "space_amp" -> spaceAmp)
  }
}

/** Everything a workload needs from the command line and the session. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val trace: Boolean, val work: java.io.File, val tracer: Tracer, val report: Report) {
  val cpus: Int = spark.sparkContext.defaultParallelism
  def dir(name: String): String = new java.io.File(work, name).getAbsolutePath

  /** Number of set-ups per run; `setup_s` is their median. */
  val setupReps = 3

  /** In a traced run, trace every other operation of each kind, so the
    * overhead of tracing is measured on the same mix of operations. */
  private val kindCount = mutable.Map.empty[String, Long].withDefaultValue(0L)
  def traceStep(kind: String, step: Long): Unit = {
    tracer.request = step
    tracer.on = trace && report.timed && kindCount(kind) % 2 == 0
    if (report.timed) kindCount(kind) += 1
  }

  private val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
  def gcTotals: (Long, Long) = {
    var n = 0L
    var t = 0L
    gc.forEach { b => n += math.max(0L, b.getCollectionCount); t += math.max(0L, b.getCollectionTime) }
    (n, t)
  }

  /** Log a phase of the run to stderr, with seconds since the JVM started. */
  def phase(what: String): Unit = System.err.println(
    f"perfbench: ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s $what")

  /** Closed-loop timer for the measured phase. */
  private var deadline = 0L
  def startClock(): Unit = {
    phase("measuring")
    report.timed = true
    deadline = System.nanoTime() + seconds * 1000000000L
  }
  private var cycles = 0
  /** Whether to run another cycle. A traced run runs at least two, so
    * that every kind has a traced and an untraced operation. */
  def timeLeft: Boolean = {
    cycles += 1
    System.nanoTime() < deadline || (trace && cycles <= 2)
  }
}
