package perfbench

import scala.collection.mutable

/** Minimal JSON text building for the raw record the runner reads. */
object Json {
  def str(s: String): String = graft.core.CanonicalJson.quote(s)
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def num(n: Long): String = n.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def nums(xs: Iterable[Double]): String = arr(xs.map(num))
}

/** SplitMix64: the bench's only source of generated inputs, so one seed
  * always yields the same byte sequence.
  */
final class Rng(seed: Long) {
  private var s = seed
  def next(): Long = {
    s += 0x9e3779b97f4a7c15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def uniform(): Double = (next() >>> 11) * (1.0 / (1L << 53))
  def below(n: Int): Int = java.lang.Long.remainderUnsigned(next(), n.toLong).toInt
  def hex(): String = java.lang.Long.toHexString(next())
}

/** Zipf(s) over ranks 0 until n by inverse-CDF lookup. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
  }
  def sample(r: Rng): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.uniform())
    (if (i >= 0) i else -i - 1) min (n - 1)
  }
}

/** What a workload run measured: latency samples per operation kind,
  * work units done in the window, and the output checks. A failed check
  * or a thrown exception counts as a failed operation; neither becomes a
  * timing sample.
  */
final class Outcome {
  val latMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var units = 0L
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val values = mutable.LinkedHashMap.empty[String, Double]
  val series = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** While false (warm-up), operations are still checked but not timed. */
  var timing = true

  def sample(kind: String, ms: Double): Unit =
    latMs.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
  def add(name: String, v: Double): Unit =
    series.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def fail(what: String): Unit = {
    failed += 1
    if (failures.length < 20) failures += what
  }

  /** Run one timed operation; `check` returns None when the output is right. */
  def op[T](kind: String)(body: => T)(check: T => Option[String]): Unit = {
    attempted += 1
    val t = System.nanoTime()
    val r = try Right(body) catch { case e: Exception => Left(e) }
    val ms = (System.nanoTime() - t) / 1e6
    r match {
      case Left(e) => fail(s"$kind threw $e")
      case Right(v) => check(v) match {
        case Some(why) => fail(s"$kind: $why")
        case None      => if (timing) sample(kind, ms)
      }
    }
  }

  def json: String = Json.obj(
    "lat_ms" -> Json.obj(latMs.toSeq.map { case (k, v) => k -> Json.nums(v) }: _*),
    "units" -> Json.num(units),
    "attempted" -> Json.num(attempted),
    "failed" -> Json.num(failed),
    "failures" -> Json.arr(failures.map(Json.str)),
    "values" -> Json.obj(values.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
    "series" -> Json.obj(series.toSeq.map { case (k, v) => k -> Json.nums(v) }: _*))
}
