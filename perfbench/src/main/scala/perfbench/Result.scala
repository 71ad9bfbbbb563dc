package perfbench

import scala.collection.mutable

/** What one run measured and whether its outputs were right. Written as
  * one JSON object to the result file; the runner turns it into the
  * benchmark's result line. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val evidence = mutable.LinkedHashMap.empty[String, String]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  def perLayer(name: String, v: Double, unit: String): Unit = layer(name) = (v, unit)
  def fail(msg: String): Unit = synchronized { errors += msg; () }
  def check(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)

  def toJson: String = {
    def m(x: mutable.LinkedHashMap[String, (Double, String)]) =
      Json.obj(x.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })
    Json.obj(Seq(
      "correct" -> errors.isEmpty.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "errors" -> Json.arr(errors.toSeq.map(Json.str)),
      "metrics" -> m(metrics),
      "per_layer" -> m(layer),
      "evidence" -> Json.obj(evidence.toSeq.map { case (k, v) => k -> Json.str(v) })))
  }
}

object Stats {
  /** Linear-interpolated percentile, q in [0, 100]. */
  def pct(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = (s.size - 1) * q / 100.0
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: collection.Seq[Double]): Double = pct(xs, 50)
  def geomean(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  /** Peak resident set size of this JVM, MiB (VmHWM). */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)

  /** Median time of sorting a fixed array of 2^19 seeded longs, five
    * times: a host-speed probe independent of the engine. */
  def cpuProbeMs(): Double = {
    val r = new scala.util.Random(1)
    val base = Array.fill(1 << 19)(r.nextLong())
    median((0 until 5).map { _ =>
      val a = base.clone()
      val t0 = System.nanoTime()
      java.util.Arrays.sort(a)
      (System.nanoTime() - t0) / 1e6
    })
  }

  def loadAvg1: String =
    scala.util.Try(scala.io.Source.fromFile("/proc/loadavg").mkString
      .split(" ")(0)).getOrElse("unknown")
}
