package varbench

import java.util.Locale

/** Minimal JSON writer for the benchmark's own records. Numbers go
  * through [[num]], which never consults the default locale: a record
  * written under `de_DE` still parses as JSON.
  */
object Json {
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    if (v == math.rint(v) && math.abs(v) < 1e15) java.lang.Long.toString(v.toLong)
    else java.lang.Double.toString(v)
  }

  def str(s: String): String = {
    val sb = new java.lang.StringBuilder
    J.writeStr(s, sb, asciiOnly = true)
    sb.toString
  }

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ", ", "]")

  /** Fixed-point text with the ROOT locale, for human-facing lines. */
  def fixed(v: Double, digits: Int): String = String.format(Locale.ROOT, s"%.${digits}f", Double.box(v))
}

final case class Metric(name: String, value: Double, unit: String)

/** The last line a run prints: exactly `correct`, `attempted`, `failed`
  * and `metrics`.
  */
final case class Result(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[Metric]) {
  def toJson: String = Json.obj(Seq(
    "correct" -> correct.toString,
    "attempted" -> attempted.toString,
    "failed" -> failed.toString,
    "metrics" -> Json.obj(metrics.map(m =>
      m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))))))
}

/** Sample statistics. An empty sample (every op failed) reads 0; such a
  * run's record is marked incorrect.
  */
object Stats {
  /** Nearest-rank percentile, q in 0..1. */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}
