package perfbench

import java.io.File

object Util {
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def nowMs(): Double = System.nanoTime() / 1e6

  /** Nearest-rank quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** One op position's figure over the measured passes. */
  final case class OpFigure(key: String, name: String, kind: String, ms: Double)

  /** The best (lowest) time of each op position across the measured
    * passes. An op is keyed by its name and its occurrence within the pass
    * (the second poll of a day is `stock_poll#2`), so every pass
    * contributes one sample per key; taking the best sample keeps a
    * transient stall of the shared host out of the figure.
    */
  def perOpBest(recs: Seq[OpRec]): Seq[OpFigure] =
    recs.groupBy(_.pass).toSeq.flatMap { case (_, ops) =>
      ops.sortBy(_.seq).groupBy(_.name).toSeq.flatMap { case (n, os) =>
        os.zipWithIndex.map { case (o, i) => (s"$n#${i + 1}", o) }
      }
    }.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, kos) =>
      val o = kos.head._2
      OpFigure(k, o.name, o.kind, kos.map(_._2.ms).min)
    }

  /** (bytes, files) of the regular files under `f`, recursively. */
  def du(f: File): (Long, Long) =
    if (!f.exists()) (0L, 0L)
    else if (f.isFile) (f.length(), 1L)
    else Option(f.listFiles()).toSeq.flatten.map(du)
      .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }

  /** Minimal JSON rendering for the benchmark's own output. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case p: Product if p.productArity == 0 => json(p.toString)
    case other => json(other.toString)
  }
}
