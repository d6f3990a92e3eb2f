package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Minimal JSON writer for the benchmark's own records. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

/** Order statistics used for every reported timing. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Quartiles as Python's `statistics.quantiles(xs, n=4)` (exclusive). */
  def quartiles(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n < 2) (s.headOption.getOrElse(Double.NaN), s.headOption.getOrElse(Double.NaN))
    else {
      def q(i: Int): Double = {
        val m = n + 1
        val j = math.max(1, math.min(n - 1, i * m / 4))
        val delta = i * m - j * 4
        (s(j - 1) * (4 - delta) + s(j) * delta) / 4.0
      }
      (q(1), q(3))
    }
  }

  def iqr(xs: Seq[Double]): Double = { val (a, b) = quartiles(xs); b - a }

  /** The highest percentile with at least ten samples beyond it, and its
    * label. Below twenty samples that percentile would not exceed the
    * median, so the maximum is reported instead, labelled as such. */
  def tail(xs: Seq[Double]): (Double, String) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (Double.NaN, "none")
    else if (n < 20) (s.last, s"max of $n")
    else (s(n - 11), f"p${100.0 * (n - 10) / n}%.1f of $n")
  }
}

object Fs {
  private def files(root: String): Seq[Path] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Nil
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally st.close()
    }
  }

  /** The entries of one directory. */
  def list(dir: String): Seq[Path] = {
    val st = Files.list(Paths.get(dir))
    try st.iterator().asScala.toList
    finally st.close()
  }

  def bytes(roots: String*): Long = roots.flatMap(files).map(Files.size).sum
  def count(roots: String*): Long = roots.flatMap(files).size.toLong

  def deleteTree(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
      finally st.close()
    }
  }
}
