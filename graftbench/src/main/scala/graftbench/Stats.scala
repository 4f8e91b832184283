package graftbench

import java.io.File

object Stats {
  /** Linearly interpolated percentile (p in 0..100); 0 for no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * p / 100.0
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  def filesUnder(dir: File): Seq[File] =
    Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap { f =>
      if (f.isDirectory) filesUnder(f) else Seq(f)
    }

  /** The table a data file under warehouse `root` belongs to:
    * `<collection>/documents` or `<collection>/<pipeline>/<table>`. */
  def tableDir(f: File, root: File): String = {
    val parts = root.toPath.relativize(f.getParentFile.toPath).toString.split(File.separatorChar)
    parts.take(if (parts.length >= 3 && parts(1) != "documents") 3 else 2).mkString("/")
  }
}
