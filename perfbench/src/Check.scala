package perfbench

import org.apache.spark.sql.Row

/** Order-insensitive output fingerprints and the per-entry reference.
  *
  * A result's fingerprint is the wrapping sum of one 64-bit hash per
  * row, so row order does not matter but row multiplicity does. Floating
  * values are rounded to 9 significant digits first: the entries round
  * their float outputs to 4 decimals, and the extra digits would only
  * expose last-bit summation-order noise.
  */
object Check {
  private val ctx = new java.math.MathContext(9)

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(ctx).stripTrailingZeros.toString

  def canon(v: Any): String = v match {
    case null                          => "∅"
    case d: Double                     => num(d)
    case f: Float                      => num(f.toDouble)
    case b: java.math.BigDecimal       => b.stripTrailingZeros.toString
    case b: Array[Byte]                => b.map("%02x".format(_)).mkString
    case r: Row                        => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_]    => s.map(canon).mkString("[", ",", "]")
    case other                         => other.toString
  }

  def fingerprint(rows: Array[Row]): String = {
    var acc = 0L
    rows.foreach { r =>
      val md = java.security.MessageDigest.getInstance("MD5").digest(canon(r).getBytes("UTF-8"))
      acc += java.nio.ByteBuffer.wrap(md, 0, 8).getLong
    }
    f"$acc%016x"
  }

  /** name -> (rows, fingerprint), from `reference.tsv`. */
  def loadReference(path: String): Map[String, (Long, String)] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(name, rows, fp) = l.split("\t")
      name -> (rows.toLong, fp)
    }.toMap
    finally src.close()
  }

  def writeReference(path: String, entries: Seq[(String, Long, String)]): Unit = {
    val body = entries.sortBy(_._1).map { case (n, r, f) => s"$n\t$r\t$f" }
    val header = "# entry\trows\tfingerprint (perfbench.Check) on the Gen.tables dataset"
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (header +: body).mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
