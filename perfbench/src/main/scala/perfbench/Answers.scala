package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** A pinned answer: the reply's row count, an order-sensitive digest of
  * its canonical form, and the request's wall time when it was pinned
  * (used only to cut the catalog walk's cost strata). */
final case class Answer(rows: Int, digest: String, pinMs: Double)

/** Canonical digests of decoded replies, and the pinned-answer file.
  *
  * A decoded reply is a vector of rows; each row is a field-name map
  * (`MsgPack.rowToValue`). The canonical form keeps row order, sorts
  * map entries by their canonical key, and prints doubles with 12
  * significant digits: the queries round order-sensitive float
  * reductions, but a last-bit difference from summation order must not
  * read as a wrong answer.
  */
object Answers {

  def rows(reply: Any): Int = reply match {
    case v: Seq[_] => v.length
    case _ => -1
  }

  def digest(reply: Any): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = md.update(s.getBytes(UTF_8))
    def walk(v: Any): Unit = v match {
      case null => put("N;")
      case b: Boolean => put(if (b) "T;" else "F;")
      case l: Long => put(s"L$l;")
      case d: Double => put(s"D${double(d)};")
      case s: String => put(s"S${s.length}:"); put(s); put(";")
      case b: Array[Byte] => put(s"B${b.length}:"); md.update(b); put(";")
      case m: scala.collection.Map[_, _] =>
        put(s"M${m.size}{")
        m.toVector.map { case (k, x) => (String.valueOf(k), x) }.sortBy(_._1).foreach {
          case (k, x) => put(s"S${k.length}:"); put(k); put("="); walk(x)
        }
        put("}")
      case s: Seq[_] => put(s"A${s.length}["); s.foreach(walk); put("]")
      case other => put(s"?${other.getClass.getName}:$other;")
    }
    walk(reply)
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def double(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d)
      .round(new java.math.MathContext(12)).stripTrailingZeros.toString

  /** Pinned answers, keyed by (scale factor, query). One tab-separated
    * line each: `sf  query  rows  digest  pin_ms`. */
  def load(path: java.nio.file.Path): Map[(String, String), Answer] =
    if (!java.nio.file.Files.exists(path)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(path, UTF_8).asScala
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l =>
          val Array(sf, q, n, d, ms) = l.split('\t')
          (sf, q) -> Answer(n.toInt, d, ms.toDouble)
        }.toMap
    }

  def save(path: java.nio.file.Path, answers: Map[(String, String), Answer]): Unit = {
    val body = answers.toSeq.sortBy(_._1).map { case ((sf, q), a) =>
      s"$sf\t$q\t${a.rows}\t${a.digest}\t${math.round(a.pinMs)}"
    }
    val header = "# sf\tquery\trows\tsha256 of the canonical decoded reply\tpin_ms"
    java.nio.file.Files.write(path, (header +: body).mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
