package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Row count plus an order-insensitive hash of a result set. */
final case class Digest(rows: Long, hash: String) {
  override def toString: String = s"$rows:$hash"
}

object Digest {
  /** Digest of result rows: columns are taken in name order and every value
    * is rendered exactly (doubles by their shortest round-trip form), so two
    * results agree iff they hold the same multiset of rows. */
  def of(schema: StructType, rows: Iterable[Row]): Digest = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    ofValues(rows.map(r => order.toSeq.map(i => r.get(i))))
  }

  /** Digest of rows given as values already in column-name order. */
  def ofValues(rows: Iterable[Seq[Any]]): Digest = {
    val lines = rows.map(_.map(render).mkString("|")).toArray
    java.util.Arrays.sort(lines.asInstanceOf[Array[AnyRef]])
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    Digest(lines.length, md.digest().take(12).map("%02x".format(_)).mkString)
  }

  def parse(s: String): Digest = {
    val Array(n, h) = s.split(":", 2)
    Digest(n.toLong, h)
  }

  private def render(v: Any): String = v match {
    case null => "null"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }
}

/** Just enough JSON for the benchmark's own output. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
