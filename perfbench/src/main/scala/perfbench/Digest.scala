package perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive digest of a query result: columns sorted by name, each
  * row rendered exactly (doubles by their shortest exact repr), rows sorted,
  * SHA-256 over the lines. Two runs agree on the digest iff they return the
  * same multiset of rows, which is the property the DuckDB oracle checks. */
object Digest {
  def of(df: DataFrame): String = ofRows(df.schema.fieldNames.toSeq, df.collect().toSeq)

  def ofRows(columns: Seq[String], rows: Seq[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val header = order.map(columns).mkString("\u0001")
    val lines = rows.map(r => order.map(i => render(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(header.getBytes("UTF-8"))
    lines.foreach { l => md.update("\n".getBytes("UTF-8")); md.update(l.getBytes("UTF-8")) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def render(v: Any): String = v match {
    case null                    => "\u0000null"
    case d: Double               => java.lang.Double.toString(d)
    case f: Float                => java.lang.Float.toString(f)
    case b: Array[Byte]          => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case r: Row                  => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other                   => other.toString
  }
}
