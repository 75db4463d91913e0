package graftbench

/** Minimal JSON writer/reader for the benchmark's records. */
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

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: BigDecimal => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  /** Parse a JSON object of objects of strings (the expected-fingerprint file). */
  def readNested(text: String): Map[String, Map[String, String]] = {
    import scala.jdk.CollectionConverters._
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(text, classOf[java.util.Map[String, java.util.Map[String, String]]])
    m.asScala.map { case (k, v) => k -> v.asScala.toMap }.toMap
  }
}
