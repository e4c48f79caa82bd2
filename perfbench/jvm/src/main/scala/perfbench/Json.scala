package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

/** Minimal JSON for the harness's own files: render nested Scala values,
  * read back flat `"key": number` fields, write atomically.
  */
object Json {

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** A numeric top-level field of a flat JSON object, if present. */
  def number(text: String, key: String): Option[Double] =
    ("\"" + java.util.regex.Pattern.quote(key) + "\"\\s*:\\s*(-?[0-9][0-9.eE+-]*)").r
      .findFirstMatchIn(text).map(_.group(1).toDouble)

  def write(path: Path, v: Any): Unit = {
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.write(tmp, (render(v) + "\n").getBytes(UTF_8))
    Files.move(tmp, path, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  def read(path: Path): Option[String] =
    if (Files.exists(path)) Some(new String(Files.readAllBytes(path), UTF_8)) else None
}
