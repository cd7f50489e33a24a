package graft.perfbench

/** The little JSON the harness writes: its result file for the runner. */
sealed trait Json { def render(sb: StringBuilder): Unit }

object Json {
  final case class Str(s: String) extends Json {
    def render(sb: StringBuilder): Unit = {
      sb += '"'
      s.foreach {
        case '"'  => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c    => sb += c
      }
      sb += '"'
    }
  }
  final case class Num(v: Double) extends Json {
    def render(sb: StringBuilder): Unit =
      if (v.isNaN || v.isInfinite) sb ++= "null"
      else if (v == math.rint(v) && math.abs(v) < 1e15) sb ++= v.toLong.toString
      else sb ++= v.toString
  }
  final case class Bool(b: Boolean) extends Json {
    def render(sb: StringBuilder): Unit = sb ++= b.toString
  }
  final case class Arr(items: Seq[Json]) extends Json {
    def render(sb: StringBuilder): Unit = {
      sb += '['
      items.zipWithIndex.foreach { case (j, i) => if (i > 0) sb += ','; j.render(sb) }
      sb += ']'
    }
  }
  final case class Obj(fields: (String, Json)*) extends Json {
    def render(sb: StringBuilder): Unit = {
      sb += '{'
      fields.zipWithIndex.foreach { case ((k, v), i) =>
        if (i > 0) sb += ','
        Str(k).render(sb); sb += ':'; v.render(sb)
      }
      sb += '}'
    }
  }

  import scala.language.implicitConversions
  implicit def fromString(s: String): Json = Str(s)
  implicit def fromLong(v: Long): Json = Num(v.toDouble)
  implicit def fromInt(v: Int): Json = Num(v.toDouble)
  implicit def fromDouble(v: Double): Json = Num(v)
  implicit def fromBoolean(b: Boolean): Json = Bool(b)

  def write(j: Json, path: String): Unit = {
    val sb = new StringBuilder
    j.render(sb)
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
