package graft.core

/** Numeric env knobs. Every `SPARK_GRAFT_*` number goes through here, so an
  * unset knob takes its default and a malformed one fails before any work
  * starts, with a message that names the knob and the value it got. A bare
  * `.toLong` would abort with an anonymous `NumberFormatException`. The env
  * map is a parameter so specs can pass their own. */
object Env {

  def int(name: String, default: Int, env: Map[String, String] = sys.env): Int =
    parse(name, default, env, "an integer")(_.toInt)

  def long(name: String, default: Long, env: Map[String, String] = sys.env): Long =
    parse(name, default, env, "an integer")(_.toLong)

  def double(name: String, default: Double, env: Map[String, String] = sys.env): Double =
    parse(name, default, env, "a number")(_.toDouble)

  private def parse[A](name: String, default: A, env: Map[String, String],
                       kind: String)(read: String => A): A =
    env.get(name) match {
      case None => default
      case Some(raw) =>
        try read(raw.trim)
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(s"$name must be $kind, got '$raw'")
        }
    }
}
