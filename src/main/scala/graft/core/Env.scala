package graft.core

/** Numeric env knobs. Every `SPARK_GRAFT_*` number goes through here, so an
  * unset knob takes its default and a malformed one fails before any work
  * starts, with a message that names the knob and the value it got. A bare
  * `.toInt` would abort with an anonymous `NumberFormatException`. The env
  * map is a parameter so specs can pass their own. */
object Env {

  def int(name: String, default: Int, env: Map[String, String] = sys.env): Int =
    env.get(name).fold(default) { raw =>
      try raw.trim.toInt
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(s"$name must be an integer, got '$raw'")
      }
    }
}
