package graft

import java.util.Locale

/** `rf"…"` is `f"…"` formatted in `Locale.ROOT`: a number prints with a
  * `.` decimal separator whatever the JVM's default locale, so CLI lines
  * and the bench's JSON stay parseable under a comma-decimal locale.
  * As with `f`, a `%` spec right after an argument formats it, and an
  * argument without one prints as `%s`.
  */
object RootFormat {
  implicit final class RootInterpolator(private val sc: StringContext) extends AnyVal {
    def rf(args: Any*): String = {
      val parts = sc.parts.map(StringContext.processEscapes)
      (parts.head +: parts.tail.map(p => if (p.startsWith("%")) p else "%s" + p))
        .mkString.formatLocal(Locale.ROOT, args: _*)
    }
  }
}
