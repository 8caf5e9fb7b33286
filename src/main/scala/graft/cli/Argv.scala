package graft.cli

/** The one bounds-checked argv cursor every hand-rolled CLI parser
  * shares — previously each CLI carried its own `def next()` copy, and
  * the copies had drifted (one still crashed with a raw
  * ArrayIndexOutOfBounds on a trailing flag).
  *
  * Usage:
  * {{{
  * val a = new Argv(args)
  * while (a.more) a.flag() match {
  *   case "--x" => c = c.copy(x = a.value())
  *   case other => throw new IllegalArgumentException(s"unknown flag: \$other")
  * }
  * }}}
  */
private[graft] final class Argv(args: Array[String]) {
  private var i = 0
  private var cur = ""
  def more: Boolean = i < args.length
  /** The token at the cursor (the flag); advances past it. */
  def flag(): String = { cur = args(i); i += 1; cur }
  /** The value of the flag most recently returned by [[flag]] — rejects
    * a flag left dangling at the end of the line. */
  def value(): String = {
    if (i >= args.length)
      throw new IllegalArgumentException(s"flag $cur requires a value")
    val v = args(i); i += 1; v
  }
  /** [[value]] as an Int — a non-integer fails naming the flag. */
  def int(): Int = parsed("an integer")(_.toIntOption)
  /** [[value]] as a Long — a non-integer fails naming the flag. */
  def long(): Long = parsed("an integer")(_.toLongOption)
  /** [[value]] as a Double — a non-number fails naming the flag. */
  def double(): Double = parsed("a number")(_.toDoubleOption)

  private def parsed[A](what: String)(parse: String => Option[A]): A = {
    val v = value()
    parse(v).getOrElse(
      throw new IllegalArgumentException(s"flag $cur requires $what, got '$v'"))
  }
}
