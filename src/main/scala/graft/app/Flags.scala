package graft.app

/** The jobs' one command-line parser. A job declares its flags once, as
  * a table of name → setter on its `Args`; `parse` applies them to the
  * defaults in argv order, so a repeated flag's last value wins.
  *
  * Two shapes: `--name value` (`Valued`; the setter reads the value as
  * a string or a whole number) and a bare `--flag` (`Switch`). Every
  * error is an IllegalArgumentException naming the flag: an unknown
  * flag, a valued flag with nothing after it (end of argv, or another
  * `--flag` next), and a number flag whose value does not parse.
  */
object Flags {

  sealed trait Flag[A]
  final case class Valued[A](set: (A, Value) => A) extends Flag[A]
  final case class Switch[A](set: A => A) extends Flag[A]

  /** A flag's value; `long` and `int` name the flag when it is not a number. */
  final class Value(flag: String, val str: String) {
    def long: Long = str.toLongOption.getOrElse(notANumber)
    def int: Int = str.toIntOption.getOrElse(notANumber)
    private def notANumber = fail(s"$flag expects a whole number, got '$str'")
  }

  private def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)

  def parse[A](argv: Array[String], defaults: A, table: Map[String, Flag[A]]): A = {
    var a = defaults
    val it = argv.iterator.buffered
    while (it.hasNext) {
      val name = it.next()
      table.getOrElse(name, fail(s"unknown flag: $name")) match {
        case Switch(set) => a = set(a)
        case Valued(set) =>
          if (!it.hasNext || it.head.startsWith("--")) fail(s"$name needs a value")
          a = set(a, new Value(name, it.next()))
      }
    }
    a
  }
}
