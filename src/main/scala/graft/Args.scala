package graft

/** A bad command-line argument or environment value; the message names
  * it and carries the usage line.
  */
final class UsageError(msg: String) extends IllegalArgumentException(msg)

/** Positional arguments of a command-line main, read by index and name:
  * a missing or malformed one fails with a [[UsageError]] that names it,
  * never a `MatchError` or a bare `NumberFormatException`.
  */
final case class Args(usage: String, values: Seq[String]) {

  def fail(msg: String): Nothing = throw new UsageError(s"$msg\nusage: $usage")

  def required(i: Int, name: String): String =
    values.lift(i).getOrElse(fail(s"missing argument <$name>"))

  def optional(i: Int): Option[String] = values.lift(i)

  def int(i: Int, name: String): Int = Args.parseInt(required(i, name), s"<$name>", usage)

  /** A comma-separated, non-empty list. */
  def list(i: Int, name: String): Seq[String] = {
    val xs = required(i, name).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    if (xs.isEmpty) fail(s"argument <$name> is an empty list")
    xs
  }
}

object Args {

  val CpusEnv = "SPARK_GRAFT_CPUS"

  private[graft] def parseInt(v: String, what: String, usage: String): Int =
    v.trim.toIntOption.filter(_ > 0).getOrElse(throw new UsageError(
      s"$what must be a positive integer, got '$v'\nusage: $usage"))

  /** The local core count: [[CpusEnv]] when set, else `default`. */
  def cpus(default: Int, env: Map[String, String] = sys.env): Int =
    env.get(CpusEnv).fold(default)(parseInt(_, CpusEnv, s"$CpusEnv=<cores>"))

  /** Run a main's body over its parsed arguments; a [[UsageError]] prints
    * its message and exits with status 2.
    */
  def run(usage: String, args: Array[String])(body: Args => Unit): Unit =
    try body(Args(usage, args.toSeq))
    catch { case e: UsageError =>
      System.err.println(e.getMessage)
      sys.exit(2)
    }
}
