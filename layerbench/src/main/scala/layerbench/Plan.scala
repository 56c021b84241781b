package layerbench

import scala.io.Source

/** One run's instructions, written by run.py as `key=value` lines. */
final case class Plan(kv: Map[String, String]) {
  def apply(k: String): String =
    kv.getOrElse(k, throw new IllegalArgumentException(s"plan: missing '$k'"))
  def list(k: String): Seq[String] =
    kv.get(k).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
  def int(k: String): Int = apply(k).toInt
  def long(k: String): Long = apply(k).toLong
  def flag(k: String): Boolean = kv.get(k).contains("1")

  def workload: String = apply("workload")
  def isStream: Boolean = apply("kind") == "stream"
  def traced: Boolean = flag("trace")
  def cores: Int = int("cores")
}

object Plan {
  def load(path: String): Plan = {
    val src = Source.fromFile(path, "UTF-8")
    try Plan(src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val i = l.indexOf('='); l.take(i).trim -> l.drop(i + 1).trim }.toMap)
    finally src.close()
  }
}
