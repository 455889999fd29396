package graft.perfbench

import java.io.File

/** Output fingerprints per (operation, seed), measured on the unmodified
  * program: one `key seed fingerprint` line each, where the key is a
  * workload name for an HGN run or `query.<name>` for a catalog query. A
  * seed without a pin is still checked for repeatability, for the
  * detection-quality floor and for traced-versus-untraced agreement within
  * the run.
  */
final case class Pins(lines: Seq[String]) {
  private val pins: Map[(String, Long), String] = lines
    .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
    .map { l =>
      val Array(key, seed, fp) = l.split(" ", 3)
      (key, seed.toLong) -> fp
    }.toMap

  def lookup(key: String, seed: Long): Option[String] = pins.get((key, seed))
}

object Pins {
  def read(f: File): Pins = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try Pins(src.getLines().toList) finally src.close()
  }
}
